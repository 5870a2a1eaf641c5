package graft.connector

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String
import org.slf4j.LoggerFactory

import graft.core._

/** Static description of one Alpaca source: schema, accepted options,
  * endpoint path, response data key, record parser, partition-interval
  * policy (SURVEY §2.1 S1-S9). Concrete defs live in Sources.scala. */
trait AlpacaSourceDef extends Serializable {
  def shortName: String
  def schema: StructType
  def apiParams: Seq[ApiParam]
  def pathElements: Seq[String]
  def dataKey: String
  def parser: RecordParser

  /** API version path segment. The configured endpoint is normalized
    * to its version-less base (AlpacaOptions.stripApiVersion) and each
    * source prepends its own version: stocks/options data lives under
    * `/v2/...` (`common.py:23-24`) while crypto lives under
    * `/v1beta3/crypto/us/bars` — one shared endpoint option cannot
    * carry both. */
  def apiVersion: String = "v2"

  /** Path as the HTTP client sees it: version segment + endpoint path. */
  final def versionedPath: Seq[String] = apiVersion +: pathElements

  /** Source-specific option validation on top of the base matrix. */
  def extraValidate(params: Map[String, String]): Unit = ()

  /** Partition interval in µs; default 1 day (`common.py:360-362`),
    * bars sources override with volume-aware sizing (`bars.py:189-197`). */
  def partitionIntervalMicros(startUs: Long, endUs: Long, limit: Int,
      params: Map[String, String]): Long = AlpacaPartitioning.DayMicros

  /** Expected rows for ONE symbol over [startUs, endUs), if this
    * source can bound it a priori. Bars can (at most one bar per
    * timeframe grid step); tick sources (trades/quotes) cannot —
    * they return None and the scan reports no statistics, which
    * Spark treats as large (safe: never a wrong broadcast). */
  def estimatedRowsPerSymbol(startUs: Long, endUs: Long,
      params: Map[String, String]): Option[Long] = None

  /** Column usable for time-range predicate pushdown, if any. */
  def timeColumn: Option[String] = Some("time")

  /** A timeless source is a point-in-time fetch with NO time grid
    * (snapshots): `start`/`end` are neither required, validated, nor
    * sent; the planner crosses symbols × ONE interval. */
  def timeless: Boolean = false

  /** Whether this source's pages admit the reader's scan-integrity
    * invariants (record-count cross-check + per-symbol instant
    * monotonicity). True only for the flat-record array-envelope
    * time-series family (bars/trades/quotes, stock+option+crypto):
    * their records carry no nested objects-in-arrays — so the HTTP
    * layer's independent lex count equals the record count — and the
    * API delivers them time-ordered per symbol. Fan-out (auctions),
    * nested (orderbooks), object-record (snapshots/latest) and
    * timeless sources stay unchecked. */
  def integrityCheckable: Boolean = false
}

object AlpacaScanConfig {
  /** Sentinel endMicros for a stream opened without a fixed `end`
    * (LIVE mode): each trigger clamps its high-water mark to the wall
    * clock instead of a configured bound. Batch scans reject it at
    * partition-planning time. */
  val LiveEnd: Long = Long.MaxValue
}

/** Everything a scan needs, shipped driver → executors. */
case class AlpacaScanConfig(
    endpoint: String,
    apiKeyId: String,
    apiKeySecret: String,
    rateLimitDelaySec: Double,
    params: Map[String, String],
    symbols: Seq[String],
    startMicros: Long,
    endMicros: Long,
    limit: Int,
    streamStepMicros: Long = AlpacaPartitioning.DayMicros,
    clusterBySymbol: Boolean = false,
    timeoutSec: Double = AlpacaOptions.DefaultTimeoutSec,
    maxRetries: Int = AlpacaHttpClient.MaxRetries,
    symbolBatch: Int = 1,
    timeless: Boolean = false,
    rateLimitRps: Double = 0.0,
    integrityChecks: Boolean = true) {

  /** Request-grid symbol axis: with `symbol_batch` > 1 the symbols are
    * batched into comma-joined groups (alphabetical, matching the real
    * API's combined-stream pagination order), so a 5 000-symbol scan
    * plans ~5 000/batch HTTP request chains instead of 5 000. */
  def groupedSymbols: Seq[String] =
    if (symbolBatch <= 1) symbols
    else symbols.sorted.grouped(symbolBatch).map(_.mkString(",")).toSeq
}

/** Partition = one symbol × one time interval (`common.py:53-59`).
  * `HasPartitionKey` exposes the symbol as the partition key so a scan
  * reporting KeyGroupedPartitioning lets Spark group the interval
  * tiles of a symbol into one read partition — see
  * [[AlpacaScan.outputPartitioning]]. */
case class SymbolTimeRangePartition(symbol: String, startMicros: Long, endMicros: Long)
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(symbol))
}

/** Driver-side partition planning (SURVEY §2.2 P1-P3). */
object AlpacaPartitioning {
  val DayMicros: Long = 24L * 3600L * 1000000L
  val PagesPerPartition = 5 // `bars.py:29`

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** `[start,end]` × symbols cross-product; single interval when the
    * range fits (`common.py:364-382`). Bounds clamp exactly to `end`.
    *
    * Boundary semantics: interior tiles share boundary instants
    * ([a,b] then [b,c]). Against a HALF-OPEN server (this repo's
    * declared fetch contract, honored by the stub) tiles never
    * double-fetch. The REAL Alpaca API treats start/end as inclusive,
    * so a record exactly at an interior boundary would be fetched by
    * both tiles — the reference has the identical double-fetch
    * behavior (`common.py:364-382`); deduplicate downstream (e.g.
    * dropDuplicates on (symbol, time)) when targeting the live API. */
  def plan(symbols: Seq[String], startUs: Long, endUs: Long,
      intervalUs: Long): Seq[SymbolTimeRangePartition] = {
    val range = endUs - startUs
    val numIntervals = if (intervalUs <= 0) 1L else ceilDiv(range, intervalUs)
    if (numIntervals < 2)
      symbols.map(SymbolTimeRangePartition(_, startUs, endUs))
    else {
      val bounds = (0L until numIntervals).map { i =>
        (startUs + i * intervalUs, math.min(startUs + (i + 1) * intervalUs, endUs))
      }
      for (sym <- symbols; (s, e) <- bounds)
        yield SymbolTimeRangePartition(sym, s, e)
    }
  }

  /** Bars' volume-aware interval: expected rows per partition capped at
    * limit × PAGES_PER_PARTITION (`bars.py:189-197`) — the reference's
    * cost-model-lite, replicated exactly (µs arithmetic; interval =
    * range/numIntervals rounded half-even like Python td division). */
  def barsIntervalMicros(startUs: Long, endUs: Long, timeframeUs: Long,
      limit: Int): Long = {
    val range = (endUs - startUs).toDouble
    val expectedRows = range / timeframeUs.toDouble
    val numIntervals = math.max(1L,
      math.ceil(expectedRows / (limit.toDouble * PagesPerPartition)).toLong)
    Math.rint(range / numIntervals).toLong
  }
}

/** Generic DSv2 provider: format registration + load-time validation.
  * The reference's Python DataSource/DataSourceReader pair maps to
  * TableProvider → Table → ScanBuilder → Scan/Batch → PartitionReader
  * with no Python-worker boundary (SURVEY §3.1). */
abstract class AlpacaTableProvider(sourceDef: AlpacaSourceDef)
  extends TableProvider with DataSourceRegister {

  override def shortName(): String = sourceDef.shortName

  /** Validation surfaces at load() time on the driver, mirroring the
    * reference's `__init__`-time errors (`common.py:214-216`). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = options.asScala.toMap
    AlpacaOptions.endpointConfig(opts)
    val params = AlpacaOptions.validateParams(opts, sourceDef.apiParams)
    sourceDef.extraValidate(params)
    // scan building is deferred for streaming reads — surface a bad
    // stream_step / symbol_batch here so they still fail at load() on
    // the driver
    opts.collectFirst { case (k, v) if k.equalsIgnoreCase("stream_step") => v }
      .foreach(Timeframe.validate)
    AlpacaOptions.parseSymbolBatch(opts)
    AlpacaOptions.parseIntegrityChecks(opts)
    sourceDef.schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new AlpacaTable(sourceDef)
}

class AlpacaTable(sourceDef: AlpacaSourceDef) extends Table with SupportsRead {
  override def name(): String = sourceDef.shortName
  override def schema(): StructType = sourceDef.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asScala.toMap
    val endpointCfg = AlpacaOptions.endpointConfig(opts)
    val params = AlpacaOptions.validateParams(opts, sourceDef.apiParams)
    sourceDef.extraValidate(params)
    // timeless sources (snapshots) have no time grid: zero-width range
    // plans one partition per symbol and no start/end is ever sent
    val startUs =
      if (sourceDef.timeless) 0L
      else AlpacaOptions.parseIsoMicros(params.getOrElse("start", ""))
        .getOrElse(throw new IllegalArgumentException("Invalid 'start' option"))
    // absent end = LIVE mode (streaming only; batch planning rejects it)
    val endUs =
      if (sourceDef.timeless) 0L
      else params.get("end") match {
        case Some(e) => AlpacaOptions.parseIsoMicros(e)
          .getOrElse(throw new IllegalArgumentException("Invalid 'end' option"))
        case None => AlpacaScanConfig.LiveEnd
      }
    val cfg = AlpacaScanConfig(
      endpoint = AlpacaOptions.stripApiVersion(endpointCfg.endpoint),
      apiKeyId = endpointCfg.apiKeyId,
      apiKeySecret = endpointCfg.apiKeySecret,
      rateLimitDelaySec = endpointCfg.rateLimitDelaySec,
      params = params,
      symbols = AlpacaOptions.parseSymbols(params.getOrElse("symbols", "")),
      startMicros = startUs,
      endMicros = endUs,
      limit = AlpacaOptions.clampLimit(
        params.get("limit").map { v =>
          try v.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"Invalid 'limit' option: '$v' is not an integer")
          }
        }.getOrElse(AlpacaOptions.DefaultLimit)),
      streamStepMicros = opts.collectFirst { case (k, v) if k.equalsIgnoreCase("stream_step") => v }
        .map(Timeframe.parseMicros).getOrElse(AlpacaPartitioning.DayMicros),
      clusterBySymbol = opts.collectFirst {
        case (k, v) if k.equalsIgnoreCase("cluster_by_symbol") => v.trim.toBoolean
      }.getOrElse(false),
      timeoutSec = endpointCfg.timeoutSec,
      maxRetries = endpointCfg.maxRetries,
      symbolBatch = AlpacaOptions.parseSymbolBatch(opts),
      timeless = sourceDef.timeless,
      rateLimitRps = endpointCfg.rateLimitRps,
      integrityChecks = AlpacaOptions.parseIntegrityChecks(opts))
    new AlpacaScanBuilder(sourceDef, cfg)
  }
}

/** ScanBuilder with predicate-pushdown narrowing — an upgrade over the
  * reference (SURVEY §2.6): `WHERE symbol = …` prunes the symbol set,
  * `WHERE time >= …` narrows the planned [start,end] range, so whole
  * partitions (= API requests) are never planned. All filters are also
  * returned as residuals, so Spark re-evaluates them exactly — the
  * narrowing only has to be conservative, never precise. */
class AlpacaScanBuilder(sourceDef: AlpacaSourceDef, cfg0: AlpacaScanConfig)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var cfg = cfg0
  private var pushed: Array[Filter] = Array.empty
  private var prunedSchema: StructType = sourceDef.schema
  private var limitOpt: Option[Int] = None

  /** Column pruning: the reader builds only the requested fields —
    * narrow projections never materialize the full record
    * (SURVEY §2.6 optional upgrade; the reference always builds all
    * columns, common.py:461-493). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty) prunedSchema = requiredSchema

  /** Partial limit pushdown: caps rows per partition AND shrinks the
    * API page size — a LIMIT 10 fetches one 10-row page per partition
    * instead of a 10k-row page. Returns false: Spark still applies
    * the exact global limit. */
  override def pushLimit(limit: Int): Boolean = {
    limitOpt = Some(limit)
    false
  }

  private def tsMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000L)
    case s: String => AlpacaOptions.parseIsoMicros(s)
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val timeCol = sourceDef.timeColumn
    val accepted = filters.filter {
      case EqualTo("symbol", v: String) =>
        cfg = cfg.copy(symbols = cfg.symbols.filter(_ == v)); true
      case In("symbol", vs) =>
        val set = vs.collect { case s: String => s }.toSet
        cfg = cfg.copy(symbols = cfg.symbols.filter(set.contains)); true
      case GreaterThan(c, v) if timeCol.contains(c) =>
        tsMicros(v).exists { us => cfg = cfg.copy(startMicros = math.max(cfg.startMicros, us)); true }
      case GreaterThanOrEqual(c, v) if timeCol.contains(c) =>
        tsMicros(v).exists { us => cfg = cfg.copy(startMicros = math.max(cfg.startMicros, us)); true }
      case LessThan(c, v) if timeCol.contains(c) =>
        tsMicros(v).exists { us => cfg = cfg.copy(endMicros = math.min(cfg.endMicros, us)); true }
      case LessThanOrEqual(c, v) if timeCol.contains(c) =>
        // fetches are half-open [start,end): narrow to the NEXT micro so
        // a record exactly at the bound (which satisfies time <= v) is
        // still fetched; the residual filter restores exactness.
        tsMicros(v).exists { us => cfg = cfg.copy(endMicros = math.min(cfg.endMicros, us + 1)); true }
      case _ => false
    }
    pushed = accepted
    filters // everything stays a residual: Spark re-applies exact semantics
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new AlpacaScan(sourceDef, cfg, prunedSchema, limitOpt)
}

/** case class: Scan value equality is what lets two plan occurrences
  * of the same read canonicalize equal, so ReuseExchange / AQE stage
  * reuse can collapse a re-consumed scan subtree (the bucketed as-of
  * family's spine branch) onto one physical scan — with reference
  * equality every occurrence would be its own HTTP-issuing scan. The
  * fields cover everything that determines the output: source, full
  * scan config (symbols/range/params/auth), pruned schema, limit. */
case class AlpacaScan(sourceDef: AlpacaSourceDef, cfg: AlpacaScanConfig,
    prunedSchema: StructType = null, limitOpt: Option[Int] = None)
  extends Scan with Batch
  with SupportsReportPartitioning with SupportsReportOrdering
  with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val outSchema =
    if (prunedSchema == null) sourceDef.schema else prunedSchema

  override def readSchema(): StructType = outSchema
  override def description(): String =
    s"AlpacaScan(${sourceDef.shortName}, symbols=${cfg.symbols.mkString(",")})"
  override def toBatch: Batch = this

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new RecordsSkippedMetric)

  /** Reported only with `cluster_by_symbol=true`: every planned
    * partition is symbol-pure (one symbol × one interval tile), so the
    * scan IS KeyGroupedPartitioning on identity(symbol). With
    * `spark.sql.sources.v2.bucketing.enabled` Spark then groups a
    * symbol's tiles into one read partition and any downstream
    * window/groupBy/join clustered on symbol skips its Exchange — at
    * 100 TB that deletes a full shuffle of the scan output (SCALE.md
    * "one symbol exchange each"). Opt-in because the grouping is a
    * real trade: read parallelism drops from symbols × tiles to
    * symbols, which is the wrong default for plain scan-throughput
    * queries (and the reason this is a per-scan option, not session
    * state). */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (cfg.clusterBySymbol && outSchema.fieldNames.contains("symbol"))
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("symbol")),
        planInputPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Each read partition is one symbol's rows in server time order
    * (pages chain start→end; grouped tiles concatenate in planning
    * order, which is time-ascending) — so [symbol, time sortdir] holds
    * within every partition and Spark can elide the Sort under
    * symbol-windows. Spark itself drops the claim whenever tile
    * grouping would break it (outputOrdering guards grouped
    * multi-tile partitions), so reporting here only asserts the
    * per-tile page order. Corp-actions (no time column) and pruned
    * projections report nothing. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => E, SortDirection}
    val dir = cfg.params.get("sort").map(_.toLowerCase) match {
      case None | Some("asc") => Some(SortDirection.ASCENDING)
      case Some("desc") => Some(SortDirection.DESCENDING)
      case _ => None
    }
    (sourceDef.timeColumn, dir) match {
      case (Some(tc), Some(d)) if outSchema.fieldNames.contains("symbol") &&
          outSchema.fieldNames.contains(tc) =>
        Array(E.sort(E.column("symbol"), SortDirection.ASCENDING),
          E.sort(E.column(tc), d))
      case _ => Array.empty
    }
  }

  /** Cost-model statistics from the PRUNED scan config (SURVEY §2.6
    * upgrade): sources that can bound their output a priori (bars —
    * at most one record per timeframe grid step) report
    * rows = grid × |symbols| AFTER filter pushdown narrowed both, so
    * `WHERE symbol = 'AAPL' AND time < …` yields a small-stats scan
    * that Catalyst auto-broadcasts with NO hint — at 100 TB that is
    * dimension-side scans joining shuffle-free by cost model alone.
    * Tick sources (no a-priori density) report nothing and default
    * to "large" — an over-estimate can only miss a broadcast, never
    * plan a wrong one. A pushed LIMIT caps the estimate. */
  override def estimateStatistics(): Statistics = {
    val rowsOpt =
      if (cfg.endMicros == AlpacaScanConfig.LiveEnd) None
      else sourceDef.estimatedRowsPerSymbol(cfg.startMicros, cfg.endMicros, cfg.params)
        .map { perSym =>
          // market-wide (symbol-less) scans still fetch one answer
          val total = perSym * math.max(1, cfg.symbols.size)
          limitOpt.fold(total)(l => math.min(total, l.toLong))
        }
    val rowWidth = outSchema.defaultSize.toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        rowsOpt.fold(java.util.OptionalLong.empty())(r =>
          java.util.OptionalLong.of(r * rowWidth))
      override def numRows(): java.util.OptionalLong =
        rowsOpt.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  }

  /** Streaming upgrade over the reference (SURVEY §2.11): replay the
    * configured range in `stream_step` micro-batches. The scan's
    * pruned schema and pushed limit are threaded through so streaming
    * rows are shaped exactly like readSchema() declares. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a timeless source has no offset axis to step along — without
    // this a readStream would plan zero batches and idle forever,
    // which reads as a hang, not a usage error
    if (sourceDef.timeless)
      throw new UnsupportedOperationException(
        s"${sourceDef.shortName} is a point-in-time source with no time axis; " +
          "streaming reads are not supported — use spark.read (batch) and " +
          "re-trigger the job to poll")
    new AlpacaMicroBatchStream(sourceDef, cfg, cfg.streamStepMicros,
      outSchema, limitOpt)
  }

  // cached: consulted by both Spark's planning and outputPartitioning()
  private lazy val plannedPartitions: Array[InputPartition] = {
    if (cfg.endMicros == AlpacaScanConfig.LiveEnd)
      throw new IllegalArgumentException(
        "'end' is required for batch reads; omit it only with readStream (live mode)")
    // market-wide timeless endpoints (screeners) take no symbols at
    // all: one partition fetches the whole (bounded, top-N) answer
    if (cfg.symbols.isEmpty && cfg.timeless)
      Array[InputPartition](SymbolTimeRangePartition("", 0L, 0L))
    else if (cfg.symbols.isEmpty || cfg.startMicros > cfg.endMicros)
      Array.empty
    else {
      val intervalUs = sourceDef.partitionIntervalMicros(
        cfg.startMicros, cfg.endMicros, cfg.limit, cfg.params)
      AlpacaPartitioning.plan(cfg.groupedSymbols, cfg.startMicros, cfg.endMicros, intervalUs)
        .toArray[InputPartition]
    }
  }

  /** Runtime (dynamic-partition-pruning) symbol filter, set by Spark
    * between planning and execution — see [[filter]]. */
  @volatile private var runtimeSymbols: Option[Set[String]] = None

  /** SURVEY §2.6 upgrade, runtime edition: the scan declares `symbol`
    * runtime-filterable, so a join against a filtered dimension (a
    * watchlist, a universe table) injects a DPP subquery — Spark
    * evaluates the dim side first (usually reusing its broadcast) and
    * hands the surviving symbols to [[filter]] BEFORE partitions
    * execute. Static pushdown prunes what the WHERE clause names;
    * this prunes what only a JOIN determines — at 100 TB a
    * 10k-symbol scan joined to a 50-symbol watchlist plans 50
    * symbols' HTTP chains instead of 10k. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (outSchema.fieldNames.contains("symbol"))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("symbol"))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case In("symbol", vs) => vs.collect { case s: String => s }.toSet
      case EqualTo("symbol", s: String) => Set(s)
    }
    if (sets.nonEmpty) runtimeSymbols = Some(sets.reduce(_ intersect _))
  }

  /** Partition-level application of the runtime filter. A grouped
    * partition (`symbol_batch` > 1 plans comma-joined symbol groups)
    * survives if ANY member survives — conservative, exact semantics
    * restored by Spark's residual join condition. Market-wide
    * (symbol-less) partitions are never pruned. */
  override def planInputPartitions(): Array[InputPartition] =
    runtimeSymbols match {
      case Some(keep) => plannedPartitions.filter {
        case SymbolTimeRangePartition(group, _, _) =>
          group.isEmpty || group.split(",").exists(keep.contains)
        case _ => true
      }
      case None => plannedPartitions
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    // API page size never needs to exceed a pushed limit
    val effectiveCfg = limitOpt match {
      case Some(n) if n < cfg.limit => cfg.copy(limit = math.max(1, n))
      case _ => cfg
    }
    // timeless sources answer ONE object record per symbol: at one row
    // per symbol a ColumnarBatch buys nothing, so they stay row-based
    new AlpacaReaderFactory(effectiveCfg, sourceDef.versionedPath,
      sourceDef.dataKey, sourceDef.parser, outSchema, limitOpt,
      columnar = !sourceDef.timeless,
      checkable = sourceDef.integrityCheckable)
  }
}

class AlpacaReaderFactory(cfg: AlpacaScanConfig, pathElements: Seq[String],
    dataKey: String, parser: RecordParser,
    outSchema: StructType,
    limitOpt: Option[Int] = None,
    columnar: Boolean = true,
    checkable: Boolean = false) extends PartitionReaderFactory {

  /** Columnar hand-off (the reference's headline feature: one Arrow
    * RecordBatch per API page, `common.py:461-493`, README.md:15):
    * one ColumnarBatch per page, consumed by Spark's codegen'd
    * ColumnarToRow. Batch and micro-batch reads of the time-series
    * sources alike; only the timeless sources read rows. */
  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AlpacaPartitionReader(cfg, pathElements, dataKey, parser,
      partition.asInstanceOf[SymbolTimeRangePartition], outSchema, limitOpt,
      checkable)

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new AlpacaColumnarPartitionReader(cfg, pathElements, dataKey, parser,
      partition.asInstanceOf[SymbolTimeRangePartition], outSchema, limitOpt,
      checkable)
}

/** A scan-integrity invariant failed: the page chain delivered
  * structurally inconsistent data (parser/lex record-count divergence
  * or a per-symbol instant regression). Always a task-failing error —
  * the alternative is the permissive record skip silently absorbing a
  * transient fault into wrong aggregates. */
class ScanIntegrityException(msg: String) extends RuntimeException(msg)

/** Scan metric `recordsSkipped`: malformed records the page walk
  * skipped (E4), summed over the scan's partitions. */
class RecordsSkippedMetric extends CustomSumMetric {
  override def name(): String = RecordsSkippedMetric.Name
  override def description(): String = "malformed records skipped"
}

object RecordsSkippedMetric {
  val Name = "recordsSkipped"

  /** A reader's running count, as Spark polls it. */
  def task(count: Long): Array[CustomTaskMetric] = Array(new CustomTaskMetric {
    override def name(): String = Name
    override def value(): Long = count
  })
}

/** Shared executor-side page source: paginated HTTP fetch → one token
  * walk per page (no page DOM, no char decode) → records decoded into
  * column vectors or rows, fully pipelined (page at a time, SURVEY
  * §2.3-2.4). Malformed records are skipped (E4) and reported in one
  * summary WARN per partition; HTTP failures after retries fail the
  * Spark task (task retry covers the rest). */
private[connector] class AlpacaPageSource(cfg: AlpacaScanConfig,
    pathElements: Seq[String], dataKey: String, parser: RecordParser,
    partition: SymbolTimeRangePartition, checkable: Boolean = false) {

  private val log = LoggerFactory.getLogger(getClass)

  // ------------------------------------------------ scan integrity
  // Two invariants, on by default for the flat time-series sources
  // (`AlpacaSourceDef.integrityCheckable`), spanning this partition's
  // whole page chain:
  //  1. COUNT: record objects seen by the consumer's parse walk ==
  //     the HTTP layer's independent lex count of the same bytes
  //     (`AlpacaHttpClient.skimPage`, computed on the prefetch
  //     thread). Catches parser-side drops/duplicates — a vectorized
  //     walker drifting out of token alignment, a page parsed twice.
  //  2. ORDER: per symbol, record instants never regress against the
  //     requested sort (non-decreasing asc / non-increasing desc —
  //     NON-strict, because real tick feeds legitimately carry equal
  //     instants at µs resolution). Catches duplicated/reordered
  //     pages: a re-served page's first instant sits before the
  //     previous page's last.
  // Violations throw ScanIntegrityException and fail the task loudly.
  // Without them, a transient fault on this layer feeds the permissive
  // record-level skip (E4) and surfaces as silently-wrong aggregates.
  // Record-LEVEL malformation stays permissive (warn+skip,
  // `common.py:484-486`) — both invariants hold across skips.
  private val check = checkable && cfg.integrityChecks
  private val timeOrdinal =
    if (check) parser.schema.fieldNames.indexOf("time") else -1
  private val desc = cfg.params.get("sort").exists(_.equalsIgnoreCase("desc"))
  private var pageRecords = 0L
  private var curSym: String = null // reference identity of the symbol run
  private var lastTs = 0L
  private var haveLast = false
  private lazy val lastBySym = scala.collection.mutable.HashMap[String, Long]()
  private var pagesVerified = 0L

  // malformed records skipped so far in this partition, and the first
  // one's reason, for the summary WARN
  private var skipped = 0L
  private var firstSkip: String = null
  private var skipsLogged = false

  private def flushRun(): Unit =
    if (curSym != null && haveLast) lastBySym.update(curSym, lastTs)

  /** Ordering invariant for one record instant. `sym` is the walk's
    * per-run symbol string, so the hot path is a reference compare. */
  private def checkInstant(sym: String, ts: Long): Unit = {
    if (sym ne curSym) {
      flushRun()
      curSym = sym
      haveLast = lastBySym.get(sym) match {
        case Some(t) => lastTs = t; true
        case None => false
      }
    }
    if (haveLast && (if (desc) ts > lastTs else ts < lastTs))
      throw new ScanIntegrityException(
        s"out-of-order instant for symbol '$curSym' in partition " +
          s"'${partition.symbol}' [${partition.startMicros},${partition.endMicros}) " +
          s"page ${pagesVerified + 1}: $ts after $lastTs with sort=" +
          (if (desc) "desc" else "asc") +
          " — duplicated or reordered page in the chain")
    lastTs = ts
    haveLast = true
  }

  /** Count invariant at end of one page's parse. */
  private def verifyPageCount(expected: Long): Unit = {
    if (check && pageRecords != expected)
      throw new ScanIntegrityException(
        s"page record-count mismatch in partition '${partition.symbol}' " +
          s"[${partition.startMicros},${partition.endMicros}) page ${pagesVerified + 1}: " +
          s"parse walk saw $pageRecords record objects, independent HTTP-layer " +
          s"lex count saw $expected — parser drift or page corruption")
    pagesVerified += 1
  }

  /** Per-partition parameter binding (P4, `common.py:384-397`):
    * passthrough options with symbol/start/end/limit overridden. */
  private def partitionParams: Seq[(String, String)] = {
    val timeParams =
      if (cfg.timeless) Map.empty[String, String]
      else Map(
        "start" -> AlpacaOptions.microsToIso(partition.startMicros),
        "end" -> AlpacaOptions.microsToIso(partition.endMicros))
    val symParam =
      if (partition.symbol.isEmpty) Map.empty[String, String] // market-wide
      else Map("symbols" -> partition.symbol)
    val overridden = cfg.params ++ timeParams ++ symParam ++ Map(
      "limit" -> cfg.limit.toString)
    overridden.toSeq.sortBy(_._1)
  }

  private lazy val client = new AlpacaHttpClient(
    cfg.endpoint,
    Map(
      "Content-Type" -> "application/json",
      "APCA-API-KEY-ID" -> cfg.apiKeyId,
      "APCA-API-SECRET-KEY" -> cfg.apiKeySecret),
    pathElements,
    maxRetries = cfg.maxRetries,
    readTimeoutSec = cfg.timeoutSec,
    rateLimitRps = cfg.rateLimitRps)

  /** Raw page bodies with the skim's independent record count, page-lazy
    * with one page of async lookahead: the NEXT page's HTTP request is
    * in flight while the current page parses — the Spark-side analogue
    * of the reference's JSON→Arrow batch seam (`common.py:461-493`). */
  lazy val countedPages: Iterator[AlpacaHttpClient.FetchedPage] =
    client.fetchAllPagesCounted(partitionParams, cfg.rateLimitDelaySec)

  /** One row array per page: the row reader, and the columnar reader
    * for parsers without a vector walk. */
  lazy val rowPages: Iterator[Array[InternalRow]] = countedPages.map { p =>
    val sink = new RowSink
    walkPage(p, sink)
    sink.rows.toArray
  }

  /** Decodes one page straight into the (reused) column vectors — no
    * InternalRow, no boxing — and returns the row count written.
    * Records past `maxRows` are lex-skipped so the token stream stays
    * aligned with pagination. */
  def pageIntoVectors(page: AlpacaHttpClient.FetchedPage, vp: VectorWriteSupport,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], maxRows: Int): Int = {
    val sink = new VectorSink(vp, vecs, fieldToOut, maxRows)
    walkPage(page, sink)
    sink.count
  }

  /** Malformed records skipped so far: the readers' `recordsSkipped`
    * task metric. */
  def skippedRecords: Long = skipped

  /** One WARN per partition for its malformed-record skips — the count
    * and the first reason — instead of one per record. The readers
    * call it when they close. */
  def logSkipped(): Unit =
    if (skipped > 0 && !skipsLogged) {
      log.warn(s"Skipped $skipped malformed record(s) in partition '${partition.symbol}' " +
        s"[${partition.startMicros},${partition.endMicros}); first: $firstSkip")
      skipsLogged = true
    }

  /** Where the walk's records land. */
  private abstract class Sink {
    /** Symbol of the records that follow, set once per symbol run. */
    def symbol(sym: String): Unit
    /** Decodes the record the parser is ON (START_OBJECT → END_OBJECT);
      * for a malformed record throws IllegalArgumentException with
      * nothing emitted. */
    def record(jp: JsonParser): Unit
    /** Past a pushed limit: records are lex-skipped, not decoded. */
    def full: Boolean = false
    /** Whether [[instant]] feeds the ordering invariant. */
    def timed: Boolean
    /** Instant of the record just decoded. */
    def instant: Long
  }

  private final class RowSink extends Sink {
    val rows = new scala.collection.mutable.ArrayBuffer[InternalRow](
      math.min(cfg.limit, 16384))
    private val add: InternalRow => Unit = rows += _
    private var sym: String = _
    def symbol(s: String): Unit = sym = s
    // parseStreamMulti: 1:1 for every source except the fan-out
    // shapes (auctions, orderbooks), which are not integrity-checked
    def record(jp: JsonParser): Unit = parser.parseStreamMulti(sym, jp, add)
    val timed: Boolean = timeOrdinal >= 0
    def instant: Long = rows.last.getLong(timeOrdinal)
  }

  private final class VectorSink(vp: VectorWriteSupport,
      vecs: Array[WritableColumnVector], fieldToOut: Array[Int], maxRows: Int)
    extends Sink {
    var count = 0
    private var sym: UTF8String = _
    // the ordering invariant reads the instant back from its output
    // vector; a scan that pruned `time` away keeps the count invariant
    // only (the analytic time-series queries this protects always
    // project time)
    private val timeOut = if (timeOrdinal >= 0) fieldToOut(timeOrdinal) else -1
    def symbol(s: String): Unit = sym = UTF8String.fromString(s)
    override def full: Boolean = count >= maxRows
    def record(jp: JsonParser): Unit = {
      var i = 0
      while (i < vecs.length) { vecs(i).reserve(count + 1); i += 1 }
      vp.parseIntoVectors(sym, jp, vecs, fieldToOut, count)
      count += 1
    }
    val timed: Boolean = timeOut >= 0
    def instant: Long = vecs(timeOut).getLong(count - 1)
  }

  /** The one envelope walk, then the page's count invariant. Shapes:
    *  - keyed: `dataKey` maps each symbol to an ARRAY of records (the
    *    time series) or to ONE record object (the latest sources);
    *  - bare keyed (empty `dataKey`, snapshots): every top-level field
    *    is a symbol and its OBJECT value that symbol's record;
    *  - flat (news): `dataKey` holds one un-keyed array, whose records
    *    take the partition's own symbol (cross-listed articles arrive
    *    once per requested symbol; consumers dedup by id). */
  private def walkPage(page: AlpacaHttpClient.FetchedPage, sink: Sink): Unit = {
    if (check) pageRecords = 0L
    val jp = AlpacaPageSource.mapper.createParser(page.bytes)
    try {
      if (jp.nextToken() == JsonToken.START_OBJECT) {
        var tk = jp.nextToken()
        while (tk == JsonToken.FIELD_NAME) {
          val name = jp.currentName()
          tk = jp.nextToken()
          if (name == dataKey && tk == JsonToken.START_OBJECT) {
            while (jp.nextToken() == JsonToken.FIELD_NAME) {
              val sym = jp.currentName()
              sink.symbol(sym)
              val t = jp.nextToken()
              if (t == JsonToken.START_ARRAY) records(jp, sym, sink)
              else if (t == JsonToken.START_OBJECT) record(jp, sym, sink)
            }
          } else if (name == dataKey && tk == JsonToken.START_ARRAY) {
            sink.symbol(partition.symbol)
            records(jp, partition.symbol, sink)
          } else if (dataKey.isEmpty && name != "next_page_token" &&
              tk == JsonToken.START_OBJECT) {
            sink.symbol(name)
            record(jp, name, sink)
          } else if (tk != null && tk.isStructStart) jp.skipChildren()
          tk = jp.nextToken()
        }
      }
    } finally jp.close()
    verifyPageCount(page.arrayRecordCount)
  }

  /** The records of one array; the parser is ON its START_ARRAY. */
  private def records(jp: JsonParser, sym: String, sink: Sink): Unit = {
    var t = jp.nextToken()
    while (t != JsonToken.END_ARRAY) {
      if (t == JsonToken.START_OBJECT) record(jp, sym, sink)
      else if (t.isStructStart) jp.skipChildren()
      t = jp.nextToken()
    }
  }

  /** The one record site: count it, decode it, check its instant — or
    * skip it as malformed (E4). */
  private def record(jp: JsonParser, sym: String, sink: Sink): Unit = {
    if (check) pageRecords += 1
    if (sink.full) jp.skipChildren()
    else try {
      sink.record(jp)
      if (sink.timed) checkInstant(sym, sink.instant)
    } catch {
      case e: IllegalArgumentException =>
        skipped += 1
        if (firstSkip == null) firstSkip = s"record for $sym: ${e.getMessage}"
    }
  }
}

private[connector] object AlpacaPageSource {
  /** Shared, thread-safe; createParser carries the codec needed by
    * tree-based parseStream fallbacks. */
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Row-at-a-time reader for the timeless sources (snapshots, latest,
  * orderbooks, screeners: one record per symbol); time-series reads,
  * batch and micro-batch, go through the columnar reader below. */
class AlpacaPartitionReader(cfg: AlpacaScanConfig, pathElements: Seq[String],
    dataKey: String, parser: RecordParser, partition: SymbolTimeRangePartition,
    outSchema: StructType, limitOpt: Option[Int] = None,
    checkable: Boolean = false)
  extends PartitionReader[InternalRow] {

  /** Pruned-column projection: ordinal+type pairs from the full row. */
  private val projection: Option[Array[(Int, org.apache.spark.sql.types.DataType)]] =
    if (outSchema.fieldNames.sameElements(parser.schema.fieldNames)) None
    else Some(outSchema.fields.map { f =>
      (parser.schema.fieldIndex(f.name), f.dataType)
    })

  private var emitted = 0L

  private val pageSource =
    new AlpacaPageSource(cfg, pathElements, dataKey, parser, partition, checkable)

  private lazy val rows: Iterator[InternalRow] = pageSource.rowPages.flatMap(_.iterator)

  private var current: InternalRow = _
  override def next(): Boolean =
    if (limitOpt.exists(emitted >= _)) false
    else if (rows.hasNext) {
      val full = rows.next()
      current = projection match {
        case None => full
        case Some(proj) =>
          InternalRow.fromSeq(proj.toSeq.map { case (i, dt) => full.get(i, dt) })
      }
      emitted += 1
      true
    } else false
  override def get(): InternalRow = current
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    RecordsSkippedMetric.task(pageSource.skippedRecords)
  override def close(): Unit = pageSource.logSkipped()
}

/** Columnar reader: one ColumnarBatch per API page — the Spark-native
  * analogue of the reference's one-PyArrow-RecordBatch-per-page
  * (`common.py:461-493`). Downstream operators consume the vectors
  * through whole-stage-codegen'd ColumnarToRow, skipping per-row
  * iterator overhead on scan-heavy queries. */
class AlpacaColumnarPartitionReader(cfg: AlpacaScanConfig,
    pathElements: Seq[String], dataKey: String, parser: RecordParser,
    partition: SymbolTimeRangePartition, outSchema: StructType,
    limitOpt: Option[Int] = None,
    checkable: Boolean = false)
  extends PartitionReader[ColumnarBatch] {

  /** Output-field ordinal in the parser's full row + its type. */
  private val ordinals: Array[(Int, org.apache.spark.sql.types.DataType)] =
    outSchema.fields.map(f => (parser.schema.fieldIndex(f.name), f.dataType))

  /** Inverse map: parser-schema field index → output ordinal (−1 =
    * pruned), for the direct token→vector decode. */
  private val fieldToOut: Array[Int] = {
    val m = Array.fill(parser.schema.length)(-1)
    ordinals.zipWithIndex.foreach { case ((ord, _), outIdx) => m(ord) = outIdx }
    m
  }

  private val pageSource =
    new AlpacaPageSource(cfg, pathElements, dataKey, parser, partition, checkable)

  private var emitted = 0L
  private var batch: ColumnarBatch = _
  // vectorized path state: vectors live for the whole partition and
  // are reset (buffers kept) per page, as Spark's own vectorized
  // parquet reader does
  private var reusedVecs: Array[OnHeapColumnVector] = _

  override def next(): Boolean = parser match {
    case vp: VectorWriteSupport => nextVectorized(vp)
    case _ => nextRowFill()
  }

  /** Direct decode: HTTP bytes → Jackson tokens → column vectors.
    * No InternalRow or boxed field values exist on this path. */
  private def nextVectorized(vp: VectorWriteSupport): Boolean = {
    if (limitOpt.exists(emitted >= _)) return false
    if (reusedVecs == null) {
      reusedVecs = OnHeapColumnVector.allocateColumns(
        math.min(cfg.limit, 16384), outSchema)
      batch = new ColumnarBatch(
        reusedVecs.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], 0)
    }
    val raw = pageSource.countedPages
    while (raw.hasNext) {
      val page = raw.next()
      var i = 0
      while (i < reusedVecs.length) { reusedVecs(i).reset(); i += 1 }
      val maxRows = limitOpt.map(l => (l - emitted).toInt).getOrElse(Int.MaxValue)
      val n = pageSource.pageIntoVectors(page, vp,
        reusedVecs.asInstanceOf[Array[WritableColumnVector]], fieldToOut, maxRows)
      if (n > 0) {
        batch.setNumRows(n)
        emitted += n
        return true
      }
    }
    false
  }

  private def nextRowFill(): Boolean = {
    releaseBatch() // the previous page's vectors
    if (limitOpt.exists(emitted >= _)) return false
    val pages = pageSource.rowPages
    while (pages.hasNext) {
      var rows = pages.next()
      limitOpt.foreach { lim =>
        if (rows.length > lim - emitted) rows = rows.take((lim - emitted).toInt)
      }
      if (rows.nonEmpty) {
        batch = fillBatch(rows)
        emitted += rows.length
        return true
      }
    }
    false
  }

  private def fillBatch(rows: Array[InternalRow]): ColumnarBatch = {
    import org.apache.spark.sql.types._
    val vecs = OnHeapColumnVector.allocateColumns(rows.length, outSchema)
    var c = 0
    while (c < ordinals.length) {
      val (ord, dt) = ordinals(c)
      val vec = vecs(c)
      var i = 0
      while (i < rows.length) {
        val row = rows(i)
        if (row.isNullAt(ord)) vec.putNull(i)
        else dt match {
          case StringType =>
            val b = row.getUTF8String(ord).getBytes
            vec.putByteArray(i, b, 0, b.length)
          case TimestampType | LongType => vec.putLong(i, row.getLong(ord))
          case DoubleType => vec.putDouble(i, row.getDouble(ord))
          case IntegerType => vec.putInt(i, row.getInt(ord))
          case other =>
            throw new UnsupportedOperationException(s"columnar type $other")
        }
        i += 1
      }
      c += 1
    }
    new ColumnarBatch(vecs.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]], rows.length)
  }

  private def releaseBatch(): Unit =
    if (batch != null) { batch.close(); batch = null }

  override def get(): ColumnarBatch = batch
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    RecordsSkippedMetric.task(pageSource.skippedRecords)
  override def close(): Unit = { releaseBatch(); pageSource.logSkipped() }
}
