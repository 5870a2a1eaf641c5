package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Loads the driver-generated test tables (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet's `ts` has shipped as TIMESTAMP(NANOS) in some
    * driver data drops (which Spark's parquet reader rejects outright
    * unless nanos are read as long) and as plain TIMESTAMP(MICROS) in
    * others; normalize either to a µs TimestampType column. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    graft.core.SessionTuning.nanosAsLong(spark)
    normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Rewrites `ts` to µs TimestampType whatever shape it was read in:
    * nanos-long → exact integer floor-div to µs; µs NTZ → its
    * wall-clock read AS UTC (matching the DuckDB oracle's naive
    * reading) regardless of the session timezone: convert_timezone
    * shifts the NTZ wall-clock from UTC into the session zone, so the
    * subsequent LTZ cast (which interprets in the session zone) lands
    * on the UTC instant — under a UTC session both steps are no-ops;
    * already-LTZ µs timestamps pass through. Pure schema branch —
    * works identically on batch and streaming DataFrames. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        val sessionTz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        df.withColumn("ts",
          convert_timezone(lit("UTC"), lit(sessionTz), col("ts")).cast("timestamp"))
      case _ => df
    }
  }

  /** The parallelism floor, CONDITIONAL on the input actually being
    * narrower than the cluster (opt r14, ADVICE r13 #4): hash-
    * repartition `df` to defaultParallelism by `key` only when its
    * physical partitioning is below that width. On the one-file gate
    * corpus (1-partition scans) this parallelizes the heavy
    * pre-shuffle map stages exactly as the r13 unconditional floor
    * did (2–4× at sf0.1); on an input already ≥ cluster-wide it is a
    * no-op — the r13 form forced a raw-row exchange there, which
    * SOAK_SHUFFLEBYTES measured as a pure loss (+0.7 s at ×10: the
    * exchange breaks scan→map codegen fusion, and the partial-agg
    * plan it displaced is the guide-§2.3 aggregate-before-shuffle
    * shape). The width check plans the frame once on the driver; no
    * job runs. */
  def floorByKey(df: DataFrame, key: Column): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= dp) df else df.repartition(dp, key)
  }

  /** Materializes `df` and cuts its lineage: a reliable (HDFS/S3)
    * checkpoint when the cluster has a checkpoint dir set — survives
    * executor loss — and an executor-local one otherwise. */
  def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()
}

/**
 * The relational query surface the reference delegates to Spark SQL
 * (SURVEY.md §2.6–2.10: filters, equi+interval join, aggregation,
 * window, sort/limit, set ops, scalar functions), expressed
 * Catalyst-first over the TESTDATA tables.
 *
 * Oracle-parity rules used throughout (the DuckDB oracle hashes values):
 *  - Money sums go through DECIMAL (exact, order-independent) and are
 *    cast back to DOUBLE so both engines emit identical bits and the
 *    same output type.
 *  - Timestamp outputs are projected as DATE or formatted STRING to
 *    avoid µs/ns & tz-awareness representation drift between engines.
 *  - Every query has a deterministic total ORDER BY (nulls-first to
 *    match Spark's default asc ordering).
 */
object Relational {
  import Tables.t

  /** Exact decimal sum of a 2-decimal double column, emitted as double. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  // ---------------------------------------------------------------- q1
  /** TPC-H Q1-style scan+aggregate: map-side partial agg, one shuffle
    * on the (tiny-cardinality) group keys. Scales: partial aggregation
    * means the shuffle carries ~|groups|×|partitions| rows, not data. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"), // integral doubles: exact in any order
        moneySum($"l_extendedprice").as("sum_base_price"),
        sum(($"l_extendedprice".cast("decimal(18,2)") *
          (lit(1.0) - $"l_discount").cast("decimal(5,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        countDistinct($"l_partkey").as("distinct_parts"))
      .orderBy($"l_returnflag", $"l_linestatus")

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order,
      |  COUNT(DISTINCT l_partkey) AS distinct_parts
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q2
  /** Filter + projection; both reach the parquet scan (PushedFilters /
    * pruned ReadSchema) — at 100 TB this is the difference between
    * reading 2 columns of a few row groups vs the whole table. */
  def q2FilterProj(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_quantity" < 25)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", date_format($"l_shipdate", "yyyy-MM-dd").as("ship_date"))
      .orderBy($"l_orderkey", $"l_linenumber")

  val q2Sql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
      |  STRFTIME(l_shipdate, '%Y-%m-%d') AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_quantity < 25
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q3
  /** TPC-H Q5-style star join. nation/region are broadcast (no shuffle
    * of the fact side for them); customer/orders/lineitem/supplier are
    * shuffle joins on their keys — AQE picks broadcast when a side is
    * small enough at runtime. */
  def q3JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val customer = t(spark, dir, "customer")
    val orders = t(spark, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
    val lineitem = t(spark, dir, "lineitem")
    val supplier = t(spark, dir, "supplier")
    val nation = broadcast(t(spark, dir, "nation"))
    val region = broadcast(t(spark, dir, "region").filter($"r_name" === "ASIA"))
    customer
      .join(orders, $"c_custkey" === $"o_custkey")
      .join(lineitem, $"o_orderkey" === $"l_orderkey")
      .join(supplier, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(nation, $"s_nationkey" === $"n_nationkey")
      .join(region, $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum(($"l_extendedprice".cast("decimal(18,2)") *
          (lit(1.0) - $"l_discount").cast("decimal(5,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q3Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q4
  /** Top-k: Spark plans TakeOrderedAndProject — per-partition top-10
    * then a single-driver merge of k×partitions rows; no global sort
    * shuffle at any scale. Unique tiebreak key keeps it deterministic. */
  def q4TopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"))
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)

  val q4Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q5
  /** Window functions: latest order per customer + lifetime value.
    * Single hash-partitioned shuffle on o_custkey serves both window
    * specs (same partition key). */
  def q5Window(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy($"o_custkey")
    val latest = byCust.orderBy($"o_orderdate".desc, $"o_orderkey".desc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(latest))
      .withColumn("lifetime_value",
        sum($"o_totalprice".cast("decimal(18,2)")).over(byCust).cast("double"))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("last_orderkey"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("last_orderdate"), $"lifetime_value")
      .orderBy($"o_custkey")
  }

  val q5Sql: String =
    """SELECT o_custkey, o_orderkey AS last_orderkey,
      |  STRFTIME(o_orderdate, '%Y-%m-%d') AS last_orderdate, lifetime_value
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS lifetime_value
      |  FROM orders
      |) WHERE rn = 1
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q6
  /** The reference's flagship delegated join shape (USAGE.md:264-277):
    * equi key + time-interval residual. Planned as a shuffle join on
    * the equi key with the range as a post-join filter — the residual
    * never forces a cartesian product. */
  def q6RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    l.join(o, $"l_orderkey" === $"o_orderkey" &&
        $"l_shipdate" >= $"o_orderdate" &&
        $"l_shipdate" < $"o_orderdate" + expr("INTERVAL 60 DAYS"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity").as("sum_qty"),
        moneySum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  val q6Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items, SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  AND l_shipdate >= o_orderdate
      |  AND l_shipdate < o_orderdate + INTERVAL 60 DAY
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q7
  /** Left-semi join (EXISTS): only the key column of the right side
    * crosses the shuffle; AQE broadcasts the filtered orders side when
    * small. */
  def q7Semi(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val bigOrders = t(spark, dir, "orders").filter($"o_totalprice" > 100000)
    c.join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val q7Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q8
  /** Left-anti join (NOT EXISTS): customers who never placed a
    * high-value order (plain no-orders-at-all is empty in this data). */
  def q8Anti(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val big = t(spark, dir, "orders").filter($"o_totalprice" > 300000)
    c.join(big, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }

  val q8Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q9
  /** Set operations: UNION (distinct) → INTERSECT → EXCEPT chain.
    * Each is a hash-partitioned distinct/join on the single key col. */
  def q9SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    val building = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val rich = c.filter($"c_acctbal" > 5000).select($"c_custkey")
    val withOrders = o.select($"o_custkey".as("c_custkey"))
    val bigSpenders = o.filter($"o_totalprice" > 400000)
      .select($"o_custkey".as("c_custkey"))
    building.union(rich).distinct()
      .intersect(withOrders)
      .except(bigSpenders)
      .orderBy($"c_custkey")
  }

  val q9Sql: String =
    """SELECT c_custkey FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  UNION
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      |)
      |INTERSECT
      |SELECT o_custkey AS c_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q10
  /** ROLLUP grouping-set aggregation over the dim snowflake. */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame = {
    val s = t(spark, dir, "supplier")
    val n = broadcast(t(spark, dir, "nation"))
    val r = broadcast(t(spark, dir, "region"))
    s.join(n, $"s_nationkey" === $"n_nationkey")
      .join(r, $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        moneySum($"s_acctbal").as("total_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val q10Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_suppliers,
      |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q11
  /** The reference's entire scalar-function surface (SURVEY §2.10) in
    * one projection: ISO-string→timestamp parse, casts, array_join
    * (split/slice/join), coalesce-with-default. All codegen built-ins. */
  def q11Scalar(spark: SparkSession, dir: String): DataFrame = {
    val iso = concat(lit("2021-01-"),
      lpad(($"doc_id" % 27 + 1).cast("string"), 2, "0"), lit("T09:30:00Z"))
    t(spark, dir, "documents")
      .select(
        $"doc_id",
        upper(substring($"text", 1, 12)).as("head"),
        length($"text").as("len"),
        size(split($"text", " ")).as("n_words"),
        array_join(slice(split($"text", " "), 1, 3), "_").as("first3"),
        coalesce(nullif($"source", lit("")), lit("none")).as("src"),
        ($"n_chars".cast("double") / length($"text")).as("char_ratio"),
        date_format(
          regexp_replace(regexp_replace(iso, "T", " "), "Z", "").cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("parsed_ts"))
      .orderBy($"doc_id")
  }

  val q11Sql: String =
    """SELECT doc_id,
      |  UPPER(SUBSTR(text, 1, 12)) AS head,
      |  LENGTH(text) AS len,
      |  LEN(STRING_SPLIT(text, ' ')) AS n_words,
      |  ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:3], '_') AS first3,
      |  COALESCE(NULLIF(source, ''), 'none') AS src,
      |  CAST(n_chars AS DOUBLE) / LENGTH(text) AS char_ratio,
      |  STRFTIME(CAST(REPLACE(REPLACE('2021-01-' || LPAD(CAST(doc_id % 27 + 1 AS VARCHAR), 2, '0') || 'T09:30:00Z', 'T', ' '), 'Z', '') AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS parsed_ts
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Recomputing "bars" from a tick stream (the batch analogue of the
    * reference's server-side timeframe aggregation, SURVEY §2.9):
    * tumbling 1-hour buckets per event_type. Bucket key emitted as a
    * formatted string to dodge engine timestamp-precision drift. */
  def q12EventBars(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"),
        $"event_type")
      .agg(count(lit(1)).as("n_events"),
        moneySum($"value").as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"bucket", $"event_type")

  val q12Sql: String =
    """SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  // ---------------------------------------------------------------- q13
  /** CUBE grouping sets: all 4 combinations of (r_name, c_mktsegment)
    * in one pass (Catalyst expands + partially aggregates each set). */
  def q13Cube(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = broadcast(t(spark, dir, "nation"))
    val r = broadcast(t(spark, dir, "region"))
    c.join(n, $"c_nationkey" === $"n_nationkey")
      .join(r, $"n_regionkey" === $"r_regionkey")
      .cube($"r_name", $"c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        moneySum($"c_acctbal").as("total_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("c_mktsegment"))
  }

  val q13Sql: String =
    """SELECT r_name, c_mktsegment, COUNT(*) AS n_customers,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Sketch aggregation: HLL approx-distinct next to the exact count.
    * Sketches differ across engines, so the cross-engine contract is
    * (exact value, within-5%-flag): each engine's own sketch must land
    * within tolerance of the shared exact count — sound because HLL
    * insertion is order-independent (deterministic per engine). */
  def q16ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    // The exact distinct and the sketch are SEPARATE aggregations
    // joined on the (tiny) group key. Asking for both in one agg
    // plans the distinct-rewrite Expand, whose partial aggregation
    // keys on (l_returnflag, l_partkey, gid) — and every one of
    // those ~|distinct pairs| hash-map entries carries the ~21 KB
    // HLL buffer (rsd 0.01 ⇒ p=14): gigabytes of aggregation state
    // for a 3-row result, measured as intermittent 20 s+ spill/GC
    // stalls. Split, the sketch buffer exists for 3 groups total and
    // each aggregation is a clean two-phase partial agg.
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact_parts"))
    // rsd 0.01 ⇒ typical sketch error ~1%, comfortably inside the
    // 5% contract flag (at rsd=0.05 the flag itself would be ~1σ)
    val approx = li.groupBy($"l_returnflag".as("rf"))
      .agg(approx_count_distinct($"l_partkey", 0.01).as("approx_parts"))
    exact.join(broadcast(approx), $"l_returnflag" === $"rf")
      .select($"l_returnflag", $"exact_parts",
        when(abs($"approx_parts" - $"exact_parts") <=
          $"exact_parts" * 0.05, 1L).otherwise(0L).as("approx_within_5pct"))
      .orderBy($"l_returnflag")
  }

  val q16Sql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
      |  CASE WHEN ABS(APPROX_COUNT_DISTINCT(l_partkey) - COUNT(DISTINCT l_partkey))
      |         <= COUNT(DISTINCT l_partkey) * 0.05 THEN 1 ELSE 0 END AS approx_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Mergeable-sketch re-aggregation (DataSketches HLL): per
    * (event_type, day) sketches built ONCE, then daily sketches
    * UNIONED per event_type and estimated — the 100 TB rollup trick:
    * weekly/monthly/all-time distincts come from merging kilobyte
    * sketches, never from rescanning raw events (unlike
    * approx_count_distinct, whose partial buffers are internal,
    * these sketches are storable columns — build daily, keep
    * forever). Gate contract mirrors q16: exact distinct + a 5%
    * tolerance flag on the merged estimate (DataSketches lgK=12 ⇒
    * ~1% typical error), since sketch internals differ per engine. */
  def q24SketchUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).withColumn("day", to_date($"ts"))
    val daily = ev.groupBy($"event_type", $"day")
      .agg(hll_sketch_agg($"user_id").as("sk"))
    val merged = daily.groupBy($"event_type".as("et"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_users"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_users"))
    exact.join(broadcast(merged), $"event_type" === $"et")
      .select($"event_type", $"exact_users",
        when(abs($"est_users" - $"exact_users") <= $"exact_users" * 0.05, 1L)
          .otherwise(0L).as("merged_within_5pct"))
      .orderBy($"event_type")
  }

  val q24Sql: String =
    """SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CASE WHEN ABS(APPROX_COUNT_DISTINCT(user_id) - COUNT(DISTINCT user_id))
      |         <= COUNT(DISTINCT user_id) * 0.05 THEN 1 ELSE 0 END AS merged_within_5pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** name → (builder, oracle) for SparkEntry wiring. */
  val all: Seq[(String, ((SparkSession, String) => DataFrame, String))] = Seq(
    "q1_agg" -> ((q1Agg _, q1Sql)),
    "q2_filter_proj" -> ((q2FilterProj _, q2Sql)),
    "q3_join_agg" -> ((q3JoinAgg _, q3Sql)),
    "q4_topk" -> ((q4TopK _, q4Sql)),
    "q5_window" -> ((q5Window _, q5Sql)),
    "q6_range_join" -> ((q6RangeJoin _, q6Sql)),
    "q7_semi_join" -> ((q7Semi _, q7Sql)),
    "q8_anti_join" -> ((q8Anti _, q8Sql)),
    "q9_set_ops" -> ((q9SetOps _, q9Sql)),
    "q10_rollup" -> ((q10Rollup _, q10Sql)),
    "q11_scalar" -> ((q11Scalar _, q11Sql)),
    "q12_event_bars" -> ((q12EventBars _, q12Sql)),
    "q13_cube" -> ((q13Cube _, q13Sql)),
    "q16_approx_distinct" -> ((q16ApproxDistinct _, q16Sql)),
    "q24_sketch_union" -> ((q24SketchUnion _, q24Sql)))

  // Column syntax sugar without a SparkSession-bound implicits import.
  private implicit class Sym(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
