package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational stages of the extraction pipeline, exercised over the
  * driver's TPC-H-ish tables (SURVEY §2: each query is the SQL-expressible
  * analog of a reference behavior, cited per method). These run as pure
  * Catalyst plans — broadcast joins for dims, partial aggregation, window
  * functions — and are DuckDB-cross-checked.
  */
object RelationalOps {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Classic scan→filter→agg (map-side partial agg; sum_qty is exact
    * integral, money sums rounded to absorb addition order).
    */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_base_price,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |  CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Page→document rollup analog (api.py:261-269): order-insensitive aggs
    * keyed by the parent; the real pipeline rolls up in-kernel because
    * pages arrive inside one row (ExtractKernel.extract).
    */
  def pageRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("page_count"),
        sum(col("l_quantity")).as("sum_qty"),
        min(col("l_partkey")).as("first_part"))

  val pageRollupSql: String =
    """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS page_count,
      |  sum(l_quantity) AS sum_qty, min(l_partkey) AS first_part
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Derived-column select (§2.8 ladder: name split api.py:98-108 /
    * endpoint_upload.py:1323-1326, id-prefix rules :1363-1365, enum
    * normalization :1328-1329) + broadcast dim join (header-alias lookup
    * analog, convert_to_json.py:157-180).
    */
  def derivedFields(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .selectExpr(
        "cast(c_custkey as long) as c_custkey",
        "split(c_name, '#')[0] as name_head",
        "substring(split(c_name, '#')[1], 1, 1) as name_initial",
        "case when c_custkey % 10 < 5 then 'ID' else 'IQAMA' end as id_type",
        "case lower(c_mktsegment) when 'building' then 'B' when 'automobile' then 'A' else 'O' end as seg_code",
        "cast(c_acctbal >= 0 as boolean) as solvent",
        "n_name as nation")
  }

  val derivedFieldsSql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
      |  string_split(c_name, '#')[1] AS name_head,
      |  substr(string_split(c_name, '#')[2], 1, 1) AS name_initial,
      |  CASE WHEN c_custkey % 10 < 5 THEN 'ID' ELSE 'IQAMA' END AS id_type,
      |  CASE lower(c_mktsegment) WHEN 'building' THEN 'B' WHEN 'automobile' THEN 'A' ELSE 'O' END AS seg_code,
      |  (c_acctbal >= 0) AS solvent,
      |  n_name AS nation
      |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin

  /** Checkpointed-resume scan shape (SURVEY §7.3): anti-join of inputs
    * against the committed ledger — lineitems of not-yet-finalized orders.
    */
  def resumeAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val committed = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    li.join(committed, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("l_quantity")).as("sum_qty"))
  }

  val resumeAntijoinSql: String =
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
      |GROUP BY l_returnflag""".stripMargin

  /** Deterministic first-page representative (api.py:231-234): first event
    * per user by (ts, event_id) — `min_by` analog via row_number.
    */
  def windowFirst(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .selectExpr("cast(user_id as long) as user_id",
        "cast(event_id as long) as first_event",
        // events.ts is parquet TIMESTAMP_NTZ; UTC session makes the cast exact
        "unix_micros(cast(ts as timestamp)) as ts_us")
  }

  val windowFirstSql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(event_id AS BIGINT) AS first_event, epoch_us(ts) AS ts_us
      |FROM (SELECT user_id, event_id, ts,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** Gaps-and-islands sessionization (SURVEY §2.5 y-overlap grouping
    * analog): new session when gap > 30 min; count sessions per user.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("prev_ts").cast("timestamp")) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
      .selectExpr("cast(user_id as long) as user_id", "n_sessions", "n_events")
  }

  val sessionizeSql: String =
    """WITH g AS (SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events)
      |SELECT CAST(user_id AS BIGINT) AS user_id,
      |  CAST(sum(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id""".stripMargin

  /** Ordered conversion funnel over the event log — the classic
    * event-analytics operator (each stage must occur strictly AFTER the
    * previous stage's first occurrence, not merely co-occur):
    * view → click → signup → purchase per user, emitting per stage the
    * user count that reached it plus the exact summed conversion lag in
    * integer microseconds. The strict ordering makes it a chained
    * sequential min, not a conditional-count GROUP BY — the property
    * naive funnels get wrong.
    *
    * 100 TB shape: each stage is a (user, min-ts) partial-agg'd rollup;
    * stage tables shrink monotonically and join back on the user key —
    * no window over the raw event log, no sort.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .selectExpr("cast(user_id as long) as u", "event_type as et",
        "unix_micros(cast(ts as timestamp)) as tus")
      .localCheckpoint(true)
    val s1 = ev.where("et = 'view'").groupBy("u").agg(min("tus").as("t1"))
    val s2 = ev.where("et = 'click'").join(s1, Seq("u")).where("tus > t1")
      .groupBy("u").agg(min("tus").as("t2"), min("t1").as("t1"))
    val s3 = ev.where("et = 'signup'").join(s2, Seq("u")).where("tus > t2")
      .groupBy("u").agg(min("tus").as("t3"), min("t2").as("t2"))
    val s4 = ev.where("et = 'purchase'").join(s3, Seq("u")).where("tus > t3")
      .groupBy("u").agg(min("tus").as("t4"), min("t3").as("t3"))
    def stage(n: Int, name: String, src: DataFrame, lag: String): DataFrame =
      src.agg(expr("cast(count(*) as long) as n_users"),
        expr(s"cast(coalesce(sum($lag), 0) as long) as sum_lag_us"))
        .selectExpr(s"cast($n as bigint) as stage", s"'$name' as event_type",
          "n_users", "sum_lag_us")
    stage(1, "view", s1, "0")
      .unionByName(stage(2, "click", s2, "t2 - t1"))
      .unionByName(stage(3, "signup", s3, "t3 - t2"))
      .unionByName(stage(4, "purchase", s4, "t4 - t3"))
  }

  val eventFunnelSql: String =
    """WITH ev AS (SELECT CAST(user_id AS BIGINT) AS u, event_type AS et,
      |    epoch_us(ts) AS tus FROM events),
      |s1 AS (SELECT u, min(tus) AS t1 FROM ev WHERE et = 'view' GROUP BY u),
      |s2 AS (SELECT ev.u, min(tus) AS t2, min(t1) AS t1
      |  FROM ev JOIN s1 ON s1.u = ev.u WHERE et = 'click' AND tus > t1 GROUP BY ev.u),
      |s3 AS (SELECT ev.u, min(tus) AS t3, min(t2) AS t2
      |  FROM ev JOIN s2 ON s2.u = ev.u WHERE et = 'signup' AND tus > t2 GROUP BY ev.u),
      |s4 AS (SELECT ev.u, min(tus) AS t4, min(t3) AS t3
      |  FROM ev JOIN s3 ON s3.u = ev.u WHERE et = 'purchase' AND tus > t3 GROUP BY ev.u)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type,
      |  CAST(count(*) AS BIGINT) AS n_users, CAST(0 AS BIGINT) AS sum_lag_us FROM s1
      |UNION ALL SELECT CAST(2 AS BIGINT), 'click', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM s2
      |UNION ALL SELECT CAST(3 AS BIGINT), 'signup', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(t3 - t2), 0) AS BIGINT) FROM s3
      |UNION ALL SELECT CAST(4 AS BIGINT), 'purchase', CAST(count(*) AS BIGINT),
      |  CAST(coalesce(sum(t4 - t3), 0) AS BIGINT) FROM s4""".stripMargin

  /** Top-1 fuzzy-match analog (endpoint_upload.py:211-220 argmax): top-2
    * orders per customer by totalprice, deterministic tiebreak.
    */
  def topkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
      .selectExpr("cast(o_custkey as long) as o_custkey",
        "cast(o_orderkey as long) as o_orderkey", "rank", "o_totalprice")
  }

  val topkPerGroupSql: String =
    """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
      |  CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(rank AS BIGINT) AS rank, o_totalprice
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      |  FROM orders) WHERE rank <= 2""".stripMargin

  /** flatten_json / find_key analog (automate_upload.py:657-680): JSON
    * path extraction from the `props` column + rollup.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))

  val jsonExtractSql: String =
    """SELECT event_type, CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** Date derivation ladder (endpoint_upload.py:1342-1361: year extract +
    * DOB synthesis `make_date(year - age, 1, 1)`).
    */
  def dateDerive(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .selectExpr(
        "cast(o_orderkey as long) as o_orderkey",
        "cast(year(o_orderdate) as long) as order_year",
        "date_format(make_date(year(o_orderdate) - cast(o_orderkey % 60 as int), 1, 1), 'yyyy-MM-dd') as synth_dob")

  val dateDeriveSql: String =
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
      |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  strftime(make_date(CAST(year(o_orderdate) AS INT) - CAST(o_orderkey % 60 AS INT), 1, 1), '%Y-%m-%d') AS synth_dob
      |FROM orders""".stripMargin

  /** Streaming-shaped batch analog (§2.9): tumbling 1h event-time windows.
    * The Structured Streaming variant (readStream + watermark) is in
    * graft.streaming; this batch form is the oracle-checkable plan.
    */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .selectExpr("unix_micros(w) as window_us", "event_type", "n", "sum_value")

  val hourlyWindowSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS window_us, event_type,
      |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin

  /** ROLLUP subtotals (Catalyst grouping-sets freebie, SURVEY §2.4 "Partial
    * +final agg, grouping sets ... Catalyst built-ins suffice"): per
    * (flag, status), per flag, and grand total in one pass.
    */
  def rollupTotals(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))

  val rollupTotalsSql: String =
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |  sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin

  /** Co-located join via bucketed tables — the 100 TB story for repeated
    * fact⊳fact joins: both sides written `bucketBy(8, custkey)` +
    * `sortBy`, so the sort-merge join reads co-located buckets with NO
    * Exchange on either side (PlanAudit shows the shuffle-free plan; AQE
    * broadcast is bypassed via the MERGE hint to exercise the bucketed
    * path). Result is identical to the plain parquet join, which is what
    * the DuckDB oracle checks. Analog of pre-partitioned Iceberg layout
    * for the extracted table keyed by url-hash (SURVEY §4.2/§7.3).
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = Integer.toHexString(dir.hashCode).takeRight(8)
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$tag"
    def ensure(name: String, df: => DataFrame, key: String): String = {
      val tbl = s"graft_b_${name}_$tag"
      if (!spark.catalog.tableExists(tbl)) {
        df.write.mode("overwrite")
          .bucketBy(8, key).sortBy(key)
          .option("path", s"$base/$name")
          .saveAsTable(tbl)
      }
      tbl
    }
    val ot = ensure("orders", t(spark, dir, "orders"), "o_custkey")
    val ct = ensure("customer", t(spark, dir, "customer"), "c_custkey")
    spark.table(ot).hint("merge")
      .join(spark.table(ct), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  val bucketedJoinSql: String =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      |  round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** As-of join — the canonical operator Spark lacks natively (SURVEY §2.3
    * "degenerate as-of join on mtime"): each click matched to the user's
    * most recent purchase at-or-before its timestamp. Composed scalably as
    * union-tag + one window pass (single shuffle on user_id, no theta
    * join, no per-key collect): purchases sort before clicks at equal ts,
    * `last(purchase_id, ignoreNulls)` carries the running match forward.
    * At 100 TB this is shuffle-bounded by the key cardinality — the same
    * plan a native as-of SparkStrategy would produce. Oracle: DuckDB's
    * native ASOF LEFT JOIN.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .selectExpr("user_id", "cast(ts as timestamp) as ts", "event_id",
        "if(event_type = 'purchase', 0, 1) as side",
        "if(event_type = 'purchase', event_id, null) as p_id")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("purchase_id", last(col("p_id"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .selectExpr("cast(user_id as long) as user_id",
        "cast(event_id as long) as click_id",
        "cast(purchase_id as long) as purchase_id")
  }

  val asofJoinSql: String =
    """WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
      |     purchases AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
      |SELECT CAST(c.user_id AS BIGINT) AS user_id,
      |  CAST(c.event_id AS BIGINT) AS click_id,
      |  CAST(p.event_id AS BIGINT) AS purchase_id
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin

  /** Range (band) join accelerated by chunking: events join irregular
    * value bands. The naive form is a theta join (`value >= lo AND value
    * < hi`) — O(n·m) nested-loop at scale. Chunking to width 25 expands
    * each band to its covered chunk ids and the join becomes equi on
    * chunk_id (+ residual filter): shuffle/broadcast-able, linear. This
    * is the standard interval-join decomposition used by range-join hints.
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = 25
    val bands = spark.createDataFrame(Seq(
      (0.0, 10.0, "tiny"), (10.0, 75.0, "small"),
      (75.0, 200.0, "mid"), (200.0, 500.0, "large")))
      .toDF("lo", "hi", "label")
      .selectExpr("lo", "hi", "label",
        s"explode(sequence(cast(floor(lo / $w) as int), cast(floor((hi - 0.001) / $w) as int))) as chunk")
    t(spark, dir, "events")
      .selectExpr("value", s"cast(floor(value / $w) as int) as chunk")
      .join(broadcast(bands), "chunk")
      .filter(col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
  }

  val rangeJoinSql: String =
    """SELECT b.label, CAST(count(*) AS BIGINT) AS n,
      |  round(sum(e.value), 4) AS sum_value
      |FROM events e JOIN (VALUES (0.0, 10.0, 'tiny'), (10.0, 75.0, 'small'),
      |  (75.0, 200.0, 'mid'), (200.0, 500.0, 'large')) b(lo, hi, label)
      |  ON e.value >= b.lo AND e.value < b.hi
      |GROUP BY b.label""".stripMargin

  // ---------------------------------------------------- star-schema top-k

  /** TPC-H Q3 analog (shipping-priority): the canonical star-schema
    * probe — selective dim filter (one market segment) reduced through
    * TWO joins into the fact table, grouped per order, global top-10 by
    * revenue. The plan this must produce at scale: customer (filtered,
    * small) BROADCASTS into orders, the surviving orders join lineitem
    * on the fact key, revenue partial-aggregates per order, and the
    * top-10 runs as TakeOrderedAndProject (per-partition heads merged
    * on the driver — never a global sort). Ties broken on
    * (o_orderdate, l_orderkey) so the limit boundary is deterministic
    * on both engines; per-order revenue sums span ≤7 lineitems, so
    * round(·,2) absorbs addition order exactly as q1_agg does.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-01-01"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord.join(broadcast(cust), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
      .limit(10)
      .selectExpr("l_orderkey", "unix_micros(cast(o_orderdate as timestamp)) as order_us",
        "o_orderpriority", "revenue")
  }

  val q3ShippingSql: String =
    """SELECT l.l_orderkey,
      |  epoch_us(o.o_orderdate) AS order_us,
      |  o.o_orderpriority,
      |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      |ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
      |LIMIT 10""".stripMargin

  // ------------------------------------------------------ salted skew join

  private val JoinSalts = 8

  /** Salted join for a pathologically hot key — the north rule's
    * "salting for skewed hosts" applied to a JOIN (the agg-side twin is
    * `q_salted_agg`). The fact side maps half the corpus onto host 0 (a
    * planted megasite); a plain shuffle join on host would put ~50% of
    * all rows in ONE reducer task, the classic straggler that stalls a
    * 1000-executor stage at the speed of one. Salting splits the hot
    * key's rows across `JoinSalts` shuffle keys (salt = (doc_id div 2)
    * % 8 — doc_id % 8 would be PARITY-CORRELATED with the hot key,
    * which selects even ids, and the megasite would land on only the 4
    * even salts) and REPLICATES each dim row once per salt, so the join
    * becomes equi on (host, salt) with every task bounded at ~1/8 of
    * the hot key. The final rollup removes the salt;
    * the oracle is the UNSALTED join — any lost or doubled replication
    * breaks the counts exactly.
    *
    * (AQE's skew-join split is the runtime alternative for sort-merge
    * joins; explicit salting remains THE portable answer when the build
    * side must broadcast or the engine cannot re-split mid-stage.)
    */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = t(spark, dir, "documents")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(case when doc_id % 2 = 0 then 0 else doc_id % 50 end as long) as host",
        s"cast((doc_id div 2) % $JoinSalts as long) as salt",
        "cast(size(split(text, ' ')) as long) as n_tokens")
    val dim = spark.range(0, 50).toDF("host")
      .selectExpr("host", "cast(host % 4 as long) as tier",
        s"explode(sequence(0, ${JoinSalts - 1})) as salt")
      .selectExpr("host", "tier", "cast(salt as long) as salt")
    fact.join(dim, Seq("host", "salt"))
      .groupBy("tier")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("sum_tokens"))
  }

  val saltedJoinSql: String =
    """WITH f AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN 0 ELSE doc_id % 50 END AS host,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |d AS (SELECT unnest(range(0, 50)) AS host),
      |dt AS (SELECT host, host % 4 AS tier FROM d)
      |SELECT CAST(tier AS BIGINT) AS tier,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
      |FROM f JOIN dt USING (host)
      |GROUP BY tier""".stripMargin

  // ------------------------------------------------- Z-order data layout

  /** Morton/Z-order bit interleave of (host, slot) as an explicit
    * integer-term sum, generated once so the Spark and DuckDB texts are
    * the same formula modulo the integer-division operator.
    */
  private def zExpr(divOp: String): String =
    (0 until 6).map(i =>
      s"((host $divOp ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + ((slot $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
      .mkString(" + ")

  private val ZFiles = 16

  /** Z-order (Morton-curve) data layout vs insertion-order layout — the
    * lakehouse clustering decision (Delta `OPTIMIZE ZORDER BY`, Iceberg
    * sort orders) evaluated AS DATA. Every parquet file in a 100 TB
    * table carries per-column min/max stats; a scan prunes a file when
    * the predicate falls outside its range. Sorting by ONE key makes
    * only that key's ranges tight; interleaving the bits of BOTH keys
    * (z = morton(host, slot)) makes every file a small rectangle in
    * (host, slot) space, so min/max pruning stays selective on EITHER
    * dimension. The query lays the same rows out both ways (16 files of
    * equal z-span vs 16 insertion-order slices), computes each file's
    * min/max footprint, and emits the pruning verdict for a host=7
    * point predicate — under the z layout few files touch host 7, under
    * insertion order every file does (doc_id % 50 cycles hosts through
    * every slice).
    *
    * 100 TB shape: the z-value is a pure per-row integer projection
    * (the real layout job would `repartitionByRange(z)` + write); the
    * file stats are one partial-agg'd shuffle of (layout, file_id)
    * keys. The only driver-held value is the one-row corpus count the
    * insertion-order slicing needs, broadcast back (same one-row
    * pattern as the BM25 stats join).
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .selectExpr("cast(doc_id as long) as doc_id",
        "cast(doc_id % 50 as long) as host",
        "cast((doc_id * 7) % 64 as long) as slot")
    val cnt = d.agg(count(lit(1)).cast("long").as("n_total"))
    d.crossJoin(broadcast(cnt))
      .selectExpr("host", "slot",
        s"cast((${zExpr("div")}) as long) as z",
        s"cast(least(doc_id * $ZFiles div n_total, ${ZFiles - 1}) as long) as lin_fid")
      .selectExpr("host", "slot",
        s"""explode(array(
           |  named_struct('layout', 'zorder', 'fid', z div ${4096 / ZFiles}),
           |  named_struct('layout', 'insertion', 'fid', lin_fid))) as lf""".stripMargin)
      .selectExpr("lf.layout as layout", "lf.fid as file_id", "host", "slot")
      .groupBy("layout", "file_id")
      .agg(
        count(lit(1)).cast("long").as("n_rows"),
        min("host").as("host_min"), max("host").as("host_max"),
        min("slot").as("slot_min"), max("slot").as("slot_max"))
      .selectExpr("layout", "file_id", "n_rows",
        "host_min", "host_max", "slot_min", "slot_max",
        "host_min <= 7 and host_max >= 7 as scans_host7")
  }

  val zorderLayoutSql: String =
    s"""WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    doc_id % 50 AS host, (doc_id * 7) % 64 AS slot,
       |    count(*) OVER () AS n_total
       |  FROM documents),
       |z AS (SELECT host, slot, ${zExpr("//")} AS z,
       |    least(doc_id * $ZFiles // n_total, ${ZFiles - 1}) AS lin_fid
       |  FROM d),
       |f AS (SELECT t.layout, t.fid AS file_id, host, slot
       |  FROM z, LATERAL (VALUES ('zorder', z // ${4096 / ZFiles}),
       |                          ('insertion', lin_fid)) t(layout, fid))
       |SELECT layout, CAST(file_id AS BIGINT) AS file_id,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(min(host) AS BIGINT) AS host_min, CAST(max(host) AS BIGINT) AS host_max,
       |  CAST(min(slot) AS BIGINT) AS slot_min, CAST(max(slot) AS BIGINT) AS slot_max,
       |  min(host) <= 7 AND max(host) >= 7 AS scans_host7
       |FROM f GROUP BY 1, 2""".stripMargin

  // --------------------------------------------- range-bound estimation

  /** Sampled range-partition boundaries — what `repartitionByRange` /
    * a sort-based write actually computes before shuffling 10^12 rows:
    * a GLOBAL sort key histogram is unaffordable, so the partitioner
    * draws a sample, sorts THAT, and reads the k−1 split points off the
    * sample's quantile ranks. The sample is the FIXED-SIZE set of the
    * 256 rows with the smallest md5 draw ([[graft.functions.MinK]],
    * the deterministic analog of a size-k reservoir) — deterministic,
    * so both engines draw the SAME sample and the boundaries are exact
    * integers under the gate.
    *
    * 100 TB shape (r4 ask #3): the earlier rate-bounded (~n/16) sample
    * GREW with the corpus, so the single-partition boundary window
    * scaled O(n) — at 10^12 rows that reducer dies. MinK plans as a
    * two-phase aggregate whose partial buffers are capped at k: the
    * exchange carries ≤ k rows per map partition and the sort/window
    * that reads off the split points sees EXACTLY ≤ 256 rows no matter
    * the corpus size — the same contract as Spark's RangePartitioner
    * reservoir (fixed sampleSizePerPartition). Pinned in PlanShapeSpec.
    * The (n_tokens, doc_id) payload rides the candidate id packed as
    * n_tokens·2^32 + doc_id (the pack IS the boundary sort order; ids
    * here are < 2^32 — a production sketch carries a struct payload).
    * Boundary count 8 ⇒ 7 split rows out.
    */
  def rangeBounds(spark: SparkSession, dir: String): DataFrame = {
    val parts = 8
    val k = 256
    val sample = t(spark, dir, "documents")
      .selectExpr(
        "md5(cast(concat('rb#', cast(doc_id as string)) as binary)) as h",
        "cast(size(split(text, ' ')) as long) * 4294967296L + cast(doc_id as long) as packed")
      .groupBy()
      .agg(graft.functions.MinK.mink(k)(col("h"), col("packed")).as("picks"))
      .select(explode(col("picks")).as("c"))
      .selectExpr("c.id div 4294967296L as n_tokens",
        "c.id % 4294967296L as doc_id")
    sample
      .withColumn("rn", row_number().over(
        Window.partitionBy().orderBy("n_tokens", "doc_id")))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy()))
      .where(s"rn % greatest(ns div $parts, 1) = 0 and rn div greatest(ns div $parts, 1) < $parts")
      .selectExpr(s"cast(rn div greatest(ns div $parts, 1) as long) as bound_idx",
        "n_tokens as bound_value", "cast(ns as long) as sample_size")
  }

  val rangeBoundsSql: String =
    """WITH s AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents
      |  ORDER BY md5('rb#' || doc_id) LIMIT 256),
      |r AS (SELECT n_tokens,
      |    row_number() OVER (ORDER BY n_tokens, doc_id) AS rn,
      |    count(*) OVER () AS ns
      |  FROM s)
      |SELECT CAST(rn // greatest(ns // 8, 1) AS BIGINT) AS bound_idx,
      |  n_tokens AS bound_value, CAST(ns AS BIGINT) AS sample_size
      |FROM r
      |WHERE rn % greatest(ns // 8, 1) = 0 AND rn // greatest(ns // 8, 1) < 8""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg(_, _)),
    "q_range_bounds" -> (rangeBounds(_, _)),
    "q_salted_join" -> (saltedJoin(_, _)),
    "q_q3_shipping" -> (q3Shipping(_, _)),
    "q_asof_join" -> (asofJoin(_, _)),
    "q_range_join" -> (rangeJoin(_, _)),
    "q_bucketed_join" -> (bucketedJoin(_, _)),
    "q_rollup_totals" -> (rollupTotals(_, _)),
    "q_page_rollup" -> (pageRollup(_, _)),
    "q_derived_fields" -> (derivedFields(_, _)),
    "q_resume_antijoin" -> (resumeAntijoin(_, _)),
    "q_window_first" -> (windowFirst(_, _)),
    "q_sessionize" -> (sessionize(_, _)),
    "q_event_funnel" -> (eventFunnel(_, _)),
    "q_topk_per_group" -> (topkPerGroup(_, _)),
    "q_json_extract" -> (jsonExtract(_, _)),
    "q_date_derive" -> (dateDerive(_, _)),
    "q_zorder_layout" -> (zorderLayout(_, _)),
    "q_hourly_window" -> (hourlyWindow(_, _)))

  def oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q_range_bounds" -> rangeBoundsSql,
    "q_salted_join" -> saltedJoinSql,
    "q_q3_shipping" -> q3ShippingSql,
    "q_asof_join" -> asofJoinSql,
    "q_range_join" -> rangeJoinSql,
    "q_bucketed_join" -> bucketedJoinSql,
    "q_rollup_totals" -> rollupTotalsSql,
    "q_page_rollup" -> pageRollupSql,
    "q_derived_fields" -> derivedFieldsSql,
    "q_resume_antijoin" -> resumeAntijoinSql,
    "q_window_first" -> windowFirstSql,
    "q_sessionize" -> sessionizeSql,
    "q_event_funnel" -> eventFunnelSql,
    "q_topk_per_group" -> topkPerGroupSql,
    "q_json_extract" -> jsonExtractSql,
    "q_date_derive" -> dateDeriveSql,
    "q_zorder_layout" -> zorderLayoutSql,
    "q_hourly_window" -> hourlyWindowSql)
}
