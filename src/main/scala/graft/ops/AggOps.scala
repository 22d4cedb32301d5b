package graft.ops

import graft.Gated
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Aggregate-family operators beyond the built-ins:
  *
  *  - a custom typed [[Aggregator]] (histogram UDAF — SURVEY §2.10 "if a
  *    quality histogram is wanted: TypedImperativeAggregate — optional";
  *    the Aggregator+udaf route is the idiomatic Spark 3+/4 form, codegen
  *    wraps it as a proper partial/final aggregate with map-side combine)
  *  - MERGE-style upsert view (edited-result sink, api.py:458-474 →
  *    "MERGE INTO keyed by url", SURVEY §2.1): full-outer join + coalesce
  *  - salted two-stage aggregation (SURVEY §4.3 skew row): partial agg on
  *    (key, salt) then final on key — the explicit-salt pattern for keys
  *    too hot for one reducer; byte-identical result to the direct agg.
  */
object AggOps {

  // ------------------------------------------------------- histogram UDAF

  /** 10-bucket histogram over acctbal-range doubles; buffer is a plain
    * long array (partial state merged associatively — the map-side combine
    * is what keeps the shuffle at |groups|·10 longs regardless of row
    * count), output a canonical comma-joined string.
    */
  object Hist10 extends Aggregator[Double, Array[Long], String] {
    def bucket(v: Double): Int =
      math.min(9, math.max(0, math.floor((v + 1000.0) / 1100.0).toInt))
    override def zero: Array[Long] = new Array[Long](10)
    override def reduce(b: Array[Long], v: Double): Array[Long] = {
      b(bucket(v)) += 1L; b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < 10) { a(i) += b(i); i += 1 }; a
    }
    override def finish(r: Array[Long]): String = r.mkString(",")
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  def histogram(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("hist10", udaf(Hist10))
    spark.read.parquet(s"$dir/customer.parquet")
      .groupBy(col("c_mktsegment"))
      .agg(expr("hist10(c_acctbal)").as("hist"), count(lit(1)).as("n"))
  }

  val histogramSql: String = {
    val sums = (0 to 9).map(i =>
      s"CAST(sum(CASE WHEN LEAST(GREATEST(CAST(floor((c_acctbal + 1000.0) / 1100.0) AS INT), 0), 9) = $i THEN 1 ELSE 0 END) AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""SELECT c_mktsegment, $sums AS hist, CAST(count(*) AS BIGINT) AS n
       |FROM customer GROUP BY c_mktsegment""".stripMargin
  }

  // ---------------------------------------------------------- upsert view

  /** Edited-result upsert (MERGE INTO semantics without an Iceberg
    * runtime): edits override matching base rows, unmatched edits insert,
    * unmatched base rows persist. The edit set is synthesized from the
    * base (keys %10==0 re-priced, plus shifted-key inserts).
    */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .selectExpr("cast(o_orderkey as long) as k", "o_totalprice as base_price")
    val edits = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") % 10 === 0)
      .selectExpr(
        "cast(if(o_orderkey % 20 = 0, o_orderkey + 100000000, o_orderkey) as long) as k",
        "round(o_totalprice * 2, 2) as edit_price")
    base.join(edits, Seq("k"), "full_outer")
      .selectExpr("k",
        "coalesce(edit_price, base_price) as price",
        "case when edit_price is null then 'base' when base_price is null then 'insert' else 'update' end as src")
  }

  val upsertSql: String =
    """WITH base AS (SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS base_price FROM orders),
      |edits AS (SELECT CAST(CASE WHEN o_orderkey % 20 = 0 THEN o_orderkey + 100000000 ELSE o_orderkey END AS BIGINT) AS k,
      |    round(o_totalprice * 2, 2) AS edit_price
      |  FROM orders WHERE o_orderkey % 10 = 0)
      |SELECT coalesce(base.k, edits.k) AS k,
      |  coalesce(edit_price, base_price) AS price,
      |  CASE WHEN edit_price IS NULL THEN 'base' WHEN base_price IS NULL THEN 'insert' ELSE 'update' END AS src
      |FROM base FULL OUTER JOIN edits ON base.k = edits.k""".stripMargin

  // ------------------------------------------------- salted two-stage agg

  /** Skew-safe aggregation: stage 1 partial-aggregates on (key, salt) so a
    * hot key spreads over S reducers, stage 2 folds the S partials. The
    * oracle is the direct single-stage aggregate — results must be
    * identical (sums of longs are associative; doubles rounded).
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame = {
    val S = 8
    spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("salt", pmod(col("l_orderkey"), lit(S)))
      .groupBy(col("l_suppkey"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("l_quantity")).as("pq"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("pn")).as("n_items"), sum(col("pq")).as("sum_qty"))
      .selectExpr("cast(l_suppkey as long) as l_suppkey", "n_items", "sum_qty")
  }

  val saltedAggSql: String =
    """SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
      |  CAST(count(*) AS BIGINT) AS n_items, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY l_suppkey""".stripMargin

  // -------------------------------------------------------------- registry

  def registry: Map[String, Gated] = Map(
    "q_histogram_udaf" -> Gated(histogram(_, _), histogramSql),
    "q_upsert" -> Gated(upsert(_, _), upsertSql),
    "q_salted_agg" -> Gated(saltedAgg(_, _), saltedAggSql))
}
