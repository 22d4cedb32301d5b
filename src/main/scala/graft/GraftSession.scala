package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft tool builds its session: the session time zone is
  * UTC (timestamp queries must agree with the DuckDB oracles) and the
  * graft SQL functions come from [[graft.functions.GraftExtensions]], so
  * no caller registers anything. Each tool passes its own master and,
  * where it sets them, its shuffle partitions, `spark.ui.enabled` and log
  * level; an unset value keeps Spark's (or spark-submit's) default.
  */
object GraftSession {
  def apply(master: String, appName: String, shufflePartitions: Option[Int] = None,
      ui: Option[Boolean] = None, logLevel: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toLong))
    ui.foreach(u => b.config("spark.ui.enabled", u))
    val spark = b.getOrCreate()
    logLevel.foreach(spark.sparkContext.setLogLevel)
    spark
  }
}
