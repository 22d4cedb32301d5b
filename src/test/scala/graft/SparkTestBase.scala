package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for Spark-backed specs, built by the tools' own
  * recipe ([[GraftSession]]): the graft SQL functions resolve without
  * any registration. Four cores, and two attempts per task, so a spec can
  * fail a task once and see it retried.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkTestBase {
  lazy val session: SparkSession =
    GraftSession("local[4,2]", "graft-test", shufflePartitions = Some(4), ui = Some(false))
}
