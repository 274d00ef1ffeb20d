package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise): the engine's own
  * session, so the specs and the plan goldens check what hwbench times.
  */
object SparkSpecBase {
  // The derby metastore (its URL is a -D property in build.sbt's
  // Test / javaOptions) and the warehouse live under target/ (wiped by
  // clean). Both are build output: an earlier run's leftovers are
  // deleted first, or its managed-table directories would fail this
  // run's saveAsTable with LOCATION_ALREADY_EXISTS.
  lazy val spark: SparkSession = {
    Seq("target/test-warehouse", "target/test-metastore_db").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    Engine.session("local[4]", warehouseDir = Some("target/test-warehouse"))
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.spark
  val sfDir = "/root/testdata/sf0.001"
  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    super.beforeAll()
  }
}
