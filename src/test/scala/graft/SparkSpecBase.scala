package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
object SparkSpecBase {
  // Hive-enabled so HiveCatalogSpec can prove metastore persistence;
  // derby metastore + warehouse live under target/ (wiped by clean).
  // Both are build output: an earlier run's leftovers are deleted
  // first, or its managed-table directories would fail this run's
  // saveAsTable with LOCATION_ALREADY_EXISTS. `file:` is bound as in
  // Engine.session, so the specs write through the engine's filesystem.
  lazy val spark: SparkSession = {
    Seq("target/test-warehouse", "target/test-metastore_db").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      .config("javax.jdo.option.ConnectionURL",
        "jdbc:derby:;databaseName=target/test-metastore_db;create=true")
      .config(Engine.fileSystemConfs)
      .enableHiveSupport()
      .getOrCreate()
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
