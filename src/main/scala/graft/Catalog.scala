package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Table catalog over the driver-generated parquet star schema
  * (TESTDATA.md). Mirrors the reference's fixed compile-time registry
  * (master/master.ino:21-26) as a real catalog: explicit table list, no
  * schema inference surprises, temp views for the SQL surface.
  */
object Catalog {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Catalog")

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables large enough that scan parallelism matters (see the
    * single-file split in [[table]]); the tiny dims stay
    * single-partition — 32 near-empty tasks per stage would only add
    * scheduling floor to sub-second queries.
    */
  private val largeTables = Set(
    "customer", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Read one table from an sf directory. Parquet scan → columnar
    * vectorized read; filters/projections placed on top get pushed down
    * by Catalyst (verified in QueryPlanSpec).
    *
    * Every call routes by [[graft.operators.Snapshot.isSnapshotRoot]]
    * (one existence check): a table root carrying a _graft_manifests
    * dir is a snapshot table, and each read resolves its CURRENT
    * latest manifest (one tiny metadata read), so a registered table
    * observes commits/compactions as new snapshots while any frame
    * already handed out keeps its pinned file list. A table created
    * after a failed read, or a bare table converted in place to a
    * snapshot root, routes right on its next call. A bare parquet
    * table's frame is memoized in the session store (kind
    * `table:<name>`), so the queries pay file listing and footer reads
    * once per table; [[graft.queries.PipelineQueries.clearArtifacts]]
    * releases it.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val root = s"$dir/$name.parquet"
    if (graft.operators.Snapshot.isSnapshotRoot(spark, root))
      graft.operators.Snapshot.read(spark, root)
    else graft.queries.PipelineQueries.memo(spark, dir, s"table:$name") {
      // events.ts normalization: every downstream operator (and the
      // DuckDB oracle, which casts ::TIMESTAMP) must see µs
      // TimestampType (LTZ), whatever the generator wrote —
      //  * TIMESTAMP(NANOS): Spark has no native type; read as raw
      //    nanos (legacy.parquet.nanosAsLong, an Engine.session
      //    setting) and truncate to µs;
      //  * timestamp[us] with isAdjustedToUTC=false: Spark infers
      //    TIMESTAMP_NTZ (inferTimestampNTZ default-on in 4.x), which
      //    unix_micros() et al reject — cast to LTZ (wall-clock
      //    identity under the sessions' UTC timezone, same as the
      //    oracle's naive ::TIMESTAMP).
      val raw = spark.read.parquet(root)
      val df =
        if (name == "events" &&
            raw.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else if (name == "events" &&
            raw.schema.fields.exists(f => f.name == "ts" &&
              f.dataType == org.apache.spark.sql.types.TimestampNTZType))
          raw.withColumn("ts", col("ts").cast("timestamp"))
        else raw
      // Scan-parallelism fidelity for a single-file table: the test
      // parquet is one file with ONE row group per table, so the scan —
      // and every cached partition and narrow pipeline built on it — is
      // a single task no matter how many cores the session has, while
      // DuckDB parallelizes freely inside a row group on the same file.
      // On a cluster the file count provides this parallelism; locally
      // the sf1 trend profile measured the same probe at 83 s on the
      // 1-partition layout vs 12 s at 32 — a 7× handicap that is
      // storage-layout accident, not engine cost. The partition count
      // is DATA-PROPORTIONAL (file bytes / 512 KiB, capped at the
      // session's parallelism) — a flat core-count fan-out taxed every
      // small query with near-empty task scheduling (+29% on the sf0.1
      // suite) while tiny partitions buy nothing; this is
      // maxPartitionBytes logic applied at the only point a
      // single-row-group file can still be split (after the read).
      // Applied to the large tables only, before the cache, so the
      // one-time shuffle happens at warm time, not per query.
      //
      // Round 15: the repartition is a CRUTCH for unsplittable files
      // and is applied only there. A directory of part files, or a
      // single file with MULTIPLE row groups, is natively splittable —
      // Spark's own split sizing (maxSplitBytes = min(maxPartitionBytes,
      // max(openCostInBytes, totalBytes / defaultParallelism))) already
      // yields ~core-count scan tasks with zero shuffle, which is
      // exactly what a real multi-file 100 TB layout gives a cluster.
      // Forcing the round-robin Exchange on such files paid a full
      // write+read of the fact table per cold scan (the sf1 trend
      // replicas: 733 row groups in lineitem, yet every q47 probe
      // shuffled 6 M rows before touching the join).
      val f = new java.io.File(root)
      val n = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, f.length() >> 19)).toInt
      if (!largeTables(name) || !f.isFile || n <= 1) df
      else {
        // sizing only, so an I/O failure WARNs and falls back (the read
        // above already proved the table is parquet)
        val rowGroups =
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(f.toURI),
                spark.sessionState.newHadoopConf())
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try r.getRowGroups.size finally r.close()
          } catch { case e: java.io.IOException =>
            log.warn(s"cannot read the parquet footer of $f; " +
              "assuming one row group", e)
            1
          }
        if (rowGroups <= 1) df.repartition(n) else df
      }
    }
  }

  /** Register every table as a temp view so `spark.sql` queries (the
    * grouping-sets / correlated-subquery surface) resolve. Idempotent.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    tableNames.foreach { n =>
      table(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Persist the star schema into the session's catalog (Hive
    * metastore when the session is built via Engine.session): each
    * table is an EXTERNAL parquet table pointing at the existing
    * files — metadata-only registration, no data copy (the only
    * sane move at 100 TB). `events` additionally gets a persistent
    * view applying the nanos→µs timestamp normalization so SQL users
    * see the same µs semantics as Catalog.table. Idempotent. No
    * query calls it: it stays as the Hive catalog the north star
    * names (the queries read Catalog.table).
    */
  def createPersistentTables(spark: SparkSession, dir: String,
      database: String = "graft"): Unit = {
    // scans of the external events table go through the session
    // datasource path, so they need the same TIMESTAMP(NANOS) escape
    // hatch as `table` (legacy.parquet.nanosAsLong, set by Engine.session)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $database")
    tableNames.foreach { n =>
      val tbl = if (n == "events") "events_raw" else n
      // IF NOT EXISTS alone would silently keep a STALE location when
      // re-registering against a different data dir (external tables
      // are metadata-only, so drop+create is cheap and loses nothing)
      val existingLoc =
        if (spark.catalog.tableExists(s"$database.$tbl"))
          spark.sql(s"DESCRIBE FORMATTED $database.$tbl").collect()
            .find(_.getString(0).trim == "Location").map(_.getString(1))
        else None
      val wanted = s"$dir/$n.parquet"
      // compare normalized absolute paths, not suffixes — a location
      // that merely ENDS with the wanted path is a different dataset
      val wantedPath = new java.io.File(wanted).getAbsolutePath
      val samePath = existingLoc.exists { l =>
        try new java.net.URI(l).getPath == wantedPath
        catch { case _: Exception => false }
      }
      if (!samePath)
        spark.sql(s"DROP TABLE IF EXISTS $database.$tbl")
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $database.$tbl
           |USING parquet LOCATION '$wanted'""".stripMargin)
    }
    val tsType = spark.table(s"$database.events_raw").schema
      .fields.find(_.name == "ts").map(_.dataType)
    val tsExpr = tsType match {
      case Some(LongType) => "timestamp_micros(ts div 1000)"
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        "CAST(ts AS TIMESTAMP)"
      case _ => "ts"
    }
    val cols = spark.table(s"$database.events_raw").columns
      .map(c => if (c == "ts") s"$tsExpr AS ts" else c).mkString(", ")
    spark.sql(
      s"""CREATE OR REPLACE VIEW $database.events AS
         |SELECT $cols FROM $database.events_raw""".stripMargin)
  }

  /** Compute table + column statistics for every catalog table so the
    * cost-based optimizer (join reorder, broadcast decisions beyond
    * the size threshold) has real rowCounts/NDVs to plan with — on a
    * 1000-executor cluster CBO stats are the difference between a
    * bushy star-join plan and a left-deep disaster. Column stats go
    * on the declared join keys. Kept with [[createPersistentTables]]
    * as part of the Hive catalog the north star names.
    */
  def analyzeTables(spark: SparkSession,
      database: String = "graft"): Unit = {
    val keyCols = Map(
      "region" -> "r_regionkey", "nation" -> "n_nationkey, n_regionkey",
      "customer" -> "c_custkey, c_nationkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey, o_custkey",
      "lineitem" -> "l_orderkey, l_partkey", "events" -> "event_id, user_id",
      "documents" -> "doc_id", "embeddings" -> "vec_id")
    tableNames.foreach { n =>
      // stats land on the analyzable base table (events_raw carries
      // the event_id/user_id key columns; the view is not analyzable)
      val tbl = if (n == "events") "events_raw" else n
      spark.sql(s"ANALYZE TABLE $database.$tbl COMPUTE STATISTICS")
      keyCols.get(n).foreach { ks =>
        spark.sql(
          s"ANALYZE TABLE $database.$tbl COMPUTE STATISTICS FOR COLUMNS $ks")
      }
    }
  }
}
