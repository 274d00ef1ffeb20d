package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's user-facing entry point (SURVEY.md §7.1 `catalog/`):
  * builds the SparkSession — the Spark analog of the reference's
  * "master" process wiring (fixed registry → queries → sinks).
  *
  * Scale defaults baked in: AQE (runtime coalesce + skew-join
  * splitting), CBO with join reorder, UTC session time, shuffle
  * partitions equal to the master's parallelism, the Hive metastore,
  * the graft SQL extensions, and `file:` bound to the fork-free local
  * filesystem ([[fileSystemConfs]]). This is the only SparkSession
  * builder in the repository and it takes no overrides: hwbench, the
  * mains and the tests all build this session, so the oracle check
  * and the plan goldens cover the plans hwbench times. Per-run
  * locations (metastore URL, scratch dirs) come as `-D` system
  * properties, which SparkConf reads.
  */
object Engine {

  /** Binds `file:` to [[NioLocalFileSystem]] (the `FileSystem` API) and
    * [[NioLocalFs]] (the `FileContext` API): Hadoop's local filesystem
    * without its per-file `chmod`/`readlink` forks (see LocalFs.scala).
    */
  private val fileSystemConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName)

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("hivehwspark")
      .config("spark.sql.shuffle.partitions", parallelism(master).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // CBO reads the metastore stats written by Catalog.analyzeTables
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(fileSystemConfs)
    warehouseDir.foreach(w => b.config("spark.sql.warehouse.dir", w))
    // Persistent catalog (north-star spark_approach: "Spark SQL + Hive
    // metastore"): table definitions land in the metastore and survive
    // restarts — CREATE TABLE / SHOW TABLES work across sessions. Falls
    // back to the in-memory catalog when spark-hive isn't on the
    // classpath (hive jars ship with the Spark distribution used here).
    try b.enableHiveSupport()
    catch { case _: IllegalArgumentException => () }
    // graft SQL functions + the custom top-k planner strategy bind at
    // session build (the same wiring spark.sql.extensions=
    // graft.plans.GraftExtensions gives a spark-submit user)
    b.withExtensions(new graft.plans.GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `sparkContext.defaultParallelism` of a local master, worked out
    * before the context exists: as a builder setting the shuffle width
    * reaches the SparkConf and every `newSession()`, which a
    * `spark.conf.set` after the build would not. `local[n]`/`local[n,f]`
    * → n, `local[*]` → the JVM's processors, `local` → 1; a cluster
    * master learns its cores from executors at run time and gets the
    * driver's processor count.
    */
  private def parallelism(master: String): Int = {
    val local = """local\[(\*|\d+)(?:,\s*\d+)?\]""".r
    master match {
      case "local" => 1
      case local(n) if n != "*" => n.toInt
      case _ => Runtime.getRuntime.availableProcessors()
    }
  }

  /** A `spark.graft.*` byte budget: `default` when unset, and an
    * IllegalArgumentException naming the conf and its value when it
    * is not a positive long — a typo must not silently fall back.
    */
  private[graft] def positiveLongConf(spark: SparkSession, key: String,
      default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    raw.trim.toLongOption.filter(_ > 0).getOrElse(throw
      new IllegalArgumentException(
        s"$key must be a positive number of bytes, got '$raw'"))
  }

  /** Unpersist the RDDs under `df`'s checkpoint scans. `df.unpersist()`
    * only drops CacheManager entries, so an eager localCheckpoint's
    * blocks would otherwise wait for GC. Only for checkpoints nothing
    * reads any more: their blocks have no lineage to recompute from.
    * Spark logs one WARN per released checkpoint RDD ("... cannot be
    * recomputed after unpersisting"); that line is expected.
    */
  private[graft] def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(); ()
      case _ =>
    }
}
