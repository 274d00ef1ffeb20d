package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's user-facing entry point (SURVEY.md §7.1 `catalog/`):
  * builds a tuned SparkSession, registers the star-schema catalog, and
  * exposes the SQL surface — the Spark analog of the reference's
  * "master" process wiring (fixed registry → queries → sinks).
  *
  * Scale defaults baked in: AQE (runtime coalesce + skew-join
  * splitting), partition coalescing, UTC session time, shuffle
  * partitions sized to cores locally (set explicitly per-cluster in
  * production), and `file:` bound to the fork-free local filesystem
  * ([[fileSystemConfs]]). This is the only SparkSession builder in the
  * engine: callers such as `Bench.session` pass their overrides as `confs`,
  * applied after the defaults at build time (confs such as
  * `spark.scheduler.mode` only take effect when the SparkContext is
  * created).
  */
object Engine {

  /** Binds `file:` to [[NioLocalFileSystem]] (the `FileSystem` API) and
    * [[NioLocalFs]] (the `FileContext` API): Hadoop's local filesystem
    * without its per-file `chmod`/`readlink` forks (see LocalFs.scala).
    * The test session applies the same map.
    */
  val fileSystemConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[NioLocalFs].getName)

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      warehouseDir: Option[String] = None,
      hiveMetastore: Boolean = true,
      confs: Map[String, String] = Map.empty): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(master)
      .appName("hivehwspark")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
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
    confs.foreach { case (k, v) => b.config(k, v) }
    // Persistent catalog (north-star spark_approach: "Spark SQL + Hive
    // metastore"): table definitions land in the metastore and survive
    // restarts — CREATE TABLE / SHOW TABLES work across sessions. Falls
    // back to the in-memory catalog when spark-hive isn't on the
    // classpath (hive jars ship with the Spark distribution used here).
    if (hiveMetastore) {
      try b.enableHiveSupport()
      catch { case _: IllegalArgumentException => () }
    }
    // graft SQL functions + the custom top-k planner strategy bind at
    // session build (the same wiring spark.sql.extensions=
    // graft.plans.GraftExtensions gives a spark-submit user)
    b.withExtensions(new graft.plans.GraftExtensions)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every catalog table from an sf directory and return the
    * session, ready for `Engine.sql`.
    */
  def open(spark: SparkSession, dir: String): SparkSession = {
    Catalog.registerAll(spark, dir)
    spark
  }

  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

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

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    Catalog.table(spark, dir, name)

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
