package hwbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{Catalog, Engine}
import graft.queries.{PipelineQueries, QueryDef, Registry}

/** JVM side of the benchmark. It builds the session through
  * `Engine.session`, sets up the workload several times (the last set-up
  * stays for measurement), runs an untimed warm-up pass, then the timed
  * phase, and writes every raw record to `--out` as JSON. Statistics,
  * the oracle comparison and the final report are done by `run.py`.
  *
  * With `--trace 1` the timed phase runs twice: first as in an untraced
  * run, then with Spark listeners, spans and the storage sampler on;
  * the difference between the two is the tracing overhead.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, data: String, work: String, out: String,
      setups: Int, clients: Int, minPasses: Int, ingest: Ingest.Params)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    def g(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(g("workload"), g("seed").toLong, g("seconds").toDouble,
      g("trace") == "1", g("cores").toInt, g("data"), g("work"), g("out"),
      g("setups").toInt, g("clients").toInt, g("min-passes").toInt,
      Ingest.Params(m.getOrElse("frames", ""), m.getOrElse("devices", "0").toInt,
        m.getOrElse("warm-files", "0").toInt, m.getOrElse("backlog-files", "0").toInt,
        m.getOrElse("rate", "0").toDouble, m.getOrElse("max-files", "0").toInt,
        m.getOrElse("compact-every", "0").toInt))
  }

  /** Registered queries whose oracle SQL reads the documents table. */
  private val readsDocuments = "(?i)\\bdocuments\\b".r

  /** Queries left out of every workload because their result disagrees
    * with the oracle on some seeds (an engine defect, not a benchmark
    * one): `ns_robust_calib` sums doubles in partition order, so an
    * exact tie at the fourth decimal rounds differently from DuckDB.
    */
  val knownWrong: Set[String] = Set("ns_robust_calib")

  def workloadQueries(workload: String): Seq[QueryDef] = {
    val all = Registry.all.sortBy(_.name).filterNot(q => knownWrong(q.name))
    val docs = all.filter(_.oracle.exists(o => readsDocuments.findFirstIn(o).isDefined))
    workload match {
      case "sql_mix"      => all.filterNot(docs.contains)
      case "doc_curation" => docs
      case _              => Nil
    }
  }

  // ------------------------------------------------------------ set-up

  final case class Setup(spark: SparkSession, phases: Map[String, Double],
      cachedBytes: Long, artifactBytes: Long, ingest: Option[Ingest.Stream])

  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  private def setUp(o: Opts, spans: Spans, i: Int): Setup = {
    val key = s"${o.workload}/setup$i"
    spans.timed(0, "setup", "setup", key) { root =>
      val t0 = Clock.now
      val spark = spans.timed(root, "Engine.session", "engine", key) { _ =>
        Engine.session(master = s"local[${o.cores}]",
          warehouseDir = Some(s"${o.work}/warehouse"))
      }
      val t1 = Clock.now
      // the tables load and cache concurrently, one thread per core, as a
      // service warming its catalog at start would
      if (o.workload != "telemetry_ingest") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
        try Catalog.tableNames.map { t =>
          pool.submit(() => spans.timed(root, s"Catalog.table:$t", "catalog", key) { _ =>
            Catalog.table(spark, o.data, t).cache().count()
          })
        }.foreach(_.get())
        finally pool.shutdown()
      }
      val cached = storageBytes(spark)
      val t2 = Clock.now
      // artifacts are built once, in the set-up that stays: one build
      // costs more than the rest of the set-up several times
      if (o.workload == "doc_curation" && i == o.setups - 1)
        spans.timed(root, "PipelineQueries.warmShared", "artifacts", key) { _ =>
          PipelineQueries.warmShared(spark, o.data)
        }
      val t3 = Clock.now
      val stream =
        if (o.workload == "telemetry_ingest")
          Some(spans.timed(root, "TelemetryPipeline.start", "streaming", key) { _ =>
            Ingest.start(spark, o.ingest, s"${o.work}/stream$i", spans)
          })
        else None
      val t4 = Clock.now
      Setup(spark, Map("session_s" -> (t1 - t0), "catalog_s" -> (t2 - t1),
          "artifacts_s" -> (t3 - t2), "stream_s" -> (t4 - t3),
          "setup_s" -> (t4 - t0)),
        cached, storageBytes(spark) - cached, stream)
    }
  }

  private def tearDown(s: Setup): Unit = {
    s.ingest.foreach(_.stop())
    PipelineQueries.clearArtifacts(s.spark)
    s.spark.catalog.clearCache()
    s.spark.stop()
  }

  // ------------------------------------------------------ query clients

  /** Order-insensitive fingerprint of a result: row count plus the sum
    * of a 64-bit hash of each row's canonical text. Binary values are
    * hex-encoded and map entries sorted, so equal results always give
    * equal text.
    */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null                => "null"
      case b: Array[Byte]      => b.map(x => f"$x%02x").mkString("0x", "", "")
      case r: Row              => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted
          .mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case x                   => x.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val s = canon(r)
      val h = scala.util.hashing.MurmurHash3.stringHash(s).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)
      sum += h
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  final case class Op(key: String, query: String, t0: Double, t1: Double,
      buildS: Double, planS: Double, ok: Boolean, error: String)

  /** One query execution: build the plan, fetch the result to the
    * client, compare its fingerprint with the warm-up result.
    */
  private def runOne(spark: SparkSession, o: Opts, spans: Spans, q: QueryDef,
      key: String, expected: Map[String, String])
      : Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(key, key, interruptOnCancel = false)
    val t0 = Clock.now
    var t1, buildS, planS = 0.0
    var result: Either[String, String] = Left("not run")
    try {
      val rows = spans.timed(0, q.name, "query", key) { root =>
        val b0 = Clock.now
        val df: DataFrame = spans.timed(root, "QueryDef.build", "queries", key) { _ =>
          q.build(spark, o.data)
        }
        buildS = Clock.now - b0
        val rows = spans.timed(root, "collect", "exec", key) { _ => df.collect() }
        t1 = Clock.now
        val phases = df.queryExecution.tracker.phases
        phases.foreach { case (name, p) =>
          spans.add(root, s"phase:$name", "planner", key,
            Clock.ofEpochMs(p.startTimeMs), Clock.ofEpochMs(p.endTimeMs))
        }
        planS = phases.values.map(_.durationMs).sum / 1e3
        rows
      }
      result = Right(fingerprint(rows))
    } catch {
      case e: Exception => result = Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally sc.clearJobGroup()
    if (t1 == 0.0) t1 = Clock.now
    val (ok, err) = result match {
      case Right(fp) if expected.get(q.name).contains(fp) => (true, "")
      case Right(fp) => (false, s"fingerprint $fp != warm-up ${expected.getOrElse(q.name, "?")}")
      case Left(e)   => (false, e.take(300))
    }
    Op(key, q.name, t0, t1, buildS, planS, ok, err)
  }

  /** Untimed pass on `cores` threads: every query once, its result
    * written as one parquet file for the oracle comparison, and its
    * fingerprint kept as the expected value for the timed executions.
    * Returns (query, fingerprint, seconds to build and collect).
    */
  private def warmUp(spark: SparkSession, o: Opts, qs: Seq[QueryDef])
      : Seq[(String, String, Double)] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cores)
    try {
      qs.map { q =>
        pool.submit(() => {
          spark.sparkContext.setJobGroup(s"warmup/${q.name}", "warm-up")
          val t0 = Clock.now
          val df = q.build(spark, o.data)
          val rows = df.collect()
          val t1 = Clock.now
          spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
            .write.mode("overwrite").parquet(s"${o.work}/results/${q.name}")
          spark.sparkContext.clearJobGroup()
          (q.name, fingerprint(rows), t1 - t0)
        })
      }.map(_.get())
    } finally pool.shutdown()
  }

  /** Closed loop in whole passes: each pass runs every query once, in a
    * seeded order, taken from one shared queue by `clients` threads that
    * each start their next query when the previous one returns. Passes
    * repeat until `seconds` have passed and at least `minPasses` are done.
    * Returns the executions and each pass's wall time.
    */
  private def timedPhase(spark: SparkSession, o: Opts, spans: Spans,
      qs: Seq[QueryDef], expected: Map[String, String], phase: String)
      : (Seq[Op], Seq[Map[String, Any]]) = {
    val ops = Seq.newBuilder[Op]
    val passes = Seq.newBuilder[Map[String, Any]]
    val start = Clock.now
    var pass = 0
    while (Clock.now - start < o.seconds || pass < o.minPasses) {
      val queue = new ConcurrentLinkedQueue[QueryDef](
        new scala.util.Random(o.seed * 1000003L + pass).shuffle(qs).asJava)
      val done = new ConcurrentLinkedQueue[Op]()
      val p0 = Clock.now
      val threads = (0 until o.clients).map { c =>
        new Thread(() => {
          var q = queue.poll()
          while (q != null) {
            done.add(runOne(spark, o, spans, q,
              s"${o.workload}/$phase/p$pass/c$c/${q.name}", expected))
            q = queue.poll()
          }
        }, s"client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      ops ++= done.asScala
      passes += Map("pass" -> pass, "t0" -> p0, "t1" -> Clock.now)
      pass += 1
    }
    (ops.result(), passes.result())
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      Clock.now
    val spans = new Spans(false)
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "jvm_start_s" -> jvmStartS)

    // the last set-up stays; earlier ones are measured and torn down
    val setups = (0 until o.setups).map { i =>
      spans.on = o.trace && i == o.setups - 1
      val s = setUp(o, spans, i)
      if (i < o.setups - 1) tearDown(s)
      s
    }
    val s = setups.last
    val spark = s.spark
    spans.on = false
    record("setups") = setups.map(x => x.phases ++ Map(
      "catalog_cached_bytes" -> x.cachedBytes,
      "artifact_cached_bytes" -> x.artifactBytes))
    record("env") = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "storage_pool_bytes" -> spark.sparkContext.getExecutorMemoryStatus
        .values.map(_._1).sum,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "confs" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)

    val collector = new Collector
    var storage: Option[StoragePeak] = None
    def traceOn(): Unit = {
      spark.sparkContext.addSparkListener(collector)
      storage = Some(new StoragePeak(spark.sparkContext))
      spans.on = true
    }
    val modes = if (o.trace) Seq("untraced", "traced") else Seq("untraced")

    o.workload match {
      case "sql_mix" | "doc_curation" =>
        val qs = workloadQueries(o.workload)
        record("queries") = qs.map(_.name)
        record("left_out") = knownWrong.toSeq.sorted
        record("oracle_sql") = qs.flatMap(q => q.oracle.map(q.name -> _)).toMap
        val w0 = Clock.now
        val warm = warmUp(spark, o, qs)
        record("warmup_s") = Clock.now - w0
        // memo artifacts the warm-up built lazily stay cached beside the catalog
        record("warm_cached_bytes") = storageBytes(spark)
        record("warmup_query_s") = warm.map { case (q, _, t) => q -> t }.toMap
        val expected = warm.map { case (q, fp, _) => q -> fp }.toMap
        record("phases") = modes.map { mode =>
          if (mode == "traced") traceOn()
          val t0 = Clock.now
          val (ops, passes) = timedPhase(spark, o, spans, qs, expected, mode)
          Map("mode" -> mode, "t0" -> t0, "t1" -> Clock.now,
            "ops" -> ops.map(x => Map("key" -> x.key, "query" -> x.query,
              "t0" -> x.t0, "t1" -> x.t1, "build_s" -> x.buildS,
              "plan_s" -> x.planS, "ok" -> x.ok, "error" -> x.error)),
            "passes" -> passes)
        }
      case "telemetry_ingest" =>
        val st = s.ingest.get
        record("phases") = Ingest.measure(spark, st, spans, modes, () => traceOn())
        record("ingest_check") = Ingest.finish(spark, st)
      case w => sys.error(s"unknown workload $w")
    }

    if (o.trace) {
      collector.drain()
      record("storage_peak_bytes") = storage.map(_.stop()).getOrElse(0L)
      record("groups") = collector.groups.asScala.map { case (k, v) => k -> v.toMap }.toMap
      record("evicted_blocks") = collector.evictedBlocks.get()
      record("recached_blocks") = collector.recachedBlocks.get()
      record("spans") = spans.all.map(x => Map("id" -> x.id, "parent" -> x.parent,
        "name" -> x.name, "layer" -> x.layer, "key" -> x.key, "t0" -> x.t0,
        "t1" -> x.t1))
    }
    s.ingest.foreach(_.stop())
    spark.stop()
    Json.write(Paths.get(o.out), record.toMap)
  }
}

/** Minimal JSON writer for the record (maps, sequences, numbers, text). */
object Json {
  def render(v: Any): String = v match {
    case null                        => "null"
    case s: String                   => quote(s)
    case b: Boolean                  => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Number                   => n.toString
    case o: Option[_]                => o.map(render).getOrElse("null")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_]              => s.map(render).mkString("[", ",", "]")
    case a: Array[_]                 => render(a.toSeq)
    case x                           => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""

  def write(p: java.nio.file.Path, v: Any): Unit = {
    Files.createDirectories(p.toAbsolutePath.getParent)
    Files.writeString(p, render(v))
  }
}
