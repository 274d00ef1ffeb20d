package hwbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.operators.Snapshot
import graft.streaming.TelemetryPipeline

/** telemetry_ingest: the reference dataflow as two chained streaming
  * queries (Spark refuses a second watermark in one query, and both
  * `dedupRounds` and `hourlyRounds` define one):
  *
  *   dedup: text files → decode → D frames → dedupRounds → parquet (silver)
  *   rounds: silver → hourlyRounds → routedSink
  *           { Snapshot.append(data) | Snapshot.append(dlq) }
  *
  * with `Snapshot.compact` on the data table every `compactEvery`
  * batches of the second query. Frame files are written by the
  * benchmark's generator into a staging directory; a generator thread
  * moves them into the landing directory the first query watches.
  */
object Ingest {

  final case class Params(frames: String, devices: Int, warmFiles: Int,
      backlogFiles: Int, rate: Double, maxFiles: Int, compactEvery: Int)

  /** Seconds of one reading round: the dedup key is (device, round). */
  private val RoundSeconds = 900

  final case class Call(name: String, batch: Long, t0: Double, t1: Double,
      bytes: Long)

  final class Stream(val spark: SparkSession, val p: Params, dir: String,
      val dedup: StreamingQuery, val rounds: StreamingQuery,
      val progress: ConcurrentLinkedQueue[StreamingQueryProgress],
      val calls: ConcurrentLinkedQueue[Call], listener: StreamingQueryListener) {
    val landing: String = s"$dir/landing"
    val data: String = s"$dir/data"
    val dlq: String = s"$dir/dlq"
    val checkpoint: String = s"$dir/checkpoint"
    private var stopped = false

    /** Wait until both queries have processed everything available. */
    def drain(): Unit = {
      dedup.processAllAvailable()
      rounds.processAllAvailable()
    }

    def stop(): Unit = if (!stopped) {
      stopped = true
      dedup.stop()
      rounds.stop()
      spark.streams.removeListener(listener)
    }
  }

  private val outSchema = StructType(Seq(
    StructField("hour", TimestampType), StructField("device_code", StringType),
    StructField("avg_g", DoubleType), StructField("max_g", DoubleType),
    StructField("n_readings", LongType)))

  private def dirBytes(root: String, files: Seq[String]): Long =
    files.map(f => Files.size(Paths.get(s"$root/data/$f"))).sum

  def start(spark: SparkSession, p: Params, dir: String, spans: Spans): Stream = {
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    val empty = spark.createDataFrame(java.util.List.of[Row](), outSchema)
    Snapshot.writeReplace(spark, empty, s"$dir/data")
    Snapshot.writeReplace(spark, empty, s"$dir/dlq")

    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val calls = new ConcurrentLinkedQueue[Call]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress)
        ()
      }
    }
    spark.streams.addListener(listener)

    // each line is "<device epoch seconds>|<frame>"
    val frames = spark.readStream.format("text")
      .option("maxFilesPerTrigger", p.maxFiles.toString)
      .load(landing)
      .select(expr("substring(value, instr(value, '|') + 1)").as("frame"),
        timestamp_seconds(substring_index(col("value"), "|", 1).cast("long"))
          .as("device_ts"))
    val readings = TelemetryPipeline.decode(frames)
      .filter(col("tag") === "D")
      .withColumn("round_id", floor(unix_seconds(col("device_ts")) / RoundSeconds))
    val dedup = TelemetryPipeline.dedupRounds(readings)
      .select("device_ts", "device_code", "weight_g", "round_id")
      .writeStream.format("parquet")
      .queryName("dedup")
      .option("path", s"$dir/silver")
      .option("checkpointLocation", s"$dir/checkpoint/dedup")
      .start()
    val silverSchema = StructType(Seq(
      StructField("device_ts", TimestampType), StructField("device_code", StringType),
      StructField("weight_g", DoubleType), StructField("round_id", LongType)))
    val rounds = TelemetryPipeline.hourlyRounds(
      spark.readStream.schema(silverSchema).parquet(s"$dir/silver"))

    var batch = -1L
    var key = ""
    var parent = 0L
    def timedCall(name: String, layer: String, bytes: => Long)(body: => Unit): Unit = {
      val t0 = Clock.now
      spans.timed(parent, name, layer, key) { _ => body }
      calls.add(Call(name, batch, t0, Clock.now, bytes))
      ()
    }
    def append(root: String)(df: DataFrame): Unit =
      timedCall("Snapshot.append", "snapshot", 0L) {
        Snapshot.append(spark, df.select(col("window.start").as("hour"),
          col("device_code"), col("avg_g"), col("max_g"), col("n_readings")), root)
      }
    val sink = TelemetryPipeline.routedSink(rounds, p.devices,
      append(s"$dir/data"), append(s"$dir/dlq"), () => ())
    val onBatch: (DataFrame, Long) => Unit = (df, id) => {
      batch = id
      key = s"stream/${spark.sparkContext.getLocalProperty("sql.streaming.queryId")}/$id"
      spans.timed(0, "foreachBatch", "streaming", key) { root =>
        parent = root
        sink(df, id)
        if (p.compactEvery > 0 && (id + 1) % p.compactEvery == 0) {
          val before = Snapshot.latest(spark, s"$dir/data").map(_.files).getOrElse(Nil)
          timedCall("Snapshot.compact", "snapshot", dirBytes(s"$dir/data", before)) {
            Snapshot.compact(spark, s"$dir/data")
          }
        }
      }
      ()
    }
    val roundsQuery = rounds.writeStream
      .queryName("rounds")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/checkpoint/rounds")
      .foreachBatch(onBatch)
      .start()
    new Stream(spark, p, dir, dedup, roundsQuery, progress, calls, listener)
  }

  private def staged(p: Params): Seq[Path] =
    Files.list(Paths.get(p.frames)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private def land(st: Stream, f: Path): Unit = {
    Files.move(f, Paths.get(st.landing, f.getFileName.toString),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Block until the listener has seen both queries' latest progress. */
  private def awaitProgress(st: Stream): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def seen(q: StreamingQuery) = Option(q.lastProgress).forall(last =>
      st.progress.asScala.exists(pr => pr.id == last.id && pr.batchId >= last.batchId))
    while (!(seen(st.dedup) && seen(st.rounds)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
  }

  /** Warm-up, the drain phase of each mode, and the paced phase of the
    * last mode. Returns one record per phase.
    */
  def measure(spark: SparkSession, st: Stream, spans: Spans,
      modes: Seq[String], traceOn: () => Unit): Seq[Map[String, Any]] = {
    val p = st.p
    val files = staged(p)
    val warm = files.take(p.warmFiles)
    warm.foreach(land(st, _))
    st.drain()

    var rest = files.drop(p.warmFiles)
    val drains = modes.map { mode =>
      if (mode == "traced") traceOn()
      val backlog = rest.take(p.backlogFiles)
      rest = rest.drop(p.backlogFiles)
      val nFrames = backlog.map(f => Files.readAllLines(f).size).sum
      val t0 = Clock.now
      backlog.foreach(land(st, _))
      st.drain()
      val t1 = Clock.now
      Map("mode" -> mode, "kind" -> "drain", "t0" -> t0, "t1" -> t1,
        "files" -> backlog.size, "frames" -> nFrames)
    }

    // paced phase: an open loop at `rate` files per second; the reader
    // runs rollups over the data table until the generator is done
    val paced = rest.dropRight(1)
    val landed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var generating = true
    val start = Clock.now + 0.05
    val generator = new Thread(() => {
      paced.zipWithIndex.foreach { case (f, i) =>
        val due = start + i / p.rate
        val wait = due - Clock.now
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        land(st, f)
        landed.add(Map("file" -> f.getFileName.toString, "due" -> due,
          "landed" -> Clock.now))
      }
      generating = false
    }, "frame-generator")
    val reader = new Thread(() => {
      var i = 0
      while (generating) {
        val key = s"reader/$i"
        spark.sparkContext.setJobGroup(key, key)
        val t0 = Clock.now
        spans.timed(0, "rollup", "query", key) { root =>
          val df = spans.timed(root, "Snapshot.read", "snapshot", key) { _ =>
            Snapshot.read(spark, st.data)
          }
          spans.timed(root, "collect", "exec", key) { _ =>
            df.groupBy("device_code")
              .agg(count(lit(1)).as("hours"), avg("avg_g").as("avg_g"))
              .collect()
          }
        }
        reads.add(Map("t0" -> t0, "t1" -> Clock.now))
        spark.sparkContext.clearJobGroup()
        i += 1
        Thread.sleep(50)
      }
    }, "snapshot-reader")
    generator.start()
    reader.start()
    generator.join()
    reader.join()
    // the files still in flight are committed by `finish`, whose
    // sentinel lands after them
    val pacedEnd = Clock.now
    drains :+ Map("mode" -> modes.last, "kind" -> "paced", "t0" -> start,
      "t1" -> pacedEnd, "landed" -> landed.asScala.toSeq,
      "reads" -> reads.asScala.toSeq)
  }

  private val OffsetPat = """"logOffset"\s*:\s*(\d+)""".r
  private val EntryPat = """"path"\s*:\s*"([^"]+)".*?"batchId"\s*:\s*(\d+)""".r

  private def logOffset(json: String): Long =
    Option(json).flatMap(OffsetPat.findFirstMatchIn(_)).map(_.group(1).toLong)
      .getOrElse(-1L)

  private def name(uri: String): String =
    Paths.get(new java.net.URI(uri)).getFileName.toString

  private def listDir(p: Path): Seq[Path] =
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toSeq else Nil

  /** File name → metadata-log offset under which a file source listed it. */
  private def sourceLog(checkpoint: String): Map[String, Long] =
    listDir(Paths.get(checkpoint, "sources", "0"))
      .filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.flatMap(EntryPat.findFirstMatchIn(_))
        .map(m => name(m.group(1)) -> m.group(2).toLong)
    }.toMap

  private def batchRecord(pr: StreamingQueryProgress): Map[String, Any] = {
    val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(pr.timestamp).toEpochMilli
    val src = pr.sources.headOption
    Map("query" -> pr.name, "query_id" -> pr.id.toString, "batch" -> pr.batchId,
      "t0" -> Clock.ofEpochMs(startMs),
      "t1" -> Clock.ofEpochMs(startMs + d.getOrElse("triggerExecution", 0L)),
      "durations_ms" -> d, "input_rows" -> pr.numInputRows,
      "start_offset" -> src.map(s => logOffset(s.startOffset)).getOrElse(-1L),
      "end_offset" -> src.map(s => logOffset(s.endOffset)).getOrElse(-1L),
      "state_rows" -> pr.stateOperators.map(_.numRowsTotal).sum,
      "late_dropped_rows" -> pr.stateOperators.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Land the sentinel file, wait until every real hour is emitted, and
    * return the final tables plus the per-batch records and the source
    * log offset of each landed file (which batch read it).
    */
  def finish(spark: SparkSession, st: Stream): Map[String, Any] = {
    val sentinel = staged(st.p).last
    val sentinelTs = Files.readAllLines(sentinel).asScala.last.takeWhile(_ != '|').toLong
    land(st, sentinel)
    // the rounds batch that runs with the watermark past the sentinel's
    // minus the 60 s delay is the one that emits the last real hour
    val target = (sentinelTs - 60) * 1000
    val deadline = System.currentTimeMillis() + 60000
    def emitted = st.progress.asScala.exists(pr => pr.id == st.rounds.id &&
      Option(pr.eventTime.get("watermark"))
        .exists(w => java.time.Instant.parse(w).toEpochMilli >= target))
    while (!emitted && System.currentTimeMillis() < deadline) {
      st.drain()
      Thread.sleep(20)
    }
    awaitProgress(st)
    st.stop()

    def rows(root: String) = Snapshot.read(spark, root)
      .select(unix_seconds(col("hour")).as("hour"), col("device_code"),
        col("avg_g"), col("max_g"), col("n_readings"))
      .collect().toSeq
      .map(r => Seq(r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    Map("landing_offsets" -> sourceLog(s"${st.checkpoint}/dedup"),
      "batches" -> st.progress.asScala.toSeq.sortBy(pr => (pr.name, pr.batchId))
        .map(batchRecord),
      "calls" -> st.calls.asScala.toSeq.map(c => Map("name" -> c.name,
        "batch" -> c.batch, "t0" -> c.t0, "t1" -> c.t1, "bytes" -> c.bytes)),
      "live_files" -> Snapshot.latest(spark, st.data).map(_.files.size).getOrElse(0),
      "data" -> rows(st.data), "dlq" -> rows(st.dlq))
  }
}
