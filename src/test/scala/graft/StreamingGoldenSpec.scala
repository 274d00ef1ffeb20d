package graft

import java.sql.Timestamp

import graft.streaming.TelemetryPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** t3 streaming goldens (SURVEY.md §5.2): the semantics no batch
  * oracle can check, driven through MemoryStream — watermark-bounded
  * dedup (T3), session gap close (T6), DLQ split + one-shot setup
  * notification (T2/T8), two-phase confirm pairing (J3).
  */
class StreamingGoldenSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  case class Reading(device_code: String, round_id: Long,
      device_ts: Timestamp, weight_g: Double)

  test("T3: dropDuplicatesWithinWatermark keeps one per (device, round) under retry replay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = TelemetryPipeline.dedupRounds(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // the master retry trace (master/master.ino:158-168): same round
      // delivered 1-3×
      input.addData(
        Reading("H0001", 1, ts("2024-01-01 00:00:01"), 32100),
        Reading("H0001", 1, ts("2024-01-01 00:00:02"), 32100),
        Reading("H0002", 1, ts("2024-01-01 00:00:03"), 28450),
        Reading("H0001", 1, ts("2024-01-01 00:00:04"), 32100))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("device_code", "round_id").as[(String, Long)]
        .collect().sorted
      assert(rows.toSeq == Seq(("H0001", 1L), ("H0002", 1L)))
    } finally q.stop()
  }

  test("T6: session window closes on 60 s gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val cmds = input.toDF().toDF("device_code", "device_ts")
    val q = TelemetryPipeline.sessions(cmds)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        ("H0001", ts("2024-01-01 00:00:00")),
        ("H0001", ts("2024-01-01 00:00:30")), // same session (gap 30s)
        ("H0001", ts("2024-01-01 00:02:00"))) // new session (gap 90s)
      // advance watermark far enough to close both sessions
      input.addData(("H0002", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val n = spark.table("sess_out")
        .filter($"device_code" === "H0001").count()
      assert(n == 2, "expected 2 closed sessions for H0001")
    } finally q.stop()
  }

  test("T2/T8: routedSink splits partial rounds to DLQ and fires setup once") {
    var setupCount = 0
    var dataRows = Seq.empty[(String, String)]
    var dlqRows = Seq.empty[(String, String)]
    val sink = TelemetryPipeline.routedSink(
      rounds = null, expectedDevices = 2,
      writeData = b => dataRows ++= b.select($"window.start".cast("string"),
        $"device_code").as[(String, String)].collect(),
      writeDlq = b => dlqRows ++= b.select($"window.start".cast("string"),
        $"device_code").as[(String, String)].collect(),
      writeSetup = () => setupCount += 1)

    def batch(rows: (String, String)*): DataFrame =
      rows.toDF("wstart", "device_code")
        .select(struct(
          $"wstart".cast("timestamp").as("start"),
          ($"wstart".cast("timestamp") + expr("INTERVAL 1 HOUR")).as("end"))
          .as("window"), $"device_code")

    // batch 0: complete round (both registry devices) → data sink + setup
    sink(batch(("2024-01-01 00:00:00", "H0001"),
      ("2024-01-01 00:00:00", "H0002")), 0L)
    // batch 1: partial round (one device missing) → DLQ, no second setup
    sink(batch(("2024-01-01 01:00:00", "H0001")), 1L)

    assert(setupCount == 1, "setup notification must fire exactly once")
    assert(dataRows.map(_._2).sorted == Seq("H0001", "H0002"))
    assert(dlqRows.map(_._2) == Seq("H0001"))
    assert(dlqRows.head._1.startsWith("2024-01-01 01:00:00"))
  }

  test("T2/T8: routedSink evaluates the batch once for both sinks") {
    // Count row-level passes over the input with an accumulator-bumping
    // map, as the lateSplit test below does: the complete-window flag
    // and both sides come from one persisted pass, so n rows are read
    // once; evaluating the batch once per sink and per join side would
    // read them 4 times.
    val passes = spark.sparkContext.longAccumulator("routedSink_passes")
    val n = 64L
    val batch = spark.range(n).map { i =>
      passes.add(1L)
      // hours 0-2 see all 3 devices; hour 3 sees only H0000
      val hour = i % 4
      ("H%04d".format(if (hour == 3) 0 else i % 3), hour)
    }.toDF("device_code", "hour")
      .select(struct(
        timestamp_seconds($"hour" * 3600).as("start"),
        timestamp_seconds($"hour" * 3600 + 3600).as("end")).as("window"),
        $"device_code")
    var dataRows = 0L
    var dlqRows = 0L
    var dataSide: DataFrame = null
    val sink = TelemetryPipeline.routedSink(
      rounds = null, expectedDevices = 3,
      writeData = b => { dataSide = b; dataRows += b.count() },
      writeDlq = b => dlqRows += b.count(),
      writeSetup = () => ())
    sink(batch, 1L)
    assert(dataRows == 48 && dlqRows == 16)
    // slack below one full pass: accumulator updates in transformations
    // are not exactly-once under task retries
    assert(passes.value >= n && passes.value < 2 * n,
      s"expected 1 pass over $n rows, got ${passes.value / n.toDouble}")
    // and the flagged batch is no longer cached
    assert(!dataSide.filter(lit(true)).queryExecution.withCachedData.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
  }

  test("T3/T7: RocksDB state store keeps dedup state watermark-bounded across replays") {
    // the 100 TB streaming-state design point (SURVEY.md §7.3): state
    // must not grow with stream length, only with keys inside the
    // watermark; RocksDB is the production provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Reading]
      val q = TelemetryPipeline.dedupRounds(input.toDF())
        .writeStream.format("memory").queryName("rocks_dedup_out")
        .outputMode("append").start()
      try {
        // 6 rounds, each 10 min apart, each delivered twice (retry)
        (0 until 6).foreach { r =>
          val ts0 = java.sql.Timestamp.valueOf(f"2024-01-01 00:${r * 10}%02d:00")
          input.addData(
            Reading("H0001", r, ts0, 32100 + r),
            Reading("H0001", r, ts0, 32100 + r),
            Reading("H0002", r, ts0, 28450 + r))
          q.processAllAvailable()
        }
        assert(spark.table("rocks_dedup_out").count() == 12,
          "one row per (device, round)")
        val lastState = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        // 12 distinct (device, round) keys seen; watermark (60 s behind
        // max event time) must have evicted all but the recent rounds
        assert(lastState <= 6,
          s"state must stay watermark-bounded, got $lastState rows")
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set(
          "spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset(
          "spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T2: lateSplit diverts rows past the 60 s budget to the DLQ side") {
    val batch = Seq(
      ("H0001", "2024-01-01 00:10:00"), // 0 s behind max → on time
      ("H0002", "2024-01-01 00:09:30"), // 30 s behind → on time
      ("H0003", "2024-01-01 00:08:00")) // 120 s behind → late
      .toDF("device_code", "ts")
      .select($"device_code", $"ts".cast("timestamp").as("device_ts"))
    val split = TelemetryPipeline.lateSplitFrames(batch, "device_ts", 60)
    try {
      assert(split.onTime.select("device_code").as[String].collect()
        .sorted.toSeq == Seq("H0001", "H0002"))
      assert(split.late.select("device_code").as[String].collect().toSeq ==
        Seq("H0003"))
    } finally split.release()
    // empty batch: both sides empty, no NPE
    val empty = batch.limit(0)
    val s2 = TelemetryPipeline.lateSplitFrames(empty, "device_ts", 60)
    try assert(s2.onTime.count() == 0 && s2.late.count() == 0)
    finally s2.release()
  }

  test("T2: lateSplit computes the cutoff once when BOTH sinks materialize") {
    // Count row-level passes over the input with an accumulator-bumping
    // map: the persisted 1-row cut frame must make the max-timestamp
    // scan run ONCE (cached), then once per side's filter — 3 passes
    // total. An unshared cutoff would re-scan per side (4 passes) and,
    // worse, could compute DIFFERENT cutoffs on a non-deterministic
    // input, landing rows in both or neither split.
    val passes = spark.sparkContext.longAccumulator("lateSplit_passes")
    val n = 64L
    val base = ts("2024-01-01 00:00:01").getTime / 1000
    val batch = spark.range(n).map { i =>
      passes.add(1L)
      ("H%04d".format(i % 7), base + i)
    }.toDF("device_code", "epoch")
      .select($"device_code", $"epoch".cast("timestamp").as("device_ts"))
    TelemetryPipeline.lateSplit(batch, "device_ts", 10,
      on => on.write.format("noop").mode("overwrite").save(),
      lt => lt.write.format("noop").mode("overwrite").save())
    // accumulator updates in transformations are not exactly-once: a
    // task retry or speculative copy adds a partial extra pass. Assert
    // the SHARING property (an unshared cutoff costs a 4th full pass)
    // with slack below one full pass instead of exact equality.
    assert(passes.value >= 3 * n && passes.value < 4 * n,
      s"expected ~3 passes over $n rows (cut once + one filter per side), " +
        s"got ${passes.value / n.toDouble} passes")
    // and both sides split against the SAME cutoff: exact partition
    val split = TelemetryPipeline.lateSplitFrames(batch, "device_ts", 10)
    try assert(split.onTime.count() + split.late.count() == n)
    finally split.release()
  }

  test("T2: lateSplit rejects reserved __graft_ columns") {
    val bad = Seq(("H0001", ts("2024-01-01 00:00:01"), 1))
      .toDF("device_code", "device_ts", "__graft_cut")
    intercept[IllegalArgumentException] {
      TelemetryPipeline.lateSplitFrames(bad, "device_ts", 60)
    }
  }

  test("e2e: frames → decode → hourly rounds → routed sink (the whole reference dataflow)") {
    // One live stream exercising the full composition the reference
    // firmware implements across master+gateway: tagged-frame ingest,
    // JSON decode, hourly windowed rounds, and the complete/partial
    // routing with one-shot setup notification.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val frames = input.toDF().toDF("frame", "device_ts")
    val rounds = TelemetryPipeline.hourlyRounds(
      TelemetryPipeline.decode(frames)
        .select($"device_code", $"device_ts", $"weight_g"))
    var setupCount = 0
    val dataRows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val dlqRows = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val sink = TelemetryPipeline.routedSink(
      rounds = null, expectedDevices = 2,
      writeData = b => dataRows ++= b.select($"device_code", $"n_readings")
        .as[(String, Long)].collect(),
      writeDlq = b => dlqRows ++= b.select($"device_code", $"n_readings")
        .as[(String, Long)].collect(),
      writeSetup = () => setupCount += 1)
    val q = rounds.writeStream.outputMode("append")
      .foreachBatch(sink).start()
    try {
      input.addData(
        // hour 0: both registry devices report → complete round
        ("""D{"H0001":{"w":32100}}""", ts("2024-01-01 00:10:00")),
        ("""D{"H0001":{"w":32300}}""", ts("2024-01-01 00:40:00")),
        ("""D{"H0002":{"w":28450}}""", ts("2024-01-01 00:20:00")),
        // hour 1: only H0001 reports → partial round → DLQ
        ("""D{"H0001":{"w":32350}}""", ts("2024-01-01 01:30:00")))
      q.processAllAvailable()
      // watermark pusher closes hours 0 and 1
      input.addData(("""D{"H0009":{"w":1}}""", ts("2024-01-01 03:00:00")))
      q.processAllAvailable()
      assert(setupCount == 1, "one-shot setup on batch 0")
      assert(dataRows.sorted.toSeq == Seq(("H0001", 2L), ("H0002", 1L)),
        s"complete hour-0 round to data sink: $dataRows")
      assert(dlqRows.toSeq == Seq(("H0001", 1L)),
        s"partial hour-1 round to DLQ: $dlqRows")
    } finally q.stop()
  }

  test("J3 declarative: stream-stream interval join accepts values only inside the confirm window") {
    implicit val sqlCtx = spark.sqlContext
    val confirms = MemoryStream[(String, Timestamp)]
    val values = MemoryStream[(String, Timestamp, Double)]
    val out = TelemetryPipeline.confirmValueJoin(
      confirms.toDF().toDF("device_code", "ts"),
      values.toDF().toDF("device_code", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      confirms.addData(
        ("H0001", ts("2024-01-01 00:00:00")),
        ("H0001", ts("2024-01-01 00:00:05"))) // retried confirm (T4 norm)
      values.addData(
        ("H0001", ts("2024-01-01 00:00:30"), 32.1), // inside 60 s window
        ("H0001", ts("2024-01-01 00:02:00"), 47.7), // outside window
        ("H0002", ts("2024-01-01 00:00:10"), 99.9)) // never confirmed
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("device_code", "value").as[(String, Double)].collect()
      assert(rows.toSeq == Seq(("H0001", 32.1)))
    } finally q.stop()
  }

  test("J3: two-phase confirm pairing accepts only confirmed values") {
    // the master/slave handshake: a slave's value is accepted only after
    // its confirmation; a device that never confirmed is rejected
    implicit val sqlCtx = spark.sqlContext
    val confirms = MemoryStream[(String, Timestamp)]
    val values = MemoryStream[(String, Timestamp, Double)]
    val out = TelemetryPipeline.confirmValueJoin(
      confirms.toDF().toDF("device_code", "ts"),
      values.toDF().toDF("device_code", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("proto_out")
      .outputMode("append").start()
    try {
      confirms.addData(("H0001", ts("2024-01-01 00:00:01")))
      values.addData(
        ("H0001", ts("2024-01-01 00:00:02"), 32.1),
        // H0002 sends a value with no confirmation → rejected
        ("H0002", ts("2024-01-01 00:00:01"), 99.9))
      q.processAllAvailable()
      val rows = spark.table("proto_out")
        .select("device_code", "value").as[(String, Double)].collect()
      assert(rows.toSeq == Seq(("H0001", 32.1)))
    } finally q.stop()
  }

  test("J3 declarative with roundCol: close rounds both match, values accepted once") {
    // ADVICE r2: device-only dedup collapses two legitimate confirms
    // from rounds < windowSeconds apart. With the round id in the
    // dedup key both rounds survive — and a value whose window
    // overlaps BOTH rounds' confirms must still be accepted once.
    implicit val sqlCtx = spark.sqlContext
    val confirms = MemoryStream[(String, Timestamp, Long)]
    val values = MemoryStream[(String, Timestamp, Double)]
    val out = TelemetryPipeline.confirmValueJoin(
      confirms.toDF().toDF("device_code", "ts", "round_id"),
      values.toDF().toDF("device_code", "ts", "value"),
      roundCol = Some("round_id"))
    val q = out.writeStream.format("memory").queryName("ssj_round_out")
      .outputMode("append").start()
    try {
      confirms.addData(
        ("H0001", ts("2024-01-01 00:00:00"), 1L),
        ("H0001", ts("2024-01-01 00:00:00"), 1L), // retried confirm
        ("H0001", ts("2024-01-01 00:00:30"), 2L)) // next round, 30 s later
      values.addData(
        ("H0001", ts("2024-01-01 00:00:40"), 32.1), // in BOTH windows
        ("H0001", ts("2024-01-01 00:01:20"), 47.7)) // round-2 window only
      q.processAllAvailable()
      // advance watermark so the dedup state closes
      confirms.addData(("H0009", ts("2024-01-01 01:00:00"), 9L))
      values.addData(("H0009", ts("2024-01-01 01:00:01"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ssj_round_out")
        .filter($"device_code" === "H0001")
        .select("value").as[Double].collect().sorted
      // the device-only dedup would have dropped round 2's confirm and
      // missed 47.7; naive per-round join would emit 32.1 twice
      assert(rows.toSeq == Seq(32.1, 47.7), rows.mkString(","))
    } finally q.stop()
  }

  test("A5 streaming: approx distinct devices per window under watermark") {
    // the sketch-in-streaming marriage: approx_count_distinct inside
    // a watermarked window aggregate — at 100 TB the per-window
    // distinct-device count runs on HLL state, not a distinct set
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = input.toDF()
      .withWatermark("device_ts", "60 seconds")
      .groupBy(window($"device_ts", "1 hour"))
      .agg(approx_count_distinct("device_code").as("n_dev"))
      .select($"window.start".cast("long").as("ws"), $"n_dev")
      .writeStream.format("memory").queryName("approx_out")
      .outputMode("append").start()
    try {
      input.addData(
        Reading("H0001", 1, ts("2024-01-01 00:10:00"), 1.0),
        Reading("H0001", 1, ts("2024-01-01 00:20:00"), 2.0), // same device
        Reading("H0002", 1, ts("2024-01-01 00:30:00"), 3.0),
        Reading("H0003", 1, ts("2024-01-01 00:40:00"), 4.0))
      q.processAllAvailable()
      input.addData(Reading("H0009", 9, ts("2024-01-01 03:00:00"), 0.0))
      q.processAllAvailable()
      val counts = spark.table("approx_out").as[(Long, Long)]
        .collect().toMap
      // 3 distinct devices in hour 0 (HLL is exact at this cardinality)
      assert(counts(Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000)
        == 3L, counts.toString)
    } finally q.stop()
  }

  test("T6 dynamic gap: setup-phase sessions tolerate longer silence than steady-state") {
    // same 120 s silence, two outcomes: the setup phase (180 s gap)
    // bridges it into ONE session; steady-state (60 s gap) splits in
    // two — the per-row gap expression is the point
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, String)]
    val q = TelemetryPipeline.sessionsDynamicGap(
        input.toDF().toDF("device_code", "device_ts", "phase"))
      .select("device_code", "n_cmds")
      .writeStream.format("memory").queryName("dyn_gap_out")
      .outputMode("append").start()
    try {
      input.addData(
        ("H0001", ts("2024-01-01 00:00:00"), "setup"),
        ("H0001", ts("2024-01-01 00:02:00"), "setup"),  // 120 s later
        ("H0002", ts("2024-01-01 00:00:00"), "steady"),
        ("H0002", ts("2024-01-01 00:02:00"), "steady")) // 120 s later
      q.processAllAvailable()
      // push event time past every gap + watermark to close sessions
      input.addData(("H0009", ts("2024-01-01 02:00:00"), "steady"))
      q.processAllAvailable()
      val sessions = spark.table("dyn_gap_out")
        .as[(String, Long)].collect().groupBy(_._1)
      assert(sessions("H0001").map(_._2).toSeq == Seq(2L),
        s"setup phase bridges the silence: ${sessions("H0001").toSeq}")
      assert(sessions("H0002").map(_._2).sorted.toSeq == Seq(1L, 1L),
        s"steady phase splits: ${sessions("H0002").toSeq}")
    } finally q.stop()
  }

  test("T2 metric: rows behind the watermark are dropped AND counted") {
    // operational truth for late data: the engine doesn't just drop
    // late rows silently — numRowsDroppedByWatermark in the progress
    // metrics is the signal an operator alarms on at 100 TB
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = TelemetryPipeline.hourlyRounds(input.toDF())
      .writeStream.format("memory").queryName("wm_metric_out")
      .outputMode("append").start()
    try {
      input.addData(Reading("H0001", 1, ts("2024-01-01 00:10:00"), 100.0))
      q.processAllAvailable()
      // advance event time far past the watermark...
      input.addData(Reading("H0001", 2, ts("2024-01-01 03:00:00"), 200.0))
      q.processAllAvailable()
      // ...then a row from the long-closed hour 0: dropped + counted
      input.addData(Reading("H0001", 3, ts("2024-01-01 00:20:00"), 300.0))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(p => Option(p.stateOperators).toSeq.flatten)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"expected a counted watermark drop, got $dropped")
    } finally q.stop()
  }

  test("maxFilesPerTrigger throttles a backlog into bounded micro-batches") {
    // ingestion rate control: a 100 TB backfill must not land in the
    // first micro-batch — the file source option bounds batch size so
    // state stores and sinks see a steady stream
    val base = java.nio.file.Files.createTempDirectory("graft_throttle").toString
    val inDir = s"$base/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$inDir/f$i.txt"), s"row$i")
    }
    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("text")
      .option("maxFilesPerTrigger", "1").load(inDir)
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) => {
        batchSizes.synchronized { batchSizes += df.count() }
        ()
      })
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batchSizes.forall(_ == 1L) && batchSizes.sum == 3,
      s"3 files at 1 file/trigger must be 3 unit batches: $batchSizes")
  }

  test("checkpoint restart: dedup state survives a query stop/start cycle") {
    // durable-state guarantee: a NEW query object resuming from the
    // same checkpoint must still see round 1 as already-delivered —
    // this is what lets a 100 TB pipeline upgrade/restart without
    // re-emitting history
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out").toString
    val input = MemoryStream[Reading]
    // file sink: the memory sink rejects checkpoint recovery
    def start() = TelemetryPipeline.dedupRounds(input.toDF())
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      input.addData(Reading("H0001", 1, ts("2024-01-01 00:00:01"), 32100))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start() // resume from checkpoint with fresh query state
    try {
      // the master retries round 1 after the restart
      input.addData(Reading("H0001", 1, ts("2024-01-01 00:00:02"), 32100),
        Reading("H0001", 2, ts("2024-01-01 00:00:03"), 32200))
      q2.processAllAvailable()
      val rounds = spark.read.parquet(outDir)
        .select("round_id").as[Long].collect().sorted
      assert(rounds.toSeq == Seq(1L, 2L),
        s"round 1 must not re-emit after restart: ${rounds.toSeq}")
    } finally q2.stop()
  }

  test("stream-static join: live readings enrich against the calibration dim") {
    // the stream-static shape (per-micro-batch broadcast of a catalog
    // dim) — how a 100 TB pipeline applies per-sensor calibration to
    // live telemetry without any stateful join
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("H0001", 2.0, 100.0), ("H0002", 4.0, 50.0))
      .toDF("device_code", "factor", "zero")
    val input = MemoryStream[(String, Double)]
    val out = input.toDF().toDF("device_code", "raw")
      .join(dim, Seq("device_code")) // static side: re-read per batch
      .select($"device_code", (($"raw" - $"zero") / $"factor").as("g"))
    val q = out.writeStream.format("memory").queryName("ssx_out")
      .outputMode("append").start()
    try {
      input.addData(("H0001", 500.0), ("H0002", 250.0), ("H9999", 1.0))
      q.processAllAvailable()
      val rows = spark.table("ssx_out").as[(String, Double)]
        .collect().sortBy(_._1)
      // unknown device drops out (inner join against the registry dim)
      assert(rows.toSeq == Seq(("H0001", 200.0), ("H0002", 50.0)))
    } finally q.stop()
  }

  test("T1: hourly rounds aggregate per device per window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Reading]
    val q = TelemetryPipeline.hourlyRounds(
      input.toDF().withColumnRenamed("round_id", "rid"))
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("append").start()
    try {
      input.addData(
        Reading("H0001", 1, ts("2024-01-01 00:10:00"), 32100),
        Reading("H0001", 1, ts("2024-01-01 00:20:00"), 32300))
      // watermark push to close the 00:00 window
      input.addData(Reading("H0002", 2, ts("2024-01-01 02:00:00"), 1))
      q.processAllAvailable()
      val row = spark.table("hourly_out")
        .filter($"device_code" === "H0001")
        .select($"avg_g", $"n_readings").as[(Double, Long)].collect()
      assert(row.toSeq == Seq((32200.0, 2L)))
    } finally q.stop()
  }
}
