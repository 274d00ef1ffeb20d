package graft.streaming

import graft.operators.Telemetry
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming pipelines mirroring the reference's dataflow
  * (SURVEY.md §3.1-§3.2, §2.9 T1-T9):
  *
  *   readStream → frame decode → calibrate → watermark(60 s) →
  *   1 h tumbling window agg → foreachBatch { data sink | DLQ }
  *
  * The telemetry_ingest benchmark runs `decode`, `dedupRounds`,
  * `hourlyRounds` and `routedSink`. The other functions are on no
  * query or benchmark path; each stays because it reproduces one
  * reference semantic (the T/W/J row and `file:line` in its scaladoc),
  * checked by StreamingGoldenSpec, DeliverySemanticsSpec or
  * ExtensionsSpec.
  *
  * Streaming state is always watermark-bounded (the firmware's
  * slaveReadings[] scaled safely — unbounded keyed state is the 100 TB
  * failure mode, SURVEY.md §7.3).
  */
object TelemetryPipeline {

  /** Raw frame stream → typed readings. Input schema:
    * (frame string, device_ts timestamp). Mirrors gateway ingest
    * (gateway/gateway.ino:51-88): tag route + JSON decode + explode,
    * then 0→null at the ingest boundary.
    */
  def decode(frames: DataFrame): DataFrame = {
    val tagged = frames
      .withColumn("tag", Telemetry.frameTag(col("frame")))
      .withColumn("endpoint", Telemetry.routeFor(col("tag")))
      .withColumn("doc",
        Telemetry.parseDocAny(Telemetry.framePayload(col("frame"))))
    Telemetry.explodeDoc(tagged, "doc")
      .select(col("tag"), col("endpoint"), col("device_ts"),
        col("device_code"),
        Telemetry.nullifZero(col("metrics.w").cast("double")).as("weight_g"),
        col("metrics.t").as("temp_c"),
        col("metrics.p").as("ready_flag"),
        col("metrics.s").as("sleep_flag"))
  }

  /** Hourly boundary-aligned tumbling aggregate with the 60 s round
    * budget as watermark (master/master.ino:27,33,130-145,670-698):
    * per (device, hour window) mean/last weights. Late rows beyond the
    * watermark are dropped by the engine; the DLQ variant below
    * captures them instead.
    */
  def hourlyRounds(readings: DataFrame): DataFrame =
    readings
      .withWatermark("device_ts", "60 seconds")
      .groupBy(window(col("device_ts"), "1 hour"), col("device_code"))
      .agg(
        avg("weight_g").as("avg_g"),
        max("weight_g").as("max_g"),
        count(lit(1)).as("n_readings"))

  /** Effectively-once per (device, round): the retry/dedup semantics of
    * master/master.ino:158-168,218-220 — retries may redeliver, only
    * the first accepted value per key survives, state bounded by the
    * watermark.
    */
  def dedupRounds(readings: DataFrame): DataFrame =
    readings
      .withWatermark("device_ts", "60 seconds")
      .dropDuplicatesWithinWatermark("device_code", "round_id")

  /** T6: awake-session windows with the 60 s hard gap timeout
    * (slave/slave.ino:111-124). Kept for T6.
    */
  def sessions(commands: DataFrame): DataFrame =
    commands
      .withWatermark("device_ts", "60 seconds")
      .groupBy(session_window(col("device_ts"), "60 seconds"),
        col("device_code"))
      .agg(count(lit(1)).as("n_cmds"))

  /** T6 with a DYNAMIC per-row gap: setup-phase rows (the slow LoRa
    * radio setup, master_lora/master_lora.ino:124-142) tolerate a
    * longer silence than steady-state rounds (slave/slave.ino:111-124)
    * — the gap is an expression of the row, not a constant. Same
    * engine-managed session state, watermark-bounded. Kept for T6's
    * setup phase.
    */
  def sessionsDynamicGap(commands: DataFrame,
      steadyGap: String = "60 seconds",
      setupGap: String = "180 seconds"): DataFrame =
    commands
      .withWatermark("device_ts", "180 seconds")
      .groupBy(session_window(col("device_ts"),
        when(col("phase") === "setup", setupGap).otherwise(steadyGap)),
        col("device_code"))
      .agg(count(lit(1)).as("n_cmds"))

  /** foreachBatch router: complete rounds → data sink; partial rounds
    * (any device missing in the window) → error-report DLQ
    * (master/master.ino:137-145,552-599). `expectedDevices` plays the
    * registry role (master/master.ino:23-26). One-shot setup
    * notification on batchId == 0 (master/master.ino:84-93, T8).
    *
    * Each row is flagged complete by a window aggregate over its
    * `window` (`collect_set` skips null devices, as a distinct count
    * does; a row without a window goes to the DLQ), and
    * the flagged batch is persisted so both sinks read it once: the
    * batch's upstream stateful aggregate runs one time, not once per
    * sink. The cache entry is released even when a sink throws.
    */
  def routedSink(
      rounds: DataFrame,
      expectedDevices: Int,
      writeData: DataFrame => Unit,
      writeDlq: DataFrame => Unit,
      writeSetup: () => Unit): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) =>
      if (batchId == 0L) writeSetup()
      require(!batch.columns.exists(_.startsWith("__graft_")),
        "column names with the __graft_ prefix are reserved")
      val nDev = size(collect_set(col("device_code"))
        .over(Window.partitionBy(col("window"))))
      val flag = "__graft_complete"
      val flagged = batch
        .withColumn(flag, col("window").isNotNull && nDev >= expectedDevices)
        .persist()
      try {
        writeData(flagged.filter(col(flag)).drop(flag))
        writeDlq(flagged.filter(!col(flag)).drop(flag))
      } finally { flagged.unpersist(blocking = false); () }
  }

  /** The two sides of a [[lateSplitFrames]] plus the shared persisted
    * 1-row cutoff frame. The caller MUST call [[release]] after
    * materializing both sides: `persist()` registers the cut plan in
    * the session CacheManager, which holds a strong reference, so the
    * entry is NOT reclaimed by GC/ContextCleaner — without an explicit
    * unpersist a long-lived streaming query would leak one cache entry
    * per micro-batch. [[lateSplit]] (the foreachBatch form) does this
    * bookkeeping for you.
    */
  final case class LateSplit(onTime: DataFrame, late: DataFrame,
      cutoff: DataFrame) {
    def release(): Unit = cutoff.unpersist(blocking = false)
  }

  /** T2: the 60 s round-budget late-data split
    * (master/master.ino:33,130-145): rows older than `cutoff` relative
    * to the batch's max event time go to the error-report DLQ instead
    * of being silently dropped (what a bare watermark would do).
    *
    * The cutoff is a LAZY broadcast 1-row aggregate joined onto the
    * batch — no per-batch driver action: the max-timestamp scan runs
    * inside the first sink's write job, not as its own job ahead of
    * it. The 1-row cut frame is `persist()`ed, so when BOTH returned
    * frames are materialized the scan runs ONCE and the two sides see
    * the SAME cutoff even on a non-deterministic input (the cache, not
    * batch pinning, is what makes the split consistent). A null cutoff
    * (empty batch, or all-null timestamps) routes every row on-time
    * and nothing late, matching the eager form's behavior.
    *
    * The returned [[LateSplit]] owns the cache entry — call
    * `release()` once both sides are written (see [[LateSplit]] for
    * why this is not optional). Streaming callers should prefer
    * [[lateSplit]], which releases automatically. Kept for T2.
    */
  def lateSplitFrames(batch: DataFrame, tsCol: String, cutoffSeconds: Long)
      : LateSplit = {
    // the working column would silently collide with a same-named
    // batch column — fail fast (same reserved prefix as AsOf)
    require(!batch.columns.exists(_.startsWith("__graft_")),
      "column names with the __graft_ prefix are reserved")
    // Column API keeps tsCol out of the SQL string: names needing
    // backticks (dots, spaces) must not break the cutoff expression
    val cut = batch
      .agg((max(col(tsCol)) - expr(s"INTERVAL '$cutoffSeconds' SECOND"))
        .as("__graft_cut"))
      .persist()
    val flagged = batch.crossJoin(broadcast(cut))
    val onTime = flagged
      .filter(col("__graft_cut").isNull || col(tsCol) >= col("__graft_cut"))
      .drop("__graft_cut")
    val late = flagged.filter(col(tsCol) < col("__graft_cut"))
      .drop("__graft_cut")
    LateSplit(onTime, late, cut)
  }

  /** T2, foreachBatch form: split the batch, write each side through
    * its sink, and unpersist the shared cutoff frame afterwards — the
    * per-batch cache entry is released even when a sink throws, so a
    * long-lived query's CacheManager stays flat. Kept for T2.
    */
  def lateSplit(batch: DataFrame, tsCol: String, cutoffSeconds: Long,
      writeOnTime: DataFrame => Unit, writeLate: DataFrame => Unit): Unit = {
    val split = lateSplitFrames(batch, tsCol, cutoffSeconds)
    try {
      writeOnTime(split.onTime)
      writeLate(split.late)
    } finally split.release()
  }

  /** T5 — at-most-once fire-and-forget delivery (the sleep command is
    * sent without waiting for confirmation — master/master.ino:348-352:
    * losing one costs a round; retrying could double-sleep a device).
    * Each row is attempted exactly once on its executor; failures are
    * counted into `dropped` and swallowed — never retried, and never
    * propagated, so foreachBatch cannot replay the batch. Partition-
    * parallel (foreachPartition), no driver collect.
    *
    * At-most-once holds per task ATTEMPT: swallowing send() failures
    * stops Spark-level retries of the batch, but a task-level failure
    * AFTER some sends (executor loss, speculation) replays the whole
    * partition. For a strict at-most-once guarantee the JOB must run
    * with spark.task.maxFailures=1 and speculation off (local mode's
    * default is already 1) — warned below when violated, because a
    * silent retry is this sink's one forbidden behavior. Kept for T5.
    */
  def fireAndForget(
      batch: DataFrame,
      send: org.apache.spark.sql.Row => Unit,
      dropped: Option[org.apache.spark.util.LongAccumulator] = None): Unit = {
    val sc = batch.sparkSession.sparkContext
    val maxFailures = sc.getConf.getInt("spark.task.maxFailures", 4)
    val speculation = sc.getConf.getBoolean("spark.speculation", false)
    // local[N] ignores spark.task.maxFailures (effective value is 1),
    // so only warn where retries can actually happen
    if (!sc.isLocal && (maxFailures > 1 || speculation))
      System.err.println(
        s"[fireAndForget] WARNING: task retries enabled " +
          s"(maxFailures=$maxFailures, speculation=$speculation) — a task " +
          "failure mid-partition re-sends delivered rows; set " +
          "spark.task.maxFailures=1 and disable speculation for " +
          "strict at-most-once")
    batch.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      rows.foreach { r =>
        try send(r)
        catch { case scala.util.control.NonFatal(_) =>
          dropped.foreach(_.add(1L))
        }
      }
    }
  }

  /** T4 — at-least-once delivery completed to effectively-once by an
    * idempotent sink (master/master.ino:74,166: the master retries a
    * round; the server stores one value per round). foreachBatch
    * replays a whole batch after a failure, so the write must
    * tolerate redelivery: each batch overwrites ITS OWN batch_id=N
    * partition — a replay rewrites the same partition with the same
    * rows instead of appending duplicates (the standard foreachBatch
    * transactional-sink pattern; partition discovery exposes batch_id
    * as a column on read). Kept for T4.
    */
  def idempotentBatchWrite(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** T7 — clock-skew policy (master/master.ino:122-124: the weekly
    * resync bounds device-clock error to under one week). Pairs the
    * device event time with the gateway ingest time: a row whose skew
    * is inside `maxSkewSeconds` keeps event time (it buckets into its
    * true window); a row beyond the bound — a clock that never
    * resynced — is re-stamped to ingest time and flagged, instead of
    * opening a years-old window that the watermark silently drops.
    * Kept for T7.
    */
  def withSkewPolicy(
      df: DataFrame,
      eventCol: String,
      ingestCol: String,
      maxSkewSeconds: Long = 7L * 24 * 3600): DataFrame =
    df
      .withColumn("skew_exceeded",
        abs(unix_micros(col(eventCol)) - unix_micros(col(ingestCol))) >
          maxSkewSeconds * 1000000L)
      .withColumn("effective_ts",
        when(col("skew_exceeded"), col(ingestCol)).otherwise(col(eventCol)))

  /** W3 as a stream: per-device weight-delta alerts — the domain
    * purpose of the whole system (weight change between rounds;
    * server-side in the reference, which ships levels only:
    * master/master.ino:462-505, SURVEY.md §2.5 W3). `lag()` isn't
    * available in streaming, so the previous value is keyed state:
    * emit when |current − previous| ≥ threshold. State is one double
    * per device (bounded by fleet size, not time). Kept for W3.
    */
  case class RoundReading(device_code: String, round_ts: java.sql.Timestamp,
      weight_g: Double)
  case class DeltaAlert(device_code: String, round_ts: java.sql.Timestamp,
      weight_g: Double, delta_g: Double)

  def weightDeltaAlerts(
      readings: Dataset[RoundReading],
      thresholdG: Double): Dataset[DeltaAlert] = {
    import readings.sparkSession.implicits._
    readings
      .groupByKey(_.device_code)
      .flatMapGroupsWithState[Double, DeltaAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (device, rows, state: GroupState[Double]) =>
          // process in event-time order within the batch
          val sorted = rows.toSeq.sortBy(_.round_ts.getTime)
          var prev = state.getOption
          val out = sorted.flatMap { r =>
            val alert = prev match {
              case Some(p) if math.abs(r.weight_g - p) >= thresholdG =>
                Seq(DeltaAlert(device, r.round_ts, r.weight_g, r.weight_g - p))
              case _ => Nil
            }
            prev = Some(r.weight_g)
            alert
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  /** J3: the two-phase confirm⋈value pairing
    * (master/master.ino:231-258; slave/slave.ino:92-118) as a
    * watermarked stream-stream INTERVAL join — a value is accepted if
    * a confirmation for the same device arrived in the preceding
    * `windowSeconds` (the round budget). Engine manages the join
    * state, bounded by watermark + interval on both sides. Inputs:
    * (device_code, ts, value?) with event-time ts. Kept for J3 (the
    * stream-stream join SURVEY.md maps it to).
    *
    * `roundCol`: optional round-identifier column on `confirms` to
    * scope the retry dedup to (device, round). WITHOUT it the dedup
    * keys on device_code alone inside the watermark, so two
    * legitimate confirms from consecutive rounds < windowSeconds
    * apart collapse to one and the second round's values silently
    * miss (ADVICE r2) — when rounds can be that close, pass the
    * round id. With roundCol set, one value's window can overlap TWO
    * surviving rounds' confirms, so the join output is deduped per
    * (device, value_ts, value) to keep the accept-once contract.
    */
  def confirmValueJoin(
      confirms: DataFrame,
      values: DataFrame,
      windowSeconds: Long = 60L,
      roundCol: Option[String] = None): DataFrame = {
    // watermark must cover the acceptance window, or in-window rows
    // get dropped as late before the join ever sees them
    val wm = s"$windowSeconds seconds"
    // retried confirms are the norm (T4): dedupe per device (and
    // round, when identified) inside the watermark so one value
    // cannot match twice and emit dups (accept-once)
    val c = confirms.withWatermark("ts", wm)
      .dropDuplicatesWithinWatermark("device_code", roundCol.toSeq: _*)
      .alias("c")
    val v = values.withWatermark("ts", wm).alias("v")
    val joined = v.join(c,
      expr(s"""c.device_code = v.device_code AND
               v.ts >= c.ts AND
               v.ts <= c.ts + interval $windowSeconds seconds"""))
      .select(col("v.device_code").as("device_code"),
        col("v.ts").as("value_ts"), col("v.value").as("value"))
    // with per-round confirms surviving the upstream dedup, a value
    // inside two rounds' windows would emit twice — collapse it
    // (value_ts carries the event-time watermark through the join;
    // Spark 4 allows chaining stateful operators in append mode)
    roundCol.fold(joined)(_ =>
      joined.dropDuplicatesWithinWatermark("device_code", "value_ts", "value"))
  }
}
