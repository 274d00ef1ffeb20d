package hwbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Wall clock shared by every record of one run: benchmark spans are
  * taken with nanoTime, Spark's listener times are epoch milliseconds,
  * and both are kept as seconds since the run's origin.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - originNs) / 1e9
  def ofEpochMs(ms: Long): Double = (ms - originMs) / 1e3
}

final case class Span(id: Long, parent: Long, name: String, layer: String,
    key: String, t0: Double, t1: Double)

/** In-memory span store, written out once at the end of the run. When
  * tracing is off `timed` still runs the body but records nothing.
  */
final class Spans(var on: Boolean) {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def timed[T](parent: Long, name: String, layer: String, key: String)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = Clock.now
    try body(id)
    finally if (on) buf.add(Span(id, parent, name, layer, key, t0, Clock.now))
  }

  def add(parent: Long, name: String, layer: String, key: String,
      t0: Double, t1: Double): Unit =
    if (on) buf.add(Span(ids.incrementAndGet(), parent, name, layer, key, t0, t1))

  def all: Seq[Span] = buf.asScala.toSeq
}

/** Task-level totals for one job group (a query execution or a
  * streaming batch). Times in seconds, sizes in bytes.
  */
final class GroupStats {
  var jobs, tasks, retries, inputRows = 0L
  var runS, taskS, cpuS, gcS, schedWaitS, fetchWaitS = 0.0
  var spillBytes, shuffleWrite, shuffleRead, inputBytes = 0L
  val jobSpans = new java.util.ArrayList[(Int, Double, Double)]()

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_retries" -> retries,
    "run_s" -> runS, "task_s" -> taskS, "cpu_s" -> cpuS, "gc_s" -> gcS,
    "sched_wait_s" -> schedWaitS, "fetch_wait_s" -> fetchWaitS,
    "spill_bytes" -> spillBytes, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "input_bytes" -> inputBytes,
    "input_rows" -> inputRows,
    "job_spans" -> jobSpans.asScala.map { case (j, a, b) =>
      Map("job" -> j, "t0" -> a, "t1" -> b) })
}

/** Reads Spark's public listener events and attributes job, stage and
  * task metrics to the operation that caused them (see
  * [[Collector.group]]). Also tracks RDD blocks leaving and re-entering
  * memory.
  */
final class Collector extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageFirstLaunch = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Double]()
  val jobsStarted, jobsEnded = new AtomicLong(0)
  // RDD blocks ever held in memory, and those dropped while their RDD
  // stayed persisted
  private val inMemory = ConcurrentHashMap.newKeySet[String]()
  private val dropped = ConcurrentHashMap.newKeySet[String]()
  private val unpersisted = ConcurrentHashMap.newKeySet[Int]()
  val evictedBlocks, recachedBlocks = new AtomicLong(0)

  private def stats(g: String) = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Collector.group(e.properties)
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, Clock.ofEpochMs(e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    jobsStarted.incrementAndGet()
    stats(g).synchronized { stats(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "other")
    val s = stats(g)
    s.synchronized {
      s.jobSpans.add((e.jobId, jobStart.getOrDefault(e.jobId, 0.0),
        Clock.ofEpochMs(e.time)))
    }
    jobsEnded.incrementAndGet()
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stageFirstLaunch.merge(e.stageId, e.taskInfo.launchTime, (a, b) =>
      java.lang.Long.valueOf(math.min(a, b)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val first = stageFirstLaunch.remove(info.stageId)
    for (sub <- info.submissionTime; f <- Option(first)) {
      val s = stats(stageGroup.getOrDefault(info.stageId, "other"))
      s.synchronized { s.schedWaitS += math.max(0L, f - sub) / 1e3 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(stageGroup.getOrDefault(e.stageId, "other"))
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    s.synchronized {
      s.tasks += 1
      if (info.attemptNumber > 0 || info.failed || info.killed) s.retries += 1
      s.taskS += (info.finishTime - info.launchTime) / 1e3
      m.foreach { t =>
        s.runS += t.executorRunTime / 1e3
        s.cpuS += t.executorCpuTime / 1e9
        s.gcS += t.jvmGCTime / 1e3
        s.spillBytes += t.memoryBytesSpilled + t.diskBytesSpilled
        s.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead
        s.fetchWaitS += t.shuffleReadMetrics.fetchWaitTime / 1e3
        s.inputBytes += t.inputMetrics.bytesRead
        s.inputRows += t.inputMetrics.recordsRead
      }
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
    unpersisted.add(e.rddId)
    ()
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    e.blockUpdatedInfo.blockId match {
      case RDDBlockId(rdd, split) =>
        val id = s"$rdd/$split"
        val level = e.blockUpdatedInfo.storageLevel
        if (level.useMemory) {
          if (dropped.remove(id)) recachedBlocks.incrementAndGet()
          inMemory.add(id)
        } else if (inMemory.remove(id) && !unpersisted.contains(rdd)) {
          dropped.add(id)
          evictedBlocks.incrementAndGet()
        }
        ()
      case _ => ()
    }

  /** Wait until every started job has been seen to end. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    Thread.sleep(200)
    while (jobsEnded.get() < jobsStarted.get() &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
  }
}

object Collector {
  /** The job group an operation's jobs carry: a micro-batch is keyed by
    * its query id and batch id, anything else by its job group.
    */
  def group(p: java.util.Properties): String = Option(p).flatMap { x =>
    Option(x.getProperty("streaming.sql.batchId"))
      .map(b => s"stream/${x.getProperty("sql.streaming.queryId")}/$b")
      .orElse(Option(x.getProperty("spark.jobGroup.id")))
  }.getOrElse("other")
}

/** Polls Spark storage memory in use (cached blocks and broadcasts) and
  * keeps the peak.
  */
final class StoragePeak(sc: org.apache.spark.SparkContext) {
  @volatile private var running = true
  @volatile var peakBytes = 0L
  private def used(): Long = sc.getExecutorMemoryStatus.values
    .map { case (max, free) => max - free }.sum
  private val thread = new Thread(() => {
    while (running) {
      peakBytes = math.max(peakBytes, used())
      Thread.sleep(100)
    }
  }, "storage-peak")
  thread.setDaemon(true)
  thread.start()

  def stop(): Long = {
    running = false
    thread.join()
    peakBytes = math.max(peakBytes, used())
    peakBytes
  }
}
