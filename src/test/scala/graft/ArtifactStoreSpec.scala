package graft

import graft.queries.{PipelineQueries, Registry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The session artifact store (PipelineQueries.memo): one build per
  * (session, dir, kind) under concurrency, `warmShared` covering every
  * artifact a query builds, and `clearArtifacts` releasing every block
  * the store holds — cached frames and checkpoint RDDs alike — and
  * every other engine cache, the catalog's table frames included.
  */
class ArtifactStoreSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("two threads racing on one cold kind run its build once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    val threads = Seq.fill(2)(new Thread(() => {
      start.await()
      got.add(PipelineQueries.memoArtifact(spark, "race-dir", "race") {
        builds.incrementAndGet()
        Thread.sleep(300) // hold the build open while the rival arrives
        spark.range(3).toDF("x")
      })
      ()
    }))
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(got.size == 2, "a racing caller failed")
    assert(builds.get == 1)
    assert(got.peek() eq got.toArray.last)
  }

  // Store artifacts are memory-resident (MEMORY_AND_DISK frames and
  // local checkpoints). The incremental probes' shard checkpoints are
  // DISK_ONLY per-invocation scratch, built eagerly at construction by
  // design (Dedup.probeFromPostings) and left to GC — not artifacts.
  private def memoryPersistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if rdd.getStorageLevel.useMemory => id
    }.toSet

  test("a kind released by clearArtifacts builds again on its next call") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def get(): DataFrame =
      PipelineQueries.memoArtifact(spark, "clear-dir", "rebuild") {
        builds.incrementAndGet()
        spark.range(2).toDF("x")
      }
    val first = get()
    assert((get() eq first) && builds.get == 1)
    PipelineQueries.clearArtifacts(spark)
    assert(first.storageLevel == StorageLevel.NONE)
    assert((get() ne first) && builds.get == 2)
  }

  test("clearArtifacts releases the catalog's table frames") {
    val first = Catalog.table(spark, sfDir, "nation")
    assert(Catalog.table(spark, sfDir, "nation") eq first)
    PipelineQueries.clearArtifacts(spark)
    assert(Catalog.table(spark, sfDir, "nation") ne first,
      "the catalog kept a frame across clearArtifacts")
  }

  test("after warmShared, constructing every query persists nothing new") {
    PipelineQueries.warmShared(spark, sfDir)
    val warm = memoryPersistedIds
    Registry.all.foreach(q => q.build(spark, sfDir))
    val added = memoryPersistedIds -- warm
    assert(added.isEmpty,
      s"query construction persisted RDDs warmShared missed: " +
        added.toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_))
          .mkString("; "))
  }

  test("clearArtifacts releases every persisted artifact, checkpoints included") {
    PipelineQueries.clearArtifacts(spark)
    val base = persistedIds
    PipelineQueries.warmShared(spark, sfDir)
    assert((persistedIds -- base).nonEmpty)
    PipelineQueries.clearArtifacts(spark)
    val left = persistedIds -- base
    assert(left.isEmpty, s"still persisted after clearArtifacts: " +
      left.toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_))
        .mkString("; "))
  }
}
