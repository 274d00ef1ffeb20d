package graft

import graft.queries.Registry

/** Contract invariants of the driver-facing query registry: names
  * unique (a duplicate silently shadows a query in the Map and a
  * whole operator drops out of the correctness gate unnoticed),
  * every query oracle-checked, names driver-safe.
  */
class RegistrySpec extends SparkSpec {

  test("query names are unique — no silent map shadowing") {
    val names = Registry.all.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(",")}")
  }

  test("every declared query carries a DuckDB oracle") {
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty,
      s"queries without an oracle (driver records only rows>0): " +
        missing.mkString(","))
  }

  test("names are filesystem/JSON-safe keys") {
    Registry.all.map(_.name).foreach { n =>
      assert(n.matches("[a-z0-9_]+"), s"unsafe query name: $n")
    }
  }

  test("oracle SQL never uses engine-native hash functions (parity rule)") {
    // cross-engine hashing is md5-only: Spark hash()/xxhash64() never
    // match DuckDB's — a regression here corrupts the gate silently
    for (q <- Registry.all; sql <- q.oracle) {
      val bad = Seq("xxhash64(", " hash(")
        .filter(f => sql.toLowerCase.contains(f))
      assert(bad.isEmpty, s"${q.name}: engine-native hash in oracle: $bad")
    }
  }

  test("one session definition: only Engine builds a SparkSession; " +
      "no SPARK_GRAFT_* knobs beyond SF_DIR and CPUS") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val sources = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.endsWith(".scala"))
      .map(p => p -> java.nio.file.Files.readString(p)).toSeq
    assert(sources.nonEmpty)
    val builders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder") &&
          p.getFileName.toString != "Engine.scala" => p
    }
    assert(builders.isEmpty,
      s"build through Engine.session instead: ${builders.mkString(", ")}")
    val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")
    val knobs = sources.flatMap { case (p, src) =>
      "SPARK_GRAFT_[A-Z0-9_]*".r.findAllIn(src).filterNot(allowed)
        .map(k => s"$p: $k")
    }
    assert(knobs.isEmpty, s"unexpected env knobs: ${knobs.mkString(", ")}")
  }
}
