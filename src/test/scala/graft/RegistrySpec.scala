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

  test("oracle SQL equals the committed golden docs/oracle_sql.json") {
    // The DuckDB side of the gate is pinned text: moving a query or
    // sharing an oracle fragment must leave every squashed string
    // byte-identical. Regenerate with:
    //   GRAFT_REGEN_PLANS=1 sbt "testOnly graft.RegistrySpec"
    import java.nio.file.{Files, Paths}
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = Paths.get("docs", "oracle_sql.json")
    val got = Registry.oracleSql
    if (sys.env.contains("GRAFT_REGEN_PLANS")) {
      val obj = JObject(got.toSeq.sortBy(_._1).map { case (k, v) => k -> JString(v) }.toList)
      Files.writeString(f, JsonMethods.pretty(JsonMethods.render(obj)) + "\n")
    }
    assert(Files.exists(f), s"missing $f — run from the repo root")
    val want = JsonMethods.parse(Files.readString(f)) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => fail(s"$f is not a JSON object: ${other.getClass}")
    }
    val changed = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(n => want.get(n) != got.get(n))
    assert(changed.isEmpty,
      s"oracle SQL differs from $f for: ${changed.mkString(", ")} — if " +
        "intentional, regenerate with GRAFT_REGEN_PLANS=1")
  }

  test("queries are grouped by domain: nothing round-named, " +
      "no per-object Catalog.table helper") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft/queries")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val sources = java.nio.file.Files.list(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.readString(p))
      .toSeq
    val roundNamed = sources.flatMap { case (f, src) =>
      Seq(f).filter(_.matches(".*Round\\d+.*")) ++
        "object\\s+(\\w*Round\\d+\\w*)".r.findAllMatchIn(src).map(_.group(1))
    }
    assert(roundNamed.isEmpty,
      s"name query files and objects by domain: ${roundNamed.mkString(", ")}")
    // every query object reads tables through one import,
    // `graft.Catalog.{table => t}`, not through a wrapper of its own
    val helpers = sources.collect {
      case (f, src) if src.contains("Catalog.table(") => f
    }
    assert(helpers.isEmpty,
      s"import graft.Catalog.{table => t} instead: ${helpers.mkString(", ")}")
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
    def sources(dir: String) = {
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".scala"))
        .map(p => p -> java.nio.file.Files.readString(p)).toSeq
    }
    val main = sources("src/main")
    val all = main ++ sources("src/test")
    assert(main.nonEmpty)
    // the patterns are regexes so this file does not match itself:
    // a second builder (a spec base included), or an override layered
    // on Engine.session, would make the tests, Verify and the benchmark
    // check different engines again
    val forbidden = Seq("SparkSession[.]builder", "Bench[.](confs|session)",
      "spark[.]graft[.]local[.]scan[P]arallelism", "hive[M]etastore\\s*=")
    val hits = for {
      (p, src) <- all if p.getFileName.toString != "Engine.scala"
      re <- forbidden if re.r.findFirstIn(src).isDefined
    } yield s"$p: $re"
    assert(hits.isEmpty,
      s"build through Engine.session instead: ${hits.mkString(", ")}")
    val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS")
    val knobs = main.flatMap { case (p, src) =>
      "SPARK_GRAFT_[A-Z0-9_]*".r.findAllIn(src).filterNot(allowed)
        .map(k => s"$p: $k")
    }
    assert(knobs.isEmpty, s"unexpected env knobs: ${knobs.mkString(", ")}")
  }

  test("one artifact store: the store's map is the engine's only cache map") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"run from the repo root: $root")
    // a val built from a concurrent, weak or synchronized map is a
    // cache with its own lifetime, which clearArtifacts cannot release
    val mapVal = ("(?m)^[ \\t]*(?:(?:private|protected)(?:\\[\\w+\\])?\\s+)?" +
      "(?:lazy\\s+)?val\\s+(\\w+)[^=\\n]*=\\s*(?:new\\s+)?[\\w.]*?" +
      "(?:ConcurrentHashMap|WeakHashMap|synchronizedMap)\\b").r
    val maps = for {
      p <- files
      m <- mapVal.findAllMatchIn(RegistrySpec.stripComments(
        java.nio.file.Files.readString(p)))
    } yield s"${p.getFileName.toString.stripSuffix(".scala")}.${m.group(1)}"
    assert(maps.contains("PipelineQueries.artifacts"), maps.mkString(", "))
    val others = maps.filterNot(_ == "PipelineQueries.artifacts")
    assert(others.isEmpty,
      s"memoize through PipelineQueries.memo instead: ${others.mkString(", ")}")
  }

  test("one operator surface: every public operator def is called from " +
      "src/main or hwbench/src") {
    import scala.jdk.CollectionConverters._
    def sources(dir: String) = {
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".scala"))
        .map(p => p.toString -> RegistrySpec.stripComments(
          java.nio.file.Files.readString(p))).toSeq
    }
    val code = sources("src/main") ++ sources("hwbench/src")
    val scanned = Seq("operators", "functions", "streaming", "plans")
      .map(d => s"src/main/scala/graft/$d/") :+
      "src/main/scala/org/apache/spark/sql/graft/"
    // the graft root objects (Catalog, Engine, ...), not its packages
    def isScanned(path: String) = scanned.exists(path.startsWith) ||
      java.nio.file.Paths.get(path).getParent.toString == "src/main/scala/graft"
    val defRe = ("(?m)^[ \\t]*((?:(?:final|implicit|override|private" +
      "(?:\\[\\w+\\])?|protected(?:\\[\\w+\\])?)\\s+)*)def\\s+(\\w+)").r
    val defs = for {
      (path, src) <- code if isScanned(path)
      m <- defRe.findAllMatchIn(src)
      mods = m.group(1)
      if !mods.contains("private") && !mods.contains("protected") &&
        !mods.contains("override")
    } yield {
      val obj = java.nio.file.Paths.get(path).getFileName.toString
        .stripSuffix(".scala")
      s"$obj.${m.group(2)}"
    }
    assert(defs.nonEmpty, "no operator defs found")
    // a def's own definitions each name it once; any further mention
    // outside comments is a caller
    val defCount = defs.groupBy(_.split('.').last).map { case (n, ds) =>
      n -> ds.size }
    def mentions(name: String): Int = code.map { case (_, src) =>
      s"\\b${java.util.regex.Pattern.quote(name)}\\b".r
        .findAllIn(src).size }.sum
    val uncalled = defs.distinct.filter(d =>
      mentions(d.split('.').last) <= defCount(d.split('.').last))
    val unexpected = uncalled.filterNot(RegistrySpec.keptUncalled.contains)
    assert(unexpected.isEmpty,
      "only tests reach these; delete them or add them to " +
        s"RegistrySpec.keptUncalled with a reason: ${unexpected.mkString(", ")}")
    val stale = RegistrySpec.keptUncalled.keySet -- defs
    assert(stale.isEmpty, s"keptUncalled names no public def: " +
      stale.mkString(", "))
  }

  test("failures are loud: no catch-all Throwable swallow in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"run from the repo root: $root")
    val swallows = files.filter(p =>
      "case\\s+_\\s*:\\s*Throwable".r
        .findFirstIn(java.nio.file.Files.readString(p)).isDefined)
    assert(swallows.isEmpty,
      s"catch the exceptions you expect instead: ${swallows.mkString(", ")}")
  }
}

object RegistrySpec {

  /** Public defs in operators/, functions/, streaming/, plans/, the
    * graft root objects and the Spark-namespace bridge that no main or
    * hwbench code calls, each with the reason it stays.
    */
  val keptUncalled: Map[String, String] = Map(
    "TelemetryPipeline.sessionsDynamicGap" -> "T6 setup-phase gap",
    "TelemetryPipeline.lateSplit" -> "T2 late-data DLQ split",
    "TelemetryPipeline.fireAndForget" -> "T5 at-most-once sink",
    "TelemetryPipeline.idempotentBatchWrite" -> "T4 idempotent sink",
    "TelemetryPipeline.withSkewPolicy" -> "T7 clock-skew bound",
    "TelemetryPipeline.weightDeltaAlerts" -> "W3 weight-delta alerts",
    "TelemetryPipeline.confirmValueJoin" -> "J3 confirm⋈value join",
    "Telemetry.toBase64" -> "reference wire format (gateway base64)",
    "Telemetry.fromBase64" -> "reference wire format (gateway base64)",
    "Telemetry.buildDataDoc" -> "reference wire format (data document)",
    "Telemetry.toGrams" -> "reference wire format (weight grams)",
    "Telemetry.upsertCalibrationTable" -> "reference calibration upsert",
    "Curate.decontaminate" ->
      "string-shingle reference the hashed tier is tested against",
    "Curate.decontaminateHashedExact" ->
      "exact-join reference the in-row and bloom tiers are tested against",
    "TextFunctions.ngrams" ->
      "composition the NgramCounts kernel is tested against",
    "Catalog.createPersistentTables" ->
      "the Hive catalog the north star names (queries read Catalog.table)",
    "Catalog.analyzeTables" ->
      "CBO statistics for that Hive catalog")

  /** Scala source with every comment blanked (block comments nest);
    * string and char literals are kept, and a `//` inside one is not
    * a comment.
    */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("//")) { while (i < src.length && src(i) != '\n') i += 1 }
      else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        val start = i
        i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') i += 1
          i += 1
        }
        i = math.min(i + 1, src.length)
        out ++= src.substring(start, i)
      } else if (at("'\"'")) { out ++= "'\"'"; i += 3 }
      else { out += src(i); i += 1 }
    }
    out.toString
  }
}
