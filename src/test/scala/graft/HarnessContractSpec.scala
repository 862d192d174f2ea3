package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver-contract surface itself. These exist because the
  * failure mode they catch is SILENT: `families.flatMap(_.queries).toMap`
  * would let a duplicated query name shadow another family's entry, and a
  * query added without an oracle quietly downgrades to a rows-only check.
  * Neither shows up in any functional test.
  */
class HarnessContractSpec extends AnyFunSuite {

  /** Queries intentionally shipped WITHOUT a DuckDB oracle: seeded
    * generators and synthetic-media decodes whose semantics ANSI SQL
    * cannot express. Each is byte-locked against a committed golden in
    * GoldenSpec. Adding a query here requires adding its golden.
    */
  private val goldenLocked = Set(
    // camera extrinsic matrices: RAW trig doubles (cos/sin differ by
    // ≤1 ulp between engines, measured), so the export stays golden —
    // but its exact dataflow is oracle-evidenced by q_extrinsic_traj's
    // 9-decimal replay and q_extrinsic_matrix's hash-exact kernel
    "q_extrinsic_export")

  test("query names are globally unique across families") {
    val all = SparkEntry.families.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).collect { case (n, occ) if occ.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names shadow each other: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("every query is oracle-checked or explicitly golden-locked") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == goldenLocked,
      s"queries without oracle beyond the golden allowlist: ${noOracle -- goldenLocked}; " +
        s"stale allowlist entries: ${goldenLocked -- noOracle}")
  }

  test("no oracle exists without its query") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles with no query (dead SQL): $orphaned")
  }

  test("oracle SQL references only fixture tables") {
    // cheap lexical check: each oracle must mention at least one known
    // table so a typo'd table name fails here instead of as a driver
    // SQLERR at round time
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // filesystem-backed oracles scan blobs/JSON instead of a table view;
    // seeded-synthetic oracles (q_frame_sample, q_behavior_trajectory's
    // media cousin) generate their input from range()
    val fileReaders = Seq("read_blob", "read_text", "read_json", "glob(",
      "range(")
    val missing = SparkEntry.oracleSql.collect {
      case (name, sql) if !tables.exists(t => sql.toLowerCase.contains(t)) &&
        !fileReaders.exists(sql.toLowerCase.contains) => name
    }
    assert(missing.isEmpty, s"oracles referencing no fixture table: $missing")
  }

  test("Stress selection: default queries resolve, unknown ONLY names are rejected") {
    // a renamed gate query must fail here, not at the start of a stress run
    val unresolved = tools.Stress.names.filterNot(SparkEntry.queries.contains)
    assert(unresolved.isEmpty, s"Stress default list names no SparkEntry query: $unresolved")
    val all = tools.Stress.select(None).map(_._1)
    assert(all.distinct == all && all.contains("stress_pq"))
    assert(tools.Stress.select(Some("q_pq_topk, stress_pq")).map(_._1).toSet ==
      Set("q_pq_topk", "stress_pq"))
    val e = intercept[IllegalArgumentException](
      tools.Stress.select(Some("stress_pq,q_nope")))
    assert(e.getMessage.contains("q_nope") && !e.getMessage.contains("stress_pq"))
  }

  test("every function a COVERAGE row names exists and has a caller") {
    // COVERAGE.md credits checks to code by name; a name nothing calls is
    // credited with a check that never runs it. Scans the Scala sources
    // (tests and pipebench included) with comment lines dropped: each
    // backticked `Object.method` of a project object must be a def, and
    // it, or a bare backticked name that is a def, must occur somewhere
    // other than its own def.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val code = Seq("src", "pipebench/src").flatMap { d =>
      Files.walk(Paths.get(d)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }.flatMap((p: Path) => Files.readAllLines(p).asScala)
      .filterNot { l => val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//") }
      .mkString("\n")
    def count(re: String) = re.r.findAllMatchIn(code).size
    val objects = "\\bobject\\s+(\\w+)".r.findAllMatchIn(code).map(_.group(1)).toSet
    val spans = "`([^`\\n]+)`".r
      .findAllMatchIn(new String(Files.readAllBytes(Paths.get("COVERAGE.md")), "UTF-8"))
      .map(_.group(1)).toSeq
    val qualified = spans.flatMap(
      "^(?:[\\w.]+/)*([A-Z]\\w*)\\.([a-z]\\w*)(?=$|\\()".r.findFirstMatchIn(_))
      .map(m => (m.group(1), m.group(2))).filter(om => objects(om._1) && om._2 != "scala")
      .distinct
    val bare = spans.flatMap("^([a-z]\\w*)(?=$|\\()".r.findFirstMatchIn(_)).map(_.group(1)).distinct
    def defs(m: String) = count(s"\\bdef\\s+$m\\b")
    def uncalled(m: String) = count(s"\\b$m\\b") == defs(m)
    val stale = qualified.collect { case (o, m) if defs(m) == 0 => s"$o.$m" }
    val dead = qualified.collect { case (o, m) if defs(m) > 0 && uncalled(m) => s"$o.$m" } ++
      bare.filter(m => defs(m) > 0 && uncalled(m))
    assert(stale.isEmpty, s"COVERAGE names functions that do not exist: ${stale.mkString(", ")}")
    assert(dead.isEmpty, s"COVERAGE names functions nothing calls: ${dead.mkString(", ")}")
  }
}
