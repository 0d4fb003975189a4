package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session-artifact registry's standing rules that need no Spark
  * session: the build ledger bills each artifact its own time, no
  * module grows a private session cache beside the registry, and no
  * query derives its own copy of the session link graph.
  */
class SessionRegistrySpec extends AnyFunSuite {

  test("a nested artifact build is billed to the inner name only") {
    // an outer build that builds another artifact on a cold session
    // must not be billed the inner build: the ledger's per-name prices
    // then sum to the total build time, never more
    val before = ArtifactLedger.snapshot
    def billed(name: String) =
      ArtifactLedger.snapshot.getOrElse(name, 0.0) - before.getOrElse(name, 0.0)
    ArtifactLedger.timed("stub_outer") {
      Thread.sleep(50)
      ArtifactLedger.timed("stub_inner")(Thread.sleep(400))
    }
    assert(billed("stub_inner") >= 0.4)
    assert(billed("stub_outer") >= 0.05)
    assert(billed("stub_outer") < 0.3,
      s"outer billed ${billed("stub_outer")} s — the inner build's 0.4 s leaked into it")
    // the nesting state is restored: a later top-level build is billed
    // its whole time
    ArtifactLedger.timed("stub_outer")(Thread.sleep(100))
    assert(billed("stub_outer") >= 0.15)
  }

  test("no ext module keys a ConcurrentHashMap on SparkSession outside the registry") {
    // one way to pin a session artifact: SessionArtifact owns the
    // per-session maps, so a module-private one is a copy-paste regrowth
    val root = Paths.get("src/main/scala/graft/ext")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val keyedOnSession = """ConcurrentHashMap\s*\[\s*\(?\s*SparkSession\b""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => keyedOnSession.findFirstIn(Files.readString(p)).isDefined)
      .toSeq
    assert(offenders.isEmpty,
      s"declare a SessionArtifact instead of a session-keyed map in: ${offenders.mkString(", ")}")
  }

  /** The `File.scala:member` places under `src/main/scala` whose
    * non-comment lines call `fn(` — the enclosing member is the last
    * `def`/`val` at the two-space object-member indent.
    */
  private def callersOf(fn: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val member = """^  (?:(?:private|protected)(?:\[\w+\])?\s+|lazy\s+|final\s+|override\s+)*(?:def|val)\s+(\w+)""".r
    val call = (s"\\b${java.util.regex.Pattern.quote(fn)}\\(").r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        var enclosing = "<top>"
        Files.readAllLines(p).asScala.flatMap { line =>
          member.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
          val code = line.trim
          val isComment = code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")
          val calls = !isComment && call.findFirstIn(code.split("//")(0)).isDefined &&
            !code.contains(s"def $fn(")
          if (calls) Some(s"${p.getFileName}:$enclosing") else None
        }
      }.toSeq.sorted
  }

  test("only the session edge build and trustRankSink derive the link graph") {
    // one link graph per session: the graph cores take the edge table
    // they are given, so a new linkEdgesDf( call site is a query
    // building its own copy beside the session pins. trustRankSink's
    // base is an arbitrary frame, not a corpus directory.
    val callers = callersOf("linkEdgesDf")
    assert(callers == Seq("Graph.scala:sessionEdges", "Graph.scala:trustRankSink"),
      s"linkEdgesDf( is called from ${callers.size} places: ${callers.mkString(", ")}")
  }

  test("only the session artifacts and the frozen serving bases build the LM and retrieval tables") {
    // one path per query: the LM and retrieval cores take the frames
    // they are given, so a new call to one of these builds is a query
    // re-deriving a session pin. The serving sinks' frozen bases are
    // arbitrary frames, not corpus directories.
    val allowed = Map(
      "bm25ContribAll" -> Seq("Search.scala:sessionContrib"),
      "sectionMdFrame" -> Seq("Search.scala:sectionServePlans", "Search.scala:sessionSections"),
      "fivegramTypeTable" -> Seq("TextAnalysis.scala:knScoreTableDf",
        "TextAnalysis.scala:sessionC5", "TextAnalysis.scala:wbScoreTableDf"),
      "trigramCountTable" -> Seq("TextAnalysis.scala:sessionBackoffScores"),
      "bigramCountTable" -> Seq("TextAnalysis.scala:sessionBigramCounts"))
    val found = allowed.keys.toSeq.sorted.map(fn => fn -> callersOf(fn))
    val extra = found.filter { case (fn, cs) => cs != allowed(fn) }
    assert(extra.isEmpty, s"${found.map(_._2.size).sum} call sites; unexpected: " +
      extra.map { case (fn, cs) => s"$fn( from ${cs.mkString(", ")}" }.mkString("; "))
  }
}
