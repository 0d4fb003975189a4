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

  /** The `File.scala:member` places under `src/main/scala` with a
    * non-comment line whose code (trailing `//` comment dropped) passes
    * `hit` — the enclosing member is the last `def`/`val` at the
    * two-space object-member indent.
    */
  private def placesWhere(hit: String => Boolean): Seq[String] =
    placesWhereIn((code, _) => hit(code))

  /** [[placesWhere]] with a second argument to `hit`: whether the line
    * sits inside the braces of a `for`, `while` or `.foreach` body.
    */
  private def placesWhereIn(hit: (String, Boolean) => Boolean): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root (no $root)")
    val member = """^  (?:(?:private|protected)(?:\[\w+\])?\s+|lazy\s+|final\s+|override\s+)*(?:def|val)\s+(\w+)""".r
    val loop = """\b(?:for|while)\s*\(|\.foreach\s*\{""".r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        var enclosing = "<top>"
        var depth = 0
        var bodies = List.empty[Int] // brace depth inside each open loop body
        Files.readAllLines(p).asScala.flatMap { line =>
          member.findFirstMatchIn(line).foreach(m => enclosing = m.group(1))
          val code = line.trim
          val isComment = code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")
          if (isComment) None
          else {
            val live = code.split("//")(0)
            val matched = hit(live, bodies.nonEmpty)
            val opened = depth + live.count(_ == '{') - live.count(_ == '}')
            if (loop.findFirstIn(live).isDefined && opened > depth) bodies = opened :: bodies
            depth = opened
            bodies = bodies.dropWhile(_ > depth)
            if (matched) Some(s"${p.getFileName}:$enclosing") else None
          }
        }
      }.toSeq.sorted
  }

  /** The places whose code calls `fn(` (its definition excluded). */
  private def callersOf(fn: String): Seq[String] = {
    val call = (s"\\b${java.util.regex.Pattern.quote(fn)}\\(").r
    placesWhere(code => call.findFirstIn(code).isDefined && !code.contains(s"def $fn("))
  }

  /** Fails naming every build whose callers differ from `allowed`. */
  private def assertCallers(allowed: Map[String, Seq[String]]): Unit = {
    val found = allowed.keys.toSeq.sorted.map(fn => fn -> callersOf(fn))
    val extra = found.filter { case (fn, cs) => cs != allowed(fn) }
    assert(extra.isEmpty, s"${found.map(_._2.size).sum} call sites; unexpected: " +
      extra.map { case (fn, cs) => s"$fn( from ${cs.mkString(", ")}" }.mkString("; "))
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
    assertCallers(Map(
      "bm25ContribAll" -> Seq("Search.scala:sessionContrib"),
      "sectionMdFrame" -> Seq("Search.scala:sectionServePlans", "Search.scala:sessionSections"),
      "fivegramTypeTable" -> Seq("TextAnalysis.scala:knScoreTableDf",
        "TextAnalysis.scala:sessionC5", "TextAnalysis.scala:wbScoreTableDf"),
      "trigramCountTable" -> Seq("TextAnalysis.scala:sessionBackoffScores"),
      "bigramCountTable" -> Seq("TextAnalysis.scala:sessionBigramCounts")))
  }

  test("only the session artifacts, the serving sinks and the scale probe build the cleaning and similarity tables") {
    // the boilerplate dictionary, the kNN graph and the substring span
    // table each have one build: a registered query reads its session
    // pin, a sink freezes the build over its base frame, and the scale
    // probe times the build over replicated input
    assertCallers(Map(
      "boilerplateDictDf" -> Seq("Cleaning.scala:boilerplateCleanSink",
        "Cleaning.scala:sessionBoilerDict"),
      "knnGraphDf" -> Seq("FamilyScaleProbe.scala:main", "Similarity.scala:bucketedAnnState",
        "Similarity.scala:graphAnnServeOnce", "Similarity.scala:graphAnnServeSink",
        "Similarity.scala:sessionKnnGraph"),
      "spansWithMd5" -> Seq("Cleaning.scala:sessionSubstrSpans", "FamilyScaleProbe.scala:main")))
  }

  test("no engine code picks a token path by testing a frame's columns for toks") {
    // each token core takes one input shape, fixed by its call sites:
    // a tokenized frame or raw text, never a schema-sniffed either
    val schemaTest = """\b(?:columns|schema|fieldNames)\b.*"toks"""".r
    val sniffers = placesWhere(code => schemaTest.findFirstIn(code).isDefined)
    assert(sniffers.isEmpty, s"schema tests for toks in: ${sniffers.mkString(", ")}")
  }

  test("each iterative algorithm has one loop: one min-label core, and no hand-rolled checkpoint loop") {
    // min-label propagation is an aggregate MIN over a neighbour's id
    // label; the one components loop is Graph.minLabelComponentsOn.
    // sccDf's forward colouring is the other: a directed reachability
    // label inside each SCC peel, not a component label
    val minLabel = """\bmin\(col\("\w*(?:label|component|cluster|canonical_id)"\)\)""".r
    val propagators = placesWhere(code => minLabel.findFirstIn(code).isDefined)
    assert(propagators == Seq("Graph.scala:minLabelComponentsOn", "Graph.scala:sccDf"),
      s"min-label propagation in: ${propagators.mkString(", ")}")
    // a checkpoint or persist inside a for/while/foreach body is a loop
    // that bypasses graft.Fixpoint. HITS keeps its own (a round
    // materializes two tables); funnelReached is a fixed three-step
    // chain that keeps every step for its readers
    val looped = placesWhereIn((code, inLoop) =>
        inLoop && (code.contains("localCheckpoint") || code.contains(".persist(")))
      .filterNot(_.startsWith("Fixpoint.scala:")).distinct
    assert(looped == Seq("ExtraQueries.scala:funnelReached", "Graph.scala:hitsStateOn"),
      s"checkpoints inside loop bodies in: ${looped.mkString(", ")}")
  }
}
