package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session-artifact registry's two standing rules that need no
  * Spark session: the build ledger bills each artifact its own time,
  * and no module grows a private session cache beside the registry.
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
}
