package graft.storage

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.execution.LogicalRDD

import graft.{ArtifactLedger, SessionArtifact, SparkTestBase}
import graft.SessionArtifact.Pin

/** Cross-session artifact persistence: a miss serves the pinned build
  * and stores it without reading it back, the second read comes from
  * disk (the build closure does not run), a corpus change invalidates
  * the key, and a failed write is recorded, never thrown.
  */
class ArtifactStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def freshCorpusDir(tag: String): File = {
    val d = Files.createTempDirectory(s"graft-astore-$tag").toFile
    d.deleteOnExit()
    d
  }

  private def writeMember(dir: File, name: String, body: String): Unit = {
    val f = new File(dir, name)
    Files.write(f.toPath, body.getBytes("UTF-8"))
    f.deleteOnExit()
  }

  test("fingerprint: stable on identical metadata, moves on any file change") {
    val d = freshCorpusDir("fp")
    writeMember(d, "a.parquet", "aaaa")
    writeMember(d, "b.parquet", "bb")
    val fp1 = ArtifactStore.fingerprint(d.getPath)
    assert(fp1 == ArtifactStore.fingerprint(d.getPath), "must be stable")
    writeMember(d, "b.parquet", "bbbbbb") // size change
    assert(ArtifactStore.fingerprint(d.getPath) != fp1, "size change must move it")
    val fp2 = ArtifactStore.fingerprint(d.getPath)
    writeMember(d, "c.parquet", "x") // new file
    assert(ArtifactStore.fingerprint(d.getPath) != fp2, "new file must move it")
  }

  /** The RDD class names of every job `body` starts, job by job. */
  private def jobRdds[T](body: => T): (T, Seq[Seq[String]]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(e.stageInfos.flatMap(_.rddInfos.map(_.name)))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      // jobsStartedBy returns once the listener bus delivered the jobs
      val (r, _) = GraftSql.jobsStartedBy(spark)(body)
      (r, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def readsFiles(job: Seq[String]): Boolean = job.contains("FileScanRDD")

  test("stored: builds once, serves the pinned build, replays from disk, invalidates on corpus change") {
    assume(ArtifactStore.enabled, "store disabled via env in this run")
    val d = freshCorpusDir("cf")
    writeMember(d, "docs.parquet", "seed-v1")
    var builds = 0
    def build() = { builds += 1; Seq((1L, "x"), (2L, "y")).toDF("id", "v") }
    val name = s"spec_artifact_${System.nanoTime()}"
    def serve() = SessionArtifact.stored(spark, name, d.getPath, Pin.Checkpoint)(build())
    val (miss, missJobs) = jobRdds(serve())
    assert(builds == 1)
    // a miss returns the pinned build itself: a checkpoint of the
    // build's rows, and no job of the miss scans the stored copy
    assert(miss.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(missJobs.nonEmpty && !missJobs.exists(readsFiles),
      s"a store miss read files back: $missJobs")
    val first = miss.collect().map(_.toString).sorted.toSeq
    val (hit, hitJobs) = jobRdds(serve())
    assert(builds == 1, "second call must replay the persisted artifact")
    assert(hitJobs.exists(readsFiles), s"a store hit must load the stored copy: $hitJobs")
    assert(first == hit.collect().map(_.toString).sorted.toSeq,
      "persisted replay must be value-identical")
    // corpus change -> new key -> rebuild
    writeMember(d, "docs.parquet", "seed-v2-longer")
    val rebuilt = serve()
    assert(builds == 2, "a corpus change must invalidate the artifact")
    Seq(miss, hit, rebuilt).foreach(GraftSql.releaseCheckpoint)
  }

  test("a failed store write is recorded by name and the pinned build is still served") {
    // the target's parent is a plain file, so no directory can be made there
    val blocker = File.createTempFile("graft-astore-blocker", "")
    blocker.deleteOnExit()
    val name = s"spec_unwritable_${System.nanoTime()}"
    val served = SessionArtifact.storedAt(spark, name, Some(new File(blocker, "fp-x")),
      Pin.Checkpoint)(Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    assert(served.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    assert(ArtifactLedger.storeFailures.contains(name),
      s"no store failure recorded for $name: ${ArtifactLedger.storeFailures}")
    GraftSql.releaseCheckpoint(served)
  }

  test("fingerprint: a plain file fingerprints by its own length and mtime") {
    val d = freshCorpusDir("fpfile")
    writeMember(d, "t.parquet", "aaaa")
    val f = new File(d, "t.parquet")
    val fp1 = ArtifactStore.fingerprint(f.getPath)
    assert(fp1 == ArtifactStore.fingerprint(f.getPath), "must be stable")
    assert(fp1 != ArtifactStore.fingerprint(new File(d, "missing").getPath),
      "a file must not fingerprint like a missing path")
    writeMember(d, "t.parquet", "aaaaaaaa") // length change
    val fp2 = ArtifactStore.fingerprint(f.getPath)
    assert(fp2 != fp1, "a length change must move it")
    assert(f.setLastModified(f.lastModified - 60000L)) // mtime change only
    assert(ArtifactStore.fingerprint(f.getPath) != fp2, "an mtime change must move it")
  }

  test("fingerprint: recurses into subdirectories (parquet-dir corpus layout)") {
    val d = freshCorpusDir("fpdir")
    val sub = new File(d, "table.parquet")
    assert(sub.mkdir())
    sub.deleteOnExit()
    writeMember(sub, "part-00000", "aaaa")
    val fp1 = ArtifactStore.fingerprint(d.getPath)
    assert(fp1 == ArtifactStore.fingerprint(d.getPath), "must be stable")
    writeMember(sub, "part-00000", "aaaaaaaa") // change INSIDE the subdir
    assert(ArtifactStore.fingerprint(d.getPath) != fp1,
      "a leaf-file change under a subdirectory must move the fingerprint")
  }

  test("prune: respects keep count but never deletes inside the grace window") {
    val nameDir = Files.createTempDirectory("graft-astore-prune").toFile
    nameDir.deleteOnExit()
    val dirs = (0 until 4).map { i =>
      val f = new File(nameDir, s"fp-$i")
      assert(f.mkdir()); f.deleteOnExit()
      // stamp strictly increasing mtimes so recency order is i-ascending
      assert(f.setLastModified(1000000L + i * 60000L))
      f
    }
    // a "now" far in the future: everything is past the grace window,
    // so keep=2 deletes the two OLDEST dirs
    ArtifactStore.prune(nameDir, keep = 2,
      nowMs = 1000000L + 4 * 60000L + ArtifactStore.PruneGraceMs + 1)
    assert(!dirs(0).exists() && !dirs(1).exists(), "aged-out dirs pruned")
    assert(dirs(2).exists() && dirs(3).exists(), "the keep newest survive")
    // with "now" just after the stamps, every survivor is inside the
    // grace window: nothing may be deleted even though keep=0 would
    // otherwise remove them all (the concurrent mid-load reader case)
    ArtifactStore.prune(nameDir, keep = 0, nowMs = 1000000L + 4 * 60000L)
    assert(dirs(2).exists() && dirs(3).exists(),
      "dirs inside the grace window must survive pruning")
  }

  test("codeStamp: non-empty and stable within one JVM") {
    assert(ArtifactStore.codeStamp.nonEmpty)
    assert(ArtifactStore.codeStamp == ArtifactStore.codeStamp)
  }
}
