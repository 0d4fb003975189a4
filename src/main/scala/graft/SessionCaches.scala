package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of session artifacts: every session-scoped cache (the
  * shared edge checkpoints, LM blocks, Lloyd/PQ fits, retrieval
  * frames, …) is one [[SessionArtifact]], declared once in its owning
  * module, and registers itself here on construction. The COLD bench
  * mode (`SPARK_GRAFT_COLD=1`) clears a session's artifacts before
  * each measured query, so the first-pass price it records includes
  * every one-time build the warm min-of-2 methodology structurally
  * discards — the measured counterpart of the `artifact_builds`
  * sidecar's derived cold price.
  *
  * Clearing is safe by the artifacts' own read-only contract:
  * consumers never mutate cached frames, and every artifact re-derives
  * on demand — a clear between two query builds can only cost a
  * rebuild, never change a result.
  */
object SessionCaches {

  private val registry = new CopyOnWriteArrayList[SessionArtifact[_, _]]()

  private[graft] def register(a: SessionArtifact[_, _]): Unit = registry.add(a): Unit

  /** Every artifact declared so far. A module registers its artifacts
    * when its object initializes, so an artifact missing here has
    * never been built in this JVM.
    */
  private[graft] def artifacts: Seq[SessionArtifact[_, _]] = registry.asScala.toSeq

  /** Release whatever resource a dropped frame pins: the persist pin
    * if it has one, the checkpoint RDD if it is one — both are no-ops
    * otherwise.
    */
  private[graft] def releaseFrame(df: DataFrame): Unit = {
    df.unpersist(false)
    org.apache.spark.sql.GraftSql.releaseCheckpoint(df)
  }

  /** Drop every session artifact this session has built. */
  def clearAll(spark: SparkSession): Unit = artifacts.foreach(_.clear(spark))
}

/** One session artifact: a deterministic function of (session, corpus
  * dir, params), built once per key and held until
  * [[SessionCaches.clearAll]]. The artifact owns the whole caching
  * stack — the per-key map, the [[ArtifactLedger]] timing under
  * `name`, and (for frames, see the companion's constructors) the
  * [[graft.storage.ArtifactStore]] read-through and the pin — so an
  * owning module declares only the name, the pin and the build.
  *
  * `frames` lists the pinned frames a value holds: they are what
  * [[clear]] releases.
  */
final class SessionArtifact[P, V] private (
    val name: String,
    build: (SparkSession, String, P) => V,
    frames: V => Seq[DataFrame]) {

  private val held = new ConcurrentHashMap[(SparkSession, String, P), V]()
  SessionCaches.register(this)

  def apply(spark: SparkSession, d: String, params: P): V =
    held.computeIfAbsent((spark, d, params), _ =>
      ArtifactLedger.timed(name)(build(spark, d, params)))

  /** The parameter-free form. */
  def apply(spark: SparkSession, d: String)(implicit unit: Unit =:= P): V =
    apply(spark, d, unit(()))

  private def entries(spark: SparkSession): Seq[((SparkSession, String, P), V)] =
    held.asScala.iterator.filter(_._1._1 eq spark).toSeq

  /** The frames this artifact holds pinned for `spark`. */
  private[graft] def heldFrames(spark: SparkSession): Seq[DataFrame] =
    entries(spark).flatMap(e => frames(e._2))

  /** Drop this session's entries, releasing their pinned frames. */
  private[graft] def clear(spark: SparkSession): Unit =
    entries(spark).foreach { case (k, v) =>
      frames(v).foreach(SessionCaches.releaseFrame)
      held.remove(k)
    }
}

object SessionArtifact {

  /** How a frame artifact is held resident once built. */
  sealed trait Pin { def apply(df: DataFrame): DataFrame }

  object Pin {
    /** Eager `localCheckpoint()`. */
    case object Checkpoint extends Pin {
      def apply(df: DataFrame): DataFrame = df.localCheckpoint()
    }

    /** Eager checkpoint that stamps a keyed layout
      * ([[org.apache.spark.sql.GraftSql.localCheckpointKeyedBy]]), so
      * consumers keyed on `keys` co-partition against it.
      */
    final case class KeyedBy(keys: String*) extends Pin {
      def apply(df: DataFrame): DataFrame =
        org.apache.spark.sql.GraftSql.localCheckpointKeyedBy(df, keys)
    }

    /** Columnar cache, materialized by a count: for frames consumers
      * re-read many times, where compressed column batches scan faster
      * than a checkpointed row-RDD.
      */
    case object Persist extends Pin {
      def apply(df: DataFrame): DataFrame = {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
    }
  }

  /** The one read-through-and-pin path of every frame artifact,
    * stored under `store` for corpus `d`:
    *  - hit: pin the [[graft.storage.ArtifactStore]]'s copy;
    *  - miss: pin the build, write the pinned frame to the store, and
    *    serve it spread ([[spread]]). The build's lineage runs once and
    *    nothing is read back; a failed write is recorded in the
    *    [[ArtifactLedger]] and the pinned frame is served regardless.
    * With the store off, every call is a miss that writes nothing.
    */
  private[graft] def stored(spark: SparkSession, store: String, d: String, pin: Pin)
                           (build: => DataFrame): DataFrame =
    storedAt(spark, store, graft.storage.ArtifactStore.location(store, d), pin)(build)

  /** [[stored]] at an explicit store location (None: the store is off). */
  private[graft] def storedAt(spark: SparkSession, store: String, at: Option[java.io.File],
                              pin: Pin)(build: => DataFrame): DataFrame =
    at.flatMap(graft.storage.ArtifactStore.load(spark, _)) match {
      case Some(scan) => pin(scan)
      case None =>
        val pinned = pin(build)
        at.foreach(graft.storage.ArtifactStore.save(pinned, store, _))
        spread(pinned, pin)
    }

  /** A pinned build with fewer partitions than the session's
    * parallelism, re-pinned at that parallelism (the old pin released):
    * a store hit serves at least that many partitions
    * ([[graft.storage.ArtifactStore.load]]), and a miss must serve its
    * consumers the same width. The partition count of a pinned frame is
    * known without a job, so a build already fanned out (a corpus-sized
    * one at scale) passes through with no exchange. A keyed pin keeps
    * the layout its key established.
    */
  private def spread(pinned: DataFrame, pin: Pin): DataFrame = pin match {
    case _: Pin.KeyedBy => pinned
    case _ =>
      val target = pinned.sparkSession.sparkContext.defaultParallelism
      if (pinned.rdd.getNumPartitions >= target) pinned
      else {
        val wide = pin(pinned.repartition(target))
        SessionCaches.releaseFrame(pinned)
        wide
      }
  }

  /** A parameter-free frame, stored under its ledger name — or, with
    * `inStore = false`, pinned straight from the build (for a frame
    * derived from another pinned artifact in memory).
    */
  def frame(name: String, pin: Pin, inStore: Boolean = true)
           (build: (SparkSession, String) => DataFrame): SessionArtifact[Unit, DataFrame] =
    new SessionArtifact[Unit, DataFrame](name, (s, d, _) =>
      if (inStore) stored(s, name, d, pin)(build(s, d)) else pin(build(s, d)), Seq(_))

  /** A frame keyed on `P`, stored under `store(params)`. */
  def frameBy[P](name: String, pin: Pin, store: P => String)
                (build: (SparkSession, String, P) => DataFrame): SessionArtifact[P, DataFrame] =
    new SessionArtifact[P, DataFrame](name,
      (s, d, p) => stored(s, store(p), d, pin)(build(s, d, p)), Seq(_))

  /** A parameter-free frame whose build also returns scratch
    * checkpoints (a loop's last-round state, a trainer's inner pin):
    * they have no reader left once the pinned copy materializes, so
    * they are released right after the pin, and the artifact is held
    * once per session instead of twice.
    */
  def frameWithScratch(name: String, pin: Pin)
                      (build: (SparkSession, String) => (DataFrame, Seq[DataFrame]))
      : SessionArtifact[Unit, DataFrame] =
    new SessionArtifact[Unit, DataFrame](name, { (s, d, _) =>
      var scratch: Seq[DataFrame] = Nil
      val pinned = stored(s, name, d, pin) {
        val (f, sc) = build(s, d)
        scratch = sc
        f
      }
      scratch.foreach(org.apache.spark.sql.GraftSql.releaseCheckpoint)
      pinned
    }, Seq(_))

  /** Two frames built together under one ledger name; the build does
    * its own store reads and pins (through [[stored]]), and a clear
    * releases both.
    */
  def pair(name: String)(build: (SparkSession, String) => (DataFrame, DataFrame))
      : SessionArtifact[Unit, (DataFrame, DataFrame)] =
    new SessionArtifact[Unit, (DataFrame, DataFrame)](name,
      (s, d, _) => build(s, d), { case (a, b) => Seq(a, b) })

  /** A driver-held value (a fitted model), keyed on `P`: nothing to
    * pin or release, a clear just drops it.
    */
  def value[P, V](name: String)(build: (SparkSession, String, P) => V): SessionArtifact[P, V] =
    new SessionArtifact[P, V](name, build, _ => Nil)
}
