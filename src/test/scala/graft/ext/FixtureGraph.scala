package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSql

/** A test's own link graph of a fixture corpus, for the Graph cores to
  * run on: the directed edge checkpoint ([[Graph.linkEdgesDf]]) and, on
  * first use, the undirected checkpoint derived from it
  * ([[Graph.undirectedOf]], the derivation the session pin runs) and
  * its orientation ([[Graph.orientOn]]). The cores never release the
  * tables they are given, so [[FixtureGraph.of]] releases every
  * checkpoint the graph owns when its body returns: the body must
  * consume what it builds on them first.
  */
final class FixtureGraph private (docs: DataFrame) {
  private val owned = scala.collection.mutable.Buffer.empty[DataFrame]

  /** Hands a checkpoint the body built to the graph, which releases it
    * with its own tables.
    */
  def own(df: DataFrame): DataFrame = { owned += df; df }

  val edges: DataFrame = own(Graph.linkEdgesDf(docs).localCheckpoint())

  lazy val undirected: DataFrame = own(Graph.undirectedOf(edges).localCheckpoint())

  /** (oriented edges, undirected degrees) of the triangle family. */
  lazy val oriented: (DataFrame, DataFrame) = {
    val (oe, udeg) = Graph.orientOn(undirected)
    (own(oe), own(udeg))
  }
}

object FixtureGraph {
  def of[T](docs: DataFrame)(body: FixtureGraph => T): T = {
    val g = new FixtureGraph(docs)
    try body(g) finally g.owned.foreach(GraftSql.releaseCheckpoint)
  }
}
