package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-order-independent output digest: the row count plus the exact
  * (decimal) sum of a per-row `xxhash64` over every column. Map columns
  * are hashed as their key-sorted entry arrays, since `xxhash64` does
  * not accept maps and a map's entry order is not part of its value.
  *
  * The digest rides the timed write through `Dataset.observe`, so a
  * query is executed once, not once to time and again to check.
  */
final case class Digest(rows: Long, hash: BigDecimal) {
  override def toString: String = s"$rows:$hash"
}

object Digest {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ if hasMap(t) => to_json(c)
    case _ => c
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => hashable(col(s"`${f.name}`"), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** `df` with an observation attached; read it with [[read]] after an
    * action on the returned frame has finished.
    */
  def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val o = df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0)))
        .as("hash"))
    (o, obs)
  }

  def read(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long],
      BigDecimal(m("hash").asInstanceOf[java.math.BigDecimal]))
  }

  /** Digest by a separate aggregation (used off the timed path). */
  def of(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(rowHash(df).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))))
      .head()
    Digest(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}
