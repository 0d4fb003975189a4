package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is named on stderr, and the run exits non-zero once
  * oracle_sql.json is written.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: further args name a subset of queries to dump (the
    // builder's fast local oracle check); no extra args = all queries.
    // Unknown names fail fast — a typo'd subset would otherwise dump
    // nothing and look like a passing check.
    val only = args.drop(2).toSet
    require(only.subsetOf(SparkEntry.queries.keySet),
      s"unknown queries: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    // FAIL LOUD: every failure is collected, named and turned into a
    // non-zero exit once the oracle file is written
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** A JSON string literal. Escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in hand-written oracle SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
