package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1 after
  * writing everything if any query failed, naming each on stderr. */
object Verify {
  /** Writes each query's result to `outDir/<name>` as one parquet file
    * and returns the names of the queries that failed, in order. */
  def dump(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, outDir: String): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(name)
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional 3rd arg: comma-separated query-name filter (local iteration).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark,
      SparkEntry.queries.toSeq.filter { case (name, _) => only.forall(_.contains(name)) },
      sfDir, outDir)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Shared-intermediate oracle forms for the heavy family (r14) —
    // consumed by scripts/check_heavy.py for the docs16x gate; the
    // driver's own gate keeps reading oracle_sql.json unchanged.
    val shared = {
      val prel = OracleShared.prelude
        .map { case (n, s) => s"[${q(n)}, ${q(s)}]" }.mkString("[", ",", "]")
      val qs = OracleShared.queries
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
      val dir = OracleShared.direct.map(q).mkString("[", ",", "]")
      s"""{"prelude": $prel, "queries": $qs, "direct": $dir}"""
    }
    Files.writeString(Paths.get(s"$outDir/oracle_shared.json"), shared)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
