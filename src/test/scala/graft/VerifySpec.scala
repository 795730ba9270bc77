package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Verify's dump names every failed query instead of skipping it, and
  * still writes the queries that succeed. */
class VerifySpec extends GraftSuite {

  test("dump returns the failed queries and writes the good ones") {
    val out = Files.createTempDirectory("verify-spec").toString
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "bad_build" -> ((_, _) => throw new IllegalStateException("planted")),
      "good" -> ((s, _) => s.range(3).toDF("id")),
      "bad_run" -> ((s, _) =>
        s.range(3).select(raise_error(lit("planted")).as("x"))))
    assert(Verify.dump(spark, queries, sf, out) === Seq("bad_build", "bad_run"))
    assert(spark.read.parquet(s"$out/good").count() === 3)
    assert(!new java.io.File(s"$out/bad_build").exists())
  }
}
