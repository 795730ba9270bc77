package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The runnable RELEASE build ops main (round 13) — the p20 staged
  * clean → neardup-keep → span-surgery → leakage-repair chain as a
  * schedulable command ([[Nightly]]'s precedent: the second half of the
  * ops story; a corpus team runs `Nightly` every night and `Release`
  * every release cut).
  *
  * One invocation = one release build attempt: every stage publishes
  * CRASH-SAFE under `workDir` (tmp-write + rename, `_SUCCESS`-gated —
  * [[graft.operators.Pipelines.p20StagesCheckpointed]]'s contract
  * verbatim, because that IS the body), so a killed build re-launched
  * with the same arguments resumes from the last committed stage
  * byte-identically and completed stages never recompute. On top of the
  * four corpus stages it publishes the release DATASHEET
  * ([[graft.operators.Pipelines.p21ReleaseDatasheet]] — size,
  * composition, duplication, drift, routing + the per-stage build
  * waterfall) as a fifth committed artifact, then emits one JSON
  * summary line with the audit waterfall.
  *
  * Usage:
  * {{{
  *   runMain graft.Release <corpusDir> <workDir> \
  *     [minTokens] [minQuality] [repairTau]
  * }}}
  * `corpusDir` holds the documents table; `workDir` receives
  * `stage0-raw` … `stage4-leakage_repair` + `datasheet`. The released
  * corpus is the `stage4-leakage_repair` parquet; re-running after
  * completion is a no-op that re-prints the summary from the artifacts.
  * Trailing knobs (defaults = the library's cleaning constants) are
  * PINNED in the workDir on first build: a relaunch under different
  * values refuses loudly instead of silently serving stages computed
  * under the old regime.
  *
  * Reference anchor: the reference's batch jobs are each one scan with
  * a side effect (e.g. SampleMapRed.java's decode-then-scan pass); this
  * main is the library's composed production counterpart — the full
  * release pipeline behind one command. */
object Release {

  /** One build (resume-aware) — factored from `main` so the smoke spec
    * drives the CLI path directly. Returns (per-stage audit rows,
    * datasheet). Knobs are pinned in the workDir: a relaunch under
    * different knobs refuses instead of silently mixing regimes. */
  private[graft] def runBuild(spark: SparkSession, corpusDir: String,
      workDir: String,
      knobs: operators.Pipelines.P20Knobs = operators.Pipelines.P20Knobs())
      : (DataFrame, DataFrame) = {
    val audit =
      operators.Pipelines.p20ReleaseBuild(spark, corpusDir, workDir, knobs)
    // the datasheet is artifact #6 under the SAME resume contract: a
    // committed sheet is served, never recomputed (its sections scan
    // the full released corpus — not free at release scale)
    val sheet = operators.Pipelines.publishArtifact(spark, workDir, "datasheet")(
      operators.Pipelines.p21ReleaseDatasheet(spark, corpusDir, workDir, knobs))
    (audit, sheet)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 5,
      "usage: graft.Release <corpusDir> <workDir> " +
        "[minTokens] [minQuality] [repairTau]")
    val knobs = operators.Pipelines.P20Knobs(
      minTokens = if (args.length > 2) args(2).toInt
        else operators.Pipelines.CleanMinTokens,
      minQuality = if (args.length > 3) args(3).toDouble
        else operators.Pipelines.CleanMinQuality,
      repairTau = if (args.length > 4) args(4).toDouble
        else operators.Pipelines.RepairTau)
    val spark = Session()
    try {
      val (audit, sheet) = runBuild(spark, args(0), args(1), knobs)
      val stages = audit.collect().sortBy(_.getAs[Int]("stage")).map { r =>
        s"""{"stage":${r.getAs[Int]("stage")},""" +
          s""""name":"${r.getAs[String]("stage_name")}",""" +
          s""""docs":${r.getAs[Long]("n_docs")},""" +
          s""""chars":${r.getAs[Long]("n_chars")}}"""
      }.mkString("[", ",", "]")
      val sheetRows = sheet.count()
      println(s"""RELEASE {"stages":$stages,"datasheet_rows":$sheetRows,""" +
        s""""released":"${args(1)}/stage4-leakage_repair"}""")
    } finally spark.stop()
  }
}
