package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The runnable NIGHTLY dedup ops main (round 12) — the d18 production
  * cycle (build → probe → absorb → compact) as a schedulable command,
  * not just a shape living inside specs and the streaming twins.
  *
  * One invocation = one "night": probe the arrivals against the at-rest
  * generation tree, write the pair report, absorb the arrivals as a new
  * committed generation, fold old generations past `maxGenerations`.
  * The body is [[graft.streaming.StreamIncDedup.processBatch]] — the
  * SAME code the ingest twin executes per micro-batch (single-sourcing
  * rule: the nightly and the stream cannot drift), so every crash-safety
  * property carries over: compaction-swap recovery runs first, a
  * recycled batch id refuses from the horizon manifest, a crashed
  * night's uncommitted debris is swept and the night re-runs
  * idempotently, and a committed leftover under the same id
  * content-compares (genuine re-run = no-op, collision = loud refusal).
  *
  * The batch id is DERIVED from the tree: max committed generation /
  * horizon + 1 — UNLESS the newest committed generation content-matches
  * this batch (the night crashed after its absorb commit, e.g. during
  * the pairs write or compaction), in which case the night resumes
  * under its own id and the absorb replays to a no-op. So a crashed
  * night re-runs idempotently from ANY crash point. Re-launching a
  * completed night with genuinely NEW arrivals that collide on doc_id
  * is d18's disjointness-contract breach, which the output itself
  * flags as `doc_i == doc_j` self-pair rows (counted in the summary
  * line; alert on nonzero). Pass an explicit id as the 6th argument
  * when an external scheduler owns id assignment.
  *
  * Usage:
  * {{{
  *   runMain graft.Nightly <indexRoot> <arrivalsDir> <pairsOutDir> \
  *     [batchMaxDf] [maxGenerations] [batchId]
  * }}}
  * `indexRoot` must hold `base` written by `Dedup.d18BuildIndex(docs,
  * s"\$root/base" [, releaseCap])`; `arrivalsDir` is parquet with
  * (doc_id, text). Emits one JSON summary line on stdout.
  *
  * Reference anchor: the batch arrival loop of IngestTest.java — this
  * is that nightly re-scan carrying d18's dedup contract. */
object Nightly {

  /** One night's cycle — factored from `main` so the smoke spec drives
    * it directly. Returns (batchId, nPairs, nSelfPairs, foldedCount,
    * horizonAfter). */
  private[graft] def runCycle(spark: SparkSession, indexRoot: String,
      arrivalsDir: String, pairsOut: String,
      batchMaxDf: Long = operators.Dedup.NoDfCap,
      maxGenerations: Int = 64,
      explicitBatchId: Option[Long] = None): (Long, Long, Long, Int, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    streaming.GenerationTree.recover(fs, root)
    // next id above everything the tree has seen: committed generations
    // AND the horizon (folded ids must never be recycled) — an
    // UNCOMMITTED leftover's id is deliberately reused so a crashed
    // night resumes under its own id instead of stranding debris
    val horizon0 = streaming.GenerationTree.horizon(fs, root)
    val gensById = streaming.GenerationTree
      .liveGenerations(fs, root, None)
      .flatMap(p => streaming.GenerationTree.genId(p.getName).map(_ -> p))
    val committedMax = gensById.map(_._1).foldLeft(horizon0)(math.max)
    val arrivals = spark.read.parquet(arrivalsDir)
      .select(col("doc_id"), col("text"))
    // Crash-window closure (r12 review): a night that died AFTER the
    // absorb commit (during compaction, the pairs write, or the summary)
    // must RESUME under its own id on relaunch — committedMax + 1 would
    // silently re-absorb the same arrivals as a "new" night, doubling
    // d18's df counts with no refusal firing. Detection reuses
    // processBatch's replay rule: if the NEWEST committed generation
    // content-matches what this batch would absorb, this night already
    // absorbed — replay it (the absorb content-compares to a no-op and
    // the pair report recomputes identically, because the probe reads
    // the tree WITHOUT the batch's own generation). Identical content
    // under two genuinely different nights is impossible within d18's
    // id-disjointness contract (same rows = same doc_ids = the
    // re-crawl breach the self-pair alert exists for).
    // Steady-state cost discipline (r12 ADVICE): a HEALTHY night (new
    // content) must not pay two exceptAll jobs to learn it isn't a
    // replay. Prior's row count is parquet-footer-served (no data
    // pages); the shingled arrivals are persisted so the count and the
    // compare share one shingle pass; and with EQUAL multiset sizes one
    // empty exceptAll direction already proves multiset equality, so
    // the second direction is dropped. The verdict is passed into
    // processBatch so the comparison never runs twice.
    var verifiedReplay = false
    val batchId = explicitBatchId.getOrElse {
      val replayOfLast = committedMax > horizon0 &&
        gensById.find(_._1 == committedMax).exists { case (_, p) =>
          val fresh = operators.Dedup.dfCapped(
            operators.Dedup.shingleIndexRows(arrivals), "h", batchMaxDf)
            .persist()
          try {
            val prior = spark.read.parquet(p.toString)
              .select(fresh.columns.map(col): _*)
            fresh.count() == prior.count() &&
              prior.exceptAll(fresh).limit(1).count() == 0
          } finally fresh.unpersist(false)
        }
      verifiedReplay = replayOfLast
      if (replayOfLast) committedMax else committedMax + 1
    }
    val pairs = streaming.StreamIncDedup
      .processBatch(arrivals, indexRoot, batchId, batchMaxDf,
        replayVerified = verifiedReplay)
    pairs.write.mode("overwrite").parquet(pairsOut)
    // one read-back pass over the artifact of record: count and the
    // self-pair alert in a single aggregation job
    val row = spark.read.parquet(pairsOut).agg(
      count(lit(1)).as("n"),
      sum(when(col("doc_i") === col("doc_j"), 1L).otherwise(0L)).as("self"))
      .head()
    val n = row.getLong(0)
    val selfPairs = if (row.isNullAt(1)) 0L else row.getLong(1)
    val (folded, horizon) =
      if (streaming.GenerationTree.committedBatchCount(fs, root) > maxGenerations)
        // dedupe OFF: the shingle index counts occurrences (d18's df
        // arithmetic) — every row must survive the fold
        streaming.GenerationTree.compact(spark, indexRoot)
      else (0, streaming.GenerationTree.horizon(fs, root))
    (batchId, n, selfPairs, folded, horizon)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 6,
      "usage: graft.Nightly <indexRoot> <arrivalsDir> <pairsOutDir> " +
        "[batchMaxDf] [maxGenerations] [batchId]")
    val batchMaxDf =
      if (args.length > 3) args(3).toLong else operators.Dedup.NoDfCap
    val maxGenerations = if (args.length > 4) args(4).toInt else 64
    val explicitId = if (args.length > 5) Some(args(5).toLong) else None
    val spark = Session()
    try {
      val (id, n, selfPairs, folded, horizon) = runCycle(
        spark, args(0), args(1), args(2), batchMaxDf, maxGenerations, explicitId)
      // nonzero self_pairs = the disjointness-contract alert (a re-run
      // of an already-absorbed night, or a re-crawled id): the tree
      // needs a rebuild, not a patch — see d18FromIndex's doc
      println(s"""NIGHTLY {"batch_id":$id,"pairs":$n,"self_pairs":$selfPairs,""" +
        s""""folded_generations":$folded,"horizon":$horizon}""")
    } finally spark.stop()
  }
}
