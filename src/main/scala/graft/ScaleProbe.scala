package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-trend probe for the heavy document operators (SURVEY §5).
  *
  * The correctness gate runs at toy SFs, but the design target is 100 TB —
  * so this tool MEASURES how the expensive shapes trend as the corpus
  * grows: it materializes the sf0.1 documents table at 1×/2×/4×/8× and
  * times the inverted-index joins, LSH banding, connected components, and
  * corpus-LM aggregation at each size.
  *
  * Replication detail that makes the experiment honest: every token of
  * replica i is prefixed with a distinct letter, so the portable token
  * values (length, first char, last char — TextFunctions.tokenVal) of
  * different replicas NEVER collide. Replicas are therefore disjoint in
  * shingle/band space: the corpus is genuinely N× larger with the same
  * per-replica duplicate structure, and a linear-shaped operator should
  * time ~N×. Naive replication (identical text) would instead make every
  * doc an N-way exact duplicate — candidate pairs would grow N², which
  * measures the pathology of the synthetic input, not the operator.
  *
  * Usage: sbt "runMain graft.ScaleProbe [baseSfDir] [workDir] [scales]"
  * Emits one JSON line per scale: {"scale":N,"docs":M,"queries":{...}}.
  *
  * `--skew` mode instead measures the STOP-SHINGLE cap: every replica
  * gets the SAME un-prefixed boilerplate sentence appended to 10% of its
  * docs, so the boilerplate shingles' df grows linearly with scale and
  * their candidate join term grows QUADRATICALLY — the one shape the
  * plain inverted index cannot absorb. It times d02 uncapped vs capped
  * (cap = 4× the base corpus's max shingle df — far above every
  * organic shingle, far below the planted hot ones) at each scale.
  */
object ScaleProbe {
  def main(rawArgs: Array[String]): Unit = {
    val skew = rawArgs.contains("--skew")
    val nightly = rawArgs.contains("--nightly")
    // --queries=a,b,c: probe only the named cells (targeted re-measures,
    // e.g. the graph family at 16× without paying the full suite). The
    // graphExtras consumer cells always run — they are the flat-consumer
    // half of every graph-family claim.
    val onlyQueries = rawArgs.find(_.startsWith("--queries="))
      .map(_.stripPrefix("--queries=").split(",").map(_.trim).toSet)
    val args = rawArgs.filterNot(a =>
      a == "--skew" || a == "--nightly" || a.startsWith("--queries="))
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val scales = (if (args.length > 2) args(2) else "1,2,4,8")
      .split(",").map(_.trim.toInt).toSeq
    // replica tokens are disambiguated by a single [a-z] prefix letter —
    // past 26 the prefix leaves the letter range and replica token values
    // would start colliding, silently voiding the disjointness argument
    require(scales.forall(s => s >= 1 && s <= 26),
      s"scales must be in [1, 26] (letter-prefix disjointness): $scales")
    val queries = Seq("d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash_lsh",
      "d07_dup_clusters", "t13_unigram_surprisal", "t19_bigram_surprisal",
      "t20_line_dedup", "t05_top_tokens", "s01_knn_brute", "s02_ann_lsh",
      "s06_range_search", "d15_paragraph_dedup", "t25_bpe_tokenize",
      "s09_pq_ann", "t26_pmi_collocations", "p10_neardup_corpus",
      "p11_leakage_repair", "s12_ann_ivf2", "m05_frame_reuse",
      "t27_url_dedup", "s14_ann_pca",
      // r9 additions: shard export, score-tiered sampling, external
      // decontamination, cluster-first semdedup
      "p12_training_shards", "p13_score_sample", "d16_benchmark_decontam",
      "d12b_semdedup_ivf", "s15_sq8_mips", "t29_vocab_growth",
      // r10 additions: exact-substring pairs (per-position index — the
      // probe measures the density-vs-exactness cost next to d11),
      // novelty scan (df join over the shingle index), span mask table
      "d17_exact_substring", "t30_novelty_scan", "p16_span_layout",
      "s18_filtered_knn",
      // the nightly incremental shape: the probe grows the WHOLE corpus
      // N× (old and new in d18's fixed 4:1 ratio), so linear wall here
      // plus the old×old-free join shape is the 100 TB claim
      "d18_incremental_neardup",
      // span surgery: the per-position occurrence index is the largest
      // relation in the repo (~|chars| rows) but the claim is strict
      // linearity — no pair join exists in the plan, so N× corpus must
      // be ~N× wall even though each replica's duplicated spans are
      // found in full (replica-disjoint window hashes keep cross-replica
      // fps from colliding, per-replica span structure constant)
      "d19_dup_spans",
      // late-r10 additions: funnel + drift are single-scan/partial-agg
      // shapes (the claim is flat-per-byte), the release diff's digest
      // join moves ~40 B/doc, code routing is one regexp strip pass,
      // d21 rides d07's components + one score join
      "p17_filter_funnel", "t31_source_drift", "p18_release_diff",
      "t32_code_detect", "d21_quality_canonical", "p19_zorder_layout",
      // r11 additions — the GRAPH family's linear path: the IVF
      // candidate build and one NN-Descent round must stay
      // sub-quadratic (the gated s19/s24/s25/s26 exact-graph entries
      // are the DECLARED quadratic yardsticks and are deliberately not
      // probed; their production consumers are probed below over the
      // IVF graph instead — the DEPLOY.md swap)
      "s19b_knn_graph_ivf", "s21_graph_refine",
      // r13: the range family's no-knob entries are footer-auto-sized
      // now (the last fixed index knob) — probe that s06/d13 track
      // sub-quadratically with the auto ⌈√n⌉ sizing
      "d13_semantic_decontamination")
        .filter(q => onlyQueries.forall(_.contains(q)))
    onlyQueries.foreach { only =>
      val unknown = only -- queries.toSet
      require(unknown.isEmpty, s"--queries names unprobed cells: $unknown")
    }

    val spark = Session()

    if (skew) {
      runSkew(spark, baseDir, workDir, scales)
      spark.stop()
      return
    }
    if (nightly) {
      runNightly(spark, baseDir, workDir, scales)
      spark.stop()
      return
    }

    val base = Tables.documents(spark, baseDir)
    val maxId = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    var warmed = false

    scales.foreach { n =>
      val dir = s"$workDir/scale$n"
      val replicas = (0 until n).map { i =>
        val ch = ('a' + i).toChar.toString
        base.select(
          (col("doc_id") + lit(i * maxId)).as("doc_id"),
          // letter prefix per token: replica token values are disjoint
          prefixedText(ch).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      replicas.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()

      // embeddings: id-shifted copies (vectors unchanged — the fixed
      // query set probes N×-bigger buckets, which is exactly the linear
      // growth the s01/s02 join shapes are supposed to absorb; replica 0
      // keeps the original ids so the query set itself is unchanged)
      // vec_id shifts by the DOCUMENT stride — vec_id lives in the
      // doc_id keyspace (s20/s25/s22 join them), so an embeddings-local
      // stride would re-attach replica i's vectors to replica 0's docs
      val baseEmb = Tables.embeddings(spark, baseDir)
      (0 until n).map(i => baseEmb.select(
          (col("vec_id") + lit(i * maxId)).as("vec_id"),
          col("embedding"), col("label")))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

      // the s25/s26 production consumers FED THE LINEAR IVF GRAPH
      // (s25Of/s26Of — the graph is a parameter exactly so this path
      // exists; linear-in-edges here is the s26 weak-grade closure).
      // The graph is PRE-BUILT and materialized outside the timers —
      // the build's own trend is the s19b column; these cells isolate
      // the CONSUMER's shape, which is what a production pipeline pays
      // per run against its persisted graph artifact
      val graphExtras: Seq[(String, () => Long)] = {
        import graft.operators.Similarity
        def labels = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("label"))
        val gIvf = Similarity.s19bKnnGraphIvf(spark, dir).localCheckpoint()
        Seq(
          "s25_of_ivf_graph" -> (() => Similarity.s25Of(labels,
            gIvf.select(col("query_id"), col("neighbor_id")),
            Similarity.S25Rounds).count()),
          "s26_of_ivf_graph" -> (() => Similarity.s26Of(gIvf, labels).count()))
      }
      // one untimed warmup pass before the first measured scale so JIT/
      // codegen/first-touch cost doesn't land in (only) the 1× cells —
      // without this the 8×/1× ratios understate growth
      if (!warmed) {
        queries.foreach(q => SparkEntry.queries(q)(spark, dir).count())
        graphExtras.foreach(_._2())
        warmed = true
      }
      val cells: Seq[(String, () => Long)] =
        queries.map(q => q -> (() => SparkEntry.queries(q)(spark, dir).count())) ++
          graphExtras
      val times = cells.map { case (q, f) =>
        val runs = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          f()
          (System.nanoTime() - t0) / 1e9
        }
        q -> runs.min
      }
      val qJson = times.map { case (q, s) => s""""$q":${f"$s%.2f"}""" }
        .mkString(",")
      println(s"""SCALEPROBE {"scale":$n,"docs":$docs,"queries":{$qJson}}""")
    }
    spark.stop()
  }


  /** The letter-prefix token transform every scale experiment's
    * disjointness argument rests on — single-sourced (r12 review): a
    * replica's every token gains prefix `ch`, so portable token values
    * (length/first/last char) never collide across replicas. */
  private def prefixedText(ch: String): org.apache.spark.sql.Column =
    array_join(transform(split(trim(col("text")), "\\s+"),
      t => concat(lit(ch), t)), " ")

  /** `--nightly` mode (round 12): the d18 NIGHTLY cycle's history
    * trend, measured through the real `graft.Nightly.runCycle` — a
    * FIXED arrival batch probed + absorbed against a generation tree
    * whose base corpus grows 1×/4×/16×. Arrivals re-use replica 0's
    * token space under fresh (disjoint) doc ids, so the PAIR WORK is
    * constant at every scale (same near-dup structure against the
    * replica-0 slice); what grows is only the at-rest index. DEPLOY.md
    * documents the expectation this probe verifies: on an unbucketed
    * local tree the cycle's wall grows with the INDEX SCAN (the probe
    * join must read the at-rest shingle rows — the `index_scan` column
    * attributes exactly that share), while the pair/join work stays
    * flat (`pairs` constant); a production catalog removes the scan
    * term by bucketing the at-rest index on `h`, which is a layout
    * decision, not a plan change. Each scale builds a FRESH tree (the
    * cycle absorbs; reuse would compound history across cells). */
  private def runNightly(spark: SparkSession, baseDir: String,
      workDir: String, scales: Seq[Int]): Unit = {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, baseDir)
      .select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // fixed batch: every 10th replica-0 doc, 'a'-prefixed tokens (the
    // replica-0 space), ids shifted far past any replica (scales ≤ 26)
    val arrDir = s"$workDir/nightly-arrivals"
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(100L * maxId)).as("doc_id"),
        prefixedText("a").as("text"))
      .write.mode("overwrite").parquet(arrDir)
    var warmed = false
    scales.foreach { n =>
      val dir = s"$workDir/nightly-scale$n"
      val corpus = (0 until n).map { i =>
        val ch = ('a' + i).toChar.toString
        docs.select(
          (col("doc_id") + lit(i * maxId)).as("doc_id"),
          prefixedText(ch).as("text"))
      }.reduce(_ union _)
      Dedup.d18BuildIndex(corpus, s"$dir/tree/base")
      if (!warmed) { // one throwaway cycle: JIT + first-touch outside the timers
        Dedup.d18BuildIndex(corpus, s"$dir/warmtree/base")
        Nightly.runCycle(spark, s"$dir/warmtree", arrDir, s"$dir/warmpairs")
        warmed = true
      }
      // attribution: a GENUINE full read of the index's h column (the
      // side the probe join streams). A bare count() would be served
      // from parquet footer metadata without touching a data page
      // (r12 review) — sum(h) forces every page through the reader.
      // Measured BEFORE the cycle on the exact generation set the
      // cycle's probe reads (fresh tree per scale ⇒ live gens = base;
      // the cycle excludes its own batch, r13 ADVICE). Caveat stated
      // where the number is read: d18BuildIndex just wrote these pages,
      // so the read is OS-page-cache warm — it bounds decode/reader
      // cost, not cold-device IO.
      val t1 = System.nanoTime()
      spark.read.parquet(s"$dir/tree/base").agg(sum(col("h"))).head()
      val scanSec = (System.nanoTime() - t1) / 1e9
      val indexRows = spark.read.parquet(s"$dir/tree/base").count()
      // r13: the bucketed at-rest option measured against the flat
      // layout on the SAME base + arrivals — the probe join is the
      // history-sized term, and the bucketed table supplies its
      // clustering from the layout (no index-side exchange), so its
      // growth should track the raw page read, not read + shuffle.
      // Symmetric warming (review): the bucketed build runs BEFORE
      // anything is timed (its corpus-sized write would otherwise sit
      // between the measurements, evicting one side's pages), and BOTH
      // probes get one untimed pass each — codegen/first-touch for the
      // bucketed plan shape is not covered by the cycle warm-up.
      val arrivals = spark.read.parquet(arrDir)
        .select(col("doc_id"), col("text"))
      Dedup.d18BuildIndexBucketed(corpus, s"nightly_bucketed_$n",
        s"$dir/bucketed", 32)
      Dedup.d18FromIndex(spark, s"$dir/tree/base", arrivals).count()
      Dedup.d18FromIndexBucketed(spark, s"nightly_bucketed_$n", arrivals).count()
      val tf = System.nanoTime()
      Dedup.d18FromIndex(spark, s"$dir/tree/base", arrivals).count()
      val probeFlatSec = (System.nanoTime() - tf) / 1e9
      val tb = System.nanoTime()
      Dedup.d18FromIndexBucketed(spark, s"nightly_bucketed_$n", arrivals).count()
      val probeBucketedSec = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      val (_, nPairs, selfPairs, _, _) =
        Nightly.runCycle(spark, s"$dir/tree", arrDir, s"$dir/pairs")
      val cycleSec = (System.nanoTime() - t0) / 1e9
      // the bucketed build registers an EXTERNAL table in the session
      // catalog/warehouse — drop it (and its path) once the cell's
      // measurements are done, or every probe run leaks one table per
      // scale into the shared warehouse (r13 ADVICE; DedupSpec's rule)
      spark.sql(s"DROP TABLE IF EXISTS nightly_bucketed_$n")
      val bktP = new org.apache.hadoop.fs.Path(s"$dir/bucketed")
      val bktFs = bktP.getFileSystem(spark.sessionState.newHadoopConf())
      if (bktFs.exists(bktP)) bktFs.delete(bktP, true)
      println(f"""SCALEPROBE {"mode":"nightly","scale":$n,"index_rows":$indexRows,""" +
        f""""cycle_sec":$cycleSec%.2f,"index_scan_sec":$scanSec%.2f,""" +
        f""""scan_basis":"pre-cycle over the probe's generation set; page-cache warm",""" +
        f""""probe_flat_sec":$probeFlatSec%.2f,""" +
        f""""probe_bucketed_sec":$probeBucketedSec%.2f,""" +
        f""""pairs":$nPairs,"self_pairs":$selfPairs}""")
    }
  }

  /** Stop-shingle cap experiment — see the object doc. */
  private def runSkew(spark: SparkSession, baseDir: String, workDir: String,
      scales: Seq[Int]): Unit = {
    import graft.functions.{TextFunctions => TF}
    val boiler = "subscribe to our newsletter for weekly updates and " +
      "follow us on every major social platform today"
    val base = Tables.documents(spark, baseDir)
    val maxId = base.agg(max(col("doc_id"))).head().getLong(0) + 1
    // cap calibration: organic shingle df never grows with scale (replica
    // tokens are letter-prefix disjoint), so 4× the BASE corpus max df
    // cleanly separates organic from planted-hot at every scale
    val baseMaxDf = base
      .withColumn("toks", TF.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(explode(graft.functions.NativeFunctions.shingleHashes(col("toks"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .agg(max(col("df"))).head().getLong(0)
    val cap = 4 * baseMaxDf
    println(s"""SCALEPROBE-SKEW-CAP {"base_max_df":$baseMaxDf,"cap":$cap}""")
    var warmed = false
    var warmed18 = false
    scales.foreach { n =>
      val dir = s"$workDir/skew$n"
      val replicas = (0 until n).map { i =>
        val ch = ('a' + i).toChar.toString
        base.select(
          (col("doc_id") + lit(i * maxId)).as("doc_id"),
          prefixedText(ch).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      replicas.reduce(_ unionAll _)
        // the boilerplate is NOT letter-prefixed: its shingles are shared
        // across replicas, so their df — and the uncapped join's hot
        // term — grows with the scale
        .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet").count()
      if (!warmed) { // JIT/codegen warmup outside the measured cells
        graft.operators.Dedup.d02NgramJaccard(spark, dir, cap).count()
        warmed = true
      }
      def best(f: => Long): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      val tCapped = best(graft.operators.Dedup.d02NgramJaccard(spark, dir, cap).count())
      val tUncapped = best(graft.operators.Dedup.d02NgramJaccard(spark, dir).count())
      println(f"""SCALEPROBE-SKEW {"scale":$n,"docs":$docs,""" +
        f""""uncapped":$tUncapped%.2f,"capped":$tCapped%.2f}""")

      // d18 nightly under the same skew: the %10==0 plant above never
      // lands in d18's %5==3 batch, so the incremental join would be
      // accidentally immune — re-plant on %10 ∈ {0,3} so boilerplate
      // sits on BOTH sides of the nightly (index and batch), then time
      // the probe against a raw index (uncapped), with the per-night
      // dfCapped knob (pays the df re-scan), and against a BUILD-capped
      // index (d18BuildIndex(_, _, cap): hot keys never in the
      // artifact, zero nightly df passes). Index builds are per-release
      // amortized and excluded from the nightly timings.
      val dir18 = s"$workDir/skew18_$n"
      replicas.reduce(_ unionAll _)
        .withColumn("text", when(pmod(col("doc_id"), lit(10)).isin(0L, 3L),
          concat(col("text"), lit(" " + boiler))).otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$dir18/documents.parquet")
      val full18 = spark.read.parquet(s"$dir18/documents.parquet")
      val isNew = pmod(col("doc_id"), lit(graft.operators.Dedup.IncrementalNewMod)) ===
        lit(graft.operators.Dedup.IncrementalNewRem)
      val batch18 = full18.filter(isNew)
      graft.operators.Dedup.d18BuildIndex(full18.filter(!isNew), s"$dir18/idx_raw")
      graft.operators.Dedup.d18BuildIndex(full18.filter(!isNew), s"$dir18/idx_capped", cap)
      if (!warmed18) {
        graft.operators.Dedup.d18FromIndex(spark, s"$dir18/idx_capped", batch18).count()
        warmed18 = true
      }
      val tD18U = best(graft.operators.Dedup
        .d18FromIndex(spark, s"$dir18/idx_raw", batch18).count())
      val tD18N = best(graft.operators.Dedup
        .d18FromIndex(spark, s"$dir18/idx_raw", batch18, cap).count())
      val tD18B = best(graft.operators.Dedup
        .d18FromIndex(spark, s"$dir18/idx_capped", batch18).count())
      // the composed nightly: build-capped index + batch-local cap —
      // strictly constant-in-history AND bounded under batch boilerplate
      val tD18C = best(graft.operators.Dedup
        .d18FromIndex(spark, s"$dir18/idx_capped", batch18,
          graft.operators.Dedup.NoDfCap, cap).count())
      println(f"""SCALEPROBE-SKEW-D18 {"scale":$n,"docs":$docs,""" +
        f""""uncapped":$tD18U%.2f,"nightly_cap":$tD18N%.2f,"build_cap":$tD18B%.2f,""" +
        f""""combo":$tD18C%.2f}""")
    }
  }
}
