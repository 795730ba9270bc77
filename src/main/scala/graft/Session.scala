package graft

import org.apache.spark.sql.SparkSession

/** The engine's declared session: every main and the shared test session
  * build theirs here, so a tool plans a query the way Verify gates it and
  * Bench times it.
  *
  * Declared defaults:
  *  - `local[n]` with n shuffle partitions, n = SPARK_GRAFT_CPUS, else
  *    every core. DEPLOY.md's sizing rule says grow the partitions with
  *    the data; the overlay below is the way to try that.
  *  - `GraftExtensions`: native expressions, planner rules, TopKPerGroup.
  *  - Shuffled hash over sort-merge joins. Above the broadcast threshold
  *    both sides are exchanged on the key anyway, and SMJ additionally
  *    SORTS the fact side — stage-profiled at sf10, q05's post-shuffle
  *    stage burned 100 executor-CPU-s of which ~35 s was sorting 60M rows
  *    that the hash build never needs (8.1 s → 5.5 s wall). DuckDB
  *    hash-joins everything too. At 100 TB the build side is the
  *    per-partition slice of the SMALLER input (bounded by shuffle sizing,
  *    AQE splits skew), and Spark's SHJ spills since 3.x, so the plan
  *    degrades to disk instead of OOM on a hot key.
  *  - `InferFiltersFromGenerate` excluded: it re-inlines the full generator
  *    expression into a pre-Generate filter, which for the interpreted
  *    higher-order shingle/minhash arrays re-runs tokenization per row
  *    (~5x slower at sf0.1). The rule only prunes empty arrays.
  *  - `nanosAsLong`: `events.parquet` carries TIMESTAMP(NANOS).
  *  - UTC session time zone; UI off.
  *
  * Scan-task size and broadcast threshold stay at Spark's own 128m and
  * 10 MB. Measured A/B (r15): 8m scan tasks read sf1's heavy queries in
  * 12.2 s vs 9.1 s (they are shuffle-agg bound, small tasks add overhead);
  * a 64m broadcast threshold made sf10's heavy set 2-7× WORSE, because
  * BroadcastExchange collects and builds the hash relation single-threaded
  * on the driver (q26 6.9 s → 16.5 s, q43 1.2 s → 8.8 s).
  *
  * Last comes SPARK_GRAFT_CONF="k=v;k=v", an overlay of Spark confs for
  * scoped experiments (join strategy, codec, AQE sizes, ...), so an
  * experiment can override any default without editing a tool, e.g.
  * `SPARK_GRAFT_CONF="spark.sql.join.preferSortMergeJoin=true"`. */
object Session {
  /** Local worker threads and shuffle partitions. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def defaults(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Parses an overlay "k=v;k=v"; blank entries are ignored. */
  def overlay(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry not k=v: $kv")
      kv.take(i).trim -> kv.drop(i + 1).trim
    }

  /** Every setting in the order it is applied; a later key wins. */
  def settings(cpus: Int, overlaySpec: String): Seq[(String, String)] =
    defaults(cpus) ++ overlay(overlaySpec)

  def builder(): SparkSession.Builder =
    settings(cpus, sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The declared session, logging at WARN. */
  def apply(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
