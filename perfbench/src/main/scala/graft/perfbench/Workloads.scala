package graft.perfbench

import graft.{CdrCorpus, ScaleGen, SparkEntry}
import graft.functions.{NativeFunctions => NF}
import graft.sources.SeqFile
import graft.streaming.{Ingest, Wiretap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark op. `build` is the call into the engine that returns
  * the work (the driver layer); `act` runs it and returns the values the
  * correctness check compares. `expected` is the closed-form answer; an
  * op without one (`oracle`) is checked against DuckDB on its dumped
  * result instead. */
final case class Op(name: String, build: () => AnyRef,
    act: AnyRef => Seq[Long], expected: Option[Seq[Long]]) {
  def oracle: Boolean = expected.isEmpty
}

/** Fixture sizes of one workload. `Full` is what the benchmark measures;
  * `Smoke` is the seconds-long variant the tests run. */
final case class Sizes(relReplicas: Int, cdrRecords: Long, cdrSlice: Long)

object Workloads {
  val Names: Seq[String] = Seq("sql", "cdr", "planted")

  val Full = Sizes(relReplicas = 2, cdrRecords = 160000L, cdrSlice = 40000L)
  val Smoke = Sizes(relReplicas = 1, cdrRecords = 10000L, cdrSlice = 2500L)

  /** Files the CDR corpus is written as; the encoded-scan slice is a
    * prefix of them, so its record count is exact. */
  val CdrFiles = 16

  /** Ops of the query workload, all oracle-gated: scan + partial
    * aggregate (q01), a three-way join under a top-n (q03, one of the
    * joins behind the Bloom-shed gate), shingle + minhash LSH dedup (d03)
    * and brute-force kNN with cosine under TopKPerGroup (s01). Each query
    * costs 0.5 to 1.5 s on a 4-core box, mostly fixed driver and
    * scheduler cost, so a pass over all 141 oracle-gated queries (about
    * 110 s) would not fit a run. */
  val SqlOps: Seq[String] = Seq("q01_pricing_summary", "q03_shipping_priority",
    "d03_minhash_lsh", "s01_knn_brute")

  /** Writes the workload's inputs under `dir` (a fresh directory). */
  def generate(spark: SparkSession, workload: String, base: String,
      dir: String, s: Sizes): Unit = workload match {
    // relational tables replicated, documents and embeddings as they are
    case "sql" => ScaleGen.generate(spark, base, dir, s.relReplicas)
    case "cdr" =>
      ScaleGen.generateCdr(spark, s"$dir/corpus", s.cdrRecords, CdrFiles)
      // the SequenceFile the read op scans (the write op has its own
      // target, so op order never matters)
      SeqFile.writeSequenceFile(
        CdrCorpus.lines(spark, s.cdrSlice, CdrFiles).select(col("value").as("line")),
        s"$dir/seqfile")
    case "planted" => spark.range(1000).write.parquet(s"$dir/range.parquet")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def ops(spark: SparkSession, workload: String, dir: String, work: String,
      s: Sizes): Seq[Op] = workload match {
    case "sql" => SqlOps.map(queryOp(spark, dir))
    case "cdr" => cdrOps(spark, dir, work, s)
    case "planted" => plantedOps(spark, dir)
  }

  private def queryOp(spark: SparkSession, dir: String)(name: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, () => fn(spark, dir), df => { noop(df.asInstanceOf[DataFrame]); Nil }, None)
  }

  private def rows(df: AnyRef): Seq[Long] = Seq(df.asInstanceOf[DataFrame].count())

  /** The reference's CDR pipeline over the generated corpus; every
    * expected value is closed-form residue arithmetic on record ids. */
  private def cdrOps(spark: SparkSession, dir: String, work: String,
      s: Sizes): Seq[Op] = {
    import CdrCorpus._
    val n = s.cdrRecords
    val corpus = s"$dir/corpus"
    val text = () => spark.read.text(corpus)
    val v2 = () => spark.read.format("graft-cdr")
      .option("splitBytes", 64L * 1024 * 1024).load(corpus)
    val grepPat = s"${Events(6)}: proto 3"
    val eGrep = residueCount(n, Seq(Events.size.toLong -> 6L, 7L -> 3L))
    val eFind = residueCount(n, Seq(NeedleMod -> NeedleRem))
    val eUser = residueCount(n, Seq(UserMod -> 42L))
    val eProto = residueProtoSum(n, Seq(1L -> 0L))
    val sliceFiles = {
      val parts = new java.io.File(corpus).listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getPath).sorted
      parts.take((parts.length * s.cdrSlice / n).toInt).toSeq
    }
    def tap(): Wiretap = {
      val t = new Wiretap
      t.register("grepper", grepPat)
      t.register("ipfinder", NeedleIp.replace(".", "\\."))
      t.register("userwatch", "\\[USER42\\]:")
      t
    }
    val eTap = eGrep + eFind + eUser
    Seq(
      Op("count_v2", v2, rows, Some(Seq(n))),
      Op("grep", () => text().filter(regexp_like(col("value"), lit(grepPat))),
        rows, Some(Seq(eGrep))),
      Op("parse_agg", () => v2().filter(col("event").isNotNull)
        .groupBy(col("event"))
        .agg(count(lit(1)).as("n_lines"), sum(col("proto")).as("sum_proto"))
        .agg(sum(col("n_lines")), sum(col("sum_proto"))),
        df => { val r = df.asInstanceOf[DataFrame].head(); Seq(r.getLong(0), r.getLong(1)) },
        Some(Seq(n, eProto))),
      Op("encoded_scan", () => spark.read.text(sliceFiles: _*)
        .withColumn("decoded", NF.gunzip64(NF.gzip64(col("value"))))
        .filter(col("decoded") === col("value")),
        rows, Some(Seq(s.cdrSlice))),
      Op("ingest_parquet", () => () => Ingest.ingestText(spark, corpus, s"$work/ingest"),
        f => Seq(f.asInstanceOf[() => Long]()), Some(Seq(n))),
      Op("seqfile_read", () => SeqFile.readSequenceFile(spark, s"$dir/seqfile"),
        rows, Some(Seq(s.cdrSlice))),
      Op("wiretap_stream", () => {
        val got = new java.util.concurrent.atomic.AtomicLong
        val q = tap().routeDynamic(
          spark.readStream.option("maxFilesPerTrigger", 4).text(corpus),
          b => got.addAndGet(b.count()))
        (q, got)
      }, qa => {
        val (q, got) = qa.asInstanceOf[(org.apache.spark.sql.streaming.StreamingQuery,
          java.util.concurrent.atomic.AtomicLong)]
        try q.processAllAvailable() finally q.stop()
        Streams.record(q)
        Seq(got.get())
      }, Some(Seq(eTap))))
  }

  /** Three ops with known outcomes — one right, one that throws, one
    * that returns a wrong value — so the failure accounting is testable
    * end to end. Not part of BENCHMARK.json. */
  private def plantedOps(spark: SparkSession, dir: String): Seq[Op] = {
    val r = () => spark.read.parquet(s"$dir/range.parquet")
    Seq(
      Op("right", r, rows, Some(Seq(1000L))),
      Op("throws", () => throw new IllegalStateException("planted failure"),
        rows, Some(Seq(1000L))),
      Op("wrong", () => r().filter(col("id") < 10), rows, Some(Seq(1000L))))
  }
}

/** Progress of the streaming queries the ops ran, for the streaming
  * layer's metrics; drained by the harness after each op. */
object Streams {
  private val done = collection.mutable.ArrayBuffer[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  def record(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    synchronized { done ++= q.recentProgress }
  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { val r = done.toList; done.clear(); r }
}
