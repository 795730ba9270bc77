package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.functions.{NativeFunctions => NF, TextFunctions => TF}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark harness. Two modes, both driven by perfbench/run.py:
  *
  *   fixtures --workload W --base DIR --out DIR [--smoke]
  *       writes the workload's inputs (through ScaleGen) and, for the
  *       oracle-checked workloads, the DuckDB oracle SQL of its ops;
  *   run --workload W --seed N --seconds S --trace 0|1 --fixtures DIR
  *       --base DIR --work DIR --out FILE [--smoke]
  *       one closed-loop client: a cold pass that also dumps every
  *       result for the check, warm-up passes until the pass time stops
  *       falling, then timed passes for S seconds (traced: every other
  *       one with the tracer on); writes every attempt (and, traced, every
  *       span and layer counter) to FILE as one JSON object.
  *
  * Every attempt is recorded with its op, pass and outcome; a failure
  * is never caught and dropped. */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val smoke = opt.get("smoke").contains("1")
    val sizes = if (smoke) Workloads.Smoke else Workloads.Full
    val workload = opt("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    mode match {
      case "fixtures" => fixtures(workload, opt("base"), opt("out"), opt("work"), sizes)
      case "run" => new Run(workload, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", opt("fixtures"), opt("base"), opt("work"), opt("out"), sizes).run()
      case other => sys.error(s"unknown mode $other")
    }
  }

  /** The session every mode uses: set here in full, read from no
    * environment knob, so a run's configuration is its code. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def fixtures(workload: String, base: String, out: String, work: String,
      sizes: Sizes): Unit = {
    val spark = session(work)
    try {
      Workloads.generate(spark, workload, base, out, sizes)
      val names = if (workload == "sql") Workloads.SqlOps else Nil
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        Json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    } finally spark.stop()
  }
}

/** One attempt of one op: what ran, how long each phase took, and how
  * it ended. `error` is the exception class and message of a throw;
  * `wrong` says the value differed from the closed-form expectation;
  * `checked` attempts dumped their result for the oracle instead. */
final case class Attempt(pass: Int, kind: String, op: String,
    buildS: Double, actS: Double, checked: Boolean, error: Option[String],
    got: Seq[Long], wrong: Boolean) {
  def json: collection.Map[String, Any] = Json.obj("pass" -> pass,
    "kind" -> kind, "op" -> op, "build_s" -> buildS, "act_s" -> actS,
    "s" -> (buildS + actS), "checked" -> checked, "error" -> error, "got" -> got,
    "wrong" -> wrong)
}

final class Run(workload: String, seed: Long, seconds: Double, trace: Boolean,
    fixtureDir: String, base: String, work: String, out: String, sizes: Sizes) {
  private val rt = ManagementFactory.getRuntimeMXBean
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private def gcS: Double = gcs.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  private def jitS: Double = jit.getTotalCompilationTime / 1e3
  private def now: Long = System.currentTimeMillis()

  private val attempts = mutable.ArrayBuffer[Attempt]()
  private val passes = mutable.ArrayBuffer[collection.Map[String, Any]]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val rng = new scala.util.Random(seed)
  private var nPass = 0

  def run(): Unit = {
    val loadStart = os.getSystemLoadAverage
    val spark = Main.session(work)
    val sc = spark.sparkContext
    val sessionS = (now - rt.getStartTime) / 1e3
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val ops = Workloads.ops(spark, workload, fixtureDir, work, sizes)

    def attempt(pass: Int, kind: String, op: Op, check: Boolean): Attempt = {
      sc.setLocalProperty(Where.Pass, pass.toString)
      sc.setLocalProperty(Where.Op, op.name)
      def phase(p: String): Unit = {
        if (tracer.on) Bus.drain(sc)
        tracer.current = (pass, op.name, p)
        sc.setLocalProperty(Where.Phase, p)
      }
      val opId = s"$pass/${op.name}"
      val t0 = System.nanoTime(); val m0 = now
      var t1 = t0; var m1 = m0
      var got: Seq[Long] = Nil
      val error = try {
        phase("build")
        val w = op.build()
        t1 = System.nanoTime(); m1 = now
        phase("action")
        got = if (check && op.oracle) {
          w.asInstanceOf[DataFrame].coalesce(1).write.mode("overwrite")
            .parquet(s"$work/dumps/${op.name}")
          Nil
        } else op.act(w)
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) { t1 = System.nanoTime(); m1 = now }
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val t2 = System.nanoTime(); val m2 = now
      phase("")
      if (tracer.on) {
        spans += Span("op", opId, s"pass $pass", m0, m2)
        spans += Span("build", s"$pass/${op.name}/build", opId, m0, m1)
        spans += Span("action", s"$pass/${op.name}/action", opId, m1, m2)
        Streams.drain().foreach { p =>
          def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
          val c = tracer.counters.getOrElseUpdate((pass, op.name), mutable.Map())
          def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
          add("streaming.batches", 1)
          add("streaming.rows", p.numInputRows.toDouble)
          add("streaming.trigger_ms", d("triggerExecution"))
          add("streaming.add_batch_ms", d("addBatch"))
          add("streaming.latest_offset_ms", d("latestOffset"))
          add("streaming.query_planning_ms", d("queryPlanning"))
          add("streaming.wal_commit_ms", d("walCommit"))
        }
      } else Streams.drain()
      val wrong = error.isEmpty && !(check && op.oracle) && op.expected.exists(_ != got)
      val a = Attempt(pass, kind, op.name, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        check && op.oracle, error, got, wrong)
      attempts += a
      System.err.println(f"PERFBENCH op ${op.name} $kind pass $pass ${a.buildS}%.3f + ${a.actS}%.3f s")
      if (a.error.nonEmpty || wrong)
        System.err.println(s"PERFBENCH FAIL ${op.name} ($kind pass $pass): " +
          a.error.getOrElse(s"got $got, expected ${op.expected.getOrElse(Nil)}"))
      a
    }

    /** One pass over every op in a fresh seeded order. Listener drain and
      * the post-pass collection sit outside the pass time. */
    def pass(kind: String, check: Boolean = false): Double = {
      val p = nPass; nPass += 1
      val order = rng.shuffle(ops)
      val gc0 = gcS; val jit0 = jitS
      val m0 = now
      val t0 = System.nanoTime()
      order.foreach(op => attempt(p, kind, op, check))
      val s = (System.nanoTime() - t0) / 1e9
      val m1 = now
      val gc1 = gcS; val jit1 = jitS
      Bus.drain(sc)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      if (tracer.on) spans += Span("pass", s"pass $p", "run", m0, m1)
      passes += Json.obj("pass" -> p, "kind" -> kind, "s" -> s,
        "order" -> order.map(_.name), "records" -> tracer.inputRecords(p),
        "gc_s" -> (gc1 - gc0), "jit_s" -> (jit1 - jit0), "heap_after_gc_mb" -> heapMb)
      System.err.println(f"PERFBENCH pass $p%d $kind%s ${s}%.3f s")
      s
    }

    // the cold pass is also the check pass: oracle-checked ops dump their
    // results, closed-form ops are checked on every attempt anyway
    pass("cold", check = true)
    val setupS = (now - rt.getStartTime) / 1e3
    val setupJitS = jitS
    // warm-up: at least `seconds` of passes, then on while the pass time
    // still falls (a pass 3% faster than every one before it), up to 1.5×
    val warm = mutable.ArrayBuffer[Double]()
    val w0 = System.nanoTime()
    def warmS = (System.nanoTime() - w0) / 1e9
    var falling = true
    while (warm.isEmpty || warmS < seconds || (falling && warmS < 1.5 * seconds)) {
      val s = pass("warmup")
      falling = warm.isEmpty || s < 0.97 * warm.min
      warm += s
    }
    /** Passes for `s` seconds, cycling through `kinds`, at least two of
      * each; the tracer is on during the "traced" ones. */
    def window(kinds: Seq[String], s: Double): Int = {
      val t0 = System.nanoTime()
      var k = 0
      while (k < 2 * kinds.size || (System.nanoTime() - t0) / 1e9 < s) {
        val kind = kinds(k % kinds.size)
        tracer.on = kind == "traced"
        pass(kind)
        k += 1
      }
      k
    }
    val t0 = System.nanoTime()
    // traced: untraced and traced passes alternate, so the run measures
    // its own tracing overhead on the same stretch of the warm-up curve
    val timed = window(if (trace) Seq("timed", "traced") else Seq("timed"), seconds)
    val timedS = (System.nanoTime() - t0) / 1e9
    tracer.on = false
    val functions = if (trace) Functions.measure(spark, base) else Map.empty[String, Double]
    Bus.drain(sc)
    val loadEnd = os.getSystemLoadAverage
    val conf = (sc.getConf.getAll.toMap ++ spark.conf.getAll).toSeq.sortBy(_._1)
    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "smoke" -> (sizes == Workloads.Smoke),
      "ops" -> ops.map(o => Json.obj("name" -> o.name, "oracle" -> o.oracle,
        "expected" -> o.expected.getOrElse(Nil))),
      "session_s" -> sessionS, "setup_s" -> setupS, "setup_jit_s" -> setupJitS,
      "warmup_passes" -> warm.length, "timed_passes" -> timed,
      "timed_s" -> timedS,
      "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
      "cores" -> Runtime.getRuntime.availableProcessors,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_flags" -> rt.getInputArguments.asScala,
      "spark_conf" -> mutable.LinkedHashMap(conf: _*),
      "passes" -> passes, "attempts" -> attempts.map(_.json),
      "counters" -> tracer.counters.toSeq.map { case ((p, op), m) =>
        Json.obj("pass" -> p, "op" -> op, "values" -> m) },
      "functions" -> functions,
      "spans" -> (spans ++ tracer.spans).map(s => Json.obj("kind" -> s.kind,
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.writeString(Paths.get(out), Json(record))
    spark.stop()
  }
}

/** Timed calls of the engine's native functions, results consumed by a
  * no-op write: rows per second of each expression on fixed inputs (the
  * base documents and embeddings, and a slice of CDR lines). */
object Functions {
  def measure(spark: SparkSession, base: String): Map[String, Double] = {
    val copies = 8
    val docs = spark.read.parquet(s"$base/documents.parquet")
      .crossJoin(spark.range(copies).toDF("copy"))
      .select(col("text"), TF.tokens(col("text")).as("toks"))
      .localCheckpoint()
    val sh = docs.select(NF.shingleHashes(col("toks")).as("sh")).localCheckpoint()
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
      .crossJoin(spark.range(copies).toDF("copy"))
      .select(col("embedding")).localCheckpoint()
    val lines = graft.CdrCorpus.lines(spark, 50000L, 4).localCheckpoint()
    def rate(in: DataFrame, e: org.apache.spark.sql.Column): Double = {
      val n = in.count()
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        in.select(e.as("r")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      n / times(1)
    }
    Map(
      "shingleHashes" -> rate(docs, NF.shingleHashes(col("toks"))),
      "minhashSig" -> rate(sh, NF.minhashSig(col("sh"))),
      "simhash63" -> rate(docs, NF.simhash63(col("toks"))),
      "polyFingerprint" -> rate(docs, NF.polyFingerprint(col("toks"))),
      "winnowFps" -> rate(docs, NF.winnowFps(col("text"), graft.operators.Dedup.WinnowW,
        graft.operators.Dedup.WinnowK)),
      "cosine" -> rate(emb, NF.cosine(col("embedding"), reverse(col("embedding")))),
      "gzip64_gunzip64" -> rate(lines, NF.gunzip64(NF.gzip64(col("value")))))
  }
}
