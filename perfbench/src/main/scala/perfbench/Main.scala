package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.sql.GraftTableFunctions

/** Entry point of the vector-serving benchmark. One JVM runs one workload
  * (see Workloads.scala) on `local[n]` with one client thread, and prints
  * a report line and then the result line as the last line of stdout.
  *
  *   perfbench.Main --workload serve_quant --seed 1 --seconds 10 --trace 0
  *                  --work <dir> [--scale full|toy] [--inject-fault]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, scale: String, injectFault: Boolean, cores: Int)

  /** End-to-end metrics: every workload reports each of them, with the
    * meaning its workload gives the loop's operation (NOTES.md).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "ops_per_s" -> "1/s",
    "store_bytes_per_vector" -> "B")

  /** Per-layer metrics of the traced run, each measured on every workload. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sql.plan_ms" -> "ms", "sql.command_ms" -> "ms", "codec.parse_probe_us" -> "us",
    "catalog.sidecar_ms" -> "ms", "kernels.code_l2_ns_per_vec" -> "ns",
    "kernels.f32_l2_ns_per_vec" -> "ns", "kernels.quantize_ns_per_vec" -> "ns",
    "expressions.code_distance_ms" -> "ms", "expressions.vector_distance_ms" -> "ms",
    "scan.cache_ms" -> "ms", "scan.parquet_ms" -> "ms", "knn.topk_ms" -> "ms",
    "quantizer.params_ms" -> "ms", "quantizer.codes_write_ms" -> "ms",
    "quantizer.preload_ms" -> "ms", "quantizer.wave_extrema_ms" -> "ms",
    "quantizer.store_count_ms" -> "ms", "quantizer.compact_ms" -> "ms",
    "quantizer.certified_candidates" -> "count", "quantizer.certified_precision" -> "ratio",
    "store.files" -> "count", "store.bytes" -> "B",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.job_wall_ms" -> "ms", "spark.driver_gap_ms" -> "ms", "spark.empty_job_ms" -> "ms",
    "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.task_gc_ms" -> "ms",
    "spark.task_deser_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
    "spark.executor_busy_frac" -> "ratio", "spark.input_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.output_bytes" -> "B",
    "trace.overhead_ms" -> "ms", "ledger.residual_ms" -> "ms")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = run(a)
    System.out.flush()
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var i = 0
    var inject = false
    while (i < argv.length) {
      argv(i) match {
        case "--inject-fault" => inject = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case other => usage(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = kv.getOrElse(k, usage(s"--$k is required"))
    val workload = need("workload")
    if (!Workloads.all.contains(workload))
      usage(s"unknown workload '$workload' (${Workloads.all.keys.mkString(", ")})")
    val scale = kv.getOrElse("scale", "full")
    if (!Sizes.all.contains(scale)) usage(s"unknown scale '$scale'")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    Args(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), scale, inject, cores)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def run(a: Args): Int = {
    val hostBefore = Host.loadavg()
    val (idleBusy, idleSteal) = Host.idleSample(500)
    val cpu0 = Host.cpu()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      // loopback only: the run does not depend on how the host name resolves
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // registration through the runtime path: with
    // spark.sql.extensions=graft.sql.GraftExtensions the lifecycle
    // statements fail to plan (NOTES.md, "Defects found")
    GraftTableFunctions.register(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a, Sizes.all(a.scale), sessionS)
    val crashed = try { Workloads.all(a.workload).run(ctx); None }
    catch { case t: Throwable => t.printStackTrace(); Some(t) }
    val (busy, steal) = Host.shares(cpu0, Host.cpu())
    val hostAfter = Host.loadavg()
    spark.stop()

    crashed.foreach(t => ctx.fail(s"workload aborted: $t"))
    // load averages include this benchmark's own previous runs, so the
    // flag rests on what others used while this JVM sat idle, and on steal
    val hot = idleBusy > 0.25 || idleSteal > 0.05 || steal > 0.05
    val host = Json.obj(
      "loadavg_before" -> hostBefore, "loadavg_after" -> hostAfter,
      "idle_busy_frac_before" -> idleBusy, "idle_steal_frac_before" -> idleSteal, "busy_frac" -> busy, "steal_frac" -> steal,
      "hot" -> hot)
    println(Json(Json.obj("perfbench" -> ctx.report(host))))

    val wanted = if (a.trace) PerLayer else EndToEnd
    val values = if (a.trace) ctx.layer else ctx.e2e
    val missing = wanted.map(_._1).filterNot(values.contains)
    if (crashed.isEmpty && missing.nonEmpty) ctx.fail(s"metrics not measured: ${missing.mkString(", ")}")
    val correct = ctx.failed == 0 && crashed.isEmpty
    if (!correct) {
      System.err.println(s"perfbench: ${ctx.failed} of ${ctx.attempted} operations failed")
      ctx.failures.take(10).foreach(f => System.err.println(s"  $f"))
    }
    if (crashed.isEmpty && missing.isEmpty) {
      val metrics = Json.Obj(wanted.map { case (n, u) => n -> Json.obj("value" -> values(n), "unit" -> u) })
      println(Json(Json.obj("correct" -> correct, "attempted" -> math.max(1L, ctx.attempted),
        "failed" -> ctx.failed, "metrics" -> metrics)))
    }
    if (correct) 0 else 1
  }
}

/** Input sizes. `full` is the benchmark; `toy` is the self-test's. */
final case class Sizes(serveN: Int, exactN: Int, ingestBase: Int, waveN: Int, probes: Int,
                       recallProbes: Int, warmupS: Double, exactWarmupS: Double)

object Sizes {
  val Dim = 768
  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3
  /** Loop operations run even when `--seconds` has passed. */
  val MinOps = 4
  /** ingest_compact's probes compared before and after compaction. */
  val FixedProbes = 2
  /** ingest_compact's untimed append waves before the timed ones. */
  val WarmWaves = 2

  val all: Map[String, Sizes] = Map(
    "full" -> Sizes(serveN = 100000, exactN = 25000, ingestBase = 25000, waveN = 1000, probes = 64,
      recallProbes = 10, warmupS = 8, exactWarmupS = 15),
    "toy" -> Sizes(serveN = 3000, exactN = 2000, ingestBase = 2000, waveN = 100, probes = 8,
      recallProbes = 4, warmupS = 0.5, exactWarmupS = 0.5))
}

/** Run state shared by a workload and the harness: the session, the
  * correctness ledger, and the metrics measured so far.
  */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sizes: Sizes, val sessionS: Double) {
  val cores: Int = args.cores
  val seed: Long = args.seed
  val work: String = args.work
  def path(name: String): String = s"$work/data/$name"

  // ---------- correctness ----------
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var faultPending = args.injectFault

  def fail(msg: String): Unit = { failed += 1; failures += msg }

  /** Counts one operation; `check` returns the problems found in its
    * answer. An exception or any problem makes the operation failed.
    */
  def op[T](what: String)(body: => T)(check: T => Seq[String]): Option[T] = {
    attempted += 1
    scala.util.Try(body) match {
      case scala.util.Success(v) =>
        val problems = check(v)
        if (problems.nonEmpty) fail(s"$what: ${problems.mkString("; ")}")
        Some(v)
      case scala.util.Failure(t) =>
        fail(s"$what: ${t.getClass.getSimpleName}: ${t.getMessage}")
        None
    }
  }

  /** The self-test's fault: corrupts the first answer passed through it
    * (the second id is replaced by the first), once per run.
    */
  def maybeCorrupt(ids: Seq[Long]): Seq[Long] =
    if (faultPending && ids.length > 1) { faultPending = false; ids.head +: ids.head +: ids.drop(2) }
    else ids

  // ---------- metrics ----------
  val e2e = mutable.Map.empty[String, Double]
  val layer = mutable.Map.empty[String, Double]
  /** Metrics named for this workload: value, unit, sample count. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
  val details = mutable.LinkedHashMap.empty[String, Any]
  private val layerSamples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  def name(n: String, v: Double, unit: String, samples: Int): Unit = named(n) = (v, unit, samples)

  def layerSample(n: String, v: Double): Unit =
    layerSamples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += v

  /** Per-layer metrics with several samples report their median. */
  def closeLayers(): Unit = layerSamples.foreach { case (n, xs) => layer(n) = Stats.median(xs.toSeq) }

  def report(host: Any): Json.Obj = Json.obj(
    "workload" -> args.workload, "seed" -> seed, "seconds" -> args.seconds,
    "trace" -> (if (args.trace) 1 else 0), "scale" -> args.scale, "cores" -> cores,
    "host" -> host,
    "named" -> Json.Obj(named.toSeq.map { case (n, (v, u, s)) =>
      n -> Json.obj("value" -> v, "unit" -> u, "samples" -> s) }),
    "end_to_end" -> Json.Obj(Main.EndToEnd.collect { case (n, _) if e2e.contains(n) => n -> e2e(n) }),
    "per_layer" -> Json.Obj(Main.PerLayer.collect { case (n, _) if layer.contains(n) => n -> layer(n) }),
    "details" -> Json.Obj(details.toSeq),
    "attempted" -> attempted, "failed" -> failed,
    "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
    "failures" -> failures.take(10).toSeq)

  // ---------- timing and SQL ----------
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Runs a lifecycle statement (`SELECT vector_...(...)`), returning its
    * single value and wall milliseconds; in a traced run the wall time is
    * a `sql.command_ms` sample.
    */
  def lifecycle(q: String): (Any, Double) = {
    val (rows, ms) = timed(spark.sql(q).collect())
    if (args.trace) layerSample("sql.command_ms", ms)
    (rows.head.get(0), ms)
  }

  /** Runs a k-NN table-function query: (rows, total ms, planning ms), where
    * planning is `spark.sql` up to the executed plan.
    */
  def query(q: String): (Array[Row], Double, Double) = {
    val t0 = System.nanoTime()
    val df = spark.sql(q)
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    (rows, (t2 - t0) / 1e6, (t1 - t0) / 1e6)
  }

  lazy val listener = new OpListener(spark, cores)

  /** In a traced run, every odd-numbered loop operation is traced: its
    * Spark counters become per-layer samples and its latency a traced
    * sample; even-numbered operations stay untraced, so the overhead of
    * tracing is measured in the same window.
    */
  def loopOp[T](i: Int)(body: => T): T =
    if (isTraced(i)) {
      val (v, counters) = listener.traced(body)
      counters.foreach { case (n, x) => layerSample(n, x) }
      v
    } else body

  def isTraced(i: Int): Boolean = args.trace && i % 2 == 1
}
