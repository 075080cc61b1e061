package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExecSubqueryExpression, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.{col, length, size}

import graft.{Metric, QType}
import graft.catalog.VectorCatalog
import graft.codec.VectorCodec
import graft.kernels.{Distances, Quantize}
import graft.ops.{Knn, Quantizer}

/** The traced run's layer sweep. After the workload's loop it calls each
  * layer's public functions on the workload's own corpus and store and
  * times them from outside, one layer at a time:
  *
  *   kernels      Distances.onPacked / onDouble, Quantize.codes (one thread)
  *   codec        VectorCodec.parseJson on the probe literal
  *   catalog      VectorCatalog.writeSidecar + readSidecar
  *   scan         a preloaded copy of the store; the parquet corpus
  *   expressions  Quantizer.quantStream / Knn.distanceStream, summed
  *   knn          Quantizer.quantScan (TakeOrderedAndProject)
  *   quantizer    computeParams, quantizeCodes write, preload, waveExtrema,
  *                store count, compact, and the certified plan's shortlist
  *   spark        an empty job with one no-op task per store partition
  *
  * Nested measurements are cumulative (the expression job includes the
  * scan, which includes the job's fixed cost), so each layer's own share
  * is its total minus the enclosed one; the ledger lists those shares
  * against the SQL query latency and reports what they leave unexplained.
  */
object Layers {
  import Workloads._

  private def medianMs(reps: Int)(body: => Any): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  /** Nanoseconds per item of `f` over `xs`, one thread: the median of
    * seven timed passes after warm-up passes. Warm-up runs for at least a
    * second and until the last three passes are within 5% of the fastest
    * one (at most three seconds), so the kernel is measured JIT-compiled
    * even when the compiler is still busy with the workload's own code.
    */
  private def nsPerItem[A](xs: Array[A])(f: A => Any): Double = {
    var sink = 0
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < xs.length) { if (f(xs(i)) == null) sink += 1; i += 1 }
      (System.nanoTime() - t0).toDouble / xs.length
    }
    val warm = System.nanoTime()
    val recent = scala.collection.mutable.Queue.empty[Double]
    var best = Double.MaxValue
    def elapsedS = (System.nanoTime() - warm) / 1e9
    while (elapsedS < 3.0 && (elapsedS < 1.0 || recent.length < 3 || recent.exists(_ > 1.05 * best))) {
      val t = pass()
      best = math.min(best, t)
      recent.enqueue(t)
      if (recent.length > 3) recent.dequeue()
    }
    val r = Stats.median((0 until 7).map(_ => pass()))
    if (sink < 0) println(sink)
    r
  }

  /** Median milliseconds to execute `df`'s physical plan, planned
    * beforehand and untimed, with the rows consumed in place (no
    * conversion, no result transfer).
    */
  private def execMs(reps: Int)(df: => DataFrame): Double =
    Stats.median((0 until reps).map { _ =>
      val d = df
      d.queryExecution.executedPlan
      val t0 = System.nanoTime()
      d.queryExecution.toRdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e6
    })

  /** As [[execMs]], but collecting the result rows to the driver. */
  private def collectMs(reps: Int)(df: => DataFrame): Double =
    Stats.median((0 until reps).map { _ =>
      val d = df
      d.queryExecution.executedPlan
      val t0 = System.nanoTime()
      d.collect()
      (System.nanoTime() - t0) / 1e6
    })

  /** The certified shortlist size: rows passing the code-distance
    * threshold filter, read from the executed plan's SQL metrics.
    */
  def certifiedCandidates(df: DataFrame): Option[Long] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collectFirst {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[ExecSubqueryExpression]) =>
        f.metrics("numOutputRows").value
    }
  }

  def sweep(c: Ctx, probes: IndexedSeq[Array[Float]], queryP50: Option[Double]): Unit = {
    val spark = c.spark
    val p = params()
    val dim = Sizes.Dim
    val store = storePath(c)
    val corpus = spark.table("corpus")
    val probe = probes.head
    val signedEt = if (p.qType == QType.I8) graft.ElemType.I8 else graft.ElemType.U8
    def put(n: String, v: Double): Unit = c.layer(n) = v

    // ---- codec, kernels, catalog: driver-side, one thread ----
    val jsons = probes.map(Gen.json).toArray
    put("codec.parse_probe_us", nsPerItem(jsons)(j => VectorCodec.parseJson(j, dim)) / 1e3)
    val codes = spark.read.parquet(store).select("code").limit(4000).collect().map(_.getAs[Array[Byte]](0))
    val qprobe = Quantize.codes(probe, p)
    val codeKernel = Distances.onPacked(Metric.SquaredL2, signedEt) _
    put("kernels.code_l2_ns_per_vec", nsPerItem(codes)(x => codeKernel(x, qprobe)))
    val vecs = corpus.select("vec").limit(2000).collect().map(_.getSeq[Float](0).toArray)
    val f32Kernel = Distances.onDouble(Metric.L2) _
    put("kernels.f32_l2_ns_per_vec", nsPerItem(vecs)(v => f32Kernel(v, probe)))
    put("kernels.quantize_ns_per_vec", nsPerItem(vecs)(v => Quantize.codes(v, p)))
    val sidecar = s"${c.work}/data/sweep_sidecar.json"
    put("catalog.sidecar_ms", medianMs(20) {
      VectorCatalog.writeSidecar(sidecar, p); VectorCatalog.readSidecar(sidecar)
    })

    // ---- store state the workload left, then certified shortlist sizes ----
    val (files, bytes) = storeSize(c)
    put("store.files", files); put("store.bytes", bytes.toDouble)
    val cands = probes.take(3).flatMap { pr =>
      val df = spark.sql(autoScanSql(pr)); df.collect(); certifiedCandidates(df)
    }
    if (cands.nonEmpty) {
      val med = Stats.median(cands.map(_.toDouble))
      put("quantizer.certified_candidates", med)
      put("quantizer.certified_precision", if (med > 0) K / med else 0.0)
    }

    // ---- a fresh preloaded copy of the store: scan, expression, top-k ----
    var cached: DataFrame = null
    put("quantizer.preload_ms", medianMs(1) { cached = Quantizer.preload(spark.read.parquet(store)) })
    val storeParts = cached.rdd.getNumPartitions
    val sc = spark.sparkContext
    (0 until 2).foreach(_ => sc.parallelize(0 until storeParts, storeParts).foreach(_ => ()))
    val emptyJob = medianMs(10)(sc.parallelize(0 until storeParts, storeParts).foreach(_ => ()))
    put("spark.empty_job_ms", emptyJob)
    val reps = 5
    val scanMs = execMs(reps)(cached.select(length(col("code"))))
    val streamMs = execMs(reps)(Quantizer.quantStream(cached, probe, p, "l2"))
    val topMs = collectMs(reps)(Quantizer.quantScan(cached, probe, p, K, "l2"))
    put("scan.cache_ms", scanMs)
    put("expressions.code_distance_ms", streamMs - scanMs)
    put("knn.topk_ms", topMs - streamMs)

    // the SQL query over the same preloaded copy, planning split out
    val shadowPlan = spark.table(Shadow)
    cached.createOrReplaceTempView(Shadow)
    val ledgerRuns = probes.take(reps).map(pr => c.query(quantScanSql(pr)))
    shadowPlan.createOrReplaceTempView(Shadow)
    val planMs = Stats.median(ledgerRuns.map(_._3))
    val sqlMs = queryP50.getOrElse(Stats.median(ledgerRuns.map(_._2)))
    // the kernel's share of one query: every stored vector once, spread over the cores
    val kernelMs = c.layer("kernels.code_l2_ns_per_vec") * spark.read.parquet(store).count() / c.cores / 1e6
    val residual = sqlMs - (planMs + topMs)
    put("ledger.residual_ms", residual)
    c.details("ledger") = Json.obj(
      "query_ms" -> sqlMs,
      "query_ms_source" -> (if (queryP50.isDefined) "loop query_p50_ms" else "sweep SQL queries"),
      "a_kernel_ms" -> kernelMs,
      "b_expression_ms" -> (streamMs - scanMs),
      "b_minus_kernel_ms" -> (streamMs - scanMs - kernelMs),
      "c_scan_ms" -> (scanMs - emptyJob),
      "d_topk_ms" -> (topMs - streamMs),
      "e_empty_job_ms" -> emptyJob,
      "plan_ms" -> planMs,
      "residual_ms" -> residual,
      "note" -> "query_ms = plan + e + c + b + d + residual; a is part of b")
    cached.unpersist()

    // ---- parquet corpus: decode, then VectorDistance on top ----
    val parquetMs = execMs(5)(corpus.select(size(col("vec"))))
    val distMs = execMs(5)(Knn.distanceStream(corpus, "id", "vec", probe, "l2"))
    put("scan.parquet_ms", parquetMs)
    put("expressions.vector_distance_ms", distMs - parquetMs)

    // ---- quantizer steps, each through its public function ----
    put("quantizer.params_ms", medianMs(2)(Quantizer.computeParams(corpus, "vec")))
    val codesOut = s"${c.work}/data/sweep_codes"
    put("quantizer.codes_write_ms", medianMs(1)(
      Quantizer.quantizeCodes(corpus, "id", "vec", p).write.mode("overwrite").parquet(codesOut)))
    val wave = corpus.where(col("id") < c.sizes.waveN)
    put("quantizer.wave_extrema_ms", medianMs(3)(Quantizer.waveExtrema(wave, "vec")))
    put("quantizer.store_count_ms", medianMs(3)(spark.read.parquet(store).count()))
    // last: compaction rewrites the store under any view still reading it
    put("quantizer.compact_ms", medianMs(1)(Quantizer.compact(spark, store, 30L * 1024 * 1024, dim)))
    c.closeLayers()
  }
}
