package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}

/** One workload: builds its inputs from the seed, sets up through the SQL
  * lifecycle functions, runs a closed loop (one client, the next call is
  * sent when the previous one returns), checks every answer, and records
  * its metrics in the [[Ctx]].
  */
trait Workload { def run(c: Ctx): Unit }

object Workloads {
  val all: Map[String, Workload] = Map(
    "serve_quant" -> ServeQuant, "exact_knn" -> ExactKnn, "ingest_compact" -> IngestCompact)

  val K = 10
  val Shadow = "vector0_corpus_vec"

  def storePath(c: Ctx): String = s"${c.work}/stores/$Shadow"

  def initSql(c: Ctx): String =
    s"SELECT vector_init('corpus', 'vec', 'dimension=${Sizes.Dim},distance=l2,store_dir=${c.work}/stores')"

  def quantScanSql(p: Array[Float]): String =
    s"SELECT * FROM vector_quantize_scan('corpus', 'vec', '${Gen.json(p)}', $K)"
  def fullScanSql(p: Array[Float]): String =
    s"SELECT * FROM vector_full_scan('corpus', 'vec', '${Gen.json(p)}', $K)"
  def autoScanSql(p: Array[Float]): String =
    s"SELECT * FROM vector_scan('corpus', 'vec', '${Gen.json(p)}', $K)"

  def ids(rows: Array[Row]): Seq[Long] = rows.map(_.getLong(0)).toSeq
  def dists(rows: Array[Row]): Seq[Double] = rows.map(_.get(1).asInstanceOf[Number].doubleValue).toSeq

  /** A k-NN answer must hold k distinct ids of the corpus [0, n). */
  def knnProblems(ids: Seq[Long], n: Long): Seq[String] = Seq(
    Option.when(ids.length != K)(s"${ids.length} rows, expected $K"),
    Option.when(ids.distinct.length != ids.length)(s"duplicate ids in ${ids.mkString(",")}"),
    ids.find(i => i < 0 || i >= n).map(i => s"id $i outside the corpus [0, $n)")).flatten

  /** One corpus file per core. Spark packs equal-sized files into read
    * partitions in directory-listing order, which follows the random file
    * names; with one file per core each file is a partition of its own, so
    * the quant store's layout (and its byte count) depends on the seed only.
    */
  def parts(c: Ctx): Int = c.cores

  /** Generates the inputs; their wall time is reported as `input_gen_s`,
    * apart from set-up time.
    */
  def generate(c: Ctx)(body: => Unit): Unit = {
    val (_, ms) = c.timed(body)
    c.name("input_gen_s", ms / 1e3, "s", 1)
  }

  /** `vector_init` once, then `Sizes.SetupReps` set-ups, each a
    * `vector_quantize` followed by `rep`; set-up seconds are session start
    * plus `vector_init` plus the median set-up.
    */
  def setup(c: Ctx, rows: Long)(rep: => Unit): Unit = {
    val (_, initMs) = c.timed(c.op("vector_init")(c.lifecycle(initSql(c)))(_ => Nil))
    val quantMs = mutable.ArrayBuffer.empty[Double]
    val repMs = (0 until Sizes.SetupReps).map { _ =>
      c.timed {
        c.op("vector_quantize")(c.lifecycle("SELECT vector_quantize('corpus', 'vec')")) {
          case (v, ms) =>
            quantMs += ms
            if (v.asInstanceOf[Long] != rows) Seq(s"quantized $v rows, expected $rows") else Nil
        }
        rep
      }._2
    }
    val setupS = c.sessionS + initMs / 1e3 + Stats.median(repMs) / 1e3
    c.e2e("setup_s") = setupS
    c.name("setup_s", setupS, "s", repMs.length)
    c.details("session_start_s") = c.sessionS
    c.details("setup_rep_ms") = repMs
    if (quantMs.nonEmpty) {
      val vps = rows / (Stats.median(quantMs.toSeq) / 1e3)
      c.name("quantize_vectors_per_s", vps, "1/s", quantMs.length)
    }
  }

  /** Closed loop: operations until `seconds` have passed and at least
    * `minOps` ran. Returns the loop's wall seconds.
    */
  def closedLoop(c: Ctx, minOps: Int)(op: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < c.args.seconds) { op(i); i += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** Latency statistics of the loop's operation, as end-to-end metrics
    * and under the workload's own metric name.
    */
  def opStats(c: Ctx, lat: Seq[Double], loopS: Double, opsDone: Int, nameP50: String,
              nameTail: String, nameRate: String): Unit = if (lat.nonEmpty) {
    val (q, tailV) = Stats.tail(lat)
    val p50 = Stats.median(lat)
    c.e2e("op_p50_ms") = p50
    c.e2e("op_tail_ms") = tailV
    c.e2e("ops_per_s") = opsDone / loopS
    c.name(nameP50, p50, "ms", lat.length)
    c.name(nameTail, tailV, "ms", lat.length)
    c.details(nameTail + "_percentile") = q
    c.details(nameP50 + "_samples") = lat.map(x => math.rint(x * 10) / 10)
    if (nameRate.nonEmpty) c.name(nameRate, opsDone / loopS, "1/s", opsDone)
  }

  /** Files and bytes of the quant store: (data files, all bytes). */
  def storeSize(c: Ctx): (Int, Long) = {
    val p = new Path(storePath(c))
    val fs = p.getFileSystem(c.spark.sessionState.newHadoopConf())
    val files = fs.listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("."))
    (files.count(_.getPath.getName.startsWith("part-")), files.map(_.getLen).sum)
  }

  def storeBytesPerVector(c: Ctx, rows: Long): Unit = {
    val bytes = storeSize(c)._2.toDouble
    c.e2e("store_bytes_per_vector") = bytes / rows
    c.name("store_bytes_per_vector", bytes / rows, "B", 1)
  }

  /** Traced runs: tracing overhead = traced minus untraced median. */
  def traceOverhead(c: Ctx, untraced: Seq[Double], traced: Seq[Double]): Unit =
    if (c.args.trace && untraced.nonEmpty && traced.nonEmpty)
      c.layer("trace.overhead_ms") = Stats.median(traced) - Stats.median(untraced)

  def params(): graft.QuantParams =
    graft.catalog.VectorCatalog.quantParams("corpus", "vec")
      .getOrElse(throw new IllegalStateException("no quantization parameters after vector_quantize"))
}

import Workloads._

/** The paper's headline shape, scaled to the run budget: a preloaded
  * quantized store served by `vector_quantize_scan`.
  */
object ServeQuant extends Workload {
  def run(c: Ctx): Unit = {
    val s = c.sizes; val n = s.serveN.toLong; val spark = c.spark
    val g = new Gen(c.seed, Sizes.Dim, math.max(8, s.serveN / 2000))
    var probes: IndexedSeq[Array[Float]] = null
    generate(c) {
      g.write(spark, 0, n, c.path("corpus"), parts(c))
      probes = (0 until s.probes).map(i => g.probe(i, n, salt = 1))
    }
    spark.read.parquet(c.path("corpus")).createOrReplaceTempView("corpus")
    setup(c, n) {
      c.op("vector_quantize_preload")(c.lifecycle("SELECT vector_quantize_preload('corpus', 'vec')"))(_ => Nil)
    }
    val cacheMb = spark.sparkContext.getRDDStorageInfo.filter(_.isCached).map(_.memSize).sum / 1048576.0
    c.name("cache_mb", cacheMb, "MB", 1)
    storeBytesPerVector(c, n)

    val recallIds = mutable.Map.empty[Int, Seq[Long]]
    def scan(pi: Int): Option[(Array[Row], Double, Double)] =
      c.op(s"vector_quantize_scan probe $pi")(c.query(quantScanSql(probes(pi)))) { r =>
        val got = c.maybeCorrupt(ids(r._1))
        if (pi < s.recallProbes) recallIds(pi) = got
        knnProblems(got, n)
      }
    // warm-up: driver-side planning code keeps getting faster for the
    // first ~80 queries (8-10 s), which would otherwise trend the median
    val warm = System.nanoTime()
    var w = 0
    while ((System.nanoTime() - warm) / 1e9 < s.warmupS) { scan(s.probes - 1 - w % s.probes); w += 1 }
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val loopS = closedLoop(c, math.max(Sizes.MinOps, s.recallProbes)) { i =>
      c.loopOp(i)(scan(i % s.probes)).foreach { case (_, ms, planMs) =>
        if (c.isTraced(i)) { tracedLat += ms; c.layerSample("sql.plan_ms", planMs) } else lat += ms
      }
    }
    opStats(c, lat.toSeq, loopS, lat.length + tracedLat.length, "query_p50_ms", "query_tail_ms",
      "queries_per_s")
    traceOverhead(c, lat.toSeq, tracedLat.toSeq)

    val subset = (0 until s.recallProbes).filter(recallIds.contains)
    val exact = g.exactTopK(spark, subset.map(probes), n, K, parts(c))
    val recall = subset.zip(exact).map { case (pi, e) => recallIds(pi).toSet.intersect(e.toSet).size.toDouble / K }
    if (recall.nonEmpty) c.name("recall_at_10", recall.sum / recall.length, "ratio", recall.length)

    if (c.args.trace)
      Layers.sweep(c, probes, queryP50 = lat.headOption.map(_ => Stats.median(lat.toSeq)))
  }
}

/** The exact-answer paths over a non-preloaded parquet corpus:
  * `vector_full_scan` and the certified `vector_scan`, alternated on
  * each probe.
  */
object ExactKnn extends Workload {
  def run(c: Ctx): Unit = {
    val s = c.sizes; val n = s.exactN.toLong; val spark = c.spark
    val g = new Gen(c.seed, Sizes.Dim, math.max(8, s.exactN / 2000))
    var probes: IndexedSeq[Array[Float]] = null
    generate(c) {
      g.write(spark, 0, n, c.path("corpus"), parts(c))
      probes = (0 until s.probes).map(i => g.probe(i, n, salt = 2))
    }
    spark.read.parquet(c.path("corpus")).createOrReplaceTempView("corpus")
    setup(c, n)(())
    storeBytesPerVector(c, n)

    val fullIds = mutable.Map.empty[Int, Seq[Long]]
    /** (full ms, auto ms, auto planning ms) */
    def pair(pi: Int): Option[(Double, Double, Double)] =
      c.op(s"vector_full_scan + vector_scan probe $pi") {
        (c.query(fullScanSql(probes(pi))), c.query(autoScanSql(probes(pi))))
      } { case (full, auto) =>
        val fi = ids(full._1); val ai = c.maybeCorrupt(ids(auto._1))
        if (pi < s.recallProbes) fullIds(pi) = fi
        knnProblems(fi, n) ++ knnProblems(ai, n) ++
          Option.when(fi != ai || dists(full._1) != dists(auto._1))(
            s"vector_scan ${ai.mkString(",")} differs from vector_full_scan ${fi.mkString(",")}")
      }.map { case (full, auto) => (full._2, auto._2, auto._3) }

    // warm-up: the certified plan's planning code is large and reaches
    // steady speed only after 15-20 s of pairs on 4 busy cores (a
    // C1-only JVM showed a much flatter one), so the loop starts after it
    val warm = System.nanoTime()
    var w = 0
    while (w < 2 || (System.nanoTime() - warm) / 1e9 < s.exactWarmupS) {
      pair(s.probes - 1 - w % s.probes); w += 1
    }
    val fullLat = mutable.ArrayBuffer.empty[Double]
    val autoLat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val loopS = closedLoop(c, Sizes.MinOps) { i =>
      c.loopOp(i)(pair(i % s.probes)).foreach { case (f, a, plan) =>
        if (c.isTraced(i)) { tracedLat += f + a; c.layerSample("sql.plan_ms", plan) }
        else { fullLat += f; autoLat += a }
      }
    }
    val pairLat = fullLat.zip(autoLat).map { case (f, a) => f + a }.toSeq
    opStats(c, pairLat, loopS, pairLat.length + tracedLat.length, "probe_pair_p50_ms",
      "probe_pair_tail_ms", "probe_pairs_per_s")
    if (fullLat.nonEmpty) {
      c.name("full_scan_p50_ms", Stats.median(fullLat.toSeq), "ms", fullLat.length)
      c.name("auto_scan_p50_ms", Stats.median(autoLat.toSeq), "ms", autoLat.length)
    }
    traceOverhead(c, pairLat, tracedLat.toSeq)

    // the exact path must be exact: vector_full_scan against the oracle
    val subset = (0 until s.recallProbes).filter(fullIds.contains)
    val exact = g.exactTopK(spark, subset.map(probes), n, K, parts(c))
    subset.zip(exact).foreach { case (pi, e) =>
      c.op(s"vector_full_scan probe $pi against the oracle")(fullIds(pi)) { got =>
        if (got != e) Seq(s"got ${got.mkString(",")}, oracle ${e.mkString(",")}") else Nil
      }
    }

    if (c.args.trace) Layers.sweep(c, probes, queryP50 = None)
  }
}

/** The write path: a base store, append waves each followed by a
  * read-after-write `vector_quantize_scan` on the non-preloaded store,
  * then compaction, the fixed probes again, and preload.
  */
object IngestCompact extends Workload {
  def run(c: Ctx): Unit = {
    val s = c.sizes; val base = s.ingestBase.toLong; val spark = c.spark
    // fixed work sized from the run length: one timed wave per second
    // asked for, after `WarmWaves` untimed ones (the first appends run
    // cold code paths and took up to half again as long as the rest)
    val nWaves = math.max(3, math.round(c.args.seconds).toInt)
    val allWaves = Sizes.WarmWaves + nWaves
    val total = base + allWaves.toLong * s.waveN
    val g = new Gen(c.seed, Sizes.Dim, math.max(8, s.ingestBase / 2000))
    var probes: IndexedSeq[Array[Float]] = null
    generate(c) {
      g.writeWithWaves(spark, base, s.waveN, allWaves, c.path("corpus"), parts(c))
      probes = (0 until s.probes).map(i => g.probe(i, base, salt = 3))
    }
    val baseDf = spark.read.parquet(c.path("corpus/wave=-1"))
    baseDf.createOrReplaceTempView("corpus")
    setup(c, base)(())

    def scan(pi: Int, n: Long, what: String): Option[(Array[Row], Double, Double)] =
      c.op(s"$what probe $pi")(c.query(quantScanSql(probes(pi)))) { r =>
        knnProblems(c.maybeCorrupt(ids(r._1)), n)
      }
    scan(0, base, "warm-up vector_quantize_scan")

    val appendLat = mutable.ArrayBuffer.empty[Double]
    val freshLat = mutable.ArrayBuffer.empty[Double]
    val waveLat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val trajectory = mutable.ArrayBuffer.empty[Json.Obj]
    val waves = mutable.ArrayBuffer.empty[DataFrame]
    var t0 = System.nanoTime()
    (0 until allWaves).foreach { w =>
      if (w == Sizes.WarmWaves) t0 = System.nanoTime()
      val wave = spark.read.parquet(c.path(s"corpus/wave=$w"))
      wave.createOrReplaceTempView(s"wave$w")
      waves += wave
      val stored = base + (w + 1).toLong * s.waveN
      val i = w - Sizes.WarmWaves // loop index: negative, so never traced, during warm-up
      c.op(s"append wave $w") {
        c.loopOp(i) {
          val (v, appendMs) = c.lifecycle(s"SELECT vector_quantize_append('corpus', 'vec', 'wave$w')")
          val (rows, freshMs, planMs) = c.query(quantScanSql(probes(w % Sizes.FixedProbes)))
          (v, appendMs, rows, freshMs, planMs)
        }
      } { case (v, appendMs, rows, freshMs, planMs) =>
        if (i < 0) ()
        else if (c.isTraced(i)) { tracedLat += appendMs + freshMs; c.layerSample("sql.plan_ms", planMs) }
        else { appendLat += appendMs; freshLat += freshMs; waveLat += appendMs + freshMs }
        val (files, bytes) = storeSize(c)
        trajectory += Json.obj("wave" -> w, "append_ms" -> appendMs, "fresh_query_ms" -> freshMs,
          "store_files" -> files, "store_bytes" -> bytes)
        Option.when(v.asInstanceOf[Long] != s.waveN)(s"appended $v rows, expected ${s.waveN}").toSeq ++
          knnProblems(c.maybeCorrupt(ids(rows)), stored)
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    opStats(c, waveLat.toSeq, loopS, waveLat.length + tracedLat.length, "wave_p50_ms", "wave_tail_ms", "")
    if (appendLat.nonEmpty) {
      c.name("append_p50_ms", Stats.median(appendLat.toSeq), "ms", appendLat.length)
      c.name("fresh_query_p50_ms", Stats.median(freshLat.toSeq), "ms", freshLat.length)
    }
    traceOverhead(c, waveLat.toSeq, tracedLat.toSeq)
    c.details("store_after_each_wave") = trajectory.toSeq
    // the f32 table now holds what the store holds, for vector_scan
    waves.foldLeft(baseDf)(_ union _).createOrReplaceTempView("corpus")

    val fixed = 0 until Sizes.FixedProbes
    val before = fixed.map(pi => scan(pi, total, "pre-compaction vector_quantize_scan").map(_._1))
    c.op("vector_quantize_compact") {
      val (v, ms) = c.lifecycle("SELECT vector_quantize_compact('corpus', 'vec')")
      c.name("compact_s", ms / 1e3, "s", 1)
      (v.asInstanceOf[Long], spark.read.parquet(storePath(c)).count())
    } { case (reported, counted) =>
      Seq(Option.when(reported != total)(s"compaction reported $reported rows, expected $total"),
        Option.when(counted != total)(s"store holds $counted rows after compaction, expected $total")).flatten
    }
    storeBytesPerVector(c, total)
    def sameAsBefore(when: String): Unit = fixed.foreach { pi =>
      c.op(s"$when probe $pi")(c.query(quantScanSql(probes(pi)))._1) { rows =>
        before(pi) match {
          case Some(b) if ids(b) == c.maybeCorrupt(ids(rows)) && dists(b) == dists(rows) => Nil
          case Some(b) => Seq(s"${ids(rows).mkString(",")} differs from before compaction ${ids(b).mkString(",")}")
          case None => Seq("no pre-compaction answer to compare with")
        }
      }
    }
    sameAsBefore("post-compaction vector_quantize_scan")
    c.op("vector_quantize_preload")(c.lifecycle("SELECT vector_quantize_preload('corpus', 'vec')")) { case (_, ms) =>
      c.details("preload_after_compaction_ms") = ms; Nil
    }
    sameAsBefore("preloaded vector_quantize_scan")

    if (c.args.trace) Layers.sweep(c, probes, queryP50 = None)
  }
}
