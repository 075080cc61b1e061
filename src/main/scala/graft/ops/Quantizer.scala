package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.{QType, QuantParams}
import graft.functions.{code_distance, quantize_codes, vectorLit}
import graft.catalog.VectorCatalog
import graft.kernels.Quantize

/** The quantization pipeline — Q1/Q2/Q3 + S3/S5/S6 of SURVEY §2.
  *
  * Reference: `vector_quantize` (sqlite-vector.c:1406-1459) +
  * `vector_rebuild_quantization` (:1147-1336). Two passes:
  *
  *  - Pass 1 is a genuine global barrier (min/max/any-negative over every
  *    element of every vector, :1199-1255) — one Spark aggregation job with
  *    map-side partial aggregation: per-row `array_min/array_max` fold into
  *    three scalars, so the shuffle is 3 values per partition, not data.
  *  - Pass 2 is an embarrassingly parallel projection through the codegen'd
  *    `QuantizeCodes` expression, written as a Parquet "quant table"
  *    `(id, code binary)` — 8+dim bytes/row, the reference's exact record
  *    layout (:1160-1161) with Parquet's atomic directory commit replacing
  *    BEGIN/COMMIT (:1418-1437).
  *
  * At 100 TB both passes are single full scans with no row shuffle at all.
  */
object Quantizer {

  /** Pass 1: global (min, max, hasNegative, count) → QuantParams.
    * AUTO qtype: any negative → INT8 symmetric, else UINT8 asymmetric
    * (sqlite-vector.c:1258-1272); empty input → (U8, 1, 0) (:1172-1178).
    */
  def computeParams(df: DataFrame, vecCol: String, qType: QType = QType.Auto): QuantParams = {
    val nonNull = df.where(col(vecCol).isNotNull)
    // NaN lanes are skipped like the reference's min/max loop (ordinary
    // comparisons never select NaN, sqlite-vector.c:1250-1255). ArrayMinMax
    // does the skip and both extrema in ONE codegen'd traversal — Spark's
    // array_min/array_max would need a NaN pre-filter pass and a second
    // traversal per extremum.
    val row = nonNull.select(graft.functions.array_min_max(col(vecCol)).as("mm"))
      .agg(
        min(col("mm.mn")).as("mn"),
        max(col("mm.mx")).as("mx"),
        count(lit(1)).as("rows")
      ).head()
    val rows = row.getLong(2)
    if (rows == 0 || row.isNullAt(0)) Quantize.params(qType, 0.0, 0.0, hasNegative = false, rows max 0L)
    else {
      val mn = row.getDouble(0); val mx = row.getDouble(1)
      Quantize.params(qType, mn, mx, hasNegative = mn < 0.0, rows)
    }
  }

  /** Pass 2: project (id, code) through the codegen'd expression. */
  def quantizeCodes(df: DataFrame, idCol: String, vecCol: String, p: QuantParams): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), quantize_codes(col(vecCol), p).as("code"))

  /** Q1 `vector_quantize`: full rebuild of the quant store + sidecar.
    * Returns the quantized row count like the reference (:1456).
    *
    * `maxMemory`/`dim` reproduce the reference's batch sizing
    * (`max_vectors = max_memory / (8 + dim)`, sqlite-vector.c:1160-1186):
    * each output file holds at most one "batch" of records, so a scan can
    * bound its memory per split exactly like the chunked shadow-table read.
    * Parquet's write-then-rename directory commit stands in for the
    * BEGIN/COMMIT + DROP/CREATE transaction (:1418-1437).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String, quantPath: String,
               qType: QType = QType.Auto, table: String = "", column: String = "",
               maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): (QuantParams, Long) = {
    val p = computeParams(df, vecCol, qType)
    val writer = quantizeCodes(df, idCol, vecCol, p).write.mode(SaveMode.Overwrite)
    val sized = if (dim > 0) writer.option("maxRecordsPerFile", math.max(1L, maxMemory / (8L + dim)))
                else writer
    sized.parquet(quantPath)
    VectorCatalog.writeSidecar(s"$quantPath/_vector_meta.json", p)
    if (table.nonEmpty) VectorCatalog.putQuantParams(table, column, p)
    (p, p.rows)
  }

  /** Config-driven form: a registered VectorConfig supplies qtype, the
    * memory budget and the dimension (the `vector_quantize(t, c, opts)`
    * surface).
    */
  def quantize(df: DataFrame, idCol: String, vecCol: String, quantPath: String,
               cfg: graft.VectorConfig, table: String, column: String): (QuantParams, Long) =
    quantize(df, idCol, vecCol, quantPath, cfg.qType, table, column, cfg.maxMemory, cfg.dim)

  /** Decode a PACKED blob column of the given element type to the
    * canonical `array<float>` — the same ToVector path as the scalar
    * `vector_as_*` surface (dim-checked when dim > 0).
    */
  private def decodePacked(c: org.apache.spark.sql.Column, srcType: graft.ElemType,
                           dim: Int): org.apache.spark.sql.Column = srcType match {
    case graft.ElemType.F32 => graft.functions.vector_as_f32(c, dim)
    case graft.ElemType.F16 => graft.functions.vector_as_f16(c, dim)
    case graft.ElemType.BF16 => graft.functions.vector_as_bf16(c, dim)
    case graft.ElemType.I8 => graft.functions.vector_as_i8(c, dim)
    case graft.ElemType.U8 => graft.functions.vector_as_u8(c, dim)
  }

  /** Q1 over a PACKED source column (f32/f16/bf16/i8/u8 blobs): the
    * reference's rebuild decodes EVERY stored element type before
    * re-quantizing (sqlite-vector.c:1199-1255); the Spark equivalent
    * composes the codegen'd ToVector decode into both passes — the
    * min/max pass and the code projection each read the blob column once
    * and unpack in-row, so the two-scan shape (and the zero-shuffle
    * property) is unchanged from [[quantize]].
    */
  def quantizeFrom(df: DataFrame, idCol: String, vecCol: String,
                   srcType: graft.ElemType, quantPath: String,
                   qType: QType = QType.Auto, table: String = "", column: String = "",
                   maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): (QuantParams, Long) = {
    // ToVector is null-safe: a NULL blob decodes to a NULL vector, which
    // both passes already skip
    val decoded = df.select(col(idCol),
      decodePacked(col(vecCol), srcType, dim).as(vecCol))
    quantize(decoded, idCol, vecCol, quantPath, qType, table, column, maxMemory, dim)
  }

  /** Incremental maintenance — APPEND newly ingested vectors to an
    * existing quant store under its FROZEN params (read from the sidecar),
    * skipping both the global min/max pass and the full rewrite. The
    * reference has no incremental path (`vector_quantize` always DROPs and
    * rebuilds, sqlite-vector.c:1418-1437); at 100 TB a rebuild per ingest
    * wave is untenable while an append is one scan of the wave.
    *
    * Correctness contract: appended codes use the stored scale/offset, so
    * the combined store is code-identical to a full rebuild IFF the new
    * vectors lie within the original [min, max] envelope (outside values
    * saturate at the clamp exactly like the reference's range behavior —
    * but a full rebuild would have WIDENED the params, so drift also
    * voids [[certifiedTopK]]'s in-envelope exactness proof). The check is
    * therefore ENFORCED, not documented: the wave's global extrema (one
    * `array_min_max` aggregation over the ingest wave only — never the
    * store) are compared against [[envelope]] before any byte is written.
    * `onDrift = "fail"` (default) rejects the wave with the measured
    * extrema in the message; `"allow"` proceeds with saturating codes for
    * callers that have consciously traded the certificate away.
    *
    * Returns the appended row count.
    */
  def quantizeAppend(df: DataFrame, idCol: String, vecCol: String,
                     quantPath: String, maxMemory: Long = 30L * 1024 * 1024,
                     dim: Int = -1, onDrift: String = "fail"): Long = {
    require(onDrift == "fail" || onDrift == "allow", s"onDrift must be fail|allow, got $onDrift")
    val p = VectorCatalog.readSidecar(s"$quantPath/_vector_meta.json")
    if (onDrift == "fail") {
      val (mn, mx) = waveExtrema(df, vecCol)
      val (emn, emx) = envelope(p)
      if (mn < emn || mx > emx)
        throw new IllegalArgumentException(
          f"quantizeAppend: wave extrema [$mn%.9g, $mx%.9g] exceed the store's " +
          f"quantization envelope [$emn%.9g, $emx%.9g]; appended codes would " +
          "saturate and certifiedTopK's exactness proof would be void. " +
          "Re-quantize (full rebuild) or pass onDrift=\"allow\".")
    }
    val writer = quantizeCodes(df, idCol, vecCol, p).write.mode(SaveMode.Append)
    val sized = if (dim > 0) writer.option("maxRecordsPerFile", math.max(1L, maxMemory / (8L + dim)))
                else writer
    sized.parquet(quantPath)
    // the appended row count comes from the compact code store's parquet
    // footers — truthful under task retries, unlike a separate pre-count
    // of a possibly non-deterministic input
    val total = df.sparkSession.read.parquet(quantPath).count()
    VectorCatalog.writeSidecar(s"$quantPath/_vector_meta.json", p.copy(rows = total))
    total - p.rows
  }

  /** The [min, max] value envelope a [[QuantParams]] was built from,
    * inverted from the scale/offset formulas (Quantize.params): U8 has
    * offset = min, scale = 255/(max−min); I8 has offset = 0, scale =
    * 127/absMax. One extra ulp of slack absorbs the division round-trip
    * (the recovered bound differs from the true min/max by at most the
    * 255/scale rounding), so an in-envelope wave is never falsely
    * rejected while any drift that could move a rebuilt param survives
    * the slack.
    */
  def envelope(p: QuantParams): (Double, Double) = p.qType match {
    case QType.U8 =>
      val range = 255.0 / p.scale
      (p.offset, p.offset + range + math.ulp(range))
    case _ =>
      val a = 127.0 / p.scale
      val am = a + math.ulp(a)
      (-am, am)
  }

  /** Global (min, max) over every lane of every vector in the wave — the
    * same NaN-skipping single-traversal `array_min_max` aggregation as
    * [[computeParams]] pass 1; shuffles two doubles per partition. An
    * empty / all-null wave returns the degenerate (+Inf, −Inf), which is
    * inside every envelope (an empty append never drifts).
    */
  def waveExtrema(df: DataFrame, vecCol: String): (Double, Double) = {
    val row = df.where(col(vecCol).isNotNull)
      .select(graft.functions.array_min_max(col(vecCol)).as("mm"))
      .agg(min(col("mm.mn")).as("mn"), max(col("mm.mx")).as("mx")).head()
    if (row.isNullAt(0)) (Double.PositiveInfinity, Double.NegativeInfinity)
    else (row.getDouble(0), row.getDouble(1))
  }

  /** Compact a quant store after many [[quantizeAppend]] waves: rewrite
    * the accumulated small files into batch-sized ones (same
    * `max_memory/(8+dim)` sizing as [[quantize]]) and swap directories.
    * Codes and params are untouched — this is purely a small-files fix
    * (each append wave adds its own files; a thousand waves would
    * otherwise make every scan pay a thousand-file listing). The swap
    * matches the reference's BEGIN/COMMIT-atomic rebuild
    * (sqlite-vector.c:1418-1453): the staged copy is made COMPLETE first
    * (codes + `_vector_meta.json` sidecar written INTO the staging dir),
    * then promoted via [[StoreSwap.commit]] — a crash at any point leaves
    * a complete store recoverable by name ([[readStore]] runs the
    * recovery probe).
    *
    * Returns the store's row count.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, quantPath: String,
              maxMemory: Long = 30L * 1024 * 1024, dim: Int = -1): Long = {
    val tmpPath = quantPath + ".compact"
    StoreSwap.recover(spark, quantPath, tmpPath)
    val p = VectorCatalog.readSidecar(s"$quantPath/_vector_meta.json")
    val writer = spark.read.parquet(quantPath)
      .repartition(math.max(1, spark.sparkContext.defaultParallelism))
      .write.mode(SaveMode.Overwrite)
    val sized = if (dim > 0) writer.option("maxRecordsPerFile", math.max(1L, maxMemory / (8L + dim)))
                else writer
    sized.parquet(tmpPath)
    // the sidecar joins the staged dir BEFORE any rename, so the promoted
    // store carries it atomically with the codes (the old post-swap write
    // had a window where a crash left a store with no params)
    VectorCatalog.writeSidecar(s"$tmpPath/_vector_meta.json", p)
    val hp = new org.apache.hadoop.fs.Path(quantPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    StoreSwap.commit(fs, hp, new org.apache.hadoop.fs.Path(tmpPath))
    p.rows
  }

  /** Open a quant store for scanning, resolving any crash window an
    * interrupted [[compact]] swap left behind first (idempotent, a few
    * filesystem probes). Readers that go straight to
    * `spark.read.parquet(quantPath)` skip only the recovery, not
    * correctness — a completed swap is indistinguishable.
    */
  def readStore(spark: org.apache.spark.sql.SparkSession, quantPath: String): DataFrame = {
    StoreSwap.recover(spark, quantPath, quantPath + ".compact")
    spark.read.parquet(quantPath)
  }

  /** Q3: quantize the probe vector with the stored params
    * (sqlite-vector.c:2159-2177).
    */
  def quantizeProbe(probe: Array[Float], p: QuantParams): Array[Byte] = Quantize.codes(probe, p)

  /** K2 `vector_quantize_scan`: approximate k-NN over the code table,
    * distance computed in i8/u8 code space, NOT dequantized (:2198-2200).
    */
  def quantScan(quantDF: DataFrame, probe: Array[Float], p: QuantParams,
                k: Int, metric: String): DataFrame = {
    val qprobe = quantizeProbe(probe, p)
    Knn.topK(
      quantDF.select(col("id"),
        code_distance(col("code"), lit(qprobe), metric, p.qType).as("distance")),
      col("distance"), col("id"), k)
  }

  /** CERTIFIED-EXACT k-NN from the quantized store (beyond-reference):
    * scans only the 1-byte codes like [[quantScan]], yet returns EXACTLY
    * the full-precision top-k — the approximate index with an exactness
    * proof, where the reference's quantized scan (and every standard ANN
    * stack) accepts silent recall loss.
    *
    * Derivation (L2, code units): in-envelope quantization places every
    * stored lane within 0.5 code of `scale·(x − offset)` (half-away
    * rounding, no saturation inside the pass-1 min/max envelope), so
    * ‖scale·(x − q)‖ deviates from the integer code distance by at most
    * B = 0.5·√dim + E_p, with E_p the probe's OWN quantization error
    * computed exactly on the driver (so an out-of-envelope, even saturated
    * probe just widens the bound — certification survives). If T is the
    * k-th smallest code distance² then every true top-k row has code
    * distance ≤ (√T + 2B)²: stage 1 takes the code top-k (one
    * TakeOrderedAndProject over the codes), stage 2 rescans the codes for
    * rows under the certified threshold and reranks ONLY those against
    * the full-precision vectors (equi-join on id, AQE broadcasts the
    * candidate side when small). Two scans of the 4×-smaller code store +
    * a candidate-sized exact pass replace one full f32 scan; no shuffle
    * of `base` beyond the join.
    *
    * Preconditions: every stored code in-envelope — guaranteed by the
    * full rebuild and ENFORCED on appends ([[quantizeAppend]]'s default
    * onDrift="fail"; only an explicit onDrift="allow" can introduce
    * saturated codes that void the proof) — and NaN-free vectors
    * (documented, not checked). Metrics: l2 / sq_l2
    * (the bound is an L2 triangle inequality; other metrics fall back to
    * [[graft.ops.Knn.fullScan]]).
    */
  def certifiedTopK(base: DataFrame, idCol: String, vecCol: String,
                    quantDF: DataFrame, probe: Array[Float], p: QuantParams,
                    k: Int, metric: String,
                    maxBroadcastCand: Long = 1000000L): DataFrame = {
    if (metric != "l2" && metric != "sq_l2")
      return Knn.fullScan(base, idCol, vecCol, probe, k, metric)
    if (k <= 0)
      return base.select(col(idCol), lit(0.0).as("distance")).limit(0)
    val qprobe = quantizeProbe(probe, p)
    val ep = math.sqrt(probe.indices.map { i =>
      val scaled = (probe(i).toDouble - p.offset) * p.scale
      val c = if (p.qType == QType.I8) qprobe(i).toDouble else (qprobe(i) & 0xff).toDouble
      val d = scaled - c; d * d
    }.sum)
    val bound = 0.5 * math.sqrt(probe.length.toDouble) + ep
    val codeD = quantDF.select(col("id"),
      code_distance(col("code"), lit(qprobe), "sq_l2", p.qType).as("cd"))
    // stage 1: k-th smallest code distance² — a k-row driver merge
    val kthRow = Knn.topK(codeD, col("cd"), col("id"), k)
      .agg(max(col("cd"))).head()
    if (kthRow.isNullAt(0))
      return base.select(col(idCol), lit(0.0).as("distance")).limit(0)
    val s = math.sqrt(kthRow.getLong(0).toDouble) + 2.0 * bound
    // integer threshold, rounded UP with float slack so the certificate
    // can only widen, never narrow
    val thr = math.ceil(s * s * (1.0 + 1e-12)).toLong
    val cand = codeD.where(col("cd") <= thr).select(col("id").as("_cand_id"))
    // The shortlist join must never shuffle the full-precision side: a
    // sort-merge plan here exchanges the whole f32 corpus to rerank a
    // k-adjacent candidate set (measured 2-3× the cost of the plain
    // exact scan at 1M×768, with GC-driven variance). Candidate ids are
    // 8 bytes each, so broadcast them explicitly; the count guard (one
    // cheap job over the code store, usually cached/preloaded) keeps a
    // degenerate certificate — codes so collapsed the threshold admits
    // the corpus — on the planner's shuffle join instead of an OOM.
    // `maxBroadcastCand` defaults to 1M rows (~10-20 MB hashed relation,
    // normal broadcast sizing); raise it only with driver memory to match.
    val nCand = cand.count()
    val candSide = if (nCand <= maxBroadcastCand) broadcast(cand) else cand
    Knn.topK(
      base.where(col(vecCol).isNotNull)
        .join(candSide, col(idCol) === col("_cand_id"))
        .select(col(idCol),
          graft.functions.vector_distance(col(vecCol), graft.functions.vectorLit(probe), metric).as("distance")),
      col("distance"), col(idCol), k)
  }

  /** K4 `vector_quantize_scan_stream`: code-space distances, no sort/limit. */
  def quantStream(quantDF: DataFrame, probe: Array[Float], p: QuantParams, metric: String): DataFrame = {
    val qprobe = quantizeProbe(probe, p)
    quantDF.select(col("id"),
      code_distance(col("code"), lit(qprobe), metric, p.qType).as("distance"))
  }

  /** S5 `vector_quantize_preload`: pin the quant table in executor memory
    * in the reference's layout — one contiguous n×dim code buffer plus an
    * id array per store partition (:1338-1404), a MEMORY_ONLY block RDD
    * built eagerly by one job.
    *
    * The result is a DataFrame with the store's `(id, code)` output over
    * a new leaf ([[graft.sql.PreloadedCodes]]). Generic readers (counts,
    * filters, joins, the certified plan's shortlist) see ordinary rows;
    * top-k by `code_distance` against a literal probe ([[quantScan]], the
    * `vector_quantize_scan` TVF, [[certifiedTopK]]'s stage 1) plans as
    * [[graft.sql.PreloadedTopKExec]]: one task per block walks the buffer
    * into a k-slot heap, and the driver merges k × blocks rows. Results
    * equal the unpreloaded plan's, row for row.
    *
    * Release with [[cleanup]]`(df)`: `Dataset.unpersist()` does not reach
    * the block RDD. Preloading installs [[graft.sql.GraftStrategy]] in the
    * frame's session. NULL ids or codes, or two code lengths in one store
    * partition, are rejected.
    */
  def preload(quantDF: DataFrame): DataFrame = graft.sql.PreloadedCodes.load(quantDF)

  /** S6 `vector_quantize_cleanup`, preload-release half only: free the
    * block RDD of every [[preload]]ed copy `quantDF` reads (a frame with
    * none is left as it is). This is the release for a [[preload]]
    * result. The full drop (store + sidecar + catalog params) is the
    * path-taking overload below.
    */
  def cleanup(quantDF: DataFrame): Unit = graft.sql.PreloadedCodes.release(quantDF)

  /** S6 `vector_quantize_cleanup` (sqlite-vector.c:1501-1524), the full
    * drop: release any preloaded copy, delete the on-disk quant store —
    * code files AND the `_vector_meta.json` sidecar, via the store path's
    * own filesystem so HDFS/S3A/local all work — and drop the catalog's
    * quant params. Parity with the reference's DROP TABLE of the shadow
    * table + `_sqliteai_vector` row delete + context removal; like there,
    * the `vector_init` registration survives and a fresh
    * [[quantize]] afterwards rebuilds the store from scratch.
    */
  def cleanup(spark: org.apache.spark.sql.SparkSession, quantPath: String,
              table: String = "", column: String = "",
              preloaded: Option[DataFrame] = None): Unit = {
    preloaded.foreach(cleanup)
    val p = new org.apache.hadoop.fs.Path(quantPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, true)
    if (table.nonEmpty) VectorCatalog.dropQuantParams(table, column)
  }

  /** Q2 `vector_quantize_memory`: bytes needed to preload =
    * Σ(8 + len(code)) — the reference's record layout (:1160-1161).
    */
  def memoryBytes(quantDF: DataFrame): Long =
    quantDF.agg(sum(length(col("code")) + lit(8)).cast("long")).head().getLong(0)

  /** The recall harness from QUANTIZATION.md:46-72: |approx ∩ exact| / k. */
  def recall(exact: DataFrame, approx: DataFrame, idCol: String = "id"): Double = {
    val e = exact.select(col(idCol)).distinct()
    val a = approx.select(col(idCol)).distinct()
    val inter = e.join(a, Seq(idCol), "inner").count()
    val total = e.count()
    if (total == 0) 1.0 else inter.toDouble / total
  }
}
