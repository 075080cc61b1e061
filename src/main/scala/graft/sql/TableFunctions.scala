package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Expression, ExpressionInfo, IsNotNull, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.VectorCatalog
import graft.codec.VectorCodec
import graft.expressions.{CodeDistance, VectorDistance}
import graft.ops.Quantizer
import graft.QType

/** The reference's table-valued-function query surface in SQL
  * (`FROM vector_full_scan('t','c',probe,k)` — sqlite-vector.c:2377-2487,
  * API.md:212-261), realized as Catalyst table functions that expand to a
  * declarative plan: Project(distance) → Sort → Limit over the registered
  * table. Catalyst then plans the usual TakeOrderedAndProject +
  * codegen'd scan — the TVF adds SQL ergonomics, not a new physical path;
  * over a preloaded shadow store [[GraftStrategy]] plans the same tree as
  * [[PreloadedTopKExec]].
  *
  * Like the reference, the (table, column) pair must be registered first
  * (`vector_init` ≙ VectorCatalog.init, which also resolves the id column
  * the way the reference resolves rowid/pk), and `vector_quantize_scan`
  * additionally requires quantization metadata and the shadow store — a
  * view named `vector0_<table>_<column>`, the reference's shadow-table
  * naming (sqlite-vector.c:1000-1002).
  */
object GraftTableFunctions {

  private def strArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(i: Int, IntegerType) => i
    case Literal(l: Long, LongType)   => l.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** Probe argument: a JSON text array (the reference's JSON input path,
    * sqlite-vector.c:1528-1653), dimension-checked against the config.
    */
  private def probeArg(e: Expression, dim: Int): Array[Float] = {
    val parsed = VectorCodec.parseJson(strArg(e, "probe vector"), dim)
    parsed
  }

  private def config(table: String, column: String) =
    VectorCatalog.get(table, column).getOrElse(throw new IllegalArgumentException(
      s"vector_init('$table','$column',...) must be called before scanning (sqlite-vector.c:1760-1765)"))

  /** `vector_full_scan(tbl, col, probeJson, k)` → rows (id, distance). */
  def fullScanBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, c, probeE, kE) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      val cfg = config(table, column)
      val probe = probeArg(probeE, cfg.dim)
      val k = intArg(kE, "k")
      val dist = Alias(
        VectorDistance(UnresolvedAttribute(column), Literal.create(probe, ArrayType(FloatType)), cfg.metric),
        "distance")()
      val proj = Project(
        Seq(Alias(UnresolvedAttribute(cfg.idCol), "id")(), dist),
        Filter(IsNotNull(UnresolvedAttribute(column)), UnresolvedRelation(Seq(table))))
      topK(proj, k)
    case other =>
      throw new IllegalArgumentException(s"vector_full_scan expects (table, column, probe, k), got ${other.size} args")
  }

  /** `vector_quantize_scan(tbl, col, probeJson, k)` → rows (id, distance)
    * over the quant store, distance in i8/u8 code space (NOT dequantized,
    * sqlite-vector.c:2198-2200) with the probe quantized via the stored
    * scale/offset (Q3, :2159-2177).
    */
  def quantScanBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, c, probeE, kE) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      val cfg = config(table, column)
      val p = VectorCatalog.quantParams(table, column).getOrElse(throw new IllegalArgumentException(
        s"vector_quantize('$table','$column') must run before a quantized scan (sqlite-vector.c:1780-1787)"))
      val qprobe = Quantizer.quantizeProbe(probeArg(probeE, cfg.dim), p)
      val k = intArg(kE, "k")
      val dist = Alias(
        CodeDistance(UnresolvedAttribute("code"), Literal(qprobe, BinaryType), cfg.metric,
          signed = p.qType == QType.I8),
        "distance")()
      val proj = Project(
        Seq(Alias(UnresolvedAttribute("id"), "id")(), dist),
        UnresolvedRelation(Seq(s"vector0_${table}_$column")))
      topK(proj, k)
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_scan expects (table, column, probe, k), got ${other.size} args")
  }

  /** `vector_scan(tbl, col, probeJson, k)` — AUTOMATIC index selection,
    * the "the optimizer picks the access path" surface neither the
    * reference nor stock Spark has: when the (table, column) pair has a
    * quantized store AND an L2-family metric, expand to the
    * CERTIFIED-EXACT two-stage plan ([[graft.ops.Quantizer.certifiedTopK]]
    * — code-store shortlist under the quantization-error bound, exact
    * rerank); otherwise fall back to the brute-force full scan. Either
    * path returns exactly the full-precision top-k, so swapping plans
    * never changes results — which is precisely what licenses an
    * optimizer to make the choice silently.
    *
    * The certified threshold is DECLARATIVE: the k-th code distance rides
    * as an uncorrelated scalar subquery, so the whole thing is one
    * LogicalPlan — no driver-side action at expansion time, EXPLAIN shows
    * both stages, and Catalyst/AQE schedule the subquery like any other.
    */
  def autoScanBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, c, probeE, kE) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      val cfg = config(table, column)
      val probe = probeArg(probeE, cfg.dim)
      val k = intArg(kE, "k")
      VectorCatalog.quantParams(table, column) match {
        case Some(p) if (cfg.metric == graft.Metric.L2 || cfg.metric == graft.Metric.SquaredL2) && k > 0 =>
          certifiedPlan(table, column, cfg, probe, p, k)
        case _ => fullScanBuilder(args)
      }
    case other =>
      throw new IllegalArgumentException(s"vector_scan expects (table, column, probe, k), got ${other.size} args")
  }

  private def certifiedPlan(table: String, column: String, cfg: graft.VectorConfig,
                            probe: Array[Float], p: graft.QuantParams, k: Int): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, EqualTo, LessThanOrEqual, Multiply, ScalarSubquery, Sqrt}
    import org.apache.spark.sql.catalyst.expressions.aggregate.Max
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, JoinHint}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

    val qprobe = Quantizer.quantizeProbe(probe, p)
    // probe's own quantization error in code units — exact, saturation
    // included, so out-of-envelope probes only widen the bound
    val ep = math.sqrt(probe.indices.map { i =>
      val scaled = (probe(i).toDouble - p.offset) * p.scale
      val cv = if (p.qType == QType.I8) qprobe(i).toDouble else (qprobe(i) & 0xff).toDouble
      val d = scaled - cv; d * d
    }.sum)
    val bound = 0.5 * math.sqrt(probe.length.toDouble) + ep

    def codeProj = Project(Seq(
        Alias(UnresolvedAttribute("id"), "id")(),
        Alias(CodeDistance(UnresolvedAttribute("code"), Literal(qprobe, BinaryType),
          graft.Metric.SquaredL2, signed = p.qType == QType.I8), "cd")()),
      UnresolvedRelation(Seq(s"vector0_${table}_$column")))

    // k-th smallest code distance² as an uncorrelated scalar subquery
    val kth = Aggregate(Nil,
      Seq(Alias(Max(UnresolvedAttribute("cd")).toAggregateExpression(), "t")()),
      Limit(Literal(k), Sort(
        Seq(SortOrder(UnresolvedAttribute("cd"), Ascending),
            SortOrder(UnresolvedAttribute("id"), Ascending)),
        global = true, codeProj)))
    // thr = (sqrt(T) + 2B)² widened by a float-slack factor — the
    // certificate can only widen, never narrow
    val sPlus = Add(Sqrt(Cast(ScalarSubquery(kth), DoubleType)), Literal(2.0 * bound))
    val thr = Multiply(Multiply(sPlus, sPlus), Literal(1.0 + 1e-12))

    val cand = Project(Seq(Alias(UnresolvedAttribute("id"), "_cand_id")()),
      Filter(LessThanOrEqual(Cast(UnresolvedAttribute("cd"), DoubleType), thr), codeProj))
    val joined = Join(
      Filter(IsNotNull(UnresolvedAttribute(column)), UnresolvedRelation(Seq(table))),
      cand, Inner,
      Some(EqualTo(UnresolvedAttribute(cfg.idCol), UnresolvedAttribute("_cand_id"))),
      JoinHint.NONE)
    topK(Project(Seq(
        Alias(UnresolvedAttribute(cfg.idCol), "id")(),
        Alias(VectorDistance(UnresolvedAttribute(column),
          Literal.create(probe, ArrayType(FloatType)), cfg.metric), "distance")()),
      joined), k)
  }

  private def topK(proj: LogicalPlan, k: Int): LogicalPlan =
    Limit(Literal(math.max(k, 0)), Sort(
      Seq(SortOrder(UnresolvedAttribute("distance"), Ascending),
          SortOrder(UnresolvedAttribute("id"), Ascending)),
      global = true, proj))

  // ---------- lifecycle scalar functions (API.md:53-168) ----------
  //
  // The reference registers vector_init / vector_quantize /
  // vector_quantize_memory / vector_quantize_preload /
  // vector_quantize_cleanup as SQL scalar functions next to the scan vtabs
  // (sqlite-vector.c:2581-2597), and SQLite runs them when the statement
  // STEPS, not when it prepares. Here each builder validates its arguments
  // (pure, fail-fast at analysis) and returns a LifecycleCall whose side
  // effect runs at EXECUTION — the standalone statement shape
  // `SELECT lifecycle_fn(...)` is planned by GraftStrategy as a
  // driver-side command (see Lifecycle.scala), so EXPLAIN, view
  // re-resolution and failed analysis never fire a side effect. The
  // expression's value is the reference's return (NULL, or the quantized
  // row count). vector_quantize_memory is the one deliberate exception:
  // it is a pure read (Σ bytes over the shadow store) that composes
  // inside row-producing queries, so it resolves to a literal at analysis
  // — re-analysis recomputes a number, mutating nothing.

  /** Shadow-store naming: `vector0_<table>_<column>`
    * (sqlite-vector.c:1000-1002) — both the parquet directory under the
    * store root and the temp view the quantized scan reads.
    */
  private def shadowName(table: String, column: String) = s"vector0_${table}_$column"

  /** Frees the preloaded copy behind the shadow view, if there is one —
    * every rebind of the view (re-quantize, append, compact, preload,
    * cleanup) goes through here, so no block RDD outlives its view.
    */
  private def releaseShadow(spark: SparkSession, shadow: String): Unit =
    if (spark.catalog.tableExists(shadow)) Quantizer.cleanup(spark.table(shadow))

  private def storePath(spark: SparkSession, cfg: graft.VectorConfig,
                        table: String, column: String): String = {
    val root =
      if (cfg.storeDir.nonEmpty) cfg.storeDir
      else spark.conf.get("spark.sql.warehouse.dir") + "/graft_vector_stores"
    s"$root/${shadowName(table, column)}"
  }

  /** `vector_init(tbl, col, options)` → NULL. Registers + validates the
    * vector column (API.md:53-88); idempotent re-init must match.
    */
  def initBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c, o) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      // option parsing is pure validation — keep it at analysis so a typo
      // fails the statement before anything executes
      val cfg = graft.VectorConfig.fromOptions(strArg(o, "options"))
      LifecycleCall("vector_init", StringType, () => {
        val spark = Lifecycle.activeSession("vector_init")
        VectorCatalog.init(table, column, cfg, Some(spark.table(table)))
        null
      })
    case other =>
      throw new IllegalArgumentException(s"vector_init expects (table, column, options), got ${other.size} args")
  }

  /** `vector_quantize(tbl, col[, options])` → quantized row count
    * (API.md:93-118). Rebuilds the shadow store, refreshes the shadow view
    * (dropping any preloaded copy first — the reference's auto-reload on
    * re-quantize), and records params in the catalog + sidecar.
    */
  def quantizeBuilder(args: Seq[Expression]): Expression = {
    val (t, c, opts) = args match {
      case Seq(t0, c0)     => (t0, c0, "")
      case Seq(t0, c0, o0) => (t0, c0, strArg(o0, "options"))
      case other =>
        throw new IllegalArgumentException(s"vector_quantize expects (table, column[, options]), got ${other.size} args")
    }
    val table = strArg(t, "table name")
    val column = strArg(c, "column name")
    // the config lookup happens at execution so a vector_init earlier in
    // the same session (or script) is honored regardless of when this
    // statement was analyzed
    LifecycleCall("vector_quantize", LongType, () => {
      val spark = Lifecycle.activeSession("vector_quantize")
      val cfg = config(table, column)
      // the only documented quantize option is max_memory (API.md:110-114)
      val maxMem = opts.split(",").map(_.trim).collectFirst {
        case kv if kv.toLowerCase.startsWith("max_memory=") =>
          graft.VectorConfig.humanToNumber(kv.substring(kv.indexOf('=') + 1))
      }.getOrElse(cfg.maxMemory)
      val shadow = shadowName(table, column)
      releaseShadow(spark, shadow)
      val (_, rows) = Quantizer.quantize(spark.table(table), cfg.idCol, column,
        storePath(spark, cfg, table, column), cfg.qType, table, column, maxMem, cfg.dim)
      spark.read.parquet(storePath(spark, cfg, table, column)).createOrReplaceTempView(shadow)
      rows
    })
  }

  private def shadowTable(spark: SparkSession, table: String, column: String) = {
    VectorCatalog.quantParams(table, column).getOrElse(throw new IllegalArgumentException(
      s"vector_quantize('$table','$column') must run first (sqlite-vector.c:1780-1787)"))
    spark.table(shadowName(table, column))
  }

  /** `vector_quantize_append(tbl, col, waveView)` → appended row count.
    * BEYOND-REFERENCE maintenance (the reference can only DROP+rebuild):
    * quantizes the rows of the registered view/table `waveView` under the
    * store's frozen sidecar params and appends them (one scan of the
    * wave, [[Quantizer.quantizeAppend]]), then refreshes the shadow view.
    */
  def appendBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c, w) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      val wave = strArg(w, "wave view name")
      LifecycleCall("vector_quantize_append", LongType, () => {
        val spark = Lifecycle.activeSession("vector_quantize_append")
        val cfg = config(table, column)
        val path = storePath(spark, cfg, table, column)
        val rows = Quantizer.quantizeAppend(spark.table(wave), cfg.idCol, column,
          path, cfg.maxMemory, cfg.dim)
        releaseShadow(spark, shadowName(table, column))
        spark.read.parquet(path).createOrReplaceTempView(shadowName(table, column))
        rows
      })
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_append expects (table, column, wave_view), got ${other.size} args")
  }

  /** `vector_quantize_compact(tbl, col)` → store row count. BEYOND-
    * REFERENCE: merges accumulated append-wave files into batch-sized
    * ones ([[Quantizer.compact]]) and refreshes the shadow view.
    */
  def compactBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      LifecycleCall("vector_quantize_compact", LongType, () => {
        val spark = Lifecycle.activeSession("vector_quantize_compact")
        val cfg = config(table, column)
        val path = storePath(spark, cfg, table, column)
        val rows = Quantizer.compact(spark, path, cfg.maxMemory, cfg.dim)
        releaseShadow(spark, shadowName(table, column))
        spark.read.parquet(path).createOrReplaceTempView(shadowName(table, column))
        rows
      })
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_compact expects (table, column), got ${other.size} args")
  }

  /** `vector_quantize_memory(tbl, col)` → preload bytes = Σ(8 + len(code))
    * (API.md:123-133). Deliberately analysis-time (see the section note):
    * a pure read whose literal result composes inside row-producing
    * queries without launching nested jobs from executor tasks.
    */
  def memoryBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c) =>
      val spark = SparkSession.active
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      Literal(Quantizer.memoryBytes(shadowTable(spark, table, column)))
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_memory expects (table, column), got ${other.size} args")
  }

  /** `vector_quantize_preload(tbl, col)` → NULL. Pins the shadow store in
    * executor memory as one contiguous code block per partition
    * ([[Quantizer.preload]]) and rebinds the shadow view to it, so
    * subsequent `vector_quantize_scan` calls read RAM (API.md:139-150). A
    * second preload rebuilds from the current copy, then frees it.
    */
  def preloadBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      LifecycleCall("vector_quantize_preload", StringType, () => {
        val spark = Lifecycle.activeSession("vector_quantize_preload")
        val current = shadowTable(spark, table, column)
        Quantizer.preload(current).createOrReplaceTempView(shadowName(table, column))
        Quantizer.cleanup(current)
        null
      })
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_preload expects (table, column), got ${other.size} args")
  }

  /** `vector_quantize_cleanup(tbl, col)` → NULL. Releases the preloaded
    * copy, drops the shadow view, deletes the store (codes + sidecar) and
    * removes the catalog's quant params (API.md:155-168,
    * sqlite-vector.c:1501-1524). The vector_init registration survives.
    */
  def cleanupBuilder(args: Seq[Expression]): Expression = args match {
    case Seq(t, c) =>
      val table = strArg(t, "table name")
      val column = strArg(c, "column name")
      LifecycleCall("vector_quantize_cleanup", StringType, () => {
        val spark = Lifecycle.activeSession("vector_quantize_cleanup")
        val cfg = config(table, column)
        val shadow = shadowName(table, column)
        releaseShadow(spark, shadow)
        spark.catalog.dropTempView(shadow)
        Quantizer.cleanup(spark, storePath(spark, cfg, table, column), table, column)
        null
      })
    case other =>
      throw new IllegalArgumentException(s"vector_quantize_cleanup expects (table, column), got ${other.size} args")
  }

  private def doubleArg(e: Expression, what: String): Double = e match {
    case Literal(d: Double, org.apache.spark.sql.types.DoubleType) => d
    case Literal(dec: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) => dec.toDouble
    case Literal(i: Int, IntegerType) => i.toDouble
    case Literal(l: Long, LongType) => l.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  /** `near_dup_pairs(tbl, idCol, textCol, threshold)` → (a, b, jaccard):
    * the MinHash-LSH near-dup pipeline ([[graft.ops.Dedup.minhashLshRun]],
    * 128 hashes / 16 bands / char-3 shingles) as a SQL table function —
    * BEYOND-REFERENCE surface: the reference's TVFs cover vector scans
    * only, while a pipeline user writes `CREATE TABLE dups AS SELECT *
    * FROM near_dup_pairs('docs','doc_id','text', 0.9)`. Precision is
    * exact (every emitted pair's jaccard is verified against the true
    * shingle sets before the threshold cut) but candidate RECALL is
    * probabilistic: LSH banding can miss true pairs near the threshold
    * (at 128/16, a pair at jaccard exactly 0.8 is surfaced with
    * probability ~0.95) — the scale trade that keeps the pair space
    * bucket-bounded instead of quadratic. Callers needing exhaustive
    * recall on small corpora should use the all-candidate
    * [[graft.ops.Dedup.ngramJaccard]] from the Scala API. The builder
    * expands the registered table through the full DataFrame pipeline
    * and returns its analyzed logical plan (the same Catalyst tree the
    * Scala API produces — no second implementation to drift).
    *
    * Barrier lifecycle under SQL expansion: the pipeline's
    * content-projection barrier is threaded through LAZILY (`eager =
    * false`) so plan expansion — which also runs for EXPLAIN or an
    * unexecuted CTAS — never fires a shingling job at analysis time; the
    * checkpoint materializes on the outer query's first action. There is
    * no release() hook at the SQL surface (the expanded plan's lifetime
    * is the caller's), so the blocks are freed by the ContextCleaner
    * when the result plan is garbage-collected — the same contract as
    * the Scala convenience wrappers ([[graft.ops.Dedup.minhashLsh]]);
    * long-lived sessions doing repeated programmatic dedup runs should
    * use the Scala Run variants + release() for deterministic freeing.
    */
  def nearDupPairsBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, idE, txtE, thrE) =>
      val spark = Lifecycle.activeSession("near_dup_pairs")
      val table = strArg(t, "table name")
      graft.ops.Dedup.minhashLshRun(spark.table(table),
          strArg(idE, "id column"), strArg(txtE, "text column"),
          numHashes = 128, bands = 16, shingleN = 3,
          threshold = doubleArg(thrE, "threshold"), eager = false)
        .pairs.queryExecution.logical
    case other =>
      throw new IllegalArgumentException(s"near_dup_pairs expects (table, idCol, textCol, threshold), got ${other.size} args")
  }

  /** `containment_pairs(tbl, idCol, textCol, shingleN, threshold)` →
    * (a, b, containment): the exact prefix-filtered containment join
    * ([[graft.ops.Dedup.containmentPairs]]) in SQL. Its barriers are
    * lazy already; release follows the same GC contract as
    * [[nearDupPairsBuilder]].
    */
  def containmentPairsBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, idE, txtE, nE, thrE) =>
      val spark = Lifecycle.activeSession("containment_pairs")
      graft.ops.Dedup.containmentRun(spark.table(strArg(t, "table name")),
          strArg(idE, "id column"), strArg(txtE, "text column"),
          shingleN = intArg(nE, "shingleN"), threshold = doubleArg(thrE, "threshold"))
        .pairs.queryExecution.logical
    case other =>
      throw new IllegalArgumentException(s"containment_pairs expects (table, idCol, textCol, shingleN, threshold), got ${other.size} args")
  }

  /** `sentence_dedup(tbl, idCol, textCol)` → the input rows with the text
    * column rewritten to corpus-wide keep-first sentences plus
    * (n_sentences, n_removed) audit columns
    * ([[graft.ops.Dedup.sentenceDedup]]) — the boilerplate-sentence pass
    * in pure SQL (`CREATE TABLE clean AS SELECT * FROM
    * sentence_dedup('docs','doc_id','text')`). Uses the SQL-restatable
    * `string_hash61` sentence key so the expansion is oracle-gateable;
    * the pipeline has no materialization barrier, so unlike the pair
    * TVFs there is no block-lifetime caveat.
    */
  def sentenceDedupBuilder(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(t, idE, txtE) =>
      val spark = Lifecycle.activeSession("sentence_dedup")
      graft.ops.Dedup.sentenceDedup(spark.table(strArg(t, "table name")),
          strArg(idE, "id column"), strArg(txtE, "text column"),
          graft.functions.string_hash61)
        .queryExecution.logical
    case other =>
      throw new IllegalArgumentException(s"sentence_dedup expects (table, idCol, textCol), got ${other.size} args")
  }

  private val builders: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    "vector_full_scan" -> (fullScanBuilder _),
    "vector_quantize_scan" -> (quantScanBuilder _),
    "vector_scan" -> (autoScanBuilder _),
    "near_dup_pairs" -> (nearDupPairsBuilder _),
    "containment_pairs" -> (containmentPairsBuilder _),
    "sentence_dedup" -> (sentenceDedupBuilder _))

  private val scalarBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vector_init" -> (initBuilder _),
    "vector_quantize" -> (quantizeBuilder _),
    "vector_quantize_memory" -> (memoryBuilder _),
    "vector_quantize_preload" -> (preloadBuilder _),
    "vector_quantize_cleanup" -> (cleanupBuilder _),
    "vector_quantize_append" -> (appendBuilder _),
    "vector_quantize_compact" -> (compactBuilder _))

  /** Runtime registration on a live session (the `CREATE FUNCTION` path). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.tableFunctionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
    val sreg = spark.sessionState.functionRegistry
    scalarBuilders.foreach { case (name, b) =>
      sreg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
    // lifecycle statements and preloaded scans plan through GraftStrategy;
    // experimental.extraStrategies is the live-session hook for the same
    // strategy inject() adds at session build
    GraftStrategy.install(spark)
  }

  /** `SparkSessionExtensions` injection — enable with
    * `spark.sql.extensions=graft.sql.GraftExtensions`.
    */
  def inject(ext: SparkSessionExtensions): Unit = {
    builders.foreach { case (name, b) =>
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getCanonicalName, name), b))
    }
    scalarBuilders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(GraftTableFunctions.getClass.getCanonicalName, name), b))
    }
    ext.injectPlannerStrategy(_ => GraftStrategy)
  }
}

/** Session extension entry point: registers the vector table functions at
  * session build time (`--conf spark.sql.extensions=graft.sql.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = GraftTableFunctions.inject(ext)
}
