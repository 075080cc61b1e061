package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._
import graft.sql.{GraftExtensions, GraftTableFunctions, PreloadedCodes, PreloadedTopKExec}

/** The preloaded quantized scan: one contiguous code block per store
  * partition ([[graft.sql.CodeBlock]]), top-k planned as
  * [[PreloadedTopKExec]] — same rows as the unpreloaded plan, no leaked
  * block RDDs, and the same planning under the session extension.
  */
class PreloadedScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkTestSession.spark

  /** 500 deterministic 64-dim vectors with negative lanes (AUTO → i8). */
  private def embOf(s: SparkSession): DataFrame =
    s.range(500).selectExpr("id AS vec_id",
      "transform(sequence(0, 63), j -> CAST(sin(id * 7 + j) * 0.75 AS FLOAT)) AS embedding")
  def emb: DataFrame = embOf(spark)
  val probe: Array[Float] = Array.tabulate(64)(j => (math.cos(j * 0.3) * 0.5).toFloat)
  val probeJson: String = probe.mkString("[", ",", "]")

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
  private def usesOperator(df: DataFrame) = nodes(df).exists(_.isInstanceOf[PreloadedTopKExec])
  private def usesTakeOrdered(df: DataFrame) = nodes(df).exists(_.isInstanceOf[TakeOrderedAndProjectExec])

  /** Ids of the block RDDs currently persisted. */
  private def blockRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect { case (id, r) if r.name == "preloaded codes" => id }.toSet

  private def blockRddOf(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case p: PreloadedCodes => p.blocks.id }.get

  private def topK(codes: DataFrame, q: Array[Byte], metric: String, qType: QType, k: Int): DataFrame =
    Knn.topK(codes.select(col("id"), functions.code_distance(col("code"), lit(q), metric, qType).as("distance")),
      col("distance"), col("id"), k)

  // ---------- the operator against the parquet-store plan ----------

  private val schema = StructType(Seq(StructField("id", LongType), StructField("code", BinaryType)))

  /** A store of `rows` codes drawn from a pool of `distinct` code vectors,
    * so most distances tie and ids decide the order; three partitions, the
    * middle one empty.
    */
  private case class Store(ids: Seq[Long], pool: Seq[Array[Byte]], pick: Seq[Int], probe: Array[Byte], k: Int)

  private def storeGen(dim: Int): Gen[Store] = for {
    rows <- Gen.chooseNum(1, 40)
    distinct <- Gen.chooseNum(1, 4)
    pool <- Gen.listOfN(distinct, Gen.listOfN(dim, Gen.chooseNum(-128, 127)).map(_.map(_.toByte).toArray))
    pick <- Gen.listOfN(rows, Gen.chooseNum(0, distinct - 1))
    ids <- Gen.pick(rows, -50L to 200L)
    pdim <- Gen.oneOf(dim, dim, dim + 1, math.max(1, dim - 1))
    q <- Gen.listOfN(pdim, Gen.chooseNum(-128, 127)).map(_.map(_.toByte).toArray)
    k <- Gen.chooseNum(2, rows + 2)
  } yield Store(ids.toSeq, pool, pick, q, k)

  private def check(qType: QType): Unit = {
    val dir = tmp("preload_prop")
    var trial = 0
    val prop = Prop.forAll(Gen.chooseNum(1, 12).flatMap(storeGen)) { s =>
      trial += 1
      val rows = s.ids.zip(s.pick).map { case (id, i) => Row(id, s.pool(i)) }
      val third = (rows.length + 2) / 3
      val parts = Seq(rows.take(third), Seq.empty[Row], rows.drop(third))
      val mem = spark.createDataFrame(spark.sparkContext.parallelize(0 until 3, 3).flatMap(parts), schema)
      val path = s"$dir/t$trial"
      mem.write.parquet(path)
      val parquet = spark.read.parquet(path)
      val pre = Quantizer.preload(mem)
      try {
        Metric.all.forall { m =>
          Seq(0, 1, s.k, rows.length + 3).forall { k =>
            val want = topK(parquet, s.probe, m.name, qType, k)
            val got = topK(pre, s.probe, m.name, qType, k)
            val same = got.collect().toSeq == want.collect().toSeq && got.schema == want.schema
            same && (k == 0 || (usesOperator(got) && !usesTakeOrdered(got) && usesTakeOrdered(want)))
          }
        }
      } finally Quantizer.cleanup(pre)
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12).withWorkers(1), prop)
    assert(res.passed, s"$qType: ${res.status}")
  }

  test("preloaded top-k equals the parquet TakeOrderedAndProject plan: 5 metrics, u8") {
    check(QType.U8)
  }

  test("preloaded top-k equals the parquet TakeOrderedAndProject plan: 5 metrics, i8") {
    check(QType.I8)
  }

  test("plan shapes: quantScan, renamed columns, a projection over the limit, count") {
    val p = Quantizer.computeParams(emb, "embedding")
    val store = s"${tmp("preload_shapes")}/q"
    Quantizer.quantize(emb, "vec_id", "embedding", store)
    val parquet = spark.read.parquet(store)
    val pre = Quantizer.preload(parquet)
    try {
      val q = Quantizer.quantizeProbe(probe, p)
      def renamed(codes: DataFrame) = Knn.topK(
        codes.select(col("id").as("vec_id"),
          functions.code_distance(col("code"), lit(q), "sq_l2", p.qType).as("dist_sq")),
        col("dist_sq"), col("vec_id"), 10)
      val shapes: Seq[DataFrame => DataFrame] = Seq(
        Quantizer.quantScan(_, probe, p, 10, "l2"),
        renamed,
        Quantizer.quantScan(_, probe, p, 7, "cosine").select(col("distance"), (col("id") + 1).as("next")),
        c => Quantizer.quantScan(c, probe, p, 5, "dot").groupBy().agg(count(lit(1)), max(col("distance"))))
      shapes.foreach { shape =>
        val (got, want) = (shape(pre), shape(parquet))
        assert(got.collect().toSeq == want.collect().toSeq)
        assert(usesOperator(got) && !usesTakeOrdered(got), got.queryExecution.executedPlan.toString)
        assert(usesTakeOrdered(want) && !usesOperator(want))
      }
      // a generic reader of the preloaded frame sees the store's rows
      assert(pre.schema == parquet.schema)
      assert(pre.orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq ==
        parquet.orderBy("id").collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).toSeq)
      assert(Quantizer.memoryBytes(pre) == Quantizer.memoryBytes(parquet))
    } finally Quantizer.cleanup(pre)
  }

  test("vector_scan on a preloaded store equals vector_full_scan; stage 1 runs the operator") {
    emb.createOrReplaceTempView("pre_auto")
    GraftTableFunctions.register(spark)
    spark.sql(s"SELECT vector_init('pre_auto', 'embedding', " +
      s"'dimension=64,type=FLOAT32,id_column=vec_id,store_dir=${tmp("preload_auto")}')").collect()
    spark.sql("SELECT vector_quantize('pre_auto', 'embedding')").collect()
    spark.sql("SELECT vector_quantize_preload('pre_auto', 'embedding')").collect()
    try {
      for (k <- Seq(1, 10, 600)) {
        val full = spark.sql(s"SELECT * FROM vector_full_scan('pre_auto', 'embedding', '$probeJson', $k)")
        val auto = spark.sql(s"SELECT * FROM vector_scan('pre_auto', 'embedding', '$probeJson', $k)")
        assert(auto.collect().toSeq == full.collect().toSeq, s"k=$k")
        assert(usesOperator(auto), auto.queryExecution.executedPlan.toString)
      }
    } finally spark.sql("SELECT vector_quantize_cleanup('pre_auto', 'embedding')").collect()
  }

  // ---------- release ----------

  test("no block RDD outlives preload -> append, compact, re-quantize, preload, cleanup") {
    emb.createOrReplaceTempView("pre_leak")
    emb.where(col("vec_id") < 5).withColumn("vec_id", col("vec_id") + 1000000L)
      .createOrReplaceTempView("pre_leak_wave")
    GraftTableFunctions.register(spark)
    spark.sql(s"SELECT vector_init('pre_leak', 'embedding', " +
      s"'dimension=64,type=FLOAT32,id_column=vec_id,store_dir=${tmp("preload_leak")}')").collect()
    spark.sql("SELECT vector_quantize('pre_leak', 'embedding')").collect()
    val before = blockRdds()
    def viewBlocks(): Set[Int] =
      scala.util.Try(blockRddOf(spark.table("vector0_pre_leak_embedding"))).toOption.toSet
    def preloadThen(what: String, stmt: String): Unit = {
      spark.sql("SELECT vector_quantize_preload('pre_leak', 'embedding')").collect()
      val pinned = viewBlocks()
      assert(pinned.size == 1 && blockRdds() == before ++ pinned)
      spark.sql(stmt).collect()
      assert(blockRdds().intersect(pinned).isEmpty, s"$what left the preloaded copy pinned")
      assert(blockRdds() == before ++ viewBlocks(), what)
    }
    preloadThen("append", "SELECT vector_quantize_append('pre_leak', 'embedding', 'pre_leak_wave')")
    preloadThen("compact", "SELECT vector_quantize_compact('pre_leak', 'embedding')")
    preloadThen("re-quantize", "SELECT vector_quantize('pre_leak', 'embedding')")
    preloadThen("a second preload", "SELECT vector_quantize_preload('pre_leak', 'embedding')")
    preloadThen("cleanup", "SELECT vector_quantize_cleanup('pre_leak', 'embedding')")
    assert(blockRdds() == before)

    // the Scala API: cleanup(df) is the release; unpersist() cannot reach it
    val store = s"${tmp("preload_leak_api")}/q"
    Quantizer.quantize(emb, "vec_id", "embedding", store)
    val pre = Quantizer.preload(spark.read.parquet(store))
    val id = blockRddOf(pre)
    Quantizer.cleanup(pre.select("id"))
    assert(!blockRdds().contains(id))
    val pre2 = Quantizer.preload(spark.read.parquet(store))
    Quantizer.cleanup(spark, store, preloaded = Some(pre2))
    assert(blockRdds() == before)
  }

  // ---------- the session extension ----------

  test("a session built with GraftExtensions runs the lifecycle and plans the operator") {
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      embOf(ext).createOrReplaceTempView("pre_ext")
      assert(ext.sql("SELECT vector_init('pre_ext', 'embedding', " +
        s"'dimension=64,type=FLOAT32,id_column=vec_id,store_dir=${tmp("preload_ext")}')").head().isNullAt(0))
      assert(ext.sql("SELECT vector_quantize('pre_ext', 'embedding')").head().getLong(0) == 500L)
      val parquetScan = ext.sql(s"SELECT * FROM vector_quantize_scan('pre_ext', 'embedding', '$probeJson', 10)")
      val want = parquetScan.collect().toSeq
      assert(usesTakeOrdered(parquetScan))
      ext.sql("SELECT vector_quantize_preload('pre_ext', 'embedding')").collect()
      val scan = ext.sql(s"SELECT * FROM vector_quantize_scan('pre_ext', 'embedding', '$probeJson', 10)")
      assert(scan.collect().toSeq == want)
      assert(usesOperator(scan), scan.queryExecution.executedPlan.toString)
      // injectPlannerStrategy alone planned it: nothing was added at run time
      assert(ext.experimental.extraStrategies.isEmpty)
      ext.sql("SELECT vector_quantize_cleanup('pre_ext', 'embedding')").collect()
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
