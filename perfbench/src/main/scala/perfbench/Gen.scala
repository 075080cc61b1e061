package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded clustered corpus: `clusters` centroids with lanes in
  * [0.15, 0.85], each vector a centroid plus uniform noise of ±0.15 per
  * lane, so every lane lies in [0, 1]. Row 0 is an anchor holding an exact
  * 0 and an exact 1, which pins the quantization envelope to [0, 1]: any
  * later wave from the same generator is inside the envelope, so appends
  * never drift.
  *
  * Vector `id` depends only on (seed, id), never on partitioning, so the
  * benchmark, its oracle and a rerun with the same seed all see the same
  * numbers. One SplittableRandom draw per lane; per-lane hashing through
  * SQL expressions was measured far slower and is avoided.
  */
final class Gen(val seed: Long, val dim: Int, val clusters: Int) extends Serializable {
  import Gen.mix

  private val centroids: Array[Array[Float]] = {
    val r = new SplittableRandom(mix(seed))
    Array.fill(clusters)(Array.fill(dim)((0.15 + 0.7 * r.nextDouble()).toFloat))
  }

  def vector(id: Long): Array[Float] = {
    val r = new SplittableRandom(mix(seed ^ mix(id + 1)))
    val c = centroids(r.nextInt(clusters))
    val v = new Array[Float](dim)
    var j = 0
    while (j < dim) { v(j) = (c(j) + 0.15 * (2.0 * r.nextDouble() - 1.0)).toFloat; j += 1 }
    if (id == 0) { v(0) = 0f; v(1) = 1f }
    v
  }

  /** Probe `i` of a probe set: a corpus point in [0, n) perturbed by
    * ±0.02 per lane (clamped to [0, 1]). `salt` separates probe sets.
    */
  def probe(i: Int, n: Long, salt: Long): Array[Float] = {
    val r = new SplittableRandom(mix(seed ^ mix(salt * 1000003L + i)))
    val base = vector(1 + r.nextLong(n - 1))
    base.map(x => math.min(1.0, math.max(0.0, x + 0.02 * (2.0 * r.nextDouble() - 1.0))).toFloat)
  }

  /** Writes ids [from, until) as parquet (id bigint, vec array<float>). */
  def write(spark: SparkSession, from: Long, until: Long, path: String, parts: Int): Unit =
    frame(spark, from, until, parts).write.mode("overwrite").parquet(path)

  /** Writes ids [0, base) to `path/wave=-1` and `waves` waves of `size`
    * ids each after them to `path/wave=w`, in one job.
    */
  def writeWithWaves(spark: SparkSession, base: Long, size: Int, waves: Int, path: String,
                     parts: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit, when}
    frame(spark, 0, base + size.toLong * waves, parts)
      .withColumn("wave", when(col("id") < base, lit(-1)).otherwise(((col("id") - base) / size).cast("int")))
      .write.mode("overwrite").partitionBy("wave").parquet(path)
  }

  private def frame(spark: SparkSession, from: Long, until: Long, parts: Int) = {
    import spark.implicits._
    val g = this
    // a typed map: primitive float arrays go to Spark's rows without boxing
    spark.range(from, until, 1, parts).map(id => (id.longValue, g.vector(id))).toDF("id", "vec")
  }

  /** Exact top-k ids of each probe over ids [0, n), by double-precision
    * squared L2 over regenerated vectors: the benchmark's own oracle,
    * independent of the library's scan and storage paths. Ties go to the
    * smaller id, as in the library's ordering.
    */
  def exactTopK(spark: SparkSession, probes: Seq[Array[Float]], n: Long, k: Int,
                parts: Int): Seq[Seq[Long]] = {
    val g = this
    val ps = probes.toArray
    val perPart = spark.sparkContext.range(0, n, 1, parts).mapPartitions { ids =>
      val heaps = Array.fill(ps.length)(new java.util.PriorityQueue[(Double, Long)](k + 1,
        Gen.worstFirst))
      ids.foreach { id =>
        val v = g.vector(id)
        var p = 0
        while (p < ps.length) {
          val q = ps(p); var acc = 0.0; var j = 0
          while (j < q.length) { val d = v(j).toDouble - q(j); acc += d * d; j += 1 }
          heaps(p).add((acc, id))
          if (heaps(p).size > k) heaps(p).poll()
          p += 1
        }
      }
      Iterator(heaps.map(h => h.toArray(Array.empty[(Double, Long)]).toSeq))
    }.collect()
    ps.indices.map { p =>
      perPart.flatMap(_(p)).sortBy { case (d, id) => (d, id) }.take(k).map(_._2).toSeq
    }
  }
}

object Gen {
  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val worstFirst: java.util.Comparator[(Double, Long)] with Serializable =
    new java.util.Comparator[(Double, Long)] with Serializable {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(b._2, a._2)
      }
    }

  def json(v: Array[Float]): String = v.map(_.toString).mkString("[", ",", "]")
}
