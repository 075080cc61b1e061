package graft.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, GenericInternalRow, IntegerLiteral, Literal, NamedExpression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Limit, LogicalPlan, Project, Sort, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType}
import org.apache.spark.storage.StorageLevel

import graft.expressions.CodeDistance
import graft.kernels.Distances

/** One store partition's codes in the reference's preload layout
  * (sqlite-vector.c:1338-1404): ids in row order, and the n×dim code
  * bytes back to back in one buffer, row `r` at offset `r·dim`.
  */
final class CodeBlock(val ids: Array[Long], val codes: Array[Byte], val dim: Int) extends Serializable {
  def rows: Int = ids.length
}

object CodeBlock {

  /** Packs one partition of (id, code) rows. A block holds one code
    * length (a store written by `vector_quantize` has one everywhere);
    * NULL ids or codes, or mixed lengths, are rejected.
    */
  def pack(rows: Iterator[InternalRow], intId: Boolean): CodeBlock = {
    val ids = Array.newBuilder[Long]
    val codes = Array.newBuilder[Byte]
    var dim = -1
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1))
        throw new IllegalArgumentException("preload: the code store holds a NULL id or code")
      val c = r.getBinary(1)
      if (dim < 0) dim = c.length
      else if (c.length != dim)
        throw new IllegalArgumentException(
          s"preload: codes of length ${c.length} and $dim in one store partition")
      ids += (if (intId) r.getInt(0).toLong else r.getLong(0))
      codes.addAll(c)
    }
    new CodeBlock(ids.result(), codes.result(), math.max(dim, 0))
  }
}

/** A bounded max-heap of (distance, id) pairs holding the `cap` smallest
  * offered, ordered by distance then id — the reference's k-slot array
  * (sqlite-vector.c:2022-2113) with the tie order of `ORDER BY distance,
  * id`. Two parallel primitive arrays: nothing is allocated per offer.
  */
final class CodeHeap(cap: Int) extends Serializable {
  private val dist = new Array[Double](cap)
  private val ids = new Array[Long](cap)
  private var size = 0

  @inline private def after(i: Int, j: Int): Boolean =
    dist(i) > dist(j) || (dist(i) == dist(j) && ids(i) > ids(j))

  private def swap(i: Int, j: Int): Unit = {
    val d = dist(i); dist(i) = dist(j); dist(j) = d
    val x = ids(i); ids(i) = ids(j); ids(j) = x
  }

  def offer(d: Double, id: Long): Unit =
    if (size < cap) {
      dist(size) = d; ids(size) = id
      var i = size; size += 1
      while (i > 0 && after(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (cap > 0 && (d < dist(0) || (d == dist(0) && id < ids(0)))) {
      dist(0) = d; ids(0) = id
      var i = 0; var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < size && after(l, m)) m = l
        if (r < size && after(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }

  def foreach(f: (Double, Long) => Unit): Unit = { var i = 0; while (i < size) { f(dist(i), ids(i)); i += 1 } }

  def count: Int = size

  /** The held pairs, nearest first. */
  def sorted: Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](size)
    var i = 0
    while (i < size) { out(i) = (dist(i), ids(i)); i += 1 }
    out.sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long))
  }
}

/** The preloaded quant store as a leaf of the logical plan: output
  * `(id, code)` like the store it was built from, backed by one
  * [[CodeBlock]] per store partition in a MEMORY_ONLY block RDD.
  *
  * Every generic reader plans it as [[PreloadedCodesExec]], which emits
  * ordinary rows; [[GraftStrategy]] plans the top-k-by-code-distance shape
  * over it as [[PreloadedTopKExec]] instead.
  */
case class PreloadedCodes(output: Seq[Attribute], blocks: RDD[CodeBlock], rows: Long, bytes: Long)
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): PreloadedCodes = copy(output = output.map(_.newInstance()))

  override def computeStats(): Statistics = Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(rows))

  override def simpleString(maxFields: Int): String =
    s"PreloadedCodes ${output.mkString("[", ", ", "]")}, $rows rows in ${blocks.getNumPartitions} blocks"
}

object PreloadedCodes {

  /** Builds the block RDD from `quantDF`'s `(id, code)` rows, persists it
    * MEMORY_ONLY and materializes it eagerly (one job, which also sizes
    * it), and returns a DataFrame over the new leaf.
    */
  def load(quantDF: DataFrame): DataFrame = {
    val spark = quantDF.sparkSession
    GraftStrategy.install(spark)
    val src = quantDF.select(col("id"), col("code"))
    val fields = src.schema.fields
    val intId = fields(0).dataType match {
      case LongType => false
      case IntegerType => true
      case other => throw new IllegalArgumentException(s"preload: id must be bigint or int, got $other")
    }
    require(fields(1).dataType == BinaryType, s"preload: code must be binary, got ${fields(1).dataType}")
    val blocks = src.queryExecution.toRdd
      .mapPartitions(it => Iterator.single(CodeBlock.pack(it, intId)), preservesPartitioning = true)
      .setName("preloaded codes")
      .persist(StorageLevel.MEMORY_ONLY)
    val (rows, codeBytes) = blocks.map(b => (b.rows.toLong, b.codes.length.toLong))
      .fold((0L, 0L)) { case ((r1, b1), (r2, b2)) => (r1 + r2, b1 + b2) }
    val output = fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    GraftColumnShim.ofRows(spark, PreloadedCodes(output, blocks, rows, 8L * rows + codeBytes))
  }

  /** Frees the block RDD behind every preloaded leaf of `df`'s plan;
    * a frame with none is left as it is.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case p: PreloadedCodes => p.blocks.unpersist(blocking = false)
      case _ =>
    }
}

/** The generic scan of a preloaded store: one task per block, emitting
  * `(id, code)` rows through one reused row writer.
  */
case class PreloadedCodesExec(output: Seq[Attribute], blocks: RDD[CodeBlock]) extends LeafExecNode {

  override def outputPartitioning: Partitioning = UnknownPartitioning(blocks.getNumPartitions)

  override def simpleString(maxFields: Int): String =
    s"PreloadedCodesScan ${output.mkString("[", ", ", "]")}"

  override protected def doExecute(): RDD[InternalRow] = {
    val intId = output.head.dataType == IntegerType
    blocks.mapPartitions(_.flatMap { b =>
      val w = new UnsafeRowWriter(2, b.dim)
      Iterator.tabulate(b.rows) { r =>
        w.reset(); w.zeroOutNullBytes()
        if (intId) w.write(0, b.ids(r).toInt) else w.write(0, b.ids(r))
        w.write(1, b.codes, r * b.dim, b.dim)
        w.getRow: InternalRow
      }
    })
  }
}

/** `ORDER BY distance, id LIMIT k` over a preloaded store, distance =
  * `CodeDistance(code, probe)`: one task per [[CodeBlock]] walks the
  * contiguous buffer by offset with the exact integer kernel
  * ([[Distances.codeDistance]]) into a [[CodeHeap]] of k slots, and the
  * driver merges at most k × blocks pairs. Rows, types and tie order are
  * those of the `TakeOrderedAndProject` plan it replaces: the kernel's
  * Double is exact, so ordering by it orders the Long distances too.
  *
  * `projectList` is the output over `(idAttr, distAttr)`, as in
  * `TakeOrderedAndProjectExec`.
  */
case class PreloadedTopKExec(k: Int, code: CodeDistance, idAttr: Attribute, distAttr: Attribute,
                             projectList: Seq[NamedExpression], blocks: RDD[CodeBlock])
    extends LeafExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override def outputPartitioning: Partitioning = SinglePartition

  override def simpleString(maxFields: Int): String =
    s"PreloadedTopK(k=$k, ${code.metric.name} ${if (code.signed) "i8" else "u8"}, " +
      s"output=${output.mkString("[", ", ", "]")})"

  /** One heap per block; the RDD's tasks hold no reference to this node. */
  private def perBlock: RDD[CodeHeap] = {
    val (k, mId, signed) = (this.k, Distances.metricId(code.metric), code.signed)
    val probe = code.right.eval().asInstanceOf[Array[Byte]]
    blocks.map { b =>
      val heap = new CodeHeap(math.min(k, b.rows))
      val n = math.min(b.dim, probe.length)
      var r = 0
      while (r < b.rows) {
        heap.offer(Distances.codeDistance(mId, signed, b.codes, r * b.dim, probe, 0, n), b.ids(r))
        r += 1
      }
      heap
    }
  }

  override def executeCollect(): Array[InternalRow] =
    PreloadedTopKExec.merge(perBlock.collect().iterator, k, rowMaker)

  override protected def doExecute(): RDD[InternalRow] = {
    val (k, mk) = (this.k, rowMaker)
    perBlock.repartition(1).mapPartitions(heaps => PreloadedTopKExec.merge(heaps, k, mk).iterator)
  }

  /** (distance, id) → the output row, built where it runs. */
  private def rowMaker: () => ((Double, Long)) => InternalRow = {
    val (pl, in) = (projectList, Seq(idAttr, distAttr))
    val (longDist, intId) = (code.dataType == LongType, idAttr.dataType == IntegerType)
    () => {
      val proj = UnsafeProjection.create(pl, in)
      val row = new GenericInternalRow(2)
      (hit: (Double, Long)) => {
        row.update(0, if (intId) hit._2.toInt else hit._2)
        row.update(1, if (longDist) hit._1.toLong else hit._1)
        proj(row).copy()
      }
    }
  }
}

object PreloadedTopKExec {

  private def merge(heaps: Iterator[CodeHeap], k: Int,
                    mk: () => ((Double, Long)) => InternalRow): Array[InternalRow] = {
    val all = heaps.toArray
    val top = new CodeHeap(math.min(k, all.map(_.count).sum))
    all.foreach(_.foreach(top.offer))
    top.sorted.map(mk())
  }

  /** Plans `Limit(k, Sort([d ASC, id ASC], Project([id, CodeDistance(code,
    * literal) AS d], preloaded)))`, optionally with a Project between the
    * Limit and the Sort — the shapes `SpecialLimits` would plan as
    * `TakeOrderedAndProject`, under the same size threshold.
    */
  def plan(limit: LogicalPlan): Option[SparkPlan] = {
    val threshold = SQLConf.get.topKSortFallbackThreshold
    limit match {
      case Limit(IntegerLiteral(k), Sort(order, true, scored, _)) if k < threshold =>
        topK(k, None, order, scored)
      case Limit(IntegerLiteral(k), Project(pl, Sort(order, true, scored, _))) if k < threshold =>
        topK(k, Some(pl), order, scored)
      case _ => None
    }
  }

  private def topK(k: Int, projectList: Option[Seq[NamedExpression]], order: Seq[SortOrder],
                   scored: LogicalPlan): Option[SparkPlan] = scored match {
    case Project(list @ Seq(_, _), leaf: PreloadedCodes) =>
      val Seq(idIn, codeIn) = leaf.output
      val id = list.collectFirst {
        case a: Attribute if a.exprId == idIn.exprId => a
        case al @ Alias(a: Attribute, _) if a.exprId == idIn.exprId => al.toAttribute
      }
      val dist = list.collectFirst {
        case al @ Alias(cd @ CodeDistance(c: Attribute, Literal(_: Array[Byte], BinaryType), _, _), _)
            if c.exprId == codeIn.exprId => (al.toAttribute, cd)
      }
      (id, dist, order) match {
        case (Some(i), Some((d, cd)), Seq(o1, o2))
            if o1.direction == Ascending && o2.direction == Ascending &&
              o1.child.semanticEquals(d) && o2.child.semanticEquals(i) =>
          Some(PreloadedTopKExec(k, cd, i, d, projectList.getOrElse(list.map(_.toAttribute)), leaf.blocks))
        case _ => None
      }
    case _ => None
  }
}
