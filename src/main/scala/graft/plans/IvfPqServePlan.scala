package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.functions.{IvfKernels, VectorUtil}

/** Driver-held state of one stored IVF-PQ top-k request: the query
  * vectors and their exact self-dots, the routed (query, cell) pairs
  * with one dense M×kSub ADC table each, and the budgets. Everything
  * here is request-sized (≤ numQueries × probes tables). `toString`
  * prints sizes and the probed cells only, so plan strings never carry
  * the table arrays. */
final class IvfPqRequest(
    val qids: Array[Long],
    val qvecs: Array[Array[Long]],
    val routed: Array[(Long, Int)],
    val dtabs: Array[Array[Double]],
    val m: Int,
    val ksub: Int,
    val rerank: Int,
    val topK: Int) extends Serializable {
  require(qids.distinct.length == qids.length, "duplicate query ids")
  require(qvecs.length == qids.length && dtabs.length == routed.length)

  /** Exact int64 self-dot of each query — `LongArrayDot`'s arithmetic. */
  val qnorms: Array[Long] = qvecs.map { q =>
    var s = 0L; var d = 0
    while (d < q.length) { s += q(d) * q(d); d += 1 }
    s
  }

  def probed: Array[Int] = routed.map(_._2).distinct.sorted

  override def toString: String =
    s"probed=${probed.mkString("[", ",", "]")}, queries=${qids.length}, " +
      s"routed=${routed.length}, rerank=$rerank, topK=$topK"
}

/** A stored IVF-PQ top-k serve as ONE logical node (the per-partition
  * bounded-candidate pruning of REPOSE, ICDE 2021, with one driver
  * merge). `codes` is the store's (vec_id, cell, codes) frame and
  * `vectors` its (vec_id, q) frame, both already cut to the probed
  * cells, tombstone-subtracted and, for a filtered search, predicated
  * on the codes side. Output: (qid, vec_id, adist, cos, rn), the
  * top-`topK` per query by (cos desc, vec_id), in (qid, rn) order. */
case class IvfPqServe(
    codes: LogicalPlan,
    vectors: LogicalPlan,
    request: IvfPqRequest,
    output: Seq[Attribute]) extends BinaryNode {

  override def left: LogicalPlan = codes
  override def right: LogicalPlan = vectors

  // the node reads every child column and produces its own: without
  // this, column pruning would see only the output attributes as
  // references and cut the children to nothing
  override def references: AttributeSet =
    AttributeSet(codes.output ++ vectors.output)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def simpleString(maxFields: Int): String = s"IvfPqServe $request"

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): IvfPqServe =
    copy(codes = newLeft, vectors = newRight)
}

object IvfPqServe {
  /** The serve frame over `codes` and `vectors` (see [[IvfPqServe]]);
    * registers [[IvfPqServeStrategy]] on the session first. */
  def frame(spark: SparkSession, codes: DataFrame, vectors: DataFrame,
            request: IvfPqRequest): DataFrame = {
    import org.apache.spark.sql.graftshim.Shim
    IvfPqServeStrategy.setup(spark)
    val out = Seq(
      AttributeReference("qid", LongType, nullable = false)(),
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("adist", DoubleType, nullable = true)(),
      AttributeReference("cos", DoubleType, nullable = true)(),
      AttributeReference("rn", LongType, nullable = false)())
    Shim.ofRows(spark,
      IvfPqServe(Shim.analyzed(codes), Shim.analyzed(vectors), request, out))
  }

  /** Spark's ordering of doubles: -0.0 equals 0.0, NaN above all. */
  private[plans] def compareDoubles(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** A candidate of one query: ADC distance (null when a code or table
    * entry is null) and vector id. */
  final case class Cand(adist: java.lang.Double, id: Long)

  /** (adist asc nulls first, vec_id asc) — the candidate window's order. */
  val candOrder: Ordering[Cand] = new Ordering[Cand] {
    def compare(a: Cand, b: Cand): Int = {
      val c =
        if (a.adist == null) { if (b.adist == null) 0 else -1 }
        else if (b.adist == null) 1
        else compareDoubles(a.adist, b.adist)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }

  /** A re-ranked candidate of query index `q`. */
  final case class Hit(q: Int, id: Long, adist: java.lang.Double,
                       cos: java.lang.Double)

  /** (cos desc nulls last, vec_id asc) — the result window's order. */
  val hitOrder: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val c =
        if (a.cos == null) { if (b.cos == null) 0 else 1 }
        else if (b.cos == null) -1
        else compareDoubles(b.cos, a.cos)
      if (c != 0) c else java.lang.Long.compare(a.id, b.id)
    }
  }
}

/** Physical form of [[IvfPqServe]]: at most two Spark jobs and no
  * exchange.
  *   1. One pass over the pruned codes: every row folds ADC against the
  *      tables of the queries routed to its cell (self-matches dropped)
  *      into one bounded heap of `rerank` candidates per query and task.
  *      The driver merges the task heaps into the exact global top-
  *      `rerank` per query.
  *   2. One pass over the probed vectors for just those ids: the exact
  *      int64 dot and `dot / sqrt(norm) / sqrt(qnorm)`, the arithmetic of
  *      `LongArrayDot` and Spark's `/` (null on a zero divisor, an error
  *      under ANSI mode).
  * The driver keeps the top-`topK` per query and returns the rows in
  * (qid, rn) order; `executeCollect` hands them over without a third
  * job, and `doExecute` parallelizes them for operators above. */
case class IvfPqServeExec(
    left: SparkPlan,
    right: SparkPlan,
    request: IvfPqRequest,
    output: Seq[Attribute]) extends BinaryExecNode {
  import IvfPqServe.{Cand, Hit, candOrder, hitOrder}

  override def simpleString(maxFields: Int): String = s"IvfPqServe $request"

  // the rows are computed on the driver and handed over as one partition
  override def outputPartitioning: Partitioning = SinglePartition

  private def ordinal(p: SparkPlan, name: String): Int = {
    val i = p.output.indexWhere(_.name == name)
    require(i >= 0, s"IvfPqServe: child lacks column $name: ${p.output}")
    i
  }

  /** Job 1 and the merge: the global top-`rerank` per query index. */
  private def candidates(): Array[Array[Cand]] = {
    val req = request
    val nq = req.qids.length
    if (req.routed.isEmpty) return Array.fill(nq)(Array.empty[Cand])
    val qIndex = req.qids.zipWithIndex.toMap
    // cell -> (query index, table) for every routed pair
    val byCell: Map[Int, Array[(Int, Array[Double])]] =
      req.routed.zip(req.dtabs).toSeq
        .map { case ((qid, cell), dtab) => (cell, (qIndex(qid), dtab)) }
        .groupBy(_._1).map { case (c, vs) => c -> vs.map(_._2).toArray }
    val qids = req.qids
    val (m, ksub, rerank) = (req.m, req.ksub, req.rerank)
    val idOrd = ordinal(left, "vec_id")
    val cellOrd = ordinal(left, "cell")
    val codesOrd = ordinal(left, "codes")
    val perTask = left.execute().mapPartitions { rows =>
      val tables = byCell.map { case (c, qs) =>
        c -> qs.map { case (q, t) => (q, ArrayData.toArrayData(t)) } }
      // max-heaps: the worst kept candidate sits at the head
      val heaps = Array.fill(nq)(
        new java.util.PriorityQueue[Cand](rerank + 1, candOrder.reverse))
      rows.foreach { r =>
        if (!r.isNullAt(idOrd) && !r.isNullAt(cellOrd)) {
          val qs = tables.getOrElse(r.getInt(cellOrd), null)
          if (qs != null) {
            val id = r.getLong(idOrd)
            val codes = if (r.isNullAt(codesOrd)) null else r.getArray(codesOrd)
            var i = 0
            while (i < qs.length) {
              val (q, dtab) = qs(i)
              if (id != qids(q)) {
                val c = Cand(
                  if (codes == null) null
                  else IvfKernels.adcFold(codes, dtab, m, ksub), id)
                val h = heaps(q)
                if (h.size < rerank) h.add(c)
                else if (rerank > 0 && candOrder.lt(c, h.peek())) {
                  h.poll(); h.add(c)
                }
              }
              i += 1
            }
          }
        }
      }
      Iterator.single(heaps.map(h => h.toArray(new Array[Cand](0))))
    }.collect()
    Array.tabulate(nq)(q =>
      perTask.flatMap(_(q)).sorted(candOrder).take(rerank))
  }

  /** Job 2: exact cosines of the candidates, one pass over `vectors`. */
  private def rerankHits(cands: Array[Array[Cand]]): Array[Hit] = {
    val byId: Map[Long, Array[(Int, java.lang.Double)]] =
      cands.zipWithIndex.toSeq
        .flatMap { case (cs, q) => cs.map(c => (c.id, (q, c.adist))) }
        .groupBy(_._1).map { case (id, vs) => id -> vs.map(_._2).toArray }
    if (byId.isEmpty) return Array.empty
    val qvecs = request.qvecs
    val qnorms = request.qnorms
    val ansi = conf.ansiEnabled
    val idOrd = ordinal(right, "vec_id")
    val vecOrd = ordinal(right, "q")
    right.execute().mapPartitions { rows =>
      val qArrs = qvecs.map(q => ArrayData.toArrayData(q))
      // Spark's double `/`: a zero divisor yields null, or throws
      // under ANSI mode once the dividend is non-null
      def div(a: java.lang.Double, b: Double): java.lang.Double =
        if (b == 0.0 && !ansi) null
        else if (a == null) null
        else if (b == 0.0) throw new ArithmeticException("Division by zero")
        else a / b
      rows.flatMap { r =>
        val qs = if (r.isNullAt(idOrd)) null
                 else byId.getOrElse(r.getLong(idOrd), null)
        if (qs == null) Iterator.empty
        else {
          val id = r.getLong(idOrd)
          val v = if (r.isNullAt(vecOrd)) null else r.getArray(vecOrd)
          val sn = if (v == null) 0.0 else math.sqrt(VectorUtil.dot(v, v).toDouble)
          qs.iterator.map { case (q, adist) =>
            val cos =
              if (v == null) null
              else div(div(VectorUtil.dot(v, qArrs(q)).toDouble, sn),
                       math.sqrt(qnorms(q).toDouble))
            Hit(q, id, adist, cos)
          }
        }
      }
    }.collect()
  }

  /** Both jobs and the final cut: result rows in (qid, rn) order. */
  private def serve(): Array[InternalRow] = {
    val hits = rerankHits(candidates()).groupBy(_.q)
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    request.qids.indices.sortBy(request.qids(_)).toArray.flatMap { q =>
      hits.getOrElse(q, Array.empty[Hit]).sorted(hitOrder)
        .take(request.topK).zipWithIndex.map { case (h, i) =>
          proj(new GenericInternalRow(Array[Any](request.qids(q), h.id,
            h.adist, h.cos, (i + 1).toLong))).copy(): InternalRow
        }
    }
  }

  override def executeCollect(): Array[InternalRow] = serve()

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(serve().toSeq, 1)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): IvfPqServeExec =
    copy(left = newLeft, right = newRight)
}

object IvfPqServeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s @ IvfPqServe(codes, vectors, req, _) =>
      IvfPqServeExec(planLater(codes), planLater(vectors), req, s.output) :: Nil
    case _ => Nil
  }

  /** Register on the session's experimental hook, once, so sessions
    * built without [[GraftExtensions]] plan the node too. */
  def setup(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(IvfPqServeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ IvfPqServeStrategy
}
