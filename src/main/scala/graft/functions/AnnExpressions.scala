package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.CellScoring.{Atomic, Bigint, Codes, Floats, Ids, Vectors, members}
import graft.functions.GenExpressions.roundHalfUp

/** Native expressions for the IVF+PQ batch k-NN join
  * ([[graft.operators.Similarity.knnJoinIvf]]), its label-gated
  * hard-negative form and the stored index's delta search
  * ([[graft.operators.KnnIndex]]).
  *
  * The join's whole point is that candidates NEVER materialize as a pair
  * stream: each probe row carries its query vector and meets its cell's
  * member directories (one array per cell), and the per-candidate work
  * runs inside two scalar expressions over that row. A shortlist
  * expression ([[IvfPqCellShortlist]], or [[IvfPqCellShortlistLabel]]
  * behind a label gate) reads the skinny codes directory and keeps the
  * `kCand` best members by PQ (ADC) distance; a rescore expression
  * ([[CellRescoreTopK]], or a payload-carrying form) reads the vector
  * directory and returns the k best shortlisted members by exact cosine.
  * Only the vector directory carries the n·4·dims payload, and only the
  * shortlist survivors get exact work. The arithmetic and tie-breaks of
  * both halves live once, in [[CellScoring]]; the expressions here keep
  * their gate, their layout and their output shape.
  *
  * The alternatives all re-exchange something candidate-shaped: the LSH
  * path's rank sort carries n·tables·probes·occ rows, and a vector attach
  * to such a stream is the measured 5M×64d wall (broadcast ≥ executor
  * memory, or a ~250 GB SHUFFLE_HASH re-exchange).
  */
object AnnExpressions {

  /** The ADC shortlist of one probe row over its cell's CODES directory:
    * members carry (id: bigint, code: array<int>) — ~40 B each instead of
    * the ~300 B of a raw-vector-laden struct — and the output is the
    * ≤ `kCand` shortlisted member ids (ADC distance asc, id asc; self
    * excluded). Fields appended after (id, code) — the KnnIndex payload
    * layout — are carried and ignored. The codebook (m × ks × subDim
    * doubles, a few KB at the default m=8/ks=16) rides inside the
    * expression like [[VectorExpressions.NearestCentroid]]'s.
    *
    * At the knnJoinIvf default kCand = 4·k the cap covers a ~64-member cell
    * from k >= 16, and the ADC phase is skipped; the bench's k=5 (kCand=20)
    * runs the genuine approximate shortlist. Asymmetric distance (query
    * side stays a full vector, only the INDEXED side is quantized)
    * dominates symmetric code-to-code scoring at equal cost, which is why
    * the probe row carries vA. */
  case class IvfPqCellShortlist(
      first: Expression,  // idA
      second: Expression, // vA
      third: Expression,  // members: array<struct<id, code, …>>
      kCand: Int,
      codebooks: Array[Array[Array[Double]]],
      subDim: Int
  ) extends TernaryExpression with Serializable {
    require(kCand > 0, "need positive kCand")
    require(codebooks.nonEmpty, "empty PQ codebook")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val width: Int = CellScoring.width(third.dataType)

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "ivfpq_cell_shortlist",
      "(bigint, array<float>, array<struct<id: bigint, code: array<int>, ...>>)",
      children, Seq(Bigint, Floats, members(Codes)))

    def compute(idA: Long, vAraw: ArrayData, members: ArrayData): ArrayData =
      CellScoring.shortlist(idA, vAraw, members, width, null, members.numElements(),
        kCand, codebooks, subDim)

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[Long], b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("ivfPqCellShortlist", this,
        classOf[IvfPqCellShortlist].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $self.compute($a, $b, $c);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def ivfpq_cell_shortlist(idA: Column, vA: Column, members: Column,
      kCand: Int, codebooks: Array[Array[Array[Double]]], subDim: Int): Column =
    GraftBridge.toColumn(IvfPqCellShortlist(
      GraftBridge.toExpression(idA), GraftBridge.toExpression(vA),
      GraftBridge.toExpression(members), kCand, codebooks, subDim))

  /** The exact rescore of one probe row's [[IvfPqCellShortlist]] ids over
    * its cell's VECTOR directory (members as (id: bigint, norm: double,
    * v: array<float>, …)): the k best shortlisted members by
    * (rounded cosine desc, id asc), as (id, cosine) structs. Fields appended
    * after (id, norm, v) are carried and ignored. */
  case class CellRescoreTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v, …>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    override def dataType: DataType = CellScoring.winnerType(None)

    @transient private lazy val width: Int = CellScoring.width(third.dataType)

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "cell_rescore_topk",
      "(array<float>, array<bigint>, array<struct<id: bigint, norm: double, v: array<float>, ...>>)",
      children, Seq(Floats, Ids, members(Vectors)))

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData =
      CellScoring.rescore(vAraw, sl, members, width, k, null, perPayload = false)

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("cellRescoreTopK", this, classOf[CellRescoreTopK].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $self.compute($a, $b, $c);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def cell_rescore_topk(vA: Column, shortlist: Column, members: Column, k: Int): Column =
    GraftBridge.toColumn(CellRescoreTopK(
      GraftBridge.toExpression(vA), GraftBridge.toExpression(shortlist),
      GraftBridge.toExpression(members), k))

  /** Per-cell SemDeDup leader pass
    * ([[graft.operators.Similarity.semanticDedup]]): given one cluster's
    * members as an array of (id, norm, v) structs, drop every member with
    * an EARLIER (smaller-id) member at rounded cosine ≥ tau — earlier
    * members count whether or not they were themselves dropped, the
    * deterministic per-pair rule the q83 oracle replays. Returns one
    * (id, kept 1|0) struct per member.
    *
    * This is the same no-pair-stream move as the k-NN join's cell
    * expressions: the
    * alternative materializes the within-cluster pair stream
    * (~n·E[cluster]/2 rows — 640M at 5M docs under the nLists ∝ n policy)
    * and then attaches vectors to it, whose broadcast build is the
    * measured 5M×64d failure mode on a protocol heap (1.8 GB vector
    * table → "Not enough memory to build and broadcast"). Here the pairs
    * never exist: the only exchange is the member directory itself
    * (n rows, linear), and the O(E[cluster]²·dims) pair work runs inside
    * this expression with early exit on the first earlier near-duplicate.
    * E[cluster] (= n/nLists) is the dial that bounds per-row work and
    * directory row size, exactly as occupancy is for the k-NN join.
    *
    * Arithmetic mirrors the attach path it replaces bit-for-bit: float
    * components widened to double, ascending-index dot accumulation,
    * norm(earlier)·norm(later), HALF_UP 6-dp rounding — so results are
    * byte-identical and q83 stays hash-exact. */
  case class LeaderDedupCell(child: Expression, tau: Double)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with Serializable {

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("kept", IntegerType, nullable = false))),
      containsNull = false)

    @transient private lazy val width: Int = CellScoring.width(child.dataType)

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "leader_dedup_cell", "(array<struct<id: bigint, norm: double, v: array<float>, ...>>)",
      children, Seq(members(Vectors)))

    def compute(members: ArrayData): ArrayData = {
      val nMem = members.numElements()
      val ids = new Array[Long](nMem)
      val norms = new Array[Double](nMem)
      val vecs = new Array[Array[Double]](nMem)
      var i = 0
      while (i < nMem) {
        val row = members.getStruct(i, width)
        ids(i) = row.getLong(0)
        norms(i) = row.getDouble(1)
        vecs(i) = CellScoring.widen(row.getArray(2))
        i += 1
      }
      val order = Array.range(0, nMem).sortBy(ids(_))
      val kept = new Array[Int](nMem)
      var oj = 0
      while (oj < nMem) {
        val j = order(oj)
        var keep = 1
        var oi = 0
        while (oi < oj && keep == 1) {
          val e = order(oi) // earlier member (smaller id)
          val ve = vecs(e); val vj = vecs(j)
          val nn = math.min(ve.length, vj.length)
          var dot = 0.0; var t = 0
          while (t < nn) { dot += ve(t) * vj(t); t += 1 }
          if (roundHalfUp(dot / (norms(e) * norms(j)), 6) >= tau) keep = 0
          oi += 1
        }
        kept(j) = keep
        oj += 1
      }
      new GenericArrayData(
        Array.tabulate[Any](nMem)(i => InternalRow(ids(i), kept(i))))
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("leaderDedupCell", this, classOf[LeaderDedupCell].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def leader_dedup_cell(members: Column, tau: Double): Column =
    GraftBridge.toColumn(LeaderDedupCell(GraftBridge.toExpression(members), tau))

  /** [[IvfPqCellShortlist]] with a LABEL-MISMATCH gate applied BEFORE the
    * `kCand` cut — the in-cell half of
    * [[graft.operators.Similarity.hardNegativesAnnCell]]. Members carry
    * (id: bigint, code: array<int>, lbl: <atomic>); a member whose
    * label equals the probe row's `lblA` never enters the shortlist, so
    * the ADC budget is spent entirely on candidate NEGATIVES. The
    * alternative — filter labels after a label-blind shortlist — needs an
    * `oversample×` deeper shortlist (and, in the join form, an
    * oversample× larger winner exchange plus two label attach joins) to
    * reach the same negative depth, and still misses when more than
    * oversample·k same-label members crowd the ADC ranking.
    *
    * The gate survivors then take [[IvfPqCellShortlist]]'s shortlist, cap
    * shortcut included (it engages when the survivors fit the cap). Null
    * member labels never match (a null label can't be a verified
    * negative); callers filter null-label PROBE rows (the exact baseline's
    * `=!=` predicate rejects them the same way). Labels must be ATOMIC: the
    * generic equality compares Catalyst values with ==, and the exact
    * baseline's =!= rejects map types at analysis; this gate is at least as
    * loud. */
  case class IvfPqCellShortlistLabel(
      first: Expression,  // idA
      second: Expression, // lblA: any atomic type
      third: Expression,  // vA
      fourth: Expression, // members: array<struct<id, code, lbl>>
      kCand: Int,
      codebooks: Array[Array[Array[Double]]],
      subDim: Int
  ) extends QuaternaryExpression with Serializable {
    require(kCand > 0, "need positive kCand")
    require(codebooks.nonEmpty, "empty PQ codebook")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    @transient private lazy val lblType: DataType = second.dataType

    @transient private lazy val width: Int = CellScoring.width(fourth.dataType)

    // specialized label equality for the atomic fast paths — the generic
    // `row.get(2, lblType)` boxes one value per member per probe row, a
    // measured hot-loop term at grid scale (long labels are the common
    // mining shape)
    @transient private lazy val sameLbl: (InternalRow, Any) => Boolean =
      lblType match {
        case LongType => (row, a) => row.getLong(2) == a.asInstanceOf[Long]
        case IntegerType => (row, a) => row.getInt(2) == a.asInstanceOf[Int]
        case _ => (row, a) => row.get(2, lblType) == a
      }

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "ivfpq_cell_shortlist_label",
      "(bigint, ATOMIC lbl, array<float>, array<struct<id: bigint, code: array<int>, lbl>>) " +
        "with matching label types",
      children, Seq(Bigint, Atomic, Floats, members(Codes, _ == Seq(second.dataType))))

    def compute(idA: Long, lblA: Any, vAraw: ArrayData, members: ArrayData): ArrayData = {
      // label-mismatch survivors (self excluded); indexes into members
      val nMem = members.numElements()
      val surv = new Array[Int](nMem)
      var nSurv = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, width)
        if (row.getLong(0) != idA && !row.isNullAt(2) && !sameLbl(row, lblA)) {
          surv(nSurv) = r; nSurv += 1
        }
        r += 1
      }
      CellScoring.shortlist(idA, vAraw, members, width, surv, nSurv,
        kCand, codebooks, subDim)
    }

    override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
      compute(a.asInstanceOf[Long], b, c.asInstanceOf[ArrayData],
        d.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("ivfPqCellShortlistLabel", this,
        classOf[IvfPqCellShortlistLabel].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
        s"${ev.value} = $self.compute($a, $b, $c, $d);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression, newFourth: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird,
        fourth = newFourth)
  }

  def ivfpq_cell_shortlist_label(idA: Column, lblA: Column, vA: Column,
      members: Column, kCand: Int, codebooks: Array[Array[Array[Double]]],
      subDim: Int): Column =
    GraftBridge.toColumn(IvfPqCellShortlistLabel(
      GraftBridge.toExpression(idA), GraftBridge.toExpression(lblA),
      GraftBridge.toExpression(vA), GraftBridge.toExpression(members),
      kCand, codebooks, subDim))

  /** [[CellRescoreTopK]] over a PAYLOAD-carrying vector directory: members
    * are (id: bigint, norm: double, v: array<float>, payload: <any type>)
    * and each winner struct carries the member's payload out —
    * (id, payload, cosine) — so a consumer needing a per-neighbor
    * attribute (the hard-negative join's label_b, a source tag, a snippet)
    * never pays an id-keyed attach join over the winner stream. */
  case class CellRescorePayloadTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v, payload>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    @transient private lazy val payloadField: StructField = CellScoring.payload(third.dataType)

    override def dataType: DataType = CellScoring.winnerType(Some(payloadField))

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "cell_rescore_payload_topk",
      "(array<float>, array<bigint>, " +
        "array<struct<id: bigint, norm: double, v: array<float>, payload>>)",
      children, Seq(Floats, Ids, members(Vectors, _.length == 1)))

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData =
      CellScoring.rescore(vAraw, sl, members, Vectors.length + 1, k,
        payloadField.dataType, perPayload = false)

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("cellRescorePayloadTopK", this,
        classOf[CellRescorePayloadTopK].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $self.compute($a, $b, $c);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def cell_rescore_payload_topk(vA: Column, shortlist: Column, members: Column,
      k: Int): Column =
    GraftBridge.toColumn(CellRescorePayloadTopK(
      GraftBridge.toExpression(vA), GraftBridge.toExpression(shortlist),
      GraftBridge.toExpression(members), k))

  /** [[CellRescorePayloadTopK]] with a PER-PAYLOAD quota: the k best
    * shortlisted members FOR EACH DISTINCT payload value (cosine desc, id
    * asc within a payload) instead of k overall — the in-cell half of
    * class-BALANCED hard-negative mining, where a foreign class that
    * dominates the cosine ranking must not crowd the other classes out of
    * an anchor's negative set. Winners are emitted in global
    * (cosine desc, id asc) order, so a cross-cell merge that re-ranks per
    * (anchor, payload) is exact: any global per-payload top-k member is
    * within its own cell's per-payload top-k. Payloads must be ATOMIC
    * (enforced by the label gate upstream and re-checked here — map/binary
    * equality is referential and would split one class into spurious
    * singletons). */
  case class CellRescorePayloadQuotaTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v, payload>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    @transient private lazy val payloadField: StructField = CellScoring.payload(third.dataType)

    override def dataType: DataType = CellScoring.winnerType(Some(payloadField))

    override def checkInputDataTypes(): TypeCheckResult = CellScoring.check(
      "cell_rescore_payload_quota_topk",
      "(array<float>, array<bigint>, " +
        "array<struct<id: bigint, norm: double, v: array<float>, ATOMIC payload>>)",
      children, Seq(Floats, Ids, members(Vectors, p => p.length == 1 && Atomic(p.head))))

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData =
      CellScoring.rescore(vAraw, sl, members, Vectors.length + 1, k,
        payloadField.dataType, perPayload = true)

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("cellRescorePayloadQuotaTopK", this,
        classOf[CellRescorePayloadQuotaTopK].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $self.compute($a, $b, $c);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def cell_rescore_payload_quota_topk(vA: Column, shortlist: Column,
      members: Column, k: Int): Column =
    GraftBridge.toColumn(CellRescorePayloadQuotaTopK(
      GraftBridge.toExpression(vA), GraftBridge.toExpression(shortlist),
      GraftBridge.toExpression(members), k))
}
