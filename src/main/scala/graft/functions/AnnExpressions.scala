package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.GenExpressions.roundHalfUp

/** Native expressions for the IVF+PQ batch k-NN join
  * ([[graft.operators.Similarity.knnJoinIvf]]).
  *
  * The join's whole point is that candidates NEVER materialize as a pair
  * stream: each probe row carries its query vector and meets its cell's
  * member directory (one array per cell), and everything per-candidate —
  * PQ shortlist, exact rescore, per-cell top-k — happens inside one scalar
  * expression over that row. The alternatives all re-exchange something
  * candidate-shaped: the LSH path's rank sort carries n·tables·probes·occ
  * rows, and a vector attach to such a stream is the measured 5M×64d wall
  * (broadcast ≥ executor memory, or a ~250 GB SHUFFLE_HASH re-exchange).
  */
object AnnExpressions {

  /** ADC tables for a query vector — adc(s)(c) = squared L2 of vA's s-th
    * subDim slice to centroid c. The one copy of the arithmetic every
    * shortlist expression builds its per-row tables from (m·ks·subDim
    * multiplies — cheaper than a single exact member evaluation). */
  private def adcTables(vA: Array[Double], dims: Int,
      codebooks: Array[Array[Array[Double]]], subDim: Int): Array[Array[Double]] =
    Array.tabulate(codebooks.length) { s =>
      val cb = codebooks(s)
      val lo = s * subDim
      Array.tabulate(cb.length) { c =>
        val cent = cb(c)
        var d = 0.0; var j = 0
        val nn = math.min(subDim, math.max(0, dims - lo))
        while (j < nn) { val x = vA(lo + j) - cent(j); d += x * x; j += 1 }
        d
      }
    }

  /** Per-(probe row × cell) top-k: ADC-shortlist the cell's members with the
    * PQ codebook, exact-rescore the shortlist with full vectors, return the
    * k best by (cosine desc, id asc) as an array of (id, cosine) structs.
    *
    * Children: (idA: bigint — excluded from results; vA: array<float>;
    * members: array<struct<id: bigint, norm: double, code: array<int>,
    * v: array<float>>>). The codebook (m × ks × subDim doubles, a few KB at
    * the default m=8/ks=16) rides inside the expression like
    * [[VectorExpressions.NearestCentroid]]'s.
    *
    * Per row: one ADC table build (m·ks·subDim multiplies — cheaper than a
    * single exact member evaluation), then m lookups per member, then
    * `kCand` exact cosines. Only when `kCand` covers the whole cell
    * (kCand >= cell occupancy) does the ADC phase select everything and get
    * skipped outright — every member then goes straight to the exact
    * rescore, byte-identical to brute force within the cell. At the
    * knnJoinIvf default kCand = 4·k this engages from k >= 16 against the
    * ~64-member target occupancy; smaller k (the bench's k=5 gives
    * kCand=20) runs the genuine approximate shortlist: top-kCand by ADC,
    * exact rescore of just those. Asymmetric distance (query side stays a full
    * vector, only the INDEXED side is quantized) dominates symmetric
    * code-to-code scoring at equal cost, which is why the probe row carries
    * vA. Cosine is rounded to 6 dp (HALF_UP) like every scored operator in
    * the engine so ranks reproduce across runs. */
  case class IvfPqCellTopK(
      first: Expression,  // idA
      second: Expression, // vA
      third: Expression,  // members
      k: Int,
      kCand: Int,
      codebooks: Array[Array[Array[Double]]],
      subDim: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")
    require(kCand >= k, "kCand must be >= k")
    require(codebooks.nonEmpty, "empty PQ codebook")

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cosine", DoubleType, nullable = false))),
      containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (LongType, ArrayType(FloatType, _), ArrayType(_: StructType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"ivfpq_cell_topk expects (bigint, array<float>, array<struct>), got $other")
      }

    def compute(idA: Long, vAraw: ArrayData, members: ArrayData): ArrayData = {
      val m = codebooks.length
      val dims = vAraw.numElements()
      val vA = new Array[Double](dims)
      var i = 0
      var nrm = 0.0
      while (i < dims) {
        vA(i) = vAraw.getFloat(i).toDouble; nrm += vA(i) * vA(i); i += 1
      }
      val normA = math.sqrt(nrm)
      val nMem = members.numElements()
      if (normA == 0.0 || nMem == 0) return new GenericArrayData(Array.empty[Any])
      // When the shortlist cap covers the whole cell (kCand ≥ members —
      // engaged from k ≥ 16 at the default kCand = 4·k against ~64-member
      // cells; the bench's k=5 → kCand=20 stays on the ADC shortlist
      // below), the ADC phase selects EVERYTHING and every member gets
      // exact-rescored anyway, so
      // the PQ tables are pure overhead (~⅓ of the scoring multiplies at
      // m=8/ks=16/64d). Score exactly and skip straight to the final sort —
      // the result set is identical (same members, same (cosine desc, id)
      // order). PQ starts paying exactly when cells outgrow kCand.
      if (nMem <= kCand) {
        val cos = new Array[Double](nMem)
        val ids = new Array[Long](nMem)
        var filled = 0
        var r = 0
        while (r < nMem) {
          val row = members.getStruct(r, 4)
          val id = row.getLong(0)
          if (id != idA) {
            val normB = row.getDouble(1)
            val vB = row.getArray(3)
            var dot = 0.0; var j = 0
            val nn = math.min(dims, vB.numElements())
            while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
            cos(filled) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
            ids(filled) = id
            filled += 1
          }
          r += 1
        }
        val order = (0 until filled).sortBy(q => (-cos(q), ids(q)))
          .take(math.min(k, filled))
        return new GenericArrayData(order.map { q =>
          InternalRow(ids(q), cos(q)): Any
        }.toArray)
      }
      val adc = adcTables(vA, dims, codebooks, subDim)
      // shortlist: kCand smallest ADC (ties id asc) by bounded insertion
      val cap = math.min(kCand, nMem)
      val slDist = new Array[Double](cap)
      val slIdx = new Array[Int](cap)
      var filled = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, 4)
        val id = row.getLong(0)
        if (id != idA) {
          val code = row.getArray(2)
          var d = 0.0; var s = 0
          val ms = math.min(m, code.numElements())
          while (s < ms) {
            val c = code.getInt(s)
            val t = adc(s)
            if (c >= 0 && c < t.length) d += t(c)
            s += 1
          }
          // insertion position: strictly better than the current worst, or
          // still filling. Tie on distance → lower id wins (stable order).
          if (filled < cap || d < slDist(filled - 1) ||
              (d == slDist(filled - 1) && id < members.getStruct(slIdx(filled - 1), 4).getLong(0))) {
            var p = if (filled < cap) filled else cap - 1
            while (p > 0 && {
                val pd = slDist(p - 1)
                pd > d || (pd == d && members.getStruct(slIdx(p - 1), 4).getLong(0) > id)
              }) {
              slDist(p) = slDist(p - 1); slIdx(p) = slIdx(p - 1); p -= 1
            }
            slDist(p) = d; slIdx(p) = r
            if (filled < cap) filled += 1
          }
        }
        r += 1
      }
      // exact rescore of the shortlist
      val outK = math.min(k, filled)
      val resCos = new Array[Double](filled)
      val resId = new Array[Long](filled)
      var q = 0
      while (q < filled) {
        val row = members.getStruct(slIdx(q), 4)
        val normB = row.getDouble(1)
        val vB = row.getArray(3)
        var dot = 0.0; var j = 0
        val nn = math.min(dims, vB.numElements())
        while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
        resCos(q) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
        resId(q) = row.getLong(0)
        q += 1
      }
      val order = (0 until filled).sortBy(q => (-resCos(q), resId(q))).take(outK)
      new GenericArrayData(order.map { q =>
        InternalRow(resId(q), resCos(q)): Any
      }.toArray)
    }

    override def nullSafeEval(a: Any, b: Any, c: Any): Any =
      compute(a.asInstanceOf[Long], b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("ivfPqCellTopK", this, classOf[IvfPqCellTopK].getName)
      nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $self.compute($a, $b, $c);")
    }

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  def ivfpq_cell_topk(idA: Column, vA: Column, members: Column, k: Int,
      kCand: Int, codebooks: Array[Array[Array[Double]]], subDim: Int): Column =
    GraftBridge.toColumn(IvfPqCellTopK(
      GraftBridge.toExpression(idA), GraftBridge.toExpression(vA),
      GraftBridge.toExpression(members), k, kCand, codebooks, subDim))

  /** The ADC-shortlist HALF of [[IvfPqCellTopK]], over a CODES-ONLY member
    * directory: members carry (id: bigint, code: array<int>) — ~40 B each
    * instead of the ~300 B of a raw-vector-laden struct — and the output is
    * the ≤ `kCand` shortlisted member ids (self excluded), selected by
    * exactly the same bounded-insertion rule (ADC distance asc, id asc
    * ties) as the fused expression, so a downstream exact rescore of these
    * ids returns byte-identical results. When the cap covers the whole cell
    * (members ≤ kCand) every other member survives and the ADC phase is
    * skipped, mirroring the fused expression's exact-path shortcut.
    *
    * This split is what lets [[graft.operators.Similarity.knnJoinIvf]]'s
    * directory exchange drop the raw vectors (the n·4·dims payload that,
    * with the base cache, demanded a 2× protocol heap at 50M×64d): vectors
    * ride only the second cell-keyed directory that [[CellRescoreTopK]]
    * reads, and only the shortlist survivors get exact work. */
  case class IvfPqCellShortlist(
      first: Expression,  // idA
      second: Expression, // vA
      third: Expression,  // members: array<struct<id, code>>
      kCand: Int,
      codebooks: Array[Array[Array[Double]]],
      subDim: Int
  ) extends TernaryExpression with Serializable {
    require(kCand > 0, "need positive kCand")
    require(codebooks.nonEmpty, "empty PQ codebook")

    override def dataType: DataType = ArrayType(LongType, containsNull = false)

    // derived, not hardcoded: a PAYLOAD-bearing member struct (the KnnIndex
    // label/payload layout appends fields after (id, code)) reads correctly
    // through the same expression — getStruct must be told the struct's
    // true width or the positional reads corrupt
    @transient private lazy val memWidth: Int = third.dataType match {
      case ArrayType(s: StructType, _) => s.length
      case _ => 2
    }

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (LongType, ArrayType(FloatType, _), ArrayType(_: StructType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"ivfpq_cell_shortlist expects (bigint, array<float>, array<struct>), got $other")
      }

    def compute(idA: Long, vAraw: ArrayData, members: ArrayData): ArrayData = {
      val m = codebooks.length
      val dims = vAraw.numElements()
      val nMem = members.numElements()
      if (nMem == 0) return new GenericArrayData(Array.empty[Any])
      if (nMem <= kCand) {
        // cap covers the cell: everything (except self) rescores exactly
        val out = new Array[Long](nMem)
        var filled = 0
        var r = 0
        while (r < nMem) {
          val id = members.getStruct(r, memWidth).getLong(0)
          if (id != idA) { out(filled) = id; filled += 1 }
          r += 1
        }
        return new GenericArrayData(
          (if (filled == nMem) out else java.util.Arrays.copyOf(out, filled))
            .map(x => x: Any))
      }
      val vA = new Array[Double](dims)
      var i = 0
      while (i < dims) { vA(i) = vAraw.getFloat(i).toDouble; i += 1 }
      val adc = adcTables(vA, dims, codebooks, subDim)
      // shortlist: kCand smallest ADC (ties id asc) by bounded insertion —
      // identical rule and tie-breaks to IvfPqCellTopK's shortlist phase
      val cap = math.min(kCand, nMem)
      val slDist = new Array[Double](cap)
      val slId = new Array[Long](cap)
      var filled = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, memWidth)
        val id = row.getLong(0)
        if (id != idA) {
          val code = row.getArray(1)
          var d = 0.0; var s = 0
          val ms = math.min(m, code.numElements())
          while (s < ms) {
            val c = code.getInt(s)
            val t = adc(s)
            if (c >= 0 && c < t.length) d += t(c)
            s += 1
          }
          if (filled < cap || d < slDist(filled - 1) ||
              (d == slDist(filled - 1) && id < slId(filled - 1))) {
            var p = if (filled < cap) filled else cap - 1
            while (p > 0 && {
                val pd = slDist(p - 1)
                pd > d || (pd == d && slId(p - 1) > id)
              }) {
              slDist(p) = slDist(p - 1); slId(p) = slId(p - 1); p -= 1
            }
            slDist(p) = d; slId(p) = id
            if (filled < cap) filled += 1
          }
        }
        r += 1
      }
      new GenericArrayData(Array.tabulate[Any](filled)(q => slId(q)))
    }

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

  /** The exact-rescore HALF of [[IvfPqCellTopK]]: given the query vector,
    * an [[IvfPqCellShortlist]] id list, and the cell's VECTOR directory row
    * (members as (id: bigint, norm: double, v: array<float>)), compute the
    * exact rounded cosine of every shortlisted member and return the k best
    * by (cosine desc, id asc) — arithmetic mirrored bit-for-bit from the
    * fused expression (float→double widening, ascending-index accumulation,
    * HALF_UP 6-dp rounding), so the split pipeline's output is
    * byte-identical to the fused one over the same shortlist. Shortlist
    * membership is checked against a sorted copy of the id list (binary
    * search per member — the list is ≤ kCand entries). */
  case class CellRescoreTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cosine", DoubleType, nullable = false))),
      containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        case (ArrayType(FloatType, _), ArrayType(LongType, _),
            ArrayType(_: StructType, _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"cell_rescore_topk expects (array<float>, array<bigint>, array<struct>), got $other")
      }

    // derived width, as in [[IvfPqCellShortlist]]: payload-bearing member
    // structs (fields appended after (id, norm, v)) read correctly here
    @transient private lazy val memWidth: Int = third.dataType match {
      case ArrayType(s: StructType, _) => s.length
      case _ => 3
    }

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData = {
      val nSl = sl.numElements()
      val nMem = members.numElements()
      if (nSl == 0 || nMem == 0) return new GenericArrayData(Array.empty[Any])
      val dims = vAraw.numElements()
      val vA = new Array[Double](dims)
      var i = 0
      var nrm = 0.0
      while (i < dims) {
        vA(i) = vAraw.getFloat(i).toDouble; nrm += vA(i) * vA(i); i += 1
      }
      val normA = math.sqrt(nrm)
      if (normA == 0.0) return new GenericArrayData(Array.empty[Any])
      val slSorted = new Array[Long](nSl)
      i = 0
      while (i < nSl) { slSorted(i) = sl.getLong(i); i += 1 }
      java.util.Arrays.sort(slSorted)
      // buffers sized to nMem, not min(nSl, nMem): `filled` counts every
      // member row whose id binary-search-hits the shortlist, and the
      // expression is independently callable — a members array carrying
      // DUPLICATE ids (impossible inside knnJoinIvf's one-cell-per-member
      // build, but legal input here) would overrun a min-sized buffer and
      // crash the task; at nMem the worst case degrades to ranking the
      // duplicates, never an ArrayIndexOutOfBoundsException
      val resCos = new Array[Double](nMem)
      val resId = new Array[Long](nMem)
      var filled = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, memWidth)
        val id = row.getLong(0)
        if (java.util.Arrays.binarySearch(slSorted, id) >= 0) {
          val normB = row.getDouble(1)
          val vB = row.getArray(2)
          var dot = 0.0; var j = 0
          val nn = math.min(dims, vB.numElements())
          while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
          resCos(filled) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
          resId(filled) = id
          filled += 1
        }
        r += 1
      }
      val order = (0 until filled).sortBy(q => (-resCos(q), resId(q)))
        .take(math.min(k, filled))
      new GenericArrayData(order.map { q =>
        InternalRow(resId(q), resCos(q)): Any
      }.toArray)
    }

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
    * This is the same no-pair-stream move as [[IvfPqCellTopK]]: the
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

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(_: StructType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"leader_dedup_cell expects array<struct<id,norm,v>>, got $other")
      }

    def compute(members: ArrayData): ArrayData = {
      val nMem = members.numElements()
      val ids = new Array[Long](nMem)
      val norms = new Array[Double](nMem)
      val vecs = new Array[Array[Double]](nMem)
      var i = 0
      while (i < nMem) {
        val row = members.getStruct(i, 3)
        ids(i) = row.getLong(0)
        norms(i) = row.getDouble(1)
        val va = row.getArray(2)
        val d = va.numElements()
        val v = new Array[Double](d)
        var j = 0
        while (j < d) { v(j) = va.getFloat(j).toDouble; j += 1 }
        vecs(i) = v
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
    * (id: bigint, code: array<int>, lbl: <any atomic>); a member whose
    * label equals the probe row's `lblA` never enters the shortlist, so
    * the ADC budget is spent entirely on candidate NEGATIVES. The
    * alternative — filter labels after a label-blind shortlist — needs an
    * `oversample×` deeper shortlist (and, in the join form, an
    * oversample× larger winner exchange plus two label attach joins) to
    * reach the same negative depth, and still misses when more than
    * oversample·k same-label members crowd the ADC ranking.
    *
    * Selection rule and tie-breaks (ADC asc, id asc; cap-covers-cell exact
    * path) are [[IvfPqCellShortlist]]'s verbatim — over the label-mismatch
    * survivors. Null member labels never match (a null label can't be a
    * verified negative); callers filter null-label PROBE rows (the exact
    * baseline's `=!=` predicate rejects them the same way). */
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

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, third.dataType, fourth.dataType) match {
        // ATOMIC labels only: the generic equality arm compares Catalyst
        // values with ==, which is reference equality for MapData and
        // byte-array (BinaryType) values and representation-sensitive for
        // nested rows — such a label would silently leak same-label pairs
        // instead of gating them. The exact baseline's =!= rejects map
        // types at analysis; this gate must be at least as loud.
        case (LongType, ArrayType(FloatType, _), ArrayType(s: StructType, _))
            if s.length == 3 && s.fields(2).dataType == second.dataType &&
              (second.dataType match {
                case _: ArrayType | _: MapType | _: StructType | BinaryType => false
                case _ => true
              }) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"ivfpq_cell_shortlist_label expects (bigint, ATOMIC lbl, array<float>, " +
              s"array<struct<id, code, lbl>>) with matching label types, got $other " +
              s"vs label ${second.dataType}")
      }

    def compute(idA: Long, lblA: Any, vAraw: ArrayData, members: ArrayData): ArrayData = {
      val m = codebooks.length
      val dims = vAraw.numElements()
      val nMem = members.numElements()
      if (nMem == 0) return new GenericArrayData(Array.empty[Any])
      // label-mismatch survivors (self excluded); indexes into members
      val surv = new Array[Int](nMem)
      var nSurv = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, 3)
        if (row.getLong(0) != idA && !row.isNullAt(2) &&
            !sameLbl(row, lblA)) {
          surv(nSurv) = r; nSurv += 1
        }
        r += 1
      }
      if (nSurv == 0) return new GenericArrayData(Array.empty[Any])
      if (nSurv <= kCand) {
        // cap covers the survivors: everything rescores exactly
        return new GenericArrayData(Array.tabulate[Any](nSurv)(q =>
          members.getStruct(surv(q), 3).getLong(0)))
      }
      val vA = new Array[Double](dims)
      var i = 0
      while (i < dims) { vA(i) = vAraw.getFloat(i).toDouble; i += 1 }
      val adc = adcTables(vA, dims, codebooks, subDim)
      // bounded insertion over survivors — identical rule/tie-breaks to
      // IvfPqCellShortlist (ADC distance asc, id asc)
      val cap = math.min(kCand, nSurv)
      val slDist = new Array[Double](cap)
      val slId = new Array[Long](cap)
      var filled = 0
      var q = 0
      while (q < nSurv) {
        val row = members.getStruct(surv(q), 3)
        val id = row.getLong(0)
        val code = row.getArray(1)
        var d = 0.0; var s = 0
        val ms = math.min(m, code.numElements())
        while (s < ms) {
          val c = code.getInt(s)
          val t = adc(s)
          if (c >= 0 && c < t.length) d += t(c)
          s += 1
        }
        if (filled < cap || d < slDist(filled - 1) ||
            (d == slDist(filled - 1) && id < slId(filled - 1))) {
          var p = if (filled < cap) filled else cap - 1
          while (p > 0 && {
              val pd = slDist(p - 1)
              pd > d || (pd == d && slId(p - 1) > id)
            }) {
            slDist(p) = slDist(p - 1); slId(p) = slId(p - 1); p -= 1
          }
          slDist(p) = d; slId(p) = id
          if (filled < cap) filled += 1
        }
        q += 1
      }
      new GenericArrayData(Array.tabulate[Any](filled)(q => slId(q)))
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
    * never pays an id-keyed attach join over the winner stream. Rescore
    * arithmetic, ordering, tie-breaks, and the duplicate-id-tolerant
    * buffer sizing are [[CellRescoreTopK]]'s verbatim. */
  case class CellRescorePayloadTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v, payload>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    @transient private lazy val payloadField: StructField =
      third.dataType match {
        case ArrayType(s: StructType, _) if s.length == 4 => s.fields(3)
        case _ => StructField("payload", NullType)
      }

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("payload", payloadField.dataType, payloadField.nullable),
        StructField("cosine", DoubleType, nullable = false))),
      containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        // fields 0-2 matched explicitly (bigint id, double norm,
        // array<float> vector): a mis-shaped directory row would otherwise
        // fail with an opaque ClassCastException inside codegen instead of
        // an analysis-time error (the IvfPqCellShortlistLabel discipline)
        case (ArrayType(FloatType, _), ArrayType(LongType, _),
            ArrayType(s: StructType, _))
            if s.length == 4 && s.fields(0).dataType == LongType &&
              s.fields(1).dataType == DoubleType &&
              (s.fields(2).dataType match {
                case ArrayType(FloatType, _) => true
                case _ => false
              }) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"cell_rescore_payload_topk expects (array<float>, array<bigint>, " +
              s"array<struct<id: bigint, norm: double, v: array<float>, payload>>), " +
              s"got $other")
      }

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData = {
      val nSl = sl.numElements()
      val nMem = members.numElements()
      if (nSl == 0 || nMem == 0) return new GenericArrayData(Array.empty[Any])
      val dims = vAraw.numElements()
      val vA = new Array[Double](dims)
      var i = 0
      var nrm = 0.0
      while (i < dims) {
        vA(i) = vAraw.getFloat(i).toDouble; nrm += vA(i) * vA(i); i += 1
      }
      val normA = math.sqrt(nrm)
      if (normA == 0.0) return new GenericArrayData(Array.empty[Any])
      val slSorted = new Array[Long](nSl)
      i = 0
      while (i < nSl) { slSorted(i) = sl.getLong(i); i += 1 }
      java.util.Arrays.sort(slSorted)
      val pt = payloadField.dataType
      val resCos = new Array[Double](nMem)
      val resId = new Array[Long](nMem)
      val resPay = new Array[Any](nMem)
      var filled = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, 4)
        val id = row.getLong(0)
        if (java.util.Arrays.binarySearch(slSorted, id) >= 0) {
          val normB = row.getDouble(1)
          val vB = row.getArray(2)
          var dot = 0.0; var j = 0
          val nn = math.min(dims, vB.numElements())
          while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
          resCos(filled) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
          resId(filled) = id
          // copy out of the (Unsafe) member buffer: the output array
          // outlives this row's backing bytes
          resPay(filled) =
            if (row.isNullAt(3)) null
            else InternalRow.copyValue(row.get(3, pt))
          filled += 1
        }
        r += 1
      }
      val order = (0 until filled).sortBy(q => (-resCos(q), resId(q)))
        .take(math.min(k, filled))
      new GenericArrayData(order.map { q =>
        InternalRow(resId(q), resPay(q), resCos(q)): Any
      }.toArray)
    }

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
    * within its own cell's per-payload top-k. Rescore arithmetic is
    * [[CellRescoreTopK]]'s verbatim. Payloads must be ATOMIC (enforced by
    * the label gate upstream and re-checked here — map/binary equality is
    * referential and would split one class into spurious singletons). */
  case class CellRescorePayloadQuotaTopK(
      first: Expression,  // vA
      second: Expression, // shortlist ids: array<bigint>
      third: Expression,  // members: array<struct<id, norm, v, payload>>
      k: Int
  ) extends TernaryExpression with Serializable {
    require(k > 0, "need positive k")

    @transient private lazy val payloadField: StructField =
      third.dataType match {
        case ArrayType(s: StructType, _) if s.length == 4 => s.fields(3)
        case _ => StructField("payload", NullType)
      }

    override def dataType: DataType = ArrayType(
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("payload", payloadField.dataType, payloadField.nullable),
        StructField("cosine", DoubleType, nullable = false))),
      containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (first.dataType, second.dataType, third.dataType) match {
        // fields 0-2 matched explicitly, as in CellRescorePayloadTopK
        case (ArrayType(FloatType, _), ArrayType(LongType, _),
            ArrayType(s: StructType, _))
            if s.length == 4 && s.fields(0).dataType == LongType &&
              s.fields(1).dataType == DoubleType &&
              (s.fields(2).dataType match {
                case ArrayType(FloatType, _) => true
                case _ => false
              }) &&
              (s.fields(3).dataType match {
                case _: ArrayType | _: MapType | _: StructType | BinaryType => false
                case _ => true
              }) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"cell_rescore_payload_quota_topk expects (array<float>, array<bigint>, " +
              s"array<struct<id: bigint, norm: double, v: array<float>, " +
              s"ATOMIC payload>>), got $other")
      }

    def compute(vAraw: ArrayData, sl: ArrayData, members: ArrayData): ArrayData = {
      val nSl = sl.numElements()
      val nMem = members.numElements()
      if (nSl == 0 || nMem == 0) return new GenericArrayData(Array.empty[Any])
      val dims = vAraw.numElements()
      val vA = new Array[Double](dims)
      var i = 0
      var nrm = 0.0
      while (i < dims) {
        vA(i) = vAraw.getFloat(i).toDouble; nrm += vA(i) * vA(i); i += 1
      }
      val normA = math.sqrt(nrm)
      if (normA == 0.0) return new GenericArrayData(Array.empty[Any])
      val slSorted = new Array[Long](nSl)
      i = 0
      while (i < nSl) { slSorted(i) = sl.getLong(i); i += 1 }
      java.util.Arrays.sort(slSorted)
      val pt = payloadField.dataType
      val resCos = new Array[Double](nMem)
      val resId = new Array[Long](nMem)
      val resPay = new Array[Any](nMem)
      var filled = 0
      var r = 0
      while (r < nMem) {
        val row = members.getStruct(r, 4)
        val id = row.getLong(0)
        if (java.util.Arrays.binarySearch(slSorted, id) >= 0) {
          val normB = row.getDouble(1)
          val vB = row.getArray(2)
          var dot = 0.0; var j = 0
          val nn = math.min(dims, vB.numElements())
          while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
          resCos(filled) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
          resId(filled) = id
          resPay(filled) =
            if (row.isNullAt(3)) null
            else InternalRow.copyValue(row.get(3, pt))
          filled += 1
        }
        r += 1
      }
      // global (cosine desc, id asc) order, then a per-payload counter cut:
      // the emitted winners stay globally ordered, which is what makes the
      // cross-cell per-(anchor, payload) re-rank exact
      val order = (0 until filled).sortBy(q => (-resCos(q), resId(q)))
      val quota = new java.util.HashMap[Any, Int]()
      val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(filled, k * 4))
      order.foreach { q =>
        val c = quota.getOrDefault(resPay(q), 0)
        if (c < k) {
          quota.put(resPay(q), c + 1)
          out += InternalRow(resId(q), resPay(q), resCos(q))
        }
      }
      new GenericArrayData(out.toArray)
    }

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
