package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.GenExpressions.roundHalfUp

/** The in-cell scoring core of [[AnnExpressions]]' IVF-PQ cell expressions:
  * the one copy of every decision they share.
  *
  *  - the member layouts, checked at analysis ([[members]]): the codes
  *    directory (id: bigint, code: array<int>, …) and the vector directory
  *    (id: bigint, norm: double, v: array<float>, …), read by position;
  *  - query widening ([[widen]], float components to double) and its norm;
  *  - the `kCand` ADC shortlist ([[shortlist]]): per-member ADC sum,
  *    bounded insertion by (ADC asc, id asc), and the cap-covers-cell
  *    shortcut that skips the ADC phase when every candidate survives;
  *  - the exact rescore ([[rescore]]): shortlist membership by binary
  *    search, the rounded cosine of a shortlisted member (ascending-index
  *    dot, HALF_UP 6 dp), and the (cosine desc, id asc) cut at k overall or
  *    at k per distinct payload.
  *
  * The expressions keep only what differs between them: which members a
  * gate admits, which layout they read, and what a winner row carries. */
private[functions] object CellScoring {

  type Rule = DataType => Boolean

  val Bigint: Rule = _ == LongType
  val Floats: Rule = { case ArrayType(FloatType, _) => true; case _ => false }
  val Ids: Rule = { case ArrayType(LongType, _) => true; case _ => false }
  private val Ints: Rule = { case ArrayType(IntegerType, _) => true; case _ => false }

  /** The codes directory's leading fields: (id: bigint, code: array<int>). */
  val Codes: Seq[Rule] = Seq(Bigint, Ints)
  /** The vector directory's leading fields: (id: bigint, norm: double,
    * v: array<float>). */
  val Vectors: Seq[Rule] = Seq(Bigint, _ == DoubleType, Floats)

  /** Atomic types only: a label or payload compared with == must compare by
    * value, which map, binary and nested values do not (reference equality,
    * or representation-sensitive) — such a label would leak same-label pairs
    * or split one class into singletons. */
  val Atomic: Rule = {
    case _: ArrayType | _: MapType | _: StructType | BinaryType => false
    case _ => true
  }

  /** The one member-struct layout check: an array of structs whose leading
    * fields satisfy `lead` in order and whose remaining field types satisfy
    * `rest` (by default any, so a payload-blind reader accepts a
    * payload-bearing directory). */
  def members(lead: Seq[Rule], rest: Seq[DataType] => Boolean = _ => true): Rule = {
    case ArrayType(s: StructType, _) =>
      val types = s.fields.toSeq.map(_.dataType)
      types.length >= lead.length && lead.zip(types).forall { case (ok, t) => ok(t) } &&
        rest(types.drop(lead.length))
    case _ => false
  }

  /** Analysis-time check of a cell expression: child i against rule i. */
  def check(fn: String, expects: String, children: Seq[Expression],
      rules: Seq[Rule]): TypeCheckResult =
    if (children.zip(rules).forall { case (c, ok) => ok(c.dataType) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$fn expects $expects, got " +
      children.map(_.dataType.simpleString).mkString("(", ", ", ")"))

  /** Field count of an array<struct> member type: what `getStruct` must be
    * told, payload fields included, or the positional reads corrupt. */
  def width(dt: DataType): Int = dt match {
    case ArrayType(s: StructType, _) => s.length
    case _ => 0
  }

  /** The payload field after a vector member's (id, norm, v), a placeholder
    * before analysis has resolved it. */
  def payload(dt: DataType): StructField = dt match {
    case ArrayType(s: StructType, _) if s.length == Vectors.length + 1 => s.fields(Vectors.length)
    case _ => StructField("payload", NullType)
  }

  /** A rescore winner: (id, cosine), or (id, payload, cosine) when a payload
    * rides out of the directory. */
  def winnerType(payload: Option[StructField]): DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false)) ++
      payload.map(p => StructField("payload", p.dataType, p.nullable)) ++
      Seq(StructField("cosine", DoubleType, nullable = false))),
    containsNull = false)

  private def empty: ArrayData = new GenericArrayData(Array.empty[Any])

  /** Query widening: float components to double, in index order. */
  def widen(a: ArrayData): Array[Double] = {
    val n = a.numElements()
    val v = new Array[Double](n)
    var i = 0
    while (i < n) { v(i) = a.getFloat(i).toDouble; i += 1 }
    v
  }

  private def norm(v: Array[Double]): Double = {
    var nrm = 0.0
    var i = 0
    while (i < v.length) { nrm += v(i) * v(i); i += 1 }
    math.sqrt(nrm)
  }

  /** ADC tables for a query vector — adc(s)(c) = squared L2 of vA's s-th
    * subDim slice to centroid c (m·ks·subDim multiplies, cheaper than a
    * single exact member evaluation). */
  private def adcTables(vA: Array[Double], codebooks: Array[Array[Array[Double]]],
      subDim: Int): Array[Array[Double]] =
    Array.tabulate(codebooks.length) { s =>
      val cb = codebooks(s)
      val lo = s * subDim
      Array.tabulate(cb.length) { c =>
        val cent = cb(c)
        var d = 0.0; var j = 0
        val nn = math.min(subDim, math.max(0, vA.length - lo))
        while (j < nn) { val x = vA(lo + j) - cent(j); d += x * x; j += 1 }
        d
      }
    }

  /** The ≤ `kCand` shortlisted member ids of one probe row: the smallest
    * ADC distances to the query (ties id asc), self (`idA`) excluded.
    *
    * The candidates are `n` codes-directory members of `width` fields: the
    * first `n` when `gated` is null, else the indexes `gated(0 until n)` a
    * caller's gate let through. When the cap covers the cell (n ≤ kCand)
    * every candidate survives the ADC cut, so the ADC phase is skipped and
    * the ids come out in member order; a downstream exact rescore of either
    * form returns the same winners. Per member: m table lookups, then one
    * bounded insertion. */
  def shortlist(idA: Long, vAraw: ArrayData, members: ArrayData, width: Int,
      gated: Array[Int], n: Int, kCand: Int,
      codebooks: Array[Array[Array[Double]]], subDim: Int): ArrayData = {
    if (n == 0) return empty
    if (n <= kCand) {
      val out = new Array[Any](n)
      var filled = 0
      var q = 0
      while (q < n) {
        val id = members.getStruct(if (gated == null) q else gated(q), width).getLong(0)
        if (id != idA) { out(filled) = id; filled += 1 }
        q += 1
      }
      return new GenericArrayData(if (filled == n) out else out.take(filled))
    }
    val adc = adcTables(widen(vAraw), codebooks, subDim)
    val m = codebooks.length
    val slDist = new Array[Double](kCand)
    val slId = new Array[Long](kCand)
    var filled = 0
    var q = 0
    while (q < n) {
      val row = members.getStruct(if (gated == null) q else gated(q), width)
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
        // insertion position: strictly better than the current worst, or
        // still filling. Tie on distance → lower id wins (stable order).
        if (filled < kCand || d < slDist(filled - 1) ||
            (d == slDist(filled - 1) && id < slId(filled - 1))) {
          var p = if (filled < kCand) filled else kCand - 1
          while (p > 0 && {
              val pd = slDist(p - 1)
              pd > d || (pd == d && slId(p - 1) > id)
            }) {
            slDist(p) = slDist(p - 1); slId(p) = slId(p - 1); p -= 1
          }
          slDist(p) = d; slId(p) = id
          if (filled < kCand) filled += 1
        }
      }
      q += 1
    }
    new GenericArrayData(Array.tabulate[Any](filled)(q => slId(q)))
  }

  /** The exact rescore of a shortlist: the rounded cosine of every member
    * of `width` fields whose id is in `sl`, then the k best by
    * (cosine desc, id asc) — or, with `perPayload`, the k best for each
    * distinct payload, emitted in that same global order so a cross-cell
    * per-(anchor, payload) re-rank stays exact. `payload` (null for none)
    * is the type of the field after (id, norm, v); it is copied out of the
    * (Unsafe) member buffer for shortlisted members only, since the output
    * outlives the row's backing bytes.
    *
    * Membership is a binary search in a sorted copy of the ≤ kCand ids. The
    * buffers are sized to the cell, not the shortlist: a members array with
    * duplicate ids (impossible inside a one-cell-per-member build, legal
    * input here) then ranks the duplicates instead of overrunning. */
  def rescore(vAraw: ArrayData, sl: ArrayData, members: ArrayData, width: Int,
      k: Int, payload: DataType, perPayload: Boolean): ArrayData = {
    val nSl = sl.numElements()
    val nMem = members.numElements()
    if (nSl == 0 || nMem == 0) return empty
    val vA = widen(vAraw)
    val normA = norm(vA)
    if (normA == 0.0) return empty
    val slSorted = sl.toLongArray()
    java.util.Arrays.sort(slSorted)
    val resCos = new Array[Double](nMem)
    val resId = new Array[Long](nMem)
    val resPay = if (payload == null) null else new Array[Any](nMem)
    var filled = 0
    var r = 0
    while (r < nMem) {
      val row = members.getStruct(r, width)
      val id = row.getLong(0)
      if (java.util.Arrays.binarySearch(slSorted, id) >= 0) {
        val normB = row.getDouble(1)
        val vB = row.getArray(2)
        var dot = 0.0; var j = 0
        val nn = math.min(vA.length, vB.numElements())
        while (j < nn) { dot += vA(j) * vB.getFloat(j).toDouble; j += 1 }
        resCos(filled) = if (normB == 0.0) 0.0 else roundHalfUp(dot / (normA * normB), 6)
        resId(filled) = id
        if (resPay != null)
          resPay(filled) = if (row.isNullAt(3)) null else InternalRow.copyValue(row.get(3, payload))
        filled += 1
      }
      r += 1
    }
    val order = (0 until filled).sortBy(q => (-resCos(q), resId(q)))
    val kept =
      if (!perPayload) order.take(k)
      else {
        val quota = new java.util.HashMap[Any, Int]()
        order.filter { q =>
          val c = quota.getOrDefault(resPay(q), 0)
          if (c < k) quota.put(resPay(q), c + 1)
          c < k
        }
      }
    new GenericArrayData(kept.map { q =>
      (if (resPay == null) InternalRow(resId(q), resCos(q))
       else InternalRow(resId(q), resPay(q), resCos(q))): Any
    }.toArray)
  }
}
