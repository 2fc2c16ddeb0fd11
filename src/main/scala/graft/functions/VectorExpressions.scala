package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The `zip_with`/`aggregate` higher-order formulation of a dot product is
  * semantically right but executes interpreted (higher-order functions don't
  * participate in whole-stage codegen) and allocates an intermediate array
  * per row. At 100 TB the dot product runs once per (row × probe), so it gets
  * the full treatment: a binary expression with `doGenCode` that compiles to
  * a tight primitive loop over the two `ArrayData`s — no boxing, no
  * intermediate array, vectorizer-friendly.
  *
  * This is the one place the operator inventory justifies dropping below the
  * DataFrame API (SURVEY §7: "custom Catalyst work needed: almost none"):
  * everything else in the engine stays on built-ins.
  */
object VectorExpressions {

  /** SUM(a[i]*b[i]) over two numeric arrays, accumulated in double.
    * NULL if either side is NULL; lengths must match (min length used). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = left.nullable || right.nullable

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      (left.dataType, right.dataType) match {
        case (ArrayType(lt, _), ArrayType(rt, _))
            if Seq(FloatType, DoubleType).contains(lt) && lt == rt =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case _ =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"dot_product expects two array<float> or two array<double>, " +
              s"got ${left.dataType} and ${right.dataType}")
      }
    }

    private lazy val isFloat = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0d
      var i = 0
      if (isFloat) {
        while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
      } else {
        while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val get = if (isFloat) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double) $a.$get($i) * (double) $b.$get($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** sqrt(SUM(v[i]^2)) — L2 norm with the same codegen shape. */
  case class L2Norm(child: Expression) extends UnaryExpression with Serializable {
    override def dataType: DataType = DoubleType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"l2_norm expects array<float|double>, got $other")
      }

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      var acc = 0.0d
      var i = 0
      val n = a.numElements()
      if (isFloat) {
        while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
      } else {
        while (i < n) { val x = a.getDouble(i); acc += x * x; i += 1 }
      }
      math.sqrt(acc)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val get = if (isFloat) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = (double) $a.$get($i);
           |  $acc += $x * $x;
           |}
           |${ev.value} = java.lang.Math.sqrt($acc);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Index of the nearest centroid (squared-L2, lowest index wins ties) for
    * a float/double vector against a fixed codebook — the IVF coarse-
    * quantizer assignment as a scalar expression, so the scan stays columnar
    * and whole-stage-codegen'd instead of dropping to an RDD row loop.
    *
    * The codebook rides inside the expression and is serialized with each
    * task binary: fine for the IVF regime (k ≤ 4096, a few MB); a codebook
    * beyond tens of MB should be a join, not a quantizer.
    *
    * Codegen emits a call to [[compute]] via a bound reference, keeping the
    * surrounding projection inside whole-stage codegen. */
  case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
      extends UnaryExpression with Serializable {
    require(centroids.nonEmpty, "empty codebook")

    override def dataType: DataType = org.apache.spark.sql.types.IntegerType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"nearest_centroid expects array<float|double>, got $other")
      }

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    def compute(a: ArrayData): Int = {
      val n = a.numElements()
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        val m = math.min(n, cent.length)
        var d = 0.0d
        var i = 0
        while (i < m) {
          val x = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) - cent(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Two-level [[NearestCentroid]]: argmin over super-centroids (skipping
    * empty groups, lowest index ties), then argmin within the winning
    * group's member centroids (lowest ORIGINAL index ties) — O(√k·dims)
    * per row for a k-centroid codebook grouped by
    * [[graft.operators.Ivf.hierarchy]]. Codegen via a bound reference like
    * the flat expression. */
  case class TwoLevelNearestCentroid(
      child: Expression,
      supers: Array[Array[Double]],
      blocks: Array[Array[Int]],
      centroids: Array[Array[Double]]
  ) extends UnaryExpression with Serializable {
    require(supers.nonEmpty && centroids.nonEmpty, "empty hierarchical codebook")
    require(blocks.exists(_.nonEmpty), "all super groups empty")

    override def dataType: DataType = org.apache.spark.sql.types.IntegerType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"two_level_nearest_centroid expects array<float|double>, got $other")
      }

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    def compute(a: ArrayData): Int = {
      val n = a.numElements()
      val v = new Array[Double](n)
      var i = 0
      while (i < n) {
        v(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i); i += 1
      }
      def d2(cent: Array[Double]): Double = {
        val m = math.min(n, cent.length)
        var d = 0.0; var j = 0
        while (j < m) { val x = v(j) - cent(j); d += x * x; j += 1 }
        d
      }
      var g = -1; var gd = Double.MaxValue
      i = 0
      while (i < supers.length) {
        if (blocks(i).nonEmpty) {
          val d = d2(supers(i))
          if (d < gd) { gd = d; g = i }
        }
        i += 1
      }
      val blk = blocks(g)
      var best = -1; var bd = Double.MaxValue
      i = 0
      while (i < blk.length) {
        val d = d2(centroids(blk(i)))
        if (d < bd) { bd = d; best = blk(i) }
        i += 1
      }
      best
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("twoLevelNearestCentroid", this,
        classOf[TwoLevelNearestCentroid].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Portable IVF coarse assignment: index of the md5-sign ±1 centroid with
    * the highest QUANTIZED-INTEGER dot product (lowest index wins ties) —
    * the same centroid family and `round(v[i]·1e6)::bigint` integer
    * projection as [[graft.operators.Similarity.portableIvfTopK]] (q73), so
    * the assignment is bit-reproducible in ANSI SQL: no floating-point
    * accumulation order anywhere in the decision.
    *
    * The join formulation of the same rule explodes |V|·dims rows and
    * shuffles them through a (id, c) aggregate; this is one in-row pass —
    * the signs are derived once per instance from `md5("ivf-<c>-<i>")`
    * parity. Quantization matches Spark/DuckDB `round`
    * half-away-from-zero; sums stay well inside long range.
    *
    * Above [[VectorExpressions.twoLevelThreshold]] lists the rule is
    * HIERARCHICAL — the fix for the measured O(n²) wall when nLists grows
    * with the corpus (SemDeDup's k ~ N/L regime: a flat scan is
    * O(nLists·dims) per row with nLists ∝ n, measured 11.2 s@500k →
    * 458 s@5M on the grid): cells are grouped into `S = ceil(nLists/B)`
    * contiguous blocks of `B = ceil(sqrt(nLists))` cells; a row first picks
    * the best of S md5-sign SUPER-centroids (`md5("ivfs-<g>-<i>")` parity —
    * an independent sign family), then scans only that block's B cell
    * centroids — O((S+B)·dims) ≈ O(√nLists·dims) per row, so the whole
    * assignment stage is O(n·√nLists·dims). Both levels are the same
    * quantized-integer argmax (strict >, lowest index ties), so ANSI SQL
    * replays the hierarchical rule exactly (q112's oracle does). The gate
    * is part of the rule: a given nLists always resolves the same path, so
    * results are reproducible for any fixed configuration.
    *
    * Above [[VectorExpressions.threeLevelThreshold]] lists the rule adds a
    * THIRD level — the fix for the measured O(n^1.5) total assignment CPU
    * when nLists ∝ n keeps growing (two-level is O(√nLists·dims)/row:
    * 781k lists at 50M docs costs 1768 integer dots per row, and the
    * per-stage probe attributed ~2/3 of the 3481 s 50M k-NN-join wall to
    * exactly these map stages): cells group into mid-blocks of
    * `B = ceil(cbrt(nLists))` cells, mid-blocks into top-groups of B
    * mid-centroids (`md5("ivft-<t>-<i>")` parity — a third independent
    * sign family; mid-centroids reuse the "ivfs" family indexed by global
    * mid-block id). A row picks the best of `T = ceil(M/B)` top-centroids,
    * then the best of that group's ≤ B mid-centroids, then scans only the
    * winning mid-block's ≤ B cells — O(3·∛nLists·dims)/row (129 dots at
    * 781k lists, a 13.7× cut), so total assignment is O(n^(4/3)·dims)
    * under nLists ∝ n. Same quantized-integer argmax at every level;
    * the thresholds are part of the deterministic rule, and every
    * historical oracled configuration (q83 flat at 8, q112 two-level at
    * 128) sits below them unchanged. */
  case class PortableIvfAssign(child: Expression, nLists: Int, dims: Int)
      extends UnaryExpression with Serializable {
    require(nLists > 0, "need positive nLists")
    require(dims > 0, "need positive dims")

    override def dataType: DataType = org.apache.spark.sql.types.IntegerType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"portable_ivf_assign expects array<float|double>, got $other")
      }

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    // JVM-wide memoized sign tables (see [[VectorExpressions.signTable]]):
    // every task deserialization creates a fresh expression instance, so a
    // per-instance lazy val would rebuild the FULL nLists×dims md5 table
    // (50M digests / 50 MB at 781k lists) once per task — with task count
    // also ∝ n that init term alone is O(n²)-shaped and was the measured
    // dominator of the 50M k-NN-join wall. The memo builds each family
    // once per JVM (once per executor on a cluster), amortized across all
    // its tasks.
    @transient private lazy val signs: Array[Array[Byte]] =
      VectorExpressions.signTable("ivf", nLists, dims)
    @transient private lazy val superSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivfs", VectorExpressions.superCells(nLists), dims)
    // three-level regime: mid-centroids reuse the "ivfs" family indexed by
    // global mid-block id (geometry differs from the two-level supers, so
    // the arrays are regime-specific); tops are the "ivft" family
    @transient private lazy val midSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivfs", VectorExpressions.midCells(nLists), dims)
    @transient private lazy val topSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivft", VectorExpressions.topCells(nLists), dims)

    def compute(a: ArrayData): Int = {
      val n = math.min(a.numElements(), dims)
      val xq = new Array[Long](n)
      var i = 0
      while (i < n) {
        val v = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * 1e6
        // round half-away-from-zero, matching Spark round() / DuckDB round()
        xq(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
        i += 1
      }
      def argmaxDot(sgns: Array[Array[Byte]], from: Int, until: Int): Int = {
        var best = from
        var bestDot = Long.MinValue
        var c = from
        while (c < until) {
          val sg = sgns(c)
          var dot = 0L
          var j = 0
          while (j < n) { dot += sg(j) * xq(j); j += 1 }
          if (dot > bestDot) { bestDot = dot; best = c } // strict > keeps lowest index on ties
          c += 1
        }
        best
      }
      if (nLists <= VectorExpressions.twoLevelThreshold)
        argmaxDot(signs, 0, nLists)
      else if (nLists <= VectorExpressions.threeLevelThreshold) {
        val b = VectorExpressions.blockSize(nLists)
        val g = argmaxDot(superSigns, 0, superSigns.length)
        argmaxDot(signs, g * b, math.min(nLists, (g + 1) * b))
      } else {
        val b = VectorExpressions.cbrtBlock(nLists)
        val t = argmaxDot(topSigns, 0, topSigns.length)
        val g = argmaxDot(midSigns, t * b, math.min(midSigns.length, (t + 1) * b))
        argmaxDot(signs, g * b, math.min(nLists, (g + 1) * b))
      }
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("portableIvfAssign", this, classOf[PortableIvfAssign].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Multi-probe companion of [[PortableIvfAssign]]: the `nprobe` best cells
    * for a vector, as one in-row pass — the query side of the IVF-candidate
    * k-NN join ([[graft.operators.Similarity.knnJoinIvf]]). Same quantized-
    * integer dots and tie rule as the assignment. In the hierarchical
    * regime the probe rule MIRRORS the assignment rule: rank the supers,
    * and for each of the top `min(S, nprobe)` supers emit the best cell
    * WITHIN that super's block (what the assignment would pick if its super
    * argmax had landed there) — O(nprobe·√nLists·dims) per row, head ==
    * [[PortableIvfAssign]]'s cell in every regime. Ranking the scanned
    * cells GLOBALLY instead was measured as a 32% planted-recall hole
    * (grid knn_join_ivf_recall 10185/15000@50k): a member's assigned cell
    * is only its BLOCK-local argmax — on average the ~(scanned/B)-th best
    * scanned cell globally — so a global top-nprobe keeps ~69% of sibling
    * cells (1 − C(108,28)/C(112,28) at 50k's geometry) and drops the rest.
    * One cell per probed super makes a near-identical pair's candidate
    * cells coincide whenever their super rankings overlap, which is the
    * property batch recall rides on.
    *
    * `cellsPerSuper` widens the within-block emission to the top `c` cells
    * of each probed block (same (dot desc, index asc) rule; rank-1 per
    * block IS the assignment's pick, so the head is still the assigned
    * cell and the c=1 probe list is a prefix-per-super subset). The knob
    * targets the one remaining miss mechanism of the mirrored rule:
    * near-identical vectors whose block-local argmax FLIPS between two
    * near-tied cells — each lands in a different cell and neither probes
    * the other's. c=2 covers every single-position flip. Inert in the
    * flat regime, where the global top-nprobe ranking already keeps
    * near-tied cells together.
    *
    * In the THREE-level regime (above
    * [[VectorExpressions.threeLevelThreshold]]) the mirror extends one
    * level down: rank ALL T tops, and within each of the top
    * `min(T, nprobe)` tops descend exactly as the assignment would — mid
    * argmax, then the top-`cellsPerSuper` cells of the winning mid-block —
    * plus the RUNNER-UP mid's block when its dot is within σ/8 of the
    * winner (exact integer rule: 8·gap ≤ ⌊√Σxq²⌋), which covers the
    * mid-level argmax flips of near-identical pairs without the measured
    * 2× candidate cost of an unconditional second descent. O(T +
    * nprobe·(2..3)·∛nLists) dots per row, head still ==
    * [[PortableIvfAssign]]'s cell, and the probe list is at most
    * `nprobe·2·cellsPerSuper` cells ([[VectorExpressions.probeMidsPerTop]]
    * is the sizing bound). Measured on the grid's planted recall rows,
    * with `nprobe`/`cellsPerSuper` the same dials. */
  case class PortableIvfProbe(child: Expression, nLists: Int, dims: Int, nprobe: Int,
      cellsPerSuper: Int = 1)
      extends UnaryExpression with Serializable {
    require(nLists > 0, "need positive nLists")
    require(dims > 0, "need positive dims")
    require(nprobe > 0, "need positive nprobe")
    require(cellsPerSuper > 0, "need positive cellsPerSuper")

    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"portable_ivf_probe expects array<float|double>, got $other")
      }

    private lazy val isFloat = child.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }

    // JVM-wide memoized sign tables — the per-task-init O(n²) trap, see
    // the [[PortableIvfAssign]] field comment and
    // [[VectorExpressions.signTable]]
    @transient private lazy val signs: Array[Array[Byte]] =
      VectorExpressions.signTable("ivf", nLists, dims)
    @transient private lazy val superSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivfs", VectorExpressions.superCells(nLists), dims)
    // three-level regime sign arrays — same families as the assignment's
    @transient private lazy val midSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivfs", VectorExpressions.midCells(nLists), dims)
    @transient private lazy val topSigns: Array[Array[Byte]] =
      VectorExpressions.signTable("ivft", VectorExpressions.topCells(nLists), dims)

    def compute(a: ArrayData): ArrayData = {
      val n = math.min(a.numElements(), dims)
      val xq = new Array[Long](n)
      var i = 0
      while (i < n) {
        val v = (if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)) * 1e6
        xq(i) = (if (v >= 0) math.floor(v + 0.5) else math.ceil(v - 0.5)).toLong
        i += 1
      }
      def dotOf(sg: Array[Byte]): Long = {
        var dot = 0L; var j = 0
        while (j < n) { dot += sg(j) * xq(j); j += 1 }
        dot
      }
      // (dot desc, index asc) top-p by bounded insertion — p is small
      def topP(idx: Array[Int], dots: Array[Long], p: Int): Array[Int] = {
        val m = math.min(p, idx.length)
        val order = idx.indices.sortBy(k => (-dots(k), idx(k)))
        order.take(m).map(idx(_)).toArray
      }
      if (nLists <= VectorExpressions.twoLevelThreshold) {
        val dots = Array.tabulate(nLists)(c => dotOf(signs(c)))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          topP(Array.tabulate(nLists)(identity), dots, nprobe))
      }
      // Hierarchical regimes share the per-block emission: the top
      // `cellsPerSuper` cells of cell-block [from, until) by the
      // assignment's own (dot desc, index asc) rule — bounded insertion,
      // no allocation beyond the tiny slot arrays (see scaladoc).
      val groups = math.min(
        if (nLists <= VectorExpressions.threeLevelThreshold) superSigns.length
        else topSigns.length, nprobe)
      val out = new Array[Int](
        groups * VectorExpressions.probeMidsPerTop(nLists) * cellsPerSuper)
      var w = 0
      val bi = new Array[Int](cellsPerSuper)
      val bd = new Array[Long](cellsPerSuper)
      def emitBlock(from: Int, until: Int): Unit = {
        val m = math.min(cellsPerSuper, until - from)
        var size = 0
        var c = from
        while (c < until) {
          val d = dotOf(signs(c))
          if (size < m) {
            var pos = size
            while (pos > 0 && d > bd(pos - 1)) {
              bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
            }
            bd(pos) = d; bi(pos) = c; size += 1
          } else if (d > bd(m - 1)) {
            var pos = m - 1
            while (pos > 0 && d > bd(pos - 1)) {
              bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1); pos -= 1
            }
            bd(pos) = d; bi(pos) = c
          }
          c += 1
        }
        var r = 0
        while (r < size) { out(w) = bi(r); w += 1; r += 1 }
      }
      if (nLists <= VectorExpressions.threeLevelThreshold) {
        val b = VectorExpressions.blockSize(nLists)
        val sDots = Array.tabulate(superSigns.length)(g => dotOf(superSigns(g)))
        val gs = topP(Array.tabulate(superSigns.length)(identity), sDots, groups)
        gs.foreach(g => emitBlock(g * b, math.min(nLists, (g + 1) * b)))
      } else {
        // mirror of the three-level assignment: rank ALL tops, and within
        // each probed top descend as the assignment would — mid argmax,
        // then the block emission — PLUS the runner-up mid's block when the
        // two mid dots are NEAR-TIED: 8·(gd1 − gd2) ≤ ⌊√(Σ xq²)⌋, i.e. gap
        // ≤ σ/8 where σ is the dot's own standard deviation under ±1
        // signs. The gate targets the miss mechanism the third level
        // introduces — a near-identical pair whose mid-level argmax flips
        // between two near-tied mids lands in different blocks, and a
        // single greedy descent would probe neither's twin (measured 98.2%
        // → 96.5% planted recall at 5M). A cos ≥ 0.999 replica perturbs
        // each mid dot by ≲ 0.05σ, so every flip-prone pair sits inside
        // the σ/8 window, while genuinely separated mids (top-2 spacing of
        // ~B Gaussian dots ≈ 0.3σ) mostly don't — the unconditional top-2
        // emission was measured at 2× join wall for the same recall.
        // Exact integer arithmetic (isqrt with correction loops), so the
        // rule replays on any engine. The first emitted cell is still the
        // assignment's pick (mid rank-1's block rank-1).
        val b = VectorExpressions.cbrtBlock(nLists)
        var sumSq = 0L
        var si = 0
        while (si < n) { sumSq += xq(si) * xq(si); si += 1 }
        var sigma = math.sqrt(sumSq.toDouble).toLong
        while (sigma > 0 && sigma * sigma > sumSq) sigma -= 1
        while ((sigma + 1) * (sigma + 1) <= sumSq) sigma += 1
        val tDots = Array.tabulate(topSigns.length)(t => dotOf(topSigns(t)))
        val ts = topP(Array.tabulate(topSigns.length)(identity), tDots, groups)
        ts.foreach { t =>
          var g1 = -1; var gd1 = Long.MinValue
          var g2 = -1; var gd2 = Long.MinValue
          var mi = t * b
          val mUntil = math.min(midSigns.length, (t + 1) * b)
          while (mi < mUntil) {
            val d = dotOf(midSigns(mi))
            if (d > gd1) { gd2 = gd1; g2 = g1; gd1 = d; g1 = mi }
            else if (d > gd2) { gd2 = d; g2 = mi }
            mi += 1
          }
          emitBlock(g1 * b, math.min(nLists, (g1 + 1) * b))
          if (g2 >= 0 && 8L * (gd1 - gd2) <= sigma)
            emitBlock(g2 * b, math.min(nLists, (g2 + 1) * b))
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        if (w == out.length) out else java.util.Arrays.copyOf(out, w))
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("portableIvfProbe", this, classOf[PortableIvfProbe].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** The q73 sign rule: +1 iff the first 8 hex chars of md5("ivf-<c>-<i>")
    * parse to an even value — shared by [[PortableIvfAssign]] and the
    * driver-side spec mirror. */
  private[graft] def md5SignIvf(c: Int, i: Int): Byte = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ivf-$c-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val head = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    if (head % 2 == 0) 1 else -1
  }

  /** Super-centroid sign family for the hierarchical rule: same parity
    * recipe over `md5("ivfs-<g>-<i>")` — the distinct prefix makes the S
    * super-centroids independent of the nLists cell centroids. In the
    * three-level regime this family serves the MID level, indexed by
    * global mid-block id. */
  private[graft] def md5SignIvfSuper(g: Int, i: Int): Byte = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ivfs-$g-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val head = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    if (head % 2 == 0) 1 else -1
  }

  /** Top-centroid sign family for the three-level rule: same parity recipe
    * over `md5("ivft-<t>-<i>")` — a third independent family. */
  private[graft] def md5SignIvfTop(t: Int, i: Int): Byte = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"ivft-$t-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val head = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    if (head % 2 == 0) 1 else -1
  }

  /** JVM-wide sign-table memo for the IVF centroid families. A sign table
    * is a pure function of (family, count, dims), but building one costs
    * count·dims md5 digests — 50M digests / 50 MB for the cell family at
    * 781k lists — and Spark deserializes a FRESH expression instance per
    * task, so per-instance lazy vals pay that build once per task: with
    * task count ∝ n under the nLists ∝ n policy the init alone is
    * O(n²)-shaped (the measured dominator of the first 50M three-level
    * k-NN-join run). `computeIfAbsent` builds each table once per JVM —
    * once per executor on a cluster, amortized over all its tasks — and
    * blocks concurrent first-touchers instead of duplicating the build.
    *
    * Retention is BOUNDED without GC coupling: after each lookup the
    * cache keeps only the TWO largest entries per family (a session
    * alternating between two corpus sizes ping-pongs nothing; a campaign
    * over many distinct sizes retains ≤ 6 tables, the largest being
    * nLists·dims bytes). Under the default nLists = n/64 policy an
    * UNBOUNDED memo would pin one fresh ~nLists·dims-byte table per
    * distinct corpus size for the JVM's life (~50 MB each at 781k
    * lists). Soft references were MEASURED AND REVERTED for this: an
    * 8 GB heap under cache pressure cleared them repeatedly mid-query
    * and each clear re-paid the ~10 s 195k-list build —
    * semantic_dedup@50M regressed 586 → 686 s on the soft-ref variant,
    * back under the deterministic rule (docs/corpusbench_local32.jsonl
    * round-13 rows). */
  private val signTableCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Int), Array[Array[Byte]]]()
  private[graft] def signTable(family: String, count: Int, dims: Int): Array[Array[Byte]] = {
    val t = signTableCache.computeIfAbsent((family, count, dims), _ => {
      val f: (Int, Int) => Byte = family match {
        case "ivf"  => md5SignIvf
        case "ivfs" => md5SignIvfSuper
        case "ivft" => md5SignIvfTop
        case other  => throw new IllegalArgumentException(s"unknown sign family $other")
      }
      Array.tabulate(count)(c => Array.tabulate(dims)(i => f(c, i + 1)))
    })
    // retention rule: drop all but the 2 largest counts per family —
    // eviction of a table some straggler task still references is safe
    // (it holds the array; only the map entry goes)
    val sameFamily = new java.util.ArrayList[(String, Int, Int)]()
    signTableCache.forEachKey(Long.MaxValue, k =>
      if (k._1 == family) { sameFamily.add(k); () })
    if (sameFamily.size > 2) {
      val keep = {
        import scala.jdk.CollectionConverters._
        sameFamily.asScala.sortBy(-_._2).take(2).toSet + ((family, count, dims))
      }
      sameFamily.forEach(k => if (!keep(k)) { signTableCache.remove(k); () })
    }
    t
  }

  /** Flat-scan ceiling: at or below this many lists a full argmax is cheaper
    * than the two-level search and the historical (q83/q73) rule applies
    * unchanged. Part of the deterministic rule — see [[PortableIvfAssign]]. */
  private[graft] val twoLevelThreshold: Int = 64

  /** Two-level ceiling: above this many lists the rule adds the third
    * level. 65536 keeps every measured two-level configuration (all oracled
    * queries, and every grid point through 500k docs under the nLists ∝ n
    * policies) on the historical rule; 5M+ corpora — where the two-level
    * O(√nLists·dims)/row term is the measured CPU wall — go three-level.
    * Part of the deterministic rule like [[twoLevelThreshold]]. */
  private[graft] val threeLevelThreshold: Int = 65536

  /** Hierarchical block size: B = ceil(sqrt(nLists)), computed in exact
    * integer arithmetic so every engine derives the identical split. */
  private[graft] def blockSize(nLists: Int): Int = {
    var b = math.sqrt(nLists.toDouble).toInt
    while (b.toLong * b < nLists) b += 1
    b
  }

  /** Super-centroid count S = ceil(nLists / B); every g < S owns the
    * non-empty contiguous cell block [g·B, min(nLists, (g+1)·B)). */
  private[graft] def superCells(nLists: Int): Int = {
    val b = blockSize(nLists)
    (nLists + b - 1) / b
  }

  /** Three-level block size: B = ceil(cbrt(nLists)) in exact integer
    * arithmetic — cells per mid-block, and mid-blocks per top-group. */
  private[graft] def cbrtBlock(nLists: Int): Int = {
    var b = math.cbrt(nLists.toDouble).toInt
    while (b.toLong * b * b < nLists) b += 1
    b
  }

  /** Mid-centroid count M = ceil(nLists / B); mid-block g owns the
    * non-empty contiguous cell block [g·B, min(nLists, (g+1)·B)). */
  private[graft] def midCells(nLists: Int): Int = {
    val b = cbrtBlock(nLists)
    (nLists + b - 1) / b
  }

  /** Top-centroid count T = ceil(M / B); top-group t owns the non-empty
    * contiguous mid-block range [t·B, min(M, (t+1)·B)). */
  private[graft] def topCells(nLists: Int): Int = {
    val b = cbrtBlock(nLists)
    (midCells(nLists) + b - 1) / b
  }

  /** Probe fan-out multiplier per probed group beyond cellsPerSuper: the
    * three-level probe rule descends through up to TWO mids per probed top
    * (the runner-up only under the σ/8 tie-gap gate — see
    * [[PortableIvfProbe]]), so its probe list is up to
    * `nprobe · 2 · cellsPerSuper` cells — consumers sizing exchanges from
    * the probe expansion multiply by this worst case. */
  private[graft] def probeMidsPerTop(nLists: Int): Int =
    if (nLists > threeLevelThreshold) 2 else 1

  /** Driver-side mirror of [[PortableIvfAssign]] for specs — including the
    * hierarchical rules above [[twoLevelThreshold]] /
    * [[threeLevelThreshold]]. */
  private[graft] def portableIvfAssignLocal(v: Seq[Double], nLists: Int): Int = {
    val xq = v.map(x => (if (x >= 0) math.floor(x * 1e6 + 0.5)
                         else math.ceil(x * 1e6 - 0.5)).toLong)
    def bestCell(range: Range, sign: (Int, Int) => Byte): Int =
      range.map { c =>
        val dot = xq.indices.map(j => sign(c, j + 1).toLong * xq(j)).sum
        (dot, c)
      }.maxBy { case (dot, c) => (dot, -c) }._2
    if (nLists <= twoLevelThreshold) bestCell(0 until nLists, md5SignIvf)
    else if (nLists <= threeLevelThreshold) {
      val b = blockSize(nLists)
      val g = bestCell(0 until superCells(nLists), md5SignIvfSuper)
      bestCell(g * b until math.min(nLists, (g + 1) * b), md5SignIvf)
    } else {
      val b = cbrtBlock(nLists)
      val t = bestCell(0 until topCells(nLists), md5SignIvfTop)
      val g = bestCell(t * b until math.min(midCells(nLists), (t + 1) * b),
        md5SignIvfSuper)
      bestCell(g * b until math.min(nLists, (g + 1) * b), md5SignIvf)
    }
  }

  /** Asymmetric-distance lookup for product-quantized codes: the sum over
    * sub-spaces of `tables(s)(code(s))`, where `tables` are the query's
    * precomputed per-centroid squared distances. `m` array lookups per row —
    * the whole point of PQ search. Codegen via a bound reference like
    * [[NearestCentroid]]. */
  case class AdcDistance(child: Expression, tables: Array[Array[Double]])
      extends UnaryExpression with Serializable {
    require(tables.nonEmpty, "empty ADC tables")

    override def dataType: DataType = DoubleType

    override def checkInputDataTypes()
        : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(org.apache.spark.sql.types.IntegerType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"adc_distance expects array<int> codes, got $other")
      }

    def compute(a: ArrayData): Double = {
      val m = math.min(a.numElements(), tables.length)
      var d = 0.0d
      var s = 0
      while (s < m) {
        val c = a.getInt(s)
        val t = tables(s)
        if (c >= 0 && c < t.length) d += t(c)
        s += 1
      }
      d
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("adcDistance", this, classOf[AdcDistance].getName)
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API. */
  def adc_distance(code: Column, tables: Array[Array[Double]]): Column =
    GraftBridge.toColumn(AdcDistance(GraftBridge.toExpression(code), tables))
  def nearest_centroid(v: Column, centroids: Array[Array[Double]]): Column =
    GraftBridge.toColumn(NearestCentroid(GraftBridge.toExpression(v), centroids))
  def two_level_nearest_centroid(v: Column, supers: Array[Array[Double]],
      blocks: Array[Array[Int]], centroids: Array[Array[Double]]): Column =
    GraftBridge.toColumn(TwoLevelNearestCentroid(
      GraftBridge.toExpression(v), supers, blocks, centroids))
  def portable_ivf_assign(v: Column, nLists: Int, dims: Int): Column =
    GraftBridge.toColumn(PortableIvfAssign(GraftBridge.toExpression(v), nLists, dims))
  def portable_ivf_probe(v: Column, nLists: Int, dims: Int, nprobe: Int,
      cellsPerSuper: Int = 1): Column =
    GraftBridge.toColumn(PortableIvfProbe(GraftBridge.toExpression(v), nLists, dims,
      nprobe, cellsPerSuper))
  def dot_product(a: Column, b: Column): Column =
    GraftBridge.toColumn(DotProduct(GraftBridge.toExpression(a), GraftBridge.toExpression(b)))
  def l2_norm(v: Column): Column =
    GraftBridge.toColumn(L2Norm(GraftBridge.toExpression(v)))

  /** Cosine similarity via the native expressions (0 for zero norms). */
  def cosine_sim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{lit, when}
    val d = l2_norm(a) * l2_norm(b)
    when(d === 0, lit(0.0)).otherwise(dot_product(a, b) / d)
  }

  /** Register as SQL functions (`SELECT dot_product(a, b)`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2_norm", exprs => L2Norm(exprs.head), "built-in")
  }
}
