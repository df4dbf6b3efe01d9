package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Σ aᵢ·bᵢ over two numeric arrays as a native Catalyst expression —
  * a tight sequential loop over the unsafe array data, with a
  * `doGenCode` implementation so the loop compiles INTO the enclosing
  * whole-stage-codegen function (no per-row virtual dispatch, no
  * boxing). Spark's higher-order `zip_with` + `aggregate` compute the
  * same value but allocate an intermediate array per row and evaluate
  * the lambda interpreted (higher-order functions don't join
  * whole-stage codegen), which dominates brute-force similarity scans.
  * The accumulation order in both the compiled and interpreted paths is
  * exactly the left-to-right fold the declared oracle arithmetic uses,
  * so results stay bitwise identical.
  *
  * Null elements contribute 0 (the embeddings schema declares
  * non-null elements; this is belt-and-braces, not semantics).
  *
  * Mismatched lengths produce NULL, never a silently-truncated partial
  * sum: a dimension bug upstream must surface as a null similarity (and
  * null-rejecting downstream filters), not as a plausible wrong number.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val (at, bt) = (elemType(left), elemType(right))
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = at match {
          case FloatType => a.getFloat(i).toDouble
          case DoubleType => a.getDouble(i)
          case _ => throw new IllegalArgumentException(s"graft_dot: $at")
        }
        val y = bt match {
          case FloatType => b.getFloat(i).toDouble
          case DoubleType => b.getDouble(i)
          case _ => throw new IllegalArgumentException(s"graft_dot: $bt")
        }
        sum += x * y
      }
      i += 1
    }
    sum
  }

  private def accessor(e: Expression, arr: String, i: String): String =
    elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case DoubleType => s"$arr.getDouble($i)"
      case t => throw new IllegalArgumentException(s"graft_dot: $t")
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $acc += ${accessor(left, a, i)} * ${accessor(right, b, i)};
         |    }
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All `tables` random-hyperplane LSH sign-buckets of an embedding in
  * ONE native pass — `ArrayType(IntegerType)` of length `tables`, where
  * slot t is the `nPlanes`-bit sign pattern of the embedding against
  * table t's deterministic Gaussian hyperplanes (`Random(seed + t)`,
  * identical to [[graft.operators.Ann.hyperplanes]]).
  *
  * Exists because composing the same value from column primitives
  * (`tables × nPlanes` separate `graft_dot`s against literal arrays)
  * builds an expression tree that grows past what whole-stage codegen
  * compiles well — measured 4× superlinear blowup going 8 → 16 tables
  * on the q98 path. Here the planes live in ONE flat referenced
  * double[] and the whole bucket matrix is three tight loops.
  *
  * Null/ragged contract matches the composed form: wrong-length input
  * (or a NaN dot) yields a NULL array — the row drops out of every
  * table's bucket join rather than aliasing into bucket 0. Null
  * elements contribute 0, as in [[DotProduct]].
  */
case class SignBuckets(
    child: Expression, nPlanes: Int, tables: Int, seed: Long, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sign_buckets"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"graft_sign_buckets: $t")
    }

  @transient private lazy val planesFlat: Array[Double] =
    SignBuckets.flatPlanes(dim, nPlanes, tables, seed)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val isF = elemIsFloat
    val out = new Array[Int](tables)
    var t = 0
    while (t < tables) {
      var bits = 0
      var p = 0
      while (p < nPlanes) {
        val base = (t * nPlanes + p) * dim
        var s = 0.0
        var i = 0
        while (i < dim) {
          if (!a.isNullAt(i)) {
            val x = if (isF) a.getFloat(i).toDouble else a.getDouble(i)
            s += x * planesFlat(base + i)
          }
          i += 1
        }
        if (java.lang.Double.isNaN(s)) return null
        if (s >= 0.0) bits |= 1 << p
        p += 1
      }
      out(t) = bits
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val planesRef = ctx.addReferenceObj("planesFlat", planesFlat, "double[]")
      val acc = elemIsFloat match {
        case true => s"(double) $a.getFloat"
        case false => s"$a.getDouble"
      }
      val out = ctx.freshName("out")
      val nan = ctx.freshName("nan")
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val bits = ctx.freshName("bits")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$tables];
         |  boolean $nan = false;
         |  for (int $t = 0; $t < $tables && !$nan; $t++) {
         |    int $bits = 0;
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      final int $base = ($t * $nPlanes + $p) * $dim;
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        if (!$a.isNullAt($i)) {
         |          $s += $acc($i) * $planesRef[$base + $i];
         |        }
         |      }
         |      if (Double.isNaN($s)) { $nan = true; break; }
         |      if ($s >= 0.0) $bits |= 1 << $p;
         |    }
         |    $out[$t] = $bits;
         |  }
         |  if ($nan) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} =
         |      new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encode: the residual array (length m·dsub)
  * maps to `m` codebook ids, subspace j picking the id of the nearest
  * (L2) of its `ksub` centroids. Codebooks live in ONE flat referenced
  * double[] laid out (subspace, code, dim)-major — the same
  * reference-object trick as [[SignBuckets]], and for the same reason:
  * the column-composed form is m·ksub interpreted higher-order
  * aggregates per row, while this is three tight loops inside
  * whole-stage codegen. Encoding is a map-only projection over the
  * corpus — the one full-width read a 100 TB PQ index build pays.
  *
  * Wrong-length input yields NULL (dimension bugs surface as dropped
  * rows, not plausible codes); null elements read as 0, as in
  * [[DotProduct]]. Ties (equidistant centroids) break to the LOWER
  * code id in both eval paths — argmin with strict `<`.
  */
case class PqEncode(child: Expression, codebooks: Array[Double],
    m: Int, ksub: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"graft_pq_encode: $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != m * dsub) return null
    val isF = elemIsFloat
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (a.isNullAt(j * dsub + i)) 0.0
            else if (isF) a.getFloat(j * dsub + i).toDouble
            else a.getDouble(j * dsub + i)
          val diff = x - codebooks(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[]")
      val acc = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != ${m * dsub}) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $out = new int[$m];
         |  for (int $j = 0; $j < $m; $j++) {
         |    int $best = 0;
         |    double $bestD = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      final int $base = ($j * $ksub + $c) * $dsub;
         |      double $d = 0.0;
         |      for (int $i = 0; $i < $dsub; $i++) {
         |        final double $x = $a.isNullAt($j * $dsub + $i)
         |          ? 0.0 : $acc($j * $dsub + $i);
         |        final double $diff = $x - $cbRef[$base + $i];
         |        $d += $diff * $diff;
         |      }
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $out[$j] = $best;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC lookup table: out[j·ksub + c] = Σᵢ q[j·dsub+i] ·
  * cb[j][c][i] — every subspace-centroid dot the asymmetric-distance
  * scan will ever need for this query, computed ONCE on the tiny query
  * frame instead of per candidate. Wrong-length input yields NULL.
  */
case class PqLut(child: Expression, codebooks: Array[Double],
    m: Int, ksub: Int, dsub: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_lut"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"graft_pq_lut: $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != m * dsub) return null
    val isF = elemIsFloat
    val out = new Array[Double](m * ksub)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < ksub) {
        val base = (j * ksub + c) * dsub
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val x = if (a.isNullAt(j * dsub + i)) 0.0
            else if (isF) a.getFloat(j * dsub + i).toDouble
            else a.getDouble(j * dsub + i)
          s += x * codebooks(base + i)
          i += 1
        }
        out(j * ksub + c) = s
        c += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[]")
      val acc = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val base = ctx.freshName("base")
      s"""
         |if ($a.numElements() != ${m * dsub}) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $out = new double[${m * ksub}];
         |  for (int $j = 0; $j < $m; $j++) {
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      final int $base = ($j * $ksub + $c) * $dsub;
         |      double $s = 0.0;
         |      for (int $i = 0; $i < $dsub; $i++) {
         |        $s += ($a.isNullAt($j * $dsub + $i)
         |          ? 0.0 : $acc($j * $dsub + $i)) * $cbRef[$base + $i];
         |      }
         |      $out[$j * $ksub + $c] = $s;
         |    }
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance accumulation — the PQ candidate scan's hot
  * loop: Σⱼ lut[j·ksub + code[j]]. Left child is the code array
  * (length m), right the query's [[PqLut]] array (length m·ksub).
  * This touches only the m-byte code per candidate — the entire point
  * of PQ at a 100 TB store: the float corpus is read only for the
  * rerank shortlist. Mismatched lengths or an out-of-range code id
  * yield NULL (a corrupted code table must not score plausibly).
  */
case class PqAdc(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val code = l.asInstanceOf[ArrayData]
    val lut = r.asInstanceOf[ArrayData]
    val m = code.numElements()
    if (lut.numElements() != m * ksub) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      if (code.isNullAt(j)) return null
      val c = code.getInt(j)
      if (c < 0 || c >= ksub) return null
      s += lut.getDouble(j * ksub + c)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (code, lut) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |final int $m = $code.numElements();
         |if ($lut.numElements() != $m * $ksub) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $bad = false;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($code.isNullAt($j)) { $bad = true; break; }
         |    final int $c = $code.getInt($j);
         |    if ($c < 0 || $c >= $ksub) { $bad = true; break; }
         |    $s += $lut.getDouble($j * $ksub + $c);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dense matrix–vector product y = M·x as a native codegen expression —
  * the OPQ rotation applied per row ([[graft.operators.Ann]] IVF-PQ
  * with a learned orthogonal rotation, Ge et al. 2013): `mat` is a
  * row-major dim×dim referenced double[], the child an
  * ARRAY<FLOAT|DOUBLE> of length dim. Two tight loops inside
  * whole-stage codegen; wrong-length input yields NULL (same dimension
  * discipline as [[PqEncode]]); null elements read as 0.
  */
case class MatVec(child: Expression, mat: Array[Double], dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_matvec"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"graft_matvec: $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val isF = elemIsFloat
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      x(i) = if (a.isNullAt(i)) 0.0
        else if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val y = new Array[Double](dim)
    i = 0
    while (i < dim) {
      var s = 0.0
      var k = 0
      while (k < dim) { s += mat(i * dim + k) * x(k); k += 1 }
      y(i) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val matRef = ctx.addReferenceObj("matvecMat", mat, "double[]")
      val acc = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val s = ctx.freshName("s")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $x[$i] = $a.isNullAt($i) ? 0.0 : $acc($i);
         |  }
         |  double[] $y = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    double $s = 0.0;
         |    for (int $k = 0; $k < $dim; $k++) {
         |      $s += $matRef[$i * $dim + $k] * $x[$k];
         |    }
         |    $y[$i] = $s;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($y);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Two-level (coarse-over-coarse) nearest-centroid assignment — the
  * LINEAR-in-n fix for the IVF assignment stage when nlist grows with
  * the corpus (VERDICT r10 missing #1). The dense assignment scores
  * every vector against every fine centroid — n·nlist distances, n^1.5
  * when nlist = Θ(√n). Here the fine centroids are themselves grouped
  * under ncoarse ≈ √nlist coarse centroids (built driver-side,
  * [[graft.operators.Ann.twoLevelAssignCol]]), and each vector scores
  * (a) all ncoarse coarse centroids, then (b) only the fine centroids
  * of its `wprobe` nearest coarse groups — Θ(√nlist · (1 + wprobe·
  * avg group)) ≈ Θ(√nlist) per vector, n·√nlist ≈ n^1.25 total.
  *
  * Assignment is APPROXIMATE (the true nearest fine centroid can live
  * in an unprobed group): cell-local SemDeDup stays correct under ANY
  * partition of the vectors — within-cell pairs are a subset of all
  * pairs regardless — it only moves which near-dup pairs co-locate
  * (recall, measured in AnnSpec against the dense assignment).
  *
  * Layout: `coarse` ncoarse×dim flat; `fine` nlist×dim flat REORDERED
  * group-major; `offsets` (ncoarse+1) group spans into `fine`; `ids`
  * the original fine-cell id per reordered slot. All ride in as plan-
  * time referenced arrays, never per row. Squared Euclidean, matching
  * KMeansModel.transform; ties break to the lower ORIGINAL id at both
  * levels (probe order can't leak into the result). Wrong-length input
  * yields NULL.
  */
case class TwoLevelAssign(child: Expression, coarse: Array[Double],
    fine: Array[Double], offsets: Array[Int], ids: Array[Int],
    dim: Int, wprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_two_level_assign"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => true
      case DoubleType => false
      case t => throw new IllegalArgumentException(s"graft_two_level_assign: $t")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    if (a.numElements() != dim) return null
    val isF = elemIsFloat
    val x = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      x(i) = if (a.isNullAt(i)) 0.0
        else if (isF) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val nc = offsets.length - 1
    val cd = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      var d = 0.0; var k = 0
      while (k < dim) {
        val t = x(k) - coarse(c * dim + k); d += t * t; k += 1
      }
      cd(c) = d; c += 1
    }
    val w = math.min(wprobe, nc)
    val taken = new Array[Boolean](nc)
    var bestId = -1
    var bestD = Double.MaxValue
    var p = 0
    while (p < w) {
      var pc = -1; var pd = Double.MaxValue
      c = 0
      while (c < nc) {
        if (!taken(c) && cd(c) < pd) { pd = cd(c); pc = c }
        c += 1
      }
      // NaN input (a NaN element poisons every coarse distance, so no
      // candidate satisfies cd(c) < pd): stop probing instead of
      // indexing taken(-1) — the sentinel fallback below keeps the
      // expression total like KMeansModel.transform is (ADVICE r11)
      if (pc < 0) { p = w }
      else {
        taken(pc) = true
        var j = offsets(pc)
        while (j < offsets(pc + 1)) {
          var d = 0.0; var k = 0
          while (k < dim) {
            val t = x(k) - fine(j * dim + k); d += t * t; k += 1
          }
          if (d < bestD || (d == bestD && ids(j) < bestId)) {
            bestD = d; bestId = ids(j)
          }
          j += 1
        }
        p += 1
      }
    }
    // all-NaN distances leave bestId untouched; assign the first fine
    // cell deterministically rather than emitting an id no cell owns
    if (bestId < 0) ids(0) else bestId
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val coarseRef = ctx.addReferenceObj("tlaCoarse", coarse, "double[]")
      val fineRef = ctx.addReferenceObj("tlaFine", fine, "double[]")
      val offRef = ctx.addReferenceObj("tlaOffsets", offsets, "int[]")
      val idsRef = ctx.addReferenceObj("tlaIds", ids, "int[]")
      val acc = if (elemIsFloat) s"(double) $a.getFloat" else s"$a.getDouble"
      val nc = offsets.length - 1
      val x = ctx.freshName("x")
      val cd = ctx.freshName("cd")
      val taken = ctx.freshName("taken")
      val bestId = ctx.freshName("bestId")
      val bestD = ctx.freshName("bestD")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val pc = ctx.freshName("pc")
      val pd = ctx.freshName("pd")
      s"""
         |if ($a.numElements() != $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $x[$i] = $a.isNullAt($i) ? 0.0 : $acc($i);
         |  }
         |  double[] $cd = new double[$nc];
         |  for (int $c = 0; $c < $nc; $c++) {
         |    double $d = 0.0;
         |    for (int $k = 0; $k < $dim; $k++) {
         |      final double $t = $x[$k] - $coarseRef[$c * $dim + $k];
         |      $d += $t * $t;
         |    }
         |    $cd[$c] = $d;
         |  }
         |  boolean[] $taken = new boolean[$nc];
         |  int $bestId = -1;
         |  double $bestD = Double.MAX_VALUE;
         |  for (int $p = 0; $p < ${math.min(wprobe, nc)}; $p++) {
         |    int $pc = -1;
         |    double $pd = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $nc; $c++) {
         |      if (!$taken[$c] && $cd[$c] < $pd) { $pd = $cd[$c]; $pc = $c; }
         |    }
         |    // NaN input: every coarse distance is NaN, no candidate
         |    // wins the scan — stop probing (sentinel below applies)
         |    if ($pc < 0) break;
         |    $taken[$pc] = true;
         |    for (int $j = $offRef[$pc]; $j < $offRef[$pc + 1]; $j++) {
         |      double $d = 0.0;
         |      for (int $k = 0; $k < $dim; $k++) {
         |        final double $t = $x[$k] - $fineRef[$j * $dim + $k];
         |        $d += $t * $t;
         |      }
         |      if ($d < $bestD || ($d == $bestD && $idsRef[$j] < $bestId)) {
         |        $bestD = $d; $bestId = $idsRef[$j];
         |      }
         |    }
         |  }
         |  ${ev.value} = $bestId < 0 ? $idsRef[0] : $bestId;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SignBuckets {
  /** Flat (table, plane, dim)-major Gaussian planes; table t draws from
    * `Random(seed + t)` in the exact order `Ann.hyperplanes` fills, so
    * the two definitions can never drift.
    */
  def flatPlanes(dim: Int, nPlanes: Int, tables: Int, seed: Long): Array[Double] = {
    val out = new Array[Double](tables * nPlanes * dim)
    var t = 0
    while (t < tables) {
      val rnd = new java.util.Random(seed + t)
      var p = 0
      while (p < nPlanes) {
        var i = 0
        while (i < dim) {
          out((t * nPlanes + p) * dim + i) = rnd.nextGaussian()
          i += 1
        }
        p += 1
      }
      t += 1
    }
    out
  }
}

/** Vector math over ArrayType(FloatType) embedding columns. The dot
  * product is the native [[DotProduct]] expression (registered as
  * `graft_dot` by [[VectorFunctions.register]]); derived forms are plain
  * column arithmetic, so the whole similarity pipeline stays deterministic
  * and oracle-comparable (sequential per-row folds, IEEE doubles).
  */
object VectorFunctions {

  /** Idempotent session registration of `graft_dot`. Every caller that
    * builds columns through [[dot]] must register first (the query
    * builders and [[graft.operators.Ann]] do).
    */
  def register(spark: SparkSession): Unit = {
    HashFunctions.define(spark, "graft_dot")(exprs => DotProduct(exprs(0), exprs(1)))
    HashFunctions.define(spark, "graft_sign_buckets")(
      exprs => SignBuckets(exprs.head,
        nPlanes = HashFunctions.intArg("graft_sign_buckets", exprs(1)),
        tables = HashFunctions.intArg("graft_sign_buckets", exprs(2)),
        seed = HashFunctions.longArg("graft_sign_buckets", exprs(3)),
        dim = HashFunctions.intArg("graft_sign_buckets", exprs(4))))
    HashFunctions.define(spark, "graft_pq_encode")(
      exprs => PqEncode(exprs.head,
        codebooks = doubleArrayArg("graft_pq_encode", exprs(1)),
        m = HashFunctions.intArg("graft_pq_encode", exprs(2)),
        ksub = HashFunctions.intArg("graft_pq_encode", exprs(3)),
        dsub = HashFunctions.intArg("graft_pq_encode", exprs(4))))
    HashFunctions.define(spark, "graft_pq_lut")(
      exprs => PqLut(exprs.head,
        codebooks = doubleArrayArg("graft_pq_lut", exprs(1)),
        m = HashFunctions.intArg("graft_pq_lut", exprs(2)),
        ksub = HashFunctions.intArg("graft_pq_lut", exprs(3)),
        dsub = HashFunctions.intArg("graft_pq_lut", exprs(4))))
    HashFunctions.define(spark, "graft_pq_adc")(
      exprs => PqAdc(exprs(0), exprs(1),
        ksub = HashFunctions.intArg("graft_pq_adc", exprs(2))))
    HashFunctions.define(spark, "graft_matvec")(
      exprs => MatVec(exprs.head,
        mat = doubleArrayArg("graft_matvec", exprs(1)),
        dim = HashFunctions.intArg("graft_matvec", exprs(2))))
    HashFunctions.define(spark, "graft_two_level_assign")(
      exprs => TwoLevelAssign(exprs.head,
        coarse = doubleArrayArg("graft_two_level_assign", exprs(1)),
        fine = doubleArrayArg("graft_two_level_assign", exprs(2)),
        offsets = intArrayArg("graft_two_level_assign", exprs(3)),
        ids = intArrayArg("graft_two_level_assign", exprs(4)),
        dim = HashFunctions.intArg("graft_two_level_assign", exprs(5)),
        wprobe = HashFunctions.intArg("graft_two_level_assign", exprs(6))))
  }

  /** Foldable ARRAY<numeric> argument evaluated once at plan-build time
    * (codebooks ride into the expressions as one referenced double[],
    * never per-row) — the same analysis-time strictness as
    * [[HashFunctions.intArg]].
    */
  private[graft] def doubleArrayArg(fn: String, e: Expression): Array[Double] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn requires a literal array argument, got: ${e.sql}")
    e.eval() match {
      case a: ArrayData => a.toObjectArray(
        e.dataType.asInstanceOf[ArrayType].elementType)
        .map(_.asInstanceOf[Number].doubleValue())
      case other => throw new IllegalArgumentException(
        s"$fn requires an array literal argument, got: $other")
    }
  }

  /** Foldable ARRAY<int> argument, plan-time (see [[doubleArrayArg]]). */
  private[graft] def intArrayArg(fn: String, e: Expression): Array[Int] =
    doubleArrayArg(fn, e).map(_.toInt)

  /** Dense y = M·x (see [[MatVec]]); `mat` row-major dim×dim. */
  def matVec(x: Column, mat: Array[Double], dim: Int): Column =
    call_function("graft_matvec", x, typedLit(mat.toSeq), lit(dim))

  /** Two-level nearest-centroid cell id (see [[TwoLevelAssign]]). */
  def twoLevelAssign(emb: Column, coarse: Array[Double],
      fine: Array[Double], offsets: Array[Int], ids: Array[Int],
      dim: Int, wprobe: Int): Column =
    call_function("graft_two_level_assign", emb,
      typedLit(coarse.toSeq), typedLit(fine.toSeq),
      typedLit(offsets.toSeq), typedLit(ids.toSeq), lit(dim), lit(wprobe))

  /** All `tables` LSH sign-buckets at once (see [[SignBuckets]]). */
  def signBuckets(
      emb: Column, nPlanes: Int, tables: Int, seed: Long, dim: Int): Column =
    call_function("graft_sign_buckets", emb,
      lit(nPlanes), lit(tables), lit(seed), lit(dim))

  /** PQ code array of a residual (see [[PqEncode]]). */
  def pqEncode(residual: Column, codebooks: Array[Double],
      m: Int, ksub: Int, dsub: Int): Column =
    call_function("graft_pq_encode", residual,
      typedLit(codebooks.toSeq), lit(m), lit(ksub), lit(dsub))

  /** Per-query ADC lookup table (see [[PqLut]]). */
  def pqLut(qEmb: Column, codebooks: Array[Double],
      m: Int, ksub: Int, dsub: Int): Column =
    call_function("graft_pq_lut", qEmb,
      typedLit(codebooks.toSeq), lit(m), lit(ksub), lit(dsub))

  /** ADC approximate dot from a code array + a [[PqLut]] array. */
  def pqAdc(code: Column, lut: Column, ksub: Int): Column =
    call_function("graft_pq_adc", code, lut, lit(ksub))

  /** Σ aᵢ·bᵢ as double (elements cast up before multiplying). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Σ aᵢ² as double. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity written exactly as dot/(√Σa²·√Σb²) — the same
    * operation order as the declared oracle arithmetic (SURVEY §2B Q23),
    * so both engines produce the identical IEEE double.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Cosine from a precomputed squared-norm pair (per-row norms computed
    * once, not per candidate pair — the O(n·k) → O(n²) saving that matters
    * on the brute-force path).
    */
  def cosineWithNorms(dotAb: Column, normSqA: Column, normSqB: Column): Column =
    dotAb / (sqrt(normSqA) * sqrt(normSqB))
}
