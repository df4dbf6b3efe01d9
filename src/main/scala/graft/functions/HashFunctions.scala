package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Self-contained deterministic 64-bit string hashing used by the sketch
  * expressions. FNV-1a over UTF-8 bytes: stable across JVMs and sessions,
  * no dependency on Spark-internal hash implementations.
  */
object Fnv64 {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= Prime
      i += 1
    }
    h
  }
}

/** MinHash signature of a set of string shingles — a native Catalyst
  * expression (preference order (b) of the build brief: no Scala UDF
  * serialization overhead; interpreted eval via CodegenFallback since the
  * per-row loop dominates anyway).
  *
  * Each of the `k` hash slots applies an affine permutation
  * `a_i * h + b_i` (wrapping 64-bit arithmetic) to the FNV-1a hash of each
  * shingle and keeps the minimum. Coefficients come from
  * `java.util.Random(seed)` whose LCG sequence is specified by the JDK —
  * deterministic everywhere. Input: array<string>; output: array<long> of
  * length k (empty input ⇒ all Long.MaxValue).
  */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  @transient private lazy val coeffs: (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val a = Array.fill(k)(rnd.nextLong() | 1L) // odd ⇒ bijective mod 2^64
    val b = Array.fill(k)(rnd.nextLong())
    (a, b)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val (a, b) = coeffs
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val h = Fnv64.hashBytes(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < k) {
          val v = a(j) * h + b(j)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a text column — tokenize on
  * whitespace, join each n consecutive tokens with a single space, drop
  * duplicates — as ONE native expression. The composable form
  * (`filter(split(...))` → `transform(sequence(...), concat_ws…)` →
  * `array_distinct`) computes the identical value but costs ~40µs per
  * shingle: higher-order lambdas are interpreted per element and each
  * step materializes an intermediate array. This loop is the difference
  * between the near-dup pipeline being shingle-bound or hash-bound.
  * Input: string; output: array<string> (fewer than n tokens ⇒ empty).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      val sb = new java.lang.StringBuilder
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a token bag with an md5-derived per-token hash
  * (first 8 md5 bytes, big-endian) instead of [[Fnv64]] — deliberately,
  * so a SQL oracle can reproduce every bit: bit `j` (LSB numbering) of
  * the token hash is bit `j%4` of hex digit `16 - j/4` of `md5(token)`.
  * Accumulate-sign construction; banding/Hamming operators consume the
  * fingerprint. Input: array<string>; output: long.
  */
case class SimHashMd5(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = java.security.MessageDigest.getInstance("MD5")
    val acc = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        md.reset()
        val d = md.digest(arr.getUTF8String(i).getBytes)
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) fp |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing document fingerprint (the MOSS rolling-hash scheme):
  * character k-grams → per-gram hash → minimum hash of each window of w
  * consecutive grams → sorted distinct selected hashes. Guarantees any
  * shared substring of length ≥ k+w-1 contributes a shared fingerprint.
  *
  * The per-gram hash is the first 16 hex chars of md5 over the gram's
  * UTF-8 bytes — deliberately, so a SQL oracle can mirror the value
  * exactly (`substring(md5(gram), 1, 16)`); lexicographic min on the
  * fixed-width hex = numeric min. Input: string; output: array<string>.
  * Fewer than w grams ⇒ single global-min fingerprint; empty/too-short
  * text ⇒ empty array.
  */
case class WinnowFingerprint(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val nGrams = s.length - k + 1
    if (nGrams <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hashes = new Array[String](nGrams)
      var i = 0
      while (i < nGrams) {
        md.reset()
        val d = md.digest(s.substring(i, i + k)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val sb = new java.lang.StringBuilder(16)
        var b = 0
        while (b < 8) { // 8 bytes = 16 hex chars
          sb.append(Character.forDigit((d(b) >> 4) & 0xf, 16))
          sb.append(Character.forDigit(d(b) & 0xf, 16))
          b += 1
        }
        hashes(i) = sb.toString
        i += 1
      }
      val selected = new java.util.TreeSet[String]()
      val lastWindow = math.max(0, nGrams - w)
      var j = 0
      while (j <= lastWindow) {
        var m = hashes(j)
        var t = j + 1
        val end = math.min(j + w, nGrams)
        while (t < end) { if (hashes(t) < m) m = hashes(t); t += 1 }
        selected.add(m)
        j += 1
      }
      val out = new Array[Any](selected.size)
      val it = selected.iterator()
      var p = 0
      while (it.hasNext) { out(p) = UTF8String.fromString(it.next()); p += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Point-estimate probe against a serialized `CountMinSketch` (the
  * frequency sketch Spark's builtin `count_min_sketch` aggregate
  * produces): `graft_cms_estimate(sketchLit, key)` returns the sketch's
  * count estimate for the key. The sketch side must be foldable (a
  * literal / collected aggregate) — it deserializes ONCE per task via
  * the transient lazy, not per row. Key typing mirrors the aggregate's
  * insert path: StringType probes as a String (UTF-8 bytes), integral
  * types as a Long — anything else would silently probe a different
  * hash stream and return garbage zeros.
  */
case class CmsEstimate(sketchBytes: Expression, child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with CodegenFallback {
  override def left: Expression = sketchBytes
  override def right: Expression = child
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_cms_estimate"

  // the transient-lazy deserialization below evaluates sketchBytes with
  // NO row — a non-foldable sketch argument would fail at executor time
  // with an opaque NPE (or, worse, silently probe one partition's sketch
  // for every row). Mirror BloomFilterMightContain: reject it at
  // analysis time with a usable message (ADVICE r7).
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.trees.TreePattern.OUTER_REFERENCE
    // like BloomFilterMightContain: a foldable value or an UNCORRELATED
    // scalar subquery — both evaluate once, before the main plan runs.
    // The GetStructField form appears when MergeScalarSubqueries fuses
    // sibling subqueries into one struct-returning plan; rejecting it
    // would un-resolve a previously-valid plan mid-optimization.
    val onceEvaluable = sketchBytes match {
      case e if e.foldable => true
      case sub: PlanExpression[_] => !sub.containsPattern(OUTER_REFERENCE)
      case org.apache.spark.sql.catalyst.expressions
          .GetStructField(sub: PlanExpression[_], _, _) =>
        !sub.containsPattern(OUTER_REFERENCE)
      case _ => false
    }
    if (!onceEvaluable)
      TypeCheckResult.TypeCheckFailure(
        "graft_cms_estimate requires a foldable sketch argument (a " +
          "literal, collected aggregate, or uncorrelated scalar " +
          "subquery over a count_min_sketch aggregate), got: " +
          sketchBytes.sql)
    else if (sketchBytes.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_cms_estimate sketch must be BINARY, got " +
          sketchBytes.dataType.simpleString)
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val cms =
    org.apache.spark.util.sketch.CountMinSketch.readFrom(
      sketchBytes.eval().asInstanceOf[Array[Byte]])

  override def nullSafeEval(bytes: Any, key: Any): Any = key match {
    case s: UTF8String => cms.estimateCount(s.toString)
    case i: java.lang.Integer => cms.estimateCount(i.longValue(): java.lang.Long)
    case other => cms.estimateCount(other)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sketchBytes = newLeft, child = newRight)
}

/** Session registration for the sketch expressions. Call `register` once
  * (idempotent), then use `expr("graft_minhash(col)")` /
  * `expr("graft_simhash(col)")` on a named array<string> column, or
  * `expr("graft_shingles(text, 3)")` / `expr("graft_winnow(text, 5, 4)")`
  * on a string column.
  */
object HashFunctions {
  final val MinHashK = 128
  final val Seed = 42L

  /** Coerce a foldable integral function argument. SQL integer literals
    * arrive as Int, `42L` as Long — `asInstanceOf` on either spelling
    * threw ClassCastException for the other (ADVICE r7); go through
    * Number so both work, and fail non-foldable / non-numeric arguments
    * with a message naming the function.
    */
  /** The ONE guarded builder for `graft_bloom_contains` — shared by
    * [[register]] and the `GraftExtensions` SQL injection so both
    * entry points enforce the same contract (ADVICE r13): the bloom
    * operand must be a foldable literal — build the filter first and
    * pass `lit(bytes)`, the shape every production caller uses
    * (Dedup.bloomHitDocs). A scalar-subquery operand makes Spark's
    * BloomFilterMightContain emit uncompilable Java ("java.lang.Long
    * is not an rvalue") and silently fall back to interpreted eval
    * with only a WARN — on the hottest decontamination probe. Refuse
    * that shape loudly instead; PlanAuditSpec pins the codegen
    * contract.
    */
  private[graft] def bloomContainsExpr(
      exprs: Seq[Expression]): Expression = {
    val hasSubquery = exprs.head.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.SubqueryExpression])
    if (hasSubquery) throw new IllegalArgumentException(
      "graft_bloom_contains: the bloom operand must be a literal " +
        "(collect the built filter and pass lit(bytes)); a scalar " +
        "subquery operand silently loses whole-stage codegen on " +
        "the membership probe")
    org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(exprs.head, exprs(1))
  }

  private[graft] def intArg(fn: String, e: Expression): Int =
    numArg(fn, e).intValue()

  private[graft] def longArg(fn: String, e: Expression): Long =
    numArg(fn, e).longValue()

  private def numArg(fn: String, e: Expression): Number = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn requires a literal argument, got: ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn requires an integer literal argument, got: $other")
    }
  }

  /** Registers `name` in the session unless it already holds the name.
    * The query builders call [[register]] and `VectorFunctions.register`
    * on every plan; a replace each time would build nothing new and log a
    * warning per call.
    */
  private[graft] def define(spark: org.apache.spark.sql.SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(
          org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Idempotent session registration of the hash, shingle and sketch
    * functions.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    define(spark, "graft_minhash")(
      exprs => MinHashSignature(exprs.head, k = MinHashK, seed = Seed))
    define(spark, "graft_simhash_md5")(exprs => SimHashMd5(exprs.head))
    define(spark, "graft_shingles")(
      exprs => WordShingles(exprs.head,
        intArg("graft_shingles", exprs(1))))
    define(spark, "graft_winnow")(
      exprs => WinnowFingerprint(exprs.head,
        intArg("graft_winnow", exprs(1)),
        intArg("graft_winnow", exprs(2))))
    // Spark's own runtime-filter machinery, surfaced as SQL functions:
    // graft_bloom_build(xxhash64(key), estNumItemsL) aggregates a
    // serialized bloom filter (binary, fixed size — the same
    // BloomFilterAggregate Catalyst injects for runtime join pruning),
    // and graft_bloom_contains(bloomLit, xxhash64(key)) is the codegen'd
    // membership probe. Both require LongType keys — always feed
    // xxhash64(col). Bloom bit-sets OR idempotently, so the built filter
    // is deterministic regardless of partitioning or row order.
    define(spark, "graft_bloom_build")(
      exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(exprs.head, exprs(1)))
    define(spark, "graft_bloom_contains")(bloomContainsExpr)
    define(spark, "graft_cms_estimate")(
      exprs => CmsEstimate(exprs.head, exprs(1)))
  }

  /** MinHash sketch union as a typed Aggregator: the elementwise minimum
    * of signatures IS the signature of the unioned shingle sets (each
    * slot is a min over the union) — so group-level sketches compose
    * from row-level ones with one partial-aggregating shuffle, never by
    * materializing group shingle sets. Estimated Jaccard between two
    * sketches = fraction of equal slots (±1/√k ≈ 0.09 at k=128).
    */
  object MinHashUnionAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.fill(MinHashK)(Long.MaxValue)
    override def reduce(b: Array[Long], a: Array[Long]): Array[Long] = {
      var i = 0
      while (i < MinHashK) { if (a(i) < b(i)) b(i) = a(i); i += 1 }
      b
    }
    override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
      reduce(b1, b2)
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
}
