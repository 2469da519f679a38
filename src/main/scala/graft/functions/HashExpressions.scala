package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** JIT-friendly kernels for the sketching hot paths. Top-level object →
  * Scala emits static forwarders, so generated code can call
  * `graft.functions.VecKernels.simhash60(arr)` directly. */
object VecKernels {

  /** 60-bit simhash over precomputed 60-bit token hashes: bit k is set
    * iff Σ_tokens (bit k of hash ? +1 : −1) > 0 — the exact rule the
    * DuckDB oracle SQL implements over the same md5-derived hashes. */
  def simhash60(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val counts = new Array[Int](60)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var k = 0
      while (k < 60) {
        if (((h >>> k) & 1L) == 1L) counts(k) += 1 else counts(k) -= 1
        k += 1
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 60) {
      if (counts(k) > 0) sig |= (1L << k)
      k += 1
    }
    sig
  }

  /** Distinct word 3-gram shingles (first-occurrence order). Exists as
    * a kernel because the declarative form — `transform(sequence(...),
    * i -> concat(element_at(toks, i), ...))` — is a Catalyst landmine:
    * when a filter like `size(shingles) > 0` is pushed below the
    * projection, PushDownPredicates INLINES the whole expression, and
    * the interpreted lambda then re-derives `toks` (a full tokenize of
    * the document) for every element_at call — O(|shingles|) extra
    * tokenizations per document per occurrence. One opaque call has
    * nothing to inline per element. */
  def shingles3(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(new Array[Any](0))
    val space = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + 2 < n) {
      seen.add(UTF8String.concat(
        toks.getUTF8String(i), space, toks.getUTF8String(i + 1), space,
        toks.getUTF8String(i + 2)))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](0)))
  }

  /** Distinct XXH64 hashes (Spark's xxhash64 seed, 42) of the word
    * 3-gram shingles, never materializing the shingle strings.
    * Bit-identical to `transform(shingles3(toks), s -> xxhash64(s))`:
    * the hash runs over the same UTF-8 bytes ("t1 t2 t3") via one
    * reusable scratch buffer instead of one UTF8String allocation per
    * 3-gram — the minhash/LSH path only ever consumes the hashes, so
    * the strings were built to be hashed and thrown away. Distinctness
    * over hashes == distinctness over strings modulo 64-bit collisions
    * (~|shingles|²/2⁶⁵ per doc — immaterial, and candidates are
    * exact-verified downstream anyway). */
  def shingles3H64(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    if (n < 3) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var buf = new Array[Byte](128)
    var i = 0
    while (i + 2 < n) {
      val a = toks.getUTF8String(i)
      val b = toks.getUTF8String(i + 1)
      val c = toks.getUTF8String(i + 2)
      // Long arithmetic THEN a bound check: an Int sum of three
      // GB-scale tokens could wrap negative, skip the growth branch,
      // and turn the unsafe writes below into heap corruption — reject
      // instead (the kernel is registered as a general SQL function,
      // so adversarial inputs are in scope).
      val lenL = a.numBytes.toLong + b.numBytes + c.numBytes + 2
      if (lenL > Int.MaxValue - 8)
        throw new IllegalArgumentException(
          s"shingles3_h64: 3-gram of $lenL bytes exceeds the 2 GB array bound")
      val len = lenL.toInt
      // grow by doubling, but never below len
      if (buf.length < len) buf = new Array[Byte](math.max(len, buf.length << 1))
      var off = Platform.BYTE_ARRAY_OFFSET.toLong
      a.writeToMemory(buf, off); off += a.numBytes
      Platform.putByte(buf, off, ' '.toByte); off += 1
      b.writeToMemory(buf, off); off += b.numBytes
      Platform.putByte(buf, off, ' '.toByte); off += 1
      c.writeToMemory(buf, off)
      seen.add(XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** Intersection COUNT of two individually-sorted, duplicate-free
    * long arrays via a single linear merge — no per-row hash-set or
    * result-array allocation, unlike `size(array_intersect(a, b))`,
    * which builds an OpenHashSet AND the materialized intersection
    * array per row just to take its length. The dedup verification
    * path calls this once per candidate pair (hundreds of thousands of
    * rows × hundreds of elements), where the allocation is the cost.
    * Inputs MUST be sorted ascending (callers sort once per document
    * at persist time — sort_array — not once per pair). */
  def interCountSorted(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** 64 minhash values over precomputed shingle hashes; permutation s
    * re-mixes each shingle hash with xxhash64(seed = s). Only the LSH
    * *candidate generation* depends on these values — collisions are
    * exact-verified afterwards — so the mixer choice is free. */
  def minhashSig64(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val sig = new Array[Long](64)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var s = 0
      while (s < 64) {
        val v = XXH64.hashLong(h, s.toLong)
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}

/** `simhash60(array<long>) -> long`. */
case class SimHash60(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash60"

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.simhash60(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.simhash60($a)")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** `shingles3(array<string>) -> array<string>` — distinct word 3-grams. */
case class Shingles3(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles3"

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.shingles3(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.shingles3($a)")

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** `shingles3_h64(array<string>) -> array<long>` — distinct xxhash64
  * values of the word 3-grams, strings never materialized. */
case class Shingles3H64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingles3_h64"

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.shingles3H64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.shingles3H64($a)")

  override protected def withNewChildInternal(newChild: Expression): Shingles3H64 =
    copy(child = newChild)
}

/** `inter_count_sorted(array<long>, array<long>) -> int` — merge-count
  * intersection of two sorted duplicate-free arrays. */
case class InterCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "inter_count_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.interCountSorted(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecKernels.interCountSorted($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): InterCountSorted =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig64(array<long>) -> array<long>` (64 permutations). */
case class MinHashSig64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig64"

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.minhashSig64(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VecKernels.minhashSig64($a)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig64 =
    copy(child = newChild)
}

/** Every graft native function. A session gets them one of two ways:
  * [[graft.GraftSession]] (which calls [[register]]) or
  * `spark.sql.extensions=`[[GraftExtensions]], which injects this same
  * `all` list, so the two deployment paths can never drift apart.
  * [[graft.SparkEntry.queries]] also calls [[register]] on the caller's
  * session; operators never register anything themselves. */
object GraftFunctions {

  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[DotProductFloat],
      (c: Seq[Expression]) => DotProductFloat(c(0), c(1))),
    ("vec_norm", classOf[NormFloat], (c: Seq[Expression]) => NormFloat(c.head)),
    ("simhash60", classOf[SimHash60], (c: Seq[Expression]) => SimHash60(c.head)),
    ("shingles3", classOf[Shingles3], (c: Seq[Expression]) => Shingles3(c.head)),
    ("shingles3_h64", classOf[Shingles3H64],
      (c: Seq[Expression]) => Shingles3H64(c.head)),
    ("inter_count_sorted", classOf[InterCountSorted],
      (c: Seq[Expression]) => InterCountSorted(c(0), c(1))),
    ("minhash_sig64", classOf[MinHashSig64],
      (c: Seq[Expression]) => MinHashSig64(c.head)),
    ("vec_sig128", classOf[HyperplaneSig128],
      (c: Seq[Expression]) => HyperplaneSig128(c.head)),
    ("vec_sig", classOf[HyperplaneSigN],
      (c: Seq[Expression]) => HyperplaneSigN(c(0), c(1))),
    ("tok_stats", classOf[TokStats],
      (c: Seq[Expression]) => TokStats(c(0), c(1))),
    ("tok_counts", classOf[TokCounts],
      (c: Seq[Expression]) => TokCounts(c.head)),
    ("lev_banded", classOf[LevBanded],
      (c: Seq[Expression]) => LevBanded(c(0), c(1), c(2))))

  /** Registers the names from [[all]] that `spark` does not resolve
    * yet. Idempotent: an existing function of the same name (injected by
    * the extensions, registered earlier, or the caller's own) is never
    * replaced. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      all.foreach { case (name, _, builder) =>
        if (!registry.functionExists(FunctionIdentifier(name)))
          registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
    }
  }
}
