package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType, StructType}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot primitives (SURVEY.md §3).
  *
  * The higher-order-function formulations (aggregate/zip_with/transform) are
  * correct but sit outside whole-stage codegen and pay per-element lambda
  * dispatch. These expressions generate tight Java loops instead, while
  * keeping the exact same evaluation order (sequential left fold) so results
  * stay bit-identical to the portable SQL oracles.
  */

/** Dot product of two array<double> columns: sequential fold
  * sum += a(i)*b(i), i ascending — identical IEEE order to
  * VectorFunctions.dot and the DuckDB list_reduce oracle.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> inputs (VectorFunctions widens floats)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance of two array<double> columns: sequential fold
  * acc += (a(i)-b(i))², i ascending — identical IEEE order to the
  * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, acc + z)` HOF
  * chain it replaces (the ADC hot loop: every PQ code assignment and
  * every probed-candidate score runs through this) and to the DuckDB
  * list_reduce oracle.
  */
case class ArraySqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> inputs (VectorFunctions widens floats)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sqdist"

  // HOF-exact null contract (not min-length like an innocuous dot):
  // `aggregate(zip_with(a, b, (x,y)->(x-y)²), 0D, +)` returns NULL for
  // length-mismatched arrays (zip_with pads with null) and for any null
  // element — a corrupt 63-element embedding must surface as NULL
  // (ordered last, visibly wrong), never as a truncated partial distance
  // silently competing in code assignment or ADC ranking.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val t = x.getDouble(i) - y.getDouble(i)
      acc += t * t
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $t = $a.getDouble($i) - $b.getDouble($i);
         |    $acc += $t * $t;
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Polynomial rolling hash over a string's UTF-16 code units:
  * acc = (acc*31 + c) % 1e9+7 — identical to TextFunctions.charHash (and
  * the DuckDB ascii() fold) for BMP text.
  */
case class CharHash(child: Expression) extends UnaryExpression {

  // callers guarantee a string input
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_charhash"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31 + s.charAt(i)) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |java.lang.String $s = $c.toString();
         |long $acc = 0L;
         |for (int $i = 0; $i < $s.length(); $i++) {
         |  $acc = ($acc * 31 + $s.charAt($i)) % 1000000007L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_overlap(a, b)` — intersection size of two ASCENDING-sorted
  * array<long> columns via a linear merge walk: the verification step of
  * the prefix-filtered similarity join (candidates carry their sorted
  * shingle sets; exact overlap is O(|a|+|b|) with no per-element hashing).
  * Callers guarantee sorted, duplicate-free inputs (array_sort over the
  * distinct shingle set).
  */
object SetKernels {
  def overlap(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }
}

case class SortedOverlap(left: Expression, right: Expression)
    extends BinaryExpression {
  // callers guarantee sorted array<long> inputs
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_overlap"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SetKernels.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.SetKernels.overlap($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass int8 scalar-quantization kernel: symmetric max-abs scaling, the
  * standard storage compaction for embedding columns. Arithmetic is a fixed
  * IEEE chain (scale = maxabs/127; q = floor(x/scale + 0.5); err = x - q*scale;
  * sse accumulated in ascending index order) so the DuckDB list_reduce oracle
  * reproduces it bit-for-bit. A zero vector has no defined scale and
  * quantizes to all-zeros with zero error.
  */
object QuantKernels {
  /** Returns (sse, max_abs_err, n_saturated) for one vector. */
  def q8Stats(v: ArrayData): InternalRow = {
    val n = v.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(v.getDouble(i))
      if (a > maxabs) maxabs = a
      i += 1
    }
    if (maxabs == 0.0) return new GenericInternalRow(Array[Any](0.0, 0.0, 0L))
    val scale = maxabs / 127.0
    var sse = 0.0
    var maxerr = 0.0
    var nsat = 0L
    i = 0
    while (i < n) {
      val x = v.getDouble(i)
      val q = math.floor(x / scale + 0.5)
      val err = x - q * scale
      sse += err * err
      val ae = math.abs(err)
      if (ae > maxerr) maxerr = ae
      if (q >= 127.0 || q <= -127.0) nsat += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](sse, maxerr, nsat))
  }
}

/** `graft_q8_stats(array<double>)` — int8-quantization reconstruction stats
  * as struct(sse double, max_abs_err double, n_saturated bigint).
  */
case class Int8QuantStats(child: Expression) extends UnaryExpression {
  // callers guarantee an array<double> input (VectorFunctions widens floats)
  override def dataType: DataType = new StructType()
    .add("sse", DoubleType, nullable = false)
    .add("max_abs_err", DoubleType, nullable = false)
    .add("n_saturated", LongType, nullable = false)
  override def prettyName: String = "graft_q8_stats"

  override protected def nullSafeEval(input: Any): Any =
    QuantKernels.q8Stats(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.QuantKernels.q8Stats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Blocked Bloom-filter kernel over 8-byte keys (Bloom 1970; double
  * hashing per Kirsch–Mitzenmacher 2006: g_i = h1 + i·h2 probes a single
  * bit array). The membership pre-filter for benchmark-bounded probe
  * indexes: ~`bitsPerKey` BITS per key where a broadcast hash relation
  * costs ~50 bytes/entry, so an index that no longer fits executor memory
  * as a join build still fits as a Bloom bitset — false positives are
  * killed by a (now tiny) exact verify join, false negatives are
  * structurally impossible. Mixing is splitmix64's public finalizer
  * constants; everything is deterministic, and consumers never expose
  * bloom-dependent values (outputs are exact-verified), so no oracle ever
  * sees the sketch.
  */
object BloomKernels {
  /** splitmix64 finalizer — full-avalanche 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Bit-array words for n keys at `bitsPerKey` bits/key (≥ 64 bits). */
  def sizedWords(n: Long, bitsPerKey: Int): Int = {
    require(n >= 0 && bitsPerKey > 0, s"bad bloom sizing: n=$n bpk=$bitsPerKey")
    val bits = math.max(64L, n * bitsPerKey)
    ((bits + 63) / 64).toInt
  }

  /** Hash-function count minimizing fp at a given fill: k ≈ bpk·ln2. */
  def numHashes(bitsPerKey: Int): Int =
    math.max(1, math.round(bitsPerKey * math.log(2.0)).toInt)

  private def probe(key: Long, i: Int, mBits: Long): Long = {
    val h1 = mix(key)
    val h2 = mix(key ^ 0x9e3779b97f4a7c15L) | 1L
    java.lang.Long.remainderUnsigned(h1 + i.toLong * h2, mBits)
  }

  def add(bits: Array[Long], k: Int, key: Long): Unit = {
    val m = bits.length.toLong * 64L
    var i = 0
    while (i < k) {
      val b = probe(key, i, m)
      bits((b >>> 6).toInt) |= 1L << (b & 63L)
      i += 1
    }
  }

  def contains(bits: Array[Long], k: Int, key: Long): Boolean = {
    val m = bits.length.toLong * 64L
    var i = 0
    while (i < k) {
      val b = probe(key, i, m)
      if ((bits((b >>> 6).toInt) & (1L << (b & 63L))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `graft_bloom_contains(bits, k, key)` — Bloom membership probe of a
  * long key against a LITERAL array<long> bitset (the bounded side's
  * sketch, baked into the plan like any broadcast-scale literal). bits
  * and k must be foldable: the bitset is extracted ONCE at codegen/first
  * eval and referenced per row — the generated loop touches only the
  * key.
  */
case class BloomMightContain(bits: Expression, numHash: Expression, key: Expression)
    extends TernaryExpression {

  override def first: Expression = bits
  override def second: Expression = numHash
  override def third: Expression = key
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  @transient private lazy val bitsArr: Array[Long] = {
    require(bits.foldable, "graft_bloom_contains: bits must be a literal")
    bits.eval(null).asInstanceOf[ArrayData].toLongArray()
  }
  @transient private lazy val kHash: Int = {
    require(numHash.foldable, "graft_bloom_contains: k must be a literal")
    numHash.eval(null).asInstanceOf[Int]
  }

  override protected def nullSafeEval(b: Any, k: Any, keyV: Any): Any =
    BloomKernels.contains(bitsArr, kHash, keyV.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBits", bitsArr, "long[]")
    nullSafeCodeGen(ctx, ev, (_, _, keyCode) =>
      s"${ev.value} = graft.plans.BloomKernels.contains($ref, $kHash, $keyCode);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(bits = newFirst, numHash = newSecond, key = newThird)
}

/** Session extension registering the native functions so they resolve by
  * name (`call_function("graft_dot", ...)` or SQL `graft_dot(a, b)`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => ArrayDotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[ArraySqDist].getName, "graft_sqdist"),
      (children: Seq[Expression]) => ArraySqDist(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_charhash"),
      new ExpressionInfo(classOf[CharHash].getName, "graft_charhash"),
      (children: Seq[Expression]) => CharHash(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles"),
      (children: Seq[Expression]) => ShingleSet(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinHashSignature(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashFingerprint].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHashFingerprint(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_doc_pairs"),
      new ExpressionInfo(classOf[DocPairGen].getName, "graft_doc_pairs"),
      (children: Seq[Expression]) => DocPairGen(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_q8_stats"),
      new ExpressionInfo(classOf[Int8QuantStats].getName, "graft_q8_stats"),
      (children: Seq[Expression]) => Int8QuantStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (children: Seq[Expression]) => BloomMightContain(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "graft_overlap"),
      (children: Seq[Expression]) => SortedOverlap(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKAggregate].getName, "graft_topk"),
      (children: Seq[Expression]) =>
        TopKAggregate(children(0), children(1), children(2), children(3))))
    // interval-overlap theta join -> binned equi-join (fires only when
    // spark.graft.rangeJoin.binWidth is set positive)
    ext.injectOptimizerRule(_ => RangeJoinRule)
    // a global sort of a result under one advisory partition sorts in one
    // partition: no range-bounds sampling job (AQE plans only)
    ext.injectQueryStagePrepRule(_ => SmallSortRule)
  }
}
