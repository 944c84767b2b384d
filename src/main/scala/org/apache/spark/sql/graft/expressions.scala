/*
 * Native Catalyst expressions for graft's similarity/dedup hot paths, plus the
 * Column <-> Expression bridge. Lives under org.apache.spark.sql because the
 * pieces a performance-minded extension needs (`ExpressionUtils`,
 * `AbstractDataType` for ExpectsInputTypes) are private[sql] — this is the
 * standard pattern used by public Spark extension libraries.
 */
package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{aggregate, BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column <-> catalyst Expression bridge for graft code outside this package. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/**
 * Cosine similarity between two `array<float>` columns, computed in double
 * precision, fully inside whole-stage codegen (no boxing, no UDF — a Scala UDF
 * here would box every float, which matters when scoring 10^11 vectors).
 * Zero-norm inputs yield 0.0; unequal lengths compare over the common prefix.
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Cosine similarity between an int8-quantized vector (`array<tinyint>`, the
 * [[graft.ops.Similarity.quantizeInt8]] storage form) and a float query —
 * the hot loop of brute-force ANN over a quantized corpus. Cosine is
 * scale-invariant, so the per-vector quantization scale never loads; the
 * scan reads a quarter of the float32 bytes and the loop stays inside
 * whole-stage codegen (a HOF cast here would interpret per element).
 * Zero-norm inputs yield 0.0; unequal lengths compare the common prefix.
 */
case class CosineSimilarityInt8(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_int8"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getByte($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Cosine similarity between TWO int8-quantized vectors — the all-pairs
 * inner loop of semantic dedup, where both sides of the pair join are the
 * stored `array<tinyint>` form. Arithmetic is bit-identical to
 * [[CosineSimilarityInt8]] over a float-cast right side (byte → double is
 * exact either way), but skips the per-PAIR array materialization the cast
 * would pay: an O(cell²) pair pass evaluates this expression millions of
 * times per cell, so the avoided allocation is the difference between a
 * byte-read loop and a GC storm. Zero-norm inputs yield 0.0; unequal
 * lengths compare the common prefix.
 */
case class CosineSimilarityInt8Pair(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ByteType), ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim_int8_pair"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toDouble
      val y = b.getByte(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getByte($i);
         |  double $y = (double) $b.getByte($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Hamming distance between two 64-bit SimHash signatures: `popcount(a ^ b)`.
 * One XOR + one POPCNT instruction under codegen — the inner loop of SimHash
 * near-dup join verification.
 */
case class HammingDistance64(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType, LongType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming64"

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.bitCount(l.asInstanceOf[Long] ^ r.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * The key→file router of `graft.store.KeyedStore.mergeIndexed`: index of the
 * unique sorted range `[los(i), his(i)]` containing the child key; a key in
 * no range routes to its gap `g` (gap 0 below the first range, gap `i`
 * between ranges `i-1` and `i`, gap `n` above the last) as `-(g + 1)`. Null
 * keys sort first, so they route to gap 0 (-1), never null. Replaces
 * the round-13 Scala UDF (a per-row `BigDecimal(string)` parse with boxed
 * comparisons that blocked whole-stage codegen — the serialization wall on a
 * billion-row mutation batch). Typed variants keep the comparison exact in
 * the key's own value space; bounds are ascending and non-overlapping (the
 * writeIndexed layout invariant), so the binary search routes exactly —
 * exactness is load-bearing here: a boundary mis-route would upsert a key
 * into a file that does not hold its current row, leaving a duplicate.
 */
abstract class RangeBucketSearch extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  protected def size: Int
  /** `los(i) <= k` and `k <= his(i)` for the interpreted path. */
  protected def loLe(i: Int, k: Any): Boolean
  protected def leHi(k: Any, i: Int): Boolean
  /** Java type of the key and of one bound, and the bound arrays' class. */
  protected def javaType: String
  protected def arrayClass: String
  protected def bounds: (AnyRef, AnyRef)
  /** Java expression for `a <= b` over two values of [[javaType]]. */
  protected def leCode(a: String, b: String): String

  override def eval(input: InternalRow): Any = {
    val k = child.eval(input)
    if (k == null) -1
    else {
      var lo = 0; var hi = size - 1; var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (loLe(mid, k)) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found >= 0 && leHi(k, found)) found else -(found + 2)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val losRef = ctx.addReferenceObj("los", bounds._1, arrayClass)
    val hisRef = ctx.addReferenceObj("his", bounds._2, arrayClass)
    val lo = ctx.freshName("lo"); val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid"); val found = ctx.freshName("found")
    val k = ctx.freshName("k")
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} = -1;
      if (!${c.isNull}) {
        $javaType $k = ${c.value};
        int $lo = 0; int $hi = $losRef.length - 1; int $found = -1;
        while ($lo <= $hi) {
          int $mid = ($lo + $hi) >>> 1;
          if (${leCode(s"$losRef[$mid]", k)}) { $found = $mid; $lo = $mid + 1; }
          else $hi = $mid - 1;
        }
        ${ev.value} = ($found >= 0 && ${leCode(k, s"$hisRef[$found]")}) ? $found : -($found + 2);
      }""", isNull = FalseLiteral)
  }
}

case class RangeBucketSearchLong(child: Expression,
    los: Array[Long], his: Array[Long]) extends RangeBucketSearch {
  override def prettyName: String = "range_bucket_long"
  protected def size: Int = los.length
  protected def loLe(i: Int, k: Any): Boolean = los(i) <= k.asInstanceOf[Long]
  protected def leHi(k: Any, i: Int): Boolean = k.asInstanceOf[Long] <= his(i)
  protected def javaType: String = "long"
  protected def arrayClass: String = "long[]"
  protected def bounds: (AnyRef, AnyRef) = (los, his)
  protected def leCode(a: String, b: String): String = s"$a <= $b"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class RangeBucketSearchDouble(child: Expression,
    los: Array[Double], his: Array[Double]) extends RangeBucketSearch {
  override def prettyName: String = "range_bucket_double"
  protected def size: Int = los.length
  protected def loLe(i: Int, k: Any): Boolean = los(i) <= k.asInstanceOf[Double]
  protected def leHi(k: Any, i: Int): Boolean = k.asInstanceOf[Double] <= his(i)
  protected def javaType: String = "double"
  protected def arrayClass: String = "double[]"
  protected def bounds: (AnyRef, AnyRef) = (los, his)
  protected def leCode(a: String, b: String): String = s"$a <= $b"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class RangeBucketSearchString(child: Expression,
    los: Array[UTF8String], his: Array[UTF8String])
    extends RangeBucketSearch {
  override def prettyName: String = "range_bucket_string"
  protected def size: Int = los.length
  protected def loLe(i: Int, k: Any): Boolean = los(i).compareTo(k.asInstanceOf[UTF8String]) <= 0
  protected def leHi(k: Any, i: Int): Boolean = k.asInstanceOf[UTF8String].compareTo(his(i)) <= 0
  protected def javaType: String = "org.apache.spark.unsafe.types.UTF8String"
  protected def arrayClass: String = "org.apache.spark.unsafe.types.UTF8String[]"
  protected def bounds: (AnyRef, AnyRef) = (los, his)
  protected def leCode(a: String, b: String): String = s"$a.compareTo($b) <= 0"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Decimal-keyed router (round 15 — the last key type off the Scala-UDF
  * fallback): bounds are [[Decimal]]s carrying the index's exact unscaled
  * values; comparison is `Decimal.compareTo` (BigDecimal-exact across
  * scales), in the key's own value space like every sibling variant. */
case class RangeBucketSearchDecimal(child: Expression,
    los: Array[Decimal], his: Array[Decimal])
    extends RangeBucketSearch {
  override def prettyName: String = "range_bucket_decimal"
  protected def size: Int = los.length
  protected def loLe(i: Int, k: Any): Boolean = los(i).compareTo(k.asInstanceOf[Decimal]) <= 0
  protected def leHi(k: Any, i: Int): Boolean = k.asInstanceOf[Decimal].compareTo(his(i)) <= 0
  protected def javaType: String = "org.apache.spark.sql.types.Decimal"
  protected def arrayClass: String = "org.apache.spark.sql.types.Decimal[]"
  protected def bounds: (AnyRef, AnyRef) = (los, his)
  protected def leCode(a: String, b: String): String = s"$a.compareTo($b) <= 0"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Per-qualifier SUM over a `map<k, numeric>` column — the map half of
 * `graft.store.KeyedStore.increment`'s batch pre-sum — as ONE aggregate that
 * combines map-side: a group's buffer holds one running sum per qualifier,
 * never the group's raw maps, so a hot key costs work linear in its deltas
 * and memory in its distinct qualifiers on both sides of the shuffle.
 *
 * A qualifier sums like SQL SUM: its non-null values, in SUM's result type
 * (long for integral values, double for floating ones, decimal(p + 10, s)),
 * and null only when every value is null. Null maps add nothing, so a group
 * of only null maps sums to the empty map. An overflow fails the query, as
 * SUM does under ANSI mode.
 */
case class MapValueSum(child: Expression, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends aggregate.TypedImperativeAggregate[MapValueSum.Buffer]
    with UnaryLike[Expression] {
  private def mapType: MapType = child.dataType.asInstanceOf[MapType]
  @transient private lazy val num = NumericSum(mapType.valueType)
  override def dataType: DataType =
    MapType(mapType.keyType, NumericSum(mapType.valueType).sumType, valueContainsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "map_value_sum"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(_, _: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs map<k, numeric>, not $t")
  }

  /** Folds one qualifier's (non-copied) value into the buffer. */
  private def add(buf: MapValueSum.Buffer, q: Any, v: Any): Unit = {
    val prev = buf.get(q)
    if (prev == null) buf.put(q, v)
    else if (v != null) buf.put(q, num.plus(prev, v))
  }
  private def fold(buf: MapValueSum.Buffer, m: MapData, valueType: DataType,
      in: Any => Any): MapValueSum.Buffer = {
    val ks = m.keyArray(); val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      val v = if (vs.isNullAt(i)) null else in(InternalRow.copyValue(vs.get(i, valueType)))
      add(buf, InternalRow.copyValue(ks.get(i, mapType.keyType)), v)
      i += 1
    }
    buf
  }

  override def createAggregationBuffer(): MapValueSum.Buffer = new java.util.HashMap()
  override def update(buf: MapValueSum.Buffer, input: InternalRow): MapValueSum.Buffer = {
    val m = child.eval(input)
    if (m == null) buf else fold(buf, m.asInstanceOf[MapData], mapType.valueType, num.widen)
  }
  override def merge(buf: MapValueSum.Buffer,
      other: MapValueSum.Buffer): MapValueSum.Buffer = {
    other.forEach((q, v) => add(buf, q, v))
    buf
  }
  override def eval(buf: MapValueSum.Buffer): Any = {
    val (ks, vs) = buf.asScala.toArray.unzip
    new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
  }
  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](dataType))
  override def serialize(buf: MapValueSum.Buffer): Array[Byte] =
    projection(InternalRow(eval(buf))).getBytes
  override def deserialize(bytes: Array[Byte]): MapValueSum.Buffer = {
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    fold(createAggregationBuffer(), row.getMap(0), num.sumType, identity)
  }

  override def withNewMutableAggBufferOffset(o: Int): MapValueSum = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MapValueSum = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): MapValueSum =
    copy(child = newChild)
}

object MapValueSum {
  /** Qualifier → its running sum, or null while every value seen was null. */
  type Buffer = java.util.HashMap[Any, Any]
}

/**
 * SQL SUM's arithmetic over values of one numeric type: the result type
 * (long for integral values, double for floating ones, decimal(p + 10, s)),
 * an input value widened to it, and an addition that fails on overflow, as
 * SUM does under ANSI mode. Shared by [[MapValueSum]] and the merge fold's
 * increment pre-sum ([[MergeFold]]).
 */
final case class NumericSum(valueType: DataType) {
  def sumType: DataType = valueType match {
    case d: DecimalType => DecimalType.bounded(d.precision + 10, d.scale)
    case _: IntegralType => LongType
    case _: NumericType => DoubleType
    case t => throw new IllegalArgumentException(s"a sum needs a numeric type, not $t")
  }
  /** An input value in [[sumType]]. */
  val widen: Any => Any = valueType match {
    case ByteType => v => v.asInstanceOf[Byte].toLong
    case ShortType => v => v.asInstanceOf[Short].toLong
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case _ => identity
  }
  val plus: (Any, Any) => Any = sumType match {
    case LongType => (a, b) => Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType => (a, b) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case DecimalType.Fixed(p, s) => (a, b) => {
      val d = a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal]
      if (!d.changePrecision(p, s))
        throw new ArithmeticException(s"a sum overflows decimal($p, $s)")
      d
    }
  }
}
