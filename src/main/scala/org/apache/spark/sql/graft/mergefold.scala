package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, BindReferences, BoundReference, Cast, Expression, GenericInternalRow, JoinedRow, Literal, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The keyed mutation merge as ONE per-key fold — the Spark form of HBase
 * applying a batch's op chain once per row, inside the region that owns the
 * row (reference OpBase.scala:22-114, HbaseTable.scala:373-423).
 *
 * The current rows and every op's rows are tagged `(kind, ordinal)` and
 * unioned; ONE exchange (on the key, or on the output slot of an indexed
 * rewrite) brings every row of a key to one task, a sort orders them by
 * (key, kind, ordinal), and a streaming fold applies, per key,
 * deletes → family deletes → qualifier deletes → puts (in batch order) →
 * increments (in batch order), emitting rows in key order. No join, and
 * the current rows cross the shuffle once.
 *
 * Per-key semantics (each step a Catalyst projection, so types, casts and
 * ANSI overflow are Spark's own):
 *  - delete: the key's row is gone; a later put or increment re-creates it.
 *    A delete never creates a row; family/qualifier deletes touch only an
 *    existing row (the column → null; the named map keys dropped).
 *  - put: new over old — `coalesce(new, old)` per scalar column and per
 *    struct field, `map_concat(old, new)` with LAST_WIN per map column; a
 *    null or missing put column leaves the old value.
 *  - increment: each op's delta rows for the key are pre-summed as SQL SUM
 *    (scalars) and [[MapValueSum]] (maps: per qualifier, null only when all
 *    its deltas are), then applied as `coalesce(old, 0) + delta`, per map
 *    qualifier through `map_zip_with`. An overflow fails the batch. As the
 *    full outer join of the reference algebra did, an increment also sets
 *    every null cell of its scalar columns to 0 in each row the merge reads
 *    that it does not name.
 *  Any other row passes through unchanged.
 */
object MergeFold {

  /** One op of a batch. Deletes key on their first column; puts and
    * increments on the key column by name. */
  sealed trait Op { def rows: DataFrame }
  final case class Delete(rows: DataFrame) extends Op
  final case class DeleteFamily(rows: DataFrame, family: String) extends Op
  final case class DeleteQualifiers(rows: DataFrame, family: String,
      qualifiers: Seq[Any]) extends Op
  final case class Put(rows: DataFrame) extends Op
  final case class Increment(rows: DataFrame) extends Op

  // row kinds, in the order the fold applies them to a key
  private val CurrentKind = 0
  private val DeleteKind = 1
  private val FamilyKind = 2
  private val QualifiersKind = 3
  private val PutKind = 4
  private val IncrementKind = 5

  private def kindOf(op: Op): Int = op match {
    case _: Delete => DeleteKind
    case _: DeleteFamily => FamilyKind
    case _: DeleteQualifiers => QualifiersKind
    case _: Put => PutKind
    case _: Increment => IncrementKind
  }

  /**
   * `ops` applied to `current` (schema kept; rows in key order within each
   * partition). `slots` = (n, slot of column `keyCol`): rows go to n
   * partitions by a hash of the slot — null for a key no output file takes,
   * which only a delete may carry (it then has nothing to delete) — else
   * they are hash-partitioned on the key.
   */
  def apply(current: DataFrame, keyCol: String, ops: Seq[Op],
      slots: Option[(Int, Column)]): DataFrame = {
    if (ops.isEmpty) return current
    val spark = current.sparkSession.asInstanceOf[classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(Planner))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ Planner
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN") // "new cell value wins"
    val schema = current.schema
    val names = schema.fieldNames.toSeq
    val keyIdx = schema.fieldIndex(keyCol)
    val keyDt = schema(keyIdx).dataType
    def nul(t: DataType): Column = lit(null).cast(t)
    // per-kind ordinals: a kind's ops apply in batch order
    val ordinals = ops.indices.map(i => ops.take(i).count(kindOf(_) == kindOf(ops(i))))
    // each increment's delta columns that `current` carries, summed in the
    // fold: a delta of its column's own type rides in that column, any
    // other in a payload column of its own
    val incs = ops.collect { case Increment(d) => d }
    val deltas = incs.map(_.schema.fields.toSeq.filter(f => f.name != keyCol && names.contains(f.name)))
    deltas.flatten.foreach(f => f.dataType match {
      case MapType(_, _: NumericType, _) | _: NumericType => ()
      case t => throw new IllegalArgumentException(s"increment: column ${f.name} is $t, not numeric")
    })
    val payload = deltas.zipWithIndex.flatMap { case (fs, j) =>
      fs.map { f =>
        val t = schema(f.name).dataType
        if (t.asNullable == f.dataType.asNullable) (j, StructField(f.name, t), f.name)
        else (j, f, s"__inc${j}_${f.name}")
      }
    }
    val extra = payload.filterNot(p => names.contains(p._3))
    def tagged(df: DataFrame, kind: Int, ord: Int, key: Column,
        value: String => Option[Column] = _ => None): DataFrame = {
      val t = df.select(names.map(c =>
          (if (c == keyCol) key.cast(keyDt)
           else value(c).getOrElse(nul(schema(c).dataType))).as(c)) ++
        Seq(lit(kind).as("__kind"), lit(ord).as("__ord")) ++
        extra.map { case (_, f, p) => value(p).getOrElse(nul(f.dataType)).as(p) }: _*)
      slots.fold(t) { case (_, slot) =>
        // a delete of a key no output file takes has nothing to delete
        if (kind >= DeleteKind && kind <= QualifiersKind)
          t.withColumn("__slot", slot).where(col("__slot").isNotNull)
        else t.withColumn("__slot", coalesce(slot, raise_error(
          concat(lit("merge: a row routes to no output slot: "), col(keyCol).cast("string")))))
      }
    }
    val currentRows =
      tagged(current, CurrentKind, 0, col(keyCol), c => Option.when(names.contains(c))(col(c)))
    val union = (currentRows +:
      ops.zip(ordinals).map {
        case (Put(rows), i) =>
          tagged(rows, PutKind, i, col(keyCol), c =>
            if (rows.columns.contains(c)) Some(col(c).cast(schema(c).dataType)) else None)
        case (Increment(rows), j) =>
          tagged(rows, IncrementKind, j, col(keyCol), c =>
            payload.collectFirst { case (`j`, f, `c`) => col(f.name).cast(f.dataType) })
        case (op, i) => tagged(op.rows, kindOf(op), i, col(op.rows.columns.head))
      }).reduce(_ union _)
    val input = slots.fold(union.repartition(col(keyCol))) { case (n, _) =>
      union.repartition(n, col("__slot"))
    }
    val child = input.queryExecution.analyzed
    val stateTypes = schema.fields.toSeq.map(_.dataType)
    // a step maps JoinedRow(state, right) to the key's next state
    def step(right: Seq[DataType])(
        f: (Int => Column, Int => Column) => Seq[Column]): Seq[Expression] =
      resolve(spark, stateTypes, right, names, f)
    val putStep = if (!ops.exists(_.isInstanceOf[Put])) Nil else step(child.output.map(_.dataType)) { (o, n) =>
      names.indices.map { i =>
        if (i == keyIdx) coalesce(o(i), n(i))
        else stateTypes(i) match {
          case _: MapType =>
            when(o(i).isNull, n(i)).when(n(i).isNull, o(i)).otherwise(map_concat(o(i), n(i)))
          case st: StructType =>
            when(o(i).isNull && n(i).isNull, nul(st)).otherwise(struct(st.fields.toSeq.map(f =>
              coalesce(n(i).getField(f.name), o(i).getField(f.name)).as(f.name)): _*))
          case _ => coalesce(n(i), o(i))
        }
      }
    }
    val qualifierSteps = ops.collect { case DeleteQualifiers(_, fam, qs) =>
      val quals = array(qs.map(lit): _*)
      step(Nil) { (o, _) =>
        names.indices.map(i => if (names(i) != fam) o(i)
          else map_filter(o(i), (q, _) => !array_contains(quals, q)))
      }
    }
    val incSteps = deltas.map { fs =>
      val sums = fs.map(f => f.dataType match {
        case MapType(kt, vt, _) => MapType(kt, NumericSum(vt).sumType, valueContainsNull = true)
        case t => NumericSum(t).sumType
      })
      val byName = fs.map(_.name).zipWithIndex.toMap
      step(keyDt +: sums) { (o, n) =>
        names.indices.map { i =>
          if (i == keyIdx) coalesce(o(i), n(0))
          else byName.get(names(i)).fold(o(i)) { d =>
            fs(d).dataType match {
              case MapType(kt, vt, _) =>
                val s = n(d + 1).cast(MapType(kt, vt, valueContainsNull = true)).cast(stateTypes(i))
                when(o(i).isNull, s).when(s.isNull, o(i)).otherwise(map_zip_with(o(i), s,
                  (_, v1, v2) => coalesce(v1, lit(0)) + coalesce(v2, lit(0))))
              case _ => coalesce(o(i), lit(0)) + coalesce(n(d + 1), lit(0))
            }
          }
        }
      }
    }
    val spec = Spec(keyIdx, keyDt, child.output.indexWhere(_.name == "__kind"), stateTypes,
      families = ops.collect { case DeleteFamily(_, fam) => schema.fieldIndex(fam) },
      zeroFills = deltas.map(_.collect { case f if !f.dataType.isInstanceOf[MapType] =>
        val i = schema.fieldIndex(f.name)
        i -> Cast(Literal(0), stateTypes(i)).eval()
      }),
      qualifierSteps, putStep,
      incSteps = incSteps.indices.map { j =>
        (payload.collect { case (`j`, f, p) => child.output.indexWhere(_.name == p) -> f.dataType },
          incSteps(j))
      })
    classic.Dataset.ofRows(spark, Node(spec, child.output.take(names.length), child.output, child))
  }

  /** `f(o, n)` analyzed over a left row of `left` types and a right row of
    * `right` types, cast to `left` (the state's schema) and bound to the
    * ordinals of `JoinedRow(left, right)`. */
  private def resolve(spark: classic.SparkSession, left: Seq[DataType], right: Seq[DataType],
      names: Seq[String], f: (Int => Column, Int => Column) => Seq[Column]): Seq[Expression] = {
    val attrs = left.indices.map(i => AttributeReference(s"o$i", left(i))()) ++
      right.indices.map(i => AttributeReference(s"n$i", right(i))())
    val cols = f(i => col(s"o$i"), i => col(s"n$i")).zip(names).map { case (c, n) => c.as(n) }
    val project = classic.Dataset.ofRows(spark, LocalRelation(attrs))
      .select(cols: _*).queryExecution.analyzed.asInstanceOf[Project]
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    project.projectList.zip(left).map { case (e, t) =>
      val bound = BindReferences.bindReference(e: Expression, attrs)
      if (bound.dataType.asNullable == t.asNullable) bound
      else Alias(Cast(bound.asInstanceOf[Alias].child, t, tz), e.name)()
    }
  }

  /** Everything a task needs to fold: row layout and bound step projections. */
  private final case class Spec(keyIdx: Int, keyType: DataType, kindIdx: Int,
      stateTypes: Seq[DataType], families: Seq[Int], zeroFills: Seq[Seq[(Int, Any)]],
      qualifierSteps: Seq[Seq[Expression]], putStep: Seq[Expression],
      incSteps: Seq[(Seq[(Int, DataType)], Seq[Expression])])

  private case class Node(spec: Spec, output: Seq[Attribute], input: Seq[Attribute],
      child: LogicalPlan) extends UnaryNode {
    // `input` lists every child column as a reference, so column pruning
    // keeps the kind, ordinal and payload columns the fold reads
    override def nodeName: String = "MergeFold"
    override protected def stringArgs: Iterator[Any] = Iterator(output)
    override protected def withNewChildInternal(c: LogicalPlan): Node = copy(child = c)
  }

  private case class Exec(spec: Spec, output: Seq[Attribute], child: SparkPlan)
      extends UnaryExecNode {
    override def requiredChildOrdering: Seq[Seq[SortOrder]] =
      Seq(Seq(spec.keyIdx, spec.kindIdx, spec.kindIdx + 1)
        .map(i => SortOrder(child.output(i), Ascending)))
    override def outputOrdering: Seq[SortOrder] =
      Seq(SortOrder(output(spec.keyIdx), Ascending))
    override def outputPartitioning: Partitioning = child.outputPartitioning match {
      case p: Expression if p.references.subsetOf(outputSet) => p.asInstanceOf[Partitioning]
      case p => UnknownPartitioning(p.numPartitions)
    }
    override protected def doExecute(): RDD[InternalRow] = {
      val s = spec
      child.execute().mapPartitionsInternal(rows => new Fold(s, rows))
    }
    override def nodeName: String = "MergeFold"
    override protected def stringArgs: Iterator[Any] = Iterator(output)
    override protected def withNewChildInternal(c: SparkPlan): Exec = copy(child = c)
  }

  private object Planner extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Node(spec, output, _, child) => Exec(spec, output, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** The streaming fold over rows sorted by (key, kind, ordinal): one
    * group per key, states (the key's rows; more than one only when the
    * current rows repeat a key) updated op by op, emitted at the group's end. */
  private final class Fold(spec: Spec, in: Iterator[InternalRow]) extends Iterator[InternalRow] {
    private def refs(types: Seq[DataType]) =
      types.indices.map(i => BoundReference(i, types(i), nullable = true))
    private val currentRow = UnsafeProjection.create(refs(spec.stateTypes))
    private lazy val put = UnsafeProjection.create(spec.putStep)
    private val qualifiers = spec.qualifierSteps.map(UnsafeProjection.create)
    private val incs = spec.incSteps.map { case (pay, st) =>
      val sums = pay.map { case (i, t) => t match {
        case mt: MapType => Left(MapValueSum(BoundReference(i, mt, nullable = true)))
        case _ => Right(NumericSum(t))
      }}
      (sums: Seq[Either[MapValueSum, NumericSum]], UnsafeProjection.create(st))
    }
    private val keyOf = UnsafeProjection.create(
      Seq(BoundReference(spec.keyIdx, spec.keyType, nullable = true)))
    private val sameKey = GenerateOrdering.generate(
      Seq(SortOrder(BoundReference(0, spec.keyType, nullable = true), Ascending)))
    private val absent = new GenericInternalRow(spec.stateTypes.length)
    private val joined = new JoinedRow
    private val kindIdx = spec.kindIdx
    // the open group: its key, its states (the key's rows; more than one
    // only when the current rows repeat a key) and the increment op being
    // pre-summed
    private var key: UnsafeRow = null
    private val states = ArrayBuffer.empty[UnsafeRow]
    private var sums: Sums = null
    private var nextInc = 0 // the first increment op not yet applied to the open group
    private var out: Iterator[InternalRow] = Iterator.empty

    override def hasNext: Boolean = {
      while (!out.hasNext && (key != null || in.hasNext)) {
        var closed = false
        while (!closed && in.hasNext) {
          val r = in.next()
          val k = keyOf(r)
          if (key != null && sameKey.compare(k, key) != 0) { out = close(); closed = true }
          if (key == null) key = k.copy()
          apply(r)
        }
        if (!closed) out = close()
      }
      out.hasNext
    }
    override def next(): InternalRow = { hasNext; out.next() }

    /** Ends the open group: its rows, in the order they were created. */
    private def close(): Iterator[InternalRow] = {
      flushSums()
      zeroFillUpTo(incs.length)
      nextInc = 0
      val rows = states.toArray[InternalRow]
      states.clear()
      key = null
      rows.iterator
    }

    private def step(p: UnsafeProjection, right: InternalRow): Unit =
      if (states.isEmpty) states += p(joined(absent, right)).copy()
      else states.mapInPlace(s => p(joined(s, right)).copy())

    private def flushSums(): Unit =
      if (sums != null) { step(incs(sums.ord)._2, sums.row); nextInc = sums.ord + 1; sums = null }

    /** Increment ops before `j` that do not name the open group's key:
      * `coalesce(old, 0) + 0` on their scalar columns — null becomes 0,
      * and -0.0 becomes 0.0, as the addition does. */
    private def zeroFillUpTo(j: Int): Unit = {
      while (nextInc < j) {
        for (s <- states; (i, zero) <- spec.zeroFills(nextInc)) spec.stateTypes(i) match {
          case _ if s.isNullAt(i) => setZero(s, i, zero)
          case DoubleType if s.getDouble(i) == 0.0 => s.setDouble(i, 0.0)
          case FloatType if s.getFloat(i) == 0.0f => s.setFloat(i, 0.0f)
          case _ =>
        }
        nextInc += 1
      }
    }

    private def setZero(s: UnsafeRow, i: Int, zero: Any): Unit = spec.stateTypes(i) match {
      case LongType => s.setLong(i, 0L)
      case IntegerType => s.setInt(i, 0)
      case ShortType => s.setShort(i, 0)
      case ByteType => s.setByte(i, 0)
      case DoubleType => s.setDouble(i, 0.0)
      case FloatType => s.setFloat(i, 0.0f)
      case d: DecimalType => s.setDecimal(i, zero.asInstanceOf[Decimal], d.precision)
      case t => throw new IllegalArgumentException(s"increment: cannot add to a $t column")
    }

    private def apply(r: InternalRow): Unit = {
      val kind = r.getInt(kindIdx)
      val ord = r.getInt(kindIdx + 1)
      if (sums != null && (kind != IncrementKind || ord != sums.ord)) flushSums()
      kind match {
        case CurrentKind => states += currentRow(r).copy()
        case DeleteKind => states.clear()
        case FamilyKind => states.foreach(_.setNullAt(spec.families(ord)))
        case QualifiersKind => states.mapInPlace(s => qualifiers(ord)(s).copy())
        case PutKind => step(put, r)
        case IncrementKind =>
          if (sums == null) { zeroFillUpTo(ord); sums = new Sums(ord, r) }
          sums.add(r)
      }
    }

    /** One increment op's deltas for one key, summed as SUM / MapValueSum. */
    private final class Sums(val ord: Int, first: InternalRow) {
      private val key = InternalRow.copyValue(first.get(spec.keyIdx, spec.keyType))
      private val aggs = incs(ord)._1
      private val pay = spec.incSteps(ord)._1
      private val acc: Array[Any] = aggs.map {
        case Left(agg) => agg.createAggregationBuffer()
        case Right(_) => null
      }.toArray
      def add(r: InternalRow): Unit = aggs.indices.foreach { i =>
        aggs(i) match {
          case Left(agg) => agg.update(acc(i).asInstanceOf[MapValueSum.Buffer], r)
          case Right(num) =>
            val (idx, t) = pay(i)
            if (!r.isNullAt(idx)) {
              val v = num.widen(InternalRow.copyValue(r.get(idx, t)))
              acc(i) = if (acc(i) == null) v else num.plus(acc(i), v)
            }
        }
      }
      def row: InternalRow = new GenericInternalRow((key +: aggs.indices.map { i =>
        aggs(i) match {
          case Left(agg) => agg.eval(acc(i).asInstanceOf[MapValueSum.Buffer])
          case Right(_) => acc(i)
        }
      }).toArray)
    }
  }
}
