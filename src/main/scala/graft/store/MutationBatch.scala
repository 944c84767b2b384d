package graft.store

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.MergeFold

/**
 * Fluent, chainable mutation batch — analogue of the reference's `OpBase` chain
 * (`put(..).value(..).delete(..).increment(..)` … `execute()`,
 * reference: src/main/scala/com/gravity/hbase/schema/OpBase.scala:22-114; tests
 * ExampleSchema.scala:383-410, WebCrawlSchemaTest.scala:205-231).
 *
 * Ops accumulate as DataFrames and apply in the reference's documented
 * precedence **deletes → puts → increments** (README.markdown:299). `execute`
 * merges them into an in-memory table; `executeIndexed` applies the whole
 * batch to an indexed store path as ONE mutation — one routed pass over every
 * op's keys, one merge plan, one write and one index commit — as HBase routes
 * an op chain once to the regions owning its keys (reference
 * HbaseTable.scala:373-423). `++` merges two batches (the reference's `+`
 * combinator).
 *
 * Everything stays distributed: a batch is a set of DataFrames, and the merge
 * is one per-key fold over the union of the current rows and every op's rows
 * ([[org.apache.spark.sql.graft.MergeFold]]) — one shuffle, no join. An
 * empty put routes nowhere and counts 0, as the reference skips it
 * (OpBase.scala:69) — without a job to find out.
 */
final class MutationBatch private (private val ops: mutable.Buffer[MergeFold.Op],
    val keyCol: String) {

  def put(rows: DataFrame): MutationBatch = { ops += MergeFold.Put(rows); this }

  def delete(keys: DataFrame): MutationBatch = { ops += MergeFold.Delete(keys); this }

  def deleteFamily(keys: DataFrame, famCol: String): MutationBatch = {
    ops += MergeFold.DeleteFamily(keys, famCol); this
  }

  def deleteQualifiers(keys: DataFrame, famCol: String, quals: Seq[Any]): MutationBatch = {
    ops += MergeFold.DeleteQualifiers(keys, famCol, quals); this
  }

  def increment(deltas: DataFrame): MutationBatch = { ops += MergeFold.Increment(deltas); this }

  /** Combine two batches — the reference's `+` op-chain combinator (OpBase.scala:85-96). */
  def ++(other: MutationBatch): MutationBatch = { ops ++= other.ops; this }

  /** The batch's merge over `current`: deletes → puts → increments, shuffled
    * on the key, or on the output slot `slots` gives (see [[MergeFold]]). */
  private[store] def plan(current: DataFrame, slots: Option[(Int, Column)] = None): DataFrame =
    MergeFold(current, keyCol, ops.toSeq, slots)

  /** Each op's key column with its [[KeyedStore.OpsResult]] kind. */
  private def keys: Seq[(DataFrame, Int)] = ops.toSeq.map {
    case MergeFold.Put(rows) => rows.select(keyCol) -> KeyedStore.PutKind
    case MergeFold.Increment(rows) => rows.select(keyCol) -> KeyedStore.IncrementKind
    case op => op.rows -> KeyedStore.DeleteKind
  }

  private def result(n: Array[Long]): KeyedStore.OpsResult = KeyedStore.OpsResult(
    n(KeyedStore.DeleteKind), n(KeyedStore.PutKind), n(KeyedStore.IncrementKind))

  /** Apply the batch: deletes → puts → increments. Returns (merged, accounting);
    * the accounting counts in one pass over every op (none for inputs
    * already in driver memory). */
  def execute(current: DataFrame): (DataFrame, KeyedStore.OpsResult) =
    (plan(current), result(KeyedStore.countKinds(keys)))

  /**
   * Apply the batch to an INDEXED store path (written by
   * `KeyedStore.writeIndexed`) as one mutation — the region-routed form of
   * [[execute]], with the same result. One routed pass over the union of
   * every op's keys finds the files whose key range holds a batch key, the
   * gaps that receive inserts, and the per-kind row counts; only those
   * files are read, folded with the batch on the output-slot shuffle and
   * rewritten, and one fenced index commit publishes the result (see
   * `KeyedStore.mergeIndexed` for the output-file rule and the crash
   * contract).
   *
   * A crash or a lost commit race leaves the pre-batch snapshot whole, and
   * the undo window (`KeyedStore.readKeyedPrevious`) holds the pre-batch
   * snapshot too — never a half-applied batch. The table lives on disk, so
   * only the accounting is returned.
   */
  def executeIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String): KeyedStore.OpsResult =
    result(KeyedStore.mergeIndexed(spark, path, keyCol, keys)(plan))
}

object MutationBatch {
  def apply(keyCol: String = "key"): MutationBatch =
    new MutationBatch(mutable.Buffer.empty, keyCol)
}
