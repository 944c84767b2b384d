package graft.store

import scala.collection.mutable
import org.apache.spark.sql.DataFrame

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
 * Everything stays distributed: a batch is a set of DataFrames, the merge is a
 * set of key-partitioned joins. An empty put routes nowhere and counts 0, as
 * the reference skips it (OpBase.scala:69) — without a job to find out.
 */
final class MutationBatch private (
    private val deletes: mutable.Buffer[DataFrame],
    private val familyDeletes: mutable.Buffer[(DataFrame, String)],
    private val qualifierDeletes: mutable.Buffer[(DataFrame, String, Seq[Any])],
    private val puts: mutable.Buffer[DataFrame],
    private val increments: mutable.Buffer[DataFrame],
    val keyCol: String) {

  def put(rows: DataFrame): MutationBatch = { puts += rows; this }

  def delete(keys: DataFrame): MutationBatch = { deletes += keys; this }

  def deleteFamily(keys: DataFrame, famCol: String): MutationBatch = {
    familyDeletes += ((keys, famCol)); this
  }

  def deleteQualifiers(keys: DataFrame, famCol: String, quals: Seq[Any]): MutationBatch = {
    qualifierDeletes += ((keys, famCol, quals)); this
  }

  def increment(deltas: DataFrame): MutationBatch = { increments += deltas; this }

  /** Combine two batches — the reference's `+` op-chain combinator (OpBase.scala:85-96). */
  def ++(other: MutationBatch): MutationBatch = {
    deletes ++= other.deletes
    familyDeletes ++= other.familyDeletes
    qualifierDeletes ++= other.qualifierDeletes
    puts ++= other.puts
    increments ++= other.increments
    this
  }

  private def deleteKeys: Seq[DataFrame] =
    deletes.toSeq ++ familyDeletes.map(_._1) ++ qualifierDeletes.map(_._1)

  /** The batch's merge: deletes → puts → increments over `current`. */
  private def plan(current: DataFrame): DataFrame = {
    var df = current
    deletes.foreach(k => df = KeyedStore.deleteRows(df, k, keyCol))
    familyDeletes.foreach { case (k, fam) => df = KeyedStore.deleteFamily(df, k, fam, keyCol) }
    qualifierDeletes.foreach { case (k, fam, qs) =>
      df = KeyedStore.deleteQualifiers(df, k, fam, qs, keyCol)
    }
    puts.foreach(p => df = KeyedStore.upsert(df, p, keyCol))
    increments.foreach(d => df = KeyedStore.increment(df, d, keyCol))
    df
  }

  /** Apply the batch: deletes → puts → increments. Returns (merged, accounting). */
  def execute(current: DataFrame): (DataFrame, KeyedStore.OpsResult) =
    (plan(current), KeyedStore.OpsResult(deleteKeys.map(_.count()).sum,
      puts.map(_.count()).sum, increments.map(_.count()).sum))

  /**
   * Apply the batch to an INDEXED store path (written by
   * `KeyedStore.writeIndexed`) as one mutation — the region-routed form of
   * [[execute]], with the same result. One routed pass over the union of
   * every op's keys finds the files whose key range holds a batch key, the
   * gaps that receive inserts, and the per-kind row counts; only those
   * files are read, merged under [[execute]]'s plan and rewritten, and one
   * fenced index commit publishes the result (see `KeyedStore.mergeIndexed`
   * for the output-file rule and the crash contract).
   *
   * A crash or a lost commit race leaves the pre-batch snapshot whole, and
   * the undo window (`KeyedStore.readKeyedPrevious`) holds the pre-batch
   * snapshot too — never a half-applied batch. The table lives on disk, so
   * only the accounting is returned.
   */
  def executeIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String): KeyedStore.OpsResult = {
    import KeyedStore.{DeleteKind, IncrementKind, PutKind}
    val keys = deleteKeys.map(k => k -> DeleteKind) ++
      puts.map(p => p.select(keyCol) -> PutKind) ++
      increments.map(d => d.select(keyCol) -> IncrementKind)
    val n = KeyedStore.mergeIndexed(spark, path, keyCol, keys)(plan)
    KeyedStore.OpsResult(n(DeleteKind), n(PutKind), n(IncrementKind))
  }
}

object MutationBatch {
  def apply(keyCol: String = "key"): MutationBatch =
    new MutationBatch(mutable.Buffer.empty, mutable.Buffer.empty, mutable.Buffer.empty,
      mutable.Buffer.empty, mutable.Buffer.empty, keyCol)
}
