package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, TextOps}
import graft.query.GQuery
import graft.store.KeyedStore

/**
 * The seeded corpus generator. Every document is a member of a planted
 * group: the group's base text (`Words` words from a `Vocab`-word
 * vocabulary) with at most one word replaced. Two members of one group
 * share at least `Words - 8` of their `Words - 2` word 3-shingles
 * (pairwise Jaccard ≥ 72/84 ≈ 0.857 for 80 words, above the 0.8
 * threshold); documents of different groups share almost none.
 */
final class Corpus(seed: Long) {
  val Vocab = 4000
  val Words = 80
  private val rng = new Rng(seed).fork(3)
  val vocab: IndexedSeq[String] = {
    val cons = "bcdfghjklmnprstvwxyz"
    val vows = "aeiou"
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < Vocab)
      out += (0 until 2 + rng.nextInt(2)).map { _ =>
        s"${cons(rng.nextInt(cons.length))}${vows(rng.nextInt(vows.length))}"
      }.mkString
    out.toIndexedSeq
  }
  private var nextId = 1L
  val groupOf = mutable.HashMap.empty[Long, Long]
  private val groupBase = mutable.HashMap.empty[Long, Array[Int]]
  /** Live documents: id → tokens (in id order). */
  val live = mutable.TreeMap.empty[Long, Array[String]]

  private def emit(group: Long, words: Array[Int]): (Long, String) = {
    val id = nextId
    nextId += 1
    groupOf(id) = group
    val toks = words.map(vocab)
    live(id) = toks
    id -> toks.mkString(" ")
  }

  /** A document that starts a new group (it is that group's base). */
  def fresh(): (Long, String) = {
    val words = Array.fill(Words)(rng.nextInt(Vocab))
    val group = nextId
    groupBase(group) = words
    emit(group, words)
  }

  /** A near-duplicate: the group's base with one word replaced. */
  def variant(group: Long): (Long, String) = {
    val words = groupBase(group).clone()
    words(rng.nextInt(Words)) = rng.nextInt(Vocab)
    emit(group, words)
  }

  def groups: IndexedSeq[Long] = groupBase.keys.toIndexedSeq.sorted

  /** The base corpus: about a quarter of documents join an earlier group. */
  def base(n: Int): Seq[(Long, String)] = Seq.fill(n) {
    if (groupBase.nonEmpty && rng.nextInt(4) == 0) variant(groups(rng.nextInt(groups.size)))
    else fresh()
  }

  /** One day's batch: fresh documents, near-duplicates of earlier days'
    * documents, and new groups whose members all arrive in this batch. */
  def day(fresh: Int, ofEarlier: Int, newGroups: Int, perGroup: Int): Seq[(Long, String)] = {
    val earlier = groups
    Seq.fill(fresh)(this.fresh()) ++
      Seq.fill(ofEarlier)(variant(earlier(rng.nextInt(earlier.size)))) ++
      Seq.fill(newGroups) {
        val first = this.fresh()
        first +: Seq.fill(perGroup - 1)(variant(first._1))
      }.flatten
  }

  /** Takedown picks: `reps` representatives of clustered groups (forcing
    * re-election) plus `others` random live documents. */
  def takedown(reps: Int, others: Int): Seq[Long] = {
    val clustered = Checks.expectedClusters(live.keys, groupOf).values.toSeq.distinct.sorted
    val picked = mutable.LinkedHashSet.empty[Long]
    val ids = live.keys.toIndexedSeq
    while (picked.size < math.min(reps, clustered.size)) picked += clustered(rng.nextInt(clustered.size))
    while (picked.size < math.min(reps, clustered.size) + others) picked += ids(rng.nextInt(ids.size))
    picked.foreach(live.remove)
    picked.toSeq
  }

  def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
  def terms(n: Int): Seq[String] = Seq.fill(n)(vocab(rng.nextInt(Vocab))).distinct
  def coin(): Boolean = rng.nextInt(2) == 0
}

/**
 * `ingest`: the LLM corpus daily loop. Set-up builds the base corpus's
 * pair table, cluster table and BM25 index; each round ingests two days,
 * one epoch each (`appendPairs` → `appendToClusters` on the day's pairs →
 * `appendBm25Index`, all tagged with the day's batch id), answers BM25
 * probes and cluster-table gets, and runs a takedown
 * (`removeFromClusters` lazily, `removeFromBm25Index`, then
 * `compactBm25Index` and `compactPairs`).
 */
final class Ingest(spark: SparkSession, seed: Long, dir: String) extends Workload {
  val BaseDocs = 1500
  val TopK = 10
  // BM25 term buckets: a leaf per bucket, so the per-leaf commit cost of
  // every append/remove scales with it; 4 suits a corpus of this size
  val Buckets = 4
  // one round: two days' epochs, 4 gets, 7 probes, a takedown. Two epochs,
  // so write_ms is a median of two in a one-round run; 7 probes, because a
  // probe's 3 terms fall in 1 to 3 of the 4 buckets and its cost follows
  val plan: Seq[String] = Seq("w", "g", "q", "q", "g", "q", "q", "w", "q", "g", "q", "q", "g", "m")

  val pairs = s"$dir/pairs"
  val clusters = s"$dir/clusters"
  val bm25 = s"$dir/bm25"
  def tableDirs: Seq[String] = Seq(pairs, clusters, bm25)
  def keyedDirs: Seq[String] = Seq(clusters)
  private val corpus = new Corpus(seed)
  private var day = 0 // batch ids must differ per epoch: a repeated id is a retry
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(ds: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(ds.map { case (i, t) => Row(i, t) }.asJava, DocSchema)

  def setup(): Unit = {
    val base = docs(corpus.base(BaseDocs))
    Probe.files("dedup.write_pairs", Seq(pairs))(Dedup.writePairs(base, "doc_id", "text", pairs))
    Probe.keyed(spark, "dedup.write_clusters", clusters)(Dedup.writeClusters(spark, pairs, clusters))
    Probe.files("textops.bm25_write", Seq(bm25))(TextOps.writeBm25Index(base, "doc_id", "text", bm25, nBuckets = Buckets))
  }

  private def expected: Map[Long, Long] = Checks.expectedClusters(corpus.live.keys, corpus.groupOf)

  private def clusterErrs(): Seq[String] = {
    val got = KeyedStore.readKeyed(spark, clusters, "doc_id").select("doc_id", "rep").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val want = expected
    val gotMap = got.toMap
    val errs = Checks.same("cluster rows", got.length, want.size) ++
      (gotMap.keySet ++ want.keySet).toSeq.sorted.flatMap { id =>
        Checks.same(s"cluster rep of doc $id", gotMap.get(id), want.get(id))
      }
    errs.take(20)
  }

  def epoch(rec: Recorder): Unit = {
    val batch = corpus.day(fresh = 40, ofEarlier = 10, newGroups = 5, perGroup = 3)
    val lo = batch.map(_._1).min
    val df = docs(batch)
    day += 1
    val tag = Some(s"day-$day")
    rec.op(Kind.Write) {
      Probe.files("dedup.append_pairs", Seq(pairs)) {
        Dedup.appendPairs(df, "doc_id", "text", pairs, batchId = tag)
      }
      Probe.keyed(spark, "dedup.append_clusters", clusters) {
        Dedup.appendToClusters(spark, clusters,
          Dedup.readPairs(spark, pairs).where(col("id_b") >= lo))
      }
      Probe.files("textops.bm25_append", Seq(bm25)) {
        TextOps.appendBm25Index(df, "doc_id", "text", bm25, nBuckets = Buckets, batchId = tag)
      }
    }(_ => clusterErrs())
  }

  def takedown(rec: Recorder): Unit = {
    val ids = corpus.takedown(reps = 3, others = 2)
    val idDf = spark.createDataFrame(ids.map(i => Row(i)).asJava,
      StructType(Seq(StructField("id", LongType))))
    rec.op(Kind.Maint) {
      Probe.keyed(spark, "dedup.remove_clusters", clusters) {
        Dedup.removeFromClusters(spark, clusters, pairs, idDf, purgePairs = false)
      }
      Probe.files("textops.bm25_remove", Seq(bm25))(TextOps.removeFromBm25Index(spark, bm25, idDf))
      Probe.files("textops.bm25_compact", Seq(bm25))(TextOps.compactBm25Index(spark, bm25))
      Probe.files("dedup.compact_pairs", Seq(pairs))(Dedup.compactPairs(spark, pairs))
    }(_ => clusterErrs())
  }

  def probe(rec: Recorder): Unit = {
    val terms = corpus.terms(3)
    rec.op(Kind.Query) {
      Probe.collect("textops.bm25_probe")(TextOps.bm25TopKFromIndex(spark, bm25, terms, TopK, nBuckets = Buckets))
    } { rows =>
      val got = rows.toSeq.map(r => r.getLong(0) -> r.getDouble(2))
      Checks.topK(got, Checks.bm25(corpus.live, terms), TopK)
    }
  }

  def get(rec: Recorder): Unit = {
    val want = expected
    val id =
      if (want.nonEmpty && corpus.coin()) corpus.pick(want.keys.toIndexedSeq.sorted)
      else corpus.pick(corpus.live.keys.toIndexedSeq)
    rec.op(Kind.Get) {
      Probe.collect("query.get") {
        GQuery(KeyedStore.readKeyed(spark, clusters, "doc_id"), keyCol = "doc_id").withKey(id).toDF
      }
    } { rows =>
      Checks.same(s"cluster row of doc $id",
        rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rep")).toSeq,
        want.get(id).map(id -> _).toSeq)
    }
  }

  def op(code: String, r: Int, rec: Recorder): Unit = code match {
    case "w" => epoch(rec)
    case "g" => get(rec)
    case "q" => probe(rec)
    case "m" => takedown(rec)
  }

  def finalCheck(): Seq[String] = clusterErrs()
}
