package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.ops.Dedup
import graft.store.ManifestTable

/** Pins [[Dedup.appendPairs]]' driver mine to its distributed fallback
  * (the gate forced to 0, as DedupClusterSpec forces the cluster loops):
  * equal pair and postings multisets on seeded corpora — new×new and
  * new×old pairs, a shingle whose combined df crosses `maxDf` and
  * `maxDf = None`, pending tombstones, null ids and null/empty text,
  * bigint, int and string ids, and a retry after the pairs commit. Also
  * pins the fallback for a batch whose pair work is over the gate, the
  * small batch's job and shuffle budget, a zero Jaccard denominator,
  * [[Dedup.boundedCollect]]'s result bound, and [[Dedup.writePairs]]' id
  * type check and null-id rule. */
class DedupPairsSpec extends SparkSpec {
  _quiet

  private type Multiset = Map[Seq[Any], Int]

  private def multiset(df: DataFrame): Multiset =
    df.collect().map(_.toSeq.toVector: Seq[Any]).groupBy(identity)
      .map { case (k, v) => (k: Seq[Any]) -> v.length }

  private def docs(rows: Seq[(Any, String)], idType: DataType): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("id", idType), StructField("text", StringType))))

  /** A fresh pairs layout of `base`: [[Dedup.writePairs]] for bigint ids;
    * for the id types it refuses, the same postings and an empty pair
    * table written directly (the append mine reads only the postings). */
  private def layout(base: DataFrame, maxDf: Option[Int]): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_pairs_eq")
      .toString + "/p"
    val dt = base.schema("id").dataType
    if (dt == LongType)
      Dedup.writePairs(base, "id", "text", path, shingleSize = 2,
        minJaccard = 0.2, maxDf = maxDf)
    else {
      ManifestTable.write(Dedup.hashedShingles(base, "id", "text", 2)
        .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s")),
        path + "/postings")
      ManifestTable.write(spark.createDataFrame(
        java.util.Collections.emptyList[Row](),
        StructType(Seq(StructField("id_a", dt), StructField("n_a", IntegerType),
          StructField("id_b", dt), StructField("n_b", IntegerType),
          StructField("inter", LongType)))), path + "/pairs")
    }
    path
  }

  private def tables(path: String): (Multiset, Multiset) =
    (multiset(ManifestTable.read(spark, path + "/pairs")),
      multiset(ManifestTable.read(spark, path + "/postings")))

  /** Run `append` on a fresh layout of `base` per path — the driver mine
    * under the default gates (asserted to have run), then the fallback
    * with `gate` (asserted NOT to have run the driver mine) — and require
    * equal pair and postings multisets. Returns the driver path's pairs. */
  private def bothPaths(base: DataFrame, maxDf: Option[Int],
      prepare: String => Unit = _ => (), gate: String = "0")(
      append: String => Unit): Multiset = {
    def run(fast: Boolean): (Multiset, Multiset) = {
      val path = layout(base, maxDf)
      prepare(path)
      val before = Dedup.pairMineFastPathRuns.get()
      if (!fast) spark.conf.set("graft.cc.smallGraphEdges", gate)
      try append(path)
      finally spark.conf.unset("graft.cc.smallGraphEdges")
      val ran = Dedup.pairMineFastPathRuns.get() - before
      assert(ran == (if (fast) 1L else 0L),
        s"expected the ${if (fast) "driver" else "distributed"} mine, driver runs: $ran")
      tables(path)
    }
    val (fast, dist) = (run(fast = true), run(fast = false))
    assert(fast._1 == dist._1, s"pairs diverged:\ndriver=${fast._1}\ndistributed=${dist._1}")
    assert(fast._2 == dist._2, "postings diverged")
    fast._1
  }

  private def appendOf(batch: DataFrame, maxDf: Option[Int],
      batchId: Option[String] = None): String => Unit = path =>
    Dedup.appendPairs(batch, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = maxDf, batchId = batchId)

  /** A seeded corpus of near-duplicate groups over a 40-word vocabulary,
    * ids drawn at random so batch ids fall on both sides of stored ones.
    * Words of their own plant one new×old and one new×new near copy.
    * Three stored docs and one batch doc carry the bigram "cap1 cap2":
    * stored df 3, combined df 4 — over a cap of 3 only after the append. */
  private def corpus(seed: Long): (Seq[(Long, String)], Seq[(Long, String)]) = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 40).map(i => s"w$i")
    def fresh(): String =
      Seq.fill(6 + rng.nextInt(5))(vocab(rng.nextInt(vocab.size))).mkString(" ")
    def variant(t: String): String = {
      val ws = t.split(" ")
      ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(vocab.size))
      ws.mkString(" ")
    }
    def grow(n: Int, pool: Vector[String]): Vector[String] =
      (0 until n).foldLeft(Vector.empty[String]) { (acc, _) =>
        val all = pool ++ acc
        acc :+ (if (all.nonEmpty && rng.nextInt(2) == 0)
          variant(all(rng.nextInt(all.size))) else fresh())
      }
    val base = grow(36, Vector.empty) ++ Seq.fill(3)("cap1 cap2 " + fresh()) :+
      "o1 o2 o3 o4 o5 o6"
    val batch = grow(12, base) :+ "o1 o2 o3 o4 o5 o7" :+ "p1 p2 p3 p4 p5 p6" :+
      "p1 p2 p3 p4 p5 p7" :+ ("cap1 cap2 " + fresh())
    val ids = rng.shuffle((1L to 200L).toVector)
    (base.zip(ids).map(_.swap), batch.zip(ids.drop(base.size)).map(_.swap))
  }

  private def newIds(batch: Seq[(Any, String)]): Set[Any] = batch.map(_._1).toSet

  test("driver mine == distributed mine on seeded bigint corpora, capped " +
      "and uncapped: new×new and new×old pairs, a cap crossed by the batch") {
    for (seed <- 1L to 3L; maxDf <- Seq(Some(3), None)) {
      val (base, batch) = corpus(seed)
      val pairs = bothPaths(docs(base, LongType), maxDf)(
        appendOf(docs(batch, LongType), maxDf))
      val fresh = newIds(batch)
      val appended = pairs.keys.filter(p => fresh(p(0)) || fresh(p(2)))
      assert(appended.exists(p => fresh(p(0)) && fresh(p(2))),
        s"seed $seed: no new×new pair")
      assert(appended.exists(p => fresh(p(0)) != fresh(p(2))),
        s"seed $seed: no new×old pair")
    }
    // the planted cap crossing: stored df 3 fits a cap of 3, combined df 4
    // does not, so under the cap the bigram adds no evidence to new pairs
    val (base, batch) = corpus(1L)
    val postings = Dedup.hashedShingles(docs(base ++ batch, LongType), "id", "text", 2)
      .select(explode(col("th")).as("s")).groupBy("s").count()
    assert(postings.where(col("count") === 4L).count() >= 1L)
  }

  test("driver mine == distributed mine with pending tombstones: the batch " +
      "never pairs against a tombstoned stored doc") {
    val (base, batch) = corpus(7L)
    val gone = base.take(12).map(_._1)
    val tombstone: String => Unit = path =>
      Dedup.tombstonePairs(spark, path, spark.createDataFrame(
        gone.map(i => Row(i)).asJava, StructType(Seq(StructField("id", LongType)))))
    val pairs = bothPaths(docs(base, LongType), Some(1000), tombstone)(
      appendOf(docs(batch, LongType), Some(1000)))
    val fresh = newIds(batch)
    assert(!pairs.keys.exists(p => (fresh(p(0)) || fresh(p(2))) &&
      (gone.contains(p(0)) || gone.contains(p(2)))), "a batch doc paired with a ghost")
  }

  test("driver mine == distributed mine on null ids and null, empty and " +
      "blank text") {
    val text = "a normal document with several words"
    val base = Seq[(Any, String)]((10L, text), (11L, ""), (12L, null),
      (13L, "   "), (null, text), (14L, "another plain line of text"))
    val batch = Seq[(Any, String)]((20L, text), (21L, null), (22L, ""),
      (null, text), (null, "another plain line of text"), (23L, text + " too"))
    val pairs = bothPaths(docs(base, LongType), Some(1000))(
      appendOf(docs(batch, LongType), Some(1000)))
    assert(pairs.keys.exists(p => p(0) == 10L && p(2) == 20L), s"$pairs")
    assert(!pairs.keys.exists(p => p(0) == null || p(2) == null ||
      p(0) == 21L || p(2) == 21L), s"null ids and null text never pair: $pairs")
  }

  test("driver mine == distributed mine on int and string ids (string " +
      "order is least()'s UTF-8 order, not Java's UTF-16)") {
    val (base, batch) = corpus(11L)
    def asInt(rows: Seq[(Long, String)]) = rows.map { case (i, t) => (i.toInt: Any, t) }
    bothPaths(docs(asInt(base), IntegerType), Some(1000))(
      appendOf(docs(asInt(batch), IntegerType), Some(1000)))
    // U+1F600 sorts above U+FFFD in UTF-8 but below it in UTF-16
    val smiley = new String(Character.toChars(0x1F600))
    def asStr(rows: Seq[(Long, String)]) = rows.map { case (i, t) =>
      ((if (i % 2 == 0) smiley else "�") + i: Any, t) }
    val pairs = bothPaths(docs(asStr(base), StringType), None)(
      appendOf(docs(asStr(batch), StringType), None))
    assert(pairs.keys.forall(p => org.apache.spark.sql.graft.KeyBounds.utf8Cmp(
      p(0).asInstanceOf[String], p(2).asInstanceOf[String]) < 0))
  }

  test("driver mine == distributed mine across a retry after the pairs " +
      "commit: only the missing postings land") {
    val (base, batch) = corpus(5L)
    val retry: String => Unit = path => {
      val append = appendOf(docs(batch, LongType), Some(1000), Some("b1"))
      append(path)
      val done = tables(path)
      // the crash window: the pairs committed, the postings never landed
      val tok = java.security.MessageDigest.getInstance("MD5")
        .digest("b1".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val gen = new java.io.File(ManifestTable.resolve(spark, path + "/postings"))
      val tagged = gen.listFiles.filter(_.getName.startsWith(s"tag-$tok-"))
      assert(tagged.nonEmpty && tagged.forall(_.delete()))
      val tags = new org.apache.hadoop.fs.Path(path + "/postings", "_TAGS")
      assert(tags.getFileSystem(spark.sessionState.newHadoopConf()).delete(tags, true))
      append(path)
      assert(tables(path) == done, "the retry must land exactly the missing postings")
    }
    // the retry runs no mine at all, so only the first append counts a
    // driver run; the gate-0 layout takes the fallback both times
    bothPaths(docs(base, LongType), Some(1000))(retry)
  }

  test("a batch whose pair work is over the gate takes the distributed " +
      "mine, though its postings fit") {
    val (base, _) = corpus(3L)
    // 8 copies of one 6-word text: 40 batch postings, pair work 5 × 8 × 8
    val batch = (0 until 8).map(i => (300L + i, "q1 q2 q3 q4 q5 q6"))
    val pairs = bothPaths(docs(base, LongType), Some(1000), gate = "100")(
      appendOf(docs(batch, LongType), Some(1000)))
    assert(pairs.keys.count(p => p(0).asInstanceOf[Long] >= 300L) == 28)
  }

  test("a pair whose Jaccard denominator is 0 (a doc's postings stored " +
      "twice) takes the distributed quotient, with the same outcome") {
    val text = "d1 d2 d3 d4 d5"
    val base = docs(Seq((1L, text), (2L, "x1 x2 x3 x4")), LongType)
    // a blind re-run without a batchId stores doc 1's postings twice: the
    // batch copy of its text then shares 8 postings with it, n_a + n_b = 8
    val stored: String => Unit = path =>
      ManifestTable.append(Dedup.hashedShingles(base.where(col("id") === 1L),
          "id", "text", 2)
        .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s")),
        path + "/postings")
    def run(gate: Option[String]): (scala.util.Try[Unit], Option[(Multiset, Multiset)], Long) = {
      val path = layout(base, Some(1000))
      stored(path)
      val before = Dedup.pairMineFastPathRuns.get()
      gate.foreach(spark.conf.set("graft.cc.smallGraphEdges", _))
      val out = try scala.util.Try(
        appendOf(docs(Seq((9L, text)), LongType), Some(1000))(path))
      finally spark.conf.unset("graft.cc.smallGraphEdges")
      (out, out.toOption.map(_ => tables(path)), Dedup.pairMineFastPathRuns.get() - before)
    }
    val (fast, dist) = (run(None), run(Some("0")))
    assert(fast._1.isSuccess == dist._1.isSuccess &&
      fast._1.failed.toOption.map(_.getClass) == dist._1.failed.toOption.map(_.getClass),
      s"outcomes diverged: driver=${fast._1} distributed=${dist._1}")
    assert(fast._2 == dist._2, s"tables diverged:\ndriver=${fast._2}\ndistributed=${dist._2}")
    assert(fast._3 == 0L && dist._3 == 0L, "the driver mine must defer")
  }

  /** Sum of the task result bytes Spark sends the driver while `body` runs,
    * and the number of jobs it starts. */
  private def resultTraffic[T](body: => T): (T, Long, Int) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize): Unit)
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val r = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, bytes.get, jobs.get)
  }

  test("boundedCollect turns away many over-budget partitions without " +
      "sending their rows, and collects a skewed small input whole") {
    val pad = "x" * 200
    // 20 partitions of 2,000 rows of ~200 chars against a 1,000-row gate:
    // every partition is over the whole budget on its own
    val wide = spark.range(0L, 40000L, 1L, 20).select(col("id"), lit(pad).as("pad"))
    spark.conf.set("graft.cc.smallGraphEdges", "1000")
    try {
      val (over, bytes, _) = resultTraffic(Dedup.boundedCollect(wide))
      assert(over.isEmpty)
      // one budget of these rows is ~200 kB; every partition's rows would
      // be ~20× that
      assert(bytes < 200000L, s"$bytes result bytes reached the driver")
      // 900 rows in one of 20 partitions: over that partition's share of
      // the gate, within the gate — a second job re-reads that partition
      val skewed = spark.createDataFrame(spark.sparkContext
        .parallelize(0 until 20, 20)
        .flatMap(p => if (p == 7) (0 until 900).map(i => Row(i.toLong, pad)) else Nil),
        StructType(Seq(StructField("id", LongType), StructField("pad", StringType))))
      val (got, _, jobs) = resultTraffic(Dedup.boundedCollect(skewed))
      assert(got.map(_.map(_.getLong(0)).sorted.toSeq) == Some((0L until 900L).toSeq))
      assert(jobs == 2, s"$jobs jobs")
      // an even spread within every share takes one job
      val even = spark.range(0L, 900L, 1L, 20).select(col("id"), lit(pad).as("pad"))
      val (all, _, oneJob) = resultTraffic(Dedup.boundedCollect(even))
      assert(all.map(_.length) == Some(900) && oneJob == 1, s"$oneJob jobs")
    } finally spark.conf.unset("graft.cc.smallGraphEdges")
  }

  test("a small appendPairs mines with no shuffle and at most 6 Spark jobs") {
    val (base, batch) = corpus(2L)
    val path = layout(docs(base, LongType), Some(1000))
    val input = docs(batch, LongType)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit)
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val before = Dedup.pairMineFastPathRuns.get()
    try {
      appendOf(input, Some(1000), Some("day-1"))(path)
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Dedup.pairMineFastPathRuns.get() - before == 1L)
    assert(shuffled.get == 0L, s"${shuffled.get} shuffle bytes written")
    assert(jobs.get <= 6, s"${jobs.get} jobs")
  }

  test("writePairs never pairs a null id (it once paired as id 0)") {
    val path = java.nio.file.Files.createTempDirectory("graft_pairs_null")
      .toString + "/p"
    val text = "a b c d e f"
    Dedup.writePairs(docs(Seq((5L, text), (null, text), (7L, text)), LongType),
      "id", "text", path, shingleSize = 2)
    assert(multiset(ManifestTable.read(spark, path + "/pairs")) ==
      Map(Seq[Any](5L, 5, 7L, 5, 5L) -> 1))
  }

  test("writePairs refuses a non-bigint id column up front, naming the " +
      "supported type") {
    val path = java.nio.file.Files.createTempDirectory("graft_pairs_int")
      .toString + "/p"
    val ex = intercept[IllegalArgumentException] {
      Dedup.writePairs(docs(Seq((1, "a b c d"), (2, "a b c e")), IntegerType),
        "id", "text", path)
    }
    assert(ex.getMessage.contains("bigint") && ex.getMessage.contains("int"),
      ex.getMessage)
    assert(!new java.io.File(path).exists(), "nothing may be written")
  }
}
