package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftIndex
import graft.store.{KeyedStore, MutationBatch}

/**
 * `MutationBatch.executeIndexed` as one mutation: one routed pass, one
 * merge, one index commit, and output files placed by the slot rule — each
 * rewritten file stays inside the gap its untouched neighbours leave, so
 * live key ranges stay disjoint (the key→file router's invariant).
 */
class MutationBatchSpec extends SparkSpec {
  import spark.implicits._
  _quiet

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def conf = spark.sessionState.newHadoopConf()

  private def version(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    GraftIndex.versionFiles(p.getFileSystem(conf), p).last._1
  }

  /** Live file → (lo, hi) of a Long-keyed table. */
  private def live(dir: String): Map[String, (Long, Long)] =
    GraftIndex.read(new org.apache.hadoop.fs.Path(dir), conf).get.ranges.map {
      case (n, (lo, hi, _)) =>
        n -> (lo.asInstanceOf[BigDecimal].toLong, hi.asInstanceOf[BigDecimal].toLong)
    }

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy("key").collect().map(_.toString).toSeq

  private def table(keys: Seq[Long]): DataFrame =
    keys.toDF("key")
      .withColumn("byDay", map(lit("d0"), $"key" % 50))
      .withColumn("total", $"key" % 50)

  /** One graft file per block of keys, in block order: a layout whose
    * ranges and gaps the test controls exactly. */
  private def writeBlocks(dir: String, blocks: Seq[Seq[Long]]): Unit =
    blocks.zipWithIndex.foreach { case (b, i) =>
      table(b).coalesce(1).sortWithinPartitions("key").write.format("graft")
        .option("key", "key").mode(if (i == 0) "overwrite" else "append").save(dir)
    }

  private def deltas(keys: Seq[Long], n: Long): DataFrame =
    keys.map(k => (k, Map("d99" -> n), n)).toDF("key", "byDay", "total")

  test("scattered deletes in files 1 and 3 plus increments low in file 3: " +
      "one commit, only those two files rewritten, disjoint ranges, rows == execute") {
    val dir = tmp("graft_mb_scatter")
    val base = table(0L until 4000L)
    KeyedStore.writeIndexed(base, dir, numRanges = 4)
    val before = live(dir)
    assert(before.size == 4)
    val fileOf = (k: Long) => before.find { case (_, (lo, hi)) => lo <= k && k <= hi }.get._1
    val dels = (100L until 700L) ++ (2100L until 2105L)
    val incs = (2040L until 2145L by 5).filterNot(dels.toSet)
    assert((dels ++ incs).map(fileOf).toSet.size == 2, "the batch must touch two files")
    def batch() = MutationBatch()
      .delete(dels.toDF("key"))
      .increment(deltas(incs, 1L))
    val (want, accMem) = batch().execute(base)
    val v0 = version(dir)
    val accDisk = batch().executeIndexed(spark, dir)
    assert(accDisk == accMem && accDisk == KeyedStore.OpsResult(605L, 0L, incs.size.toLong))
    assert(version(dir) == v0 + 1, "one index version per executeIndexed")
    assert(rows(KeyedStore.readKeyed(spark, dir)) == rows(want))
    val after = live(dir)
    assert(after.size == 4, s"each rewritten file stays one file: $after")
    assert((before.keySet -- after.keySet) == (dels ++ incs).map(fileOf).toSet)
    val st = KeyedStore.fsckIndexed(spark, dir)
    assert(st.overlappingRanges == 0 && st.ok, st)
  }

  test("inserts: a gap next to a rewritten file joins it, a gap between two " +
      "untouched files and each outer side get one new file; every file stays in its slot") {
    val dir = tmp("graft_mb_gaps")
    val blocks = Seq(0L until 100L, 200L until 300L, 400L until 500L, 600L until 700L)
    writeBlocks(dir, blocks)
    val before = live(dir)
    val byLo = before.toSeq.sortBy(_._2._1).map(_._1)
    val putRows = Seq(150L, 350L, 550L, -5L).map(k => (k, Map("d1" -> 1L), 7L))
      .toDF("key", "byDay", "total")
    def batch() = MutationBatch()
      .delete(Seq(250L).toDF("key"))
      .put(putRows)
      .increment(deltas(Seq(900L, 260L), 2L))
    val (want, _) = batch().execute(table(blocks.flatten))
    val v0 = version(dir)
    val acc = batch().executeIndexed(spark, dir)
    assert(acc == KeyedStore.OpsResult(1L, 4L, 2L))
    assert(version(dir) == v0 + 1)
    assert(rows(KeyedStore.readKeyed(spark, dir)) == rows(want))
    val after = live(dir)
    // files 0, 2 and 3 untouched; file 1 absorbs 150 and 350 (gaps on both
    // sides of it); 550 (between untouched files 2 and 3), -5 (below the
    // first) and 900 (above the last) each open a file of their own
    assert(Seq(byLo(0), byLo(2), byLo(3)).forall(after.contains))
    val fresh = (after -- before.keySet).values.toSet
    assert(fresh == Set((150L, 350L), (550L, 550L), (-5L, -5L), (900L, 900L)), fresh)
    // inside its slot: no output range reaches an untouched neighbour
    val untouched = before.values.toSeq.filterNot(_ == before(byLo(1)))
    fresh.foreach { case (lo, hi) =>
      untouched.foreach { case (ulo, uhi) =>
        assert(hi < ulo || lo > uhi, s"[$lo,$hi] spans untouched [$ulo,$uhi]")
      }
    }
    assert(KeyedStore.fsckIndexed(spark, dir).ok)
  }

  test("slot table: affected files first in key order, interior gaps join a " +
      "rewritten neighbour (lower first), the outer gaps always open their own") {
    // 4 files; file 1 affected; inserts in every gap 0..4
    assert(KeyedStore.slotsOf(4, Set(1), Set(0, 1, 2, 3, 4)).toSeq ==
      Seq(-1, 0, -1, -1, /* gaps */ 1, 0, 0, 2, 3))
    // files 0 and 2 affected: gap 1 joins file 0 (its lower neighbour);
    // gap 2's lower neighbour, file 1, is untouched, so it joins file 2
    assert(KeyedStore.slotsOf(4, Set(0, 2), Set(1, 2, 4)).toSeq ==
      Seq(0, -1, 1, -1, /* gaps */ -1, 0, 1, -1, 2))
    // no files at all: the one gap opens one file
    assert(KeyedStore.slotsOf(0, Set.empty, Set(0)).toSeq == Seq(0))
  }

  test("increment pre-sums a hot key's many map deltas per qualifier: equal " +
      "to a plain fold over three map columns and a scalar, nulls included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("key", StringType),
      StructField("byDay", MapType(StringType, LongType)),
      StructField("w", MapType(IntegerType, DoubleType)),
      StructField("n", MapType(StringType, IntegerType)),
      StructField("total", LongType)))
    // 2,700 of 3,000 deltas hit one key; null maps, null cells and null
    // scalars throughout; key "nulls" only ever carries null values
    val in = (0 until 3000).map { i =>
      Row(if (i % 10 == 0) s"k${i % 7}" else "hot",
        if (i % 13 == 0) null
        else Map(s"d${i % 5}" -> (if (i % 11 == 0) null else java.lang.Long.valueOf(i.toLong))),
        if (i % 3 == 0) Map((i % 4) -> i * 0.5) else null,
        Map("a" -> i % 3, s"b${i % 2}" -> 1),
        if (i % 17 == 0) null else java.lang.Long.valueOf(1L))
    } :+ Row("nulls", Map("d0" -> null), null, Map.empty[String, Int], null)
    def fold[Q, V](ms: Seq[scala.collection.Map[Q, V]], plus: (V, V) => V): Map[Q, Any] =
      ms.flatten.groupBy(_._1).map { case (q, cells) =>
        q -> (cells.map(_._2).filter(_ != null).reduceOption(plus).getOrElse(null): Any)
      }
    val want = in.groupBy(_.getString(0)).map { case (k, rs) =>
      k -> ((fold[String, java.lang.Long](rs.flatMap(r => Option(r.getMap[String, java.lang.Long](1))),
        (a, b) => a + b),
        fold[Int, Double](rs.flatMap(r => Option(r.getMap[Int, Double](2))), _ + _),
        fold[String, Int](rs.flatMap(r => Option(r.getMap[String, Int](3))), _ + _),
        rs.flatMap(r => Option(r.get(4))).map(_.asInstanceOf[Long]).sum))
    }
    val deltas = spark.createDataFrame(java.util.Arrays.asList(in: _*), schema)
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    val got = KeyedStore.increment(empty, deltas).collect().map { r =>
      r.getString(0) -> ((r.getMap[String, Any](1).toMap, r.getMap[Int, Any](2).toMap,
        r.getMap[String, Any](3).toMap, r.getLong(4)))
    }.toMap
    assert(got == want)
    assert(got("nulls") == ((Map("d0" -> null), Map.empty, Map.empty, 0L)))
  }

  test("an empty put routes nowhere: no job to test emptiness, no commit, counts 0") {
    val dir = tmp("graft_mb_empty")
    KeyedStore.writeIndexed(table(0L until 100L), dir, numRanges = 2)
    val v0 = version(dir)
    val acc = MutationBatch().put(table(Nil)).executeIndexed(spark, dir)
    assert(acc == KeyedStore.OpsResult(0L, 0L, 0L))
    assert(version(dir) == v0, "a batch that touches nothing commits nothing")
  }

  test("a table already damaged by overlapping ranges: fsck reports it, and " +
      "every indexed mutation, near the damage or far from it, aborts naming it with nothing applied") {
    val dir = tmp("graft_mb_guard")
    writeBlocks(dir, Seq(Seq(0L, 10L, 20L), Seq(5L, 15L), Seq(100L, 110L)))
    val st = KeyedStore.fsckIndexed(spark, dir)
    assert(st.overlappingRanges == 1 && !st.ok, st)
    val snapshot = rows(KeyedStore.readKeyed(spark, dir))
    val v0 = version(dir)
    // one increment inside the overlapping pair, one that touches only the
    // third file, one that inserts above it
    Seq(Seq(0L), Seq(110L), Seq(500L)).foreach { ks =>
      val e = intercept[IllegalStateException] {
        KeyedStore.incrementIndexed(spark, dir, deltas(ks, 1L))
      }
      assert(e.getMessage.contains("already holds 1 pair(s) of overlapping live key ranges") &&
        e.getMessage.contains("fsckIndexed") && e.getMessage.contains("writeIndexed"),
        e.getMessage)
      assert(version(dir) == v0 && rows(KeyedStore.readKeyed(spark, dir)) == snapshot)
    }
    val parent = new java.io.File(dir).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__staging")),
      "an aborted mutation leaves no staging behind")
    // the repair the message names: a writeIndexed rewrite leaves disjoint
    // ranges, and mutations apply again
    val repaired = tmp("graft_mb_guard_fixed")
    KeyedStore.writeIndexed(KeyedStore.readKeyed(spark, dir), repaired, numRanges = 2)
    assert(KeyedStore.fsckIndexed(spark, repaired).ok)
    KeyedStore.incrementIndexed(spark, repaired, deltas(Seq(110L), 1L))
    assert(KeyedStore.fsckIndexed(spark, repaired).ok)
  }

  test("the connector reads the schema from a live file's footer") {
    val dir = tmp("graft_mb_schema")
    KeyedStore.writeIndexed(table(0L until 100L), dir, numRanges = 2)
    val want = spark.read.parquet(dir).schema
    assert(GraftIndex.liveSchema(new org.apache.hadoop.fs.Path(dir), conf).contains(want))
    assert(KeyedStore.readKeyed(spark, dir).schema == want)
  }

  test("a batch over files of two schema generations merges their footers: " +
      "a column only the newer file carries survives the rewrite") {
    val dir = tmp("graft_mb_schema_gen")
    writeBlocks(dir, Seq(0L until 10L))
    table(20L until 30L).withColumn("note", concat(lit("n"), $"key".cast("string")))
      .coalesce(1).write.format("graft").option("key", "key").mode("append").save(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val files = GraftIndex.read(p, conf).get.files.toSeq
    assert(files.size == 2)
    // either file order merges to the schema with the added column
    Seq(files, files.reverse).foreach { fs =>
      assert(GraftIndex.footerSchema(p, conf, fs).exists(_.fieldNames.contains("note")))
    }
    KeyedStore.upsertIndexed(spark, dir, Seq((5L, 1L), (25L, 2L)).toDF("key", "total"))
    val got = spark.read.option("mergeSchema", "true")
      .parquet(GraftIndex.read(p, conf).get.files.toSeq.map(f => s"$dir/$f"): _*)
    assert(got.where($"key" === 25L).select("note", "total").as[(String, Long)].collect()
      .toSeq == Seq(("n25", 2L)), "the newer file's column and the put both land")
    assert(got.where($"key" === 5L).select("note", "total").as[(String, Long)].collect()
      .toSeq == Seq((null, 1L)))
    // compaction merges the two generations under the same merged schema
    assert(KeyedStore.compact(spark, dir) == 1)
    val compacted = GraftIndex.read(p, conf).get.files.toSeq
    assert(compacted.size == 1)
    assert(spark.read.parquet(s"$dir/${compacted.head}").where($"note".isNotNull)
      .select("key").as[Long].collect().sorted.toSeq == (20L until 30L))
  }

  test("deleteWhere over two non-adjacent files keeps each file's survivors in " +
      "that file's slot: no overlapping ranges, and indexed mutations still apply") {
    import org.apache.spark.sql.sources.In
    val dir = tmp("graft_mb_delete_where")
    val base = table(0L until 4000L)
    KeyedStore.writeIndexed(base, dir, numRanges = 4)
    val before = live(dir)
    val dels = (100L until 700L) ++ (2100L until 2105L)
    val fileOf = (k: Long) => before.find { case (_, (lo, hi)) => lo <= k && k <= hi }.get._1
    assert(dels.map(fileOf).toSet.size == 2, "the delete must touch two non-adjacent files")
    val graftTable = new org.apache.spark.sql.graft.GraftTable(base.schema,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", dir, "key", "key")))
    graftTable.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      In("key", dels.map(Long.box).toArray[Any])))
    val st = KeyedStore.fsckIndexed(spark, dir)
    assert(st.overlappingRanges == 0 && st.ok, st)
    val after = live(dir)
    assert(after.size == 4 && (before.keySet -- after.keySet) == dels.map(fileOf).toSet, after)
    assert(rows(KeyedStore.readKeyed(spark, dir)) ==
      rows(base.where(!$"key".isin(dels: _*))))
    // the table stays routable: an upsert into the stretch between the two
    // rewritten files lands in place
    KeyedStore.upsertIndexed(spark, dir, Seq((1500L, 7L), (650L, 8L)).toDF("key", "total"))
    assert(KeyedStore.fsckIndexed(spark, dir).ok)
    assert(KeyedStore.readKeyed(spark, dir).where($"key".isin(650L, 1500L))
      .select("key", "total").as[(Long, Long)].collect().sorted.toSeq == Seq((650L, 8L), (1500L, 7L)))
  }

  /**
   * The plain-Scala model of a batch on one key: deletes → family deletes
   * → qualifier deletes → puts in batch order → increments in batch order,
   * each increment op pre-summed (SUM; per map qualifier a sum that is null
   * only when all its values are) and setting its null scalar `n` to 0 in
   * every row it does not name.
   */
  private object Model {
    type Fam = Map[String, java.lang.Long]
    final case class R(fam: Fam, info: (java.lang.Long, String), n: java.lang.Long, tag: String)
    final case class PutRow(key: Long, fam: Fam, info: (java.lang.Long, String), n: java.lang.Long,
        tag: String)
    final case class Delta(key: Long, fam: Fam, n: java.lang.Long)
    private def plus(a: java.lang.Long, b: java.lang.Long): java.lang.Long =
      java.lang.Long.valueOf(Math.addExact(a.longValue, b.longValue))
    private def coalesce[A](a: A, b: A): A = if (a != null) a else b
    def apply(base: Map[Long, R], dels: Seq[Seq[Long]], famDels: Seq[Seq[Long]],
        qualDels: Seq[(Seq[Long], Seq[String])], puts: Seq[Seq[PutRow]],
        incs: Seq[Seq[Delta]]): Map[Long, R] = {
      var t = base -- dels.flatten
      famDels.flatten.foreach(k => t.get(k).foreach(r => t += k -> r.copy(fam = null)))
      qualDels.foreach { case (ks, qs) =>
        ks.foreach(k => t.get(k).foreach(r =>
          if (r.fam != null) t += k -> r.copy(fam = r.fam -- qs)))
      }
      puts.foreach(_.foreach { p =>
        val o = t.getOrElse(p.key, R(null, null, null, null))
        val fam = if (p.fam == null) o.fam else if (o.fam == null) p.fam else o.fam ++ p.fam
        val info = if (o.info == null && p.info == null) null else {
          val (oa, ob) = Option(o.info).getOrElse((null, null))
          val (pa, pb) = Option(p.info).getOrElse((null, null))
          (coalesce(pa, oa), coalesce(pb, ob))
        }
        t += p.key -> R(fam, info, coalesce(p.n, o.n), coalesce(p.tag, o.tag))
      })
      val zero = java.lang.Long.valueOf(0L)
      incs.foreach { op =>
        (t -- op.map(_.key)).foreach { case (k, r) => t += k -> r.copy(n = coalesce(r.n, zero)) }
        op.groupBy(_.key).foreach { case (k, ds) =>
          val o = t.getOrElse(k, R(null, null, null, null))
          val n = ds.flatMap(d => Option(d.n)).reduceOption(plus).orNull
          val sum: Fam = ds.flatMap(d => Option(d.fam)).flatten.groupBy(_._1).map { case (q, cs) =>
            q -> cs.flatMap(c => Option(c._2)).reduceOption(plus).orNull
          }
          val fam = if (o.fam == null) sum else (o.fam.keySet ++ sum.keySet).map(q =>
            q -> plus(coalesce(o.fam.getOrElse(q, null), zero), coalesce(sum.getOrElse(q, null), zero))).toMap
          t += k -> o.copy(fam = fam, n = plus(coalesce(o.n, zero), coalesce(n, zero)))
        }
      }
      t
    }
  }

  private val foldSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("key", LongType),
      StructField("fam", MapType(StringType, LongType, valueContainsNull = true)),
      StructField("info", StructType(Seq(StructField("a", LongType), StructField("b", StringType)))),
      StructField("n", LongType), StructField("tag", StringType)))
  }

  private def foldRows(df: DataFrame): Map[Long, Model.R] = df.collect().map { r =>
    r.getLong(0) -> Model.R(
      Option(r.getMap[String, java.lang.Long](1)).map(_.toMap).orNull,
      Option(r.getStruct(2)).map(s => (s.get(0).asInstanceOf[java.lang.Long], s.getString(1))).orNull,
      r.get(3).asInstanceOf[java.lang.Long], r.getString(4))
  }.toMap

  test("fold equivalence: random batches of every op kind, through execute and " +
      "executeIndexed, equal a plain-Scala deletes → puts → increments model") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import Model._
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      def maybe[A](p: Double)(a: => A): A = if (rnd.nextDouble() < p) a else null.asInstanceOf[A]
      def long(p: Double, bound: Int): java.lang.Long = maybe(p)(java.lang.Long.valueOf(rnd.nextInt(bound).toLong))
      def fam(): Fam = maybe(0.8)((0 until rnd.nextInt(4)).map(_ =>
        s"q${rnd.nextInt(6)}" -> long(0.8, 100)).toMap)
      // the table holds every third key of 0..300; the ops reach into the
      // gaps between them and past both ends
      val base: Map[Long, R] = (0L until 300L by 3).map(k => k -> R(fam(),
        maybe(0.8)((long(0.7, 50), maybe(0.7)(s"b$k"))), long(0.8, 1000), maybe(0.5)(s"t$k"))).toMap
      def someKeys(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextInt(330).toLong - 15).distinct
      val dels = Seq.fill(2)(someKeys(15))
      val famDels = Seq(someKeys(10))
      val qualDels = Seq((someKeys(10), Seq("q0", "q1")))
      // a put or an increment after a delete of the same key re-creates it
      val puts = Seq.fill(3)((someKeys(25) ++ dels.head.take(3)).distinct.map(k =>
        PutRow(k, fam(), maybe(0.6)((long(0.6, 50), maybe(0.6)(s"p$k"))), long(0.6, 1000),
          maybe(0.5)(s"u$k"))))
      val incs = Seq.fill(2)((someKeys(30) ++ someKeys(10) ++ dels.last.take(3)).map(k =>
        Delta(k, fam(), long(0.8, 100))))
      def frame(rows: Seq[Row], schema: StructType) =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val current = frame(base.toSeq.map { case (k, r) =>
        Row(k, r.fam, Option(r.info).map(i => Row(i._1, i._2)).orNull, r.n, r.tag)
      }, foldSchema)
      def keys(ks: Seq[Long]) = ks.toDF("k")
      // puts carry every column but the first put drops `tag`; the second
      // increment carries `n` as int, summed in the fold in its own column
      val putFrames = puts.zipWithIndex.map { case (ps, i) =>
        val df = frame(ps.map(p => Row(p.key, p.fam, Option(p.info).map(x => Row(x._1, x._2)).orNull,
          p.n, p.tag)), foldSchema)
        if (i == 0) df.drop("tag") else df
      }
      val deltaSchema = StructType(Seq(foldSchema("key"), foldSchema("fam"), StructField("n", LongType)))
      val incFrames = incs.zipWithIndex.map { case (ds, i) =>
        val df = frame(ds.map(d => Row(d.key, d.fam, d.n)), deltaSchema)
        if (i == 1) df.withColumn("n", $"n".cast("int")) else df
      }
      // a column a put does not carry is a column it leaves untouched
      val want = Model(base, dels, famDels, qualDels,
        puts.head.map(_.copy(tag = null)) +: puts.tail, incs)
      def batch(): MutationBatch = {
        val b = MutationBatch()
        dels.foreach(d => b.delete(keys(d)))
        famDels.foreach(d => b.deleteFamily(keys(d), "fam"))
        qualDels.foreach { case (ks, qs) => b.deleteQualifiers(keys(ks), "fam", qs) }
        putFrames.foreach(b.put)
        incFrames.foreach(b.increment)
        b
      }
      val counts = KeyedStore.OpsResult(
        (dels.flatten ++ famDels.flatten ++ qualDels.flatMap(_._1)).size.toLong,
        puts.map(_.size).sum.toLong, incs.map(_.size).sum.toLong)
      val (merged, acc) = batch().execute(current)
      assert(acc == counts, s"seed $seed")
      val got = foldRows(merged)
      assert(got.keySet == want.keySet, s"seed $seed keys")
      want.foreach { case (k, r) => assert(got(k) == r, s"seed $seed key $k") }

      val dir = tmp(s"graft_mb_fold_$seed")
      KeyedStore.writeIndexed(current, dir, numRanges = 4)
      val v0 = version(dir)
      assert(batch().executeIndexed(spark, dir) == counts)
      assert(version(dir) == v0 + 1)
      assert(foldRows(KeyedStore.readKeyed(spark, dir)) == want, s"seed $seed indexed")
      assert(KeyedStore.fsckIndexed(spark, dir).ok)
    }
  }

  test("an increment that overflows a long fails the batch, in a row and in " +
      "the pre-sum, and an indexed batch then applies nothing") {
    val dir = tmp("graft_mb_overflow")
    val base = Seq((1L, Long.MaxValue - 1), (2L, 0L)).toDF("key", "total")
    KeyedStore.writeIndexed(base, dir, numRanges = 1)
    val v0 = version(dir)
    val overRow = Seq((1L, 5L)).toDF("key", "total")
    val overSum = Seq((3L, Long.MaxValue), (3L, Long.MaxValue)).toDF("key", "total")
    Seq(overRow, overSum).foreach { d =>
      val e = intercept[Exception](KeyedStore.increment(base, d).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => c.isInstanceOf[ArithmeticException] ||
          String.valueOf(c.getMessage).contains("overflow")), e)
      intercept[Exception](KeyedStore.incrementIndexed(spark, dir, d))
      assert(version(dir) == v0)
      assert(rows(KeyedStore.readKeyed(spark, dir)) == rows(base))
    }
  }

  /** Every node of an executed plan, through adaptive stages. */
  private def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
  }

  test("the merge plan holds no join and exactly one exchange, which carries " +
      "the current rows, for execute and for executeIndexed") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val dir = tmp("graft_mb_plan")
    KeyedStore.writeIndexed(table(0L until 1000L), dir, numRanges = 4)
    def batch() = MutationBatch()
      .delete(Seq(5L, 400L).toDF("key"))
      .put(Seq((7L, Map("d1" -> 1L), 3L)).toDF("key", "byDay", "total"))
      .increment(deltas(Seq(9L, 600L, 2000L), 2L))
    def check(plan: SparkPlan): Unit = {
      val all = nodes(plan)
      assert(!all.exists(_.isInstanceOf[BaseJoinExec]), plan)
      assert(!all.exists(_.isInstanceOf[BroadcastExchangeLike]), plan)
      val shuffles = all.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.size == 1, plan)
      assert(nodes(shuffles.head).exists(n =>
        n.isInstanceOf[BatchScanExec] || n.isInstanceOf[FileSourceScanExec]), plan)
      assert(all.exists(_.nodeName == "MergeFold"), plan)
    }
    val (merged, _) = batch().execute(KeyedStore.readKeyed(spark, dir))
    merged.collect()
    check(merged.queryExecution.executedPlan)
    var written: Option[SparkPlan] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (nodes(qe.executedPlan).exists(_.nodeName == "MergeFold"))
        written = Some(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try batch().executeIndexed(spark, dir)
    finally {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    check(written.getOrElse(fail("no write ran a merge fold")))
  }

  test("execute counts driver-held ops with no job and distributed ops in one " +
      "aggregate, whatever the number of ops") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    val base = table(0L until 100L)
    val local = MutationBatch().delete(Seq(1L, 2L).toDF("key"))
      .put(table(Seq(200L, 201L))).increment(deltas(Seq(3L, 4L, 5L), 1L))
    def distributed(df: DataFrame) = spark.createDataFrame(df.rdd, df.schema)
    val spread = MutationBatch().delete(distributed(Seq(1L, 2L).toDF("key")))
      .put(distributed(table(Seq(200L, 201L))))
      .increment(distributed(deltas(Seq(3L, 4L, 5L), 1L)))
      .increment(distributed(deltas(Seq(6L), 1L)))
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.set(0)
      assert(local.execute(base)._2 == KeyedStore.OpsResult(2L, 2L, 3L))
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(jobs.get == 0, "driver-held ops count without a job")
      assert(spread.execute(base)._2 == KeyedStore.OpsResult(2L, 2L, 4L))
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(jobs.get <= 2, s"one aggregate over every op, not a count per op: ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
