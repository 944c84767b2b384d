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
}
