package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.store.KeyedStore

/**
 * The `graft` DSv2 connector: DataFrame parity with plain parquet, filter and
 * column pushdown visible in the physical plan, and key-range split pruning
 * from the sidecar index (with footer-stats fallback) — the HBase
 * region-pruning analogue (reference Query2.scala:888-929).
 */
class ConnectorSpec extends SparkSpec {
  _quiet

  private def graftScan(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def find(p: SparkPlan): Seq[String] = p.collect {
      case b: BatchScanExec => Seq(b.scan.description())
      case a: AdaptiveSparkPlanExec => find(a.executedPlan) // AQE hides the scan
    }.flatten
    val scans = find(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "plan should contain a graft BatchScan:\n" +
      df.queryExecution.executedPlan)
    scans.mkString("\n")
  }

  private def filesOf(desc: String): (Int, Int) = {
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).get
    (m.group(1).toInt, m.group(2).toInt)
  }

  private lazy val indexedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("cust").toString
    val c = spark.read.parquet(s"${sf()}/customer.parquet")
    KeyedStore.writeIndexed(c, dir, keyCol = "c_custkey", numRanges = 8)
    dir
  }

  private def keyed = KeyedStore.readKeyed(spark, indexedDir, "c_custkey")

  test("connector read equals plain parquet read (full scan, all columns)") {
    val viaConnector = keyed.orderBy("c_custkey").collect()
    val viaParquet = spark.read.parquet(indexedDir).orderBy("c_custkey").collect()
    assert(viaConnector.length == viaParquet.length && viaConnector.length > 0)
    assert(viaConnector.map(_.toString).sameElements(viaParquet.map(_.toString)))
  }

  test("filters and required columns are pushed into the graft scan") {
    val q = keyed.where(col("c_custkey") >= 10 && col("c_custkey") < 20)
      .select(col("c_custkey"), col("c_name"))
    val desc = graftScan(q)
    assert(desc.contains("PushedFilters:") && desc.contains("GreaterThanOrEqual(c_custkey,10)"),
      desc)
    assert(desc.contains("ReadSchema:") && desc.contains("c_name") &&
      !desc.contains("c_acctbal"), desc)
    assert(q.collect().map(_.getLong(0)).sorted.sameElements(10L until 20L))
  }

  test("sidecar index prunes files for a key range (and results stay exact)") {
    val q = keyed.where(col("c_custkey") >= 10 && col("c_custkey") < 20)
    val (kept, total) = filesOf(graftScan(q))
    assert(total == 8, s"expected 8 range files, had $total")
    assert(kept < total, s"range scan should prune files: kept=$kept/$total")
    val expect = spark.read.parquet(indexedDir)
      .where(col("c_custkey") >= 10 && col("c_custkey") < 20).count()
    assert(q.count() == expect)
  }

  test("point get and IN multi-get prune to the single matching file") {
    val point = keyed.where(col("c_custkey") === 42)
    val (kept, total) = filesOf(graftScan(point))
    assert(kept == 1 && total == 8, s"point get should hit one file, got $kept/$total")
    assert(point.count() == 1)

    val multi = keyed.where(col("c_custkey").isin(41, 42, 43))
    val (keptIn, _) = filesOf(graftScan(multi))
    assert(keptIn <= 2, s"tight IN-set should prune to its covering files, got $keptIn")
    assert(multi.count() == 3)
  }

  test("contradictory range prunes every file and returns zero rows") {
    val q = keyed.where(col("c_custkey") > 1000000)
    val (kept, _) = filesOf(graftScan(q))
    assert(kept == 0, s"out-of-range scan should schedule no splits, kept=$kept")
    assert(q.count() == 0)
  }

  test("footer-statistics fallback prunes without a sidecar index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("nofoot").toString
    val c = spark.read.parquet(s"${sf()}/customer.parquet")
    c.repartitionByRange(8, col("c_custkey")).sortWithinPartitions("c_custkey")
      .write.parquet(dir) // no _graft_index written
    val q = KeyedStore.readKeyed(spark, dir, "c_custkey").where(col("c_custkey") === 42)
    val desc = graftScan(q)
    assert(desc.contains("index=footer"), desc)
    val (kept, total) = filesOf(desc)
    assert(total == 8 && kept == 1, s"footer stats should prune to one file, got $kept/$total")
    assert(q.count() == 1)
  }

  test("string keys prune on ranges and prefixes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("strkey").toString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select(col("doc_id").cast("string").as("key"), col("lang"))
      .withColumn("key", concat(lit("doc_"), lpad(col("key"), 8, "0")))
    KeyedStore.writeIndexed(docs, dir, numRanges = 6)
    val t = KeyedStore.readKeyed(spark, dir)
    val ranged = t.where(col("key") >= "doc_00000010" && col("key") < "doc_00000020")
    val (kept, total) = filesOf(graftScan(ranged))
    assert(total == 6 && kept < total, s"string range should prune, got $kept/$total")
    assert(ranged.count() ==
      spark.read.parquet(dir).where(col("key") >= "doc_00000010" && col("key") < "doc_00000020").count())
  }

  test("string key bounds are recorded, pruned and compacted in UTF-8 byte order " +
      "(U+FFFD sorts below U+1F600 in bytes, above it in UTF-16)") {
    import spark.implicits._
    import org.apache.spark.sql.graft.GraftIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("utf8").toString
    val (fffd, smiley) = ("\uFFFD", new String(Character.toChars(0x1F600)))
    KeyedStore.writeIndexed(Seq((fffd, 1L), (smiley, 2L)).toDF("key", "v"), dir, numRanges = 1)
    def ranges(d: String) = GraftIndex.read(new org.apache.hadoop.fs.Path(d),
      spark.sessionState.newHadoopConf()).get.ranges.values.toSeq
    assert(ranges(dir).map(r => (r._1, r._2)) == Seq((fffd, smiley)),
      s"one file's bounds, lowest byte string first: ${ranges(dir)}")
    assert(KeyedStore.fsckIndexed(spark, dir).overlappingRanges == 0)
    // point gets prune by the recorded bounds and still find each key
    val t = KeyedStore.readKeyed(spark, dir)
    assert(t.where(col("key") === fffd).collect().map(_.getLong(1)).toSeq == Seq(1L))
    assert(t.where(col("key") === smiley).collect().map(_.getLong(1)).toSeq == Seq(2L))
    assert(t.where(col("key") > fffd).collect().map(_.getLong(1)).toSeq == Seq(2L))
    // a put routes into the file holding its key: updated, not duplicated
    KeyedStore.upsertIndexed(spark, dir, Seq((fffd, 10L)).toDF("key", "v"))
    assert(KeyedStore.readKeyed(spark, dir).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == Map(fffd -> 10L, smiley -> 2L))
    assert(KeyedStore.readKeyed(spark, dir).count() == 2L)
    // compaction merges only files adjacent in byte order: a large file of
    // U+FFFE keys between a small U+FFFD file and a small U+1F601 file
    // keeps the two small ones apart
    val dir2 = java.nio.file.Files.createTempDirectory("graft_conn").resolve("utf8c").toString
    KeyedStore.writeIndexed(Seq((fffd, 1L)).toDF("key", "v"), dir2, numRanges = 1)
    KeyedStore.upsertIndexed(spark, dir2, (0 until 3000)
      .map(i => (f"\uFFFE$i%05d", i.toLong)).toDF("key", "v"))
    KeyedStore.upsertIndexed(spark, dir2,
      Seq((new String(Character.toChars(0x1F601)), 3L)).toDF("key", "v"))
    assert(ranges(dir2).size == 3)
    assert(KeyedStore.compact(spark, dir2, smallFileBytes = 4096L) == 0,
      "no two small files are adjacent in byte order")
    assert(KeyedStore.fsckIndexed(spark, dir2).overlappingRanges == 0)
    assert(KeyedStore.readKeyed(spark, dir2).count() == 3002L)
  }

  test("reported statistics shrink after pruning (broadcast-decision input)") {
    val full = keyed
    val pruned = keyed.where(col("c_custkey") === 42)
    def size(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size(pruned) < size(full),
      s"pruned scan should report smaller size: ${size(pruned)} vs ${size(full)}")
  }

  test("upsertIndexed rewrites only the files containing put keys") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("merge").toString
    val c = spark.read.parquet(s"${sf()}/customer.parquet")
    KeyedStore.writeIndexed(c, dir, keyCol = "c_custkey", numRanges = 8)
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap

    // puts: update two existing keys in (likely) one range file + one new key
    val maxKey = c.agg(max(col("c_custkey"))).head().getLong(0)
    val puts = c.where(col("c_custkey").isin(10, 12))
      .withColumn("c_name", concat(lit("UPDATED_"), col("c_name")))
      .unionByName(c.limit(1).withColumn("c_custkey", lit(maxKey + 1000L))
        .withColumn("c_name", lit("BRAND_NEW")))
    KeyedStore.upsertIndexed(spark, dir, puts, "c_custkey")

    // parity with a full in-memory upsert
    val expect = KeyedStore.upsert(c, puts, "c_custkey")
      .orderBy("c_custkey").collect().map(_.toString)
    val got = KeyedStore.readKeyed(spark, dir, "c_custkey")
      .orderBy("c_custkey").collect().map(_.toString)
    assert(got.sameElements(expect))

    // untouched ranges were not rewritten (same file, same mtime)
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size >= 6, s"most range files should survive untouched, kept $untouched")
    untouched.foreach(n => assert(before(n) == after(n), s"$n was rewritten"))
    assert(before.keySet != after.keySet, "affected ranges should have been replaced")

    // the refreshed index still prunes (point get on an updated key = 1 file)
    val point = KeyedStore.readKeyed(spark, dir, "c_custkey").where(col("c_custkey") === 10)
    val desc = graftScan(point)
    assert(desc.contains("index=sidecar"), desc)
    assert(filesOf(desc)._1 == 1, s"post-merge point get should prune to one file: $desc")
    assert(point.head().getAs[String]("c_name").startsWith("UPDATED_"))
    assert(spark.read.parquet(dir).where(col("c_custkey") === maxKey + 1000L).count() == 1)
  }

  test("pushed limit schedules only enough files to cover n rows (scanUntil)") {
    val limited = keyed.limit(5)
    val desc = graftScan(limited)
    assert(desc.contains("limit=5"), desc)
    val (kept, total) = filesOf(desc)
    assert(total == 8 && kept == 1, s"limit 5 needs one ~19-row file, scheduled $kept/$total")
    assert(limited.count() == 5)
    // a filtered limit must NOT cap files (residual filters make counts inexact)
    val filtered = keyed.where(col("c_mktsegment") === "BUILDING").limit(5)
    val (keptF, _) = filesOf(graftScan(filtered))
    assert(keptF == 8, s"filtered limit must scan all candidate files, got $keptF")
    assert(filtered.count() == 5)
  }

  test("runtime key filters re-prune splits at execution (multi-get join analogue)") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // unit-level: a runtime IN-set arriving after planning shrinks the splits
    val df = keyed.where(col("c_acctbal") > -100000) // non-key pushed filter only
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
    assert(scans.nonEmpty)
    val scan = scans.head.asInstanceOf[org.apache.spark.sql.graft.GraftScan]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("c_custkey"))
    val before = scan.toBatch.planInputPartitions().length
    val in: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.In("c_custkey", Array(42L)))
    scan.filter(in)
    val after = scan.toBatch.planInputPartitions().length
    assert(after < before && after == 1,
      s"runtime IN should prune to the one covering file: $before -> $after")
  }

  test("deleteIndexed and incrementIndexed route to affected range files only") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("dm").toString
    val base = spark.range(0, 800).toDF("key")
      .withColumn("n", col("key") % 7)
    KeyedStore.writeIndexed(base, dir, numRanges = 8)
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    // delete keys inside one range + one nonexistent key (no-op)
    val delKeys = spark.range(100, 110).toDF("key")
      .unionByName(spark.range(90000, 90001).toDF("key"))
    KeyedStore.deleteIndexed(spark, dir, delKeys)
    assert(KeyedStore.readKeyed(spark, dir).count() == 790)
    assert(KeyedStore.readKeyed(spark, dir).where(col("key").between(100, 109)).count() == 0)
    val afterDelete = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(before.intersect(afterDelete).size >= 6,
      s"delete should leave unaffected ranges alone: $afterDelete")

    // increment two existing keys and one new key
    val deltaSchema = StructType(Seq(StructField("key", LongType), StructField("n", LongType)))
    val deltas = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(5L, 100L), org.apache.spark.sql.Row(700L, 200L),
        org.apache.spark.sql.Row(95000L, 1L))),
      deltaSchema)
    KeyedStore.incrementIndexed(spark, dir, deltas)
    val got = KeyedStore.readKeyed(spark, dir)
      .where(col("key").isin(5, 700, 95000)).orderBy("key")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> (5L % 7 + 100L), 700L -> (700L % 7 + 200L), 95000L -> 1L), got)
    assert(KeyedStore.readKeyed(spark, dir).count() == 791)
    // the refreshed index still prunes to exactly one file: no rewritten
    // file spans another, and the new key got a file of its own
    val desc = graftScan(KeyedStore.readKeyed(spark, dir).where(col("key") === 400))
    assert(desc.contains("index=sidecar") && filesOf(desc)._1 == 1, desc)
    // compaction (full writeIndexed) restores tight disjoint ranges
    KeyedStore.writeIndexed(KeyedStore.readKeyed(spark, dir), dir + "_c", numRanges = 8)
    val desc2 = graftScan(KeyedStore.readKeyed(spark, dir + "_c").where(col("key") === 400))
    assert(filesOf(desc2)._1 == 1, desc2)
  }

  test("format(\"graft\") write builds the sidecar from task stats, append merges it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("w").toString
    val a = spark.range(0, 300).toDF("key").withColumn("v", col("key") * 3)
    a.repartitionByRange(4, col("key")).sortWithinPartitions("key")
      .write.format("graft").option("key", "key").mode("overwrite").save(dir)
    assert(new java.io.File(dir).listFiles.exists(_.getName.startsWith("_graft_index")),
      "write must emit the sidecar")
    val point = KeyedStore.readKeyed(spark, dir).where(col("key") === 7)
    val d1 = graftScan(point)
    assert(d1.contains("index=sidecar") && filesOf(d1) == ((1, 4)), d1)
    assert(point.head().getLong(1) == 21)

    // append a disjoint key range: index gains the new files, old entries stay
    spark.range(1000, 1100).toDF("key").withColumn("v", col("key") * 3)
      .coalesce(1).write.format("graft").option("key", "key").mode("append").save(dir)
    assert(KeyedStore.readKeyed(spark, dir).count() == 400)
    val d2 = graftScan(KeyedStore.readKeyed(spark, dir).where(col("key") === 1050))
    assert(filesOf(d2) == ((1, 5)), d2)
    val d3 = graftScan(KeyedStore.readKeyed(spark, dir).where(col("key") === 7))
    assert(filesOf(d3) == ((1, 5)), d3)

    // overwrite truncates: old files and index entries are gone
    spark.range(0, 50).toDF("key").withColumn("v", lit(0L))
      .coalesce(1).write.format("graft").option("key", "key").mode("overwrite").save(dir)
    // the truncated files survive as keep-one-back strays (funded by the
    // previous index version) until vacuum; the live snapshot is exact
    assert(KeyedStore.readKeyed(spark, dir).count() == 50)
    KeyedStore.vacuumIndexed(spark, dir, "key", keepPrevious = false)
    assert(spark.read.parquet(dir).count() == 50,
      "vacuum(keepPrevious = false) must leave only the live files on disk")
    val d4 = graftScan(KeyedStore.readKeyed(spark, dir).where(col("key") === 7))
    assert(filesOf(d4) == ((1, 1)), d4)
  }

  test("graft write round-trips timestamps, decimals, arrays and maps exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("types").toString
    val src = spark.read.parquet(s"${sf()}/orders.parquet")
      .withColumn("tags", map(lit("k"), col("o_orderkey")))
      .withColumn("arr", array(col("o_totalprice")))
    src.write.format("graft").option("key", "o_orderkey").mode("overwrite").save(dir)
    val back = spark.read.parquet(dir).orderBy("o_orderkey").collect().map(_.toString)
    val want = src.orderBy("o_orderkey").collect().map(_.toString)
    assert(back.sameElements(want))
  }

  test("count/min/max on an indexed table answer from the sidecar with zero data I/O") {
    val agg = keyed.agg(count(lit(1)).as("n"),
      min(col("c_custkey")).as("lo"), max(col("c_custkey")).as("hi"))
    val desc = graftScan(agg)
    assert(desc.contains("GraftAggScan") && desc.contains("source=_graft_index"), desc)
    val row = agg.head()
    val expect = spark.read.parquet(indexedDir)
      .agg(count(lit(1)), min(col("c_custkey")), max(col("c_custkey"))).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ==
      (expect.getLong(0), expect.getLong(1), expect.getLong(2)))

    // any filter disables the index answer (counts would be partial)
    val filtered = keyed.where(col("c_mktsegment") === "BUILDING").agg(count(lit(1)).as("n"))
    val d2 = graftScan(filtered)
    assert(!d2.contains("GraftAggScan"), d2)
    assert(filtered.head().getLong(0) ==
      spark.read.parquet(indexedDir).where(col("c_mktsegment") === "BUILDING").count())
    // group-by aggregates also run the normal path
    val grouped = keyed.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    assert(!graftScan(grouped).contains("GraftAggScan"))
    assert(grouped.count() > 1)
  }

  test("executeIndexed applies a full mutation batch on disk, matching in-memory execute") {
    import graft.store.MutationBatch
    val dir = java.nio.file.Files.createTempDirectory("graft_conn").resolve("mb").toString
    val base = spark.range(0, 400).toDF("key")
      .withColumn("n", col("key") * 2)
      .withColumn("tags", map(lit("a"), col("key"), lit("b"), col("key") + 1))
    KeyedStore.writeIndexed(base, dir, numRanges = 6)

    def batch() = MutationBatch()
      .delete(spark.range(10, 20).toDF("key"))
      .deleteQualifiers(spark.range(30, 40).toDF("key"), "tags", Seq("a"))
      .put(spark.range(50, 60).toDF("key").withColumn("n", lit(999L)))
      .increment(spark.range(70, 80).toDF("key").withColumn("n", lit(5L)))

    val (expected, accMem) = batch().execute(base)
    val accDisk = batch().executeIndexed(spark, dir)
    assert(accMem == accDisk)
    val got = KeyedStore.readKeyed(spark, dir).orderBy("key").collect().map(_.toString)
    val want = expected.orderBy("key").collect().map(_.toString)
    assert(got.sameElements(want))
    // index survived the whole batch: point get still prunes
    val desc = graftScan(KeyedStore.readKeyed(spark, dir).where(col("key") === 200))
    assert(desc.contains("index=sidecar") && filesOf(desc)._1 <= 2, desc)
  }

  test("GQuery multi-get and range scan over the connector match plain-parquet results") {
    import graft.query.GQuery
    val viaConn = new GQuery(keyed, keyCol = "c_custkey")
      .withKeys(Seq(1L, 2L, 3L, 5L, 8L)).toDF
      .select(col("c_custkey"), col("c_name")).collect().map(_.toString).sorted
    val viaPq = new GQuery(spark.read.parquet(indexedDir), keyCol = "c_custkey")
      .withKeys(Seq(1L, 2L, 3L, 5L, 8L)).toDF
      .select(col("c_custkey"), col("c_name")).collect().map(_.toString).sorted
    assert(viaConn.sameElements(viaPq) && viaConn.length == 5)
  }
}
