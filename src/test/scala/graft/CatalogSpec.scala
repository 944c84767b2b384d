package graft

import org.apache.spark.sql.functions._

/** The SQL DDL/DML lifecycle over the V2 GraftTableCatalog: CREATE/INSERT/
  * SELECT/DELETE/TRUNCATE/DROP, with index-pruned DELETE proven at the file
  * level (untouched range files survive byte-identical). */
class CatalogSpec extends SparkSpec {

  private lazy val wh = {
    _quiet
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_wh_").toString
    spark.conf.set("spark.sql.catalog.gtest", "org.apache.spark.sql.graft.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gtest.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtest.db")
    dir
  }

  private def freshTable(name: String): String = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS gtest.db.$name")
    spark.sql(
      s"""CREATE TABLE gtest.db.$name (key BIGINT, name STRING, size INT)
         |TBLPROPERTIES ('key'='key')""".stripMargin)
    s"gtest.db.$name"
  }

  private def seed(table: String, n: Int = 100, ranges: Int = 4): Unit = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"name_$i", i % 50)).toDF("key", "name", "size")
      .repartitionByRange(ranges, col("key")).sortWithinPartitions("key")
      .writeTo(table).append()
  }

  private def dataFiles(name: String): Map[String, Long] = {
    new java.io.File(s"$wh/db/$name").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("CREATE/INSERT/SELECT round trip through pure SQL") {
    val t = freshTable("t1")
    seed(t)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 100)
    val r = spark.sql(s"SELECT name FROM $t WHERE key = 42").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("name_42"))
    // sidecar index arrived with the insert (from task commit stats)
    assert(new java.io.File(s"$wh/db/t1").listFiles.exists(_.getName.startsWith("_graft_index")))
    // key point-get prunes to 1 of 4 range files
    val desc = spark.sql(s"SELECT name FROM $t WHERE key = 42")
      .queryExecution.executedPlan.toString
    assert(desc.contains("files=1/4"), s"expected pruned scan, got:\n$desc")
  }

  test("DELETE FROM with key range rewrites only intersecting files") {
    val t = freshTable("t2")
    seed(t)
    val before = dataFiles("t2")
    assert(before.size == 4)
    Thread.sleep(20) // ensure rewritten files get a fresh mtime
    spark.sql(s"DELETE FROM $t WHERE key < 10")
    // sweep the replaced file (a keep-one-back stray) so the disk view below
    // is exactly the live snapshot
    graft.store.KeyedStore.vacuumIndexed(spark, s"$wh/db/t2", "key",
      keepPrevious = false)
    val after = dataFiles("t2")
    // the 3 non-intersecting range files survive untouched (same name + mtime)
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.size == 3, s"expected 3 untouched files: $before -> $after")
    untouched.foreach(n => assert(before(n) == after(n)))
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 90)
    assert(spark.sql(s"SELECT min(key) AS k FROM $t").head().getLong(0) == 10)
    // the refreshed index still prunes correctly post-delete
    val r = spark.sql(s"SELECT name FROM $t WHERE key = 99").collect()
    assert(r.map(_.getString(0)).toSeq == Seq("name_99"))
  }

  test("DELETE pre-commit crash debris is invisible to reads; a blind retry " +
      "converges; fsckIndexed reports the table healthy") {
    val t = freshTable("t9")
    seed(t)
    val twin = freshTable("t9twin")
    seed(twin)
    // the twin's completed DELETE manufactures exactly what a crash between
    // deleteWhere's staged renames and its index commit strands in the live
    // dir: d-files holding the post-delete rows of the affected range, not
    // referenced by any index version
    spark.sql(s"DELETE FROM $twin WHERE key < 10")
    val dFiles = new java.io.File(s"$wh/db/t9twin").listFiles()
      .filter(f => f.getName.startsWith("d") && f.getName.endsWith(".parquet"))
    assert(dFiles.nonEmpty, "the twin DELETE should have renamed d-files in")
    dFiles.foreach(f => java.nio.file.Files.copy(f.toPath,
      java.nio.file.Paths.get(s"$wh/db/t9", f.getName)))
    // invariant 1: the debris is invisible — pre-delete snapshot, exactly
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 100,
      "pre-commit DELETE debris must not change what readers see")
    // invariant 2: the blind retry lands the clean-run state (and its own
    // post-commit sweep retires the planted debris)
    spark.sql(s"DELETE FROM $t WHERE key < 10")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 90)
    assert(spark.sql(s"SELECT min(key) AS k FROM $t").head().getLong(0) == 10)
    val st = graft.store.KeyedStore.fsckIndexed(spark, s"$wh/db/t9", "key")
    assert(st.ok, st.toString)
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 90)
  }

  test("DELETE on non-key predicate; TRUNCATE; unsupported predicate fails loudly") {
    val t = freshTable("t3")
    seed(t)
    spark.sql(s"DELETE FROM $t WHERE size >= 25 OR name = 'name_3'")
    // kept: size < 25 minus name_3 → ids with i%50 < 25 except 3
    val kept = spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0)
    assert(kept == 49, s"expected 49 rows, got $kept")
    // a predicate that cannot become a v1 filter falls back to the row-level
    // copy-on-write rewrite (SupportsRowLevelOperations) and still works
    spark.sql(s"DELETE FROM $t WHERE length(name) > 6")
    // survivors: the 49 kept rows minus every two-digit key
    val kept2 = spark.sql(s"SELECT key FROM $t").collect().map(_.getLong(0)).sorted
    assert(kept2.toSeq == Seq(0L, 1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L), s"got ${kept2.toSeq}")
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.sql(s"SELECT count(*) AS n FROM $t").head().getLong(0) == 0)
  }

  test("ALTER TABLE ADD/DROP COLUMN: metadata-only, old files read with nulls") {
    val t = freshTable("t5")
    seed(t, n = 20, ranges = 2)
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    // pre-alter files: new column arrives as null, no rewrite happened
    val r = spark.sql(s"SELECT note FROM $t WHERE key = 5").head()
    assert(r.isNullAt(0))
    // new writes carry the column; both generations coexist in one scan
    import spark.implicits._
    Seq((100L, "name_100", 0, "hello")).toDF("key", "name", "size", "note")
      .writeTo(t).append()
    val mixed = spark.sql(s"SELECT key, note FROM $t WHERE key IN (5, 100)")
      .collect().map(row => row.getLong(0) -> (if (row.isNullAt(1)) null else row.getString(1)))
      .toMap
    assert(mixed(5L) == null && mixed(100L) == "hello")
    // DROP prunes at the reader; dropping the key is refused
    spark.sql(s"ALTER TABLE $t DROP COLUMN size")
    assert(!spark.sql(s"SELECT * FROM $t").columns.contains("size"))
    intercept[Exception] { spark.sql(s"ALTER TABLE $t DROP COLUMN key") }
  }

  test("upsertIndexed across both sides of ALTER TABLE ADD COLUMN keeps the " +
      "added column's values in every rewritten file") {
    import spark.implicits._
    val t = freshTable("t10")
    seed(t, n = 20, ranges = 2)
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    Seq((100L, "name_100", 0, "hello")).toDF("key", "name", "size", "note")
      .writeTo(t).append()
    // one batch rewrites an old-generation file (key 5) and the new one (key 100)
    graft.store.KeyedStore.upsertIndexed(spark, s"$wh/db/t10",
      Seq((5L, "five"), (100L, "hundred")).toDF("key", "name"))
    val got = spark.sql(s"SELECT key, name, note FROM $t WHERE key IN (5, 100)")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(got == Map(5L -> (("five", None)), 100L -> (("hundred", Some("hello")))), got)
  }

  test("SQL UPDATE: copy-on-write rewrite, non-matching rows untouched") {
    val t = freshTable("t6")
    seed(t)
    spark.sql(s"UPDATE $t SET name = concat('upd_', name), size = size + 1000 " +
      s"WHERE key % 10 = 3")
    val rows = spark.sql(s"SELECT key, name, size FROM $t").collect()
    assert(rows.length == 100) // no row lost by the rewrite
    rows.foreach { r =>
      val (k, n, sz) = (r.getLong(0), r.getString(1), r.getInt(2))
      if (k % 10 == 3) assert(n == s"upd_name_$k" && sz == (k % 50 + 1000))
      else assert(n == s"name_$k" && sz == k % 50)
    }
    // table still key-addressable and pruned after the rewrite
    assert(spark.sql(s"SELECT name FROM $t WHERE key = 13").head().getString(0)
      == "upd_name_13")
  }

  test("SQL MERGE INTO: update matched, insert unmatched") {
    import spark.implicits._
    val t = freshTable("t7")
    seed(t, n = 20, ranges = 2)
    Seq((5L, "merged_5", -1), (200L, "merged_200", -2))
      .toDF("key", "name", "size").createOrReplaceTempView("t7_src")
    spark.sql(
      s"""MERGE INTO $t g USING t7_src s ON g.key = s.key
         |WHEN MATCHED THEN UPDATE SET g.name = s.name, g.size = s.size
         |WHEN NOT MATCHED THEN INSERT (key, name, size) VALUES (s.key, s.name, s.size)
         |""".stripMargin)
    val m = spark.sql(s"SELECT key, name, size FROM $t").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(m.size == 21)
    assert(m(5L) == (("merged_5", -1)))      // matched → updated
    assert(m(200L) == (("merged_200", -2)))  // unmatched → inserted
    assert(m(6L) == (("name_6", 6)))         // untouched rows survive
  }

  test("catalog surface: list/rename/drop + meta round trip") {
    val t = freshTable("t4")
    seed(t, n = 10, ranges = 1)
    assert(spark.sql("SHOW TABLES IN gtest.db").collect()
      .map(_.getString(1)).contains("t4"))
    spark.sql(s"ALTER TABLE $t RENAME TO gtest.db.t4renamed")
    // key declaration survived the rename via _graft_meta
    assert(spark.sql("SELECT key FROM gtest.db.t4renamed WHERE key = 7").count() == 1)
    spark.sql("DROP TABLE gtest.db.t4renamed")
    assert(!spark.sql("SHOW TABLES IN gtest.db").collect()
      .map(_.getString(1)).contains("t4renamed"))
  }
}
