package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/**
 * The native expressions exist for speed; these properties pin them to the
 * declarative formulations they replaced, on real corpus text — a regression
 * here means the "fast path" silently changed semantics.
 */
class NativeEquivalenceSpec extends SparkSpec {

  lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(200)

  test("shingle_hashes(split) == token_hashes(shingles) byte-for-byte") {
    for (n <- Seq(1, 2, 3, 5)) {
      val diff = docs.select(
          shingle_hashes(split(col("text"), " "), n).as("fast"),
          token_hashes(shingles(col("text"), n)).as("ref"))
        .where(not(col("fast") === col("ref")))
      assert(diff.isEmpty, s"shingle size $n diverged")
    }
  }

  test("count_in_set == size(filter(isin)) on corpus tokens") {
    val markers = Seq("the", "of", "und", "la")
    val diff = docs
      .select(tokens(lower(col("text"))).as("tk"))
      .select(count_in_set(col("tk"), markers).as("fast"),
        size(filter(col("tk"), t => t.isin(markers.map(lit): _*))).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty)
  }

  test("cosine_sim_int8 == cosine_sim over the HOF-cast quantized vector") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(200)
    val q = graft.ops.Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val query = (0 until 64).map(i => ((i * 37 % 11) - 5).toFloat)
    val qc = array(query.map(lit): _*)
    // identical arithmetic: both promote each int8 element to double before
    // the dot/norm loop, so the native path must match the cast path exactly
    val diff = q.select(
        cosine_sim_int8(col("qvec"), qc).as("fast"),
        cosine_sim(transform(col("qvec"), x => x.cast("float")), qc).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty, "native int8 cosine diverged from the cast form")
  }

  test("cosine_sim_int8_pair == cosine_sim_int8 over the float-cast side") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(100)
    val q = graft.ops.Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val a = q.select(col("id").as("aid"), col("qvec").as("aq"))
    val b = q.select(col("id").as("bid"), col("qvec").as("bq"))
    // byte → double is exact through either a float hop or directly, so the
    // pair form must match the cast form bit-for-bit on every pair
    val diff = a.crossJoin(b).where(col("aid") < col("bid")).select(
        cosine_sim_int8_pair(col("aq"), col("bq")).as("fast"),
        cosine_sim_int8(col("aq"), col("bq").cast("array<float>")).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty, "int8 pair cosine diverged from the cast form")
  }

  test("count_in_bloom == size(filter(bloom_might_contain)) on corpus shingles") {
    // build a real filter over half the corpus's shingle hashes, then probe
    // every document with both formulations — same filter blob, so the
    // (deterministic) false positives land identically in both
    val train = docs.where(col("doc_id") % 2 === 0)
    val bloom = graft.ops.TextOps.trainBloom(train, "doc_id", "text",
      shingleSize = 3, expectedItems = 100000L, fpp = 0.01)
    val diff = docs
      .select(array_distinct(
        shingle_hashes(split(col("text"), " "), 3)).as("th"))
      .select(count_in_bloom(col("th"), bloom).as("fast"),
        size(filter(col("th"), s => bloom_might_contain(bloom, s))).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty)
  }

  test("md5_token_hashes matches md5-hex-prefix arithmetic per token") {
    val diff = docs
      .select(explode(tokens(col("text"))).as("t")).limit(500)
      .select(
        element_at(md5_token_hashes(array(col("t"))), 1).as("fast"),
        conv(substring(md5(col("t").cast("binary")), 1, 15), 16, 10)
          .cast("bigint").as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty)
  }

  test("ordered_pairs == the self-join pair set, with sizes attached") {
    val posting = spark.range(6).select(
      lit(1).as("g"), col("id"), (col("id") * 10 + 1).cast("int").as("n"))
    val viaExpr = posting.groupBy("g")
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
      .select(explode(ordered_pairs(col("docs"))).as("p"))
      .select(col("p.id_a"), col("p.n_a"), col("p.id_b"), col("p.n_b"))
    val viaJoin = posting.alias("a").join(posting.alias("b"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("a.n").as("n_a"),
        col("b.id").as("id_b"), col("b.n").as("n_b"))
    assert(viaExpr.except(viaJoin).isEmpty && viaJoin.except(viaExpr).isEmpty)
    assert(viaExpr.count() == 15) // C(6,2)
  }

  test("md5_prefix60 == the md5-hex-prefix conv chain") {
    val diff = spark.range(0, 5000)
      .select(col("id").cast("string").as("s"))
      .select(md5_prefix60(col("s")).as("fast"),
        conv(substring(md5(col("s").cast("binary")), 1, 15), 16, 10)
          .cast("bigint").as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(diff.isEmpty)
  }

  test("count_in_bloom compares its blob by content, not reference") {
    val f = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    Seq(1L, 2L, 3L).foreach(f.putLong)
    def blob: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); f.writeTo(bos); bos.toByteArray
    }
    val (b1, b2) = (blob, blob)
    assert(!(b1 eq b2))
    val child = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(1L, 9L), org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))
    import org.apache.spark.sql.graft.CountInBloom
    // byte-identical blobs in distinct arrays: equal + same hash (so plan
    // canonicalization/CSE can merge two probes of the same filter)
    assert(CountInBloom(child, b1) == CountInBloom(child, b2))
    assert(CountInBloom(child, b1).hashCode == CountInBloom(child, b2).hashCode)
    assert(CountInBloom(child, b1).semanticEquals(CountInBloom(child, b2)))
    // and a different filter is NOT equal
    val g = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    g.putLong(42L)
    val gos = new java.io.ByteArrayOutputStream(); g.writeTo(gos)
    assert(CountInBloom(child, b1) != CountInBloom(child, gos.toByteArray))
  }

  test("md5_hyperplane_bucket: expression eval == driver-side compute twin") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet").limit(50)
    val rows = emb.select(col("vec_id"), col("embedding"),
        graft.functions.GraftFunctions.md5_hyperplane_bucket(col("embedding"), 8).as("b"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      assert(r.getLong(2) ==
        org.apache.spark.sql.graft.Md5HyperplaneBucket.compute(v, 8),
        s"vec ${r.getLong(0)} bucket mismatch")
    }
  }

  test("range_bucket router == the decimal-string UDF it replaced, for long/" +
      "double/string keys incl. exact boundaries; no ScalaUDF in its plan") {
    import graft.store.KeyedStore
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    // the reference router: the round-13 UDF's exact decimal-string logic,
    // except that a key in no range routes to -(gap + 1), gap 0 lowest
    def refRoute(isNum: Boolean, los: Array[Any], his: Array[Any])(ks: String): Int =
      if (ks == null) -1
      else {
        val k: Any = if (isNum) BigDecimal(ks) else ks
        def le(a: Any, b: Any): Boolean =
          if (isNum) a.asInstanceOf[BigDecimal] <= b.asInstanceOf[BigDecimal]
          else a.toString <= b.toString
        var lo = 0; var hi = los.length - 1; var found = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (le(los(mid), k)) { found = mid; lo = mid + 1 } else hi = mid - 1
        }
        if (found >= 0 && le(k, his(found))) found else -(found + 2)
      }
    // LONG keys: ranges with gaps; probe every boundary and gap
    val longRanges: Array[(String, (Any, Any, Long))] = Array(
      "a" -> ((BigDecimal(0), BigDecimal(9), 1L)),
      "b" -> ((BigDecimal(20), BigDecimal(20), 1L)),   // point range
      "c" -> ((BigDecimal(25), BigDecimal(1000), 1L)))
    val longKeys = Seq(-1L, 0L, 5L, 9L, 10L, 19L, 20L, 21L, 24L, 25L, 1000L, 1001L)
    val lc = KeyedStore.routerColumn(spark, LongType, "k", longRanges, isNum = true)
    val lgot = longKeys.toDF("k").select(col("k"), lc.as("f")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    longKeys.foreach { k =>
      val ref = refRoute(isNum = true, longRanges.map(_._2._1), longRanges.map(_._2._2))(k.toString)
      assert(lgot(k) == ref, s"long key $k: native ${lgot(k)} != udf $ref")
    }
    // DOUBLE keys incl. fractional boundaries
    val dblRanges: Array[(String, (Any, Any, Long))] = Array(
      "a" -> ((BigDecimal("0.5"), BigDecimal("1.25"), 1L)),
      "b" -> ((BigDecimal("2.75"), BigDecimal("9.125"), 1L)))
    val dblKeys = Seq(0.25, 0.5, 1.25, 1.2500001, 2.75, 9.125, 9.2)
    val dc = KeyedStore.routerColumn(spark, DoubleType, "k", dblRanges, isNum = true)
    val dgot = dblKeys.toDF("k").select(col("k"), dc.as("f")).collect()
      .map(r => r.getDouble(0) -> r.getInt(1)).toMap
    dblKeys.foreach { k =>
      // the UDF saw the key cast to string — Spark double->string is the
      // shortest roundtrip form, same value BigDecimal parses back
      val ref = refRoute(isNum = true, dblRanges.map(_._2._1), dblRanges.map(_._2._2))(k.toString)
      assert(dgot(k) == ref, s"double key $k: native ${dgot(k)} != udf $ref")
    }
    // STRING keys: binary-order boundaries
    val strRanges: Array[(String, (Any, Any, Long))] = Array(
      "a" -> (("apple", "cherry", 1L)), "b" -> (("melon", "peach", 1L)))
    val strKeys = Seq("aardvark", "apple", "banana", "cherry", "cherrz",
      "melon", "peach", "pear", null)
    val sc = KeyedStore.routerColumn(spark, StringType, "k", strRanges, isNum = false)
    val sgot = strKeys.toDF("k").select(col("k"), sc.as("f")).collect()
      .map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    strKeys.foreach { k =>
      val ref = refRoute(isNum = false, strRanges.map(_._2._1), strRanges.map(_._2._2))(k)
      assert(sgot(Option(k)) == ref, s"string key $k: native != udf $ref")
    }
    // DECIMAL keys (round 15 — the last type off the UDF): exact across
    // scales, boundary-exact, null routes to -1
    import org.apache.spark.sql.types.DecimalType
    val decRanges: Array[(String, (Any, Any, Long))] = Array(
      "a" -> ((BigDecimal("0.50"), BigDecimal("1.25"), 1L)),
      "b" -> ((BigDecimal("2.75"), BigDecimal("9.12"), 1L)))
    val decKeys = Seq("0.49", "0.50", "1.25", "1.26", "2.75", "9.12", "9.13")
    val cc = KeyedStore.routerColumn(spark, DecimalType(20, 2), "k",
      decRanges, isNum = true)
    val cgot = decKeys.toDF("s")
      .select(col("s").cast(DecimalType(20, 2)).as("k"))
      .select(col("k").cast("string").as("ks"), cc.as("f")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    decKeys.foreach { k =>
      val ref = refRoute(isNum = true,
        decRanges.map(_._2._1), decRanges.map(_._2._2))(k)
      assert(cgot(k) == ref, s"decimal key $k: native ${cgot(k)} != udf $ref")
    }
    // plan pin: the native router is an expression, never a ScalaUDF —
    // for EVERY key type (decimal included since round 15)
    Seq(longKeys.toDF("k").select(lc.as("f")),
      decKeys.toDF("s").select(col("s").cast(DecimalType(20, 2)).as("k"))
        .select(cc.as("f"))).foreach { frame =>
      val plan = frame.queryExecution.executedPlan.toString()
      assert(!plan.contains("ScalaUDF"), s"router fell back to a UDF:\n$plan")
    }
  }

  test("decimal-keyed indexed store: writeIndexed + upsertIndexed + compact " +
      "route natively and stay exact through the full mutation lifecycle") {
    import graft.store.KeyedStore
    import org.apache.spark.sql.types.DecimalType
    val dir = java.nio.file.Files.createTempDirectory("graft_deckey").toString + "/t"
    val base = spark.range(0, 400)
      .select(col("id").cast(DecimalType(20, 2)).as("key"),
        (col("id") % 13).as("v"))
    KeyedStore.writeIndexed(base, dir, numRanges = 8)
    val puts = spark.range(100, 120)
      .select(col("id").cast(DecimalType(20, 2)).as("key"), lit(-1L).as("v"))
    KeyedStore.upsertIndexed(spark, dir, puts)
    KeyedStore.deleteIndexed(spark, dir,
      spark.range(390, 400).select(col("id").cast(DecimalType(20, 2)).as("key")))
    KeyedStore.compact(spark, dir, smallFileBytes = 1L << 20): Unit
    def kv(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(col("key").cast("string"), col("v")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = (0 until 400).map(i =>
      f"$i%d.00" -> (if (i >= 100 && i < 120) -1L else (i % 13).toLong))
      .filterNot { case (k, _) => k.stripSuffix(".00").toInt >= 390 }.toMap
    assert(kv(KeyedStore.readKeyed(spark, dir)) == expected)
    assert(KeyedStore.fsckIndexed(spark, dir).ok)
  }
}
