package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.functions.GraftFunctions._

/**
 * North-star operator behavior: dedup recall on planted near-dups, ANN recall
 * vs brute force, multimodal plumbing, text metrics.
 */
class OpsSpec extends SparkSpec {
  _quiet
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private lazy val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")

  /** documents ∪ slightly-edited copies of doc_id < 40 (planted near-dups at
    * id+1_000_000: last token dropped → shingle Jaccard (n-2)/n ≥ ~0.85). */
  private lazy val withPlanted = {
    val ts = tokens(col("text"))
    val edited = docs.where(col("doc_id") < 40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(ts, lit(1), size(ts) - 1)).as("text"))
    docs.select(col("doc_id"), col("text")).unionByName(edited)
  }

  test("minHashLSH finds planted near-dups (recall ≥ 0.9), no self-pairs") {
    val pairs = Dedup.minHashLSH(withPlanted, "doc_id", "text",
      shingleSize = 3, numHashes = 128, rowsPerBand = 4, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0L until 40L).count(i => pairs.contains((i, i + 1000000L)))
    assert(hits >= 36, s"recall $hits/40")
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("snapshotDelta: presence beats fingerprint-nullness; all four statuses") {
    val oldSnap = Seq((1L, "a b c"), (2L, "x y"), (3L, null.asInstanceOf[String]),
      (4L, "gone soon"), (5L, null.asInstanceOf[String])).toDF("id", "text")
    val newSnap = Seq((1L, "a b c"), (2L, "x y EDITED"), (3L, "now has text"),
      (6L, "brand new"), (5L, null.asInstanceOf[String])).toDF("id", "text")
    val got = Dedup.snapshotDelta(oldSnap, newSnap, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unchanged",
      2L -> "changed",
      3L -> "changed",   // NULL→text is a CHANGE, not an add (presence flags)
      4L -> "removed",
      5L -> "unchanged", // NULL on both sides: null-safe equality
      6L -> "added"), s"got $got")
  }

  test("dedupeAgainstIndex: near-dups of indexed docs drop, novel and within-batch survive") {
    val path = java.nio.file.Files.createTempDirectory("graft_ndidx").toString + "/i"
    // index the real corpus once
    Dedup.writeNearDupIndex(docs.select(col("doc_id"), col("text")),
      "doc_id", "text", path)
    // batch: edited copies of indexed docs 0..9 (near-dups), one genuinely
    // novel doc, and TWO identical copies of that novel doc (a within-batch
    // dup the operator must NOT touch)
    val ts = tokens(col("text"))
    val nearDups = docs.where(col("doc_id") < 10)
      .select((col("doc_id") + 5000000L).as("doc_id"),
        concat_ws(" ", slice(ts, lit(1), size(ts) - 1)).as("text"))
    val novelText = Seq.tabulate(40)(i => s"novelz$i tokz$i").mkString(" ")
    val novel = Seq((6000000L, novelText), (6000001L, novelText))
      .toDF("doc_id", "text")
    val batch = nearDups.unionByName(novel)
    val survivors = Dedup.dedupeAgainstIndex(spark, batch, path,
        "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    // both novel copies survive (within-batch dup untouched); every planted
    // near-dup of an indexed doc is gone
    assert(survivors == Set(6000000L, 6000001L), s"got $survivors")
  }

  test("simHash: order-invariant — token-permuted copies at hamming 0") {
    // SimHash is a bag-of-tokens signature: reordering tokens must not change it.
    val permuted = docs.where(col("doc_id") < 40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", reverse(tokens(col("text")))).as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(permuted)
    val pairs = Dedup.simHash(all, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    val hits = (0L until 40L).count(i => pairs.get((i, i + 1000000L)).contains(0))
    assert(hits == 40, s"simhash hamming-0 hits $hits/40")
  }

  test("ngramJaccard agrees with brute-force jaccard on a sample") {
    val sample = docs.where(col("doc_id") < 60)
    val got = Dedup.ngramJaccard(sample, "doc_id", "text", 3, 0.05, maxDf = None)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // brute force over all pairs of the sample
    val sh = sample.select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b) {
      val inter = (sh(a) & sh(b)).size
      val j = inter.toDouble / (sh(a).size + sh(b).size - inter)
      if (j >= 0.05)
        assert(got.contains((a, b)) &&
          math.abs(got((a, b)) - BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6,
          s"pair ($a,$b) j=$j got=${got.get((a, b))}")
      else assert(!got.contains((a, b)))
    }
  }

  test("ngramJaccard maxDf cap: near-identical pairs survive, scores lower-bound") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8, maxDf = None)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.nonEmpty) // the corpus plants near-duplicates
    // a generous cap (shingle df <= 10) must keep every high-sim pair: their
    // shared shingles are overwhelmingly rare ones
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8, maxDf = Some(10))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    exact.keys.foreach { k => assert(capped.contains(k), s"capped run lost pair $k") }
    // lower-bound property: capped jaccard never exceeds the exact value
    capped.foreach { case (k, j) =>
      assert(exact.contains(k) && j <= exact(k) + 1e-9, s"pair $k capped=$j")
    }
  }

  test("ngramJaccard caps by default (maxDf=1000), matching the explicit cap") {
    // the family-wide default: a caller who types nothing gets the bounded
    // quadratic tail, not the unbounded exact computation
    val default_ = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8)
    val explicit_ = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8, maxDf = Some(1000))
    assert(default_.queryExecution.analyzed.toString.contains("CollectMetrics"),
      "default ngramJaccard plan is missing the capped-postings metric node")
    val d = default_.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val e = explicit_.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(d == e && d.nonEmpty)
  }

  test("shingleContainment catches embedded quotes jaccard misses") {
    val ts = tokens(col("text"))
    val quotes = docs.where(col("doc_id") < 40)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(ts, lit(1), lit(15))).as("text"))
    val all = docs.select(col("doc_id"), col("text")).unionByName(quotes)
    val cont = Dedup.shingleContainment(all, "doc_id", "text", 3, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    (0L until 40L).foreach { i =>
      assert(cont.get((i, i + 1000000L)).exists(_ >= 0.999),
        s"quote of $i missed: ${cont.get((i, i + 1000000L))}")
    }
    // the symmetric measure is blind to them when the source is long: ~13
    // shared shingles against a big union dilutes jaccard below any sane
    // threshold (short sources where quote ≈ whole doc are excluded — there
    // jaccard and containment legitimately agree)
    val longIds = docs.where(col("doc_id") < 40)
      .select(col("doc_id"), size(array_distinct(shingles(col("text"), 3))).as("n"))
      .collect().filter(_.getInt(1) >= 30).map(_.getLong(0)).toSet
    assert(longIds.size >= 10, s"corpus too short for the blindness half: $longIds")
    val jac = Dedup.ngramJaccard(all, "doc_id", "text", 3, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    longIds.foreach { i =>
      assert(!jac.contains((i, i + 1000000L)), s"jaccard unexpectedly caught $i")
    }
  }

  test("shingleContainment matches brute-force inter/min on a sample") {
    val sample = docs.where(col("doc_id") < 60)
    val got = Dedup.shingleContainment(sample, "doc_id", "text", 3, 0.3, maxDf = None)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val sh = sample.select(col("doc_id"), array_distinct(shingles(col("text"), 3)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    for (a <- ids; b <- ids if a < b) {
      val inter = (sh(a) & sh(b)).size
      val c = inter.toDouble / math.min(sh(a).size, sh(b).size)
      if (c >= 0.3) {
        val g = got.get((a, b))
        assert(g.exists { case (na, nb, in, cv) =>
          na == sh(a).size && nb == sh(b).size && in == inter &&
            math.abs(cv - BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-6 },
          s"pair ($a,$b) c=$c got=$g")
      } else assert(!got.contains((a, b)), s"pair ($a,$b) c=$c below threshold but emitted")
    }
  }

  test("exact dedup finds planted identical copies") {
    val dup = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.where(col("doc_id") < 5)
        .select((col("doc_id") + 5000L).as("doc_id"), col("text")))
    val out = Dedup.exact(dup, "doc_id", "text")
    assert(out.where(col("n_dups") === 2).count() == 5)
    assert(out.count() == docs.count()) // 500 distinct texts
    val fp = Dedup.exactByFingerprint(dup, "doc_id", "text")
    assert(fp.where(col("n_dups") === 2).count() == 5)
  }

  test("bucketed ANN corpus: partition pruning at the scan, same results") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val corpus = emb.where(col("vec_id") =!= 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ann").toString + "/c"
    Similarity.writeBucketedCorpus(corpus, "vec_id", "embedding", path, nBits = 6)
    val pruned = Similarity.annTopKFromBucketed(spark, path,
      "vec_id", "embedding", q, 10, nBits = 6)
    // pruning is PATH SELECTION since round 12: the scan's input files must
    // all sit inside the probed buckets' live generation dirs, and unprobed
    // leaves are never listed (strictly stronger than a partition filter)
    val qb = Similarity.SrpScheme.xxh.compute(q.toArray, 6)
    val probes = (qb +: (0 until 6).map(b => qb ^ (1L << b))).map(p => s"bucket=$p").toSet
    val touched = pruned.inputFiles.map(f =>
      f.split('/').find(_.startsWith("bucket=")).getOrElse("?")).toSet
    assert(touched.nonEmpty && touched.subsetOf(probes),
      s"scan must touch only probed buckets: $touched vs $probes")
    val allLeaves = new java.io.File(path).listFiles()
      .count(d => d.isDirectory && d.getName.startsWith("bucket="))
    assert(touched.size < allLeaves,
      s"probe must prune the layout: ${touched.size} of $allLeaves leaves")
    // and results are identical to the unpartitioned path
    val a = pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Similarity.annTopK(corpus, "vec_id", "embedding", q, 10, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("ivfCentroids is deterministic and ivfTopK recalls planted neighbors") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val c1 = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 8)
    val c2 = Similarity.ivfCentroids(emb, "vec_id", "embedding", k = 8)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "training not deterministic")
    // plant 10 exact copies of vec 3; IVF with its own cell probed must return
    // them all at k=10 (identical vectors share the query's cell, cos ~ 1)
    val q = emb.where(col("vec_id") === 3).head().getSeq[Float](1)
    val planted = emb.where(col("vec_id") === 3)
      .select(explode(sequence(lit(0), lit(9))).as("i"), col("embedding"))
      .select((col("i") + 8000L).as("vec_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") =!= 3).unionByName(planted)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", k = 8)
    val got = Similarity.ivfTopK(corpus, "vec_id", "embedding", q, 10, cents, nProbe = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(got == (0 until 10).map(_ + 8000L).toSet, s"got $got")
  }

  test("persisted IVF corpus: partition pruning at the scan, same results") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val corpus = emb.where(col("vec_id") =!= 0)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/c"
    Similarity.writeIvfCorpus(corpus, "vec_id", "embedding", path, cents)
    val nProbe = 2
    val pruned = Similarity.ivfTopKFromPartitioned(spark, path,
      "vec_id", "embedding", q, 10, cents, nProbe)
    // the probe IN-list must land in PartitionFilters (pre-read pruning),
    // not a post-read data filter on cell
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell probe not pushed to partition pruning:\n${plan.take(800)}")
    // the scan must touch only the probed cells' files — count data files
    // under probed vs all cell directories
    def filesUnder(dir: java.io.File): Seq[java.io.File] = {
      val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(filesUnder)
    }
    val cellDirs = Option(new java.io.File(path).listFiles()).get
      .filter(d => d.isDirectory && d.getName.startsWith("cell="))
    val totalFiles = cellDirs.flatMap(filesUnder)
      .count(_.getName.endsWith(".parquet"))
    pruned.collect() // materialize so the scan's file-count metric populates
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .find(_.nodeName.toLowerCase.contains("scan")).get
    val probedFiles = scan.metrics.get("numFiles").map(_.value).getOrElse(-1L)
    assert(probedFiles >= 1 && probedFiles < totalFiles,
      s"scan read $probedFiles of $totalFiles files — no pruning happened")
    // and results are identical to the unpartitioned path
    val a = pruned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Similarity.ivfTopK(corpus, "vec_id", "embedding", q, 10, cents, nProbe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == b)
  }

  test("pqTrain is deterministic; pqTopK ranks planted exact copies first; " +
      "ADC arithmetic replays driver-side") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val cb1 = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
    val cb2 = Similarity.pqTrain(e, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
    assert(cb1.cents.map(_.map(_.toSeq).toSeq).toSeq ==
           cb2.cents.map(_.map(_.toSeq).toSeq).toSeq, "training not deterministic")
    // plant 5 exact copies of vec 11 (q110's construction): an exact copy's
    // code is the per-subspace argmin of the query's distance table, so its
    // ADC distance is the GLOBAL minimum — a correct PQ must rank the copies
    // (ties by id) at the top unless an organic vector shares the full code
    val q = e.where(col("vec_id") === 11).head().getSeq[Float](1)
    val planted = e.where(col("vec_id") === 11)
      .select(explode(sequence(lit(0), lit(4))).as("i"), col("embedding"))
      .select((col("i") + 9200L).as("vec_id"), col("embedding"))
    val corpus = e.where(col("vec_id") =!= 11).unionByName(planted)
    val cb = Similarity.pqTrain(corpus, "vec_id", "embedding", m = 8, ksub = 16, iters = 2)
    val codes = Similarity.pqEncode(corpus, "vec_id", "embedding", cb)
    // codes: length m, every entry a valid centroid index
    val bad = codes.where(size(col("code")) =!= cb.m ||
      exists(col("code"), c => c < 0 || c >= cb.ksub)).count()
    assert(bad == 0, s"$bad malformed codes")
    val top = Similarity.pqTopK(codes, "vec_id", "code", cb, q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq == (0 until 5).map(_ + 9200L),
      s"planted copies not top-ranked: ${top.toSeq}")
    // the copies' ADC distance is the sum of per-subspace table minima —
    // recompute the table driver-side with the same left-fold arithmetic
    val globalMin = (0 until cb.m).map { j =>
      cb.cents(j).map { c =>
        c.indices.map { i =>
          val d = q(j * cb.subDim + i).toDouble - c(i); d * d
        }.reduce(_ + _)
      }.min
    }.reduce(_ + _)
    top.foreach { case (id, dist) =>
      assert(math.abs(dist - globalMin) < 1e-9,
        s"copy $id adc_dist $dist != table-minima sum $globalMin")
    }
  }

  test("annCrossTopK matches single-query annTopK; recallAtK gauges exactly") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val queries = e.where(col("vec_id") < 3)
    val corpus = e.where(col("vec_id") >= 3)
    val batch = Similarity.annCrossTopK(corpus, queries, "vec_id", "embedding",
        k = 5, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    for (qid <- 0L until 3L) {
      val qv = e.where(col("vec_id") === qid).head().getSeq[Float](1)
      val single = Similarity.annTopK(corpus, "vec_id", "embedding", qv, 5, nBits = 6)
        .collect().map(_.getLong(0)).toSeq
      val got = batch.filter(_._1 == qid).sortBy(_._3).map(_._2).toSeq
      assert(got == single, s"query $qid: $got vs $single")
    }
    // recallAtK on hand-built tables; duplicated approx rows must not inflate
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L)).toDF("q", "id")
    val approx = Seq((1L, 10L), (1L, 10L), (1L, 99L), (2L, 20L)).toDF("q", "id")
    val rec = Similarity.recallAtK(exact, approx, "q", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(rec.toSeq == Seq((1L, 1L, 3L, 1.0 / 3), (2L, 1L, 1L, 1.0)))
  }

  test("hardNegatives: positives (self, planted copies) excluded before " +
      "ranking; equals the positive-filtered candidate ranking") {
    val e = emb.select(col("vec_id"), col("embedding"))
    val queries = e.where(col("vec_id") < 3)
    // corpus CONTAINS the queries plus exact 2x-scaled copies (cos 1.0)
    val copies = queries.select((col("vec_id") + 9000L).as("vec_id"),
      transform(col("embedding"), x => x * 2.0f).as("embedding"))
    val corpus = e.unionAll(copies)
    val thr = 0.95
    val got = Similarity.hardNegatives(corpus, queries, "vec_id", "embedding",
        k = 8, posThreshold = thr, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    // no positive leaks: every returned cosine is strictly below the band,
    // and neither the query itself nor its copy appears
    assert(got.forall(_._3 < thr))
    for ((qid, cid, _, _) <- got) assert(cid != qid && cid != qid + 9000L)
    // equals re-ranking the FULL candidate set (k large enough to keep all)
    // after the same filter — the operator is exactly "filter then rank"
    val all = Similarity.annCrossTopK(corpus, queries, "vec_id", "embedding",
        k = 1000000, nBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = all.groupBy(_._1).toSeq.flatMap { case (qid, cands) =>
      cands.filter(_._3 < thr)
        .sortBy { case (_, cid, cos) => (-cos, cid) }.take(8).zipWithIndex
        .map { case ((_, cid, cos), i) => (qid, cid, cos, i + 1) }
    }.sortBy(t => (t._1, t._4))
    assert(got.sortBy(t => (t._1, t._4)).toSeq == expect)
  }

  test("annTopK finds planted true neighbors (recall ≥ 0.9 at k=20)") {
    // plant 20 positive-scaled copies of the query: cosine exactly 1.0 and the
    // hyperplane bucket is scale-invariant, so a correct ANN must return them.
    val q = emb.where(col("vec_id") === 7).select(col("embedding")).head().getSeq[Float](0)
    val copies = emb.where(col("vec_id") === 7)
      .crossJoin(spark.range(1, 21).select(col("id")))
      .select((col("id") + 8000L).as("vec_id"),
        transform(col("embedding"), x => x * (lit(1.0f) + col("id").cast("float") / 100f))
          .as("embedding"))
    val corpus = emb.where(col("vec_id") =!= 7).select(col("vec_id"), col("embedding"))
      .unionByName(copies)
    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", q, 20)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annTopK(corpus, "vec_id", "embedding", q, 20, nBits = 8)
      .collect().map(_.getLong(0)).toSet
    assert(brute.count(_ >= 8000L) == 20) // the planted copies ARE the top-20
    val recall = (brute & ann).size.toDouble / 20
    assert(recall >= 0.9, s"ANN recall $recall")
  }

  test("embeddingNearDup finds planted duplicate vectors") {
    val planted = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 9000L).as("vec_id"), col("embedding")))
    val pairs = Dedup.embeddingNearDup(planted, "vec_id", "embedding",
      threshold = 0.999, nBits = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = (0L until 10L).count(i => pairs.contains((i, i + 9000L)))
    assert(hits == 10, s"identical-vector pairs found $hits/10")
  }

  test("removeDuplicates: every duplicate pair loses its larger id; minima survive") {
    val pairs = Dedup.minHashLSH(withPlanted, "doc_id", "text",
      shingleSize = 3, numHashes = 128, rowsPerBand = 4, threshold = 0.7)
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val cleaned = Dedup.removeDuplicates(withPlanted, pairs, "doc_id")
    val ids = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    pairRows.foreach { case (_, b) => assert(!ids.contains(b), s"id_b $b survived") }
    assert(ids.contains(0L)) // the global minimum can never be an id_b
    val survivingCopies = (0L until 40L).count(i => ids.contains(i + 1000000L))
    assert(survivingCopies <= 4, s"$survivingCopies planted copies survived")
    assert(cleaned.count() == withPlanted.count() - pairRows.map(_._2).distinct.length)
  }

  test("clusterDuplicates: chains collapse to one component; long chain converges") {
    // Two chains (0-1-2-3, 10-11) plus a 20-node path — transitive pairs never
    // listed directly must still share one rep (the chain's minimum).
    val chain = (100L until 119L).map(i => (i, i + 1))
    val pairs = (Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)) ++ chain)
      .toDF("id_a", "id_b")
    val got = Dedup.clusterDuplicates(pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (0L to 3L).foreach(i => assert(got(i) == (0L, 4L), s"node $i -> ${got(i)}"))
    assert(got(10L) == (10L, 2L) && got(11L) == (10L, 2L))
    (100L to 119L).foreach(i => assert(got(i) == (100L, 20L), s"node $i -> ${got(i)}"))
    assert(got.size == 26)
  }

  test("clusterDuplicates: cluster-based removal refines pair-based keep-first") {
    val pairs = Dedup.minHashLSH(withPlanted, "doc_id", "text",
      shingleSize = 3, numHashes = 128, rowsPerBand = 4, threshold = 0.7)
    val clusters = Dedup.clusterDuplicates(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairSurvivors = Dedup.removeDuplicates(withPlanted, pairs, "doc_id")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val allIds = withPlanted.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // A cluster's rep (its min id) never sits on the id_b side of a pair, so
    // pair-based keep-first always keeps it; and every node pair-based drops
    // is non-min in its cluster, so cluster-based removal drops it too.
    val reps = clusters.values.toSet
    val clusterSurvivors = (allIds -- clusters.keySet) ++ reps
    assert(reps.subsetOf(pairSurvivors))
    assert(clusterSurvivors.subsetOf(pairSurvivors))
    // every cluster member shares its rep, and the rep is a member
    clusters.foreach { case (id, rep) => assert(clusters(rep) == rep && rep <= id) }
  }

  test("clusterDuplicates: string ids cluster correctly (type-agnostic convergence)") {
    // A 5-node path needs >1 propagation round; the decimal-sum convergence
    // shortcut nulls out on string ids and would stop after round 1 with
    // under-merged clusters (round-5 advisory) — the changed-row fallback
    // must keep iterating to the true fixpoint.
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("id_a", "id_b")
    val got = Dedup.clusterDuplicates(pairs)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.size == 5)
    Seq("a", "b", "c", "d", "e").foreach(i =>
      assert(got(i) == ("a", 5L), s"node $i -> ${got(i)}"))
  }

  test("clusterDuplicates: decimal ids with an overflowing rep sum still converge") {
    // Three decimal(38,0) ids of ~9e37: every round's rep sum exceeds the
    // decimal(38,0) range, so the label-sum convergence shortcut is
    // unavailable ALL the way to the fixpoint (null under non-ANSI,
    // SparkArithmeticException under ANSI — the Spark 4 default). The
    // operator must fall back to the changed-row check each round and still
    // produce the full 3-node cluster (round-6 advisory: two overflowed
    // rounds must not compare as equal sums and stop early).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val a = new java.math.BigDecimal("90000000000000000000000000000000000000")
    val b = a.add(java.math.BigDecimal.ONE)
    val c = b.add(java.math.BigDecimal.ONE)
    val schema = StructType(Seq(
      StructField("id_a", DecimalType(38, 0)), StructField("id_b", DecimalType(38, 0))))
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(a, b), Row(b, c))), schema)
    val out = Dedup.clusterDuplicates(pairs).collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getDecimal(1).compareTo(a) == 0, s"rep ${r.getDecimal(1)}")
      assert(r.getLong(2) == 3L)
    }
  }

  test("clusterDuplicates: never mutates the session's shuffle partitions") {
    // The loop sizes its own shuffles via explicit repartition; a query run
    // concurrently on the same session must see the session setting at every
    // point during the loop (round-5 advisory: the old implementation set
    // spark.sql.shuffle.partitions globally for the loop's duration).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val before = spark.sessionState.conf.numShufflePartitions
    val chain = (0L until 60L).map(i => (i, i + 1))
    val fut = Future(Dedup.clusterDuplicates(chain.toDF("id_a", "id_b")).count())
    var observed = Set.empty[Int]
    while (!fut.isCompleted) {
      observed += spark.sessionState.conf.numShufflePartitions
      Thread.sleep(2)
    }
    assert(Await.result(fut, 1.minute) == 61L)
    assert(observed == Set(before),
      s"session shuffle partitions drifted during the loop: $observed")
    assert(spark.sessionState.conf.numShufflePartitions == before)
  }

  /** Run `body`, then wait for the named observed metric to arrive via the
    * (async) QueryExecutionListener bus. Returns the metric row, or None on
    * timeout. Register-first semantics: works for operators that materialize
    * eagerly inside the call (Eager contract). */
  private def observedMetric(name: String)(body: => Unit): Option[org.apache.spark.sql.Row] = {
    @volatile var row: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        // metric names carry a per-call uniqueness suffix — match by prefix
        qe.observedMetrics.collectFirst {
          case (k, r) if k.startsWith(name) => r
        }.foreach(r => row = Some(r))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 30000
      while (row.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      row
    } finally spark.listenerManager.unregister(listener)
  }

  /** Planted shared-run corpus: docs 1 and 2 share one 30-token run at
    * different offsets (license-header case); doc 3 is fully disjoint. */
  private def plantedRunDocs = {
    val shared = (0 until 30).map(i => s"s$i").mkString(" ")
    Seq(
      (1L, (0 until 50).map(i => s"a$i").mkString(" ") + " " + shared + " " +
        (0 until 40).map(i => s"b$i").mkString(" ")),
      (2L, (0 until 25).map(i => s"c$i").mkString(" ") + " " + shared + " " +
        (0 until 10).map(i => s"d$i").mkString(" ")),
      (3L, (0 until 100).map(i => s"e$i").mkString(" "))
    ).toDF("doc_id", "text")
  }

  test("sharedSubstringPairs: planted 30-token run found; disjoint docs absent") {
    val got = Dedup.sharedSubstringPairs(plantedRunDocs, "doc_id", "text",
        minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // a 30-token run shares 30-20+1 = 11 distinct 20-shingles
    assert(got == Map((1L, 2L) -> 11L), s"got $got")
    // no pair survives a minTokens above the planted run length
    assert(Dedup.sharedSubstringPairs(plantedRunDocs, "doc_id", "text",
      minTokens = 31).isEmpty)
  }

  test("sharedSubstringPairs: maxDf prunes boilerplate shared by many docs") {
    val boiler = (0 until 25).map(i => s"x$i").mkString(" ")
    val many = (0L until 5L).map(i =>
      (i, (0 until 10).map(j => s"u${i}_$j").mkString(" ") + " " + boiler))
      .toDF("doc_id", "text")
    assert(Dedup.sharedSubstringPairs(many, "doc_id", "text",
      minTokens = 20, maxDf = 10).count() == 10) // C(5,2) pairs
    // cap below the posting df: the boilerplate shingles drop, no pairs remain
    assert(Dedup.sharedSubstringPairs(many, "doc_id", "text",
      minTokens = 20, maxDf = 2).isEmpty)
    // dropped-shingle observability: add a RARE shared run (df=2, under the
    // cap) so the capped result is non-empty — AQE's empty-relation
    // propagation prunes the metric node together with a fully-empty plan
    val rare = (0 until 20).map(i => s"y$i").mkString(" ")
    val corpus = many.unionByName(
      Seq((10L, "p1 " + rare), (11L, "p2 " + rare)).toDF("doc_id", "text"))
    val m = observedMetric("shared_substring_pairs_stats") {
      val got = Dedup.sharedSubstringPairs(corpus, "doc_id", "text",
        minTokens = 20, maxDf = 2).collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    }
    // 25-token boilerplate in 5 docs ⇒ 6 over-cap 20-shingles dropped
    assert(m.map(_.getLong(0)).contains(6L), s"observed metric: $m")
  }

  test("capped operators compose: two calls of one operator in one plan") {
    // round-7 advisory: a fixed CollectMetrics name made two calls of the
    // same capped operator fail analysis with 'multiple definitions of
    // observed metrics' when combined in a single plan. Names are now
    // per-call unique, so union/join compositions must analyze and run.
    val a = docs.where(col("doc_id") < 250)
    val b = docs.where(col("doc_id") >= 250)
    val both = Dedup.sharedSubstringPairs(a, "doc_id", "text", minTokens = 20)
      .unionByName(Dedup.sharedSubstringPairs(b, "doc_id", "text", minTokens = 20))
    both.collect() // analysis would have thrown before the fix
    val j = Dedup.ngramJaccard(a, "doc_id", "text", 3, 0.8)
      .unionByName(Dedup.ngramJaccard(b, "doc_id", "text", 3, 0.8))
    assert(j.collect().length >= 0)
  }

  test("ngramJaccard: dropped-shingle metric arrives on a non-empty capped run") {
    // boilerplate in 5 docs (df=5, over cap 2) + one rare pair keeping the
    // result non-empty so AQE cannot prune the metric node
    val boiler = (0 until 6).map(i => s"x$i").mkString(" ")
    val corpus = ((0L until 5L).map(i => (i, s"u$i " + boiler)) ++
      Seq((10L, "alpha beta gamma delta"), (11L, "alpha beta gamma delta")))
      .toDF("doc_id", "text")
    val m = observedMetric("ngram_jaccard_stats") {
      val got = Dedup.ngramJaccard(corpus, "doc_id", "text", 3, 0.9,
        maxDf = Some(2)).collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    }
    assert(m.exists(_.getLong(0) > 0), s"dropped-shingle metric: $m")
  }

  test("sharedSubstringSpans: occurrence cap bounds the in-row pair blowup") {
    // two docs, ONE shared 20-shingle repeated 30× in each — passes any
    // maxDf ≥ 2 but holds 60 occurrences in one posting row (the round-6
    // advisory case: maxDf counts documents, not occurrences)
    val rep = ((0 until 20).map(i => s"r$i").mkString(" ") + " pad ") * 30
    val two = Seq((1L, rep), (2L, rep)).toDF("doc_id", "text")
    val uncapped = Dedup.sharedSubstringSpans(two, "doc_id", "text",
      minTokens = 20, maxDf = 10, maxOccurrences = 4000)
    assert(uncapped.count() >= 1)
    // occurrence cap below the posting size: every over-cap shingle drops
    // (nothing from the repeated docs survives to pair), while a RARE
    // unrepeated run (docs 3,4 — 2 occurrences, under both caps) still pairs,
    // keeping the plan non-empty so AQE cannot prune the metric node. The
    // operator is lazy; the metric fires when the collect() below executes
    // the plan (which contains the observe node twice — same name, same
    // subtree, the allowed duplicate-metrics form).
    val rare = (0 until 20).map(i => s"y$i").mkString(" ")
    val four = two.unionByName(
      Seq((3L, "p1 " + rare), (4L, "p2 " + rare)).toDF("doc_id", "text"))
    val m = observedMetric("shared_substring_spans_stats") {
      val got = Dedup.sharedSubstringSpans(four, "doc_id", "text",
        minTokens = 20, maxDf = 10, maxOccurrences = 10).collect()
      assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
    }
    assert(m.exists(_.getLong(0) > 0), s"dropped-shingle metric: $m")
  }

  test("sharedSubstringSpans: planted run length recovered exactly") {
    val got = Dedup.sharedSubstringSpans(plantedRunDocs, "doc_id", "text",
        minTokens = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // longest shared run = exactly the planted 30 tokens, despite different
    // offsets in the two documents (diagonal ≠ 0)
    assert(got == Map((1L, 2L) -> (11L, 30L)), s"got $got")
  }

  test("cutSharedSpans: first doc keeps the run, later docs lose exactly it") {
    val shared = (0 until 30).map(i => s"s$i").mkString(" ")
    val d1 = (0 until 50).map(i => s"a$i").mkString(" ") + " " + shared + " " +
      (0 until 40).map(i => s"b$i").mkString(" ")
    val d2 = (0 until 25).map(i => s"c$i").mkString(" ") + " " + shared + " " +
      (0 until 10).map(i => s"d$i").mkString(" ")
    val d3 = (0 until 100).map(i => s"e$i").mkString(" ")
    val corpus = Seq((1L, d1), (2L, d2), (3L, d3), (4L, shared))
      .toDF("doc_id", "text")
    val out = Dedup.cutSharedSpans(corpus, "doc_id", "text", minTokens = 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    // min-id doc and the disjoint doc pass through VERBATIM
    assert(out(1L) == ((d1, 120L, false)))
    assert(out(3L) == ((d3, 100L, false)))
    // doc 2: exactly the planted 30-token run spliced out (covered positions
    // are the union of its shared-shingle spans — nothing more on either side)
    val d2cut = (0 until 25).map(i => s"c$i").mkString(" ") + " " +
      (0 until 10).map(i => s"d$i").mkString(" ")
    assert(out(2L) == ((d2cut, 35L, true)))
    // doc 4 IS the run: fully covered ⇒ empty output, still present
    assert(out(4L) == (("", 0L, true)))
  }

  test("cutSharedSpans: multi-space text — positions index the FILTERED tokens") {
    // shingle positions come from ShingleHashes (empties skipped in the loop)
    // and the rebuild re-tokenizes with tokens() (empties filtered): both
    // must index the same filtered sequence or the cut lands off-target
    val run = (0 until 25).map(i => s"r$i").mkString(" ")
    val corpus = Seq(
      (1L, "x0 x1 " + run),
      (2L, "y0  y1   " + run + "  y2"), // extra spaces around the run
      (3L, "a0  a1")) // untouched: must pass through VERBATIM, spaces intact
      .toDF("doc_id", "text")
    val out = Dedup.cutSharedSpans(corpus, "doc_id", "text", minTokens = 20)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L)._3 == false) // min id keeps the run
    assert(out(2L) == (("y0 y1 y2", 3L, true))) // exactly the run cut, nothing else
    assert(out(3L) == (("a0  a1", 2L, false))) // verbatim, double space preserved
  }

  test("cutSharedSpans: over-cap boilerplate is NOT cut (under-cut contract)") {
    val boiler = (0 until 25).map(i => s"x$i").mkString(" ")
    val many = (0L until 5L).map(i =>
      (i, (0 until 10).map(j => s"u${i}_$j").mkString(" ") + " " + boiler))
      .toDF("doc_id", "text")
    // cap below the boilerplate's df: no shingle survives to drive a cut
    val out = Dedup.cutSharedSpans(many, "doc_id", "text",
      minTokens = 20, maxDf = 2)
    assert(out.where(col("was_cut")).isEmpty)
    assert(out.count() == 5)
  }

  test("minHashLSH pair set equals exact ngramJaccard pair set on the corpus") {
    // q75's oracle derives clusters from EXACT Jaccard pairs while the Spark
    // side clusters LSH candidates — this pins the set equivalence that makes
    // that oracle structural rather than a banding-recall bet (q27 precedent,
    // round-6 advisory).
    val lsh = Dedup.minHashLSH(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 128, rowsPerBand = 4, threshold = 0.8)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // maxDf = None: the reference side of the LSH==exact claim (which the
    // q27/q72/q80 oracles cite) must be truly exact, not the capped default
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.8, maxDf = None)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact,
      s"missed=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("quantizeInt8: bounded round-trip error, zero-vector contract, rank preservation") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .withColumn("deq", Similarity.dequantizeInt8())
    // per-element |v - q·scale| < scale (floor drift is under one quantum)
    val viol = q.join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
      .select(explode(arrays_zip(col("embedding"), col("deq"))).as("z"), col("scale"))
      .where(abs(col("z.embedding").cast("double") - col("z.deq").cast("double"))
        >= col("scale") + lit(1e-9))
    assert(viol.isEmpty, "dequantized element drifted a full quantum or more")
    // quantized values stay in int8 range
    val range = q.select(explode(col("qvec")).as("qi"))
      .where(col("qi") > 127 || col("qi") < -127)
    assert(range.isEmpty)
    // zero vector: scale 0, all-zero qvec (no NaN/divide-by-zero leak)
    import spark.implicits._
    val z = Similarity.quantizeInt8(
      Seq((1L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
      .head()
    assert(z.getDouble(1) == 0.0 && z.getSeq[Byte](2).forall(_ == 0))
    // ranking survives quantization: brute-force top-5 on dequantized vectors
    // overlaps the exact top-5 (int8 keeps ~2 decimal digits of direction)
    val query = emb.where(col("vec_id") === 0).head().getSeq[Float](1)
    val exact = Similarity.bruteForceTopK(emb.where(col("vec_id") > 0),
      "vec_id", "embedding", query, 5).collect().map(_.getLong(0)).toSet
    val deqDf = q.where(col("id") > 0).select(col("id").as("vec_id"),
      Similarity.dequantizeInt8().as("embedding"))
    val approx = Similarity.bruteForceTopK(deqDf, "vec_id", "embedding", query, 5)
      .collect().map(_.getLong(0)).toSet
    assert((exact & approx).size >= 4, s"quantization broke ranking: $exact vs $approx")
    // direct int8 scoring (scale-invariant cosine) ranks like the dequantized
    // path — the scan that reads a quarter of the bytes must not cost recall
    val direct = Similarity.quantizedTopK(q.where(col("id") > 0), "id", "qvec",
      query, 5).collect().map(_.getLong(0)).toSet
    assert((exact & direct).size >= 4, s"int8 scoring broke ranking: $exact vs $direct")
  }

  test("semanticDedup: within-cell near-dups drop the member nearer its centroid") {
    // plant an exact copy (id 9000+base) of every 10th vector
    val copies = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"))
    val corpus = emb.select(col("vec_id"), col("embedding")).unionAll(copies)
    val out = Similarity.semanticDedup(corpus, "vec_id", "embedding",
      k = 5, tau = 0.99)
    val survivors = out.collect().map(_.getLong(0)).toSet
    val planted = copies.collect().map(_.getLong(0)).toSet
    // an exact copy ties on cent_cos, so the HIGHER id (the copy) drops;
    // every original and every non-planted row survives
    assert((survivors & planted).isEmpty, s"planted copies survived: ${survivors & planted}")
    assert(survivors == emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet)
    // deterministic under repartitioning (exact integer arithmetic end to end)
    val out2 = Similarity.semanticDedup(corpus.repartition(7), "vec_id",
      "embedding", k = 5, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out2 == out.collect().map(r => (r.getLong(0), r.getInt(1))).toSet)
    // cells partition the survivor set into k non-empty-ish groups (k=5 over
    // ~50 vectors: at least 2 distinct cells must appear)
    assert(out.select(col("cell")).distinct().count() >= 2)
  }

  test("crossTopK ranks within each query, excludes self") {
    val small = emb.where(col("vec_id") < 30)
    val out = Similarity.crossTopK(small, small.where(col("vec_id") < 3),
      "vec_id", "embedding", 5).collect()
    assert(out.length == 15)
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    val perQ = out.groupBy(_.getLong(0))
    perQ.values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(byRank.zip(byRank.tail).forall { case (hi, lo) => hi >= lo })
    }
  }

  test("multimodal: payload schema, deterministic stub decode, frame sampling") {
    val m = Multimodal.attachPayload(docs.limit(20), "text")
    assert(m.schema("media").dataType.typeName == "binary")
    assert(m.schema("media_meta").dataType.typeName == "struct")
    val feats = Multimodal.decodeFeatures(m, "doc_id", "media")
    val f1 = feats.orderBy(col("doc_id")).collect().map(_.getSeq[Float](1))
    val f2 = Multimodal.decodeFeatures(m, "doc_id", "media")
      .orderBy(col("doc_id")).collect().map(_.getSeq[Float](1))
    assert(f1.zip(f2).forall { case (a, b) => a == b }) // deterministic
    assert(f1.forall(_.size == 8))
    val sampled = Multimodal.sampleFrameIndexes(m, stride = 5)
    sampled.select(col("media_meta.n_frames"), col("frame_idx")).collect().foreach { r =>
      val nf = r.getInt(0); val idx = r.getSeq[Int](1)
      assert(idx.head == 0 && idx.forall(_ < nf.max(1)))
    }
    val repart = Multimodal.repartitionForBlobs(m, "media", 1024)
    assert(repart.rdd.getNumPartitions >= 1)
    // resize stub: metadata reflects the target geometry, payload bounded by it
    val resized = Multimodal.resizeStub(m, 16, 16)
    resized.select(col("media_meta.width"), col("media_meta.height"),
      col("media_meta.bytes"), octet_length(col("media"))).collect().foreach { r =>
      assert(r.getInt(0) == 16 && r.getInt(1) == 16)
      assert(r.getLong(2) <= 256 && r.getLong(2) == r.getInt(3).toLong)
    }
  }

  test("normalize: case/punctuation-insensitive equality for dedup preprocessing") {
    val df = Seq("Hello,   World! (v2)", "hello world v2", "different").toDF("t")
    val n = df.select(TextOps.normalize(col("t"))).collect().map(_.getString(0))
    assert(n(0) == "hello world v2" && n(0) == n(1) && n(2) == "different")
  }

  test("text metrics: profile columns, langId deterministic tie-break") {
    val p = TextOps.profile(docs.limit(50), "doc_id", "text")
    assert(p.columns.toSeq == Seq("doc_id", "lang_pred", "quality", "n_tokens", "fp"))
    assert(p.where(col("quality") < 0 || col("quality") > 1).count() == 0)
    val l = Seq("the la le", "zzz yyy", "der und la le").toDF("text")
      .select(TextOps.langId(col("text"))).collect().map(_.getString(0))
    assert(l(0) == "fr")  // en=1 ('the') < fr=2 ('la','le') → fr
    assert(l(1) == "und") // no marker hits
    assert(l(2) == "de")  // de=2 ties fr=2 → first-listed tied language wins
  }

  test("cutContaminatedSpans: exactly the benchmark run spliced, clean docs " +
      "verbatim, full containment empties, short-doc whole-shingle rule") {
    val benchRun = (1 to 8).map(i => s"q$i").mkString(" ")
    val bench = Seq(benchRun, "b1 b2").toDF("text")
    val train = Seq(
      // run embedded mid-doc: spans [2,9] cut, unique content survives
      (1L, "u1 u2 " + benchRun + " u3 u4"),
      (2L, "clean words only here nothing shared with the benchmark at all"),
      (3L, benchRun), // fully contaminated → empty, still present
      // short docs (<8 tokens) shingle as ONE whole-doc shingle: an exact
      // copy of the short bench doc is cut; a superstring is NOT (its single
      // whole-doc shingle differs) — the documented short-doc semantics
      (4L, "b1 b2"),
      (5L, "x b1 b2 y"))
      .toDF("doc_id", "text")
    val out = Dedup.cutContaminatedSpans(train, "doc_id", "text",
        bench, "text", minTokens = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out(1L) == (("u1 u2 u3 u4", 4L, true)))
    assert(out(2L)._3 == false &&
      out(2L)._1 == "clean words only here nothing shared with the benchmark at all")
    assert(out(3L) == (("", 0L, true)))
    assert(out(4L) == (("", 0L, true)))
    assert(out(5L) == (("x b1 b2 y", 4L, false)))
  }

  test("cutContaminatedSpans: overlapping benchmark shingles cut the union " +
      "of covered spans; no df cap protects a common benchmark run") {
    val benchRun = (1 to 12).map(i => s"q$i").mkString(" ") // 12 tokens → 5 8-shingles
    val bench = Seq(benchRun).toDF("text")
    // the run appears in MANY training docs — unlike cutSharedSpans' maxDf,
    // every occurrence must still be cut (the safe direction vs a benchmark)
    val train = (1L to 30L).map(i =>
        (i, s"a$i b$i " + benchRun + s" c$i")).toDF("doc_id", "text")
    val out = Dedup.cutContaminatedSpans(train, "doc_id", "text",
        bench, "text", minTokens = 8).collect()
    assert(out.length == 30)
    assert(out.forall(_.getBoolean(3)))
    assert(out.forall(r => r.getLong(2) == 3L)) // a_i b_i c_i survive
  }

  test("tfidfKeywords: integer tf x nano idf ranks per doc; corpus-wide " +
      "tokens score zero idf; ties break by token") {
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextOps.tfidfKeywords(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    val idf1 = math.rint(math.log(2.0) * 1e9).toLong // df=1 of N=2
    // "b" appears in every doc: idf = ln(1) = 0 — a perfect stopword filter
    assert(out((1L, 1)) == (("a", 2L, 2 * idf1)))
    assert(out((1L, 2)) == (("b", 1L, 0L)))
    assert(out((2L, 1)) == (("c", 1L, idf1)))
    assert(out((2L, 2)) == (("b", 1L, 0L)))
  }

  test("appendBucketedCorpus: appended vectors are probe-visible; base " +
      "files are untouched by the append") {
    val dir = java.nio.file.Files.createTempDirectory("graft_annapp").toString
    val base = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat % 7 + 1f).toSeq))
      .toDF("id", "v")
    val query = Array.tabulate(8)(d => (d + 1).toFloat).toSeq
    Similarity.writeBucketedCorpus(base, "id", "v", dir, nBits = 4)
    def files() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length()).sortBy(_._1)
    }
    val before = files()
    // new batch carries two exact copies of the query vector
    val batch = Seq((100L, query), (101L, query)).toDF("id", "v")
    Similarity.appendBucketedCorpus(batch, "id", "v", dir, nBits = 4)
    val after = files()
    assert(before.toSet.subsetOf(after.toSet),
      "append must not rewrite or resize existing base files")
    assert(after.size > before.size, "append should add files")
    val top = Similarity.annTopKFromBucketed(spark, dir, "id", "v",
        query, 2, nBits = 4)
      .collect().map(r => (r.getLong(0), math.rint(r.getDouble(1) * 1e4) / 1e4))
    assert(top.toSeq == Seq((100L, 1.0), (101L, 1.0)),
      s"appended exact copies must win the probe, got ${top.toSeq}")
  }

  test("removeDuplicatesKeepBest: the higher-scoring LATER copy survives " +
      "where keep-first would pick the min id; non-members pass through") {
    val df = Seq((1L, 10L), (5L, 30L), (9L, 30L), (50L, 99L))
      .toDF("id", "score")
    // cluster {1, 5, 9}: 5 and 9 tie on score → smaller id 5 wins; 1 loses
    val pairs = Seq((1L, 5L), (5L, 9L)).toDF("id_a", "id_b")
    val out = Dedup.removeDuplicatesKeepBest(df, "id", pairs, "score")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(5L, 50L), s"expected best-member survivors, got $out")
    // keep-first (removeDuplicates) would have kept id 1 instead
    val first = Dedup.removeDuplicates(df, pairs, "id")
      .collect().map(_.getLong(0)).toSet
    assert(first == Set(1L, 50L))
  }

  test("crossSourceDuplication: shared exact-dup clusters attributed to " +
      "source pairs with per-side doc counts") {
    val df = Seq(
      ("s1", "same text one"), ("s1", "same text one"), ("s2", "same text one"),
      ("s1", "same text two"), ("s3", "same text two"),
      ("s1", "unique a"), ("s2", "unique b"))
      .toDF("source", "text")
    val out = Dedup.crossSourceDuplication(df, "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      ("s1", "s2") -> ((1L, 2L, 1L)),
      ("s1", "s3") -> ((1L, 1L, 1L))), s"got $out")
  }

  test("dedupNormalized: case/punctuation/spacing variants collapse " +
      "keep-first; null and punct-only share the empty key") {
    val df = Seq((1L, "Hello, World!"), (2L, "hello world"),
      (3L, "HELLO  world..."), (4L, "different"),
      (5L, null.asInstanceOf[String]), (6L, "!!!"))
      .toDF("id", "text")
    val out = Dedup.dedupNormalized(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 3L, 4L -> 1L, 5L -> 2L),
      s"expected keep-first clusters, got $out")
  }

  test("ndcgAt: hand-computed nano discounts; ideal uses the corpus's best " +
      "grades; unranked relevant docs lower ndcg below 1") {
    def disc(i: Int): Long = math.rint(1e9 / (math.log(i + 1) / math.log(2))).toLong
    val ranking = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("id", "rank")
    val rel = Seq(("a", 1L), ("b", 3L), ("c", 0L), ("d", 2L)).toDF("id", "rel")
    val r = Similarity.ndcgAt(ranking, rel, "id", k = 3).head()
    val dcg = 1L * disc(1) + 3L * disc(2) + 0L * disc(3)
    val idcg = 3L * disc(1) + 2L * disc(2) + 1L * disc(3)
    assert(r.getLong(0) == dcg && r.getLong(1) == idcg)
    assert(r.getDouble(2) ==
      math.rint(dcg.toDouble / idcg * 1e6) / 1e6)
    // the perfect ranking scores exactly 1
    val perfect = Seq(("b", 1L), ("d", 2L), ("a", 3L)).toDF("id", "rank")
    assert(Similarity.ndcgAt(perfect, rel, "id", 3).head().getDouble(2) == 1.0)
  }

  test("ivfPqTopK: planted exact copies survive the cell prune and win the " +
      "ADC ranking; the prune actually reduces candidates") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.where(col("vec_id") === 3).select(col("embedding"))
      .head().getSeq[Float](0)
    val planted = emb.where(col("vec_id") === 3)
      .select(explode(sequence(lit(0), lit(2))).as("i"), col("embedding"))
      .select((col("i") + 8000L).as("vec_id"), col("embedding"))
    val corpus = emb.where(col("vec_id") =!= 3).unionByName(planted)
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", k = 4)
    val cb = Similarity.pqTrain(corpus, "vec_id", "embedding",
      m = 8, ksub = 8, iters = 1)
    val top = Similarity.ivfPqTopK(corpus, "vec_id", "embedding", q, 3,
        cents, cb, nProbe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(8000L, 8001L, 8002L),
      s"planted copies must top the IVF-PQ ranking, got $top")
    // the single-probe prune reads strictly fewer rows than the corpus
    val prunedCount = corpus
      .select(col("vec_id"), Similarity.cellOf(col("embedding"), cents)
        .as("cell"))
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    assert(prunedCount.length > 1 && prunedCount.min < corpus.count(),
      "cells must partition the corpus non-trivially")
  }

  test("matryoshkaRecall: a prefix-only decoy displaces a true neighbor at " +
      "narrow width; full width recovers recall 1") {
    // query [127,0,0,0]. id 1 is a decoy: perfect on dim 1, poor full-cos
    // (0.5); id 5 the true nearest (1.0); id 6 second (0.707). Prefix-1
    // ranking ties {1,5,6} at cos 1 → ids 1,5 win; full top-2 is {5,6}.
    val corpus = Seq(
      (1L, Seq[Byte](127, -127, -127, -127)),
      (5L, Seq[Byte](127, 0, 0, 0)),
      (6L, Seq[Byte](127, 127, 0, 0)))
      .toDF("id", "qvec")
    val out = Similarity.matryoshkaRecall(corpus, "id", "qvec",
        Seq[Byte](127, 0, 0, 0), k = 2, dims = Seq(1, 4))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1) == ((1L, 0.5)), s"prefix-1 should lose the decoy slot: $out")
    assert(out(4) == ((2L, 1.0)), "full width is the full ranking")
  }

  test("rrfFuse: hand-computed floor-nano sums; docs in both lists outrank " +
      "either single-list doc; ties break by id") {
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((30L, 1L), (20L, 2L), (40L, 3L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "id", kConst = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // floor(1e9/61)=16393442, /62=16129032, /63=15873015
    assert(out == Seq(
      (30L, 15873015L + 16393442L, 2L, 1L),
      (20L, 2L * 16129032L, 2L, 2L),
      (10L, 16393442L, 1L, 1L),
      (40L, 15873015L, 1L, 3L)))
    // topK truncates after the fused order
    assert(Similarity.rrfFuse(Seq(a, b), "id", 60, 2)
      .collect().map(_.getLong(0)).toSeq == Seq(30L, 20L))
  }

  test("softDedupWeights: every copy kept; weight_nano = floor(1e9/n); " +
      "cluster mass never exceeds one unit") {
    val df = Seq(
      (1L, "alpha"), (2L, "alpha"), (3L, "alpha"),   // n=3
      (4L, "beta"), (5L, "beta"),                    // n=2
      (6L, "gamma"))                                 // n=1
      .toDF("id", "text")
    val out = Dedup.softDedupWeights(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "reweight, not remove")
    assert(out(1L) == ((3L, 333333333L)) && out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(4L) == ((2L, 500000000L)) && out(6L) == ((1L, 1000000000L)))
    // floor rounding: Σ weights per cluster ≤ 1e9 (mass is never inflated)
    assert(3L * 333333333L <= 1000000000L)
  }

  test("sortedNeighborhood: identical docs pair at hamming 0; window bounds " +
      "the candidate rank distance exactly") {
    // three identical docs sort adjacently by (sig, id); window=1 compares
    // only consecutive ranks, so (1,2) and (2,3) pair but (1,3) — rank
    // distance 2 — is out of reach: the window semantics, observable.
    val df = Seq((1L, "the same text"), (2L, "the same text"),
      (3L, "the same text"), (4L, "completely different words here"))
      .toDF("id", "text")
    val w1 = Dedup.sortedNeighborhood(df, "id", "text", window = 1,
        maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(w1 == Set((1L, 2L, 0), (2L, 3L, 0)), s"window=1 pairs: $w1")
    val w2 = Dedup.sortedNeighborhood(df, "id", "text", window = 2,
        maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w2 == Set((1L, 2L), (2L, 3L), (1L, 3L)), s"window=2 pairs: $w2")
  }

  test("marginAlignment: mutual margin-best only; nano cosines and integer " +
      "margins hand-check; non-positive cosines never pair") {
    val a = Seq((0L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val b = Seq((1L, Seq(1f, 0f)), (3L, Seq(0f, 1f)), (5L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.marginAlignment(a, b, "vec_id", "embedding", k = 4,
        minMarginNano = 1000000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // cos nano: exact-match pairs 1e9; the diagonal b5 scores
    // floor(1e9/sqrt(2)) = 707106781 against both a-vectors.
    val diag = 707106781L
    val f = 1000000000L + diag            // each a-side top-sum
    val m11 = 8000000000000000000L / (f + 1000000000L)
    assert(out == Set((0L, 1L, 1000000000L, m11), (2L, 3L, 1000000000L, m11)),
      s"got $out")
    // b5 is nobody's margin-best (ra=2 on both sides) — correctly unmatched;
    // orthogonal pairs (cos 0) never entered the candidate set
  }

  test("sparseCosinePairs: identical docs hit cos 1.0 via the postings " +
      "dot; disjoint-vocab docs never pair; the df cap silences hub buckets") {
    val docs = Seq((1L, "a b a b"), (2L, "a b a b"), (3L, "z z z z"))
      .toDF("id", "text")
    val out = Similarity.sparseCosinePairs(docs, "id", "text",
        dim = 512, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 1.0)), s"got ${out.toSeq}")
    // a df cap of 1 drops every shared bucket from dot accumulation:
    // the capped score is a LOWER BOUND — here it silences all pairs
    assert(Similarity.sparseCosinePairs(docs, "id", "text", 512, 0.1,
      maxDf = Some(1)).isEmpty)
  }

  test("srpIndexHealth: co-activation laws hold on real vectors; a " +
      "constant corpus is perfectly correlated") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val out = Similarity.srpIndexHealth(emb, "vec_id", "embedding", nBits = 8)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 36, "C(9,2) rows for 8 bits")
    val n = out.values.head._2
    assert(out.values.forall(_._2 == n), "n is the corpus size everywhere")
    def ones(i: Int) = out((i, i))._1
    for (i <- 0 until 8; j <- i until 8) {
      val (both, _) = out((i, j))
      assert(both <= math.min(ones(i), ones(j)), s"($i,$j) bound")
      assert(both >= ones(i) + ones(j) - n, s"($i,$j) inclusion-exclusion")
    }
    // identical vectors: every pair either co-activates on ALL rows or none
    val const = Seq.tabulate(5)(k => (k.toLong, Seq(0.3f, -0.7f, 0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.srpIndexHealth(const, "vec_id", "embedding", 8)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    def co(i: Int, j: Int) = c((i, j))
    for (i <- 0 until 8; j <- i until 8)
      assert(co(i, j) == (if (co(i, i) == 5L && co(j, j) == 5L) 5L else 0L),
        s"constant corpus must be all-or-nothing at ($i,$j)")
  }

  test("pairedBootstrap: uniform-winner and all-tie extremes are exact; " +
      "accounting invariants hold; partition-invariant") {
    val mixed = Seq(("q1", 10L, 4L), ("q2", 8L, 9L), ("q3", 5L, 5L),
      ("q4", 7L, 1L)).toDF("qid", "a", "b")
    val r = Similarity.pairedBootstrap(mixed, "qid", "a", "b", resamples = 200)
      .collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 200L)
    assert(r.getLong(2) + r.getLong(3) + r.getLong(4) == 200L,
      "every replica is a win, loss, or tie")
    assert(r.getLong(6) == (10L - 4L) + (8L - 9L) + 0L + (7L - 1L))
    // A strictly better on every query -> every replica sum positive
    val sweep = Seq(("q1", 5L, 1L), ("q2", 9L, 2L)).toDF("qid", "a", "b")
    val s = Similarity.pairedBootstrap(sweep, "qid", "a", "b", 100).collect()(0)
    assert(s.getLong(2) == 100L && s.getLong(5) == 1000L)
    // identical systems -> every replica ties
    val tie = Seq(("q1", 3L, 3L), ("q2", 8L, 8L)).toDF("qid", "a", "b")
    assert(Similarity.pairedBootstrap(tie, "qid", "a", "b", 50)
      .collect()(0).getLong(4) == 50L)
    val again = Similarity.pairedBootstrap(mixed.repartition(5), "qid",
      "a", "b", 200).collect()(0)
    assert(r.toSeq == again.toSeq, "bootstrap must be draw-deterministic")
  }

  test("thresholdCurve: one pair pass fans into every satisfied decile; " +
      "victim counts are distinct keep-first drops") {
    // d1 = d2 (jaccard 1.0); d3 shares 1 of 3 union shingles with each
    // (jaccard 1/3): thresholds 200/300 see all three pairs, 400+ only the
    // exact-dup pair
    val docs = Seq(
      (1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w4"), (3L, "w1 w2 w3 x"))
      .toDF("id", "text")
    val out = Dedup.thresholdCurve(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out.keySet == (2 to 10).map(_ * 100L).toSet)
    assert(out(200L) == ((3L, 2L)) && out(300L) == ((3L, 2L)), s"low: $out")
    (4 to 10).foreach(d => assert(out(d * 100L) == ((1L, 1L)), s"d=$d: $out"))
  }

  test("writePairs/readPairs: persisted integer evidence replays the inline " +
      "mine bit-for-bit across the report family at any threshold >= floor") {
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"), // exact dup pair
      (3L, "w1 w2 w3 w4 zz"),                         // high-overlap with 1,2
      (4L, "a b c d e f"), (5L, "a b c d e zz"),      // mid-overlap pair
      (6L, "totally different text here now"))
      .toDF("id", "text").withColumn("src",
        (col("id") % 2).cast("string")).withColumn("w", col("id") * 10)
    val path = java.nio.file.Files.createTempDirectory("graft_pairs_spec")
      .toString + "/pairs"
    Dedup.writePairs(docs, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // (a) pair set at 0.8 from disk == direct 0.8 mine
    val inline08 = Dedup.ngramJaccard(docs, "id", "text", shingleSize = 2,
      threshold = 0.8)
    val disk08 = Dedup.readPairs(spark, path, threshold = 0.8)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    assert(canon(disk08) == canon(inline08), "pair sets diverge at 0.8")
    // (b) threshold curve from the persisted table == inline curve
    val curveInline = Dedup.thresholdCurve(docs, "id", "text", shingleSize = 2)
    val curveDisk = Dedup.thresholdCurveFromPairs(
      Dedup.readPairs(spark, path, threshold = 0.2))
    assert(canon(curveDisk) == canon(curveInline), "curves diverge")
    // (c) keep-best survivors from the persisted table == inline
    val scored = docs.select(col("id"), col("w").as("score"))
    val kbInline = Dedup.removeDuplicatesKeepBest(scored, "id",
      Dedup.ngramJaccardPairs(docs, "id", "text", shingleSize = 2,
        threshold = 0.8), "score")
    val kbDisk = Dedup.removeDuplicatesKeepBest(scored, "id",
      Dedup.readPairs(spark, path, threshold = 0.8), "score")
    assert(canon(kbDisk) == canon(kbInline), "keep-best diverges")
    // (d) dedupImpact from the persisted table: per-source drop accounting
    val imp = Dedup.dedupImpact(docs, "id", "src", "w",
        Dedup.readPairs(spark, path, threshold = 0.8))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // at 0.8 only the exact pair (1,2) qualifies (1-3 is 3/5 = 0.6):
    // keep-first rep 1 survives, id 2 drops (src "0", w 20)
    assert(imp("0") == ((3L, 1L, 20L, 120L)), s"$imp")
    assert(imp("1") == ((3L, 0L, 0L, 90L)), s"$imp")
  }

  test("kCenterCoreset: one center per well-separated cluster, monotone " +
      "radius curve, deterministic under repartition") {
    // three tight clusters far apart; k=3 must pick one exemplar from each
    // regardless of which point seeds the traversal
    val pts = Seq(
      (1L, Seq(100f, 0f)), (2L, Seq(101f, 0f)),
      (10L, Seq(0f, 100f)), (11L, Seq(0f, 101f)),
      (20L, Seq(-100f, -100f)), (21L, Seq(-101f, -101f)))
      .toDF("id", "vec")
    def cluster(id: Long) = id / 10
    val out = Similarity.kCenterCoreset(pts, "id", "vec", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(out.map(t => cluster(t._2)).toSet.size == 3,
      s"one center per cluster: $out")
    assert(out(0)._3 == 0L, "seed radius is 0")
    assert(out(1)._3 >= out(2)._3, "covering radius never increases")
    val again = Similarity.kCenterCoreset(pts.repartition(7), "id", "vec", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == again.toSeq, "selection must be partition-invariant")
    // k = 1: just the deterministic seed
    assert(Similarity.kCenterCoreset(pts, "id", "vec", 1).count() == 1)
  }

  test("mmrSelect: λ=1000 is pure relevance order; low λ trades relevance " +
      "for diversity; stops when candidates run out; partition-invariant") {
    // query [1,0]; a ≈ query, b ≈ a (redundant), c diverse with mid relevance
    val pts = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(0.99f, 0.1f)),
      (3L, Seq(0.5f, 0.85f)))
      .toDF("id", "vec")
    def order(lambda: Int) = Similarity.mmrSelect(pts, "id", "vec",
        queryId = 0L, k = 5, lambdaPermille = lambda)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // pure relevance: 1 (identical), then 2, then 3; only 3 candidates
    assert(order(1000).toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // diversity-heavy: after 1, the redundant 2 is penalized below 3
    assert(order(300).toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)))
    // scores carry the selection-time maxsim: round 1 reports -1e9
    val r1 = Similarity.mmrSelect(pts, "id", "vec", 0L, 1, 700).head()
    assert(r1.getLong(3) == -1000000000L &&
      r1.getLong(4) == 700L * r1.getLong(2) + 300L * 1000000000L)
    // partition invariance
    val a = Similarity.mmrSelect(pts.repartition(7), "id", "vec", 0L, 3, 300)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == order(300).toSeq)
  }

  test("retrievalMetrics: reciprocal first-relevant rank, recall@k against " +
      "full qrels, zero-retrieval queries still report") {
    val results = Seq(
      (1, 10L, 1L), (1, 11L, 2L), (1, 12L, 3L),   // q1: rel at ranks 3 only
      (2, 20L, 1L), (2, 21L, 2L),                 // q2: rel at rank 1 and 2
      (3, 30L, 1L))                               // q3: nothing relevant
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1, 12L), (1, 99L), (2, 20L), (2, 21L), (2, 98L),
      (3, 97L)).toDF("query_id", "doc_id")
    val out = Similarity.retrievalMetrics(results, qrels, k = 2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // q1: n_rel 2, first rel rank 3 (outside k=2) → rr 1e9/3, 0 hits@2
    assert(out(1) == ((2L, 3L, 333333333L, 0L, 0L)), s"$out")
    // q2: n_rel 3, frr 1 → rr 1e9, hits@2 = 2, recall 2/3 → 666‰
    assert(out(2) == ((3L, 1L, 1000000000L, 2L, 666L)))
    // q3: nothing retrieved — the row still reports with zeros
    assert(out(3) == ((1L, -1L, 0L, 0L, 0L)))
  }

  test("ivfIndexHealth: per-cell occupancy with empty cells reported, " +
      "exact permille shares, null vectors excluded") {
    val vecs = Seq(
      (1L, Seq(1f, 0.1f)), (2L, Seq(0.1f, 1f)), (3L, Seq(0.2f, 1f)),
      (4L, null.asInstanceOf[Seq[Float]]))
      .toDF("id", "vec")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val out = Similarity.ivfIndexHealth(vecs, "id", "vec", cents)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(0 -> ((1L, 333L)), 1 -> ((2L, 666L)),
      2 -> ((0L, 0L))), s"$out")
  }

  test("appendPairs: increment == scratch uncapped; only new-touching pairs " +
      "mined; combined-df cap drops stop-shingles for the appended pairs") {
    val half1 = Seq(
      (1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (4L, "a b c d e f"), (6L, "totally different text here now"))
    val half2 = Seq(
      (3L, "w1 w2 w3 w4 zz"),  // cross-pairs with 1,2
      (5L, "a b c d e zz"),    // cross-pair with 4
      (7L, "w1 w2 w3 w4 w5"))  // exact dup of 1,2 arriving in the batch
    val all = (half1 ++ half2).toDF("id", "text")
    val d1 = half1.toDF("id", "text"); val d2 = half2.toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_pair_app")
      .toString + "/p"
    Dedup.writePairs(d1, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    Dedup.appendPairs(d2, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), col("inter")).collect()
      .map(_.toSeq).toSet
    val scratch = Dedup.ngramJaccardPairs(all, "id", "text", shingleSize = 2,
      threshold = 0.2, maxDf = None)
    assert(canon(Dedup.readPairs(spark, path, threshold = 0.2)) ==
      canon(scratch), "uncapped increment must equal the scratch mine")
    // the appended postings serve a SECOND append identically (chaining)
    val path2 = java.nio.file.Files.createTempDirectory("graft_pair_app2")
      .toString + "/p"
    Dedup.writePairs(Seq(half1.head).toDF("id", "text"), "id", "text", path2,
      shingleSize = 2, minJaccard = 0.2, maxDf = None)
    Dedup.appendPairs(half1.tail.toDF("id", "text"), "id", "text", path2,
      shingleSize = 2, minJaccard = 0.2, maxDf = None)
    Dedup.appendPairs(d2, "id", "text", path2, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    assert(canon(Dedup.readPairs(spark, path2, threshold = 0.2)) ==
      canon(scratch), "chained appends must equal the scratch mine")
    // combined-df cap: shingle "w1 w2"/"w2 w3"/"w3 w4" reach df 4-5 after
    // the append — cap 3 drops them from the APPENDED pairs' evidence, so
    // the (1,7) exact-dup pair undercounts exactly like a scratch capped
    // mine of the union would
    val path3 = java.nio.file.Files.createTempDirectory("graft_pair_app3")
      .toString + "/p"
    Dedup.writePairs(d1, "id", "text", path3, shingleSize = 2,
      minJaccard = 0.2, maxDf = Some(3))
    Dedup.appendPairs(d2, "id", "text", path3, shingleSize = 2,
      minJaccard = 0.2, maxDf = Some(3))
    val scratchCapped = canon(Dedup.ngramJaccardPairs(all, "id", "text",
      shingleSize = 2, threshold = 0.2, maxDf = Some(3)))
    val incCapped = canon(Dedup.readPairs(spark, path3, threshold = 0.2))
    // new-side pairs (anything involving 3,5,7) must match scratch exactly
    def newSide(ps: Set[Seq[Any]]) = ps.filter(p =>
      Set(3L, 5L, 7L).exists(id => p(0) == id || p(1) == id))
    assert(newSide(incCapped) == newSide(scratchCapped),
      s"appended pairs diverge from the scratch capped mine:\n" +
        s"inc ${newSide(incCapped)}\nscr ${newSide(scratchCapped)}")
  }

  test("appendNearDupIndex: index grown by survivors equals a one-shot " +
      "index of corpus ∪ survivors (same drops for the next batch)") {
    val corpus = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "x1 x2 x3 x4 x5 x6"))
      .toDF("id", "text")
    // batch 1: id 10 dups corpus doc 1 (dropped); id 11 is novel (survives)
    val b1 = Seq((10L, "w1 w2 w3 w4 w5 w6"), (11L, "n1 n2 n3 n4 n5 n6"))
      .toDF("id", "text")
    // batch 2: id 20 dups the SURVIVOR 11 — only a grown index catches it;
    // id 21 dups the DROPPED 10 — must survive (10 never entered the index)
    val b2 = Seq((20L, "n1 n2 n3 n4 n5 n6"), (21L, "q1 q2 q3 q4 q5 q6"))
      .toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_idx_app")
      .toString + "/i"
    Dedup.writeNearDupIndex(corpus, "id", "text", path)
    val s1 = Dedup.dedupeAgainstIndex(spark, b1, path, "id", "text")
    assert(s1.collect().map(_.getLong(0)).toSet == Set(11L))
    Dedup.appendNearDupIndex(s1, "id", "text", path)
    val s2 = Dedup.dedupeAgainstIndex(spark, b2, path, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(s2 == Set(21L),
      s"20 must drop vs the appended survivor, 21 must pass: $s2")
    // equivalence: the grown index behaves like a one-shot index of
    // corpus ∪ survivors
    val path2 = java.nio.file.Files.createTempDirectory("graft_idx_one")
      .toString + "/i"
    Dedup.writeNearDupIndex(corpus.unionByName(s1.select(col("id"),
      col("text"))), "id", "text", path2)
    val oneShot = Dedup.dedupeAgainstIndex(spark, b2, path2, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(oneShot == s2, "append ≠ one-shot rebuild")
    // the FUSED step (one shingle pass) ≡ dedupe-then-append: same day-1
    // survivors, same day-2 behavior against the grown index — and no
    // self-match (the drop set materializes before the batch's own bands
    // land in the index)
    val path3 = java.nio.file.Files.createTempDirectory("graft_idx_fuse")
      .toString + "/i"
    Dedup.writeNearDupIndex(corpus, "id", "text", path3)
    val f1 = Dedup.ingestBatch(spark, b1, path3, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(f1 == Set(11L), s"fused day-1 survivors: $f1")
    val f2 = Dedup.ingestBatch(spark, b2, path3, "id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(f2 == s2, s"fused ≠ dedupe+append: $f2 vs $s2")
  }

  test("compactPairs: file counts shrink, row multisets and every " +
      "from-pairs report are byte-identical, further appends still work") {
    val half1 = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"),
      (4L, "a b c d e f")).toDF("id", "text")
    val half2 = Seq((3L, "w1 w2 w3 w4 zz"), (5L, "a b c d e zz"))
      .toDF("id", "text")
    val half3 = Seq((7L, "w1 w2 w3 w4 w5")).toDF("id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_pair_cmp")
      .toString + "/p"
    Dedup.writePairs(half1, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    Dedup.appendPairs(half2, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    import graft.store.ManifestTable
    def files(sub: String) = ManifestTable.dataFileCount(spark, s"$path/$sub")
    val beforeP = canon(ManifestTable.read(spark, s"$path/pairs"))
    val beforeI = canon(ManifestTable.read(spark, s"$path/postings"))
    val filesBefore = files("pairs") + files("postings")
    Dedup.compactPairs(spark, path, targetFiles = 1)
    assert(files("pairs") == 1 && files("postings") == 1,
      s"expected 1 live file each after compaction (was $filesBefore)")
    assert(canon(ManifestTable.read(spark, s"$path/pairs")) == beforeP,
      "pair multiset changed under compaction")
    assert(canon(ManifestTable.read(spark, s"$path/postings")) == beforeI,
      "postings multiset changed under compaction")
    // the compacted table still appends and still mines correctly
    Dedup.appendPairs(half3, "id", "text", path, shingleSize = 2,
      minJaccard = 0.2, maxDf = None)
    val scratch = Dedup.ngramJaccardPairs(
      half1.unionByName(half2).unionByName(half3), "id", "text",
      shingleSize = 2, threshold = 0.2, maxDf = None)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("id_a"), col("id_b"), col("inter")).collect()
      .map(_.toSeq).toSet
    assert(pairSet(Dedup.readPairs(spark, path, threshold = 0.2)) ==
      pairSet(scratch), "post-compaction append diverged from scratch")
  }

  test("embeddingDrift: per-dim integer micro-unit means, exact nano shift, " +
      "negative means divide identically to the SQL replay, zero-drift " +
      "identity") {
    val mk = (rows: Seq[(Long, Seq[Float])]) => rows.toDF("id", "vec")
    // old: dim0 mean = (0.5 + 0.7)/2 = 0.6; dim1 mean = (-0.4 + -0.2)/2 = -0.3
    val oldDf = mk(Seq((1L, Seq(0.5f, -0.4f)), (2L, Seq(0.7f, -0.2f))))
    // new: dim0 mean 0.9; dim1 mean -0.5 (single row)
    val newDf = mk(Seq((3L, Seq(0.9f, -0.5f))))
    val out = graft.ops.Similarity.embeddingDrift(oldDf, newDf, "vec")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // micro units: 0.5→500000, 0.7→700000; mean_nano = 1000*1200000 div 2
    assert(out(0L) == ((600000000L, 900000000L, 300000000L)), s"$out")
    // NEGATIVE means: 1000*(-600000) div 2 = -300000000 (truncation toward
    // zero — measured identical in Spark div and DuckDB //)
    assert(out(1L) == ((-300000000L, -500000000L, -200000000L)), s"$out")
    // identity: a snapshot against itself reports zero shift on every dim
    val self = graft.ops.Similarity.embeddingDrift(oldDf, oldDf, "vec")
      .collect().map(r => (r.getLong(5), r.getLong(1), r.getLong(2)))
    assert(self.forall(t => t._1 == 0L && t._2 == t._3), s"${self.toSeq}")
    // dimensionality mismatch (checkpoint-version mix-up): the new side's
    // extra dims report with n_old = 0 and null means — present, not lost
    val wide = mk(Seq((9L, Seq(0.1f, 0.2f, 0.3f))))
    val mix = graft.ops.Similarity.embeddingDrift(oldDf, wide, "vec")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.isNullAt(5)))).toMap
    assert(mix(2L) == ((0L, 1L, true)),
      s"one-sided dim must report with zero count and null shift: $mix")
    assert(mix(0L) == ((2L, 1L, false)) && mix(1L) == ((2L, 1L, false)))
  }

  test("appendIvfCorpus + ivfLayoutHealth: appended vectors route through " +
      "pinned centroids into existing cell partitions; the layout health " +
      "gate sees the post-append occupancy without re-assignment") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val q = emb.where(col("vec_id") === 11).head().getSeq[Float](1)
    val base = emb.where(col("vec_id") =!= 11 && col("vec_id") % 7 =!= 2)
    val batch = emb.where(col("vec_id") =!= 11 && col("vec_id") % 7 === 2)
    val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", k = 8)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_app")
      .toString + "/c"
    Similarity.writeIvfCorpus(base, "vec_id", "embedding", path, cents)
    val healthBefore = Similarity.ivfLayoutHealth(spark, path, 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    Similarity.appendIvfCorpus(batch, "vec_id", "embedding", path, cents)
    // layout health after the append: every cell's count grows by exactly
    // the number of batch vectors ASSIGNED to it (pinned-centroid routing)
    val healthAfter = Similarity.ivfLayoutHealth(spark, path, 8)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchCells = batch
      .select(Similarity.cellOf(col("embedding"), cents).as("cell"))
      .groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 8).foreach { c =>
      assert(healthAfter(c) ==
        healthBefore(c) + batchCells.getOrElse(c, 0L),
        s"cell $c: ${healthBefore(c)} + ${batchCells.getOrElse(c, 0L)} != " +
          s"${healthAfter(c)}")
    }
    assert(healthAfter.values.sum ==
      base.count() + batch.count(), "no vector lost or duplicated")
    // and the probe through the appended layout equals the one-shot
    // unpartitioned reference over base+batch with the same centroids
    val appended = Similarity.ivfTopKFromPartitioned(spark, path,
        "vec_id", "embedding", q, 10, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val reference = Similarity.ivfTopK(base.unionByName(batch), "vec_id",
        "embedding", q, 10, cents, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(appended == reference, s"$appended vs $reference")
  }

  test("Layout.globalRank: ranks are the exact row_number permutation of the " +
      "sort order across many range partitions") {
    val n = 257
    // descending ids with a shuffled-looking key: rank by (key, id)
    val df = (0 until n).map(i => ((i * 131) % n, i.toLong)).toDF("key", "id")
    val out = graft.ops.Layout.globalRank(df,
        Seq(col("key"), col("id")), "rn", numPartitions = 7)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n)
    val expected = out.map(t => (t._1, t._2)).sortBy(identity).zipWithIndex
      .map { case ((k, id), i) => (k, id, i + 1L) }.toSet
    assert(out.toSet == expected, "rank must equal global sort position")
  }

  test("writeClusters + appendToClusters: the persisted assignment equals a " +
      "from-scratch clustering of the union after incremental deltas, " +
      "re-applying a delta is an exact no-op, and only changed rows upsert") {
    import graft.store.KeyedStore
    val base = java.nio.file.Files.createTempDirectory("graft_clust").toString
    val pairsPath = base + "/pairs"
    val clustersPath = base + "/clusters"
    // three exact-dup groups: {1,2,3}=A, {10,11}=B, 20 unique
    def doc(id: Long, t: String) = (id, t)
    val day0 = Seq(doc(1, "alpha beta gamma delta epsilon"),
      doc(2, "alpha beta gamma delta epsilon"),
      doc(3, "alpha beta gamma delta epsilon"),
      doc(10, "zeta eta theta iota kappa"),
      doc(11, "zeta eta theta iota kappa"),
      doc(20, "mu nu xi omicron pi")).toDF("doc_id", "text")
    Dedup.writePairs(day0, "doc_id", "text", pairsPath)
    Dedup.writeClusters(spark, pairsPath, clustersPath, threshold = 0.8)
    def state(): Map[Long, (Long, Long)] =
      Dedup.readClusters(spark, clustersPath).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(state() == Map(1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      10L -> (10L, 2L), 11L -> (10L, 2L)),
      "doc 20 has no pair and must not appear; reps are component minima")
    // delta 1: 4 joins A, 12 joins B, {30,31} is a NEW component; one
    // redundant old edge rides along and must cost nothing
    val d1 = Seq((3L, 4L), (11L, 12L), (30L, 31L), (1L, 2L))
      .toDF("id_a", "id_b")
    assert(Dedup.appendToClusters(spark, clustersPath, d1) == 4L,
      "exactly the changed rows upsert: 4->1, 12->10, 30->30, 31->30")
    assert(state() == Map(1L -> (1L, 4L), 2L -> (1L, 4L), 3L -> (1L, 4L),
      4L -> (1L, 4L), 10L -> (10L, 3L), 11L -> (10L, 3L), 12L -> (10L, 3L),
      30L -> (30L, 2L), 31L -> (30L, 2L)))
    // blind retry of the same delta: exact no-op, zero rows touched
    assert(Dedup.appendToClusters(spark, clustersPath, d1) == 0L)
    // delta 2: one edge merges components A and B — only B\'s members (the
    // non-minimum side) rewrite, A\'s rows are untouched
    val d2 = Seq((4L, 12L)).toDF("id_a", "id_b")
    assert(Dedup.appendToClusters(spark, clustersPath, d2) == 3L,
      "only the non-minimum side (10, 11, 12) changes representative")
    // scratch equality: the maintained table == clusterDuplicates over the
    // union edge set
    val allEdges = Dedup.readPairs(spark, pairsPath, 0.8)
      .select(col("id_a"), col("id_b"))
      .unionByName(d1.where(col("id_a") >= 30L || col("id_b") === 4L ||
        col("id_b") === 12L))
      .unionByName(d2)
    val scratch = Dedup.clusterDuplicates(allEdges)
      .select(col("id"), col("rep"), col("cluster_size")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(state() == scratch,
      "incremental maintenance must equal the from-scratch clustering")
    // undo window: the previous snapshot is the pre-merge assignment
    val prev = KeyedStore.readKeyedPrevious(spark, clustersPath,
      keyCol = "doc_id").get.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prev(10L) == 10L && prev(12L) == 10L && prev(1L) == 1L,
      "keep-one-back funds the pre-merge audit view")
  }

  test("removeFromClusters: takedown purges pair evidence, re-elects min " +
      "reps, splits chains, drops orphaned survivors — scratch-equal to " +
      "clustering the surviving corpus; repairClusters then heals nothing") {
    import graft.store.KeyedStore
    val base = java.nio.file.Files.createTempDirectory("graft_ctd").toString
    val pairsPath = base + "/pairs"
    val clustersPath = base + "/clusters"
    // exact-dup groups {1,2,3} and {10,11}; a 4-doc sliding-window CHAIN
    // 40~41~42~43 (consecutive jaccard 0.6, skip-one 1/3) — near-dup at
    // threshold 0.5, and removing 41 genuinely SPLITS it
    val w = (1 to 16).map(i => s"w$i")
    def win(from: Int) = w.slice(from, from + 10).mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"),
      (10L, "zeta eta theta iota kappa"),
      (11L, "zeta eta theta iota kappa"),
      (40L, win(0)), (41L, win(2)), (42L, win(4)), (43L, win(6)))
      .toDF("doc_id", "text")
    Dedup.writePairs(docs, "doc_id", "text", pairsPath)
    Dedup.writeClusters(spark, pairsPath, clustersPath, threshold = 0.5)
    def state(): Map[Long, (Long, Long)] =
      Dedup.readClusters(spark, clustersPath).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(state() == Map(1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      10L -> (10L, 2L), 11L -> (10L, 2L),
      40L -> (40L, 4L), 41L -> (40L, 4L), 42L -> (40L, 4L), 43L -> (40L, 4L)))
    // takedown {1 (a rep), 10 (a rep whose partner orphans), 41 (a chain
    // link whose removal splits the component and orphans 40)}
    val (nDel, nUp) = Dedup.removeFromClusters(spark, clustersPath,
      pairsPath, Seq(1L, 10L, 41L).toDF("doc_id"), threshold = 0.5)
    assert(nDel == 5L, s"deletes = removed {1,10,41} + orphans {11,40}: $nDel")
    assert(nUp == 4L, s"upserts = re-elected {2,3} + split {42,43}: $nUp")
    assert(state() == Map(2L -> (2L, 2L), 3L -> (2L, 2L),
      42L -> (42L, 2L), 43L -> (42L, 2L)),
      "rep re-elected to the surviving minimum; the split tail re-clusters")
    // the pair evidence is purged too: no surviving row names a removed id
    val survivingPairs = Dedup.readPairs(spark, pairsPath, 0.2)
      .select(col("id_a"), col("id_b")).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(!survivingPairs.exists(Set(1L, 10L, 41L)),
      "takedown must purge the content-derived pair evidence")
    // scratch equality: a fresh mine+cluster of the surviving corpus
    val scratchBase = java.nio.file.Files
      .createTempDirectory("graft_ctd_scratch").toString
    Dedup.writePairs(docs.where(!col("doc_id").isin(1L, 10L, 41L)),
      "doc_id", "text", scratchBase + "/pairs")
    Dedup.writeClusters(spark, scratchBase + "/pairs",
      scratchBase + "/clusters", threshold = 0.5)
    val scratch = Dedup.readClusters(spark, scratchBase + "/clusters")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(state() == scratch, "takedown must equal from-scratch clustering")
    // an exact takedown leaves rep closure intact: repair finds nothing
    assert(Dedup.repairClusters(spark, clustersPath) ==
      Dedup.ClusterRepairStat(0L, 0L, 0L))
    // the undo window after a takedown is the FULL pre-takedown assignment:
    // its deletes and re-election upserts commit as one mutation
    val prev = Dedup.readClustersPrevious(spark, clustersPath).get
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(prev == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 2L)), 11L -> ((10L, 2L)),
      40L -> ((40L, 4L)), 41L -> ((40L, 4L)), 42L -> ((40L, 4L)),
      43L -> ((40L, 4L))),
      s"previous view = the pre-takedown assignment: $prev")
  }

  test("removeFromClusters merges the small files appendToClusters opens " +
      "above the last one, so the table's file count stays bounded") {
    import org.apache.spark.sql.graft.GraftIndex
    val base = java.nio.file.Files.createTempDirectory("graft_ctd_files").toString
    val pairsPath = base + "/pairs"
    val clustersPath = base + "/clusters"
    val docs = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    Dedup.writePairs(docs, "doc_id", "text", pairsPath)
    Dedup.writeClusters(spark, pairsPath, clustersPath)
    def liveFiles(): Int =
      GraftIndex.read(new org.apache.hadoop.fs.Path(clustersPath),
        spark.sessionState.newHadoopConf()).get.files.size
    val before = liveFiles()
    // two batches of new ids, each above the last file: one new file each
    Dedup.appendToClusters(spark, clustersPath, Seq((20L, 21L)).toDF("id_a", "id_b"))
    Dedup.appendToClusters(spark, clustersPath, Seq((30L, 31L)).toDF("id_a", "id_b"))
    assert(liveFiles() == before + 2)
    Dedup.removeFromClusters(spark, clustersPath, pairsPath, Seq(1L).toDF("doc_id"))
    assert(liveFiles() == 1, "the takedown compacts the small files first")
    assert(Dedup.readClusters(spark, clustersPath).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(2L -> 2L, 3L -> 2L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
  }

  test("tombstonePairs: lazy takedown is read-complete immediately, gates " +
      "the incremental mine, refuses re-ingest of a pending id, and the " +
      "next compactPairs applies it physically and drains the sidecar") {
    import graft.store.ManifestTable
    val base = java.nio.file.Files.createTempDirectory("graft_tomb").toString
    val path = base + "/pairs_layout"
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"),
      (10L, "zeta eta theta iota kappa"),
      (11L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
    Dedup.writePairs(docs, "doc_id", "text", path, maxDf = None)
    def pairSet(): Set[(Long, Long)] =
      Dedup.readPairs(spark, path, threshold = 0.8)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    // O(|ids|) takedown: no data rewrite, reads exclude doc 1 immediately
    assert(Dedup.tombstonePairs(spark, path, Seq(1L).toDF("doc_id")) == 1L)
    assert(pairSet() == Set((2L, 3L), (10L, 11L)),
      "tombstoned endpoint must vanish from every read at once")
    // the physical evidence is still on disk — masked, not rewritten
    assert(ManifestTable.read(spark, path + "/pairs").count() == 4L)
    // an incremental batch must NOT mine against the tombstoned postings:
    // doc 4 is an exact copy of doc 1's text — only the live twins pair
    Dedup.appendPairs(Seq((4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text"), "doc_id", "text", path, maxDf = None)
    assert(pairSet() == Set((2L, 3L), (2L, 4L), (3L, 4L), (10L, 11L)),
      "no pair against the ghost; live twins still pair")
    // re-ingesting the tombstoned id before the drain is refused loudly
    val ex = intercept[IllegalStateException] {
      Dedup.appendPairs(Seq((1L, "anything at all here now"))
        .toDF("doc_id", "text"), "doc_id", "text", path, maxDf = None)
    }
    assert(ex.getMessage.contains("tombstone"), ex.getMessage)
    // compaction applies the takedown physically and drains the sidecar
    Dedup.compactPairs(spark, path, targetFiles = 2)
    assert(Dedup.pairTombstones(spark, path).isEmpty, "sidecar drained")
    assert(ManifestTable.read(spark, path + "/pairs").count() == 4L,
      "rows naming doc 1 physically gone: (2,3),(2,4),(3,4),(10,11)")
    assert(ManifestTable.read(spark, path + "/postings")
      .where(col("id") === 1L).isEmpty, "ghost postings physically gone")
    assert(pairSet() == Set((2L, 3L), (2L, 4L), (3L, 4L), (10L, 11L)))
    // post-drain the id may re-ingest; idempotent second compact
    Dedup.appendPairs(Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text"), "doc_id", "text", path, maxDf = None)
    assert(pairSet().contains((1L, 2L)), "post-drain re-ingest pairs again")
    Dedup.compactPairs(spark, path, targetFiles = 2)
    assert(pairSet().contains((1L, 2L)))
    // a writePairs REBUILD starts a new incarnation: stale tombstones from
    // the old corpus must not mask the fresh mine
    assert(Dedup.tombstonePairs(spark, path, Seq(2L).toDF("doc_id")) == 1L)
    assert(!pairSet().exists(p => p._1 == 2L || p._2 == 2L))
    Dedup.writePairs(docs, "doc_id", "text", path, maxDf = None)
    assert(Dedup.pairTombstones(spark, path).isEmpty,
      "rebuild clears the tombstone sidecar")
    assert(pairSet() == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
  }

  test("removeFromClusters(purgePairs = false): the lazy-takedown variant " +
      "produces the identical clusters table (readPairs is " +
      "tombstone-exact), with the pairs rewrite deferred") {
    import graft.store.ManifestTable
    def build(): (String, String) = {
      val b = java.nio.file.Files.createTempDirectory("graft_ctdl").toString
      val docs = Seq(
        (1L, "alpha beta gamma delta epsilon"),
        (2L, "alpha beta gamma delta epsilon"),
        (3L, "alpha beta gamma delta epsilon"),
        (10L, "zeta eta theta iota kappa"),
        (11L, "zeta eta theta iota kappa")).toDF("doc_id", "text")
      Dedup.writePairs(docs, "doc_id", "text", b + "/pairs")
      Dedup.writeClusters(spark, b + "/pairs", b + "/clusters",
        threshold = 0.8)
      (b + "/pairs", b + "/clusters")
    }
    def state(cp: String): Map[Long, (Long, Long)] =
      Dedup.readClusters(spark, cp).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rm = Seq(1L, 10L).toDF("doc_id")
    val (pEager, cEager) = build()
    val eagerCounts = Dedup.removeFromClusters(spark, cEager, pEager, rm)
    val (pLazy, cLazy) = build()
    val lazyCounts = Dedup.removeFromClusters(spark, cLazy, pLazy, rm,
      purgePairs = false)
    assert(eagerCounts == lazyCounts && state(cEager) == state(cLazy),
      s"lazy and eager takedown must agree: $eagerCounts/$lazyCounts " +
        s"${state(cEager)} vs ${state(cLazy)}")
    // lazy: evidence still on disk behind the tombstone; drains on compact
    assert(Dedup.pairTombstones(spark, pLazy).isDefined)
    assert(ManifestTable.read(spark, pLazy + "/pairs").count() == 4L)
    Dedup.compactPairs(spark, pLazy, targetFiles = 2)
    assert(Dedup.pairTombstones(spark, pLazy).isEmpty)
    assert(ManifestTable.read(spark, pLazy + "/pairs").count() == 1L,
      "only (2,3) survives physically after the drain")
  }

  test("repairClusters: a raw keyed delete's dangling rep is detected and " +
      "healed (min surviving member re-elected); second pass is (0,0,0)") {
    import graft.store.KeyedStore
    val clustersPath = java.nio.file.Files
      .createTempDirectory("graft_crep").toString + "/clusters"
    // persisted assignment {2,3,4} rep 2, {10,11} rep 10
    KeyedStore.writeIndexed(Seq((2L, 2L), (3L, 2L), (4L, 2L),
      (10L, 10L), (11L, 10L)).toDF("doc_id", "rep"),
      clustersPath, keyCol = "doc_id")
    // the misuse this verb exists for: a raw takedown deletes the REP row
    // without re-electing — members 3,4 now point at a ghost
    KeyedStore.deleteIndexed(spark, clustersPath,
      Seq(2L).toDF("doc_id"), keyCol = "doc_id")
    val st = Dedup.repairClusters(spark, clustersPath)
    assert(st == Dedup.ClusterRepairStat(1L, 1L, 2L),
      s"one dangling rep, one min violation, two rows healed: $st")
    val healed = KeyedStore.readKeyed(spark, clustersPath, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(healed == Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L),
      s"min surviving member re-elected; untouched group intact: $healed")
    assert(Dedup.repairClusters(spark, clustersPath) ==
      Dedup.ClusterRepairStat(0L, 0L, 0L), "idempotent second pass")
  }
}
