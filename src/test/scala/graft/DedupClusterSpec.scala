package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Pins [[Dedup.clusterDuplicates]]'s round-15 small-graph fast path
  * (driver union-find) to the distributed pointer-jumping loop it
  * shortcuts: identical components, identical MIN-id representatives,
  * identical sizes — including the UTF-8-vs-UTF-16 ordering trap on
  * string ids with supplementary characters. The driver folds of
  * [[Dedup.appendToClusters]] and [[Dedup.removeFromClusters]] are pinned
  * to their join fallbacks the same way. */
class DedupClusterSpec extends SparkSpec {
  _quiet
  import spark.implicits._

  private def canon(df: org.apache.spark.sql.DataFrame): Set[(Any, Any, Long)] =
    df.collect().map(r => (r.get(0), r.get(1), r.getLong(2))).toSet

  private def bothPaths(edges: org.apache.spark.sql.DataFrame)
      : (Set[(Any, Any, Long)], Set[(Any, Any, Long)]) = {
    val fast = canon(Dedup.clusterDuplicates(edges))
    spark.conf.set("graft.cc.smallGraphEdges", "0") // force the loop
    val loop = try canon(Dedup.clusterDuplicates(edges))
    finally spark.conf.unset("graft.cc.smallGraphEdges")
    (fast, loop)
  }

  test("fast path == distributed loop on long ids: components, min reps, " +
      "sizes; chains, triangles, isolated pairs") {
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 5L), (20L, 21L),
      (40L, 41L), (41L, 42L), (42L, 40L), (100L, 7L)).toDF("id_a", "id_b")
    val (fast, loop) = bothPaths(edges)
    assert(fast == loop, s"paths diverged:\nfast=$fast\nloop=$loop")
    assert(fast == Set[(Any, Any, Long)](
      (3L, 3L, 3L), (5L, 3L, 3L), (9L, 3L, 3L),
      (20L, 20L, 2L), (21L, 20L, 2L),
      (40L, 40L, 3L), (41L, 40L, 3L), (42L, 40L, 3L),
      (7L, 7L, 2L), (100L, 7L, 2L)))
  }

  test("fast path == distributed loop on string ids, including a " +
      "supplementary character where UTF-8 and UTF-16 order DISAGREE") {
    // U+1F600 is F0 9F 98 80 in UTF-8 (sorts ABOVE U+FFFD's EF BF BD) but
    // a D83D-led surrogate pair in UTF-16 (sorts BELOW U+FFFD) — a fast
    // path comparing Java strings would pick the wrong representative
    val smiley = new String(Character.toChars(0x1F600))
    val edges = Seq((smiley, "�"), ("b", "a"), ("a", "c"))
      .toDF("id_a", "id_b")
    val (fast, loop) = bothPaths(edges)
    assert(fast == loop, s"paths diverged:\nfast=$fast\nloop=$loop")
    assert(fast.contains((smiley, "�", 2L)),
      "the UTF-8-smaller id must be the representative")
    assert(fast.contains(("c", "a", 3L)))
  }

  test("byte-aware gate: wide string ids force the distributed loop " +
      "despite a small edge count, and both paths stay equivalent") {
    // 60 edges of ~240-char URL-ish ids: far under the 200k EDGE gate, but
    // ~4 B/char × ~480 chars/edge × 60 edges ≈ 115 KB estimated — over a
    // 50 KB byte budget, so the loop must run (round-16 byte gate)
    val pad = "x" * 230
    val wide = (0 until 60).map { i =>
      (f"https://host/$pad/${i / 2}%04d", f"https://host/$pad/${i / 2 + 30}%04d")
    }.toDF("id_a", "id_b")
    spark.conf.set("graft.cc.smallGraphBytes", "50000")
    val (viaLoop, fastRunsDuring) =
      try {
        val before = Dedup.smallGraphFastPathRuns.get()
        val out = canon(Dedup.clusterDuplicates(wide))
        (out, Dedup.smallGraphFastPathRuns.get() - before)
      } finally spark.conf.unset("graft.cc.smallGraphBytes")
    assert(fastRunsDuring == 0L,
      "wide ids under a tight byte budget must take the distributed loop")
    // equivalence pin unchanged: the default budget (64 MB) admits this
    // graph to the fast path, and the two paths agree exactly
    val before = Dedup.smallGraphFastPathRuns.get()
    val fast = canon(Dedup.clusterDuplicates(wide))
    assert(Dedup.smallGraphFastPathRuns.get() - before == 1L,
      "the default byte budget must admit a 60-edge graph")
    assert(fast == viaLoop, s"paths diverged:\nfast=$fast\nloop=$viaLoop")
  }

  // ---- round-19 fused epoch fold: appendToClusters' driver fast path ----

  private def freshClusters(rows: Seq[(Any, Any)],
      toDf: Seq[(Any, Any)] => org.apache.spark.sql.DataFrame): String = {
    val path = java.nio.file.Files.createTempDirectory("graft_fold")
      .toString + "/clusters"
    graft.store.KeyedStore.writeIndexed(toDf(rows), path, keyCol = "doc_id")
    path
  }

  private def clusterState(path: String): Set[(Any, Any)] =
    graft.store.KeyedStore.readKeyed(spark, path, "doc_id")
      .collect().map(r => (r.get(0), r.get(1))).toSet

  /** Apply the SAME delta to two fresh copies of the SAME table — once via
    * the fused driver fold (default gates; asserts the fold ran), once via
    * the distributed path (gate forced to 0; asserts the fold did NOT run)
    * — and require identical upsert counts and identical final tables. */
  private def foldBothPaths(init: Seq[(Any, Any)],
      toDf: Seq[(Any, Any)] => org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame): (Long, Set[(Any, Any)]) = {
    val pFused = freshClusters(init, toDf)
    val before = Dedup.clusterFoldFastPathRuns.get()
    val nFused = Dedup.appendToClusters(spark, pFused, delta)
    assert(Dedup.clusterFoldFastPathRuns.get() - before >= 1L,
      "default gates must admit this delta to the fused driver fold")
    val pLoop = freshClusters(init, toDf)
    spark.conf.set("graft.cc.smallGraphEdges", "0")
    val (nLoop, foldRuns) = try {
      val b = Dedup.clusterFoldFastPathRuns.get()
      val n = Dedup.appendToClusters(spark, pLoop, delta)
      (n, Dedup.clusterFoldFastPathRuns.get() - b)
    } finally spark.conf.unset("graft.cc.smallGraphEdges")
    assert(foldRuns == 0L, "gate 0 must force the distributed path")
    assert(nFused == nLoop, s"upsert counts diverged: fused=$nFused loop=$nLoop")
    val (sFused, sLoop) = (clusterState(pFused), clusterState(pLoop))
    assert(sFused == sLoop, s"tables diverged:\nfused=$sFused\nloop=$sLoop")
    (nFused, sFused)
  }

  test("fused epoch fold == distributed fold: cross-component merge, " +
      "member join, new docs, redundant edge, long ids") {
    val longDf = (rs: Seq[(Any, Any)]) =>
      rs.map { case (a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long]) }
        .toDF("doc_id", "rep")
    // components {1,2,3}→1, {10,11}→10
    val init = Seq[(Any, Any)]((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    // 4 joins A via 3; 12 joins B via 11; {30,31} brand new; (1,2) redundant;
    // (2,10) merges A and B — B's side must rewrite to rep 1
    val delta = Seq((3L, 4L), (11L, 12L), (30L, 31L), (1L, 2L), (2L, 10L))
      .toDF("id_a", "id_b")
    val (n, state) = foldBothPaths(init, longDf, delta)
    assert(n == 6L, s"4,12,30,31 new + members 10,11 re-repped = 6, got $n")
    assert(state == Set[(Any, Any)]((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 1L), (11L, 1L), (12L, 1L), (30L, 30L), (31L, 30L)))
    // blind replay of the same delta: exact no-op on both paths
    val (n2, state2) = foldBothPaths(state.toSeq, longDf, delta)
    assert(n2 == 0L && state2 == state, "replay must be an exact no-op")
  }

  test("fused epoch fold == distributed fold on string ids, including the " +
      "UTF-8-vs-UTF-16 representative trap and a null endpoint") {
    val strDf = (rs: Seq[(Any, Any)]) =>
      rs.map { case (a, b) => (a.asInstanceOf[String], b.asInstanceOf[String]) }
        .toDF("doc_id", "rep")
    val smiley = new String(Character.toChars(0x1F600))
    val init = Seq[(Any, Any)](("a", "a"), ("c", "a"), ("�", "�"), ("zz", "�"))
    // the smiley joins the U+FFFD component: in UTF-8 byte order (what the
    // distributed least() compares) U+FFFD < U+1F600, so the rep stays "�";
    // a Java-UTF-16 comparison would elect the smiley and corrupt the table.
    // The null edge must be dropped exactly like the =!= filter drops it.
    val delta = Seq((smiley, "zz"), (null, "c")).asInstanceOf[Seq[(String, String)]]
      .toDF("id_a", "id_b")
    val (n, state) = foldBothPaths(init, strDf, delta)
    assert(n == 1L, s"only the smiley row upserts, got $n")
    assert(state.contains((smiley, "�")) && state.contains(("c", "a")),
      s"UTF-8 min must stay the representative: $state")
  }

  // ---- removeFromClusters: the driver takedown fold vs its join fallback ----

  /** Write the pairs layout (`writePairs`) and its clusters table twice
    * and take `rm` down on each — once through the driver fold (edge gate
    * `foldGate`, default when None; asserts the fold ran), once through the
    * join path (gate forced to 0; asserts it did not). Each takedown must
    * add exactly one index version after its compaction, with the
    * pre-takedown assignment in the undo window; the two paths must return
    * equal counts and leave equal tables. */
  private def takedownBothPaths(writePairs: String => Unit,
      rm: org.apache.spark.sql.DataFrame, threshold: Double,
      purgePairs: Boolean, foldGate: Option[Long] = None)
      : ((Long, Long), Set[(Any, Any)]) = {
    import graft.store.KeyedStore
    def run(forceJoins: Boolean): ((Long, Long), Set[(Any, Any)]) = {
      val base = java.nio.file.Files.createTempDirectory("graft_takedown").toString
      val (pairs, clusters) = (base + "/pairs", base + "/clusters")
      writePairs(pairs)
      Dedup.writeClusters(spark, pairs, clusters, threshold)
      KeyedStore.compact(spark, clusters, "doc_id"): Unit
      val before = clusterState(clusters)
      def version(): Long = KeyedStore.retainedVersions(spark, clusters, "doc_id").head._1
      val v0 = version()
      val folds = Dedup.clusterFoldFastPathRuns.get()
      (if (forceJoins) Some(0L) else foldGate)
        .foreach(g => spark.conf.set("graft.cc.smallGraphEdges", g.toString))
      val counts = try Dedup.removeFromClusters(spark, clusters, pairs, rm,
        threshold, purgePairs = purgePairs)
      finally spark.conf.unset("graft.cc.smallGraphEdges")
      assert((Dedup.clusterFoldFastPathRuns.get() - folds) == (if (forceJoins) 0L else 1L),
        s"forceJoins=$forceJoins must pick its path")
      assert(version() == v0 + 1, "deletes and re-election commit as one index version")
      val prev = Dedup.readClustersPrevious(spark, clusters).get.collect()
        .map(r => (r.get(0), r.get(1))).toSet
      assert(prev == before, s"the undo window holds the pre-takedown assignment: $prev")
      (counts, clusterState(clusters))
    }
    val fused = run(forceJoins = false)
    val joins = run(forceJoins = true)
    assert(fused == joins, s"paths diverged:\nfused=$fused\njoins=$joins")
    fused
  }

  private val chainDocs = {
    // exact-dup groups {1,2,3} and {10,11}; a sliding-window chain
    // 40~41~42~43 that removing 41 splits (threshold 0.5)
    val w = (1 to 16).map(i => s"w$i")
    def win(from: Int) = w.slice(from, from + 10).mkString(" ")
    Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "alpha beta gamma delta epsilon"), (10L, "zeta eta theta iota kappa"),
      (11L, "zeta eta theta iota kappa"),
      (40L, win(0)), (41L, win(2)), (42L, win(4)), (43L, win(6)))
  }

  for (purge <- Seq(true, false))
    test(s"takedown fold == join path (purgePairs = $purge): rep removal, " +
        "orphaned survivor, split chain, absent id") {
      val (counts, state) = takedownBothPaths(
        Dedup.writePairs(chainDocs.toDF("doc_id", "text"), "doc_id", "text", _),
        Seq(1L, 10L, 41L, 999L).toDF("doc_id"), 0.5, purge)
      assert(counts == ((5L, 4L)), s"deletes {1,10,41} + orphans {11,40}; " +
        s"upserts {2,3} re-elected, {42,43} split off: $counts")
      assert(state == Set[(Any, Any)]((2L, 2L), (3L, 2L), (42L, 42L), (43L, 42L)))
    }

  test("takedown fold == join path when the surviving pairs exceed the " +
      "budget the ids and members fit: the fold re-elects through clusterDuplicates") {
    // 6 exact duplicates; removing the rep leaves 5 survivors with 10 pairs:
    // the id (1) and the members (6) fit an 8-row gate, the pairs do not
    val docs = (1L to 6L).map(i => (i, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val (counts, state) = takedownBothPaths(
      Dedup.writePairs(docs, "doc_id", "text", _), Seq(1L).toDF("doc_id"), 0.8,
      purgePairs = false, foldGate = Some(8L))
    assert(counts == ((1L, 5L)), s"delete 1; re-elect 2..6: $counts")
    assert(state == (2L to 6L).map(i => (i: Any, 2L: Any)).toSet)
  }

  for (purge <- Seq(true, false))
    test(s"takedown fold == join path on string ids (purgePairs = $purge): " +
        "the UTF-8-vs-UTF-16 re-election trap") {
      // {zz, U+FFFD, U+1F600} has rep "zz"; taking "zz" down re-elects
      // between U+FFFD and U+1F600, and only UTF-8 byte order picks U+FFFD.
      // writePairs mines long ids only, so the layout is written directly:
      // exact-duplicate groups, every pair at jaccard 1
      val smiley = new String(Character.toChars(0x1F600))
      val groups = Seq(Seq("a", "c"), Seq("zz", "\uFFFD", smiley), Seq("m", "n"))
      def layout(pairs: String): Unit = {
        graft.store.ManifestTable.write(groups.flatMap(_.combinations(2))
          .map { case Seq(x, y) => (x, 5, y, 5, 5L) }
          .toDF("id_a", "n_a", "id_b", "n_b", "inter"), pairs + "/pairs")
        graft.store.ManifestTable.write(groups.zipWithIndex
          .flatMap { case (g, i) => g.map(id => (id, 5, i.toLong)) }
          .toDF("id", "n", "s"), pairs + "/postings")
      }
      val (counts, state) = takedownBothPaths(layout, Seq("zz", "a").toDF("doc_id"), 0.8, purge)
      assert(counts == ((3L, 2L)), s"deletes {zz, a} + orphan c; upserts U+FFFD, U+1F600: $counts")
      assert(state == Set[(Any, Any)](("\uFFFD", "\uFFFD"), (smiley, "\uFFFD"),
        ("m", "m"), ("n", "m")), s"the UTF-8 minimum is the new rep: $state")
    }

  test("the gate reads the session conf and large graphs still converge " +
      "through the loop (smoke: 3k-edge ring)") {
    val n = 3000L
    val ring = spark.range(n).select(col("id").as("id_a"),
      ((col("id") + 1L) % n).as("id_b"))
    spark.conf.set("graft.cc.smallGraphEdges", "10") // force the loop
    val labels = try Dedup.clusterDuplicates(ring)
    finally spark.conf.unset("graft.cc.smallGraphEdges")
    val rows = labels.collect()
    assert(rows.length == n && rows.forall(_.getLong(1) == 0L) &&
      rows.forall(_.getLong(2) == n),
      "one ring component with rep 0 expected")
  }
}
