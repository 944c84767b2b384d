package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/**
 * Deduplication operators for large-scale training-data pipelines — the north-star
 * extension surface (SURVEY §7 module 5; BASELINE.json). The reference has no
 * dedup; these are designed Spark-first for 100 TB:
 *
 *  - **exact**: one hash-partitioned groupBy on the content key; map-side partial
 *    aggregation collapses duplicates before the shuffle.
 *  - **MinHash-LSH**: per-row signature (shuffle-free, codegen'd) → explode band
 *    keys → self-join on (band, bandHash). The join key space is ~uniform 64-bit
 *    hashes, so the shuffle is skew-free by construction; candidate verification
 *    touches only colliding pairs (candidate count ≪ n²).
 *  - **SimHash**: 64-bit signature + pigeonhole banding on 16-bit chunks —
 *    guarantees recall for Hamming distance ≤ 3 with a 4-way band join.
 *  - **n-gram Jaccard**: exact, via a join-free inverted index (postings →
 *    native ordered-pair stream; never materializes the n² pair matrix).
 *  - **embedding near-dup**: hyperplane-LSH buckets, cosine verified inside the
 *    bucket with the native codegen'd `cosine_sim`.
 *
 * All candidate-pair generators emit `(id_a < id_b)` ordered pairs, deduplicated.
 */
object Dedup {

  /** Observed-metric names carry a per-call sequence suffix
    * (`<base>_<n>.dropped_shingles`): Spark's CheckAnalysis rejects two
    * CollectMetrics nodes with the same name from DIFFERENT Datasets in one
    * plan, so a fixed name would make two calls of the same capped operator
    * un-composable (union over two corpora, join of two columns' results —
    * round-7 advisory). Consumers read the metric by PREFIX match over
    * `QueryExecution.observedMetrics` keys; a plan composing SEVERAL calls
    * of one operator carries one suffixed key per call, so monitors must
    * AGGREGATE over all prefix matches (summing dropped counts), not take
    * the first. The self-referencing duplicate INSIDE one call (spans'
    * island/count branches) shares one Dataset and was always legal. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def metricName(base: String): String =
    base + "_" + metricSeq.incrementAndGet()

  /** Test-visible count of [[clusterDuplicates]] calls that took the
    * small-graph driver fast path — lets specs assert WHICH path a gate
    * configuration selected instead of inferring it from timing. */
  private[graft] val smallGraphFastPathRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Exact dedup: keep the smallest id per distinct value of `contentCol`.
    * Returns (id, content, n_dups). One shuffle, partial-agg combined. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))
      .select(col(idCol), col(contentCol), col("n_dups"))

  /**
   * Apply a candidate-pair set to the corpus: drop every row that appears as
   * the larger id of a duplicate pair (the standard keep-first policy — each
   * cluster's minimum id survives because only non-minimum members ever appear
   * on the `id_b` side of some pair). One anti-join, no driver-side graph.
   */
  def removeDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Exact dedup on a fingerprint of the content (cheap shuffle key for long
    * documents: 16-byte md5 instead of the full text). */
  def exactByFingerprint(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol), fingerprint_md5(col(contentCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /**
   * Keep each duplicate cluster's BEST member, not its first: clusters come
   * from [[clusterDuplicates]] over the candidate `pairs`, and within a
   * cluster the survivor maximizes `scoreCol` (ties → smallest id) — the
   * "keep the highest-quality copy" refinement of [[removeDuplicates]]'
   * keep-first policy (syndicated copies often differ in cleanliness; the
   * min-id copy is arbitrary, the best-scoring one is the one to train on).
   * Deterministic given a deterministic score — pair a replayable scorer
   * ([[graft.ops.TextOps.qualityScore]]) for an oracle-checkable pipeline.
   *
   * Scale shape: the cluster table is pair-graph-sized (only near-dup
   * members appear); the winner rule is one row_number window per cluster
   * over (id, rep, score); non-members pass through on the anti-join miss.
   */
  def removeDuplicatesKeepBest(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    require(!df.columns.contains("__graft_rn"),
      "removeDuplicatesKeepBest uses a '__graft_rn' working column — rename the input's")
    import org.apache.spark.sql.expressions.Window
    val clusters = clusterDuplicates(pairs)
      .select(col("id").as(idCol), col("rep"))
    val w = Window.partitionBy(col("rep"))
      .orderBy(col(scoreCol).desc, col(idCol))
    val winners = df.join(clusters, Seq(idCol))
      .withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") === 1)
      .drop("__graft_rn", "rep")
    df.join(clusters.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(winners)
  }

  /**
   * Cross-source duplicate attribution — the "who copies whom" crawl
   * forensics: for every pair of sources, how many EXACT-duplicate text
   * clusters span both (syndication networks, mirror sites, scraped
   * re-posts). Text reduces to a 16-byte fingerprint at the scan; each
   * fingerprint's DISTINCT source set builds its within-cluster source
   * pairs — a self-equi-join on the fingerprint key, Σ C(sources-per-
   * cluster, 2) work, never corpus². Returns (source_a < source_b,
   * n_clusters, n_docs_a, n_docs_b): shared-cluster count plus each side's
   * document count inside those shared clusters.
   */
  def crossSourceDuplication(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val fp = df.select(fingerprint_md5(col(textCol)).as("fp"),
        col(sourceCol).as("src"))
      .where(col("fp").isNotNull)
      .groupBy(col("fp"), col("src")).agg(count(lit(1)).as("n"))
    val a = fp.select(col("fp"), col("src").as("source_a"), col("n").as("na"))
    val b = fp.select(col("fp"), col("src").as("source_b"), col("n").as("nb"))
    a.join(b, Seq("fp"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("na")).as("n_docs_a"), sum(col("nb")).as("n_docs_b"))
  }

  /** The [[dedupNormalized]] key: lowercase, every non-alphanumeric to a
    * space, runs collapsed, trimmed. RE2-safe, so the chain replays
    * verbatim in DuckDB (`regexp_replace(..., 'g')`). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /**
   * Normalized exact dedup — the C4-style "trivially reformatted" rule:
   * documents equal after [[normalizeText]] (case, punctuation, spacing
   * differences) collapse to one keep-first survivor, catching the
   * re-encoded syndication copies byte-exact dedup ([[exact]]) misses while
   * staying one shuffle (no shingling, no pairs). NULL and
   * punctuation-only texts normalize to the EMPTY key and collapse
   * together — the boilerplate-collapse corner, documented not accidental.
   *
   * Scale shape: text reduces to a 16-byte fingerprint of the normalized
   * form at the scan; one groupBy(min, count) + one equi-join back on
   * (fingerprint, id) — the [[exact]] cost with a codegen'd regexp chain
   * in front. Returns the survivors' input rows plus `n_variants` (how
   * many raw documents collapsed into each).
   */
  def dedupNormalized(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    require(!df.columns.contains("__graft_nfp"),
      "dedupNormalized uses a '__graft_nfp' working column — rename the input's")
    val keyed = df.withColumn("__graft_nfp",
      fingerprint_md5(coalesce(normalizeText(col(textCol)), lit(""))))
    val winners = keyed.groupBy(col("__graft_nfp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_variants"))
    keyed.join(winners, Seq("__graft_nfp", idCol)).drop("__graft_nfp")
  }

  /**
   * Snapshot delta — the CDC step of an incremental corpus build: diff two
   * crawl snapshots by content fingerprint and label every id `added`
   * (only in the new snapshot), `removed` (only in the old), `changed`
   * (present in both, fingerprints differ) or `unchanged`. Downstream
   * stages re-process ONLY `added ∪ changed` instead of the full corpus —
   * at 100 TB the daily delta is typically a few percent of the data.
   *
   * Shape: each side reduces to (id, 16-byte md5) at scan bandwidth — the
   * full-outer join shuffles 24-byte rows, never text. NULL content
   * fingerprints as NULL; two NULLs compare `unchanged` (null-safe
   * equality), NULL vs text compares `changed`.
   */
  def snapshotDelta(oldSnap: DataFrame, newSnap: DataFrame, idCol: String,
      contentCol: String): DataFrame = {
    // presence flags, NOT fingerprint nullness: a row whose content is NULL
    // fingerprints as NULL and would otherwise be indistinguishable from an
    // absent row
    def fp(df: DataFrame, as: String, pres: String) =
      df.select(col(idCol).as("id"), fingerprint_md5(col(contentCol)).as(as),
        lit(true).as(pres))
    fp(oldSnap, "fp_old", "in_old").join(fp(newSnap, "fp_new", "in_new"),
        Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") <=> col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** One string-touching pass: shingle + hash each doc to `(id, th)` with
    * `th: array<long>` — everything downstream of this is long-only. */
  private[graft] def hashedShingles(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"),
      array_distinct(shingle_hashes(split(col(textCol), " "), shingleSize)).as("th"))

  /** LSH band rows `(id, band, bsig)` from hashed shingle sets. */
  private[ops] def bandRows(hashed: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame =
    hashed.select(col("id"),
        explode(minhash_bands(
          minhash_signature_from_hashes(col("th"), numHashes), rowsPerBand)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("bsig"))

  /**
   * MinHash-LSH candidate pairs above an estimated Jaccard threshold.
   * numHashes=128, rowsPerBand=4 → 32 bands: collision probability for
   * similarity s is 1-(1-s^4)^32 (≥0.97 for s≥0.5). Returns
   * (id_a, id_b, jaccard) with exact Jaccard verified on candidates only.
   */
  def minHashLSH(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame =
    // The hashed-shingle table is persisted because three branches reuse it
    // (signatures + both sides of the verification join); the pair result is
    // materialized eagerly so the cache can be released before returning
    // (graft.Eager contract — repeated calls must not pin executor storage).
    graft.Eager.withPersisted(
        hashedShingles(df, idCol, textCol, shingleSize)) { hashed =>
      val banded = bandRows(hashed, numHashes, rowsPerBand)
      // Band self-join carries only (id, band, sig) — never the shingle arrays,
      // which would be duplicated bands-per-doc times through the shuffle.
      val candidates = banded.alias("a").join(banded.alias("b"),
          col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      // Exact Jaccard verified on the hashed shingle sets (collision odds 2^-64).
      candidates
        .join(hashed.select(col("id").as("id_a"), col("th").as("th_a")), "id_a")
        .join(hashed.select(col("id").as("id_b"), col("th").as("th_b")), "id_b")
        .withColumn("jaccard", jaccard(col("th_a"), col("th_b")))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }

  /**
   * Persist the MinHash-LSH index of a reference corpus — the INCREMENTAL
   * INGEST deployment: the reference's signatures are computed exactly once
   * when the corpus is built, and every incoming batch (the daily crawl)
   * dedups against the index without re-reading, re-shingling, or
   * re-signing a byte of the 100 TB reference.
   *
   * Layout: `path/bands` = the (band, bsig, id) collision keys, a
   * [[graft.store.ManifestTable]] (plain parquet behind a manifest pointer
   * — every probe touches every band, so there is nothing to prune by, but
   * daily appends need [[compactNearDupIndex]] to run under in-flight
   * probes); `path/docs` = (key=id, th) through the graft INDEXED layout
   * (range-sorted, sidecar-indexed), so the verification step's id join
   * reads only the FILES containing candidate ids (connector runtime split
   * pruning) instead of scanning the corpus's shingle sets. `path/
   * tombstones` (created by [[removeFromNearDupIndex]]) lists ids whose
   * band rows are dead until the next compaction purges them.
   */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 128,
      rowsPerBand: Int = 4): Unit = {
    // both writes consume the shingle table; persist so the corpus text is
    // read and shingled once (writes are actions — no Eager wrapper needed)
    val hashed = hashedShingles(corpus, idCol, textCol, shingleSize).persist()
    try {
      graft.store.ManifestTable.write(
        bandRows(hashed, numHashes, rowsPerBand), path + "/bands")
      graft.store.KeyedStore.writeIndexed(
        hashed.select(col("id").as("key"), col("th")), path + "/docs", "key")
      clearTombstones(corpus.sparkSession, path)
    } finally hashed.unpersist(blocking = false)
  }

  /**
   * Fold an ALREADY-DEDUPED batch INTO a [[writeNearDupIndex]]ed corpus
   * index — the standalone append half of the daily-crawl loop (for the
   * combined dedupe-then-append step use [[ingestBatch]], which shares
   * one shingle pass across both halves). Band rows append as
   * plain parquet (every probe touches every band — nothing to re-sort);
   * the keyed shingle-set side goes through the store's index-pruned
   * upsert — only the range files a new key lands in are rewritten, the
   * rest of the corpus (and its index entries) untouched. Run
   * [[compactNearDupIndex]] when append counts grow the file population.
   *
   * Crash/retry contract — `docs` is the AUTHORITATIVE table, written
   * first; `bands` is a derived acceleration structure rebuildable from it
   * ([[repairNearDupIndex]]). A crash between the two writes leaves member
   * docs with no band rows: INVISIBLE to probes (the index under-drops
   * their future near-copies) but never a candidate-join inflation, and
   * repairable without re-reading any text (the shingle hashes are stored).
   * With `batchId = Some(tag)` a blind re-run after ANY crash is EXACT:
   * the docs upsert is idempotent (last-write-wins on identical content)
   * and the band append goes through
   * [[graft.store.ManifestTable.appendTagged]] — already-committed tags
   * no-op, partial attempts are swept and rewritten. Without a batchId a
   * blind re-run is correct but double-appends the batch's band rows
   * (duplicate candidacies collapse in the probe; [[repairNearDupIndex]]
   * or the next [[compactNearDupIndex]]-with-repair removes them). The
   * retry must precede any other maintenance op (single-maintainer
   * contract).
   */
  def appendNearDupIndex(batch: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3, numHashes: Int = 128,
      rowsPerBand: Int = 4, batchId: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    if (batchId.exists(t =>
        graft.store.ManifestTable.hasTag(spark, path + "/bands", t)))
      return // this batch fully committed before — blind retry is a no-op
    val hashed = hashedShingles(batch, idCol, textCol, shingleSize).persist()
    try {
      graft.store.KeyedStore.upsertIndexed(spark, path + "/docs",
        hashed.select(col("id").as("key"), col("th")))
      val bands = bandRows(hashed, numHashes, rowsPerBand)
      batchId match {
        case Some(t) =>
          graft.store.ManifestTable.appendTagged(bands, path + "/bands", t): Unit
        case None =>
          graft.store.ManifestTable.append(bands, path + "/bands")
      }
    } finally hashed.unpersist(blocking = false)
  }

  /**
   * Drop batch docs that near-duplicate a doc in a [[writeNearDupIndex]]ed
   * corpus; returns the surviving batch rows with all their columns. The
   * batch's band keys join the index's band table (8-byte keys only — the
   * shingle arrays never ride the candidate shuffle), candidate corpus ids
   * broadcast into the keyed docs read (runtime split pruning: only files
   * containing a candidate are opened), and the collision is verified with
   * EXACT Jaccard on the two shingle sets before anything is dropped —
   * identical guarantees to [[minHashLSH]], so at threshold t the drop set
   * equals the exact cross-corpus rule's. WITHIN-batch duplicates are not
   * touched (compose with [[minHashLSH]] + [[removeDuplicates]] on the batch
   * for that).
   */
  def dedupeAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, path: String, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val dropped = graft.Eager.withPersisted(
        hashedShingles(batch, idCol, textCol, shingleSize)) { hb =>
      indexDropIds(spark, hb, path, numHashes, rowsPerBand, threshold)
    }
    batch.join(dropped.select(col("batch_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** The cross-corpus drop rule from a PERSISTED hashed-shingle frame `hb`
    * (id, th) — shared by [[dedupeAgainstIndex]] and [[ingestBatch]].
    * Returns the distinct dropped batch ids as `batch_id`. */
  private[graft] def indexDropIds(spark: org.apache.spark.sql.SparkSession,
      hb: DataFrame, path: String, numHashes: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val bandsB = bandRows(hb, numHashes, rowsPerBand)
    val bandsC = graft.store.ManifestTable.read(spark, path + "/bands")
    val candAll = bandsB.alias("n").join(bandsC.alias("c"),
        col("n.band") === col("c.band") && col("n.bsig") === col("c.bsig"))
      .select(col("n.id").as("batch_id"), col("c.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    // tombstoned corpus ids ([[removeFromNearDupIndex]]) veto nothing: the
    // anti-join kills their candidacies before any shingle file is read
    // (band rows purge physically at the next [[compactNearDupIndex]]).
    // The candidate side is near-dup-sized, the tombstone side broadcast.
    val cand =
      if (!graft.store.ManifestTable.exists(spark, path + "/tombstones")) candAll
      else candAll.join(
        broadcast(graft.store.ManifestTable.read(spark, path + "/tombstones")),
        col("corpus_id") === col("id"), "left_anti")
    // candidate corpus ids (8 bytes each) broadcast against the keyed
    // layout: the connector's runtime filtering prunes to the files whose
    // key range holds a candidate — the shingle arrays of non-candidates
    // are never read, let alone shuffled
    val thC = graft.store.KeyedStore.readKeyed(spark, path + "/docs")
      .join(broadcast(cand.select(col("corpus_id")).distinct()),
        col("key") === col("corpus_id"))
      .select(col("corpus_id"), col("th").as("th_c"))
    cand
      .join(hb.select(col("id").as("batch_id"), col("th").as("th_b")), "batch_id")
      .join(thC, "corpus_id")
      .where(jaccard(col("th_b"), col("th_c")) >= threshold)
      .select(col("batch_id")).distinct()
  }

  /**
   * The daily-crawl ingest step as ONE operator — [[dedupeAgainstIndex]]
   * and [[appendNearDupIndex]] fused so the batch text is read, tokenized,
   * and shingled exactly ONCE (run separately they each pay that scan):
   * drop batch docs that near-duplicate the index, append the SURVIVORS'
   * signatures into it, return the surviving rows. The drop set is
   * MATERIALIZED (checkpointed) before anything appends — otherwise the
   * lazily-evaluated candidate join would re-read the band table AFTER the
   * batch's own bands landed and every surviving doc would match itself.
   *
   * Crash/retry contract — after the drop set materializes this runs the
   * keyed `docs` upsert FIRST (the authoritative membership/evidence
   * table) and the derived band append second. With `batchId = Some(tag)`
   * a blind re-run after ANY crash is EXACT:
   *
   *  - crash before or during the docs upsert → nothing committed that the
   *    retry's identical drop-set recompute and idempotent re-upsert don't
   *    converge (batch docs in `docs` with NO band rows generate no
   *    self-candidacies, so the recomputed drop set is unchanged);
   *  - crash between the upsert and the band append → same: the retry
   *    re-upserts (no-op) and appends the bands that never landed;
   *  - crash after the tagged band append committed → the tag
   *    short-circuits the whole step and the survivors are replayed as
   *    `batch ∩ docs` membership (one keyed key-column scan — the replay
   *    path's only cost).
   *
   * Without a batchId the first two windows behave identically, but a
   * re-run after full completion re-runs the drop rule against an index
   * that now CONTAINS the batch — every survivor matches itself and drops.
   * Always pass a batchId when the caller may retry. The retry must
   * precede any other maintenance op (single-maintainer contract).
   */
  def ingestBatch(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, path: String, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 4,
      threshold: Double = 0.8, batchId: Option[String] = None): DataFrame = {
    if (batchId.exists(t =>
        graft.store.ManifestTable.hasTag(spark, path + "/bands", t))) {
      // the tagged band append is the LAST step, so its commit marker
      // proves the whole ingest ran: replay survivors = batch ∩ members
      val members = graft.store.KeyedStore.readKeyed(spark, path + "/docs")
        .select(col("key").as(idCol))
      return batch.join(members, Seq(idCol), "left_semi")
    }
    val hb = hashedShingles(batch, idCol, textCol, shingleSize).persist()
    try {
      val dropped = graft.Eager.materialize(
        indexDropIds(spark, hb, path, numHashes, rowsPerBand, threshold))
      val hs = hb.join(dropped.select(col("batch_id").as("id")),
        Seq("id"), "left_anti")
      graft.store.KeyedStore.upsertIndexed(spark, path + "/docs",
        hs.select(col("id").as("key"), col("th")))
      val bands = bandRows(hs, numHashes, rowsPerBand)
      batchId match {
        case Some(t) =>
          graft.store.ManifestTable.appendTagged(bands, path + "/bands", t): Unit
        case None =>
          graft.store.ManifestTable.append(bands, path + "/bands")
      }
      batch.join(dropped.select(col("batch_id").as(idCol)),
        Seq(idCol), "left_anti")
    } finally hb.unpersist(blocking = false)
  }

  /**
   * Delete documents from a [[writeNearDupIndex]]ed layout — the takedown /
   * opt-out verb the daily ingest loop depends on (reference delete
   * surface: DeleteOp.scala:21-39 on the keyed store; this is its analogue
   * on the derived index): without it a removed doc keeps VETOING every
   * future near-copy through [[dedupeAgainstIndex]] forever. Two effects,
   * immediately visible to the next probe:
   *
   *  - `ids` append to the `path/tombstones` manifest table; every
   *    candidate probe anti-joins its corpus side against them, so a
   *    tombstoned doc stops matching at once (its band rows purge
   *    physically at the next [[compactNearDupIndex]]).
   *  - the shingle sets delete from `path/docs` through the store's
   *    index-pruned delete — only the range files containing a deleted key
   *    rewrite.
   *
   * Re-adding the SAME id later requires a [[compactNearDupIndex]] first
   * (the tombstone would veto the re-added doc's candidacies); re-ingesting
   * equivalent content under a NEW id needs nothing.
   *
   * `ids`: one column of document ids (any name).
   */
  def removeFromNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Unit = {
    // snapshot once: the tombstone append and the keyed delete must act on
    // the same id list even if the caller's plan is nondeterministic
    val keys = graft.Eager.materialize(
      ids.select(col(ids.columns.head).as("id")))
    graft.store.ManifestTable.append(keys, path + "/tombstones")
    graft.store.KeyedStore.deleteIndexed(spark, path + "/docs",
      keys.select(col("id").as("key")))
  }

  /**
   * Compaction for the [[writeNearDupIndex]] layout — the lifecycle step
   * after N daily [[ingestBatch]]/[[appendNearDupIndex]] rounds, each of
   * which leaves one more small file set on the band table EVERY probe
   * must fully scan: rewrites `path/bands` to `targetFiles` files with all
   * tombstoned ids purged ([[removeFromNearDupIndex]]), clears the applied
   * tombstones, and runs the keyed store's minor compaction on
   * `path/docs`. Band-side safety under readers comes from the manifest
   * layout (any probe concurrent with ONE compaction keeps its files —
   * [[graft.store.ManifestTable]] contract); a crash between the band
   * rewrite and the tombstone clear is benign (the tombstones re-apply to
   * ids that no longer exist — a no-op anti-join — and the next compaction
   * clears them). Probe results are unaffected by WHEN this runs
   * (spec + q222 assert hash equality through it).
   *
   * Single maintainer: like every index WRITE verb here
   * (ingest/append/remove/compact — the ManifestTable contract), this
   * assumes maintenance ops are externally serialized; concurrent PROBES
   * are the protected party. A [[removeFromNearDupIndex]] racing the
   * window between the band rewrite and the tombstone clear could have
   * its tombstone cleared before its band rows purge — serialized
   * maintenance (one daily loop) makes the window moot.
   */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFiles: Int = 8): Unit = {
    import graft.store.ManifestTable
    val hasTombs = ManifestTable.exists(spark, path + "/tombstones")
    ManifestTable.compact(spark, path + "/bands", targetFiles,
      bands =>
        if (!hasTombs) bands
        else bands.join(
          broadcast(ManifestTable.read(spark, path + "/tombstones")
            .select(col("id").as("__tomb_id"))),
          col("id") === col("__tomb_id"), "left_anti"))
    if (hasTombs) clearTombstones(spark, path)
    graft.store.KeyedStore.compact(spark, path + "/docs"): Unit
  }

  /**
   * Consistency repair (fsck) for a [[writeNearDupIndex]] layout. `docs`
   * (key → hashed shingle set, the keyed store) is the AUTHORITATIVE
   * table; `bands` is a derived acceleration structure — a pure function
   * of `docs` — so repair REBUILDS it deterministically from the stored
   * shingle hashes and reports what was wrong. No document text is
   * re-read: band signatures recompute from the stored `th` arrays, a
   * shuffle-free projection of the docs scan. This closes every
   * inconsistency class a crashed or blindly-retried maintenance op can
   * leave:
   *
   *  - ORPHAN band rows (id in `bands`, absent from `docs` — a crash
   *    between the old bands-first writes, or a [[KeyedStore.deleteIndexed]]
   *    outside [[removeFromNearDupIndex]]): purged. They were invisible to
   *    probe RESULTS (verification finds no shingle set) but inflated every
   *    candidate join.
   *  - MISSING band rows (id in `docs` with no / partial band coverage —
   *    the docs-first crash window): regenerated, making the doc visible
   *    to probes again.
   *  - DUPLICATE band rows (an untagged blind retry): collapsed.
   *  - STALE band rows (same id re-ingested with changed content): the
   *    rebuild replaces them wholesale.
   *
   * Cost: one shuffle over the band table (per-distinct-row copy counts,
   * reused by every report figure), one grid join against the docs keys,
   * then one signature recompute + write of the rebuilt band table (32
   * small rows per doc — file metadata and CPU, never a text scan). The
   * rewrite goes through the manifest swap, so concurrent probes keep
   * their files. Tombstones are left in
   * place (still honored by probes; ids already deleted from `docs` lose
   * their band rows here just as a compaction would purge them). Run it
   * after any suspected crash, or let a scheduled compaction window call
   * it instead of [[compactNearDupIndex]] when strict consistency is
   * wanted over minimum work.
   *
   * Returns a one-row report: `duplicate_rows` (exact copies collapsed),
   * `orphan_rows` (distinct rows whose id had no shingle set),
   * `regenerated_docs` (docs that had ZERO band rows — partial/stale
   * coverage is repaired too but counted in neither column), `band_rows`
   * (rows in the rebuilt table).
   */
  def repairNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numHashes: Int = 128, rowsPerBand: Int = 4,
      targetFiles: Int = 8): DataFrame = {
    import graft.store.{KeyedStore, ManifestTable}
    import spark.implicits._
    val docs = KeyedStore.readKeyed(spark, path + "/docs")
      .select(col("key").as("id"), col("th")).persist()
    // ONE shuffle over the band table — per-distinct-row copy counts feed
    // every report figure (row/duplicate totals, per-id coverage), instead
    // of four separate scans/joins
    val g = ManifestTable.read(spark, path + "/bands")
      .groupBy(col("id"), col("band"), col("bsig"))
      .agg(count(lit(1)).as("__c")).persist()
    try {
      val totals = g.agg(coalesce(sum(col("__c")), lit(0L)).as("r"),
        count(lit(1)).as("d")).head()
      val rowsBefore = totals.getLong(0)
      val distinctRows = totals.getLong(1)
      val perId = g.groupBy(col("id")).agg(count(lit(1)).as("__nb"))
      val cover = perId
        .join(docs.select(col("id"), lit(1).as("__m")), Seq("id"), "full")
        .agg(
          coalesce(sum(when(col("__m").isNull, col("__nb"))
            .otherwise(0L)), lit(0L)).as("orph"),
          count(when(col("__m").isNotNull && col("__nb").isNull, lit(1)))
            .as("regen"))
        .head()
      val orphanRows = cover.getLong(0)
      val regeneratedDocs = cover.getLong(1)
      ManifestTable.compact(spark, path + "/bands", targetFiles,
        _ => bandRows(docs, numHashes, rowsPerBand))
      // parquet footer metadata only — not a data scan
      val rowsAfter = ManifestTable.read(spark, path + "/bands").count()
      Seq((rowsBefore - distinctRows, orphanRows, regeneratedDocs, rowsAfter))
        .toDF("duplicate_rows", "orphan_rows", "regenerated_docs",
          "band_rows")
    } finally {
      docs.unpersist(blocking = false)
      g.unpersist(blocking = false)
    }
  }

  /** Reset `path/tombstones` to empty, preserving its id schema. */
  private def clearTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    if (graft.store.ManifestTable.exists(spark, path + "/tombstones"))
      graft.store.ManifestTable.write(
        graft.store.ManifestTable.read(spark, path + "/tombstones").limit(0),
        path + "/tombstones")

  /**
   * Soft dedup: keep EVERY copy, shrink its sampling weight so each
   * exact-duplicate cluster contributes one unit of training mass (the
   * reweight-instead-of-remove policy — dropping all-but-one copy throws
   * away the "this text occurred n times" signal some mixtures want to keep
   * partially; a weight of 1/n per copy preserves corpus-level mass exactly).
   * Returns every input id with (dup_count, weight_nano) where
   * `weight_nano = floor(1e9 / dup_count)` — integer-exact, no float ratio
   * to diverge between engines. Feed `weight_nano` to weighted samplers
   * ([[graft.ops.Sampling]]) as-is.
   *
   * Scale shape: text collapses to a 16-byte fingerprint at the scan; one
   * count aggregation keyed by fingerprint plus a fingerprint-keyed re-join
   * — only (id, fp) pairs ever shuffle, and the count side is map-side
   * combined before it moves.
   */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol), fingerprint_md5(col(textCol)).as("__fp"))
      .where(col("__fp").isNotNull)
    val counts = fp.groupBy(col("__fp")).agg(count(lit(1)).as("dup_count"))
    fp.join(counts, Seq("__fp"))
      .select(col(idCol), col("dup_count"),
        (lit(1000000000L) / col("dup_count")).cast("long").as("weight_nano"))
  }

  /**
   * Sorted-neighborhood near-dup pairs — the LINEAR-candidate alternative to
   * band joins (the record-linkage "sorted neighborhood method"): order the
   * corpus by its 64-bit SimHash signature and compare each row only to the
   * `window` rows that FOLLOW it in that order, keeping pairs with Hamming
   * distance ≤ `maxHamming`. Candidate count is exactly n·window regardless
   * of corpus skew — no band-bucket blowup on pathological inputs — at the
   * cost of banding's recall guarantee (near-dups more than `window` apart
   * in sig order are missed; larger windows trade cost for recall).
   * Returns (id_a, id_b, hamming) with id_a < id_b.
   *
   * Scale shape: one [[Layout.globalRank]] range shuffle orders (id, sig)
   * pairs — text never moves; the neighbor pass is an equi-join of the
   * rank-shifted probe set against the ranked corpus on the rank key
   * (uniform by construction). No window function, no single-partition sort.
   */
  def sortedNeighborhood(df: DataFrame, idCol: String, textCol: String,
      window: Int = 8, maxHamming: Int = 8,
      tokenHasher: Column => Column = token_hashes): DataFrame = {
    require(window >= 1, "window must be at least 1")
    val sigs = df
      .select(col(idCol).as("id"), tokenHasher(tokens(col(textCol))).as("th"))
      .select(col("id"), simhash64_from_hashes(col("th")).as("sig"))
    val ranked = Layout.globalRank(sigs, Seq(col("sig"), col("id")), "__rn")
    val probes = ranked
      .select(col("id").as("ida"), col("sig").as("siga"),
        explode(array((1 to window).map(lit(_)): _*)).as("__d"),
        col("__rn"))
      .select(col("ida"), col("siga"), (col("__rn") + col("__d")).as("__rn"))
    // ranks are unique, so each unordered pair arises from exactly ONE
    // (rank, rank+d) combination — no dedup pass needed on the output
    probes.join(ranked.select(col("id").as("idb"), col("sig").as("sigb"),
        col("__rn")), Seq("__rn"))
      .withColumn("hamming", hamming64(col("siga"), col("sigb")))
      .where(col("hamming") <= maxHamming)
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"), col("hamming"))
  }

  /**
   * Dedup threshold tuning curve — the "what would threshold t cost me"
   * table computed in ONE pair pass instead of one dedup run per candidate
   * threshold: exact n-gram Jaccard pairs down to 0.2 ([[ngramJaccardPairs]]
   * — the expensive part, done once), then each pair fans into every decile
   * threshold it satisfies. Returns per decile (threshold_permille ∈
   * {200..1000}: n_pairs, n_victims) — n_victims is the DISTINCT count of
   * docs the keep-first rule would drop at that threshold, i.e. exactly the
   * removal cost of running [[removeDuplicates]] there. Decile membership
   * is the pure-integer test `10·inter ≥ d·|A∪B|` on the raw pair counts —
   * exact at every boundary, replays bit-for-bit in any engine.
   *
   * Scale shape: the pair table is near-dup-sized (never corpus²); the
   * fan-out is ≤ 9× pairs; the rollup is a 9-key distinct-count.
   */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, maxDf: Option[Int] = Some(1000)): DataFrame =
    thresholdCurveFromPairs(ngramJaccardPairs(df, idCol, textCol, shingleSize,
      threshold = 0.2, maxDf = maxDf))

  /** [[thresholdCurve]] from an already-mined pair table (inline
    * [[ngramJaccardPairs]] output or a persisted [[writePairs]] table read
    * at threshold ≤ 0.2 — the curve's domain floor): the report without the
    * mining cost. Needs columns (id_b, n_a, n_b, inter). */
  def thresholdCurveFromPairs(pairs: DataFrame): DataFrame =
    // decile membership is the PURE-INTEGER test 10·inter ≥ d·|A∪B| on the
    // raw pair evidence — never a comparison against the 6-decimal rounded
    // public score, whose grid boundaries would diverge from a raw-quotient
    // replay
    pairs.select(col("id_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).cast("long").as("uni"),
        explode(sequence(lit(2), lit(10))).as("d"))
      .where(col("inter") * 10 >= col("d").cast("long") * col("uni"))
      .groupBy((col("d") * 100).cast("long").as("threshold_permille"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("id_b")).as("n_victims"))

  /**
   * Mine the exact n-gram-Jaccard pair table ONCE and persist it — the
   * [[writeNearDupIndex]] discipline applied to PAIRS: the pair mine is
   * the dominant cost of every report in the dedup family
   * ([[removeDuplicatesKeepBest]], [[thresholdCurveFromPairs]],
   * [[dedupImpact]], [[clusterDuplicates]]), and a production corpus runs
   * several of those per review cycle. Mining down to `minJaccard` (default
   * 0.2 — [[thresholdCurve]]'s domain floor) once per corpus and reading
   * the parquet back per report replaces O(reports) shingle passes with
   * O(1).
   *
   * Only the integer evidence persists — (id_a, n_a, id_b, n_b, inter) —
   * never a float score: [[readPairs]] recomputes the raw quotient exactly
   * as the inline path does, so a from-pairs report is bit-identical to its
   * inline twin at ANY threshold ≥ `minJaccard` (the higher-threshold
   * subset of a low-threshold mine equals the direct high-threshold mine —
   * same postings, same cap, same filter).
   *
   * Doc ids must be bigint; any other id type is refused with an
   * IllegalArgumentException before anything is written.
   */
  def writePairs(df: DataFrame, idCol: String, textCol: String, path: String,
      shingleSize: Int = 3, minJaccard: Double = 0.2,
      maxDf: Option[Int] = Some(1000)): Unit = {
    val spark = df.sparkSession
    // the native pair stream (`ordered_pairs`) mines bigint ids only: refuse
    // any other id type here, before anything is written
    val idType = df.select(col(idCol)).schema.head.dataType
    if (idType != org.apache.spark.sql.types.LongType)
      throw new IllegalArgumentException(
        s"writePairs($path): id column `$idCol` is ${idType.catalogString}; " +
          "supported id types: bigint. Cast the id column to bigint.")
    // ONE text scan: persist the postings first, then mine the pairs from
    // the PERSISTED copy — the shingle pass (the dominant cost) runs once,
    // and the postings sidecar [[appendPairs]] needs falls out of it.
    // Both subdirs are [[graft.store.ManifestTable]]s, so [[compactPairs]]
    // and [[prunePairs]] rewrite them under in-flight readers.
    graft.store.ManifestTable.write(
      hashedShingles(df, idCol, textCol, shingleSize)
        .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s")),
      path + "/postings")
    // a null id never pairs (`ordered_pairs` would read it as id 0), as in
    // appendPairs; its postings still persist
    graft.store.ManifestTable.write(
      pairsFromPostings(
          graft.store.ManifestTable.read(spark, path + "/postings")
            .where(col("id").isNotNull),
          minJaccard, maxDf)
        .select(col("id_a"), col("n_a"), col("id_b"), col("n_b"), col("inter")),
      path + "/pairs")
    // a rebuild starts a NEW incarnation: pending lazy-takedown tombstones
    // belong to the old corpus and are cleared — but only AFTER the
    // rebuild's final generation commits (drain-LAST, the same crash
    // discipline as compactPairs): a crash mid-rebuild leaves the OLD
    // corpus live with its GDPR tombstones intact, never a readable table
    // whose taken-down rows resurfaced. A crash between the commit above
    // and this drain over-masks the fresh mine conservatively and heals at
    // the retry or the next compactPairs.
    val tp = new org.apache.hadoop.fs.Path(tombstonesDir(path))
    tp.getFileSystem(spark.sessionState.newHadoopConf()).delete(tp, true): Unit
  }

  private def tombstonesDir(path: String): String = path + "/tombstones"

  /** The PENDING tombstone ids of a [[writePairs]] layout ([[
    * tombstonePairs]]): one `id` column, None when no lazy takedown is
    * outstanding (never tombstoned, or the last [[compactPairs]] drained
    * the sidecar). Existence is an fs-metadata probe — the read path pays
    * nothing while no takedown is pending. */
  private[graft] def pairTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonesDir(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    // a concurrent compaction's drain may delete the sidecar between the
    // probe above and the read — a drained sidecar means "nothing pending",
    // never a reader error (re-verified gone before mapping to None)
    else try Some(graft.store.ManifestTable.read(spark, tombstonesDir(path)))
    catch { case e: org.apache.spark.sql.AnalysisException =>
      if (!fs.exists(p)) None else throw e }
  }

  /** Read a [[writePairs]] table back at `threshold`, reconstructing the
    * raw-quotient `jaccard` from the stored integer evidence — the same
    * IEEE division and ≥-filter as [[ngramJaccardPairs]], so downstream
    * reports cannot diverge from the inline path. Pending
    * [[tombstonePairs]] ids are excluded here (rows naming a tombstoned
    * endpoint never surface), so a lazy takedown is READ-COMPLETE the
    * moment the tombstone append commits. */
  def readPairs(spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double = 0.8): DataFrame = {
    val base = graft.store.ManifestTable.read(spark, path + "/pairs")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
    pairTombstones(spark, path) match {
      case None => base
      case Some(ts) =>
        // explicit broadcast (round-18 advisory): an over-threshold takedown
        // list fails loudly instead of silently shuffling the pair table
        val t = broadcast(ts.select(col("id").as("__ts_id")))
        base.join(t, col("id_a") === col("__ts_id"), "left_anti")
          .join(t, col("id_b") === col("__ts_id"), "left_anti")
    }
  }

  /** [[readPairs]] against the UNDO WINDOW — the pairs generation the last
    * maintenance rewrite ([[prunePairs]] / [[removeFromPairs]] /
    * [[compactPairs]]) retired-but-retained under keep-one-back: the
    * pre-maintenance view, for audits ("what did the prune drop?") and
    * for undoing a mistaken retention rewrite, available until the NEXT
    * rewrite retires it. None when no rewrite has happened yet
    * ([[graft.store.ManifestTable.readPrevious]]). */
  def readPairsPrevious(spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double = 0.8): Option[DataFrame] =
    graft.store.ManifestTable.readPrevious(spark, path + "/pairs")
      .map(_.withColumn("jaccard",
          col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
        .where(col("jaccard") >= threshold))

  /**
   * Incremental maintenance for a [[writePairs]] table — the ingest half
   * of the persisted pair discipline: a NEW batch mines only its
   * within-batch pairs and its cross pairs against the stored corpus
   * POSTINGS (8-byte shingle hashes — the old text is never re-read or
   * re-shingled), appends the evidence to `path/pairs`, and appends its
   * own postings for the next batch. Only the stored postings of shingles
   * TOUCHED BY THE BATCH are read into the mine, and the pair work is
   * Σ over those shingles of df_new·df_all — shingles the batch never
   * mentions cost nothing, and the old×old pair work never repeats. After
   * the append, [[readPairs]] serves the union corpus.
   *
   * Execution shape: within the [[smallGraphGate]] budget
   * (`graft.cc.smallGraphEdges` / `graft.cc.smallGraphBytes`) the mine
   * runs on the driver ([[minePairsLocal]]): one bounded collect of the
   * batch postings, one of the stored postings of the touched shingles
   * (one pruned scan), a plain-Scala intersection count, and both appends
   * from local relations — no shuffle. The budget covers both collects
   * and the pair work itself; over it, or for an id type without an
   * [[idOrdering]], the same mine runs distributed: the stored postings
   * are semi-joined on the batch's shingles before one `groupBy(s)` and
   * one self-join, reading the collected batch postings when they fit.
   * Both paths emit the same pair rows (DedupPairsSpec pins them to each
   * other).
   *
   * Cap semantics under `maxDf`: the cap is evaluated on the COMBINED
   * document frequency, so the appended (new×new, new×old) pairs match a
   * from-scratch mine of the union exactly; already-stored old×old pairs
   * keep the evidence mined under their OWN increment's cap. A shingle
   * whose df crosses the cap only after the append therefore still
   * contributes to old pairs — those scores sit between the uncapped
   * truth and the scratch-capped lower bound (capping under-scores by
   * contract either way). With `maxDf = None` increment ≡ scratch
   * bit-for-bit (the q219 oracle asserts exactly this).
   *
   * Crash/retry contract — pairs append FIRST, postings second, each
   * through [[graft.store.ManifestTable.appendTagged]] when `batchId =
   * Some(tag)`; a blind re-run after ANY crash is then exact. The order
   * matters: the mine must see the stored postings WITHOUT the batch (the
   * `is_new` split), so the pair append's commit marker also certifies
   * "this batch's postings were not yet stored when its pairs were
   * mined" — a retry skips the mine (tag present) and only lands the
   * missing postings. The impossible inverse state (postings committed,
   * pairs not) is rejected loudly rather than silently double-counted.
   * Without a batchId a blind re-run double-appends both tables (every
   * duplicated pair carries duplicated evidence — reports built on
   * dropDuplicates survive, but the table is no longer scratch-equal);
   * recover via [[removeFromPairs]] on the batch ids or a [[writePairs]]
   * rebuild.
   */
  def appendPairs(df: DataFrame, idCol: String, textCol: String, path: String,
      shingleSize: Int = 3, minJaccard: Double = 0.2,
      maxDf: Option[Int] = Some(1000),
      batchId: Option[String] = None): Unit = {
    val spark = df.sparkSession
    val pairsDone = batchId.exists(t =>
      graft.store.ManifestTable.hasTag(spark, path + "/pairs", t))
    val postingsDone = batchId.exists(t =>
      graft.store.ManifestTable.hasTag(spark, path + "/postings", t))
    if (pairsDone && postingsDone) return // fully committed — retry no-ops
    if (postingsDone && !pairsDone)
      throw new IllegalStateException(
        s"appendPairs($path, batch $batchId): postings committed without " +
          "pairs — not a state this writer produces (pairs commit first). " +
          "Rebuild via writePairs or removeFromPairs the batch ids.")
    def append(rows: DataFrame, sub: String): Unit = batchId match {
      case Some(t) =>
        graft.store.ManifestTable.appendTagged(rows, path + sub, t): Unit
      case None => graft.store.ManifestTable.append(rows, path + sub)
    }
    // pending lazy-takedown tombstones gate the STORED side of the mine:
    // removed docs' postings must not pair against the batch (the same
    // ghost-mining hole removeFromPairs' postings rewrite closes eagerly).
    // A tombstoned id RE-ARRIVING in the batch is refused loudly — its new
    // pairs would be invisible behind its own tombstone; run compactPairs
    // (the drain) before re-ingesting a previously removed id.
    val tomb = pairTombstones(spark, path)
      .map(t => graft.Eager.materialize(t.select(col("id").as("__ts_id"))))
    tomb.foreach { t =>
      val clash = df.select(col(idCol).as("__bid")).distinct()
        .join(t, col("__bid") === col("__ts_id"), "left_semi").count()
      if (clash > 0) throw new IllegalStateException(
        s"appendPairs($path): $clash batch id(s) are pending tombstones — " +
          "their new pairs would be hidden behind their own takedown; run " +
          "compactPairs to drain the tombstones before re-ingesting")
    }
    val np = hashedShingles(df, idCol, textCol, shingleSize)
      .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s"))
    // a retry past the pair commit lands only the postings: no mine
    if (pairsDone) { append(np, "/postings"); return }
    val storedPosts = graft.store.ManifestTable.read(spark, path + "/postings")
    val stored = tomb.fold(storedPosts)(t =>
        storedPosts.join(broadcast(t), col("id") === col("__ts_id"), "left_anti"))
      .select(col("id"), col("n"), col("s"))
    import scala.jdk.CollectionConverters._
    // the batch postings, collected once when the mine can run on the
    // driver; both appends and either mine then read the collected rows
    val dt = np.schema("id").dataType
    val ord = idOrdering(dt).filter(_ => stored.schema("id").dataType == dt)
    val fresh = ord.flatMap(_ => boundedCollect(np))
    val batch = fresh.map(rows =>
      spark.createDataFrame(rows.toSeq.asJava, np.schema).coalesce(1))
    ord.zip(fresh).flatMap { case (o, rows) =>
      minePairsLocal(rows, stored, minJaccard, maxDf)(o) } match {
      case Some(pairs) =>
        append(pairs, "/pairs")
        append(batch.get, "/postings")
      case None =>
        // both writes consume the batch postings; unless they were
        // collected, persist so the batch text is read and shingled once
        // (writes are actions — no Eager wrapper)
        val p = batch.getOrElse(np.persist())
        try {
          append(minePairsDistributed(p, stored, minJaccard, maxDf), "/pairs")
          append(p, "/postings")
        } finally if (batch.isEmpty) p.unpersist(blocking = false)
    }
  }

  /** Test-visible count of [[appendPairs]] calls whose mine ran on the
    * driver ([[minePairsLocal]]) — lets specs assert which path a gate
    * configuration selected. */
  private[graft] val pairMineFastPathRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** [[appendPairs]]' driver mine over the collected batch postings
    * `fresh`: the pair rows to append, as a local relation, or None when
    * the stored postings of the shingles the batch touches or the pair
    * work Σ df_new·df over the shingles that survive the cap are over the
    * [[smallGraphGate]] budget, or when a pair's Jaccard denominator is 0
    * (a doc whose postings were stored twice), which the distributed
    * quotient decides. Row-identical to [[minePairsDistributed]]: the same
    * combined-df filter (`df ≥ 2`, `df ≤ maxDf`, null-id postings
    * counted), the same drops (a null id or two equal ids never pair,
    * `id_l =!= id_r`), new×new pairs once by the id order `least()`
    * compares, and the same double quotient against `minJaccard`. */
  private def minePairsLocal(fresh: Array[org.apache.spark.sql.Row],
      stored: DataFrame, minJaccard: Double, maxDf: Option[Int])(
      implicit ord: Ordering[Any]): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val spark = stored.sparkSession
    type Posting = (Any, Int)
    def byShingle(rows: Array[Row]): Map[Long, Array[Posting]] =
      rows.groupMap(_.getLong(2))(r => (r.get(0), r.getInt(1)))
    val touched = fresh.map(_.getLong(2)).distinct
    for {
      old <- if (touched.isEmpty) Some(Array.empty[Row])
        else boundedCollect(stored.where(col("s").isInCollection(touched.toSeq)))
      newBy = byShingle(fresh)
      oldBy = byShingle(old)
      live = newBy.iterator.map { case (s, nw) =>
          (nw, oldBy.getOrElse(s, Array.empty[Posting])) }
        .filter { case (nw, od) =>
          val df = nw.length + od.length
          df >= 2 && maxDf.forall(df <= _) }
        .toSeq
      if live.iterator.map { case (nw, od) =>
        nw.length.toLong * (nw.length + od.length) }.sum <= smallGraphGate(spark)._1
      inter = {
        val m = scala.collection.mutable.HashMap.empty[(Any, Int, Any, Int), Long]
        def tally(l: Posting, r: Posting): Unit =
          if (l._1 != null && r._1 != null && l._1 != r._1) {
            val (a, b) = if (ord.lt(l._1, r._1)) (l, r) else (r, l)
            val k = (a._1, a._2, b._1, b._2)
            m(k) = m.getOrElse(k, 0L) + 1L
          }
        live.foreach { case (nw, od) =>
          var i = 0
          while (i < nw.length) {
            od.foreach(tally(nw(i), _))
            var j = i + 1
            while (j < nw.length) { tally(nw(i), nw(j)); j += 1 }
            i += 1
          }
        }
        m
      }
      if !inter.exists { case ((_, na, _, nb), c) => (na + nb).toLong == c }
    } yield {
      pairMineFastPathRuns.incrementAndGet(): Unit
      val pairs = inter.iterator.collect {
        case ((a, na, b, nb), c)
            if c.toDouble / ((na + nb).toLong - c).toDouble >= minJaccard =>
          Row(a, na, b, nb, c)
      }.toSeq
      val dt = stored.schema("id").dataType
      val pairSchema = StructType(Seq(StructField("id_a", dt),
        StructField("n_a", IntegerType), StructField("id_b", dt),
        StructField("n_b", IntegerType), StructField("inter", LongType)))
      // one output file, as one task writes it
      spark.createDataFrame(pairs.asJava, pairSchema).coalesce(1)
    }
  }

  /** [[appendPairs]]' distributed mine, for batches over the driver
    * budget: the stored postings semi-joined on the batch's shingles, one
    * `groupBy(s)` for the combined df, and one self-join of the surviving
    * shingles' postings. */
  private def minePairsDistributed(np: DataFrame, stored: DataFrame,
      minJaccard: Double, maxDf: Option[Int]): DataFrame = {
    val all = stored.join(np.select(col("s")), Seq("s"), "left_semi")
      .withColumn("is_new", lit(false))
      .unionByName(np.withColumn("is_new", lit(true)))
    // the combined-df cap drops stop-shingles exactly as the scratch mine
    // of the union
    val live = all.groupBy(col("s"))
      .agg(count(lit(1)).as("df"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("dfn"))
      .where(col("dfn") >= 1 && col("df") >= 2 &&
        maxDf.map(cap => col("df") <= cap).getOrElse(lit(true)))
      .select(col("s"))
    val cand = all.join(live, Seq("s"))
    val l = cand.where(col("is_new"))
      .select(col("s"), col("id").as("id_l"), col("n").as("n_l"))
    val r = cand.select(col("s"), col("id").as("id_r"), col("n").as("n_r"),
      col("is_new").as("new_r"))
    // (new, old) pairs once; (new, new) once via the id order; old×old
    // never — that evidence is already on disk
    l.join(r, Seq("s"))
      .where(col("id_l") =!= col("id_r") &&
        (!col("new_r") || col("id_l") < col("id_r")))
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        when(col("id_l") < col("id_r"), col("n_l")).otherwise(col("n_r"))
          .as("n_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        when(col("id_l") < col("id_r"), col("n_r")).otherwise(col("n_l"))
          .as("n_b"))
      .groupBy(col("id_a"), col("n_a"), col("id_b"), col("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("n_a"), col("id_b"), col("n_b"), col("inter"))
  }

  /**
   * Compaction for a [[writePairs]]/[[appendPairs]] layout — the lifecycle
   * step after N daily appends: each append adds one small file set to
   * `path/pairs` and `path/postings`, and a year of ingest turns every
   * [[readPairs]] into a thousand-file open storm. Both subdirs are
   * [[graft.store.ManifestTable]]s: compaction writes the next generation
   * completely, swaps the manifest pointer, and retains the previous
   * generation for one more cycle — so, unlike the two-rename compactor
   * this replaced (round ≤ 10), any reader concurrent with ONE compaction
   * keeps every file it planned against (the spec drives a read across the
   * swap). A crash at any point leaves a readable table (ManifestTable
   * contract). Row multisets are untouched (spec-asserted multiset
   * equality), so every from-pairs report is oblivious to when compaction
   * ran.
   */
  def compactPairs(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFiles: Int = 8): Unit = {
    // apply pending lazy-takedown tombstones PHYSICALLY while we are
    // rewriting anyway (the LSM compaction-applies-deletes economics),
    // then drain the sidecar. Order is crash-shaped: both rewrites commit
    // BEFORE the drain, and a crash anywhere leaves the tombstones in
    // place — filtering already-deleted rows is a no-op, so reads stay
    // exact and a blind retry converges.
    val tomb = pairTombstones(spark, path)
      .map(t => broadcast(graft.Eager.materialize(
        t.select(col("id").as("__ts_id")))))
    val pairsFilter: DataFrame => DataFrame = tomb.fold(
      (p: DataFrame) => p)(t => p =>
        p.join(t, col("id_a") === col("__ts_id"), "left_anti")
          .join(t, col("id_b") === col("__ts_id"), "left_anti"))
    val postsFilter: DataFrame => DataFrame = tomb.fold(
      (p: DataFrame) => p)(t => p =>
        p.join(t, col("id") === col("__ts_id"), "left_anti"))
    graft.store.ManifestTable.compact(spark, s"$path/pairs", targetFiles,
      pairsFilter)
    graft.store.ManifestTable.compact(spark, s"$path/postings", targetFiles,
      postsFilter)
    tomb.foreach { _ =>
      val p = new org.apache.hadoop.fs.Path(tombstonesDir(path))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
    }
  }

  /**
   * LAZY takedown on a [[writePairs]] layout — the LSM delete discipline
   * for the 100 TB regime where [[removeFromPairs]]' synchronous
   * full-table rewrite is unaffordable: append `ids` to a tombstone
   * sidecar (`<path>/tombstones`, a [[graft.store.ManifestTable]]) in
   * O(|ids|) with ZERO data rewrite. The takedown is READ-COMPLETE
   * immediately — [[readPairs]] excludes rows naming a tombstoned
   * endpoint and [[appendPairs]] stops mining the batch against
   * tombstoned postings — and becomes PHYSICAL at the next
   * [[compactPairs]], which applies the filter during the rewrite it was
   * doing anyway and drains the sidecar. Equivalence matches
   * [[removeFromPairs]]' contract (with `maxDf = None`, reads ≡ a scratch
   * mine of the survivors; under a finite cap the same under-mining
   * caveat). Re-ingesting a tombstoned id before the drain is refused
   * loudly by [[appendPairs]]. Single-maintainer like every write verb;
   * [[readPairsPrevious]] deliberately shows the PRE-takedown evidence
   * (it is the audit view, same as after an eager [[removeFromPairs]]).
   * Returns the number of ids tombstoned.
   */
  def tombstonePairs(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame): Long = {
    val sel = ids.select(col(ids.columns.head).as("id"))
    // a driver-local id list dedups on the driver: no materialize and
    // count jobs for what is already in memory
    val (rm, n) =
      if (ids.isLocal) {
        val rows = sel.collect().distinct
        (spark.createDataFrame(java.util.Arrays.asList(rows: _*), sel.schema),
          rows.length.toLong)
      } else {
        val m = graft.Eager.materialize(sel.distinct())
        (m, m.count())
      }
    if (n > 0) graft.store.ManifestTable.append(rm, tombstonesDir(path))
    n
  }

  /**
   * WITHDRAW a pending lazy takedown — [[tombstonePairs]]' inverse, for
   * the request filed in error or legally withdrawn: remove `ids` from
   * the tombstone sidecar, so [[readPairs]]/[[appendPairs]] stop masking
   * them immediately. Only meaningful BEFORE the next [[compactPairs]]
   * (the physical drain — after it the rows are gone and the path back
   * is [[readPairsPrevious]]'s undo window or a rebuild); ids not
   * pending are no-ops. The sidecar rewrites as one tiny generation
   * swap (tombstone lists are |takedown-requests|-sized, never
   * corpus-sized). Returns the number of ids un-tombstoned.
   */
  def untombstonePairs(spark: org.apache.spark.sql.SparkSession,
      path: String, ids: DataFrame): Long =
    withdrawTombstones(spark, tombstonesDir(path),
      pairTombstones(spark, path), ids)

  /** The shared withdrawal core for every lazy-takedown sidecar: rewrite
    * the pending set minus `ids` as one tiny generation swap (or delete
    * the sidecar when nothing remains — the "no takedown pending" state
    * the readers fast-path on). Tombstone lists are
    * |takedown-requests|-sized, never corpus-sized, so the rewrite is
    * metadata-class however large the corpus. */
  private[graft] def withdrawTombstones(
      spark: org.apache.spark.sql.SparkSession, sidecarDir: String,
      pendingOpt: Option[DataFrame], ids: DataFrame): Long =
    pendingOpt match {
      case None => 0L
      case Some(ts) =>
        val back = graft.Eager.materialize(
          ids.select(col(ids.columns.head).as("__back_id")).distinct())
        val pending = graft.Eager.materialize(ts.select(col("id")).distinct())
        val keep = graft.Eager.materialize(pending.join(broadcast(back),
          col("id") === col("__back_id"), "left_anti"))
        val removed = pending.count() - keep.count()
        if (removed > 0) {
          if (keep.isEmpty) {
            val tp = new org.apache.hadoop.fs.Path(sidecarDir)
            tp.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(tp, true): Unit
          } else graft.store.ManifestTable.write(keep, sidecarDir)
        }
        removed
    }

  /**
   * Retention rewrite for a [[writePairs]] table — irreversible once the
   * NEXT rewrite retires the undo window ([[readPairsPrevious]] serves the
   * pre-prune view until then): drop every
   * stored pair whose exact Jaccard falls below a RAISED floor
   * `newMinJaccard`, so a year-old pair table stops carrying the 0.2-floor
   * long tail no report reads (the tail dominates row count: near-dup pair
   * populations grow fast as the threshold drops). The filter is the same
   * IEEE quotient-and-≥ [[readPairs]] applies, so the pruned table is
   * row-identical to a fresh [[writePairs]] mine at `newMinJaccard`
   * (spec-asserted) and every [[readPairs]] at `threshold ≥ newMinJaccard`
   * is unchanged. Postings are untouched — they serve [[appendPairs]],
   * which should be called with the raised floor from here on (appending
   * at a lower floor than the prune re-grows the tail for new pairs only).
   * Runs through the manifest layout: safe under one concurrent reader,
   * like [[compactPairs]].
   */
  def prunePairs(spark: org.apache.spark.sql.SparkSession, path: String,
      newMinJaccard: Double, targetFiles: Int = 8): Unit =
    graft.store.ManifestTable.compact(spark, path + "/pairs", targetFiles,
      pairs => pairs.where(
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter"))
          >= newMinJaccard))

  /**
   * Delete documents from a [[writePairs]] layout — the takedown verb on
   * the pair table ([[removeFromNearDupIndex]]'s twin; without it a removed
   * doc keeps appearing in every keep-best / impact / curve report, and
   * keeps DROPPING surviving docs it paired with). Both subdirs rewrite
   * through their manifests (reader-concurrent, like [[compactPairs]]):
   * `pairs` drops every row naming a removed id on EITHER side, `postings`
   * drops the removed ids' shingle rows so future [[appendPairs]] batches
   * stop mining pairs against ghosts.
   *
   * Equivalence contract: pair evidence is strictly PAIRWISE ((n_a, n_b,
   * inter) involve only the two docs), so with `maxDf = None` the rewritten
   * table is row-identical to a from-scratch [[writePairs]] mine of the
   * surviving corpus (oracle q227 asserts the keep-best hash). Under a
   * finite cap the usual increment caveat applies one more way: a shingle
   * whose df falls back UNDER the cap because removed docs carried it
   * would contribute pairs in a scratch mine that the rewritten table
   * lacks — capping under-mines by contract ([[appendPairs]] scaladoc).
   */
  def removeFromPairs(spark: org.apache.spark.sql.SparkSession, path: String,
      ids: DataFrame, targetFiles: Int = 8): Unit = {
    // snapshot once: the pairs rewrite advances the generation the caller's
    // plan may itself be reading (ids = readPairs(...) is legitimate), and
    // the postings rewrite must see the SAME id list
    val rm = broadcast(graft.Eager.materialize(
      ids.select(col(ids.columns.head).as("__rm_id"))))
    graft.store.ManifestTable.compact(spark, path + "/pairs", targetFiles,
      p => p.join(rm, p("id_a") === col("__rm_id"), "left_anti")
            .join(rm, col("id_b") === col("__rm_id"), "left_anti"))
    graft.store.ManifestTable.compact(spark, path + "/postings", targetFiles,
      p => p.join(rm, p("id") === col("__rm_id"), "left_anti"))
  }

  /**
   * Per-source dedup impact report from a candidate pair table — what a
   * keep-first dedup at these pairs would COST each source: for every
   * source, its document count, how many of its docs the rule drops
   * (cluster non-representatives), the integer `weightCol` mass dropped
   * vs total (token counts, bytes — the budget currency), and the exact
   * dropped-weight permille. Pair-table-agnostic: exact-fingerprint pairs,
   * [[ngramJaccardPairs]], [[readPairs]], [[simHash]] output all work —
   * anything with (id_a, id_b).
   *
   * Scale shape: [[clusterDuplicates]]' log-bounded pointer jumping on the
   * pair graph (pair-sized, never corpus²), one left join back on the id
   * key, one map-side-combined per-source rollup.
   */
  def dedupImpact(df: DataFrame, idCol: String, sourceCol: String,
      weightCol: String, pairs: DataFrame): DataFrame = {
    val dropped = clusterDuplicates(pairs)
      .where(col("id") =!= col("rep"))
      .select(col("id").as(idCol), lit(1L).as("__d"))
    df.select(col(idCol), col(sourceCol).as("source"),
        col(weightCol).cast("long").as("__t"))
      .join(dropped, Seq(idCol), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("__d")), lit(0L)).as("n_dropped"),
        coalesce(sum(when(col("__d").isNotNull, col("__t"))), lit(0L))
          .as("tokens_dropped"),
        sum(col("__t")).as("tokens_total"))
      .withColumn("drop_permille",
        expr("1000 * tokens_dropped div tokens_total"))
  }

  /**
   * SimHash near-dup pairs with Hamming distance ≤ `maxHamming` (≤ 3 for full
   * recall via 16-bit pigeonhole banding). Returns (id_a, id_b, hamming).
   */
  def simHash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      tokenHasher: Column => Column = token_hashes): DataFrame = {
    require(maxHamming <= 3, "pigeonhole banding on 4 chunks guarantees recall only for ≤3")
    val sigs = df
      .select(col(idCol).as("id"), tokenHasher(tokens(col(textCol))).as("th"))
      .select(col("id"), simhash64_from_hashes(col("th")).as("sig"))
    val banded = sigs.select(col("id"), col("sig"), explode(simhash_chunks(col("sig"))).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"), col("b.sig").as("bsig"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /**
   * Near-dup pairs among precomputed 64-bit signatures (perceptual image
   * hashes, simhashes from other modalities — anything packing similarity
   * into Hamming distance): 8 pigeonhole bands of 8 bits, so two signatures
   * within Hamming distance `maxHamming ≤ 7` agree on at least one full band
   * and meet in the band self-join — guaranteed recall, then the exact
   * popcount filters false candidates. The [[simHash]] machinery generalized
   * to caller-supplied signatures ([[graft.ops.Multimodal.imageAHash]] is
   * the canonical producer). Null signatures (quarantined payloads) never
   * pair. Returns (id_a, id_b, hamming).
   *
   * Scale shape: the join moves (id, 8-byte sig) pairs keyed by (band,
   * 8-bit chunk) — blobs/text never shuffle; band buckets are bounded by the
   * corpus's per-chunk collision rate exactly like the MinHash band join.
   */
  def hammingPairs(df: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "8-band pigeonhole guarantees recall only for hamming <= 7")
    val sigs = df.select(col(idCol).as("id"), col(sigCol).as("sig"))
      .where(col("sig").isNotNull)
    val banded = sigs.select(col("id"), col("sig"),
        explode(array((0 until 8).map(c => struct(lit(c).as("band"),
          shiftrightunsigned(col("sig"), c * 8).bitwiseAND(lit(0xFFL))
            .as("bsig"))): _*)).as("b"))
      .select(col("id"), col("sig"), col("b.band").as("band"),
        col("b.bsig").as("bsig"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bsig") === col("b.bsig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("bigint").as("hamming"))
  }

  /**
   * Exact n-gram Jaccard pairs ≥ threshold via a join-free inverted index:
   * explode distinct shingle hashes, group postings per shingle, emit the
   * ordered pair stream natively (`ordered_pairs`, with each doc's set size
   * carried inside the pair), count intersections, then
   * |A∪B| = |A|+|B|-|A∩B|. One scan, TWO shuffles (postings, pair counts),
   * ZERO joins — the classic formulation needs a self-join plus two size
   * lookups. Single-document shingles never form a pair and are dropped before
   * pair generation. Returns (id_a, id_b, jaccard).
   *
   * Scale note: a shingle shared by k docs yields k(k-1)/2 pairs — identical
   * blowup to the self-join formulation (exactness requires it). At 100 TB,
   * cap posting-list length with `maxDf` (drop stop-shingles by document
   * frequency) as every similarity-join system does: near-duplicates still
   * share plenty of RARE shingles, so recall on true near-dups survives while
   * the worst-case quadratic term disappears. The cap DEFAULTS to 1000 like
   * the rest of the shared-substring family — pass `maxDf = None` explicitly
   * to opt into the exact unbounded computation on a corpus known to have no
   * stop-shingles. With a cap (the oracle-checked q24/q72 configuration — the
   * DuckDB replay applies the identical stop-shingle rule), intersections count
   * only uncapped shingles, so the reported jaccard is a LOWER BOUND of the
   * true value (capped pairs can only be missed or under-scored, never
   * over-scored past the threshold). Denominator sizes |A|,|B| always count
   * ALL shingles, capped ones included. When a cap is set, the number of
   * dropped stop-shingles is emitted as the observed metric
   * `ngram_jaccard_stats_<n>.dropped_shingles` (per-call-unique name; read
   * by prefix — see [[sharedSubstringPairs]] for the delivery contract).
   *
   * This internal face returns the RAW integer evidence alongside the raw
   * quotient: (id_a, n_a, id_b, n_b, inter, jaccard-unrounded) — what
   * integer-exact derived thresholds need. [[ngramJaccard]] is the public
   * rounded projection.
   */
  private[graft] def ngramJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Int] = Some(1000)): DataFrame =
    // Index keyed by the 64-bit shingle hash, not the shingle string: postings
    // shuffle 8-byte keys instead of n-gram text (same result — a hash
    // collision altering a count has odds ~2^-64).
    pairsFromPostings(
      hashedShingles(df, idCol, textCol, shingleSize)
        .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s")),
      threshold, maxDf)

  /** The pair mine from an (id, n, s) posting table — shared by the inline
    * [[ngramJaccardPairs]] and [[writePairs]] (which feeds it the SAME
    * staged postings it persists, so the corpus text is read and shingled
    * exactly once per mine). */
  private def pairsFromPostings(inv: DataFrame, threshold: Double,
      maxDf: Option[Int]): DataFrame = {
    val grouped = inv.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
    val postings = maxDf.map { cap =>
        // observed metric mirrors the shared-substring family's: how many
        // stop-shingles the cap dropped from intersection counting (AQE may
        // prune it with a fully-empty plan — best-effort, like the others)
        grouped.observe(metricName("ngram_jaccard_stats"),
          sum(when(size(col("docs")) > cap, 1L).otherwise(0L))
            .as("dropped_shingles"))
          .where(size(col("docs")) > 1 && size(col("docs")) <= cap)
      }.getOrElse(grouped.where(size(col("docs")) > 1))
    postings
      .select(explode(ordered_pairs(col("docs"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.n_a").as("n_a"),
        col("p.id_b").as("id_b"), col("p.n_b").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")))
      .where(col("jaccard") >= threshold)
  }

  /** The public [[ngramJaccardPairs]] face: (id_a, id_b, jaccard) with the
    * score rounded to the 6-decimal reporting grid. Derived consumers that
    * THRESHOLD on the score ([[thresholdCurve]]) must use the raw integer
    * counts instead — comparing the rounded value against a cut would
    * diverge from any raw-quotient replay at the grid boundaries. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxDf: Option[Int] = Some(1000)): DataFrame =
    ngramJaccardPairs(df, idCol, textCol, shingleSize, threshold, maxDf)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /**
   * Shingle-CONTAINMENT pairs: `inter / min(|A|, |B|)` ≥ `threshold` — the
   * asymmetric near-dup Jaccard structurally misses. A 15-token quote
   * embedded in a 500-token page has Jaccard ≈ 13/500 (invisible at any
   * sane threshold) but containment 1.0: the smaller document is entirely
   * inside the larger. This is the quote/mirror/boilerplate-wrapper
   * detector a crawl-dedup stage runs NEXT TO whole-document Jaccard, per
   * the containment analyses in the dedup literature (Broder's original
   * resemblance/containment pair).
   *
   * Same join-free inverted-index machinery as [[ngramJaccard]] (8-byte
   * shingle-hash postings, native ordered-pair stream, `maxDf` stop-shingle
   * cap with the identical lower-bound semantics — capped pairs under-score,
   * never over-score; dropped stop-shingles surface as the observed metric
   * `containment_stats_<n>.dropped_shingles`). Denominator sizes count ALL
   * distinct shingles. Returns (id_a, id_b, n_a, n_b, inter, containment);
   * sizes are bigint so the schema round-trips engines losslessly.
   */
  def shingleContainment(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.9,
      maxDf: Option[Int] = Some(1000)): DataFrame = {
    val inv = df.select(col(idCol).as("id"),
        array_distinct(shingle_hashes(split(col(textCol), " "), shingleSize)).as("th"))
      .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s"))
    val grouped = inv.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
    val postings = maxDf.map { cap =>
        grouped.observe(metricName("containment_stats"),
          sum(when(size(col("docs")) > cap, 1L).otherwise(0L))
            .as("dropped_shingles"))
          .where(size(col("docs")) > 1 && size(col("docs")) <= cap)
      }.getOrElse(grouped.where(size(col("docs")) > 1))
    postings
      .select(explode(ordered_pairs(col("docs"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.n_a").as("n_a"),
        col("p.id_b").as("id_b"), col("p.n_b").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_a").cast("bigint").as("n_a"),
        col("n_b").cast("bigint").as("n_b"), col("inter"),
        round(col("containment"), 6).as("containment"))
  }

  /**
   * Exact substring-overlap pairs: documents sharing at least one contiguous
   * run of `minTokens` tokens (the document-pair form of exact-substring
   * dedup à la Lee et al., "Deduplicating Training Data Makes Language
   * Models Better" — which finds verbatim cross-document text that
   * Jaccard-style whole-document similarity misses: a 30-token license
   * header shared by two otherwise-unrelated documents).
   *
   * Identity that makes it one inverted-index pass: two documents share a
   * ≥k-token contiguous substring IFF they share a k-token shingle (any
   * longer shared run contains one; a shared k-shingle IS such a run). So
   * the same join-free postings machinery as [[ngramJaccard]] applies, with
   * k = `minTokens`: explode distinct k-shingle hashes, group postings,
   * stream ordered pairs natively, count. `n_shared` = number of distinct
   * shared k-shingles ≈ overlap extent (a shared run of length L ≥ k
   * contributes L−k+1). Same 100 TB posture: 8-byte posting keys, and a
   * `maxDf` stop-shingle cap for the quadratic tail — NOT optional here,
   * because boilerplate shared by thousands of docs is precisely this
   * operator's target corpus pathology (a license header in a million docs
   * would otherwise build one million-entry posting row and 5·10¹¹ pairs).
   * Shingles over the cap are dropped from pairing (flag them with
   * [[TextOps.repetitionProfile]] instead); `n_shared` is therefore a LOWER
   * BOUND when the cap bites. The number of dropped stop-shingles is
   * emitted as the observed metric `shared_substring_pairs_stats_<n>.
   * dropped_shingles` — the name carries a per-call sequence suffix so two
   * capped calls compose in one plan; read it with a
   * `QueryExecutionListener` matching keys by PREFIX. Delivery is
   * guaranteed on any run whose result is non-empty (spec-pinned); the one
   * exception is a plan whose result is entirely empty, where AQE's
   * empty-relation propagation prunes the metric node with everything else.
   * Returns (id_a, id_b, n_shared).
   */
  def sharedSubstringPairs(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxDf: Int = 1000): DataFrame = {
    val inv = df.select(col(idCol).as("id"),
        array_distinct(shingle_hashes(split(col(textCol), " "), minTokens)).as("th"))
      .select(col("id"), size(col("th")).as("n"), explode(col("th")).as("s"))
    inv.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("n"))).as("docs"))
      .observe(metricName("shared_substring_pairs_stats"),
        sum(when(size(col("docs")) > maxDf, 1L).otherwise(0L))
          .as("dropped_shingles"))
      .where(size(col("docs")) > 1 && size(col("docs")) <= maxDf)
      .select(explode(ordered_pairs(col("docs"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * [[sharedSubstringPairs]] with span extent: for each document pair sharing
   * a ≥`minTokens`-token contiguous run, also report the length in tokens of
   * the LONGEST shared run — the quantity Lee et al.'s exact-substring dedup
   * actually cuts, enabling span-level dedup instead of whole-document drops.
   *
   * Mechanics: positional k-shingle postings (`posexplode` keeps each
   * shingle's token offset; no `array_distinct`, so repeated text still maps
   * to distinct offsets). A shared run of length L ≥ k shows up as L−k+1
   * shared shingle occurrences on one DIAGONAL (pos_a − pos_b constant) at
   * consecutive pos_a, so max run = longest consecutive-integer island per
   * (pair, diagonal) + k − 1 — classic gaps-and-islands with island key
   * pos_a − row_number() (the window partitions are per-(pair, diagonal),
   * tiny and uniformly keyed). Occurrence pairs are generated inside each
   * posting row with nested array HOFs — no self-join — which makes the
   * posting-row SIZE the scale contract, bounded by TWO caps: `maxDf` caps
   * DISTINCT documents per shingle (stop-shingle rationale, as in
   * [[ngramJaccard]]), and `maxOccurrences` caps total occurrences per
   * shingle — necessary because a shingle repeated m times across few docs
   * passes `maxDf` yet would materialize ~m² pair structs inside ONE row
   * (round-6 advisory). With both caps the in-row build is ≤
   * maxOccurrences², and rows over either cap are dropped from pairing
   * entirely (counted in the observed metric
   * `shared_substring_spans_stats_<n>.dropped_shingles` — per-call-unique
   * name, read by prefix; delivery contract as in
   * [[sharedSubstringPairs]]), so `n_shared` and
   * `max_run_tokens` are LOWER BOUNDS when a cap bites — the same
   * deterministic rule the DuckDB oracle replays. (pair, diag, pos_a) rows
   * are unique by construction — a document has exactly one shingle per
   * offset — so no pre-island dedup pass is needed. Short-document contract
   * matches the shingle contract: a doc with < k tokens is one whole-text
   * shingle, so two such identical docs report max_run_tokens = k.
   * Returns (id_a, id_b, n_shared, max_run_tokens).
   */
  def sharedSubstringSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxDf: Int = 1000,
      maxOccurrences: Int = 4000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = df.select(col(idCol).as("id"),
      posexplode(shingle_hashes(split(col(textCol), " "), minTokens)).as(Seq("pos", "s")))
    val postings = inv.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("pos"))).as("occ"),
        count_distinct(col("id")).as("ndocs"))
      .observe(metricName("shared_substring_spans_stats"),
        sum(when(col("ndocs") > maxDf || size(col("occ")) > maxOccurrences, 1L)
          .otherwise(0L)).as("dropped_shingles"))
      .where(col("ndocs") > 1 && col("ndocs") <= maxDf &&
        size(col("occ")) <= maxOccurrences)
    val occPairs = postings.select(col("s"), explode(flatten(transform(col("occ"), a =>
        filter(transform(col("occ"), b => struct(
            a("id").as("id_a"), a("pos").as("pos_a"),
            b("id").as("id_b"), b("pos").as("pos_b"))),
          p => p("id_a") < p("id_b"))))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.pos_a").as("pos_a"),
        col("p.id_b").as("id_b"), col("p.pos_b").as("pos_b"), col("s"))
    // The island pass and the n_shared count both consume the occurrence-pair
    // stream — as one lazy plan: the duplicated subtree is the SAME object,
    // so the duplicate CollectMetrics nodes are same-plan (allowed) and AQE
    // stage reuse covers the shared shuffles. Not persisted (an
    // InMemoryRelation would hide the CollectMetrics node from
    // observedMetrics traversal) and not checkpointed (measured slower than
    // recompute-with-reuse at the 10× probe scale on cutSharedSpans'
    // identical shape, and it pinned blocks until GC).
    val op = occPairs
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    val runs = op
      .select(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("diag"), col("pos_a"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((max(col("run_len")) + lit(minTokens - 1)).cast("bigint")
        .as("max_run_tokens"))
    op.groupBy(col("id_a"), col("id_b"))
      .agg(count_distinct(col("s")).as("n_shared"))
      .join(runs, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"), col("max_run_tokens"))
  }

  /**
   * Span-CUT dedup application — the transform Lee et al.'s exact-substring
   * dedup actually performs: every ≥`minTokens`-token run that already
   * occurs in an EARLIER document (smaller id — the same keep-first order as
   * [[removeDuplicates]]) is spliced out of later documents; the first
   * occurrence survives verbatim. Whole-document dropping
   * ([[removeDuplicates]]) throws away unique content around a boilerplate
   * span; this keeps it.
   *
   * Cut rule, chosen to be deterministic and oracle-replayable: a token at
   * offset p of document X is cut IFF some k-shingle of X starting at an
   * offset s ∈ [p−k+1, p] also occurs in a document with id < X (equivalent:
   * X is the `id_b` side of an occurrence pair — the union of b-side spans
   * [s, s+k−1]). Within-document repeats are NOT cut (cross-document dedup
   * only), and the caps (`maxDf`, `maxOccurrences` — see
   * [[sharedSubstringSpans]]) exclude stop-shingles from cutting, so an
   * over-cap shingle's spans survive everywhere (UNDER-cutting, never
   * over-cutting, when a cap bites).
   *
   * Shape for 100 TB: the shared-occurrence postings are the same
   * inverted-index build as [[sharedSubstringSpans]]; covered positions
   * explode only the b-side occurrences (k ints per occurrence, deduplicated
   * by (id, pos)); and ONLY documents that actually need a cut are
   * re-tokenized relationally (posexplode → anti-join covered positions →
   * ordered reassembly, all shuffling on uniform doc-id keys) — untouched
   * documents stream through with their ORIGINAL text, no token shuffle, no
   * re-serialization artifacts. Cleaned text is single-space joined (the
   * token-sequence definition of the contract); a fully-covered document
   * comes back as the empty string with n_tokens = 0.
   *
   * Returns (idCol, text_clean, n_tokens, was_cut).
   */
  def cutSharedSpans(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, maxDf: Int = 1000,
      maxOccurrences: Int = 4000): DataFrame = {
    val k = minTokens
    val inv = df.select(col(idCol).as("id"),
      posexplode(shingle_hashes(split(col(textCol), " "), k)).as(Seq("pos", "s")))
    val postings = inv.groupBy(col("s"))
      .agg(collect_list(struct(col("id"), col("pos"))).as("occ"),
        count_distinct(col("id")).as("ndocs"))
      .where(col("ndocs") > 1 && col("ndocs") <= maxDf &&
        size(col("occ")) <= maxOccurrences)
    // b-side occurrence starts: shingle occurrences in any doc LATER than the
    // shingle's first (min-id) doc. Expanding each start to its k covered
    // token offsets and deduplicating gives the per-doc cut set.
    // The cut set feeds every branch (semi join, anti join, token anti-join)
    // and is deliberately NOT persisted or checkpointed: the whole operator
    // stays one lazy declarative plan. Measured at the 10× probe scale,
    // eagerly checkpointing the cut set and re-reading it per branch was
    // 2.3× SLOWER than letting Catalyst/AQE replan the duplicated subtree
    // (materialize-then-scan loses to recompute-with-stage-reuse), and the
    // lazy form pins no executor storage across the operator's lifetime —
    // no release handle, no GC-owned blocks. Callers running MULTIPLE
    // actions over the result should persist/checkpoint it themselves.
    val cov = postings
      .withColumn("min_id", array_min(transform(col("occ"), o => o("id"))))
      .select(col("min_id"), explode(col("occ")).as("o"))
      .where(col("o.id") > col("min_id"))
      .select(col("o.id").as("id"),
        explode(sequence(col("o.pos"), col("o.pos") + lit(k - 1))).as("pos"))
      .distinct()
    spliceOutPositions(df, idCol, textCol, cov)
  }

  /** Shared splice stage of [[cutSharedSpans]] / [[cutContaminatedSpans]]:
    * remove the (id, pos) token positions in `cov` from their documents.
    * Only documents with at least one covered position are re-tokenized
    * (posexplode → anti-join → ordered reassembly); everything else passes
    * through with its ORIGINAL text. A fully-covered doc comes back as the
    * empty string with n_tokens = 0. Returns (idCol, text_clean, n_tokens,
    * was_cut). */
  private def spliceOutPositions(df: DataFrame, idCol: String, textCol: String,
      cov: DataFrame): DataFrame = {
    val cutIds = cov.select(col("id")).distinct()
    // Only the to-be-cut slice of the corpus is re-tokenized; everything
    // else passes through untouched below.
    val toCut = df.join(cutIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
    val tok = toCut.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
    val rebuilt = tok.join(cov, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("text_clean"),
        count(lit(1)).cast("bigint").as("n_tokens"))
    // left join back to the cut slice: a FULLY covered doc loses every token
    // row and must still appear (empty text, zero tokens)
    val cut = toCut.select(col(idCol))
      .join(rebuilt.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        lit(true).as("was_cut"))
    val untouched = df.join(cutIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol).as("text_clean"),
        token_count(col(textCol)).cast("bigint").as("n_tokens"),
        lit(false).as("was_cut"))
    untouched.unionByName(cut)
  }

  /**
   * Surgical benchmark decontamination — the span-level refinement of
   * whole-document decontamination ([[graft.ops.TextOps.contaminationReport]]
   * drop rule / `decontaminateStream`): every ≥`minTokens`-token run of a
   * training document that also occurs in the BENCHMARK corpus is spliced
   * out; the unique content around it survives. Dropping a whole document
   * for one quoted benchmark question throws away everything else in it —
   * this keeps it (the [[cutSharedSpans]] rationale, pointed at an external
   * contamination corpus instead of earlier duplicates).
   *
   * Cut rule ([[cutSharedSpans]]'s, with the benchmark as the authority):
   * a token at offset p of training doc X is cut IFF some k-shingle of X
   * starting at s ∈ [p−k+1, p] also occurs ANYWHERE in the benchmark.
   * There are no df caps here — a benchmark shingle must cut no matter how
   * common it is in the training corpus (over-cutting toward the benchmark
   * is the SAFE direction; the caps in [[cutSharedSpans]] exist to protect
   * intra-corpus boilerplate, a different contract).
   *
   * 100 TB shape: the benchmark side collapses to DISTINCT 64-bit shingle
   * hashes (benchmark corpora are tiny — broadcast-join build side); the
   * training corpus contributes one posexplode of hashes at the scan, the
   * semi-join keeps only contaminated occurrences, and the splice
   * re-tokenizes ONLY contaminated documents ([[spliceOutPositions]]) —
   * clean documents stream through verbatim, text never shuffles.
   * Returns (idCol, text_clean, n_tokens, was_cut).
   */
  def cutContaminatedSpans(df: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, minTokens: Int = 8): DataFrame = {
    val k = minTokens
    val benchS = bench.select(explode(array_distinct(
        shingle_hashes(split(col(benchTextCol), " "), k))).as("s"))
      .distinct()
    val cov = df.select(col(idCol).as("id"),
        posexplode(shingle_hashes(split(col(textCol), " "), k)).as(Seq("pos", "s")))
      .join(broadcast(benchS), Seq("s"), "left_semi")
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("pos"))
      .distinct()
    spliceOutPositions(df, idCol, textCol, cov)
  }

  /** The driver-side Ordering matching what the distributed loop's
    * `least()`/`min()` compare for an id type — UTF8String byte order for
    * strings (NOT Java's UTF-16 code-unit order, which diverges on
    * supplementary characters), numeric order for the integral types. None
    * for types the small-graph fast paths do not handle. */
  private def idOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => Some(Ordering.by((a: Any) => a.asInstanceOf[Byte].toLong))
      case ShortType => Some(Ordering.by((a: Any) => a.asInstanceOf[Short].toLong))
      case IntegerType => Some(Ordering.by((a: Any) => a.asInstanceOf[Int].toLong))
      case LongType => Some(Ordering.by((a: Any) => a.asInstanceOf[Long]))
      case StringType => Some[Ordering[Any]]((x, y) => // what least() compares
        org.apache.spark.sql.graft.KeyBounds.utf8Cmp(x.asInstanceOf[String], y.asInstanceOf[String]))
      case _ => None // exotic id types keep the type-agnostic loop
    }
  }

  /** The driver budget every small-graph path shares:
    * `graft.cc.smallGraphEdges` rows (default 200k) and
    * `graft.cc.smallGraphBytes` estimated bytes (default 64 MB). */
  private def smallGraphGate(spark: org.apache.spark.sql.SparkSession)
      : (Long, Long) = {
    def conf(k: String, d: Long): Long = spark.conf.getOption(k)
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(d)
    (conf("graft.cc.smallGraphEdges", 200000L),
      conf("graft.cc.smallGraphBytes", 64L << 20))
  }

  /** A row's share of the byte budget: 96 B (Row, boxed ids, union-find
    * map entries) plus 4 B per char of its string columns `strIdx`. */
  private def rowBytes(r: org.apache.spark.sql.Row, strIdx: Array[Int]): Long = {
    var b = 96L
    strIdx.foreach(i => if (!r.isNullAt(i)) b += 4L * r.getString(i).length)
    b
  }

  /** `df`'s rows when they fit the [[smallGraphGate]] budget, else None —
    * a BOUNDED collect whose results never exceed one budget, in one Spark
    * job for an input spread evenly enough. The per-row estimate
    * ([[rowBytes]]) makes wide URL-keyed inputs fall through to the
    * distributed paths well before the driver heap is at risk.
    *
    * The first job reads every partition at once. A task returns its rows
    * only while its partition stays within its 1/numPartitions share of
    * the budget; past the share it only counts, up to the whole budget,
    * and returns the counts. The shares sum to the budget, so an
    * over-budget input sends the driver counts and at most one budget of
    * rows, and is turned away. When the counts fit but some partitions
    * were over their share, a second job re-reads just those partitions,
    * each task held to the row count its partition reported. */
  private[graft] def boundedCollect(df: DataFrame)
      : Option[Array[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StringType
    val (gate, byteBudget) = smallGraphGate(df.sparkSession)
    val strIdx = df.schema.fields.indices
      .filter(i => df.schema(i).dataType == StringType).toArray
    val rdd = df.rdd
    val sc = df.sparkSession.sparkContext
    val nParts = rdd.getNumPartitions
    if (nParts == 0) return Some(Array.empty[Row])
    val (shareRows, shareBytes) = (gate / nParts, byteBudget / nParts)
    // (rows, or null past the share; rows counted; bytes counted)
    val first = sc.runJob(rdd, (it: Iterator[Row]) => {
      val buf = Array.newBuilder[Row]
      var (n, b, kept) = (0L, 0L, true)
      while (it.hasNext && n <= gate && b <= byteBudget) {
        val r = it.next()
        n += 1; b += rowBytes(r, strIdx)
        if (kept && n <= shareRows && b <= shareBytes) buf += r
        else if (kept) { kept = false; buf.clear() }
      }
      (if (kept) buf.result() else null, n, b)
    })
    if (first.iterator.map(_._2).sum > gate ||
        first.iterator.map(_._3).sum > byteBudget) return None
    val spilled = first.indices.filter(first(_)._1 == null)
    val caps = spilled.map(i => i -> first(i)._2).toMap
    val rest = if (spilled.isEmpty) Map.empty[Int, Array[Row]] else {
      val again = sc.runJob(rdd,
        (ctx: org.apache.spark.TaskContext, it: Iterator[Row]) => {
          val cap = caps(ctx.partitionId())
          val rows = it.take(math.min(cap + 1, Int.MaxValue.toLong).toInt).toArray
          if (rows.length > cap) null else rows // the input changed
        }, spilled)
      spilled.zip(again).toMap
    }
    if (rest.valuesIterator.contains(null)) None
    else Some(first.indices.toArray.flatMap(i =>
      Option(first(i)._1).getOrElse(rest(i))))
  }

  /** Min-id connected components on the driver — the one union-find behind
    * every small-graph path: each vertex of `edges` maps to its component's
    * minimum under `ord`, the representative the distributed loop's
    * `least()`/`min()` elect. Union by minimum keeps every root its
    * component's minimum; path halving keeps the finds short. */
  private def minIdComponents(edges: Iterator[(Any, Any)])(
      implicit ord: Ordering[Any]): Map[Any, Any] = {
    import scala.jdk.CollectionConverters._
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      var p = parent.get(r)
      while (p != r) {
        val g = parent.get(p)
        parent.put(r, g); r = g; p = parent.get(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    parent.keySet().asScala.iterator.map(v => v -> find(v)).toMap
  }

  /**
   * Transitive duplicate clustering: connected components over the candidate
   * pair graph. `removeDuplicates` (keep-first) answers "which rows survive";
   * this answers "which rows belong together" — the canonical-document
   * assignment a corpus pipeline needs when near-dup pairs chain (A~B, B~C
   * but not A~C must still land in ONE cluster with ONE representative).
   *
   * Algorithm: min-label propagation with pointer jumping, the DataFrame form
   * of the MapReduce connected-components family (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14). Each round every vertex
   * takes the minimum label among itself and its neighbors (one equi-join +
   * one partial-agg'd groupBy on uniform id keys), then labels compress
   * through their representative (`rep := rep(rep)`, path halving) — the
   * doubling step that makes convergence O(log n) rounds instead of
   * O(diameter). Each round materializes via a local checkpoint, so at most
   * `maxIter` plans execute and planning cost stays constant per round; the
   * prior round's checkpoint blocks are released explicitly, so the loop
   * holds exactly one labels table at a time (round-4 advisory). Convergence
   * is detected by the label-sum invariant: every vertex's rep is
   * non-increasing round over round (least() only lowers it, and the jump
   * target's rep is itself ≤ the pointer), so the decimal sum of reps is
   * strictly decreasing until the fixpoint — one cheap aggregate over the
   * already-materialized round, no comparison join. At cluster scale the
   * same loop runs with a reliable checkpoint dir; rounds are log-bounded,
   * and every shuffle key is a document id (uniform, skew-free).
   *
   * Returns (id, rep, cluster_size) for every vertex that appears in a pair —
   * rep is the cluster's minimum id, the member `removeDuplicates` keeps.
   */
  def clusterDuplicates(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.types._
    val edgesRaw = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct().persist()
    // The pair graph is orders of magnitude smaller than the corpus (only
    // near-dup members appear), so the session-wide shuffle parallelism is
    // usually far too wide for the loop — per-round job overhead, not data,
    // dominates. Size the loop's shuffles to the measured edge count
    // (~2M edges/partition, capped at the session setting for huge graphs)
    // via EXPLICIT repartition-by-key on every loop frame — never by mutating
    // the session's spark.sql.shuffle.partitions, which would leak loop
    // parallelism into any query running concurrently on the same session
    // (round-5 advisory). A frame hash-partitioned on an operator's join/
    // groupBy key already satisfies its required distribution, so Catalyst
    // plans no second exchange: shuffle count is unchanged, only the width.
    val spark = edgesRaw.sparkSession
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    // Small-graph fast path (round 15): the pointer-jumping loop pays
    // per-round JOB overhead (join + checkpoint + convergence aggregate —
    // ~0.5 s/round on a busy local session) that dwarfs the data work on
    // the near-dup pair graphs this operator usually sees. A graph within
    // the [[boundedCollect]] budget is solved exactly on the driver by
    // [[minIdComponents]]: identical output (min-id representatives,
    // sizes) with ZERO loop jobs. `DedupClusterSpec` pins the two paths to
    // each other by forcing the gate to 0.
    val smallOrd = idOrdering(edgesRaw.schema("src").dataType)
    val probed = smallOrd.flatMap(_ => boundedCollect(edgesRaw))
    if (probed.isDefined) {
      smallGraphFastPathRuns.incrementAndGet(): Unit
      edgesRaw.unpersist(blocking = false)
      val repOf = minIdComponents(probed.get.iterator.map(r => (r.get(0), r.get(1))))(
        smallOrd.get)
      val sizes = repOf.values.groupMapReduce(identity)(_ => 1L)(_ + _)
      val out = repOf.iterator.map { case (m, rep) =>
        org.apache.spark.sql.Row(m, rep, sizes(rep))
      }.toSeq
      val dt = pairs.schema(idA).dataType
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out, math.max(1, out.size / 500000)),
        StructType(Seq(StructField("id", dt), StructField("rep", dt),
          StructField("cluster_size", LongType))))
    }
    val edgeCount = edgesRaw.count()
    val loopParts = math.max(1L, math.min(sessionParts.toLong,
      edgeCount / 2000000L + 1L)).toInt
    def part(df: DataFrame, c: String): DataFrame = df.repartition(loopParts, col(c))
    // One persisted copy of the edges, pre-partitioned on the join key: every
    // round's edge-side exchange is prepaid here; only the (small) labels
    // side shuffles per round.
    val edges = part(edgesRaw, "src").persist()
    edges.count()
    edgesRaw.unpersist(blocking = false)
    // Convergence detection. Integral ids use the label-sum invariant: every
    // vertex's rep is non-increasing round over round (least() only lowers
    // it, and the jump target's rep is itself ≤ the pointer), so the sum of
    // reps strictly decreases until the fixpoint — one cheap aggregate over
    // the already-materialized round. Non-integral ids (string/UUID doc ids)
    // would cast to null, making the sum constant-zero and declaring
    // convergence after one round with silently under-merged clusters
    // (round-5 advisory) — they use the type-agnostic changed-row check
    // (one join between two already-checkpointed rounds) instead.
    val integralId = edges.schema("src").dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0
      case _ => false
    }
    // None ⇔ the decimal sum is unavailable: the graph is empty (sum over
    // zero rows is null), or — reachable only with decimal(38,0) ids — the
    // sum OVERFLOWED: null under non-ANSI mode (round-6 advisory: two
    // consecutive overflowed rounds must not compare null==null and falsely
    // declare convergence), a SparkArithmeticException under ANSI (the Spark
    // 4 default). All three fall back to the type-agnostic changed-row
    // check, which is correct for each (empty-vs-empty joins have no
    // differing rows ⇒ converged; reps keep decreasing, so an overflowed
    // sum becomes representable again before the fixpoint).
    def repSum(l: DataFrame): Option[java.math.BigDecimal] =
      try Option(l.agg(sum(col("rep").cast("decimal(38,0)"))).head().getDecimal(0))
      catch {
        case e: Throwable if {
          var c: Throwable = e; var overflow = false
          while (c != null && !overflow) {
            overflow = c.isInstanceOf[ArithmeticException]; c = c.getCause
          }
          overflow
        } => None
      }
    // Tracked OUTSIDE the try so the finally releases the in-flight round's
    // checkpoint blocks on EVERY exit path — including the non-convergence
    // require() throw, which previously leaked the final round until the
    // GC-driven ContextCleaner got to it (round-6 advisory). Release is
    // idempotent, so the success path (which must release only after the
    // result materializes) just leaves it to the same finally.
    var releaseLabels: () => Unit = () => ()
    try {
      val (labels0, release0) = graft.Eager.checkpointed(
        edges.select(col("src").as("id")).distinct().withColumn("rep", col("id")))
      var labels = labels0
      releaseLabels = release0
      var lastSum = if (integralId) repSum(labels) else None
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val neighborMin = edges
          .join(part(labels.withColumnRenamed("id", "src"), "src"), "src")
          .select(col("dst"), col("rep"))
        val nmin = part(neighborMin, "dst")
          .groupBy(col("dst")).agg(min(col("rep")).as("nrep"))
        val minned = part(labels, "id")
          .join(nmin, col("id") === col("dst"), "left")
          .select(col("id"), least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
        // Pointer jumping: follow rep one hop (rep is itself a vertex, so the
        // lookup is a self-join on id). Left + coalesce guards the fixpoint
        // where rep already equals id.
        val (jumped, releaseJumped) = graft.Eager.checkpointed(
          part(minned, "rep").alias("l")
            .join(part(minned.select(col("id").as("rid"), col("rep").as("rrep")), "rid")
              .alias("r"),
              col("l.rep") === col("r.rid"), "left")
            .select(col("l.id").as("id"), coalesce(col("r.rrep"), col("l.rep")).as("rep")))
        val viaSum: Option[Boolean] =
          if (integralId) {
            val s = repSum(jumped)
            val same = for (a <- s; b <- lastSum) yield a.compareTo(b) == 0
            lastSum = s
            same
          } else None
        converged = viaSum.getOrElse {
          jumped.alias("n").join(labels.alias("o"), "id")
            .where(col("n.rep") =!= col("o.rep")).isEmpty
        }
        releaseLabels()
        labels = jumped
        releaseLabels = releaseJumped
        i += 1
      }
      require(converged, s"clusterDuplicates did not converge in $maxIter rounds")
      // The result is small (near-dup members only); materialized eagerly so
      // the final round's checkpoint blocks release deterministically in the
      // finally below.
      val lp = part(labels, "rep")
      graft.Eager.materialize(
        lp.join(lp.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size")), "rep")
          .select(col("id"), col("rep"), col("cluster_size")))
    } finally {
      releaseLabels()
      edges.unpersist(blocking = false)
    }
  }

  /**
   * Incremental cluster maintenance — fold a DELTA batch of duplicate pairs
   * into an existing [[clusterDuplicates]] assignment without re-clustering
   * the full history: the assignment's (id, rep) rows ARE edges that
   * preserve the old graph's connectivity exactly (every member touches its
   * representative), so clustering `assignment-as-edges ∪ deltaPairs`
   * yields the same components — and the same min-id representatives and
   * sizes — as clustering the full pair set from scratch. The daily-ingest
   * contract: cost scales with |old clusters| + |delta|, not with every
   * pair ever observed. Returns (id, rep, cluster_size), the
   * [[clusterDuplicates]] schema.
   */
  def mergeClusterAssignments(assignments: DataFrame, deltaPairs: DataFrame,
      idCol: String = "id", repCol: String = "rep",
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): DataFrame =
    clusterDuplicates(
      assignments.select(col(idCol).as("id_a"), col(repCol).as("id_b"))
        .unionByName(deltaPairs.select(col(idA).as("id_a"),
          col(idB).as("id_b"))),
      maxIter = maxIter)

  /**
   * PERSIST the transitive cluster assignment as a keyed store indexed on
   * the doc id — the lifecycle home for [[clusterDuplicates]]'s output and
   * the base table [[appendToClusters]] maintains incrementally. Only
   * (doc_id, rep) persists: a merged cluster changes `cluster_size` for
   * EVERY member but `rep` only for the non-minimum side, so storing the
   * size would turn O(smaller side) maintenance into O(merged cluster);
   * [[readClusters]] re-derives sizes with one small groupBy instead.
   * Keep-one-back applies like every keyed store: `readKeyedPrevious` on
   * the path is the pre-maintenance audit view.
   */
  def writeClusters(spark: org.apache.spark.sql.SparkSession,
      pairsPath: String, clustersPath: String,
      threshold: Double = 0.8): Unit =
    graft.store.KeyedStore.writeIndexed(
      clusterDuplicates(readPairs(spark, pairsPath, threshold))
        .select(col("id").as("doc_id"), col("rep")),
      clustersPath, keyCol = "doc_id")

  /**
   * Incremental maintenance of a PERSISTED cluster table — the 100 TB form
   * of [[mergeClusterAssignments]]: where that verb re-clusters the WHOLE
   * assignment ∪ delta (cost O(|all members| + |delta|) per batch), this
   * one contracts the delta onto the REP GRAPH first — each delta
   * endpoint maps through its stored representative, edges that collapse
   * inside one component vanish — clusters only the touched-reps + new-docs
   * graph (O(|delta| + |touched components|), independent of corpus size),
   * and upserts ONLY the rows whose representative actually changes (the
   * non-minimum sides of each merge, plus the new docs; the keyed store's
   * index-pruned merge then rewrites only the files holding those keys).
   *
   * Exactness: [[clusterDuplicates]] converges to min-id representatives,
   * and the merged component's minimum is the minimum over its parts'
   * minima and the new ids — so after any sequence of appends the table is
   * IDENTICAL to a from-scratch clustering of the union pair set (the
   * q255 oracle asserts exactly this). Re-applying the same delta is an
   * exact no-op (all endpoints already share reps ⇒ the rep graph is
   * empty), so a blind crash-retry is safe without tags. Returns the
   * number of rows upserted.
   *
   * Execution shape: a delta within the [[boundedCollect]] budget folds
   * on the driver in three actions — the delta edges, a FILE-PRUNED
   * lookup of the stored reps of just those endpoints (`In(doc_id, …)`
   * rides the key-range split pruning), and one broadcast map join for
   * the member updates when some representative changes — with the
   * [[minIdComponents]] election under the distributed loop's ordering,
   * so results are identical bit for bit (DedupClusterSpec pins the two
   * paths to each other). Over-budget deltas take the distributed path.
   */
  def appendToClusters(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String, deltaPairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): Long = {
    import graft.store.KeyedStore
    val stored = KeyedStore.readKeyed(spark, clustersPath, "doc_id")
      .select(col("doc_id"), col("rep"))
    val edgesRaw = deltaPairs.select(col(idA).as("a"), col(idB).as("b"))
    val dt = edgesRaw.schema("a").dataType
    // the fused fold mixes raw delta ids and stored reps in one driver
    // structure — only sound when all three columns share one type (they
    // always do in practice; a widening delta falls back to the joins,
    // whose implicit casts define the semantics)
    val smallOrd: Option[Ordering[Any]] =
      if (edgesRaw.schema("b").dataType == dt &&
          stored.schema("doc_id").dataType == dt &&
          stored.schema("rep").dataType == dt) idOrdering(dt)
      else None
    // one bounded collect of the RAW delta edges
    smallOrd.flatMap(_ => boundedCollect(edgesRaw)) match {
      case Some(rows) =>
        foldClustersLocal(spark, clustersPath, stored, rows)(smallOrd.get)
      case None =>
        appendToClustersDistributed(spark, clustersPath, stored, deltaPairs,
          idA, idB, maxIter)
    }
  }

  /** Observable run counter for the driver folds of [[appendToClusters]]
    * and [[removeFromClusters]] — lets specs assert which path served a
    * call without parsing plans. */
  private[graft] val clusterFoldFastPathRuns =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** The fused driver-side epoch fold (see [[appendToClusters]]): rep
    * contraction + min-id union-find over the collected delta, a
    * file-pruned rep lookup instead of the full-table double-join, and at
    * most one stored scan (member updates) when a representative changes.
    * Result-identical to the distributed path by construction: same
    * null/self-loop drops as the `=!=` filter, same min-id election under
    * [[idOrdering]], same upsert row set and count. */
  private def foldClustersLocal(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String, stored: DataFrame,
      edges: Array[org.apache.spark.sql.Row])(
      implicit ord: Ordering[Any]): Long = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    clusterFoldFastPathRuns.incrementAndGet(): Unit
    // a null side nulls the distributed path's =!= predicate — the edge is
    // dropped there too
    val live = edges.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    if (live.isEmpty) return 0L
    // file-pruned rep lookup: In(doc_id, endpoints) pushes into the graft
    // connector's key-range split pruning — the fold reads O(touched
    // files) of the assignment table, not all of it
    val repOf = stored
      .where(col("doc_id").isInCollection(live.flatMap(r => Seq(r.get(0), r.get(1))).distinct))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    // contract each edge onto the rep graph; edges that collapse inside one
    // component vanish, exactly like the distributed =!= filter. A
    // contracted vertex is a stored rep (a stored rep is always also a
    // stored doc_id, its own row) or a genuinely new id, never found in
    // stored: the anti-join the distributed path pays is a set lookup here
    val isNew = scala.collection.mutable.Set.empty[Any]
    val contracted = live.toSeq.flatMap { r =>
      val (a0, b0) = (r.get(0), r.get(1))
      val (a, b) = (repOf.getOrElse(a0, a0), repOf.getOrElse(b0, b0))
      if (a == b) None
      else { isNew ++= Seq(a0, b0).filterNot(repOf.contains); Some((a, b)) }
    }
    if (contracted.isEmpty) return 0L // delta lands inside existing components
    val (newDocs, touched) = minIdComponents(contracted.iterator).toSeq
      .partition { case (v, _) => isNew(v) }
    val changed = touched.filter { case (v, nr) => v != nr }
    val dt = stored.schema("doc_id").dataType
    def local(rows: Seq[(Any, Any)], a: String, b: String): DataFrame =
      spark.createDataFrame(rows.map { case (x, y) => org.apache.spark.sql.Row(x, y) }.asJava,
        StructType(Seq(StructField(a, dt), StructField(b, dt))))
    val newDocsDf = local(newDocs, "doc_id", "rep")
    // members of touched components whose representative changes — ONE
    // stored scan with a broadcast map join (never a shuffle of the
    // assignment table), materialized so the upsert's router and merge
    // jobs don't recompute it
    val memberUpdates = if (changed.isEmpty) None else Some(graft.Eager.materialize(
      stored.join(broadcast(local(changed, "touched", "new_rep")), col("rep") === col("touched"))
        .select(col("doc_id"), col("new_rep").as("rep"))))
    val n = newDocs.size + memberUpdates.fold(0L)(_.count())
    if (n > 0) graft.store.KeyedStore.upsertIndexed(spark, clustersPath,
      memberUpdates.fold(newDocsDf)(_.unionByName(newDocsDf)), keyCol = "doc_id")
    n
  }

  /** The distributed epoch fold — [[appendToClusters]]' fallback for deltas
    * over the driver budget: the delta×stored double-join feeds the isEmpty
    * probe and [[clusterDuplicates]]; member updates and new docs come from
    * joins against the full assignment table. */
  private def appendToClustersDistributed(
      spark: org.apache.spark.sql.SparkSession,
      clustersPath: String, stored: DataFrame, deltaPairs: DataFrame,
      idA: String, idB: String, maxIter: Int): Long = {
    import graft.store.KeyedStore
    // persisted: the delta×stored double-join is the heaviest scan here and
    // feeds the isEmpty probe AND both of clusterDuplicates' passes — one
    // computation, three consumers
    val repEdges = deltaPairs
      .select(col(idA).as("a"), col(idB).as("b"))
      .join(stored.select(col("doc_id").as("a"), col("rep").as("rep_a")),
        Seq("a"), "left")
      .join(stored.select(col("doc_id").as("b"), col("rep").as("rep_b")),
        Seq("b"), "left")
      .select(coalesce(col("rep_a"), col("a")).as("id_a"),
        coalesce(col("rep_b"), col("b")).as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .persist()
    try {
      if (repEdges.isEmpty) return 0L // delta lands inside existing components
      val remap = clusterDuplicates(repEdges, maxIter = maxIter)
        .select(col("id").as("touched"), col("rep").as("new_rep"))
      // members of touched components whose representative changes (the
      // non-minimum sides of each merge)
      val memberUpdates = stored
        .join(remap, stored("rep") === remap("touched"))
        .where(col("rep") =!= col("new_rep"))
        .select(col("doc_id"), col("new_rep").as("rep"))
      // delta endpoints never seen before (a stored rep is always also a
      // stored doc_id — its own row — so anti-join isolates genuinely new ids)
      val newDocs = remap
        .join(stored.select(col("doc_id")), remap("touched") === col("doc_id"),
          "left_anti")
        .select(col("touched").as("doc_id"), col("new_rep").as("rep"))
      val upserts = graft.Eager.materialize(
        memberUpdates.unionByName(newDocs))
      val n = upserts.count()
      if (n > 0) KeyedStore.upsertIndexed(spark, clustersPath, upserts,
        keyCol = "doc_id")
      upserts.unpersist(blocking = false)
      n
    } finally repEdges.unpersist(blocking = false)
  }

  /** Read a [[writeClusters]] table back in the [[clusterDuplicates]]
    * schema — (doc_id, rep, cluster_size), sizes re-derived with one
    * groupBy over the (small) assignment table. */
  def readClusters(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String): DataFrame =
    withClusterSizes(graft.store.KeyedStore.readKeyed(spark, clustersPath, "doc_id"))

  private def withClusterSizes(t: DataFrame): DataFrame =
    t.select(col("doc_id"), col("rep")).withColumn("cluster_size",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("rep"))))

  /** [[readClusters]] against the UNDO WINDOW — the assignment as of just
    * before the last mutation, funded by the keyed store's keep-one-back
    * index version: the maintenance audit view ("what did the last fold
    * merge?"), available until the NEXT mutation retires it. None before
    * any mutation ([[graft.store.KeyedStore.readKeyedPrevious]]). Every
    * maintenance verb commits its change as ONE mutation, so after a
    * [[removeFromClusters]] this view is the full pre-takedown assignment
    * (its compaction commits first, content-neutral). */
  def readClustersPrevious(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String): Option[DataFrame] =
    graft.store.KeyedStore.readKeyedPrevious(spark, clustersPath, keyCol = "doc_id")
      .map(withClusterSizes)

  /**
   * TAKEDOWN on a persisted cluster layout — the delete verb every other
   * persisted layout pairs with its write path (near-dup index
   * [[removeFromNearDupIndex]], pairs [[removeFromPairs]], BM25, IVF;
   * reference analogue: the delete-op surface, DeleteOp.scala:21-39).
   * Removes `ids` from BOTH halves of the layout: the pairs table first
   * (the content-derived evidence must go too — that is what a takedown
   * IS), then the clusters table, re-clustering ONLY the components a
   * removed doc touched from the surviving pair evidence.
   *
   * Without this verb a raw `KeyedStore.deleteIndexed` on the clusters
   * table leaves dangling representatives (members pointing at a removed
   * rep — the min-id invariant silently breaks) and stale pair evidence
   * that re-infects the next [[appendToClusters]].
   *
   * Exactness: untouched components cannot change (no pair crosses a
   * component boundary by construction), so after the rewrite the table
   * equals a from-scratch [[writeClusters]] of the surviving corpus —
   * touched survivors re-cluster on their surviving pairs, survivors left
   * with NO surviving pair drop out entirely (they are no longer
   * duplicates of anything), and min-id representatives re-elect
   * naturally (the q256 oracle asserts scratch-equality). The usual
   * finite-`maxDf` caveat applies through [[removeFromPairs]]: a shingle
   * whose df falls back under the cap only because removed docs carried
   * it would add pairs in a scratch RE-MINE that the rewritten evidence
   * lacks (capping under-mines by contract).
   *
   * Cost: O(|removed| + |touched components|) cluster work + the pairs
   * rewrite. It first runs [[graft.store.KeyedStore.compact]] on the
   * clusters table, merging the small files [[appendToClusters]]' new ids
   * open above the last one. `purgePairs = true` (default) purges the
   * pair evidence EAGERLY ([[removeFromPairs]], a full pairs-layout
   * rewrite); `false` tombstones it LAZILY ([[tombstonePairs]]: O(|ids|),
   * the rewrite deferred to the next [[compactPairs]] — the shape a 100 TB
   * pairs table needs). [[readPairs]] is tombstone-exact, so the
   * clusters-table outcome does not depend on the choice.
   *
   * Within the [[boundedCollect]] budget the takedown is a driver fold:
   * one collect of the ids, key-pruned lookups of the removed rows and of
   * their components' members, one collect of the surviving pairs among
   * the touched survivors, and a [[minIdComponents]] re-election; over it,
   * the same sets come from joins and [[clusterDuplicates]]. Either way
   * the deletes (removed rows, orphaned survivors) and the re-election
   * upserts commit as ONE [[graft.store.MutationBatch]], so no reader or
   * crash sees a removed rep still referenced, and [[readClustersPrevious]]
   * afterwards is the pre-takedown assignment. Single-maintainer like every
   * write verb. Returns (rows deleted, rows upserted) on the clusters table.
   */
  def removeFromClusters(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String, pairsPath: String, ids: DataFrame,
      threshold: Double = 0.8, maxIter: Int = 25,
      targetFiles: Int = 8, purgePairs: Boolean = true): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    import graft.store.KeyedStore
    // fold the small files appends leave above the last one first: the
    // table's file count stays bounded by the appends between takedowns
    KeyedStore.compact(spark, clustersPath, "doc_id"): Unit
    val stored = KeyedStore.readKeyed(spark, clustersPath, "doc_id")
      .select(col("doc_id"), col("rep"))
    val dt = stored.schema("doc_id").dataType
    val rmIds = ids.select(col(ids.columns.head).as("__rm"))
    // the driver fold mixes removal ids and stored ids in one structure —
    // only sound when they share one type, as in appendToClusters
    val ord = if (rmIds.schema("__rm").dataType == dt &&
      stored.schema("rep").dataType == dt) idOrdering(dt) else None
    // snapshot the id list once, before the purge — it may itself derive
    // from readPairs/readClusters over the very layouts this verb rewrites
    val rmRows = ord.flatMap(_ => boundedCollect(rmIds))
    val rm = rmRows.map(rs => spark.createDataFrame(rs.toSeq.asJava, rmIds.schema))
      .getOrElse(graft.Eager.materialize(rmIds))
    // the removed rows (In(doc_id, ..) rides the key-range file pruning),
    // then every member of their components, bounded like the ids
    val touched = rmRows.flatMap { rows =>
      val keys = rows.iterator.map(_.get(0)).filter(_ != null).toSet
      val removed =
        if (keys.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else stored.where(col("doc_id").isInCollection(keys)).collect()
      val reps = removed.iterator.map(_.get(1)).toSet
      if (reps.isEmpty) Some(removed -> Array.empty[org.apache.spark.sql.Row])
      else boundedCollect(stored.where(col("rep").isInCollection(reps)))
        .map(removed -> _)
    }
    // purge the pair evidence FIRST: readPairs then serves exactly the
    // surviving corpus's pairs (eagerly rewritten or tombstone-masked —
    // readPairs is exact either way)
    if (purgePairs) removeFromPairs(spark, pairsPath, rm, targetFiles)
    else tombstonePairs(spark, pairsPath, rm): Unit
    lazy val sp = readPairs(spark, pairsPath, threshold)
    val (deletes, nDel, upserts, nUp) = touched match {
      case Some((removed, members)) =>
        takedownLocal(spark, sp, dt, removed, members, maxIter)(ord.get)
      case None => takedownDistributed(stored, broadcast(rm), sp, maxIter)
    }
    val batch = graft.store.MutationBatch("doc_id")
    if (nDel > 0) batch.delete(deletes)
    if (nUp > 0) batch.put(upserts)
    if (nDel + nUp > 0) batch.executeIndexed(spark, clustersPath): Unit
    (nDel, nUp)
  }

  /** [[removeFromClusters]]' driver fold, after the purge: the touched
    * survivors are `members` minus `removed`, re-elected over their
    * surviving pairs (an over-budget pair set clusters through
    * [[clusterDuplicates]], whose output is at most one row per survivor).
    * Returns (deletes, count, upserts, count) — the row sets
    * [[takedownDistributed]] derives with joins. */
  private def takedownLocal(spark: org.apache.spark.sql.SparkSession,
      sp: => DataFrame, dt: org.apache.spark.sql.types.DataType,
      removed: Array[org.apache.spark.sql.Row],
      members: Array[org.apache.spark.sql.Row], maxIter: Int)(
      implicit ord: Ordering[Any]): (DataFrame, Long, DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    clusterFoldFastPathRuns.incrementAndGet(): Unit
    val removedIds = removed.iterator.map(_.get(0)).toSet
    val oldRep = members.iterator.map(r => r.get(0) -> r.get(1))
      .filterNot { case (m, _) => removedIds(m) }.toMap
    // BOTH endpoints among the touched survivors, so an out-of-sync pair
    // (appended to pairs but never folded into clusters) cannot smuggle an
    // untouched doc into the re-election
    val newRep: Map[Any, Any] = if (oldRep.isEmpty) Map.empty else {
      val ts = oldRep.keys
      val sub = sp.where(col("id_a").isInCollection(ts) && col("id_b").isInCollection(ts))
        .select(col("id_a").cast(dt).as("id_a"), col("id_b").cast(dt).as("id_b"))
      boundedCollect(sub) match {
        case Some(edges) => minIdComponents(edges.iterator.map(r => (r.get(0), r.get(1))))
        case None => clusterDuplicates(sub, maxIter = maxIter).collect()
          .map(r => r.get(0) -> r.get(1)).toMap
      }
    }
    // touched survivors with no surviving pair are no longer near-duplicates
    // of anything — deleted, as a scratch clustering would drop them
    val deletes = (removedIds.toSeq ++ oldRep.keys.filterNot(newRep.contains)).map(Row(_))
    val upserts = newRep.toSeq.collect {
      case (m, r) if oldRep.get(m).exists(_ != r) => Row(m, r)
    }
    def field(n: String) = StructField(n, dt)
    (spark.createDataFrame(deletes.asJava, StructType(Seq(field("doc_id")))),
      deletes.size.toLong,
      spark.createDataFrame(upserts.asJava, StructType(Seq(field("doc_id"), field("rep")))),
      upserts.size.toLong)
  }

  /** [[removeFromClusters]]' fallback over the driver budget: the same
    * row sets from joins and [[clusterDuplicates]], materialized. */
  private def takedownDistributed(stored: DataFrame, rm: DataFrame,
      sp: DataFrame, maxIter: Int): (DataFrame, Long, DataFrame, Long) = {
    // components containing a removed doc — everything else is untouchable
    val touchedReps = stored
      .join(rm, col("doc_id") === col("__rm"), "left_semi")
      .select(col("rep")).distinct()
    val touchedSurvivors = stored
      .join(rm, col("doc_id") === col("__rm"), "left_anti")
      .join(touchedReps.withColumnRenamed("rep", "__tr"),
        col("rep") === col("__tr"), "left_semi")
      .select(col("doc_id"))
    // rows to DELETE, part 1: removed ids present in the table
    val removedRows = stored
      .join(rm, col("doc_id") === col("__rm"), "left_semi")
      .select(col("doc_id"))
    // surviving subgraph of the touched components only (both endpoints
    // filtered, as in takedownLocal)
    val ts = touchedSurvivors.withColumnRenamed("doc_id", "__ts")
    val subPairs = sp
      .join(ts, col("id_a") === col("__ts"), "left_semi")
      .join(ts, col("id_b") === col("__ts"), "left_semi")
      .select(col("id_a"), col("id_b"))
    val newAssign = clusterDuplicates(subPairs, maxIter = maxIter)
      .select(col("id").as("doc_id"), col("rep").as("new_rep"))
    // rows to DELETE, part 2: touched survivors with no surviving pair
    val orphaned = touchedSurvivors
      .join(newAssign.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val deletes = graft.Eager.materialize(
      removedRows.unionByName(orphaned.select(col("doc_id"))))
    // rows to UPSERT: touched survivors whose representative changed
    val upserts = graft.Eager.materialize(
      newAssign.join(stored, Seq("doc_id"))
        .where(col("rep") =!= col("new_rep"))
        .select(col("doc_id"), col("new_rep").as("rep")))
    (deletes, deletes.count(), upserts, upserts.count())
  }

  /** [[repairClusters]]' outcome: `danglingReps` = rep values with no row
    * of their own (a removed rep still referenced), `minRepViolations` =
    * rep-groups whose rep is not the group minimum, `healedRows` = rows
    * upserted to restore the invariant. A second pass returns (0, 0, 0). */
  final case class ClusterRepairStat(danglingReps: Long,
      minRepViolations: Long, healedRows: Long) {
    def ok: Boolean = danglingReps == 0 && minRepViolations == 0
  }

  /**
   * Content-fsck for a [[writeClusters]] table — verify and heal REP
   * CLOSURE, the invariant every reader of the layout leans on: each
   * row's `rep` must itself be a stored row, a fixpoint (`rep(rep) =
   * rep`), and the minimum id of its component. A raw
   * `KeyedStore.deleteIndexed` takedown that skipped re-election (rather
   * than [[removeFromClusters]], whose deletes and re-election upserts
   * commit together) leaves dangling representatives and broken chains
   * this verb repairs — the
   * layout-content twin of [[graft.store.ManifestTable.fsck]]'s
   * structural sweep (siblings: [[repairNearDupIndex]], the BM25 fsck).
   *
   * Heal rule: the stored (doc_id, rep) rows ARE edges, so connected
   * components over them recover every chain and ghost link; each
   * component re-elects the minimum EXISTING member as rep (a dangling
   * ghost keeps the members it connected together — repair preserves
   * grouping, it cannot consult pair evidence), and only rows whose rep
   * changes are upserted. Violation-free tables return (0,0,0) without
   * writing; the second pass after any heal is (0,0,0) by construction.
   */
  def repairClusters(spark: org.apache.spark.sql.SparkSession,
      clustersPath: String, maxIter: Int = 25): ClusterRepairStat = {
    import graft.store.KeyedStore
    val stored = graft.Eager.materialize(
      KeyedStore.readKeyed(spark, clustersPath, "doc_id")
        .select(col("doc_id"), col("rep")))
    val docIds = stored.select(col("doc_id"))
    val dangling = stored.select(col("rep")).distinct()
      .join(docIds, col("rep") === col("doc_id"), "left_anti").count()
    val minViol = stored.groupBy(col("rep"))
      .agg(min(col("doc_id")).as("__mn"))
      .where(col("rep") =!= col("__mn")).count()
    if (dangling == 0 && minViol == 0)
      return ClusterRepairStat(0L, 0L, 0L)
    // components over assignment-as-edges (ghost reps ride as vertices and
    // preserve the connectivity they provided) …
    val cc = clusterDuplicates(
      stored.select(col("doc_id").as("id_a"), col("rep").as("id_b")),
      maxIter = maxIter)
      .select(col("id").as("doc_id"), col("rep").as("__comp"))
    // … but each component's new rep is its minimum EXISTING member
    val newReps = cc.join(docIds, Seq("doc_id"), "left_semi")
      .groupBy(col("__comp")).agg(min(col("doc_id")).as("__new_rep"))
    val healed = graft.Eager.materialize(
      stored.join(cc, Seq("doc_id")).join(newReps, Seq("__comp"))
        .where(col("rep") =!= col("__new_rep"))
        .select(col("doc_id"), col("__new_rep").as("rep")))
    val n = healed.count()
    if (n > 0) KeyedStore.upsertIndexed(spark, clustersPath, healed,
      keyCol = "doc_id")
    ClusterRepairStat(dangling, minViol, n)
  }

  /**
   * Cluster provenance rollup — the compliance answer dedup must not
   * destroy: when near-duplicates collapse to one survivor, WHERE did the
   * cluster's members come from (sources, licenses, crawl snapshots)?
   * Joins a [[clusterDuplicates]]/[[mergeClusterAssignments]] assignment
   * to per-doc metadata and reports, per cluster representative, the
   * member count, distinct attribute count, and the sorted
   * comma-joined attribute list (canonical order — the list replays
   * exactly however the aggregation executed). Returns
   * (rep, n_docs, n_attrs, attrs).
   *
   * Scale shape: one equi-join on the doc id + one groupBy per rep;
   * collect_set is bounded by the attribute cardinality (sources,
   * licenses — small by nature), never by cluster size. That bound is
   * SELF-ENFORCING, not contractual (round-15 review): `attrs` lists only
   * the first `maxAttrs` attributes in sorted order, so a caller who
   * points this at a high-cardinality column (URLs, doc titles) gets a
   * bounded string instead of a multi-MB row — `n_attrs` keeps the TRUE
   * distinct count, so overflow is visible as `n_attrs > maxAttrs`
   * (n_attrs − maxAttrs attributes were elided). Below the cap the output
   * is byte-identical to the uncapped form (the q212 pin).
   */
  def clusterProvenance(assignments: DataFrame, meta: DataFrame,
      idCol: String, attrCol: String, maxAttrs: Int = 64): DataFrame = {
    require(maxAttrs > 0, "maxAttrs must be positive")
    assignments.select(col("id").as(idCol), col("rep"))
      .join(meta.select(col(idCol), col(attrCol).as("__attr")), Seq(idCol))
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_docs"),
        size(collect_set(col("__attr"))).cast("long").as("n_attrs"),
        array_join(slice(array_sort(collect_set(col("__attr"))), 1, maxAttrs),
          ",").as("attrs"))
  }

  /**
   * Embedding near-dup: hyperplane-LSH bucket join + exact cosine verification.
   * Multi-probe: the left side explodes its bucket plus every single-bit flip,
   * so pairs whose buckets differ by one hyperplane sign still meet — exact
   * equality alone would miss ~nBits·θ/π of true neighbors (≈11% at 8 bits for
   * cos 0.999). A pair meets via exactly one probe (equal → identity probe,
   * 1-bit apart → that flip), so no post-join dedup is needed. Cost: the left
   * side fans out (nBits+1)×; the join stays an equi-join on ~uniform longs.
   * Returns (id_a, id_b, cos).
   */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nBits: Int = 8): DataFrame = {
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      hyperplane_bucket(col(vecCol), nBits).as("bucket"))
    val probes = (0 until nBits).foldLeft(Seq(col("bucket"))) { (acc, b) =>
      acc :+ col("bucket").bitwiseXOR(lit(1L << b))
    }
    val probed = bucketed
      .select(col("id"), col("v"), explode(array(probes: _*)).as("probe"))
    probed.alias("a").join(bucketed.alias("b"),
        col("a.probe") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cos", cosine_sim(col("a.v"), col("b.v")))
      .where(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
  }
}
