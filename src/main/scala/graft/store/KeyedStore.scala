package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Keyed-table persistence + the mutation merge algebra — the Spark-native analogue
 * of the reference's write path (`PutOp`/`DeleteOp`/`IncrementOp`/`OpBase`,
 * reference: src/main/scala/com/gravity/hbase/schema/{PutOp.scala:21,
 * DeleteOp.scala:21, IncrementOp.scala:19, OpBase.scala:22}).
 *
 * Key design decisions (SURVEY §2.3, §7 "hard parts"):
 *  - A mutation batch is applied **deletes → puts → increments**, matching the
 *    reference's documented batch precedence (reference README.markdown:299).
 *  - Put merge is last-write-wins per (key, family, qualifier): struct fields
 *    coalesce new-over-old; map (dynamic-family) columns merge with new keys
 *    winning (reference PutOp.scala:28-50 `valueMap` semantics).
 *  - Increment merge is `coalesce(old, 0) + delta`, per scalar column or per map
 *    key (reference IncrementOp.scala:19-39). HBase's per-cell atomicity becomes
 *    job-level atomicity: increments inside one `execute()` batch are summed;
 *    concurrent jobs are last-committer-wins. This is the documented semantic
 *    difference of a batch engine (SURVEY §7).
 *
 * Scale notes (100 TB): every merge here is one per-key fold over the union of
 * the current rows and the batch's rows ([[org.apache.spark.sql.graft.MergeFold]]):
 * one shuffle, no join, no driver-side collection. Mutation batches are
 * themselves DataFrames, so a billion-row put batch is just another shuffle
 * input; a key's increment deltas are summed in the fold as they stream by.
 */
object KeyedStore {

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Overwrite the table dir. For huge tables prefer `writePartitioned`. */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /**
   * The HBase-region-analogue layout: range-partition by key, sort within each
   * file, and record every file's (min key, max key, rows) in the `_graft_index`
   * sidecar. Read back through `spark.read.format("graft").option("key", keyCol)`
   * and key predicates (point get, multi-get, start/end row) prune whole files
   * at planning time — the Spark twin of HBase routing a scan to only the
   * regions intersecting its key range (reference Query2.scala:888-929).
   */
  def writeIndexed(df: DataFrame, path: String, keyCol: String = "key",
      numRanges: Int = 0): Unit = {
    val ranged =
      if (numRanges > 0) df.repartitionByRange(numRanges, col(keyCol))
      else df.repartitionByRange(col(keyCol))
    // the graft write path tracks per-file key stats as tasks write, so the
    // sidecar index costs zero extra passes over the data
    ranged.sortWithinPartitions(keyCol)
      .write.format("graft").option("key", keyCol).mode("overwrite").save(path)
  }

  /** Read through the `graft` connector: filter/column pushdown + key-range
    * split pruning against the sidecar written by [[writeIndexed]]. */
  def readKeyed(spark: SparkSession, path: String, keyCol: String = "key"): DataFrame =
    spark.read.format("graft").option("key", keyCol).load(path)

  /**
   * The UNDO WINDOW on the keyed store: read the table as of `back`
   * mutations BEFORE the live snapshot — a retained index version's file
   * set, whose files stay on disk as strays for as long as the version is
   * retained. Depth is the `graft.keepVersions` session conf (default 2:
   * live + one step; set N before mutating to fund N−1 steps — HBase
   * time-range reads are the arbitrary-depth analogue). Served THROUGH the
   * connector (`graft.asofVersion`), so as-of reads keep key pruning and
   * pushdown. Completes the
   * takedown-audit / as-of parity across every persisted layout
   * ([[graft.store.ManifestTable.readPrevious]],
   * [[graft.ops.TextOps.bm25TopKFromIndexPrevious]],
   * [[graft.ops.Similarity.ivfTopKFromPartitionedPrevious]] /
   * `annTopKFromBucketedPrevious`, [[graft.ops.Dedup.readPairsPrevious]];
   * reference analogue: HBase time-range reads, Query2.scala:345-359).
   * None when no undo window exists: a never-mutated table, a
   * [[vacuumIndexed]]`(keepPrevious = false)`, or an advisory (v1) index.
   *
   * RETENTION RACE (the funding rule): a retained version's files live
   * EXACTLY until the version leaves the keep-N window — a concurrent
   * mutation's version prune or a vacuum can retire the resolved version
   * MID-SCAN. The read then fails LOUDLY (the connector's
   * `no retained index version`, or `FAILED_READ_FILE` when the files die
   * under the scan) — never wrong rows. Recovery: re-resolve and re-run —
   * wrap the whole resolve-and-act closure in
   * [[graft.store.Compaction.retryingStaleScan]], which recognizes both
   * classes. Audits that must out-live many mutations raise
   * `graft.keepVersions` BEFORE the mutations (depth is funded at
   * mutation time, not read time).
   */
  def readKeyedPrevious(spark: SparkSession, path: String,
      keyCol: String = "key", back: Int = 1): Option[DataFrame] = {
    import org.apache.spark.sql.graft.GraftIndex
    require(back >= 1, "back must be >= 1 (1 = just before the last mutation)")
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    GraftIndex.readAllVersioned(dirPath, conf)
      .filter { case (_, ix) => ix.keyCol == keyCol && ix.manifest }
      .drop(back).headOption // the version `back` mutations behind the live one
      .map { case (v, _) => readKeyedVersion(spark, path, keyCol, v) }
  }

  /** Read a RETAINED snapshot addressed by its index version seq (the
    * numbers [[retainedVersions]] lists) — arbitrary-depth as-of within the
    * `graft.keepVersions` window; None once vacuumed past it. Subject to
    * the same retention race as [[readKeyedPrevious]] (see its funding-rule
    * paragraph): a concurrent mutation/vacuum retiring `version` mid-scan
    * fails the read loudly, healed by
    * [[graft.store.Compaction.retryingStaleScan]] around the whole
    * resolve-and-act closure. */
  def readKeyedAsOf(spark: SparkSession, path: String, version: Long,
      keyCol: String = "key"): Option[DataFrame] = {
    import org.apache.spark.sql.graft.GraftIndex
    GraftIndex.readAllVersioned(new org.apache.hadoop.fs.Path(path),
        spark.sessionState.newHadoopConf())
      .find { case (v, ix) => v == version && ix.keyCol == keyCol && ix.manifest }
      .map { case (v, _) => readKeyedVersion(spark, path, keyCol, v) }
  }

  /** The retained snapshots, newest first: (index version seq, total rows).
    * Depth is funded by the `graft.keepVersions` session conf (default 2 =
    * live + one undo step) — raise it BEFORE the mutations whose history
    * you want; [[vacuumIndexed]] drains it. */
  def retainedVersions(spark: SparkSession, path: String,
      keyCol: String = "key"): Seq[(Long, Long)] = {
    import org.apache.spark.sql.graft.GraftIndex
    GraftIndex.readAllVersioned(new org.apache.hadoop.fs.Path(path),
        spark.sessionState.newHadoopConf())
      .filter { case (_, ix) => ix.keyCol == keyCol && ix.manifest }
      .map { case (v, ix) => v -> ix.totalRows }
  }

  /** Route an as-of read through the `graft` connector: a pinned past
    * snapshot gets the same key-range pruning, pushdown and index-only
    * aggregates as the live table — never an explicit-file-list parquet
    * relation (which would forfeit all of them at 100 TB). */
  private def readKeyedVersion(spark: SparkSession, path: String,
      keyCol: String, version: Long): DataFrame =
    spark.read.format("graft").option("key", keyCol)
      .option("graft.asofVersion", version.toString).load(path)

  /**
   * Index-pruned upsert — the write-side twin of the connector's split
   * pruning, and the answer to "every upsert rewrites the whole 100 TB
   * table": only the files whose key range actually CONTAINS a put key are
   * read, merged and rewritten; every other file (and its index entry) is
   * untouched. This is what HBase gives structurally — a put lands in
   * exactly the region owning its key (reference HbaseTable.scala:373-423's
   * pooled per-region writes) — reproduced over immutable parquet: rewrite
   * cost is O(affected ranges + puts), not O(table).
   *
   * Put keys outside every file's range are pure inserts, placed by the
   * slot rule of [[mergeIndexed]]: an insert in a gap next to a rewritten
   * file joins that file, an insert in a gap between two untouched files
   * gets one new file per gap, and keys below the first file or above the
   * last get one new file per side. No rewritten file ever spans an
   * untouched one, so live ranges stay disjoint; [[compact]] merges the
   * small files appends leave behind.
   *
   * A one-op [[MutationBatch]]; `puts` follows [[upsert]]'s contract (at
   * most one row per key).
   */
  def upsertIndexed(spark: SparkSession, path: String, puts: DataFrame,
      keyCol: String = "key"): Unit =
    MutationBatch(keyCol).put(puts).executeIndexed(spark, path): Unit

  /** Index-pruned [[deleteRows]]: only files whose range contains a delete key
    * are rewritten; delete keys outside every range are no-ops. */
  def deleteIndexed(spark: SparkSession, path: String, keys: DataFrame,
      keyCol: String = "key"): Unit =
    MutationBatch(keyCol).delete(keys).executeIndexed(spark, path): Unit

  /** Index-pruned [[increment]]: deltas for existing keys rewrite only their
    * range files; deltas for new keys create rows (coalesce(old,0)+delta). */
  def incrementIndexed(spark: SparkSession, path: String, deltas: DataFrame,
      keyCol: String = "key"): Unit =
    MutationBatch(keyCol).increment(deltas).executeIndexed(spark, path): Unit

  /** Op kinds of the routed pass — also the [[OpsResult]] buckets. Deletes
    * of any form never insert; puts and increments insert keys that fall
    * in no file. */
  private[store] val DeleteKind = 0
  private[store] val PutKind = 1
  private[store] val IncrementKind = 2

  /**
   * The one indexed write path every keyed mutation shares
   * ([[MutationBatch.executeIndexed]]; the single-op verbs above are
   * one-op batches). `keys` holds each op's key column (first column) with
   * its kind; `plan` folds the batch into the current rows of the affected
   * files, shuffled on the output slot it is given (the batch's deletes →
   * puts → increments fold, [[MutationBatch]]). Returns the rows each kind
   * was asked to mutate.
   *
   *  1. ROUTE ONCE: one aggregate over the union of every op's keys, routed
   *     by a binary search over the live ranges, collects
   *     (file or gap, kind) → rows: the affected files, the gaps that
   *     receive inserts, and the per-kind counts. Key sets already in
   *     driver memory route on the driver, with no job.
   *  2. MERGE ONCE: the affected files are read once, under a catalog
   *     table's declared schema or else their footers' schemas merged (no
   *     inference job), and `plan` folds them with the batch in one shuffle.
   *  3. EXACT SLOTS: the driver numbers the output files — one per
   *     affected file; an insert gap next to an affected file joins it (the
   *     lower neighbour first); any other interior gap gets its own file;
   *     the gaps below the first and above the last file always do (so an
   *     append-keyed table grows small tail files that [[compact]] merges,
   *     instead of rewriting its last file on every batch). The fold's rows
   *     are hash-partitioned on a literal preimage of their slot, so slot `s`
   *     is exactly task `s` and no output range can span an untouched file;
   *     that one exchange is the only shuffle the current rows cross.
   *  4. GUARD, WRITE AND COMMIT ONCE: the staging commits through
   *     [[org.apache.spark.sql.graft.GraftIndex.commitStaged]] under fresh
   *     `m<stamp>-*` names: the overlap guard (nothing applied if a staged
   *     range overlaps another or an untouched file), one rename-in, one
   *     fenced index commit, one stray sweep. A table whose live ranges
   *     already overlap (damage no slot rule can route around) is refused
   *     before step 1.
   *
   * Crash + reader-concurrency contract: `commitStaged`'s (a crash leaves
   * exactly the old or the new snapshot). A reader that planned against
   * the previous index version keeps every file it resolved through ONE
   * subsequent mutation (the previous version funds it). Writers are
   * externally serialized (single-maintainer, like every graft mutation
   * verb); READERS are the protected concurrent party.
   *
   * Legacy advisory (v1) indexes upgrade to the manifest dialect on the
   * first mutation (unindexed late-arrival files are scanned once for their
   * stats and folded in — O(unindexed), not O(table)). A table with no
   * usable index takes the full-rewrite fallback.
   */
  private[store] def mergeIndexed(spark: SparkSession, path: String, keyCol: String,
      keys: Seq[(DataFrame, Int)])(
      plan: (DataFrame, Option[(Int, Column)]) => DataFrame): Array[Long] = {
    import org.apache.spark.sql.graft.{GraftIndex, GraftTableMeta}
    if (keys.isEmpty) return new Array[Long](3)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(hadoopConf)
    // the index VERSION is captured with the snapshot: the commit's fence
    val ixV = GraftIndex.openRewrite(spark, path, keyCol)
    val ix = ixV.map(_._2)
    val tag = ix.map(_.keyTag).getOrElse("")
    val isNum = tag == "num"
    // (name, lo, hi) sorted by lo — the router's binary-search table
    val ranges: Array[(String, (Any, Any, Long))] = ix.map { i =>
      i.ranges.toArray.sortWith((a, b) => GraftIndex.keyOrder(tag)(a._2._1, b._2._1) < 0)
    }.getOrElse(Array.empty)
    val n = ranges.length
    // the router needs disjoint ranges: a table an older write already left
    // overlapping is refused before any job, whatever this batch touches
    val damaged = GraftIndex.overlappingRanges(tag, ranges.map(_._2))
    if (damaged > 0)
      throw new IllegalStateException(s"mergeIndexed: $path already holds " +
        s"$damaged pair(s) of overlapping live key ranges, which no indexed " +
        "mutation can route exactly — nothing applied; KeyedStore.fsckIndexed " +
        "reports them, and a KeyedStore.writeIndexed rewrite of the table repairs them")
    if (ix.isEmpty) { // no usable index: count, then full merge + fresh indexed layout
      require(!fs.exists(dirPath) || GraftIndex.versionFiles(fs, dirPath).isEmpty,
        s"mergeIndexed: $path carries a graft index, but none usable for " +
          s"key '$keyCol' — wrong key column, or a damaged index (run " +
          "KeyedStore.fsckIndexed / rebuild via writeIndexed)")
      val counts = countKinds(keys)
      fullRewrite(spark, path, keyCol)(plan(_, None))
      return counts
    }
    val keyDt = GraftIndex.liveSchema(dirPath, hadoopConf)
      .getOrElse(read(spark, path).schema)(keyCol).dataType
    // key→file-or-gap routing: a codegen'd binary search in the key's OWN
    // value space (see routerColumn — exactness is load-bearing: a boundary
    // mis-route leaves a duplicate row behind)
    def route(c: String): Column =
      routerColumn(spark, keyDt, c, ranges, isNum)
    val routed = routedPass(keys, k => col(k.columns.head).cast(keyDt), route("__k"))
    val counts = kindCounts(routed)
    val affected = routed.map(_._1).filter(_ >= 0).toSet
    val gaps = routed.collect { case (r, kind, _) if r < 0 && kind != DeleteKind => -r - 1 }
      .toSet
    if (affected.isEmpty && gaps.isEmpty) return counts // nothing to touch
    val slotOf = slotsOf(n, affected, gaps)
    val numSlots = slotOf.max + 1
    // the rows' schema: a catalog table's declared one, else the affected
    // files' footers merged (both sides of an added column), else any live
    // file's — never one file that may predate a column the others carry
    val schema = GraftTableMeta.read(dirPath, spark).map(_.schema)
      .orElse(GraftIndex.footerSchema(dirPath, hadoopConf,
        affected.toSeq.sorted.map(ranges(_)._1)))
      .orElse(GraftIndex.liveSchema(dirPath, hadoopConf))
      .getOrElse(read(spark, path).schema)
    val current =
      if (affected.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema)
        .parquet(affected.toSeq.sorted.map(i => s"$path/${ranges(i)._1}"): _*)
    // slot → a literal whose Murmur3 hash lands in partition `slot` of a
    // numSlots-way hash repartition: the shuffle places every row by the
    // driver's slot table, never by sampled range bounds
    val preimage = GraftIndex.hashPreimages(numSlots)
    val partKey = slotOf.map(s => if (s < 0) null else Integer.valueOf(preimage(s)))
    val code = route(keyCol)
    val slotKey =
      element_at(typedLit(partKey.toSeq), when(code >= 0, code + 1).otherwise(lit(n) - code))
    // stage through the graft write: each task records its file's key stats,
    // so the staging dir arrives with its own sidecar — no re-scan needed.
    // The fold emits each slot's rows in key order, so no sort follows it.
    val staging = GraftIndex.stage(plan(current, Some(numSlots -> slotKey)), path, keyCol)
    GraftIndex.commitStaged(spark, path, ixV.get, affected.map(i => ranges(i)._1),
      Seq(staging), "m", "mergeIndexed")
    counts
  }

  /**
   * The routed pass over every op's keys: (route code, kind) → rows. Key
   * sets already in driver memory (the optimizer folds them to a
   * LocalRelation) route on the driver without a job; the rest in one
   * aggregate. A (route, kind) may appear once from each side.
   */
  private def routedPass(keys: Seq[(DataFrame, Int)], key: DataFrame => Column,
      route: Column): Seq[(Int, Int, Long)] = {
    val (local, distributed) = keys.map { case (k, kind) =>
      k.select(key(k).as("__k"), lit(kind).as("__kind"))
    }.partition(_.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val onDriver = local.flatMap(_.select(route, col("__kind")).collect())
      .groupMapReduce(r => (r.getInt(0), r.getInt(1)))(_ => 1L)(_ + _)
      .map { case ((r, kind), n) => (r, kind, n) }
    onDriver.toSeq ++ (if (distributed.isEmpty) Nil
      else distributed.reduce(_ union _)
        .groupBy(route.as("__r"), col("__kind")).count().collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq)
  }

  private def kindCounts(routed: Seq[(Int, Int, Long)]): Array[Long] = {
    val counts = new Array[Long](3)
    routed.foreach { case (_, kind, n) => counts(kind) += n }
    counts
  }

  /** Rows per op kind of `keys` ([[OpsResult]]'s buckets), in one pass. */
  private[store] def countKinds(keys: Seq[(DataFrame, Int)]): Array[Long] =
    kindCounts(routedPass(keys, _ => lit(null), lit(-1)))

  /**
   * The output slot of every route code, for a table of `n` sorted files:
   * index `f < n` is file `f`, index `n + g` is gap `g` (gap 0 below file
   * 0, gap `n` above file `n - 1`); -1 marks codes no merged row can carry.
   * Affected files take slots 0.. in key order; an interior insert gap
   * joins its lower affected neighbour, else its upper one, else opens a
   * slot of its own; the two outer gaps always open their own.
   */
  private[graft] def slotsOf(n: Int, affected: Set[Int], gaps: Set[Int]): Array[Int] = {
    val slotOf = Array.fill(2 * n + 1)(-1)
    val files = affected.toSeq.sorted
    files.zipWithIndex.foreach { case (f, s) => slotOf(f) = s }
    var next = files.size
    gaps.toSeq.sorted.foreach { g =>
      slotOf(n + g) =
        if (g > 0 && g < n && affected(g - 1)) slotOf(g - 1)
        else if (g > 0 && g < n && affected(g)) slotOf(g)
        else { next += 1; next - 1 }
    }
    slotOf
  }

  /**
   * The no-index fallback: `plan` over the whole table, staged and swapped
   * in as a fresh indexed layout. It reads the dir by PLAIN listing — only
   * safe when no manifest discipline ever ran here, which [[mergeIndexed]]
   * checks first: index versions present but unusable for the key column
   * mean a manifest table (whose on-disk strays a plain listing would read
   * as duplicate rows) addressed by the wrong key, or a corrupted index.
   */
  private def fullRewrite(spark: SparkSession, path: String, keyCol: String)(
      plan: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.graft.GraftIndex
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    // FENCE the dir swap (round 15): unlike the indexed path, this
    // fallback's commit point is a rename PAIR, which create-exclusive
    // on an index version cannot arbitrate. A .swapclaim marker next to
    // the table dir is claimed create-exclusive (verify-after-write on
    // PUT stores — GraftIndex.writeCommitFile) BEFORE staging, and
    // ownership is re-verified just before the renames: two racing
    // full-rewrite maintainers produce exactly one winner, the loser
    // throws GraftConcurrentCommitException having applied nothing. A
    // crashed attempt leaves the claim behind, fencing further
    // full-rewrites loudly until fsckIndexed sweeps it (its
    // no-writer-in-flight contract makes the sweep safe).
    val swapClaim = new org.apache.hadoop.fs.Path(path + SwapClaimSuffix)
    val nonce = java.util.UUID.randomUUID().toString
    try GraftIndex.writeCommitFile(fs, swapClaim, nonce.getBytes("UTF-8"))
    catch {
      case e: org.apache.spark.sql.graft.GraftConcurrentCommitException =>
        throw new org.apache.spark.sql.graft.GraftConcurrentCommitException(
          s"mergeIndexed: full-rewrite swap claim for $path is held — a " +
            "concurrent maintainer is mid-rewrite, or a crashed rewrite " +
            "left debris (run KeyedStore.fsckIndexed, then retry); " +
            "nothing was applied", e)
    }
    def claimStillOurs(): Boolean = scala.util.Try {
      val in = fs.open(swapClaim)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim == nonce
      finally in.close()
    }.getOrElse(false)
    val stamp = System.currentTimeMillis()
    // per-attempt staging name: two racing maintainers must never write
    // into the SAME staging dir (they would corrupt each other's staged
    // bytes before the commit fence can even arbitrate)
    val staging = path + GraftIndex.StagingInfix + java.util.UUID.randomUUID().toString.take(8)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    try {
      // plan construction INSIDE the try: an analysis error (missing key
      // column, mismatched schema) must release the claim like any other
      // surviving failure, not leak it and fence the table until fsck
      val merged = plan(read(spark, path))
      // stage through the graft write so the new layout arrives WITH its
      // manifest index; a _COMMITTED marker records job success so fsck can
      // tell a complete staging from a dead one
      merged.repartitionByRange(col(keyCol)).sortWithinPartitions(keyCol)
        .write.format("graft").option("key", keyCol).mode("overwrite").save(staging)
      fs.create(new org.apache.hadoop.fs.Path(stagingPath, CommittedMarker), true).close()
      // stolen-claim re-check (PUT stores): the staging phase separates
      // the claim from the swap — a racer whose claim PUT landed inside
      // the claim-verify window is caught here, before any rename
      if (GraftIndex.verifyAfterWrite(fs) && !claimStillOurs()) {
        fs.delete(stagingPath, true)
        throw new org.apache.spark.sql.graft.GraftConcurrentCommitException(
          s"mergeIndexed: swap claim for $path was overwritten by a " +
            "concurrent maintainer mid-staging — fenced off, nothing " +
            "applied (serialize the maintainers and retry)")
      }
      // dir swap with a backup instead of delete-then-rename: a crash
      // between the renames leaves the table LOUDLY missing (both copies on
      // disk), healed by fsckIndexed — never silently lost
      val oldPath = new org.apache.hadoop.fs.Path(path + BackupSuffix + stamp)
      if (fs.exists(dirPath) && !fs.rename(dirPath, oldPath))
        throw new java.io.IOException(s"mergeIndexed: cannot back up $path")
      if (!fs.rename(stagingPath, dirPath))
        throw new java.io.IOException(s"mergeIndexed: cannot swap in $staging")
      fs.delete(new org.apache.hadoop.fs.Path(dirPath, CommittedMarker), false)
      fs.delete(oldPath, true)
      fs.delete(swapClaim, false)
    } catch {
      case t: Throwable =>
        // a SURVIVING loser releases its claim (a crash leaves it for
        // fsck); never touch a claim a racer now owns
        if (claimStillOurs()) fs.delete(swapClaim, false)
        throw t
    }
  }

  /**
   * The key→file router column for a sorted, non-overlapping range table —
   * a native codegen'd binary search ([[org.apache.spark.sql.graft.RangeBucketSearch]])
   * for EVERY indexable key type: long/int/short/byte, double/float,
   * string, and (since round 15) DecimalType via `Decimal.compareTo` —
   * no mutation plan carries a ScalaUDF (the string-parse fallback below
   * survives only as defense for key types `GraftIndex.tagOf` does not
   * index today, i.e. unreachable from any indexed layout). Float bounds
   * parse back to FLOAT first and widen — parsing the decimal string
   * straight to double would land beside the widened float value and
   * mis-route boundary keys. A key in no range routes to its gap's code
   * `-(gap + 1)` (see RangeBucketSearch).
   */
  private[graft] def routerColumn(spark: SparkSession, keyDt: DataType,
      keyCol: String, ranges: Array[(String, (Any, Any, Long))],
      isNum: Boolean): Column = {
    import org.apache.spark.sql.graft.{Bridge, RangeBucketSearchDouble, RangeBucketSearchLong, RangeBucketSearchString}
    def bd(v: Any): BigDecimal = v.asInstanceOf[BigDecimal]
    keyDt match {
      case LongType | IntegerType | ShortType | ByteType =>
        Bridge.column(RangeBucketSearchLong(
          Bridge.expression(col(keyCol).cast("long")),
          ranges.map(r => bd(r._2._1).toLong),
          ranges.map(r => bd(r._2._2).toLong)))
      case DoubleType =>
        Bridge.column(RangeBucketSearchDouble(
          Bridge.expression(col(keyCol)),
          ranges.map(r => bd(r._2._1).toDouble),
          ranges.map(r => bd(r._2._2).toDouble)))
      case FloatType =>
        Bridge.column(RangeBucketSearchDouble(
          Bridge.expression(col(keyCol).cast("double")),
          ranges.map(r => bd(r._2._1).toFloat.toDouble),
          ranges.map(r => bd(r._2._2).toFloat.toDouble)))
      case StringType =>
        Bridge.column(RangeBucketSearchString(
          Bridge.expression(col(keyCol)),
          ranges.map(r => org.apache.spark.unsafe.types.UTF8String
            .fromString(r._2._1.toString)),
          ranges.map(r => org.apache.spark.unsafe.types.UTF8String
            .fromString(r._2._2.toString))))
      case _: DecimalType =>
        import org.apache.spark.sql.graft.RangeBucketSearchDecimal
        Bridge.column(RangeBucketSearchDecimal(
          Bridge.expression(col(keyCol)),
          ranges.map(r => org.apache.spark.sql.types.Decimal(bd(r._2._1))),
          ranges.map(r => org.apache.spark.sql.types.Decimal(bd(r._2._2)))))
      case _ =>
        val bcLos = spark.sparkContext.broadcast(ranges.map(_._2._1))
        val bcHis = spark.sparkContext.broadcast(ranges.map(_._2._2))
        val fileOf = udf { (ks: String) =>
          if (ks == null) -1
          else {
            val k: Any = if (isNum) BigDecimal(ks) else ks
            def le(a: Any, b: Any): Boolean =
              if (isNum) a.asInstanceOf[BigDecimal] <= b.asInstanceOf[BigDecimal]
              else a.toString <= b.toString
            var lo = 0; var hi = bcLos.value.length - 1; var found = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (le(bcLos.value(mid), k)) { found = mid; lo = mid + 1 } else hi = mid - 1
            }
            if (found >= 0 && le(k, bcHis.value(found))) found
            else -(found + 2)
          }
        }
        fileOf(col(keyCol).cast("string"))
    }
  }

  /** Marker written into a completed staging dir by [[mergeIndexed]]'s
    * full-rewrite fallback so [[fsckIndexed]] can roll an interrupted dir
    * swap FORWARD (complete staging) instead of back (backup restore). */
  private[graft] val CommittedMarker = "_GRAFT_COMMITTED"
  private[graft] val BackupSuffix = "__old"
  /** Sibling marker fencing [[mergeIndexed]]'s full-rewrite dir swap —
    * claimed create-exclusive (verify-after-write on PUT stores) before
    * staging, re-verified before the renames, released on exit; a crashed
    * attempt's claim is swept by [[fsckIndexed]]. */
  private[graft] val SwapClaimSuffix = "__swapclaim"

  /**
   * MINOR compaction — the HBase compaction analogue for a log-structured
   * keyed table: repeated appends/merges accumulate small files; this merges
   * runs of ADJACENT (key-ordered) files smaller than `smallFileBytes` into
   * one file each, leaving every large file untouched (byte-identical, spec-
   * proven). Each merge group is one tiny job over just its files — at scale,
   * groups are independent and can run as parallel jobs. A full
   * [[writeIndexed]] rewrite is the MAJOR compaction (also reclaims
   * dropped-column bytes and rebalances file sizes).
   * Returns the number of groups merged.
   */
  def compact(spark: SparkSession, path: String, keyCol: String = "key",
      smallFileBytes: Long = 32L << 20): Int = {
    import org.apache.spark.sql.graft.GraftIndex
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(hadoopConf)
    val base = GraftIndex.openRewrite(spark, path, keyCol).getOrElse(
      throw new IllegalStateException(
        s"compact requires a _graft_index (run writeIndexed first): $path"))
    val ix = base._2
    val sizes = fs.listStatus(dirPath).filter(_.isFile)
      .map(st => st.getPath.getName -> st.getLen).toMap
    val ordered = ix.ranges.toSeq.sortWith((a, b) =>
      GraftIndex.keyOrder(ix.keyTag)(a._2._1, b._2._1) < 0)
    // runs of consecutive small files -> merge groups of >= 2
    val groups = Seq.newBuilder[Seq[String]]
    var run = List.empty[String]
    def flush(): Unit = { if (run.size >= 2) groups += run.reverse; run = Nil }
    ordered.foreach { case (name, _) =>
      if (sizes.getOrElse(name, Long.MaxValue) < smallFileBytes) run ::= name
      else flush()
    }
    flush()
    val merged = groups.result()
    if (merged.isEmpty) return 0
    // stage EVERY group (one file each), then commit them all at once
    // through GraftIndex.commitStaged under fresh c<stamp> names: every
    // crash state reads as exactly the pre- or post-compaction snapshot
    val staged = merged.zipWithIndex.map { case (names, i) =>
      // the group's footers merged: no inference job, and a column only
      // some of the files carry survives the merge
      val staging = GraftIndex.stage(GraftIndex.footerSchema(dirPath, hadoopConf, names)
        .fold(spark.read)(st => spark.read.schema(st)).parquet(names.map(n => s"$path/$n"): _*)
        .coalesce(1).sortWithinPartitions(keyCol), path, keyCol)
      val files = GraftIndex.listDataFiles(fs, staging).size
      require(files == 1, s"compaction group $i staged $files files")
      staging
    }
    GraftIndex.commitStaged(spark, path, base, merged.flatten.toSet, staged, "c", "compact")
    merged.size
  }

  /** One indexed keyed table's fsck outcome — see [[fsckIndexed]].
    * `missingFiles` is the unhealable class (the manifest names a data file
    * that is gone: bytes lost — restore or rebuild); `advisory` flags a
    * legacy v1 index (upgraded by the next mutation, not damage). */
  final case class IndexedFsckStat(path: String, healedSwap: Boolean,
      sweptStrays: Int, sweptDirs: Int, sweptTmpFiles: Int,
      missingFiles: Int, advisory: Boolean, tableExists: Boolean = true,
      overlappingRanges: Int = 0) {
    def ok: Boolean = tableExists && missingFiles == 0 && overlappingRanges == 0
  }

  /**
   * Structural fsck for a [[writeIndexed]] layout — the keyed-store twin of
   * [[ManifestTable.fsck]]. Heals what a crash can break and reports what
   * it cannot:
   *
   *  - Table dir MISSING with swap debris next to it (a crash between the
   *    full-rewrite fallback's two renames): rolls FORWARD when the staging
   *    dir carries the completion marker, else rolls BACK to the backup —
   *    either way the table reads again.
   *  - Dead sibling dirs of interrupted mutations → swept: the staging
   *    dirs every rewrite makes (`<table>__staging-<salt>`, see
   *    [[org.apache.spark.sql.graft.GraftIndex.stage]]; the full-rewrite
   *    fallback's too) and `__old*` backups, plus the `__compact_*` and
   *    `__delete_staging*` dirs that `compact` and `deleteWhere` staged in
   *    before they shared that name (a crash under an earlier build can
   *    leave them behind). Index tmp files → swept too.
   *  - Data files no retained index version references (swap strays) →
   *    swept (manifest tables only; under an advisory index every file is
   *    live).
   *  - Index-named data files that are GONE → reported, never healed
   *    silently.
   *  - Pairs of live files whose key ranges OVERLAP → reported (the
   *    key→file router assumes disjoint ranges, so a later keyed mutation
   *    could duplicate a row there); a [[writeIndexed]] rebuild heals it.
   *
   * Single-maintainer op like every mutation verb.
   */
  def fsckIndexed(spark: SparkSession, path: String,
      keyCol: String = "key"): IndexedFsckStat = {
    import org.apache.spark.sql.graft.GraftIndex
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(hadoopConf)
    val parent = dirPath.getParent
    def siblings(pred: String => Boolean): Seq[org.apache.hadoop.fs.Path] =
      if (parent == null || !fs.exists(parent)) Nil
      else fs.listStatus(parent).filter(_.isDirectory).map(_.getPath)
        .filter(p => pred(p.getName)).toSeq
    val name = dirPath.getName
    // staging dirs carry a per-attempt suffix (racing maintainers must not
    // share one); the legacy exact name is still recognized
    def isStaging(n: String): Boolean =
      n == name + "__staging" || n.startsWith(name + GraftIndex.StagingInfix)
    var healed = false
    if (!fs.exists(dirPath)) {
      // at most one staging can carry the completion marker: the marker is
      // written only after a full staged write, and the dir swap that
      // follows is the single-maintainer full-rewrite path
      val completeStaging = siblings(isStaging).sortBy(_.getName).find(p =>
        fs.exists(new org.apache.hadoop.fs.Path(p, CommittedMarker)))
      val backups = siblings(_.startsWith(name + BackupSuffix)).sortBy(_.getName)
      completeStaging match {
        case Some(stagingPath) => // roll forward: the rewrite finished writing
          if (!fs.rename(stagingPath, dirPath))
            throw new java.io.IOException(s"fsckIndexed: cannot promote $stagingPath")
          fs.delete(new org.apache.hadoop.fs.Path(dirPath, CommittedMarker), false)
          healed = true
        case None if backups.nonEmpty => // roll back: restore the pre-rewrite table
          if (!fs.rename(backups.last, dirPath))
            throw new java.io.IOException(s"fsckIndexed: cannot restore ${backups.last}")
          healed = true
        case None => ()
      }
    }
    // dead sibling dirs: any staging/backup/compact dir visible while the
    // table dir exists belongs to an interrupted attempt (single-maintainer)
    val deadDirs =
      if (!fs.exists(dirPath)) Nil
      else siblings(n => isStaging(n) || n.startsWith(name + BackupSuffix) ||
        // staging names of earlier builds' compact and deleteWhere
        n.startsWith(name + "__compact_") || n.startsWith(name + "__delete_staging"))
    deadDirs.foreach(fs.delete(_, true))
    val tmps =
      if (!fs.exists(dirPath)) Nil
      else fs.listStatus(dirPath).filter(_.isFile).map(_.getPath)
        .filter(_.getName.startsWith("." + GraftIndex.FileName + ".tmp-")).toSeq
    tmps.foreach(fs.delete(_, false))
    // a swap claim visible to fsck is a crashed full-rewrite's debris (no
    // writer can be in flight under this verb's contract) — sweep it so
    // the next full-rewrite is unfenced again
    val swapClaim = new org.apache.hadoop.fs.Path(path + SwapClaimSuffix)
    if (fs.exists(swapClaim)) fs.delete(swapClaim, false): Unit
    // torn index versions (a fenced commit that died mid-write): invisible
    // to readers, but they fence off the next commit — sweep them here,
    // where the single-maintainer contract guarantees no writer is in flight
    val torn = if (!fs.exists(dirPath)) 0
      else GraftIndex.sweepTornVersions(spark, path)
    // wrong-table guard (mirrors vacuumIndexed): a mistyped keyCol would
    // otherwise filter the index to None and report a spotless table —
    // missingFiles=0, ok=true — on a table this fsck never actually checked
    GraftIndex.read(dirPath, hadoopConf).foreach(live =>
      require(live.keyCol == keyCol,
        s"fsckIndexed: $path is indexed by '${live.keyCol}', not '$keyCol'"))
    val ix = GraftIndex.read(dirPath, hadoopConf).filter(_.keyCol == keyCol)
    val present =
      GraftIndex.listDataFiles(fs, dirPath).map(_.getPath.getName).toSet
    val missing = ix.filter(_.manifest)
      .map(_.files.count(!present.contains(_))).getOrElse(0)
    val strays = GraftIndex.sweepStrays(spark, path)
    // a table dir that is STILL missing after the heal attempts (no
    // completed staging, no backup) is the worst state there is — never ok
    IndexedFsckStat(path, healed, strays, deadDirs.length, tmps.length + torn,
      missing, advisory = ix.exists(!_.manifest),
      tableExists = fs.exists(dirPath),
      overlappingRanges = ix.map(i => GraftIndex.overlappingRanges(i.keyTag, i.ranges.values))
        .getOrElse(0))
  }

  /** Reclaim disk on a [[writeIndexed]] layout between mutations: with
    * `keepPrevious = false` the previous index version retires too (only
    * safe once scans planned before the last mutation have drained — the
    * [[ManifestTable.vacuum]] drain rule), then data files no retained
    * version references are swept. Returns files deleted. */
  def vacuumIndexed(spark: SparkSession, path: String, keyCol: String = "key",
      keepPrevious: Boolean = true, keepVersions: Int = 0): Int = {
    import org.apache.spark.sql.graft.GraftIndex
    val dirPath = new org.apache.hadoop.fs.Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    // wrong-table guard: vacuuming under a mismatched key is almost always
    // a mistyped path — the sweep itself is key-agnostic, so validate here
    GraftIndex.read(dirPath, fs.getConf).foreach(ix =>
      require(ix.keyCol == keyCol,
        s"vacuumIndexed: $path is indexed by '${ix.keyCol}', not '$keyCol'"))
    // drain rule: keepVersions > 0 drains the retained history to exactly
    // that many versions (1 = live only); else keepPrevious=false keeps
    // just the live version. Only safe for the drained steps once scans
    // planned against them have finished (the ManifestTable.vacuum rule).
    val keep = if (keepVersions > 0) keepVersions
      else if (keepPrevious) Int.MaxValue else 1
    if (keep != Int.MaxValue) {
      val versions = GraftIndex.versionFiles(fs, dirPath)
      versions.dropRight(keep).foreach(v => fs.delete(v._2, false))
    }
    GraftIndex.sweepStrays(spark, path)
  }

  /** Key-bucketed layout so future merges co-partition without a full shuffle. */
  def writePartitioned(df: DataFrame, path: String, numBuckets: Int, keyCol: String = "key"): Unit =
    df.repartition(numBuckets, col(keyCol)).write.mode("overwrite").parquet(path)

  /**
   * True bucketed table (catalog-backed): hash-bucketed AND sorted by the key.
   * Two tables bucketed the same way join/merge with ZERO exchange — the
   * 100 TB answer to "every upsert re-shuffles the whole table". Requires a
   * table catalog (any warehouse dir works locally).
   */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
      keyCol: String = "key"): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .format("parquet")
      .saveAsTable(tableName)

  def readTable(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /**
   * Schema-drift-tolerant read — the reference skips cells it has no converter
   * for and synthesizes nothing for missing ones (HbaseTable.scala:177-198);
   * here a stored table is aligned to the *declared* schema: unknown columns
   * are dropped, missing ones come back null, and matching names cast to the
   * declared type. Lets old data and new schemas coexist, as in HBase.
   */
  def readAligned(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val raw = spark.read.parquet(path)
    val have = raw.columns.toSet
    val aligned = schema.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    raw.select(aligned.toIndexedSeq: _*)
  }

  /** Mirror of the reference's `OpsResult(numDeletes, numPuts, numIncrements)`
    * (reference OpBase.scala:98-114). */
  final case class OpsResult(numDeletes: Long, numPuts: Long, numIncrements: Long) {
    def +(o: OpsResult): OpsResult =
      OpsResult(numDeletes + o.numDeletes, numPuts + o.numPuts, numIncrements + o.numIncrements)
  }

  /**
   * Last-write-wins upsert (PutOp analogue). `puts` must share `current`'s schema
   * (missing columns are treated as untouched). Per column:
   *  - map column: `map_concat(old, new)` with LAST_WIN — new qualifiers win,
   *    untouched qualifiers survive (reference valueMap semantics, PutOp.scala:38-50);
   *  - struct column: field-wise `coalesce(new.f, old.f)` — a put sets cells, never
   *    nulls them (nulling is DeleteOp's job, as in HBase);
   *  - scalar column: `coalesce(new, old)`.
   *
   * `puts` should hold at most one row per key (like one `PutOp` per key in a
   * reference batch): the fold applies a key's rows of one put in no set
   * order. Order-dependent multi-put sequences belong in [[MutationBatch]],
   * which applies its puts in batch order (last put wins, as in the
   * reference). A one-op batch, like the four verbs below.
   */
  def upsert(current: DataFrame, puts: DataFrame, keyCol: String = "key"): DataFrame =
    MutationBatch(keyCol).put(puts).plan(current)

  /**
   * Timestamp-versioned upsert — HBase cell semantics (reference: every cell
   * carries a timestamp, reads return maxVersions=1 i.e. the newest,
   * DeserializedResult.scala:120-135, Query2.scala:491): a put wins only if
   * its `tsCol` is >= the current row's; the stored timestamp becomes the max.
   * This is what `PutOp.value(_, v, timestamp)` writes converge to under
   * "latest version wins" reads. Plain [[upsert]] is the untimestamped
   * last-write-wins form.
   */
  def upsertVersioned(current: DataFrame, puts: DataFrame, tsCol: String,
      keyCol: String = "key"): DataFrame = {
    val o = current.alias("o")
    val n = puts.alias("n")
    val putCols = puts.columns.toSet
    val newWins = col(s"o.$tsCol").isNull ||
      (col(s"n.$tsCol").isNotNull && col(s"n.$tsCol") >= col(s"o.$tsCol"))
    val joined = o.join(n, col(s"o.$keyCol") === col(s"n.$keyCol"), "full_outer")
    val merged = current.columns.map {
      case `keyCol` => coalesce(col(s"o.$keyCol"), col(s"n.$keyCol")).as(keyCol)
      case `tsCol` => greatest(col(s"o.$tsCol"), col(s"n.$tsCol")).as(tsCol)
      case c if !putCols.contains(c) => col(s"o.$c").as(c)
      case c =>
        when(newWins, coalesce(col(s"n.$c"), col(s"o.$c")))
          .otherwise(coalesce(col(s"o.$c"), col(s"n.$c"))).as(c)
    }
    joined.select(merged.toIndexedSeq: _*)
  }

  /** Whole-row delete (reference DeleteOp `delete(key)`, DeleteOp.scala:21-39). */
  def deleteRows(current: DataFrame, keys: DataFrame, keyCol: String = "key"): DataFrame =
    MutationBatch(keyCol).delete(keys).plan(current)

  /** Family delete: null the family column for the given keys
    * (reference `.family(_)`). */
  def deleteFamily(current: DataFrame, keys: DataFrame, famCol: String,
      keyCol: String = "key"): DataFrame =
    MutationBatch(keyCol).deleteFamily(keys, famCol).plan(current)

  /** Qualifier delete on a dynamic family: drop the given map keys
    * (reference `.values(_, Set(q))`). */
  def deleteQualifiers(current: DataFrame, keys: DataFrame, famCol: String,
      qualifiers: Seq[Any], keyCol: String = "key"): DataFrame =
    MutationBatch(keyCol).deleteQualifiers(keys, famCol, qualifiers).plan(current)

  /**
   * Increment merge (IncrementOp analogue). `deltas` columns: the key plus numeric
   * scalar columns and/or `map<K, long/double>` columns to add. A key's delta rows
   * are summed (the "increments within one batch are summed" rule: SUM per scalar,
   * per map qualifier a sum that is null only when all its values are), then added
   * as `coalesce(old, 0) + delta`; map increments union-merge qualifiers via
   * `map_zip_with(old, delta, coalesce(v1, 0) + coalesce(v2, 0))`. A row with
   * no delta keeps its maps, and its null scalar delta columns read 0.
   */
  def increment(current: DataFrame, deltas: DataFrame, keyCol: String = "key"): DataFrame =
    MutationBatch(keyCol).increment(deltas).plan(current)
}
