package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.hadoop.fs.Path

/**
 * Lifecycle machinery for PARTITION-directory parquet layouts — the IVF
 * `cell=`, BM25 `bucket=`, and SRP `bucket=` layouts behind
 * [[graft.ops.Similarity.writeIvfCorpus]] /
 * [[graft.ops.TextOps.writeBm25Index]] /
 * [[graft.ops.Similarity.writeBucketedCorpus]].
 *
 * Each `name=value` leaf directory is its own [[ManifestTable]]: the leaf's
 * live files sit in a generation dir behind the leaf's MANIFEST pointer, so
 * every maintenance rewrite (compaction, deletion, retention) is
 * READER-CONCURRENT per leaf — a probe that resolved its paths just before
 * a swap keeps every file it listed (the keep-one-back discipline), and a
 * probe spanning a multi-leaf rewrite sees each leaf either pre- or
 * post-rewrite, which is row-identical because rewrites preserve each
 * leaf's row multiset and leaves are row-disjoint by construction.
 *
 * Readers therefore must NOT `spark.read.parquet(root)` these layouts:
 * resolve each leaf's live dir through [[resolveLeaves]] /
 * [[resolveLeafDirs]] (probes: explicit paths — pruning becomes path
 * selection at planning time, strictly before any partition discovery) or
 * read the whole layout through [[readPartitioned]].
 *
 * Layout writers migrate their leaves to the manifest shape at WRITE time
 * ([[ManifestTable.migrateFlatDir]] — pure fs metadata), so a fresh layout
 * is reader-concurrent from birth. A legacy flat leaf (pre-manifest
 * rounds) still reads fine (resolve falls back to the leaf dir itself) and
 * migrates on its first rewrite — that one migration rewrites data with
 * the old maintenance-window contract; everything after is concurrent.
 *
 * Single maintainer: like every layout write verb, maintenance ops are
 * externally serialized; concurrent PROBES are the protected party. A probe
 * delayed past its one-cycle keep-one-back budget (e.g. queued behind the
 * compactor's own jobs) heals by re-planning — wrap the resolve-and-act
 * closure in [[retryingStaleScan]].
 */
object Compaction {

  /** Has an [[appendPartitions]] with this tag fully committed against
    * `root`? (Overwriting the layout wipes the root dir and with it the
    * marker file — a new incarnation re-accepts all tags.) */
  def hasTag(spark: SparkSession, root: String, tag: String): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    CommitTags.read(fs, rootPath).contains(CommitTags.token(tag))
  }

  private def leafDirs(fs: org.apache.hadoop.fs.FileSystem,
      rootPath: Path): Seq[Path] =
    if (!fs.exists(rootPath)) Nil
    else fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.contains("=") && !p.getName.startsWith(".") &&
        // crash-stranded twins from the pre-manifest two-rename compactor
        // are NOT partitions
        !p.getName.endsWith("__old") && !p.getName.endsWith("__compact"))
      .toSeq

  /** Each `name=value` leaf with its LIVE data directory (the leaf's
    * manifest generation, or the leaf dir itself for a legacy flat leaf).
    * Resolution is one small MANIFEST read per leaf — pooled past a
    * handful of leaves, because at layout scale (thousands of leaves on an
    * object store with ~50 ms round trips) a serial loop is a driver-side
    * bottleneck. Leaf order is preserved. */
  def resolveLeaves(spark: SparkSession, root: String): Seq[(String, String)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    pooledMap(leafDirs(fs, rootPath))(p =>
      ManifestTable.resolvePaths(spark, p.toString).map((p.getName, _))).flatten
  }

  // ----- staged-write committer selection --------------------------------
  // Spark's v1 file committer merges every task's output on the DRIVER at
  // job commit; v2 commits task-side (job commit O(1) on the driver). The
  // choice is auto-selected per write target from its fs scheme below;
  // the session conf `graft.committer.algorithm` ("1"/"2") overrides.

  /** Object-store schemes where rename is a server-side copy: there the v1
    * committer's driver-side mergePaths is the measured bottleneck
    * (CommitterProbe on the 25 ms/rename surrogate: v2 ≈ 2.9×/2.1× faster
    * for append/minor) and v2 is the right default. On rename-cheap
    * filesystems (local, HDFS) v1 measured neutral-to-faster, so it stays. */
  private val SlowRenameSchemes = Set(
    "s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss",
    "cos", "swift", "slowfs")

  private[graft] def committerFor(spark: SparkSession, target: String): String =
    spark.conf.getOption("graft.committer.algorithm").getOrElse {
      val scheme = Option(new Path(target).toUri.getScheme).getOrElse(
        org.apache.hadoop.fs.FileSystem
          .getDefaultUri(ManifestTable.cachedConf(spark)).getScheme)
      if (SlowRenameSchemes.contains(scheme)) "2" else "1"
    }

  private def stagedWrite(df: DataFrame, target: String)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version",
      committerFor(df.sparkSession, target))

  /** Writers per leaf targeting ~512 MB output files, derived from the
    * INPUT plan's Catalyst size estimate. The estimate is a PRE-TRANSFORM
    * proxy: Catalyst cannot see row multiplication through explode/agg, so
    * a writer whose output materially differs from its input passes
    * `expansion` = measured (written bytes / input estimate) to correct it
    * — e.g. the BM25 postings writer's token-expansion factor (round-19;
    * ADVICE r18). `graft.filesPerLeaf` stays the caller's escape hatch. */
  private[graft] def adaptiveFilesPerLeaf(df: DataFrame, nLeaves: Int,
      expansion: Double = 1.0): Int = {
    val conf = df.sparkSession.conf.getOption("graft.filesPerLeaf")
      .flatMap(v => scala.util.Try(v.toInt).toOption).filter(_ > 0)
    conf.getOrElse {
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      if (est <= 0 || est >= BigInt(Long.MaxValue) / 4) 4 // unknown estimate
      else {
        val scaled = (BigDecimal(est) * expansion).toBigInt.max(BigInt(1))
        val perLeaf = scaled / math.max(1, nLeaves)
        ((perLeaf / BigInt(512L << 20)) + 1).min(1024).max(1).toInt
      }
    }
  }

  /** Order-preserving map over leaves on a bounded pool — every per-leaf
    * fs-metadata loop (resolve / migrate / vacuum) goes through this so no
    * maintenance or read path is serial in leaf count (the driver-side
    * bottleneck pattern at object-store latencies). Serial below a handful
    * of leaves to spare the pool churn.
    *
    * FAILURE SHAPE: rethrows the FIRST failure without awaiting the later
    * tasks (`shutdown()` does not drain) — pass only side-effect-free `f`s
    * (listings, resolves); a caller whose `f` mutates state must drain all
    * outcomes before reacting to one failure (the appendPartitions pool
    * does exactly that, inline). */
  private[graft] def pooledMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.length <= 8) items.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try items.map { a =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
      }.map(_.get())
      finally pool.shutdown()
    }

  /** The live data dirs of the `partitionCol=v` leaves for the given probe
    * values, skipping absent leaves — the probe-side path prune: pruning
    * happens by PATH SELECTION at planning time, before any listing of the
    * unprobed leaves. */
  def resolveLeafDirs(spark: SparkSession, root: String, partitionCol: String,
      values: Seq[Any]): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    values.map(v => new Path(rootPath, leafName(partitionCol, v)))
      .filter(fs.exists)
      .flatMap(p => ManifestTable.resolvePaths(spark, p.toString))
  }

  /** The on-disk leaf dir name for a probe value: Spark partition-escapes
    * the value exactly as partitionBy did when writing it (identity for
    * graft's own numeric layouts; required for string values like "x=y",
    * whose dir is `col=x%3Dy`). */
  private def leafName(partitionCol: String, v: Any): String =
    s"$partitionCol=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v.toString)}"

  /** A leaf dir's TRUE partition value (partition-escape layer undone). */
  private def trueLeafValue(partitionCol: String, leaf: Path): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(leaf.getName.drop(partitionCol.length + 1))

  /** A leaf name is CANONICAL when Spark partition escaping round-trips it
    * (escape(unescape(raw)) == raw). Every partitionBy-written leaf — all of
    * graft's own — is canonical; an externally-created dir can deviate
    * (lowercase hex like `x%3dy`, or raw chars Spark would escape) and
    * would re-stage under a DIFFERENT name in the batched verbs, so such
    * leaves take the exact per-leaf path instead. */
  private def canonicalLeaf(partitionCol: String, leaf: Path): Boolean = {
    val raw = leaf.getName.drop(partitionCol.length + 1)
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(raw)) == raw
  }

  /**
   * Each row's TRUE leaf value, recovered from `input_file_name()`. The
   * path component carries TWO encoding layers: input_file_name() is a URI
   * (Hadoop percent-encodes, e.g. space → %20) over the on-disk dir name,
   * which is itself Spark-partition-ESCAPED (escapePathName, e.g. '%' →
   * %25) — so the value decodes twice, each pass first protecting literal
   * '+' (a legal path char url_decode would otherwise turn into a space).
   * Round-trip property: `partitionBy` over this value re-escapes to
   * exactly the original leaf dir name, for ANY value (spec-covered for
   * space/percent/plus/equals).
   */
  private def recoveredLeafValue(partitionCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract, regexp_replace, url_decode}
    def decode(c: org.apache.spark.sql.Column) =
      url_decode(regexp_replace(c, "\\+", "%2B"))
    val re = "/" + java.util.regex.Pattern.quote(partitionCol) + "=([^/]+)/"
    decode(decode(regexp_extract(input_file_name(), re, 1)))
  }

  /** Layout-aware full read: every leaf's live rows with the partition
    * value injected back as a STRING column `partitionCol` (cast at the
    * call site when a numeric view is needed). Returns None for an absent
    * or leafless root.
    *
    * The plan is ONE multi-path parquet relation over the resolved live
    * dirs — one file listing (distributed past the parallel-discovery
    * threshold) and one footer's schema inference — with the partition
    * value recovered from each row's file path. The per-leaf union this
    * replaced re-read a footer per leaf on the driver and built an N-child
    * plan: measured 5.9 / 16.2 / 74.8 s at 64 / 256 / 1024 leaves on
    * constant 200k rows (ReadScaleProbe) — superlinear in leaves, data
    * constant. This is the full-layout maintenance scan; leaf-pruned reads
    * go through [[resolveLeafDirs]] (path selection), not a filter on the
    * recovered column. */
  def readPartitioned(spark: SparkSession, root: String,
      partitionCol: String): Option[DataFrame] = {
    val leaves = resolveLeaves(spark, root)
    if (leaves.isEmpty) return None
    // input_file_name() is URI-ENCODED: a recovered value only equals the
    // real one when it is invariant under that encoding (plus Spark's
    // partition escaping). Path-safe leaves — all of graft's own layouts —
    // ride ONE multi-path relation (one listing, one schema inference — the
    // ReadScaleProbe economics above); the rare unsafe leaf falls back to a
    // per-leaf read with the DECODED value injected as a literal, unioned in
    def valueOf(leafName: String): String = leafName.drop(partitionCol.length + 1)
    def pathSafe(v: String): Boolean =
      v.nonEmpty && v.forall(c =>
        c.isLetterOrDigit && c < 128 || c == '.' || c == '_' || c == '-')
    val (safe, unsafe) = leaves.partition(l => pathSafe(valueOf(l._1)))
    val re = "/" + java.util.regex.Pattern.quote(partitionCol) + "=([^/]+)/"
    val safePart = Option.when(safe.nonEmpty)(
      spark.read.parquet(safe.map(_._2): _*).withColumn(partitionCol,
        org.apache.spark.sql.functions.regexp_extract(
          org.apache.spark.sql.functions.input_file_name(), re, 1)))
    val unsafeParts = unsafe.map { case (leafName, dir) =>
      spark.read.parquet(dir).withColumn(partitionCol,
        lit(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(valueOf(leafName))))
    }
    (safePart.toSeq ++ unsafeParts).reduceOption(_.unionByName(_))
  }

  /**
   * Append a partitioned batch into the layout — staged write, then each
   * staged file MOVES into its leaf's live generation (fs metadata; the
   * data is written once). New partition values create their leaf in the
   * manifest shape directly. With `tag = Some(batchId)` this is the
   * idempotent tagged append ([[ManifestTable.appendTagged]]'s twin — see
   * [[CommitTags]]): committed tags no-op (returns false having written
   * NOTHING), partial attempts sweep by the `tag-<md5(tag)>-` file prefix
   * before the re-append, and the tag commits last. Untagged appends are
   * the plain fast path (a blind retry double-appends — prefer a tag in
   * any retrying loop). Same reader visibility as a plain append (a probe
   * planning mid-move sees a prefix of the batch); the retry must precede
   * any other maintenance op (a rewrite folds tagged files into anonymous
   * generation rows, after which the sweep cannot identify a partial
   * attempt).
   */
  def appendPartitions(df: DataFrame, root: String, partitionCol: String,
      tag: Option[String] = None): Boolean = {
    val spark = df.sparkSession
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    val tok = tag.map(CommitTags.token)
    if (tok.exists(CommitTags.read(fs, rootPath).contains)) return false
    // schema guard: the batch (minus the partition column, which lives in
    // the directory structure, not the files) must match the layout — one
    // existing leaf's live generation stands for all (leaves are uniform
    // by this very invariant)
    leafDirs(fs, rootPath).headOption.foreach { p =>
      ManifestTable.assertAppendSchema(df.drop(partitionCol),
        ManifestTable.resolve(spark, p.toString), root)
    }
    val prefix = tok.map(t => s"tag-$t-")
    prefix.foreach { pre =>
      resolveLeaves(spark, root).foreach { case (_, dir) =>
        val d = new Path(dir)
        if (fs.exists(d))
          fs.listStatus(d).map(_.getPath)
            .filter(_.getName.startsWith(pre))
            .foreach(fs.delete(_, false))
      }
    }
    val stage = new Path(root + "/.stage-" + tok.getOrElse(
      java.util.UUID.randomUUID().toString))
    fs.delete(stage, true)
    // hash-partition the batch by the layout's partition column BEFORE the
    // partitioned write: without it every task writes one small file into
    // every leaf it touches (tasks × leaves files — measured 65 s to append
    // 200k rows across 1024 leaves, linear in leaf count), with it each
    // leaf's rows land in exactly one task → one staged file per leaf per
    // batch, which is also the file-count shape the manifest append wants
    stagedWrite(df.repartition(col(partitionCol)), stage.toString)
      .partitionBy(partitionCol).mode("overwrite").parquet(stage.toString)
    // the per-leaf file moves are INDEPENDENT driver-side fs metadata ops;
    // serialized they are the classic driver bottleneck at thousands of
    // leaves, so submit them to a bounded pool (the rewritePartitions
    // discipline) and drain every future before the tag commits
    val staged = fs.listStatus(stage).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.contains("=")).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, staged.length)))
    val futures = staged.map { sp =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          val leaf = new Path(rootPath, sp.getName)
          val target =
            if (fs.exists(leaf)) new Path(ManifestTable.resolve(spark, leaf.toString))
            else { // new leaf: born in the manifest shape
              val gen = new Path(leaf, "gen-000000000")
              fs.mkdirs(gen): Unit
              gen
            }
          fs.mkdirs(target): Unit
          fs.listStatus(sp).map(_.getPath).filter(_.getName.endsWith(".parquet"))
            .foreach { p =>
              val name = prefix.getOrElse("") + p.getName
              if (!fs.rename(p, new Path(target, name)))
                throw new java.io.IOException(
                  s"appendPartitions: cannot move $p into $target")
            }
        }
      })
    }
    val outcomes = futures.map(f => scala.util.Try(f.get()))
    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS): Unit
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    fs.delete(stage, true)
    tok.foreach(CommitTags.add(fs, rootPath, _))
    true
  }

  /** Back-compat alias for tagged [[appendPartitions]]. */
  def appendTaggedPartitions(df: DataFrame, root: String,
      partitionCol: String, tag: String): Boolean =
    appendPartitions(df, root, partitionCol, Some(tag))

  /** Compact every leaf holding more than `targetFiles` live parquet files;
    * returns leaves rewritten. READER-CONCURRENT per leaf (each leaf is a
    * [[ManifestTable]] — any probe concurrent with one rewrite keeps its
    * files); a legacy flat leaf migrates on this first rewrite under the
    * old maintenance-window contract. Execution (round 18): a pooled fs
    * metadata scan selects the over-target leaves, then ONE batched
    * `rewriteLeavesBatched` Spark job rewrites them all with pooled
    * per-leaf manifest commits — never a job per leaf (the pre-round-18
    * loop paid 64 job round-trips on a 64-bucket BM25 compaction). */
  def compactPartitions(spark: SparkSession, root: String, targetFiles: Int = 4): Int =
    rewritePartitions(spark, root, targetFiles, identity, onlyIfOverTarget = true)

  /** One leaf's planned minor compaction: which files merge, which carry
    * by reference, and the pre-claimed next generation (the claim token
    * carries the attempt nonce from the plan pool's thread into the commit
    * pool's — the two phases legitimately run on different threads). */
  private final case class MinorPlan(leaf: Path, live: String,
      next: ManifestTable.GenClaim, smallAbs: Seq[String], smallBytes: Long,
      bigRel: Seq[String])

  /**
   * Size-tiered MINOR compaction over every leaf — each leaf's append
   * debris (files under `smallBytes`) merges into ~`targetBytes` outputs
   * while large files carry by REFERENCE, so the layout-wide maintenance
   * bill is O(debris since the last pass), not O(layout).
   *
   * BATCHED execution: planning is pooled fs metadata, the merge is ONE
   * Spark job over every planned leaf's debris (leaf recovered from the
   * file path, staged `partitionBy(leaf)` under a root `.stage-minor-*`
   * dir), and each leaf's commit is a single staged-dir rename + manifest
   * swap on the pool. A per-leaf job loop measured 3.4 / 10.9 / 40.7 s at
   * 64 / 256 / 1024 leaves on CONSTANT debris (MaintainScaleProbe —
   * linear in leaf count, pure job-submission overhead: the 1000-leaf
   * layout would pay 1000 tiny jobs every maintenance pass). Crash-safe
   * the same way as appendPartitions: a dead stage dir is swept by the
   * next maintenance op; leaves committed before a crash are simply tight
   * on the next pass, the rest still hold their debris. Returns total
   * small files merged across leaves.
   */
  def minorCompactPartitions(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (!fs.exists(rootPath)) return 0
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(".stage-"))
      .foreach(fs.delete(_, true))
    val dirs = leafDirs(fs, rootPath)
    if (dirs.isEmpty) return 0
    minorCompactLeaves(spark, rootPath, fs, dirs, smallBytes, targetBytes)
  }

  /** The batched minor-compaction core shared by [[minorCompactPartitions]]
    * and [[autoMaintain]]'s minor branch. `dirs` are the candidate leaves;
    * leaves with fewer than two sub-threshold files are skipped for free. */
  private def minorCompactLeaves(spark: SparkSession, rootPath: Path,
      fs: org.apache.hadoop.fs.FileSystem, dirs: Seq[Path],
      smallBytes: Long, targetBytes: Long): Int = {
    require(smallBytes > 0 && targetBytes > 0, "thresholds must be positive")
    import org.apache.spark.sql.functions.{col, element_at, input_file_name, lit, map, pmod, regexp_extract, xxhash64}
    val dbg = java.lang.Boolean.getBoolean("graft.debug.maintainTiming") ||
      sys.env.contains("GRAFT_DEBUG_TIMING")
    var t0 = System.nanoTime()
    def lap(what: String): Unit = if (dbg) {
      val now = System.nanoTime()
      System.err.println(f"[minor] $what ${(now - t0) / 1e9}%.2fs")
      t0 = now
    }
    // ---- plan (pooled fs metadata; flat leaves migrate first, fs-only)
    val plans = pooledMap(dirs) { p =>
      val t = p.toString
      if (ManifestTable.liveGen(spark, t).isEmpty)
        ManifestTable.migrateFlatDir(spark, t)
      ManifestTable.liveGen(spark, t).flatMap { live =>
        val (small, big) = ManifestTable.snapshotFiles(fs, p, live)
          .partition(_._2 < smallBytes)
        if (small.length < 2) None
        else Some(MinorPlan(p, live, ManifestTable.claimGen(spark, t),
          small.map(r => s"$t/${r._1}"), small.map(_._2).sum, big.map(_._1)))
      }
    }.flatten
    lap(s"plan(${dirs.length} leaves, ${plans.length} planned)")
    if (plans.isEmpty) return 0
    val partitionCol = dirs.head.getName.takeWhile(_ != '=')
    // non-canonical leaf names (external tools only) cannot ride the
    // recover->partitionBy round trip: exact per-leaf merges for them
    val (batchable, nonCanonical) =
      plans.partition(pl => canonicalLeaf(partitionCol, pl.leaf))
    val perLeafMerged = nonCanonical.map(pl => ManifestTable.minorCompact(
      spark, pl.leaf.toString, smallBytes, targetBytes)).sum
    if (batchable.isEmpty) return perLeafMerged
    // ---- merge: ONE job over every planned leaf's debris. Leaf value is
    // recovered from the file path (the gen dir sits BELOW the leaf=value
    // component); a per-leaf salt bounds each output file at ~targetBytes.
    //
    // The recovered component carries TWO encoding layers (see
    // recoveredLeafValue): decoding both recovers the TRUE value, which
    // partitionBy then re-escapes to exactly the original dir name — so the
    // staged leaf matches pl.leaf.getName for ANY value. (The pre-round-13
    // code left the value URI-encoded: 'a b' staged as 'a%20b', never
    // matched, and with retained big files present the reference-only
    // branch below silently dropped the debris rows.)
    val stage = new Path(rootPath,
      ".stage-minor-" + java.util.UUID.randomUUID().toString.take(12))
    val nOut: Map[String, Int] = batchable.map { pl =>
      trueLeafValue(partitionCol, pl.leaf) -> math.max(1L,
        (pl.smallBytes + targetBytes - 1) / targetBytes).toInt
    }.toMap
    val base = spark.read.parquet(batchable.flatMap(_.smallAbs): _*)
      .withColumn(partitionCol, recoveredLeafValue(partitionCol))
    // debris under targetBytes per leaf (the steady state) needs no salt;
    // oversized leaves get one via a BROADCAST join on the tiny plan table
    // (a literal map() of thousands of entries is rebuilt per row and falls
    // out of codegen — measured as the whole job's cost at 1024 leaves)
    val routed =
      if (nOut.values.forall(_ == 1)) base.repartition(col(partitionCol))
      else {
        import spark.implicits._
        val nOutDf = org.apache.spark.sql.functions.broadcast(
          nOut.toSeq.toDF(partitionCol, "__nout"))
        base.join(nOutDf, partitionCol)
          .withColumn("__salt", pmod(xxhash64(input_file_name()),
            col("__nout")))
          .repartition(col(partitionCol), col("__salt"))
          .drop("__salt", "__nout")
      }
    // committer: auto-selected from the target's fs scheme (see
    // committerFor — v1 on rename-cheap local/HDFS where the A/B measured
    // it neutral-to-faster, v2 on object stores where CommitterProbe
    // measured ~2.9x/2.1x); `graft.committer.algorithm` overrides.
    stagedWrite(routed, stage.toString).partitionBy(partitionCol)
      .mode("overwrite").parquet(stage.toString)
    lap(s"merge(${batchable.map(_.smallAbs.length).sum} files)")
    // ---- commit (pooled fs metadata: one rename + manifest swap per leaf)
    val outcomes = pooledMap(batchable)(pl => scala.util.Try {
      val stagedLeaf = new Path(stage, pl.leaf.getName)
      val nextPath = new Path(pl.leaf, pl.next.gen)
      if (fs.exists(stagedLeaf)) {
        if (!fs.rename(stagedLeaf, nextPath))
          throw new java.io.IOException(
            s"minorCompactPartitions: cannot commit $stagedLeaf -> $nextPath")
        ManifestTable.commitStagedGen(spark, pl.leaf.toString, pl.next,
          pl.live, pl.bigRel)
        pl.smallAbs.length
      } else if (pl.bigRel.nonEmpty) {
        // no staged dir for this leaf: legitimate ONLY when every debris
        // file held zero rows (partitionBy writes no dir for an empty
        // group). VERIFY that from the parquet footers (footer metadata
        // reads, bounded by this rare case) before committing a
        // reference-only generation — committing on a mere name mismatch
        // would silently drop live rows from the snapshot.
        val debrisRows = pl.smallAbs.map(f => footerRowCount(fs, new Path(f))).sum
        if (debrisRows != 0L)
          throw new IllegalStateException(
            s"minorCompactPartitions: staged output for ${pl.leaf} missing " +
              s"yet its debris holds $debrisRows rows — leaf-value recovery " +
              "mismatch; nothing was committed for this leaf")
        fs.mkdirs(nextPath): Unit
        ManifestTable.commitStagedGen(spark, pl.leaf.toString, pl.next,
          pl.live, pl.bigRel)
        pl.smallAbs.length
      } else 0 // zero-row leaf with nothing retained: leave it untouched
    })
    fs.delete(stage, true)
    lap("commit")
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    perLeafMerged + outcomes.map(_.getOrElse(0)).sum
  }

  /** Exact row count of one parquet file from its footer — metadata only,
    * no data pages read. */
  private def footerRowCount(fs: org.apache.hadoop.fs.FileSystem,
      file: Path): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, fs.getConf))
    try reader.getRecordCount finally reader.close()
  }

  /**
   * Rewrite EVERY leaf through `transform` (row-level rewrites: deletion,
   * retention) — unlike [[compactPartitions]] no leaf is skipped for being
   * small, since the rows to drop can live anywhere. Same per-leaf manifest
   * swaps, same reader-concurrency contract. Returns leaves rewritten.
   *
   * Execution is BATCHED like [[minorCompactPartitions]]: ONE Spark job
   * reads every leaf's live snapshot (retained references folded back in),
   * applies `transform` once (each row's leaf value rides along as the
   * `partitionCol` column, recovered exactly — [[recoveredLeafValue]]),
   * stages `partitionBy(leaf)`, and commits each leaf with a pooled
   * staged-dir rename + manifest swap. The per-leaf job loop this replaced
   * paid one Spark job PER LEAF — the O(leaves) driver pattern: a takedown
   * on a 256-leaf SRP layout measured 15.4 s of job submissions (q246,
   * round 13) against ~3 s batched; at 1024 leaves the loop shape is the
   * difference between one job and a thousand. `transform` must be
   * row-wise (filters/anti-joins — every graft takedown/retention is) and
   * must keep the injected partition column. `onlyIfOverTarget = true`
   * (compaction) first SELECTS the over-target leaves from pooled fs
   * metadata alone ([[ManifestTable.dataFileCount]] listings) and then
   * feeds ONLY those through the same batched one-job rewrite — skipped
   * leaves cost a listing, never a read (round-18 shape; the per-leaf
   * `ManifestTable.compact` job loop is gone).
   */
  def rewritePartitions(spark: SparkSession, root: String, targetFiles: Int,
      transform: DataFrame => DataFrame,
      onlyIfOverTarget: Boolean = false): Int = {
    require(targetFiles > 0, "targetFiles must be positive")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (!fs.exists(rootPath)) return 0
    // sweep stage dirs from interrupted appendPartitions attempts:
    // maintenance ops are externally serialized, so any stage dir visible
    // here is dead (its batch's retry will re-stage from scratch)
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(".stage-"))
      .foreach(fs.delete(_, true))
    val dirs = leafDirs(fs, rootPath)
    if (dirs.isEmpty) return 0
    if (!onlyIfOverTarget)
      return rewriteLeavesBatched(spark, rootPath, fs, dirs, targetFiles, transform)
    // compaction (round-18 optimization): decide over-target leaves from fs
    // METADATA alone (pooled), then rewrite the selected leaves through the
    // SAME batched one-job path as every other layout-wide rewrite. The
    // per-leaf ManifestTable.compact loop this replaces paid one tiny Spark
    // job per over-target leaf (pool of 8) — a 64-bucket BM25 compaction
    // after a daily append has every leaf over target, i.e. 64 job
    // round-trips ≈ the whole verb's cost at bench scale and the O(leaves)
    // driver pattern at 100 TB. Skipped leaves still cost only a listing.
    val over = pooledMap(dirs) { p =>
      val n = ManifestTable.dataFileCount(spark, p.toString)
      Option.when(n > 0 && n > targetFiles)(p)
    }.flatten
    if (over.isEmpty) 0
    else rewriteLeavesBatched(spark, rootPath, fs, over, targetFiles, transform)
  }

  /** The batched every-leaf rewrite core — see [[rewritePartitions]]. */
  private def rewriteLeavesBatched(spark: SparkSession, rootPath: Path,
      fs: org.apache.hadoop.fs.FileSystem, dirs: Seq[Path], targetFiles: Int,
      transform: DataFrame => DataFrame): Int = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val dbg = java.lang.Boolean.getBoolean("graft.debug.maintainTiming") ||
      sys.env.contains("GRAFT_DEBUG_TIMING")
    var tDbg = System.nanoTime()
    def lap(what: String): Unit = if (dbg) {
      val now = System.nanoTime()
      System.err.println(f"[rewrite] $what ${(now - tDbg) / 1e9}%.2fs")
      tDbg = now
    }
    val partitionCol = dirs.head.getName.takeWhile(_ != '=')
    // plan (pooled fs metadata); flat leaves migrate first so every commit
    // below is a staged-generation swap
    val plans = pooledMap(dirs) { p =>
      val t = p.toString
      if (ManifestTable.liveGen(spark, t).isEmpty)
        ManifestTable.migrateFlatDir(spark, t)
      ManifestTable.liveGen(spark, t).flatMap { live =>
        val files = ManifestTable.snapshotFiles(fs, p, live)
        if (files.isEmpty) None
        else Some((p, live, ManifestTable.claimGen(spark, t),
          files.map(r => s"$t/${r._1}")))
      }
    }.flatten
    lap(s"plan(${dirs.length} leaves)")
    if (plans.isEmpty) return 0
    // non-canonical leaf names (external tools only) would re-stage under a
    // DIFFERENT name and read as "transform emptied the leaf" — silent row
    // loss; they take the exact per-leaf rewrite instead
    val (canonical, nonCanonical) =
      plans.partition(pl => canonicalLeaf(partitionCol, pl._1))
    pooledMap(nonCanonical)(pl =>
      ManifestTable.compact(spark, pl._1.toString, targetFiles, transform)): Unit
    if (canonical.isEmpty) return nonCanonical.length
    val base = spark.read.parquet(canonical.flatMap(_._4): _*)
      .withColumn(partitionCol, recoveredLeafValue(partitionCol))
    val transformed = transform(base)
    require(transformed.columns.contains(partitionCol),
      s"rewritePartitions: transform must keep the '$partitionCol' column " +
        "(row-wise filters/anti-joins do)")
    // deterministic row-content salt bounds each leaf at ~targetFiles
    // files; MapType columns are unhashable and sit out of the salt
    def hashless(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hashless(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashless(a.elementType)
      case _ => false
    }
    val saltCols = transformed.schema.fields
      .filterNot(f => hashless(f.dataType)).map(f => col(f.name)).toIndexedSeq
    val routed =
      if (targetFiles == 1 || saltCols.isEmpty)
        transformed.repartition(col(partitionCol))
      else transformed
        .withColumn("__salt", pmod(xxhash64(saltCols: _*), lit(targetFiles)))
        .repartition(col(partitionCol), col("__salt"))
        .drop("__salt")
    val stage = new Path(rootPath,
      ".stage-rewrite-" + java.util.UUID.randomUUID().toString.take(12))
    stagedWrite(routed, stage.toString).partitionBy(partitionCol)
      .mode("overwrite").parquet(stage.toString)
    lap("merge-job")
    // a transform may only FILTER rows, never rewrite their partition
    // values: a rewritten value routes rows into a staged leaf outside the
    // planned set, which the stage-dir delete below would silently destroy
    // while the drained source leaf commits as "emptied". Only the column's
    // PRESENCE is require-checked above, so verify the staged leaf names
    // against the plan before any commit — the batched twin of
    // minorCompactPartitions' footerRowCount reconciliation.
    val plannedLeafNames = canonical.map(_._1.getName).toSet
    val unplanned = fs.listStatus(stage).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(partitionCol + "="))
      .filterNot(plannedLeafNames)
    if (unplanned.nonEmpty) {
      fs.delete(stage, true)
      throw new IllegalArgumentException(
        s"rewritePartitions: transform rerouted rows into unplanned " +
          s"leaves ${unplanned.sorted.take(5).mkString(", ")} — transforms " +
          s"must not modify the '$partitionCol' column (nothing was " +
          "committed; the table is unchanged)")
    }
    // commit (pooled fs metadata): a missing staged dir is a leaf whose
    // rows were ALL dropped by the transform — the value round-trip is
    // exact (recoveredLeafValue), so it commits as an empty generation
    val outcomes = pooledMap(canonical)(pl => scala.util.Try {
      val stagedLeaf = new Path(stage, pl._1.getName)
      val nextPath = new Path(pl._1, pl._3.gen)
      if (fs.exists(stagedLeaf)) {
        if (!fs.rename(stagedLeaf, nextPath))
          throw new java.io.IOException(
            s"rewritePartitions: cannot commit $stagedLeaf -> $nextPath")
      } else fs.mkdirs(nextPath): Unit // transform dropped every row
      ManifestTable.commitStagedGen(spark, pl._1.toString, pl._3, pl._2, Nil)
    })
    fs.delete(stage, true)
    lap(s"commit(${canonical.length} leaves)")
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    nonCanonical.length + canonical.length
  }

  /** One leaf's maintenance statistics — the planner row behind
    * [[layoutReport]] / [[autoMaintain]]. `liveFiles` counts every file the
    * live snapshot opens (dir + retained); `debrisFiles`/`debrisBytes` are
    * the subset under the small-file threshold (what a minor compaction
    * would merge); `retainedFiles` is the by-reference carry from earlier
    * minor compactions; `generations` counts on-disk generation dirs
    * (live + undo window + referenced + orphans awaiting sweep). */
  final case class LeafStat(leaf: String, liveFiles: Int, retainedFiles: Int,
      debrisFiles: Int, debrisBytes: Long, generations: Int)

  /** Per-leaf maintenance statistics for the whole layout — driver-side fs
    * metadata only (pooled, no data read): the input a maintenance
    * scheduler needs to decide which leaves to touch and how. */
  def layoutReport(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20): Seq[LeafStat] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    pooledMap(leafDirs(fs, rootPath))(p =>
      layoutReportLeaf(spark, fs, p, smallBytes))
  }

  /**
   * Policy-driven maintenance — the scheduler HBase runs server-side
   * (minor compactions continuously, majors when a store's file tiers
   * degenerate), expressed as one idempotent verb a daily loop calls:
   * per leaf, MAJOR compact (full rewrite to `targetFiles`, folds retained
   * references back) when the live snapshot opens more than `majorAt`
   * files; else MINOR compact (merge debris only, O(debris) cost) when at
   * least `minorAt` files sit under `smallBytes`; else leave the leaf
   * alone — an already-tight layout costs one fs listing, nothing more.
   * Same single-maintainer contract and bounded per-leaf concurrency as
   * the other layout verbs. Returns (minor, major) leaf counts.
   */
  def autoMaintain(spark: SparkSession, root: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      minorAt: Int = 4, majorAt: Int = 32, targetFiles: Int = 4): (Int, Int) = {
    require(minorAt >= 2, "minorAt under 2 would re-merge a lone file forever")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (!fs.exists(rootPath)) return (0, 0)
    // decide from fs metadata alone (pooled), then execute: majors per
    // leaf (a rare full rewrite), minors through the BATCHED merge (one
    // job however many leaves need it — see minorCompactPartitions)
    val decisions = pooledMap(leafDirs(fs, rootPath)) { p =>
      val stat = layoutReportLeaf(spark, fs, p, smallBytes)
      if (stat.liveFiles > majorAt) (p, 2)
      else if (stat.debrisFiles >= minorAt) (p, 1)
      else (p, 0)
    }
    val majors = decisions.collect { case (p, 2) => p }
    // majors fold retained references back and rewrite whole leaves — the
    // batched every-leaf rewrite (ONE job + pooled commits) instead of one
    // ManifestTable.compact job per leaf, so even a degenerate layout where
    // every leaf crossed majorAt pays one job, not O(leaves)
    if (majors.nonEmpty)
      rewriteLeavesBatched(spark, rootPath, fs, majors, targetFiles,
        identity): Unit
    val minors = decisions.collect { case (p, 1) => p }
    if (minors.nonEmpty)
      minorCompactLeaves(spark, rootPath, fs, minors, smallBytes,
        targetBytes): Unit
    (minors.length, majors.length)
  }

  private def layoutReportLeaf(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, p: Path,
      smallBytes: Long): LeafStat =
    ManifestTable.liveGen(spark, p.toString) match {
      case Some(live) =>
        val files = ManifestTable.snapshotFiles(fs, p, live)
        val debris = files.filter(_._2 < smallBytes)
        LeafStat(p.getName, files.length,
          ManifestTable.retainedRel(spark, p.toString, live).length,
          debris.length, debris.map(_._2).sum,
          ManifestTable.generations(spark, p.toString).length)
      case None =>
        val files = fs.listStatus(p)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => (s.getPath.getName, s.getLen)).toSeq
        val debris = files.filter(_._2 < smallBytes)
        LeafStat(p.getName, files.length, 0, debris.length,
          debris.map(_._2).sum, 0)
    }

  /** [[ManifestTable.fsck]] over every leaf plus the root-level stage-dir
    * sweep — run after any suspected crash to make the crash-heal fallback
    * durable, sweep orphaned generations/stages/tmp files, and surface
    * unhealable damage (missing retained files) across the layout in one
    * report. Single-maintainer op. */
  def fsckPartitions(spark: SparkSession, root: String)
      : Seq[ManifestTable.FsckStat] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (!fs.exists(rootPath)) return Nil
    fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(".stage-") ||
        p.getName.startsWith(CommitTags.TagsName + ".tmp-"))
      .foreach(fs.delete(_, true))
    pooledMap(leafDirs(fs, rootPath))(p =>
      ManifestTable.fsck(spark, p.toString))
  }

  /**
   * LAYOUT-LEVEL snapshot export — [[ManifestTable.cloneSnapshot]] walked
   * over a whole persisted layout tree (IVF `cell=` leaves, BM25's
   * `postings`/`docs`/`stats`, a pair table's `pairs`/`postings`, SRP
   * `bucket=` leaves — AND every tombstone sidecar): the
   * backup/DR/promotion verb for the heavy derived layouts. Each
   * directory that IS a table (a live manifest generation, or loose flat
   * parquet files) clones file-level into the mirrored path under `dest`;
   * container directories recurse; dot-prefixed stage debris is skipped.
   * Pending lazy-takedown tombstones are PRESERVED — the clone's probes
   * mask exactly what the source's do, so a GDPR takedown survives its
   * own backup (spec-pinned). Each leaf clones its OWN live snapshot:
   * run under the single-maintainer contract (no concurrent maintenance)
   * when the backup must be one consistent point in time. Refuses a
   * non-empty dest; a crash mid-export leaves a partial dest with no
   * committed manifests past the copied leaves — delete and re-export.
   * Returns data files copied. Reference analogue: HBase snapshot +
   * ExportSnapshot over a table's regions.
   */
  def cloneLayout(spark: SparkSession, root: String, dest: String): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    require(fs.exists(rootPath), s"cloneLayout: no layout at $root")
    val destPath = new Path(dest)
    val destFs = destPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (destFs.exists(destPath) && destFs.listStatus(destPath).nonEmpty)
      throw new IllegalArgumentException(
        s"cloneLayout: dest $dest is not empty — backups never merge")
    def walk(src: Path, dst: Path): Int = {
      val entries = fs.listStatus(src)
      // a KEYED INDEXED store (`_graft_index` sidecar + m-*.parquet data
      // files — writeNearDupIndex's `docs`, any KeyedStore.writeIndexed
      // table): its file NAMES are the contract (index versions reference
      // them), so it clones VERBATIM — every live data file plus every
      // sealed index version, undo window included — never re-manifested
      if (entries.exists(s => s.isFile &&
          s.getPath.getName.startsWith(
            org.apache.spark.sql.graft.GraftIndex.FileName))) {
        val files = entries.filter(s => s.isFile &&
            !s.getPath.getName.startsWith(".")).toSeq
        destFs.mkdirs(dst): Unit
        // same engine selection (and the same JVM-wide bounded driver pool)
        // as cloneSnapshot — see ManifestTable.copyFiles
        ManifestTable.copyFiles(spark, fs, destFs,
          files.map(s =>
            (s.getPath, new Path(dst, s.getPath.getName), s.getLen)),
          "cloneLayout")
        files.length
      } else {
        val isTable = ManifestTable.liveGen(spark, src.toString).isDefined ||
          entries.exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (isTable)
          ManifestTable.cloneSnapshot(spark, src.toString, dst.toString)
        else {
          // pooled like every other per-leaf maintenance loop: a
          // 1024-leaf layout's export must not serialize 1024 clone
          // round-trips on the driver (each leaf claims, copies, and
          // commits into its OWN dest dir — no shared state to race)
          val subdirs0 = entries.filter(_.isDirectory).map(_.getPath)
            .filterNot(p => p.getName.startsWith(".") ||
              p.getName == "_temporary" || p.getName.endsWith("__staging"))
            .toSeq
          // a layout-root exactly-once ledger (appendTaggedPartitions'
          // `_TAGS`) mirrors as markers, not as a walked table — ledger
          // fidelity for DR cutovers, same as cloneSnapshot's table tags
          val (tagsDir, subdirs) =
            subdirs0.partition(_.getName == CommitTags.TagsName)
          // the ledger may also be the legacy single-FILE form (pre
          // round-12) — markerNames reads both; mirror either shape
          if (tagsDir.nonEmpty || entries.exists(s =>
              s.isFile && s.getPath.getName == CommitTags.TagsName)) {
            destFs.mkdirs(dst): Unit
            CommitTags.mirror(destFs, dst, CommitTags.markerNames(fs, src))
          }
          pooledMap(subdirs)(p => walk(p, new Path(dst, p.getName))).sum
        }
      }
    }
    val copied = walk(rootPath, destPath)
    // mark dest as a graft backup root so [[syncLayout]] can later
    // mirror-prune it safely (the marker is the consent to delete)
    destFs.create(new Path(destPath, BackupMarkerName), true).close()
    copied
  }

  /** The consent-to-prune marker [[cloneLayout]]/[[syncLayout]] stamp at a
    * backup root: [[syncLayout]] deletes dest entries the source no longer
    * has, and must never do that to an arbitrary directory a caller
    * mistyped — a non-empty unmarked dest refuses loudly. */
  private[graft] val BackupMarkerName = "_GRAFT_BACKUP"

  /**
   * INCREMENTAL whole-layout backup — [[cloneLayout]]'s nightly twin
   * ([[ManifestTable.syncSnapshot]] applied leaf-by-leaf, plus a verbatim
   * mirror of keyed indexed stores): only files the backup does not
   * already hold (immutable name + length identity) move; unchanged
   * manifest-table content carries by `_RETAINS` reference into each
   * leaf's new backup generation; leaves and files the SOURCE dropped are
   * pruned from the backup so a restore cannot resurrect them. At 100 TB
   * this is the difference between a backup cycle that costs O(delta
   * since yesterday) and one that re-ships the corpus.
   *
   * Dest must be empty (first backup — equivalent to [[cloneLayout]]) or
   * carry the backup marker a previous clone/sync stamped: mirror-PRUNE
   * against an arbitrary non-backup directory refuses loudly. Keyed
   * indexed stores mirror verbatim in copy-then-prune order (data files,
   * then index versions, then deletes), so a backup reader mid-sync
   * resolves only complete index versions. Returns files copied (the
   * delta). Crash contract: per-leaf manifest syncs are atomic
   * (claim/commit); a mid-sync crash leaves some leaves at yesterday's
   * backup and some at today's — re-run to converge.
   */
  def syncLayout(spark: SparkSession, root: String, dest: String): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    require(fs.exists(rootPath), s"syncLayout: no layout at $root")
    val destPath = new Path(dest)
    val destFs = destPath.getFileSystem(ManifestTable.cachedConf(spark))
    val marker = new Path(destPath, BackupMarkerName)
    if (destFs.exists(destPath) && destFs.listStatus(destPath).nonEmpty)
      require(destFs.exists(marker),
        s"syncLayout: dest $dest is non-empty and carries no " +
          s"$BackupMarkerName marker — it is not a graft backup root, and " +
          "mirror-prune against an arbitrary directory would delete its " +
          "content; first backups go to an empty dest")
    destFs.mkdirs(destPath): Unit
    destFs.create(marker, true).close()
    def keepName(n: String): Boolean =
      !n.startsWith(".") && n != "_temporary" && !n.endsWith("__staging") &&
        n != BackupMarkerName
    def walk(src: Path, dst: Path): Int = {
      val entries = fs.listStatus(src)
      if (entries.exists(s => s.isFile &&
          s.getPath.getName.startsWith(
            org.apache.spark.sql.graft.GraftIndex.FileName))) {
        // keyed indexed store: file names are the contract — mirror
        // verbatim. Copy data files first, index versions second, prune
        // last, so a backup reader never resolves a version whose files
        // are not yet there.
        val files = entries.filter(s => s.isFile &&
          keepName(s.getPath.getName)).toSeq
        destFs.mkdirs(dst): Unit
        val have = destFs.listStatus(dst).filter(_.isFile)
          .map(s => s.getPath.getName -> s.getLen).toMap
        val (vers, data) = files.partition(_.getPath.getName.startsWith(
          org.apache.spark.sql.graft.GraftIndex.FileName))
        def copyBatch(batch: Seq[org.apache.hadoop.fs.FileStatus]): Int = {
          val toCopy = batch.filterNot(s =>
            have.get(s.getPath.getName).contains(s.getLen))
          ManifestTable.copyFiles(spark, fs, destFs,
            toCopy.map(s =>
              (s.getPath, new Path(dst, s.getPath.getName), s.getLen)),
            "syncLayout")
          toCopy.length
        }
        // TWO batches, strictly ordered: the data files must all be down
        // before ANY index version lands (one concurrent batch could
        // publish a version whose files are still in flight — a backup
        // reader or crash would resolve a torn store)
        val copied = copyBatch(data) + copyBatch(vers)
        val want = files.map(_.getPath.getName).toSet
        have.keys.filterNot(want).filter(keepName)
          .foreach(n => destFs.delete(new Path(dst, n), false))
        copied
      } else {
        val isTable = ManifestTable.liveGen(spark, src.toString).isDefined ||
          entries.exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (isTable)
          ManifestTable.syncSnapshot(spark, src.toString, dst.toString)
        else {
          val subdirs0 = entries.filter(_.isDirectory).map(_.getPath)
            .filter(p => keepName(p.getName)).toSeq
          val (tagsDir, subdirs) =
            subdirs0.partition(_.getName == CommitTags.TagsName)
          val copied = pooledMap(subdirs)(p =>
            walk(p, new Path(dst, p.getName))).sum
          // layout-root ledger mirrors as markers (see cloneLayout), AFTER
          // the leaves so a crashed sync leaves the ledger behind the
          // content, never ahead of it; an absent source ledger clears
          // dest's via the same call
          if (tagsDir.nonEmpty ||
              entries.exists(s =>  // legacy single-FILE ledger mirrors too
                s.isFile && s.getPath.getName == CommitTags.TagsName) ||
              destFs.exists(new Path(dst, CommitTags.TagsName))) {
            destFs.mkdirs(dst): Unit
            CommitTags.mirror(destFs, dst, CommitTags.markerNames(fs, src))
          }
          // mirror-prune: dest children the source no longer has (dropped
          // leaves, retired sidecars) — the marker above is the consent;
          // the ledger dir is mirrored, never pruned as a leaf
          if (destFs.exists(dst)) {
            val srcNames = subdirs0.map(_.getName).toSet
            destFs.listStatus(dst).filter(_.isDirectory).map(_.getPath)
              .filter(p => keepName(p.getName) && !srcNames(p.getName) &&
                p.getName != CommitTags.TagsName)
              .foreach(p => destFs.delete(p, true))
          }
          copied
        }
      }
    }
    walk(rootPath, destPath)
  }

  /**
   * AUDIT a whole-layout backup against its source — [[syncLayout]]'s
   * read-only twin ([[ManifestTable.verifyBackup]] per manifest leaf,
   * verbatim name+length compare per keyed indexed store, a source-less
   * dest child counted as `extra`). Pure fs metadata, pooled like every
   * per-leaf walk; run it after each sync cycle before trusting the
   * backup for DR. `ok` = every source file restorable from dest.
   */
  def verifyBackupLayout(spark: SparkSession, root: String,
      dest: String): ManifestTable.BackupStat = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    require(fs.exists(rootPath), s"verifyBackupLayout: no layout at $root")
    val destPath = new Path(dest)
    val destFs = destPath.getFileSystem(ManifestTable.cachedConf(spark))
    def keepName(n: String): Boolean =
      !n.startsWith(".") && n != "_temporary" && !n.endsWith("__staging") &&
        n != BackupMarkerName
    def walk(src: Path, dst: Path): ManifestTable.BackupStat = {
      val entries = fs.listStatus(src)
      if (entries.exists(s => s.isFile &&
          s.getPath.getName.startsWith(
            org.apache.spark.sql.graft.GraftIndex.FileName))) {
        val want = entries.filter(s => s.isFile && keepName(s.getPath.getName))
          .map(s => s.getPath.getName -> s.getLen).toMap
        val have = (if (destFs.exists(dst))
            destFs.listStatus(dst).filter(_.isFile)
          else Array.empty[org.apache.hadoop.fs.FileStatus])
          .filter(s => keepName(s.getPath.getName))
          .map(s => s.getPath.getName -> s.getLen).toMap
        ManifestTable.BackupStat(src.toString, dst.toString, want.size,
          want.keys.count(!have.contains(_)),
          want.count { case (n, l) => have.get(n).exists(_ != l) },
          (have.keySet -- want.keySet).size)
      } else {
        val isTable = ManifestTable.liveGen(spark, src.toString).isDefined ||
          entries.exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))
        if (isTable)
          ManifestTable.verifyBackup(spark, src.toString, dst.toString)
        else {
          val subdirs0 = entries.filter(_.isDirectory).map(_.getPath)
            .filter(p => keepName(p.getName)).toSeq
          val (tagsDir, subdirs) =
            subdirs0.partition(_.getName == CommitTags.TagsName)
          val parts = pooledMap(subdirs)(p => walk(p, new Path(dst, p.getName)))
          val srcNames = subdirs0.map(_.getName).toSet
          val extraDirs = if (!destFs.exists(dst)) 0
            else destFs.listStatus(dst).filter(_.isDirectory)
              .map(_.getPath.getName)
              .count(n => keepName(n) && !srcNames(n) &&
                n != CommitTags.TagsName)
          // layout-root ledger drift (appendTaggedPartitions tags): the
          // same cutover-readiness signal verifyBackup reports per table
          val rootDrift = if (tagsDir.isEmpty &&
              !entries.exists(s =>  // legacy single-FILE ledger audits too
                s.isFile && s.getPath.getName == CommitTags.TagsName) &&
              !destFs.exists(new Path(dst, CommitTags.TagsName))) 0
            else {
              val w = CommitTags.markerNames(fs, src)
              val h = CommitTags.markerNames(destFs, dst)
              (w diff h).size + (h diff w).size
            }
          parts.foldLeft(ManifestTable.BackupStat(root, dest, 0, 0, 0,
              extraDirs, rootDrift)) { (a, b) =>
            a.copy(files = a.files + b.files, missing = a.missing + b.missing,
              sizeMismatch = a.sizeMismatch + b.sizeMismatch,
              extra = a.extra + b.extra, tagDrift = a.tagDrift + b.tagDrift)
          }
        }
      }
    }
    walk(rootPath, destPath).copy(table = root, dest = dest)
  }

  /**
   * Resolve the LAYOUT-WIDE rollback plan: each leaf paired with the
   * generation that was live before its last rewrite
   * ([[ManifestTable.previousGen]]). The plan is one consistent pre-op
   * snapshot exactly when the last maintenance op was layout-wide
   * ([[rewritePartitions]] — takedowns and retention rewrite every leaf);
   * refuses loudly when ANY leaf lacks an undo window (a partial
   * rollback would mix two points in time silently). Pure read — apply
   * it with [[rollbackPartitions]].
   */
  def rollbackPlanPartitions(spark: SparkSession,
      root: String): Seq[(String, String)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    val leaves = leafDirs(fs, rootPath).map(_.toString)
    require(leaves.nonEmpty, s"rollbackPlanPartitions: no leaves at $root")
    val plan = pooledMap(leaves)(l =>
      l -> ManifestTable.previousGen(spark, l))
    val missing = plan.collect { case (l, None) => l }
    require(missing.isEmpty,
      s"rollbackPlanPartitions: ${missing.length} leaf(s) have no undo " +
        s"window (e.g. ${missing.take(3).mkString(", ")}) — the layout " +
        "cannot roll back to one consistent point (keep-N retention " +
        "funds the window; per-leaf ops desynchronize it)")
    plan.map { case (l, g) => (l, g.get) }
  }

  /**
   * LAYOUT-WIDE rollback — [[ManifestTable.rollback]] applied across a
   * partitioned layout: undo the last layout-wide rewrite (a mistaken
   * takedown or retention pass) at fs-METADATA cost, one fenced pointer
   * commit per leaf, zero data movement. `plan` defaults to
   * [[rollbackPlanPartitions]] resolved NOW; pass an explicitly retained
   * plan to RETRY a crashed application — per-leaf [[ManifestTable.rollbackTo]]
   * is idempotent (target already live = no-op), so re-applying the SAME
   * plan converges however many leaves the crash left rolled. (Do NOT
   * blindly re-resolve after a partial application: already-rolled
   * leaves' undo windows then point one step further back.) Same fsck
   * caveat as single-table rollback: the rolled-back-from generations
   * read as debris to fsck until the next rewrite retires them. Returns
   * leaves whose pointer moved.
   */
  def rollbackPartitions(spark: SparkSession, root: String,
      plan: Option[Seq[(String, String)]] = None): Int = {
    val p = plan.getOrElse(rollbackPlanPartitions(spark, root))
    pooledMap(p) { case (leaf, gen) =>
      val already = ManifestTable.liveGen(spark, leaf).contains(gen)
      ManifestTable.rollbackTo(spark, leaf, gen): Unit
      if (already) 0 else 1
    }.sum
  }

  /** Migrate every flat leaf of a freshly-written layout to the manifest
    * shape — pure fs metadata ([[ManifestTable.migrateFlatDir]]), called by
    * the layout writers right after their partitioned overwrite so the
    * layout is reader-concurrent from birth. */
  def migrateLeaves(spark: SparkSession, root: String): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    pooledMap(leafDirs(fs, rootPath))(p =>
      ManifestTable.migrateFlatDir(spark, p.toString)): Unit
  }

  /** [[ManifestTable.vacuum]] over every leaf of a partitioned layout,
    * plus a sweep of dead root-level stage dirs from interrupted
    * [[appendPartitions]] attempts — the layout-wide standalone GC (the
    * next rewrite would sweep the same debris; vacuum is for reclaiming
    * disk between rewrites). Same `keepPrevious` drain rule per leaf.
    * Returns directories deleted. */
  def vacuumPartitions(spark: SparkSession, root: String,
      keepPrevious: Boolean = true): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    if (!fs.exists(rootPath)) return 0
    val stages = fs.listStatus(rootPath).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(".stage-") ||
        p.getName.startsWith(CommitTags.TagsName + ".tmp-"))
    stages.foreach(fs.delete(_, true))
    stages.length +
      pooledMap(leafDirs(fs, rootPath))(p =>
        ManifestTable.vacuum(spark, p.toString, keepPrevious)).sum
  }

  /** Previous-generation twin of [[resolveLeafDirs]] — the UNDO WINDOW on
    * a partitioned layout: each probed leaf's
    * [[ManifestTable.previousGen]], the state before that leaf's last
    * rewrite, retained through one cycle. Leaves with no undo window
    * (absent, or never rewritten since creation/vacuum) are SKIPPED. The
    * assembled view is a consistent pre-op snapshot exactly when the last
    * maintenance op was LAYOUT-WIDE ([[rewritePartitions]] with
    * `onlyIfOverTarget = false` — deletion/retention rewrites every leaf);
    * after per-leaf ops it is per-leaf "before", not one point in time. */
  def resolveLeafDirsPrevious(spark: SparkSession, root: String,
      partitionCol: String, values: Seq[Any]): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(ManifestTable.cachedConf(spark))
    values.map(v => new Path(rootPath, leafName(partitionCol, v)))
      .filter(fs.exists)
      .flatMap(p => ManifestTable.previousGen(spark, p.toString).toSeq
        .flatMap(g => ManifestTable.pathsFor(spark, p.toString, g)))
  }

  /**
   * The slow-reader recovery verb. Keep-one-back funds any scan that
   * completes within ONE maintenance cycle of its resolve; a scan delayed
   * past that (scheduler queueing behind the compactor's own jobs is the
   * common cause) can lose its files mid-flight and dies with
   * `FAILED_READ_FILE.FILE_NOT_EXIST`. The documented recovery is to
   * RE-PLAN — resolve the now-live generations and run again; because every
   * maintenance rewrite preserves each leaf's row multiset, the retried
   * result is identical, never partial and never double-counted.
   *
   * `body` must be the WHOLE resolve-and-act closure (e.g.
   * `retryingStaleScan() { bm25TopKFromIndex(...).collect() }`): retrying
   * an action on a DataFrame planned before the failure would reuse the
   * dead paths. Non-stale failures propagate immediately; stale failures
   * propagate once `attempts` is exhausted (a layout rewritten faster than
   * it can be scanned is a pacing bug, not a retry case).
   *
   * AS-OF reads are covered too (round 15): `readKeyedPrevious` /
   * `readKeyedAsOf` / the `*Previous` family resolve a RETAINED version at
   * plan time; a concurrent mutation or vacuum can retire that version
   * mid-scan — the version file itself is pruned (the connector's loud
   * `no retained index version`) or its unique files die under the reader
   * (`FAILED_READ_FILE`). Both classes are stale-scan failures healed
   * here, because the retried closure re-resolves against the now-live
   * retention window. The funding rule: a retained version's files live
   * EXACTLY until the version leaves the keep-N window — fund longer
   * audits by raising `graft.keepVersions` BEFORE the mutations.
   */
  def retryingStaleScan[T](attempts: Int = 3)(body: => T): T = {
    def stale(t: Throwable, depth: Int = 0): Boolean = t match {
      case null => false
      case _ if depth > 16 => false
      case _: java.io.FileNotFoundException => true
      case e: org.apache.spark.SparkException
          if Option(e.getMessage).exists(_.contains(
            "FAILED_READ_FILE.FILE_NOT_EXIST")) => true
      case e: java.util.NoSuchElementException
          if Option(e.getMessage).exists(_.contains(
            "no retained index version")) => true
      case _ => stale(t.getCause, depth + 1)
    }
    var left = math.max(1, attempts)
    while (true) {
      try return body
      catch { case t: Throwable if stale(t) && left > 1 => left -= 1 }
    }
    throw new IllegalStateException("unreachable")
  }
}
