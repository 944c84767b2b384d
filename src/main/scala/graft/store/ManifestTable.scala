package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/**
 * Manifest-pointer layout for an append-heavy plain parquet table — the
 * minimal metastore-free answer to "compact under concurrent readers"
 * (reference lifecycle: the HBase compactions behind `HbaseTable.scala`'s
 * store happen server-side and invisibly to scanners; a file-level engine
 * has to build the same invisibility itself):
 *
 * {{{
 *   <table>/MANIFEST.v<seq>  the live generation's dir name + a #commit
 *                            seal (fenced commit artifact; newest sealed
 *                            version wins, legacy un-suffixed MANIFEST
 *                            reads as version 0)
 *   <table>/gen-<n>/         parquet files of generation n
 *   <table>/gen-<n>/_RETAINS large files of OLDER generations this
 *                            snapshot keeps by reference (minor compaction)
 *   <table>/gen-<n>/_PARENT  the generation live when this one was written
 *                            (the exact undo-window pointer; "-" = none)
 * }}}
 *
 * Readers resolve the live generation through MANIFEST at PLANNING time and
 * then scan only that directory; writers append files into the live
 * generation; compaction writes the next generation COMPLETELY, swaps the
 * MANIFEST pointer, and only then retires old generations. The previous
 * generation is always RETAINED through one more cycle, so a plan that
 * resolved just before the swap keeps every file it listed:
 *
 *  - **Reader-concurrency contract**: any read is safe while at most ONE
 *    rewrite ([[compact]] or [[write]]) completes underneath it. A reader
 *    spanning TWO rewrites can lose its generation (the second retires it)
 *    — run back-to-back rewrites only when scans in flight at the first
 *    have drained. This is the documented lift of the old two-rename
 *    compactor's "not safe under concurrent readers at all".
 *  - **Crash safety**: every step leaves a readable table. A crash before
 *    the pointer commit leaves an orphaned next-generation dir (retired by
 *    the next rewrite); a crash INSIDE the commit leaves a torn (unsealed)
 *    pointer version that reads as absent — the previous version, or the
 *    resolver's fallback ("newest complete generation wins"), keeps
 *    serving; [[fsck]] sweeps the debris.
 *  - **Legacy interop**: a directory of flat parquet files (no MANIFEST)
 *    reads as generation-less; the first [[write]] migrates it to the
 *    manifest layout.
 *  - **Single maintainer, FENCED**: READERS are the concurrent party this
 *    layout protects; writers ([[write]]/[[append]]/[[compact]]) are still
 *    externally serialized by contract — and for REWRITE verbs a violated
 *    contract is LOUD, not lossy: the generation number is claimed
 *    create-exclusive before staging, and the pointer commit is
 *    create-exclusive plus parent-fenced (see the fenced-pointer block
 *    below), so of two racing rewrites exactly one commits and the other
 *    throws [[org.apache.spark.sql.graft.GraftConcurrentCommitException]]
 *    having applied nothing. The loud-not-lossy guarantee is SCOPED TO
 *    REWRITES: a plain [[append]] racing a rewrite is NOT fenced — the
 *    appended file lands in the old live generation after the rewrite
 *    snapshotted it and is retired a cycle later, silently. (A
 *    post-append liveness re-check cannot close this: when the rewrite's
 *    snapshot DID capture the appended files, the loud retry would
 *    double-append — trading silent loss for silent duplication.) Ingest
 *    loops that need a safe blind retry use [[appendTagged]] and keep
 *    rule 1 (one maintainer per table) for append-vs-rewrite ordering.
 */
object ManifestTable {
  private val ManifestName = "MANIFEST"
  private val GenPrefix = "gen-"
  private val ClaimPrefix = ".genclaim-"
  private val TagsName = CommitTags.TagsName
  private val StagePrefix = ".stage-"
  private val RetainsName = "_RETAINS"
  private val ParentName = "_PARENT"
  private val IncName = "_INC"
  private val CommittedName = "_COMMITTED"
  private val NoParent = "-"
  private val Sealed = "#commit"
  // retained-generation depth default (live + one undo step); the
  // `graft.keepVersions` session conf raises it on BOTH graft layouts
  private val KeepVersionsDefault = 2

  private def keepVersionsOf(spark: SparkSession): Int =
    org.apache.spark.sql.graft.GraftIndex.keepVersionsOf(spark)

  // ------------------------------------------------- fenced pointer commit
  // The MANIFEST pointer is VERSIONED (`MANIFEST.v<seq>`, newest parseable
  // wins; the legacy un-suffixed file reads as version 0) and committed via
  // create-exclusive — the same fenced protocol as GraftIndex.writeRanges:
  // two maintainers racing to the same seq produce exactly one winner, and
  // a commit whose planned parent generation is no longer live is fenced
  // off loudly (GraftConcurrentCommitException) instead of silently
  // regressing the pointer (which would strand the other maintainer's
  // acked generation for retire to delete). A version file missing its
  // `#commit` seal line is a torn commit: readers treat it as absent and
  // fall back, fsck sweeps it.

  private def manifestVersionFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Long, Path)] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).filter(_.isFile).map(_.getPath).toSeq.flatMap { p =>
      val n = p.getName
      if (n == ManifestName) Some(0L -> p)
      else if (n.startsWith(ManifestName + ".v"))
        scala.util.Try(n.stripPrefix(ManifestName + ".v").toLong).toOption.map(_ -> p)
      else None
    }.sortBy(_._1)
  }

  /** The newest PARSEABLE pointer: (version seq, generation name). Versioned
    * files require the seal line; the legacy v0 file is a bare gen name. */
  private def readPointer(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Option[(Long, String)] =
    manifestVersionFiles(fs, dir).reverse.view.flatMap { case (v, p) =>
      scala.util.Try {
        val in = fs.open(p)
        val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().map(_.trim).filter(_.nonEmpty).toList finally in.close()
        lines match {
          case gen :: rest if gen.startsWith(GenPrefix) &&
            (v == 0L || rest.headOption.contains(Sealed)) => Some(v -> gen)
          case _ => None
        }
      }.toOption.flatten
    }.headOption

  /** One rewrite attempt's claim on a generation: the dir name plus the
    * create-exclusive claim file's nonce. The nonce IS the attempt
    * identity and TRAVELS WITH THE PLAN — claim, stage, and commit may run
    * on different threads (the batched leaf verbs claim in one pooled pass
    * and commit in another), so it must never live in thread-keyed JVM
    * state (round-16 advisory: the thread-keyed nonce map broke every
    * >8-leaf batched rewrite on verify-after-write stores). */
  private[graft] final case class GenClaim(gen: String, nonce: String)

  /** Claim the next generation NUMBER with a create-exclusive marker file —
    * racing maintainers must never stage into the same generation dir (the
    * rename-into-existing-dir semantics of a shared name silently nest or
    * replace bytes). Crashed claims just skip a number: the next claim
    * counts them as used, and retire/fsck sweep them. */
  private[graft] def claimNextGen(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): GenClaim = {
    fs.mkdirs(dir): Unit
    val used = genDirs(fs, dir).map(genNum) ++ claimFiles(fs, dir).map(_._1)
    val name = f"$GenPrefix${used.maxOption.map(_ + 1).getOrElse(0)}%09d"
    // nonce body: on PUT-style stores where two racers pass the create
    // check, writeCommitFile's verify read convicts the replaced claim —
    // the loser throws instead of staging into the winner's gen dir. The
    // nonce is returned so [[commit]] can re-verify ownership after the
    // (long) staging phase: a racer whose claim PUT landed inside the
    // μs-wide claim-verify window is still caught before publishing.
    val nonce = java.util.UUID.randomUUID().toString
    org.apache.spark.sql.graft.GraftIndex.writeCommitFile(
      fs, new Path(dir, ClaimPrefix + name), nonce.getBytes("UTF-8"))
    GenClaim(name, nonce)
  }

  // staged-generation attempt sentinel (round-15 advisory): on a PUT store
  // two racers whose claim PUTs land inside each other's verify windows
  // both stage into the SAME gen dir via mode("overwrite") — the claim
  // re-check convicts the one whose claim file was replaced, but nothing
  // validated the staged BYTES. Every staging verb stamps its claim nonce
  // into <gen>/_ATTEMPT as its LAST staging write; commit() re-reads it on
  // verify-after-write stores, so a commit can no longer publish a rival's
  // (possibly still-writing) staged content.
  private val AttemptName = "_ATTEMPT"
  private[graft] def stampStaged(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      claim: GenClaim): Unit = {
    val out = fs.create(new Path(new Path(dir, claim.gen), AttemptName), true)
    try out.write(claim.nonce.getBytes("UTF-8")) finally out.close()
  }
  private def stagedAttemptMatches(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, gen: String, nonce: String): Boolean = {
    val p = new Path(new Path(dir, gen), AttemptName)
    // absent = external/legacy staging that never stamped — not a verdict
    !fs.exists(p) || scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }.toOption.contains(nonce)
  }

  /** Whether the attempt holding `claim` still owns its claim file: the
    * claim body equals the attempt's nonce. False when the body differs —
    * a racer's claim PUT replaced ours on a non-atomic-create store — AND
    * when the claim file is GONE: this attempt did not release it, so a
    * racer stole the claim and already committed (its commit deleted the
    * claim). Either way the staged gen dir may be SHARED — or already be
    * the racer's LIVE generation — and must not be published or deleted by
    * this attempt (fsck owns the debris). */
  private def claimOwned(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      claim: GenClaim): Boolean = {
    val p = new Path(dir, ClaimPrefix + claim.gen)
    if (!fs.exists(p)) false // we never released it: stolen-and-committed
    else scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }.toOption.contains(claim.nonce)
  }

  /** Commit, and on a FENCED loss delete this attempt's own staged
    * generation and claim before rethrowing — a loser leaves nothing
    * behind (crash-before-commit debris still waits for fsck). Only for
    * generations whose content is reproducible by a retry (every rewrite
    * verb); migrateFlatDir commits raw — its generation holds the renamed
    * ORIGINALS. */
  private def commitOrCleanup(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      claim: GenClaim, parent: Option[String]): Unit =
    try commit(fs, dir, claim.gen, parent, Some(claim)) catch {
      case e: org.apache.spark.sql.graft.GraftConcurrentCommitException =>
        // sweep our staging ONLY while we still own the claim: after a
        // stolen claim (non-atomic-create store) the gen dir may hold the
        // RACER's staged bytes — deleting it here would vaporize a commit
        // the racer is about to (or already did) publish
        if (!org.apache.spark.sql.graft.GraftIndex.verifyAfterWrite(fs) ||
            claimOwned(fs, dir, claim)) {
          fs.delete(new Path(dir, claim.gen), true)
          fs.delete(new Path(dir, ClaimPrefix + claim.gen), false)
        }
        throw e
    }

  private def claimFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Int, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).filter(_.isFile).map(_.getPath).toSeq.flatMap { p =>
      val n = p.getName
      if (!n.startsWith(ClaimPrefix)) None
      else scala.util.Try(
        n.stripPrefix(ClaimPrefix).stripPrefix(GenPrefix).toInt).toOption.map(_ -> p)
    }

  // ------------------------------------------------ generation metadata
  // A generation dir may carry two underscore files (invisible to parquet
  // scans, like _SUCCESS):
  //   _RETAINS  table-relative paths ("gen-<n>/<file>") of LARGE data files
  //             in OLDER generation dirs that belong to this generation's
  //             snapshot — written by [[minorCompact]] so a small-file merge
  //             never copies the accumulated big files (maintenance cost is
  //             O(debris), not O(table) — the LSM/HBase minor-compaction
  //             economics). Generations referenced here are protected from
  //             retire/vacuum for as long as a kept generation names them.
  //   _PARENT   the generation that was live when this one was written —
  //             the EXACT undo-window pointer ("-" = none). Without it,
  //             "largest gen < live" misreports the undo window once
  //             retained generations outlive their keep-one-back cycle.
  // Both are written into the new generation BEFORE the MANIFEST swap, so
  // the crash-heal fallback (newest complete generation wins) recovers the
  // full snapshot, retained files included.

  private def readMetaLines(fs: org.apache.hadoop.fs.FileSystem,
      genPath: Path, name: String): Option[Seq[String]] = {
    val p = new Path(genPath, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList)
      finally in.close()
    }
  }

  private def writeMetaLines(fs: org.apache.hadoop.fs.FileSystem,
      genPath: Path, name: String, lines: Seq[String]): Unit = {
    val out = fs.create(new Path(genPath, name), true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Table-relative paths of the large files generation `gen` retains from
    * older generations (empty unless a [[minorCompact]] produced it). */
  private def retainedRelFs(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      gen: String): Seq[String] =
    readMetaLines(fs, new Path(dir, gen), RetainsName).getOrElse(Nil)

  private[store] def retainedRel(spark: SparkSession, table: String,
      gen: String): Seq[String] = {
    val (fs, dir) = fsOf(spark, table)
    retainedRelFs(fs, dir, gen)
  }

  /** The live snapshot's data-file paths, absolute — the file-set view of
    * [[snapshotFingerprint]] (same listing, unhashed). Lets a caller that
    * appends to the table identify exactly which files a just-committed
    * batch added (post-set minus pre-set) and audit them, e.g. against an
    * Observation's row count (the round-19 additive-stats drift guard).
    * Empty on a flat/absent layout. */
  private[graft] def liveSnapshotPaths(spark: SparkSession,
      table: String): Set[String] = {
    val (fs, dir) = fsOf(spark, table)
    liveGen(spark, table) match {
      case Some(live) =>
        snapshotFiles(fs, dir, live).map(p => new Path(dir, p._1).toString).toSet
      case None => Set.empty
    }
  }

  /** Content fingerprint of the live snapshot — the generation name plus
    * every data file's (relative path, length), md5-hashed. Two reads of an
    * unchanged table fingerprint identically; any append/rewrite/drain
    * changes it (appends add files to the live dir, rewrites swap the
    * generation). Pure fs metadata (one listing). None on a flat/absent
    * layout — callers fall back to recomputing whatever the fingerprint
    * would have gated. Powers the round-18 derived-sidecar skip (see
    * [[writeDerivedFrom]]). */
  private[graft] def snapshotFingerprint(spark: SparkSession,
      table: String): Option[String] = {
    val (fs, dir) = fsOf(spark, table)
    liveGen(spark, table).map { live =>
      val parts = snapshotFiles(fs, dir, live).sortBy(_._1)
        .map { case (p, len) => s"$p:$len" }
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update((live +: parts).mkString("\n").getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }
  }

  private val DerivesName = "_DERIVES"

  /** Stamp the DERIVED table's live generation with the SOURCE snapshot
    * fingerprint it was computed from (round-18 optimization): a derived
    * sidecar rewrite (e.g. BM25 stats ≡ aggregate(docs)) that would
    * recompute from an UNCHANGED source can skip the Spark job entirely —
    * the retry/replay convergence paths pay one fs listing instead of a
    * read-aggregate-write cycle. Written AFTER the derived generation
    * commits: a crash between commit and stamp just loses the skip (the
    * next rewrite recomputes), never correctness. */
  private[graft] def writeDerivedFrom(spark: SparkSession, table: String,
      sourceFp: String): Unit = {
    val (fs, dir) = fsOf(spark, table)
    liveGen(spark, table).foreach(g =>
      writeMetaLines(fs, new Path(dir, g), DerivesName, Seq(sourceFp)))
  }

  /** The source fingerprint the live generation recorded at write time
    * ([[writeDerivedFrom]]); None when never stamped (pre-round-18
    * generations, crash between commit and stamp, flat layouts). */
  private[graft] def readDerivedFrom(spark: SparkSession,
      table: String): Option[String] = {
    val (fs, dir) = fsOf(spark, table)
    liveGen(spark, table)
      .flatMap(g => readMetaLines(fs, new Path(dir, g), DerivesName))
      .flatMap(_.headOption)
  }

  /** Every path a scan of generation `gen` must open: its dir plus any
    * retained files. */
  private[store] def pathsFor(spark: SparkSession, table: String,
      gen: String): Seq[String] =
    s"$table/$gen" +: retainedRel(spark, table, gen).map(r => s"$table/$r")

  /** The generation dirs a kept generation set pins: themselves plus every
    * generation a kept `_RETAINS` references (direct references only —
    * retain lists are carried forward verbatim, never chained). */
  private def protectedGens(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      keepDirect: Set[String]): Set[String] =
    keepDirect ++ keepDirect.flatMap(g =>
      retainedRelFs(fs, dir, g).map(_.takeWhile(_ != '/')))

  // ------------------------------------------------- table incarnations
  // An INCARNATION is the span of table history between overwrites: [[write]]
  // (and [[migrateFlatDir]]) mint a fresh `_INC` id into the generation they
  // commit; every in-place rewrite ([[compact]]/[[minorCompact]]/
  // [[commitStagedGen]]) carries the live generation's id forward; appends
  // land inside the live one. Tagged-append commit markers are STAMPED with
  // the incarnation the batch landed in (CommitTags `<tok>.<inc>`), which
  // closes the round-17 rollback straddle: a [[rollbackTo]] across a
  // [[write]] boundary restores an old incarnation, and a blind tagged retry
  // there finds its OWN incarnation's marker and no-ops instead of
  // re-appending a batch whose rows that incarnation already holds.
  // Generations without `_INC` (pre-round-18) read as incarnation "" and
  // keep the legacy contract (plain markers, cleared at overwrite).

  private def incarnationOf(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      gen: String): String =
    readMetaLines(fs, new Path(dir, gen), IncName)
      .flatMap(_.headOption).getOrElse("")

  private def mintInc(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** An overwrite clears PLAIN (incarnation-unknown) tag markers — the
    * legacy contract: a stale retry of a pre-overwrite batch re-appends
    * into the fresh content rather than silently skipping. Stamped markers
    * stay: they no-op only in their own incarnation (the straddle guard)
    * and are pruned by [[pruneStaleTags]] once no on-disk generation
    * carries their incarnation. */
  private def clearPlainTags(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit = {
    val f = new Path(dir, TagsName)
    if (!fs.exists(f)) return
    if (fs.getFileStatus(f).isFile) { fs.delete(f, false): Unit; return }
    fs.listStatus(f).filter(_.isFile).map(_.getPath)
      .filterNot(_.getName.contains('.')).foreach(fs.delete(_, false))
  }

  /** Drop stamped tag markers whose incarnation no generation on disk
    * carries any more: [[rollbackTo]] requires an extant generation dir, so
    * such a marker can never match a future live incarnation — pure ledger
    * GC, run after retire/vacuum. Plain markers are never pruned here. */
  private def pruneStaleTags(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit = {
    val f = new Path(dir, TagsName)
    if (!fs.exists(f) || fs.getFileStatus(f).isFile) return
    val liveIncs = genDirs(fs, dir)
      .map(g => incarnationOf(fs, dir, g)).filter(_.nonEmpty).toSet
    fs.listStatus(f).filter(_.isFile).map(_.getPath).foreach { p =>
      val i = p.getName.indexOf('.')
      if (i >= 0 && !liveIncs.contains(p.getName.substring(i + 1)))
        fs.delete(p, false): Unit
    }
  }

  // ------------------------------------------------- append schema guard

  /** Column order, name case, nullability and field metadata don't matter
    * to a parquet append (files are read by name); names and types do. */
  private def normType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.sortBy(_.name.toLowerCase)
        .map(f => StructField(f.name.toLowerCase, normType(f.dataType))))
      case a: ArrayType => ArrayType(normType(a.elementType))
      case m: MapType => MapType(normType(m.keyType), normType(m.valueType))
      case d => d
    }
  }

  private def colMap(s: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] =
    s.fields.map(f => f.name.toLowerCase -> normType(f.dataType)).toMap

  /** None when `batch` can append into a table of schema `live`; otherwise
    * a human-readable account of the drift. */
  private[store] def schemaDrift(batch: org.apache.spark.sql.types.StructType,
      live: org.apache.spark.sql.types.StructType): Option[String] = {
    val b = colMap(batch); val l = colMap(live)
    val missing = l.keySet -- b.keySet
    val extra = b.keySet -- l.keySet
    val retyped = (b.keySet & l.keySet).filter(k => b(k) != l(k))
      .map(k => s"$k: ${l(k).catalogString} -> ${b(k).catalogString}")
    if (missing.isEmpty && extra.isEmpty && retyped.isEmpty) None
    else Some(Seq(
      if (missing.nonEmpty) Some(s"missing=${missing.toSeq.sorted.mkString(",")}") else None,
      if (extra.nonEmpty) Some(s"new=${extra.toSeq.sorted.mkString(",")}") else None,
      if (retyped.nonEmpty) Some(s"retyped=${retyped.toSeq.sorted.mkString(",")}") else None
    ).flatten.mkString("; "))
  }

  /** Appends are schema-checked against the live generation: a drifted
    * batch is REJECTED loudly before anything is written. Without this the
    * append succeeds and the damage surfaces later and silently — a plain
    * read infers its schema from one footer, so the drifted column is
    * dropped or the whole scan dies, depending on file listing order.
    * Schema changes go through [[write]] or [[compact]]'s transform (a
    * rewrite that touches every row), never through append. Skipped when
    * the live generation's schema is unreadable (no files yet). */
  private[store] def assertAppendSchema(df: DataFrame, liveDir: String,
      what: String): Unit =
    inferredSchema(df.sparkSession, liveDir)
      .flatMap(live => schemaDrift(df.schema, live))
      .foreach(drift => throw new IllegalArgumentException(
        s"schema drift on append to $what: $drift. Appends must match the " +
          "live generation's columns (order/case/nullability-insensitive); " +
          "evolve the schema through a rewrite (write, or compact with a " +
          "transform), not an append."))

  /** The schema `spark.read.parquet(dir)` infers, read on the driver with
    * no Spark job: Spark's rule without `mergeSchema` takes the footer of
    * the first data file in path order (names starting with `_` or `.`
    * are hidden, as in its file listing), and this reads the writer's
    * row-metadata schema from that one footer
    * ([[org.apache.spark.sql.graft.GraftIndex.footerSchema]]). A footer
    * without row metadata (a foreign writer) falls back to Spark's own
    * inference. None when `dir` holds no data file. */
  private def inferredSchema(spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val (fs, root) = fsOf(spark, dir)
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")
    def leaves(p: Path): Seq[Path] = fs.listStatus(p).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s.getPath))
    scala.util.Try(leaves(root)).toOption.flatMap(_.minByOption(_.toString))
      .flatMap { first =>
        org.apache.spark.sql.graft.GraftIndex.footerSchema(first.getParent,
            cachedConf(spark), Seq(first.getName))
          .orElse(scala.util.Try(spark.read.parquet(dir).schema).toOption)
      }
  }

  // one hadoop conf per session: `sessionState.newHadoopConf()` CLONES the
  // full configuration on every call (~ms) — at thousands of per-leaf
  // metadata ops per maintenance pass the clones dominate wall time
  // (MaintainScaleProbe). Hadoop-conf changes made mid-session after the
  // first graft metadata op are not picked up; set them before.
  // weak keys: a stopped session (test suites create many) must not pin its
  // cloned Configuration for the JVM's life
  private val confCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, org.apache.hadoop.conf.Configuration]())

  private[store] def cachedConf(spark: SparkSession)
      : org.apache.hadoop.conf.Configuration =
    confCache.computeIfAbsent(spark, s => s.sessionState.newHadoopConf())

  private def fsOf(spark: SparkSession, table: String): (org.apache.hadoop.fs.FileSystem, Path) = {
    val p = new Path(table)
    (p.getFileSystem(cachedConf(spark)), p)
  }

  private def genDirs(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(GenPrefix)).toSeq.sorted

  private def genNum(name: String): Int = name.stripPrefix(GenPrefix).toInt

  /** The live generation dir name: MANIFEST if present, else the newest
    * complete generation (the crash-heal fallback), else None (legacy flat
    * layout or absent table). */
  def liveGen(spark: SparkSession, table: String): Option[String] = {
    val (fs, dir) = fsOf(spark, table)
    readPointer(fs, dir).map(_._2)
      .filter(g => fs.exists(new Path(dir, g)))
      .orElse {
        // crash-heal fallback: newest generation wins — excluding any gen
        // whose claim marker is extant (claims are deleted at commit, so an
        // extant claim means mid-staging or never-committed debris)
        val claimed = claimFiles(fs, dir).map(_._1).toSet
        genDirs(fs, dir).filterNot(g => claimed(genNum(g))).lastOption
      }
  }

  /** The path a reader should scan: the live generation dir, or the table
    * dir itself for a legacy flat layout. NOTE: after a [[minorCompact]]
    * the live snapshot is this dir PLUS retained files — full-snapshot
    * readers must use [[resolvePaths]]; this single path stays correct for
    * schema probes and appends (which land in the live dir). */
  def resolve(spark: SparkSession, table: String): String =
    liveGen(spark, table).map(g => s"$table/$g").getOrElse(table)

  /** Every path the live snapshot spans: the live generation dir plus any
    * files it retains in older generations ([[minorCompact]]); just the
    * table dir for a legacy flat layout. This is THE read-path resolver —
    * hand the whole Seq to one multi-path parquet read. */
  def resolvePaths(spark: SparkSession, table: String): Seq[String] =
    liveGen(spark, table) match {
      case Some(g) => pathsFor(spark, table, g)
      case None => Seq(table)
    }

  def exists(spark: SparkSession, table: String): Boolean = {
    val (fs, dir) = fsOf(spark, table)
    fs.exists(dir)
  }

  /** Read the live snapshot (or the legacy flat files). */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(resolvePaths(spark, table): _*)

  /** Generation dir names present on disk, oldest → newest (normally the
    * live one plus the keep-one-back predecessor; orphans from interrupted
    * rewrites may appear until the next rewrite sweeps them). */
  def generations(spark: SparkSession, table: String): Seq[String] = {
    val (fs, dir) = fsOf(spark, table)
    if (!fs.exists(dir)) Nil else genDirs(fs, dir)
  }

  /** The UNDO WINDOW: the generation that was live before the last rewrite
    * ([[write]]/[[compact]]), which keep-one-back retains through exactly
    * one cycle. None when no rewrite has happened this incarnation, after
    * [[vacuum]]`(keepPrevious = false)`, or on a flat/absent table.
    * Orphaned newer-than-live generations (crash before a swap) are not
    * the undo window and are never returned. */
  def previousGen(spark: SparkSession, table: String): Option[String] =
    genBack(spark, table, 1)

  /** The generation live `back` rewrites ago — the arbitrary-depth undo
    * pointer, resolved by walking `_PARENT` links from the live generation.
    * Depth is funded by `graft.keepVersions` (set BEFORE the rewrites whose
    * history you want); None once the chain leaves what retire/vacuum kept. */
  def genBack(spark: SparkSession, table: String, back: Int): Option[String] = {
    require(back >= 1, "back must be >= 1 (1 = just before the last rewrite)")
    liveGen(spark, table).flatMap { live =>
      val (fs, dir) = fsOf(spark, table)
      var cur = live
      var i = 0
      while (i < back) {
        readMetaLines(fs, new Path(dir, cur), ParentName)
          .map(_.headOption.getOrElse(NoParent)) match {
          case Some(NoParent) => return None // incarnation start: no further
          case Some(parent) => // exact pointer; gone once retired/vacuumed
            if (!fs.exists(new Path(dir, parent))) return None
            cur = parent
          case None => // legacy generation (pre-_PARENT): positional fallback
            generations(spark, table).filter(_ < cur).lastOption match {
              case Some(g) => cur = g
              case None => return None
            }
        }
        i += 1
      }
      Some(cur)
    }
  }

  /** The `_PARENT` ancestor chain of `start`, nearest first, existing dirs
    * only, at most `depth` links — the keep-N retention set's spine. */
  private def parentChain(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      start: String, depth: Int): List[String] =
    if (depth <= 0) Nil
    else readMetaLines(fs, new Path(dir, start), ParentName)
      .flatMap(_.headOption).filter(_ != NoParent)
      .filter(g => fs.exists(new Path(dir, g))) match {
      case Some(p) => p :: parentChain(fs, dir, p, depth - 1)
      case None => Nil
    }

  /** Read the table as of just BEFORE the last rewrite — the audit/undo
    * view funded by keep-one-back: a retention prune or takedown rewrite
    * stays reversible until the NEXT rewrite retires this generation.
    * Appends land in the live generation, so the previous generation is a
    * genuine point-in-time snapshot: it also excludes rows appended since
    * the rewrite. None when no undo window exists ([[previousGen]]). */
  def readPrevious(spark: SparkSession, table: String,
      back: Int = 1): Option[DataFrame] =
    genBack(spark, table, back).map(g =>
      spark.read.parquet(pathsFor(spark, table, g): _*))

  /** Read a RETAINED generation by name ([[generations]] lists them) —
    * as-of within the keep-N window; None once retired/vacuumed. Retained
    * by-reference files resolve like any snapshot read. */
  def readAsOf(spark: SparkSession, table: String,
      gen: String): Option[DataFrame] = {
    val (fs, dir) = fsOf(spark, table)
    Some(gen).filter(g => g.startsWith(GenPrefix) && fs.exists(new Path(dir, g)))
      .map(g => spark.read.parquet(pathsFor(spark, table, g): _*))
  }

  /** Point the manifest at `gen` — the FENCED commit point of every rewrite
    * (see the pointer-commit block comment above). `parent` is the
    * generation the rewrite planned from (None = planned against no live
    * pointer): if the pointer has moved since, the commit is fenced off
    * LOUDLY before publishing — the loser's staged generation stays behind
    * as an orphan for retire/fsck to sweep, and its caller retries from
    * fresh state. Re-committing the already-live generation is allowed
    * (fsck's durable heal). `claim` is this attempt's claim token when the
    * caller claimed the generation ([[claimNextGen]]) — it funds the
    * stolen-claim and staged-bytes re-checks on verify-after-write stores;
    * None means a claimless re-commit (fsck's heal of an already-complete
    * generation), where claim handling is not this attempt's concern. */
  private[graft] def commit(fs: org.apache.hadoop.fs.FileSystem, dir: Path, gen: String,
      parent: Option[String], claim: Option[GenClaim] = None): Unit = {
    import org.apache.spark.sql.graft.{GraftConcurrentCommitException, GraftIndex}
    // inline self-heal (round 15): torn pointer versions (above the newest
    // parseable one) OLDER than the debris lease are crash debris — a live
    // commit writes its file in one small write+close — so sweep them here
    // and keep routine crash recovery automatic; YOUNGER torn versions
    // still fence loudly below (may be a maintainer mid-commit)
    val lease = fs.getConf.getLong(GraftIndex.DebrisLeaseConf,
      GraftIndex.DebrisLeaseDefaultMs)
    val pointerSeq0 = readPointer(fs, dir).map(_._1).getOrElse(0L)
    manifestVersionFiles(fs, dir).filter(_._1 > pointerSeq0).foreach {
      case (_, p) =>
        if (System.currentTimeMillis() -
            fs.getFileStatus(p).getModificationTime > lease)
          fs.delete(p, false): Unit
    }
    val versions = manifestVersionFiles(fs, dir)
    val newestSeq = versions.lastOption.map(_._1).getOrElse(0L)
    val pointer = readPointer(fs, dir)
    // a newest version file that does not parse is a maintainer mid-commit
    // or fresh torn debris — refuse loudly either way (fsck sweeps debris;
    // debris older than the lease already self-healed above)
    if (pointer.map(_._1).getOrElse(0L) != newestSeq)
      throw new GraftConcurrentCommitException(
        s"ManifestTable: unsealed manifest version under $dir — a " +
          "concurrent maintainer is mid-commit, or a crashed commit left " +
          "debris (run ManifestTable.fsck, or wait out " +
          s"${GraftIndex.DebrisLeaseConf}, then retry)")
    // OCC fence: the generation live NOW must be the one this rewrite
    // planned from (or the pointer must not exist yet / point at debris)
    pointer.map(_._2).filter(g => fs.exists(new Path(dir, g))).foreach { cur =>
      if (cur != gen && !parent.contains(cur))
        throw new GraftConcurrentCommitException(
          s"ManifestTable: pointer commit fenced off at $dir — this rewrite " +
            s"planned from generation ${parent.getOrElse("<none>")} but " +
            s"$cur is now live: a concurrent maintainer committed in " +
            "between; nothing was applied (retry from fresh state)")
    }
    // claim-ownership re-check (non-atomic-create stores only): a racer
    // whose claim PUT landed inside claimNextGen's claim-verify window has
    // been sharing this staged gen dir — catch it HERE, where the whole
    // staging duration separates the claim from the commit, and publish
    // nothing (the dir may hold the racer's bytes)
    if (GraftIndex.verifyAfterWrite(fs)) claim.foreach { c =>
      if (!claimOwned(fs, dir, c))
        throw new GraftConcurrentCommitException(
          s"ManifestTable: claim for $gen at $dir was overwritten by a " +
            "concurrent maintainer (non-atomic-create store) — the staged " +
            "generation may be shared; this commit was fenced off and " +
            "applied nothing (serialize the maintainers and retry)")
      // staged-bytes ownership: the last staging write stamped this
      // attempt's nonce into the gen dir — a rival that re-staged the same
      // dir (shared-claim sub-case) replaced the stamp and is caught here
      if (!stagedAttemptMatches(fs, dir, gen, c.nonce))
        throw new GraftConcurrentCommitException(
          s"ManifestTable: staged generation $gen at $dir holds a rival " +
            "attempt's bytes (the _ATTEMPT stamp does not match this " +
            "claim's nonce) — two maintainers staged into one generation " +
            "dir on a non-atomic-create store; this commit was fenced off " +
            "and applied nothing (serialize the maintainers and retry)")
    }
    // third line = attempt-unique nonce (readers tolerate trailing lines):
    // on non-atomic-create stores the verify read inside writeCommitFile
    // convicts a racer that replaced this pointer, and the loser throws
    // here — before pruning or claim release (commitOrCleanup then sweeps
    // the loser's own staged generation)
    GraftIndex.writeCommitFile(fs, new Path(dir, s"$ManifestName.v${newestSeq + 1}"),
      (gen + "\n" + Sealed + "\n" + java.util.UUID.randomUUID() + "\n")
        .getBytes("UTF-8"))
    // durable committed-generation record (round 18): written only AFTER the
    // pointer publish succeeds, so a marked generation WAS live at some
    // point — [[fsck]] uses it to tell a rollback's redo window (once-live,
    // newer than live) from never-committed crash debris and retain it.
    // Idempotent re-commits (rollbackTo, fsck's heal) find it extant.
    val committedMark = new Path(new Path(dir, gen), CommittedName)
    if (!fs.exists(committedMark)) fs.create(committedMark, true).close()
    // prune pointer history: keep this commit plus one back (the pointer is
    // not the undo mechanism — generations and _PARENT are)
    versions.dropRight(1).foreach(v => fs.delete(v._2, false))
    // the committed generation's claim has served: an extant claim means
    // "possibly uncommitted" to the resolver fallback and the sweeps
    fs.delete(new Path(dir, ClaimPrefix + gen), false): Unit
  }

  /** Retire every generation except `live` and the generation that was
    * live just before it — the keep-one-back discipline that funds the
    * reader-concurrency contract. Orphaned generations from interrupted
    * rewrites (written but never committed) are swept here too, as are
    * MANIFEST/TAGS tmp files from interrupted commits and stage dirs left
    * by interrupted [[appendTagged]] attempts (maintenance ops are
    * externally serialized, so any stage dir visible here is dead). */
  private def retire(fs: org.apache.hadoop.fs.FileSystem, dir: Path, live: String,
      prevLive: Option[String], keepN: Int = KeepVersionsDefault): Unit = {
    // keep-N: the live generation plus up to keepN-1 _PARENT ancestors (the
    // keep-one-back default is keepN = 2); prevLive rides along as the
    // explicit first ancestor for generations without a _PARENT yet
    val keep = protectedGens(fs, dir,
      Set(live) ++ prevLive ++ parentChain(fs, dir, live, keepN - 1))
    // any generation whose claim file is still extant may be a maintainer
    // mid-staging — a race this sweep must not escalate from loud-at-commit
    // to bytes-deleted-mid-write. (The claimed number can sit BELOW live:
    // the racer claimed first but the winner committed first.) Claims are
    // deleted only by their owner at commit, by the fenced loser's own
    // cleanup, or by fsck; so are the gens they shield.
    val claimed = claimFiles(fs, dir).map(_._1).toSet
    genDirs(fs, dir).filterNot(keep)
      .filterNot(g => claimed(genNum(g)))
      .foreach(g => fs.delete(new Path(dir, g), true))
    fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(StagePrefix) ||
        p.getName.startsWith(TagsName + ".tmp-"))
      .foreach(fs.delete(_, true))
    fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.startsWith(ManifestName + ".tmp-") ||
        p.getName.startsWith(TagsName + ".tmp-"))
      .foreach(fs.delete(_, false))
    // claims are NEVER swept here: an extant claim may shield a maintainer
    // mid-staging (owner deletes it at commit / fenced-loser cleanup; fsck
    // sweeps crash-orphaned ones under its no-writer-in-flight contract)
  }

  /** Overwrite the table: write a fresh generation, swap, retire older
    * generations (keeping the previous live one for in-flight readers).
    * Migrating a legacy flat layout drops its flat data files — write has
    * always meant overwrite. Starts a new table INCARNATION (a fresh `_INC`
    * id in the new generation): a stale tagged retry of a pre-overwrite
    * batch re-appends rather than silently skipping — its marker is stamped
    * with the OLD incarnation (plain pre-round-18 markers are cleared here
    * instead) — while a retry after a later [[rollbackTo]] BACK into that
    * old incarnation finds the stamped marker and correctly no-ops (the
    * round-17 straddle window, closed). */
  def write(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val (fs, dir) = fsOf(spark, table)
    val prevLive = liveGen(spark, table)
    val next = claimNextGen(fs, dir)
    df.write.mode("overwrite").parquet(s"$table/${next.gen}")
    writeMetaLines(fs, new Path(dir, next.gen), ParentName,
      Seq(prevLive.getOrElse(NoParent)))
    writeMetaLines(fs, new Path(dir, next.gen), IncName, Seq(mintInc()))
    stampStaged(fs, dir, next)
    // legacy flat data files (pre-manifest layout) are superseded by this
    // overwrite; MANIFEST does not exist yet in that case, so no reader
    // resolves to them after the commit below.
    fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filter(p => !p.getName.startsWith(ManifestName) &&
        !p.getName.startsWith(".") && !p.getName.startsWith("_"))
      .foreach(fs.delete(_, false))
    // incarnation-unknown tag markers clear at an overwrite (see scaladoc);
    // stamped ones survive as the rollback-straddle proof. The clear runs
    // BEFORE the pointer commit: a fenced failure here leaves plain
    // markers gone while the old content stays live, so a tagged retry of
    // a pre-round-18 batch would re-append — covered by the
    // single-maintainer contract (the failed write() is LOUD to the one
    // maintainer; serialize tagged retries behind it). The reverse
    // ordering's window is strictly worse: commit-then-clear crashing
    // between the two leaves plain markers claiming epochs the fresh
    // content LACKS — silent loss instead of loud duplication.
    clearPlainTags(fs, dir)
    commitOrCleanup(fs, dir, next, prevLive)
    retire(fs, dir, next.gen, prevLive, keepVersionsOf(spark))
    // stamped markers whose incarnation no retained generation carries are
    // unreachable by any rollback — GC the ledger
    pruneStaleTags(fs, dir)
  }

  /** Append into the live generation — the ingest-loop fast path: one more
    * parquet file set lands next to the existing ones, no manifest churn.
    * On a legacy flat layout (or an absent table) this establishes the
    * manifest layout first. */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    liveGen(spark, table) match {
      case Some(g) =>
        assertAppendSchema(df, s"$table/$g", table)
        df.write.mode("append").parquet(s"$table/$g")
      case None =>
        val (fs, dir) = fsOf(spark, table)
        if (fs.exists(dir) && fs.listStatus(dir).exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet"))) {
          // legacy flat layout: append in place, stay generation-less
          assertAppendSchema(df, table, table)
          df.write.mode("append").parquet(table)
        } else write(df, table)
    }
  }

  // ------------------------------------------------------- tagged appends

  /** Has a [[appendTagged]] with this tag fully committed IN THE LIVE
    * incarnation? (An overwrite via [[write]] starts a new incarnation —
    * old batches read as uncommitted there and a retry re-appends; a
    * [[rollbackTo]] back into the batch's own incarnation reads it as
    * committed again, so a straddling retry loop no-ops instead of
    * duplicating.) */
  def hasTag(spark: SparkSession, table: String, tag: String): Boolean = {
    val (fs, dir) = fsOf(spark, table)
    val inc = liveGen(spark, table)
      .map(g => incarnationOf(fs, dir, g)).getOrElse("")
    CommitTags.readStamped(fs, dir).get(CommitTags.token(tag))
      .exists(incs => incs.contains("") || incs.contains(inc))
  }

  /**
   * Idempotent append: the batch-log pattern (a commit marker per logical
   * batch, the discipline Spark's own file-stream sink uses) on top of the
   * manifest layout. Returns false — and writes NOTHING — when `tag` has
   * already committed, so a blind retry of a crashed caller is exact:
   *
   *  1. already-committed tag → no-op (return false);
   *  2. otherwise SWEEP any `tag-<md5(tag)>-*` files a previous attempt
   *     moved into the live generation (a crash mid-append or between the
   *     file moves and the TAGS commit);
   *  3. write the batch to a stage dir, move each file into the live
   *     generation under the tag prefix, commit the tag.
   *
   * Every crash window heals on retry: partial stage writes and partially
   * moved files are swept by step 2; a committed-but-untagged append is
   * swept and rewritten (same rows). A reader planning DURING the file
   * moves can see a prefix of the batch — the same visibility a plain
   * [[append]] always had. The retry must happen before any OTHER
   * maintenance op on the table (the single-maintainer contract): a
   * compaction folds tagged files into anonymous generation rows, after
   * which the sweep can no longer identify a partial attempt's rows.
   */
  def appendTagged(df: DataFrame, table: String, tag: String): Boolean = {
    val spark = df.sparkSession
    val (fs, dir) = fsOf(spark, table)
    val tok = CommitTags.token(tag)
    // committed check is INCARNATION-aware (round 18): a plain marker
    // (layout/legacy) commits in any incarnation; a stamped one only in its
    // own. The stamp is what makes a retry loop straddling a rollback exact:
    // rolled back INTO the batch's incarnation → marker matches → no-op
    // (the rows are in that generation, possibly folded by a compaction);
    // rolled forward past a write() → fresh incarnation → re-append (the
    // overwrite replaced the content).
    def committedIn(inc: String): Boolean =
      CommitTags.readStamped(fs, dir).get(tok)
        .exists(incs => incs.contains("") || incs.contains(inc))
    liveGen(spark, table) match {
      case Some(g) => if (committedIn(incarnationOf(fs, dir, g))) return false
      case None =>
        if (committedIn("")) return false
        if (fs.exists(dir) && fs.listStatus(dir).exists(s =>
            s.isFile && s.getPath.getName.endsWith(".parquet")))
          compact(spark, table) // migrate a legacy flat layout first
        else write(df.limit(0), table) // establish an empty generation
    }
    val gen = liveGen(spark, table).get
    val genPath = new Path(dir, gen)
    assertAppendSchema(df, genPath.toString, table)
    val prefix = s"tag-$tok-"
    if (fs.exists(genPath))
      fs.listStatus(genPath).map(_.getPath)
        .filter(_.getName.startsWith(prefix)).foreach(fs.delete(_, false))
    val stage = new Path(dir, StagePrefix + tok)
    fs.delete(stage, true)
    df.write.mode("overwrite").parquet(stage.toString)
    // independent driver-side renames: move them through a bounded pool so
    // a wide append is not serialized on per-file fs round-trips
    val staged = fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, staged.length)))
    val futures = staged.map { p =>
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit =
          if (!fs.rename(p, new Path(genPath, prefix + p.getName)))
            throw new java.io.IOException(
              s"ManifestTable: cannot move $p into $genPath")
      })
    }
    val outcomes = futures.map(f => scala.util.Try(f.get()))
    pool.shutdown()
    pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS): Unit
    outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    fs.delete(stage, true)
    // stamped with the incarnation the batch landed in — see committedIn
    CommitTags.add(fs, dir, tok, incarnationOf(fs, dir, gen))
    true
  }

  /**
   * Migrate a flat parquet directory to the manifest layout WITHOUT
   * rewriting a byte of data: the flat files rename into a fresh
   * generation dir and the MANIFEST commits — pure fs metadata, so layout
   * writers can establish reader-concurrency at write time instead of
   * paying a data rewrite (or a maintenance window) for the migration
   * later. No-ops on an already-migrated or absent table. NOT safe under
   * concurrent readers of the flat layout (files move one rename at a
   * time) — call it right after the write that created the flat files,
   * before the table is announced.
   */
  def migrateFlatDir(spark: SparkSession, table: String): Unit = {
    val (fs, dir) = fsOf(spark, table)
    if (!fs.exists(dir) || liveGen(spark, table).isDefined) return
    val flat = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
    val claim = claimNextGen(fs, dir)
    val genPath = new Path(dir, claim.gen)
    fs.mkdirs(genPath): Unit
    flat.foreach { p =>
      if (!fs.rename(p, new Path(genPath, p.getName)))
        throw new java.io.IOException(
          s"ManifestTable: cannot migrate $p into $genPath")
    }
    // non-data markers from the flat write (_SUCCESS) stay behind harmlessly
    writeMetaLines(fs, genPath, ParentName, Seq(NoParent))
    writeMetaLines(fs, genPath, IncName, Seq(mintInc())) // first incarnation
    stampStaged(fs, dir, claim)
    commit(fs, dir, claim.gen, parent = None, claim = Some(claim))
  }

  /** Count the data files the live snapshot opens: the live generation's
    * files plus any it retains ([[minorCompact]]) — the open-storm metric
    * the compactions exist to bound. */
  def dataFileCount(spark: SparkSession, table: String): Int = {
    val (fs, dir) = fsOf(spark, table)
    val p = new Path(resolve(spark, table))
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet")) +
      liveGen(spark, table).map(g => retainedRelFs(fs, dir, g).length).getOrElse(0)
  }

  /**
   * Compact the table to `targetFiles` files: read the live generation,
   * apply `transform` (identity for pure compaction; a filter for
   * retention rewrites like [[graft.ops.Dedup.prunePairs]]), write the
   * next generation, swap the pointer, retire everything older than the
   * previous generation. Safe under readers per the class contract: any
   * scan concurrent with ONE compaction keeps its files.
   */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 8,
      transform: DataFrame => DataFrame = identity): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    val (fs, dir) = fsOf(spark, table)
    val live = liveGen(spark, table).getOrElse {
      // legacy flat layout: migrate through a write, which is itself the
      // compaction (flat files are read once and retired)
      val df = transform(spark.read.parquet(table)).coalesce(targetFiles)
      write(df, table)
      return
    }
    val next = claimNextGen(fs, dir)
    transform(spark.read.parquet(pathsFor(spark, table, live): _*))
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(s"$table/${next.gen}")
    writeMetaLines(fs, new Path(dir, next.gen), ParentName, Seq(live))
    // an in-place rewrite stays in the live incarnation (tagged batches it
    // folds stay committed-here); only write() starts a new one
    val inc = incarnationOf(fs, dir, live)
    if (inc.nonEmpty)
      writeMetaLines(fs, new Path(dir, next.gen), IncName, Seq(inc))
    stampStaged(fs, dir, next)
    commitOrCleanup(fs, dir, next, Some(live))
    retire(fs, dir, next.gen, Some(live), keepVersionsOf(spark))
    pruneStaleTags(fs, dir)
  }

  /** CLAIM the next generation (current max + 1, create-exclusive — see
    * [[claimNextGen]]) — for maintenance verbs that stage a generation
    * OUTSIDE this object (the batched layout-wide rewrites) and commit it
    * via [[commitStagedGen]] afterwards. The returned claim token carries
    * the attempt identity and must be passed back at commit — claim and
    * commit may legitimately run on different pool threads. An abandoned
    * claim (the stager crashed) just skips a number; retire/fsck sweep the
    * marker. */
  private[store] def claimGen(spark: SparkSession, table: String): GenClaim = {
    val (fs, dir) = fsOf(spark, table)
    claimNextGen(fs, dir)
  }

  /** Commit an externally-staged generation: write `_RETAINS`/`_PARENT`
    * markers, swap the MANIFEST pointer, retire per keep-one-back. The
    * generation dir must already be fully populated at `table/<claim.gen>`. */
  private[store] def commitStagedGen(spark: SparkSession, table: String,
      claim: GenClaim, parent: String, retainsRel: Seq[String],
      incOverride: Option[String] = None): Unit = {
    val (fs, dir) = fsOf(spark, table)
    val genPath = new Path(dir, claim.gen)
    if (retainsRel.nonEmpty) writeMetaLines(fs, genPath, RetainsName, retainsRel)
    writeMetaLines(fs, genPath, ParentName, Seq(parent))
    // in-place rewrites stay in the parent's incarnation; a backup sync
    // overrides with the SOURCE's (ledger fidelity — see syncSnapshot)
    val inc = incOverride.getOrElse(incarnationOf(fs, dir, parent))
    if (inc.nonEmpty) writeMetaLines(fs, genPath, IncName, Seq(inc))
    stampStaged(fs, dir, claim)
    commitOrCleanup(fs, dir, claim, Some(parent))
    retire(fs, dir, claim.gen, Some(parent), keepVersionsOf(spark))
  }

  /** The live snapshot's data files with sizes, as table-relative paths:
    * live-dir files as "<live>/<name>" plus carried-forward retained refs
    * verbatim — the planner input for minor-vs-major decisions. */
  private[store] def snapshotFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, live: String): Seq[(String, Long)] = {
    val inDir = fs.listStatus(new Path(dir, live))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (s"$live/${s.getPath.getName}", s.getLen)).toSeq
    val carried = retainedRelFs(fs, dir, live)
      .map(r => (r, fs.getFileStatus(new Path(dir, r)).getLen))
    inDir ++ carried
  }

  /**
   * MINOR compaction — the size-tiered small-file merge (HBase's minor
   * compaction vs [[compact]]'s major; reference: the store-file tiers
   * behind `HbaseTable.scala`'s regions compact small HFiles without
   * touching the large ones): every live data file smaller than
   * `smallBytes` is merged into ~`targetBytes` output files in a NEW
   * generation, while every large file is RETAINED BY REFERENCE
   * (`_RETAINS` — an fs-metadata line, not a copy). At scale this is the
   * difference between maintenance that costs O(append debris since last
   * compact) and maintenance that re-writes the whole table: a 1 TB leaf
   * with 500 small append files merges gigabytes, not the terabyte.
   *
   * Same reader-concurrency contract as [[compact]] (complete new
   * generation + pointer swap + keep-one-back); retire/vacuum never delete
   * a generation a kept `_RETAINS` still references, so retained files
   * live exactly as long as a snapshot needs them. Tagged append files
   * fold into anonymous rows like any rewrite — run pending tagged
   * retries first (single-maintainer contract). Returns the number of
   * small files merged (0 = nothing to do: fewer than two small files).
   */
  def minorCompact(spark: SparkSession, table: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20): Int = {
    require(smallBytes > 0 && targetBytes > 0, "thresholds must be positive")
    val (fs, dir) = fsOf(spark, table)
    if (!fs.exists(dir)) return 0
    if (liveGen(spark, table).isEmpty) migrateFlatDir(spark, table) // fs metadata only
    val live = liveGen(spark, table).getOrElse(return 0)
    val (small, big) = snapshotFiles(fs, dir, live).partition(_._2 < smallBytes)
    if (small.length < 2) return 0
    val next = claimNextGen(fs, dir)
    val nOut = math.max(1L, (small.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(small.map(r => s"$table/${r._1}"): _*).coalesce(nOut)
      .write.mode("overwrite").parquet(s"$table/${next.gen}")
    val nextPath = new Path(dir, next.gen)
    if (big.nonEmpty) writeMetaLines(fs, nextPath, RetainsName, big.map(_._1))
    writeMetaLines(fs, nextPath, ParentName, Seq(live))
    val inc = incarnationOf(fs, dir, live) // in-place rewrite: same incarnation
    if (inc.nonEmpty) writeMetaLines(fs, nextPath, IncName, Seq(inc))
    stampStaged(fs, dir, next)
    commitOrCleanup(fs, dir, next, Some(live))
    retire(fs, dir, next.gen, Some(live), keepVersionsOf(spark))
    small.length
  }

  /**
   * ROLLBACK: re-commit a RETAINED generation as the live one — the undo
   * window promoted from read-only ([[readPrevious]]/[[readAsOf]]) to an
   * actual restore, at fs-METADATA cost (one fenced pointer commit, zero
   * data movement — the O(table) alternative is rewriting
   * [[readPrevious]]'s content through [[write]]). `back` counts rewrites
   * ([[genBack]]'s domain): 1 = undo the last rewrite. Returns the now-
   * live generation's name.
   *
   * Semantics and residue:
   *  - The rolled-back-FROM generation stays on disk (the next rewrite
   *    retires it), so a mistaken rollback can itself be undone until
   *    then via [[rollbackTo]] with its name — the REDO window. [[fsck]]
   *    and [[vacuum]] RETAIN it (round 18): every pointer commit stamps a
   *    durable `_COMMITTED` record into its generation, so a once-live
   *    generation newer than live reads as a redo window, not crash
   *    debris. Only the next rewrite's retire ends it.
   *  - [[genBack]] from the restored generation follows ITS original
   *    `_PARENT` chain (older history), not the generation just rolled
   *    back from — parent links record write-time lineage, never
   *    rollback hops.
   *  - Appends after the rollback land in the restored live generation,
   *    as always. Single-maintainer like every write verb; fenced — a
   *    concurrent rewrite's commit wins and the rollback throws loudly.
   *  - Commit tags ([[appendTagged]]) are TABLE-level, survive the
   *    rollback, and are INCARNATION-stamped (round 18): a batch's marker
   *    speaks exactly for the incarnation its rows landed in. A tagged
   *    retry loop straddling a rollback ACROSS a [[write]] boundary —
   *    round 17's one silent-duplication window — now converges: rolled
   *    back into the batch's own incarnation the retry no-ops (the rows
   *    are there, possibly compaction-folded); in any other incarnation
   *    it re-appends, which is the overwrite contract. One caveat
   *    remains, unchanged: a rollback WITHIN an incarnation to a point
   *    before a tagged batch landed leaves the tag committed while the
   *    rows are in the (retained) rolled-back-from generation — redo
   *    restores them; that is what the rollback asked for.
   */
  def rollback(spark: SparkSession, table: String, back: Int = 1): String = {
    val target = genBack(spark, table, back).getOrElse(
      throw new NoSuchElementException(
        s"rollback: no retained generation $back rewrite(s) back at $table " +
          "(the undo window is funded by graft.keepVersions — see " +
          "generations())"))
    rollbackTo(spark, table, target)
  }

  /** [[rollback]] by explicit generation name ([[generations]] lists the
    * retained ones) — also the REDO verb: rolling back to the generation a
    * mistaken rollback abandoned, while it is still on disk. */
  def rollbackTo(spark: SparkSession, table: String, gen: String): String = {
    val (fs, dir) = fsOf(spark, table)
    require(gen.startsWith(GenPrefix) && fs.exists(new Path(dir, gen)),
      s"rollbackTo: generation $gen does not exist at $table")
    val live = liveGen(spark, table)
    if (live.contains(gen)) return gen // already live: idempotent
    commit(fs, dir, gen, parent = live)
    gen
  }

  /**
   * EXPORT a snapshot to `dest` as an independent manifest table — the
   * backup / disaster-recovery / environment-promotion verb (reference
   * analogue: HBase's snapshot + ExportSnapshot pipeline around
   * `HbaseTable.scala`'s tables). `gen` selects WHICH snapshot: None =
   * the live one; Some(g) = a retained generation ([[readAsOf]]'s
   * domain — the as-of backup). The copy is FILE-LEVEL (byte copies
   * through the Hadoop fs API, cross-scheme capable, no decode/re-encode;
   * engine picked by size — a shared driver pool for small snapshots, an
   * executor-parallel Spark job past `graft.clone.distributedMinBytes`,
   * see [[copyFiles]]): the snapshot's data files — its
   * generation dir plus any `_RETAINS` references, flattened — land in
   * dest's first generation and a fresh MANIFEST commits, so dest is a
   * SELF-CONTAINED single-generation table with no history, safe to
   * append/compact/vacuum independently of the source. The source is
   * untouched and stays readable throughout (the export is just another
   * concurrent reader under the class contract). Refuses a non-empty
   * dest loudly — backups never merge into existing data. A legacy flat
   * source exports its flat files the same way. Returns data files
   * copied; a crash mid-copy leaves dest without a committed MANIFEST
   * (reads as empty/claim-shielded debris — delete and re-export).
   */
  def cloneSnapshot(spark: SparkSession, table: String, dest: String,
      gen: Option[String] = None): Int = {
    require(table != dest, "cloneSnapshot: dest must differ from the source")
    val (fs, dir) = fsOf(spark, table)
    val destPath = new Path(dest)
    val destFs = destPath.getFileSystem(cachedConf(spark))
    // a CRASHED first export's residue (claim-marked generation dirs, the
    // claim files, a mirrored ledger — all with NO committed MANIFEST) must
    // not deadlock the retry against the non-empty refusal below: sweep
    // exactly the engine's own artifact classes and nothing else, so the
    // refusal still protects any directory holding real content
    if (destFs.exists(destPath) && liveGen(spark, dest).isEmpty) {
      val entries = destFs.listStatus(destPath)
      def debris(s: org.apache.hadoop.fs.FileStatus): Boolean = {
        val n = s.getPath.getName
        (s.isDirectory && (n.startsWith(GenPrefix) || n == TagsName)) ||
          (s.isFile && (n.startsWith(ClaimPrefix) ||
            n.startsWith(ManifestName) || n.startsWith(".")))
      }
      if (entries.forall(debris)) entries.foreach(s =>
        destFs.delete(s.getPath, true))
    }
    if (destFs.exists(destPath) && destFs.listStatus(destPath).nonEmpty)
      throw new IllegalArgumentException(
        s"cloneSnapshot: dest $dest is not empty — backups never merge; " +
          "export to a fresh directory")
    // consistent (files, ledger, incarnation) view — see exportSnapshot
    val (files, markers, srcInc) = exportSnapshot(spark, fs, dir, table, gen)
    val claim = claimNextGen(destFs, destPath)
    val genPath = new Path(destPath, claim.gen)
    destFs.mkdirs(genPath): Unit
    // byte copies, cross-scheme capable: the shared driver pool for small
    // snapshots, an executor-parallel Spark job past the distributed-copy
    // threshold (graft.clone.mode / graft.clone.distributedMinBytes)
    copyFiles(spark, fs, destFs,
      files.map { case (src, name, len) => (src, new Path(genPath, name), len) },
      "cloneSnapshot")
    writeMetaLines(destFs, genPath, ParentName, Seq(NoParent))
    // LEDGER fidelity (round 18): a LIVE export carries the source's
    // incarnation id and its exactly-once commit tags — the SAME captured
    // view as the file list (exportSnapshot), so the backup can never
    // claim an epoch its content lacks — and a DR cutover to the backup
    // continues a tagged ingest loop exactly-once (committed epochs no-op,
    // their stamped markers match the carried incarnation). Both land
    // BEFORE the pointer commit: a crash leaves no committed backup at
    // all. An AS-OF export (gen = Some) deliberately carries NEITHER —
    // the ledger is current-state and would claim epochs the past content
    // lacks.
    if (gen.isEmpty) {
      if (srcInc.nonEmpty)
        writeMetaLines(destFs, genPath, IncName, Seq(srcInc))
      CommitTags.mirror(destFs, destPath, markers)
    }
    stampStaged(destFs, destPath, claim)
    commit(destFs, destPath, claim.gen, parent = None, claim = Some(claim))
    files.length
  }

  /** A snapshot's exportable data files as (source path, exported file
    * name, bytes) — the input to [[cloneSnapshot]] / [[syncSnapshot]] /
    * [[verifyBackup]]. Retained files from OLDER generations flatten in
    * under their BASENAME — part-file names carry job-unique UUIDs, so the
    * name survives the export round-trip and keeps its identity across
    * sync/restore chains (a minor-compaction carry must not read as
    * "changed" to the next sync); the theoretical cross-generation
    * collision falls back to a gen-prefixed name so two files can still
    * never collide in one dest gen. */
  private def exportFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, table: String,
      resolvedGen: Option[String]): Seq[(Path, String, Long)] =
    resolvedGen match {
      case Some(g) =>
        require(fs.exists(new Path(dir, g)),
          s"snapshot export: generation $g does not exist at $table " +
            "(generations() lists what keep-N retained)")
        val inGen = fs.listStatus(new Path(dir, g))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => (s.getPath, s.getPath.getName, s.getLen)).toSeq
        val retainedRel = retainedRelFs(fs, dir, g)
        val names = (inGen.map(_._2) ++
          retainedRel.map(r => r.substring(r.indexOf('/') + 1)))
          .groupBy(identity).map { case (n, vs) => n -> vs.length }
        val retained = retainedRel.map { r =>
          val p = new Path(dir, r)
          val base = r.substring(r.indexOf('/') + 1)
          val name = if (names(base) > 1) r.replace('/', '-') else base
          (p, name, fs.getFileStatus(p).getLen)
        }
        inGen ++ retained
      case None => // legacy flat layout (or absent → empty export refused)
        val flat = if (!fs.exists(dir)) Nil
          else fs.listStatus(dir)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .map(s => (s.getPath, s.getPath.getName, s.getLen)).toSeq
        require(flat.nonEmpty, s"snapshot export: nothing to export at $table")
        flat
    }

  /** A CONSISTENT (generation, files, ledger, incarnation) view of the
    * source for the backup verbs — closes the listing's TOCTOU against a
    * concurrent tagged ingest: the commit-tag markers are read before AND
    * after the file listing, retried until the two reads (and the resolved
    * live generation) agree. Markers commit AFTER their rows land
    * ([[appendTagged]]'s order), so with a stable marker set every
    * mirrored marker's rows are provably inside the exported files — the
    * backup can never claim an epoch its content lacks. An epoch still
    * in flight during the listing exports tag-prefixed partial files with
    * NO marker — exactly a source crash's shape, owned by the backup-side
    * retry sweep like at the source. Gives up loudly after 5 attempts
    * (an ingest loop hot enough to move the ledger every listing needs
    * quiescing, not silent inconsistency). */
  private def exportSnapshot(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: Path, table: String,
      gen: Option[String])
      : (Seq[(Path, String, Long)], Set[String], String) = {
    var attempt = 0
    while (attempt < 5) {
      attempt += 1
      val markersBefore = CommitTags.markerNames(fs, dir)
      val g = gen.orElse(liveGen(spark, table))
      val files = exportFiles(spark, fs, dir, table, g)
      val inc = g.map(x => incarnationOf(fs, dir, x)).getOrElse("")
      if (CommitTags.markerNames(fs, dir) == markersBefore &&
          gen.orElse(liveGen(spark, table)) == g)
        return (files, markersBefore, inc)
    }
    throw new IllegalStateException(
      s"snapshot export: the ledger/live generation at $table kept moving " +
        "across 5 listing attempts — quiesce the tagged ingest loop (or " +
        "concurrent maintenance) and retry the backup")
  }

  /**
   * INCREMENTAL backup — re-export a snapshot into an EXISTING backup,
   * moving only the delta (the nightly-backup verb at 100 TB, where a
   * full [[cloneSnapshot]] per cycle would re-copy the whole table;
   * reference analogue: HBase ExportSnapshot over an existing backup
   * root, which ships only missing HFiles). An empty/absent `dest`
   * degenerates to [[cloneSnapshot]] exactly. Otherwise `dest` must be a
   * manifest table (a previous clone/sync's output):
   *
   *  - Source files whose exported name AND byte length already exist in
   *    dest's live snapshot are carried into the new backup generation BY
   *    `_RETAINS` REFERENCE — fs metadata, zero bytes moved. Data files
   *    are immutable and UUID-named, so name+length identity is content
   *    identity.
   *  - Everything else copies through the same engine selection
   *    ([[copyFiles]]: pooled driver / executor-parallel DistCopy),
   *    length-verified per file.
   *  - Files present in dest but absent from the snapshot simply go
   *    unreferenced: keep-N retire reclaims them with their generation —
   *    which also means the PREVIOUS backup stays readable
   *    ([[readPrevious]]/[[readAsOf]]) until then. Backups get the same
   *    undo window as every other table.
   *  - Already-identical content (no delta, nothing extra in dest) is a
   *    true no-op: returns 0 with NO new generation committed, so a
   *    nightly cron against an idle table costs two fs listings.
   *
   * Returns files COPIED (the delta; [[cloneSnapshot]]'s count on first
   * sync). Crash mid-copy leaves a claim-marked uncommitted generation —
   * dest still reads as the previous backup, fsck sweeps the debris, a
   * retry converges. Single-maintainer per dest like every write verb.
   *
   * The verb is DIRECTION-AGNOSTIC — `syncSnapshot(backup, table)` is the
   * incremental RESTORE: files the live table still shares with the backup
   * (by the same name+length identity) carry by reference, only what
   * diverged since the backup copies back, and the pre-restore live
   * generation stays as the undo window. Disaster recovery costs O(drift),
   * not O(table).
   */
  def syncSnapshot(spark: SparkSession, table: String, dest: String,
      gen: Option[String] = None): Int = {
    require(table != dest, "syncSnapshot: dest must differ from the source")
    liveGen(spark, dest) match {
      case None => cloneSnapshot(spark, table, dest, gen)
      case Some(destLive) =>
        val (fs, dir) = fsOf(spark, table)
        val (destFs, destPath) = fsOf(spark, dest)
        // consistent (files, ledger, incarnation) view — see exportSnapshot:
        // the mirrored marker set is CAPTURED WITH the file list, so the
        // backup can never claim an epoch its content lacks
        val (files, markers, srcInc) =
          exportSnapshot(spark, fs, dir, table, gen)
        val existing = backupContent(destFs, destPath, destLive)
        val (carried, toCopy) = files.partition { case (_, name, len) =>
          existing.get(name).exists(_._2 == len) }
        // LEDGER mirror (round 18, live syncs only — see cloneSnapshot):
        // the backup's commit tags track the source's so a DR cutover
        // replay stays exactly-once. Mirrored even on the content no-op
        // below (the ledger can move without the content); mirrored AFTER
        // the commit otherwise, so a crashed sync leaves the ledger at
        // most one cycle behind the committed content — never ahead of
        // it. verifyBackup audits the drift.
        def mirrorLedger(): Unit = if (gen.isEmpty)
          CommitTags.mirror(destFs, destPath, markers)
        if (toCopy.isEmpty && carried.map(_._2).toSet == existing.keySet) {
          mirrorLedger()
          return 0 // dest already IS this snapshot — no commit, no copy
        }
        val claim = claimNextGen(destFs, destPath)
        val genPath = new Path(destPath, claim.gen)
        destFs.mkdirs(genPath): Unit
        copyFiles(spark, fs, destFs,
          toCopy.map { case (src, name, len) =>
            (src, new Path(genPath, name), len) },
          "syncSnapshot")
        // unchanged files ride as verbatim refs into the NEW backup
        // generation (minorCompact's carry discipline — never chained,
        // retire keeps the referenced generations alive); the generation
        // adopts the SOURCE's incarnation — captured with the same view —
        // so the mirrored stamped markers keep speaking for it
        commitStagedGen(spark, dest, claim, destLive,
          carried.map { case (_, name, _) => existing(name)._1 },
          incOverride = Some(srcInc))
        mirrorLedger()
        toCopy.length
    }
  }

  /** A backup's current content as exported-name -> (dest-relative path,
    * bytes) — what [[syncSnapshot]] delta-matches and [[verifyBackup]]
    * audits. The basename of each snapshot rel path is exactly the name
    * the file was exported under (UUID part names make cross-generation
    * basename collisions a non-event; the length check still guards the
    * impossible case). RESILIENT to a damaged backup: a retained ref whose
    * file is gone reads as absent — so the audit reports it missing and
    * the next sync re-copies it, instead of either verb crashing. */
  private def backupContent(destFs: org.apache.hadoop.fs.FileSystem,
      destPath: Path, destLive: String): Map[String, (String, Long)] = {
    val inDir = destFs.listStatus(new Path(destPath, destLive))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => s.getPath.getName ->
        (s"$destLive/${s.getPath.getName}", s.getLen)).toSeq
    val carried = retainedRelFs(destFs, destPath, destLive).flatMap { r =>
      scala.util.Try(destFs.getFileStatus(new Path(destPath, r))).toOption
        .map(st => r.substring(r.indexOf('/') + 1) -> (r, st.getLen))
    }
    (inDir ++ carried).toMap
  }

  /** One backup-verification outcome — see [[verifyBackup]]. `ok` means
    * the backup can serve a full restore: every snapshot file is present
    * at dest with the right length. `extra` alone does not fail it
    * (unreferenced leftovers — a backup mid-retention, or dest content a
    * sync will prune) but is surfaced for the audit trail. */
  final case class BackupStat(table: String, dest: String, files: Int,
      missing: Int, sizeMismatch: Int, extra: Int, tagDrift: Int = 0) {
    def ok: Boolean = missing == 0 && sizeMismatch == 0
  }

  /**
   * AUDIT a backup against its source snapshot — the read-only integrity
   * check between [[cloneSnapshot]]/[[syncSnapshot]] cycles (reference
   * analogue: verifying an ExportSnapshot landed whole before trusting it
   * for DR). Compares the snapshot's exportable file set (immutable
   * name + length identity, the same contract the sync delta uses)
   * against dest's live backup content: `missing` files would make a
   * restore lose rows (LOUD — the backup cannot serve its one purpose),
   * `sizeMismatch` marks truncated/corrupt copies, `extra` counts dest
   * files the snapshot no longer references. Pure fs metadata — two
   * listings, no bytes read, safe to run from a cron after every sync.
   */
  def verifyBackup(spark: SparkSession, table: String, dest: String,
      gen: Option[String] = None): BackupStat = {
    val (fs, dir) = fsOf(spark, table)
    val (files, srcMarkers, _) = exportSnapshot(spark, fs, dir, table, gen)
    val (destFs, destPath) = fsOf(spark, dest)
    val existing: Map[String, Long] = liveGen(spark, dest) match {
      case Some(destLive) =>
        backupContent(destFs, destPath, destLive)
          .map { case (name, (_, len)) => name -> len }
      case None => Map.empty // absent/flat dest: everything reads missing
    }
    val missing = files.count { case (_, name, _) => !existing.contains(name) }
    val mismatch = files.count { case (_, name, len) =>
      existing.get(name).exists(_ != len) }
    val extra = (existing.keySet -- files.map(_._2)).size
    // ledger drift (live audits only): markers present on one side and not
    // the other — after a crashed sync the backup's ledger can lag its
    // committed content by one cycle (the syncSnapshot ordering); a
    // non-zero drift means "re-run the sync before a DR cutover", which is
    // report-grade, not restore-blocking (ok ignores it)
    val destMarkers = CommitTags.markerNames(destFs, destPath)
    val drift = if (gen.isDefined) 0
      else (srcMarkers diff destMarkers).size +
        (destMarkers diff srcMarkers).size
    BackupStat(table, dest, files.length, missing, mismatch, extra, drift)
  }

  // ---------------------------------------------------- clone copy engine

  /** ONE shared bounded pool for every driver-side clone byte copy in the
    * JVM (round-18 advisory): [[Compaction.cloneLayout]] fans out per leaf
    * and each leaf's [[cloneSnapshot]] used to open its own 16-thread pool —
    * pool-per-leaf × 16 threads, hundreds of concurrent copies with no
    * shared bound on filesystem round-trips. Copies from every leaf now
    * funnel through this fixed pool, so layout-wide copy parallelism is
    * capped at the pool size. Daemon threads: the pool lives for the JVM. */
  private object CopyPool {
    private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
      16,
      (r: Runnable) => {
        val t = new Thread(r, "graft-clone-copy"); t.setDaemon(true); t
      })
    def run[A](items: Seq[A])(f: A => Unit): Unit = {
      val futures = items.map(a =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = f(a)
        }))
      val outcomes = futures.map(fu => scala.util.Try(fu.get()))
      outcomes.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
    }
  }

  /** Copy `files` ((source, dest, bytes)) for a clone/export verb, picking
    * the engine by the `graft.clone.mode` session conf:
    *
    *  - `driver` — pooled byte copies on the driver ([[CopyPool]], bounded
    *    JVM-wide). Right for small snapshots: no job-submission latency.
    *  - `spark`  — an executor-parallel Spark job
    *    ([[org.apache.spark.sql.graft.DistCopy]]): copy bandwidth scales
    *    with the cluster instead of one host's NIC — the 100 TB backup
    *    path (HBase ExportSnapshot-as-MR-job economics).
    *  - `auto` (default) — `spark` when the batch exceeds
    *    `graft.clone.distributedMinBytes` (default 4 GiB), else `driver`.
    *
    * Either engine is all-or-throw per batch and leaves dest without a
    * committed manifest on failure (the caller's crash contract). */
  private[store] def copyFiles(spark: SparkSession,
      srcFs: org.apache.hadoop.fs.FileSystem,
      dstFs: org.apache.hadoop.fs.FileSystem,
      files: Seq[(Path, Path, Long)], what: String): Unit = {
    if (files.isEmpty) return
    val mode = spark.conf.getOption("graft.clone.mode").getOrElse("auto")
    require(Set("auto", "driver", "spark").contains(mode),
      s"graft.clone.mode must be auto|driver|spark, got: $mode")
    val minBytes = spark.conf.getOption("graft.clone.distributedMinBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(4L << 30)
    val distributed = mode == "spark" ||
      (mode == "auto" && files.map(_._3).sum > minBytes)
    if (distributed)
      org.apache.spark.sql.graft.DistCopy.copy(spark,
        files.map(f => (f._1.toString, f._2.toString)), cachedConf(spark))
    else CopyPool.run(files) { case (src, dst, len) =>
      if (!org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst, false,
          cachedConf(spark)))
        throw new java.io.IOException(s"$what: cannot copy $src into $dst")
      // backup integrity: a silently truncated copy must fail HERE, before
      // the manifest commit publishes the backup as complete (one metadata
      // round-trip per file — noise next to the bytes)
      val got = dstFs.getFileStatus(dst).getLen
      if (got != len)
        throw new java.io.IOException(
          s"$what: size mismatch after copy $src -> $dst ($got != $len)")
    }
  }

  /** One table's structural-fsck outcome — see [[fsck]]. `missingRetained`
    * is the one UNHEALABLE class (a referenced data file is gone: bytes
    * lost, surface it loudly instead of letting the next scan die);
    * `legacyFlat` flags a pre-manifest layout (migration available, not
    * damage). */
  final case class FsckStat(table: String, healedManifest: Boolean,
      sweptOrphans: Int, sweptStages: Int, sweptTmpFiles: Int,
      missingRetained: Int, legacyFlat: Boolean, keptRedo: Int = 0) {
    def ok: Boolean = missingRetained == 0
  }

  /**
   * Structural fsck — verify and heal the MANIFEST machinery itself, the
   * layout-level twin of content repairs like
   * [[graft.ops.Dedup.repairNearDupIndex]]. Heals what a crash can break
   * and reports what it cannot:
   *
   *  - MANIFEST missing or pointing at a missing generation → re-commit
   *    the newest complete generation (makes the resolver's in-memory
   *    crash-heal fallback DURABLE); a manifest with no generations at
   *    all is deleted (the table is flat or empty).
   *  - Orphaned generations NEWER than live (written, never committed —
   *    a crash before the swap) → swept. Once-COMMITTED generations newer
   *    than live (a [[rollback]]'s redo window, `_COMMITTED`-stamped at
   *    pointer publish) → RETAINED and counted (`keptRedo`): redo via
   *    [[rollbackTo]] survives an fsck in between.
   *  - Dead stage dirs and MANIFEST/TAGS tmp files → swept.
   *  - Live or undo-window `_RETAINS` referencing a missing file →
   *    REPORTED (`missingRetained`), never healed silently: those bytes
   *    are gone and the caller must restore or rebuild.
   *
   * Read-only beyond those heals — funded-out old generations are
   * [[vacuum]]'s job, not fsck's. Single-maintainer op like every other
   * write verb.
   */
  def fsck(spark: SparkSession, table: String): FsckStat = {
    val (fs, dir) = fsOf(spark, table)
    if (!fs.exists(dir))
      return FsckStat(table, healedManifest = false, 0, 0, 0, 0, legacyFlat = false)
    val gens = genDirs(fs, dir)
    // torn manifest versions (a fenced commit that died mid-write) read as
    // absent but fence off further commits — sweep them first, here, where
    // the single-maintainer contract guarantees no writer is in flight
    val tornVersions = {
      val parseableSeqs = manifestVersionFiles(fs, dir).flatMap { case (v, p) =>
        scala.util.Try {
          val in = fs.open(p)
          val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().map(_.trim).filter(_.nonEmpty).toList finally in.close()
          lines match {
            case gen :: rest if gen.startsWith(GenPrefix) &&
              (v == 0L || rest.headOption.contains(Sealed)) => Some(v)
            case _ => None
          }
        }.toOption.flatten
      }.toSet
      manifestVersionFiles(fs, dir).filterNot(v => parseableSeqs.contains(v._1))
    }
    tornVersions.foreach(v => fs.delete(v._2, false))
    val pointed = readPointer(fs, dir).map(_._2)
    val pointedValid = pointed.exists(g => fs.exists(new Path(dir, g)))
    // claimed generations were never committed (owners delete the claim at
    // commit): crash debris or a fenced loser that died before its own
    // cleanup — never a heal candidate
    val claimedNums = claimFiles(fs, dir).map(_._1).toSet
    // a generation still holding Spark's _temporary dir died mid-write (a
    // double crash: the write AND the later commit) — never commit it
    val complete = gens.filterNot(g =>
      fs.exists(new Path(new Path(dir, g), "_temporary")) ||
        claimedNums(genNum(g)))
    val healed =
      if (pointedValid) false
      else if (complete.nonEmpty) { commit(fs, dir, complete.last, pointed); true }
      else if (pointed.isDefined) {
        manifestVersionFiles(fs, dir).foreach(v => fs.delete(v._2, false)); true
      } else false
    val live = liveGen(spark, table)
    // orphans: never-committed generations — newer than live, or still
    // claim-marked (a fenced loser's stranded staging, possibly BELOW the
    // live number when the winner claimed later but committed first).
    // EXCEPT once-committed ones (`_COMMITTED`, stamped at every pointer
    // publish): a generation newer than live that WAS live is a rollback's
    // redo window, retained so rollbackTo can still reach it (round 18) —
    // the next rewrite's retire ends it, not fsck.
    def onceCommitted(g: String): Boolean =
      fs.exists(new Path(new Path(dir, g), CommittedName))
    val suspects = (live.map(l => gens.filter(_ > l)).getOrElse(Nil) ++
      gens.filter(g => claimedNums(genNum(g)) && !live.contains(g))).distinct
    val (redo, orphans) = suspects.partition(onceCommitted)
    orphans.foreach(g => fs.delete(new Path(dir, g), true))
    val stages = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith(StagePrefix) ||
        p.getName.startsWith(TagsName + ".tmp-"))
    stages.foreach(fs.delete(_, true))
    // stale generation claims: any claim visible to fsck is dead (no
    // maintainer can be in flight) — committed gens' claims and abandoned
    // number reservations alike
    val claims = claimFiles(fs, dir)
    claims.foreach(c => fs.delete(c._2, false))
    val tmps = fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filter(p => p.getName.startsWith(ManifestName + ".tmp-") ||
        p.getName.startsWith(TagsName + ".tmp-"))
    tmps.foreach(fs.delete(_, false))
    val missing = (live.toSeq ++ previousGen(spark, table))
      .flatMap(g => retainedRelFs(fs, dir, g))
      .count(r => !fs.exists(new Path(dir, r)))
    FsckStat(table, healed, orphans.length, stages.length,
      tmps.length + tornVersions.length + claims.length,
      missing, legacyFlat = live.isEmpty, keptRedo = redo.length)
  }

  /**
   * Standalone garbage collection — reclaim disk WITHOUT a data rewrite:
   * retire generations the keep-one-back discipline no longer funds plus
   * the debris interrupted operations strand (orphaned never-committed
   * generations, dead stage dirs, MANIFEST/TAGS tmp files). Normally the
   * next rewrite sweeps these as a side effect; vacuum is for the table
   * whose next rewrite is far away (e.g. a compacted-yesterday table that
   * crashed mid-append today). With `keepPrevious = false` the previous
   * generation retires too — only safe when no scan planned before the
   * last rewrite is still in flight (the same drain rule as back-to-back
   * rewrites). Returns directories deleted; no-ops on legacy flat or
   * absent tables. Single-maintainer op like every other write verb.
   */
  def vacuum(spark: SparkSession, table: String,
      keepPrevious: Boolean = true): Int = {
    val (fs, dir) = fsOf(spark, table)
    if (!fs.exists(dir)) return 0
    liveGen(spark, table) match {
      case None => 0 // legacy flat layout: nothing generation-shaped to sweep
      case Some(live) =>
        val gens = genDirs(fs, dir)
        // keepPrevious keeps the whole funded undo chain (graft.keepVersions
        // deep), not just one step; keepPrevious = false drains to live only
        val chain = if (keepPrevious)
          parentChain(fs, dir, live, keepVersionsOf(spark) - 1) else Nil
        val keep = protectedGens(fs, dir, Set(live) ++ chain)
        // same claim-shield as retire: any claimed generation may be a
        // maintainer mid-staging (the claimed number can sit below live) —
        // fsck, which asserts no writer in flight, sweeps that debris.
        // Once-committed generations NEWER than live are a rollback's redo
        // window (same retention rule as fsck's): vacuum reclaims funded-out
        // history, never the redo path — the next rewrite's retire ends it.
        val claimed = claimFiles(fs, dir).map(_._1).toSet
        val genVictims = gens.filterNot(keep)
          .filterNot(g => claimed(genNum(g)))
          .filterNot(g => g > live &&
            fs.exists(new Path(new Path(dir, g), CommittedName)))
        genVictims.foreach(g => fs.delete(new Path(dir, g), true))
        val stages = fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
          .filter(p => p.getName.startsWith(StagePrefix) ||
            p.getName.startsWith(TagsName + ".tmp-"))
        stages.foreach(fs.delete(_, true))
        fs.listStatus(dir).filter(_.isFile).map(_.getPath)
          .filter(p => p.getName.startsWith(ManifestName + ".tmp-") ||
            p.getName.startsWith(TagsName + ".tmp-"))
          .foreach(fs.delete(_, false))
        // claims are NEVER swept here (same rule as retire): a claim whose
        // number sits at or below live may still shield a maintainer that
        // claimed before the winner committed — claimNextGen never reuses a
        // claimed number, so deleting the claim re-opens it for reuse (two
        // writers staging into one gen dir). Claim cleanup belongs to the
        // owner (at commit / loser cleanup) and to fsck, whose
        // no-writer-in-flight contract makes the sweep safe.
        pruneStaleTags(fs, dir) // ledger GC: markers no retained gen carries
        genVictims.length + stages.length
    }
  }
}
