package org.apache.spark.sql.graft

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.expressions.aggregate
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.functions.{coalesce, col, count, element_at, input_file_name, lit, max, min, typedLit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/**
 * The `graft` DataSource-V2 connector — the Spark twin of the reference's
 * server-side scan construction (reference: src/main/scala/com/gravity/hbase/
 * schema/Query2.scala:888-929, where projections become HBase `addColumn` and
 * clauses become a `FilterList` evaluated region-side, and
 * HbaseTable.scala:373-423, the pooled table access those scans run against).
 *
 * What HBase gives the reference for free — key-ordered regions, so a
 * `withStartRow/withEndRow` scan touches only the regions intersecting the key
 * range — this connector reproduces over the [[graft.store.KeyedStore]] parquet
 * layout with three cooperating mechanisms:
 *
 *  1. '''Key-range split pruning''' (the region-pruning analogue): a sidecar
 *     index (`_graft_index`, written by `KeyedStore.writeIndexed`) records each
 *     data file's (min, max, rowCount) for the key column. At planning time the
 *     pushed key predicates are folded into a conjunctive key interval + IN-set
 *     and files whose range cannot intersect are never turned into input splits
 *     — a point-get on a range-sorted 100 TB table schedules ONE split. When no
 *     sidecar exists the connector falls back to parquet footer statistics
 *     (bounded by `graft.footerPruneMaxFiles`, since footer reads are a
 *     driver-side O(files) cost — the sidecar is the 100 TB path, one small
 *     file read instead of 100k footer fetches).
 *  2. '''Filter pushdown''' ([[SupportsPushDownFilters]]): every pushed filter
 *     also reaches the parquet reader for row-group/page pruning. ALL filters
 *     are returned as residual, so Spark re-evaluates them post-scan: pruning
 *     is a pure optimization and never a correctness dependency.
 *  3. '''Column pruning''' ([[SupportsPushDownRequiredColumns]]): the reader
 *     materializes only the required schema (the `addColumn` analogue).
 *
 * Reading delegates to Spark's own vectorized [[ParquetPartitionReaderFactory]]
 * — the scan stays columnar, codegen-compatible and identical in per-row cost
 * to the built-in parquet source; this connector only adds better planning.
 *
 * Usage: {{{ spark.read.format("graft").option("key", "c_custkey").load(path) }}}
 */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  /** The schema from the footer of a file of the as-of (else the live)
    * index — no Spark job, no directory listing; a dir without an index
    * falls back to parquet schema inference. An as-of version retired
    * meanwhile takes the live schema and its scan then fails loudly. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val path = new Path(GraftDataSource.pathOf(options))
    val conf = spark.sessionState.newHadoopConf()
    val version = Option(options.get("graft.asofVersion")).map(_.toLong)
    version.flatMap(v => GraftIndex.liveSchema(path, conf, Some(v)))
      .orElse(GraftIndex.liveSchema(path, conf))
      .getOrElse(spark.read.parquet(path.toString).schema)
  }

  override def getTable(tableSchema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new GraftTable(tableSchema, new CaseInsensitiveStringMap(properties))
}

object GraftDataSource {
  private[graft] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft source requires a path — use .load(path)")
    p
  }
}

class GraftTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  private val path = GraftDataSource.pathOf(options)
  override def name(): String = s"graft.`$path`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.TRUNCATE)

  /**
   * SQL `UPDATE` / `MERGE INTO` via group-based copy-on-write. The row-level
   * scan runs with pruning DISABLED and the paired write replaces the whole
   * table — deliberately: Spark may push complementary predicates (cond /
   * NOT cond) into the rewrite's two union branches, and a scan that pruned
   * files while the write truncated everything would silently drop the
   * unscanned files' rows. Full-rewrite is the correct-by-construction form
   * (a MAJOR rewrite, like an HBase major compaction); key-targeted mutations
   * belong on the index-pruned API path (`KeyedStore.upsertIndexed`), which
   * rewrites only affected ranges. Predicate-only DELETEs never come here —
   * the optimizer prefers [[deleteWhere]], which IS index-pruned.
   */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new org.apache.spark.sql.connector.write.RowLevelOperation {
      override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command =
        info.command()

      override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder = {
        val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        merged.putAll(scanOptions.asCaseSensitiveMap())
        merged.put("prune", "false") // every group must be read — see scaladoc
        new GraftScanBuilder(SparkSession.active, tableSchema,
          new CaseInsensitiveStringMap(merged))
      }

      override def newWriteBuilder(
          writeInfo: org.apache.spark.sql.connector.write.LogicalWriteInfo)
          : org.apache.spark.sql.connector.write.WriteBuilder =
        new GraftWriteBuilder(writeInfo.schema(), path, options,
          forceTruncate = true)

      override def description(): String =
        s"GraftRowLevel(${info.command()}, copy-on-write, full rewrite)"
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    FilterToColumn.all(filters).isDefined

  /**
   * `DELETE FROM t WHERE ...`, index-pruned: fold the predicate's key
   * constraints into a [[KeyBounds]] interval and rewrite ONLY the data files
   * whose key range can intersect it — the region-targeted-delete analogue
   * (a key-ranged DELETE on a 100 TB table rewrites the affected ranges, not
   * the table). Non-key predicates rewrite every file but still stream
   * distributed (one filter job, no driver materialization). The sidecar
   * index entries of rewritten files refresh from the staged write's own
   * task-commit stats; untouched files and their entries survive byte-
   * identical. Each affected file's survivors are written as one file of
   * their own (an exact hash slot per source file), so a rewritten range
   * never spans an untouched file; the rewrite commits through
   * [[GraftIndex.commitStaged]], the guard and fenced swap
   * `KeyedStore.mergeIndexed` and `KeyedStore.compact` share.
   * `TRUNCATE TABLE` arrives here as AlwaysTrue via the SupportsDelete
   * default bridge.
   */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val keyCol = options.getOrDefault("key", "key")
    val pred = FilterToColumn.all(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"unsupported DELETE predicate: ${filters.mkString(", ")}"))
    val dirPath = new Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dirPath)) return
    val listed = GraftIndex.listDataFiles(fs, dirPath)
    if (listed.isEmpty) return
    val indexV = GraftIndex.openRewrite(spark, path, keyCol)
    val index = indexV.map(_._2)
    // same refusal contract as KeyedStore.mergeIndexed: an index that exists
    // but is unusable for THIS key means a wrong key column or a damaged
    // index — the no-index fallback below deletes originals in place and
    // would resurrect manifest strays as live rows, so fail loudly instead
    require(index.isDefined || GraftIndex.versionFiles(fs, dirPath).isEmpty,
      s"deleteWhere: $path carries a graft index, but none usable for key " +
        s"'$keyCol' — wrong key column, or a damaged index (run " +
        "KeyedStore.fsckIndexed / rebuild via writeIndexed)")
    val dataFiles = index match {
      case Some(ix) => listed.filter(st => ix.files.contains(st.getPath.getName))
      case None => listed
    }
    val bounds = KeyBounds.fromFilters(filters, keyCol)
    val affected = index match {
      case Some(ix) if !bounds.unconstrained =>
        dataFiles.filter { st =>
          ix.ranges.get(st.getPath.getName) match {
            case Some((lo, hi, _)) => bounds.intersects(lo, hi)
            case None => true // unranged file (all-null keys) — must assume it matches
          }
        }
      case _ => dataFiles
    }
    if (affected.isEmpty) return
    val affectedNames = affected.map(_.getPath.getName)
    // one distributed job over the affected files: keep rows where the
    // predicate is false or null (SQL DELETE removes only pred = TRUE)
    val kept = spark.read.schema(tableSchema)
      .parquet(affectedNames.map(n => s"$path/$n"): _*)
      .where(!coalesce(pred, lit(false)))
    // one output file per affected file: a file's survivors go to its own
    // slot (a literal whose hash lands in that partition), so no rewritten
    // range can span an untouched file between two affected ones
    val slotOf = typedLit(affectedNames.zip(GraftIndex.hashPreimages(affectedNames.size)).toMap)
    val staging = GraftIndex.stage(
      kept.repartition(affectedNames.size, element_at(slotOf, col("_metadata.file_name")))
        .sortWithinPartitions(keyCol), path, keyCol)
    indexV match {
      case Some(base) =>
        GraftIndex.commitStaged(spark, path, base, affectedNames.toSet, Seq(staging),
          "d", "deleteWhere")
      case None =>
        // no index: readers list the dir, so originals must go before the
        // staged files become visible — the legacy delete-then-rename window;
        // index the table (KeyedStore.writeIndexed) to get the crash-safe swap
        affectedNames.foreach(n => fs.delete(new Path(path, n), false))
        GraftIndex.renameIn(fs, GraftIndex.listDataFiles(fs, staging).map(_.getPath)
          .sortBy(_.getName), dirPath, "d", "deleteWhere")
        fs.delete(staging, true): Unit
    }
  }
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(caseInsensitiveOptions.asCaseSensitiveMap())
    new GraftScanBuilder(SparkSession.active, tableSchema, new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val merged = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(info.options().asCaseSensitiveMap())
    new GraftWriteBuilder(info.schema(), path, new CaseInsensitiveStringMap(merged))
  }
}

class GraftScanBuilder(spark: SparkSession, dataSchema: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = dataSchema
  private var limit: Option[Int] = None
  private var aggRow: Option[(StructType, Array[Any])] = None

  /** Record every filter (for split pruning + parquet row-group pruning) and
    * return every filter as residual — see class doc: pruning never replaces
    * post-scan evaluation, so a pruning bug cannot produce wrong rows. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** The reference's `scanUntil` early-stop (Query2.scala:931-976): with a
    * sidecar index and no filters, an unfiltered LIMIT schedules only enough
    * files to cover n rows. Returns false — Spark still applies its own limit
    * (the capping is advisory, exact row counts come from the index). */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  /**
   * The region-metadata answer: on a fully-indexed table with no filters, a
   * global COUNT(*) / MIN(key) / MAX(key) is read from the `_graft_index`
   * sidecar alone — zero data I/O at any table size (HBase analogue: region
   * start/end keys + row counters replacing a full scan).
   */
  override def supportCompletePushDown(agg: aggregate.Aggregation): Boolean =
    buildAggRow(agg).isDefined

  override def pushAggregation(agg: aggregate.Aggregation): Boolean =
    buildAggRow(agg) match {
      case some @ Some(_) => aggRow = some; true
      case None => false
    }

  private def buildAggRow(agg: aggregate.Aggregation): Option[(StructType, Array[Any])] = {
    val keyCol = options.getOrDefault("key", "key")
    if (pushed.nonEmpty || limit.isDefined || agg.groupByExpressions.nonEmpty) return None
    if (!options.getBoolean("prune", true)) return None
    val keyIdx = dataSchema.fieldNames.indexOf(keyCol)
    if (keyIdx < 0) return None
    val keyDt = dataSchema(keyIdx).dataType
    val path = GraftDataSource.pathOf(options)
    val hadoopConf = spark.sessionState.newHadoopConf()
    // as-of scans answer from the PINNED snapshot's index, never the live one
    val resolved = Option(options.get("graft.asofVersion")).map(_.toLong) match {
      case Some(v) => GraftIndex.readAllVersioned(new Path(path), hadoopConf)
        .collectFirst { case (ver, i) if ver == v => i }
      case None => GraftIndex.read(new Path(path), hadoopConf)
    }
    val ix = resolved.filter(_.keyCol == keyCol).getOrElse(return None)
    // every data file must be covered by the index, else counts are partial
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.getFileStatus(p)
    val dataFiles =
      if (root.isFile) return None
      else fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath.getName)
    // manifest dialect: the index IS the file set (listed strays are
    // invisible) — but every named file must EXIST, else the zero-I/O
    // answer would silently count data that is gone (the real scan fails
    // loudly; so must this path, via the fallback). Advisory dialect:
    // every listed file must be covered, else counts are partial.
    if (ix.manifest) {
      val present = dataFiles.toSet
      if (!ix.files.forall(present.contains)) return None
    } else if (!dataFiles.forall(ix.files.contains)) return None

    def keyValue(v: Any): Any = keyDt match {
      case LongType => v.asInstanceOf[BigDecimal].toLong
      case IntegerType => v.asInstanceOf[BigDecimal].toInt
      case ShortType => v.asInstanceOf[BigDecimal].toShort
      case ByteType => v.asInstanceOf[BigDecimal].toByte
      case DoubleType => v.asInstanceOf[BigDecimal].toDouble
      case FloatType => v.asInstanceOf[BigDecimal].toFloat
      case dt: DecimalType => org.apache.spark.sql.types.Decimal(v.asInstanceOf[BigDecimal])
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
      case _ => return null
    }
    val entries = ix.ranges.values.toSeq
    val isNum = ix.keyTag == "num"
    def minKey: Any = if (entries.isEmpty) null else keyValue(
      if (isNum) entries.map(_._1.asInstanceOf[BigDecimal]).min
      else entries.map(_._1.toString).min)
    def maxKey: Any = if (entries.isEmpty) null else keyValue(
      if (isNum) entries.map(_._2.asInstanceOf[BigDecimal]).max
      else entries.map(_._2.toString).max)
    def isKeyRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean = e match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference =>
        n.fieldNames.length == 1 && n.fieldNames.head == keyCol
      case _ => false
    }
    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    agg.aggregateExpressions.foreach {
      case _: aggregate.CountStar =>
        fields += StructField("count_star", LongType, nullable = false)
        values += ix.totalRows // unranged (all-null-key) files count too
      case m: aggregate.Min if isKeyRef(m.column) =>
        fields += StructField("min_key", keyDt); values += minKey
      case m: aggregate.Max if isKeyRef(m.column) =>
        fields += StructField("max_key", keyDt); values += maxKey
      case _ => return None
    }
    Some((StructType(fields.result()), values.result().toArray))
  }

  override def build(): Scan = aggRow match {
    case Some((schema, values)) =>
      new GraftAggScan(GraftDataSource.pathOf(options), schema, values)
    case None =>
      new GraftScan(spark, dataSchema, required, pushed, options, limit)
  }
}

/** A scan whose single row was computed from the sidecar index at planning
  * time — COUNT/MIN/MAX answered with zero data I/O. */
class GraftAggScan(path: String, aggSchema: StructType, values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = aggSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftAggPartition(values))
  override def createReaderFactory(): PartitionReaderFactory = GraftAggReaderFactory()
  override def description(): String =
    s"GraftAggScan path=$path source=_graft_index aggregates=${aggSchema.fieldNames.mkString(",")}"
}

final case class GraftAggPartition(values: Array[Any]) extends InputPartition

final case class GraftAggReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = if (emitted) false else { emitted = true; true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          partition.asInstanceOf[GraftAggPartition].values)
      override def close(): Unit = ()
    }
}

class GraftScan(spark: SparkSession, dataSchema: StructType, required: StructType,
    pushed: Array[Filter], options: CaseInsensitiveStringMap,
    limit: Option[Int] = None)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering {

  private val path = GraftDataSource.pathOf(options)
  private val keyCol = options.getOrDefault("key", "key")
  private val pruneEnabled = options.getBoolean("prune", true)
  private val footerPruneMaxFiles = options.getInt("graft.footerPruneMaxFiles", 2048)

  private val caseSensitiveOptions: Map[String, String] =
    options.asCaseSensitiveMap().asScala.toMap
  @transient private lazy val hadoopConf: Configuration =
    spark.sessionState.newHadoopConfWithOptions(caseSensitiveOptions)

  @transient private lazy val allFiles: Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val root = fs.getFileStatus(p)
    val listed =
      if (root.isFile) Seq(root)
      else fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    liveIndex match {
      case Some(ix) if ix.manifest =>
        // manifest dialect: the index names the live file set exactly —
        // listed-but-unnamed files are swap strays (invisible); a NAMED but
        // MISSING file is either real damage or a scan outliving its
        // keep-one-back window. FileNotFoundException so that
        // Compaction.retryingStaleScan heals the latter by re-planning;
        // persistent damage stays loud and fsckIndexed reports it.
        // Resolved from `liveIndex`, NOT the keyCol-matched `index`: the
        // manifest file set is key-agnostic — a scan whose `key` option
        // mismatches the index still must not read strays as rows (it just
        // forfeits range pruning, which stays keyCol-gated below).
        val byName = listed.map(st => st.getPath.getName -> st).toMap
        ix.files.toSeq.sorted.map(n => byName.getOrElse(n,
          throw new java.io.FileNotFoundException(
            s"graft: manifest index names missing data file $n under $path " +
              "— a scan past its keep-one-back window (re-plan and retry), " +
              "or damage: run graft.store.KeyedStore.fsckIndexed")))
      case _ => listed
    }
  }

  /** Filters received at EXECUTION time (e.g. the key IN-set a broadcast join
    * produces via dynamic pruning) — the multi-get-join analogue: the join's
    * key set prunes splits the same way an explicit `withKeys` would. */
  @transient private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(keyCol))

  override def filter(filters: Array[Filter]): Unit = runtimeFilters = filters

  private def keyBounds: KeyBounds =
    KeyBounds.fromFilters(pushed ++ runtimeFilters, keyCol)

  /** As-of addressing: pin the scan to a RETAINED index version instead of
    * the live one — the undo/audit read (`KeyedStore.readKeyedPrevious` /
    * `readKeyedAsOf`) on the connector's own plan path, so a past snapshot
    * gets the same key pruning and pushdown as the live table (reference
    * analogue: HBase time-range reads, Query2.scala:345-359). */
  private val asofVersion: Option[Long] =
    Option(options.get("graft.asofVersion")).map(_.toLong)

  /** The resolved index version regardless of key column — the authority on
    * WHICH files are live (manifest dialect): the newest, or the as-of
    * pinned one. */
  @transient private lazy val liveIndex: Option[GraftIndex] = asofVersion match {
    case Some(v) =>
      Some(GraftIndex.readAllVersioned(new Path(path), hadoopConf)
        .collectFirst { case (ver, ix) if ver == v => ix }
        .getOrElse(throw new java.util.NoSuchElementException(
          s"graft: no retained index version $v under $path — as-of reads " +
            s"address versions inside the ${GraftIndex.KeepVersionsConf} " +
            "window (vacuumed or never-committed versions are gone)")))
    case None => GraftIndex.read(new Path(path), hadoopConf)
  }

  /** The index as a PRUNING source: only usable when its key column is the
    * one this scan's predicates constrain. */
  @transient private lazy val index: Option[GraftIndex] =
    liveIndex.filter(_.keyCol == keyCol)

  /** (kept files, total files, rows-if-known). Pruning order: sidecar index,
    * else parquet footer stats (bounded), else keep everything. Recomputed per
    * call — runtime filters can arrive after planning. */
  private def pruning: (Seq[FileStatus], Int, Option[Long]) = {
    val total = allFiles.size
    val bounds = keyBounds
    val filterKept: Seq[FileStatus] =
      if (!pruneEnabled || bounds.unconstrained) allFiles
      else index match {
        case Some(ix) =>
          allFiles.filter { st =>
            ix.ranges.get(st.getPath.getName) match {
              case Some((lo, hi, _)) => bounds.intersects(lo, hi)
              case None => true // file not in index (late arrival) — keep
            }
          }
        case None if total <= footerPruneMaxFiles =>
          allFiles.filter { st =>
            FooterStats.keyRange(st, keyCol, hadoopConf) match {
              case Some((lo, hi)) => bounds.intersects(lo, hi)
              case None => true // no usable stats — keep
            }
          }
        case None => allFiles
      }
    // scanUntil: an unfiltered LIMIT with exact index row counts schedules
    // only enough files to cover n rows (any filter makes counts inexact)
    val kept = (limit, index) match {
      case (Some(n), Some(ix))
          if pushed.isEmpty && runtimeFilters.isEmpty && pruneEnabled =>
        var acc = 0L
        filterKept.takeWhile { st =>
          val take = acc < n
          acc += ix.rowsOf(st.getPath.getName).getOrElse(Long.MaxValue / 2)
          take
        }
      case _ => filterKept
    }
    val rows = index.map(ix => kept.map(st =>
      ix.rowsOf(st.getPath.getName).getOrElse(0L)).sum)
    (kept, total, rows)
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val (kept, _, _) = pruning
    GraftReaders.filePartitions(spark, kept)
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, dataSchema, required, pushed, options)

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaders.parquetFactory(spark, hadoopConf, dataSchema, required, pushed,
      caseSensitiveOptions)

  /** Post-prune size/rows — lets Catalyst broadcast a range-pruned read that
    * would look too big by raw directory size. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val (kept, _, rows) = pruning
    override def sizeInBytes(): OptionalLong = OptionalLong.of(kept.map(_.getLen).sum)
    override def numRows(): OptionalLong =
      rows.map(OptionalLong.of).getOrElse(OptionalLong.empty())
  }

  override def description(): String = {
    val (kept, total, _) = pruning
    val lim = limit.map(n => s" limit=$n").getOrElse("")
    val rt = if (runtimeFilters.nonEmpty)
      s" runtimeFilters=[${runtimeFilters.mkString(", ")}]" else ""
    s"GraftScan path=$path key=$keyCol files=${kept.size}/$total " +
      s"index=${if (index.isDefined) "sidecar" else "footer"}$lim$rt " +
      s"PushedFilters: [${pushed.mkString(", ")}], ReadSchema: ${required.catalogString}"
  }
}

/** Shared reader-factory construction for the batch and micro-batch scans. */
private[graft] object GraftReaders {
  /** Prime the hadoop conf exactly as Spark's own ParquetScan.createReaderFactory
    * does (apache/spark sql/core .../v2/parquet/ParquetScan.scala, Apache-2.0) —
    * the task-side reader resolves its ReadSupport and requested schema from
    * these keys and NPEs without them. */
  def parquetFactory(spark: SparkSession, hadoopConf: Configuration,
      dataSchema: StructType, required: StructType, pushed: Array[Filter],
      caseSensitiveOptions: Map[String, String]): PartitionReaderFactory = {
    val conf = spark.sessionState.conf
    val hc = new Configuration(hadoopConf)
    val readDataSchemaAsJson = required.json
    hc.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    hc.set(org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      .SPARK_ROW_REQUESTED_SCHEMA, readDataSchemaAsJson)
    hc.set(org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .SPARK_ROW_SCHEMA, readDataSchemaAsJson)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hc.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, conf.nestedSchemaPruningEnabled)
    hc.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport.setSchema(required, hc)
    hc.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, conf.isParquetBinaryAsString)
    hc.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, conf.isParquetINT96AsTimestamp)
    hc.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, conf.legacyParquetNanosAsLong)
    hc.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hc.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, conf.parquetFieldIdReadEnabled)
    val broadcastConf = spark.sparkContext.broadcast(new SerializableConfiguration(hc))
    ParquetPartitionReaderFactory(conf, broadcastConf, dataSchema,
      required, StructType(Nil), pushed, None,
      new ParquetOptions(caseSensitiveOptions, conf))
  }

  /** Size-balanced splits over a file set (shared by batch and streaming). */
  def filePartitions(spark: SparkSession, files: Seq[FileStatus]): Array[InputPartition] = {
    val totalBytes = files.map(_.getLen).sum
    val maxSplit = FilePartition.maxSplitBytes(spark,
      totalBytes + files.size * spark.sessionState.conf.filesOpenCostInBytes)
    val splits = files.flatMap { st =>
      (0L until st.getLen by maxSplit).map { off =>
        PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), off,
          math.min(maxSplit, st.getLen - off), Array.empty, st.getModificationTime, st.getLen)
      }
    }
    FilePartition.getFilePartitions(spark, splits, maxSplit).toArray
  }
}

/**
 * Streaming micro-batch reads of a keyed table:
 * `spark.readStream.format("graft").option("key", k).load(path)` tails the
 * table directory — each new data file (e.g. an indexed merge's output, or an
 * append through the graft write path) is picked up once, in (mtime, name)
 * order. Pushed filters STILL prune: a key-filtered stream skips non-
 * intersecting new files via the sidecar index before they are ever
 * scheduled, so "tail the hot key range of a 100 TB table" reads only the
 * files that range touches. Offsets are the (mtime, name) high-water mark —
 * restart-safe through the checkpoint, assuming append-style arrivals (new
 * files get fresh mtimes, the keyed-store write paths' behavior).
 *
 * Spark's V2ScanRelationPushDown only runs for BATCH relations, so a
 * streaming `.where(key = 42)` never reaches `pushFilters` — key pruning for
 * streams is therefore declared via options, as a file-level prune HINT to be
 * paired with the row-level `.where`:
 * `graft.keyLowerBound` / `graft.keyUpperBound` (inclusive) and
 * `graft.keyEquals` (comma-separated IN-set). Files whose key range cannot
 * intersect the declared bounds are never scheduled; rows inside kept files
 * still need the explicit filter.
 */
class GraftMicroBatchStream(spark: SparkSession, dataSchema: StructType,
    required: StructType, pushed: Array[Filter], options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val path = GraftDataSource.pathOf(options)
  private val keyCol = options.getOrDefault("key", "key")
  private val pruneEnabled = options.getBoolean("prune", true)
  private val caseSensitiveOptions: Map[String, String] =
    options.asCaseSensitiveMap().asScala.toMap
  @transient private lazy val hadoopConf: Configuration =
    spark.sessionState.newHadoopConfWithOptions(caseSensitiveOptions)

  private def listFiles(): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    if (!fs.exists(p)) return Seq.empty
    val root = fs.getFileStatus(p)
    val listed =
      if (root.isFile) Seq(root)
      else fs.listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    // manifest-dialect tables: stream only COMMITTED files — staged files a
    // mutation renamed in but has not yet published, and swap strays, are
    // invisible (they'd double rows in the tail otherwise). Key-AGNOSTIC
    // like the batch scan's file resolution: a mismatched `key` option
    // forfeits range pruning (planInputPartitions), never stray filtering.
    GraftIndex.read(p, hadoopConf).filter(_.manifest) match {
      case Some(ix) => listed.filter(st => ix.files.contains(st.getPath.getName))
      case None => listed
    }
  }

  private def ord(st: FileStatus): (Long, String) =
    (st.getModificationTime, st.getPath.getName)

  /** The option-declared key bounds (see class doc), typed by the key column
    * so numeric keys compare numerically against the index. */
  private def optionBoundFilters: Array[Filter] = {
    val numeric = dataSchema.fieldNames.contains(keyCol) &&
      dataSchema(keyCol).dataType.isInstanceOf[NumericType]
    def parse(v: String): Any = if (numeric) new java.math.BigDecimal(v) else v
    val b = Array.newBuilder[Filter]
    Option(options.get("graft.keyLowerBound"))
      .foreach(v => b += GreaterThanOrEqual(keyCol, parse(v)))
    Option(options.get("graft.keyUpperBound"))
      .foreach(v => b += LessThanOrEqual(keyCol, parse(v)))
    Option(options.get("graft.keyEquals"))
      .foreach(v => b += In(keyCol, v.split(',').map(s => parse(s.trim))))
    b.result()
  }

  override def initialOffset(): Offset = GraftStreamOffset(-1L, "")

  override def latestOffset(): Offset = {
    val files = listFiles()
    if (files.isEmpty) initialOffset()
    else {
      val (m, n) = files.map(ord).max
      GraftStreamOffset(m, n)
    }
  }

  override def deserializeOffset(json: String): Offset = GraftStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset]
    val e = end.asInstanceOf[GraftStreamOffset]
    import scala.math.Ordering.Implicits._
    val window = listFiles().filter { st =>
      val o = ord(st)
      o > ((s.mtime, s.name)) && o <= ((e.mtime, e.name))
    }
    // same index pruning as the batch scan — a key-ranged tail never
    // schedules files outside the key range
    val bounds = KeyBounds.fromFilters(pushed ++ optionBoundFilters, keyCol)
    val kept =
      if (!pruneEnabled || bounds.unconstrained) window
      else GraftIndex.read(new Path(path), hadoopConf).filter(_.keyCol == keyCol) match {
        case Some(ix) => window.filter { st =>
          ix.ranges.get(st.getPath.getName) match {
            case Some((lo, hi, _)) => bounds.intersects(lo, hi)
            case None => true
          }
        }
        case None => window
      }
    GraftReaders.filePartitions(spark, kept)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaders.parquetFactory(spark, hadoopConf, dataSchema, required, pushed,
      caseSensitiveOptions)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** (mtime, name) high-water mark, JSON-serialized into the checkpoint. */
final case class GraftStreamOffset(mtime: Long, name: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"mtime":$mtime,"name":"${name.replace("\\", "\\\\").replace("\"", "\\\"")}"}"""
}

object GraftStreamOffset {
  def fromJson(json: String): GraftStreamOffset = {
    val m = "\"mtime\":(-?\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(-1L)
    val n = "\"name\":\"(.*)\"".r.findFirstMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).getOrElse("")
    GraftStreamOffset(m, n)
  }
}

/**
 * Conjunctive key constraints extracted from pushed filters: an interval
 * (lo/hi with inclusivity) plus an optional IN-set, compared in the key's own
 * ordering (numeric via BigDecimal, strings in UTF-8 byte order — matching
 * Spark's and parquet's ordering and the recorded file bounds; Java's
 * UTF-16 order differs on supplementary characters).
 */
final case class KeyBounds(
    lo: Option[(BigDecimal, Boolean)], hi: Option[(BigDecimal, Boolean)],
    sLo: Option[(String, Boolean)], sHi: Option[(String, Boolean)],
    inSet: Option[Seq[Any]]) {

  def unconstrained: Boolean =
    lo.isEmpty && hi.isEmpty && sLo.isEmpty && sHi.isEmpty && inSet.isEmpty

  // the IN-set as UTF-8 strings, encoded once for every file's check
  @transient private lazy val inUtf8: Option[Seq[UTF8String]] =
    inSet.map(_.map(v => UTF8String.fromString(v.toString)))

  /** Can any key in [fileLo, fileHi] satisfy the constraints? `fileLo`/`fileHi`
    * are normalized values (BigDecimal or String) from the index/footer. */
  def intersects(fileLo: Any, fileHi: Any): Boolean = (fileLo, fileHi) match {
    case (fl: BigDecimal, fh: BigDecimal) =>
      val loOk = lo.forall { case (v, incl) => if (incl) fh >= v else fh > v }
      val hiOk = hi.forall { case (v, incl) => if (incl) fl <= v else fl < v }
      val inOk = inSet.forall(_.exists { v =>
        KeyBounds.num(v).exists(b => b >= fl && b <= fh)
      })
      loOk && hiOk && inOk
    case (fl: String, fh: String) =>
      val (l, h) = (UTF8String.fromString(fl), UTF8String.fromString(fh))
      val loOk = sLo.forall { case (v, incl) =>
        val c = h.compareTo(UTF8String.fromString(v)); if (incl) c >= 0 else c > 0 }
      val hiOk = sHi.forall { case (v, incl) =>
        val c = l.compareTo(UTF8String.fromString(v)); if (incl) c <= 0 else c < 0 }
      val inOk = inUtf8.forall(_.exists(u => u.compareTo(l) >= 0 && u.compareTo(h) <= 0))
      loOk && hiOk && inOk
    case _ => true // unknown stats type — keep the file
  }
}

object KeyBounds {
  private val none = KeyBounds(None, None, None, None, None)

  private[sql] def num(v: Any): Option[BigDecimal] = v match {
    case n: java.lang.Number => Some(BigDecimal(n.toString))
    case _ => None
  }

  /** Spark's string order (UTF-8 bytes), which the sorted files, the
    * recorded key bounds and the key→file router all follow. */
  def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  def fromFilters(filters: Array[Filter], keyCol: String): KeyBounds =
    filters.foldLeft(none)((acc, f) => and(acc, fromFilter(f, keyCol)))

  private def and(a: KeyBounds, b: KeyBounds): KeyBounds = KeyBounds(
    tight(a.lo, b.lo)(_ > _), tight(a.hi, b.hi)(_ < _),
    tight(a.sLo, b.sLo)(utf8Cmp(_, _) > 0), tight(a.sHi, b.sHi)(utf8Cmp(_, _) < 0),
    (a.inSet, b.inSet) match {
      case (Some(x), Some(y)) => Some(x.intersect(y))
      case (x, y) => x.orElse(y)
    })

  /** Keep the tighter of two optional bounds (`wins` = strictly tighter). */
  private def tight[T](a: Option[(T, Boolean)], b: Option[(T, Boolean)])(
      wins: (T, T) => Boolean): Option[(T, Boolean)] = (a, b) match {
    case (Some((av, ai)), Some((bv, bi))) =>
      if (wins(av, bv)) a
      else if (wins(bv, av)) b
      else Some((av, ai && bi))
    case (x, y) => x.orElse(y)
  }

  private def point(v: Any): KeyBounds = num(v) match {
    case Some(b) => none.copy(lo = Some((b, true)), hi = Some((b, true)))
    case None => none.copy(sLo = Some((v.toString, true)), sHi = Some((v.toString, true)))
  }

  private def fromFilter(f: Filter, key: String): KeyBounds = f match {
    case EqualTo(`key`, v) if v != null => point(v)
    case EqualNullSafe(`key`, v) if v != null => point(v)
    case In(`key`, vs) if vs != null && vs.nonEmpty && !vs.contains(null) =>
      none.copy(inSet = Some(vs.toSeq))
    case GreaterThan(`key`, v) if v != null =>
      num(v).map(b => none.copy(lo = Some((b, false))))
        .getOrElse(none.copy(sLo = Some((v.toString, false))))
    case GreaterThanOrEqual(`key`, v) if v != null =>
      num(v).map(b => none.copy(lo = Some((b, true))))
        .getOrElse(none.copy(sLo = Some((v.toString, true))))
    case LessThan(`key`, v) if v != null =>
      num(v).map(b => none.copy(hi = Some((b, false))))
        .getOrElse(none.copy(sHi = Some((v.toString, false))))
    case LessThanOrEqual(`key`, v) if v != null =>
      num(v).map(b => none.copy(hi = Some((b, true))))
        .getOrElse(none.copy(sHi = Some((v.toString, true))))
    // A p-prefixed string s satisfies p <= s <= p + '￿'… ; a file range
    // [lo, hi] can contain one iff hi >= p and lo's first |p| chars <= p.
    case StringStartsWith(`key`, p) if p != null =>
      none.copy(sLo = Some((p, true)), sHi = None) // lower bound is exact;
      // the upper side is handled conservatively (no bound) — still prunes
      // every file strictly below the prefix.
    case And(l, r) => and(fromFilter(l, key), fromFilter(r, key))
    // Or/Not could only prune if BOTH branches constrain the key; skip (keep).
    case _ => none
  }
}

/**
 * The sidecar key-range index: one small `_graft_index.v<seq>` file per table
 * dir mapping data-file name → (min key, max key, row count). TSV with
 * URL-encoded values, written through the Hadoop FileSystem so any store works.
 * The 100 TB read path: one index fetch replaces listing+opening 100k parquet
 * footers.
 *
 * Two dialects, distinguished by the header version:
 *  - **v1 (advisory)**: the index is a pruning HINT — data files not listed
 *    in it are always kept (late arrivals). The pre-round-13 dialect; still
 *    read, never written.
 *  - **v2 (manifest)**: the entry set IS the live file set. Data files in
 *    the directory but not in the newest index are invisible STRAYS (debris
 *    of interrupted swaps), which is what makes the keyed-store mutation
 *    verbs crash-safe and reader-concurrent: a swap renames staged files in
 *    FIRST (invisible until committed), then atomically publishes a new
 *    index version, and the replaced originals stay on disk as strays
 *    protected by the PREVIOUS index version (keep-one-back — a reader that
 *    planned just before the commit keeps every file it resolved). Files a
 *    v2 index names but whose key range is unknowable (all-null keys) carry
 *    as UNRANGED entries: always scanned, never pruned.
 *
 * Commit protocol (fenced): each write lands as `_graft_index.v<seq>` via
 * CREATE-EXCLUSIVE on the final name — two maintainers racing to the same
 * seq produce exactly one winner; the loser throws
 * [[GraftConcurrentCommitException]] instead of silently replacing the
 * winner's commit (the lost-acked-write race the crash windows' fix left
 * open). The payload carries the sealed magic (`graft-index-sealed`, whose
 * truncation prefixes match no accepted magic — a header-line cut can never
 * demote a sealed file to a valid-but-empty legacy index) and a
 * `#commit <n>` trailer:
 * readers treat a version without a matching trailer (a commit mid-write,
 * or a crash mid-commit) as absent and fall back to the previous version —
 * the same keep-one-back fallback that already protects in-flight readers,
 * so visibility stays effectively atomic without rename. Mutation verbs
 * additionally pass the version they PLANNED from (`basedOn`): a commit
 * whose base is no longer current is fenced off before touching anything —
 * optimistic concurrency, the HBase-region-serialization analogue
 * (reference HbaseTable.scala:373-423 never loses an acked write because
 * the region server owns the ordering; here the index version owns it).
 * Create-exclusive is namenode-atomic on HDFS and O_EXCL-atomic on local
 * fs (NIO reservation). On object stores where create(overwrite = false)
 * is check-then-create (no conditional PUT), every commit additionally
 * VERIFIES AFTER WRITE ([[GraftIndex.writeCommitFile]]): the payload
 * carries an attempt-unique nonce, the committed bytes are re-read and
 * byte-compared, and a mismatch throws before any post-commit step — a
 * racer that silently replaced this commit is detected and this writer
 * loses LOUDLY. The residual window (a PUT landing after the verify read)
 * is CLOSED when a [[CommitArbiter]] is registered for the store's scheme
 * (a conditional-PUT/If-None-Match dialect — the arbiter's create is
 * atomic, so no late PUT can exist), and bounded to the PUT-to-verify
 * latency otherwise; arbiter-less stores needing zero-window guarantees
 * should serialize maintainers (the documented contract).
 *
 * Readers take the highest parseable version; the legacy un-suffixed
 * `_graft_index` file reads as version 0. Writers retain the newest
 * `graft.keepVersions` versions (default [[GraftIndex.KeepVersions]]) —
 * each retained version is a readable PAST SNAPSHOT, the exact analogue of
 * [[graft.store.ManifestTable]]'s keep-one-back generation; see
 * `KeyedStore.readKeyedPrevious(back = n)`.
 */
final case class GraftIndex(
    keyCol: String, keyTag: String, ranges: Map[String, (Any, Any, Long)],
    unranged: Map[String, Long] = Map.empty, manifest: Boolean = false) {
  def totalRows: Long =
    ranges.valuesIterator.map(_._3).sum + unranged.valuesIterator.sum
  /** Every data file this index names (ranged + unranged). */
  def files: Set[String] = ranges.keySet ++ unranged.keySet
  def rowsOf(name: String): Option[Long] =
    ranges.get(name).map(_._3).orElse(unranged.get(name))
}

object GraftIndex {
  val FileName = "_graft_index"
  /** Default index versions retained per commit: the newest is the live
    * manifest, the one before funds in-flight readers (keep-one-back).
    * Override per session with `graft.keepVersions` — every retained
    * version is a readable past snapshot (undo depth = keepVersions - 1). */
  val KeepVersions = 2
  /** Session conf controlling retained version/generation depth on every
    * graft layout (this index AND [[graft.store.ManifestTable]]). */
  val KeepVersionsConf = "graft.keepVersions"

  def keepVersionsOf(spark: SparkSession): Int =
    math.max(2, spark.conf.getOption(KeepVersionsConf)
      .map(_.toInt).getOrElse(KeepVersions))

  /** The order the key→file router compares index bounds in: numeric, or
    * UTF-8 bytes for strings (Spark's string order, which the sorted files
    * follow too). */
  def keyOrder(tag: String)(a: Any, b: Any): Int =
    if (tag == "num") a.asInstanceOf[BigDecimal].compare(b.asInstanceOf[BigDecimal])
    else KeyBounds.utf8Cmp(a.toString, b.toString)

  /** Pairs of key ranges (index-dialect bounds of key tag `tag`) that
    * overlap in [[keyOrder]] — 0 on any layout the key→file router can
    * serve exactly. */
  def overlappingRanges(tag: String, ranges: Iterable[(Any, Any, Long)]): Int = {
    val cmp = keyOrder(tag) _
    val sorted = ranges.toArray.sortWith((a, b) => cmp(a._1, b._1) < 0)
    // each range against every later one it reaches: sorted by lo, so the
    // scan stops at the first later range starting past this one's hi
    sorted.indices.map { i =>
      var j = i + 1
      while (j < sorted.length && cmp(sorted(j)._1, sorted(i)._2) <= 0) j += 1
      j - i - 1
    }.sum
  }

  /**
   * Open a staged rewrite of keyed table `dir`: the live index version for
   * `keyCol`, upgraded to the manifest dialect (itself a fenced commit) so
   * the rewrite's swap is crash-safe and reader-concurrent. The returned
   * version is the rewrite's optimistic-concurrency fence: its
   * [[commitStaged]] aborts loudly if another maintainer published a
   * version in between. None when `dir` has no index usable for `keyCol`.
   */
  def openRewrite(spark: SparkSession, dir: String,
      keyCol: String): Option[(Long, GraftIndex)] =
    readAllVersioned(new Path(dir), spark.sessionState.newHadoopConf()).headOption
      .filter(_._2.keyCol == keyCol)
      .map { case (v, ix) => ensureManifestVersioned(spark, dir, v, ix) }

  /** Write `df` through the graft write into a fresh staging dir of table
    * `dir`, `<dir>__staging-<salt>`, and return it: each partition becomes
    * one file whose key stats land in the staging dir's own sidecar. The
    * salt is per attempt, so racing maintainers never share a staging dir
    * (they collide only at the fenced commit). */
  def stage(df: org.apache.spark.sql.DataFrame, dir: String, keyCol: String): Path = {
    val staging = new Path(s"$dir$StagingInfix${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.format("graft").option("key", keyCol).mode("overwrite").save(staging.toString)
    staging
  }

  /** The name infix of every staging dir next to a table: [[stage]]'s and
    * `KeyedStore`'s full-rewrite fallback's. */
  val StagingInfix = "__staging-"

  /**
   * Commit a staged rewrite of keyed table `dir` — the one commit protocol
   * of every keyed-table rewrite (`KeyedStore.mergeIndexed`,
   * `KeyedStore.compact`, [[GraftTable.deleteWhere]]), the crash-safe
   * analogue of HBase applying a mutation chain as one `htable.batch`
   * (reference HbaseTable.scala:373-423 never loses acked region writes).
   * `base` is the `(version, index)` from [[openRewrite]]; `replaced` names
   * the live files the `staged` dirs ([[stage]]) replace. In order:
   *
   *  1. GUARD ([[guardStaged]]): every staged file is in its dir's
   *     sidecar, and no staged range overlaps another or an untouched live
   *     one — else the staging is deleted and nothing is applied.
   *  2. RENAME IN under fresh `<prefix><stamp>-<salt>-<i>.parquet` names:
   *     invisible, because manifest-dialect readers resolve the file set
   *     from the index.
   *  3. COMMIT: one fenced index version (`basedOn` the base version).
   *     Replaced files stay on disk as strays the previous version funds
   *     (keep-one-back), for readers that planned against it.
   *  4. SWEEP: the staging dirs, then the strays out of window.
   *
   * A crash before step 3 leaves the old snapshot exactly (the renamed-in
   * files are strays, swept by the next write or `KeyedStore.fsckIndexed`);
   * a crash after it leaves the new snapshot exactly. `verb` names the
   * rewrite in errors.
   */
  def commitStaged(spark: SparkSession, dir: String, base: (Long, GraftIndex),
      replaced: Set[String], staged: Seq[Path], prefix: String, verb: String): Unit = {
    val (version, ix) = base
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val untouchedRanged = ix.ranges -- replaced
    val sidecars = guardStaged(fs, staged, ix, untouchedRanged, s"$verb: $dir")
    val files = sidecars.flatMap { case (s, six) => six.files.toSeq.sorted.map(n => (s, n, six)) }
    val moved = files.zip(renameIn(fs, files.map { case (s, n, _) => new Path(s, n) },
      dirPath, prefix, verb))
    writeRanges(spark, dir, ix.keyCol, ix.keyTag,
      untouchedRanged ++ moved.flatMap { case ((_, n, six), m) => six.ranges.get(n).map(m -> _) },
      ix.unranged -- replaced ++
        moved.flatMap { case ((_, n, six), m) => six.unranged.get(n).map(m -> _) },
      manifest = true, basedOn = Some(version)): Unit // FENCED COMMIT POINT
    staged.foreach(fs.delete(_, true))
    sweepStrays(spark, dir): Unit
  }

  /** The guard before a rewrite's commit: each `staged` dir's sidecar (for
    * `base`'s key) must name every data file in that dir, and no staged
    * range may overlap another staged range or an `untouched` live one.
    * Otherwise the staging is deleted and the rewrite (`what`) fails having
    * applied nothing. Returns each staged dir with its sidecar. */
  private def guardStaged(fs: FileSystem, staged: Seq[Path], base: GraftIndex,
      untouched: Map[String, (Any, Any, Long)], what: String): Seq[(Path, GraftIndex)] = {
    def refuse(why: String): Nothing = {
      staged.foreach(fs.delete(_, true))
      throw new IllegalStateException(s"$what: $why — staging deleted, nothing applied")
    }
    val sidecars = staged.map { s =>
      val six = read(s, fs.getConf).filter(_.keyCol == base.keyCol)
        .getOrElse(GraftIndex(base.keyCol, base.keyTag, Map.empty))
      if (!listDataFiles(fs, s).forall(st => six.files.contains(st.getPath.getName)))
        refuse(s"the staged write at $s left files out of its index")
      s -> six
    }
    val overlaps = overlappingRanges(base.keyTag,
      untouched.values ++ sidecars.flatMap(_._2.ranges.values))
    if (overlaps > 0) refuse(s"$overlaps staged key range(s) overlap another live range")
    sidecars
  }

  /** Move staged data files into `dir` under fresh
    * `<prefix><stamp>-<salt>-<i>.parquet` names, in the given order, and
    * return the new names. The salt is per attempt, so racing maintainers
    * never share a final name (where POSIX rename would silently replace
    * bytes). */
  private[graft] def renameIn(fs: FileSystem, files: Seq[Path], dir: Path,
      prefix: String, verb: String): Seq[String] = {
    val stamp = System.currentTimeMillis()
    val salt = java.util.UUID.randomUUID().toString.take(8)
    files.zipWithIndex.map { case (f, i) =>
      val name = f"$prefix$stamp%d-$salt-$i%05d.parquet"
      if (!fs.rename(f, new Path(dir, name)))
        throw new java.io.IOException(s"$verb: cannot move $f into $dir")
      name
    }
  }

  /** For each of `n` partitions, an int whose Spark hash (Murmur3, seed 42
    * — `HashPartitioning`'s) lands in that partition of an `n`-way
    * `repartition`: a rewrite places its rows in exact output slots. */
  def hashPreimages(n: Int): Array[Int] = {
    val out = Array.fill(n)(-1)
    var left = n
    var v = 0
    while (left > 0) {
      val p = Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42), n)
      if (out(p) < 0) { out(p) = v; left -= 1 }
      v += 1
    }
    out
  }

  def tagOf(dt: DataType): Option[String] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some("num")
    case DoubleType | FloatType | _: DecimalType => Some("num")
    case StringType => Some("str")
    case _ => None // unsupported key type — no index, connector keeps all files
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  // unranged-entry bound marker: '#' is never produced by URLEncoder, so it
  // cannot collide with an encoded key value
  private val NoBound = "#"

  private def normalize(tag: String, v: Any): Any =
    if (tag == "num") BigDecimal(v.toString) else v.toString

  /** Per-file key stats of `keyCol` over the given files, computed
    * distributedly (one shuffle of #paths rows; driver memory O(paths)).
    * Files whose keys are all null have no usable range and come back in
    * the second (unranged: name → rows) map. */
  def computeEntries(spark: SparkSession, paths: Seq[String],
      keyCol: String, tag: String)
      : (Map[String, (Any, Any, Long)], Map[String, Long]) = {
    val rows = spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(keyCol)).as("lo"), max(col(keyCol)).as("hi"), count(lit(1)).as("n"))
      .collect()
    def nameOf(r: org.apache.spark.sql.Row): String =
      URLDecoder.decode(r.getString(0).split('/').last, UTF_8)
    val (ranged, nullKeyed) = rows.partition(r => !r.isNullAt(1) && !r.isNullAt(2))
    (ranged.map { r =>
      nameOf(r) -> ((normalize(tag, r.get(1)), normalize(tag, r.get(2)), r.getLong(3)))
    }.toMap,
      nullKeyed.map(r => nameOf(r) -> r.getLong(3)).toMap)
  }

  /** Spark's row-metadata footer key: the writing schema as JSON. */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The table schema from the footer of one data file that the live index
    * (or retained `version`) names — see [[footerSchema]]. None without an
    * index, or when that file has no row metadata. */
  def liveSchema(dir: Path, conf: Configuration,
      version: Option[Long] = None): Option[StructType] = {
    val ix = version match {
      case Some(v) => readAllVersioned(dir, conf).find(_._1 == v).map(_._2)
      case None => read(dir, conf)
    }
    ix.flatMap(i => footerSchema(dir, conf, i.files.toSeq.sorted.take(1)))
  }

  /** The schema of data files `names` of `dir`: the row-metadata JSON every
    * Spark parquet writer records in the footer (the graft write path
    * included), merged across the files — a column any of them carries is
    * kept, so files written before and after an added column read as one
    * schema — and made nullable as a file-source read makes it. One footer
    * read per file on the driver, no Spark job. None when no file has such
    * metadata. */
  def footerSchema(dir: Path, conf: Configuration,
      names: Seq[String]): Option[StructType] =
    names.flatMap { name =>
      scala.util.Try {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(dir, name), conf))
        try reader.getFooter.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey)
        finally reader.close()
      }.toOption.flatMap(Option(_))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case st: StructType => st.asNullable }
    }.reduceOption(_ merge _)

  /** The on-disk index version files of a table dir, ascending by version
    * (the legacy un-suffixed file is version 0). */
  def versionFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(Long, Path)] = {
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).filter(_.isFile).map(_.getPath).toSeq.flatMap { p =>
      val n = p.getName
      if (n == FileName) Some(0L -> p)
      else if (n.startsWith(FileName + ".v"))
        scala.util.Try(n.stripPrefix(FileName + ".v").toLong).toOption.map(_ -> p)
      else None
    }.sortBy(_._1)
  }

  /** CREATE-EXCLUSIVE through the FileSystem API — the fencing primitive.
    * RawLocal/LocalFileSystem's `create(overwrite = false)` is
    * check-then-create, not O_EXCL, so on local stores the name is first
    * reserved atomically through NIO (true O_EXCL); HDFS `create` is
    * namenode-atomic as is. Throws [[GraftConcurrentCommitException]] when
    * the name already exists (the caller lost a commit race). */
  def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      target: Path): org.apache.hadoop.fs.FSDataOutputStream = {
    def lost(cause: Throwable): Nothing = throw new GraftConcurrentCommitException(
      s"graft: lost the commit race for $target — a concurrent maintainer " +
        "published this version first; this commit was NOT applied (writers " +
        "must be serialized; retry from fresh state)", cause)
    val isLocal = "file" == Option(target.toUri.getScheme)
      .getOrElse(fs.getUri.getScheme)
    try {
      if (isLocal) {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(target.toUri.getPath)) // O_EXCL reservation
        fs.create(target, true) // the name is ours; fill our own placeholder
      } else fs.create(target, false)
    } catch {
      case e: java.nio.file.FileAlreadyExistsException => lost(e)
      case e: org.apache.hadoop.fs.FileAlreadyExistsException => lost(e)
      case e: java.io.IOException if fs.exists(target) => lost(e)
    }
  }

  // Schemes whose create(overwrite = false) is genuinely atomic — HDFS
  // (namenode-serialized) and local fs (createExclusive takes the NIO
  // O_EXCL path there). Everything else is assumed check-then-create
  // (S3-style PUT stores) and pays the verify-after-write read below.
  private val AtomicCreateSchemes = Set("file", "hdfs", "viewfs")

  /** Whether commits through `fs` need the verify-after-write read —
    * scheme-keyed capability probe (the [[graft.store.Compaction]]
    * `committerFor` pattern), overridable via hadoop conf
    * `graft.commit.verify` = `auto` (default) | `always` | `never`. */
  def verifyAfterWrite(fs: org.apache.hadoop.fs.FileSystem): Boolean =
    fs.getConf.get("graft.commit.verify", "auto") match {
      case "always" => true
      case "never" => false
      case _ => !AtomicCreateSchemes.contains(fs.getUri.getScheme)
    }

  // Scheme-keyed conditional-commit registry (the verifyAfterWrite pattern
  // one step stronger): deployments whose object store offers a
  // conditional PUT register an arbiter once per scheme and every commit
  // file in the engine (index versions, manifest pointers, claim markers)
  // publishes through it.
  private val arbiters =
    new java.util.concurrent.ConcurrentHashMap[String, CommitArbiter]()

  /** Register the conditional-commit dialect for a scheme (e.g. an
    * If-None-Match PUT for an object store). Replaces any prior arbiter
    * for the scheme; [[unregisterArbiter]] restores the default
    * create-exclusive + verify-after-write dialect. */
  def registerArbiter(scheme: String, arbiter: CommitArbiter): Unit =
    arbiters.put(scheme, arbiter): Unit

  def unregisterArbiter(scheme: String): Unit =
    arbiters.remove(scheme): Unit

  /** The arbiter for this store, if one is registered for its scheme. */
  def arbiterFor(fs: org.apache.hadoop.fs.FileSystem): Option[CommitArbiter] =
    Option(arbiters.get(fs.getUri.getScheme))

  /**
   * Write a commit file fenced end-to-end. With a registered
   * [[CommitArbiter]] for the store's scheme, publication IS the
   * arbiter's atomic conditional create — a lost race throws, and no
   * residual window exists (a racer's PUT is itself conditional and the
   * store rejects it). Otherwise: [[createExclusive]] on the final name,
   * then — on stores where create(overwrite = false) is check-then-create
   * rather than atomic ([[verifyAfterWrite]]) — re-read the target and
   * require BYTE EQUALITY with the payload. Callers make every payload
   * attempt-unique (a nonce rides in the index trailer, the manifest
   * pointer body, and claim bodies), so on a PUT-style store where two
   * racers both pass the create check, the verify read convicts every
   * commit whose bytes were replaced: the loser throws
   * [[GraftConcurrentCommitException]] BEFORE any post-commit step
   * (pruning, claim release, data swaps) instead of returning success for
   * a commit that no longer exists — the lost-acked-write hole a bare
   * create-exclusive leaves open off-HDFS. Residual window in the
   * arbiter-less dialect: a racer whose PUT lands after this verify read
   * still replaces the commit — CLOSED when an arbiter is available
   * (conditional PUT), bounded to the PUT-to-verify latency otherwise
   * (`ConcurrencySpec` drives both dialects through the exact
   * interleaving).
   */
  def writeCommitFile(fs: org.apache.hadoop.fs.FileSystem, target: Path,
      payload: Array[Byte]): Unit = {
    arbiterFor(fs) match {
      case Some(a) => a.commit(fs, target, payload); return
      case None => ()
    }
    val out = createExclusive(fs, target)
    try out.write(payload) finally out.close()
    if (verifyAfterWrite(fs)) {
      val in = fs.open(target)
      val got = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        buf.toByteArray
      } finally in.close()
      if (!java.util.Arrays.equals(got, payload))
        throw new GraftConcurrentCommitException(
          s"graft: commit verification failed for $target — a concurrent " +
            "maintainer's bytes replaced this commit after the non-atomic " +
            "create: this commit LOST the race and was NOT applied (the " +
            "surviving bytes are the winner's; retry from fresh state)")
    }
  }

  /**
   * Atomically publish a new index version — the COMMIT POINT of every
   * keyed-store mutation verb. Fenced (see class doc): the payload is
   * written via [[createExclusive]] to the next `_graft_index.v<seq>`
   * directly (a version missing its `#commit` trailer reads as absent, so
   * visibility is still all-or-nothing for readers), and when `basedOn` is
   * given the commit aborts if the current version is no longer the one
   * the mutation planned from. Prunes versions beyond `graft.keepVersions`
   * afterwards. Returns the committed version seq.
   */
  def writeRanges(spark: SparkSession, dir: String, keyCol: String,
      tag: String, ranges: Map[String, (Any, Any, Long)],
      unranged: Map[String, Long] = Map.empty,
      manifest: Boolean = false, basedOn: Option[Long] = None): Long = {
    val version = if (manifest) "v2" else "v1"
    // the sealed dialect lives in the MAGIC itself ([[SealedMagic]]): a
    // crash that truncates inside the header line can only leave a strict
    // prefix of "graft-index-sealed", which matches neither magic — it can
    // never be mistaken for a legacy (trailer-optional) index with zero
    // files, so torn commits always read as ABSENT, never as empty
    val sb = new StringBuilder(s"$SealedMagic\t$version\t${enc(keyCol)}\t$tag\n")
    ranges.toSeq.sortBy(_._1).foreach { case (name, (lo, hi, n)) =>
      sb.append(s"${enc(name)}\t${enc(lo.toString)}\t${enc(hi.toString)}\t$n\n")
    }
    unranged.toSeq.sortBy(_._1).foreach { case (name, n) =>
      sb.append(s"${enc(name)}\t$NoBound\t$NoBound\t$n\n")
    }
    // attempt-unique nonce: lets writeCommitFile's verify read convict a
    // lost race even when two attempts would otherwise serialize the same
    // logical content (parsers ignore trailer fields past the count)
    sb.append(s"$Trailer\t${ranges.size + unranged.size}\t" +
      s"${java.util.UUID.randomUUID()}\n")
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    sweepStaleTorn(fs, dirPath)
    val existing = versionFiles(fs, dirPath)
    val current = existing.lastOption.map(_._1).getOrElse(0L)
    basedOn.foreach { b =>
      if (current != b) throw new GraftConcurrentCommitException(
        s"graft: index commit fenced off at $dir — this mutation planned " +
          s"from version $b but version $current is now current: a " +
          "concurrent maintainer committed in between; nothing was " +
          "applied (retry the whole mutation from fresh state)")
    }
    // the newest version failing to parse is a maintainer mid-commit or a
    // crashed commit's debris — refuse loudly either way (fsckIndexed
    // sweeps the debris once no writer can be in flight)
    existing.lastOption.filter { case (_, p) =>
      scala.util.Try(parse(fs, p)).toOption.flatten.isEmpty
    }.foreach { case (_, p) =>
      throw new GraftConcurrentCommitException(
        s"graft: unsealed index version $p — a concurrent maintainer is " +
          "mid-commit, or a crashed commit left debris (run " +
          "KeyedStore.fsckIndexed, then retry)")
    }
    val seq = current + 1
    writeCommitFile(fs, new Path(dirPath, s"$FileName.v$seq"),
      sb.toString.getBytes(UTF_8))
    // prune: keep the newest graft.keepVersions (this one included)
    existing.dropRight(keepVersionsOf(spark) - 1).foreach(v => fs.delete(v._2, false))
    seq
  }

  /** Bootstrap a sidecar for an existing PLAIN parquet dir: every data file
    * becomes live (manifest dialect). REFUSES on a dir that already holds a
    * manifest-dialect index — there, files outside the index are swap
    * strays, and re-indexing the listing would resurrect them as duplicate
    * rows (use KeyedStore.fsckIndexed / writeIndexed instead). */
  def write(spark: SparkSession, dir: String, keyCol: String): Unit = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(!readAll(dirPath, fs.getConf).exists(_.manifest),
      s"GraftIndex.write: $dir already carries a manifest index — files " +
        "outside it are swap strays that a re-index would resurrect; use " +
        "KeyedStore.fsckIndexed to heal or writeIndexed to rebuild")
    val df = spark.read.parquet(dir)
    tagOf(df.schema(keyCol).dataType).foreach { tag =>
      val (ranged, unranged) = computeEntries(spark, Seq(dir), keyCol, tag)
      writeRanges(spark, dir, keyCol, tag, ranged, unranged, manifest = true)
    }
  }

  /** Delete every index version — the "no usable stats: remove rather than
    * lie" path. Never valid on a manifest table (it would expose strays);
    * callers guard. */
  private[graft] def drop(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Unit =
    versionFiles(fs, dir).foreach(v => fs.delete(v._2, false))

  /** The plain data files of a table dir (no sidecars, no hidden files). */
  def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /**
   * Upgrade an advisory (v1) index to the manifest dialect: under v1, data
   * files absent from the index are LIVE late arrivals, so they are scanned
   * once for their key stats (only them — O(unindexed), not O(table)) and
   * folded in; the completed set then commits as v2. After this, every
   * mutation on the table runs the crash-safe rename-first swap. Idempotent;
   * returns the (possibly already) manifest index.
   */
  def ensureManifest(spark: SparkSession, dir: String,
      ix: GraftIndex): GraftIndex = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val version = versionFiles(fs, dirPath).lastOption.map(_._1).getOrElse(0L)
    ensureManifestVersioned(spark, dir, version, ix)._2
  }

  /** [[ensureManifest]] that also threads the index VERSION through — the
    * upgrade itself is a fenced commit, and the caller's own commit must be
    * fenced on whatever version is current after it (`basedOn`). */
  def ensureManifestVersioned(spark: SparkSession, dir: String,
      version: Long, ix: GraftIndex): (Long, GraftIndex) = {
    if (ix.manifest) return (version, ix)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val unindexed = listDataFiles(fs, dirPath).map(_.getPath)
      .filterNot(p => ix.files.contains(p.getName))
    val (extraRanged, extraUnranged) =
      if (unindexed.isEmpty) (Map.empty[String, (Any, Any, Long)], Map.empty[String, Long])
      else computeEntries(spark, unindexed.map(_.toString), ix.keyCol, ix.keyTag)
    val completed = GraftIndex(ix.keyCol, ix.keyTag, ix.ranges ++ extraRanged,
      ix.unranged ++ extraUnranged, manifest = true)
    val seq = writeRanges(spark, dir, ix.keyCol, ix.keyTag, completed.ranges,
      completed.unranged, manifest = true, basedOn = Some(version))
    (seq, completed)
  }

  /**
   * Delete data files that no RETAINED index version references — the
   * debris of interrupted or completed swaps (replaced originals past their
   * keep-one-back window, staged files whose commit never happened). Safe
   * only when every retained version is manifest-dialect (under v1 an
   * unreferenced file is live data); no-ops otherwise. Callers hold the
   * single-maintainer contract: a CONCURRENT writer's not-yet-committed
   * task files would be swept, so this runs only from mutation verbs and
   * fsck, never from readers. Returns files deleted.
   */
  def sweepStrays(spark: SparkSession, dir: String): Int = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val retained = readAll(dirPath, fs.getConf)
    if (retained.isEmpty || !retained.forall(_.manifest)) return 0
    val live = retained.flatMap(_.files).toSet
    val strays = listDataFiles(fs, dirPath)
      .map(_.getPath).filterNot(p => live.contains(p.getName))
    strays.foreach(fs.delete(_, false))
    strays.length
  }

  /** The live index: the highest parseable version. */
  def read(dir: Path, conf: Configuration): Option[GraftIndex] =
    readAll(dir, conf).headOption

  /** Every parseable index version, NEWEST FIRST — head is the live
    * manifest, the rest fund in-flight readers (keep-one-back). Fsck and
    * the post-commit sweeps protect the union of their file sets. */
  def readAll(dir: Path, conf: Configuration): Seq[GraftIndex] =
    readAllVersioned(dir, conf).map(_._2)

  /** [[readAll]] with each snapshot's version seq — mutation verbs capture
    * the head's seq as their `basedOn` fence, and as-of readers address a
    * retained past snapshot by it. */
  def readAllVersioned(dir: Path, conf: Configuration): Seq[(Long, GraftIndex)] = {
    val fs = dir.getFileSystem(conf)
    // a listed version that is GONE by the time it is read was pruned by a
    // concurrent commit: list again rather than report a window one step
    // shallower than the store holds (a torn version still reads as absent)
    def attempt(left: Int): Seq[(Long, GraftIndex)] = {
      val read = versionFiles(fs, dir).reverse.map { case (v, p) =>
        (v, p, scala.util.Try(parse(fs, p)).toOption.flatten)
      }
      if (left > 0 && read.exists { case (_, p, ix) => ix.isEmpty && !fs.exists(p) })
        attempt(left - 1)
      else read.collect { case (v, _, Some(ix)) => v -> ix }
    }
    attempt(3)
  }

  // fenced-commit trailer marker: '#' is never produced by URLEncoder, so a
  // trailer line cannot collide with an encoded file-name column
  private val Trailer = "#commit"
  // sealed-dialect magic (header field 0). The seal must be unforgeable by
  // truncation: with the old layout ("graft-index\t...\tsealed") a crash
  // cutting the file before the 5th header field parsed as a VALID legacy
  // index with zero files — readers silently saw an empty table and the
  // unsealed-newest commit fence never tripped. No strict prefix of this
  // magic equals either accepted magic, so any header-line cut reads as
  // torn (absent), keeping visibility all-or-nothing.
  private val SealedMagic = "graft-index-sealed"
  private val LegacyMagic = "graft-index"

  /** Hadoop-conf knob for the inline torn-debris lease (ms): a torn NEWEST
    * version OLDER than this is treated as crash debris and swept by the
    * next commit itself (routine crash recovery stays automatic); a
    * younger one still fences loudly — it may be a maintainer mid-commit.
    * A live commit writes its version file in one small write+close (ms),
    * so the 15-minute default is conservative by orders of magnitude. */
  val DebrisLeaseConf = "graft.commit.debrisLeaseMs"
  val DebrisLeaseDefaultMs: Long = 15L * 60 * 1000

  /** Inline self-heal at commit time (round 15 — the crash-recovery
    * operational gap): sweep torn versions (seq above the newest PARSEABLE
    * one) whose age exceeds the debris lease. Keeps the daily ingest loop
    * self-healing after a crash without an operator fsck, while a racing
    * mid-commit writer (always younger than the lease) still fences. */
  private def sweepStaleTorn(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit = {
    val lease = fs.getConf.getLong(DebrisLeaseConf, DebrisLeaseDefaultMs)
    val versions = versionFiles(fs, dir)
    if (versions.isEmpty) return
    val newestParseable = versions.reverse
      .find { case (_, p) => scala.util.Try(parse(fs, p)).toOption.flatten.isDefined }
      .map(_._1).getOrElse(-1L)
    versions.filter(_._1 > newestParseable).foreach { case (_, p) =>
      val age = System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime
      if (age > lease) fs.delete(p, false): Unit
    }
  }

  /** Delete index version files that fail to parse — the torn debris of a
    * fenced commit that died mid-write. Readers already treat them as
    * absent; sweeping them unblocks the next commit, which refuses to
    * proceed past an unsealed NEWEST version (it cannot distinguish crash
    * debris from a maintainer mid-commit; debris older than
    * [[DebrisLeaseConf]] self-heals inline). Only call when no writer can
    * be in flight (fsck's single-maintainer contract). Returns files deleted. */
  def sweepTornVersions(spark: SparkSession, dir: String): Int = {
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val torn = versionFiles(fs, dirPath).filter { case (_, p) =>
      scala.util.Try(parse(fs, p)).toOption.flatten.isEmpty
    }
    torn.foreach(v => fs.delete(v._2, false))
    torn.length
  }

  private def parse(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Option[GraftIndex] = {
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val header = lines.head.split('\t')
    val sealedDialect = header(0) == SealedMagic ||
      (header.length >= 5 && header(4) == "sealed") // pre-r15 sealed files
    if (header.length < 4 ||
      (header(0) != SealedMagic && header(0) != LegacyMagic)) return None
    val manifest = header(1) == "v2"
    val tag = header(3)
    val (trailerLines, entryLines) = lines.tail.partition(_.startsWith(Trailer))
    // sealed dialect (every fenced commit): the trailer must be present and
    // agree on the entry count, else the file is a commit mid-write or a
    // crash's torn debris — read as ABSENT so the previous retained version
    // keeps serving (visibility stays all-or-nothing without rename)
    if (sealedDialect) {
      val sealedOk = trailerLines.lastOption.map(_.split('\t')).exists(c =>
        c.length >= 2 && scala.util.Try(c(1).toLong).toOption
          .contains(entryLines.length.toLong))
      if (!sealedOk) return None
    }
    def parseVal(s: String): Any =
      if (tag == "num") BigDecimal(dec(s)) else dec(s)
    val (rangedLines, unrangedLines) =
      entryLines.map(_.split('\t')).partition(_(1) != NoBound)
    val ranges = rangedLines.map { c =>
      dec(c(0)) -> ((parseVal(c(1)), parseVal(c(2)), c(3).toLong))
    }.toMap
    val unranged = unrangedLines.map(c => dec(c(0)) -> c(3).toLong).toMap
    Some(GraftIndex(dec(header(2)), tag, ranges, unranged, manifest))
  }
}

/** Thrown when a graft commit loses a writer race or is fenced off by a
  * newer commit — the acked-write-safety twin of the crash windows: the
  * losing mutation FAILED LOUDLY and applied nothing, instead of silently
  * replacing (or being replaced by) the concurrent winner. Retry the whole
  * mutation from fresh state, or serialize the maintainers. */
class GraftConcurrentCommitException(msg: String, cause: Throwable = null)
  extends java.io.IOException(msg, cause)

/**
 * Pluggable CONDITIONAL-COMMIT capability — the zero-window commit
 * dialect for stores with compare-and-swap publication (conditional PUT /
 * If-None-Match / etag preconditions). Register per scheme via
 * [[GraftIndex.registerArbiter]]; every commit file the engine writes
 * (index versions, manifest pointers, claim markers) then publishes
 * through it. The default (arbiter-less) dialect — create-exclusive plus
 * verify-after-write on PUT stores — BOUNDS the silent-loss window to the
 * PUT-to-verify latency; an arbiter CLOSES it, because a racer's PUT is
 * itself conditional and the store rejects the second writer outright.
 */
trait CommitArbiter {
  /** Atomically publish `payload` at `target` if and only if no object
    * exists there. MUST throw [[GraftConcurrentCommitException]] on a
    * lost race (the object already exists or the precondition failed) —
    * never replace existing bytes, never return success without the
    * payload durably published. */
  def commit(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, payload: Array[Byte]): Unit
}

/** No-sidecar fallback: key min/max from parquet footer column statistics —
  * the same stats the row-group pruner uses, lifted to file granularity. */
private[graft] object FooterStats {
  def keyRange(st: FileStatus, keyCol: String, conf: Configuration): Option[(Any, Any)] = {
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        if (blocks.isEmpty) return None
        val perBlock = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == keyCol).flatMap { c =>
            val s = c.getStatistics
            if (s == null || !s.hasNonNullValue) None
            else normalize(c.getPrimitiveType.getPrimitiveTypeName,
              s.genericGetMin.asInstanceOf[AnyRef], s.genericGetMax.asInstanceOf[AnyRef])
          }
        }
        // every row group needs usable stats, else the file range is unknown
        if (perBlock.exists(_.isEmpty)) None
        else {
          val rs = perBlock.map(_.get)
          (rs.head._1, rs.head._2) match {
            case (_: BigDecimal, _) =>
              Some((rs.map(_._1.asInstanceOf[BigDecimal]).min,
                rs.map(_._2.asInstanceOf[BigDecimal]).max))
            case (_: String, _) =>
              Some((rs.map(_._1.asInstanceOf[String]).min,
                rs.map(_._2.asInstanceOf[String]).max))
            case _ => None
          }
        }
      } finally reader.close()
    } catch { case _: Exception => None } // unreadable footer — just don't prune
  }

  private def normalize(t: PrimitiveTypeName, lo: AnyRef, hi: AnyRef): Option[(Any, Any)] =
    (t, lo, hi) match {
      case (PrimitiveTypeName.INT64 | PrimitiveTypeName.INT32 |
            PrimitiveTypeName.DOUBLE | PrimitiveTypeName.FLOAT,
            a: java.lang.Number, b: java.lang.Number) =>
        Some((BigDecimal(a.toString), BigDecimal(b.toString)))
      case (PrimitiveTypeName.BINARY, a: Binary, b: Binary) =>
        Some((a.toStringUsingUTF8, b.toStringUsingUTF8))
      case _ => None
    }
}

// ============================== write path ==============================

/**
 * The `graft` write path: `df.write.format("graft").option("key", k).save(p)`.
 * Each task streams rows into one parquet file AND tracks the key column's
 * (min, max, count) as it writes; the driver assembles the `_graft_index`
 * sidecar from the task commit messages — the index costs ZERO extra passes
 * (contrast `GraftIndex.write`, which re-scans). Overwrite mode truncates;
 * append mode merges new file entries into the existing index.
 */
class GraftWriteBuilder(writeSchema: StructType, path: String,
    options: CaseInsensitiveStringMap, forceTruncate: Boolean = false)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = forceTruncate
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val t = doTruncate
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new GraftBatchWrite(SparkSession.active, writeSchema, path,
          options.getOrDefault("key", "key"), t, rowLevel = forceTruncate)
    }
  }
}

/** Per-task result: the written file plus its key stats for the index. */
final case class GraftTaskCommit(fileName: String, lo: String, hi: String,
    rows: Long, hasStats: Boolean)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class GraftBatchWrite(spark: SparkSession, writeSchema: StructType, path: String,
    keyCol: String, truncate: Boolean, rowLevel: Boolean = false)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  private val keyIdx: Int = writeSchema.fieldNames.indexOf(keyCol)
  private val keyTag: Option[String] =
    if (keyIdx < 0) None else GraftIndex.tagOf(writeSchema(keyIdx).dataType)

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    val conf = spark.sessionState.conf
    val hc = new Configuration(spark.sessionState.newHadoopConf())
    // Prime the conf as Spark's ParquetUtils.prepareWrite does (apache/spark,
    // Apache-2.0): write support class, schema, and the SQLConf knobs
    // ParquetWriteSupport.init reads on the task side.
    hc.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport].getName)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(writeSchema, hc)
    hc.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, conf.writeLegacyParquetFormat.toString)
    hc.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, conf.parquetOutputTimestampType.toString)
    hc.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, conf.parquetFieldIdWriteEnabled.toString)
    hc.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, conf.sessionLocalTimeZone)
    hc.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      conf.parquetInferTimestampNTZEnabled)
    hc.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, conf.legacyParquetNanosAsLong)
    hc.setBoolean(SQLConf.CASE_SENSITIVE.key, conf.caseSensitiveAnalysis)
    hc.setBoolean(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      conf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE))
    hc.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    hc.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    hc.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      new ParquetOptions(Map.empty[String, String], conf).compressionCodecClassName)
    // ensure the target dir exists before tasks write into it
    val p = new Path(path)
    p.getFileSystem(hc).mkdirs(p)
    // job-unique name salt: task ids restart across applications, so an
    // append from a fresh app could otherwise reuse an existing part-file
    // name and silently overwrite live rows
    GraftWriterFactory(new SerializableConfiguration(hc), path, keyIdx,
      if (keyIdx < 0) NullType else writeSchema(keyIdx).dataType, keyTag,
      if (rowLevel) Some(writeSchema) else None,
      java.util.UUID.randomUUID().toString.take(8))
  }

  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val commits = messages.collect { case c: GraftTaskCommit if c.rows > 0 => c }
    val written = commits.map(_.fileName).toSet
    val dirPath = new Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val baseAll = GraftIndex.readAllVersioned(dirPath, fs.getConf)
    val baseVersion = baseAll.headOption.map(_._1).getOrElse(0L)
    val base = baseAll.headOption.map(_._2).filter(_.keyCol == keyCol)
    keyTag match {
      case Some(tag) =>
        def parse(s: String): Any = if (tag == "num") BigDecimal(s) else s
        // files without key stats (all-null keys) become UNRANGED entries —
        // always scanned, never pruned — so the index stays COMPLETE and can
        // carry manifest semantics
        val newRanged = commits.filter(_.hasStats).map(c =>
          c.fileName -> ((parse(c.lo), parse(c.hi), c.rows))).toMap
        val newUnranged = commits.filterNot(_.hasStats)
          .map(c => c.fileName -> c.rows).toMap
        // manifest dialect when this write DEFINES the file set (truncate,
        // or a fresh dir) or extends an already-manifest table; appends onto
        // an advisory (v1) index stay advisory — the dir may hold live files
        // the index never saw
        val manifest = truncate || base.exists(_.manifest) ||
          (base.isEmpty && GraftIndex.listDataFiles(fs, dirPath)
            .forall(st => written.contains(st.getPath.getName)))
        val (baseRanged, baseUnranged) =
          if (truncate) (Map.empty[String, (Any, Any, Long)], Map.empty[String, Long])
          else (base.map(_.ranges).getOrElse(Map.empty),
            base.map(_.unranged).getOrElse(Map.empty))
        // index FIRST: from the commit on, readers of a manifest table see
        // exactly the new file set; the pre-existing files a truncate
        // replaces are deleted after (under the old order a crash between
        // the deletes and the index write lost the table)
        GraftIndex.writeRanges(spark, path, keyCol, tag,
          baseRanged ++ newRanged, baseUnranged ++ newUnranged, manifest,
          basedOn = Some(baseVersion)): Unit
        // replaced files become strays; the sweep honors keep-one-back (a
        // file referenced by a retained index version survives for the
        // readers that planned against it) and no-ops while any retained
        // version is still advisory
        if (truncate) GraftIndex.sweepStrays(spark, path): Unit
      case None =>
        // no usable key stats: remove any stale index rather than lie —
        // EXCEPT on a manifest table, where dropping the index would expose
        // swap strays as data (rebuild through writeIndexed instead)
        if (base.exists(_.manifest) && !truncate)
          throw new IllegalStateException(
            s"graft: append without a usable key '$keyCol' onto manifest " +
              s"table $path — write with the table's key column, or rebuild " +
              "via KeyedStore.writeIndexed")
        if (truncate) {
          fs.listStatus(dirPath).foreach { st =>
            val n = st.getPath.getName
            if (st.isFile && !n.startsWith("_") && !n.startsWith(".") &&
              !written.contains(n)) fs.delete(st.getPath, false)
          }
        }
        GraftIndex.drop(fs, dirPath)
    }
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val dirPath = new Path(path)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    messages.collect { case c: GraftTaskCommit => c }
      .foreach(c => fs.delete(new Path(dirPath, c.fileName), false))
  }
}

final case class GraftWriterFactory(conf: SerializableConfiguration, dir: String,
    keyIdx: Int, keyDt: DataType, keyTag: Option[String],
    rowLevelSchema: Option[StructType] = None, salt: String = "0")
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(conf.value, dir,
      f"part-$partitionId%05d-$taskId%d-$salt.parquet", partitionId, taskId,
      keyIdx, keyDt, keyTag, rowLevelSchema)
}

/** One parquet file per task; tracks key (min, max, count) while writing. */
class GraftDataWriter(conf: Configuration, dir: String, fileName: String,
    partitionId: Int, taskId: Long, keyIdx: Int, keyDt: DataType,
    keyTag: Option[String], rowLevelSchema: Option[StructType] = None)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
  import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

  private var writer: org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter = _
  private var rows = 0L
  private var loNum: BigDecimal = _
  private var hiNum: BigDecimal = _
  // string bounds in UTF-8 byte order, the order the router, Spark's sort
  // and the overlap guard compare in (copied: the row's bytes are reused)
  private var loStr: UTF8String = _
  private var hiStr: UTF8String = _
  private var statsOk = keyTag.isDefined && keyIdx >= 0

  private def ensureWriter(): Unit = if (writer == null) {
    val ctx = new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, partitionId),
        (taskId % Int.MaxValue).toInt))
    writer = new org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter(
      s"$dir/$fileName", ctx)
  }

  // Spark's ReplaceDataExec applies its row projection only when the table
  // declares metadata attributes; without them the rewrite's leading
  // __row_operation column reaches the writer raw (writingTask falls back to
  // the plain DataWritingSparkTask). Strip it with the same ProjectingInternalRow
  // the framework would have used — gated on exact arity so ordinary appends
  // (schema-matching rows) pass through untouched.
  @transient private lazy val rowLevelProj: org.apache.spark.sql.catalyst.ProjectingInternalRow =
    org.apache.spark.sql.catalyst.ProjectingInternalRow(
      rowLevelSchema.get, (1 to rowLevelSchema.get.length).toIndexedSeq)

  override def write(raw: InternalRow): Unit = {
    val row = rowLevelSchema match {
      case Some(s) if raw.numFields == s.length + 1 =>
        rowLevelProj.project(raw); rowLevelProj
      case _ => raw
    }
    ensureWriter()
    if (statsOk) {
      if (row.isNullAt(keyIdx)) statsOk = false // null keys: no trustworthy range
      else keyTag.get match {
        case "num" =>
          val v = BigDecimal(row.get(keyIdx, keyDt).toString)
          if (loNum == null || v < loNum) loNum = v
          if (hiNum == null || v > hiNum) hiNum = v
        case _ =>
          val v = row.getUTF8String(keyIdx)
          if (loStr == null || v.compareTo(loStr) < 0) loStr = v.clone()
          if (hiStr == null || v.compareTo(hiStr) > 0) hiStr = v.clone()
      }
    }
    rows += 1
    writer.write(row)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (writer != null) writer.close()
    val (lo, hi) = keyTag match {
      case Some("num") if statsOk && loNum != null => (loNum.toString, hiNum.toString)
      case Some(_) if statsOk && loStr != null => (loStr.toString, hiStr.toString)
      case _ => ("", "")
    }
    GraftTaskCommit(fileName, lo, hi, rows, statsOk && rows > 0)
  }

  override def abort(): Unit = {
    if (writer != null) {
      try writer.close() catch { case _: Exception => () }
      val p = new Path(s"$dir/$fileName")
      p.getFileSystem(conf).delete(p, false)
    }
  }

  override def close(): Unit = ()
}
