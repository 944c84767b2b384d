package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graft.GraftIndex

/**
 * Layer spans with the filesystem and plan facts a traced run attaches to
 * them. Each wrapper opens one [[Trace]] span around one call into the
 * program; untraced, it only runs the call.
 */
object Probe {
  private object Aqe extends AdaptiveSparkPlanHelper
  private val FilesRe = """files=(\d+)/(\d+)""".r.unanchored

  /** Files the `graft` connector kept after key-range pruning, summed over
    * every scan of an executed (or merely planned) query. */
  def filesRead(df: DataFrame): Long =
    Aqe.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan.description() match {
        case FilesRe(kept, _) => kept.toLong
        case _ => 0L
      }
    }.sum

  /** (latest index version, live data file → bytes) of a keyed table. */
  def liveFiles(spark: SparkSession, path: String): (Long, Map[String, Long]) = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return (-1L, Map.empty)
    val version = GraftIndex.versionFiles(fs, dir).lastOption.map(_._1).getOrElse(-1L)
    val names = GraftIndex.readAllVersioned(dir, conf).headOption.map(_._2.files)
      .getOrElse(Set.empty)
    val sizes = fs.listStatus(dir).filter(_.isFile).map(s => s.getPath.getName -> s.getLen).toMap
    (version, names.map(n => n -> sizes.getOrElse(n, 0L)).toMap)
  }

  /** Pairs of live files whose key ranges overlap. The store's key→file
    * router binary-searches a range table it assumes disjoint, so any
    * overlap can send a key to the wrong file. */
  def overlappingRanges(spark: SparkSession, path: String): Int = {
    val ix = GraftIndex.read(new Path(path), spark.sessionState.newHadoopConf())
    ix.map { i =>
      def ord(v: Any): Either[BigDecimal, String] =
        if (i.keyTag == "num") Left(v.asInstanceOf[BigDecimal]) else Right(v.toString)
      val rs = i.ranges.values.toSeq.map(r => (ord(r._1), ord(r._2)))
      def le(a: Either[BigDecimal, String], b: Either[BigDecimal, String]) = (a, b) match {
        case (Left(x), Left(y)) => x <= y
        case (Right(x), Right(y)) => x <= y
        case _ => false
      }
      rs.combinations(2).count { case Seq((lo1, hi1), (lo2, hi2)) => le(lo1, hi2) && le(lo2, hi1) }
    }.getOrElse(0)
  }

  /** A read whose result the client collects: the span covers building
    * the query and collecting it; notes rows returned and files the scan
    * kept after pruning. */
  def collect(name: String)(query: => DataFrame): Array[Row] = {
    var df: DataFrame = null
    val rows = Trace.span(name) { df = query; df.collect() }
    Trace.noteLast("rows_returned", rows.length.toDouble)
    if (Trace.enabled) Trace.noteLast("files_read", filesRead(df).toDouble)
    rows
  }

  private def parquet(dirs: Seq[String]): Map[String, Long] =
    Fs.files(dirs).filter(_._1.endsWith(".parquet")).toMap

  /** Data files the call left on disk that were not there before it. */
  private def noteWritten(before: Map[String, Long], after: Map[String, Long]): Unit = {
    val fresh = (after.keySet -- before.keySet).toSeq
    Trace.noteLast("files_written", fresh.size.toDouble)
    Trace.noteLast("bytes_written", fresh.map(after).sum.toDouble)
  }

  /** A call that mutates the keyed table at `path`: notes files rewritten
    * (live before, not live after), index commits, live files after, data
    * files and bytes written, and the user bytes it was asked to mutate. */
  def keyed[T](spark: SparkSession, name: String, path: String, userBytes: Long = 0L)(
      body: => T): T =
    if (!Trace.enabled) body
    else {
      val (v0, f0) = liveFiles(spark, path)
      val p0 = parquet(Seq(path))
      val out = Trace.span(name)(body)
      val (v1, f1) = liveFiles(spark, path)
      noteWritten(p0, parquet(Seq(path)))
      Trace.noteLast("files_rewritten", (f0.keySet -- f1.keySet).size.toDouble)
      Trace.noteLast("index_commits", (v1 - v0).toDouble)
      Trace.noteLast("live_files", f1.size.toDouble)
      Trace.noteLast("overlapping_ranges", overlappingRanges(spark, path).toDouble)
      Trace.noteLast("user_bytes", userBytes.toDouble)
      out
    }

  /** A call that writes under `dirs`: notes the data files it created. */
  def files[T](name: String, dirs: Seq[String])(body: => T): T =
    if (!Trace.enabled) body
    else {
      val before = parquet(dirs)
      val out = Trace.span(name)(body)
      noteWritten(before, parquet(dirs))
      out
    }
}
