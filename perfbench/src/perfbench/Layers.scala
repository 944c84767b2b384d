package perfbench

import org.apache.spark.sql.SparkSession

/**
 * Per-layer metrics of a traced run, folded from its spans. Span names are
 * `<layer>.<call>`; per-call figures are medians (times) or means (counts)
 * over the run's calls of that name, and a layer the workload never calls
 * reports 0. The README maps each metric to the end-to-end metric it
 * should move.
 */
object Layers {
  // (metric, unit, value from the spans named by the metric's first two parts)
  private type Fold = Seq[Span] => Double

  private def perCall(f: Span => Double): Fold = ss => Stats.mean(ss.map(f))
  private val ms: Fold = ss => if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.ms))
  private def note(k: String) = perCall(_.notes.getOrElse(k, 0.0))
  private val jobs = perCall(s => Trace.total(s, _.jobs).toDouble)
  private val driverMs = perCall(Trace.driverMs)
  private val bytesRead = perCall(s => Trace.total(s, _.bytesRead).toDouble)
  private val bytesWritten = note("bytes_written")
  private val shuffleBytes = perCall(s => Trace.total(s, _.shuffleWrite).toDouble)
  private val rowsReadPerRow: Fold = ss => {
    val returned = ss.map(_.notes.getOrElse("rows_returned", 0.0)).sum
    if (returned == 0) 0.0 else ss.map(s => Trace.total(s, _.recordsRead)).sum / returned
  }

  /** (name, unit, fold over the spans of `span`) in BENCHMARK.json order. */
  private val table: Seq[(String, String, String, Fold)] = Seq(
    ("query.get.ms", "ms", "query.get", ms),
    ("query.get.jobs", "count", "query.get", jobs),
    ("query.get.bytes_read", "B", "query.get", bytesRead),
    ("query.get.driver_ms", "ms", "query.get", driverMs),
    ("connector.get.files_read", "count", "query.get", note("files_read")),
    ("query.scan.ms", "ms", "query.scan", ms),
    ("query.scan.bytes_read", "B", "query.scan", bytesRead),
    ("query.scan.rows_read_per_row_returned", "ratio", "query.scan", rowsReadPerRow),
    ("query.multiget.ms", "ms", "query.multiget", ms),
    ("query.multiget.files_read", "count", "query.multiget", note("files_read")),
    ("store.merge.ms", "ms", "store.merge", ms),
    ("store.merge.jobs", "count", "store.merge", jobs),
    ("store.merge.driver_ms", "ms", "store.merge", driverMs),
    ("store.merge.files_rewritten", "count", "store.merge", note("files_rewritten")),
    ("store.merge.bytes_written", "B", "store.merge", bytesWritten),
    ("store.merge.index_commits", "count", "store.merge", note("index_commits")),
    ("store.compact.ms", "ms", "store.compact", ms),
    ("store.compact.files_merged", "count", "store.compact", note("files_rewritten")),
    ("store.compact.bytes_rewritten", "B", "store.compact", bytesWritten),
    ("jobs.aggregate.ms", "ms", "jobs.aggregate", ms),
    ("jobs.aggregate.shuffle_bytes", "B", "jobs.aggregate", shuffleBytes),
    ("dedup.append_pairs.ms", "ms", "dedup.append_pairs", ms),
    ("dedup.append_pairs.jobs", "count", "dedup.append_pairs", jobs),
    ("dedup.append_pairs.driver_ms", "ms", "dedup.append_pairs", driverMs),
    ("dedup.append_pairs.bytes_written", "B", "dedup.append_pairs", bytesWritten),
    ("dedup.append_clusters.ms", "ms", "dedup.append_clusters", ms),
    ("dedup.append_clusters.jobs", "count", "dedup.append_clusters", jobs),
    ("dedup.append_clusters.driver_ms", "ms", "dedup.append_clusters", driverMs),
    ("dedup.remove_clusters.ms", "ms", "dedup.remove_clusters", ms),
    ("dedup.remove_clusters.jobs", "count", "dedup.remove_clusters", jobs),
    ("dedup.remove_clusters.driver_ms", "ms", "dedup.remove_clusters", driverMs),
    ("dedup.compact_pairs.ms", "ms", "dedup.compact_pairs", ms),
    ("dedup.compact_pairs.jobs", "count", "dedup.compact_pairs", jobs),
    ("dedup.compact_pairs.driver_ms", "ms", "dedup.compact_pairs", driverMs),
    ("dedup.compact_pairs.bytes_written", "B", "dedup.compact_pairs", bytesWritten),
    ("textops.bm25_append.ms", "ms", "textops.bm25_append", ms),
    ("textops.bm25_append.jobs", "count", "textops.bm25_append", jobs),
    ("textops.bm25_append.driver_ms", "ms", "textops.bm25_append", driverMs),
    ("textops.bm25_append.files_written", "count", "textops.bm25_append", note("files_written")),
    ("textops.bm25_remove.ms", "ms", "textops.bm25_remove", ms),
    ("textops.bm25_remove.jobs", "count", "textops.bm25_remove", jobs),
    ("textops.bm25_remove.driver_ms", "ms", "textops.bm25_remove", driverMs),
    ("textops.bm25_remove.bytes_written", "B", "textops.bm25_remove", bytesWritten),
    ("textops.bm25_compact.ms", "ms", "textops.bm25_compact", ms),
    ("textops.bm25_compact.jobs", "count", "textops.bm25_compact", jobs),
    ("textops.bm25_compact.driver_ms", "ms", "textops.bm25_compact", driverMs),
    ("textops.bm25_compact.bytes_written", "B", "textops.bm25_compact", bytesWritten),
    ("textops.bm25_probe.ms", "ms", "textops.bm25_probe", ms),
    ("textops.bm25_probe.bytes_read", "B", "textops.bm25_probe", bytesRead))

  def metrics(spark: SparkSession, w: Workload, rec: Recorder): Seq[(String, Double, String)] = {
    // only spans of the timed phase: the set-up and warm-up trees are
    // written to the span file but measure other work
    val all = Trace.all.toIndexedSeq
    val timed = all.filter { s =>
      def root(x: Span): Span = if (x.parent < 0) x else root(all(x.parent))
      root(s).name.startsWith("op.")
    }
    val byName = timed.groupBy(_.name)
    val rows = table.map { case (metric, unit, span, fold) =>
      (metric, fold(byName.getOrElse(span, Nil)), unit)
    }
    val merges = byName.getOrElse("store.merge", Nil)
    val userBytes = merges.map(_.notes.getOrElse("user_bytes", 0.0)).sum
    val writeAmp = if (userBytes == 0) 0.0 else merges.map(_.notes.getOrElse("bytes_written", 0.0)).sum / userBytes
    val liveBytes = w.keyedDirs.map(d => Probe.liveFiles(spark, d)._2.values.sum).sum
    val spaceAmp = if (liveBytes == 0) 0.0 else Fs.bytes(w.keyedDirs).toDouble / liveBytes
    val storeCalls = merges ++ byName.getOrElse("store.compact", Nil)
    val files = Stats.mean(storeCalls.map(_.notes.getOrElse("live_files", 0.0)))
    rows ++ Seq(
      ("store.write_amp", writeAmp, "ratio"),
      ("store.space_amp", spaceAmp, "ratio"),
      ("store.files", files, "count"),
      ("jvm.gc_ms", rec.gcMs.toDouble, "ms"))
  }
}
