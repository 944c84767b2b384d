package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** The client's operation kinds. The first four each map to one end-to-end
  * latency; every kind counts in `ops_per_s`. */
object Kind {
  val Get = "get"
  val Query = "query"
  val Write = "write"
  val Maint = "maint"
  /** writeback's bounded range scan (traced as `query.scan`) */
  val Scan = "scan"
  /** writeback's scattered-delete batch on fixed inputs (see `Writeback.scatter`) */
  val Scatter = "scatter"
  val All = Seq(Get, Query, Write, Maint, Scan, Scatter)
}

/**
 * The closed-loop client's bookkeeping: one caller issues an operation,
 * waits for its reply, checks the reply against the model (outside the
 * timed window), then issues the next. An operation that throws or whose
 * check finds a difference counts as failed and its latency is not kept.
 */
final class Recorder {
  val latencies: Map[String, mutable.ArrayBuffer[Double]] =
    Kind.All.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
  var attempted = 0L
  var failed = 0L
  var gcMs = 0L

  private def gcTotal(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def op[T](kind: String)(body: => T)(check: T => Seq[String]): Unit = {
    attempted += 1
    val gc0 = gcTotal()
    val t0 = System.nanoTime()
    val out = try Right(Trace.span("op." + kind)(body)) catch {
      case NonFatal(e) => Left(e)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    gcMs += gcTotal() - gc0
    val errs = out match {
      case Left(e) => Seq(s"threw $e")
      case Right(v) => try check(v) catch { case NonFatal(e) => Seq(s"check threw $e") }
    }
    if (errs.isEmpty) latencies(kind) += ms
    else {
      failed += 1
      System.err.println(s"perfbench: $kind operation failed:\n  " + errs.take(10).mkString("\n  "))
    }
  }
}

/** One workload: its tables, their bulk load, and a round of operations. A
  * round is the same list of operations every time (`plan`, one code per
  * operation), covering every kind, so any run attempts whole rounds of the
  * same operations. */
trait Workload {
  def tableDirs: Seq[String]
  /** Keyed-store tables among `tableDirs` (for space amplification). */
  def keyedDirs: Seq[String]
  def setup(): Unit
  def plan: Seq[String]
  /** Issue operation `code` of round `r`. */
  def op(code: String, r: Int, rec: Recorder): Unit
  def round(r: Int, rec: Recorder): Unit = plan.foreach(op(_, r, rec))
  /** One operation of each kind, in plan order. */
  def warmup(rec: Recorder): Unit = plan.distinct.foreach(op(_, 0, rec))
  /** Whole-table comparison against the model after the timed phase. */
  def finalCheck(): Seq[String]
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"))
  }

  def workload(name: String, spark: SparkSession, seed: Long, dir: String): Workload =
    name match {
      case "writeback" => new Writeback(spark, seed, dir)
      case "ingest" => new Ingest(spark, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    val runDir = new File(a.work, s"${a.workload}-${ProcessHandle.current().pid()}")
    // debris of earlier runs whose process has ended
    Option(new File(a.work).listFiles()).toSeq.flatten.filter { f =>
      val pid = f.getName.split('-').last
      pid.forall(_.isDigit) && !ProcessHandle.of(pid.toLong).isPresent
    }.foreach(Fs.delete)
    runDir.mkdirs()
    def phase(what: String): Unit = System.err.println(
      f"perfbench: ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s after JVM start: $what")
    val spark = Session.create(new File(runDir, "spark-local").getPath)
    phase("session ready")
    var code = 0
    try {
      if (a.trace) Trace.install(spark.sparkContext)
      val w = workload(a.workload, spark, a.seed, new File(runDir, "tables").getPath)
      Trace.span("setup")(w.setup())
      phase("tables loaded")
      // untimed warm-up: every operation kind once
      Trace.span("warmup")(w.warmup(new Recorder))
      Session.releaseBlocks(spark)
      phase("warm-up done")
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val rec = new Recorder
      val t0 = System.nanoTime()
      var r = 1
      // a traced run makes exactly one round, so its counts repeat exactly
      def more = if (a.trace) r == 1 else (System.nanoTime() - t0) / 1e9 < a.seconds
      while (more) {
        w.round(r, rec)
        Session.releaseBlocks(spark) // outside every timed window
        r += 1
      }
      val finalErrs = try w.finalCheck() catch { case NonFatal(e) => Seq(s"final check threw $e") }
      finalErrs.foreach(e => System.err.println(s"perfbench: final check: $e"))
      val diskMb = Fs.bytes(w.tableDirs) / 1e6
      // `correct` speaks of the outputs of operations that did not fail;
      // failed operations are counted in `failed` instead
      val correct = finalErrs.isEmpty
      System.err.println(s"perfbench: ${a.workload} seed ${a.seed}: ${r - 1} rounds, " +
        s"${rec.attempted} operations, ${rec.failed} failed, setup ${setupS} s")
      rec.latencies.filter(_._2.nonEmpty).foreach { case (k, ms) =>
        System.err.println(s"perfbench: $k ms, in issue order: " + ms.map(v => f"$v%.0f").mkString(" "))
      }
      val metrics =
        if (a.trace) {
          Trace.drain()
          val out = new File(new File(a.work).getParentFile, s"traces/${a.workload}-${a.seed}.json")
          out.getParentFile.mkdirs()
          java.nio.file.Files.writeString(out.toPath, Trace.toJson)
          System.err.println(s"perfbench: span tree written to $out")
          // the same client's latencies with tracing on, for the overhead
          System.err.println("perfbench: traced end-to-end: " + endToEnd(rec, setupS, diskMb)
            .map { case (n, v, _) => s"$n=$v" }.mkString(" "))
          Layers.metrics(spark, w, rec)
        } else endToEnd(rec, setupS, diskMb)
      println(result(correct && metrics.forall(m => !m._2.isNaN), rec, metrics))
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        code = 1
    } finally {
      spark.stop()
      Fs.delete(runDir)
    }
    sys.exit(code)
  }

  def endToEnd(rec: Recorder, setupS: Double, diskMb: Double): Seq[(String, Double, String)] = {
    def med(kind: String) =
      if (rec.latencies(kind).isEmpty) Double.NaN else Stats.median(rec.latencies(kind).toSeq)
    val ok = rec.latencies.values.map(_.size).sum
    val busyS = rec.latencies.values.map(_.sum).sum / 1000
    Seq(("setup_s", setupS, "s"), ("get_ms", med(Kind.Get), "ms"),
      ("query_ms", med(Kind.Query), "ms"), ("write_ms", med(Kind.Write), "ms"),
      ("maint_ms", med(Kind.Maint), "ms"), ("ops_per_s", ok / busyS, "1/s"),
      ("disk_mb", diskMb, "MB"))
  }

  def result(correct: Boolean, rec: Recorder, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${rec.attempted}, "failed": ${rec.failed}, "metrics": {$ms}}"""
  }
}
