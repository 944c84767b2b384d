package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** SplitMix64: a small seeded generator whose stream is fixed by its seed
  * on every JVM, so a seed names one exact set of inputs. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9E3779B97F4A7C15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform in [0, n). */
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  /** Uniform in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  /** A child stream: same parent seed and label give the same stream. */
  def fork(label: Long): Rng = new Rng(nextLong() ^ (label * 0x2545F4914F6CDD1DL))
}

object Rng {
  /** The value at position `i` of a stateless stream — row `i` of a bulk
    * table can be generated on any executor without replaying rows 0..i-1. */
  def at(seed: Long, i: Long): Rng = new Rng(seed * 0x632BE59BD9B4E019L + i)
}

/**
 * Column `j` of bulk row `i` under a seed: Spark's `xxhash64(i, seed, j)`
 * on the cluster side and the same XXH64 chain in plain Scala on the model
 * side, so a bulk table is generated by codegen'd expressions and the model
 * recomputes any of its rows without storing it.
 */
object BulkHash {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
  import org.apache.spark.sql.catalyst.expressions.XXH64

  def apply(seed: Long, i: Long, j: Long): Long =
    XXH64.hashLong(j, XXH64.hashLong(seed, XXH64.hashLong(i, 42L)))
  def mod(seed: Long, i: Long, j: Long, n: Long): Long = java.lang.Math.floorMod(apply(seed, i, j), n)

  def col(seed: Long, j: Column): Column = xxhash64(org.apache.spark.sql.functions.col("id"), lit(seed), j)
  def mod(seed: Long, j: Column, n: Long): Column = pmod(col(seed, j), lit(n))
  def mod(seed: Long, j: Long, n: Long): Column = mod(seed, lit(j), n)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  /** Every digit the double carries; JSON has no NaN/Infinity, so those
    * become null (and the caller reports the run as not correct). */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

object Fs {
  /** Every regular file under `dirs`, as (path, bytes). */
  def files(dirs: Seq[String]): Seq[(String, Long)] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> f.length())
      else Nil
    dirs.flatMap(d => walk(new File(d)))
  }

  def bytes(dirs: Seq[String]): Long = files(dirs).map(_._2).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }
}

/** The Spark session the benchmark drives the program through: local mode
  * on at most four cores, with exactly the settings `graft.Bench` uses. */
object Session {
  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def create(localDir: String): SparkSession = {
    val cpus = cores.toString
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench.releaseBlocks`: drop every persisted block, clear the
    * cache and settle the heap — called only between timed windows. */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}
