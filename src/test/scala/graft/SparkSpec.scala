package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.ui.enabled", "false")
    // object-store surrogates for race/committer specs (registered at
    // session build so every cached hadoop conf resolves the schemes)
    .config("spark.hadoop.fs.slowfs.impl",
      classOf[graft.SlowRenameFileSystem].getName)
    .config("spark.hadoop.fs.natomic.impl",
      classOf[graft.NonAtomicCreateFileSystem].getName)
    .config("spark.hadoop.fs.crashfs.impl",
      classOf[graft.CrashPointFileSystem].getName)
    .getOrCreate()

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  lazy val _quiet: Unit = spark.sparkContext.setLogLevel("WARN")
}
