package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}
import graft.store.{KeyedStore, MutationBatch}

/**
 * Every crash point of the keyed-table rewrites that commit through
 * [[org.apache.spark.sql.graft.GraftIndex.commitStaged]]:
 * `MutationBatch.executeIndexed`, `KeyedStore.compact` and
 * `GraftTable.deleteWhere`. Each verb runs on a fresh table under
 * [[CrashPointFileSystem]] crashing at its k-th driver-side mutating call,
 * for k = 1, 2, … until a run completes (k = N). After each crash:
 *
 *   1. `readKeyed` is exactly the pre-state or the post-state of a
 *      plain-Scala model (no lost, partial or duplicated row);
 *   2. `fsckIndexed` is ok, with no overlapping range and no missing file;
 *   3. a retry of the verb converges to the post-state.
 *
 * Each fixture first re-puts rows of every file with their own values, so
 * the verb also prunes an index version and sweeps replaced files. The
 * crash points, in order: the staged write's sidecar commit, one rename
 * per staged file, the fenced index commit, the version prune, the
 * staging delete, one delete per swept stray. N per verb (the completing
 * k, one more than its crash points): executeIndexed 13 (4 staged files,
 * 4 strays), compact 10 (1 group, 4 strays), deleteWhere 11 (2 staged
 * files, 4 strays).
 */
class CrashPointSpec extends SparkSpec {
  import spark.implicits._
  _quiet

  private type Model = Seq[(Long, Long)]

  private def tmp(prefix: String): String =
    "crashfs:" + java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def read(dir: String): Model =
    KeyedStore.readKeyed(spark, dir).select($"key", $"v").as[(Long, Long)]
      .collect().toSeq.sorted

  private def table(rows: Model) = rows.toDF("key", "v")

  /** Re-put `keys` with their current values: the rows read the same, but
    * the files holding them are rewritten, so the verb under test also
    * prunes an index version and sweeps the replaced files as strays. */
  private def reput(dir: String, rows: Model, keys: Set[Long]): Unit =
    KeyedStore.upsertIndexed(spark, dir, table(rows.filter(r => keys(r._1))))

  /** Drive `verb` through every crash point; returns N, the k of the
    * first run that completes. */
  private def enumerate(build: String => Unit, verb: String => Unit,
      pre: Model, post: Model): Int = {
    var k = 0
    var done = false
    while (!done) {
      k += 1
      assert(k <= 40, "no run completed within 40 crash points")
      val dir = tmp(s"graft_crash_$k")
      build(dir)
      assert(read(dir) == pre)
      CrashPointFileSystem.arm(k)
      val failure = try { verb(dir); None } catch { case t: Throwable => Some(t) }
      val crashed = CrashPointFileSystem.crashed
      val steps = CrashPointFileSystem.log.toArray.mkString(", ")
      CrashPointFileSystem.disarm()
      if (!crashed) {
        failure.foreach(t => throw t)
        assert(read(dir) == post, s"a clean run must land the post-state ($steps)")
        info(s"completes at k = $k; crash points: $steps")
        done = true
      } else {
        val seen = read(dir)
        assert(seen == pre || seen == post,
          s"crash point $k ($steps): neither the pre- nor the post-state: $seen")
        val st = KeyedStore.fsckIndexed(spark, dir)
        assert(st.ok && st.overlappingRanges == 0 && st.missingFiles == 0,
          s"crash point $k ($steps): $st")
        verb(dir)
        assert(read(dir) == post, s"crash point $k ($steps): the retry must converge")
      }
    }
    k
  }

  private val base: Model = (0L until 400L by 2).map(k => k -> k * 3)

  private def build(dir: String): Unit = {
    KeyedStore.writeIndexed(table(base), dir, numRanges = 4)
    reput(dir, base, Set(0L, 98L, 100L, 198L, 200L, 298L, 300L, 398L))
  }

  test("executeIndexed: every crash point reads as the pre- or post-state, " +
      "fsck is clean, and a retry converges") {
    val dels = (100L until 120L by 2)
    val puts = (200L until 220L by 2).map(_ -> -1L) ++ Seq(301L -> 5L, 9000L -> 7L)
    val post = (base.toMap -- dels ++ puts).toSeq.sorted
    val n = enumerate(build,
      dir => MutationBatch().delete(dels.toDF("key")).put(table(puts))
        .executeIndexed(spark, dir): Unit,
      base, post)
    assert(n == 13, s"executeIndexed completed at crash point $n")
  }

  test("compact: every crash point reads as the pre- or post-state, fsck is " +
      "clean, and a retry converges") {
    val tails = (0 until 3).map(g => (1000L + g * 10 until 1010L + g * 10).map(k => k -> k))
    val rows = (base ++ tails.flatten).sorted
    def build(dir: String): Unit = {
      KeyedStore.writeIndexed(table(base).coalesce(1), dir, numRanges = 1)
      tails.foreach(t => table(t).coalesce(1).sortWithinPartitions("key")
        .write.format("graft").option("key", "key").mode("append").save(dir))
      reput(dir, rows, Set(0L, 1000L, 1010L, 1020L))
    }
    val n = enumerate(build,
      dir => KeyedStore.compact(spark, dir, smallFileBytes = 16384L): Unit, rows, rows)
    assert(n == 10, s"compact completed at crash point $n")
  }

  test("deleteWhere: every crash point reads as the pre- or post-state, fsck " +
      "is clean, and a retry converges") {
    val dels = (20L until 60L by 2) ++ Seq(300L, 302L)
    val post = (base.toMap -- dels).toSeq.sorted
    val n = enumerate(build,
      dir => new org.apache.spark.sql.graft.GraftTable(table(base).schema,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("path", dir, "key", "key")))
        .deleteWhere(Array[Filter](In("key", dels.map(Long.box).toArray[Any]))),
      base, post)
    assert(n == 11, s"deleteWhere completed at crash point $n")
  }
}
