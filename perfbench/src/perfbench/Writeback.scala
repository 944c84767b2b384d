package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jobs.GJob
import graft.query.{Clauses, GQuery}
import graft.store.{KeyedStore, MutationBatch}

/** One row of the site-metrics table (`SiteMetricsTable` shape plus a
  * running total). */
final case class Site(name: String, tier: Long, byDay: Map[String, Long], total: Long) {
  def increment(delta: Map[String, Long], n: Long): Site =
    copy(byDay = Semantics.incMap(byDay, delta), total = total + n)
}

object WritebackGen {
  val Schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("meta", StructType(Seq(StructField("name", StringType), StructField("tier", LongType)))),
    StructField("searchesByDay", MapType(StringType, LongType)),
    StructField("total", LongType)))
  val DeltaSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("searchesByDay", MapType(StringType, LongType)),
    StructField("total", LongType)))
  val EventSchema: StructType = StructType(Seq(
    StructField("site", StringType), StructField("day", StringType),
    StructField("count", LongType), StructField("bot", BooleanType)))

  def key(i: Long): String = f"s$i%07d"
  def index(k: String): Long = k.substring(1).toLong
  def dayLabel(d: Int): String = f"day$d%04d"

  /** Site `i` of the bulk-loaded table, computed exactly as [[bulk]]
    * computes it in Spark. */
  def site(seed: Long, i: Long): Site = {
    def h(j: Long, n: Long) = BulkHash.mod(seed, i, j, n)
    val byDay = (1L to 1 + h(2, 3)).map(j => dayLabel(h(100 + j, 30).toInt) -> (1 + h(200 + j, 50))).toMap
    Site(s"site$i.example", 1 + h(1, 5), byDay, byDay.values.sum)
  }

  def bulk(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(j: Long, m: Long) = BulkHash.mod(seed, j, m)
    spark.range(n).select(
      concat(lit("s"), lpad(col("id").cast("string"), 7, "0")).as("key"),
      struct(concat(lit("site"), col("id").cast("string"), lit(".example")).as("name"),
        (h(1, 5) + 1).as("tier")).as("meta"),
      map_from_entries(transform(sequence(lit(1L), lit(1L) + h(2, 3)), j =>
        struct(concat(lit("day"), lpad(BulkHash.mod(seed, j + 100L, 30).cast("string"), 4, "0")),
          BulkHash.mod(seed, j + 200L, 50) + 1))).as("searchesByDay"))
      .withColumn("total", aggregate(map_values(col("searchesByDay")), lit(0L), _ + _))
  }

  def fromRow(r: Row): (String, Site) = {
    val m = r.getStruct(1)
    r.getString(0) -> Site(m.getString(0), m.getLong(1),
      r.getMap[String, Long](2).toMap, r.getLong(3))
  }
}

/**
 * `writeback`: HPaste's MapReduce half. Each round a `GJob` scans, filters
 * and groups a fresh seeded events batch by site key; the aggregate is
 * written back as one `MutationBatch` — increments for existing sites,
 * puts for new sites on ascending keys, deletes for retired sites —
 * through `executeIndexed`. Reads are a read-your-writes multi-get of the
 * keys the round touched, bounded range scans and point gets of random
 * sites. Each round also applies one scattered-delete batch to a small
 * table of fixed contents (see [[scatter]]).
 */
final class Writeback(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import WritebackGen._
  val Sites = 100000L
  val Ranges = 8
  val Events = 2000
  val NewSites = 20
  val Retired = 10
  // below the bulk files (~190 KB), above the per-round fragments of new sites
  val SmallFileBytes: Long = 64L << 10
  val ScanWidth = 2000L
  val ScanLimit = 200
  val ScanTotal = 60L
  // the scattered-delete table: fixed contents, 4 files of ~1,000 sites.
  // The deletes fall in its first and third files, 600 in the first and 5
  // in the third, so the two files' ~1,400 survivors re-split at about the
  // 700th, inside the third file's keys (near s0002300) whatever keys the
  // range sampler draws. The increments name 21 sites low in the third
  // file (s0002040-s0002140), which that re-split moves into the new
  // first file's range.
  val ScatterSites = 4000L
  val ScatterRanges = 4
  val ScatterDeletes: Seq[Long] = (100L until 700L) ++ (2100L until 2105L)
  val ScatterIncs: Seq[Long] = (2040L until 2145L by 5).filterNot(ScatterDeletes.toSet)
  val ScatterDelta: Map[String, Long] = Map(dayLabel(99) -> 1L)
  // one round: write-back, its read-your-writes multi-get twice, 8 gets,
  // 2 range scans, compaction, the scattered-delete batch
  val plan: Seq[String] = Seq("w", "m", "g", "g", "g", "g", "s", "m", "g", "g", "g", "g", "s", "c", "x")

  val path = s"$dir/sites"
  private val scatterPath = s"$dir/scatter"
  private val eventsDir = s"$dir/../events"
  def tableDirs: Seq[String] = Seq(path)
  def keyedDirs: Seq[String] = Seq(path)
  private val model = new KeyedModel[Site](Sites, i => site(seed, i))
  private val rng = new Rng(seed).fork(2)
  private var touched: Seq[Long] = Nil

  def setup(): Unit = {
    Probe.keyed(spark, "store.bulk_load", path) {
      KeyedStore.writeIndexed(bulk(spark, seed, Sites), path, numRanges = Ranges)
    }
  }

  private def table: DataFrame = KeyedStore.readKeyed(spark, path)

  /** A live site below `until`, uniform over the key range. */
  private def liveSite(until: Long = model.limit): Long = {
    var i = rng.nextInt(until.toInt).toLong
    while (model.get(i).isEmpty) i = rng.nextInt(until.toInt).toLong
    i
  }

  /** The round's events: (site key, day, count, bot). Existing sites are
    * the bulk-loaded catalog, so events spread over the whole key range;
    * a tenth of events name one of this round's new sites. */
  private def events(r: Int): Seq[(String, String, Long, Boolean)] = {
    val first = model.limit
    Seq.fill(Events) {
      val i = if (rng.nextInt(10) == 0) first + rng.nextInt(NewSites) else liveSite(Sites)
      (key(i), dayLabel(30 + 7 * r + rng.nextInt(7)), 1L + rng.nextInt(20), rng.nextInt(10) == 0)
    }
  }

  def write(r: Int, rec: Recorder): Unit = {
    val first = model.limit
    val evs = events(r)
    val evPath = s"$eventsDir/round-$r"
    spark.createDataFrame(evs.map(e => Row(e._1, e._2, e._3, e._4)).asJava, EventSchema)
      .coalesce(1).write.mode("overwrite").parquet(evPath)
    val counted = Checks.groupEvents(evs)
    // retired sites are one block of adjacent keys (a partner leaving),
    // live and without events this round
    var block = 0L
    do block = rng.nextInt((Sites - Retired).toInt).toLong
    while ((block until block + Retired).exists(i => model.get(i).isEmpty || counted.contains(key(i))))
    val retired = block until block + Retired
    val isNew = (k: String) => index(k) >= first
    // model first: deletes → puts → increments
    Semantics.applyBatch[Site](model, retired.toSeq,
      counted.toSeq.filter(e => isNew(e._1)).map { case (k, (byDay, n)) =>
        index(k) -> ((_: Option[Site]) => Site(s"site${index(k)}.example", 1L, byDay, n))
      },
      counted.toSeq.filterNot(e => isNew(e._1)).map { case (k, (byDay, n)) =>
        index(k) -> ((o: Option[Site]) => o.get.increment(byDay, n))
      })
    touched = (retired.toSeq ++ counted.keys.map(index)).sorted
    var aggregate: Array[Row] = null
    rec.op(Kind.Write) {
      aggregate = Trace.span("jobs.aggregate") {
        GJob("site-rollup")
          .stage("filter")(_.where(!col("bot") && col("count") > 0))
          .stage("by-day")(_.groupBy(col("site"), col("day")).agg(sum(col("count")).as("n")))
          .stage("by-site")(_.groupBy(col("site")).agg(
            map_from_entries(collect_list(struct(col("day"), col("n")))).as("searchesByDay"),
            sum(col("n")).as("total")))
          .run(spark.read.parquet(evPath))
          .collect()
      }
      val (fresh, old) = aggregate.partition(a => isNew(a.getString(0)))
      val puts = fresh.toSeq.map { a =>
        Row(a.getString(0), Row(s"site${index(a.getString(0))}.example", 1L), a.getMap(1), a.getLong(2))
      }
      val batch = MutationBatch("key")
        .delete(spark.createDataFrame(retired.toSeq.map(i => Row(key(i))).asJava,
          StructType(Seq(StructField("key", StringType)))))
        .put(spark.createDataFrame(puts.asJava, Schema))
        .increment(spark.createDataFrame(old.toSeq.asJava, DeltaSchema))
      val userBytes = (retired.size + aggregate.length) * 8L +
        aggregate.map(a => a.getString(0).length + a.getMap[String, Long](1).size * 16L).sum
      Probe.keyed(spark, "store.merge", path, userBytes)(batch.executeIndexed(spark, path))
    } { res =>
      val got = aggregate.map(a => a.getString(0) -> (a.getMap[String, Long](1).toMap, a.getLong(2))).toMap
      Checks.same("aggregate", got, counted) ++
        Checks.same("overlapping live key ranges", Probe.overlappingRanges(spark, path), 0) ++
        Checks.same("ops accounting", (res.numDeletes, res.numPuts, res.numIncrements),
          (Retired.toLong, counted.keys.count(isNew).toLong, counted.keys.count(k => !isNew(k)).toLong))
    }
  }

  def multiget(rec: Recorder): Unit = {
    val ks = touched.map(key)
    var span: Option[Span] = None
    rec.op(Kind.Query) {
      val got = Trace.span("query.multiget") {
        GQuery(table).withKeys(ks).multiMap(returnEmptyRows = true)
      }
      span = Trace.lastSpan
      got
    } { got =>
      // the same query planned again, outside the timed window, for the
      // files its scan keeps
      span.foreach(_.notes("files_read") = Probe.filesRead(GQuery(table).withKeys(ks).toDF).toDouble)
      Checks.same("multi-get keys", got.keySet, ks.toSet[Any]) ++ ks.flatMap { k =>
        Checks.same(s"multi-get $k", got.getOrElse(k, None).map(fromRow(_)._2), model.get(index(k)))
      }
    }
  }

  def get(rec: Recorder): Unit = {
    val i = liveSite()
    rec.op(Kind.Get) {
      Probe.collect("query.get")(GQuery(table).withKey(key(i)).toDF)
    } { rows =>
      Checks.same(s"get ${key(i)}", rows.map(fromRow).toSeq, model.get(i).map(key(i) -> _).toSeq)
    }
  }

  /** A bounded range scan: half-open key range, a `Clauses` predicate, a
    * projection and a limit; any `min(limit, matches)` matching rows pass. */
  def scan(rec: Recorder): Unit = {
    val from = rng.nextInt((model.limit - ScanWidth).toInt).toLong
    val until = from + ScanWidth
    rec.op(Kind.Scan) {
      Probe.collect("query.scan") {
        GQuery(table).withStartRow(key(from)).withEndRow(key(until))
          .filter(Clauses.mustBeGreaterThan(col("total"), ScanTotal))
          .withColumns(col("meta.name").as("name"), col("total"), col("searchesByDay"))
          .limit(ScanLimit).toDF
      }
    } { rows =>
      val got = rows.toSeq.map(r =>
        r.getString(0) -> ((r.getString(1), r.getLong(2), r.getMap[String, Long](3).toMap)))
      val want = model.range(from, until).collect {
        case (i, s) if s.total > ScanTotal => key(i) -> ((s.name, s.total, s.byDay))
      }.toMap
      Checks.limitedScan(got, want, ScanLimit)
    }
  }

  /**
   * One `MutationBatch` whose deletes fall in two files with a live file
   * between them, plus increments of existing sites, through
   * `executeIndexed` on a 4,000-site table of fixed contents, rebuilt before
   * each call outside the timed window. The inputs do not depend on the
   * seed, so the outcome is the same in every run. Checked against the
   * model: no two live files may have overlapping key ranges (the store's
   * key→file router assumes they are disjoint), and the whole table must
   * equal the model's. The seeded write step retires one block of adjacent
   * sites instead: its outcome under scattered deletes would differ from
   * seed to seed, and so would the reads after it.
   */
  def scatter(rec: Recorder): Unit = {
    Fs.delete(new java.io.File(scatterPath))
    KeyedStore.writeIndexed(bulk(spark, 0, ScatterSites), scatterPath, numRanges = ScatterRanges)
    val m = new KeyedModel[Site](ScatterSites, i => site(0, i))
    Semantics.applyBatch[Site](m, ScatterDeletes, Nil,
      ScatterIncs.map(i => i -> ((o: Option[Site]) => o.get.increment(ScatterDelta, 1L))))
    rec.op(Kind.Scatter) {
      val batch = MutationBatch("key")
        .delete(spark.createDataFrame(ScatterDeletes.map(i => Row(key(i))).asJava,
          StructType(Seq(StructField("key", StringType)))))
        .increment(spark.createDataFrame(
          ScatterIncs.map(i => Row(key(i), ScatterDelta, 1L)).asJava, DeltaSchema))
      Probe.keyed(spark, "store.merge_scattered", scatterPath)(batch.executeIndexed(spark, scatterPath))
    } { _ =>
      val got = Checksum.ofTable(KeyedStore.readKeyed(spark, scatterPath), Checksum.siteRowCrc)
      val want = Checksum.ofModel(m.range(0, m.limit).map { case (i, s) => Checksum.siteCrc(key(i), s) })
      Checks.same("overlapping live key ranges", Probe.overlappingRanges(spark, scatterPath), 0) ++
        Checks.same("whole-table (rows, checksum)", got, want)
    }
  }

  def compact(rec: Recorder): Unit =
    rec.op(Kind.Maint) {
      Probe.keyed(spark, "store.compact", path) {
        KeyedStore.compact(spark, path, smallFileBytes = SmallFileBytes)
      }
    }(_ => Nil)

  def op(code: String, r: Int, rec: Recorder): Unit = code match {
    case "w" => write(r, rec)
    case "m" => multiget(rec)
    case "g" => get(rec)
    case "s" => scan(rec)
    case "c" => compact(rec)
    case "x" => scatter(rec)
  }

  def finalCheck(): Seq[String] = {
    val got = Checksum.ofTable(table, Checksum.siteRowCrc)
    val want = Checksum.ofModel(model.range(0, model.limit).map { case (i, s) =>
      Checksum.siteCrc(key(i), s)
    })
    Checks.same("whole-table checksum", got, want)
  }
}
