package graft

import org.apache.spark.sql.functions._
import graft.jobs.{Counters, GJob}

/** Driver-contract smoke + jobs-layer behavior. */
class EntrySpec extends SparkSpec {
  _quiet

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and every oracle key exists in queries") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      "every query has an oracle row and every oracle row a query")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf()).count()
      assert(n >= 0, name)
    }
  }

  test("GJob chains stages and secondary sort orders within partitions") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val out = GJob("agg-job")
      .stage("filter")(_.where(col("l_quantity") > 10))
      .stage("agg")(_.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("q")))
      .run(li)
    assert(out.count() > 0)

    // ISO-8601 string cast keeps ordering and avoids java8-API timestamp classes
    val sorted = GJob.secondarySort(
      li.select(col("l_suppkey"), col("l_shipdate").cast("string").as("d")),
      col("l_suppkey"), col("d"), 4)
    val ok = sorted.rdd.mapPartitions { it =>
      var prev: Option[(Long, String)] = None
      var good = true
      it.foreach { r =>
        val cur = (r.getLong(0), r.getString(1))
        prev.foreach { p =>
          if (p._1 == cur._1 && p._2 > cur._2) good = false
        }
        prev = Some(cur)
      }
      Iterator(good)
    }.collect()
    assert(ok.forall(identity))
  }

  test("Counters.observed records metrics through the plan") {
    val li = spark.read.parquet(s"${sf()}/lineitem.parquet")
    val observed = Counters.observed(li, "rows_seen", count(lit(1)).as("n"))
    val acc = Counters.accumulator(li, "manual")
    observed.foreach(_ => acc.add(1))
    assert(acc.value == li.count())
  }
}
