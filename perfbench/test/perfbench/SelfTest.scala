package perfbench

import scala.collection.mutable

/**
 * The benchmark's own tests: generators are fixed by their seed, and each
 * output check accepts a right answer and rejects wrong ones on tiny cases
 * computed by hand. Run with `python3 perfbench/run.py --self-test`.
 */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; passed += 1; println(s"ok   $name") }
    catch { case e: Throwable => failures += name; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-6

  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x & y).size.toDouble / (x | y).size
  }

  def main(args: Array[String]): Unit = {
    test("rng: a seed fixes the stream, another seed changes it") {
      val a = Seq.fill(5)(new Rng(7).nextLong())
      check(Seq.fill(5)(new Rng(7).nextLong()) == a, "same seed, other stream")
      check(new Rng(8).nextLong() != new Rng(7).nextLong(), "seeds 7 and 8 agree")
      check((0 until 1000).map(_ => new Rng(3).nextInt(10)).forall(i => i >= 0 && i < 10), "range")
    }

    test("writeback generator: site i is a function of (seed, i)") {
      val s = WritebackGen.site(5, 9)
      check(s == WritebackGen.site(5, 9), "site 9 differs between calls")
      check(s != WritebackGen.site(6, 9), "seed does not change site 9")
      check(s.total == s.byDay.values.sum, "total is not the sum of its days")
      check(WritebackGen.key(42) == "s0000042" && WritebackGen.index("s0000042") == 42, "key codec")
    }

    test("corpus generator: same seed, same corpus; planted groups near-duplicate") {
      def make(seed: Long) = {
        val c = new Corpus(seed)
        val docs = c.base(300) ++ c.day(60, 20, 5, 4)
        (c, docs)
      }
      val (c, docs) = make(11)
      check(make(11)._2 == docs, "same seed gave another corpus")
      check(make(12)._2 != docs, "another seed gave the same corpus")
      val text = docs.toMap
      val byGroup = docs.map(_._1).groupBy(c.groupOf)
      val within = byGroup.values.filter(_.size >= 2).flatMap(g =>
        g.combinations(2).map(p => jaccard(text(p(0)), text(p(1)))))
      check(within.nonEmpty && within.min > 0.85, s"within-group Jaccard ${within.min}")
      val reps = byGroup.values.map(_.head).toSeq.take(100)
      val across = reps.combinations(2).map(p => jaccard(text(p(0)), text(p(1)))).max
      check(across < 0.05, s"across-group Jaccard $across")
    }

    test("semantics: deletes, then puts, then increments") {
      val m = new KeyedModel[Map[String, Long]](3, i => Map("a" -> i))
      Semantics.applyBatch[Map[String, Long]](m, Seq(0L, 1L),
        Seq(1L -> ((o: Option[Map[String, Long]]) => Semantics.putMap(o.getOrElse(Map.empty), Map("b" -> 5L)))),
        Seq(1L -> ((o: Option[Map[String, Long]]) => Semantics.incMap(o.get, Map("b" -> 2L, "c" -> 1L))),
          2L -> ((o: Option[Map[String, Long]]) => Semantics.incMap(o.get, Map("a" -> 10L)))))
      check(m.get(0).isEmpty, "deleted row survived")
      check(m.get(1).contains(Map("b" -> 7L, "c" -> 1L)), s"delete→put→increment gave ${m.get(1)}")
      check(m.get(2).contains(Map("a" -> 12L)), s"increment gave ${m.get(2)}")
      check(Semantics.putMap(Map("x" -> 1L, "y" -> 2L), Map("y" -> 9L)) == Map("x" -> 1L, "y" -> 9L), "putMap")
      check(Semantics.putFields(Some("old"), None).contains("old"), "None cell overwrote")
      check(Semantics.putFields(Some("old"), Some("new")).contains("new"), "put cell lost")
      check(m.range(0, 3).map(_._1).toSeq == Seq(1L, 2L), "range skips deleted rows")
    }

    test("limited scan check") {
      val want = Map("k1" -> 1, "k2" -> 2, "k3" -> 3)
      check(Checks.limitedScan(Seq("k3" -> 3, "k1" -> 1), want, 2).isEmpty, "a right answer failed")
      check(Checks.limitedScan(Seq("k1" -> 1, "k2" -> 2, "k3" -> 3), want, 5).isEmpty, "all rows failed")
      check(Checks.limitedScan(Seq("k1" -> 1), want, 2).nonEmpty, "too few rows passed")
      check(Checks.limitedScan(Seq("k1" -> 1, "k1" -> 1), want, 2).nonEmpty, "a repeated key passed")
      check(Checks.limitedScan(Seq("k1" -> 1, "k2" -> 9), want, 2).nonEmpty, "a wrong value passed")
      check(Checks.limitedScan(Seq("k1" -> 1, "k9" -> 9), want, 2).nonEmpty, "a non-match passed")
    }

    test("group-by check: bot rows dropped, per-day and total sums") {
      val got = Checks.groupEvents(Seq(("s1", "d1", 2L, false), ("s1", "d1", 3L, false),
        ("s1", "d2", 4L, false), ("s2", "d1", 7L, true), ("s3", "d3", 1L, false)))
      check(got == Map("s1" -> (Map("d1" -> 5L, "d2" -> 4L), 9L), "s3" -> (Map("d3" -> 1L), 1L)),
        s"group-by gave $got")
    }

    test("cluster check: surviving groups with min live rep") {
      val group = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
      val got = Checks.expectedClusters(Seq(2L, 3L, 4L, 5L, 6L, 8L), group)
      check(got == Map(2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L), s"clusters $got")
    }

    test("BM25 reference on a hand-computed corpus") {
      val docs = Map(1L -> Array("a", "b"), 2L -> Array("a", "c", "c"), 3L -> Array("d"))
      val c = Checks.bm25(docs, Seq("c"))
      check(c.keySet == Set(2L) && near(c(2L), 1.1823695104798895), s"bm25(c) = $c")
      val ac = Checks.bm25(docs, Seq("A", "c"))
      check(near(ac(1L), 0.47000362924573563), s"bm25(a,c)(1) = ${ac(1L)}")
      check(near(ac(2L), 0.39019169220400696 + 1.1823695104798895), s"bm25(a,c)(2) = ${ac(2L)}")
    }

    test("top-k check: ties at the boundary either way, nothing better left out") {
      val want = Map(1L -> 3.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0)
      check(Checks.topK(Seq(1L -> 3.0, 2L -> 2.0), want, 2).isEmpty, "tie broken one way failed")
      check(Checks.topK(Seq(1L -> 3.0, 3L -> 2.0), want, 2).isEmpty, "tie broken other way failed")
      check(Checks.topK(Seq(1L -> 3.0, 4L -> 1.0), want, 2).nonEmpty, "left out a better doc")
      check(Checks.topK(Seq(1L -> 3.0, 2L -> 2.5), want, 2).nonEmpty, "a wrong score passed")
      check(Checks.topK(Seq(1L -> 3.0), want, 2).nonEmpty, "a short answer passed")
      check(Checks.topK(Seq(1L -> 3.0, 2L -> 2.0, 3L -> 2.0, 4L -> 1.0), want, 10).isEmpty, "k > matches")
    }

    test("bulk generators: Spark rows equal their plain-Scala twins") {
      val spark = Session.create(sys.props("java.io.tmpdir") + "/selftest-spark")
      try {
        val sites = WritebackGen.bulk(spark, 5, 200).collect().map(WritebackGen.fromRow)
        check(sites.toSeq == (0L until 200L).map(i => WritebackGen.key(i) -> WritebackGen.site(5, i)),
          "writeback bulk rows differ from WritebackGen.site")
        val crc = Checksum.ofTable(WritebackGen.bulk(spark, 5, 200), Checksum.siteRowCrc)
        check(crc == Checksum.ofModel(sites.iterator.map { case (k, s) => Checksum.siteCrc(k, s) }),
          "table and model checksums differ on equal rows")
      } finally spark.stop()
    }

    test("checksum: CRC32 and canonical map text") {
      check(Checksum.crc("abc") == 891568578L, "crc32(abc)")
      check(Checksum.mapText(Map("d2" -> 1L, "d10" -> 5L)) == "d10=5,d2=1", "map text order")
      check(Checksum.ofModel(Iterator(1L, 2L, 3L)) == ((3L, 6L)), "fold")
    }

    println(s"$passed passed, ${failures.size} failed")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
