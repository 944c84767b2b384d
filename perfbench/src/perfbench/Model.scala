package perfbench

import scala.collection.mutable

/**
 * An in-memory, key-ordered model of a keyed table: rows `0 until baseN`
 * come from the generator that bulk-loaded the table, and every mutated or
 * inserted row is held explicitly (None = deleted). Keys are dense indices
 * rendered as fixed-width strings, so index order is key order.
 */
final class KeyedModel[V](val baseN: Long, base: Long => V) {
  private val changed = new java.util.TreeMap[java.lang.Long, Option[V]]()
  private var end = baseN // one past the highest index ever written

  def get(i: Long): Option[V] = {
    val c = changed.get(i)
    if (c != null) c else if (i >= 0 && i < baseN) Some(base(i)) else None
  }
  def set(i: Long, v: Option[V]): Unit = {
    changed.put(i, v)
    end = math.max(end, i + 1)
  }
  /** One past the highest index ever written. */
  def limit: Long = end
  /** Live rows with index in [from, until), in key order. */
  def range(from: Long, until: Long): Iterator[(Long, V)] =
    Iterator.range(math.max(0L, from), math.min(until, end))
      .flatMap(i => get(i).map(i -> _))
}

/** HPaste mutation semantics (reference README:299 and `KeyedStore`):
  * a batch applies deletes, then puts, then increments; a put sets the
  * cells it carries and keeps the rest (last write wins per field and per
  * map key); an increment adds `coalesce(old, 0) + delta`. */
object Semantics {
  /** Field-wise put: `Some` cells win, `None` cells keep the old value. */
  def putFields[A](old: Option[A], cell: Option[A]): Option[A] = cell.orElse(old)

  /** Map-family put: new qualifiers win, untouched ones survive. */
  def putMap[K, W](old: Map[K, W], cells: Map[K, W]): Map[K, W] = old ++ cells

  /** Map-family increment: `coalesce(old, 0) + delta` per qualifier. */
  def incMap[K](old: Map[K, Long], delta: Map[K, Long]): Map[K, Long] =
    delta.foldLeft(old) { case (m, (k, d)) => m.updated(k, m.getOrElse(k, 0L) + d) }

  /** Apply one batch to a model under deletes → puts → increments. */
  def applyBatch[V](m: KeyedModel[V], deletes: Seq[Long], puts: Seq[(Long, Option[V] => V)],
      incs: Seq[(Long, Option[V] => V)]): Unit = {
    deletes.foreach(i => m.set(i, None))
    puts.foreach { case (i, f) => m.set(i, Some(f(m.get(i)))) }
    incs.foreach { case (i, f) => m.set(i, Some(f(m.get(i)))) }
  }
}

/** Output checks that need no Spark: each returns the differences found
  * (empty = the output is correct). */
object Checks {
  def same[A](what: String, got: A, want: A): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /**
   * A limited scan returns some `min(limit, |matches|)` of the matching rows,
   * in any order: every returned key must be distinct, must match, and
   * must carry exactly the model's values.
   */
  def limitedScan[V](got: Seq[(String, V)], matches: Map[String, V], limit: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val keys = got.map(_._1)
    if (keys.distinct.size != keys.size) errs += "scan returned a key twice"
    errs ++= same("scan rows", got.size, math.min(limit, matches.size))
    got.foreach { case (k, v) =>
      matches.get(k) match {
        case None => errs += s"scan returned $k, which does not match"
        case Some(w) => errs ++= same(s"scan row $k", v, w)
      }
    }
    errs.toSeq
  }

  /** Plain-Scala group-by of (site, day, count) events, bot rows dropped:
    * site → (per-day sums, total). */
  def groupEvents(events: Seq[(String, String, Long, Boolean)])
      : Map[String, (Map[String, Long], Long)] =
    events.filter(e => !e._4 && e._3 > 0).groupBy(_._1).map { case (site, es) =>
      val byDay = es.groupBy(_._2).map { case (d, xs) => d -> xs.map(_._3).sum }
      site -> (byDay, es.map(_._3).sum)
    }

  /**
   * The cluster table planted groups imply: every group with at least two
   * live members contributes (member, min live member) for each member;
   * groups reduced to one member drop out. `groupOf` maps a live doc id to
   * its planted group.
   */
  def expectedClusters(live: Iterable[Long], groupOf: Long => Long): Map[Long, Long] =
    live.groupBy(groupOf).values.filter(_.size >= 2).flatMap { ms =>
      val rep = ms.min
      ms.map(_ -> rep)
    }.toMap

  /** Textbook Okapi BM25 over tokenized documents, the idf variant
    * ln(1 + (N − df + 0.5)/(df + 0.5)): doc id → score for every doc
    * holding at least one query term. */
  def bm25(docs: collection.Map[Long, Array[String]], terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    val t = terms.map(_.toLowerCase).distinct
    val n = docs.size.toDouble
    val avgdl = docs.valuesIterator.map(_.length.toLong).sum / n
    val tf = docs.iterator.map { case (id, toks) =>
      id -> t.map(term => toks.count(_ == term))
    }.filter(_._2.exists(_ > 0)).toMap
    val df = t.indices.map(j => tf.valuesIterator.count(_(j) > 0))
    tf.map { case (id, counts) =>
      val dl = docs(id).length.toDouble
      id -> t.indices.map { j =>
        val f = counts(j).toDouble
        if (f == 0) 0.0
        else math.log(1 + (n - df(j) + 0.5) / (df(j) + 0.5)) *
          f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
      }.sum
    }
  }

  /**
   * A top-k answer is right when it returns `min(k, |scored|)` distinct
   * docs, each scored as the reference scores it (within `eps`), and no
   * left-out doc scores above a returned one by more than `eps` — ties at
   * the k boundary may go either way.
   */
  def topK(got: Seq[(Long, Double)], want: Map[Long, Double], k: Int,
      eps: Double = 1e-5): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    errs ++= same("top-k size", got.size, math.min(k, want.size))
    if (got.map(_._1).distinct.size != got.size) errs += "top-k returned a doc twice"
    got.foreach { case (id, s) =>
      want.get(id) match {
        case None => errs += s"top-k returned doc $id, which holds no query term"
        case Some(w) if math.abs(w - s) > eps => errs += s"doc $id scored $s, want $w"
        case _ =>
      }
    }
    if (got.nonEmpty) {
      val floor = got.map(g => want.getOrElse(g._1, Double.MaxValue)).min
      val returned = got.map(_._1).toSet
      want.find { case (id, s) => !returned(id) && s > floor + eps }.foreach {
        case (id, s) => errs += s"doc $id (score $s) was left out above the k-th score $floor"
      }
    }
    errs.toSeq
  }
}
