package lakebench

import scala.collection.mutable.ArrayBuffer

/** The correctness checks. Each compares what graft returned with what the
  * benchmark's own model expects, and returns one message per kind of
  * mismatch (empty = pass). The model never goes through graft or Spark. */
object Checks {

  /** Keyed rows: every expected row present once and equal, nothing else. */
  def rows(what: String, expected: collection.Map[Long, Rec],
      actual: Seq[Rec]): Seq[String] = {
    val errs = ArrayBuffer[String]()
    val dup = actual.groupBy(_.id).collect { case (k, v) if v.size > 1 => k }
    if (dup.nonEmpty)
      errs += s"$what: ${dup.size} keys returned more than once (e.g. ${dup.min})"
    val got = actual.map(r => r.id -> r).toMap
    val missing = expected.keySet -- got.keySet
    val extra = got.keySet -- expected.keySet
    val changed = expected.keys.filter(k => got.get(k).exists(_ != expected(k)))
    if (missing.nonEmpty)
      errs += s"$what: ${missing.size} rows missing (e.g. ${expected(missing.min)})"
    if (extra.nonEmpty)
      errs += s"$what: ${extra.size} unexpected rows (e.g. ${got(extra.min)})"
    if (changed.nonEmpty) {
      val k = changed.min
      errs += s"$what: ${changed.size} rows differ (e.g. expected " +
        s"${expected(k)}, got ${got(k)})"
    }
    errs.toSeq
  }

  /** Exact equality of two values (counts, per-group aggregates). */
  def same[V](what: String, expected: V, actual: V): Seq[String] =
    if (expected == actual) Nil
    else Seq(s"$what: expected $expected, got $actual")

  /** Per-partition (count, sum) aggregates of a keyed model. */
  def partAgg(state: collection.Map[Long, Rec]): Map[String, (Long, Long)] =
    state.values.groupBy(_.part).map { case (p, rs) =>
      p -> (rs.size.toLong, rs.iterator.map(_.qty).sum) }

  /** Dedup survivors: exactly the expected keys, each once. */
  def keys(what: String, expected: Set[Long], actual: Seq[Long]): Seq[String] = {
    val errs = ArrayBuffer[String]()
    if (actual.distinct.size != actual.size)
      errs += s"$what: duplicate keys in the result"
    val got = actual.toSet
    val missing = expected -- got
    val extra = got -- expected
    if (missing.nonEmpty)
      errs += s"$what: ${missing.size} expected keys gone (e.g. ${missing.min})"
    if (extra.nonEmpty)
      errs += s"$what: ${extra.size} keys that should be gone (e.g. ${extra.min})"
    errs.toSeq
  }

  /** One neighbour of a top-k answer. */
  final case class Hit(query: Long, neighbor: Long, score: Double, rank: Long)

  /** Exact top-k: per query the same neighbours in the same rank order,
    * scores equal to 1e-9. */
  def topK(what: String, expected: Map[Long, Seq[(Long, Double)]],
      actual: Seq[Hit]): Seq[String] = {
    val got = actual.groupBy(_.query).map { case (q, hs) => q -> hs.sortBy(_.rank) }
    val errs = ArrayBuffer[String]()
    if (got.keySet != expected.keySet)
      errs += s"$what: answered queries ${got.keySet.size}, expected " +
        s"${expected.keySet.size}"
    val bad = expected.keys.toSeq.sorted.filter { q =>
      val e = expected(q)
      val a = got.getOrElse(q, Nil)
      a.map(_.neighbor) != e.map(_._1) || a.map(_.rank) != e.indices.map(_ + 1L) ||
        a.zip(e).exists { case (h, (_, s)) => math.abs(h.score - s) > 1e-9 }
    }
    if (bad.nonEmpty) {
      val q = bad.head
      errs += s"$what: ${bad.size} queries differ from brute force (query $q: " +
        s"expected ${expected(q).map(_._1).mkString(",")}, got " +
        s"${got.getOrElse(q, Nil).map(_.neighbor).mkString(",")})"
    }
    errs.toSeq
  }

  /** Share of the exact top-k neighbours that an approximate answer found. */
  def recall(expected: Map[Long, Seq[(Long, Double)]], actual: Seq[Hit]): Double = {
    val got = actual.groupBy(_.query).map { case (q, hs) => q -> hs.map(_.neighbor).toSet }
    val found = expected.toSeq.map { case (q, e) =>
      e.count { case (n, _) => got.getOrElse(q, Set.empty[Long]).contains(n) } }.sum
    found.toDouble / expected.values.map(_.size).sum.max(1)
  }
}
