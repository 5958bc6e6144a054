package lakebench

/** Shows that each correctness check catches the fault it is there for:
  * every check gets a right answer (must pass) and a deliberately wrong
  * one (must fail). Needs no Spark; run with `python3 lakebench/selftest.py`. */
object SelfTest {
  private var failures = 0

  private def expect(what: String, shouldFail: Boolean, errs: Seq[String]): Unit = {
    val ok = errs.nonEmpty == shouldFail
    if (!ok) failures += 1
    val verdict = if (shouldFail) "caught" else "passes"
    println(s"${if (ok) "ok  " else "FAIL"} $what: $verdict" +
      errs.headOption.map(e => s" ($e)").getOrElse(""))
  }

  def main(args: Array[String]): Unit = {
    val rnd = new scala.util.Random(42)
    val parts = IndexedSeq("2024-01-01", "2024-01-02", "2024-01-03")
    val m = new KeyedModel(parts)
    (0L until 300L).foreach(id => m.put(Rec(id, parts(rnd.nextInt(3)),
      rnd.nextInt(1000).toLong, KeyedRows.name(rnd), id)))
    val beforeDelete = m.state.toMap
    val victim = m.pick(1, rnd)
    m.remove(victim)
    val expected = m.state.toMap
    val good = expected.values.toSeq

    expect("keyed rows, right answer", shouldFail = false,
      Checks.rows("rows", expected, good))
    expect("keyed rows, dropped delete", shouldFail = true,
      Checks.rows("rows", expected, beforeDelete.values.toSeq))
    expect("per-partition aggregate, dropped delete", shouldFail = true,
      Checks.same("agg", Checks.partAgg(expected), Checks.partAgg(beforeDelete)))
    val changed = good.map(r => if (r.id == good.head.id) r.copy(qty = r.qty + 1) else r)
    expect("keyed rows, one changed value", shouldFail = true,
      Checks.rows("rows", expected, changed))
    expect("per-partition aggregate, one changed value", shouldFail = true,
      Checks.same("agg", Checks.partAgg(expected),
        Checks.partAgg(changed.map(r => r.id -> r).toMap)))
    val extra = good :+ Rec(10000L, parts(0), 1L, "extra", 1L)
    expect("keyed rows, one extra row", shouldFail = true,
      Checks.rows("rows", expected, extra))
    expect("keyed rows, one row twice", shouldFail = true,
      Checks.rows("rows", expected, good :+ good.head))
    expect("range count, one extra row", shouldFail = true,
      Checks.same("count", good.size.toLong, extra.size.toLong))

    // dedup: clusters {10, 4, 7} and {3, 9}; the lowest key of each stays
    val survivors = Set(1L, 2L, 4L, 3L)
    expect("dedup survivors, right answer", shouldFail = false,
      Checks.keys("dedup", survivors, Seq(1L, 2L, 3L, 4L)))
    expect("dedup survivors, one planted cluster lost its survivor", shouldFail = true,
      Checks.keys("dedup", survivors, Seq(1L, 2L, 3L)))
    expect("dedup survivors, a cluster kept the wrong member", shouldFail = true,
      Checks.keys("dedup", survivors, Seq(1L, 2L, 3L, 7L)))
    expect("dedup survivors, a duplicate not removed", shouldFail = true,
      Checks.keys("dedup", survivors, Seq(1L, 2L, 3L, 4L, 9L)))

    // top-k: two queries over made-up scores
    val exact = Map(
      1L -> (2L to 11L).map(n => n -> (1.0 - n * 0.01)),
      2L -> (20L to 29L).map(n => n -> (0.9 - n * 0.001)))
    def hits(e: Map[Long, Seq[(Long, Double)]]) = e.toSeq.flatMap { case (q, ns) =>
      ns.zipWithIndex.map { case ((n, s), i) => Checks.Hit(q, n, s, i + 1L) } }
    val right = hits(exact)
    expect("top-k, right answer", shouldFail = false, Checks.topK("topk", exact, right))
    val swapped = right.map {
      case h if h.query == 1L && h.rank == 3L => h.copy(rank = 4L)
      case h if h.query == 1L && h.rank == 4L => h.copy(rank = 3L)
      case h => h
    }
    expect("top-k, two neighbours swapped", shouldFail = true,
      Checks.topK("topk", exact, swapped))
    val replaced = right.map(h =>
      if (h.query == 2L && h.rank == 10L) h.copy(neighbor = 99L) else h)
    expect("top-k, one neighbour replaced", shouldFail = true,
      Checks.topK("topk", exact, replaced))
    expect("top-k, one score off", shouldFail = true, Checks.topK("topk", exact,
      right.map(h => if (h.rank == 1L) h.copy(score = h.score + 1e-6) else h)))
    val r = Checks.recall(exact, replaced)
    expect("recall counts the replaced neighbour", shouldFail = false,
      if (math.abs(r - 19.0 / 20) < 1e-12) Nil else Seq(s"recall $r"))

    println(if (failures == 0) "all checks behave" else s"$failures checks misbehave")
    System.exit(if (failures == 0) 0 else 1)
  }
}
