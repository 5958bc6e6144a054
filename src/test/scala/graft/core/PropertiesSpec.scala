package graft.core

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Row fixture for the property workloads (top level — Spark encoders
  * can't reach class-nested case classes). */
case class R(key: String, ts: Long, p: String, v: Long)

/** Row fixture of the MOR model property: `p` is a partition column,
  * `e` an epoch-seconds column a derived (daily) partition is cut from. */
case class M(key: String, ts: Long, p: String, e: Long, v: Long)

/** The invariants from SURVEY.md §5: upsert idempotence, latest-wins
  * model equivalence, RT == RO after compaction, incremental(0) ==
  * snapshot. Seeded ScalaCheck generators drive small random
  * workloads (the reference's YAML-DAG vocabulary, shrunk).
  */
class PropertiesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(): String = graft.util.TempDirs.create("graft-prop-").toString

  private def cfg(name: String, tpe: String = TableConfig.Cow) = TableConfig(
    name = name, keyField = "key", orderingField = "ts",
    partitionField = Some("p"), tableType = tpe, numBuckets = 2)

  private val genBatch: Gen[List[R]] = for {
    n <- Gen.choose(1, 8)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 4).map(i => s"k$i")
      ts <- Gen.choose(1L, 9L)
      p <- Gen.oneOf("a", "b")
      v <- Gen.choose(0L, 99L)
    } yield R(k, ts, p, v))
  } yield rows

  private def sample(seed: Long): List[R] =
    genBatch.apply(Gen.Parameters.default, Seed(seed)).get

  private def df(rows: Seq[R]): DataFrame = rows.toDF()

  private def snapshot(t: GraftTable): Set[(String, String, Long, Long)] =
    t.read().select("key", "p", "ts", "v")
      .as[(String, String, Long, Long)].collect().toSet

  test("property: upsert is idempotent (re-upserting a batch changes nothing)") {
    (1L to 4L).foreach { seed =>
      val rows = sample(seed)
      val t = GraftTable.create(spark, tmp(), cfg("idem"))
      t.upsert(df(rows))
      val s1 = snapshot(t)
      t.upsert(df(rows))
      assert(snapshot(t) == s1, s"seed=$seed")
    }
  }

  test("property: RT == RO after compaction, for any two batches") {
    (10L to 13L).foreach { seed =>
      val (b1, b2) = (sample(seed), sample(seed + 100))
      val t = GraftTable.create(spark, tmp(), cfg("conv", TableConfig.Mor))
      t.insert(df(b1))
      t.upsert(df(b2))
      TableServices.compact(t)
      val ro = t.readOptimized().select("key", "p", "ts", "v")
        .as[(String, String, Long, Long)].collect().toSet
      val rt = t.readRealtime().select("key", "p", "ts", "v")
        .as[(String, String, Long, Long)].collect().toSet
      assert(ro == rt, s"seed=$seed")
    }
  }

  test("property: snapshot equals per-(p,key) max-(ts, arrival) model") {
    (20L to 23L).foreach { seed =>
      val (b1, b2) = (sample(seed), sample(seed + 100))
      val t = GraftTable.create(spark, tmp(), cfg("model"))
      t.upsert(df(b1))
      t.upsert(df(b2))
      // reference model: later batch wins at equal ts; within a batch
      // ties are unordered → compare the deterministic (key,p,ts) part
      val model = (b1.map((_, 1)) ++ b2.map((_, 2)))
        .groupBy(x => (x._1.key, x._1.p))
        .map { case (kp, vs) =>
          val best = vs.maxBy(x => (x._1.ts, x._2))
          (kp._1, kp._2, best._1.ts)
        }.toSet
      val got = t.read().select("key", "p", "ts")
        .as[(String, String, Long)].collect().toSet
      assert(got == model, s"seed=$seed")
    }
  }

  test("property: incremental(0) == snapshot for any workload") {
    (30L to 33L).foreach { seed =>
      val (b1, b2) = (sample(seed), sample(seed + 100))
      val t = GraftTable.create(spark, tmp(), cfg("incr"))
      t.upsert(df(b1))
      t.upsert(df(b2))
      val snap = snapshot(t)
      val inc = t.readIncremental("0").select("key", "p", "ts", "v")
        .as[(String, String, Long, Long)].collect().toSet
      assert(inc == snap, s"seed=$seed")
    }
  }

  test("property: MOR read views equal a keyed model over random insert/upsert/delete/compact") {
    import scala.collection.immutable.SortedMap
    val layouts = Seq(
      "unpartitioned" -> ((c: TableConfig) => c),
      "column-partitioned" -> ((c: TableConfig) => c.copy(partitionField = Some("p"))),
      "derived-partitioned" -> ((c: TableConfig) => c.copy(partitionField = Some("e"),
        partitionFormat = Some("yyyy-MM-dd"), partitionUnit = "s")))
    for (((layout, shape), li) <- layouts.zipWithIndex; seed <- Seq(40L, 41L)) {
      val cfg0 = shape(TableConfig(name = s"mormodel$li", keyField = "key",
        orderingField = "ts", tableType = TableConfig.Mor, numBuckets = 2,
        statsColumns = Seq("v")))
      val t = GraftTable.create(spark, tmp(), cfg0)
      val rnd = new scala.util.Random(seed)
      val ctx = s"layout=$layout seed=$seed"

      // the model: every stored version of every record identity, with
      // the write path's routing (partition value, bucket) in plain Scala
      def partOf(r: M): String = t.config.partitionField match {
        case None => "all"
        case Some("p") => r.p
        case Some(_) => java.time.LocalDate.ofEpochDay(r.e / 86400).toString
      }
      def bucketOf(key: String): Int = {
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(key),
          org.apache.spark.sql.types.StringType, 42L)
        (((h % 2) + 2) % 2).toInt
      }
      // a stored version: base or delta, tombstone or row, its commit
      case class Ver(row: M, ct: String, delta: Boolean, del: Boolean)
      type State = SortedMap[(String, String), List[Ver]] // (part, key) → versions
      def latest(vs: Seq[Ver]): Ver = vs.maxBy(v => (v.row.ts, v.ct))
      // merged view: a record with a delta version shows only its
      // latest version (gone if a tombstone); base-only records show
      // every base version (insert duplicates included)
      def visible(s: State): Seq[(M, String)] = s.values.toSeq.flatMap { vs =>
        if (!vs.exists(_.delta)) vs.map(v => (v.row, v.ct))
        else Some(latest(vs)).filterNot(_.del).map(v => (v.row, v.ct)).toSeq
      }
      // in-batch precombine: the latest row per identity
      def precombine(rows: Seq[M]): Seq[M] =
        rows.groupBy(r => (partOf(r), r.key)).values.map(_.maxBy(_.ts)).toSeq
      def add(s: State, rows: Seq[M], ct: String, delta: Boolean, del: Boolean): State =
        precombine(rows).foldLeft(s) { (m, r) =>
          val id = (partOf(r), r.key)
          m.updated(id, m.getOrElse(id, Nil) :+ Ver(r, ct, delta, del))
        }
      // compaction folds every file group holding a delta into one
      // latest version per record, tombstones dropped
      def compacted(s: State): State = {
        val dirty = s.values.flatten.filter(_.delta)
          .map(v => (partOf(v.row), bucketOf(v.row.key))).toSet
        s.flatMap { case (id, vs) =>
          if (!dirty.contains((id._1, bucketOf(id._2)))) Some(id -> vs)
          else Some(latest(vs)).filterNot(_.del)
            .map(w => id -> List(w.copy(delta = false)))
        }
      }

      type Out = (String, String, Long, Long, Long, String)
      def out(rs: Seq[(M, String)]): Seq[Out] =
        rs.map { case (r, ct) => (r.key, r.p, r.e, r.ts, r.v, ct) }.sorted
      def got(df: DataFrame): Seq[Out] =
        df.select("key", "p", "e", "ts", "v", "_commit_time")
          .as[(String, String, Long, Long, Long, String)].collect().toSeq.sorted

      def batch(): Seq[M] = {
        val n = 1 + rnd.nextInt(6)
        // distinct orderings within a batch: the precombine winner of
        // two rows of one record must not be a tie
        rnd.shuffle((1L to 20L).toList).take(n).map(ts => M(
          s"k${rnd.nextInt(6)}", ts, if (rnd.nextBoolean()) "a" else "b",
          86400L * rnd.nextInt(3) + rnd.nextInt(1000), rnd.nextInt(100).toLong))
      }

      var state: State = SortedMap.empty
      var atLastRow: State = state // state as of the last row commit
      val instants = scala.collection.mutable.ArrayBuffer("0")
      val ran = scala.collection.mutable.Set[String]()
      // a random order of a fixed mix, so every operation kind runs
      val ops = "upsert" +: rnd.shuffle(Seq.fill(3)("insert") ++
        Seq.fill(3)("upsert") ++ Seq.fill(3)("delete") ++ Seq.fill(2)("compact"))
      for ((op, step) <- ops.zipWithIndex) {
        val live = visible(state)
        if (op == "insert") {
          val b = batch()
          val ct = t.insert(b.toDF())
          state = add(state, b, ct, delta = false, del = false)
          instants += ct; atLastRow = state; ran += "insert"
        } else if (op == "upsert" || (op == "delete" && live.isEmpty)) {
          val b = batch()
          val ct = t.upsert(b.toDF())
          state = add(state, b, ct, delta = true, del = false)
          instants += ct; atLastRow = state; ran += "upsert"
        } else if (op == "delete") {
          val keys = live.map(_._1.key).distinct
          val victims = live.map(_._1).filter(r => r.key == keys(rnd.nextInt(keys.size)))
          val ct = t.deleteRows(victims.toDF())
          state = add(state, victims, ct, delta = true, del = true)
          instants += ct; atLastRow = state; ran += "delete"
        } else {
          TableServices.compact(t).foreach { c => instants += c; ran += "compact" }
          state = compacted(state)
        }
        val sctx = s"$ctx step=$step"
        assert(got(t.read()) == out(visible(state)), s"read() $sctx")
        // readIncremental: from the start, and from the commit before this one
        for (from <- Seq("0", instants(math.max(0, instants.size - 2))).distinct) {
          val expect = visible(atLastRow).filter(_._2 > from)
          assert(got(t.readIncremental(from)) == out(expect),
            s"readIncremental($from) $sctx")
        }
        val (lo, hi) = (rnd.nextInt(60).toLong, 40L + rnd.nextInt(60))
        val between = t.readWhereBetween("v", Some(lo.toString), Some(hi.toString))
          .filter($"v" >= lo && $"v" <= hi)
        assert(got(between) == out(visible(state).filter(r => r._1.v >= lo && r._1.v <= hi)),
          s"readWhereBetween($lo, $hi) $sctx")
      }
      assert(ran == Set("insert", "upsert", "delete", "compact"), s"ops run: $ran $ctx")
    }
  }
}
