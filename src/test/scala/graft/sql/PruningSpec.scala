package graft.sql

import graft.Session
import graft.core.{GraftTable, TableConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** File pruning never changes a result: every graft read path — SQL
  * through the catalog, `read().filter`, `readWhereBetween` /
  * `readWhereIn` and a runtime-filtered join — returns what the
  * unfiltered read filtered in Scala returns, on COW and MOR tables with
  * and without a partition column, a bootstrap-adopted file and live
  * delta files. */
class PruningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.create("graft-prune-wh-").toString
  private def wire(): Unit = {
    spark.conf.set("spark.sql.catalog.gprune", "graft.sql.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gprune.warehouse", wh)
  }

  private type R = (Long, String, Long, Long) // id, p, ts, v
  private def toDF(rs: Seq[R]): DataFrame = rs.toDF("id", "p", "ts", "v")
  private def collect(df: DataFrame): Set[R] =
    df.select("id", "p", "ts", "v").as[R].collect().toSet

  /** A predicate: its SQL text, its meaning over a row, and the
    * `readWhere*` call that prunes for it, for the leaf shapes. */
  private sealed trait Pred {
    def sql: String
    def holds(r: R): Boolean
    def api(t: GraftTable): Option[DataFrame] = None
  }
  private case class KeyIn(ks: Seq[Long]) extends Pred {
    def sql: String = if (ks.size == 1) s"id = ${ks.head}" else ks.mkString("id IN (", ", ", ")")
    def holds(r: R): Boolean = ks.contains(r._1)
    override def api(t: GraftTable) = Some(t.readWhereIn("id", ks.map(_.toString)))
  }
  private case class PartIs(p: String) extends Pred {
    def sql = s"p = '$p'"
    def holds(r: R): Boolean = r._2 == p
    override def api(t: GraftTable) = Some(t.readWhereIn("p", Seq(p)))
  }
  private case class VIn(lo: Long, hi: Long) extends Pred {
    def sql = s"v >= $lo AND v <= $hi"
    def holds(r: R): Boolean = r._4 >= lo && r._4 <= hi
    override def api(t: GraftTable) =
      Some(t.readWhereBetween("v", Some(lo.toString), Some(hi.toString)))
  }
  private case class KeyFrom(lo: Long) extends Pred {
    def sql = s"id >= $lo"
    def holds(r: R): Boolean = r._1 >= lo
    override def api(t: GraftTable) = Some(t.readWhereBetween("id", Some(lo.toString), None))
  }
  private case class Both(a: Pred, b: Pred) extends Pred {
    def sql = s"(${a.sql}) AND (${b.sql})"
    def holds(r: R): Boolean = a.holds(r) && b.holds(r)
  }
  private case class Either(a: Pred, b: Pred) extends Pred {
    def sql = s"(${a.sql}) OR (${b.sql})"
    def holds(r: R): Boolean = a.holds(r) || b.holds(r)
  }

  private val parts = Seq("a", "b", "c")

  /** A table of `tpe`: 120 inserted rows; with `boot`, 6 rows adopted
    * first from parquet (ids 1000+); with `deltas`, an upsert of old
    * and new keys (live delta files on MOR). Returns it with its rows. */
  private def table(rnd: Random, name: String, tpe: String, partitioned: Boolean,
      boot: Boolean, deltas: Boolean): (GraftTable, Seq[Long]) = {
    val part = (i: Long) => if (partitioned) parts((i % 3).toInt) else "a"
    val t = GraftTable.create(spark, s"$wh/$name", TableConfig(name = name,
      keyField = "id", orderingField = "ts",
      partitionField = if (partitioned) Some("p") else None,
      tableType = tpe, numBuckets = 4, statsColumns = Seq("v")))
    val bootIds = if (boot) (1000L until 1006L) else Nil
    if (boot) {
      val src = graft.util.TempDirs.create("graft-prune-boot-").toString
      bootIds.groupBy(part).foreach { case (p, ids) =>
        toDF(ids.map(i => (i, p, 1L, rnd.nextInt(500).toLong)))
          .coalesce(1).write.parquet(s"$src/$p")
      }
      t.bootstrapFrom(src)
    }
    val ids = (0L until 120L)
    t.insert(toDF(ids.map(i => (i, part(i), 1L, rnd.nextInt(500).toLong))))
    if (deltas) {
      // old keys below the bootstrap range: the adopted files stay live
      val up = rnd.shuffle(ids.toList).take(15) ++ (200L until 205L)
      t.upsert(toDF(up.map(i => (i, part(i), 2L, rnd.nextInt(500).toLong))))
    }
    if (boot) assert(t.log.liveFiles().exists(_.bucket == GraftTable.BootstrapBucket))
    if (deltas && tpe == TableConfig.Mor) assert(t.log.liveFiles().exists(_.delta))
    (t, t.read().select("id").as[Long].collect().toSeq ++ Seq(150L, 2000L))
  }

  private def randomPred(rnd: Random, ids: Seq[Long], partitioned: Boolean): Pred = {
    def key = ids(rnd.nextInt(ids.size))
    def leaf: Pred = rnd.nextInt(if (partitioned) 5 else 4) match {
      case 0 => KeyIn(Seq(key))
      case 1 => KeyIn(Seq.fill(1 + rnd.nextInt(4))(key).distinct)
      case 2 => val lo = rnd.nextInt(500).toLong; VIn(lo, lo + rnd.nextInt(120))
      case 3 => KeyFrom(key)
      case _ => PartIs(parts(rnd.nextInt(3)))
    }
    rnd.nextInt(4) match {
      case 0 => Both(leaf, leaf)
      case 1 => Either(leaf, leaf)
      case _ => leaf
    }
  }

  test("property: pruned reads equal the unpruned read filtered in Scala") {
    wire()
    val rnd = new Random(20261020L)
    val dimPath = graft.util.TempDirs.create("graft-prune-dim-").toString
    var n = 0
    for (tpe <- Seq(TableConfig.Cow, TableConfig.Mor); partitioned <- Seq(false, true);
         boot <- Seq(false, true); deltas <- Seq(false, true)) {
      n += 1
      val name = s"pr_$n"
      val shape = s"$name $tpe partitioned=$partitioned boot=$boot deltas=$deltas"
      val (t, ids) = table(rnd, name, tpe, partitioned, boot, deltas)
      val all = collect(t.read())
      assert(collect(spark.sql(s"SELECT * FROM gprune.$name")) == all, shape)
      val bootLookups = if (boot) Seq(KeyIn(Seq(1000L + rnd.nextInt(6)))) else Nil
      for (p <- bootLookups ++ Seq.fill(6)(randomPred(rnd, ids, partitioned))) {
        val want = all.filter(p.holds)
        val ctx = s"$shape WHERE ${p.sql}"
        assert(collect(spark.sql(s"SELECT * FROM gprune.$name WHERE ${p.sql}")) == want,
          s"SQL: $ctx")
        assert(collect(t.read().filter(expr(p.sql))) == want, s"read().filter: $ctx")
        p.api(t).foreach(df =>
          assert(collect(df.filter(expr(p.sql))) == want, s"readWhere*: $ctx"))
      }
      // a selective join on the key: Spark's runtime filter hands the
      // scan the build side's ids
      val hits = (rnd.shuffle(ids).take(3) ++ (if (boot) Seq(1003L) else Nil)).toSet
      ids.map(i => (i, if (hits.contains(i)) "hit" else "miss")).toDF("id", "label")
        .write.mode("overwrite").parquet(s"$dimPath/$name")
      spark.read.parquet(s"$dimPath/$name").createOrReplaceTempView("prune_dim")
      val joined = spark.sql(s"""SELECT f.* FROM gprune.$name f
        |JOIN prune_dim d ON f.id = d.id WHERE d.label = 'hit'""".stripMargin)
      assert(collect(joined) == all.filter(r => hits.contains(r._1)), s"join: $shape")
    }
  }

  test("a bootstrap-adopted row is found by a point lookup, through SQL and the API") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mb", TableConfig(name = "mb",
      keyField = "id", orderingField = "ts", tableType = TableConfig.Mor, numBuckets = 4))
    val src = graft.util.TempDirs.create("graft-prune-mb-").toString + "/d"
    toDF(Seq((1L, "a", 1L, 10L), (2L, "a", 1L, 20L), (3L, "a", 1L, 30L)))
      .coalesce(1).write.parquet(src)
    t.bootstrapFrom(src)
    t.upsert(toDF(Seq((100L, "a", 1L, 1000L))))
    assert(t.read().count() == 4L)
    assert(t.read().filter($"id" === 2L).count() == 1L)
    assert(spark.sql("SELECT * FROM gprune.mb WHERE id = 2").count() == 1L)
  }

  test("COW point lookup plans the one file its key routes to") {
    wire()
    val t = GraftTable.create(spark, s"$wh/cb", TableConfig(name = "cb",
      keyField = "id", orderingField = "ts", numBuckets = 8))
    t.insert(toDF((0L until 400L).map(i => (i, "a", 1L, i))))
    assert(t.log.liveFiles().size == 8)
    val df = spark.sql("SELECT * FROM gprune.cb WHERE id = 77")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[GraftRuntimeFilteringScan]
    }
    assert(scans.map(_.plannedFiles) == Seq(1))
    assert(scans.head.description().contains("files=1/8"))
    assert(collect(df) == Set((77L, "a", 1L, 77L)))
  }

  test("date and timestamp literals prune by value, never by their day or micro count") {
    wire()
    val t = GraftTable.create(spark, s"$wh/dt", TableConfig(name = "dt",
      keyField = "id", orderingField = "ts", numBuckets = 1,
      statsColumns = Seq("d", "at")))
    def day(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i))
    def at(i: Int) = java.sql.Timestamp.valueOf(s"2020-01-0${1 + i} 00:00:00")
    t.insert(Seq((1L, 1L, day(0), at(0)), (2L, 1L, day(1), at(1))).toDF("id", "ts", "d", "at"))
    t.insert(Seq((3L, 1L, day(5), at(5)), (4L, 1L, day(6), at(6))).toDF("id", "ts", "d", "at"))
    def ids(where: String): Set[Long] =
      spark.sql(s"SELECT id FROM gprune.dt WHERE $where").as[Long].collect().toSet
    assert(ids("d <= DATE '2020-01-02'") == Set(1L, 2L))
    assert(ids("d = DATE '2020-01-06'") == Set(3L))
    assert(ids("at < TIMESTAMP '2020-01-03 00:00:00'") == Set(1L, 2L))
    assert(ids("d IN (DATE '2020-01-01', DATE '2020-01-07')") == Set(1L, 4L))
  }
}
