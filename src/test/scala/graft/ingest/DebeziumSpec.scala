package graft.ingest

import graft.Session
import graft.core.{GraftTable, TableConfig, TableServices}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A source-database row of the Debezium specs (top level — Spark
  * encoders can't reach class-nested case classes). */
case class DbzRow(id: Long, p: String, ver: Long, v: Long) {
  def json: String = s"""{"id":$id,"p":"$p","ver":$ver,"v":$v}"""
}

/** [[Debezium.apply]] against a model of the source database, and its
  * per-batch cost: one commit, a bounded number of Spark jobs. */
class DebeziumSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private val rowSchema = StructType(Seq(
    StructField("id", LongType), StructField("p", StringType),
    StructField("ver", LongType), StructField("v", LongType)))

  private def env(op: String, ts: Long, before: String, after: String): String =
    s"""{"before":$before,"after":$after,"op":"$op","ts_ms":$ts}"""

  /** Applies one batch the way a connector delivers it: a text file of
    * envelopes, one per line. */
  private def applyLines(t: GraftTable, lines: Seq[String]): Seq[String] = {
    val f = Files.createTempFile(graft.util.TempDirs.create("graft-dbz-in-"), "batch", ".json")
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    Debezium.apply(t, Debezium.parse(spark.read.text(f.toString), "value", rowSchema))
  }

  /** The table's rows; a never-written table has no columns yet. */
  private def rows(t: GraftTable): Set[DbzRow] =
    if (t.schema.isEmpty) Set.empty
    else t.read().select("id", "p", "ver", "v").as[DbzRow].collect().toSet

  test("property: Debezium.apply leaves the table equal to the source database") {
    val layouts = for {
      tpe <- Seq(TableConfig.Cow, TableConfig.Mor)
      part <- Seq(None, Some("p"))
    } yield (tpe, part)
    for (((tpe, part), li) <- layouts.zipWithIndex) {
      val t = GraftTable.create(spark,
        graft.util.TempDirs.create("graft-dbz-model-").toString,
        TableConfig(name = s"dbz$li", keyField = "id", orderingField = "ver",
          partitionField = part, tableType = tpe, numBuckets = 2))
      val rnd = new scala.util.Random(70L + li)
      // a key-only before image carries no partition value and no
      // ordering: it names a record on an unpartitioned table only, and
      // only a COW write lets a null ordering win
      val keyOnly = tpe == TableConfig.Cow && part.isEmpty
      val ctx = s"type=$tpe partition=$part"

      // the source database the events describe; applied correctly, the
      // table holds exactly its rows
      val db = scala.collection.mutable.HashMap[Long, DbzRow]()
      val deletes = scala.collection.mutable.ArrayBuffer[String]() // replayable
      var ts = 1000L
      var kinds = Set.empty[String]
      def fresh(id: Long): DbzRow =
        DbzRow(id, s"p${rnd.nextInt(3)}", ts, rnd.nextInt(100).toLong)
      def delete(id: Long): String = {
        val old = db.remove(id).get
        val e = env("d", ts, old.json, "null")
        // a key-only image is never replayed: without an ordering it
        // cannot be told stale
        if (keyOnly && rnd.nextInt(3) == 0) {
          kinds += "key-only"; env("d", ts, s"""{"id":$id}""", "null")
        } else { deletes += e; e }
      }

      for (batch <- 0 until 6) {
        val lines = scala.collection.mutable.ArrayBuffer[String]()
        for (_ <- 0 until 12) {
          ts += 1
          val id = rnd.nextInt(8).toLong
          val x = rnd.nextInt(10)
          if (x == 0 && deletes.nonEmpty) {
            // at-least-once replay of an old delete (older ts_ms)
            lines += deletes(rnd.nextInt(deletes.size)); kinds += "replay"
          } else if (!db.contains(id) && x < 3) {
            // delete of a key the table does not hold
            lines += env("d", ts, fresh(id).json, "null"); kinds += "absent"
          } else if (!db.contains(id)) {
            // create, possibly under another partition than a deleted
            // earlier version of the key
            val r = fresh(id); db(id) = r
            lines += env("c", ts, "null", r.json); kinds += "c"
          } else if (x < 4) {
            lines += delete(id); kinds += "d"
            // the null-value record a connector sends after a delete
            // (tombstones.on.delete): no event
            if (rnd.nextBoolean()) lines += "null"
          } else if (x < 5) {
            // update and delete in the same binlog millisecond
            val old = db(id)
            val r = old.copy(ver = ts, v = rnd.nextInt(100).toLong); db(id) = r
            lines += env("u", ts, old.json, r.json)
            lines += delete(id); kinds += "u+d"
          } else {
            val old = db(id)
            val r = old.copy(ver = ts, v = rnd.nextInt(100).toLong); db(id) = r
            lines += env("u", ts, old.json, r.json); kinds += "u"
          }
        }
        val bctx = s"$ctx batch=$batch"
        val before = t.log.lastInstant().getOrElse("0")
        val stored0 = rows(t)
        assert(applyLines(t, lines.toSeq).size == 1, s"one commit per batch $bctx")
        val stored = rows(t)
        assert(stored == db.values.toSet, s"read() $bctx")
        if (tpe == TableConfig.Mor) {
          // the change feed: a `d` image for every real delete, nothing
          // for a delete that lost to the stored row
          val cdc = t.readCdc(before).select("id", "p", "ver", "v", "_change_type")
            .as[(Long, String, Long, Long, String)].collect().toSet
          // record identity: (partition value, key), or the key alone
          def ident(rs: Set[DbzRow]) =
            rs.map(r => (part.fold("")(_ => r.p), r.id) -> r).toMap
          val (was, now) = (ident(stored0), ident(stored))
          val expect = (was.keySet ++ now.keySet).flatMap { k =>
            (was.get(k), now.get(k)) match {
              case (Some(o), None) => Some((o.id, o.p, o.ver, o.v, "d"))
              case (None, Some(n)) => Some((n.id, n.p, n.ver, n.v, "i"))
              case (Some(o), Some(n)) if o != n => Some((n.id, n.p, n.ver, n.v, "u"))
              case _ => None
            }
          }
          assert(cdc == expect, s"readCdc($before) $bctx")
          if (batch == 2) TableServices.compact(t)
        }
      }
      assert((Set("c", "u", "d", "u+d", "replay", "absent") ++
        (if (keyOnly) Some("key-only") else None)).subsetOf(kinds),
        s"event kinds generated: $kinds $ctx")
    }
  }

  test("one Debezium batch into a partitioned COW table is one commit and at most 8 jobs") {
    val t = GraftTable.create(spark,
      graft.util.TempDirs.create("graft-dbz-budget-").toString,
      TableConfig(name = "dbzbudget", keyField = "id", orderingField = "ver",
        partitionField = Some("p"), numBuckets = 2))
    val base = (0L until 40L).map(i => DbzRow(i, s"p${i % 4}", 1L, i))
    t.insert(base.toDF())
    val lines = Seq(
      env("c", 10, "null", DbzRow(100L, "p9", 10L, 7L).json),
      env("u", 11, base(1).json, base(1).copy(ver = 11L, v = 70L).json),
      env("u", 12, base(6).json, base(6).copy(ver = 12L, v = 71L).json),
      env("d", 13, base(2).json, "null"),
      env("d", 14, base(7).json, "null"))
    val commits = t.log.commits().length
    val jobs = org.apache.spark.Observed.jobs(spark)(applyLines(t, lines))._2
    val made = t.log.commits().length - commits
    assert(made == 1 && jobs <= 8, s"$made commits, $jobs Spark jobs")
    val expect = (base.filterNot(r => Set(2L, 7L)(r.id)).map(r =>
      if (r.id == 1L) r.copy(ver = 11L, v = 70L)
      else if (r.id == 6L) r.copy(ver = 12L, v = 71L) else r) :+
      DbzRow(100L, "p9", 10L, 7L)).toSet
    assert(rows(t) == expect)
  }
}
