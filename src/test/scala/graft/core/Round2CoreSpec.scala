package graft.core

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Round-2 core fixes: group-scoped MOR merge, MOR-safe stats pruning,
  * OCC on delete_partition, null-key rejection, loss-free commit
  * publish, timeline parse caching, stale-lock takeover. */
class Round2CoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(): String =
    graft.util.TempDirs.create("graft-r2-").toString

  private def rows(rs: (String, String, Long)*): DataFrame =
    rs.toDF("key", "ts", "volume")

  private def cfg(name: String, tpe: String, buckets: Int = 4) = TableConfig(
    name = name, keyField = "key", orderingField = "ts",
    partitionField = None, tableType = tpe, numBuckets = buckets,
    statsColumns = Seq("volume"))

  // ---- MOR stats pruning must not resurrect superseded rows ---------

  test("MOR readWhereBetween: update moving value out of range is not resurrected") {
    val t = GraftTable.create(spark, tmp(), cfg("prune_upd", TableConfig.Mor))
    t.insert(rows(("K1", "t1", 150L), ("K2", "t1", 150L)))
    t.upsert(rows(("K1", "t2", 50L))) // K1's newest version leaves [100, ∞)
    val got = t.readWhereBetween("volume", lo = Some("100"), hi = None)
      .filter($"volume" >= 100)
      .select("key").as[String].collect().toSet
    assert(got == Set("K2")) // file-granular pruning would return K1@150 too
    // and the merge itself serves the current version, not the old one
    val k1 = t.readWhereBetween("volume", lo = Some("100"), hi = None)
      .filter($"key" === "K1").select("volume").as[Long].collect().toSeq
    assert(k1 == Seq(50L) || k1.isEmpty)
  }

  test("MOR readWhereBetween: tombstoned key is not resurrected") {
    val t = GraftTable.create(spark, tmp(), cfg("prune_del", TableConfig.Mor))
    t.insert(rows(("K1", "t1", 150L), ("K2", "t1", 150L)))
    t.deleteRows(rows(("K1", "t2", 150L)))
    val got = t.readWhereBetween("volume", lo = Some("100"), hi = None)
      .filter($"volume" >= 100)
      .select("key").as[String].collect().toSet
    assert(got == Set("K2"))
  }

  // ---- group-scoped realtime merge ----------------------------------

  test("MOR realtime merge windows only delta-bearing groups (plan + content)") {
    val t = GraftTable.create(spark, tmp(), cfg("gs", TableConfig.Mor, buckets = 8))
    val base = (1 to 16).map(i => (s"K$i", "t1", i.toLong))
    t.insert(rows(base: _*))
    t.upsert(rows(("K1", "t2", 100L))) // exactly one group dirtied
    val rt = t.readRealtime()
    // content: latest state everywhere
    val got = rt.select("key", "volume").as[(String, Long)].collect().toMap
    assert(got.size == 16 && got("K1") == 100L && got("K2") == 2L)
    // plan: the per-file-group merge scan — one GraftMorScan over the
    // whole file set holding the one delta file, merged in the reader:
    // no Window and no Exchange anywhere
    assert(rt.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
    val physical = MorMergeSpec.physical(rt)
    assert(physical.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e }.isEmpty,
      physical.treeString)
    val scans = physical.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sql.GraftMorScan] => b.scan }
    assert(scans.size == 1, physical.treeString)
    assert(scans.head.description().contains("deltaFiles=1"), scans.head.description())
  }

  test("MOR realtime: insert-duplicate visibility does not depend on unrelated deltas") {
    val t = GraftTable.create(spark, tmp(), cfg("dupvis", TableConfig.Mor, buckets = 1))
    // two insert commits write the same key twice (Hudi insert
    // semantics: duplicates allowed) plus another key in the SAME group
    t.bulkInsert(rows(("K1", "t1", 1L), ("K2", "t1", 1L)))
    t.bulkInsert(rows(("K1", "t2", 2L)))
    val before = t.readRealtime().filter($"key" === "K1").count()
    // an unrelated key in the same file group gains a delta
    t.upsert(rows(("K2", "t2", 9L)))
    val after = t.readRealtime().filter($"key" === "K1").count()
    assert(before == after, s"K1 visibility flipped $before -> $after on an unrelated delta")
    // and the delta-bearing key itself collapses to its newest version
    assert(t.readRealtime().filter($"key" === "K2")
      .select("volume").as[Long].collect().toSeq == Seq(9L))
  }

  test("all-base MOR realtime read has no Window at all") {
    val t = GraftTable.create(spark, tmp(), cfg("gs0", TableConfig.Mor))
    t.insert(rows(("K1", "t1", 1L), ("K2", "t1", 2L)))
    TableServices.compact(t) // no deltas to begin with; stays base-only
    val plan = t.readRealtime().queryExecution.optimizedPlan
    assert(plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }.isEmpty)
    assert(t.readRealtime().count() == 2)
  }

  // ---- null record key rejected up front ----------------------------

  test("null record key fails fast with a clear message") {
    val t = GraftTable.create(spark, tmp(), cfg("nullkey", TableConfig.Cow))
    val bad = Seq((null.asInstanceOf[String], "t1", 1L)).toDF("key", "ts", "volume")
    val ex = intercept[Throwable] { t.insert(bad) }
    def messages(e: Throwable): String =
      if (e == null) "" else e.getMessage + " " + messages(e.getCause)
    assert(messages(ex).contains("cannot be null"))
  }

  // ---- delete_partition races a concurrent writer -------------------

  test("delete_partition is OCC-validated: no rows written before the drop survive it") {
    val root = tmp()
    val t = GraftTable.create(spark, root, TableConfig(
      name = "dp", keyField = "key", orderingField = "ts",
      partitionField = Some("p"), numBuckets = 2))
    t.insert(Seq(("K0", "t0", "P1")).toDF("key", "ts", "p"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        try t.insert(Seq((s"W$i", "t1", "P1")).toDF("key", "ts", "p"))
        catch { case _: ConcurrentWriteException => () }
        i += 1
      }
    })
    writer.start()
    Thread.sleep(150)
    val dropInstant =
      try {
        var got: String = null
        var tries = 0
        while (got == null) {
          try got = t.deletePartitions(Seq("P1"))
          catch { case _: ConcurrentWriteException =>
            tries += 1; assert(tries < 200); Thread.sleep(10) }
        }
        got
      } finally { stop.set(true); writer.join() }
    // every surviving P1 row must postdate the drop commit
    val survivors = t.read().filter($"p" === "P1")
      .select(TableConfig.CommitTimeCol).as[String].collect()
    assert(survivors.forall(_ > dropInstant))
  }

  // ---- commit publish + parse cache + stale lock --------------------

  test("per-file stats are recorded for partitions with escaped characters") {
    // "2018/08/31" stages as _part=2018%2F08%2F31; input_file_name()
    // double-encodes the % — regression test for the decode in the
    // stats-harvest join key
    val t = GraftTable.create(spark, tmp(), TableConfig(
      name = "esc", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2))
    t.insert(Seq(("A", "t1", "2018/08/31", 1L), ("B", "t1", "2018/08/31", 2L))
      .toDF("key", "ts", "date", "volume"))
    val files = t.log.liveFiles()
    assert(files.nonEmpty)
    assert(files.map(_.rows).sum == 2L, s"lost row stats: $files")
    assert(files.forall(f => f.minKey.nonEmpty && f.maxKey.nonEmpty))
  }

  test("restore rolls the table back as a new commit; history and time travel survive") {
    val t = GraftTable.create(spark, tmp(), cfg("restore", TableConfig.Cow))
    val c1 = t.insert(rows(("K1", "t1", 1L), ("K2", "t1", 2L)))
    t.upsert(rows(("K1", "t2", 99L)))
    t.insert(rows(("K3", "t3", 3L)))
    assert(t.read().count() == 3)
    val rc = TableServices.restore(t, c1)
    // live state == the c1 snapshot
    val got = t.read().select("key", "volume").as[(String, Long)].collect().toMap
    assert(got == Map("K1" -> 1L, "K2" -> 2L))
    // history intact: time travel to the pre-restore head still works
    assert(t.read(Some(rc)).count() == 2)
    assert(t.log.commits().exists(_.operation == "restore"))
    // incremental consumption cannot silently cross the restore:
    // restored rows keep their original _commit_time, so a cursor from
    // before the restore must reset, not see zero rows
    val ex = intercept[IllegalStateException](t.readIncremental(c1).count())
    assert(ex.getMessage.contains("restore"))
    // a cursor starting at the restore instant resumes normally
    assert(t.readIncremental(rc).count() == 0)
    // writes continue normally after a restore
    t.upsert(rows(("K1", "t4", 7L)))
    assert(t.read().filter($"key" === "K1").select("volume").as[Long].head() == 7L)
    // rollback of the newest commit returns to the restore state
    TableServices.rollbackLastCommit(t)
    assert(t.read().filter($"key" === "K1").select("volume").as[Long].head() == 1L)
  }

  test("tryCommit refuses an already-published instant (link, not rename)") {
    val log = new CommitLog(tmp())
    val c = Commit("0000000000000000001", "commit", "insert")
    assert(log.tryCommit(c))
    assert(!log.tryCommit(c.copy(operation = "late")))
    assert(log.commits().map(_.operation) == Seq("insert"))
  }

  test("timeline parse cache: commits parsed O(new), not O(all), per op") {
    val t = GraftTable.create(spark, tmp(), cfg("cache", TableConfig.Cow))
    t.insert(rows(("K0", "t0", 0L)))
    val before = CommitLog.filesParsed.get()
    val k = 15
    (1 to k).foreach(i => t.insert(rows((s"K$i", "t1", i.toLong))))
    val parsed = CommitLog.filesParsed.get() - before
    // quadratic re-parsing would exceed k*(k-1)/2 = 105 here
    assert(parsed <= 6L * k, s"parsed $parsed commit files for $k inserts")
  }

  test("stale LOCK is taken over instead of wedging all writers") {
    val root = tmp()
    val log = new CommitLog(root)
    log.init()
    val lock = java.nio.file.Paths.get(root, CommitLog.Dir, "LOCK")
    Files.write(lock, """{"owner":"dead","acquiredMs":0}""".getBytes)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    sys.props("graft.lock.staleMs") = "1000"
    try {
      val got = log.withLock { 42 }
      assert(got == 42)
      assert(!Files.exists(lock))
    } finally sys.props.remove("graft.lock.staleMs")
  }

  test("a content-fresh lock is never moved aside, even when mtime looks stale") {
    // the reacquired-lock TOCTOU: staleness must come from the lock's
    // recorded acquiredMs, not filesystem mtime — a fresh holder whose
    // file carries an old mtime (clock skew, copied file) must not be
    // displaced by a waiting reaper
    val root = tmp()
    val log = new CommitLog(root)
    log.init()
    val lock = java.nio.file.Paths.get(root, CommitLog.Dir, "LOCK")
    Files.write(lock,
      s"""{"owner":"alive","token":"tok-x","acquiredMs":${System.currentTimeMillis()}}""".getBytes)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600 * 1000))
    sys.props("graft.lock.staleMs") = "1000"
    try {
      @volatile var ran = false
      val waiter = new Thread(() => { log.withLock { ran = true }; () })
      waiter.start()
      Thread.sleep(400) // several reap cycles while the holder is "live"
      assert(Files.exists(lock), "fresh lock was reaped by mtime")
      assert(new String(Files.readAllBytes(lock), "UTF-8").contains("alive"))
      assert(!ran)
      Files.delete(lock) // the live holder releases
      waiter.join(15000)
      assert(ran && !waiter.isAlive)
    } finally sys.props.remove("graft.lock.staleMs")
  }
}
