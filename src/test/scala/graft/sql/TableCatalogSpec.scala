package graft.sql

import graft.Session
import graft.core.{GraftTable, Pruning, TableConfig}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** DSv2 catalog: catalog-qualified SQL, pushdown through Spark's
  * parquet DSv2 over commit-log-selected files, commit-instant time
  * travel, DDL. */
class TableCatalogSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.create("graft-dsv2-").toString
  private def wire(): Unit = {
    spark.conf.set("spark.sql.catalog.gcat", "graft.sql.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gcat.warehouse", wh)
  }

  private def ticks(rows: (String, String, Long)*) =
    rows.map { case (k, ts, v) => (k, "S", ts, "2018/08/31", v) }
      .toDF("key", "symbol", "ts", "date", "volume")

  test("catalog-qualified SELECT with time travel over commit instants") {
    wire()
    val t = GraftTable.create(spark, s"$wh/ticks", TableConfig(
      name = "ticks", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2))
    val c1 = t.insert(ticks(("A", "t1", 1L), ("B", "t1", 2L)))
    t.upsert(ticks(("A", "t2", 9L)))

    val now = spark.sql("SELECT key, volume FROM gcat.ticks ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(now == Seq(("A", 9L), ("B", 2L)))

    val asOf = spark.sql(
      s"SELECT key, volume FROM gcat.ticks VERSION AS OF '$c1' ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(asOf == Seq(("A", 1L), ("B", 2L)))

    // filters reach the DSv2 parquet scan
    val plan = spark.sql("SELECT key FROM gcat.ticks WHERE symbol = 'S'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("symbol"))
  }

  test("MOR through the catalog: bare name serves the merged snapshot, _ro stays stale") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mticks", TableConfig(
      name = "mticks", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), tableType = TableConfig.Mor, numBuckets = 2))
    t.insert(ticks(("A", "t1", 1L), ("B", "t1", 2L)))
    t.upsert(ticks(("A", "t2", 9L), ("C", "t2", 7L))) // live delta files
    // bare name = merged snapshot (base+delta, latest-wins), the
    // reference contract — served by the file-group MOR scan
    val now = spark.sql("SELECT key, volume FROM gcat.mticks ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(now == Seq(("A", 9L), ("B", 2L), ("C", 7L)))
    // the plan runs the group-merge scan, not a window exchange
    val plan = spark.sql("SELECT key, volume FROM gcat.mticks")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftMorRealtimeScan"), s"wrong scan:\n$plan")
    assert(!plan.contains("Exchange"), s"merge must not shuffle:\n$plan")
    // catalog read == the API realtime view, row for row
    val api = t.readRealtime().select("key", "volume")
      .as[(String, Long)].collect().toSeq.sorted
    assert(now == api)
    // explicit _ro suffix: read-optimized, stale-by-contract
    val ro = spark.sql("SELECT key, volume FROM gcat.mticks_ro ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(ro == Seq(("A", 1L), ("B", 2L)))
    // explicit _rt suffix: always the merged view
    val rt = spark.sql("SELECT key, volume FROM gcat.mticks_rt ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(rt == now)
    // column pruning reaches the scan; count over merge stays exact
    assert(spark.sql("SELECT count(*) FROM gcat.mticks").as[Long].head() == 3L)
    // a delete through the merged view: tombstone wins, row disappears
    t.deleteRows(ticks(("B", "t3", 2L)))
    assert(spark.sql("SELECT key FROM gcat.mticks ORDER BY key")
      .as[String].collect().toSeq == Seq("A", "C"))
    // after compaction the base files ARE the snapshot → parquet scan
    graft.core.TableServices.compact(t)
    val compacted = spark.sql("SELECT key, volume FROM gcat.mticks ORDER BY key")
      .as[(String, Long)].collect().toSeq
    assert(compacted == Seq(("A", 9L), ("C", 7L)))
    val planC = spark.sql("SELECT key FROM gcat.mticks")
      .queryExecution.executedPlan.toString
    assert(!planC.contains("GraftMorRealtimeScan"), s"compacted should scan parquet:\n$planC")
  }

  test("MOR delta-volume guard: over-cap groups fail with a compact-first error") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mguard", TableConfig(
      name = "mguard", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), tableType = TableConfig.Mor,
      numBuckets = 1)) // one file group → all delta keys land together
    t.insert(ticks(("A", "t1", 1L), ("B", "t1", 2L)))
    t.upsert(ticks(("A", "t2", 9L), ("B", "t2", 8L), ("C", "t2", 7L)))

    def msgChain(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")

    // plan-time guard: compressed delta bytes over the cap never start
    spark.conf.set("spark.graft.mor.maxDeltaBytesPerGroup", "1")
    val eBytes = intercept[Throwable] {
      spark.sql("SELECT key FROM gcat.mguard").collect()
    }
    assert(msgChain(eBytes).contains("compact table mguard"), msgChain(eBytes))
    assert(msgChain(eBytes).contains("maxDeltaBytesPerGroup"), msgChain(eBytes))
    spark.conf.unset("spark.graft.mor.maxDeltaBytesPerGroup")

    // reader guard: buffered distinct delta keys over the cap abort the
    // task instead of growing the heap (3 delta keys > cap 2)
    spark.conf.set("spark.graft.mor.maxDeltaRowsPerGroup", "2")
    val eRows = intercept[Throwable] {
      spark.sql("SELECT key FROM gcat.mguard").collect()
    }
    assert(msgChain(eRows).contains("compact table mguard"), msgChain(eRows))
    assert(msgChain(eRows).contains("maxDeltaRowsPerGroup"), msgChain(eRows))
    spark.conf.unset("spark.graft.mor.maxDeltaRowsPerGroup")

    // default caps: same query, still-correct merged result
    assert(spark.sql("SELECT key, volume FROM gcat.mguard ORDER BY key")
      .as[(String, Long)].collect().toSeq ==
      Seq(("A", 9L), ("B", 8L), ("C", 7L)))

    // the prescribed remedy works: compaction clears the delta volume,
    // so the scan passes even under the tiny caps
    graft.core.TableServices.compact(t)
    spark.conf.set("spark.graft.mor.maxDeltaBytesPerGroup", "1")
    spark.conf.set("spark.graft.mor.maxDeltaRowsPerGroup", "1")
    try assert(
      spark.sql("SELECT key, volume FROM gcat.mguard ORDER BY key")
        .as[(String, Long)].collect().toSeq ==
        Seq(("A", 9L), ("B", 8L), ("C", 7L)))
    finally {
      spark.conf.unset("spark.graft.mor.maxDeltaBytesPerGroup")
      spark.conf.unset("spark.graft.mor.maxDeltaRowsPerGroup")
    }
  }

  test("MOR time travel through the catalog merges the as-of file set") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mtt", TableConfig(
      name = "mtt", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), tableType = TableConfig.Mor, numBuckets = 2))
    t.insert(ticks(("A", "t1", 1L)))
    val c2 = t.upsert(ticks(("A", "t2", 5L)))
    t.upsert(ticks(("A", "t3", 9L)))
    assert(spark.sql("SELECT volume FROM gcat.mtt").as[Long].head() == 9L)
    assert(spark.sql(s"SELECT volume FROM gcat.mtt VERSION AS OF '$c2'")
      .as[Long].head() == 5L)
  }

  test("DML through the catalog: INSERT / INSERT OVERWRITE / DELETE as real commits") {
    wire()
    val t = GraftTable.create(spark, s"$wh/dml", TableConfig(
      name = "dml", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2))
    t.insert(ticks(("A", "t1", 1L)))
    val commits0 = t.log.commits().size

    spark.sql("""INSERT INTO gcat.dml
      SELECT 'B' AS key, 'S' AS symbol, 't1' AS ts, '2018/08/31' AS date, 2L AS volume""")
    assert(spark.sql("SELECT key FROM gcat.dml ORDER BY key")
      .as[String].collect().toSeq == Seq("A", "B"))
    assert(t.log.commits().size == commits0 + 1) // a real timeline commit

    spark.sql("DELETE FROM gcat.dml WHERE key = 'A'")
    assert(spark.sql("SELECT key FROM gcat.dml").as[String].collect().toSeq == Seq("B"))

    // positional VALUES binds to the table's data columns
    spark.sql("INSERT INTO gcat.dml VALUES ('C', 'S', 't2', '2018/08/31', 3)")
    assert(spark.sql("SELECT key FROM gcat.dml ORDER BY key")
      .as[String].collect().toSeq == Seq("B", "C"))

    // INSERT OVERWRITE is DYNAMIC (Hudi semantics): only partitions in
    // the data are replaced — 2018/08/31 survives
    spark.sql("""INSERT OVERWRITE gcat.dml
      SELECT 'Z' AS key, 'S' AS symbol, 't9' AS ts, '2019/01/01' AS date, 9L AS volume""")
    assert(spark.sql("SELECT key FROM gcat.dml ORDER BY key")
      .as[String].collect().toSeq == Seq("B", "C", "Z"))
    // the engine API sees the same state: one table, one timeline
    assert(t.read().select("key").as[String].collect().toSeq.sorted == Seq("B", "C", "Z"))
  }

  test("SQL WHERE prunes files via commit-log stats (data skipping through DSv2)") {
    wire()
    val t = GraftTable.create(spark, s"$wh/skip", TableConfig(
      name = "skip", keyField = "k", orderingField = "ts",
      partitionField = Some("p"), numBuckets = 1, statsColumns = Seq("v")))
    // two partitions × two disjoint value batches → 4 files with
    // disjoint (partition, v-range) stats
    def batch(p: String, lo: Long) = (lo until lo + 10)
      .map(i => (i, p, 1L, i)).toDF("k", "p", "ts", "v")
    t.bulkInsert(batch("A", 0L));   t.bulkInsert(batch("A", 1000L))
    t.bulkInsert(batch("B", 0L));   t.bulkInsert(batch("B", 1000L))
    assert(t.log.liveFiles().size == 4)

    def scannedFiles(sql: String): Int = {
      val df = spark.sql(sql)
      val n = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GraftRuntimeFilteringScan].plannedFiles
      }.sum
      df.collect() // results must still be exact
      n
    }
    // stats column range → only the matching v-range files (both partitions)
    assert(scannedFiles("SELECT k FROM gcat.skip WHERE v >= 1000") == 2)
    // partition equality → only partition A's files
    assert(scannedFiles("SELECT k FROM gcat.skip WHERE p = 'A'") == 2)
    // conjunction → a single file
    assert(scannedFiles("SELECT k FROM gcat.skip WHERE p = 'A' AND v < 100") == 1)
    // key-range predicates prune via the always-present key stats
    assert(scannedFiles("SELECT k FROM gcat.skip WHERE k >= 1000") == 2)
    // un-prunable predicates keep everything and stay correct
    assert(spark.sql("SELECT count(*) FROM gcat.skip WHERE v % 2 = 0")
      .as[Long].head() == 20L)
    assert(spark.sql("SELECT count(*) FROM gcat.skip WHERE p = 'A' AND v < 100")
      .as[Long].head() == 10L)
  }

  test("unfiltered COUNT(*) answers from commit-log metadata, no scan") {
    wire()
    val t = GraftTable.create(spark, s"$wh/cnt", TableConfig(
      name = "cnt", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2))
    t.insert(ticks(("A", "t1", 1L), ("B", "t1", 2L), ("C", "t1", 3L)))
    val df = spark.sql("SELECT count(*) FROM gcat.cnt")
    assert(df.as[Long].head() == 3L)
    // the physical plan carries no file scan — the count came from
    // the timeline's per-file row stats
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BatchScan") || plan.contains("GraftMetadataAgg"),
      s"metadata count not pushed:\n$plan")
    assert(plan.contains("LocalTableScan") || plan.contains("GraftMetadataAgg"))
    // a filtered count falls back to a real scan and stays correct
    assert(spark.sql("SELECT count(*) FROM gcat.cnt WHERE volume > 1")
      .as[Long].head() == 2L)
    // DML keeps the metadata count honest
    spark.sql("DELETE FROM gcat.cnt WHERE key = 'A'")
    assert(spark.sql("SELECT count(*) FROM gcat.cnt").as[Long].head() == 2L)
  }

  test("MOR SQL WHERE prunes whole file groups (partition + bucket routing)") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mprune", TableConfig(
      name = "mprune", keyField = "k", orderingField = "ts",
      partitionField = Some("p"), tableType = TableConfig.Mor, numBuckets = 4))
    val rows = (0L until 200L).map(i => (i, s"p${i % 4}", i * 10, i.toDouble))
      .toDF("k", "p", "ts", "v")
    t.insert(rows)
    t.upsert(rows.withColumn("ts", $"ts" + 1)) // live deltas everywhere
    val total = t.log.liveFiles().groupBy(f => (f.partition, f.bucket)).size

    def planned(sql: String): (Long, Int) = {
      Pruning.lastStaticPlanned.remove("mprune")
      val n = spark.sql(sql).count()
      (n, Pruning.lastStaticPlanned.get("mprune"))
    }
    // partition equality → only that partition's groups
    val (n1, g1) = planned("SELECT k FROM gcat.mprune WHERE p = 'p1'")
    assert(n1 == 50 && g1 < total && g1 <= total / 4)
    // key equality → only bucket(7)'s groups survive the routing hash
    // (≤ one group per partition; per-file k-range stats may trim more
    // but cannot identify the partition — k=7 could live anywhere)
    val (n2, g2) = planned("SELECT v FROM gcat.mprune WHERE k = 7")
    assert(n2 == 1 && g2 <= 4, s"expected ≤4 groups (one bucket), planned $g2")
    // merge stays exact on the surviving group: the delta version wins
    val v = spark.sql("SELECT ts FROM gcat.mprune WHERE k = 7")
      .collect().head.getLong(0)
    assert(v == 71)
    // unprunable predicate keeps everything
    val (n3, g3) = planned("SELECT k FROM gcat.mprune WHERE v % 2 = 0")
    assert(n3 == 100 && g3 == total)
  }

  test("unfiltered MIN/MAX answer from commit-log stats, no scan") {
    wire()
    val t = GraftTable.create(spark, s"$wh/mm", TableConfig(
      name = "mm", keyField = "k", orderingField = "ts",
      partitionField = Some("p"), numBuckets = 2, statsColumns = Seq("v")))
    t.insert((1L to 40L).map(i => (i, s"p${i % 3}", i * 100, i * 2))
      .toDF("k", "p", "ts", "v"))
    // key, ordering, stats column AND partition column — one
    // metadata-only row, plus count in the same aggregate
    val df = spark.sql(
      "SELECT min(k), max(k), min(ts), max(v), count(*), min(p), max(p) FROM gcat.mm")
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getString(5), r.getString(6)) ==
      (1L, 40L, 100L, 80L, 40L, "p0", "p2"))
    // pushed: the answers arrive via a driver-side LocalTableScan —
    // no file scan (BatchScan) anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"metadata min/max not pushed:\n$plan")
    // a non-stats STRING column must fall back (footer string stats
    // may be truncated bounds, not attained values) and stay correct
    val fb = spark.sql("SELECT max(ts2) FROM (SELECT cast(ts AS STRING) ts2 FROM gcat.mm)")
    assert(fb.collect().head.getString(0) == "900") // lexicographic max
    // filtered min/max falls back and stays correct
    assert(spark.sql("SELECT min(k) FROM gcat.mm WHERE p = 'p1'")
      .collect().head.getLong(0) == 1L)
    assert(spark.sql("SELECT max(k) FROM gcat.mm WHERE p = 'p1'")
      .queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("ALTER TABLE ADD COLUMN records evolved schema; old rows read null") {
    wire()
    spark.sql(
      """CREATE TABLE gcat.alt_t (id BIGINT, ts BIGINT, v STRING)
        |TBLPROPERTIES ('primaryKey'='id', 'precombine'='ts')""".stripMargin)
    val t = GraftTable.load(spark, s"$wh/alt_t")
    t.insert(Seq((1L, 10L, "x")).toDF("id", "ts", "v"))
    spark.sql("ALTER TABLE gcat.alt_t ADD COLUMN score DOUBLE")
    val row = spark.sql("SELECT v, score FROM gcat.alt_t").head()
    assert(row.getString(0) == "x" && row.isNullAt(1))
    t.upsert(Seq((2L, 20L, "y", 0.5)).toDF("id", "ts", "v", "score"))
    assert(spark.sql("SELECT score FROM gcat.alt_t WHERE id = 2")
      .as[Double].head() == 0.5)
    // destructive changes stay refused
    intercept[UnsupportedOperationException](
      spark.sql("ALTER TABLE gcat.alt_t DROP COLUMN v"))
  }

  test("DDL through the catalog: CREATE/SHOW/DROP") {
    wire()
    spark.sql(
      """CREATE TABLE gcat.ddl_t (id BIGINT, ts BIGINT, v STRING)
        |TBLPROPERTIES ('primaryKey'='id', 'precombine'='ts')""".stripMargin)
    assert(GraftTable.exists(s"$wh/ddl_t"))
    // write through the engine API, read through the catalog
    GraftTable.load(spark, s"$wh/ddl_t")
      .insert(Seq((1L, 10L, "x")).toDF("id", "ts", "v"))
    assert(spark.sql("SELECT v FROM gcat.ddl_t").as[String].head() == "x")
    val listed = spark.sql("SHOW TABLES IN gcat").collect().map(_.getString(1))
    assert(listed.contains("ddl_t"))
    spark.sql("DROP TABLE gcat.ddl_t")
    assert(!GraftTable.exists(s"$wh/ddl_t"))
  }

  test("a path-shaped table name is refused by CREATE, DROP and RENAME") {
    // the warehouse sits inside `outer`, so an escaping name would land
    // beside it, where `victim` lives
    val outer = graft.util.TempDirs.create("graft-dsv2-trav-")
    val trav = outer.resolve("wh").toString
    spark.conf.set("spark.sql.catalog.gtrav", "graft.sql.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gtrav.warehouse", trav)
    val victim = GraftTable.create(spark, outer.resolve("victim").toString,
      TableConfig(name = "victim", keyField = "id", orderingField = "ts"))
    victim.insert(Seq((1L, 10L)).toDF("id", "ts"))
    spark.sql("CREATE TABLE gtrav.src (id BIGINT, ts BIGINT)")
    def outside: Set[String] = graft.util.Fs.listSeq(outer)
      .map(_.getFileName.toString).toSet
    assert(outside == Set("wh", "victim"))

    intercept[Exception](spark.sql("CREATE TABLE gtrav.`../esc` (id BIGINT, ts BIGINT)"))
    intercept[Exception](spark.sql("DROP TABLE gtrav.`../victim`"))
    intercept[Exception](spark.sql("ALTER TABLE gtrav.src RENAME TO `../moved`"))
    intercept[Exception](spark.sql("DROP TABLE gtrav.`..`"))

    assert(outside == Set("wh", "victim"))
    assert(GraftTable.load(spark, outer.resolve("victim").toString).read().count() == 1L)
    assert(GraftTable.exists(s"$trav/src"))
    // a plain name still round-trips
    spark.sql("ALTER TABLE gtrav.src RENAME TO src2")
    spark.sql("DROP TABLE gtrav.src2")
    assert(!GraftTable.exists(s"$trav/src2") && !GraftTable.exists(s"$trav/src"))
  }
}
