package graft.sql

import graft.Session
import graft.core.{GraftTable, TableConfig}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** CREATE/DROP/SHOW INDEX (the Hudi 1.0 secondary-index DDL analog):
  * bloom → parquet bloom filters on the column in future files;
  * column_stats → commit-log min/max for file-level range skipping;
  * CALL build_index → one service rewrite backfills existing files. */
class IndexSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private lazy val wh = graft.util.TempDirs.create("graft-idx-").toString
  private lazy val catalog = new GraftCatalog(spark, wh)
  private lazy val gsql = new GraftSql(catalog)

  private def batch(lo: Long) = (lo until lo + 10)
    .map(i => (i, 1L, i, s"d$i")).toDF("k", "ts", "v", "s")

  /** Column paths that have a bloom filter in `file`'s row groups. */
  private def bloomColumns(file: String): Set[String] = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sessionState.newHadoopConf()))
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala
        .filter(_.getBloomFilterOffset >= 0)
        .map(_.getPath.toDotString)).toSet
    finally r.close()
  }

  test("CREATE INDEX USING bloom: new files carry the filter, old don't") {
    val t = catalog.createTable(TableConfig(name = "idxb", keyField = "k",
      orderingField = "ts", numBuckets = 1))
    t.bulkInsert(batch(0L))
    val before = t.log.liveFiles().map(f => s"${t.root}/${f.path}")
    // key always bloomed; v not yet
    before.foreach { f =>
      assert(bloomColumns(f).contains("k") && !bloomColumns(f).contains("v")) }

    gsql.sql("CREATE INDEX v_bloom ON idxb USING bloom(v)")
    val t1 = catalog.table("idxb")
    t1.bulkInsert(batch(1000L))
    val after = t1.log.liveFiles().map(f => s"${t1.root}/${f.path}")
      .filterNot(before.contains)
    assert(after.nonEmpty)
    after.foreach(f => assert(bloomColumns(f) == Set("k", "v")))
    // pre-index files untouched until a build
    before.foreach(f => assert(!bloomColumns(f).contains("v")))

    // CALL build_index rewrites: EVERY live file now blooms v
    gsql.sql("CALL build_index(table => 'idxb')")
    val t2 = catalog.table("idxb")
    val rebuilt = t2.log.liveFiles().map(f => s"${t2.root}/${f.path}")
    rebuilt.foreach(f => assert(bloomColumns(f).contains("v")))
    // data intact
    assert(catalog.table("idxb").read().count() == 20L)
  }

  test("CREATE INDEX USING column_stats: commit-log stats + skipping") {
    // own catalog name: the shared-session CatalogManager caches the
    // instance per name, so reusing "gcat" would hijack TableCatalogSpec
    spark.conf.set("spark.sql.catalog.gidx", "graft.sql.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gidx.warehouse", wh)
    val t = catalog.createTable(TableConfig(name = "idxs", keyField = "k",
      orderingField = "ts", numBuckets = 1))
    t.bulkInsert(batch(0L))
    assert(!t.log.liveFiles().exists(_.stats.contains("v")))

    gsql.sql("CREATE INDEX v_stats ON idxs USING column_stats(v)")
    gsql.sql("CALL build_index(table => 'idxs')")
    val t2 = catalog.table("idxs")
    assert(t2.log.liveFiles().forall(_.stats.contains("v")))
    // second disjoint batch -> two files with disjoint v-ranges
    t2.bulkInsert(batch(1000L))
    def scannedFiles(sql: String): Int = {
      val df = spark.sql(sql)
      val n = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GraftRuntimeFilteringScan].plannedFiles
      }.sum
      df.collect()
      n
    }
    assert(catalog.table("idxs").log.liveFiles().size == 2)
    assert(scannedFiles("SELECT k FROM gidx.idxs WHERE v >= 1000") == 1)
    assert(spark.sql("SELECT count(*) FROM gidx.idxs WHERE v >= 1000")
      .as[Long].head() == 10L)
  }

  test("MOR: delta files carry no bloom, the compacted base file carries key and index") {
    val t = catalog.createTable(TableConfig(name = "idxmor", keyField = "k",
      orderingField = "ts", numBuckets = 1, tableType = TableConfig.Mor))
    t.insert(batch(0L))
    def live(delta: Boolean) = catalog.table("idxmor").log.liveFiles()
      .filter(_.delta == delta).map(f => s"${t.root}/${f.path}")
    assert(live(delta = false).nonEmpty)
    live(delta = false).foreach(f => assert(bloomColumns(f) == Set("k")))
    gsql.sql("CREATE INDEX v_bloom ON idxmor USING bloom(v)")
    catalog.table("idxmor").upsert(batch(5L).withColumn("ts", $"ts" + 1))
    val deltas = live(delta = true)
    assert(deltas.nonEmpty)
    deltas.foreach(f => assert(bloomColumns(f).isEmpty, s"$f carries a bloom"))
    gsql.sql("CALL run_compaction(table => 'idxmor')")
    assert(live(delta = true).isEmpty)
    live(delta = false).foreach(f => assert(bloomColumns(f) == Set("k", "v")))
    assert(catalog.table("idxmor").read().count() == 15L)
  }

  test("SHOW INDEXES / DROP INDEX / validation") {
    val t = catalog.createTable(TableConfig(name = "idxm", keyField = "k",
      orderingField = "ts", numBuckets = 1))
    t.bulkInsert(batch(0L))
    gsql.sql("CREATE INDEX a ON idxm USING bloom(v)")
    gsql.sql("CREATE INDEX b ON idxm USING column_stats(s)")
    val shown = gsql.sql("SHOW INDEXES FROM idxm")
      .as[(String, String, String)].collect().toSet
    assert(shown == Set(("a", "bloom", "v"), ("b", "column_stats", "s")))

    // duplicate name refused; IF NOT EXISTS tolerated
    intercept[IllegalArgumentException] {
      gsql.sql("CREATE INDEX a ON idxm USING bloom(s)") }
    gsql.sql("CREATE INDEX IF NOT EXISTS a ON idxm USING bloom(s)")
    // unknown column / type refused
    intercept[IllegalArgumentException] {
      gsql.sql("CREATE INDEX c ON idxm USING bloom(nope)") }
    intercept[IllegalArgumentException] {
      gsql.sql("CREATE INDEX c ON idxm USING btree(v)") }

    gsql.sql("DROP INDEX a ON idxm")
    assert(gsql.sql("SHOW INDEXES FROM idxm").count() == 1L)
    intercept[IllegalArgumentException] { gsql.sql("DROP INDEX a ON idxm") }
  }
}
