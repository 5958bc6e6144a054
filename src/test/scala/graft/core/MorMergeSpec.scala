package graft.core

import graft.Session
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** The MOR merge of the API read views: a file set holding delta files
  * is read through the per-file-group scan, so a merged read is one
  * parquet pass with no shuffle. */
class MorMergeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  test("MOR readIncremental is one Spark job with no Exchange") {
    val t = GraftTable.create(spark,
      graft.util.TempDirs.create("graft-mormerge-").toString,
      TableConfig(name = "inc8", keyField = "key", orderingField = "ts",
        tableType = TableConfig.Mor, numBuckets = 8))
    val first = t.insert((1 to 16).map(i => (s"K$i", "t1", i.toLong))
      .toDF("key", "ts", "volume"))
    t.upsert(Seq(("K1", "t2", 100L), ("K17", "t2", 17L)).toDF("key", "ts", "volume"))
    val inc = t.readIncremental(first)
    val plan = MorMergeSpec.physical(inc)
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.treeString)
    val (got, jobs) = org.apache.spark.Observed.jobs(spark)(
      inc.select("key", "volume").as[(String, Long)].collect().toMap)
    assert(got == Map("K1" -> 100L, "K17" -> 17L))
    assert(jobs == 1, s"expected 1 Spark job, saw $jobs")
  }

  test("a column a later commit adds reads null from older files, through SQL and the API") {
    val wh = graft.util.TempDirs.create("graft-mormerge-wh-").toString
    spark.conf.set("spark.sql.catalog.gmerge", "graft.sql.GraftTableCatalog")
    spark.conf.set("spark.sql.catalog.gmerge.warehouse", wh)
    val t = GraftTable.create(spark, s"$wh/evolved", TableConfig(name = "evolved",
      keyField = "key", orderingField = "ts", tableType = TableConfig.Mor, numBuckets = 1))
    t.insert(Seq(("a", 1L)).toDF("key", "ts"))
    // a Scala Long column arrives non-nullable in the committed schema
    t.upsert(Seq(("b", 2L, 5L)).toDF("key", "ts", "extra"))
    assert(!t.schema("extra").nullable)
    val expect = Seq(("a", None, true), ("b", Some(5L), false))
    assert(spark.sql("SELECT key, extra, extra IS NULL FROM gmerge.evolved ORDER BY key")
      .as[(String, Option[Long], Boolean)].collect().toSeq == expect)
    assert(t.read().selectExpr("key", "extra", "extra IS NULL").orderBy("key")
      .as[(String, Option[Long], Boolean)].collect().toSeq == expect)
  }
}

object MorMergeSpec {
  /** The physical plan of `df`, seen through adaptive execution's
    * wrapper (its current plan already carries the inserted exchanges). */
  def physical(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }
}
