package graft.sql

import graft.Session
import graft.core.{GraftTable, Pruning, TableConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime (join-driven) filtering: Spark's V2 dynamic-pruning path
  * hands the scan the build side's join-key values; the scan drops
  * files (COW) / file groups (MOR) that cannot contain them. */
class RuntimeFilterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)

  private def freshCat(): (String, String) = {
    val wh = graft.util.TempDirs.create("graft-rf-wh-").toString
    val cat = s"gcat_rf_${RuntimeFilterSpec.seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftTableCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    (cat, wh)
  }

  private def rows(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, s"g${i % 5}", i.toLong * 10, i.toDouble)
    }.toDF("k", "g", "ts", "v")
  }

  private def cfg(name: String, tpe: String) = TableConfig(
    name = name, keyField = "k", orderingField = "ts",
    partitionField = Some("g"), tableType = tpe, numBuckets = 4)

  test("COW: dim-driven partition pruning drops files at runtime") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = GraftTable.create(spark, s"$wh/fact_cow", cfg("fact_cow", TableConfig.Cow))
    t.insert(rows(500))
    val totalFiles = t.log.liveFiles().size
    assert(totalFiles >= 10, s"need multiple files, got $totalFiles")
    // the pruning rule only fires when the build side is SELECTIVE (has
    // its own surviving Filter node) — a local Seq collapses its filter
    // at optimization time, so the dim must be a real source
    val dimPath = graft.util.TempDirs.create("graft-rf-dim-").toString
    Seq(("g0", "zero"), ("g1", "one"), ("g2", "two"), ("g3", "three"),
        ("g4", "four")).toDF("g", "label").write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rf_dim")
    Pruning.lastRuntimePlanned.remove("fact_cow")
    val out = spark.sql(
      s"""SELECT f.k, f.v, d.label FROM $cat.fact_cow f
         |JOIN rf_dim d ON f.g = d.g WHERE d.label = 'one'""".stripMargin)
    val got = out.collect()
    assert(got.length == 100) // 500 rows / 5 partitions
    assert(got.forall(_.getString(2) == "one"))
    val planned = Option(Pruning.lastRuntimePlanned.get("fact_cow"))
    assert(planned.exists(_ < totalFiles),
      s"runtime filter should have pruned files: planned=$planned of $totalFiles " +
        s"(plan:\n${out.queryExecution.executedPlan})")
  }

  test("MOR: key-driven bucket pruning drops file groups at runtime") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = GraftTable.create(spark, s"$wh/fact_mor", cfg("fact_mor", TableConfig.Mor))
    t.insert(rows(500))
    t.upsert(rows(500).withColumn("ts", col("ts") + 1)) // live deltas
    assert(t.log.liveFiles().exists(_.delta))
    val totalGroups = t.log.liveFiles().groupBy(f => (f.partition, f.bucket)).size
    val keysPath = graft.util.TempDirs.create("graft-rf-keys-").toString
    (0L until 500L).map(k => (k, if (k == 7 || k == 13) "hit" else "miss"))
      .toDF("k", "label").write.mode("overwrite").parquet(keysPath)
    spark.read.parquet(keysPath).createOrReplaceTempView("rf_keys")
    Pruning.lastRuntimePlanned.remove("fact_mor")
    val out = spark.sql(
      s"""SELECT f.k, f.g, f.ts, d.label FROM $cat.fact_mor f
         |JOIN rf_keys d ON f.k = d.k WHERE d.label = 'hit'""".stripMargin)
    val got = out.collect()
    assert(got.length == 2) // latest-wins: one current row per key
    assert(got.forall(_.getLong(2) % 10 == 1)) // the upsert wave won
    val planned = Option(Pruning.lastRuntimePlanned.get("fact_mor"))
    assert(planned.exists(_ < totalGroups),
      s"runtime filter should have pruned groups: planned=$planned of $totalGroups " +
        s"(plan:\n${out.queryExecution.executedPlan})")
  }

  test("runtime pruning never changes results (pruned == unpruned)") {
    import spark.implicits._
    val (cat, wh) = freshCat()
    val t = GraftTable.create(spark, s"$wh/fact_eq", cfg("fact_eq", TableConfig.Cow))
    t.insert(rows(300))
    val partsPath = graft.util.TempDirs.create("graft-rf-parts-").toString
    Seq(("g0", 1), ("g1", 0), ("g2", 0), ("g3", 1), ("g4", 0))
      .toDF("g", "keep").write.mode("overwrite").parquet(partsPath)
    spark.read.parquet(partsPath).createOrReplaceTempView("rf_parts")
    def run(): Set[(Long, String)] = spark.sql(
      s"""SELECT f.k, f.g FROM $cat.fact_eq f
         |JOIN rf_parts d ON f.g = d.g WHERE d.keep = 1""".stripMargin)
      .as[(Long, String)].collect().toSet
    val pruned = run()
    val old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    try {
      val unpruned = run()
      assert(pruned == unpruned && pruned.size == 120)
    } finally spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled", old)
  }
}

object RuntimeFilterSpec {
  val seq = new java.util.concurrent.atomic.AtomicInteger(0)
}
