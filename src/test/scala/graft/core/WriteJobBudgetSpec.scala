package graft.core

import graft.Session
import org.apache.spark.Observed
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs one keyed write costs. Each budget is an upper bound
  * at the count the write path ran when its test was added, so a change
  * that adds a job to `upsert`, `deleteRows` or a MERGE fails here. */
class WriteJobBudgetSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = Observed.jobs(spark)(body)._2

  private def rows(t: GraftTable): Set[(Long, String, Long, Long)] =
    t.read().select("id", "p", "ver", "v").as[(Long, String, Long, Long)]
      .collect().toSet

  /** Upserts 2 updates and 2 new keys into a partitioned table of 40
    * rows, then deletes 2 keys, and checks each write's job count. */
  private def budget(tableType: String, upsertJobs: Int, deleteJobs: Int): Unit = {
    val t = GraftTable.create(spark,
      graft.util.TempDirs.create(s"graft-budget-$tableType-").toString,
      TableConfig(name = s"budget_$tableType", keyField = "id",
        orderingField = "ver", partitionField = Some("p"), numBuckets = 2,
        tableType = tableType))
    val base = (0L until 40L).map(i => (i, s"p${i % 4}", 1L, i))
    t.insert(base.toDF("id", "p", "ver", "v"))
    val batch = Seq((1L, "p1", 2L, 70L), (6L, "p2", 2L, 71L),
      (100L, "p0", 1L, 72L), (101L, "p1", 1L, 73L))
    val up = jobsOf(t.upsert(batch.toDF("id", "p", "ver", "v")))
    val del = jobsOf(t.deleteRows(t.read().filter(col("id").isin(2L, 7L))))
    val byId = (base ++ batch).map(r => r._1 -> r).toMap -- Seq(2L, 7L)
    info(s"$tableType: upsert $up Spark jobs, deleteRows $del Spark jobs")
    assert(rows(t) == byId.values.toSet)
    assert(up <= upsertJobs, s"$tableType upsert ran $up Spark jobs")
    assert(del <= deleteJobs, s"$tableType deleteRows ran $del Spark jobs")
  }

  test("COW upsert and deleteRows stay within their Spark job budgets") {
    budget(TableConfig.Cow, upsertJobs = 5, deleteJobs = 7)
  }

  test("MOR upsert and deleteRows stay within their Spark job budgets") {
    budget(TableConfig.Mor, upsertJobs = 3, deleteJobs = 3)
  }

  /** Runs `merge` (its target named `t`) on a partitioned COW table of
    * 40 rows through the SQL surface, checks the table against
    * `expected` and the statement's job count against `jobs`. */
  private def mergeBudget(name: String, merge: String, jobs: Int,
      expected: Seq[(Long, String, Long, Long)] => Set[(Long, String, Long, Long)]): Unit = {
    val catalog = new graft.sql.GraftCatalog(spark,
      graft.util.TempDirs.create(s"graft-budget-$name-").toString)
    val t = catalog.createTable(TableConfig(name = name, keyField = "id",
      orderingField = "ver", partitionField = Some("p"), numBuckets = 2))
    val base = (0L until 40L).map(i => (i, s"p${i % 4}", 1L, i))
    t.insert(base.toDF("id", "p", "ver", "v"))
    val gsql = new graft.sql.GraftSql(catalog)
    val n = jobsOf(gsql.sql(merge.replace("$t", name)))
    info(s"$name: $n Spark jobs")
    assert(rows(catalog.table(name)) == expected(base))
    assert(n <= jobs, s"$name ran $n Spark jobs")
  }

  // two updates and one new key, as a MERGE source
  private val mergeSource =
    """(SELECT 1L AS id, 'p1' AS p, 2L AS ver, 70L AS v
      |UNION ALL SELECT 6L, 'p2', 2L, 71L
      |UNION ALL SELECT 100L, 'p0', 1L, 72L) AS s""".stripMargin

  test("upsert MERGE stays within its Spark job budget") {
    mergeBudget("merge_upsert",
      s"""MERGE INTO $$t USING $mergeSource ON $$t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      jobs = 5,
      base => (base.filterNot(r => r._1 == 1L || r._1 == 6L) ++
        Seq((1L, "p1", 2L, 70L), (6L, "p2", 2L, 71L), (100L, "p0", 1L, 72L))).toSet)
  }

  test("COW full-sync MERGE stays within its Spark job budget") {
    mergeBudget("merge_full_sync",
      s"""MERGE INTO $$t USING $mergeSource ON $$t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin,
      jobs = 19,
      _ => Set((1L, "p1", 2L, 70L), (6L, "p2", 2L, 71L)))
  }
}
