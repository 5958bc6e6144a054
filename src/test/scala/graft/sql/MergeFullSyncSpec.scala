package graft.sql

import graft.Session
import graft.core.TableConfig
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one-commit COW full-sync MERGE (`WHEN MATCHED THEN UPDATE SET *`
  * + `WHEN NOT MATCHED BY SOURCE THEN DELETE`) returns what the two
  * separate MERGEs return, whatever the table's layout. */
class MergeFullSyncSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  test("full-sync MERGE keeps a stored key the source holds under another partition value") {
    val wh = graft.util.TempDirs.create("graft-fullsync-").toString
    val catalog = new GraftCatalog(spark, wh)
    val gsql = new GraftSql(catalog)
    def table(name: String) = {
      val t = catalog.createTable(TableConfig(name = name, keyField = "id",
        orderingField = "ts", partitionField = Some("p"), numBuckets = 1))
      t.insert(Seq((1L, "a", "x", 1L), (2L, "a", "y", 1L), (3L, "b", "z", 1L))
        .toDF("id", "p", "v", "ts"))
      t
    }
    // id 1 reappears under p=b; id 2 is absent from the source; id 3 is
    // updated in place. No source key falls in group (p=a, bucket 0)'s
    // partition, yet id 1 is in the source, so the MERGE ON key keeps it.
    val src = "(SELECT 1 AS id, 'b' AS p, 'x2' AS v, 2 AS ts " +
      "UNION ALL SELECT 3, 'b', 'z2', 2) AS s"
    val fused = table("fused")
    gsql.sql(s"""MERGE INTO fused USING $src ON s.id = fused.id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(fused.log.commits().last.operation == "full_sync")
    val twoStep = table("two_step")
    gsql.sql(s"""MERGE INTO two_step USING $src ON s.id = two_step.id
      |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    gsql.sql(s"""MERGE INTO two_step USING $src ON s.id = two_step.id
      |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    def state(t: graft.core.GraftTable) =
      t.read().select("id", "p", "v", "ts").as[(Long, String, String, Long)].collect().toSet
    assert(state(twoStep) == Set((1L, "a", "x", 1L), (1L, "b", "x2", 2L), (3L, "b", "z2", 2L)))
    assert(state(fused) == state(twoStep))
  }
}
