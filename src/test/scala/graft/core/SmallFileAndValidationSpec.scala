package graft.core

import graft.Session
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** T5 small-file bin packing + A4 dataset validation. */
class SmallFileAndValidationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(): String = graft.util.TempDirs.create("graft-sf-").toString

  private def rows(kv: (String, Long)*) =
    kv.map { case (k, v) => (k, "S", s"t$v", "2018/08/31", v) }
      .toDF("key", "symbol", "ts", "date", "volume")

  test("small-file limit folds undersized base files into the next insert") {
    val packed = GraftTable.create(spark, tmp(), TableConfig(
      name = "packed", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 1,
      smallFileLimitBytes = 10 << 20))
    val loose = GraftTable.create(spark, tmp(), TableConfig(
      name = "loose", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 1))
    (1 to 4).foreach { i =>
      packed.insert(rows((s"k$i", i.toLong)))
      loose.insert(rows((s"k$i", i.toLong)))
    }
    // bin-packed table keeps one base file per group; append-only stacks 4
    assert(packed.log.liveFiles().size == 1)
    assert(loose.log.liveFiles().size == 4)
    assert(packed.read().count() == 4)
    // compare data columns only — commit instants are wall-clock and
    // differ between the two tables by construction
    assert(Validation.datasetEquals(packed.read(), loose.read(),
      Seq("key", "symbol", "ts", "date", "volume")))
  }

  test("small-file limit folds a COW upsert's new keys into its groups' undersized base files") {
    val t = GraftTable.create(spark, tmp(), TableConfig(
      name = "packedup", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2,
      smallFileLimitBytes = 10 << 20))
    val days = Seq("2018/08/31", "2018/09/01")
    // rising keys: no batch's key range overlaps a stored file's, so
    // only bin packing keeps a group from stacking one file per upsert
    val batches = (1 to 10).map(i => (1 to 4).map(j =>
      (f"k$i%02d_$j", "S", s"t$i", days(j % 2), (10 * i + j).toLong)))
    batches.foreach(b => t.upsert(b.toDF("key", "symbol", "ts", "date", "volume")))
    val filesPerGroup = t.log.liveFiles().groupBy(f => (f.partition, f.bucket))
      .map { case (g, fs) => g -> fs.size }
    assert(filesPerGroup.size == 4)
    assert(filesPerGroup.values.forall(_ == 1), filesPerGroup)
    val model = batches.flatten.map(r => r._1 -> r).toMap
    val got = t.read().select("key", "symbol", "ts", "date", "volume")
      .as[(String, String, String, String, Long)].collect()
    assert(got.length == model.size && got.toSet == model.values.toSet)
  }

  test("ValidateDatasetNode analog: table state equals accumulated input") {
    val t = GraftTable.create(spark, tmp(), TableConfig(
      name = "val", keyField = "key", orderingField = "ts",
      partitionField = Some("date"), numBuckets = 2))
    val b1 = rows(("a", 1L), ("b", 1L))
    val b2 = rows(("a", 2L), ("c", 1L))
    t.insert(b1)
    t.upsert(b2)
    // expected accumulated state: latest per key
    val expected = rows(("a", 2L), ("b", 1L), ("c", 1L))
    assert(Validation.validateAgainstInput(t, expected))
    assert(Validation.duplicateKeys(t).isEmpty)
    // negative: wrong expectation fails
    assert(!Validation.validateAgainstInput(t, b1))
  }
}
