package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Round-28 additions:
  *  - Iceberg v2 EQUALITY deletes (content=2) are APPLIED on the
  *    foreign-read path: the `equality_ids` columns anti-join data
  *    rows with STRICTLY SMALLER data sequence numbers (a re-inserted
  *    row survives); nulls match null-safely; entry-level sequence
  *    numbers inherit from the manifest when null; the delete
  *    relation broadcasts (no scan-side shuffle);
  *  - refusals narrowed to the genuinely unreadable: adoption of any
  *    live deletes, content=2 without equality_ids, equality deletes
  *    without an orderable sequence number, unknown equality field
  *    ids, and data columns colliding with the reader's helper names.
  */
class Round28Spec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(tag: String) =
    graft.util.TempDirs.create(s"graft-r28-$tag-").toString

  // ---- fixture forging --------------------------------------------------

  private def writeAvro(path: java.nio.file.Path, schemaJson: String,
      rows: Seq[Map[String, Any]]): Unit = {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val w = new org.apache.avro.file.DataFileWriter(
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path.toFile)
    def rec(s: org.apache.avro.Schema, m: Map[String, Any]): GenericRecord = {
      val r = new GenericData.Record(s)
      m.foreach {
        case (k, sub: Map[_, _]) =>
          r.put(k, rec(s.getField(k).schema(), sub.asInstanceOf[Map[String, Any]]))
        case (k, v) => r.put(k, v)
      }
      r
    }
    rows.foreach(m => w.append(rec(schema, m)))
    w.close()
  }

  private val manifestListSchema =
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"}]}""".stripMargin
  private val manifestSchema =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"content","type":"int"},
      |{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],
      |"default":null}]}}]}""".stripMargin

  private def writeOneParquet(df: org.apache.spark.sql.DataFrame,
      dest: java.nio.file.Path, sortCol: String = "id"): Unit = {
    val tmpd = s"$dest.tmp-${java.util.UUID.randomUUID()}"
    df.repartition(1).sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(tmpd)
    val part = graft.util.Fs.list(Paths.get(tmpd))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).head
    Files.createDirectories(dest.getParent)
    Files.move(part, dest)
    graft.util.TempDirs.deleteRecursively(Paths.get(tmpd))
  }

  private def schemaJson =
    """"current-schema-id":0,
      |"schemas":[{"schema-id":0,"type":"struct","fields":[
      |{"id":1,"name":"id","required":true,"type":"long"},
      |{"id":2,"name":"cat","required":false,"type":"string"},
      |{"id":3,"name":"v","required":false,"type":"string"}]}]""".stripMargin

  /** Two-column equality-delete tree with a NULL key value and a
    * re-insert after the delete:
    *  - f1 (seq 1): ids 0..9 with cat = "a"/"b"/NULL cycling (so row 8
    *    carries a NULL cat targeted by a null-keyed delete);
    *  - eq (seq 2, equality_ids=[id, cat]): kills (1,"b"), (8,null),
    *    (3,null — matches nothing: row 3 has cat "a");
    *  - f2 (seq 3): re-inserts (1,"b") with v="new" — survives (3 > 2).
    * `entrySeqNull`: write the data-manifest entries with NULL
    * sequence numbers so they inherit the manifest list's — the
    * inheritance leg of the spec. */
  private def forgeEqTree(root: String, entrySeqNull: Boolean = false,
      dropEqualityIds: Boolean = false, dropSeq: Boolean = false,
      badFieldId: Boolean = false): Unit = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val f1 = Paths.get(root, "data", "f1.parquet")
    val f2 = Paths.get(root, "data", "f2.parquet")
    val cats = Seq("a", "b", null)
    writeOneParquet((0 until 10).map(i =>
      (i.toLong, cats(i % 3), s"old$i")).toDF("id", "cat", "v"), f1)
    writeOneParquet(Seq((1L, "b", "new")).toDF("id", "cat", "v"), f2)
    val eq = Paths.get(root, "deletes", "eq.parquet")
    writeOneParquet(Seq((1L, "b"), (8L, null), (3L, null))
      .toDF("id", "cat"), eq)
    val dataMan = metaDir.resolve("m-data.avro")
    def entry(f: java.nio.file.Path, seq: Long) = Map(
      "status" -> Int.box(1),
      "data_file" -> Map(
        "file_path" -> f.toString, "content" -> Int.box(0))) ++
      (if (entrySeqNull) Map.empty[String, Any]
       else Map[String, Any]("sequence_number" -> Long.box(seq)))
    // with null entry seqs, the two data files need separate manifests
    // to carry distinct inherited sequence numbers
    val dataMan2 = metaDir.resolve("m-data2.avro")
    if (entrySeqNull) {
      writeAvro(dataMan, manifestSchema, Seq(entry(f1, 1L)))
      writeAvro(dataMan2, manifestSchema, Seq(entry(f2, 3L)))
    } else
      writeAvro(dataMan, manifestSchema, Seq(entry(f1, 1L), entry(f2, 3L)))
    val delMan = metaDir.resolve("m-del.avro")
    writeAvro(delMan, manifestSchema, Seq(Map[String, Any](
      "status" -> Int.box(1),
      "data_file" -> (Map[String, Any]("file_path" -> eq.toString,
        "content" -> Int.box(2)) ++
        (if (dropEqualityIds) Map.empty[String, Any]
         else Map[String, Any]("equality_ids" -> java.util.Arrays.asList(
           Int.box(if (badFieldId) 99 else 1), Int.box(2)))))) ++
      (if (dropSeq) Map.empty[String, Any]
       else Map[String, Any]("sequence_number" -> Long.box(2L)))))
    val list = metaDir.resolve("snap-1.avro")
    val listRows = Seq(
      Map[String, Any]("manifest_path" -> dataMan.toString,
        "content" -> Int.box(0), "sequence_number" -> Long.box(1L))) ++
      (if (entrySeqNull) Seq(Map[String, Any](
        "manifest_path" -> dataMan2.toString,
        "content" -> Int.box(0), "sequence_number" -> Long.box(3L)))
       else Nil) ++
      Seq(Map[String, Any]("manifest_path" -> delMan.toString,
        "content" -> Int.box(1), "sequence_number" -> Long.box(2L)))
    writeAvro(list, manifestListSchema, listRows)
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      s"""{"current-snapshot-id":1,$schemaJson,"snapshots":[
         |{"snapshot-id":1,"manifest-list":"$list"}]}""".stripMargin)
    ()
  }

  private def expectAfterDeletes: Set[(Long, String)] =
    // f1 minus (1,"b") and (8,null); (3,null) matches nothing; f2's
    // re-inserted (1,"b","new") survives (seq 3 > delete's 2)
    ((0 until 10).map(i => (i.toLong, s"old$i")).toSet
      -- Set((1L, "old1"), (8L, "old8"))) + ((1L, "new"))

  test("readIceberg applies equality deletes: multi-column ids, " +
      "null-safe matching, strictly-smaller sequence ordering") {
    val root = tmp("eqapply")
    forgeEqTree(root)
    val df = graft.interop.XTableSync.readIceberg(spark, root)
    val got = df.select("id", "v").as[(Long, String)].collect().toSet
    assert(got == expectAfterDeletes)
    // the small delete relation must BROADCAST into the anti-join —
    // the 100 TB plan shape (the scan side never shuffles)
    df.collect()
    val antis = collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antis.nonEmpty,
      s"expected a broadcast LeftAnti join, plan:\n${df.queryExecution.executedPlan}")
  }

  test("entry-level sequence numbers inherit from the manifest list " +
      "when null (spec inheritance)") {
    val root = tmp("eqinherit")
    forgeEqTree(root, entrySeqNull = true)
    val got = graft.interop.XTableSync.readIceberg(spark, root)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got == expectAfterDeletes)
  }

  test("adoption refuses equality deletes (cannot be represented)") {
    val root = tmp("eqadopt")
    forgeEqTree(root)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.adoptIceberg(spark, root,
        graft.core.TableConfig(name = "t", keyField = "id",
          orderingField = "id", numBuckets = 1))
    }
    assert(e.getMessage.contains("readIceberg"), e.getMessage)
  }

  test("malformed equality deletes refuse loudly: missing " +
      "equality_ids, missing sequence number, unknown field id") {
    val r1 = tmp("eqnoids")
    forgeEqTree(r1, dropEqualityIds = true)
    val e1 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIceberg(spark, r1).collect()
    }
    assert(e1.getMessage.contains("no equality_ids"), e1.getMessage)
    // a delete ENTRY with a null sequence number is not malformed — it
    // inherits the manifest list's (2 here) and the tree still reads;
    // the genuinely unordered tree refuses in the next test
    val r2 = tmp("eqnoseq")
    forgeEqTree(r2, dropSeq = true)
    val got2 = graft.interop.XTableSync.readIceberg(spark, r2)
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got2 == expectAfterDeletes)
    val r3 = tmp("eqbadfid")
    forgeEqTree(r3, badFieldId = true)
    val e3 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIceberg(spark, r3).collect()
    }
    assert(e3.getMessage.contains("field id 99"), e3.getMessage)
  }

  test("an equality delete with NO orderable sequence number refuses") {
    val root = tmp("eqzeroseq")
    forgeEqTree(root)
    // forge the manifest list + delete manifest with seq 0 everywhere
    val metaDir = Paths.get(root, "metadata")
    val delMan = metaDir.resolve("m-del0.avro")
    writeAvro(delMan, manifestSchema, Seq(Map(
      "status" -> Int.box(1),
      "data_file" -> Map(
        "file_path" -> Paths.get(root, "deletes", "eq.parquet").toString,
        "content" -> Int.box(2),
        "equality_ids" -> java.util.Arrays.asList(Int.box(1), Int.box(2))))))
    val list = metaDir.resolve("snap-2.avro")
    writeAvro(list, manifestListSchema, Seq(
      Map("manifest_path" -> metaDir.resolve("m-data.avro").toString,
        "content" -> Int.box(0), "sequence_number" -> Long.box(1L)),
      Map("manifest_path" -> delMan.toString,
        "content" -> Int.box(1), "sequence_number" -> Long.box(0L))))
    Files.writeString(metaDir.resolve("v2.metadata.json"),
      s"""{"current-snapshot-id":2,$schemaJson,"snapshots":[
         |{"snapshot-id":2,"manifest-list":"$list"}]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIceberg(spark, root).collect()
    }
    assert(e.getMessage.contains("no sequence number"), e.getMessage)
  }

  test("data columns colliding with the reader's helper names refuse " +
      "loudly instead of being silently clobbered") {
    val root = tmp("eqclash")
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val f1 = Paths.get(root, "data", "f1.parquet")
    writeOneParquet((0 until 5).map(i => (i.toLong, s"x$i"))
      .toDF("id", "__fp"), f1)
    val pd = Paths.get(root, "deletes", "pd.parquet")
    writeOneParquet(Seq((f1.toString, 0L)).toDF("file_path", "pos"), pd,
      sortCol = "pos")
    val dataMan = metaDir.resolve("m-data.avro")
    writeAvro(dataMan, manifestSchema, Seq(Map(
      "status" -> Int.box(1), "sequence_number" -> Long.box(1L),
      "data_file" -> Map("file_path" -> f1.toString, "content" -> Int.box(0)))))
    val delMan = metaDir.resolve("m-del.avro")
    writeAvro(delMan, manifestSchema, Seq(Map(
      "status" -> Int.box(1), "sequence_number" -> Long.box(2L),
      "data_file" -> Map("file_path" -> pd.toString, "content" -> Int.box(1)))))
    val list = metaDir.resolve("snap-1.avro")
    writeAvro(list, manifestListSchema, Seq(
      Map("manifest_path" -> dataMan.toString, "content" -> Int.box(0),
        "sequence_number" -> Long.box(1L)),
      Map("manifest_path" -> delMan.toString, "content" -> Int.box(1),
        "sequence_number" -> Long.box(2L))))
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      s"""{"current-snapshot-id":1,"snapshots":[
         |{"snapshot-id":1,"manifest-list":"$list"}]}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIceberg(spark, root).collect()
    }
    assert(e.getMessage.contains("__fp"), e.getMessage)
  }

  // ---- Delta deletion-vector READ leg ----------------------------------

  import graft.interop.DeltaDv

  private val dvSchemaString =
    """{"type":"struct","fields":[""" +
    """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
    """{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""

  /** One data file (ids 0..9), a storageType=u DV deleting ordinals
    * {1,3,5}. Corruption knobs forge the refusal cases. */
  private def forgeDvTable(root: String, breakCrc: Boolean = false,
      wrongCard: Boolean = false, extraFeature: Boolean = false): Unit = {
    val f0 = Paths.get(root, "f0.parquet")
    writeOneParquet((0 until 10).map(i => (i.toLong, s"v$i"))
      .toDF("id", "v"), f0)
    val ords = Seq(1L, 3L, 5L)
    val bm = DeltaDv.encodeBitmap(ords)
    val (blob, off) = DeltaDv.frameFile(bm)
    if (breakCrc) blob(blob.length - 1) = (blob(blob.length - 1) ^ 0x7).toByte
    val uuid = java.util.UUID.fromString(
      "0f0e0d0c-0b0a-4908-8706-050403020100")
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits)
      .putLong(uuid.getLeastSignificantBits).array()
    Files.write(Paths.get(root, s"deletion_vector_$uuid.bin"), blob)
    val card = if (wrongCard) 2 else ords.size
    val feats = """"deletionVectors"""" +
      (if (extraFeature) ""","v2Checkpoint"""" else "")
    val logDir = Paths.get(root, "_delta_log")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("00000000000000000000.json"), Seq(
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[$feats],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"dv","format":{"provider":"parquet",""" +
        s""""options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(dvSchemaString)},"partitionColumns":[],""" +
        s""""configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true,"deletionVector":""" +
        s"""{"storageType":"u","pathOrInlineDv":"${
          DeltaDv.z85Encode(uuidBytes)}","offset":$off,""" +
        s""""sizeInBytes":${bm.length},"cardinality":$card}}}""")
      .mkString("\n"))
    ()
  }

  test("Z85 and the portable roaring bitmap round-trip exactly") {
    val bytes = Array.tabulate(16)(i => (i * 37 + 11).toByte)
    assert(DeltaDv.z85Decode(DeltaDv.z85Encode(bytes)).toSeq == bytes.toSeq)
    // ordinals spanning two 32-bit keys exercise the multi-bitmap leg
    val ords = Seq(0L, 5L, 1L << 20, (1L << 32) + 3L, (1L << 32) + 9L)
    assert(DeltaDv.decodeBitmap(DeltaDv.encodeBitmap(ords)).toSeq ==
      ords.sorted)
  }

  test("readDelta applies deletion vectors: u-storage framed blob, " +
      "broadcast anti-join on (file, row ordinal)") {
    val root = tmp("dvapply")
    forgeDvTable(root)
    val df = graft.interop.XTableSync.readDelta(spark, root)
    val got = df.select("id").as[Long].collect().toSet
    assert(got == Set(0L, 2L, 4L, 6L, 7L, 8L, 9L))
    df.collect()
    val antis = collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antis.nonEmpty,
      s"expected a broadcast LeftAnti join:\n${df.queryExecution.executedPlan}")
  }

  test("VERSION AS OF applies the DVs of THAT version: v0 without a " +
      "DV reads whole, v1's re-add with a DV reads deleted") {
    val root = tmp("dvasof")
    forgeDvTable(root)
    // rewrite v0 WITHOUT the DV and re-add the file with it at v1 —
    // the upgrade shape a writer produces when DELETE first touches a
    // file (same protocol from the start, so both versions replay)
    val logDir = Paths.get(root, "_delta_log")
    val v0 = logDir.resolve("00000000000000000000.json")
    val lines = Files.readString(v0).split("\n").toSeq
    val plainAdd =
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        """"modificationTime":0,"dataChange":true}}"""
    Files.writeString(v0, (lines.dropRight(1) :+ plainAdd).mkString("\n"))
    Files.writeString(logDir.resolve("00000000000000000001.json"),
      lines.last)
    assert(graft.interop.XTableSync.readDelta(spark, root, 0L)
      .count() == 10L, "v0 predates the delete")
    assert(graft.interop.XTableSync.readDelta(spark, root, 1L)
      .select("id").as[Long].collect().toSet ==
      Set(0L, 2L, 4L, 6L, 7L, 8L, 9L))
    assert(graft.interop.XTableSync.readDelta(spark, root)
      .count() == 7L, "head == v1")
  }

  test("deletion-vector corruption refuses loudly: CRC mismatch, " +
      "cardinality mismatch, unsupported extra reader feature") {
    val r1 = tmp("dvcrc")
    forgeDvTable(r1, breakCrc = true)
    val e1 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDelta(spark, r1).collect() }
    assert(e1.getMessage.contains("CRC32"), e1.getMessage)
    val r2 = tmp("dvcard")
    forgeDvTable(r2, wrongCard = true)
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDelta(spark, r2).collect() }
    assert(e2.getMessage.contains("cardinality"), e2.getMessage)
    val r3 = tmp("dvfeat")
    forgeDvTable(r3, extraFeature = true)
    val e3 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDelta(spark, r3).collect() }
    assert(e3.getMessage.contains("read envelope"), e3.getMessage)
  }

  test("adoption of a deletion-vector table still refuses (cannot be " +
      "represented); sync/replay paths keep refusing DV'd adds") {
    val root = tmp("dvadopt")
    forgeDvTable(root)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.adoptDelta(spark, root,
        graft.core.TableConfig(name = "t", keyField = "id",
          orderingField = "id", numBuckets = 1))
    }
    assert(e.getMessage.contains("readDelta"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.replayDelta(root, spark)
    }
    assert(e2.getMessage.contains("readDelta") ||
      e2.getMessage.contains("read envelope"), e2.getMessage)
  }

  // ---- Delta change-data-feed WRITE leg (sync emission) -----------------

  test("syncDelta(changeDataFeed) emits the CDF protocol: cdc files " +
      "per row commit, service swaps dataChange=false, and " +
      "readDeltaChanges round-trips the exact history") {
    val root = tmp("cdfw")
    val t = graft.core.GraftTable.create(spark, root,
      graft.core.TableConfig(name = "cdfw", keyField = "id",
        orderingField = "ts", numBuckets = 2))
    t.bulkInsert((0L until 6L).map(i => (i, 1L, s"v$i"))
      .toDF("id", "ts", "txt"))
    t.upsert(Seq((2L, 2L, "v2b"), (100L, 2L, "new"))
      .toDF("id", "ts", "txt"))
    t.deleteWhere($"id" === 5L)
    // service commit: clustering rewrites files without changing rows
    assert(graft.core.TableServices.cluster(t, sortCols = Seq("txt"))
      .nonEmpty)
    val vers = graft.interop.XTableSync.syncDelta(t, changeDataFeed = true)
    assert(vers.size == 4)
    // metaData declares the feed
    val v0 = Files.readString(
      Paths.get(root, "_delta_log", "00000000000000000000.json"))
    assert(v0.contains("delta.enableChangeDataFeed"))
    val got = graft.interop.XTableSync.readDeltaChanges(spark, root, 0L)
      .select("id", "txt", "_change_type", "_commit_version")
      .as[(Long, String, String, Long)].collect().toSet
    val want = (0L until 6L).map(i => (i, s"v$i", "insert", 0L)).toSet ++
      Set((2L, "v2", "update_preimage", 1L),
        (2L, "v2b", "update_postimage", 1L),
        (100L, "new", "insert", 1L),
        (5L, "v5", "delete", 2L))
    assert(got == want, got.toString)
    // the clustering version derives NOTHING (dataChange=false) and
    // the snapshot read still matches the table
    assert(graft.interop.XTableSync.readDeltaChanges(spark, root, 3L, 3L)
      .count() == 0L)
    val snap = graft.interop.XTableSync.readDelta(spark, root)
      .select("id").as[Long].collect().toSet
    assert(snap == t.read().select("id").as[Long].collect().toSet)
    // checkpointing drops the cdc actions but keeps the state sound
    graft.interop.XTableSync.checkpointDelta(spark, root)
    assert(graft.interop.XTableSync.readDelta(spark, root)
      .select("id").as[Long].collect().toSet == snap)
  }

  test("changeDataFeed sync refuses MOR tables and restore in range") {
    val root = tmp("cdfmor")
    val t = graft.core.GraftTable.create(spark, root,
      graft.core.TableConfig(name = "cdfmor", keyField = "id",
        orderingField = "ts", numBuckets = 1,
        tableType = graft.core.TableConfig.Mor))
    t.bulkInsert(Seq((1L, 1L, "a")).toDF("id", "ts", "txt"))
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.syncDelta(t, changeDataFeed = true) }
    assert(e.getMessage.contains("read-optimized"), e.getMessage)
    val root2 = tmp("cdfrestore")
    val t2 = graft.core.GraftTable.create(spark, root2,
      graft.core.TableConfig(name = "cdfrestore", keyField = "id",
        orderingField = "ts", numBuckets = 1))
    t2.bulkInsert(Seq((1L, 1L, "a")).toDF("id", "ts", "txt"))
    val inst1 = t2.log.lastInstant().get
    t2.upsert(Seq((2L, 2L, "b")).toDF("id", "ts", "txt"))
    graft.core.TableServices.restore(t2, inst1)
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.syncDelta(t2, changeDataFeed = true) }
    assert(e2.getMessage.contains("restore"), e2.getMessage)
  }

  // ---- Iceberg incremental READ leg ------------------------------------

  /** Versioned tree driven by a file-set map per version; reuses the
    * minimal l39-style manifest schemas. */
  private def forgeIceVersions(root: String,
      versions: Seq[(Seq[String], Seq[String])]): Unit = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    versions.zipWithIndex.foreach { case ((data, dels), i) =>
      val v = i + 1
      val man = metaDir.resolve(s"m-$v.avro")
      writeAvro(man, manifestSchema,
        data.map(f => Map[String, Any]("status" -> Int.box(1),
          "sequence_number" -> Long.box(1L),
          "data_file" -> Map[String, Any](
            "file_path" -> Paths.get(root, f).toString,
            "content" -> Int.box(0)))) ++
        dels.map(f => Map[String, Any]("status" -> Int.box(1),
          "sequence_number" -> Long.box(1L),
          "data_file" -> Map[String, Any](
            "file_path" -> Paths.get(root, f).toString,
            "content" -> Int.box(1)))))
      val list = metaDir.resolve(s"snap-$v.avro")
      writeAvro(list, manifestListSchema, Seq(
        Map[String, Any]("manifest_path" -> man.toString,
          "content" -> Int.box(if (dels.isEmpty) 0 else 1),
          "sequence_number" -> Long.box(1L))))
      // one manifest carrying both kinds needs content=0 at the list
      // level when data files are present
      if (data.nonEmpty && dels.nonEmpty) {
        val mData = metaDir.resolve(s"m-$v-data.avro")
        val mDel = metaDir.resolve(s"m-$v-del.avro")
        writeAvro(mData, manifestSchema,
          data.map(f => Map[String, Any]("status" -> Int.box(1),
            "sequence_number" -> Long.box(1L),
            "data_file" -> Map[String, Any](
              "file_path" -> Paths.get(root, f).toString,
              "content" -> Int.box(0)))))
        writeAvro(mDel, manifestSchema,
          dels.map(f => Map[String, Any]("status" -> Int.box(1),
            "sequence_number" -> Long.box(1L),
            "data_file" -> Map[String, Any](
              "file_path" -> Paths.get(root, f).toString,
              "content" -> Int.box(1)))))
        writeAvro(list, manifestListSchema, Seq(
          Map[String, Any]("manifest_path" -> mData.toString,
            "content" -> Int.box(0), "sequence_number" -> Long.box(1L)),
          Map[String, Any]("manifest_path" -> mDel.toString,
            "content" -> Int.box(1), "sequence_number" -> Long.box(1L))))
      }
      Files.writeString(metaDir.resolve(s"v$v.metadata.json"),
        s"""{"current-snapshot-id":$v,"snapshots":[
           |{"snapshot-id":$v,"manifest-list":"$list"}]}""".stripMargin)
    }
    ()
  }

  test("readIcebergChanges: pure removal emits deletes minus " +
      "already-deleted positions; rewrites and equality-delete " +
      "changes refuse; empty range is empty") {
    val root = tmp("icechg")
    writeOneParquet((0L until 6L).map(i => (i, s"v$i")).toDF("id", "v"),
      Paths.get(root, "f0.parquet"))
    writeOneParquet(Seq((10L, "x")).toDF("id", "v"),
      Paths.get(root, "f1.parquet"))
    writeOneParquet(
      Seq((Paths.get(root, "f0.parquet").toString, 1L),
        (Paths.get(root, "f0.parquet").toString, 4L))
        .toDF("file_path", "pos"),
      Paths.get(root, "pd.parquet"), sortCol = "pos")
    forgeIceVersions(root, Seq(
      (Seq("f0.parquet"), Nil),                      // v1: insert f0
      (Seq("f0.parquet"), Seq("pd.parquet")),        // v2: pos-delete 1,4
      (Seq("f0.parquet", "f1.parquet"), Seq("pd.parquet")), // v3: +f1
      (Seq("f1.parquet"), Nil),                      // v4: drop f0 (+pd)
      (Seq("f1.parquet"), Nil)))                     // v5: no change
    val got = graft.interop.XTableSync
      .readIcebergChanges(spark, root, 1L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set(
      (0L, "insert", 1L), (1L, "insert", 1L), (2L, "insert", 1L),
      (3L, "insert", 1L), (4L, "insert", 1L), (5L, "insert", 1L),
      (1L, "delete", 2L), (4L, "delete", 2L),
      (10L, "insert", 3L),
      // v4 deletes f0's REMAINING rows — 1 and 4 died at v2
      (0L, "delete", 4L), (2L, "delete", 4L), (3L, "delete", 4L),
      (5L, "delete", 4L)), got.toString)
    // empty range → empty relation, schema intact
    val empty = graft.interop.XTableSync
      .readIcebergChanges(spark, root, 5L, 5L)
    assert(empty.count() == 0L)
    assert(empty.columns.contains("_change_type"))
    assert(graft.interop.XTableSync
      .readIcebergChanges(spark, root, 4L, 4L).count() == 4L)
    // rewrite (add+remove, no new deletes) refuses
    val r2 = tmp("icechg2")
    writeOneParquet(Seq((0L, "a")).toDF("id", "v"),
      Paths.get(r2, "f0.parquet"))
    writeOneParquet(Seq((0L, "a")).toDF("id", "v"),
      Paths.get(r2, "f0b.parquet"))
    forgeIceVersions(r2, Seq(
      (Seq("f0.parquet"), Nil), (Seq("f0b.parquet"), Nil)))
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIcebergChanges(spark, r2, 2L, 2L)
        .collect() }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
    // a retention-expired baseline refuses — it must NOT read as an
    // empty prior state (every surviving file would misreport as a
    // fresh insert)
    Files.delete(Paths.get(root, "metadata", "v1.metadata.json"))
    val eExp = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIcebergChanges(spark, root, 2L, 2L)
        .collect() }
    assert(eExp.getMessage.contains("retention-expired"), eExp.getMessage)
    // equality-delete set change refuses
    val r3 = tmp("icechg3")
    forgeEqTree(r3)
    writeOneParquet(Seq((0L, "a")).toDF("id", "v"),
      Paths.get(r3, "f9.parquet"))
    // v2 metadata on the eq tree: same snapshot renamed — the eq set
    // appears at v1 (from empty baseline) → refuse on v1 itself
    val e3 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIcebergChanges(spark, r3, 1L, 1L)
        .collect() }
    assert(e3.getMessage.contains("EQUALITY"), e3.getMessage)
  }

  // ---- Delta change-data-feed READ leg ---------------------------------

  private def cdfMetaLine = {
    val schema = """{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
    s"""{"metaData":{"id":"cdf","format":{"provider":"parquet",""" +
      s""""options":{}},"schemaString":${
        new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(schema)},"partitionColumns":[],""" +
      s""""configuration":{},"createdTime":0}}"""
  }

  private def cdfCommit(root: String, v: Long, lines: Seq[String]): Unit = {
    val logDir = Paths.get(root, "_delta_log")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve(f"$v%020d.json"), lines.mkString("\n"))
    ()
  }

  private def cdfAdd(p: String, dv: String = "") =
    s"""{"add":{"path":"$p","partitionValues":{},"size":1,""" +
      s""""modificationTime":0,"dataChange":true$dv}}"""

  test("readDeltaChanges: derived inserts/deletes, version filtering, " +
      "and compaction (dataChange=false) contributing nothing") {
    val root = tmp("cdf1")
    writeOneParquet(Seq((0L, "a"), (1L, "b")).toDF("id", "v"),
      Paths.get(root, "f0.parquet"))
    writeOneParquet(Seq((2L, "c")).toDF("id", "v"),
      Paths.get(root, "f1.parquet"))
    writeOneParquet(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"),
      Paths.get(root, "fc.parquet"))
    cdfCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      cdfMetaLine, cdfAdd("f0.parquet")))
    cdfCommit(root, 1L, Seq(cdfAdd("f1.parquet")))
    // compaction: rewrites with dataChange=false — NOT a change
    cdfCommit(root, 2L, Seq(
      """{"add":{"path":"fc.parquet","partitionValues":{},"size":1,""" +
        """"modificationTime":0,"dataChange":false}}""",
      """{"remove":{"path":"f0.parquet","deletionTimestamp":1,""" +
        """"dataChange":false}}""",
      """{"remove":{"path":"f1.parquet","deletionTimestamp":1,""" +
        """"dataChange":false}}"""))
    cdfCommit(root, 3L, Seq(
      """{"remove":{"path":"fc.parquet","deletionTimestamp":3,""" +
        """"dataChange":true}}"""))
    val all = graft.interop.XTableSync.readDeltaChanges(spark, root, 0L)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSet
    assert(all == Set(
      (0L, "insert", 0L), (1L, "insert", 0L), (2L, "insert", 1L),
      (0L, "delete", 3L), (1L, "delete", 3L), (2L, "delete", 3L)))
    // range filtering: only v1
    val v1 = graft.interop.XTableSync.readDeltaChanges(spark, root, 1L, 1L)
      .select("id").as[Long].collect().toSeq
    assert(v1 == Seq(2L))
    // bad ranges refuse
    val eR = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDeltaChanges(spark, root, 2L, 9L) }
    assert(eR.getMessage.contains("within"), eR.getMessage)
  }

  test("readDeltaChanges refusals: DV'd derivation commit, vacuumed " +
      "removed file, column-mapped table") {
    val root = tmp("cdf2")
    writeOneParquet(Seq((0L, "a")).toDF("id", "v"),
      Paths.get(root, "f0.parquet"))
    cdfCommit(root, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      cdfMetaLine, cdfAdd("f0.parquet")))
    val bm = DeltaDv.encodeBitmap(Seq(0L))
    val padded = java.util.Arrays.copyOf(bm, (bm.length + 3) / 4 * 4)
    cdfCommit(root, 1L, Seq(cdfAdd("f0.parquet",
      s""","deletionVector":{"storageType":"i","pathOrInlineDv":"${
        DeltaDv.z85Encode(padded)}","sizeInBytes":${bm.length},""" +
        s""""cardinality":1}""")))
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDeltaChanges(spark, root, 0L) }
    assert(e.getMessage.contains("deletion vector"), e.getMessage)
    // snapshot reads still work over the same table (DV applied)
    assert(graft.interop.XTableSync.readDelta(spark, root).count() == 0L)
    val root2 = tmp("cdf3")
    writeOneParquet(Seq((0L, "a")).toDF("id", "v"),
      Paths.get(root2, "f0.parquet"))
    cdfCommit(root2, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      cdfMetaLine, cdfAdd("f0.parquet")))
    cdfCommit(root2, 1L, Seq(
      """{"remove":{"path":"gone.parquet","deletionTimestamp":1,""" +
        """"dataChange":true}}"""))
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDeltaChanges(spark, root2, 0L) }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
    val root3 = tmp("cdf4")
    forgeMappedTable(root3)
    val e3 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDeltaChanges(spark, root3, 0L) }
    assert(e3.getMessage.contains("column mapping"), e3.getMessage)
  }

  // ---- Delta column-mapping READ leg -----------------------------------

  /** Column-mapped table with a NESTED struct: logical
    * (id long, info struct<tag string, score double>) stored under
    * physical names (c1, c2 struct<c3, c4>). `mrv3` uses the
    * table-features protocol instead of legacy (2,5); `withDv` also
    * attaches a DV deleting ordinal 0 — the composition case. */
  private def forgeMappedTable(root: String, mrv3: Boolean = false,
      withDv: Boolean = false): Unit = {
    val f = Paths.get(root, "data.parquet")
    writeOneParquet(
      Seq((0L, ("a", 1.5)), (1L, ("b", 2.5)), (2L, ("c", 3.5)))
        .toDF("c1", "nested")
        .select($"c1", $"nested._1".as("c3"), $"nested._2".as("c4"))
        .select($"c1", struct($"c3", $"c4").as("c2")),
      f, sortCol = "c1")
    def meta(n: String, id: Int, ph: String) =
      s""""metadata":{"delta.columnMapping.id":$id,""" +
        s""""delta.columnMapping.physicalName":"$ph"}"""
    val schemaString =
      s"""{"type":"struct","fields":[""" +
      s"""{"name":"id","type":"long","nullable":true,${meta("id", 1, "c1")}},""" +
      s"""{"name":"info","type":{"type":"struct","fields":[""" +
      s"""{"name":"tag","type":"string","nullable":true,${meta("tag", 3, "c3")}},""" +
      s"""{"name":"score","type":"double","nullable":true,${meta("score", 4, "c4")}}]},""" +
      s""""nullable":true,${meta("info", 2, "c2")}}]}"""
    val protocol =
      if (mrv3)
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["columnMapping","deletionVectors"],""" +
          """"writerFeatures":["columnMapping"]}}"""
      else """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    val dv =
      if (!withDv) ""
      else {
        val bm = DeltaDv.encodeBitmap(Seq(0L))
        val padded = java.util.Arrays.copyOf(bm, (bm.length + 3) / 4 * 4)
        s""","deletionVector":{"storageType":"i","pathOrInlineDv":"${
          DeltaDv.z85Encode(padded)}","sizeInBytes":${bm.length},""" +
          s""""cardinality":1}"""
      }
    val logDir = Paths.get(root, "_delta_log")
    Files.createDirectories(logDir)
    Files.writeString(logDir.resolve("00000000000000000000.json"), Seq(
      protocol,
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet",""" +
        s""""options":{}},"schemaString":${
          new com.fasterxml.jackson.databind.ObjectMapper()
            .writeValueAsString(schemaString)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"4"},"createdTime":0}}""",
      s"""{"add":{"path":"data.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":0,"dataChange":true$dv}}""")
      .mkString("\n"))
    ()
  }

  test("readDelta remaps column mapping: physical parquet names " +
      "surface as logical names at every nesting level") {
    val root = tmp("cmapply")
    forgeMappedTable(root)
    val df = graft.interop.XTableSync.readDelta(spark, root)
    assert(df.columns.toSeq == Seq("id", "info"))
    assert(df.schema("info").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Seq("tag", "score"))
    val got = df.select($"id", $"info.tag", $"info.score")
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((0L, "a", 1.5), (1L, "b", 2.5), (2L, "c", 3.5)))
  }

  test("column mapping composes with deletion vectors under the " +
      "table-features protocol") {
    val root = tmp("cmdv")
    forgeMappedTable(root, mrv3 = true, withDv = true)
    val got = graft.interop.XTableSync.readDelta(spark, root)
      .select($"id", $"info.tag").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "b"), (2L, "c")), "ordinal 0 must be deleted")
  }

  test("column-mapped tables refuse on replay/adoption; an unknown " +
      "mapping mode refuses even on read") {
    val root = tmp("cmadopt")
    forgeMappedTable(root)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.replayDelta(root, spark) }
    assert(e.getMessage.contains("column mapping"), e.getMessage)
    val root2 = tmp("cmmode")
    forgeMappedTable(root2)
    val log = Paths.get(root2, "_delta_log",
      "00000000000000000000.json")
    Files.writeString(log, Files.readString(log)
      .replace(""""delta.columnMapping.mode":"name"""",
        """"delta.columnMapping.mode":"exotic""""))
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDelta(spark, root2).collect() }
    assert(e2.getMessage.contains("exotic"), e2.getMessage)
  }

  // ---- vector-index observability / maintenance knobs / contracts ------

  private def nullableVec(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("embedding", $"embedding".cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true)))

  private def emb(i: Long): Seq[Double] =
    Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq

  test("CALL vector_index_stats: the row tracks build → append → " +
      "tombstone → refreeze; refuses when no index exists") {
    val wh = tmp("vstats")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs8",
      keyField = "vec_id", orderingField = "ver", numBuckets = 1))
    val eNone = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_index_stats(table => 'vs8')") }
    assert(eNone.getMessage.contains("no vector index"), eNone.getMessage)
    t.bulkInsert(nullableVec((0 until 60).map(i =>
      (i.toLong, emb(i), 1L)).toDF("vec_id", "embedding", "ver")))
    // drift_retrain high: this test drives the TOMBSTONE exits, and a
    // 6-row batch's drift estimate is noisy enough to cross 1.5
    gsql.sql("CALL build_vector_index(table => 'vs8', id_col => 'vec_id', " +
      "vec_col => 'embedding', n_lists => 4, drift_retrain => '10')")
    def stats() = gsql.sql(
      "CALL vector_index_stats(table => 'vs8', vec_col => 'embedding')")
      .collect().head
    val s0 = stats()
    assert(s0.getAs[String]("last_action") == "rebuild")
    assert(s0.getAs[Long]("corpus_count") == 60L)
    assert(s0.getAs[Long]("tombstone_count") == 0L)
    assert(s0.getAs[Double]("drift_retrain") == 10.0)
    assert(s0.getAs[Double]("fold_threshold") == 0.2)
    assert(s0.getAs[Boolean]("epoch_aware"))
    // 10 new rows → one incremental append batch, journaled
    t.upsert(nullableVec((100 until 110).map(i =>
      (i.toLong, emb(i), 2L)).toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4, driftRetrain = 10.0)
    val s1 = stats()
    assert(s1.getAs[String]("last_action") == "incremental")
    assert(s1.getAs[Long]("corpus_count") == 70L)
    assert(s1.getAs[Long]("appends_journal_depth") == 1L)
    assert(!s1.getAs[Boolean]("last_refroze"))
    assert(s1.getAs[String]("stamp_instant") == t.log.lastInstant().get)
    // 6 updated keys → epoch tombstones; 6/76 is under the 0.2 fold
    t.upsert(nullableVec((0 until 6).map(i =>
      (i.toLong, emb(i + 500), 3L)).toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4, driftRetrain = 10.0)
    val s2 = stats()
    assert(s2.getAs[Long]("tombstone_count") == 6L, s2.toString)
    val frac = s2.getAs[Double]("tombstone_fraction")
    assert(frac > 0 && frac < 0.2, s"fraction $frac")
    // 14 more updates → 20 tombstones over a 90-row corpus crosses the
    // 0.2 fold: the maintenance refreezes and the stats say so
    t.upsert(nullableVec((6 until 20).map(i =>
      (i.toLong, emb(i + 900), 4L)).toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4, driftRetrain = 10.0)
    val s3 = stats()
    assert(s3.getAs[Boolean]("last_refroze"))
    assert(s3.getAs[Long]("tombstone_count") == 0L)
    assert(s3.getAs[Long]("corpus_count") == 70L,
      "the fold must drop the 20 superseded versions")
  }

  test("fold_threshold from SQL: a low threshold folds on a small " +
      "update batch, the post-fold search plan drops the tombstone " +
      "anti-join, and knobs inherit / rebuild on change") {
    val wh = tmp("vknobs")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs9",
      keyField = "vec_id", orderingField = "ver", numBuckets = 1))
    t.bulkInsert(nullableVec((0 until 60).map(i =>
      (i.toLong, emb(i), 1L)).toDF("vec_id", "embedding", "ver")))
    gsql.sql("CALL build_vector_index(table => 'vs9', id_col => 'vec_id', " +
      "vec_col => 'embedding', n_lists => 4, fold_threshold => '0.05')")
    val path = graft.core.TableServices.vectorIndexPath(t, "embedding")
    def stats() = gsql.sql("CALL vector_index_stats(table => 'vs9')")
      .collect().head
    assert(stats().getAs[Double]("fold_threshold") == 0.05)
    // 5 updated keys: 5 tombstones > 0.05 × 65 → the NEXT maintenance
    // folds. The maintaining call is a PLAIN search with no knob args —
    // it must inherit the stamped 0.05, not rebuild back to defaults.
    t.upsert(nullableVec((0 until 5).map(i =>
      (i.toLong, emb(i + 300), 2L)).toDF("vec_id", "embedding", "ver")))
    val got = gsql.sql("CALL vector_search(table => 'vs9', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 3, " +
        "n_lists => 4, query_where => 'vec_id = 30')")
      .select("neighbor_id").as[Long].collect()
    assert(got.length == 3)
    val s = stats()
    assert(s.getAs[Boolean]("last_refroze"),
      "5/65 tombstones must cross the stamped 0.05 fold")
    assert(s.getAs[Double]("fold_threshold") == 0.05,
      "a plain search must not reset stamped knobs")
    assert(s.getAs[Long]("tombstone_count") == 0L)
    assert(!Files.isDirectory(Paths.get(path, "tombstones")))
    // post-fold, the raw-tier search plan has NO anti-join node — the
    // tombstone relation is gone and applyTombstones is a no-op
    val q = t.read().filter($"vec_id" === 30L).select("vec_id", "embedding")
    val (_, runs) = org.apache.spark.Observed.executions(spark) {
      graft.operators.IvfIndex.topK(spark, path, q,
        "vec_id", "embedding", k = 3, nProbe = 4).collect()
    }
    val scans = runs.collect { case ("vector_search", qe) => qe.executedPlan }
    assert(scans.nonEmpty, s"the search must scan the index: ${runs.map(_._1)}")
    val antis = scans.flatMap(collect(_) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    })
    assert(antis.isEmpty,
      s"post-fold search must not anti-join:\n${scans.mkString("\n")}")
    // changing a knob is a new index identity → rebuild, new stamp
    gsql.sql("CALL build_vector_index(table => 'vs9', id_col => 'vec_id', " +
      "vec_col => 'embedding', n_lists => 4, fold_threshold => '0.5')")
    val s2 = stats()
    assert(s2.getAs[String]("last_action") == "rebuild")
    assert(s2.getAs[Double]("fold_threshold") == 0.5)
    // invalid knobs refuse loudly
    val eBad = intercept[IllegalArgumentException] {
      gsql.sql("CALL build_vector_index(table => 'vs9', " +
        "id_col => 'vec_id', vec_col => 'embedding', " +
        "fold_threshold => '1.5')") }
    assert(eBad.getMessage.contains("foldThreshold"), eBad.getMessage)
  }

  test("empty-query contract: a query_where matching no rows returns " +
      "an empty result in BOTH search tiers") {
    val wh = tmp("vempty")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs10",
      keyField = "vec_id", orderingField = "ver", numBuckets = 1))
    t.bulkInsert(nullableVec((0 until 30).map(i =>
      (i.toLong, emb(i), 1L)).toDF("vec_id", "embedding", "ver")))
    val exact = gsql.sql("CALL vector_search(table => 'vs10', " +
      "id_col => 'vec_id', vec_col => 'embedding', k => 3, " +
      "n_lists => 2, query_where => 'vec_id = -999')")
    assert(exact.count() == 0L, "exact tier: empty in, empty out")
    val rerank = gsql.sql("CALL vector_search(table => 'vs10', " +
      "id_col => 'vec_id', vec_col => 'embedding', k => 3, " +
      "n_lists => 2, rerank => 8, query_where => 'vec_id = -999')")
    assert(rerank.count() == 0L, "rerank tier: empty in, empty out")
    assert(rerank.columns.toSeq ==
      Seq("query_id", "neighbor_id", "score", "rank"),
      "the empty rerank relation must keep the tier's schema")
  }
}
