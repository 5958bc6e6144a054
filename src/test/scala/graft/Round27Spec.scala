package graft

import graft.operators.{IvfPq, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Round-27 hardening (round-16 advice):
  *  - filtered ANN joins the allowed id set on the index id column's
  *    NATIVE type — a string-keyed index takes string id sets directly
  *    (the old cast-to-long nulled them out and silently returned zero
  *    rows), and a type-FAMILY mismatch refuses loudly;
  *  - malformed Delta protocol actions (missing minReaderVersion /
  *    minWriterVersion) refuse with the module's loud
  *    IllegalArgumentException contract instead of an NPE;
  *  - MMR pool vectors with null / non-float elements refuse loudly
  *    instead of an opaque MatchError mid-greedy.
  */
class Round27Spec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(tag: String) =
    graft.util.TempDirs.create(s"graft-r27-$tag-").toString

  // ---- filtered ANN over a string-keyed index --------------------------

  /** 40 deterministic 8-dim vectors keyed by STRING ids. */
  private def stringCorpus() = {
    val rows = (0 until 40).map { i =>
      val v = Array.tabulate(8)(j => math.sin(i * 8 + j + 1).abs + 0.1)
      (f"doc-$i%03d", v.toSeq)
    }
    rows.toDF("doc_id", "emb")
  }

  test("filtered ANN: string-keyed index joins a string id set natively") {
    val path = tmp("strids")
    val corpus = stringCorpus()
    val cb = IvfPq.build(corpus, "doc_id", "emb", nLists = 2, m = 4,
      codesPerSub = 16, path = path)
    val q = corpus.filter($"doc_id" === "doc-007")
      .select($"emb".cast("array<double>")).first().getSeq[Double](0).toArray
    // allowed = the ten even-numbered ids below 20, as STRINGS
    val allowedIds = (0 until 20 by 2).map(i => f"doc-$i%03d")
    val allowed = allowedIds.toDF("doc_id")
    val got = IvfPq.topK(spark, path, cb, q, k = 5, nProbe = 2,
      allowed = Some(allowed))
      .select("id").as[String].collect().toSet
    assert(got.nonEmpty, "old cast-to-long path silently returned 0 rows")
    assert(got.subsetOf(allowedIds.toSet))
    // exactness vs an unfiltered scan post-filtered to the allowed set:
    // full probe + filter-before-ranking == filter-after-ranking at
    // the same k when the allowed set is re-ranked exactly
    val brute = IvfPq.topK(spark, path, cb, q, k = 40, nProbe = 2)
      .filter($"id".isin(allowedIds: _*))
      .orderBy($"adc_score".desc, $"id".asc).limit(5)
      .select("id").as[String].collect().toSet
    assert(got == brute)
  }

  test("filtered ANN: type-family mismatch refuses loudly") {
    val path = tmp("stridsbad")
    val corpus = stringCorpus()
    val cb = IvfPq.build(corpus, "doc_id", "emb", nLists = 2, m = 4,
      codesPerSub = 16, path = path)
    val q = Array.fill(8)(0.5)
    val e = intercept[IllegalArgumentException] {
      IvfPq.topK(spark, path, cb, q, k = 5, nProbe = 2,
        allowed = Some(Seq(1L, 2L).toDF("id"))).collect()
    }
    assert(e.getMessage.contains("type famil"))
  }

  test("filtered ANN: numeric widths still widen losslessly (int id set)") {
    val path = tmp("intids")
    val corpus = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 8 + j + 1).abs + 0.1).toSeq)
    }.toDF("vec_id", "emb")
    val cb = IvfPq.build(corpus, "vec_id", "emb", nLists = 2, m = 4,
      codesPerSub = 16, path = path)
    val q = Array.fill(8)(0.5)
    val got = IvfPq.topK(spark, path, cb, q, k = 3, nProbe = 2,
      allowed = Some((0 until 10).toDF("vec_id"))) // INT set, LONG index
      .select("id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ < 10))
  }

  // ---- malformed Delta protocol actions --------------------------------

  private def writeLog(root: String, ver: Long, actions: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(root, "_delta_log"))
    Files.write(Paths.get(root, "_delta_log", f"$ver%020d.json"),
      actions.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }

  private val metaLine: String =
    graft.core.CommitLog.mapper.writeValueAsString(Map(
      "metaData" -> Map("id" -> "0",
        "format" -> Map("provider" -> "parquet"),
        "schemaString" -> Seq((1L, 1L)).toDF("id", "ts").schema.json,
        "partitionColumns" -> Seq.empty,
        "configuration" -> Map.empty)))

  test("replay refuses a protocol action without minReaderVersion") {
    val root = tmp("noreader")
    writeLog(root, 0L, Seq("""{"protocol":{"minWriterVersion":2}}""", metaLine))
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readDelta(spark, root)
    }
    assert(e.getMessage.contains("minReaderVersion"))
    assert(e.getMessage.contains("malformed"))
  }

  test("adoption refuses a protocol action without minWriterVersion") {
    val root = tmp("nowriter")
    writeLog(root, 0L, Seq("""{"protocol":{"minReaderVersion":1}}""", metaLine))
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.adoptDelta(spark, root, graft.core.TableConfig(
        name = "t", keyField = "id", orderingField = "ts", numBuckets = 1))
    }
    assert(e.getMessage.contains("minWriterVersion"))
    assert(e.getMessage.contains("malformed"))
  }

  // ---- Iceberg v2 position deletes --------------------------------------

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
          r.put(k, rec(s.getField(k).schema(),
            sub.asInstanceOf[Map[String, Any]]))
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
      |{"name":"content","type":"int"}]}""".stripMargin

  private val manifestSchema =
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
      |{"name":"file_path","type":"string"},
      |{"name":"content","type":"int"}]}}]}""".stripMargin

  /** Write `df` as exactly ONE sorted parquet file at `dest`; row
    * ordinal within the file == rank by id. */
  private def writeOneParquet(df: org.apache.spark.sql.DataFrame,
      dest: java.nio.file.Path): Unit = {
    val tmpd = s"$dest.tmp-${java.util.UUID.randomUUID()}"
    df.repartition(1).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(tmpd)
    val part = graft.util.Fs.list(Paths.get(tmpd))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).head
    Files.createDirectories(dest.getParent)
    Files.move(part, dest)
    graft.util.TempDirs.deleteRecursively(Paths.get(tmpd))
  }

  /** Forge a v2 tree: two sorted data files (ids 0..19, 20..39), one
    * position-delete parquet removing ids 3, 7 (f1 pos 3, 7) and 25
    * (f2 pos 5); a data manifest and a DELETE manifest side by side in
    * the manifest list. `deleteContent` forges the delete file's
    * content field (1 = position, 2 = equality). */
  private def forgePosDeleteTable(root: String,
      deleteContent: Int = 1): Unit = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val f1 = Paths.get(root, "data", "f1.parquet")
    val f2 = Paths.get(root, "data", "f2.parquet")
    writeOneParquet((0L until 20L).map(i => (i, s"r$i")).toDF("id", "v"), f1)
    writeOneParquet((20L until 40L).map(i => (i, s"r$i")).toDF("id", "v"), f2)
    val delFile = Paths.get(root, "deletes", "pd1.parquet")
    writeOneParquet(Seq(
        (f1.toString, 3L, 0L), (f1.toString, 7L, 1L), (f2.toString, 5L, 2L))
      .toDF("file_path", "pos", "id").select("file_path", "pos", "id"), delFile)
    val dataMan = metaDir.resolve("m-data.avro")
    writeAvro(dataMan, manifestSchema, Seq(f1, f2).map(f => Map(
      "status" -> Int.box(1),
      "data_file" -> Map("file_path" -> f.toString, "content" -> Int.box(0)))))
    val delMan = metaDir.resolve("m-del.avro")
    writeAvro(delMan, manifestSchema, Seq(Map(
      "status" -> Int.box(1),
      "data_file" -> Map("file_path" -> delFile.toString,
        "content" -> Int.box(deleteContent)))))
    val list = metaDir.resolve("snap-1.avro")
    writeAvro(list, manifestListSchema, Seq(
      Map("manifest_path" -> dataMan.toString, "content" -> Int.box(0)),
      Map("manifest_path" -> delMan.toString, "content" -> Int.box(1))))
    Files.writeString(metaDir.resolve("v1.metadata.json"),
      s"""{"current-snapshot-id":1,"snapshots":[
         |{"snapshot-id":1,"manifest-list":"$list"}]}""".stripMargin)
    ()
  }

  test("readIceberg APPLIES v2 position deletes: (file_path, pos) " +
      "anti-join against the live scan") {
    val root = tmp("icepd")
    forgePosDeleteTable(root)
    val df = graft.interop.XTableSync.readIceberg(spark, root)
    val got = df.select("id").as[Long].collect().toSet
    val want = (0L until 40L).toSet -- Set(3L, 7L, 25L)
    assert(got == want)
    // the small delete set must BROADCAST into the anti-join (no
    // shuffle of the data scan) — the 100 TB plan shape
    val antis = collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(antis.nonEmpty,
      s"expected a broadcast LeftAnti join, plan:\n${df.queryExecution.executedPlan}")
  }

  test("adoption still refuses live position deletes (cannot be " +
      "represented); a MALFORMED equality delete (no equality_ids) " +
      "refuses — well-formed ones now APPLY (Round28Spec)") {
    val root = tmp("icepd2")
    forgePosDeleteTable(root)
    val e = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.adoptIceberg(spark, root,
        graft.core.TableConfig(name = "t", keyField = "id",
          orderingField = "id", numBuckets = 1))
    }
    assert(e.getMessage.contains("readIceberg"), e.getMessage)
    val root2 = tmp("iceeq")
    forgePosDeleteTable(root2, deleteContent = 2)
    val e2 = intercept[IllegalArgumentException] {
      graft.interop.XTableSync.readIceberg(spark, root2).collect()
    }
    assert(e2.getMessage.contains("no equality_ids"), e2.getMessage)
  }

  // ---- incremental vector-index maintenance ----------------------------

  /** Scala-encoded Seq[Double] arrays carry containsNull=false, but
    * parquet reads them back nullable — register the table schema with
    * the nullable element type or later align casts refuse. */
  private def nullableVec(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("embedding", $"embedding".cast(
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true)))

  /** Deterministic table of `n` 8-dim vectors keyed by vec_id. */
  private def vecTable(root: String, n: Int): graft.core.GraftTable = {
    val t = graft.core.GraftTable.create(spark, root, graft.core.TableConfig(
      name = "vmaint", keyField = "vec_id", orderingField = "ver",
      numBuckets = 2))
    t.bulkInsert(nullableVec((0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq, 1L)
    }.toDF("vec_id", "embedding", "ver")))
    t
  }

  private def centroidBytes(path: String): Seq[(String, Long)] =
    graft.util.Fs.list(Paths.get(path, "centroids.parquet"))(
      _.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.size(p)).toSeq).sortBy(_._1)

  test("vector-index service: a small upsert appends against frozen " +
      "centroids — no full-corpus retrain — and searches reflect it") {
    val t = vecTable(tmp("vmaint"), 60)
    val path = graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    val centsBefore = centroidBytes(path)
    // 1 new row + 1 updated key + 1 delete — one commit each
    t.upsert(nullableVec(Seq((100L,
      Array.tabulate(8)(j => math.cos(j + 3.0) + 2.0).toSeq, 2L))
      .toDF("vec_id", "embedding", "ver")))
    t.upsert(nullableVec(Seq((7L,
      Array.tabulate(8)(j => math.cos(j + 9.0) + 2.0).toSeq, 2L))
      .toDF("vec_id", "embedding", "ver")))
    t.deleteWhere($"vec_id" === 13L)
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    // the coarse quantizer is FROZEN: centroids identical byte-for-byte
    assert(centroidBytes(path) == centsBefore,
      "maintenance must not retrain the coarse quantizer")
    // the CDC delta was journaled as a service append batch
    val done = graft.util.Fs.list(Paths.get(path, "_appends"))(
      _.map(_.getFileName.toString).toSeq)
    assert(done.exists(n => n.startsWith("svc-") && n.endsWith(".done")),
      s"expected a svc-*.done append journal marker, got $done")
    // full-probe search off the maintained index == brute force over
    // the CURRENT table state (new row present, update applied, delete
    // gone)
    val queries = t.read().filter($"vec_id".isin(100L, 7L, 0L))
      .select("vec_id", "embedding")
    val got = graft.operators.IvfIndex.topK(spark, path, queries,
      "vec_id", "embedding", k = 3, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = graft.operators.Similarity.bruteForceTopK(
      t.read().select("vec_id", "embedding"), queries,
      "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(!got.exists(_._2 == 13L), "deleted key must not be served")
    // same instant → pure no-op (stamp check only, no Spark jobs)
    val stampM = Files.getLastModifiedTime(Paths.get(path, "instant.stamp"))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    assert(Files.getLastModifiedTime(
      Paths.get(path, "instant.stamp")) == stampM)
  }

  test("vector-index service: scattered UPDATES maintain via tombstones " +
      "(no partition rewrite), deletes stay physical, refreeze folds") {
    val t = vecTable(tmp("vtomb"), 60)
    val path = graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    def asgCount() = spark.read.parquet(s"$path/assignments").count()
    assert(asgCount() == 60L)
    // update 6 keys (10% — below the 20% fold threshold)
    val updKeys = Seq(2L, 9L, 17L, 25L, 33L, 41L)
    t.upsert(nullableVec(updKeys.map(k => (k,
      Array.tabulate(8)(j => math.cos(k * 8 + j + 5.0) + 2.0).toSeq, 2L))
      .toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    // tombstones, not rewrites: superseded versions still on disk
    // (66 stored rows), the tombstone relation holds the 6 victims,
    // and queries see exactly the live 60
    assert(asgCount() == 66L,
      "update maintenance must append, not rewrite partitions")
    assert(Files.isDirectory(Paths.get(path, "tombstones")))
    assert(spark.read.parquet(s"$path/tombstones").count() == 6L)
    val queries = t.read().filter($"vec_id".isin(2L, 0L))
      .select("vec_id", "embedding")
    val got = graft.operators.IvfIndex.topK(spark, path, queries,
      "vec_id", "embedding", k = 4, nProbe = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val want = Similarity.bruteForceTopK(
      t.read().select("vec_id", "embedding"), queries,
      "vec_id", "embedding", k = 4)
      .select("query_id", "neighbor_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, "stale versions must never be served")
    // the PQ tier excludes dead versions too: full probe + covering
    // candidates ⇒ exact inner-product top-k == a FRESH index built
    // from the current table state
    val cb = IvfPq.codebooks(spark, path)
    val qv = t.read().filter($"vec_id" === 2L)
      .select($"embedding".cast("array<double>"))
      .first().getSeq[Double](0).toArray
    val viaTomb = IvfPq.topKRerank(spark, path, cb, qv, k = 4,
        nProbe = 4, candidates = 100)
      .as[(Long, Double)].collect().toSeq
    val fresh = tmp("vtomb-fresh")
    val cbF = IvfPq.build(t.read().select("vec_id", "embedding"),
      "vec_id", "embedding", nLists = 4, m = 4, codesPerSub = 16,
      path = fresh)
    val viaFresh = IvfPq.topKRerank(spark, fresh, cbF, qv, k = 4,
        nProbe = 4, candidates = 100)
      .as[(Long, Double)].collect().toSeq
    assert(viaTomb == viaFresh)
    // delete stays PHYSICAL: the id's bytes leave the relation entirely
    t.deleteWhere($"vec_id" === 9L)
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    val storedIds = spark.read.parquet(s"$path/assignments")
      .select("id").as[Long].collect().toSet
    assert(!storedIds.contains(9L),
      "deleted keys' vectors must physically leave the index")
    // update PAST the fold threshold (> 20% of corpus): maintenance
    // refreezes — tombstones cleared, one live version per id
    t.upsert(nullableVec((0L until 20L).filterNot(_ == 9L).map(k => (k,
      Array.tabulate(8)(j => math.sin(k * 8 + j + 11.0) + 2.0).toSeq, 3L))
      .toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    assert(!Files.isDirectory(Paths.get(path, "tombstones")),
      "past the threshold the refreeze fold must clear tombstones")
    assert(asgCount() == t.read().count(),
      "after the fold: exactly one live version per id")
    val got2 = graft.operators.IvfIndex.topK(spark, path,
      t.read().filter($"vec_id" === 3L).select("vec_id", "embedding"),
      "vec_id", "embedding", k = 4, nProbe = 4)
      .select("neighbor_id").as[Long].collect().toSet
    val want2 = Similarity.bruteForceTopK(
      t.read().select("vec_id", "embedding"),
      t.read().filter($"vec_id" === 3L).select("vec_id", "embedding"),
      "vec_id", "embedding", k = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got2 == want2)
  }

  test("vector-index service: param change forces a rebuild; a restore " +
      "in the CDC range falls back to a sound full rebuild") {
    val t = vecTable(tmp("vmaint2"), 40)
    val path = graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 2)
    val centsBefore = centroidBytes(path)
    // nLists change → full rebuild (different centroid count)
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    assert(centroidBytes(path) != centsBefore)
    // advance, then restore to an older instant: incremental refresh
    // must NOT serve a cursor across the restore — it rebuilds
    val mid = t.upsert(nullableVec(Seq((200L, Seq.fill(8)(1.5), 2L))
      .toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    t.upsert(nullableVec(Seq((201L, Seq.fill(8)(2.5), 2L))
      .toDF("vec_id", "embedding", "ver")))
    graft.core.TableServices.restore(t, mid)
    graft.core.TableServices.buildVectorIndex(
      t, "vec_id", "embedding", nLists = 4)
    val ids = spark.read.parquet(s"$path/assignments")
      .select("id").as[Long].collect().toSet
    assert(ids.contains(200L) && !ids.contains(201L),
      "post-restore index must reflect the restored snapshot")
  }

  test("topKBatchStream chunks an over-maxQueries epoch: the snapshot " +
      "pins inside foreachBatch and the union equals the unchunked batch") {
    import org.apache.spark.sql.types._
    val path = tmp("streamchunk")
    val corpus = (0 until 30).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq)
    }.toDF("id", "embedding")
    val cb = IvfPq.build(corpus, "id", "embedding", nLists = 2, m = 4,
      codesPerSub = 16, path = path)
    // ONE epoch of 10 queries with maxQueries = 4 → 3 chunked passes
    val in = tmp("sc-in")
    val qs = (0 until 10).map { i =>
      val v = Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0)
      s"""{"id":${100 + i},"embedding":[${v.mkString(",")}]}"""
    }
    Files.write(Paths.get(in, "q.json"), qs.mkString("\n").getBytes("UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val out = tmp("sc-out")
    val q = IvfPq.topKBatchStream(
      spark.readStream.schema(schema).json(in),
      "id", "embedding", path, cb, k = 3, nProbe = 2, candidates = 8,
      checkpointDir = tmp("sc-ckpt"), outPath = out, maxQueries = 4)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect().toSet
    val batchQs = (0 until 10).map { i =>
      (100L + i, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq)
    }.toDF("id", "embedding")
    val want = IvfPq.topKBatch(batchQs, "id", "embedding", path, cb,
        k = 3, nProbe = 2, candidates = 8) // default maxQueries: one pass
      .select("query_id", "neighbor_id", "rnk")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.map(_._1).size == 10 * 3 || got.groupBy(_._1).size == 10)
  }

  test("CALL mmr_select: ≡ the operator result on the same fixture; " +
      "ambiguous/missing query rows refuse") {
    val wh = tmp("mmrsql")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "mm1",
      keyField = "vec_id", orderingField = "vec_id", numBuckets = 1))
    t.bulkInsert((0 until 50).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq)
    }.toDF("vec_id", "embedding"))
    val got = gsql.sql("CALL mmr_select(table => 'mm1', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 5, " +
        "num_clusters => 1, pool_per_cluster => 64, " +
        "query_where => 'vec_id = 0', filter => 'vec_id > 0')")
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    val q = t.read().filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>"))
      .first().getSeq[Double](0).toArray
    val want = Similarity.mmrSelectClustered(
      t.read().filter($"vec_id" > 0), "vec_id", "embedding", q, k = 5,
      numClusters = 1, poolPerCluster = 64)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
    val eMany = intercept[IllegalArgumentException] {
      gsql.sql("CALL mmr_select(table => 'mm1', k => 3, " +
        "vec_col => 'embedding', query_where => 'vec_id < 5')") }
    assert(eMany.getMessage.contains("exactly one row"))
    val eNone = intercept[IllegalArgumentException] {
      gsql.sql("CALL mmr_select(table => 'mm1', k => 3, " +
        "vec_col => 'embedding', query_where => 'vec_id = 999')") }
    assert(eNone.getMessage.contains("matched none"))
    val eBoth = intercept[IllegalArgumentException] {
      gsql.sql("CALL mmr_select(table => 'mm1', k => 3, " +
        "query_where => 'vec_id = 0', query_vec => '[1,2]')") }
    assert(eBoth.getMessage.contains("exactly one of"))
    // literal query vector path
    val lit8 = (0 until 8).map(j => math.sin(j + 1) + 2.0)
    val gotLit = gsql.sql("CALL mmr_select(table => 'mm1', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 3, " +
        "num_clusters => 1, pool_per_cluster => 64, " +
        s"query_vec => '[${lit8.mkString(", ")}]', filter => 'vec_id > 0')")
      .orderBy("rank").collect()
    assert(gotLit.length == 3)
  }

  // ---- MMR null-element refusal -----------------------------------------

  test("mmrSelectClustered refuses a null vector element loudly") {
    val df = Seq(1L, 2L, 3L).toDF("vec_id")
      .withColumn("vec", when($"vec_id" === 2,
          array(lit(null).cast("double"), lit(1.0)))
        .otherwise(array(lit(1.0), lit(0.0))))
    val e = intercept[IllegalArgumentException] {
      Similarity.mmrSelectClustered(df, "vec_id", "vec",
        Array(1.0, 0.0), k = 3, numClusters = 1, poolPerCluster = 8).collect()
    }
    assert(e.getMessage.contains("null element"))
  }
}
