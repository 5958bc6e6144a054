package graft.operators

import java.nio.file.{Files, Paths}

import graft.Session
import graft.core.{GraftTable, TableConfig, TableServices}
import graft.sql.{GraftCatalog, GraftSql}
import org.apache.spark.Observed
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF(-PQ) vector index: its exact search tier against a
  * brute-force reference, its Spark job budgets, its maintenance
  * (append, remove, refreeze, the table service) and `CALL
  * vector_search`. */
class VectorIndexSpec extends AnyFunSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = Session.local(4)
  import spark.implicits._

  private def tmp(tag: String): String =
    graft.util.TempDirs.create(s"graft-vidx-$tag-").toString

  // ---- a brute-force IVF search in plain Scala ------------------------

  private def widen(v: scala.collection.Seq[Any]): Array[Double] = v.map {
    case f: Float => f.toDouble
    case d: Double => d
  }.toArray

  /** The `n` lists nearest `v`: squared L2, ties to the lowest list. */
  private def probes(v: Array[Double], cents: Array[Array[Double]], n: Int): Seq[Int] =
    cents.indices.sortBy { c =>
      (v.indices.map(i => (v(i) - cents(c)(i)) * (v(i) - cents(c)(i))).sum, c)
    }.take(n)

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    a.indices.foreach { i => ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i) }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  private def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long) => x < y
    case (x: String, y: String) => x < y
  }

  /** (query_id, neighbor_id, rank, cosine bits) of the exact top `k`
    * by cosine among `corpus` rows filed under one of each query's
    * `nProbe` lists (a row is filed under its nearest centroid), the
    * query's own row excluded when `excludeSelf`. */
  private def reference(queries: Seq[(Any, Array[Double])],
      corpus: Seq[(Any, Array[Double])], cents: Array[Array[Double]],
      k: Int, nProbe: Int, excludeSelf: Boolean): Set[(Any, Any, Int, Long)] = {
    val filed = corpus.map { case (id, v) => (id, v, probes(v, cents, 1).head) }
    queries.flatMap { case (qid, qv) =>
      val lists = probes(qv, cents, nProbe).toSet
      filed.filter { case (id, _, l) => lists(l) && !(excludeSelf && id == qid) }
        .map { case (id, v, _) => id -> cosine(qv, v) }
        .sortWith { case ((i1, c1), (i2, c2)) => c1 > c2 || (c1 == c2 && idLess(i1, i2)) }
        .take(k).zipWithIndex.map { case ((id, c), r) =>
          (qid, id, r + 1, java.lang.Double.doubleToLongBits(c)) }
    }.toSet
  }

  private def bits(rows: Array[Row]): Set[(Any, Any, Int, Long)] = rows.map { r =>
    (r.get(0), r.get(1), r.getInt(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))
  }.toSet

  private def centroids(path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids.parquet").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).map(_._2)

  /** `n` rows of (id, ver, lang, embedding), 6-dim; every fifth row
    * repeats an earlier row's vector, so cosines tie. */
  private def corpus(n: Int, seed: Int, stringIds: Boolean, floats: Boolean,
      ver: Long = 1L, from: Int = 0): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vecs = (0 until n).map(_ => Array.fill(6)(rnd.nextGaussian() + 1.0))
    val rows = (0 until n).map { i =>
      val v = if (i % 5 == 4) vecs(rnd.nextInt(i)) else vecs(i)
      val id = if (stringIds) s"d${from + i}" else (from + i).toLong
      Row(id, ver, (from + i) % 2, if (floats) v.map(_.toFloat).toSeq else v.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), new StructType()
      .add("id", if (stringIds) StringType else LongType)
      .add("ver", LongType).add("lang", IntegerType)
      .add("embedding", ArrayType(if (floats) FloatType else DoubleType, containsNull = true)))
  }

  private def sqlId(id: Any): String = id match {
    case s: String => s"'$s'"
    case x => x.toString
  }

  test("property: the exact tier equals a brute-force IVF search, scores bit-equal") {
    val rnd = new scala.util.Random(20261021)
    for (stringIds <- Seq(false, true); floats <- Seq(false, true)) {
      val name = s"vx_${if (stringIds) "s" else "l"}${if (floats) "f" else "d"}"
      val ctx = s"[$name]"
      val catalog = new GraftCatalog(spark, tmp(name))
      val gsql = new GraftSql(catalog)
      val t = catalog.createTable(TableConfig(name = name, keyField = "id",
        orderingField = "ver", numBuckets = 2))
      t.insert(corpus(160, rnd.nextInt(), stringIds, floats))
      gsql.sql(s"CALL build_vector_index(table => '$name', id_col => 'id', " +
        "vec_col => 'embedding', n_lists => 8, meta_cols => 'lang', " +
        "drift_retrain => '1000')")
      val path = TableServices.vectorIndexPath(t, "embedding")
      // 8 updated keys (tombstoned at the next refresh), 4 new keys, 3 deletes
      val live0 = t.read().select("id").collect().map(_.get(0))
      val upd = corpus(12, rnd.nextInt(), stringIds, floats, ver = 2L, from = 152)
      t.upsert(upd)
      t.deleteWhere(col("id").isin(live0.take(3).toIndexedSeq: _*))
      def call(args: String) = gsql.sql(s"CALL vector_search(table => '$name', " +
        s"id_col => 'id', vec_col => 'embedding', n_lists => 8, $args)")
      val empty = call("k => 3, query_where => 'lang = 7'")
      assert(empty.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cosine"), ctx)
      assert(empty.schema("rank").dataType == IntegerType, ctx)
      assert(empty.collect().isEmpty, ctx)
      assert(Files.isDirectory(Paths.get(path, "tombstones")),
        s"$ctx the updates must leave live tombstones")
      val live = t.read().collect().map(r =>
        (r.getAs[Any]("id"), r.getAs[Int]("lang"), widen(r.getSeq[Any](r.fieldIndex("embedding")))))
      val cents = centroids(path)
      for (round <- 0 until 6) {
        val nProbe = Seq(1, 3, 8)(rnd.nextInt(3))
        val k = Seq(1, 4, 40)(rnd.nextInt(3))
        val literal = rnd.nextInt(3) == 0
        val (filterArg, keep) = rnd.nextInt(3) match {
          case 0 => ("", (_: Int) => true)
          case 1 => (", filter => 'lang = 1'", (l: Int) => l == 1)
          case _ => (", stored_filter => 'lang = 0'", (l: Int) => l == 0)
        }
        val what = s"$ctx round $round: n_probe=$nProbe k=$k literal=$literal$filterArg"
        val (got, queries) =
          if (literal) {
            val v = Array.fill(6)(rnd.nextGaussian() + 1.0)
            val stored = if (floats) v.map(_.toFloat.toDouble) else v
            (call(s"k => $k, n_probe => $nProbe, query_vec => '[${v.mkString(", ")}]'" +
              filterArg), Seq[(Any, Array[Double])]((if (stringIds) "-1" else -1L) -> stored))
          } else {
            val qs = rnd.shuffle(live.toSeq).take(5)
            (call(s"k => $k, n_probe => $nProbe, " +
              s"query_where => 'id IN (${qs.map(q => sqlId(q._1)).mkString(", ")})'" +
              filterArg), qs.map(q => q._1 -> q._3))
          }
        val want = reference(queries,
          live.toSeq.filter(r => keep(r._2)).map(r => r._1 -> r._3), cents,
          k, nProbe, excludeSelf = !literal)
        assert(bits(got.collect()) == want, what)
      }
    }
  }

  test("the exact tier serves a query set past one pass in passes of at most 4096") {
    val n = IvfPq.MaxQueriesPerPass + 300
    val dir = tmp("passes")
    corpus(n, 7, stringIds = false, floats = false).write.parquet(s"$dir/corpus")
    val embs = spark.read.parquet(s"$dir/corpus")
    val path = s"$dir/index"
    IvfIndex.build(embs, "id", "embedding", 16, path)
    val (got, runs) = Observed.executions(spark) {
      IvfIndex.topK(spark, path, embs, "id", "embedding", k = 2, nProbe = 2).collect()
    }
    assert(runs.count(_._1 == "vector_search") == 2,
      s"expected two scans, saw ${runs.map(_._1)}")
    val rows = embs.collect().map(r => (r.get(0): Any) -> widen(r.getSeq[Any](3)))
    assert(bits(got) == reference(rows, rows, centroids(path), 2, 2, excludeSelf = true))
  }

  private def searchTable(tag: String): (GraftSql, GraftTable) = {
    val catalog = new GraftCatalog(spark, tmp(tag))
    val t = catalog.createTable(TableConfig(name = tag, keyField = "id",
      orderingField = "ver", numBuckets = 2))
    t.insert(corpus(200, 11, stringIds = false, floats = false))
    (new GraftSql(catalog), t)
  }

  test("a warm exact-tier CALL vector_search runs at most 3 Spark jobs") {
    val (gsql, _) = searchTable("vbudget")
    def search() = gsql.sql("CALL vector_search(table => 'vbudget', id_col => 'id', " +
      "vec_col => 'embedding', k => 10, n_lists => 8, n_probe => 2, " +
      "query_where => 'id IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)')").collect()
    search()
    val (rows, jobs) = Observed.jobs(spark)(search())
    info(s"warm CALL vector_search: $jobs Spark jobs")
    assert(rows.length == 130)
    assert(jobs <= 3, s"warm CALL vector_search ran $jobs Spark jobs")
  }

  test("a warm vector-index refresh after inserts and a delete stays within its job budget") {
    val (_, t) = searchTable("vrefresh")
    TableServices.buildVectorIndex(t, "id", "embedding", nLists = 8)
    t.insert(corpus(20, 12, stringIds = false, floats = false, from = 1000))
    t.deleteWhere(col("id") === 3L)
    val (path, jobs) = Observed.jobs(spark)(
      TableServices.buildVectorIndex(t, "id", "embedding", nLists = 8))
    info(s"warm refresh: $jobs Spark jobs")
    assert(IvfIndex.meta(path).get.corpusCount == 219L)
    assert(jobs <= 20, s"warm refresh ran $jobs Spark jobs")
  }

  // ---- CALL vector_search ---------------------------------------------

  /** Embeddings registered with the nullable element type parquet reads
    * back, so later align casts accept them. */
  private def nullableVec(df: DataFrame) =
    df.withColumn("embedding", $"embedding".cast(ArrayType(DoubleType, containsNull = true)))

  private def centroidBytes(path: String): Seq[(String, Long)] =
    graft.util.Fs.list(Paths.get(path, "centroids.parquet"))(
      _.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> Files.size(p)).toSeq).sortBy(_._1)

  test("CALL vector_search: missing query_where and unknown filter " +
      "columns refuse loudly; the filter restricts every neighbor") {
    val rnd = new scala.util.Random(37)
    val wh = tmp("vsql-wh")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(TableConfig(name = "vs2",
      keyField = "vec_id", orderingField = "vec_id", numBuckets = 1))
    t.bulkInsert((1L to 40L).map(i =>
        (i, Seq.fill(4)(rnd.nextGaussian()), (i % 2).toInt))
      .toDF("vec_id", "embedding", "lang"))
    val e = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_search(table => 'vs2')") }
    assert(e.getMessage.contains("query_where"), e.getMessage)
    intercept[Exception] {
      gsql.sql("CALL vector_search(table => 'vs2', " +
        "query_where => 'vec_id = 1', filter => 'no_such_col = 1')")
        .collect() }
    val rows = gsql.sql("CALL vector_search(table => 'vs2', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 5, " +
        "n_lists => 2, query_where => 'vec_id <= 2', " +
        "filter => 'lang = 0')")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.nonEmpty && rows.forall(_._2 % 2 == 0),
      s"every neighbor must satisfy the filter: ${rows.mkString(",")}")
    // a POSITIONAL call must not alias the named-only arguments (the
    // table name in slot 0 would otherwise bind n_lists/query_where)
    val e2 = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_search('vs2', 'vec_id', 'embedding', 5)") }
    assert(e2.getMessage.contains("query_where"), e2.getMessage)
  }

  test("CALL vector_search: ad-hoc query_vec literal searches without " +
      "inserting the query; both/neither query forms refuse") {
    val wh = tmp("vsql3")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs3",
      keyField = "vec_id", orderingField = "vec_id", numBuckets = 1))
    t.bulkInsert((0 until 30).map { i =>
      (i.toLong, Array.tabulate(4)(j => math.sin(i * 4 + j + 1) + 2.0).toSeq)
    }.toDF("vec_id", "embedding"))
    val qv = Array.tabulate(4)(j => math.sin(17 * 4 + j + 1) + 2.0) // ≈ row 17
    val rows = gsql.sql("CALL vector_search(table => 'vs3', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 3, " +
        s"n_lists => 2, query_vec => '[${qv.mkString(", ")}]')")
      .orderBy("rank")
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.length == 3)
    assert(rows.forall(_._1 == -1L), "literal queries report query_id=-1")
    // equals brute force over the table at the same k
    val brute = graft.operators.Similarity.bruteForceTopK(
      t.read().select("vec_id", "embedding"),
      spark.range(1).select(lit(-1L).as("vec_id"),
        array(qv.toIndexedSeq.map(lit): _*).as("embedding")),
      "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(rows.map(_._2).toSeq == brute.toSeq)
    // the query vector itself was never inserted into the table
    assert(t.read().count() == 30L)
    val eBoth = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_search(table => 'vs3', " +
        "query_where => 'vec_id = 1', query_vec => '[1,2,3,4]')") }
    assert(eBoth.getMessage.contains("exactly one"))
    val eDim = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_search(table => 'vs3', id_col => 'vec_id', " +
        "vec_col => 'embedding', query_vec => '[1, 2]')") }
    assert(eDim.getMessage.contains("dim"))
  }

  test("CALL vector_search rerank mode: codes-scan + exact re-rank ≡ " +
      "the topKRerank operator; string ids refuse") {
    val wh = tmp("vsqlpq")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs4",
      keyField = "vec_id", orderingField = "vec_id", numBuckets = 1))
    t.bulkInsert((0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq)
    }.toDF("vec_id", "embedding"))
    val qv = Array.tabulate(8)(j => math.sin(23 * 8 + j + 1) + 2.0)
    val got = gsql.sql("CALL vector_search(table => 'vs4', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 5, " +
        "n_lists => 4, n_probe => 4, rerank => 60, " +
        s"query_vec => '[${qv.mkString(", ")}]')")
      .orderBy("rank")
      .select("neighbor_id", "score").as[(Long, Double)].collect()
    // the SQL surface must equal the operator on the same persisted
    // index (full probe + candidates ≥ corpus ⇒ exact inner-product
    // top-k, spec-pinned on the operator side)
    val path = graft.core.TableServices.vectorIndexPath(t, "embedding")
    val cb = IvfPq.codebooks(spark, path)
    val want = IvfPq.topKRerank(spark, path, cb, qv, k = 5, nProbe = 4,
        candidates = 60)
      .select("id", "score").as[(Long, Double)].collect()
    assert(got.toSeq == want.toSeq)
    // string-keyed tables refuse rerank mode loudly (qid batching is
    // numeric), rather than nulling every query id
    val t2 = catalog.createTable(graft.core.TableConfig(name = "vs5",
      keyField = "doc", orderingField = "doc", numBuckets = 1))
    t2.bulkInsert((0 until 10).map { i =>
      (s"d$i", Array.tabulate(8)(j => math.cos(i * 8 + j) + 2.0).toSeq)
    }.toDF("doc", "embedding"))
    val e = intercept[IllegalArgumentException] {
      gsql.sql("CALL vector_search(table => 'vs5', id_col => 'doc', " +
        "vec_col => 'embedding', k => 3, n_lists => 2, rerank => 10, " +
        "query_vec => '[1,1,1,1,1,1,1,1]')")
    }
    assert(e.getMessage.contains("numeric"), e.getMessage)
  }

  test("CALL vector_search stored_filter: build-time meta_cols push " +
      "into the scan; incremental maintenance carries them") {
    val wh = tmp("vsqlsf")
    val catalog = new graft.sql.GraftCatalog(spark, wh)
    val gsql = new graft.sql.GraftSql(catalog)
    val t = catalog.createTable(graft.core.TableConfig(name = "vs6",
      keyField = "vec_id", orderingField = "ver", numBuckets = 1))
    t.bulkInsert((0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j + 1) + 2.0).toSeq,
        (i % 2).toLong, 1L)
    }.toDF("vec_id", "embedding", "lang", "ver"))
    gsql.sql("CALL build_vector_index(table => 'vs6', id_col => 'vec_id', " +
      "vec_col => 'embedding', n_lists => 4, meta_cols => 'lang')")
    val qv = Array.tabulate(8)(j => math.sin(11 * 8 + j + 1) + 2.0)
    def searchEven() = gsql.sql("CALL vector_search(table => 'vs6', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 5, " +
        "n_lists => 4, stored_filter => 'lang = 0', " +
        s"query_vec => '[${qv.mkString(", ")}]')")
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    val got = searchEven()
    val want = Similarity.bruteForceTopK(
      t.read().filter($"lang" === 0).select("vec_id", "embedding"),
      spark.range(1).select(lit(-1L).as("vec_id"),
        array(qv.toIndexedSeq.map(lit): _*).as("embedding")),
      "vec_id", "embedding", k = 5)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(got == want)
    assert(got.forall(_ % 2 == 0))
    // the predicate reaches the parquet scan itself (PushedFilters)
    val (_, runs) = Observed.executions(spark) {
      graft.operators.IvfIndex.topK(spark,
        graft.core.TableServices.vectorIndexPath(t, "embedding"),
        spark.range(1).select(lit(-1L).as("vec_id"),
          array(qv.toIndexedSeq.map(lit): _*).cast(
            t.read().schema("embedding").dataType).as("embedding")),
        "vec_id", "embedding", k = 5, nProbe = 4,
        storedFilter = Some($"lang" === 0)).collect()
    }
    val scans = runs.collect { case ("vector_search", qe) => qe.executedPlan }
    val pushed = scans.flatMap(collect(_) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.metadata.get("PushedFilters").exists(_.contains("lang")) => s
    })
    assert(pushed.nonEmpty,
      s"lang predicate must land in PushedFilters:\n${scans.mkString("\n")}")
    // a commit must NOT degrade to a rebuild: maintenance appends carry
    // the stored column, centroids stay byte-identical, and the new
    // rows obey the filter
    val path = graft.core.TableServices.vectorIndexPath(t, "embedding")
    val centsBefore = centroidBytes(path)
    t.upsert(nullableVec(Seq(
        (100L, Array.tabulate(8)(j => math.sin(11 * 8 + j + 1) + 2.001).toSeq, 0L, 2L),
        (101L, Array.tabulate(8)(j => math.sin(11 * 8 + j + 1) + 2.001).toSeq, 1L, 2L))
      .toDF("vec_id", "embedding", "lang", "ver")))
    val got2 = searchEven()
    assert(centroidBytes(path) == centsBefore,
      "maintenance with stored meta_cols must stay incremental")
    assert(got2.contains(100L), "new lang=0 row must be served")
    assert(!got2.contains(101L), "new lang=1 row must be filtered out")
    // rerank mode serves the same stored_filter
    val got3 = gsql.sql("CALL vector_search(table => 'vs6', " +
        "id_col => 'vec_id', vec_col => 'embedding', k => 5, " +
        "n_lists => 4, rerank => 64, stored_filter => 'lang = 0', " +
        s"query_vec => '[${qv.mkString(", ")}]')")
      .select("neighbor_id").as[Long].collect().toSeq
    assert(got3.forall(_ % 2 == 0) && got3.contains(100L))
  }
}
