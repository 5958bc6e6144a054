package graft.operators

import graft.functions.{CosineSim, NearestCentroids}
import graft.functions.GraftExpressions.nearest_centroids
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Persisted IVF (inverted-file) ANN index — the Faiss-style coarse
  * quantizer as a TABLE SERVICE rather than a per-query computation
  * (the round-1 `Similarity.ivfTopK` recomputed centroids with a
  * corpus-wide shuffle + driver collect on every call; at 100 TB the
  * index must be built once and queried many times).
  *
  * Layout under `path`:
  * {{{
  *   meta.json                        {nLists, dim, corpusCount}
  *   centroids.parquet                (list int, centroid array<double>)
  *   assignments/list=<n>/…parquet    corpus rows + their list id
  * }}}
  *
  * Assignments are PARTITIONED BY list, so a query that probes
  * `nProbe` of `nLists` lists scans nProbe/nLists of the corpus via
  * partition pruning — the inverted-list property expressed in Spark's
  * own partition layout instead of a custom file format.
  *
  * Centroids come from Lloyd's k-means (deterministic init: the
  * `nLists` lowest-id vectors) trained on a bounded deterministic
  * sample (~256 vectors per centroid — the usual IVF training
  * budget), a few rounds of assign → per-dimension mean. Each round
  * shuffles (list, pos, x) triples of the SAMPLE only; the full
  * corpus is touched once, by the final assignment pass.
  */
object IvfIndex {

  /** `meanAssignDist` is the build-time mean squared-L2 distance of
    * corpus vectors to their assigned centroid — the baseline the
    * incremental drift monitor ([[IvfPq.append]]) compares batches
    * against; -1 on indexes persisted before the field existed. */
  case class Meta(nLists: Int, dim: Int, corpusCount: Long,
      idCol: String = "", vecCol: String = "",
      meanAssignDist: Double = -1.0)

  private val mapper = graft.core.CommitLog.mapper

  /** Train centroids and write the index. Returns the meta.
    *
    * `metaCols` persist ALONGSIDE the vectors in both relations (and
    * ride into [[Pq.encode]]'s codes, which carries every non-vector
    * column): they are the STORED-filter-column path for metadata-
    * filtered retrieval — a predicate over them pushes down into the
    * pruned parquet scan itself, costing nothing at any selectivity
    * (the id-set semi join alternative pays a shuffle when the
    * surviving set is broad). The stored relations are self-
    * describing: appends and refreezes recover the meta columns from
    * the assignments schema, so the meta.json format is unchanged. */
  /** `corpusCount` (when ≥ 0) replaces the build's own `count()` job —
    * callers with metadata counts (parquet footers, commit-log stats,
    * or a count already paid at the call site) thread it through so
    * the build never re-scans for a number the caller has. */
  def build(embs: DataFrame, idCol: String, vecCol: String,
      nLists: Int, path: String, iterations: Int = 4,
      metaCols: Seq[String] = Nil, corpusCount: Long = -1L): Meta = {
    val spark = embs.sparkSession
    require(!metaCols.exists(c =>
        Set("id", "vec", "list", "epoch").contains(c)),
      s"metaCols ${metaCols.mkString(",")} collide with the index's own " +
      "column names (id, vec, list, epoch)")
    // `epoch` orders row versions against update tombstones
    // ([[IvfPq.tombstone]]): build-time rows carry the empty epoch
    // (before every tombstone), appended rows carry their maintenance
    // instant. A stale tombstone relation from a previous index at
    // this path would poison the new one — clear it.
    graft.util.TempDirs.deleteRecursively(Paths.get(path, "tombstones"))
    val corpus = embs.select((col(idCol).as("id") +: col(vecCol).as("vec") +:
      lit("").as("epoch") +: metaCols.map(col)): _*).persist()
    try {
      val count = if (corpusCount >= 0L) corpusCount else corpus.count()
      // Train the quantizer on a BOUNDED deterministic sample (~256
      // vectors per centroid, the standard training budget — Lloyd's
      // means converge on a sample); only the final assignment below
      // touches the full corpus, in one pass. Without this, each
      // iteration pays a corpus-wide posexplode shuffle — a build-time
      // scale-killer at 100 TB.
      val targetTrain = 256L * nLists
      val train =
        if (count <= targetTrain) corpus
        else Curation.deterministicSample(corpus, "id",
          targetTrain.toDouble / count).persist()
      // The whole Lloyd loop runs on the DRIVER over the collected
      // sample: the sample is bounded (≤ ~256·nLists vectors — the same
      // bounded-collect discipline as the PQ training sample and the
      // BPE vocab cap), so `iterations` Spark aggregation rounds of
      // one exchange + one collect each were pure job overhead — the
      // flops are O(sample·nLists·dim) either way, but driver-side
      // they cost zero scheduler round-trips. Collected id-ordered so
      // the seed rule (nLists lowest-id vectors) and the per-list
      // float summation order are deterministic run-to-run — STRONGER
      // than the distributed aggregation, whose shuffle-merge order
      // varied per run (the gates are exactness-constructed, so
      // centroid ULPs cannot move results; re-verified at 3 SFs).
      // Assignment math mirrors NearestCentroids exactly: squared L2,
      // ties by lowest index.
      val sample: Array[Array[Double]] = train.orderBy("id")
        .select(col("vec").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      // dim from the already-collected sample — the separate
      // `select(size(vec)).first()` probe was one more Spark job per
      // build; the scan fallback only fires for a pathologically empty
      // sample over a non-empty corpus
      val dim = if (sample.nonEmpty) sample(0).length
        else corpus.select(size(col("vec"))).first().getInt(0)
      // validate ONCE at build time: a ragged corpus would otherwise
      // train on truncated distances here and fail obscurely at query
      // time (the old posexplode path silently zero-padded instead)
      sample.zipWithIndex.foreach { case (v, i) => require(v.length == dim,
        s"ragged vector at sample row $i: length ${v.length}, expected $dim") }
      var table: Array[Array[Double]] =
        if (sample.length >= nLists) sample.take(nLists).map(_.clone())
        else corpus.orderBy("id").limit(nLists)
          .select(col("vec").cast("array<double>")).collect()
          .map(_.getSeq[Double](0).toArray)
      def nearestList(v: Array[Double]): Int = {
        var best = Double.MaxValue; var bestC = 0; var c = 0
        while (c < table.length) {
          val cv = table(c); var d = 0.0; var i = 0
          val m = math.min(v.length, cv.length)
          while (i < m) { val t = v(i) - cv(i); d += t * t; i += 1 }
          if (d < best) { best = d; bestC = c } // strict <: ties keep lowest index
          c += 1
        }
        bestC
      }
      var iter = 0
      while (iter < iterations) {
        val sums = Array.fill(table.length)(new Array[Double](dim))
        val cnts = new Array[Long](table.length)
        sample.foreach { v =>
          val l = nearestList(v)
          cnts(l) += 1
          var i = 0; while (i < dim) { sums(l)(i) += v(i); i += 1 }
        }
        // a list that lost all members keeps its previous centroid
        table = table.indices.map { c =>
          if (cnts(c) == 0L) table(c)
          else { val m = sums(c); var i = 0
            while (i < dim) { m(i) /= cnts(c); i += 1 }; m }
        }.toArray
        iter += 1
      }
      if (train ne corpus) { train.unpersist(); () }
      val cdf = spark.createDataFrame(
        table.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
        .toDF("list", "centroid")
      cdf.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids.parquet")
      corpus
        .withColumn("list", element_at(nearest_centroids(col("vec"), table, 1), 1))
        .write.mode("overwrite").partitionBy("list").parquet(s"$path/assignments")
      // drift baseline: mean assigned-centroid distance over the (still
      // cached) corpus — one cache-resident aggregate, no extra IO pass
      val meanDist = corpus.select(avg(
        graft.functions.GraftExpressions.nearest_centroid_dist(col("vec"), table)))
        .first().getDouble(0)
      val meta = Meta(nLists, dim, count, idCol, vecCol, meanDist)
      Files.createDirectories(Paths.get(path))
      Files.write(Paths.get(path, "meta.json"), mapper.writeValueAsBytes(meta))
      meta
    } finally corpus.unpersist()
  }

  def meta(path: String): Option[Meta] = {
    val p = Paths.get(path, "meta.json")
    if (!Files.exists(p)) None
    else Some(mapper.readValue(Files.readAllBytes(p), classOf[Meta]))
  }

  /** Rebuild rule: the index is stale when the corpus row count moved
    * (the cheap high-signal check; callers with a table handle can use
    * the commit instant instead) — or when the index was built over a
    * DIFFERENT id/vector column: the persisted Meta records the full
    * column identity, so calling with other columns can never serve a
    * wrong index. In-place updates at identical count remain invisible
    * to this heuristic; `TableServices.buildVectorIndex` closes that
    * with its commit-instant stamp.
    *
    * Pass `corpusCount` from metadata when you have it — commit-log
    * stats for graft tables (`GraftTable.metadataRowCount`), parquet
    * footers for raw files (`Tables.footerRowCount`) — so a warm
    * staleness check costs zero Spark jobs; the `embs.count()`
    * fallback pays a corpus scan per check (same contract as
    * `Similarity.lshTopK`). */
  def buildIfStale(embs: DataFrame, idCol: String, vecCol: String,
      nLists: Int, path: String, corpusCount: Long = -1L): Meta = {
    lazy val liveCount = if (corpusCount >= 0L) corpusCount else embs.count()
    meta(path) match {
      case Some(m) if m.nLists == nLists && m.idCol == idCol &&
          m.vecCol == vecCol && m.corpusCount == liveCount => m
      case _ => build(embs, idCol, vecCol, nLists, path,
        corpusCount = liveCount)
    }
  }

  /** An index's small state, read on the driver with no Spark job:
    * meta.json, the centroid table, the PQ codebooks and the stored
    * relations' schemas, each schema from one parquet footer. Open one
    * per call: a write to the index leaves an open handle stale. */
  final class Handle private[IvfIndex] (spark: SparkSession, val path: String) {
    val meta: Option[Meta] = IvfIndex.meta(path)

    /** List `l`'s centroid at index `l` (a build numbers lists from 0). */
    lazy val centroids: Array[Array[Double]] =
      smallTable("centroids.parquet")
        .map(g => g.getInteger("list", 0) -> doubles(g, "centroid"))
        .sortBy(_._1).map(_._2).toArray

    lazy val codebooks: Pq.Codebooks = {
      val books = smallTable("pq_codebooks.parquet")
        .map(g => (g.getInteger("sub", 0), g.getInteger("code", 0),
          doubles(g, "centroid")))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
      Pq.Codebooks(books.length, books(0)(0).length, books)
    }

    private lazy val schemas: Map[String, Option[StructType]] =
      Seq("assignments", "pq_codes", "tombstones")
        .map(r => r -> footerSchema(r)).toMap

    /** The schema of stored relation `rel` (`assignments`, `pq_codes`
      * or `tombstones`); None while it holds no file. */
    def schema(rel: String): Option[StructType] = schemas(rel)

    /** Stored relation `rel`, read with its footer schema. */
    def read(rel: String): DataFrame = spark.read.schema(schema(rel).getOrElse(
        throw new IllegalArgumentException(s"index at $path has no $rel")))
      .parquet(s"$path/$rel")

    /** Build-time meta columns stored beside the vectors: every
      * assignments column but the index's own (id, vec, list, epoch).
      * A bare quantizer with no assignments yet has none. */
    def storedMetaCols: Seq[String] = schema("assignments").fold(Seq.empty[String])(
      _.fieldNames.toSeq.filterNot(Set("id", "vec", "list", "epoch").contains))

    /** Whether the stored relations carry the `epoch` version-order
      * column (indexes built before it take the physical-remove path
      * instead of tombstones). A bare quantizer is epoch-aware: its
      * first append defines the schema. */
    def epochAware: Boolean =
      schema("assignments").forall(_.fieldNames.contains("epoch"))

    /** The `nProbe` lists nearest `v`, by [[NearestCentroids]]' rule. */
    def probe(v: Array[Double], nProbe: Int): Array[Int] =
      NearestCentroids.nearest(v, centroids, nProbe)

    /** Drop stored rows superseded by a LATER tombstone for their id
      * ([[IvfPq.tombstone]]) — every query path applies it to both
      * persisted relations. No-op when there are no tombstones or the
      * index predates epochs. The anti-join condition is `tomb.epoch >
      * row.epoch`: a row re-appended after its tombstone carries a later
      * epoch and survives. */
    def withoutTombstoned(rel: DataFrame): DataFrame =
      if (schema("tombstones").isEmpty || !rel.columns.contains("epoch")) rel
      else {
        val t = read("tombstones")
          .select(col("id").as("__tid"), col("epoch").as("__tepoch"))
        rel.join(t, rel("id") === col("__tid") &&
          col("__tepoch") > rel("epoch"), "left_anti")
      }

    /** Rows of stored relation `rel`, or of its list `list`, summed from
      * parquet footers. */
    def rowCount(rel: String, list: Option[Int] = None): Long =
      dataFiles(rel, list).map(f => withFooter(f)(_.getRecordCount)).sum

    private def conf = spark.sessionState.newHadoopConf()

    /** Parquet data files of `rel`, or of its list `list`, skipping
      * `_`/`.`-prefixed entries as Spark's file listing does. Listed
      * live, never cached. */
    def dataFiles(rel: String, list: Option[Int] = None): Seq[Path] = {
      val dir = list.fold(Paths.get(path, rel))(l => Paths.get(path, rel, s"list=$l"))
      if (!Files.isDirectory(dir)) Nil
      else graft.util.Fs.walk(dir)(_.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
          dir.relativize(p).iterator().asScala.forall { c =>
            val n = c.toString; !n.startsWith("_") && !n.startsWith(".")
          }
      }.toSeq)
    }

    private def withFooter[A](f: Path)(body: ParquetFileReader => A): A = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try body(r) finally r.close()
    }

    /** Spark's schema from the footer metadata of one data file; the two
      * list-partitioned relations end in their `list` column. */
    private def footerSchema(rel: String): Option[StructType] =
      dataFiles(rel).headOption.map { f =>
        withFooter(f)(r => Option(r.getFooter.getFileMetaData
            .getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata")))
          .map { json =>
            val data = DataType.fromJson(json).asInstanceOf[StructType]
            if (rel == "tombstones") data else data.add("list", IntegerType)
          }
          .getOrElse(spark.read.parquet(s"$path/$rel").schema)
      }

    /** Every row of an unpartitioned metadata-scale relation. */
    private def smallTable(rel: String): Seq[Group] = dataFiles(rel).flatMap { f =>
      val r = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.toUri)).withConf(conf).build()
      try Iterator.continually(r.read()).takeWhile(_ != null).toList
      finally r.close()
    }

    private def doubles(g: Group, field: String): Array[Double] = {
      val list = g.getGroup(field, 0)
      Array.tabulate(list.getFieldRepetitionCount(0))(
        i => list.getGroup(0, i).getDouble(0, 0))
    }
  }

  def open(spark: SparkSession, path: String): Handle = new Handle(spark, path)

  /** Exact top-k by cosine over the probed lists, in one scan.
    *
    *  1. The query rows' (id, vec) are collected on the driver, at most
    *     [[IvfPq.MaxQueriesPerPass]] ids per pass; a larger query set is
    *     sorted by id and served in passes of that many.
    *  2. Each query picks its `nProbe` lists on the driver
    *     ([[Handle.probe]]).
    *  3. One scan reads the probed `assignments` partitions, with the
    *     stored-column predicate, the tombstones and the allowed id set
    *     (a semi join) applied before ranking, so no rank slot is spent
    *     on a filtered row. Each task keeps a bounded list of k distinct
    *     neighbours per query, ordered by cosine desc (null last) then
    *     neighbor_id asc, the order of a `row_number` window.
    *  4. The task lists merge on the driver as tasks finish (`RDD.fold`),
    *     so the driver holds O(queries·k) rows, never one per partition.
    *
    * Cosines come from [[CosineSim]]'s loop, bit-equal to `cosine_sim`.
    * Query rows sharing an id rank as one query. The result is a local
    * relation of (query_id, neighbor_id, rank int, cosine); an empty
    * query set gives an empty one.
    *
    * `excludeSelf` drops the row whose id equals the query's id — the
    * contract when queries ARE corpus rows. Pass false for EXTERNAL
    * query vectors carrying a sentinel id: self-exclusion there would
    * silently drop a legitimate corpus row that happens to share the
    * sentinel value. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int,
      allowed: Option[DataFrame] = None,
      storedFilter: Option[Column] = None,
      excludeSelf: Boolean = true): DataFrame = {
    val h = open(spark, path)
    val asg = h.read("assignments")
    val idType = asg.schema("id").dataType
    val qproj = queries.select(col(idCol).as("query_id"),
      col(idCol).cast(idType).as("query_key"), col(vecCol).as("qvec"))
    val schema = new StructType()
      .add("query_id", qproj.schema("query_id").dataType)
      .add("neighbor_id", idType)
      .add("rank", IntegerType, nullable = false)
      .add("cosine", DoubleType)
    val max = IvfPq.MaxQueriesPerPass
    // one job: each task returns at most max + 1 rows, and the driver
    // keeps at most max + 1 (a limit would run a job per scale-up round)
    val first = ArrayBuffer.empty[Row]
    if (k > 0) spark.sparkContext.runJob(qproj.rdd,
      (rows: Iterator[Row]) => rows.take(max + 1).toArray,
      (_: Int, rows: Array[Row]) => first ++= rows.take(max + 1 - first.length))
    val passes =
      if (first.length <= max) Iterator(first.toArray)
      else {
        // past one pass: id-sorted, so rows sharing an id share a pass
        val it = qproj.orderBy("query_id").toLocalIterator().asScala.buffered
        Iterator.continually {
          val b = ArrayBuffer.empty[Row]
          while (it.hasNext && (b.length < max || it.head.get(0) == b.last.get(0)))
            b += it.next()
          b.toArray
        }.takeWhile(_.nonEmpty)
      }
    val scan = (lists: Seq[Int]) => IvfPq.applyAllowed(h.withoutTombstoned(
        storedFilter.foldLeft(asg.filter(col("list").isin(lists: _*)))(_.filter(_))),
      allowed).select("id", "vec", "list")
    val floats = (t: DataType) => t.asInstanceOf[ArrayType].elementType == FloatType
    val rows = passes.flatMap(qs => rankPass(spark, h, qs, scan, idType,
      floats(qproj.schema("qvec").dataType), floats(asg.schema("vec").dataType),
      k, nProbe, excludeSelf)).toList
    spark.createDataFrame(rows.asJava, schema)
  }

  /** One pass of [[topK]] over collected (query_id, query_key, qvec)
    * rows. */
  private def rankPass(spark: SparkSession, h: Handle, qs: Array[Row],
      scanOf: Seq[Int] => DataFrame, idType: DataType, qFloat: Boolean,
      vFloat: Boolean, k: Int, nProbe: Int, excludeSelf: Boolean): Seq[Row] = {
    val slots = qs.map(_.get(0)).distinct
    val slotOf = slots.zipWithIndex.toMap
    val toKey = CatalystTypeConverters.createToCatalystConverter(idType)
    // a null vector probes nothing; a null element reads 0.0 when
    // probing (as in nearest_centroids) and nulls every cosine
    val live = qs.filterNot(_.isNullAt(2))
    val qv: Array[(Int, Any, ArrayData)] = live.map(r => (slotOf(r.get(0)),
      toKey(r.get(1)), new GenericArrayData(r.getSeq[Any](2).toArray)))
    val byList: Map[Int, Array[Int]] = live.zipWithIndex.flatMap { case (r, i) =>
      h.probe(r.getSeq[Any](2).map {
        case null => 0.0
        case x: Float => x.toDouble
        case x => x.asInstanceOf[Double]
      }.toArray, nProbe).map(_ -> i)
    }.groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2) }
    if (byList.isEmpty) return Nil
    val scan = scanOf(byList.keys.toSeq.sorted)
    val bc = spark.sparkContext.broadcast((qv, byList))
    val zero = Array.fill(slots.length)(new TopK(k, idType))
    val merged = try SQLExecution.withNewExecutionId(scan.queryExecution,
        Some("vector_search")) {
      scan.queryExecution.toRdd.mapPartitions { rows =>
        val (qv, byList) = bc.value
        val heaps = Array.fill(zero.length)(new TopK(k, idType))
        rows.foreach { r =>
          byList.get(r.getInt(2)).foreach { qis =>
            val id = if (r.isNullAt(0)) null else r.get(0, idType)
            val vec = if (r.isNullAt(1)) null else r.getArray(1)
            qis.foreach { i =>
              val (slot, key, q) = qv(i)
              if (!excludeSelf || (key != null && id != null && key != id))
                heaps(slot).offer(id,
                  if (vec == null) null else CosineSim.of(q, qFloat, vec, vFloat))
            }
          }
        }
        Iterator.single(heaps)
      }.fold(zero) { (a, b) => a.indices.foreach(i => a(i).merge(b(i))); a }
    } finally bc.destroy()
    val toId = CatalystTypeConverters.createToScalaConverter(idType)
    merged.toSeq.zip(slots).flatMap { case (top, qid) =>
      top.ranked.zipWithIndex.map { case ((nid, cos), r) =>
        Row(qid, toId(nid), r + 1, cos) }
    }
  }

  /** A query's best `k` distinct neighbours in rank order: cosine desc
    * (NaN first and null last, as Spark sorts), then neighbour id asc
    * (null first). A neighbour offered twice keeps its better entry, so
    * merging two lists gives the top k of their union. */
  private final class TopK(k: Int, idType: DataType) extends Serializable {
    @transient private lazy val idOrder = TypeUtils.getInterpretedOrdering(idType)
    private val hits = ArrayBuffer.empty[(Any, java.lang.Double)]

    private def cmp(a: (Any, java.lang.Double), b: (Any, java.lang.Double)): Int = {
      val byCos = (a._2, b._2) match {
        case (null, null) => 0
        case (null, _) => 1
        case (_, null) => -1
        case (x, y) => SQLOrderingUtil.compareDoubles(y, x)
      }
      if (byCos != 0) byCos
      else (a._1, b._1) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => idOrder.compare(x, y)
      }
    }

    def offer(id: Any, cos: java.lang.Double): Unit = {
      val h = (id, cos)
      if (hits.length == k && cmp(h, hits.last) >= 0) return
      val at = hits.indexWhere(_._1 == id)
      if (at >= 0) {
        if (cmp(h, hits(at)) >= 0) return
        hits.remove(at)
      } else if (hits.length == k) hits.remove(k - 1)
      val pos = hits.indexWhere(cmp(h, _) < 0)
      hits.insert(if (pos < 0) hits.length else pos, (InternalRow.copyValue(id), cos))
    }

    def merge(o: TopK): Unit = o.hits.foreach { case (id, cos) => offer(id, cos) }

    def ranked: Seq[(Any, java.lang.Double)] = hits.toSeq
  }
}
