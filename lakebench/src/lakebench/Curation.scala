package lakebench

import graft.core.{GraftTable, TableConfig, TableServices}
import graft.sql.{GraftCatalog, GraftSql}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `curation`: a curated seed corpus is loaded and indexed in set-up;
  * then waves of documents arrive with planted exact duplicates and
  * planted near duplicates (one-token edits), some of them copies of seed
  * documents. Each wave is inserted in `InsertBatches` batches,
  * deduplicated exactly and fuzzily in place, the vector index is
  * refreshed incrementally, and `CALL vector_search` queries
  * run. */
final class Curation(seed: Long, seconds: Int) extends Workload {
  import Curation._
  val waves: Int = math.max(1, math.round(seconds / NominalWaveS).toInt)
  private final case class Wave(files: Seq[(Path, Int)], rows: Int,
      afterExact: Set[Long], afterFuzzy: Set[Long],
      searches: Seq[Seq[Long]], exact: Seq[Map[Long, Seq[(Long, Double)]]])
  private val plan = mutable.ArrayBuffer[Wave]()
  private var seedFile: Path = _
  private var seedIds: Set[Long] = _
  private var spark: SparkSession = _
  private var t: GraftTable = _
  private var gsql: GraftSql = _
  private val recalls = mutable.ArrayBuffer[Double]()

  def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed * 4099 + 3)
    val centers = Array.fill(Centers, Dim)(rnd.nextGaussian())
    def vec(c: Int): Array[Double] =
      Array.tabulate(Dim)(i => fmt(centers(c)(i) + Spread * rnd.nextGaussian()))
    def words(): Array[String] = Array.fill(DocTokens)(s"w${rnd.nextInt(Vocab)}")
    def line(id: Long, text: String, v: Array[Double]) =
      s"""{"doc_id":$id,"ver":1,"text":"$text","embedding":[${v.mkString(",")}]}"""
    val vectors = mutable.HashMap[Long, Array[Double]]()
    val seedDocs = (0L until SeedDocs).map(id => (id, words(), vec(rnd.nextInt(Centers))))
    seedFile = dir.resolve("seed.json")
    Inputs.write(seedFile, seedDocs.iterator.map { case (id, ws, v) =>
      line(id, ws.mkString(" "), v) })
    seedDocs.foreach { case (id, _, v) => vectors(id) = v }
    seedIds = seedDocs.map(_._1).toSet
    var live = seedIds
    for (w <- 1 to waves) {
      // (text, embedding, cluster or -1 when unique, exact duplicate?)
      val docs = mutable.ArrayBuffer[(String, Array[Double], Int, Boolean)]()
      val seedMember = mutable.HashMap[(Int, Boolean), Long]()
      for (_ <- 0 until Uniques) docs += ((words().mkString(" "), vec(rnd.nextInt(Centers)), -1, false))
      // the first SeedClusters clusters of each kind copy a seed document,
      // which stays (seed keys are lower) while its copies go
      def base(c: Int, exact: Boolean): (Array[String], Array[Double], Int) =
        if (c < SeedClusters) {
          val (id, ws, v) = seedDocs(rnd.nextInt(seedDocs.size))
          if (seedMember.values.exists(_ == id)) base(c, exact)
          else { seedMember((c, exact)) = id; (ws, v, ClusterSize - 1) }
        } else (words(), vec(rnd.nextInt(Centers)), ClusterSize)
      for (c <- 0 until ExactClusters) {
        val (ws, v, n) = base(c, exact = true)
        (0 until n).foreach(_ => docs += ((ws.mkString(" "), v, c, true)))
      }
      for (c <- 0 until NearClusters) {
        val (ws, v, n) = base(c, exact = false)
        if (n == ClusterSize) docs += ((ws.mkString(" "), v, c, false))
        // each variant edits a different position, so no two are equal
        rnd.shuffle((0 until DocTokens).toList).take(ClusterSize - 1).foreach { i =>
          val edited = ws.clone()
          edited(i) = s"x${rnd.nextInt(Vocab)}"
          docs += ((edited.mkString(" "), v.map(x => fmt(x + 0.001 * rnd.nextGaussian())), c, false))
        }
      }
      val ids = rnd.shuffle(docs.indices.toList).map(i => w * 1000000L + i)
      val withIds = docs.zip(ids)
      withIds.foreach { case ((_, v, _, _), id) => vectors(id) = v }
      val files = withIds.grouped((withIds.size + InsertBatches - 1) / InsertBatches)
        .zipWithIndex.map { case (part, i) =>
          val f = dir.resolve(f"wave-$w%02d-$i.json")
          Inputs.write(f, part.iterator.map { case ((text, v, _, _), id) => line(id, text, v) })
          (f, part.size)
        }.toSeq
      def losers(exact: Boolean) = withIds.filter(d => d._1._3 >= 0 && d._1._4 == exact)
        .groupBy(_._1._3).flatMap { case (c, g) =>
          val members = g.map(_._2) ++ seedMember.get((c, exact))
          members.sorted.tail }.toSet
      val afterExact = live ++ ids -- losers(exact = true)
      val afterFuzzy = afterExact -- losers(exact = false)
      live = afterFuzzy
      val pool = live.toIndexedSeq.sorted
      val searches = Seq.fill(Searches)(Seq.fill(QueriesPerSearch)(pool(rnd.nextInt(pool.size))).distinct)
      plan += Wave(files, docs.size, afterExact, afterFuzzy, searches,
        searches.map(qs => qs.map(q => q -> bruteForce(q, live, vectors)).toMap))
    }
  }

  private def fmt(x: Double): Double = f"$x%.6f".toDouble

  /** Exact cosine top-k of `q` among `live`, itself excluded. */
  private def bruteForce(q: Long, live: Set[Long],
      vectors: collection.Map[Long, Array[Double]]): Seq[(Long, Double)] = {
    val a = vectors(q)
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    live.iterator.filter(_ != q).map { id =>
      val b = vectors(id)
      id -> a.indices.map(i => a(i) * b(i)).sum / (norm(a) * norm(b))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K)
  }

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("ver", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType))))

  def setup(spark: SparkSession, warehouse: Path): Unit = {
    this.spark = spark
    val catalog = new GraftCatalog(spark, warehouse.toString)
    gsql = new GraftSql(catalog)
    t = catalog.createTable(TableConfig(name = "corpus", keyField = "doc_id",
      orderingField = "ver", numBuckets = Buckets))
    t.insert(spark.read.schema(schema).json(seedFile.toString))
  }

  private def ids(): Seq[Long] = t.read().select("doc_id").collect().toSeq.map(_.getLong(0))

  private def search(rec: Recorder, name: String, qs: Seq[Long], probe: Int): Seq[Checks.Hit] = {
    val rows = rec.call(name, "read") {
      gsql.sql(s"CALL vector_search(table => 'corpus', id_col => 'doc_id', " +
        s"vec_col => 'embedding', k => $K, n_lists => $NLists, n_probe => $probe, " +
        s"query_where => 'doc_id IN (${qs.mkString(",")})')").collect()
    }
    rec.count(name, "rows_out" -> rows.length.toDouble)
    rows.toSeq.map(r => Checks.Hit(r.getAs[Number]("query_id").longValue,
      r.getAs[Number]("neighbor_id").longValue, r.getAs[Number]("cosine").doubleValue,
      r.getAs[Number]("rank").longValue))
  }

  /** Set-up runs every call of a wave once on the seed corpus, which holds
    * no duplicates: both dedups must delete nothing, the index is built
    * and one search runs. The timed calls therefore run warm, and every
    * timed index build refreshes an existing index. */
  def warmUp(check: Seq[String] => Unit): Unit = {
    val rec = new Recorder(false)
    check(Checks.keys("curation seed corpus", seedIds, ids()))
    check(Checks.same("curation seed exact dedup deletions", 0L,
      rec.call("operators.dedup_exact", "service") { TableServices.dedupExact(t, "text") }))
    check(Checks.same("curation seed fuzzy dedup deletions", 0L,
      rec.call("operators.dedup_fuzzy", "service") { TableServices.dedupFuzzy(t, "text") }))
    rec.call("operators.index_build", "service") {
      TableServices.buildVectorIndex(t, "doc_id", "embedding", nLists = NLists)
    }
    search(rec, "operators.search", seedIds.toSeq.sorted.take(QueriesPerSearch), Probe)
  }

  def run(rec: Recorder, check: Seq[String] => Unit): Unit =
    plan.zipWithIndex.foreach { case (wv, w) => rec.call("wave", "group") {
      val what = s"curation wave ${w + 1}"
      wv.files.foreach { case (f, n) =>
        val in = spark.read.schema(schema).json(f.toString)
        rec.call("core.insert", "write") { t.insert(in) }
        rec.count("core.insert", "rows" -> n.toDouble)
        Commits.probe(rec, t)
      }
      val before = if (w == 0) seedIds else plan(w - 1).afterFuzzy
      val nExact = rec.call("operators.dedup_exact", "service") {
        TableServices.dedupExact(t, "text")
      }
      check(Checks.same(s"$what exact dedup deletions",
        (before.size + wv.rows - wv.afterExact.size).toLong, nExact))
      check(Checks.keys(s"$what survivors of exact dedup", wv.afterExact, ids()))
      val nFuzzy = rec.call("operators.dedup_fuzzy", "service") {
        TableServices.dedupFuzzy(t, "text")
      }
      check(Checks.same(s"$what fuzzy dedup deletions",
        (wv.afterExact.size - wv.afterFuzzy.size).toLong, nFuzzy))
      check(Checks.keys(s"$what survivors of fuzzy dedup", wv.afterFuzzy, ids()))
      rec.call("operators.index_build", "service") {
        TableServices.buildVectorIndex(t, "doc_id", "embedding", nLists = NLists)
      }
      wv.searches.zip(wv.exact).zipWithIndex.foreach { case ((qs, exact), i) =>
        val hits = search(rec, "operators.search", qs, Probe)
        recalls += Checks.recall(exact, hits)
        if (i == 0) // full probe is exact search
          check(Checks.topK(s"$what full-probe vector_search",
            exact, search(rec, "operators.search_full", qs, NLists)))
      }
    }}

  def finish(rec: Recorder, check: Seq[String] => Unit): Unit = {
    val r = recalls.sum / recalls.size
    if (r < MinRecall)
      check(Seq(f"curation recall@$K at n_probe=$Probe is $r%.3f, below $MinRecall"))
  }

  def tableBytes: Long = t.log.liveFiles().map(_.bytes).sum

  def layerExtras(rec: Recorder): Map[String, Double] = {
    Commits.record(rec, t)
    Map("operators.recall_at_10" -> recalls.sum / recalls.size)
  }
}

object Curation {
  val Buckets = 4
  val Dim = 32
  val Centers = 16
  val Spread = 0.35
  val Vocab = 20000
  val DocTokens = 60
  val SeedDocs = 1000
  val Uniques = 1400
  val ExactClusters = 100
  val NearClusters = 100
  /** Clusters of each kind whose original is a seed document. */
  val SeedClusters = 20
  val ClusterSize = 3
  val InsertBatches = 4
  val K = 10
  val NLists = 16
  val Probe = 2
  val Searches = 3
  val QueriesPerSearch = 13
  val MinRecall = 0.9
  /** `--seconds` per timed wave (see [[CdcCow.NominalRoundS]]). */
  val NominalWaveS = 20.0
}
