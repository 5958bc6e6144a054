package lakebench

import graft.core.{GraftTable, TableConfig, TableServices}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `mor_serve`: small upserts spread over every partition of a
  * merge-on-read table; after each one a fixed query mix through the graft
  * SQL catalog and an incremental pull through the API; inline compaction
  * every `CompactEvery` deltas. Step 0 runs untimed in set-up and
  * compacts after its one delta, so every timed call runs warm. */
final class MorServe(seed: Long, seconds: Int) extends Workload {
  import MorServe._
  val timedRounds: Int = math.max(1, math.round(seconds / NominalRoundS).toInt)
  private val parts = (1 to Parts).map(i => f"p$i%02d").toIndexedSeq
  private var baseFile: Path = _
  private final case class Step(file: Path, bytes: Long, rows: Int,
      point: Rec, rangePart: String, lo: Long, hi: Long, rangeCount: Long,
      agg: Map[String, (Long, Long)], roAgg: Map[String, (Long, Long)],
      incr: Map[Long, Rec])
  private val steps = mutable.ArrayBuffer[Step]()
  private var expFinal: Map[Long, Rec] = _
  private var spark: SparkSession = _
  private var t: GraftTable = _

  def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed * 6007 + 2)
    val m = new KeyedModel(parts)
    (0L until BaseRows).foreach(id =>
      m.put(Rec(id, parts(rnd.nextInt(Parts)), rnd.nextInt(10000).toLong,
        KeyedRows.name(rnd), 1L)))
    baseFile = dir.resolve("base.json")
    Inputs.write(baseFile, m.state.valuesIterator.toSeq.sortBy(_.id)
      .iterator.map(KeyedRows.json))
    var nextId = BaseRows
    var roAgg = Checks.partAgg(m.state)
    for (s <- 0 to timedRounds * CompactEvery) {
      val ts = 2L + s
      // one row per key and step: the delta carries each key's new image
      val touched = mutable.LinkedHashMap[Long, Rec]()
      while (touched.size < DeltaRows) {
        val p = touched.size % Parts // every partition gets its share
        val r =
          if (rnd.nextDouble() < InsertShare) {
            nextId += 1
            Rec(nextId - 1, parts(p), rnd.nextInt(10000).toLong, KeyedRows.name(rnd), ts)
          } else m.state(m.pick(p, rnd)).copy(qty = rnd.nextInt(10000).toLong, ts = ts)
        if (!touched.contains(r.id)) touched(r.id) = r
      }
      touched.valuesIterator.foreach(m.put)
      val f = dir.resolve(f"delta-$s%03d.json")
      val bytes = Inputs.write(f, touched.valuesIterator.map(KeyedRows.json))
      if (s % CompactEvery == 0) roAgg = Checks.partAgg(m.state)
      val point = m.state(m.pick(rnd.nextInt(Parts), rnd))
      val rp = rnd.nextInt(Parts)
      val lo = rnd.nextInt(nextId.toInt).toLong
      val hi = lo + nextId / 4
      val rangeCount = m.state.valuesIterator.count(r =>
        r.part == parts(rp) && r.id >= lo && r.id <= hi).toLong
      steps += Step(f, bytes, touched.size, point, parts(rp), lo, hi, rangeCount,
        Checks.partAgg(m.state), roAgg, touched.toMap)
    }
    expFinal = m.state.toMap
  }

  def setup(spark: SparkSession, warehouse: Path): Unit = {
    this.spark = spark
    t = GraftTable.create(spark, warehouse.resolve("mor").toString,
      TableConfig(name = "mor", keyField = "id", orderingField = "ts",
        partitionField = Some("part"), tableType = TableConfig.Mor,
        numBuckets = Buckets))
    t.insert(spark.read.schema(KeyedRows.withTs).json(baseFile.toString))
  }

  /** One SQL query through the catalog; returns its rows and records the
    * Catalyst phase times (parsing through physical planning). */
  private def query(rec: Recorder, name: String, sql: String): Array[org.apache.spark.sql.Row] = {
    var df: DataFrame = null
    val rows = rec.call(name, "read") { df = spark.sql(sql); df.collect() }
    val planS = df.queryExecution.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum
    rec.count(name, "plan_s" -> planS, "rows_out" -> rows.length.toDouble)
    rows
  }

  private def aggOf(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap

  def warmUp(check: Seq[String] => Unit): Unit =
    step(0, new Recorder(false), check, compactAfter = 1)

  def run(rec: Recorder, check: Seq[String] => Unit): Unit =
    (1 until steps.size).grouped(CompactEvery).foreach(round =>
      rec.call("round", "group") { round.foreach(s =>
        rec.call("step", "group") { step(s, rec, check, CompactEvery) }) })

  private def step(s: Int, rec: Recorder, check: Seq[String] => Unit,
      compactAfter: Int): Unit = {
    val st = steps(s)
    val from = t.log.lastInstant().get
    val delta = spark.read.schema(KeyedRows.withTs).json(st.file.toString)
    rec.call("core.upsert", "write") { t.upsert(delta) }
    rec.count("core.upsert", "rows" -> st.rows.toDouble, "in_bytes" -> st.bytes.toDouble)
    Commits.probe(rec, t)
    val fired = rec.call("core.compaction", "service") {
      TableServices.compactInline(t, compactAfter)
    }
    rec.count("core.compaction", "fired" -> (if (fired.isDefined) 1.0 else 0.0))
    val what = s"mor_serve step $s"
    val point = query(rec, "sql.point",
      s"SELECT id, part, qty, name, ts FROM gcat.default.mor WHERE id = ${st.point.id}")
    check(Checks.rows(s"$what point lookup", Map(st.point.id -> st.point),
      point.toSeq.map(r => Rec(r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))))
    val range = query(rec, "sql.range",
      s"SELECT count(*) FROM gcat.default.mor WHERE part = '${st.rangePart}' " +
      s"AND id BETWEEN ${st.lo} AND ${st.hi}")
    check(Checks.same(s"$what range count", st.rangeCount, range.head.getLong(0)))
    check(Checks.same(s"$what realtime GROUP BY", st.agg, aggOf(query(rec, "sql.agg",
      "SELECT part, count(*), sum(qty) FROM gcat.default.mor GROUP BY part"))))
    // right after a compaction this is the _ro == _rt check
    check(Checks.same(s"$what _ro GROUP BY", st.roAgg, aggOf(query(rec, "sql.ro_agg",
      "SELECT part, count(*), sum(qty) FROM gcat.default.mor_ro GROUP BY part"))))
    val inc = rec.call("core.incremental_read", "read") {
      KeyedRows.collect(t.readIncremental(from))
    }
    rec.count("core.incremental_read", "rows_out" -> inc.size.toDouble)
    check(Checks.rows(s"$what incremental pull", st.incr, inc))
  }

  def finish(rec: Recorder, check: Seq[String] => Unit): Unit = {
    val all = rec.call("core.snapshot_read", "final") { KeyedRows.collect(t.read()) }
    check(Checks.rows("mor_serve final snapshot", expFinal, all))
  }

  def tableBytes: Long = t.log.liveFiles().map(_.bytes).sum

  def layerExtras(rec: Recorder): Map[String, Double] = {
    val written = Commits.record(rec, t)
    Map(
      "core.bytes_written_per_input_byte" ->
        written / rec.measured("core.upsert").map(_.counts("in_bytes")).sum)
  }
}

object MorServe {
  val Parts = 8
  val Buckets = 2
  val BaseRows = 20000L
  val DeltaRows = 400
  val InsertShare = 0.1
  val CompactEvery = 3
  /** `--seconds` per timed round of `CompactEvery` steps (see
    * [[CdcCow.NominalRoundS]]). */
  val NominalRoundS = 10.0
}
