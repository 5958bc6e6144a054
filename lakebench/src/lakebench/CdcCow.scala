package lakebench

import graft.core.{GraftTable, TableConfig, TableServices}
import graft.ingest.Debezium
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `cdc_cow`: Debezium change batches into a copy-on-write table
  * partitioned by creation day, as an orders table's change stream looks:
  * the base table holds `Days` past days, loaded with `insert`; inserts
  * then create rows of a new day (the last partition), and updates and
  * deletes touch the most recent past days. A round is one batch, its
  * reads, and cluster + clean (see [[round]]). Round 0 runs untimed in
  * set-up, so every timed call runs warm. */
final class CdcCow(seed: Long, seconds: Int) extends Workload {
  import CdcCow._
  val timedRounds: Int = math.max(1, math.round(seconds / NominalRoundS).toInt)
  private val parts = (1 to Days + 1).map(i => f"2024-01-$i%02d").toIndexedSeq
  /** A round's change batch and what its reads must return: the
    * per-partition aggregate after it and the latest image of every key it
    * wrote. */
  private final case class Batch(file: Path, bytes: Long, events: Int,
      agg: Map[String, (Long, Long)], incr: Map[Long, Rec])
  private val plan = mutable.ArrayBuffer[Batch]() // one per round
  private var baseFile: Path = _
  private var expFinal: Map[Long, Rec] = _
  private var spark: SparkSession = _
  private var t: GraftTable = _

  def generate(dir: Path): Unit = {
    Files.createDirectories(dir)
    val rnd = new scala.util.Random(seed * 7919 + 1)
    val m = new KeyedModel(parts)
    (0L until BaseRows).foreach(id =>
      m.put(Rec(id, parts(rnd.nextInt(Days)), rnd.nextInt(10000).toLong,
        KeyedRows.name(rnd), 1L)))
    baseFile = dir.resolve("base.json")
    Inputs.write(baseFile, m.state.valuesIterator.toSeq.sortBy(_.id).iterator
      .map(KeyedRows.json))
    var nextId = BaseRows
    var ts = 1000000000000L
    // changes hit the last past days, the newest most
    val cum = HotDays.scanLeft(0.0)(_ + _).tail
    def hotPart(): Int = Days - 1 - (cum.indexWhere(_ >= rnd.nextDouble()) max 0)
    // an envelope image's `ts` is dropped by the parse (its schema has
    // none): the row's ordering value comes from the envelope's ts_ms
    for (r <- 0 to timedRounds) {
      val lines = mutable.ArrayBuffer[String]()
      val written = mutable.HashSet[Long]()
      for (_ <- 0 until EventsPerBatch) {
        ts += 1
        val x = rnd.nextDouble()
        if (x < DeleteShare) {
          val id = m.pick(hotPart(), rnd)
          lines += s"""{"before":${KeyedRows.json(m.state(id))},"after":null,"op":"d","ts_ms":$ts}"""
          m.remove(id); written -= id
        } else if (x < DeleteShare + InsertShare) {
          val rec = Rec(nextId, parts(Days), rnd.nextInt(10000).toLong,
            KeyedRows.name(rnd), ts)
          nextId += 1
          lines += s"""{"before":null,"after":${KeyedRows.json(rec)},"op":"c","ts_ms":$ts}"""
          m.put(rec); written += rec.id
        } else {
          val old = m.state(m.pick(hotPart(), rnd))
          val rec = old.copy(qty = rnd.nextInt(10000).toLong, ts = ts)
          lines += s"""{"before":${KeyedRows.json(old)},"after":${KeyedRows.json(rec)},"op":"u","ts_ms":$ts}"""
          m.put(rec); written += rec.id
        }
      }
      val f = dir.resolve(f"cdc-$r%03d.json")
      plan += Batch(f, Inputs.write(f, lines.iterator), lines.size,
        Checks.partAgg(m.state), written.iterator.map(id => id -> m.state(id)).toMap)
    }
    expFinal = m.state.toMap
  }

  def setup(spark: SparkSession, warehouse: Path): Unit = {
    this.spark = spark
    t = GraftTable.create(spark, warehouse.resolve("cdc").toString,
      TableConfig(name = "cdc", keyField = "id", orderingField = "ts",
        partitionField = Some("part"), numBuckets = Buckets))
    t.insert(spark.read.schema(KeyedRows.withTs).json(baseFile.toString))
  }

  private def apply(f: Path): Seq[String] =
    Debezium.apply(t, Debezium.parse(spark.read.text(f.toString), "value",
      KeyedRows.schema))

  /** Order-independent checksum of the table's content (Spark, not graft,
    * computes it over what graft's snapshot read returns). */
  private def checksum(): (Long, Long) = {
    val r = t.read().agg(count(lit(1)),
      sum(xxhash64(KeyedRows.cols.map(col): _*))).first()
    (r.getLong(0), r.getLong(1))
  }

  def warmUp(check: Seq[String] => Unit): Unit = round(0, new Recorder(false), check)

  def run(rec: Recorder, check: Seq[String] => Unit): Unit =
    (1 to timedRounds).foreach(r => rec.call("round", "group") { round(r, rec, check) })

  private def aggregate(rec: Recorder, check: Seq[String] => Unit, what: String,
      expected: Map[String, (Long, Long)]): Unit = {
    val agg = rec.call("core.snapshot_read", "read") {
      t.read().groupBy("part").agg(count(lit(1)), sum("qty")).collect()
    }.map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    check(Checks.same(s"$what snapshot aggregate", expected, agg))
  }

  private def pull(rec: Recorder, check: Seq[String] => Unit, what: String,
      from: String, expected: Map[Long, Rec]): Unit = {
    val inc = rec.call("core.incremental_read", "read") {
      KeyedRows.collect(t.readIncremental(from))
    }
    rec.count("core.incremental_read", "rows_out" -> inc.size.toDouble)
    check(Checks.rows(s"$what incremental pull", expected, inc))
  }

  /** After the batch two consumers read: a snapshot aggregate and a pull
    * of the batch. After cluster + clean both read again, the pull now
    * spanning the rewrite. */
  private def round(r: Int, rec: Recorder, check: Seq[String] => Unit): Unit = {
    val bt = plan(r)
    val from = t.log.lastInstant().get
    rec.call("ingest.apply", "write") { apply(bt.file) }
    rec.count("ingest.apply", "rows" -> bt.events.toDouble, "in_bytes" -> bt.bytes.toDouble)
    Commits.probe(rec, t)
    aggregate(rec, check, s"cdc_cow round $r", bt.agg)
    pull(rec, check, s"cdc_cow round $r", from, bt.incr)
    val what = s"cdc_cow round $r after cluster+clean"
    val before = checksum()
    rec.call("core.cluster", "service") { TableServices.cluster(t) }
    rec.call("core.clean", "service") { TableServices.clean(t, RetainCommits) }
    check(Checks.same(s"$what: content checksum", before, checksum()))
    aggregate(rec, check, what, bt.agg)
    pull(rec, check, what, from, bt.incr)
  }

  def finish(rec: Recorder, check: Seq[String] => Unit): Unit =
    check(Checks.rows("cdc_cow final snapshot", expFinal, KeyedRows.collect(t.read())))

  def tableBytes: Long = t.log.liveFiles().map(_.bytes).sum

  def layerExtras(rec: Recorder): Map[String, Double] = {
    val applies = rec.measured("ingest.apply")
    val written = Commits.record(rec, t)
    Map(
      "ingest.commits_per_batch" ->
        rec.measured("core.commit").size.toDouble / applies.size,
      "core.bytes_written_per_input_byte" ->
        written / applies.map(_.counts("in_bytes")).sum)
  }
}

object CdcCow {
  val Days = 8
  /** Share of updates and deletes per past day, newest first. */
  val HotDays = Seq(0.6, 0.3, 0.1)
  val Buckets = 2
  val BaseRows = 20000L
  val EventsPerBatch = 1000
  val DeleteShare = 0.05
  val InsertShare = 0.25
  val RetainCommits = 4
  /** `--seconds` per timed round: `--seconds` / this, rounded, at least
    * one, is the number of timed rounds, so the work of a run is fixed by
    * its arguments and never by how fast the program happens to be. */
  val NominalRoundS = 5.0
}
