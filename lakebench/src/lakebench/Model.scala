package lakebench

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A row of the keyed tables of `cdc_cow` and `mor_serve`. */
final case class Rec(id: Long, part: String, qty: Long, name: String, ts: Long)

/** Keyed rows spread over partitions, with O(1) pick and removal of a
  * random live key per partition. Shared by the keyed workloads' models. */
final class KeyedModel(parts: IndexedSeq[String]) {
  val state = mutable.HashMap[Long, Rec]()
  private val byPart = parts.map(_ => mutable.ArrayBuffer[Long]())
  private val pos = mutable.HashMap[Long, Int]()
  private val partIx = parts.zipWithIndex.toMap

  def put(r: Rec): Unit = {
    if (!state.contains(r.id)) {
      val b = byPart(partIx(r.part)); pos(r.id) = b.size; b += r.id
    }
    state(r.id) = r
  }
  def remove(id: Long): Unit = {
    val r = state.remove(id).get
    val b = byPart(partIx(r.part))
    val i = pos.remove(id).get
    val last = b.remove(b.size - 1)
    if (last != id) { b(i) = last; pos(last) = i }
  }
  def pick(p: Int, rnd: scala.util.Random): Long = {
    val b = byPart(p); b(rnd.nextInt(b.size))
  }
}

object KeyedRows {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("part", StringType),
    StructField("qty", LongType), StructField("name", StringType)))
  val withTs: StructType = schema.add("ts", LongType)
  val cols: Seq[String] = withTs.fieldNames.toSeq

  def json(r: Rec): String =
    s"""{"id":${r.id},"part":"${r.part}","qty":${r.qty},"name":"${r.name}","ts":${r.ts}}"""
  def name(rnd: scala.util.Random): String =
    new String(Array.fill(12)(('a' + rnd.nextInt(26)).toChar))
  def collect(df: org.apache.spark.sql.DataFrame): Seq[Rec] =
    df.select(cols.map(col): _*).collect().toSeq.map(r =>
      Rec(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getLong(4)))
}

object Inputs {
  /** Writes one input file, a line per record; returns its size. */
  def write(path: Path, lines: Iterator[String]): Long = {
    val w = Files.newBufferedWriter(path)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.size(path)
  }
}
