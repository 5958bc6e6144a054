package graft.sql

import graft.core.{DataFileMeta, GraftTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** Graft table as a Structured Streaming SOURCE: `spark.readStream
  * .format(classOf[GraftStreamTableProvider].getName).option("path",
  * root).load()` emits each commit's row changes as micro-batches —
  * the `readStream` twin of [[graft.core.GraftTable.readIncremental]]
  * (Hudi's streaming incremental-read analog; the driver-loop
  * [[graft.ingest.TableIncrementalSource]] stays as the batch-chaining
  * path).
  *
  * Offsets ARE commit instants (sortable strings, checkpointed by
  * Spark) — recovery replays exactly the uncommitted commit range, and
  * exactly-once follows from commit-instant determinism. A batch reads
  * what `GraftTable.readIncremental` reads: the range's file set comes
  * from `GraftTable.incrementalFiles` (the TOUCHED file groups' live
  * files as of the range end; restore/bootstrap commits inside the range
  * throw), and [[GraftMorScan]] plans and reads it — one partition per
  * group, base+delta merged in the reader with the commit-range filter
  * applied after the merge, zero exchanges, the same delta-volume caps.
  */
class GraftStreamTableProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft-stream"

  private def root(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null, "graft stream source requires .option(\"path\", <table root>)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.load(SparkSession.active, root(options)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    // same case-insensitive lookup + null require as inferSchema — a
    // misconfigured reader gets the actionable message, not an NPE
    new GraftStreamTable(root(new CaseInsensitiveStringMap(properties)), schema)
}

final class GraftStreamTable(root: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft_stream($root)"
  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability]()
    caps.add(TableCapability.MICRO_BATCH_READ)
    caps.add(TableCapability.STREAMING_WRITE)
    // upsert may evolve the schema / omit metadata columns, same as
    // every other engine write path — defer checks to prepare/align
    caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      // READ-side only (inferSchema also serves the SINK, which
      // legitimately starts on an empty destination): the inferred
      // schema is pinned for the query's lifetime, so a stream READ
      // begun on a never-written table would capture the empty struct
      // and die on its first planned batch with a bare fieldIndex
      // error — fail at start() with the actionable message instead
      // (the batch scan has the same guard, GraftMorScan)
      require(tableSchema.fields.nonEmpty,
        s"graft table at $root has no commits yet — write a first " +
        "batch before starting a stream over it")
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new GraftMicroBatchStream(SparkSession.active, root, tableSchema)
    }

  /** `writeStream.format("graft-stream")` — per-epoch exactly-once
    * upsert commits (see [[GraftStreamingWrite]]). Writer option
    * `mergeMode` ∈ upsert (default) | partial (null-preserving
    * PartialUpdateAvroPayload semantics). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = {
          val mode = Option(info.options.get("mergeMode")).getOrElse("upsert")
          new GraftStreamingWrite(root, info.queryId(), info.schema(), mode)
        }
      }
    }
}

/** Streaming offset = commit instant (zero-padded sortable string). */
final case class GraftOffset(instant: String) extends Offset {
  override def json: String = instant
}

final class GraftMicroBatchStream(spark: SparkSession, root: String,
    tableSchema: StructType) extends MicroBatchStream
    with SupportsTriggerAvailableNow {

  // reload per call: the commit log is the source of truth and other
  // writers append to it while the stream runs
  private def table: GraftTable = GraftTable.load(spark, root)

  override def initialOffset(): Offset = GraftOffset("0")
  override def deserializeOffset(json: String): Offset = GraftOffset(json)
  override def latestOffset(): Offset =
    GraftOffset(table.log.lastInstant().getOrElse("0"))
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- admission control + Trigger.AvailableNow ---------------------
  // `spark.graft.stream.maxCommitsPerTrigger` bounds how many table
  // commits one micro-batch may span (the deltastreamer `max.commits` /
  // Kafka `maxOffsetsPerTrigger` analog): a stream starting against a
  // long backlog catches up in bounded batches instead of planning the
  // whole history as one giant batch. AvailableNow pins the end of the
  // run to the timeline head observed at start, so the query drains to
  // a fixed point and terminates even while writers keep committing.
  @volatile private var availableNowCap: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.log.lastInstant().getOrElse("0"))

  private def maxCommitsPerTrigger: Option[Int] =
    spark.conf.getOption("spark.graft.stream.maxCommitsPerTrigger").map(_.toInt)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].instant
    val head = table.log.lastInstant().getOrElse("0")
    val cap = availableNowCap.fold(head)(c => if (c < head) c else head)
    maxCommitsPerTrigger match {
      case Some(n) if n > 0 =>
        val t = table
        val window = t.rowCommitsIn(t.log.snapshot(), from, Some(cap), n)
        GraftOffset(window.lastOption.map(_.instant).getOrElse(from))
      case _ => GraftOffset(cap)
    }
  }

  override def reportLatestOffset(): Offset =
    GraftOffset(table.log.lastInstant().getOrElse("0"))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].instant
    val to = end.asInstanceOf[GraftOffset].instant
    val t = table
    t.incrementalFiles(t.log.snapshot(), from, Some(to)) match {
      case None => Array.empty
      case Some((_, files)) => scanOf(t, files, Some((from, to))).planInputPartitions()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scanOf(table, Nil, None).createReaderFactory()

  /** The batch scan over `files`, emitting the full table schema: its
    * planning (one partition per file group, the delta-bytes cap, the
    * commit range carried by each partition) and its reader factory are
    * the stream's. No bucket count is passed, so no partitioning is
    * reported. */
  private def scanOf(t: GraftTable, files: Seq[DataFileMeta],
      range: Option[(String, String)]): GraftMorScan =
    new GraftMorScan(spark, t.config.name, root, files, tableSchema,
      t.config.keyField, t.config.orderingField, t.config.softDeleteField,
      required = tableSchema, range = range)
}
