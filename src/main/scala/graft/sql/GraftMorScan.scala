package graft.sql

import graft.core.{DataFileMeta, GraftTable, Pruning, TableConfig}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{BooleanType, ByteType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** The MOR merge: the one scan that serves every merged read of a
  * merge-on-read table — the catalog's bare name (the reference
  * contract: a MOR table queried by name returns base+delta merged,
  * hudi-spark-minio-trino/README.md:341-366), every `GraftTable` read
  * view whose file set holds a delta file ([[GraftMorScan.frame]]) and
  * the streaming source ([[GraftMicroBatchStream]]) — WITHOUT a shuffle.
  *
  * Key insight: graft writes route every record key to exactly one
  * file group (partition, bucket), so the latest-wins merge never
  * crosses group boundaries. Each [[InputPartition]] IS one file
  * group; its [[PartitionReader]] merges the group's base and delta
  * rows locally — delta rows (bounded: deltas compact away) are
  * buffered in a key→winner map, base rows stream through it. At
  * 100 TB this plan is one parquet pass with zero exchanges. The
  * on-heap map is guarded: plan time caps per-group delta bytes
  * (`spark.graft.mor.maxDeltaBytesPerGroup`, default 2 GiB) and the
  * reader caps buffered distinct keys
  * (`spark.graft.mor.maxDeltaRowsPerGroup`, default 20M), each failing
  * with a "compact first" error instead of an executor OOM.
  *
  * Merge semantics: winner per key by (ordering DESC NULLS LAST,
  * _commit_time DESC NULLS LAST) — the order of `GraftTable.latestWins`
  * on the write path; only delta-carrying keys are merged (base rows of
  * other keys pass through untouched, preserving legitimate insert
  * duplicates); soft-deleted winners and pass-through rows are dropped.
  * An optional commit range (lo, hi] is applied after the merge.
  *
  * Column pruning is supported (the scan reads requested ∪ merge
  * columns); filters are NOT evaluated below the merge — a stale base
  * row passing a filter must still lose to its delta version that
  * fails it, so Spark applies all predicates above the scan. Pushed
  * filters, and at runtime a selective join's key values
  * (SupportsRuntimeV2Filtering), select WHOLE (partition, bucket)
  * groups through [[graft.core.Pruning]], the rule every graft scan
  * shares: partition values, key bucket routing (bootstrap files
  * exempt) and min/max stats. Dropping a whole group is merge-safe,
  * dropping a single file is not.
  */
final class GraftMorScanBuilder(
    spark: SparkSession,
    tableName: String,
    root: String,
    live: Seq[DataFileMeta],
    tableSchema: StructType,
    keyField: String,
    orderingField: String,
    softDeleteField: String,
    options: CaseInsensitiveStringMap,
    partitionField: Option[String] = None,
    numBuckets: Int = 0,
    range: Option[(String, String)] = None)
  extends ScanBuilder with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {

  private var required: StructType = tableSchema
  private var filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil

  override def pruneColumns(s: StructType): Unit = { required = s }

  /** Every filter stays post-scan; [[build]] only selects groups. */
  override def pushFilters(
      f: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    filters = f
    f // all filters re-applied above the merge
  }

  override def pushedFilters:
      Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def build(): Scan = {
    val surviving = Pruning.select(live, byGroup = true)(pruning.pushed(filters))
    Pruning.lastStaticPlanned.put(tableName, Pruning.units(surviving, byGroup = true))
    new GraftMorScan(spark, tableName, root,
      surviving, tableSchema, keyField, orderingField, softDeleteField,
      required, partitionField, numBuckets, range)
  }

  private val pruning = Pruning(tableSchema, partitionField, keyField, numBuckets)
}

final class GraftMorScan(
    spark: SparkSession,
    tableName: String,
    root: String,
    live: Seq[DataFileMeta],
    tableSchema: StructType,
    keyField: String,
    orderingField: String,
    softDeleteField: String,
    required: StructType,
    partitionField: Option[String] = None,
    numBuckets: Int = 0,
    range: Option[(String, String)] = None)
  extends Scan with Batch with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String = {
    val groups = live.groupBy(f => (f.partition, f.bucket)).size
    s"GraftMorRealtimeScan($tableName, groups=$groups, " +
      s"deltaFiles=${live.count(_.delta)})"
  }

  /** Size from commit-log metadata so Catalyst can broadcast a small
    * merged MOR side without sampling. Row count is left unset: delta
    * rows shadow base rows, so the live-file sum is only a bound. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(live.map(_.bytes).sum)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  // Delta-volume guards: the per-group winners map buffers delta rows
  // on an executor heap, which is only safe because compaction bounds
  // delta volume. A neglected table (compaction never run) must fail
  // with an actionable error at plan time, not OOM an executor mid-scan.
  private def confLong(key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)
  private val maxDeltaBytes =
    confLong("spark.graft.mor.maxDeltaBytesPerGroup", 2L << 30)
  private val maxDeltaRows =
    confLong("spark.graft.mor.maxDeltaRowsPerGroup", 20L * 1000 * 1000)

  // ---- storage-partitioned join support ----------------------------
  // The write path routes every key to exactly one (partition, bucket)
  // file group; declaring that as KeyGroupedPartitioning lets Catalyst
  // join two co-bucketed graft tables with ZERO exchanges, zipping file
  // groups pairwise. Reported only when the pruned output still carries
  // the clustering columns (Spark resolves the transform references
  // against the scan output) and the partition value round-trips from
  // its directory encoding.
  private def partType = partitionField.map(p => tableSchema(p).dataType)

  private def spjReady: Boolean =
    numBuckets > 0 &&
      required.fieldNames.contains(keyField) &&
      partitionField.forall(required.fieldNames.contains) &&
      partType.forall {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             BooleanType => true
        case _ => false
      }

  /** Directory-encoded partition value → Catalyst value (inverse of
    * `partExpr`'s string cast; "__null__" encodes null). */
  private def partValue(s: String): Any =
    if (s == "__null__") null
    else partType.get match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case BooleanType => s.toBoolean
      case dt => throw new IllegalStateException(s"unreachable: $dt")
    }

  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    if (!spjReady)
      return new UnknownPartitioning(groups.length)
    val keys = (partitionField.map(Expressions.identity).toSeq :+
      Expressions.bucket(numBuckets, keyField)).toArray[
        org.apache.spark.sql.connector.expressions.Expression]
    new KeyGroupedPartitioning(keys, groups.length)
  }

  private lazy val groups: Array[((String, Int), Seq[DataFileMeta])] =
    live.groupBy(f => (f.partition, f.bucket)).toArray

  // ---- runtime filtering (DPP / record-level-index analog) ----------
  // A join whose build side broadcasts hands this scan its join-key
  // values at runtime (Spark's V2 runtime filtering); groups that can
  // hold none of them are dropped whole, as at plan time.

  private var planned: Seq[DataFileMeta] = live

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    pruning.filterAttributes(live, required)

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    planned = Pruning.select(live, byGroup = true)(pruning.runtime(predicates.toSeq))
    Pruning.lastRuntimePlanned.put(tableName, Pruning.units(planned, byGroup = true))
  }

  private val pruning = Pruning(tableSchema, partitionField, keyField, numBuckets)

  override def planInputPartitions(): Array[InputPartition] = {
    val kept = planned.map(f => (f.partition, f.bucket)).toSet
    groups.filter(g => kept.contains(g._1)).map { case ((p, b), fs) =>
      val deltaBytes = fs.filter(_.delta).map(_.bytes).sum
      if (deltaBytes > maxDeltaBytes)
        throw new IllegalStateException(
          s"MOR realtime scan of table $tableName group (partition=$p, " +
          s"bucket=$b) would buffer $deltaBytes delta bytes, over " +
          s"spark.graft.mor.maxDeltaBytesPerGroup=$maxDeltaBytes: compact " +
          s"table $tableName first (TableServices.compact / CALL " +
          "run_compaction), or raise the cap")
      val key =
        if (!spjReady) null
        else new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          (partitionField.map(_ => partValue(p)).toSeq :+ (b: Any)).toArray)
      GraftMorInputPartition(
        fs.filterNot(_.delta).map(f => FileSlice(s"$root/${f.path}", f.bytes)).toArray,
        fs.filter(_.delta).map(f => FileSlice(s"$root/${f.path}", f.bytes)).toArray,
        s"(partition=$p, bucket=$b)",
        ctLo = range.map(_._1), ctHi = range.map(_._2),
        partKey = key)
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // superset actually read: requested ∪ merge columns, table order
    val need = required.fieldNames.toSet ++
      Set(keyField, orderingField, TableConfig.CommitTimeCol, softDeleteField)
    val superset = StructType(tableSchema.fields.filter(f => need.contains(f.name)))
    require(Seq(keyField, orderingField, TableConfig.CommitTimeCol, softDeleteField)
      .forall(superset.fieldNames.contains),
      s"MOR scan needs key/ordering/metadata columns in the table schema, " +
      s"got ${superset.fieldNames.mkString(",")}")
    // Spark's own parquet reader closure (schema evolution, nanos
    // handling, vectorization all inherited); it broadcasts the hadoop
    // conf internally, so the closure ships to executors as-is.
    // RETURNING_BATCH=false keeps the iterator row-shaped.
    val readFunc = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark,
      dataSchema = tableSchema,
      partitionSchema = new StructType(),
      requiredSchema = superset,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConfWithOptions(Map.empty))
    GraftMorReaderFactory(readFunc, superset,
      required.fieldNames.map(superset.fieldIndex),
      superset.fieldIndex(keyField), superset.fieldIndex(orderingField),
      superset.fieldIndex(TableConfig.CommitTimeCol),
      superset.fieldIndex(softDeleteField), tableName, maxDeltaRows)
  }
}

object GraftMorScan {
  /** A DataFrame over the merged read of `files` (a chosen file set of
    * table `t`, read through `schema`), optionally restricted to rows
    * committed in `range` = (lo, hi]. The relation is the same DSv2
    * table the catalog serves, so API reads and SQL share one plan
    * shape: one scan, no exchange. */
  def frame(t: GraftTable, files: Seq[DataFileMeta], schema: StructType,
      range: Option[(String, String)]): DataFrame =
    DatasetBridge.ofRows(t.spark, DataSourceV2Relation.create(
      new GraftMorDsv2Table(t, t.config.name, files, schema, range), None, None))
}

final case class FileSlice(path: String, bytes: Long)

/** One file group; `ctLo`/`ctHi` (lo exclusive, hi inclusive) carry an
  * optional commit-range visibility filter, applied AFTER the merge —
  * the incremental/streaming read shape: a stale base row must still
  * lose to its delta version before the range test decides visibility.
  * None = snapshot scan (no filter). */
final case class GraftMorInputPartition(
    base: Array[FileSlice], delta: Array[FileSlice],
    group: String,
    ctLo: Option[String] = None, ctHi: Option[String] = None,
    partKey: InternalRow = null)
  extends InputPartition with org.apache.spark.sql.connector.read.HasPartitionKey {
  // non-null exactly when the owning scan reported
  // KeyGroupedPartitioning (spjReady) — the only case Spark reads it
  override def partitionKey(): InternalRow = partKey
}

final case class GraftMorReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    superset: StructType,
    outputOrdinals: Array[Int],
    keyOrd: Int, ordOrd: Int, ctOrd: Int, delOrd: Int,
    tableName: String, maxDeltaRows: Long)
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GraftMorPartitionReader(p.asInstanceOf[GraftMorInputPartition], this)
}

/** Per-file-group merge: buffer delta winners (copied rows — parquet
  * readers reuse row objects), stream base rows through the map. Delta
  * volume per group is bounded by compaction, so the map is small;
  * base rows never buffer. */
final class GraftMorPartitionReader(
    part: GraftMorInputPartition, f: GraftMorReaderFactory)
  extends PartitionReader[InternalRow] {

  private val keyType = f.superset(f.keyOrd).dataType
  private val ordType = f.superset(f.ordOrd).dataType
  private val ordCmp = TypeUtils.getInterpretedOrdering(ordType)
  private val project = UnsafeProjection.create(
    f.outputOrdinals.toIndexedSeq.map(i =>
      BoundReference(i, f.superset(i).dataType, f.superset(i).nullable)))

  private def fileRows(s: FileSlice): Iterator[InternalRow] =
    f.readFunc(PartitionedFile(InternalRow.empty,
        SparkPath.fromPathString(s.path), 0L, s.bytes,
        Array.empty, 0L, s.bytes))
      .asInstanceOf[Iterator[Object]]
      .flatMap {
        case b: ColumnarBatch => b.rowIterator().asScala
        case r: InternalRow => Iterator.single(r)
      }

  private def isDeleted(r: InternalRow): Boolean =
    !r.isNullAt(f.delOrd) && r.getBoolean(f.delOrd)

  /** latestWins order: ordering DESC NULLS LAST, then commit-time DESC
    * NULLS LAST — i.e. `a` beats `b` iff (ord, ct) is strictly larger
    * under null-smallest lexicographic comparison. Ties keep the
    * incumbent (deterministic under the engine's unique
    * (key, ordering, commit) invariant, same as the window). */
  private def beats(a: InternalRow, b: InternalRow): Boolean = {
    val (oa, ob) = (a.get(f.ordOrd, ordType), b.get(f.ordOrd, ordType))
    val c =
      if (oa == null && ob == null) 0
      else if (oa == null) -1
      else if (ob == null) 1
      else ordCmp.compare(oa, ob)
    if (c != 0) return c > 0
    val (ca, cb) = (if (a.isNullAt(f.ctOrd)) null else a.getUTF8String(f.ctOrd),
                    if (b.isNullAt(f.ctOrd)) null else b.getUTF8String(f.ctOrd))
    if (ca == null) false
    else if (cb == null) true
    else ca.compareTo(cb) > 0
  }

  // delta winners: key value → copied winning row
  private val winners = new java.util.HashMap[Any, InternalRow]()

  private def offer(r: InternalRow): Unit = {
    val copied = r.copy()
    val k = copied.get(f.keyOrd, keyType)
    val cur = winners.get(k)
    if (cur == null || beats(copied, cur)) { winners.put(k, copied); () }
  }

  // Second layer of the plan-time bytes guard: distinct delta KEYS are
  // what the map holds, so pathological compression ratios are caught
  // here even when the compressed-bytes cap passed.
  part.delta.foreach { s =>
    fileRows(s).foreach { r =>
      offer(r)
      if (winners.size() > f.maxDeltaRows)
        throw new IllegalStateException(
          s"MOR realtime scan of table ${f.tableName} group ${part.group} " +
          s"buffered over spark.graft.mor.maxDeltaRowsPerGroup=" +
          s"${f.maxDeltaRows} distinct delta keys: compact table " +
          s"${f.tableName} first (TableServices.compact / CALL " +
          "run_compaction), or raise the cap")
    }
  }

  /** Post-merge commit-range visibility (lo < ct ≤ hi); rows with null
    * commit time (bootstrap-adopted) are invisible to a range read —
    * the plan layer guards cursors against crossing a bootstrap. */
  private def inRange(lo: String)(r: InternalRow): Boolean =
    !r.isNullAt(f.ctOrd) && {
      val ct = r.getUTF8String(f.ctOrd).toString
      ct > lo && part.ctHi.forall(ct <= _)
    }

  private val merged: Iterator[InternalRow] =
    part.base.iterator.flatMap(fileRows).flatMap { r =>
      val k = r.get(f.keyOrd, keyType)
      if (winners.containsKey(k)) { offer(r); Iterator.empty }
      else if (isDeleted(r)) Iterator.empty
      else Iterator.single(r)
    } ++ winners.values().iterator().asScala.filterNot(isDeleted)

  // snapshot scans (ctLo empty — the l14 hot path) skip the range test
  private val rows: Iterator[InternalRow] =
    part.ctLo.fold(merged)(lo => merged.filter(inRange(lo)))

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = project(rows.next()); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
