package graft.sql

import graft.core.{DataFileMeta, Pruning, StatsPruner}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** File-skipping ScanBuilder for the DSv2 catalog read path: pushed
  * filters select the live-file SUBSET via commit-log column stats and
  * the partition value BEFORE Spark's parquet scan exists, so a
  * catalog-qualified `SELECT ... WHERE` skips whole files the way the
  * `readWhereBetween` API does — Delta/Hudi-style data skipping,
  * reachable from plain SQL. At 100 TB this is the difference between
  * listing O(table) and O(matching) files in the scan.
  *
  * The surviving files feed Spark's own [[ParquetTable]] scan builder,
  * which re-receives the filters (parquet row-group / page pruning and
  * `PushedFilters` in explain) and the required columns (projection
  * pushdown). Every filter is ALSO returned as post-scan, so skipping
  * is conservative-only — an unprunable expression simply keeps all
  * files and can never change results. */
final class GraftFileSkippingScanBuilder(
    spark: SparkSession,
    tableName: String,
    root: String,
    files: Seq[DataFileMeta],
    schema: StructType,
    pruning: Pruning,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var filters: Seq[Expression] = Nil
  private def partitionField = pruning.partitionField
  private var required: Option[StructType] = None
  private var countPushed = false

  override def pushFilters(f: Seq[Expression]): Seq[Expression] = {
    filters = f
    f // all filters stay post-scan; this builder only narrows IO
  }

  // file-level skipping is invisible pushdown (results identical);
  // the parquet Scan built below reports its own pushed filters
  override def pushedFilters: Array[V2Predicate] = Array.empty

  override def pruneColumns(s: StructType): Unit = { required = Some(s) }

  /** Unfiltered, ungrouped COUNT(*) / MIN / MAX answered from
    * commit-log metadata — no file is opened (the Hudi/Delta
    * metadata-table optimization; at 100 TB the difference between an
    * instant answer and a full scan).
    *
    * MIN/MAX are answerable when every file carries an ATTAINED bound
    * for the column: numeric-integral / boolean / date / decimal stats
    * (footer string stats may be truncated — valid bounds but not
    * attained values — so StringType is excluded), or the partition
    * column itself (each file's partition value is exact, any type).
    * Guarded conservatively: any pushed filter, grouping, unsupported
    * aggregate, missing stat, or unharvested row count falls back to
    * the real scan — pushdown must never be able to change a result. */
  private def aggAnswers(agg: Aggregation): Option[Seq[(String, DataType, Any)]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
    if (filters.nonEmpty || agg.groupByExpressions.nonEmpty ||
        agg.aggregateExpressions.isEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    // attained (never truncated) min/max string → catalyst value
    def parse(dt: DataType, s: String): Option[Any] = dt match {
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType => Some(s.toInt)
      case LongType => Some(s.toLong)
      case BooleanType => Some(s.toBoolean)
      case DateType => Some(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case d: DecimalType =>
        Some(Decimal(BigDecimal(new java.math.BigDecimal(s)), d.precision, d.scale))
      // only reachable for the partition column (exact value per file);
      // string STATS are excluded before parse — they may be truncated
      case StringType =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      case _ => None
    }
    def bound(c: String, wantMin: Boolean): Option[(DataType, Any)] = {
      val dt = dtOf(c).getOrElse(return None)
      val bounds: Seq[String] =
        if (partitionField.contains(c)) {
          // each file holds exactly one partition value (exact, any
          // type); all-null partitions contribute nothing to min/max
          files.map(_.partition).filter(_ != "__null__")
        } else dt match {
          case StringType => return None // stats may be truncated bounds
          case _ =>
            val sts = files.map(_.stats.get(c))
            if (sts.exists(_.isEmpty)) return None
            val vs = sts.flatten.map(s => if (wantMin) s.min else s.max)
            if (vs.exists(v => v == null || v.isEmpty)) return None
            vs
        }
      if (bounds.isEmpty) return Some((dt, null)) // empty table: min/max = null
      val best = bounds.reduce((a, b) =>
        if ((StatsPruner.compare(dt, a, b) < 0) == wantMin) a else b)
      parse(dt, best).map(dt -> _)
    }
    val answers = agg.aggregateExpressions().toSeq.map {
      case _: CountStar if files.forall(_.rows > 0) || files.isEmpty =>
        Some(("count(*)", LongType: DataType, files.map(_.rows).sum: Any))
      case m: Min => colOf(m.column).flatMap(c =>
        bound(c, wantMin = true).map { case (dt, v) => (s"min($c)", dt, v) })
      case m: Max => colOf(m.column).flatMap(c =>
        bound(c, wantMin = false).map { case (dt, v) => (s"max($c)", dt, v) })
      case _ => None
    }
    if (answers.forall(_.isDefined)) Some(answers.flatten) else None
  }

  private var pushedAnswers: Option[Seq[(String, DataType, Any)]] = None

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggAnswers(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAnswers = aggAnswers(agg)
    countPushed = pushedAnswers.isDefined
    countPushed
  }

  override def build(): Scan = {
    pushedAnswers.foreach { answers =>
      return new LocalScan {
        override def rows(): Array[InternalRow] =
          Array(InternalRow(answers.map(_._3): _*))
        override def readSchema(): StructType =
          StructType(answers.map { case (n, dt, v) =>
            StructField(n, dt, nullable = v == null)
          })
        override def description(): String =
          s"GraftMetadataAgg($tableName, files=${files.size}, " +
            answers.map(_._1).mkString(", ") + ")"
      }
    }
    val surviving = Pruning.select(files, byGroup = false)(pruning.pushed(filters))
    Pruning.lastStaticPlanned.put(tableName, surviving.size)
    def rebuild(fs: Seq[DataFileMeta]): Scan = {
      val pt = ParquetTable(tableName, spark, options,
        fs.map(f => s"$root/${f.path}"), Some(schema),
        classOf[ParquetFileFormat])
      val sb = pt.newScanBuilder(options).asInstanceOf[FileScanBuilder]
      sb.pushFilters(filters)
      required.foreach(sb.pruneColumns)
      sb.build()
    }
    new GraftRuntimeFilteringScan(tableName, rebuild, pruning, files.size, surviving)
  }

  private def dtOf(attr: String): Option[DataType] =
    schema.fields.find(_.name == attr).map(_.dataType)
}

/** Runtime-filterable wrapper over the commit-log-selected parquet
  * scan: Spark's V2 runtime filtering (the DSv2 dynamic-partition-
  * pruning path) executes a selective join's build side first and
  * hands this scan the observed join-key values; files that cannot
  * hold ANY probed value under [[Pruning]]'s rule (partition value,
  * key bucket routing, min/max stats) are dropped BEFORE the probe
  * side is read. At 100 TB this is the fact-scan saver: `fact ⋈ (dim
  * WHERE ...)` reads only the fact files the surviving dim keys can
  * live in. */
final class GraftRuntimeFilteringScan(
    tableName: String,
    rebuild: Seq[DataFileMeta] => Scan,
    pruning: Pruning,
    total: Int,
    initial: Seq[DataFileMeta])
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  import org.apache.spark.sql.connector.read.{Batch, Statistics, SupportsReportStatistics}

  private var files = initial
  private var delegate = rebuild(initial)

  /** Files the next toBatch will plan (test observability). */
  def plannedFiles: Int = files.size

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = delegate.toBatch
  override def description(): String =
    s"GraftRuntimeFilterable($tableName, files=${files.size}/$total) " +
      delegate.description()

  override def estimateStatistics(): Statistics = delegate match {
    case s: SupportsReportStatistics => s.estimateStatistics()
    case _ => new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }

  override def filterAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    pruning.filterAttributes(initial, readSchema())

  override def filter(predicates: Array[V2Predicate]): Unit = {
    val kept = Pruning.select(files, byGroup = false)(pruning.runtime(predicates.toSeq))
    if (kept.size < files.size) { files = kept; delegate = rebuild(kept) }
    Pruning.lastRuntimePlanned.put(tableName, files.size)
  }
}
