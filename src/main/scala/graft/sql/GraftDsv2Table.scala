package graft.sql

import graft.core.{DataFileMeta, GraftTable, Pruning, TableConfig}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.{Column => Column2}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** DSv2 table handed out by [[GraftTableCatalog]]: READS delegate to
  * Spark's own parquet DSv2 table over commit-log-selected files (full
  * pushdown/pruning, file selection ours), while DML lands on the
  * engine's transactional write paths:
  *
  *  - `INSERT INTO gcat.t SELECT ...` → [[GraftTable.insert]] and
  *    `INSERT OVERWRITE` → [[GraftTable.insertOverwriteTable]], via the
  *    V1Write/InsertableRelation bridge (the same bridge Spark's JDBC
  *    source uses) — every write is a real commit on the timeline, OCC
  *    included.
  *  - `DELETE FROM gcat.t WHERE ...` → [[GraftTable.deleteWhere]] when
  *    the predicate translates to V1 filters (SupportsDelete); Spark
  *    rejects untranslatable conditions at analysis instead of
  *    guessing.
  *
  * ACCEPT_ANY_SCHEMA defers schema checks to the engine's additive
  * schema evolution (prepare/align): inserts may omit metadata columns
  * and introduce new ones, like every other write path. */
final class GraftDsv2Table(val graft: GraftTable, delegate: Table,
    scanFiles: Seq[DataFileMeta], scanSchema: StructType)
    extends Table with SupportsRead with GraftDmlSupport {

  override def name(): String = delegate.name()
  // Table.schema() is deprecated since 3.4 — derive from columns()
  override def columns(): Array[Column2] = delegate.columns()
  override def schema(): StructType =
    StructType(delegate.columns().map { c =>
      // carry field metadata (comments etc.) for consumers still on
      // schema() — name/type/nullable alone silently drops them
      val f = org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable,
        Option(c.metadataInJSON())
          .map(org.apache.spark.sql.types.Metadata.fromJson)
          .getOrElse(org.apache.spark.sql.types.Metadata.empty))
      Option(c.comment()).map(f.withComment).getOrElse(f)
    })

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability](delegate.capabilities())
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  /** Reads go through the file-skipping builder: pushed filters prune
    * the live-file set via commit-log stats before Spark's parquet
    * scan is built (SQL-reachable data skipping); `delegate` remains
    * the full-set parquet table for schema/capability resolution. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // scanPartitionField: derived-partition tables must NOT equality-
    // prune on the raw source column (its value is not the partition
    // value); they range-prune via the source column's stats instead
    new GraftFileSkippingScanBuilder(graft.spark, name(), graft.root,
      scanFiles, scanSchema, Pruning.of(graft, scanSchema), options)
}

/** Realtime DSv2 table over a chosen MOR file set: reads go through
  * [[GraftMorScanBuilder]] (per-file-group base+delta merge in the
  * reader — the bare-name merged snapshot of the reference contract,
  * README.md:341-366), optionally restricted to the commit range
  * `range` = (lo, hi]. The catalog serves it for a MOR snapshot with
  * live delta files, and [[GraftMorScan.frame]] wraps it for the
  * `GraftTable` read views. DML shares the transactional paths of the
  * COW table. */
final class GraftMorDsv2Table(val graft: GraftTable, ident: String,
    live: Seq[DataFileMeta], committedSchema: StructType,
    range: Option[(String, String)] = None)
    extends Table with SupportsRead with GraftDmlSupport {

  // every column nullable, as a parquet read's: files written before a
  // column was added read it as null, and a non-nullable read schema
  // makes the parquet reader fail on them ("Required column is missing")
  private val scanSchema =
    StructType(committedSchema.fields.map(_.copy(nullable = true)))

  override def name(): String = ident
  override def schema(): StructType = scanSchema

  /** The physical layout, declared: identity(partition) + the engine's
    * bucket routing on the record key. Two graft tables sharing key
    * type and bucket count are co-partitioned; the scan reports the
    * matching KeyGroupedPartitioning so joins between them skip both
    * exchanges (storage-partitioned join). */
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    // derived partitions: the path value is no column's value, so only
    // the bucket transform is declared (identity would be a lie)
    (graft.config.scanPartitionField.map(Expressions.identity).toSeq :+
      Expressions.bucket(graft.config.numBuckets, graft.config.keyField)).toArray
  }

  override def capabilities(): util.Set[TableCapability] = {
    val caps = new util.HashSet[TableCapability]()
    caps.add(TableCapability.BATCH_READ)
    caps.add(TableCapability.V1_BATCH_WRITE)
    caps.add(TableCapability.TRUNCATE)
    caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMorScanBuilder(graft.spark, ident, graft.root, live,
      scanSchema, graft.config.keyField, graft.config.orderingField,
      graft.config.softDeleteField, options,
      partitionField = graft.config.scanPartitionField,
      numBuckets = graft.config.numBuckets, range = range)
}

/** Write/delete half of the DSv2 tables: INSERT / INSERT OVERWRITE
  * through the V1Write bridge onto the engine's transactional commits,
  * DELETE WHERE through [[GraftTable.deleteWhere]]. */
sealed trait GraftDmlSupport extends SupportsWrite with SupportsDelete {

  def graft: GraftTable

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ow: Boolean): Unit = {
              val aligned = bindPositional(data)
              // Hudi semantics for INSERT OVERWRITE: DYNAMIC partition
              // replace (only partitions present in the data), same as
              // the GraftSql route — not vanilla Spark's whole-table
              // static overwrite
              if (overwrite || ow) graft.insertOverwrite(aligned)
              else graft.insert(aligned)
              ()
            }
          }
      }
    }

  /** ACCEPT_ANY_SCHEMA skips Spark's by-position INSERT resolution, so
    * a positional `INSERT INTO t VALUES (...)` arrives with synthetic
    * col1..colN names; bind them to the table's data columns (metadata
    * columns excluded) when the arity matches, like GraftSql does. */
  private def bindPositional(data: DataFrame): DataFrame = {
    if (!data.columns.forall(_.matches("col\\d+"))) return data
    val dataCols = graft.schema.fields.map(_.name)
      .filterNot(TableConfig
        .metaColumns(graft.config.softDeleteField).contains)
    if (dataCols.length == data.columns.length)
      data.toDF(dataCols.toIndexedSeq: _*)
    else data
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(toColumn(_).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    graft.deleteWhere(cond)
    ()
  }

  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case EqualNullSafe(a, v) => Some(col(a) <=> v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
