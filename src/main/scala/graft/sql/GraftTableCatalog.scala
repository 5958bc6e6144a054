package graft.sql

import graft.core.{GraftTable, TableConfig}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}
import java.util
import scala.jdk.CollectionConverters._

/** DataSource-v2 TableCatalog over a graft warehouse — the stretch
  * path from SURVEY.md §1.3: catalog-qualified SQL
  * (`SELECT ... FROM gcat.default.t`), DDL through Spark's own
  * CREATE/DROP handling, and commit-instant time travel via
  * `VERSION AS OF '<instant>'` / `TIMESTAMP AS OF` — the reference's
  * Hudi-catalog role (README.md:354-358).
  *
  * Read path: the catalog resolves a snapshot's live files from the
  * commit log. Base files alone (COW, MOR read-optimized, compacted
  * MOR) are served by Spark's own parquet DSv2 table ([[ParquetTable]])
  * over exactly those files — full pushdown, pruning and vectorization
  * for free, file selection ours. A MOR file set with delta files is
  * served by [[GraftMorScan]], the merge `GraftTable`'s read views go
  * through as well.
  *
  * Wire-up:
  * {{{
  *   spark.conf.set("spark.sql.catalog.gcat", "graft.sql.GraftTableCatalog")
  *   spark.conf.set("spark.sql.catalog.gcat.warehouse", "/path/wh")
  * }}}
  */
class GraftTableCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      sys.props("java.io.tmpdir") + "/graft-warehouse")
    Files.createDirectories(Paths.get(warehouse))
  }

  override def name(): String = catalogName

  // the warehouse-containment rule of GraftCatalog: a path-shaped
  // name is refused before anything is read, created or deleted
  private def rootOf(ident: Identifier): String =
    GraftCatalog.rootIn(warehouse, ident.name)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    graft.util.Fs.listSeq(Paths.get(warehouse))
      .filter(p => GraftTable.exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(rootOf(ident))

  /** Bare table name = snapshot semantics (the reference contract,
    * README.md:341-344): a MOR table with live delta files serves the
    * MERGED snapshot through [[GraftMorScanBuilder]] (per-file-group
    * base+delta merge in the partition reader — no shuffle; the same
    * scan `GraftTable.read` builds its frame on, so SQL and the API
    * return the same rows); once compaction has folded all deltas, base
    * files ARE the snapshot and the plain parquet scan (full pushdown +
    * file skipping) serves, as in `GraftTable.read`.
    * Hive-sync-style suffixes work like the registered views:
    * `<name>_ro` always serves base files (stale-by-contract),
    * `<name>_rt` always serves the merged view. */
  private def snapshotTable(ident: Identifier, asOf: Option[String]): Table = {
    val (name, suffix) = ident.name match {
      case n if n.endsWith("_ro") && !tableExists(ident) => (n.stripSuffix("_ro"), "ro")
      case n if n.endsWith("_rt") && !tableExists(ident) => (n.stripSuffix("_rt"), "rt")
      case n => (n, "")
    }
    val root = GraftCatalog.rootIn(warehouse, name)
    if (!GraftTable.exists(root)) throw new NoSuchTableException(ident)
    val t = GraftTable.load(spark, root)
    val live = t.log.liveFiles(asOf)
    val schema = asOf match {
      case Some(i) => t.log.latestSchemaJson(Some(i))
        .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])
        .getOrElse(t.schema)
      case None => t.schema
    }
    val mergeNeeded = suffix != "ro" && t.config.isMor &&
      (live.exists(_.delta) || suffix == "rt")
    // spark.graft.read.groupScan=true: serve EVERY snapshot (COW, or
    // compacted MOR) through the file-group scan so it reports
    // KeyGroupedPartitioning — joins between co-bucketed graft tables
    // run shuffle-free regardless of table type or compaction state.
    // Opt-in because the group scan trades parquet filter pushdown /
    // vectorization for the partitioning report; right when the
    // workload is join-heavy, wrong for selective point scans. The
    // `_ro` contract (base files, stale-by-design) is unaffected in
    // what it READS — base-only groups pass through unmerged.
    val groupScan = suffix != "ro" &&
      spark.conf.getOption("spark.graft.read.groupScan").exists(_.toBoolean)
    if (mergeNeeded || groupScan) // both imply suffix != "ro"
      return new GraftMorDsv2Table(t, ident.name, live, schema)
    val files = live.filterNot(_.delta)
      .map(f => s"${t.root}/${f.path}")
    val parquet = ParquetTable(ident.name, spark, CaseInsensitiveStringMap.empty(),
      files, Some(schema), classOf[ParquetFileFormat])
    // reads go through the stats-driven file-skipping scan builder;
    // INSERT/DELETE land on the engine's transactional write paths
    // (see GraftDsv2Table / GraftFileSkippingScanBuilder)
    new GraftDsv2Table(t, parquet, live.filterNot(_.delta), schema)
  }

  override def loadTable(ident: Identifier): Table =
    snapshotTable(ident, None)

  /** `VERSION AS OF '<commit instant>'`. */
  override def loadTable(ident: Identifier, version: String): Table =
    snapshotTable(ident, Some(version))

  /** `TIMESTAMP AS OF ...` — micros since epoch; instants are
    * micros-scaled, so the cutoff maps directly. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    snapshotTable(ident, Some(f"$timestamp%019d"))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    // only identity transforms are supported: silently dropping a
    // bucket(n, col) transform would create a table the user believes
    // is n-bucketed (SPJ co-partition planning) with the default 8
    partitions.find(t => t.name != "identity").foreach { t =>
      throw new UnsupportedOperationException(
        s"unsupported partition transform '$t' — this catalog supports " +
        "identity partitioning; bucket routing is configured via the " +
        "'buckets' table property")
    }
    val partitionField = partitions.collectFirst {
      case t if t.name == "identity" && t.references.nonEmpty =>
        t.references.head.fieldNames.head
    }
    val cfg = TableConfig(
      name = ident.name,
      keyField = props.getOrElse("primaryKey", props.getOrElse("key", "id")),
      orderingField = props.getOrElse("precombine", props.getOrElse("ordering", "ts")),
      partitionField = partitionField,
      tableType = props.getOrElse("type", TableConfig.Cow).toLowerCase,
      numBuckets = props.get("buckets").map(_.toInt).getOrElse(8))
    val t = GraftTable.create(spark, rootOf(ident), cfg)
    // record the declared schema via an empty commit so reads resolve
    t.insert(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    loadTable(ident)
  }

  /** `ALTER TABLE ... ADD COLUMN(S)` — recorded as a zero-row commit
    * carrying the widened schema (the same additive evolution a write
    * with new columns performs); existing rows read the new columns as
    * null. Everything else (renames, drops, type changes) stays
    * unsupported: types widen automatically through writes, and
    * destructive changes would break the immutable timeline. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!GraftTable.exists(root)) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.size != changes.size) throw new UnsupportedOperationException(
      "ALTER TABLE: only ADD COLUMN is supported — numeric types widen " +
      "automatically through writes; renames/drops would break history")
    val t = GraftTable.load(spark, root)
    val fields = adds.map { a =>
      if (a.fieldNames().length != 1) throw new UnsupportedOperationException(
        "ALTER TABLE ADD COLUMN: nested fields are not supported")
      org.apache.spark.sql.types.StructField(
        a.fieldNames()(0), a.dataType(), nullable = true)
    }
    t.insert(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(t.schema.fields ++
        fields.filterNot(f => t.schema.fieldNames.contains(f.name)))))
    loadTable(ident)
  }

  /** Drops a graft table, or un-registers a registration symlink (a
    * dangling one included), as [[GraftCatalog.dropTable]] does; false
    * when neither is there. */
  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    val ours = Files.isSymbolicLink(Paths.get(root)) || GraftTable.exists(root)
    if (ours) GraftCatalog.deleteRoot(Paths.get(root))
    ours
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    Files.move(Paths.get(rootOf(oldIdent)), Paths.get(rootOf(newIdent)))
  }

  // ---- FunctionCatalog: the bucket transform behind SPJ --------------
  // Catalyst resolves a scan's reported bucket transform through the
  // owning table's catalog; serving the routing hash here is what lets
  // two graft tables join shuffle-free (see GraftBucketFunction).

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, GraftBucketFunction.name()))

  override def loadFunction(ident: Identifier):
      org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name.toLowerCase match {
      case "bucket" => GraftBucketFunction
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }
}
