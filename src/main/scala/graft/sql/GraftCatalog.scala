package graft.sql

import graft.core.{CommitLog, GraftTable, TableConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Warehouse-directory catalog — the Hive-Metastore analog for this
  * engine (SURVEY.md §1.3): `warehouse/<table>/` is a graft table
  * root; listing/lookup read only table properties and the commit
  * log, never data files.
  */
final class GraftCatalog(val spark: SparkSession, val warehouseDir: String) {

  Files.createDirectories(Paths.get(warehouseDir))

  private def rootOf(name: String): String = GraftCatalog.rootIn(warehouseDir, name)

  /** NEW names must satisfy the \w+ identifier grammar: the SQL
    * surface registers every catalog table as a temp view, and Spark
    * rejects view names with '-'/'.'/spaces — one minted bad name
    * would make syncViews (and thus EVERY fall-through statement)
    * throw for the whole catalog. Lookup/drop stay containment-only
    * (rootOf) so legacy names created before validation remain
    * reachable and droppable. */
  private def requireNewName(name: String): Unit =
    require(name.matches("\\w+"),
      s"invalid new table name '$name' — must match \\w+ (the SQL " +
      "surface registers tables as views, which reject other names)")

  /** D1: CREATE TABLE. */
  def createTable(config: TableConfig): GraftTable = {
    requireNewName(config.name)
    require(!GraftTable.exists(rootOf(config.name)),
      s"table ${config.name} already exists")
    GraftTable.create(spark, rootOf(config.name), config)
  }

  /** D1 CTAS: CREATE TABLE AS SELECT — DDL + first insert commit. */
  def createTableAs(config: TableConfig, df: DataFrame): GraftTable = {
    val t = createTable(config)
    t.insert(df)
    t
  }

  def table(name: String): GraftTable =
    GraftTable.load(spark, rootOf(name))

  def tableExists(name: String): Boolean = GraftTable.exists(rootOf(name))

  /** True when `name` occupies the warehouse slot as a registration
    * symlink — including a DANGLING one (target deleted out from under
    * the catalog), which must remain visible to DROP. */
  def isRegistration(name: String): Boolean =
    Files.isSymbolicLink(Paths.get(rootOf(name)))

  /** Iceberg `register_table` analog (reference demo.md:223-229 —
    * `CALL hive_prod.system.register_table(table => ..., metadata_file
    * => ...)`): adopt the EXISTING table metadata at `path` into this
    * catalog under `name`. Registration is metadata-only — the catalog
    * entry is a symlink to the foreign root; no data or commit-log
    * files are copied or rewritten, and the table keeps its full
    * timeline (time travel, incremental cursors). DROP on a registered
    * table removes only the registration, never the linked data. */
  def registerTable(name: String, path: String): GraftTable = {
    requireNewName(name)
    require(!tableExists(name), s"table $name already exists")
    val src = Paths.get(path).toAbsolutePath
    require(GraftTable.exists(src.toString),
      s"$path is not a graft table root (no commit log) — for foreign " +
      "parquet, CREATE the table first and CALL register_table with it " +
      "to bootstrap-adopt the files")
    val link = Paths.get(rootOf(name))
    // a DANGLING registration (link target deleted out from under us)
    // fails tableExists but still occupies the name — replace it
    // rather than throwing FileAlreadyExists. The sync signature must
    // be invalidated too: the dead target's lastInstant can collide
    // with the new target's, and a signature hit would keep serving
    // the dead table's view
    if (Files.isSymbolicLink(link)) { Files.delete(link); () }
    syncedState.remove(name)
    Files.createSymbolicLink(link, src)
    table(name)
  }

  def dropTable(name: String): Unit = {
    val root = Paths.get(rootOf(name))
    // NOFOLLOW: a registered table whose target was deleted is a
    // DANGLING symlink — Files.exists follows links and reports false,
    // which would make the name permanently undroppable
    require(Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS),
      s"no such table $name")
    syncedState.remove(name)
    // the table's temp views must die WITH it — syncViews cannot
    // repair them afterwards (the name is gone from listTables), so a
    // survivor would keep resolving SELECTs against deleted files.
    // Dropped here, at the layer that owns view registration, so API
    // callers get the same cleanup as SQL DROP TABLE.
    Seq(name, s"${name}_ro", s"${name}_rt")
      .foreach(v => { spark.catalog.dropTempView(v); () })
    GraftCatalog.deleteRoot(root)
  }

  /** D9: SHOW TABLES. */
  def listTables(): Seq[String] =
    graft.util.Fs.list(Paths.get(warehouseDir))(_
      .filter(p => GraftTable.exists(p.toString))
      .map(_.getFileName.toString).toSeq).sorted

  /** D9: SHOW PARTITIONS (from the commit log, no data listing). */
  def showPartitions(name: String): Seq[String] = table(name).partitions()

  /** Hive-sync analog: register `t` (+ `_ro`/`_rt`) views for every
    * table (reference README.md:341-344).
    *
    * Per-session INCREMENTAL consumption, reachable from plain SQL the
    * way the reference selects it (`SET hoodie.<t>.consume.mode=
    * INCREMENTAL` + start timestamp, README.md:966-976):
    * {{{
    *   SET graft.<t>.consume.mode=INCREMENTAL
    *   SET graft.<t>.consume.start.instant=<commit instant, exclusive>
    *   SET graft.<t>.consume.max.commits=<n>          -- optional
    * }}}
    * makes the bare view of `<t>` resolve to the incremental read until
    * the mode conf is unset. */
  /** view-state signature per table: re-registering a view costs a
    * snapshot read + plan build, and syncViews runs before EVERY
    * fall-through statement — without this cache each plain SELECT
    * paid O(warehouse) re-registrations. A view is refreshed only
    * when its timeline head or its consume/hive-sync confs changed. */
  private val syncedState = scala.collection.mutable.Map.empty[String, String]

  def syncViews(): Unit = listTables()
    // legacy API-created names outside the \w+ grammar cannot be temp
    // views (Spark rejects them) — skip them here so ONE such table
    // can never break the whole SQL surface; they stay reachable
    // through the API, and requireNewName stops new ones from minting
    .filter(_.matches("\\w+")).foreach { n =>
    val t = table(n)
    val mode = spark.conf.getOption(s"graft.$n.consume.mode")
      .map(_.trim.toUpperCase)
    val from = spark.conf.getOption(s"graft.$n.consume.start.instant")
      .getOrElse("0").trim
    val maxCommits = spark.conf.getOption(s"graft.$n.consume.max.commits")
      .map(_.trim.toInt).getOrElse(Int.MaxValue)
    val skipRo = spark.conf.getOption(s"graft.$n.hive_sync.skip_ro_suffix")
      .exists(_.trim.toBoolean)
    val sig = s"${t.log.lastInstant().getOrElse("0")}|$mode|$from|$maxCommits|$skipRo"
    // a signature hit is only valid while the temp view still EXISTS:
    // a user DROP VIEW through the spark.sql passthrough removes it
    // without advancing the timeline, and skipping here would leave
    // SELECTs unresolvable until the table's next commit. A user
    // createOrReplaceTempView SHADOW is NOT detected (tableExists
    // can't tell ours from theirs without analyzing the plan per
    // statement, which this cache exists to avoid) — a deliberate
    // shadow wins until the table's next commit re-registers.
    val viewAlive = spark.catalog.tableExists(n) &&
      (!t.config.isMor || (spark.catalog.tableExists(s"${n}_rt") &&
        (skipRo || spark.catalog.tableExists(s"${n}_ro"))))
    if (!viewAlive || !syncedState.get(n).contains(sig)) {
      if (mode.contains("INCREMENTAL")) {
        t.readIncremental(fromExclusive = from, maxCommits = maxCommits)
          .createOrReplaceTempView(n)
        if (t.config.isMor) {
          // honor skip_ro_suffix here too: with it set there IS no
          // `_ro` view by contract, and one registered in this branch
          // would never be refreshed (viewAlive short-circuits the
          // `_ro` check under skipRo) — permanently stale
          if (!skipRo) t.readOptimized().createOrReplaceTempView(s"${n}_ro")
          t.readRealtime().createOrReplaceTempView(s"${n}_rt")
        }
      } else t.registerViews(skipRoSuffix = skipRo, asName = n)
      // flipping skip_ro_suffix false→true orphans a previously
      // registered `_ro` that no refresh path would ever touch again —
      // drop it so queries fail with "not found" instead of silently
      // reading a frozen (and eventually cleaned-away) file list
      if (skipRo && t.config.isMor) {
        spark.catalog.dropTempView(s"${n}_ro"); ()
      }
      syncedState(n) = sig
    }
  }
}

object GraftCatalog {

  /** The root of table `name` in `warehouse`, for this catalog and the
    * DSv2 [[GraftTableCatalog]] alike. Table names resolve to warehouse
    * subpaths, so anything that is not a SINGLE path component is
    * rejected here, centrally: a name like '../../x' can never escape
    * the warehouse (CREATE would plant a table outside it, registerTable
    * a symlink, and DROP would walk-delete the resolved tree).
    * Deliberately containment-shaped rather than the SQL dialect's \w+
    * grammar: API-created names with '-'/'.' pre-date validation and
    * must stay reachable (and droppable), while every traversal
    * spelling is one of these. */
  def rootIn(warehouse: String, name: String): String = {
    require(name.nonEmpty && name != "." && name != ".." &&
        !name.contains('/') && !name.contains('\\'),
      s"invalid table name '$name' — must be a single path component")
    Paths.get(warehouse, name).toString
  }

  /** Delete the table at `root`. A REGISTERED table is a symlink (maybe
    * a dangling one): dropping it un-registers, the linked table's own
    * files are not ours to delete. */
  def deleteRoot(root: java.nio.file.Path): Unit =
    if (Files.isSymbolicLink(root)) Files.delete(root)
    else graft.util.Fs.walkSeq(root).reverse.foreach(Files.deleteIfExists(_))
}

/** Metadata/observability export (S15 — the LakeView-extractor analog,
  * reference lakeview/hudi.yaml:35-43: dashboards read ONLY `.hoodie`
  * metadata). Everything here is a DataFrame over the commit log.
  */
object Observability {
  import org.apache.spark.sql.functions._

  /** Commit history: instant, action, operation, files/rows/bytes
    * added and removed. */
  def commits(t: GraftTable): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.log.commits().map { c =>
      (c.instant, c.action, c.operation, c.added.size, c.removed.size,
        c.added.map(_.rows).sum, c.added.map(_.bytes).sum)
    }.toDF("instant", "action", "operation", "files_added",
      "files_removed", "rows_added", "bytes_added")
  }

  /** Live file inventory: partition, bucket, delta?, rows, bytes,
    * key range. */
  def files(t: GraftTable): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.log.liveFiles().map { f =>
      (f.path, f.partition, f.bucket, f.delta, f.rows, f.bytes,
        f.minKey, f.maxKey)
    }.toDF("path", "partition", "bucket", "is_delta", "rows", "bytes",
      "min_key", "max_key")
  }

  /** Per-partition rollup (partition listing + sizes — the dashboard
    * table-stats view). */
  def partitionStats(t: GraftTable): DataFrame =
    files(t).groupBy("partition")
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta_files"),
        sum("rows").as("rows"), sum("bytes").as("bytes"))
      .orderBy("partition")
}
