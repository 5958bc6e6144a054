package graft.core

/** Static properties of a graft table (the `hoodie.properties` analog —
  * cf. reference data/db/hudi_dimCustomer/.hoodie/hoodie.properties:19-39).
  *
  * Key layout decision for 100 TB: every record is routed to a *file
  * group* `(partition, bucket)` where `bucket = hash(key) % numBuckets`.
  * Upserts/deletes therefore touch only the groups their keys map to,
  * never the whole table, and group membership is computable on the
  * executor side with no index lookup (cf. the reference's bloom-index
  * role, spark/conf/hudi-defaults.conf:25).
  *
  * @param keyField       record key column (unique per partition, like
  *                       Hudi's non-global index)
  * @param orderingField  precombine column — latest value wins
  *                       (reference: `--source-ordering-field ts`)
  * @param partitionField optional partition column
  * @param partitionFormat TimestampBasedKeyGenerator analog (reference
  *                       test-suite/test.properties:34-42 — `timestamp.type=
  *                       UNIX_TIMESTAMP`, `output.dateformat=yyyy/MM/dd`):
  *                       when set, the partition PATH value is
  *                       `date_format` of [[partitionField]] under this
  *                       pattern (UTC), and record identity is
  *                       (derived value, key) — not the raw column. A
  *                       `/` in the pattern produces real nested dirs.
  * @param partitionUnit  epoch resolution of [[partitionField]] when
  *                       [[partitionFormat]] is set: s | ms | us | ns
  *                       for integral epochs (UNIX_TIMESTAMP /
  *                       EPOCHMILLISECONDS analogs), or "ts" when the
  *                       column is already timestamp/date typed
  * @param tableType      "cow" (rewrite groups per commit) or "mor"
  *                       (append delta files, merge on read/compaction)
  * @param numBuckets     file groups per partition; at 100 TB this is
  *                       sized so a group's base file lands near the
  *                       1 GB clustering target
  */
case class TableConfig(
    name: String,
    keyField: String,
    orderingField: String,
    partitionField: Option[String] = None,
    partitionFormat: Option[String] = None,
    partitionUnit: String = "s",
    tableType: String = TableConfig.Cow,
    numBuckets: Int = 8,
    softDeleteField: String = "_is_deleted",
    statsColumns: Seq[String] = Nil,
    /** T5 small-file handling: inserts fold base files smaller than
      * this into the new write instead of stacking tiny files
      * (reference hoodie.parquet.small.file.limit). 0 disables. */
    smallFileLimitBytes: Long = 0L,
    /** Named secondary indexes (Hudi 1.0 `CREATE INDEX` analog):
      * name → "kind:column" with kind ∈ {bloom, column_stats}.
      * `bloom` puts a parquet bloom filter on the column in every
      * future base file (row-group point-lookup skipping; MOR delta
      * files carry no bloom, their merge reads them whole);
      * `column_stats` adds the column to the commit-log min/max stats
      * (file-level range skipping, the metadata-table column_stats
      * partition analog). Existing files index on the next rewrite —
      * `CALL build_index` forces one. */
    indexes: Map[String, String] = Map.empty) {
  require(tableType == TableConfig.Cow || tableType == TableConfig.Mor,
    s"tableType must be cow|mor, got $tableType")
  require(partitionFormat.isEmpty || partitionField.isDefined,
    "partitionFormat needs a partitionField to derive from")
  require(Set("s", "ms", "us", "ns", "ts").contains(partitionUnit),
    s"partitionUnit must be s|ms|us|ns|ts, got $partitionUnit")
  def isMor: Boolean = tableType == TableConfig.Mor

  /** The partition column as seen by SCAN-side equality pruning and
    * storage-partitioned-join reporting: only meaningful when the
    * partition value IS the column value. Derived partitions prune via
    * the source column's min/max stats instead. */
  def scanPartitionField: Option[String] =
    partitionField.filterNot(_ => partitionFormat.isDefined)

  private def indexCols(kind: String): Seq[String] =
    indexes.toSeq.sorted.collect {
      case (_, v) if v.startsWith(kind + ":") => v.substring(kind.length + 1) }
  /** Columns carrying a parquet bloom filter in base files (beyond the
    * key, which always has one there). */
  def bloomColumns: Seq[String] = indexCols("bloom")
  /** statsColumns plus every column_stats-indexed column. */
  def effectiveStatsColumns: Seq[String] =
    (statsColumns ++ indexCols("column_stats")).distinct
}

object TableConfig {
  val Cow = "cow"
  val Mor = "mor"
  /** Metadata column carrying the commit instant of the writing commit;
    * preserved verbatim through rewrites so incremental reads can filter
    * rows by commit range (reference `_hoodie_commit_time`,
    * hudi-spark-minio-trino/README.md:386-389). */
  val CommitTimeCol = "_commit_time"
  /** Per-record commit sequence number (`_hoodie_commit_seqno` analog):
    * `<instant>_<rowId>`, stamped at write, preserved through COW
    * rewrites for unchanged rows. Instants are lexically ordered, so
    * seqnos sort by commit first — a per-record "which commit wrote
    * this version" finer than [[CommitTimeCol]] alone (distinguishes
    * rows of one commit). Null for bootstrap-adopted rows. */
  val CommitSeqNoCol = "_commit_seqno"
  /** Engine metadata columns (elided from user-facing DDL listings and
    * snapshot exports). */
  def metaColumns(softDeleteField: String): Set[String] =
    Set(CommitTimeCol, CommitSeqNoCol, softDeleteField)
}
