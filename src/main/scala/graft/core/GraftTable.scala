package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** An upsertable, partitioned, bucketed, versioned table over Parquet —
  * the engine's analog of the reference's Hudi tables
  * (SURVEY.md §1.1). All data paths are ordinary Spark jobs; the only
  * driver-side state is the commit log (metadata scale, never O(rows)).
  *
  * Physical layout:
  * {{{
  *   <root>/.graft/<instant>.json          commit timeline
  *   <root>/.graft/table.json              TableConfig
  *   <root>/data/<partition>/b<bucket>/<instant>-<n>[.delta].parquet
  * }}}
  *
  * COW: a write rewrites the touched file groups' base files.
  * MOR: a write appends `.delta` files; every read view merges base and
  * delta per file group in the scan ([[graft.sql.GraftMorScan]]);
  * `TableServices.compact` folds deltas into new bases.
  */
final class GraftTable private (
    val spark: SparkSession,
    val root: String,
    val config: TableConfig) {

  import TableConfig.CommitTimeCol
  val log = new CommitLog(root)
  private val softDel = config.softDeleteField

  /** Persist a table-property change (index DDL, stats columns) and
    * return an instance bound to the new config. Admin path:
    * last-writer-wins on table.json, not OCC-fenced — index DDL is
    * rare, idempotent, and never changes data routing (the require
    * pins everything layout-affecting). */
  def alterConfig(f: TableConfig => TableConfig): GraftTable = {
    val next = f(config)
    require(next.name == config.name && next.keyField == config.keyField &&
      next.tableType == config.tableType &&
      next.numBuckets == config.numBuckets &&
      next.partitionField == config.partitionField &&
      next.partitionFormat == config.partitionFormat &&
      next.partitionUnit == config.partitionUnit &&
      next.orderingField == config.orderingField &&
      // renaming the tombstone column would orphan every stored
      // `_is_deleted` flag and resurrect soft-deleted rows
      next.softDeleteField == config.softDeleteField,
      "alterConfig may change only index/stats/small-file properties")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, CommitLog.Dir, "table.json"),
      CommitLog.mapper.writeValueAsBytes(next))
    new GraftTable(spark, root, next)
  }

  // ------------------------------------------------------------------
  // schema
  // ------------------------------------------------------------------

  /** Latest committed schema (includes metadata columns). */
  def schema: StructType = schemaOf(log.snapshot())

  private def schemaOf(snap: TimelineSnapshot): StructType =
    snap.latestSchemaJson() match {
      case Some(j) => DataType.fromJson(j).asInstanceOf[StructType]
      case None => new StructType()
    }

  /** Additive-union schema evolution with NUMERIC WIDENING (Hudi's
    * type-promotion rules: int→long, float→double, int→double, …): a
    * column arriving wider than its stored type widens the table
    * schema instead of being narrowed to it — narrowing silently
    * truncates values (a long key cast to int would even re-bucket).
    * Old parquet files are read through the widened schema (Spark's
    * parquet readers up-cast primitives since SPARK-40876). Types with
    * no tightest common type keep the base type, preserving the
    * cast-to-base behavior for genuinely incompatible arrivals. */
  private def mergeSchemas(base: StructType, incoming: StructType): StructType = {
    val inc = incoming.fields.map(f => f.name -> f).toMap
    // ROUTING columns never widen: bucket = xxhash64(key) hashes int
    // and long DIFFERENTLY, so widening the stored key type would
    // silently re-route every existing key to a new bucket (old
    // versions stay live, reads return duplicates). Same for the
    // partition column (plain: the value IS the directory; derived:
    // the epoch arithmetic changes shape). Batches with a wider
    // routing column are rejected loudly instead — align() handles
    // the narrower-batch direction by casting batch → stored type.
    val pinned = Set(config.keyField) ++ config.partitionField
    val widened = base.fields.map { f =>
      inc.get(f.name) match {
        case Some(g) if g.dataType != f.dataType && pinned.contains(f.name) =>
          val w = org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findTightestCommonType(f.dataType, g.dataType)
          if (w.exists(_ != f.dataType)) throw new IllegalArgumentException(
            s"batch carries routing column '${f.name}' as ${g.dataType.sql}, " +
            s"wider than the stored ${f.dataType.sql}: widening a key/" +
            "partition column would re-hash record routing and corrupt " +
            "merges — rewrite the table (CTAS) to change a routing " +
            "column's type")
          f
        case Some(g) if g.dataType != f.dataType =>
          org.apache.spark.sql.catalyst.analysis.TypeCoercion
            .findTightestCommonType(f.dataType, g.dataType)
            .map(w => f.copy(dataType = w)).getOrElse(f)
        case _ => f
      }
    }
    val names = base.fieldNames.toSet
    StructType(widened ++ incoming.fields.filterNot(f => names.contains(f.name)))
  }

  /** Conform a batch to `target`: add missing columns as nulls, keep
    * target column order (schema evolution = additive union, mirroring
    * the reference's source→target derived-column evolution,
    * test-suite/target.avsc vs source.avsc). */
  private def align(df: DataFrame, target: StructType): DataFrame = {
    val have = df.columns.toSet
    val cols = target.fields.map { f =>
      if (have.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Batch preparation shared by all write ops: attach `_commit_time`
    * and `_commit_seqno`, ensure the soft-delete flag exists, compute
    * the evolved schema. */
  private def prepare(df: DataFrame, instant: String,
      snap: TimelineSnapshot): (DataFrame, StructType) = {
    // incoming batches are ALWAYS stamped with the writing instant —
    // even when the rows were sourced from a snapshot read (UPDATE =
    // read-modify-write) they are new versions and must win the
    // commit-time tie-break. Unchanged rows merged during a COW
    // rewrite keep their original _commit_time/_commit_seqno via the
    // `existing` branch of upsert, not via prepare.
    var batch = df.withColumn(CommitTimeCol, lit(instant))
      // _hoodie_commit_seqno analog: instant-prefixed so seqnos order
      // by commit lexically; the row id makes it unique per row
      // (monotonically_increasing_id encodes partition + row index)
      .withColumn(TableConfig.CommitSeqNoCol, concat_ws("_",
        lit(instant), monotonically_increasing_id().cast(StringType)))
    if (!batch.columns.contains(softDel))
      batch = batch.withColumn(softDel, lit(false))
    // retired names (see dropColumn): old files still hold the physical
    // values, and reads select by NAME — re-introducing the name would
    // silently resurrect them. Refuse at every write edge.
    val retired = droppedColumns(snap)
    val bad = batch.columns.filter(retired.contains)
    require(bad.isEmpty,
      s"column(s) ${bad.mkString(", ")} were dropped from '${config.name}' " +
      "and the name is retired: existing files still hold the old values " +
      "and reads select by name, so re-adding would resurrect them")
    val evolved = mergeSchemas(schemaOf(snap), batch.schema)
    (align(batch, evolved), evolved)
  }

  /** Column names retired by [[dropColumn]] commits — permanently, for
    * the table's lifetime (metadata-scale timeline fold). */
  private def droppedColumns(snap: TimelineSnapshot): Set[String] =
    snap.commits.flatMap(_.extra.get("dropped_column")).toSet

  // ------------------------------------------------------------------
  // the latest-wins primitive (W1 — SURVEY.md §2.5)
  // ------------------------------------------------------------------

  /** Keep the newest row per (partition VALUE, key): ordering field
    * desc, then commit time desc. Deterministic given unique (key,
    * ordering, commit) triples — the in-batch precombine guarantees one
    * row per key per commit. For derived partitions the grouping is on
    * the DERIVED value (two versions of a key on the same day merge;
    * the same key on two days is two records — Hudi's non-global-index
    * contract under TimestampBasedKeyGenerator). */
  private[core] def latestWins(df: DataFrame): DataFrame = {
    val (d, partCols) = withIdCols(df)
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(config.orderingField).desc_nulls_last,
        col(CommitTimeCol).desc_nulls_last)
    d.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .drop(PartValCol)
  }

  // ------------------------------------------------------------------
  // physical write
  // ------------------------------------------------------------------

  /** Partition-VALUE expression of a row, before null encoding: the
    * column itself, or — the TimestampBasedKeyGenerator analog
    * (reference test-suite/test.properties:34-42) — `date_format` of
    * the epoch column at the configured resolution. Rendered in the
    * session time zone, which [[graft.Session]] pins to UTC (Hudi's
    * output.timezone default). */
  private def partValExpr: Option[Column] = config.partitionField.map { p =>
    config.partitionFormat match {
      case Some(fmt) =>
        val src = config.partitionUnit match {
          case "s"  => timestamp_seconds(col(p).cast(LongType))
          case "ms" => timestamp_millis(col(p).cast(LongType))
          case "us" => timestamp_micros(col(p).cast(LongType))
          // integer DIV, not `/`: double math loses microseconds on
          // modern epoch-nanos values (> 2^53)
          case "ns" => timestamp_micros(expr(s"CAST(`$p` AS BIGINT) DIV 1000"))
          case "ts" => col(p).cast(TimestampType)
        }
        date_format(src, fmt)
      case None => col(p)
    }
  }

  private def partExpr: Column = partValExpr match {
    case Some(v) => coalesce(v.cast(StringType), lit("__null__"))
    case None => lit("all")
  }

  /** The partition VALUE as the write path renders it (derived tables:
    * the formatted value) — for metadata-faithful consumers like
    * [[TableServices.exportSnapshot]]. */
  private[core] def derivedPartValue: Column = partExpr

  /** Materialized identity-partition column for derived-partition
    * frames. Never persisted: every path drops it before writing. */
  private val PartValCol = "__graft_pval"

  /** (frame, identity columns) for grouping/joining on record identity
    * = (partition VALUE, key). Plain partitions use the column itself;
    * derived partitions materialize the derived value once (reusing an
    * already-present [[PartValCol]] so chained callers don't collide). */
  private[core] def withIdCols(df: DataFrame): (DataFrame, Seq[String]) =
    config.partitionFormat match {
      case Some(_) =>
        val d = if (df.columns.contains(PartValCol)) df
                else df.withColumn(PartValCol, partExpr)
        (d, Seq(PartValCol, config.keyField))
      case None => (df, config.partitionField.toSeq :+ config.keyField)
    }

  /** Null record keys are rejected at plan time (Hudi's "record key
    * cannot be null" contract) — without the guard the staged write
    * lands under __HIVE_DEFAULT_PARTITION__ and the move loop dies with
    * an opaque NumberFormatException after data was already staged. */
  private def bucketExpr: Column = {
    val keyOrFail = when(col(config.keyField).isNotNull, col(config.keyField))
      .otherwise(raise_error(lit(
        s"graft: record key '${config.keyField}' cannot be null")))
    pmod(xxhash64(keyOrFail), lit(config.numBuckets)).cast(IntegerType)
  }

  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length + 1 && i + 3 <= s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** Write `df` into the bucketed layout, one commit's worth of files.
    * Stages with partitionBy(_part,_bucket) (one shuffle, one file per
    * file group per ~maxRecordsPerFile window), then renames into place
    * and harvests per-group stats in a single extra aggregate. */
  /** `rangeBy = Some((n, cols))` — clustering path — shuffles with
    * RANGE partitioning on (_part, _bucket, cols) into ~n write tasks:
    * each task (→ each output file) covers a contiguous slice of the
    * cluster-column space, so per-file min/max stats are tight by
    * CONSTRUCTION. A within-partition sort alone cannot guarantee
    * that: the V1 write inserts its own partition-column sort (over
    * `empty2null(_part)`, which never semantically matches a
    * user-space ordering), and EliminateSorts then drops the inner
    * sort — file boundaries, not row order, must carry the layout. */
  private[core] def writeFiles(df: DataFrame, instant: String, delta: Boolean,
      maxRecordsPerFile: Option[Long] = None,
      rangeBy: Option[(Int, Seq[Column])] = None,
      dedupLatest: Boolean = false,
      dropSoftDeleted: Boolean = false): Seq[DataFileMeta] = {
    require(!(dedupLatest && rangeBy.isDefined),
      "in-shuffle dedup requires hash layout, not range clustering")
    val keyed = df
      .withColumn("_part", partExpr)
      .withColumn("_bucket", bucketExpr)
    // staging is unique per ATTEMPT, not just per instant — two
    // writers planning the same instant must never share it
    val writeToken = java.util.UUID.randomUUID().toString.take(8)
    val staging = Paths.get(root, s".staging-$instant-$writeToken")
    val shuffled0 = rangeBy match {
      case Some((n, cols)) =>
        keyed.repartitionByRange(math.max(1, n),
          (Seq(col("_part"), col("_bucket")) ++ cols).map(_.asc): _*)
      case None => keyed.repartition(col("_part"), col("_bucket"))
    }
    // Latest-wins INSIDE the write shuffle: `_bucket` is a function of
    // the key, so one hashpartitioning(_part,_bucket) co-locates every
    // version of a key. Sorting the partition by (key, ordering desc,
    // commit desc) makes each key a run whose FIRST row is the winner;
    // the lag() window reuses the exchange (its required clustering is
    // exactly the write layout), so upsert/insert pay ONE shuffle where
    // a separate latestWins pass + write repartition paid two — and on
    // the COW merge path the rewritten base rows never travel through a
    // key-hash exchange at all.
    val shuffled = if (!dedupLatest) shuffled0 else {
      // In a tombstone-dropping write, a tombstone of the writing commit
      // with a null ordering (a key-only CDC delete image) beats every
      // stored version of its key: nothing can rank it, and it names a
      // row the source just deleted. It keys on the writing instant so
      // only the incoming batch qualifies: stored rows carry older
      // instants, so compaction never ranks by it, and MOR delta writes
      // (which keep tombstones) do not apply it.
      val nullOrderedTombstone =
        if (!dropSoftDeleted) None
        else Some((coalesce(col(softDel), lit(false)) &&
          col(config.orderingField).isNull &&
          col(CommitTimeCol) === lit(instant)).desc)
      val w = Window.partitionBy(col("_part"), col("_bucket"))
        .orderBy(Seq(col(config.keyField).asc) ++ nullOrderedTombstone ++
          Seq(col(config.orderingField).desc_nulls_last,
            col(CommitTimeCol).desc_nulls_last): _*)
      val d = shuffled0
        .withColumn("__prevk", lag(col(config.keyField), 1).over(w))
        .filter(col("__prevk").isNull ||
          col("__prevk") =!= col(config.keyField))
        .drop("__prevk")
      if (dropSoftDeleted) d.filter(!coalesce(col(softDel), lit(false)))
      else d
    }
    // T7 key-lookup index: parquet bloom filter on the record key of
    // every BASE file — upsert/point-lookup scans skip row groups
    // without the key (the reference's hoodie.index.type BLOOM analog,
    // spark/conf/hudi-defaults.conf:25) — plus every column the user
    // put a CREATE INDEX ... USING bloom on. Delta files carry none: the
    // MOR merge reads them whole (no pushed filter), so a bloom there
    // would be pure bytes (at least 64 KiB, the smallest adaptive
    // candidate, beside a few KiB of rows from a small upsert);
    // compaction output is a base file and carries the index again.
    val blooms = if (delta) Nil else (config.keyField +: config.bloomColumns).distinct
    val writer0 = blooms
      .foldLeft(shuffled.write.partitionBy("_part", "_bucket").mode("overwrite")) {
        (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true") }
      // adaptive sizing: without it parquet-mr sizes every bloom for
      // the DEFAULT expected NDV and each file carries a ~1 MiB bloom
      // regardless of content — measured 1,052,733 bytes for a 36-row
      // file, i.e. the bloom WAS the file. Adaptive keeps candidate
      // sizes and serializes the smallest one meeting the FPP for the
      // file's actual NDV — same reader contract, right-sized bytes.
      // At 100 TB this is the difference between blooms costing ~0.1%
      // and blooms doubling small-file-group storage.
      .option("parquet.bloom.filter.adaptive.enabled", "true")
    val writer = maxRecordsPerFile.fold(writer0)(n => writer0.option("maxRecordsPerFile", n))
    writer.parquet(staging.toString)

    // Per-file stats (key range + ordering range + rows). Primary
    // path: parquet FOOTER harvest — O(files) metadata reads, no data
    // pages touched, no second Spark job per commit (FooterStats).
    // Fallback: read BACK the staged files — column-pruned to the
    // stats columns, grouped by input file — for stats-column types
    // whose footer representation isn't cast-string-exact. Neither
    // path re-runs the upstream pipeline (a merge/window write would
    // otherwise be computed twice); both yield exact per-file bounds.
    val statCols = (Seq(config.keyField, config.orderingField) ++
        // derived partitions prune scans via the SOURCE column's
        // min/max (a ts-range filter skips whole days of files), so
        // harvest its stats alongside key and ordering
        (if (config.partitionFormat.isDefined) config.partitionField else None) ++
        config.effectiveStatsColumns).distinct
      .filter(df.columns.contains)
    val stagedParquet: Seq[java.nio.file.Path] =
      if (!Files.exists(staging)) Seq.empty
      else graft.util.Fs.walk(staging)(_
        .filter(p => p.toString.contains("/_part=") &&
          p.getFileName.toString.endsWith(".parquet")).toSeq)
    def footerHarvest(): Option[Map[String, (Long, Map[String, ColStat])]] =
      if (!spark.conf.get("spark.graft.write.footerStats", "true").toBoolean)
        None
      else FooterStats.harvest(stagedParquet, statCols,
        StructType(statCols.map(c => df.schema(c))),
        spark.sessionState.newHadoopConf())
    def scanHarvest(): Map[String, (Long, Map[String, ColStat])] = {
        val aggs = count(lit(1)).as("__rows") +: statCols.flatMap { c =>
          Seq(min(col(c)).cast(StringType).as(s"__min_$c"),
              max(col(c)).cast(StringType).as(s"__max_$c"),
              sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
        }
        spark.read.parquet(staging.toString)
          .groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val colStats = statCols.map { c =>
              c -> ColStat(
                Option(r.getAs[String](s"__min_$c")).getOrElse(""),
                Option(r.getAs[String](s"__max_$c")).getOrElse(""),
                r.getAs[Long](s"__nulls_$c"))
            }.toMap
            // key by _part=<..>/_bucket=<..>/<file> — bare filenames
            // repeat across partition dirs within one task's write.
            // input_file_name() is URI-encoded, so a partition dir that
            // itself contains Spark's %XX escapes (e.g. a date value
            // "2018/08/31" staged as _part=2018%2F08%2F31) comes back
            // double-encoded (%252F); decode ONCE to match the on-disk
            // name, else the join misses and the file records zero
            // rows / no stats (killing pruning for such tables).
            val segs = r.getAs[String]("__file").split("/")
            segs.takeRight(3).map(uriDecode).mkString("/") ->
              (r.getAs[Long]("__rows"), colStats)
          }.toMap
      }
    val statsByFile: Map[String, (Long, Map[String, ColStat])] =
      if (stagedParquet.isEmpty) Map.empty
      else footerHarvest().getOrElse(scanHarvest())

    // move staged files into the stable layout
    val metas = scala.collection.mutable.ArrayBuffer[DataFileMeta]()
    if (Files.exists(staging)) {
      graft.util.Fs.listSeq(staging)
        .filter(p => p.getFileName.toString.startsWith("_part=")).foreach { partDir =>
          val partEnc = unescapePath(partDir.getFileName.toString.stripPrefix("_part="))
          val part = if (partEnc == "__HIVE_DEFAULT_PARTITION__") "__null__" else partEnc
          graft.util.Fs.listSeq(partDir)
            .filter(p => p.getFileName.toString.startsWith("_bucket=")).foreach { bDir =>
              val bucket = bDir.getFileName.toString.stripPrefix("_bucket=").toInt
              val parts = graft.util.Fs.listSeq(bDir)
                .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
              parts.zipWithIndex.foreach { case (src, i) =>
                val suffix = if (delta) ".delta.parquet" else ".parquet"
                val rel = s"data/${escapeDir(part)}/b$bucket/$instant-$i-$writeToken$suffix"
                val dst = Paths.get(root, rel)
                val srcKey = src.toString.split("/").takeRight(3).mkString("/")
                val (rows, colStats) = statsByFile.getOrElse(
                  srcKey, (0L, Map.empty[String, ColStat]))
                Files.createDirectories(dst.getParent)
                Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
                val keyStat = colStats.get(config.keyField)
                metas += DataFileMeta(
                  path = rel, partition = part, bucket = bucket, delta = delta,
                  rows = rows,
                  bytes = Files.size(dst),
                  minKey = keyStat.map(_.min).getOrElse(""),
                  maxKey = keyStat.map(_.max).getOrElse(""),
                  stats = colStats)
              }
            }
        }
      // clean staging remains (_SUCCESS etc.)
      graft.util.Fs.walkSeq(staging).reverse.foreach(Files.deleteIfExists(_))
    }
    metas.toSeq
  }

  /** Percent-decode one URI path segment ('+' preserved — it is legal
    * in file names and URLDecoder would eat it). */
  private def uriDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** Escape a partition value into its directory form. `/` separates
    * REAL nested directories ONLY for derived layouts (`yyyy/MM/dd`
    * lands as `data/2023/05/14/b0/...` like Hudi's
    * TimestampBasedKeyGenerator paths) — there the FORMAT STRING, not
    * row data, controls the segments. For plain partition columns the
    * value is row data, so `/` is percent-encoded like any other
    * unsafe character: a dirty value like `../../x` must never escape
    * the table root (writes AND the later clean/remove commits would
    * otherwise touch files outside it). Dot-only segments (`.`, `..`)
    * are percent-encoded even in the derived path, and empty segments
    * are rejected loudly — both would break path identity. */
  private def escapeDir(s: String): String = {
    def seg(p: String): String = p.flatMap {
      case c if c.isLetterOrDigit || c == '-' || c == '_' || c == '=' => c.toString
      case '.' if !p.forall(_ == '.') => "."
      case c => f"%%${c.toInt}%02x"
    }
    if (config.partitionFormat.isDefined) {
      val parts = s.split("/", -1)
      require(parts.forall(_.nonEmpty),
        s"partition value '$s' has an empty path segment; cannot form a stable directory name")
      parts.map(seg).mkString("/")
    } else seg(s)
  }

  /** Optimistic concurrency control (T4, SURVEY.md §2.7): writers plan
    * against a snapshot (`planningInstant`) and validate under the
    * table lock that no commit has landed since that touches the same
    * file groups / files / partitions. EVERY commit validates — even
    * append-only ones (insert, MOR deltas), which can never conflict
    * with each other but DO conflict with a replace commit (overwrite /
    * drop-partition) that landed after their planning snapshot: without
    * the symmetric check, an insert planned before a drop could publish
    * after it and silently survive a commit claiming the partition is
    * gone. */
  private[core] def commitValidated(c: Commit, planningInstant: String,
      touchedGroups: Set[(String, Int)],
      replacedParts: Option[Seq[String]] = None): String =
    log.withLock {
      val newer = log.commits().filter(_.instant > planningInstant)
      val ourRemoved = c.removed.toSet
      val ourAddedParts = c.added.map(_.partition).toSet
      newer.foreach { n =>
        if (n.removed.exists(ourRemoved.contains))
          throw new ConcurrentWriteException(
            s"commit ${n.instant} rewrote files this write also rewrites")
        if (n.added.exists(f => touchedGroups.contains((f.partition, f.bucket))))
          throw new ConcurrentWriteException(
            s"commit ${n.instant} wrote into file groups this write rebuilt from a stale snapshot")
        if (n.replacedPartitions.nonEmpty && ourAddedParts.nonEmpty &&
            (n.replacedPartitions.contains("*") ||
             ourAddedParts.exists(n.replacedPartitions.contains)))
          throw new ConcurrentWriteException(
            s"commit ${n.instant} replaced partitions this write adds into")
        replacedParts.foreach { parts =>
          val overlap = parts.contains("*") ||
            n.replacedPartitions.contains("*") ||
            n.added.exists(f => parts.contains(f.partition)) ||
            n.replacedPartitions.exists(parts.contains)
          if (overlap && (n.added.nonEmpty || n.replacedPartitions.nonEmpty))
            throw new ConcurrentWriteException(
              s"commit ${n.instant} touched partitions being replaced")
        }
      }
      commitOrThrow(c)
    }

  private def commitOrThrow(c: Commit): String = {
    // NO silent renumbering on an instant collision: the data files
    // were already written with rows stamped `_commit_time = c.instant`,
    // so publishing under a different instant would desynchronize row
    // stamps from the timeline (readIncremental's `> fromExclusive`
    // row filter would drop the whole commit; readCdc would treat the
    // update as unchanged). A collision is a concurrency event —
    // surface it like one and let the caller replan the write, which
    // re-stamps everything consistently. With pid-salted instants
    // (CommitLog.nextInstantAfter) this is vanishingly rare.
    if (!log.tryCommit(c)) throw new ConcurrentWriteException(
      s"instant ${c.instant} was claimed by a concurrent writer; " +
      "retry the operation (it will replan under a fresh instant)")
    c.instant
  }

  // ------------------------------------------------------------------
  // write operations (SURVEY.md §2.1 S9, §2.6)
  // ------------------------------------------------------------------

  /** Append after in-batch precombine; does NOT merge with existing keys
    * (Hudi `insert` semantics — duplicates across commits are possible,
    * the A3 invariant query is how the test-suite checks them). */
  def insert(df: DataFrame): String = write(df, "insert", precombine = true)

  /** Raw append, no dedup at all (Hudi `bulk_insert`). */
  def bulkInsert(df: DataFrame): String = write(df, "bulk_insert", precombine = false)

  private def write(df: DataFrame, op: String, precombine: Boolean): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val (batch0, evolved) = prepare(df, instant, snap)
    // T5 small-file handling: fold undersized base files of the groups
    // this insert lands in into the new write (bin packing) instead of
    // stacking another tiny file per commit
    val smallVictims: Seq[DataFileMeta] =
      if (op == "bulk_insert") Nil
      else {
        // metadata first: only when undersized base files EXIST does the
        // batch pay the group-projection job to see which ones it hits
        val candidates = smallBaseFiles(snap)
        if (candidates.isEmpty) Nil
        else {
          val groups = batch0
            .withColumn("_part", partExpr).withColumn("_bucket", bucketExpr)
            .select("_part", "_bucket").distinct()
            .collect().map(r => (r.getString(0), r.getInt(1))).toSet
          candidates.filter(f => groups.contains((f.partition, f.bucket)))
        }
      }
    // No victims → dedup-within-batch runs inside the write shuffle.
    // With victims the packed-in EXISTING rows must survive alongside
    // batch rows that share their key (insert, not upsert, semantics),
    // so the batch is deduped separately before the union.
    val (toWrite, dedupInWrite) =
      if (smallVictims.isEmpty) (batch0, precombine)
      else {
        val b = if (precombine) latestWins(batch0) else batch0
        (readFiles(smallVictims, evolved).unionByName(b), false)
      }
    val added = writeFiles(toWrite, instant, delta = false,
      dedupLatest = dedupInWrite)
    val c = Commit(instant, "commit", op, added = added,
      removed = smallVictims.map(_.path), schemaJson = evolved.json)
    commitValidated(c, planning,
      smallVictims.map(f => (f.partition, f.bucket)).toSet)
  }

  /** Keyed upsert with latest-wins ordering (the Streamer's default op,
    * hudi-spark-minio-trino/README.md:211-215).
    *
    * COW: merge the batch into only the file groups its keys hash to,
    * skipping files whose key range can't intersect the batch
    * (StatsPruner); with `smallFileLimitBytes` set, those groups'
    * undersized base files fold in too. MOR: append delta files — zero
    * read amplification.
    */
  def upsert(df: DataFrame, extra: Map[String, String] = Map.empty): String =
    upsertAs(df, "upsert", extra)

  /** [[upsert]] committed under operation `op`. [[deleteRows]] sends a
    * MOR table's tombstones through here as `"delete"`. */
  private def upsertAs(df: DataFrame, op: String,
      extra: Map[String, String]): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val (batch0, evolved) = prepare(df, instant, snap)
    val batch = batch0.persist()
    try {
      if (config.isMor) {
        // Adopt-as-MOR progressive conversion: delta rows merge per
        // (partition, bucket) group, but bootstrap-adopted base files
        // sit in the sentinel UNBUCKETED group — a delta for a key
        // held by an unbucketed file would never meet it at merge
        // time and reads would serve both versions. Any overlapping
        // bootstrap file is FOLDED into hash-routed base files in the
        // SAME commit as the delta append (the COW progressive-
        // conversion rule; a one-time cost per adopted file, after
        // which upserts are pure O(batch) delta appends again).
        val bootVictims = morBootstrapVictims(batch, snap, evolved)
        val folded =
          if (bootVictims.isEmpty) Seq.empty
          else writeFiles(readFiles(bootVictims, evolved), instant,
            delta = false, dedupLatest = true)
        val added = writeFiles(batch, instant, delta = true,
          dedupLatest = true) ++ folded
        commitValidated(Commit(instant, "commit", op, added = added,
          removed = bootVictims.map(_.path),
          schemaJson = evolved.json, extra = extra), planning,
          bootVictims.map(f => (f.partition, f.bucket)).toSet)
      } else {
        val touched = touchedKeyRanges(batch)
        val keyType = evolved.fields.find(_.name == config.keyField)
          .map(_.dataType).getOrElse(StringType)
        // files outside the batch's key ranges stay as-is, unless they
        // are undersized base files of a group the batch lands in: those
        // fold into the rewrite (T5 bin packing) instead of the group
        // stacking one more small file per commit
        val overlapping = snap.liveFiles().filter(overlapsIncoming(_, touched, keyType))
        val rewrite = (overlapping ++ smallBaseFiles(snap).filter(f =>
          touched.contains((f.partition, f.bucket)))).distinct
        val existing = readFiles(rewrite, evolved)
        // latest-wins + tombstone drop happen inside the write shuffle
        val added = writeFiles(existing.unionByName(batch), instant,
          delta = false, dedupLatest = true, dropSoftDeleted = true)
        commitValidated(Commit(instant, "commit", op, added = added,
          removed = rewrite.map(_.path), schemaJson = evolved.json,
          extra = extra), planning, touched.keySet)
      }
    } finally batch.unpersist()
  }

  /** One-commit COW full sync — the MERGE `WHEN MATCHED UPDATE SET *`
    * + `WHEN NOT MATCHED BY SOURCE DELETE` execution path: merge `df`
    * latest-wins into its file groups AND delete every stored key
    * absent from `df`, in a single commit.
    *
    * The two-commit upsert-then-delete sequence read and rewrote every
    * live file group TWICE (the source's key set is the complement of
    * nothing — a full sync touches the whole table by definition).
    * Fused: each overlapping group is read once, merged and key-
    * filtered in the same write shuffle; groups whose key range cannot
    * intersect the batch are dropped WITHOUT being read at all (every
    * key they hold is absent from the source, so the BY SOURCE delete
    * removes the whole group — file removal is metadata). Halves the
    * table-scale I/O of a reconciliation MERGE.
    *
    * Caller contract (GraftSql.merge): `df` must already be restricted
    * to keys that exist in the table — this path has no INSERT clause,
    * and unmatched batch rows would otherwise be written. */
  private[graft] def fullSyncCow(df: DataFrame): String = {
    require(!config.isMor,
      "fullSyncCow is the COW fused path; MOR merges via upsert + tombstones")
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val (batch0, evolved) = prepare(df, instant, snap)
    val batch = batch0.persist()
    try {
      val touched = touchedKeyRanges(batch)
      val keyType = evolved.fields.find(_.name == config.keyField)
        .map(_.dataType).getOrElse(StringType)
      // the delete identity is key-only: a stored key survives when the
      // source holds it under ANY partition value, so a group is dropped
      // unread only if no batch key range of its bucket, in any
      // partition, overlaps it (a key hashes to the same bucket everywhere)
      val live = snap.liveFiles()
      val rewrite = live.filter(f => touched.exists {
        case ((_, b), (mn, mx)) => (f.bucket < 0 || b == f.bucket) &&
          StatsPruner.rangesOverlap(keyType, f.minKey, f.maxKey, mn, mx) })
      val existing = readFiles(rewrite, evolved)
      // stored keys absent from the source are deleted: semi-join on
      // the batch's key set — the same key-only identity the
      // deleteBySource anti-join used (partition-agnostic, matching
      // MERGE ON key equality)
      val kept = existing.join(
        batch.select(col(config.keyField)).distinct(),
        Seq(config.keyField), "left_semi")
      val added = writeFiles(kept.unionByName(batch), instant,
        delta = false, dedupLatest = true, dropSoftDeleted = true)
      commitValidated(Commit(instant, "commit", "full_sync",
        added = added, removed = live.map(_.path),
        schemaJson = evolved.json), planning,
        touched.keySet ++ live.map(f => (f.partition, f.bucket)))
    } finally batch.unpersist()
  }

  /** ALTER TABLE DROP COLUMN — schema narrowing as a zero-row commit.
    * No file is rewritten: reads select columns BY NAME from an
    * explicit schema ([[readFiles]]), so narrowing the committed
    * schema hides the column everywhere at once, while time travel to
    * a pre-drop instant still surfaces it (schema-at-instant).
    *
    * The name is permanently RETIRED: re-adding it (ALTER ADD or a
    * write carrying the column) is refused, because old files still
    * hold the physical values and a same-name column would silently
    * resurrect them — the failure mode Delta prevents with column-
    * mapping ids; without per-column ids, retirement is the honest
    * contract. Structural columns (key, ordering, partition, engine
    * metadata) cannot be dropped. */
  def dropColumn(name: String): String = {
    val snap = log.snapshot()
    val cur = schemaOf(snap)
    require(cur.fieldNames.contains(name),
      s"no column '$name' in ${config.name}")
    val structural = Set(config.keyField, config.orderingField,
      CommitTimeCol, TableConfig.CommitSeqNoCol, softDel) ++
      config.partitionField
    require(!structural.contains(name),
      s"cannot drop '$name': key/ordering/partition/metadata columns are structural")
    // an indexed column cannot vanish out from under its index — that
    // would leave SHOW INDEXES listing a dangling definition
    val referencing = config.indexes.collect {
      case (idx, spec) if spec.split(":", 2).lift(1).contains(name) => idx }
    require(referencing.isEmpty,
      s"cannot drop '$name': referenced by index(es) ${referencing.mkString(", ")} — " +
      "DROP INDEX first")
    val narrowed = StructType(cur.fields.filterNot(_.name == name))
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    commitValidated(Commit(instant, "commit", "drop_column",
      schemaJson = narrowed.json,
      extra = Map("dropped_column" -> name)), planning, Set.empty)
  }

  /** Partial-update upsert — Hudi's `PartialUpdateAvroPayload` /
    * `OverwriteNonDefaultsWithLatestAvroPayload` merge semantics: a
    * NULL in an incoming DATA column means "leave the stored value
    * alone", not "overwrite with null". Identity columns (key,
    * partition, ordering) and the engine metadata columns are never
    * patched.
    *
    * Three stages, all batch-sized:
    *  1. fold the batch to one row per (partition, key): each data
    *     column takes its latest NON-NULL value in ordering order, so
    *     two partial rows for one key compose; the folded row carries
    *     the batch's max ordering.
    *  2. back-fill the remaining nulls from the CURRENT stored row of
    *     the same key — a key/stats-pruned read of only the file
    *     groups the batch's keys hash to (the upsert pruning reused),
    *     merged latest-wins so MOR deltas and un-compacted duplicates
    *     resolve first; tombstoned keys patch nothing.
    *  3. ordinary [[upsert]] of the patched FULL rows.
    *
    * Merge direction follows Hudi's `PartialUpdateAvroPayload` BOTH
    * ways: a partial row newer than the stored row takes effect and
    * back-fills its nulls from the stored row (case 1); a partial row
    * OLDER than the stored row keeps the stored row's values and
    * ordering but back-fills the STORED row's nulls from the losing
    * partial (case 2 of the Hudi javadoc — late-arriving partials
    * still patch holes). Columns of the table absent from the batch
    * frame are treated as unset (null) partials, so narrow frames are
    * safe. Same read-modify-write race as
    * [[updateWhere]]: a writer landing between the patch read and the
    * commit is not folded into the patch (OCC still fences the
    * touched groups). Cost: O(batch + touched file groups), one extra
    * pruned read vs a plain upsert. */
  def upsertPartial(df: DataFrame, extra: Map[String, String] = Map.empty): String = {
    val snap = log.snapshot()
    val current = schemaOf(snap)
    // identity (key, partition source, ordering) must be REAL values —
    // a partial row can't leave them unset, or it would route to the
    // wrong file group / "__null__" partition instead of its record
    (Seq(config.keyField, config.orderingField) ++ config.partitionField)
      .foreach(c => require(df.columns.contains(c),
        s"upsertPartial batch must carry identity column '$c'"))
    val metaCols = TableConfig.metaColumns(softDel)
    // cast columns the table already knows to their stored types BEFORE
    // hashing/joining (an int key against a long table would bucket-route
    // and join wrong); batch-only columns pass through for schema evolution
    val aligned0 = df.columns.foldLeft(df) { (d, c) =>
      current.fields.find(_.name == c)
        .fold(d)(f => d.withColumn(c, col(c).cast(f.dataType)))
    }
    // table columns the batch doesn't carry = unset partials: add them
    // as typed nulls so a narrow frame never wipes stored values
    val aligned1 = current.fields
      .filterNot(f => aligned0.columns.contains(f.name) || metaCols(f.name))
      .foldLeft(aligned0)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
    val (aligned, idCols) = withIdCols(aligned1)
    val dataCols = aligned.columns.filterNot(c =>
      idCols.contains(c) || c == config.orderingField || metaCols.contains(c))
    // (1) in-batch fold: latest non-null per column, one row per key.
    // Ordering ties between two partial rows are broken by the rows'
    // full content (a struct over the data columns) so the fold is
    // deterministic run-to-run — mirroring latestWins' commit-time
    // tiebreak, which in-batch rows don't have yet.
    val contentTie =
      if (dataCols.isEmpty) lit(0) else struct(dataCols.map(col): _*)
    val wAll = Window.partitionBy(idCols.map(col): _*)
      .orderBy(col(config.orderingField).asc_nulls_first, contentTie.asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wPick = Window.partitionBy(idCols.map(col): _*)
      .orderBy(col(config.orderingField).desc_nulls_last, contentTie.desc)
    val alignedTypes = aligned.schema.fields.map(f => f.name -> f.dataType).toMap
    // persisted: the batch-sized fold feeds the overlap probe here,
    // then the patch join, then upsert's own range probe and write —
    // unpersisted, the fold windows re-evaluated once per consumer
    val folded = dataCols.foldLeft(aligned) { (d, c) =>
        d.withColumn(c, foldLastNonNull(col(c), alignedTypes(c), wAll))
      }
      .withColumn(config.orderingField, max(col(config.orderingField)).over(wAll))
      .withColumn("__rn", row_number().over(wPick))
      .filter(col("__rn") === 1).drop("__rn")
      .persist()
    // (2) patch from current state, reading only overlapping file groups
    val patchCols = dataCols.filter(current.fieldNames.contains)
    val keyType = current.fields.find(_.name == config.keyField)
      .map(_.dataType).getOrElse(StringType)
    val overlap =
      if (patchCols.isEmpty) Nil
      else {
        val touched = touchedKeyRanges(folded)
        snap.liveFiles().filter(overlapsIncoming(_, touched, keyType))
      }
    val patched =
      if (overlap.isEmpty) folded
      else {
        val curOrd = s"__cur_${config.orderingField}"
        val (existing0, _) =
          withIdCols(dropDeleted(latestWins(readFiles(overlap, current))))
        val existing = existing0
          .select(idCols.map(col) ++
            (col(config.orderingField).as(curOrd) +:
              patchCols.map(c => col(c).as(s"__cur_$c"))): _*)
        // Hudi PartialUpdateAvroPayload direction: the row with the
        // larger ordering supplies the base, the other fills its nulls.
        val incWins = col(curOrd).isNull ||
          (col(config.orderingField).isNotNull &&
            col(config.orderingField) >= col(curOrd))
        patchCols.foldLeft(folded.join(existing, idCols.toIndexedSeq, "left")) {
          (d, c) =>
            val dt = current.fields.find(_.name == c).map(_.dataType)
              .getOrElse(StringType)
            d.withColumn(c,
              when(incWins, deepCoalesce(col(c), col(s"__cur_$c"), dt))
                .otherwise(deepCoalesce(col(s"__cur_$c"), col(c), dt)))
        }
          .withColumn(config.orderingField,
            when(incWins, col(config.orderingField)).otherwise(col(curOrd)))
          .drop(curOrd +: patchCols.map(c => s"__cur_$c"): _*)
      }
    // (3) ordinary upsert of the patched full rows (upsert persists
    // its own prepared batch and materializes it before writing, so
    // the fold cache is safe to release afterwards)
    try upsert(patched.drop(PartValCol), extra)
    finally { folded.unpersist(); () }
  }

  /** `coalesce` generalized to STRUCT columns: when both sides are
    * non-null structs, merge subfield-wise (recursively) instead of
    * taking `a` whole — so a Mongo dotted-path partial that sets only
    * `address.city` patches the stored `address` struct rather than
    * wiping its other subfields. Contract (mirrors the top-level
    * null-means-unset rule): a null SUBFIELD of a partial struct is
    * "not updated", so partials cannot null-out a subfield, and a
    * partial that intends to REPLACE a whole subdocument keeps stored
    * subfields absent from the new image — use full-document capture
    * when either matters. Scalars/arrays/maps stay plain coalesce. */
  private def deepCoalesce(a: Column, b: Column, dt: DataType): Column = dt match {
    case st: StructType =>
      when(a.isNull, b).when(b.isNull, a).otherwise(
        struct(st.fields.map(f =>
          deepCoalesce(a.getField(f.name), b.getField(f.name), f.dataType)
            .as(f.name)): _*))
    case _ => coalesce(a, b)
  }

  /** In-batch fold twin of [[deepCoalesce]]: latest-non-null per LEAF
    * for struct columns (two partial rows touching different subfields
    * of one struct compose), whole-column `last(ignoreNulls)` for
    * everything else. The outer null-guard keeps an all-null struct
    * column null instead of materializing a struct of nulls. */
  private def foldLastNonNull(c: Column, dt: DataType,
      w: org.apache.spark.sql.expressions.WindowSpec): Column = dt match {
    case st: StructType =>
      when(last(c, ignoreNulls = true).over(w).isNull, lit(null).cast(st))
        .otherwise(struct(st.fields.map(f =>
          foldLastNonNull(c.getField(f.name), f.dataType, w).as(f.name)): _*))
    case _ => last(c, ignoreNulls = true).over(w)
  }

  /** SQL UPDATE analog (D4 / SparkSqlUpdateNode): read-modify-write as
    * an upsert of the modified rows — ordering unchanged, so the newer
    * commit wins the tie against the old version. */
  def updateWhere(cond: Column, assignments: Map[String, Column]): String = {
    val victims = read().filter(cond)
    val updated = assignments.foldLeft(victims) {
      case (df, (name, value)) => df.withColumn(name, value)
    }
    upsert(updated)
  }

  /** Delete the rows matching `cond` (SQL DELETE analog, D5). */
  def deleteWhere(cond: Column): String = {
    val victims = read().filter(cond)
    deleteRows(victims)
  }

  /** Delete by a DataFrame of victim rows (must carry key + partition +
    * ordering columns — e.g. rows selected from a snapshot read). */
  def deleteRows(victims: DataFrame): String = {
    // enforced, not just documented: align() would add a missing
    // identity column as NULL, the identity would become
    // (__null__, key), the anti-join would match nothing, and the
    // "delete" would commit successfully having deleted nothing
    (Seq(config.keyField, config.orderingField) ++ config.partitionField)
      .foreach(c => require(victims.columns.contains(c),
        s"deleteRows victims must carry identity column '$c'"))
    if (config.isMor)
      // tombstone deltas: same schema, soft-delete flag set, ordering
      // preserved so the tombstone wins the merge at equal ordering via
      // the commit time `prepare` stamps. Overlapping bootstrap-adopted
      // files fold into hash-routed groups in the same commit, as for
      // any MOR upsert.
      upsertAs(victims.withColumn(softDel, lit(true)), "delete", Map.empty)
    else {
      val snap = log.snapshot()
      val planning = snap.lastInstant.getOrElse("0")
      val instant = log.nextInstantAfter(snap.lastInstant)
      val evolved = schemaOf(snap)
      val keyType = evolved.fields.find(_.name == config.keyField)
        .map(_.dataType).getOrElse(StringType)
      // identity = (partition VALUE, key): for derived partitions the
      // anti-join below must remove EVERY stored version sharing the
      // victim's derived partition — joining on the raw source column
      // would keep shadowed older versions alive and resurrect them
      val (victimsId, idCols) = withIdCols(align(victims, evolved))
      // align victim types to the table schema BEFORE hashing: a key
      // arriving as int where the table stores long would xxhash64 to
      // a different bucket and the delete would silently miss
      val keys = victimsId
        .withColumn("_part", partExpr).withColumn("_bucket", bucketExpr)
        .select((Seq("_part", "_bucket") ++ idCols).map(col): _*)
        .persist()
      try {
        val touched = keys.groupBy("_part", "_bucket")
          .agg(min(col(config.keyField)).cast(StringType).as("mn"),
               max(col(config.keyField)).cast(StringType).as("mx"))
          .collect()
          .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3)))
          .toMap
        val (rewrite, _) = snap.liveFiles().partition(
          overlapsIncoming(_, touched, keyType))
        val (existing, _) = withIdCols(readFiles(rewrite, evolved))
        val kept = existing.join(
          keys.select(idCols.map(col): _*).distinct(),
          idCols, "left_anti").drop(PartValCol)
        val added = writeFiles(kept, instant, delta = false)
        commitValidated(Commit(instant, "commit", "delete", added = added,
          removed = rewrite.map(_.path), schemaJson = evolved.json),
          planning, touched.keySet)
      } finally keys.unpersist()
    }
  }

  /** Driver-side twin of [[partValExpr]]'s derived branch for
    * metadata-only paths (bootstrap): format one epoch stat string.
    * Spark's `date_format` and java.time share the DateTimeFormatter
    * pattern language, so the two renderings agree for the date-shaped
    * patterns derived partitioning uses. */
  private def deriveDriverSide(raw: String): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern(config.partitionFormat.get)
      .withZone(java.time.ZoneOffset.UTC)
    val us = config.partitionUnit match {
      case "s"  => raw.toLong * 1000000L
      case "ms" => raw.toLong * 1000L
      case "us" => raw.toLong
      // truncate toward zero like the write path's SQL DIV
      // (IntegralDivide rounds DOWN) — floorDiv would put a negative
      // (pre-1970) bootstrap epoch in a DIFFERENT partition name than
      // subsequent writes derive, splitting one logical partition
      case "ns" => raw.toLong / 1000L
      case "ts" => throw new IllegalArgumentException(
        "bootstrap with partitionUnit=ts is not supported: footer stats " +
        "store timestamps in engine-specific text — bulkInsert instead")
    }
    fmt.format(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
  }

  /** Does live file `f` hold keys the incoming batch may touch?
    * Hash-routed files (bucket ≥ 0) match on their own group's range;
    * UNBUCKETED bootstrap files (bucket = [[GraftTable.BootstrapBucket]])
    * hold arbitrary keys, so they match on the PARTITION-wide incoming
    * range — any overlap folds them into hash-routed groups
    * (progressive bootstrap conversion). */
  private def overlapsIncoming(f: DataFileMeta,
      touched: Map[(String, Int), (String, String)],
      keyType: DataType): Boolean =
    if (f.bucket >= 0)
      touched.get((f.partition, f.bucket)).exists { case (mn, mx) =>
        StatsPruner.rangesOverlap(keyType, f.minKey, f.maxKey, mn, mx) }
    else {
      val inPart = touched.toSeq.collect {
        case ((p, _), r) if p == f.partition => r }
      inPart.nonEmpty && {
        val mn = inPart.map(_._1).reduce((a, b) =>
          if (StatsPruner.compare(keyType, a, b) <= 0) a else b)
        val mx = inPart.map(_._2).reduce((a, b) =>
          if (StatsPruner.compare(keyType, a, b) >= 0) a else b)
        StatsPruner.rangesOverlap(keyType, f.minKey, f.maxKey, mn, mx)
      }
    }

  /** Undersized live base files (T5 small-file handling): the files a
    * write folds into its rewrite when it lands in their group, instead
    * of adding one more small file beside them. Metadata only; empty
    * while `smallFileLimitBytes` is 0, the default. */
  private def smallBaseFiles(snap: TimelineSnapshot): Seq[DataFileMeta] =
    if (config.smallFileLimitBytes <= 0) Nil
    else snap.liveFiles().filter(f => !f.delta &&
      f.bytes < config.smallFileLimitBytes)

  /** The live UNBUCKETED bootstrap base files whose partition-wide key
    * range overlaps the prepared MOR batch — the files [[upsert]] /
    * [[deleteRows]] must fold into hash-routed groups alongside their
    * delta append (adopt-as-MOR progressive conversion; see the
    * comments at both call sites). Zero-cost (no Spark job) when the
    * table holds no bootstrap files — the steady state. */
  private def morBootstrapVictims(batch: DataFrame, snap: TimelineSnapshot,
      evolved: StructType): Seq[DataFileMeta] = {
    val boots = snap.liveFiles().filter(f =>
      f.bucket == GraftTable.BootstrapBucket && !f.delta)
    if (boots.isEmpty) return Nil
    val keyType = evolved.fields.find(_.name == config.keyField)
      .map(_.dataType).getOrElse(StringType)
    val touched = touchedKeyRanges(batch)
    boots.filter(overlapsIncoming(_, touched, keyType))
  }

  /** Per-(partition, bucket) incoming key ranges of a batch — what
    * [[overlapsIncoming]] probes against. One collect of O(touched
    * groups). Used by upsert, upsertPartial, fullSyncCow and the MOR
    * bootstrap fold. (The COW branch of [[deleteRows]] keeps its own
    * variant: it aggregates its persisted `(_part, _bucket, identity)`
    * projection, which no longer holds the partition SOURCE column
    * `partExpr` derives from.) */
  private def touchedKeyRanges(
      batch: DataFrame): Map[(String, Int), (String, String)] =
    batch
      .withColumn("_part", partExpr).withColumn("_bucket", bucketExpr)
      .groupBy("_part", "_bucket")
      .agg(min(col(config.keyField)).cast(StringType).as("mn"),
           max(col(config.keyField)).cast(StringType).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3)))
      .toMap

  /** METADATA-ONLY BOOTSTRAP (Hudi bootstrap, METADATA_ONLY mode):
    * adopt existing parquet files into the table WITHOUT rewriting
    * data. Files are hard-linked (copy fallback across devices) into
    * the layout under the sentinel bucket
    * [[GraftTable.BootstrapBucket]] — "unbucketed", keys not yet
    * hash-routed — and ONE column-pruned metadata scan harvests
    * per-file key/stats ranges; no row is rewritten. Readers see the
    * rows immediately. The first upsert/delete whose keys may overlap
    * an unbucketed file FOLDS it into hash-routed groups (progressive
    * conversion — Hudi's upsert-on-bootstrapped-file behavior; for MOR
    * the fold happens as base-file rewrites in the same commit as the
    * delta append, after which upserts are pure delta appends again);
    * clustering converts the whole table at once. Adopted
    * rows carry no `_commit_time` (the files are untouched), so
    * incremental/CDC cursors must start at the bootstrap instant, and
    * latest-wins ties resolve in favor of post-bootstrap writes
    * (nulls_last). Keys are NOT deduplicated at adoption — bootstrap
    * is bulk adoption, like `bulk_insert`. For a partitioned table,
    * every source file must carry the partition COLUMN and hold
    * exactly one partition value (derived from its own min/max stats);
    * files spanning partitions need a real `bulkInsert` instead. */
  def bootstrapFrom(source: String): String = {
    val src = Paths.get(source)
    val files: Seq[Path] =
      if (Files.isRegularFile(src)) Seq(src)
      else graft.util.Fs.walk(src)(_
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith(".")).toSeq.sortBy(_.toString))
    require(files.nonEmpty, s"no parquet files under $source")
    bootstrapFromFiles(files)
  }

  /** [[bootstrapFrom]] over an EXPLICIT file list — the adoption path
    * for foreign TABLE FORMATS (Delta/Iceberg), whose directories also
    * hold files a log replay has already superseded: the caller
    * resolves the format's LIVE set (e.g.
    * [[graft.interop.XTableSync.replayDelta]]) and only those files
    * are adopted; a directory walk would resurrect removed versions. */
  def bootstrapFromFiles(files: Seq[Path]): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    require(files.nonEmpty, "no parquet files to bootstrap")
    files.foreach(p => require(Files.isRegularFile(p),
      s"bootstrap file $p does not exist"))
    // Stats below are keyed by basename (input_file_name gives a URI
    // whose directories may be encoded differently than `files`).
    // Writer-produced part-files have UUID basenames, but a hand-built
    // tree (a/data.parquet + b/data.parquet) can collide — the losers
    // would silently adopt rows=0 and empty key ranges, corrupting the
    // pruning metadata. Refuse instead.
    locally {
      val dups = files.groupBy(_.getFileName.toString).filter(_._2.size > 1)
      require(dups.isEmpty,
        s"bootstrap source has colliding parquet basenames ${dups.keys.mkString(", ")} — " +
        "per-file stats are keyed by basename; rename the files uniquely (or bulkInsert)")
    }
    // one column-pruned scan harvests per-file stats (metadata build,
    // not a rewrite)
    val sdf = spark.read.parquet(files.map(_.toString): _*)
    config.partitionField.foreach(p => require(sdf.columns.contains(p),
      s"bootstrap source must carry partition column '$p'"))
    val statCols =
      (Seq(config.keyField, config.orderingField) ++ config.partitionField ++
        config.effectiveStatsColumns).distinct.filter(sdf.columns.contains)
    val aggs = count(lit(1)).as("__rows") +: statCols.flatMap { c =>
      Seq(min(col(c)).cast(StringType).as(s"__min_$c"),
          max(col(c)).cast(StringType).as(s"__max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"))
    }
    val statsByName = sdf
      .groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        val colStats = statCols.map { c =>
          c -> ColStat(
            Option(r.getAs[String](s"__min_$c")).getOrElse(""),
            Option(r.getAs[String](s"__max_$c")).getOrElse(""),
            r.getAs[Long](s"__nulls_$c"))
        }.toMap
        uriDecode(r.getAs[String]("__file").split("/").last) ->
          (r.getAs[Long]("__rows"), colStats)
      }.toMap
    val metas = files.zipWithIndex.map { case (p, i) =>
      val (rows, colStats) = statsByName.getOrElse(
        p.getFileName.toString, (0L, Map.empty[String, ColStat]))
      val part = config.partitionField match {
        case None => "all"
        case Some(pf) =>
          val st = colStats.getOrElse(pf, ColStat("", "", rows))
          config.partitionFormat match {
            case Some(_) =>
              require(st.nullCount == 0 && st.min.nonEmpty && st.max.nonEmpty,
                s"bootstrap file $p has null/unknown '$pf' bounds — " +
                "derived partitioning needs exact source stats")
              val lo = deriveDriverSide(st.min)
              val hi = deriveDriverSide(st.max)
              require(lo == hi,
                s"bootstrap file $p spans derived partitions [$lo, $hi] " +
                s"of '$pf' — metadata-only adoption needs one partition per " +
                "file (use bulkInsert to split)")
              lo
            case None =>
              require(st.nullCount == 0 && st.min == st.max,
                s"bootstrap file $p spans partition values [${st.min}, ${st.max}] " +
                s"of '$pf' — metadata-only adoption needs one value per file " +
                "(use bulkInsert to split)")
              st.min
          }
      }
      val rel = s"data/${escapeDir(part)}/b${GraftTable.BootstrapBucket}/$instant-$i-boot.parquet"
      val dst = Paths.get(root, rel)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, p)
      catch { case _: java.io.IOException => Files.copy(p, dst); () }
      val keyStat = colStats.get(config.keyField)
      DataFileMeta(path = rel, partition = part,
        bucket = GraftTable.BootstrapBucket, delta = false,
        rows = rows, bytes = Files.size(dst),
        minKey = keyStat.map(_.min).getOrElse(""),
        maxKey = keyStat.map(_.max).getOrElse(""),
        stats = colStats)
    }
    val schemaJson = StructType(sdf.schema.fields ++ Seq(
      StructField(CommitTimeCol, StringType, nullable = true),
      StructField(TableConfig.CommitSeqNoCol, StringType, nullable = true),
      StructField(softDel, BooleanType, nullable = true))
        .filterNot(f => sdf.schema.fieldNames.contains(f.name))).json
    commitValidated(Commit(instant, "commit", "bootstrap",
      added = metas, schemaJson = schemaJson), planning, Set.empty)
  }

  /** Replace the partitions present in `df` (dynamic INSERT OVERWRITE,
    * D6 / SparkInsertOverwriteNode). */
  def insertOverwrite(df: DataFrame): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val (batch, evolved) = prepare(df, instant, snap)
    val parts = batch.select(partExpr.as("p")).distinct()
      .collect().map(_.getString(0)).toSet
    val removed = snap.liveFiles().filter(f => parts.contains(f.partition))
    val added = writeFiles(batch, instant, delta = false,
      dedupLatest = true)
    commitValidated(Commit(instant, "replace", "insert_overwrite",
      added = added, removed = removed.map(_.path),
      replacedPartitions = parts.toSeq.sorted, schemaJson = evolved.json),
      planning, Set.empty, Some(parts.toSeq.sorted))
  }

  /** Replace the whole table (D7 / SparkInsertOverwriteTableNode). */
  def insertOverwriteTable(df: DataFrame): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val (batch, evolved) = prepare(df, instant, snap)
    val removed = snap.liveFiles()
    val added = writeFiles(batch, instant, delta = false,
      dedupLatest = true)
    commitValidated(Commit(instant, "replace", "insert_overwrite_table",
      added = added, removed = removed.map(_.path),
      replacedPartitions = Seq("*"), schemaJson = evolved.json),
      planning, Set.empty, Some(Seq("*")))
  }

  /** Drop whole partitions (D8 / SparkDeletePartitionNode,
    * `partitions_to_delete`, spark-non-core-operations.yaml:175-179).
    * A replace commit like the overwrites: validated under OCC so a
    * concurrent write into the dropped partition conflicts instead of
    * silently surviving a commit that claims the partition is gone. */
  def deletePartitions(values: Seq[String]): String = {
    val snap = log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = log.nextInstantAfter(snap.lastInstant)
    val removed = snap.liveFiles().filter(f => values.contains(f.partition))
    commitValidated(Commit(instant, "replace", "delete_partition",
      removed = removed.map(_.path), replacedPartitions = values,
      schemaJson = schemaOf(snap).json),
      planning, Set.empty, Some(values))
  }

  // ------------------------------------------------------------------
  // read views (S7/S8, Q3 incremental — SURVEY.md §2.1, §2.9)
  // ------------------------------------------------------------------

  private[core] def readFiles(files: Seq[DataFileMeta], sch: StructType): DataFrame = {
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    } else {
      // explicit schema: no footer merging at read time (scale rule),
      // older files surface later-added columns as nulls.
      spark.read.schema(sch).parquet(files.map(f => s"$root/${f.path}"): _*)
    }
  }

  /** Soft-delete filter, applied only when the schema carries the
    * column — a never-written table has an EMPTY schema, and filtering
    * it on `_is_deleted` threw an unresolved-column error on the very
    * first read of a fresh table. */
  private def dropDeleted(df: DataFrame): DataFrame =
    if (df.columns.contains(softDel))
      df.filter(!coalesce(col(softDel), lit(false)))
    else df

  /** Snapshot view: the latest version of every key, tombstones
    * dropped. COW = live base files; MOR = the merged read of base and
    * delta files ([[merged]]). */
  def read(asOf: Option[String] = None): DataFrame = {
    val snap = log.snapshot()
    merged(snap.liveFiles(asOf), schemaAt(snap, asOf))
  }

  private def schemaAt(snap: TimelineSnapshot, asOf: Option[String]): StructType =
    snap.latestSchemaJson(asOf)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(schemaOf(snap))

  /** Read-optimized view (`_ro`): base files only — fast, possibly
    * stale for MOR (README.md:728-730 divergence semantics). */
  def readOptimized(asOf: Option[String] = None): DataFrame = {
    val snap = log.snapshot()
    readFiles(snap.liveFiles(asOf).filterNot(_.delta), schemaAt(snap, asOf))
  }

  /** The one MOR merge every read view goes through. A file set that
    * holds a delta file is served by [[graft.sql.GraftMorScan]]: one
    * input partition per file group, whose reader keeps the latest
    * version of each delta-carrying key and passes every other base row
    * through untouched (legitimate `insert` duplicates included, as in
    * Hudi's realtime view) — no shuffle, no Window. A file set with no
    * delta file (COW, or MOR after compaction) is a plain parquet read.
    * `range = Some((lo, hi))` keeps only rows whose `_commit_time` lies
    * in (lo, hi], decided AFTER the merge (a stale base row must lose to
    * its newer delta version first); a null commit time is outside every
    * range. Tombstoned rows are dropped either way. */
  private def merged(files: Seq[DataFileMeta], sch: StructType,
      range: Option[(String, String)] = None): DataFrame =
    if (files.exists(_.delta)) graft.sql.GraftMorScan.frame(this, files, sch, range)
    else {
      val all = readFiles(files, sch)
      dropDeleted(range.fold(all) { case (lo, hi) =>
        all.filter(col(CommitTimeCol) > lo && col(CommitTimeCol) <= hi) })
    }

  /** Realtime view (`_rt`): the snapshot view — base + delta merged
    * latest-wins, tombstones dropped (README.md:730). */
  def readRealtime(asOf: Option[String] = None): DataFrame = read(asOf)

  /** The row commits (action commit|replace) of `(fromExclusive, to]`,
    * at most `maxCommits` of them — the commits an incremental cursor,
    * a CDC range or a stream's micro-batch consumes; table-service
    * commits never widen a range. */
  private[graft] def rowCommitsIn(snap: TimelineSnapshot, fromExclusive: String,
      to: Option[String], maxCommits: Int): Seq[Commit] =
    snap.commits
      .filter(c => c.instant > fromExclusive && to.forall(c.instant <= _))
      .filter(c => c.action == "commit" || c.action == "replace")
      .take(maxCommits)

  /** What an incremental cursor over `(fromExclusive, to]` reads, shared
    * by [[readIncremental]] and the streaming source
    * ([[graft.sql.GraftMicroBatchStream]]): the end of the range (`to`,
    * or the last of at most `maxCommits` row commits) and the live files,
    * as of that end, of every file group an in-range row commit wrote
    * into — untouched groups cannot hold an in-range row. None when the
    * range holds no row commit.
    *
    * A range may not cross a restore or a bootstrap commit: restored
    * rows keep their ORIGINAL `_commit_time` and adopted rows carry none,
    * so the commit-time filter would silently hide them. The cursor must
    * reset to a full snapshot (a stream: a fresh checkpoint) and resume
    * from that commit (Hudi's stance). */
  private[graft] def incrementalFiles(snap: TimelineSnapshot, fromExclusive: String,
      to: Option[String], maxCommits: Int = Int.MaxValue): Option[(String, Seq[DataFileMeta])] = {
    val rowCommits = rowCommitsIn(snap, fromExclusive, to, maxCommits)
    if (rowCommits.isEmpty) return None
    val range = s"incremental range ($fromExclusive, ${to.getOrElse("…")}]"
    rowCommits.find(_.operation == "restore").foreach { r =>
      throw new IllegalStateException(
        s"$range crosses restore commit ${r.instant}: restored rows carry " +
        "their original commit time and are invisible to an incremental " +
        "cursor. Reset the cursor — take a full snapshot (a stream: restart " +
        s"from a fresh checkpoint), then resume incrementally from ${r.instant}")
    }
    rowCommits.find(_.operation == "bootstrap").foreach { b =>
      throw new IllegalStateException(
        s"$range crosses bootstrap commit ${b.instant}: adopted rows carry " +
        "no commit time and are invisible to an incremental cursor. Resync " +
        "from a snapshot (a stream: restart from a fresh checkpoint), then " +
        s"resume incrementally from ${b.instant}")
    }
    val end = to.getOrElse(rowCommits.last.instant)
    val touched = rowCommits.flatMap(_.added).map(f => (f.partition, f.bucket)).toSet
    Some(end -> snap.liveFiles(Some(end))
      .filter(f => touched.contains((f.partition, f.bucket))))
  }

  /** Incremental read: the latest state of rows written in commits in
    * `(fromExclusive, fromExclusive + maxCommits]` (README.md:966-984),
    * scanning only the file groups those commits touched
    * ([[incrementalFiles]]). */
  def readIncremental(fromExclusive: String, maxCommits: Int = Int.MaxValue): DataFrame = {
    val snap = log.snapshot()
    incrementalFiles(snap, fromExclusive, None, maxCommits) match {
      case None => readFiles(Nil, schemaOf(snap)).limit(0)
      case Some((end, live)) =>
        merged(live, schemaAt(snap, Some(end)), Some((fromExclusive, end)))
    }
  }

  /** CDC-format incremental read (the Hudi incremental query with
    * `hoodie.datasource.query.incremental.format=cdc`): row-level
    * NET changes between the snapshot at `fromExclusive` and the
    * snapshot `maxCommits` row-commits later, as
    * `_change_type` ∈ i|u|d plus the row image — the AFTER image for
    * i/u, the BEFORE image for d (a delete's after image is nothing).
    * A key updated then deleted inside the range nets to one `d`.
    *
    * Scale: only file groups TOUCHED by in-range commits (files added,
    * files removed, partitions replaced) are read and compared —
    * untouched groups cannot produce changes, so the diff is O(dirty),
    * not O(table). Unchanged rows inside touched groups are dropped by
    * the `_commit_time` equality check: a COW rewrite carries
    * untouched rows through with their original commit time, so equal
    * commit times mean an identical winning version. */
  /** With `withPreimages = true`, updates surface as TWO rows — `ub`
    * (before image) then `ua` (after image), the Delta CDF
    * `update_preimage`/`update_postimage` shape — instead of a single
    * `u` after-image row. Pre-images make downstream consumers
    * RETRACTABLE: an aggregate maintained from the stream applies
    * -before +after and needs no second read of the table (see
    * [[graft.operators.IncrementalMv]]). */
  def readCdc(fromExclusive: String, maxCommits: Int = Int.MaxValue,
      withPreimages: Boolean = false): DataFrame = {
    val snap = log.snapshot()
    val rowCommits = rowCommitsIn(snap, fromExclusive, None, maxCommits)
    val endSchema = schemaAt(snap,
      rowCommits.lastOption.map(_.instant).orElse(Some(fromExclusive)))
    val empty = readFiles(Nil, endSchema).limit(0)
      .withColumn("_change_type", lit(""))
    if (rowCommits.isEmpty) return empty
    rowCommits.find(_.operation == "restore").foreach { r =>
      throw new IllegalStateException(
        s"CDC range ($fromExclusive, …] crosses restore commit ${r.instant}: " +
        "restored rows carry their original commit time and cannot be " +
        s"classified as changes. Resync from a snapshot, then resume from ${r.instant}")
    }
    // Bootstrap adoptions add rows with null _commit_time mid-range;
    // they'd all classify as inserts relative to any pre-bootstrap
    // cursor, but the cursor never saw the pre-adoption table — the
    // only sound answer is a resync (mirrors the restore guard).
    rowCommits.find(_.operation == "bootstrap").foreach { b =>
      throw new IllegalStateException(
        s"CDC range ($fromExclusive, …] crosses bootstrap commit ${b.instant}: " +
        "adopted rows carry no commit time and cannot be classified as " +
        s"changes. Resync from a snapshot, then resume from ${b.instant}")
    }
    val end = rowCommits.last.instant
    val oldLive = snap.liveFiles(Some(fromExclusive))
    val newLive = snap.liveFiles(Some(end))
    // touched groups: files added or removed in range, plus every group
    // of a replaced partition ("*" = whole table)
    val byPath = (oldLive ++ newLive).map(f => f.path -> f).toMap
    val replaced = rowCommits.flatMap(_.replacedPartitions).toSet
    val touched = rowCommits.flatMap(c =>
        c.added.map(f => (f.partition, f.bucket)) ++
        c.removed.flatMap(p => byPath.get(p).map(f => (f.partition, f.bucket)))
      ).toSet ++
      (oldLive ++ newLive)
        .filter(f => replaced.contains("*") || replaced.contains(f.partition))
        .map(f => (f.partition, f.bucket))
    if (touched.isEmpty) return empty
    // join identity = (partition VALUE, key); derived tables surface
    // the derived value as `_partition_path` (the Hudi CDC
    // _hoodie_partition_path analog) via the rename at the end
    def stateOf(files: Seq[DataFileMeta], asOf: String): DataFrame =
      withIdCols(align(
        merged(files.filter(f => touched.contains((f.partition, f.bucket))),
          schemaAt(snap, Some(asOf))),
        endSchema))._1
    val idCols =
      if (config.partitionFormat.isDefined) Seq(PartValCol, config.keyField)
      else config.partitionField.toSeq :+ config.keyField
    val o = stateOf(oldLive, fromExclusive).withColumn("__o", lit(true)).as("o")
    val n = stateOf(newLive, end).withColumn("__n", lit(true)).as("n")
    val joined = o.join(n, idCols, "full_outer")
      // unchanged winner (same commit time on both sides) = no change.
      // Null-SAFE inequality: bootstrap-adopted rows carry null
      // _commit_time, and `null =!= x` is NULL (dropped) — which would
      // silently swallow an in-range update of an adopted row.
      .filter(col("__o").isNull || col("__n").isNull ||
        !(col(s"o.$CommitTimeCol") <=> col(s"n.$CommitTimeCol")))
    val dataFields = endSchema.fields.filterNot(f => idCols.contains(f.name))
    def imageOf(side: String) =
      dataFields.map(f => col(s"$side.${f.name}").as(f.name)).toIndexedSeq
    if (!withPreimages) {
      val op = when(col("__o").isNull, lit("i"))
        .when(col("__n").isNull, lit("d"))
        .otherwise(lit("u"))
      // image: AFTER for i/u, BEFORE for d; join-key columns coalesced
      val imageCols = dataFields.map { f =>
        when(op === "d", col(s"o.${f.name}")).otherwise(col(s"n.${f.name}")).as(f.name)
      }
      joined.select(
        op.as("_change_type") +: idCols.map(col) ++: imageCols.toIndexedSeq: _*)
        .withColumnRenamed(PartValCol, "_partition_path")
    } else {
      // i → after; d → before; u → ub (before) + ua (after), one
      // flattened pass: explode each change into its image rows
      val before = joined.filter(col("__o").isNotNull).select(
        when(col("__n").isNull, lit("d")).otherwise(lit("ub"))
          .as("_change_type") +: idCols.map(col) ++: imageOf("o"): _*)
      val after = joined.filter(col("__n").isNotNull).select(
        when(col("__o").isNull, lit("i")).otherwise(lit("ua"))
          .as("_change_type") +: idCols.map(col) ++: imageOf("n"): _*)
      before.unionByName(after).withColumnRenamed(PartValCol, "_partition_path")
    }
  }

  /** Scan with driver-side file skipping on a column: only files that
    * may hold a value in [lo,hi] are listed (the Delta-stats
    * data-skipping analog, SURVEY.md §4), under the one pruning rule of
    * every scan ([[Pruning]]). A file set holding delta files is pruned
    * by whole (partition, bucket) group: dropping a single delta file
    * before the latest-wins merge would resurrect the older in-range
    * version of a key whose newest version moved out of range. Filters
    * must still be applied by the caller — this narrows IO, not
    * semantics. */
  def readWhereBetween(column: String, lo: Option[String], hi: Option[String]): DataFrame =
    readPruned(_.between(column, lo, hi))

  /** Point-set twin of [[readWhereBetween]]: only files that may hold
    * AT LEAST ONE of `values` are listed — key values additionally by
    * their routing bucket, and stats by binary search per file, the
    * bloom/point-lookup analog of range skipping (effective once
    * [[TableServices.cluster]] has range-laid the column so each file
    * owns a narrow slice). `byPartition`, when given, maps partition
    * value → that partition's candidate values; partitions absent from
    * the map are skipped whole (the caller enumerated the partitions it
    * cares about). `values` sizes the DRIVER's pruning work — callers
    * pass bounded sets (e.g. a batch's keys), never a corpus. */
  def readWhereIn(column: String, values: Seq[String],
      byPartition: Option[Map[String, Seq[String]]] = None): DataFrame =
    readPruned { p =>
      byPartition match {
        case Some(m) =>
          val perPart = m.map { case (part, vs) => part -> p.valuesIn(column, vs) }
          f => perPart.get(f.partition).exists(_(f))
        case None => p.valuesIn(column, values)
      }
    }

  private def readPruned(test: Pruning => Pruning.FileTest): DataFrame = {
    val snap = log.snapshot()
    val s = schemaAt(snap, None)
    val live = snap.liveFiles()
    merged(Pruning.select(live, byGroup = live.exists(_.delta))(test(Pruning.of(this, s))), s)
  }

  /** Partition listing (SHOW PARTITIONS analog, README.md:372-374). */
  def partitions(): Seq[String] =
    log.liveFiles().map(_.partition).distinct.sorted

  /** Live row count from commit-log file stats — zero IO, no job.
    * Exact for a COW snapshot with no pending soft deletes; an UPPER
    * bound when soft-deleted rows or MOR delta versions are pending.
    * Right fidelity for scale-dependent sizing (LSH auto-params, bin
    * packing) — never for query answers (the DSv2 metadata COUNT(*)
    * path has its own exactness guard). */
  def metadataRowCount: Long = log.liveFiles().map(_.rows).sum

  /** Register `name` (+ `_ro`/`_rt` for MOR) temp views, mirroring the
    * reference's Hive-sync naming (README.md:341-344). With
    * `skipRoSuffix` (the `hive_sync.skip_ro_suffix=true` option,
    * test-suite/test.properties:32) the MOR read-optimized view takes
    * the BARE name instead of `_ro` — bare serves the fast/stale
    * view, `_rt` stays the realtime merge. */
  def registerViews(skipRoSuffix: Boolean = false,
      asName: String = config.name): Unit = {
    // asName ≠ config.name when a catalog adopted this table under a
    // different registration name (CALL register_table)
    if (config.isMor) {
      if (skipRoSuffix)
        readOptimized().createOrReplaceTempView(asName)
      else {
        read().createOrReplaceTempView(asName)
        readOptimized().createOrReplaceTempView(s"${asName}_ro")
      }
      readRealtime().createOrReplaceTempView(s"${asName}_rt")
    } else read().createOrReplaceTempView(asName)
  }
}

/** Thrown when OCC validation finds a conflicting concurrent commit;
  * callers retry the whole operation from a fresh snapshot (the
  * reference's multi-writer retry story, multi-writer-*.properties). */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

object GraftTable {

  /** Sentinel bucket id for metadata-only-bootstrapped files: their
    * keys are not hash-routed yet. Never produced by `bucketExpr`
    * (which emits [0, numBuckets)); see [[GraftTable.bootstrapFrom]]. */
  val BootstrapBucket: Int = -1

  /** Create a new table directory with its properties file. */
  def create(spark: SparkSession, root: String, config: TableConfig): GraftTable = {
    val dir = Paths.get(root, CommitLog.Dir)
    Files.createDirectories(dir)
    Files.write(dir.resolve("table.json"),
      CommitLog.mapper.writeValueAsBytes(config))
    new GraftTable(spark, root, config)
  }

  /** Load an existing table from its properties file. */
  def load(spark: SparkSession, root: String): GraftTable = {
    val p = Paths.get(root, CommitLog.Dir, "table.json")
    require(Files.exists(p), s"not a graft table: $root")
    val config = CommitLog.mapper.readValue(Files.readAllBytes(p), classOf[TableConfig])
    new GraftTable(spark, root, config)
  }

  def exists(root: String): Boolean =
    Files.exists(Paths.get(root, CommitLog.Dir, "table.json"))
}
