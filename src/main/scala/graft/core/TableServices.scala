package graft.core

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Maintenance operators (SURVEY.md §2.7): compaction T1, clustering
  * T2, cleaning/archival T3. All are ordinary Spark rewrites published
  * as timeline commits — readers never block, they just resolve a
  * different live-file set after the commit lands.
  */
object TableServices {

  /** MOR compaction (T1): fold each file group's delta files into a new
    * base file, after which `_ro` == `_rt` until the next delta write
    * (the convergence the reference demos at README.md:1196-1216).
    *
    * Scale: file groups compact independently — on a cluster this is
    * one job whose tasks each own a group; no global shuffle beyond the
    * per-group latest-wins window.
    */
  /** In-place exact-duplicate curation of a graft TABLE — the
    * lakehouse↔pipeline bridge: the training-data dedup family
    * ([[graft.operators.Dedup]]) operates on frames, but a curation
    * team's corpus LIVES in a table, and "dedup the corpus" should be
    * a table service whose outcome rides the timeline like any other
    * write (time travel shows the pre-curation state, incremental and
    * CDC consumers see the deletes as ordinary tombstones, OCC guards
    * against concurrent writers).
    *
    * Rule: group rows by `md5(textCol)`, keep the LOWEST key per
    * group (the dedup family's canonical-min convention), DELETE the
    * rest through [[GraftTable.deleteRows]]. Rows whose `textCol` IS
    * NULL are left untouched — null texts are not duplicates of each
    * other (md5(null) is null, so without the filter the window would
    * lump every null-text row into ONE group and delete all but one).
    * One shuffle on the text hash; victims never collect to the
    * driver; the delete path is the table's own (COW rewrite or MOR
    * tombstone deltas). Returns the number of rows deleted (0 = no
    * commit made). */
  def dedupExact(t: GraftTable, textCol: String): Long = {
    val idCols = Seq(t.config.keyField, t.config.orderingField) ++
      t.config.partitionField
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy(col(t.config.keyField).asc)
    val victims = t.read()
      .filter(col(textCol).isNotNull)
      .withColumn("__h", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(idCols.map(col): _*)
      .persist()
    try {
      val n = victims.count()
      if (n > 0) { t.deleteRows(victims); () }
      n
    } finally { victims.unpersist(); () }
  }

  /** Fuzzy (near-duplicate) in-table curation — [[dedupExact]]'s
    * scalable sibling: MinHash-LSH candidate pairs at `threshold`
    * Jaccard over word `k`-shingles ([[graft.operators.Dedup
    * .minhashLsh]] — band-bucketed, never all-pairs), transitive
    * closure ([[graft.operators.Dedup.connectedComponents]] —
    * pointer-jumping, O(log diameter) rounds), keep the LOWEST key per
    * cluster, victims deleted through the table's own path. Same
    * timeline semantics as the exact service. Returns rows deleted. */
  def dedupFuzzy(t: GraftTable, textCol: String, k: Int = 5,
      numHashes: Int = 128, numBands: Int = 32,
      threshold: Double = 0.7): Long = {
    val key = t.config.keyField
    val idCols = Seq(key, t.config.orderingField) ++ t.config.partitionField
    val snap = t.read().persist()
    try {
      val pairs = graft.operators.Dedup.minhashLsh(
        snap, key, textCol, k, numHashes, numBands, threshold)
      val victims = graft.operators.Dedup.connectedComponents(pairs)
        .filter(col("doc_id") =!= col("cluster_id")) // canonical = min key
        .select(col("doc_id").as(key))
        .join(snap, Seq(key))
        .select(idCols.map(col): _*)
        .persist()
      try {
        val n = victims.count()
        if (n > 0) { t.deleteRows(victims); () }
        n
      } finally { victims.unpersist(); () }
    } finally { snap.unpersist(); () }
  }

  /** Delta-producing commits since the last compaction — a
    * METADATA-ONLY commit-log count (no data read, no Spark job), cheap
    * enough to evaluate after every micro-batch. */
  def deltaCommitsSinceCompaction(t: GraftTable): Int = {
    val cs = t.log.commits()
    val lastCompact = cs.filter(_.action == "compact")
      .lastOption.map(_.instant)
    cs.filter(c => lastCompact.forall(c.instant > _))
      .count(_.added.exists(_.delta))
  }

  /** Inline compaction trigger (the Hudi `hoodie.compact.inline` +
    * `hoodie.compact.inline.max.delta.commits` policy the reference's
    * test suite runs, `test-suite/test-inline-compact.properties:25`,
    * `README.md:1135`): compact iff at least `maxDeltaCommits`
    * delta-producing commits landed since the last compaction.
    * Returns the compaction instant when it fired. The ingest loop
    * calls this after each batch — the common Hudi deployment shape
    * where the writer amortizes compaction instead of a separate
    * async job (T1 stays available for the async path). */
  def compactInline(t: GraftTable, maxDeltaCommits: Int): Option[String] =
    if (maxDeltaCommits > 0 &&
        deltaCommitsSinceCompaction(t) >= maxDeltaCommits) compact(t)
    else None

  def compact(t: GraftTable): Option[String] = {
    val victims = deltaGroupFiles(t.log.liveFiles())
    if (victims.isEmpty) None
    else Some(compactFiles(t, victims, Map.empty))
  }

  /** Every file of every file group that has at least one delta. */
  private def deltaGroupFiles(live: Seq[DataFileMeta]): Seq[DataFileMeta] =
    live.groupBy(f => (f.partition, f.bucket))
      .filter { case (_, fs) => fs.exists(_.delta) }
      .values.flatten.toSeq

  private val PlanKey = "compaction.plan"
  private val RequestKey = "compaction.request.instant"

  /** Fold `victims` into fresh base files — the shared execution core
    * of [[compact]] (immediate) and [[runCompaction]] (planned). */
  private def compactFiles(t: GraftTable, victims: Seq[DataFileMeta],
      extra: Map[String, String]): String = {
    val planning = t.log.lastInstant().getOrElse("0")
    val instant = t.log.nextInstant()
    val sch = t.schema
    // merge per group: latest-wins over base∪delta, tombstones dropped —
    // both inside the write shuffle (one exchange for the whole
    // compaction; clustering keeps the separate merge pass because its
    // range layout can't host the key-run dedup)
    val added = t.writeFiles(t.readFiles(victims, sch), instant,
      delta = false, dedupLatest = true, dropSoftDeleted = true)
    // concurrent delta appends to these groups are fine (they stay
    // live and win merges); only double-compaction conflicts, which
    // the removed-files overlap check catches.
    t.commitValidated(Commit(instant, "compact", "compact",
      added = added, removed = victims.map(_.path), schemaJson = sch.json,
      extra = extra), planning, Set.empty)
  }

  /** SCHEDULE a compaction (the Hudi CLI two-step the reference demos:
    * `compaction schedule` then `compaction run --compactionInstant …`,
    * README.md:1126-1158): publish a `compact_requested` timeline entry
    * naming the exact files to fold. The entry adds/removes nothing, so
    * every reader ignores it (the action whitelists on incremental/CDC
    * cursors are unaffected); it only parks the plan on the timeline
    * for an async executor. Returns the request instant, or None when
    * no file group has deltas. */
  def scheduleCompaction(t: GraftTable): Option[String] = {
    val planning = t.log.lastInstant().getOrElse("0")
    val victims = deltaGroupFiles(t.log.liveFiles())
    if (victims.isEmpty) return None
    val instant = t.log.nextInstant()
    Some(t.commitValidated(Commit(instant, "compact_requested", "compact_schedule",
      extra = Map(PlanKey -> victims.map(_.path).sorted.mkString("\n"))),
      planning, Set.empty))
  }

  /** RUN a scheduled compaction: execute exactly the plan parked by
    * [[scheduleCompaction]]. Deltas that landed AFTER the schedule stay
    * live and keep winning merges (Hudi's plan-scoped execution), files
    * the plan named that a later service already replaced are skipped.
    * Idempotent: re-running an executed plan returns the original
    * execution instant (the `compaction.request.instant` stamp on the
    * execution commit is the dedup key). */
  def runCompaction(t: GraftTable, requestedInstant: String): String = {
    val commits = t.log.commits()
    val req = commits.find(c => c.instant == requestedInstant &&
        c.action == "compact_requested")
      .getOrElse(throw new IllegalArgumentException(
        s"no compaction request at instant $requestedInstant — " +
        "scheduleCompaction first (or check SHOW timeline for the instant)"))
    commits.find(c => c.action == "compact" &&
        c.extra.get(RequestKey).contains(requestedInstant)) match {
      case Some(done) => done.instant
      case None =>
        val planned = req.extra(PlanKey).split("\n").filter(_.nonEmpty).toSet
        val victims = t.log.liveFiles().filter(f => planned.contains(f.path))
        require(victims.nonEmpty,
          s"compaction plan $requestedInstant has no live files left " +
          "(superseded by a later compaction/clustering) — schedule anew")
        compactFiles(t, victims, Map(RequestKey -> requestedInstant))
    }
  }

  /** Clustering (T2): rewrite each file group sorted by key and packed
    * toward `targetFileBytes` (the reference's sort-and-size strategy,
    * test-clustering.properties:34-37). Bucket routing is part of the
    * table contract, so sorting happens *within* groups — upsert key →
    * group mapping stays valid.
    *
    * `sortCols` overrides the layout column: a single-column
    * `run_clustering(columns => 'v')` range-lays files on `v` (tight
    * per-file min/max on `v` → stats pruning for `v` predicates),
    * instead of silently falling back to the key. */
  def cluster(t: GraftTable, partitions: Option[Seq[String]] = None,
      targetFileBytes: Long = 1L << 30,
      sortCols: Seq[String] = Nil): Option[String] = {
    val planning = t.log.lastInstant().getOrElse("0")
    val live = t.log.liveFiles()
      .filter(f => partitions.forall(_.contains(f.partition)))
    if (live.isEmpty) return None
    val instant = t.log.nextInstant()
    val sch = t.schema
    val merged = t.latestWins(t.readFiles(live, sch))
      .filter(!coalesce(col(t.config.softDeleteField), lit(false)))
    val bytes = live.map(_.bytes).sum.max(1)
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    // range layout on (group, sort column): each write task — hence
    // each file — owns a contiguous slice, giving tight per-file
    // min/max stats on the layout column (key tie-break keeps the
    // layout deterministic when `sortCols` has duplicates)
    val layout = if (sortCols.isEmpty) Seq(col(t.config.keyField))
                 else sortCols.map(col) :+ col(t.config.keyField)
    val added = t.writeFiles(merged, instant, delta = false,
      rangeBy = Some((nFiles, layout)))
    // clustering rebuilds groups from a snapshot → any concurrent
    // write into them invalidates the rewrite
    val groups = live.map(f => (f.partition, f.bucket)).toSet
    Some(t.commitValidated(Commit(instant, "cluster", "cluster",
      added = added, removed = live.map(_.path), schemaJson = sch.json),
      planning, groups))
  }

  /** Z-ORDER clustering (the reference's
    * `hoodie.layout.optimize.strategy=z-order` analog; Morton-curve
    * multi-column layout per "Z-ordering for multi-dimensional
    * clustering", Orenstein & Merrett 1984, as shipped by Hudi/Delta
    * OPTIMIZE ZORDER BY): rewrite the table RANGE-partitioned on the
    * interleaved-bit z-value of `zCols`, so every output file covers a
    * contiguous z-slice — a TIGHT range in EVERY z column
    * simultaneously. Min/max stats pruning then skips files for
    * predicates on any of them, where a single-column sort helps only
    * its own column. (Range boundaries, not within-file order, carry
    * the layout — the same sampled-range shuffle Delta's OPTIMIZE
    * ZORDER uses, and the shape that scales to 1000 executors.)
    *
    * Normalization uses the GLOBAL min/max of each column (one
    * aggregate over the rewrite input — service-time cost only).
    * Columns must be numeric; nulls sort to the low corner. Like
    * [[cluster]], sorting happens within file groups, so key→group
    * routing stays valid. */
  def clusterZOrder(t: GraftTable, zCols: Seq[String],
      partitions: Option[Seq[String]] = None,
      targetFileBytes: Long = 1L << 30): Option[String] = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"z-order needs 2-4 columns, got $zCols")
    val planning = t.log.lastInstant().getOrElse("0")
    val live = t.log.liveFiles()
      .filter(f => partitions.forall(_.contains(f.partition)))
    if (live.isEmpty) return None
    val instant = t.log.nextInstant()
    val sch = t.schema
    val merged = t.latestWins(t.readFiles(live, sch))
      .filter(!coalesce(col(t.config.softDeleteField), lit(false)))
      .persist()
    try {
      val bounds = merged.select(zCols.flatMap(c =>
        Seq(min(col(c).cast("double")), max(col(c).cast("double")))): _*).first()
      val z = zValue(zCols.zipWithIndex.map { case (c, i) =>
        val (mn, mx) = (
          if (bounds.isNullAt(2 * i)) 0.0 else bounds.getDouble(2 * i),
          if (bounds.isNullAt(2 * i + 1)) 0.0 else bounds.getDouble(2 * i + 1))
        (col(c), mn, mx)
      })
      val bytes = live.map(_.bytes).sum.max(1)
      val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      val added = t.writeFiles(merged, instant, delta = false,
        rangeBy = Some((nFiles, Seq(z))))
      val groups = live.map(f => (f.partition, f.bucket)).toSet
      Some(t.commitValidated(Commit(instant, "cluster", "zorder",
        added = added, removed = live.map(_.path), schemaJson = sch.json),
        planning, groups))
    } finally { merged.unpersist(); () }
  }

  /** 64-bit Morton z-value: each column scales linearly to 16 bits
    * against its [min,max], bit b of column i lands at position
    * b×n + i. Pure codegen'd integer expressions — no UDF. */
  private[core] def zValue(cols: Seq[(org.apache.spark.sql.Column, Double, Double)]): org.apache.spark.sql.Column = {
    val n = cols.size
    val scaled = cols.map { case (c, mn, mx) =>
      if (mx <= mn) lit(0L)
      else least(greatest(
        (((coalesce(c.cast("double"), lit(mn)) - mn) / (mx - mn)) * 65535.0)
          .cast("long"), lit(0L)), lit(65535L))
    }
    (for (b <- 0 until 16; i <- 0 until n) yield
      shiftleft(shiftright(scaled(i), b).bitwiseAND(lit(1L)), b * n + i)
    ).reduce(_.bitwiseOR(_))
  }

  /** Cleaning (T3): physically delete files that are no longer live and
    * were removed by a commit older than the `retainCommits`-newest —
    * bounded time travel, bounded storage. Returns deleted paths. */
  def clean(t: GraftTable, retainCommits: Int = 10): Seq[String] = {
    val commits = t.log.commits()
    if (commits.size <= retainCommits) return Nil
    val horizon = commits(commits.size - retainCommits).instant
    val liveNow = t.log.liveFiles().map(_.path).toSet
    // a file removed at-or-before the horizon is NOT automatically
    // unreachable: a later restore() re-ADDS old paths, so a snapshot
    // inside the retained window can reference a file whose original
    // removal predates the horizon. Protect every path a post-horizon
    // commit TOUCHES: adds (the re-added file is live inside the
    // window) AND removes (a post-horizon removal means the file was
    // still live at some retained instant — e.g. re-added at-or-before
    // the horizon, removed again after it; its ORIGINAL removal is
    // <= horizon but snapshots in [horizon, re-removal) reference it).
    // O(commits × files) metadata, no IO.
    val laterCommits = commits.filter(_.instant > horizon)
    val touchedLater = (laterCommits.flatMap(_.added).map(_.path) ++
      laterCommits.flatMap(_.removed)).toSet
    val deletable = commits.filter(_.instant <= horizon)
      .flatMap(_.removed).distinct
      .filterNot(liveNow.contains)
      .filterNot(touchedLater.contains)
    deletable.foreach { rel =>
      Files.deleteIfExists(Paths.get(t.root, rel))
    }
    // drop now-empty dirs
    val dataDir = Paths.get(t.root, "data")
    if (Files.exists(dataDir)) {
      graft.util.Fs.walkSeq(dataDir).reverse
        .filter(Files.isDirectory(_))
        .foreach { d =>
          if (graft.util.Fs.list(d)(!_.hasNext)) Files.deleteIfExists(d)
        }
    }
    deletable
  }

  /** Snapshot exporter (Hudi's HoodieSnapshotExporter analog): write
    * the table's CURRENT merged snapshot as plain, engine-agnostic
    * parquet under `dest` — hive-style partition dirs when the table
    * is partitioned, engine metadata columns dropped. The handoff
    * format for consumers that don't speak the commit log. Cost: one
    * snapshot read + one parquet write, fully distributed; for MOR
    * the export IS the realtime merge, so exporting also proves the
    * log-free view external engines would read.
    *
    * Hive-style partition dirs carry the partition VALUE as a path
    * string, so a bare `spark.read.parquet(dest)` re-infers its type
    * (a string column holding '123' comes back integer; nulls become
    * `__HIVE_DEFAULT_PARTITION__`). The export therefore writes a
    * `_schema.json` sidecar with the exact exported StructType;
    * [[readExportedSnapshot]] applies it, and foreign consumers can do
    * the same (or disable partitionColumnTypeInference). */
  def exportSnapshot(t: GraftTable, dest: String): Unit = {
    val df = t.read()
      .drop(TableConfig.metaColumns(t.config.softDeleteField).toSeq: _*)
    t.config.partitionField match {
      // derived layouts must NOT partitionBy the raw epoch source —
      // that would hive-split on every distinct timestamp (one dir per
      // row at the limit). Export the DERIVED value as the partition
      // column (path-safe: '/' nests like the table's own layout).
      case Some(_) if t.config.partitionFormat.isDefined =>
        df.withColumn("_partition_path", t.derivedPartValue)
          .write.mode("overwrite").partitionBy("_partition_path").parquet(dest)
      case Some(p) => df.write.mode("overwrite").partitionBy(p).parquet(dest)
      case None => df.write.mode("overwrite").parquet(dest)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dest, "_schema.json"),
      df.schema.json.getBytes("UTF-8"))
  }

  /** Schema-faithful readback of an [[exportSnapshot]] directory: the
    * sidecar pins column types (partition column included) instead of
    * letting path inference guess them. */
  def readExportedSnapshot(spark: org.apache.spark.sql.SparkSession,
      dest: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val sidecar = java.nio.file.Paths.get(dest, "_schema.json")
    require(java.nio.file.Files.exists(sidecar), s"no _schema.json under $dest")
    val schema = DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(sidecar), "UTF-8"))
      .asInstanceOf[StructType]
    spark.read.schema(schema).parquet(dest)
  }

  /** Archival (T3): fold old commit files into the archive log so the
    * hot timeline dir stays O(retained). */
  def archive(t: GraftTable, retainCommits: Int = 20): Int = {
    val commits = t.log.commits()
    if (commits.size <= retainCommits) 0
    else t.log.archiveBefore(commits(commits.size - retainCommits).instant)
  }

  /** Restore (Hudi savepoint/restore, `rollback` generalized): make
    * the table's live state equal to its snapshot at `toInstant`,
    * expressed as ONE new replace commit — history is never rewritten,
    * so time travel across the restore keeps working. Incremental
    * consumers CANNOT silently cross a restore: re-added files keep
    * rows stamped with their original `_commit_time`, so
    * `readIncremental` refuses a range containing a restore commit and
    * demands a cursor reset (full resync, then resume) — Hudi's
    * stance. Fails
    * cleanly if cleaning already deleted a file the target snapshot
    * needs. The `*` replace scope conflicts with any concurrent write
    * under OCC — restoring mid-write is a real conflict, not a race. */
  def restore(t: GraftTable, toInstant: String): String = {
    val snap = t.log.snapshot()
    val planning = snap.lastInstant.getOrElse("0")
    val instant = t.log.nextInstantAfter(snap.lastInstant)
    val target = snap.liveFiles(Some(toInstant)).map(f => f.path -> f).toMap
    val current = snap.liveFiles().map(f => f.path -> f).toMap
    val removed = current.keys.filterNot(target.contains).toSeq.sorted
    val added = target.collect {
      case (p, f) if !current.contains(p) => f
    }.toSeq.sortBy(_.path)
    added.foreach { f =>
      require(Files.exists(Paths.get(t.root, f.path)),
        s"cannot restore to $toInstant: ${f.path} was already cleaned")
    }
    t.commitValidated(Commit(instant, "replace", "restore",
      added = added, removed = removed, replacedPartitions = Seq("*"),
      schemaJson = snap.latestSchemaJson(Some(toInstant)).getOrElse("")),
      planning, Set.empty, Some(Seq("*")))
  }

  /** Rollback the newest row commit (restore to the state just before
    * it). No-op (None) when fewer than two row commits exist. */
  def rollbackLastCommit(t: GraftTable): Option[String] = {
    val rowCommits = t.log.commits()
      .filter(c => c.action == "commit" || c.action == "replace")
    if (rowCommits.size < 2) None
    else Some(restore(t, rowCommits(rowCommits.size - 2).instant))
  }

  /** The vector-index service stamp: the last INDEXED commit instant
    * plus the build parameters (changing any parameter must rebuild;
    * an advanced instant only needs the delta applied). Stamps written
    * before `metaCols` existed deserialize it as null — which never
    * equals a requested list, so they rebuild (the sound default). */
  private[core] case class VectorIndexStamp(instant: String,
      idCol: String, vecCol: String, nLists: Int,
      metaCols: Seq[String] = Nil,
      // maintenance knobs are part of the stamp identity (param change
      // → rebuild, like nLists); Option so stamps written before the
      // fields existed read as "the defaults" instead of 0.0 — a raw
      // Double would deserialize missing as 0.0 and make every append
      // refreeze
      driftRetrain: Option[Double] = None,
      foldThreshold: Option[Double] = None)

  /** Operational state of a table's vector index — the observability
    * row `CALL vector_index_stats` serves. All fields come from the
    * persisted index (stamp, meta.json, relations, journals); the
    * drift/action pair is the LAST maintenance outcome, journaled by
    * [[buildVectorIndex]] at each stamp write. */
  final case class VectorIndexStats(indexPath: String, stampInstant: String,
      idCol: String, vecCol: String, nLists: Int, metaCols: Seq[String],
      driftRetrain: Double, foldThreshold: Double, corpusCount: Long,
      tombstoneCount: Long, tombstoneFraction: Double,
      appendsJournalDepth: Long, lastDriftRatio: Double, lastAction: String,
      lastRefroze: Boolean, epochAware: Boolean)

  /** The last maintenance outcome, journaled beside the stamp so the
    * stats surface can report drift without re-deriving it. */
  private[core] case class VectorMaintRecord(action: String,
      driftRatio: Double, appended: Long = 0L, tombstoned: Long = 0L,
      removed: Long = 0L, refroze: Boolean = false)

  /** Largest PQ subvector count ≤ 8 that divides `dim` — the service's
    * deterministic default (8 subs at the usual 64/128/256 dims). */
  private def pqSubvectors(dim: Int): Int =
    (math.min(8, dim) to 1 by -1).find(dim % _ == 0).get

  /** Vector-index table service: build or INCREMENTALLY refresh the
    * persisted IVF(-PQ) ANN index over an embedding column. The index
    * lives under `<root>/index/ivf-<col>/` and is stamped with the
    * last indexed commit instant + build params.
    *
    * Maintenance is incremental, like every other table service — a
    * commit must never trigger a full-corpus retrain (at 100 TB one
    * 10-row upsert would otherwise re-shuffle the whole corpus through
    * Lloyd's):
    *  - params changed / no index / unparseable stamp → full
    *    [[graft.operators.IvfPq.build]] (coarse centroids + raw
    *    assignments + PQ codebooks/codes — the compressed tier rides
    *    along so scale queries can scan m-int codes, while the raw
    *    assignments keep exact re-rank and [[graft.operators
    *    .IvfPq.refreeze]] possible);
    *  - table advanced past the stamp → apply exactly the CDC delta
    *    `(stamp, asOf]`: remove updated/deleted keys from both
    *    persisted relations, append inserted/updated rows against the
    *    FROZEN centroids/codebooks (O(batch), map-only), and retrain
    *    via refreeze ONLY when the append's drift statistic demands
    *    (`driftRatio > driftRetrain` — the frozen quantizer no longer
    *    fits the incoming distribution);
    *  - CDC refusals (a restore/bootstrap in range) and half-applied
    *    append journals fall back to a full rebuild from the pinned
    *    snapshot — the always-sound recovery.
    *
    * Crash contract: the remove/append pair is guarded by the append
    * journal's deterministic batch id (`svc-<from>-<to>`): a crash
    * after the append's `.done` marker but before the stamp write
    * re-enters, sees the marker, and skips straight to the stamp —
    * re-running the remove there would delete the freshly appended
    * versions of updated keys. A crash before the marker re-runs the
    * (idempotent) remove and the append from scratch.
    *
    * `asOf`/`snapshot` pin the ENTIRE call to one commit instant so a
    * caller can serve index, queries, and filters from the same
    * snapshot ([[graft.sql.GraftSql]] `CALL vector_search`).
    *
    * Contracts: (1) `idCol` must be a STABLE row identity — normally
    * the table's key field. CDC classifies changes by the table key,
    * so an update that rewrites a non-key idCol value would remove the
    * new id (a no-op) and leave the OLD id's vector stale in the
    * index. (2) Like compaction/clustering/cleaning, the index is
    * maintained by ONE service caller at a time — concurrent
    * maintainers of the SAME index directory race on its relations
    * (concurrent readers of a quiescent index are fine). */
  def buildVectorIndex(t: GraftTable, idCol: String, vecCol: String,
      nLists: Int = 16, asOf: Option[String] = None,
      snapshot: Option[org.apache.spark.sql.DataFrame] = None,
      driftRetrain: Double = 1.5, metaCols: Seq[String] = Nil,
      foldThreshold: Double = 0.2): String = {
    import org.apache.spark.sql.functions.{col, size => asize}
    require(driftRetrain > 0,
      s"driftRetrain=$driftRetrain — must be positive (drift ~1.0 means " +
      "the frozen quantizer still fits; retrain fires above the ratio)")
    require(foldThreshold > 0 && foldThreshold <= 1,
      s"foldThreshold=$foldThreshold — must be in (0, 1]: the tombstone " +
      "fraction of the corpus past which the refreeze folds dead rows")
    val path = vectorIndexPath(t, vecCol)
    val instant = asOf.orElse(t.log.lastInstant()).getOrElse("0")
    val stampFile = java.nio.file.Paths.get(path, "instant.stamp")
    val mapper = graft.core.CommitLog.mapper
    def writeStamp(): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(path))
      Files.write(stampFile, mapper.writeValueAsBytes(
        VectorIndexStamp(instant, idCol, vecCol, nLists, metaCols,
          Some(driftRetrain), Some(foldThreshold))))
      ()
    }
    def writeMaint(rec: VectorMaintRecord): Unit = {
      Files.createDirectories(java.nio.file.Paths.get(path))
      Files.write(java.nio.file.Paths.get(path, "last_maint.json"),
        mapper.writeValueAsBytes(rec))
      ()
    }
    def corpus() = snapshot.getOrElse(t.read(asOf = Some(instant)))
      .select((Seq(idCol, vecCol) ++ metaCols).map(col): _*)
    def fullBuild(): Unit = {
      val c = corpus()
      // one probe job answers emptiness, count AND dim — the previous
      // isEmpty + size().first() pair plus the build's two internal
      // counts were four jobs re-scanning the same merged read
      val probe = c.agg(count(lit(1)), first(asize(col(vecCol)))).first()
      val n = probe.getLong(0)
      require(n > 0,
        s"cannot build a vector index over empty table ${t.config.name}")
      val dim = probe.getInt(1)
      // wipe any prior index so stale relations, journals, and stamps
      // can never survive a rebuild
      if (Files.isDirectory(java.nio.file.Paths.get(path)))
        graft.util.TempDirs.deleteRecursively(java.nio.file.Paths.get(path))
      graft.operators.IvfPq.build(c, idCol, vecCol, nLists,
        m = pqSubvectors(dim), codesPerSub = 256, path = path,
        metaCols = metaCols, corpusCount = n)
      writeStamp()
      writeMaint(VectorMaintRecord("rebuild", driftRatio = 1.0))
    }
    val prior: Option[VectorIndexStamp] =
      if (!Files.exists(stampFile)) None
      else try Some(mapper.readValue(Files.readAllBytes(stampFile),
        classOf[VectorIndexStamp]))
      catch { case _: Exception => None } // pre-JSON stamp → rebuild
    // old stamps carry no knob fields — they read as the defaults, so
    // an existing index maintained at default knobs never rebuilds
    def knobsMatch(s: VectorIndexStamp): Boolean =
      s.driftRetrain.getOrElse(1.5) == driftRetrain &&
        s.foldThreshold.getOrElse(0.2) == foldThreshold
    prior match {
      case Some(s) if s.idCol == idCol && s.vecCol == vecCol &&
          s.nLists == nLists && s.metaCols == metaCols &&
          knobsMatch(s) && s.instant == instant =>
        () // fresh — zero Spark jobs
      case Some(s) if s.idCol == idCol && s.vecCol == vecCol &&
          s.nLists == nLists && s.metaCols == metaCols &&
          knobsMatch(s) && s.instant < instant =>
        // bound the CDC range at the PINNED instant: count the row
        // commits in (stamp, asOf] and ask for exactly that many, so a
        // commit landing mid-call never leaks into this refresh
        val nRow = t.log.snapshot().commits
          .count(c => c.instant > s.instant && c.instant <= instant &&
            (c.action == "commit" || c.action == "replace"))
        if (nRow == 0) writeStamp() // service-only commits: content unchanged
        else {
          try {
            val batchId = s"svc-${s.instant}-$instant"
            val doneMarker = java.nio.file.Paths.get(
              path, "_appends", s"$batchId.done")
            if (!Files.exists(doneMarker)) {
              val cdc = t.readCdc(s.instant, maxCommits = nRow).persist()
              try {
                // UPDATE victims: tombstone (O(victims) — superseded
                // versions of live rows may keep their bytes until the
                // refreeze fold). DELETE victims: physical remove —
                // deleted data's bytes must leave the index, tombstones
                // only hide them. Legacy (pre-epoch) indexes take the
                // physical path for both.
                val epochAware =
                  graft.operators.IvfIndex.open(t.spark, path).epochAware
                val (tombstoned, removed) =
                  if (epochAware) {
                    val ts = graft.operators.IvfPq.tombstone(
                      cdc.filter(col("_change_type") === "u")
                        .select(col(idCol)), idCol, path, epoch = instant)
                    val rm = graft.operators.IvfPq.remove(
                      cdc.filter(col("_change_type") === "d")
                        .select(col(idCol)), idCol, path)
                    (ts, rm)
                  } else (0L, graft.operators.IvfPq.remove(
                    cdc.filter(col("_change_type").isin("u", "d"))
                      .select(col(idCol)), idCol, path))
                // stored filter columns (metaCols) MUST ride every
                // append or the new rows silently escape stored-column
                // predicates (their meta reads back null)
                val stats = graft.operators.IvfPq.append(
                  cdc.filter(col("_change_type").isin("i", "u"))
                    .select((Seq(idCol, vecCol) ++ metaCols).map(col): _*),
                  idCol, vecCol, path, batchId = Some(batchId),
                  epoch = Some(instant))
                // retrain exits: the frozen quantizer stopped fitting
                // (drift), or dead versions outgrew the fold threshold
                // (every query pays the tombstone anti-join until then)
                lazy val tombCount = graft.operators.IvfIndex
                  .open(t.spark, path).rowCount("tombstones")
                val refroze = stats.driftRatio > driftRetrain ||
                  (epochAware && stats.corpusCount > 0 &&
                    tombCount > foldThreshold * stats.corpusCount)
                if (refroze) {
                  graft.operators.IvfPq.refreeze(t.spark, path)
                  ()
                }
                writeMaint(VectorMaintRecord("incremental",
                  driftRatio = stats.driftRatio, appended = stats.appended,
                  tombstoned = tombstoned, removed = removed,
                  refroze = refroze))
              } finally { cdc.unpersist(); () }
            }
            writeStamp()
          } catch {
            // CDC refusal (restore/bootstrap in range) or a half-applied
            // journal: full rebuild from the pinned snapshot is the
            // always-sound recovery. SURFACE the cause first — a
            // persistent failure here would otherwise silently degrade
            // every call to an O(corpus) rebuild with no signal that
            // the incremental path never engages.
            case e @ (_: IllegalStateException | _: IllegalArgumentException) =>
              System.err.println(
                s"[graft] incremental vector-index maintenance at $path " +
                s"fell back to a full rebuild: ${e.getMessage}")
              fullBuild()
          }
        }
      case _ => fullBuild() // params changed, index ahead of asOf, or absent
    }
    path
  }

  def vectorIndexPath(t: GraftTable, vecCol: String): String =
    Paths.get(t.root, "index", s"ivf-$vecCol").toString

  /** The stored filter columns the existing index was built with (from
    * its stamp; empty when no index or a pre-JSON stamp). Callers that
    * don't pass meta_cols inherit these — otherwise a search after
    * `build_vector_index(meta_cols => …)` would silently REBUILD the
    * index without its stored columns and the stored-filter predicate
    * would stop resolving. */
  def stampedMetaCols(t: GraftTable, vecCol: String): Seq[String] = {
    val f = java.nio.file.Paths.get(
      vectorIndexPath(t, vecCol), "instant.stamp")
    if (!Files.exists(f)) Nil
    else try Option(graft.core.CommitLog.mapper
        .readValue(Files.readAllBytes(f), classOf[VectorIndexStamp])
        .metaCols).getOrElse(Nil)
    catch { case _: Exception => Nil }
  }

  /** The maintenance knobs the existing index was stamped with
    * ((driftRetrain, foldThreshold); the defaults when no index or a
    * pre-knob stamp). Callers that don't pass the knobs inherit these
    * — otherwise a plain `CALL vector_search` after a
    * `build_vector_index(drift_retrain => …)` would silently rebuild
    * the index back to default knobs. */
  def stampedKnobs(t: GraftTable, vecCol: String): (Double, Double) = {
    val f = java.nio.file.Paths.get(
      vectorIndexPath(t, vecCol), "instant.stamp")
    val s =
      if (!Files.exists(f)) None
      else try Some(graft.core.CommitLog.mapper
          .readValue(Files.readAllBytes(f), classOf[VectorIndexStamp]))
        catch { case _: Exception => None }
    (s.flatMap(x => Option(x.driftRetrain).flatten).getOrElse(1.5),
      s.flatMap(x => Option(x.foldThreshold).flatten).getOrElse(0.2))
  }

  /** Operational stats of the table's vector index over `vecCol` —
    * the observability row behind `CALL vector_index_stats`. Reads
    * ONLY metadata-scale state (stamp, meta.json, the tombstone
    * relation's footer row counts, journal listing) — no Spark job. Refuses
    * loudly when no index exists (an empty row would read as "index
    * healthy, zero rows"). */
  def vectorIndexStats(t: GraftTable, vecCol: String): VectorIndexStats = {
    val path = vectorIndexPath(t, vecCol)
    val stampFile = java.nio.file.Paths.get(path, "instant.stamp")
    require(Files.exists(stampFile),
      s"no vector index over '$vecCol' for table ${t.config.name} — " +
      "CALL build_vector_index first")
    val mapper = graft.core.CommitLog.mapper
    val s = mapper.readValue(Files.readAllBytes(stampFile),
      classOf[VectorIndexStamp])
    val meta = graft.operators.IvfIndex.meta(path).getOrElse(
      throw new IllegalStateException(
        s"vector index at $path has a stamp but no meta.json — rebuild"))
    val index = graft.operators.IvfIndex.open(t.spark, path)
    val tombCount = index.rowCount("tombstones")
    val appDir = java.nio.file.Paths.get(path, "_appends")
    val journalDepth =
      if (!Files.isDirectory(appDir)) 0L
      else graft.util.Fs.list(appDir)(
        _.count(_.getFileName.toString.endsWith(".done")).toLong)
    val last =
      try Some(mapper.readValue(
        Files.readAllBytes(java.nio.file.Paths.get(path, "last_maint.json")),
        classOf[VectorMaintRecord]))
      catch { case _: Exception => None } // pre-journal index
    VectorIndexStats(path, s.instant, s.idCol, s.vecCol, s.nLists,
      Option(s.metaCols).getOrElse(Nil),
      s.driftRetrain.getOrElse(1.5), s.foldThreshold.getOrElse(0.2),
      corpusCount = meta.corpusCount, tombstoneCount = tombCount,
      tombstoneFraction =
        if (meta.corpusCount <= 0) 0.0
        else tombCount.toDouble / meta.corpusCount,
      appendsJournalDepth = journalDepth,
      lastDriftRatio = last.map(_.driftRatio).getOrElse(-1.0),
      lastAction = last.map(_.action).getOrElse("unknown"),
      lastRefroze = last.exists(_.refroze),
      epochAware = index.epochAware)
  }
}
