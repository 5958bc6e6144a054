package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the two ANN halves composed (Jégou et al. 2011 §V — the
  * layout every large-scale vector store uses). [[IvfIndex]] prunes:
  * a query reads only its `nProbe` nearest coarse lists. [[Pq]]
  * compresses: within those lists the scan touches m-int codes, not
  * d-float vectors (~32× fewer bytes at 64-dim/8-sub), scored by ADC
  * lookup tables that ride in the plan.
  *
  * At 100 TB the economics multiply: IVF cuts the scanned fraction to
  * nProbe/nLists, PQ cuts the bytes per scanned row — a query's IO is
  * `corpus × nProbe/nLists / compression`, and nothing shuffles (the
  * probed-partition scan is map-only + TakeOrdered).
  *
  * Build persists three relations under `path`: the coarse centroids
  * and raw assignments ([[IvfIndex.build]]'s layout, kept so exact
  * re-ranking remains possible), the PQ codebooks, and the encoded
  * codes PARTITIONED BY LIST — the relation queries actually scan.
  *
  * Contract (Round19Spec): full probe + lossless codebooks ≡ exact
  * inner-product top-k; partial probe scans only probed list
  * directories (inputFiles-asserted). */
object IvfPq {

  /** Query rows one search pass collects to the driver — the bound of
    * [[topKBatch]]'s default pass and of [[IvfIndex.topK]]'s passes. */
  val MaxQueriesPerPass = 4096

  /** Build coarse index + codebooks + encoded codes. `metaCols`
    * persist beside the vectors AND the codes ([[IvfIndex.build]]'s
    * stored-filter-column path): a retrieval predicate over them
    * pushes down into the pruned codes scan itself — the
    * any-selectivity filtering path, vs the id-set semi join that
    * pays a shuffle when the surviving set is broad. */
  def build(embs: DataFrame, idCol: String, vecCol: String,
      nLists: Int, m: Int, codesPerSub: Int, path: String,
      metaCols: Seq[String] = Nil, corpusCount: Long = -1L): Pq.Codebooks = {
    val spark = embs.sparkSession
    IvfIndex.build(embs, idCol, vecCol, nLists, path, metaCols = metaCols,
      corpusCount = corpusCount)
    val cb = Pq.train(embs, idCol, vecCol, m, codesPerSub,
      corpusCount = corpusCount)
    // persist codebooks (m × k × subDim doubles — metadata-scale)
    import spark.implicits._
    cb.codes.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (c, code) => (sub, code, c.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebooks.parquet")
    // encode the assignments relation and lay codes out by list
    Pq.encode(IvfIndex.open(spark, path).read("assignments"), "id", "vec", cb)
      .write.mode("overwrite").partitionBy("list").parquet(s"$path/pq_codes")
    cb
  }

  /** Reload persisted codebooks (a driver read, no Spark job). */
  def codebooks(spark: SparkSession, path: String): Pq.Codebooks =
    IvfIndex.open(spark, path).codebooks

  /** Result of one incremental [[append]]: how much landed, the new
    * corpus size, and the drift statistic. `driftRatio` is the batch's
    * mean assigned-centroid distance over the BUILD-time mean — ~1.0
    * means the frozen coarse quantizer still fits the incoming
    * distribution; a sustained rise (rule of thumb: > 1.5) says the
    * lists have drifted off the data and a retrain ([[build]]) will
    * recover recall. -1 when the index predates the baseline field. */
  final case class AppendStats(appended: Long, corpusCount: Long,
      batchMeanDist: Double, buildMeanDist: Double, driftRatio: Double)

  /** Incremental maintenance — real vector stores append; a full
    * retrain per batch would re-shuffle the whole corpus. New vectors
    * are assigned and PQ-encoded against the FIXED persisted
    * centroids/codebooks and appended to the existing list partitions
    * (the [[IncrementalDedup]] deployment shape applied to the vector
    * index): marginal cost is O(batch) — one map-only assignment +
    * encode pass over the batch, no history rescan, no retraining.
    * Queries see appended vectors immediately: [[topK]] prunes by list
    * directory, and appends land inside those directories.
    *
    * Appending against frozen codebooks is EXACT with respect to the
    * frozen index (spec: append-path topK ≡ rebuild-at-fixed-codebooks
    * topK); what degrades over time is the FIT of the frozen quantizer
    * to a drifting distribution — which is what the returned drift
    * statistic monitors. Caller owns id uniqueness (same contract as
    * build).
    *
    * Failure contract: the two relation appends + the meta write are
    * NOT one atomic commit, so each append journals under
    * `_appends/` — an `.inprogress` marker goes down first and flips
    * to `.done` only after everything landed. A crash in between
    * leaves the marker, and the NEXT append (or any caller checking)
    * fails loudly demanding a rebuild instead of serving an index
    * whose assignments and codes disagree. Pass a stable `batchId` to
    * make retries idempotent: a batch whose `.done` marker exists is
    * skipped (0 appended) rather than double-appended. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      path: String, batchId: Option[String] = None,
      epoch: Option[String] = None): AppendStats = {
    val h = IvfIndex.open(batch.sparkSession, path)
    val meta = h.meta.getOrElse(throw new IllegalArgumentException(
      s"no IVF-PQ index at $path — build() first"))
    require(meta.idCol == idCol && meta.vecCol == vecCol,
      s"index at $path was built over (${meta.idCol}, ${meta.vecCol}), " +
      s"append called with ($idCol, $vecCol)")
    import java.nio.file.{Files, Paths}
    val appDir = Paths.get(path, "_appends")
    Files.createDirectories(appDir)
    val leftover = graft.util.Fs.list(appDir)(_
      .filter(_.getFileName.toString.endsWith(".inprogress")).toSeq)
    require(leftover.isEmpty,
      s"IVF-PQ index at $path has a half-applied append " +
      s"(${leftover.map(_.getFileName).mkString(", ")}) — its assignments " +
      "and codes may disagree; rebuild() the index")
    val id = batchId.getOrElse(
      s"${System.currentTimeMillis()}-${java.util.UUID.randomUUID()}")
    if (Files.exists(appDir.resolve(s"$id.done")))
      return AppendStats(0L, meta.corpusCount, 0.0, meta.meanAssignDist, -1.0)
    // ONE lean pass answers emptiness, the dim probe and the drift
    // statistic (the batch's mean assigned-centroid distance) FIRST
    val table = h.centroids
    val probe = batch.select(col(vecCol).as("vec"))
      .agg(count(lit(1)), first(size(col("vec"))), avg(graft.functions
        .GraftExpressions.nearest_centroid_dist(col("vec"), table))).first()
    val n = probe.getLong(0)
    if (n == 0L)
      return AppendStats(0L, meta.corpusCount, 0.0, meta.meanAssignDist, -1.0)
    // a wrong-dimension batch would silently mis-assign (the distance
    // loops compare only the common prefix) and mis-slice PQ subvectors
    require(probe.getInt(1) == meta.dim,
      s"batch vectors are ${probe.getInt(1)}-dim; index at " +
      s"$path was built over ${meta.dim}-dim vectors")
    // the stored relations are self-describing: any column beside
    // (id, vec, list) is a build-time meta column the batch MUST carry
    // too, or appended rows would silently escape every stored-column
    // filter (their meta would read back null)
    val metaCols = h.storedMetaCols
    metaCols.foreach { c => require(batch.columns.contains(c),
      s"index at $path stores filter column '$c' beside the vectors — " +
      "the append batch must carry it too") }
    // `epoch` orders these rows against update tombstones; attached
    // only when the stored relations carry the column (legacy indexes
    // keep their schema and the physical-remove maintenance path)
    val epochCols =
      if (h.epochAware) Seq(lit(epoch.getOrElse("")).as("epoch"))
      else Nil
    val b = batch.select((col(idCol).as("id") +: col(vecCol).as("vec") +:
      (epochCols ++ metaCols.map(col))): _*).persist()
    try {
      val cb = h.codebooks
      val marker = appDir.resolve(s"$id.inprogress")
      Files.writeString(marker, "")
      val asg = b.withColumn("list",
        element_at(graft.functions.GraftExpressions
          .nearest_centroids(col("vec"), table, 1), 1))
      asg.write.mode("append").partitionBy("list").parquet(s"$path/assignments")
      Pq.encode(asg, "id", "vec", cb)
        .write.mode("append").partitionBy("list").parquet(s"$path/pq_codes")
      val batchMean = probe.getDouble(2)
      val newMeta = meta.copy(corpusCount = meta.corpusCount + n)
      Files.write(Paths.get(path, "meta.json"),
        graft.core.CommitLog.mapper.writeValueAsBytes(newMeta))
      Files.move(marker, appDir.resolve(s"$id.done"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      AppendStats(n, newMeta.corpusCount, batchMean, meta.meanAssignDist,
        if (meta.meanAssignDist > 0) batchMean / meta.meanAssignDist else -1.0)
    } finally { b.unpersist(); () }
  }

  /** Drift-consuming retrain — the exit the [[append]] drift statistic
    * points at: when `driftRatio` rises past the retrain rule of
    * thumb, refreeze re-learns centroids AND codebooks from the full
    * persisted corpus (raw vectors live in `assignments` precisely so
    * exactness paths like this stay possible), re-encodes, and swaps
    * the index in place. Same parameters as the original build,
    * recovered from the persisted relations (nLists from meta, m/k
    * from the codebooks) — a refreeze changes fit, never shape.
    *
    * The retrained index is built to a sibling directory while the old
    * one keeps serving, then swapped with two renames. Crash contract:
    * a crash during the build leaves the original untouched (stale
    * `.refreeze-tmp` is cleared on the next run); a crash BETWEEN the
    * renames leaves the original at `<path>.old` and possibly nothing
    * at `<path>` — restore by renaming `.old` back, or re-running
    * refreeze after renaming. The `_appends` journal CARRIES OVER to
    * the new index: every appended batch is folded into the retrain,
    * so a retried pre-refreeze batchId must still hit its `.done`
    * marker (dropping the journal would double-append it). The journal
    * is COPIED into the tmp build before the swap so it rides the
    * renames atomically — no crash window leaves it only under
    * `.old`, and a retry that clears stale `.old` cannot lose it. */
  def refreeze(spark: SparkSession, path: String): Pq.Codebooks = {
    import java.nio.file.{Files, Paths}
    val meta = IvfIndex.meta(path).getOrElse(
      throw new IllegalArgumentException(
        s"no IVF-PQ index at $path — build() first"))
    val appDir = Paths.get(path, "_appends")
    if (Files.isDirectory(appDir)) {
      val leftover = graft.util.Fs.list(appDir)(_
        .filter(_.getFileName.toString.endsWith(".inprogress")).toSeq)
      require(leftover.isEmpty,
        s"IVF-PQ index at $path has a half-applied append " +
        s"(${leftover.map(_.getFileName).mkString(", ")}) — rebuild() " +
        "before refreezing")
    }
    val h = IvfIndex.open(spark, path)
    val cbOld = h.codebooks
    // rebuild under the ORIGINAL column names so the refrozen meta still
    // matches every later append(idCol, vecCol) call
    val (idCol, vecCol) =
      (if (meta.idCol.nonEmpty) meta.idCol else "id",
        if (meta.vecCol.nonEmpty) meta.vecCol else "vec")
    val metaCols = h.storedMetaCols
    // tombstone FOLD: superseded versions drop out of the retrain
    // corpus here, epochs reset to the build-time empty epoch, and the
    // tombstone relation does NOT carry into the swapped index — this
    // is the compaction exit the tombstone path points at
    val corpus = h.withoutTombstoned(h.read("assignments"))
      .select((col("id").as(idCol) +: col("vec").as(vecCol) +:
        metaCols.map(col)): _*)
    val tmp = Paths.get(s"$path.refreeze-tmp")
    if (Files.exists(tmp)) graft.util.TempDirs.deleteRecursively(tmp)
    val cb = build(corpus, idCol, vecCol, meta.nLists, cbOld.m, cbOld.k,
      tmp.toString, metaCols = metaCols)
    // the journal travels WITH the swap: COPY it into tmp before any
    // rename so there is no crash window in which it exists only under
    // `.old` (a retried refreeze clears stale `.old` and would destroy
    // it, letting a retried pre-refreeze batchId double-append)
    if (Files.isDirectory(appDir))
      graft.util.Fs.copyRecursively(appDir, tmp.resolve("_appends"))
    val old = Paths.get(s"$path.old")
    if (Files.exists(old)) {
      // belt-and-braces for indexes swapped by older builds: never
      // clobber a stale `.old` holding the ONLY copy of the journal
      require(!Files.isDirectory(old.resolve("_appends")) ||
          Files.isDirectory(appDir),
        s"stale $old still holds the only _appends journal — restore it " +
        s"(move $old/_appends under $path) before refreezing")
      graft.util.TempDirs.deleteRecursively(old)
    }
    Files.move(Paths.get(path), old)
    Files.move(tmp, Paths.get(path))
    graft.util.TempDirs.deleteRecursively(old)
    cb
  }

  /** Targeted removal — the right-to-be-forgotten half of the index
    * lifecycle (build → [[append]] → query → [[refreeze]] → remove):
    * delete the given ids from BOTH persisted relations by rewriting
    * ONLY the list partitions that contain them. The victim ids join
    * against the pruned assignments read to find affected lists
    * (O(nProbe-scale) driver collect of list numbers, never rows);
    * each affected partition rewrites via dynamic partition overwrite;
    * a partition whose every row was removed would be SKIPPED by the
    * dynamic overwrite (no rows → no files written → stale files
    * survive), so emptied list directories are deleted explicitly.
    *
    * Crash contract mirrors [[append]]: an `.inprogress` journal
    * marker brackets the two relation rewrites + meta update — a crash
    * in between leaves the marker and the next append/remove refuses,
    * demanding a rebuild, instead of serving an index whose
    * assignments and codes disagree. Removal is idempotent by nature
    * (removing absent ids is a no-op), so retries need no batch key.
    * Returns the number of vectors removed. */
  def remove(victims: DataFrame, idCol: String, path: String): Long = {
    val h = IvfIndex.open(victims.sparkSession, path)
    val meta = h.meta.getOrElse(
      throw new IllegalArgumentException(
        s"no IVF-PQ index at $path — build() first"))
    import java.nio.file.{Files, Paths}
    val appDir = Paths.get(path, "_appends")
    Files.createDirectories(appDir)
    val leftover = graft.util.Fs.list(appDir)(_
      .filter(_.getFileName.toString.endsWith(".inprogress")).toSeq)
    require(leftover.isEmpty,
      s"IVF-PQ index at $path has a half-applied append/remove " +
      s"(${leftover.map(_.getFileName).mkString(", ")}) — rebuild() first")
    val ids = victims.select(col(idCol).as("id")).distinct().persist()
    try {
      val asg = h.read("assignments")
      // affected lists: pruned metadata-scale collect (≤ nLists values)
      val lists = asg.join(ids, Seq("id")).select("list").distinct()
        .collect().map(_.getInt(0)).toIndexedSeq
      if (lists.isEmpty) return 0L
      val marker = appDir.resolve(
        s"remove-${java.util.UUID.randomUUID()}.inprogress")
      Files.writeString(marker, "")
      def rows() = lists.map(l => h.rowCount("assignments", Some(l))).sum
      val rowsBefore = rows()
      Seq("assignments", "pq_codes").foreach { rel =>
        val filesBefore = lists.map(l => h.dataFiles(rel, Some(l)))
        h.read(rel).filter(col("list").isin(lists: _*))
          .join(ids, Seq("id"), "left_anti")
          .localCheckpoint() // sever the self-read before the overwrite
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("list").parquet(s"$path/$rel")
        // a fully-emptied list writes nothing under dynamic overwrite, so
        // its files are the old ones — they would resurrect the removed rows
        lists.zip(filesBefore).foreach { case (l, before) =>
          if (h.dataFiles(rel, Some(l)) == before)
            graft.util.TempDirs.deleteRecursively(Paths.get(path, rel, s"list=$l"))
        }
      }
      val removed = rowsBefore - rows()
      Files.write(Paths.get(path, "meta.json"),
        graft.core.CommitLog.mapper.writeValueAsBytes(
          meta.copy(corpusCount = meta.corpusCount - removed)))
      Files.delete(marker)
      removed
    } finally { ids.unpersist(); () }
  }

  /** Streaming index maintenance: a foreachBatch sink that [[append]]s
    * every micro-batch to the persisted index — the vector-store
    * deployment shape (embeddings arrive as a stream; the index must
    * not be rebuilt per batch). Exactly-once across restarts comes
    * from the (queryId, epoch) idempotence key — the SAME contract as
    * the graft streaming sink: queryId is CHECKPOINT-derived, so a
    * restart from the same checkpoint replays epochs onto their
    * existing `.done` markers (no-ops), while a FRESH checkpoint mints
    * a new queryId whose keys can never collide with stale markers —
    * a static name there would silently drop the re-delivered data.
    * (A fresh checkpoint also makes the source re-deliver from scratch,
    * which duplicates rows in an append-only index — same as any
    * new-query append of already-indexed data; dedup of ids is the
    * caller's contract, as with [[build]].) `streamName` is the
    * fallback key component for the off-chance Spark stops publishing
    * the queryId thread property. Monitor drift by logging
    * [[append]]'s AppendStats per batch. */
  def appendStream(stream: DataFrame, idCol: String, vecCol: String,
      path: String, streamName: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        val qid = Option(df.sparkSession.sparkContext
            .getLocalProperty("sql.streaming.queryId"))
          .getOrElse(streamName)
        append(df, idCol, vecCol, path, batchId = Some(s"$qid-$epoch"))
        ()
      }
      .start()

  /** UPDATE-victim tombstones — the cheap half of incremental index
    * maintenance. A scattered update batch touches most list
    * partitions, so physically rewriting them ([[remove]]) costs
    * nearly a corpus rewrite for a 0.5% change; instead, superseded
    * versions are declared dead by appending (id, epoch) rows to the
    * `tombstones/` side relation, and every query path drops a stored
    * row when a tombstone for its id carries a LATER epoch (strict
    * `>`, so the new version appended at the same maintenance instant
    * survives). Epochs are zero-padded commit instants — string order
    * is numeric order — and build-time rows carry the empty epoch.
    *
    * Cost model: the tombstone write is O(victims); each query pays a
    * broadcast anti-join against the (small, bounded-by-churn-since-
    * refreeze) tombstone set — zero when the relation is absent.
    * [[refreeze]] folds tombstones away (dead rows dropped, epochs
    * reset, relation cleared); the maintenance service triggers it
    * when tombstones outgrow a corpus fraction. PHYSICAL deletes
    * (right-to-be-forgotten) must still use [[remove]] — a tombstone
    * leaves the vector bytes on disk.
    *
    * Retries are naturally idempotent: duplicate (id, epoch) rows have
    * the same effect as one. Returns the number of tombstone rows
    * written. */
  def tombstone(victims: DataFrame, idCol: String, path: String,
      epoch: String): Long = {
    val h = IvfIndex.open(victims.sparkSession, path)
    require(h.meta.isDefined, s"no IVF-PQ index at $path — build() first")
    require(h.epochAware,
      s"index at $path predates the epoch column — tombstones cannot " +
      "order against its rows; use remove() or rebuild")
    require(epoch.nonEmpty, "tombstone epoch must be a commit instant")
    val t = victims.select(col(idCol).as("id")).distinct()
      .withColumn("epoch", org.apache.spark.sql.functions.lit(epoch))
    if (t.isEmpty) return 0L
    val before = h.rowCount("tombstones")
    t.write.mode("append").parquet(
      java.nio.file.Paths.get(path, "tombstones").toString)
    h.rowCount("tombstones") - before
  }

  /** Stored-column predicate applied straight to the pruned codes
    * scan — the build-time `metaCols` path: the predicate pushes down
    * into the parquet read (PushedFilters), costing nothing at any
    * selectivity. The complement of [[applyAllowed]]: use the stored
    * path when the filter columns were declared at build, the id-set
    * path when they were not. */
  private def applyStored(rel: DataFrame,
      f: Option[org.apache.spark.sql.Column]): DataFrame =
    f.fold(rel)(rel.filter)

  /** LEFT-SEMI join a metadata-filter id set (one column) into a
    * relation carrying `id` — the filter-BEFORE-ranking step every
    * filtered retrieval path shares. Catalyst/AQE picks broadcast vs
    * shuffle by the id set's runtime size.
    *
    * The join runs on the index id column's NATIVE type: the id set is
    * only aliased, never force-cast, so Catalyst widens both sides
    * losslessly when they are different numeric widths, and a
    * string-keyed index joins string id sets directly. A type-FAMILY
    * mismatch (string id set against a numeric index or vice versa) is
    * refused loudly — a forced cast there yields nulls and the semi
    * join silently returns zero rows. */
  private[operators] def applyAllowed(rel: DataFrame,
      allowed: Option[DataFrame]): DataFrame =
    allowed.fold(rel) { a =>
      require(a.columns.length == 1,
        s"allowed must be a single id column, got ${a.columns.mkString(",")}")
      import org.apache.spark.sql.types.NumericType
      val idType = rel.schema("id").dataType
      val aType = a.schema.fields.head.dataType
      require(aType == idType ||
          (aType.isInstanceOf[NumericType] && idType.isInstanceOf[NumericType]),
        s"allowed id column is ${aType.simpleString} but the index id " +
        s"column is ${idType.simpleString} — casting across type families " +
        "nulls values out and the filter would silently match nothing; " +
        "pass the id set in the index id's type family")
      rel.join(a.select(col(a.columns.head).as("id")), Seq("id"), "left_semi")
    }

  /** Single-query top-k: probe the `nProbe` coarse lists nearest the
    * query (driver-side over the nLists×dim centroid table), scan
    * ONLY those code partitions, ADC-score, TakeOrdered. */
  def topK(spark: SparkSession, path: String, cb: Pq.Codebooks,
      queryVec: Array[Double], k: Int, nProbe: Int,
      allowed: Option[DataFrame] = None,
      storedFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nProbe > 0, s"nProbe=$nProbe")
    val h = IvfIndex.open(spark, path)
    val probed = h.probe(queryVec, nProbe)
    val codes = applyAllowed(applyStored(h.withoutTombstoned(
      h.read("pq_codes").filter(col("list").isin(probed.toIndexedSeq: _*))),
      storedFilter), allowed)
    Pq.adcTopK(codes, "id", cb, queryVec, k)
  }

  /** Two-stage retrieval — the standard compressed-index REFINE step
    * (Jégou '11 §V.D): ADC scores are quantized approximations, so
    * production queries take the ADC top-`candidates` (cheap: code
    * bytes only) and RE-RANK just those against the RAW vectors the
    * build already persists, returning the exact-inner-product top-k.
    * IO stays two pruned reads — nProbe list partitions of codes, then
    * the same partitions of assignments joined to ≤ `candidates` ids
    * (a broadcast of KBs) — and the exact math touches `candidates`
    * rows, never the corpus. With `candidates` ≫ k the result equals
    * exact search over the probed lists (spec-pinned); the gap that
    * remains is coarse-quantizer recall, which nProbe controls. */
  /** Query-SET two-stage retrieval — production retrieval scores
    * thousands of queries per pass, and per-query [[topKRerank]] calls
    * mean per-query jobs and per-query code scans. This is the p58
    * BM25 broadcast-query-set shape applied to ANN: ONE pruned pass
    * over `pq_codes` and ONE over `assignments`, shared by every
    * query, whatever Q is.
    *
    *  - the query table is driver-collected BOUNDED (`maxQueries`
    *    guard, loud past it — Q × dim doubles is the broadcast, ~0.5 KB
    *    per 64-dim query, so the default cap costs ~2 MB; the LUTs
    *    that would be Q × m × k doubles are NOT broadcast — each
    *    executor materializes a query's LUT lazily, cached per qid
    *    ([[graft.functions.PqAdcScoreSet]]));
    *  - per-query probed lists are computed driver-side over the
    *    metadata-scale centroid table; their UNION prunes the codes
    *    scan to list partitions, and the broadcast (qid, list) pair
    *    join fans each code row to exactly the queries that probe its
    *    list — same rows scanned as Q single-query calls, one job;
    *  - per-query ADC ranking is `row_number() OVER (PARTITION BY
    *    qid)` ≤ candidates — Spark's WindowGroupLimit pushes the limit
    *    below the qid exchange, so the shuffle carries ≤ Q ×
    *    candidates rows per map task, not every scored pair;
    *  - the exact re-rank reads `assignments` pruned by the SAME list
    *    union (every candidate id lives in a probed list by
    *    construction — the 677d17d rule), joins the broadcast
    *    candidate pairs, and scores dot(query, vec) via the broadcast
    *    ([[graft.functions.DotProductSet]]), then ranks ≤ k per query.
    *
    * Same exactness contract as [[topKRerank]], per query: with
    * `candidates` ≫ k the result equals exact search over that
    * query's probed lists. Duplicate query ids are refused (they
    * would silently merge candidate pools).
    *
    * Query sets past `maxQueries` are CHUNKED by the engine: the
    * query table splits into ≤ maxQueries passes and the union of
    * per-pass results is returned — exact, because per-query results
    * are independent (the cap stays the per-PASS broadcast bound).
    * Each pass's query vectors ride in their own broadcast, all of
    * which stay referenced by the returned plan, so total Q is still
    * driver-bounded: past `maxQueries × 256` passes the call refuses
    * loudly — an unbounded query stream belongs on
    * [[topKBatchStream]], which pays one pass per epoch.
    *
    * METADATA FILTERING (`allowed`): production retrieval is almost
    * always "top-k WHERE lang='en' AND split='train'". Pass the
    * filter-surviving id set (one column, the corpus ids that satisfy
    * the predicate — `corpus.filter(pred).select(id)`); it LEFT-SEMI
    * joins into the pruned codes scan BEFORE candidate ranking, so
    * every candidate slot and every returned row satisfies the
    * predicate — no over-fetch-and-post-filter. The re-rank pass
    * inherits the filter for free (its candidate set is already
    * filter-surviving). Catalyst picks broadcast vs shuffle semi-join
    * by the id set's size — a selective filter broadcasts, a
    * half-corpus filter shuffles once on id. RECALL CONTRACT: the
    * result is the exact top-k among filter-surviving rows WITHIN the
    * probed lists; a highly selective filter thins each probed list,
    * so raise nProbe to hold recall (the standard pre-filtered IVF
    * trade — filtering never widens the probe). */
  def topKBatch(queries: DataFrame, qidCol: String, qvecCol: String,
      path: String, cb: Pq.Codebooks, k: Int, nProbe: Int,
      candidates: Int, maxQueries: Int = MaxQueriesPerPass,
      allowed: Option[DataFrame] = None, maxPasses: Int = 256,
      storedFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(nProbe > 0, s"nProbe=$nProbe")
    require(k > 0, s"k=$k")
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    require(maxQueries > 0, s"maxQueries=$maxQueries")
    require(maxPasses > 0, s"maxPasses=$maxPasses")
    val spark = queries.sparkSession
    val qproj = queries
      .select(col(qidCol).cast("long").as("qid"),
        col(qvecCol).cast("array<double>").as("qvec"))
    // total cap in LONG — caller-supplied maxQueries*maxPasses can
    // overflow Int, which would break both the limit and the guard
    val capL = maxQueries.toLong * maxPasses
    def capMsg =
      s"topKBatch: more than maxQueries*maxPasses=$capL queries — " +
      "every pass's query vectors stay broadcast-referenced by the " +
      "returned plan, so total Q is driver-bounded; serve an unbounded " +
      "query stream with topKBatchStream (one pass per epoch) instead"
    def dupMsg =
      "topKBatch: duplicate query ids — each qid must be unique or the " +
      "per-query candidate pools silently merge"
    def dimCheck(qs: Array[(Long, Array[Double])]): Unit =
      qs.foreach { case (qid, v) => require(v.length == cb.dim,
        s"query $qid is ${v.length}-dim; index codebooks are ${cb.dim}-dim") }
    // qid-ONLY planning probe (8 B per query, ~8 MB at the 1M default
    // cap): the over-cap refusal fires BEFORE any query vector
    // materializes on the driver — the old full-row probe collected up
    // to ~0.5 GB of vectors just to refuse
    val probeLimit = (math.min(capL, Int.MaxValue.toLong - 1) + 1L).toInt
    val qidProbe = qproj.select("qid").limit(probeLimit)
      .collect().map(_.getLong(0))
    require(qidProbe.length.toLong <= capL, capMsg)
    require(qidProbe.nonEmpty, "topKBatch: empty query table")
    // the O(nLists) centroid table loads ONCE, shared by every pass
    val h = IvfIndex.open(spark, path)
    if (qidProbe.length <= maxQueries) {
      // single pass: one bounded (qid, qvec) collect; the guards
      // re-check the collected snapshot itself, so a source that grew
      // between probe and collect still refuses
      val qsAll: Array[(Long, Array[Double])] = qproj
        .limit(maxQueries + 1).collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      require(qsAll.length <= maxQueries,
        "topKBatch: query table grew past maxQueries mid-call")
      require(qsAll.nonEmpty, "topKBatch: empty query table")
      require(qsAll.map(_._1).distinct.length == qsAll.length, dupMsg)
      dimCheck(qsAll)
      topKBatchPass(spark, qsAll, h, cb, k, nProbe,
        candidates, allowed, storedFilter)
    } else {
      // engine-side chunking: per-query results are independent, so
      // the union of ≤ maxQueries passes IS the unchunked answer. The
      // query projection pins ONE executor-resident snapshot
      // (localCheckpoint) — every guard and every chunk fetch serves
      // the same rows (no TOCTOU between passes) — and the driver
      // plans chunks from a qid-only collect, fetching each chunk's
      // vectors separately: peak driver residency is one chunk of
      // vectors plus the pass broadcasts, never the whole query set
      // in row form
      val snap = qproj.localCheckpoint()
      val qids = snap.select("qid").collect().map(_.getLong(0))
      require(qids.length.toLong <= capL, capMsg)
      require(qids.distinct.length == qids.length, dupMsg)
      qids.sorted.grouped(maxQueries).map { chunkIds =>
        val chunk: Array[(Long, Array[Double])] = snap
          .filter(col("qid").isin(chunkIds.map(Long.box).toIndexedSeq: _*))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
        dimCheck(chunk)
        topKBatchPass(spark, chunk, h, cb, k, nProbe,
          candidates, allowed, storedFilter)
      }.reduce(_.unionByName(_))
    }
  }

  /** One ≤-maxQueries pass — the single-broadcast plan described on
    * [[topKBatch]], over an already-collected query snapshot. */
  private def topKBatchPass(spark: SparkSession,
      qs: Array[(Long, Array[Double])], h: IvfIndex.Handle, cb: Pq.Codebooks,
      k: Int,
      nProbe: Int, candidates: Int, allowed: Option[DataFrame],
      storedFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import spark.implicits._
    // per-query probed lists: Q × nLists × dim flops on the driver —
    // metadata-scale, same table the single-query path loads anyway
    val pairs: Array[(Long, Int)] = qs.flatMap { case (qid, v) =>
      h.probe(v, nProbe).map(list => (qid, list))
    }
    val unionLists = pairs.map(_._2).distinct.toIndexedSeq
    val bcQ = spark.sparkContext.broadcast(qs.toMap)
    val pairsDf = pairs.toSeq.toDF("qid", "list")
    // metadata filters BEFORE ranking so candidate slots are never
    // spent on filtered-out rows: stored-column predicate pushes into
    // the parquet scan; the id-set semi-join covers columns the build
    // did not store
    val filteredCodes = applyAllowed(applyStored(h.withoutTombstoned(
      h.read("pq_codes").filter(col("list").isin(unionLists: _*))),
      storedFilter), allowed)
    val scored = filteredCodes
      .join(broadcast(pairsDf), Seq("list"))
      .select(col("qid"), col("id"),
        graft.functions.GraftExpressions.pq_adc_score_set(
          col("qid"), col("codes"), bcQ, cb.codes, cb.subDim).as("adc_score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
    val cand = scored
      .withColumn("crnk", row_number().over(
        w.orderBy(col("adc_score").desc, col("id").asc)))
      .filter(col("crnk") <= candidates)
      .select("qid", "id")
    // the assignments side must tombstone-filter too: a candidate id
    // alive on the codes side may still have superseded VERSIONS here,
    // and the id join would pull their stale vectors into the re-rank
    val exact = h.withoutTombstoned(h.read("assignments")
        .filter(col("list").isin(unionLists: _*)))
      .join(broadcast(cand), Seq("id"))
      .select(col("qid").as("query_id"), col("id").as("neighbor_id"),
        graft.functions.GraftExpressions.dot_product_set(
          col("qid"), col("vec"), bcQ).as("score"))
    exact
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("neighbor_id").asc)).cast("long"))
      .filter(col("rnk") <= k)
      .select("query_id", "neighbor_id", "score", "rnk")
  }

  /** Streaming retrieval serving — the [[appendStream]]/[[
    * IncrementalSemanticDedup.dedupStream]] deployment shape applied
    * to the QUERY side: queries arrive as a stream, each micro-batch
    * is answered by one [[topKBatch]] pass against the frozen index,
    * and results land under `outPath/epoch=N`. Exactly-once across
    * restarts comes from PER-EPOCH OVERWRITE: a crash-replayed epoch
    * rewrites its own directory with identical rows instead of
    * appending duplicates (the idempotence the append-journal gives
    * writes, achieved here by output layout alone — results are a
    * pure function of the epoch's queries and the frozen index).
    * Empty micro-batches are skipped. Readers mount `outPath` as an
    * epoch-partitioned relation. */
  def topKBatchStream(queries: DataFrame, qidCol: String, qvecCol: String,
      path: String, cb: Pq.Codebooks, k: Int, nProbe: Int,
      candidates: Int, checkpointDir: String, outPath: String,
      maxQueries: Int = MaxQueriesPerPass,
      allowed: Option[DataFrame] = None,
      storedFilter: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        if (!df.isEmpty) {
          // both filter paths serve streaming: `allowed` (the id set)
          // is re-evaluated per epoch — a filter over a live corpus
          // table serves each epoch against the corpus state at that
          // epoch — and `storedFilter` pushes into the codes scan
          topKBatch(df, qidCol, qvecCol, path, cb, k, nProbe,
              candidates, maxQueries, allowed,
              storedFilter = storedFilter)
            .write.mode("overwrite").parquet(s"$outPath/epoch=$epoch")
          ()
        }
      }
      .start()

  def topKRerank(spark: SparkSession, path: String, cb: Pq.Codebooks,
      queryVec: Array[Double], k: Int, nProbe: Int,
      candidates: Int, allowed: Option[DataFrame] = None,
      storedFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(candidates >= k, s"candidates=$candidates must be >= k=$k")
    val h = IvfIndex.open(spark, path)
    val probed = h.probe(queryVec, nProbe)
    val cand = Pq.adcTopK(
      applyAllowed(applyStored(h.withoutTombstoned(
        h.read("pq_codes").filter(col("list").isin(probed.toIndexedSeq: _*))),
        storedFilter), allowed),
      "id", cb, queryVec, candidates).select("id")
    val q = array(queryVec.toIndexedSeq.map(lit): _*)
    val exact = expr(
      "aggregate(zip_with(vec, q, (x, y) -> x * y), 0D, (a, x) -> a + x)")
    h.withoutTombstoned(h.read("assignments")
      // candidate ids can only live in probed lists — the list filter
      // makes the pruning REAL (a bare id join would scan every
      // assignments partition and filter rows after the fact)
      .filter(col("list").isin(probed.toIndexedSeq: _*)))
      .join(broadcast(cand), Seq("id"))
      .withColumn("q", q)
      .withColumn("score", exact)
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
      .select("id", "score")
  }
}
