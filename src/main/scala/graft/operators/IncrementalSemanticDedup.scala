package graft.operators

import graft.core.{GraftTable, TableConfig}
import graft.functions.GraftExpressions.nearest_centroids
import graft.functions.VectorFunctions.cosine
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental SemDeDup — the ingest-time deployment shape of
  * [[SemanticDedup]] (Abbas et al. 2023), completing the dedup family:
  * every sibling already has an incremental twin ([[IncrementalDedup]]
  * for MinHash, [[IncrementalDsir]] for selection, [[IvfPq.append]]
  * for the vector index) while the batch operator had to recluster the
  * whole corpus per new crawl.
  *
  * The parts are the ones the batch operator already uses, composed
  * for per-batch work:
  *  - the coarse quantizer is FROZEN once ([[freeze]] — an
  *    [[IvfIndex]] built on the released/reference corpus, the same
  *    frozen-centroid contract as [[IvfPq.append]]); each batch
  *    assigns to it map-only via [[nearest_centroids]];
  *  - seen members persist in a graft table PARTITIONED BY list, so a
  *    batch reads only the clusters it probes (partition-pruned scan —
  *    the within-cluster candidate restriction realized as IO);
  *  - batch-vs-history candidates are one broadcast join of the batch
  *    against those pruned lists; batch-internal candidates reuse
  *    [[Dedup.bucketPairs]]' guarded expansion; exact cosine verifies
  *    candidates only;
  *  - duplicate groups extend via [[Dedup.connectedComponents]] over
  *    the batch's pairs plus (group_id ↔ member) label edges, so an
  *    arriving doc joins — or merges — existing groups exactly as the
  *    batch operator's transitive closure would.
  *
  * Per-batch cost: O(batch) assignment + O(batch × members-in-probed-
  * lists) comparisons (the paper's within-cluster work for the batch,
  * never the whole corpus) + O(collisions) group bookkeeping. History
  * is never rescanned or reclustered.
  *
  * Keep semantics under streaming: released docs stay released. A
  * batch doc connected to ANY history doc is dropped (its group's
  * representative is already out); a batch-only group applies the
  * paper rule (keep the member with the LOWEST cosine to its cluster
  * centroid, ties to lowest id). A history doc entering a group for
  * the first time is recorded keep=true — it was already released.
  * Consequence (intrinsic to any no-unrelease stream dedup): when a
  * late arrival BRIDGES two previously-separate groups, both old
  * keepers remain keep=true; with tight duplicate groups (all pairs ≥
  * threshold — the regime SemDeDup is published for) groups grow
  * monotonically, bridging cannot occur, and exactly one keeper per
  * group holds (spec-asserted).
  *
  * Equivalence contract (Round23Spec): with the quantizer frozen on
  * the union corpus, the union of per-batch [[dedupBatch]] pair
  * outputs EQUALS the batch operator's verified pair set, and the
  * verdict store's group partitions equal batch
  * [[SemanticDedup.verdicts]] — the incremental path inherits p27's
  * oracle gate transitively.
  *
  * Publish protocol (crash-safe, idempotent, the [[IncrementalDedup]]
  * pattern): verdicts first, members LAST — the member store is the
  * commit point, and history reads filter `_b < batchNo`, so a re-run
  * of the latest batch (crash recovery) recomputes against the same
  * pre-batch history and re-upserts identical verdicts. `batchNo`
  * must be monotone; ids must be globally unique across batches.
  */
class IncrementalSemanticDedup(spark: SparkSession, root: String,
    nClusters: Int = 8, threshold: Double = 0.95) {

  /** Every seen (id, vec, list, centroid_cos, _b), partitioned by
    * list: the per-cluster member state a batch compares against,
    * readable pruned to exactly the clusters the batch probes. */
  val members: GraftTable = GraftTable.create(spark, s"$root/members",
    TableConfig(name = "semdedup_members", keyField = "id",
      orderingField = "_b", partitionField = Some("list"), numBuckets = 1))

  /** Group verdicts keyed by vec_id — same columns as the batch
    * operator's output (vec_id, cluster, group_id, centroid_cos,
    * keep) plus the batch stamp; rows exist only for docs in some
    * duplicate group, exactly like [[SemanticDedup.verdicts]]. */
  val verdictStore: GraftTable = GraftTable.create(spark, s"$root/verdicts",
    TableConfig(name = "semdedup_verdicts", keyField = "vec_id",
      orderingField = "_b", numBuckets = 1))

  /** Where the frozen coarse quantizer lives. */
  def indexPath: String = s"$root/ivf"

  /** Train and freeze the coarse quantizer on a reference corpus (the
    * released corpus, or the first crawl) — the SemDeDup deployment
    * step. Refuses once members exist: assignments already persisted
    * against the old centroids would silently disagree with new ones;
    * retrain means rebuild (the [[IvfPq.append]] drift contract). */
  def freeze(reference: DataFrame, idCol: String, vecCol: String): IvfIndex.Meta = {
    require(members.log.lastInstant().isEmpty,
      s"member store at $root/members already holds batches — the frozen " +
      "quantizer cannot be replaced under persisted assignments; " +
      "rebuild the store to retrain")
    IvfIndex.build(reference, idCol, vecCol, nClusters, indexPath)
  }

  /** Drift of a batch against the frozen quantizer — the
    * [[IvfPq.append]] statistic for the dedup deployment: the batch's
    * mean squared-L2 assigned-centroid distance over the freeze-time
    * corpus mean. ~1.0 means the frozen lists still fit the incoming
    * distribution; a sustained rise (rule of thumb: > 1.5) says the
    * quantizer has drifted off the data and [[refreeze]] is the exit.
    * -1 when the index predates the baseline field. */
  def driftRatio(batch: DataFrame, vecCol: String): Double = {
    val meta = IvfIndex.meta(indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"no frozen quantizer at $indexPath — call freeze() first"))
    val table = IvfIndex.open(spark, indexPath).centroids
    val mean = batch.select(avg(graft.functions.GraftExpressions
        .nearest_centroid_dist(col(vecCol).cast("array<double>"), table)))
      .first().getDouble(0)
    if (meta.meanAssignDist > 0) mean / meta.meanAssignDist else -1.0
  }

  /** Drift-consuming retrain — the exit [[freeze]]'s refusal points
    * at: a curation team a year of crawls past the freeze has a
    * degrading quantizer; refreeze re-learns it from everything seen
    * WITHOUT losing a single released verdict.
    *
    *  - centroids re-train on the FULL member store via
    *    [[IvfIndex.build]] (bounded deterministic sample, the same
    *    training discipline as freeze — retrain is the rare
    *    corpus-scale op, and even it only samples);
    *  - members re-assign list-partitioned in one map-only pass and
    *    the member table is INSERT OVERWRITE'd (rows may change list
    *    partition — the overwrite IS the migration); per-row `_b`
    *    stamps are preserved, so the batch high-water mark and the
    *    `_b < batchNo` history reads are untouched;
    *  - the verdict store MIGRATES: each verdict row's `cluster` and
    *    `centroid_cos` update to the new quantizer, while `group_id`
    *    and `keep` are PRESERVED verbatim — re-clustering must never
    *    unrelease a kept doc or reshuffle group identity (groups are
    *    transitive-closure facts about pairwise cosine, which the
    *    quantizer does not define, only discovers).
    *
    * Idempotent: everything derives from the member store, so a crash
    * mid-refreeze (mixed index state) is repaired by re-running it.
    * Group DISCOVERY after refreeze follows the new lists: a pair the
    * old quantizer split across clusters (a miss SemDeDup accepts)
    * can be found for NEW arrivals under the new clustering — recall
    * moves toward the batch operator's, released verdicts stand. */
  def refreeze(): IvfIndex.Meta = {
    require(members.log.lastInstant().nonEmpty,
      s"member store at $root/members is empty — freeze() trains the " +
      "initial quantizer; refreeze() re-learns it from seen members")
    val seen = members.read().select(col("id"), col("vec"), col("_b"))
    val meta = IvfIndex.build(seen, "id", "vec", nClusters, indexPath)
    val centroidsDf = spark.read.parquet(s"$indexPath/centroids.parquet")
    val table = IvfIndex.open(spark, indexPath).centroids
    val reassigned = seen
      .withColumn("list", element_at(nearest_centroids(col("vec"), table, 1), 1))
      .join(broadcast(centroidsDf), Seq("list"))
      .withColumn("ccos", cosine(col("vec"), col("centroid")))
      .select("id", "vec", "list", "ccos", "_b")
    members.insertOverwriteTable(reassigned)
    if (verdictStore.log.lastInstant().nonEmpty) {
      val moved = members.read()
        .select(col("id").as("vec_id"), col("list").as("new_cluster"),
          col("ccos").as("new_ccos"))
      val migrated = verdictStore.read()
        .select(col("vec_id"), col("group_id"), col("keep"), col("_b"))
        .join(moved, Seq("vec_id"))
        .select(col("vec_id"), col("new_cluster").as("cluster"),
          col("group_id"), col("new_ccos").as("centroid_cos"),
          col("keep"), col("_b"))
      verdictStore.upsert(migrated)
      ()
    }
    meta
  }

  /** High-water `_b` from commit-log file stats — zero IO, no job. */
  private def lastPublished(t: GraftTable): Option[Long] = {
    val bs = t.log.liveFiles()
      .flatMap(_.stats.get("_b")).map(_.max).filter(_.nonEmpty)
    if (bs.isEmpty) None else Some(bs.map(_.toLong).max)
  }

  /** Dedup one arriving batch against everything seen before it, fold
    * it into the member store, and extend the verdict store. Returns
    * the batch's verified ≥threshold pairs (doc_a < doc_b, at least
    * one side from this batch) — the [[IncrementalDedup.dedupBatch]]
    * contract. */
  def dedupBatch(batch: DataFrame, idCol: String, vecCol: String,
      batchNo: Long): DataFrame = {
    require(IvfIndex.meta(indexPath).isDefined,
      s"no frozen quantizer at $indexPath — call freeze() first")
    val membersDone = lastPublished(members).exists(_ >= batchNo)
    require(lastPublished(members).forall(_ <= batchNo),
      s"batchNo=$batchNo is older than the member store's high-water mark " +
      s"(${lastPublished(members)}) — batch numbers must be monotone; " +
      "only the LATEST batch may re-run")
    val centroidsDf = spark.read.parquet(s"$indexPath/centroids.parquet")
    val table = IvfIndex.open(spark, indexPath).centroids
    val assigned = batch
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vec"))
      .withColumn("list", element_at(nearest_centroids(col("vec"), table, 1), 1))
      .join(broadcast(centroidsDf), Seq("list"))
      .withColumn("ccos", cosine(col("vec"), col("centroid")))
      .select("id", "vec", "list", "ccos")
      .persist()
    try {
      // the clusters this batch probes — ≤ nClusters values, collected
      // on the driver to drive partition pruning of the member scan
      val probedVals = assigned.select("list").distinct().collect()
        .map(_.get(0))
      val probedStr = probedVals.map(String.valueOf)
      val hasHistory = members.log.lastInstant().nonEmpty
      // history = persisted members of the probed lists only (partition-
      // pruned), from BEFORE this batch (`_b < batchNo` keeps a crash-
      // recovery re-run from pairing the batch against itself)
      def hist = members
        .readWhereIn("list", Nil, Some(probedStr.map(p => p -> Seq(p)).toMap))
        .filter(col("list").isin(probedVals.toIndexedSeq: _*))
        .filter(col("_b") < batchNo)
        .select(col("id"), col("vec"), col("list"), col("ccos"))
      def cross = hist
        .select(col("list"), col("id").as("old_id"), col("vec").as("ovec"))
        .join(broadcast(assigned
          .select(col("list"), col("id").as("new_id"), col("vec").as("nvec"))),
          Seq("list"))
        .filter(col("old_id") =!= col("new_id"))
        .filter(cosine(col("ovec"), col("nvec")) >= threshold)
        .select(least(col("old_id"), col("new_id")).as("doc_a"),
          greatest(col("old_id"), col("new_id")).as("doc_b"))
      // batch-internal: the batch operator's own list self-join shape
      // (pairs stream through the fused cosine filter; an array
      // expansion would copy O(members × dim) per anchor — see
      // SemanticDedup.verdicts)
      val internal = assigned
        .select(col("list"), col("id").as("id_a"), col("vec").as("va"))
        .join(assigned.select(col("list"), col("id").as("id_b"),
          col("vec").as("vb")), Seq("list"))
        .filter(col("id_a") < col("id_b"))
        .filter(cosine(col("va"), col("vb")) >= threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val pairs = ((if (hasHistory) cross.union(internal) else internal)
        .distinct()).localCheckpoint() // read many times below
      val nPairs = pairs.count()
      if (nPairs > 0) {
        val batchIds = assigned.select(col("id").as("doc_id"))
        val pairIds = pairs.select(col("doc_a").as("doc_id"))
          .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
        // history docs touched by this batch's pairs — O(collisions)
        val oldTouched = pairIds.join(batchIds, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        // their EXISTING verdict rows: point-pruned read when the
        // touched set collects under the cap, full store scan (still
        // O(near-dup docs), never O(corpus)) past it
        val store =
          if (verdictStore.log.lastInstant().isEmpty)
            None
          else if (2 * nPairs <= IncrementalSemanticDedup.MaxCollectedCandidateIds) {
            val ids = oldTouched.collect().map(_.get(0).toString).toSeq
            Some(verdictStore.readWhereIn("vec_id", ids))
          } else Some(verdictStore.read())
        val oldLabels = store
          .map(_.select(col("vec_id").as("doc_id"), col("group_id"))
            .join(oldTouched, Seq("doc_id")))
          .getOrElse(oldTouched.withColumn("group_id", col("doc_id")).limit(0))
          .localCheckpoint()
        // label edges pull each touched doc's WHOLE group (via its
        // canonical id) into the closure, so min-label propagation
        // lands on exactly the id batch-mode would pick
        val labelEdges = oldLabels.filter(col("doc_id") =!= col("group_id"))
          .select(col("group_id").as("doc_a"), col("doc_id").as("doc_b"))
        val comps = Dedup.connectedComponents(pairs.union(labelEdges))
          .localCheckpoint()
        // components holding ANY non-batch node already have a released
        // representative — every batch member of those drops
        val histComps = comps.join(batchIds, Seq("doc_id"), "left_anti")
          .select("cluster_id").distinct().withColumn("released", lit(true))
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("ccos").asc, col("doc_id").asc)
        val batchVerdicts = comps.join(batchIds, Seq("doc_id"))
          .join(histComps, Seq("cluster_id"), "left")
          .join(assigned.select(col("id").as("doc_id"), col("ccos"),
            col("list")), Seq("doc_id"))
          .withColumn("keep",
            col("released").isNull && row_number().over(w) === 1)
        // history docs entering a group for the FIRST time: already
        // released, recorded keep=true with their stored centroid_cos.
        // Guarded on hasHistory: with an empty member store there ARE
        // no history docs, and `hist` over a never-written table has
        // an empty schema (no `list` to resolve).
        def oldFirsts = oldTouched
          .join(oldLabels.select("doc_id"), Seq("doc_id"), "left_anti")
          .join(comps, Seq("doc_id"))
          .join(hist.select(col("id").as("doc_id"), col("ccos"), col("list")),
            Seq("doc_id"))
          .withColumn("keep", lit(true))
        // group merges / canonical-id changes: every store row whose
        // group_id moved is re-upserted under the new id (keep flags
        // untouched — merging cannot unrelease)
        val gidMoves = oldLabels.select(col("group_id").as("doc_id")).distinct()
          .join(comps, Seq("doc_id"))
          .filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("old_gid"), col("cluster_id").as("new_gid"))
          .localCheckpoint()
        // the moved-gid collect drives point pruning and is CAPPED like
        // the candidate-id collect above — past the cap the relabel
        // falls back to a full store scan + distributed join (still
        // O(near-dup docs), never a driver OOM); the join is the exact
        // filter either way
        val capInt = IncrementalSemanticDedup.MaxCollectedCandidateIds
        val movedGids = gidMoves.select("old_gid").limit(capInt + 1)
          .collect().map(_.get(0).toString).toSeq
        val relabeled =
          if (movedGids.isEmpty || store.isEmpty) None
          else {
            val src =
              if (movedGids.size <= capInt)
                verdictStore.readWhereIn("group_id", movedGids)
              else verdictStore.read()
            Some(src
              .join(gidMoves, col("group_id") === col("old_gid"))
              .select(col("vec_id").as("doc_id"), col("cluster"),
                col("new_gid").as("cluster_id"),
                col("centroid_cos").as("ccos"), col("keep")))
          }
        val fresh0 = batchVerdicts
          .select(col("doc_id"), col("list").as("cluster"), col("cluster_id"),
            col("ccos"), col("keep"))
        val fresh =
          if (!hasHistory) fresh0
          else fresh0.unionByName(oldFirsts.select(col("doc_id"),
            col("list").as("cluster"), col("cluster_id"), col("ccos"),
            col("keep")))
        val rows = relabeled.fold(fresh)(r =>
          // a row can be both relabeled and freshly grouped only if it
          // had a verdict already (then it's not in fresh) — the union
          // is disjoint by construction
          fresh.unionByName(r))
          .select(col("doc_id").as("vec_id"), col("cluster"),
            col("cluster_id").as("group_id"),
            col("ccos").as("centroid_cos"), col("keep"))
          .withColumn("_b", lit(batchNo))
        verdictStore.upsert(rows)
        ()
      }
      // member store LAST — the commit point (see publish protocol)
      if (!membersDone) {
        members.bulkInsert(assigned.withColumn("_b", lit(batchNo)))
        ()
      }
      pairs
    } finally { assigned.unpersist(); () }
  }

  /** Current survivors' view: every seen id with keep=false only for
    * docs a verdict dropped — the corpus a curation run would release.
    * Guarded for the duplicate-free start: a never-written verdict
    * store reads with an EMPTY schema, and filtering it on `keep`
    * would throw (the same empty-schema hazard `hist` documents). */
  def survivors(): DataFrame = {
    val seen = members.read().select(col("id").as("vec_id"))
    if (verdictStore.log.lastInstant().isEmpty) seen
    else seen.join(verdictStore.read().filter(!col("keep"))
      .select(col("vec_id")), Seq("vec_id"), "left_anti")
  }

  /** Streaming twin of [[dedupBatch]] — the [[IvfPq.appendStream]]
    * deployment shape applied to semantic dedup: each micro-batch is
    * deduped against everything seen before it, with `batchNo =
    * baseBatchNo + epoch` (checkpoint epochs are monotone per query,
    * so the [[dedupBatch]] monotonicity contract holds for free).
    *
    * Exactly-once: a crash-replayed epoch re-runs [[dedupBatch]] under
    * the SAME batchNo — the member store's high-water `_b` marks it as
    * the latest batch, so the re-run recomputes against pre-batch
    * history and re-upserts identical verdict rows (the crash-recovery
    * contract [[dedupBatch]] already specs). A RESET checkpoint
    * restarts epochs at 0, which the monotone require refuses LOUDLY —
    * resume with the original checkpoint, or pass `baseBatchNo` above
    * the member store's high-water mark to continue under fresh batch
    * numbers. Empty micro-batches are skipped (no empty commits, no
    * epoch-number gaps that matter — later epochs stay monotone). */
  def dedupStream(stream: DataFrame, idCol: String, vecCol: String,
      checkpointDir: String, baseBatchNo: Long = 0L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, epoch: Long) =>
        if (!df.isEmpty) { dedupBatch(df, idCol, vecCol, baseBatchNo + epoch); () }
      }
      .start()
}

object IncrementalSemanticDedup {
  /** Above this many touched ids (2 per pair) the verdict store is
    * scanned whole instead of id-pruned, so the driver never collects
    * an unbounded id set. */
  val MaxCollectedCandidateIds: Int = 2 * 1000 * 1000
}
