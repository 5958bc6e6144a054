package graft.operators

import graft.core.{GraftTable, TableConfig, TableServices}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental minhash-LSH dedup: the ingest-time shape of
  * [[Dedup.minhashLsh]]. The corpus's band signatures and shingle-hash
  * arrays persist as TWO graft tables (atomic commits, incremental
  * reads for free); each arriving batch dedups against everything seen
  * so far by joining its bands against the index — it never recomputes
  * or reshuffles the historical corpus.
  *
  * Per-batch cost at 100 TB:
  *  - the batch side is shingled/hashed once (O(batch));
  *  - cross-corpus candidates come from a STATS-PRUNED scan of the band
  *    index joined against the BROADCAST batch bands: the index is
  *    partitioned by band and (after [[compactStores]]) range-clustered
  *    by `bsig` with per-file min/max stats, so the scan lists only
  *    files whose bsig slice intersects the batch's signatures —
  *    IO O(colliding files) in the trickle-batch regime (batch sigs
  *    per band < files per band; sigs are uniform hashes, so a bigger
  *    batch's probe set covers every file range and the prune is
  *    bypassed above [[IncrementalDedup.MaxPruneBandSigs]] rather than
  *    paid for nothing) — and the corpus side streams map-side, no
  *    shuffle of it anywhere;
  *  - batch-internal candidates use the same guarded bucket expansion
  *    as the batch operator;
  *  - exact verification reads ONLY the candidate docs' hash arrays:
  *    candidate ids are collected (O(collisions), capped) and pushed
  *    through the same stats pruning on the id-clustered hash store —
  *    the fat `hashes` column is never scanned corpus-wide.
  *
  * Publish protocol (crash-safe, idempotent): bands first, hashes LAST
  * — the hash store is the commit point. Each store skips its insert
  * when its `_b` high-water mark already covers `batchNo`, so a re-run
  * after a crash between the two commits never double-inserts, and a
  * fully-published batch can be re-run (recovery) without corrupting
  * the union-equivalence contract. `batchNo` must be monotone.
  *
  * Equivalence contract (tested): running batches b₁…bₙ through
  * [[dedupBatch]] and unioning the outputs yields EXACTLY
  * `Dedup.minhashLsh(b₁ ∪ … ∪ bₙ)` as an unordered pair set — the
  * incremental path inherits the batch operator's oracle gate
  * transitively.
  */
class IncrementalDedup(spark: SparkSession, root: String,
    k: Int = 5, numHashes: Int = 128, numBands: Int = 32,
    threshold: Double = 0.7) {

  require(numBands > 0 && numHashes % numBands == 0,
    s"numBands=$numBands must divide numHashes=$numHashes")
  private val rowsPerBand = numHashes / numBands

  /** (id, hashes, _b) keyed by id — the per-doc shingle-hash arrays the
    * verification stage reads. Clustering lays files out by id range,
    * so the candidate-id point-set prune skips whole files at read
    * time (at real scale, size numBuckets for ~1 GB groups as usual). */
  val hashStore: GraftTable = GraftTable.create(spark, s"$root/hashes",
    TableConfig(name = "dedup_hashes", keyField = "id",
      orderingField = "_b", numBuckets = 2))

  /** (id, band, bsig, _b) keyed by id, partitioned by band — the LSH
    * index the cross-corpus candidate join scans. `bsig` is a stats
    * column: every file carries its bsig [min,max], which is what
    * makes the per-batch scan prunable once clustering has range-laid
    * each band partition by bsig. The key is `id`, NOT a synthetic
    * id:band concat — the index is append-only (bulk inserts, no
    * precombine), so per-row key uniqueness buys nothing, and a
    * unique-per-row concat STRING was the single widest column in the
    * store (unique values defeat dictionary encoding — measurably the
    * bulk of index bytes at the 100× scale point, paid again by every
    * candidate scan). Extra buckets per band would only multiply
    * files-per-commit (numBands × buckets × commits of tiny files
    * measurably dominated the per-batch cost). */
  val bandIndex: GraftTable = GraftTable.create(spark, s"$root/bands",
    TableConfig(name = "dedup_bands", keyField = "id",
      orderingField = "_b", partitionField = Some("band"), numBuckets = 1,
      statsColumns = Seq("bsig")))

  /** Fold the stores' accumulated per-commit files via the clustering
    * service — run periodically like any table maintenance. The hash
    * store clusters on its key (id); the band index clusters on `bsig`
    * WITHIN each band partition, so each rewritten file owns a narrow
    * contiguous bsig slice with tight min/max stats — the layout that
    * turns the per-batch index scan from O(corpus) IO into
    * O(files intersecting the batch's signatures). `targetFileBytes`
    * bounds rewritten file size (1 GiB default; tests shrink it to
    * force multi-file layouts). */
  def compactStores(targetFileBytes: Long = 1L << 30): Unit = {
    TableServices.cluster(hashStore, targetFileBytes = targetFileBytes)
    TableServices.cluster(bandIndex, targetFileBytes = targetFileBytes,
      sortCols = Seq("bsig"))
    ()
  }

  /** High-water `_b` from commit-log file stats — zero IO, no job. */
  private def lastPublished(t: GraftTable): Option[Long] = {
    val bs = t.log.liveFiles()
      .flatMap(_.stats.get("_b")).map(_.max).filter(_.nonEmpty)
    if (bs.isEmpty) None else Some(bs.map(_.toLong).max)
  }

  /** Dedup one arriving batch against everything ingested before it,
    * then fold the batch into the index. Returns verified near-dup
    * pairs (doc_a < doc_b) where at least one side is from this batch.
    * `batchNo` stamps the ordering field and MUST be monotone across
    * batches; re-running the latest `batchNo` is crash recovery (each
    * store skips its insert if it already holds the batch). */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      batchNo: Long): DataFrame = {
    val bandsDone = lastPublished(bandIndex).exists(_ >= batchNo)
    val hashesDone = lastPublished(hashStore).exists(_ >= batchNo)
    require(lastPublished(hashStore).forall(_ <= batchNo) &&
      lastPublished(bandIndex).forall(_ <= batchNo),
      s"batchNo=$batchNo is older than the stores' high-water mark " +
      s"(bands=${lastPublished(bandIndex)}, hashes=${lastPublished(hashStore)}) " +
      "— batch numbers must be monotone; only the LATEST batch may re-run")
    val withHashes = batch.select(col(idCol).as("id"),
        shingleHashes(col(textCol), k).as("hashes"))
      .persist()
    try {
      val sigs = withHashes
        .withColumn("sig", minhashSignature(col("hashes"), numHashes))
        .withColumn("band", explode(lshBands(col("sig"), numBands, rowsPerBand)))
        .select(col("id"), col("band.band").as("band"), col("band.sig").as("bsig"))
        .persist()
      try {
        // File pruning pays off in the POINT-LOOKUP regime: bsig values
        // are uniform hashes, so a file's [min, max] range can only be
        // missed when the batch probes FEWER sigs per band than the
        // band has files (small trickle batches against a big clustered
        // index — the steady-state ingest shape). A mega-batch's probe
        // set covers every file range, so collecting + sorting it would
        // be pure driver overhead — above the cap we skip straight to
        // the full scan, which is what the broadcast join streams
        // map-side anyway.
        // Driver-side (band → batch bsigs) map drives the file pruning.
        // O(batch × numBands) driver memory — bounded by the cap: ONE
        // limit(cap+1) collect both sizes the set and fetches it (a
        // cap+1-sized result means "too big", discard)
        val batchBands: Option[Map[String, Seq[String]]] = {
          val collected = sigs
            .select("band", "bsig").distinct()
            .limit(IncrementalDedup.MaxPruneBandSigs + 1).collect()
          if (collected.length > IncrementalDedup.MaxPruneBandSigs) None
          else Some(collected
            .groupBy(_.get(0).toString)
            .map { case (b, rows) => b -> rows.map(_.get(1).toString).toSeq })
        }
        // cross-corpus: historical index streams against the broadcast
        // batch bands — pair order is normalized with least/greatest
        // (arrival order ≠ id order). First batch: no history yet, so
        // candidates are batch-internal only (keeps id-type agnostic —
        // no hardcoded empty frame).
        val hasHistory = bandIndex.log.lastInstant().nonEmpty
        def cross = batchBands
          .map(m => bandIndex.readWhereIn("bsig", Nil, Some(m)))
          .getOrElse(bandIndex.read())
          .select(col("band"), col("bsig"), col("id").as("old_id"))
          .join(broadcast(
            sigs.select(col("band"), col("bsig"), col("id").as("new_id"))),
            Seq("band", "bsig"))
          .filter(col("old_id") =!= col("new_id"))
          .select(least(col("old_id"), col("new_id")).as("doc_a"),
            greatest(col("old_id"), col("new_id")).as("doc_b"))
        // batch-internal: the same guarded bucket expansion as
        // Dedup.minhashLsh (chunked, size-capped)
        val internal = Dedup.bucketPairs(
          sigs.groupBy("band", "bsig")
            .agg(sort_array(collect_list(col("id"))).as("ids"))
            .filter(size(col("ids")) > 1),
          "ids", "struct(__x AS doc_a, y AS doc_b)")
          .select(col("p.doc_a"), col("p.doc_b"))
        val candidates = (if (hasHistory) cross.union(internal) else internal)
          .distinct()
          .localCheckpoint() // materialized: read twice (ids + verify)
        // Exact verification touches ONLY candidate docs. Both sides of
        // every pair are candidate ids by construction, so the hash
        // store is read through the id point-set prune — O(collisions)
        // collected ids, capped; over the cap we fall back to the full
        // (unpruned, still correct) scan rather than OOM the driver.
        val nPairs = candidates.count()
        val newHashes = withHashes.select("id", "hashes")
        val allHashes =
          if (!hasHistory) newHashes
          else {
            val stored =
              if (2 * nPairs <= IncrementalDedup.MaxCollectedCandidateIds) {
                val candIds = candidates
                  .select(explode(array(col("doc_a"), col("doc_b"))).as("cid"))
                  .distinct().collect().map(_.get(0).toString).toSeq
                hashStore.readWhereIn("id", candIds)
              } else hashStore.read()
            // recovery re-run: the batch is already IN the store — the
            // store alone covers both pair sides; unioning newHashes
            // would duplicate ids and hence verified pairs
            if (hashesDone) stored.select("id", "hashes")
            else newHashes.unionByName(stored.select("id", "hashes"))
          }
        val verified = Dedup
          .jaccardOfCandidates(allHashes, candidates, threshold)
          .localCheckpoint()
        // fold the batch in AFTER querying (a batch never pairs with
        // itself through the index — internal pairs covered above).
        // Bands FIRST, hashes LAST: the hash store is the commit point,
        // and each insert is skipped if that store already holds the
        // batch (crash between the two commits → re-run repairs).
        if (!bandsDone) {
          bandIndex.bulkInsert(sigs.withColumn("_b", lit(batchNo)))
          ()
        }
        if (!hashesDone) {
          hashStore.bulkInsert(withHashes.withColumn("_b", lit(batchNo)))
          ()
        }
        verified
      } finally { sigs.unpersist(); () }
    } finally { withHashes.unpersist(); () }
  }
}

object IncrementalDedup {
  /** Above this many distinct (band, bsig) batch signatures the band
    * index is scanned whole instead of file-pruned: the collected probe
    * set is driver memory, and a batch that big covers every file
    * range anyway. */
  val MaxPruneBandSigs: Int = 250 * 1000

  /** Above this many candidate ids (2 per pair) the hash store is
    * scanned whole instead of id-pruned, so the driver never collects
    * an unbounded id set. */
  val MaxCollectedCandidateIds: Int = 2 * 1000 * 1000
}
