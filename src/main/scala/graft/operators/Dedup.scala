package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline (north-star
  * extensions, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine. Each returns a DataFrame of duplicate
  * groups or verified near-duplicate pairs.
  *
  * Scale design: every candidate-generation path is a key-equality
  * join on a *bounded-fanout* key (hash, band signature) — never an
  * all-pairs cross join — so shuffles stay O(candidates), and the
  * expensive exact verification runs only on candidates.
  */
object Dedup {

  /** Expand each LSH bucket's sorted element array into ordered pairs —
    * the shared candidate-expansion of [[minhashLsh]], [[simhashPairs]],
    * [[Similarity.lshCandidatePairs]] and
    * [[IncrementalDedup.dedupBatch]].
    *
    * Two memory disciplines, both for the pathological bucket (a large
    * near-dup/template mass sharing one band signature — NOT removed by
    * running [[exact]] first, since the docs need not be byte-identical):
    *  - the expansion is CHUNKED: one posexplode row per anchor element,
    *    each emitting only its O(n) tail slice — the largest single
    *    array value is the bucket itself, never the O(n²) flattened
    *    pair array of the naive `flatten(transform(...))` shape (which
    *    hits executor OOM / the 2 GB array limit first);
    *  - bucket size is capped (`spark.graft.lsh.maxBucketSize`, default
    *    100 000 — already 5×10⁹ candidate pairs): over-cap buckets fail
    *    with an actionable error instead of an opaque OOM, mirroring
    *    the MOR scan's "compact first" guards.
    *
    * `buckets` must carry a sorted array column `xs` (so pair order is
    * a < b by construction); `pairExpr` is a SQL struct over `__x` (the
    * anchor) and `y` (the tail element), e.g.
    * `struct(__x AS doc_a, y AS doc_b)`. */
  private[operators] def bucketPairs(buckets: DataFrame, xsCol: String,
      pairExpr: String): DataFrame = {
    val cap = buckets.sparkSession.conf
      .getOption("spark.graft.lsh.maxBucketSize").map(_.toInt).getOrElse(100000)
    buckets
      .withColumn("__xs",
        when(size(col(xsCol)) <= cap, col(xsCol)).otherwise(raise_error(concat(
          lit("LSH bucket holds "), size(col(xsCol)).cast("string"),
          lit(s" elements, over spark.graft.lsh.maxBucketSize=$cap (~"),
          (size(col(xsCol)).cast("long") * size(col(xsCol)) / 2L).cast("string"),
          lit(" candidate pairs): run Dedup.exact first to collapse " +
            "identical masses, use more bands/bits, or raise the cap")))))
      .select(posexplode(col("__xs")).as(Seq("__i", "__x")), col("__xs"))
      .select(explode(expr(
        s"transform(slice(__xs, __i + 2, size(__xs) - __i - 1), y -> $pairExpr)"
      )).as("p"))
  }

  /** Exact dedup: group by content hash, keep the smallest id as the
    * canonical representative. One shuffle on a 128-bit key; at 100 TB
    * the md5 aggregation is the textbook first pass before any fuzzy
    * stage. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct-shingle relation: (id, gram) with one row per distinct
    * k-shingle per doc. */
  private def shingleRel(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(wordShingles(col(textCol), k)).as("gram"))

  /** Exact n-gram Jaccard near-dup pairs: candidates share ≥1 shingle
    * (inverted-index join), then J = |∩| / |∪| exactly. Output:
    * (doc_a, doc_b, jaccard) with jaccard ≥ threshold.
    *
    * At 100 TB the shared-shingle join fans out on hot shingles — this
    * operator is the *verifier*; use [[minhashLsh]] for candidate
    * generation at scale. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, threshold: Double = 0.5): DataFrame = {
    val g = shingleRel(docs, idCol, textCol, k)
    val sizes = g.groupBy("id").agg(count(lit(1)).as("n"))
    jaccardOf(g, sizes, threshold)
  }

  /** Exact Jaccard from an intersection-count relation. */
  private def jaccardFrom(inter: DataFrame, sizes: DataFrame,
      threshold: Double): DataFrame =
    inter
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** All-pairs shared-shingle intersection (quadratic on hot shingles —
    * the exact/verifier path). */
  private def jaccardOf(g: DataFrame, sizes: DataFrame, threshold: Double): DataFrame = {
    val a = g.as("a")
    val b = g.as("b")
    val inter = a.join(b, col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
    jaccardFrom(inter, sizes, threshold)
  }

  /** Candidate-driven exact verification: join each candidate pair to
    * the two docs' (distinct) shingle-hash ARRAYS and compute
    * |∩| with a codegen'd array intersection — O(pairs × shingles)
    * compute, and the only shuffled relation is the candidate set
    * itself (small ⇒ broadcast under AQE; the per-doc array relation
    * streams through both joins unshuffled). This is what makes the
    * LSH path hold at 100 TB: the corpus-sized joins are all on
    * bounded-fanout band keys; exact Jaccard touches candidates only.
    * (The previous shape exploded every doc to one row per gram —
    * corpus × avg-shingles rows — and shuffled that relation twice;
    * at the 100× bench scale that was ~100M rows of pure join traffic
    * for a candidate set five orders of magnitude smaller.) */
  private[operators] def jaccardOfCandidates(withHashes: DataFrame,
      candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(withHashes.toDF("doc_a", "ha"), "doc_a")
      .join(withHashes.toDF("doc_b", "hb"), "doc_b")
      .withColumn("inter", size(array_intersect(col("ha"), col("hb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** MinHash + banded LSH near-dup pairs (Broder '97 / LSH banding):
    * signature of `numHashes` minhashes → `numBands` band keys →
    * candidates collide on ≥1 band → exact-Jaccard verify. With
    * 128/32×4 the collision probability at J=0.7 is ≈ 0.9998, so the
    * verified output matches the exact operator while scanning only
    * O(collisions) pairs — the 100 TB path. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 128, numBands: Int = 32,
      threshold: Double = 0.7): DataFrame = {
    // the documented collision probability is a function of EXACTLY
    // b bands × r rows = numHashes: a non-dividing band count would
    // silently drop signature tail hashes (recall loss with no error),
    // and numBands > numHashes degenerates to a constant band key
    // (whole corpus in one bucket)
    require(numBands > 0 && numHashes % numBands == 0,
      s"numBands=$numBands must divide numHashes=$numHashes")
    val rowsPerBand = numHashes / numBands
    // one shingle-hash pass feeds signatures, set sizes, AND the
    // verify relation (grams keyed by 64-bit hash — collision odds
    // ~|grams|²/2⁶⁵, immaterial); cached so the text is shingled once
    val withHashes = graft.util.Par.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shingleHashes(col(textCol), k).as("hashes"))
      .persist()
    try {
      val sigs = withHashes
        .withColumn("sig", minhashSignature(col("hashes"), numHashes))
        .withColumn("band", explode(lshBands(col("sig"), numBands, rowsPerBand)))
        .select(col("id"), col("band.band").as("band"), col("band.sig").as("bsig"))
      // Candidates via band BUCKETS, not a self-join: group the band
      // relation once, emit each bucket's id pairs with a sorted-array
      // expansion (doc_a < doc_b by construction). One shuffle of the
      // corpus×bands rows — the self-join shape shuffled it TWICE and
      // sort-merged 16M vs 16M rows at the 100× bench scale (25.8 s →
      // 5.4 s measured, identical output). Bucket width = docs sharing
      // a band signature ≈ near-dup group size; run [[exact]] first so
      // byte-identical masses never reach a bucket (the standard LSH
      // pipeline order, stated above).
      val candidates = bucketPairs(
        sigs.groupBy("band", "bsig")
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(col("ids")) > 1),
        "ids", "struct(__x AS doc_a, y AS doc_b)")
        .select(col("p.doc_a"), col("p.doc_b"))
        .distinct()
      // materialize before unpersisting the cache
      jaccardOfCandidates(withHashes.select("id", "hashes"), candidates, threshold)
        .localCheckpoint()
    } finally withHashes.unpersist()
  }

  /** SimHash near-dup pairs (Charikar 2002 / Manku et al. 2007
    * pigeonhole banding): per-doc fingerprints via `fingerprint`
    * (default: the fast native-vote 64-bit xxhash64 simhash),
    * candidates share one of `numBands` `bandBits`-bit bands, emit
    * pairs with hamming distance ≤ maxHamming. Banding is
    * pigeonhole-COMPLETE when maxHamming < numBands (≤ numBands-1 bit
    * flips leave ≥ 1 band untouched) — equal to the all-pairs answer
    * by construction; that precondition is enforced unless the caller
    * opts into recall mode with `requireComplete = false` (candidates
    * must then share a full band by chance, so recall < 1 — useful for
    * wide-radius sweeps where completeness would need too many bands).
    * Output: (doc_a, doc_b, hamming).
    *
    * The p4 oracle gate runs THIS operator with
    * [[graft.functions.TextFunctions.simhashMd5_60]] injected
    * (60-bit md5-feature fingerprint, 4×15 bands) so DuckDB can
    * recompute identical fingerprints; production keeps the
    * xxhash64 default. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      fingerprint: Column => Column = simhash64,
      numBands: Int = 4, bandBits: Int = 16,
      requireComplete: Boolean = true): DataFrame = {
    // pigeonhole completeness requires ≤ numBands-1 flipped bits to
    // leave one band untouched; violating callers would silently lose
    // the recall guarantee the docstring promises, so fail loudly
    // unless they explicitly opted into recall mode
    require(!requireComplete || maxHamming < numBands,
      s"simhash banding is only complete for maxHamming < numBands " +
        s"(got maxHamming=$maxHamming, numBands=$numBands); pass " +
        s"requireComplete=false to accept partial recall")
    require(numBands > 0 && bandBits > 0 && numBands * bandBits <= 64,
      s"bands must tile a ≤64-bit fingerprint (numBands=$numBands × bandBits=$bandBits)")
    val sigs = docs.select(col(idCol).as("id"), fingerprint(col(textCol)).as("sim"))
    val banded = sigs.withColumn("band",
        explode(simhashBands(col("sim"), numBands, bandBits)))
      .select(col("id"), col("sim"), col("band.band").as("band"), col("band.sig").as("bsig"))
    // band buckets + sorted pair expansion, not a self-join — same
    // restructure as [[minhashLsh]]: one shuffle of the band relation
    // instead of two plus a sort-merge. Identical pair set.
    bucketPairs(
      banded.groupBy("band", "bsig")
        .agg(sort_array(collect_list(struct(col("id"), col("sim")))).as("xs"))
        .filter(size(col("xs")) > 1),
      "xs", """struct(__x.id AS doc_a, y.id AS doc_b,
              |       __x.sim AS sim_a, y.sim AS sim_b)""".stripMargin)
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.sim_a").bitwiseXOR(col("p.sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Duplicate *clusters* from near-dup pairs: connected components by
    * min-label propagation WITH POINTER JUMPING — each round every node
    * adopts min(own label, neighbours' labels) and then follows its
    * label's label (path halving), so convergence is O(log diameter)
    * rounds, not O(diameter) (the hooking/jumping family of parallel CC
    * algorithms — Shiloach–Vishkin '82; Kiveris et al. "Connected
    * Components in MapReduce", SoCC'14 reach the same bound via
    * large-star/small-star). A 10⁶-node path graph converges in ~20
    * rounds; plain relaxation would need 10⁶. Returns
    * (doc_id, cluster_id) for every doc that appears in at least one
    * pair; cluster_id = smallest doc id in the component.
    *
    * If the loop exhausts `maxIterations` with labels still moving the
    * call THROWS rather than returning split clusters — silent
    * under-dedup corrupts every downstream keep-best/histogram; with
    * jumping the default 50 covers diameters past 2⁵⁰, so hitting the
    * cap means something is genuinely wrong. */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 50): DataFrame = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .persist()
    // convergence is tallied by an accumulator folded into the label
    // materialization itself — one job per iteration, not a separate
    // old-vs-new join + count() (which re-scanned the full label set).
    // Accumulators in actions are not exactly-once under task retries,
    // so the tally may OVER-count; that is deliberately tolerated — the
    // value is only compared to zero, so the worst case is one extra
    // (already-converged) iteration, never a wrong result. Do not
    // "fix" this into an exact count something downstream depends on.
    val changedAcc = pairs.sparkSession.sparkContext
      .longAccumulator("graft.cc.changed")
    try {
      // Every iteration ends in an EAGER localCheckpoint: the label
      // relation is referenced multiple times per round (neighbour
      // join + the jump self-join), so without lineage truncation the
      // logical plan TREE doubles per round — treeString/cachedName
      // render it exponentially and OOM the driver long before the
      // data does. Checkpointing makes the per-round plan constant
      // size; the blocks of superseded rounds are reclaimed by the
      // ContextCleaner once unreferenced.
      var labels = edges.groupBy(col("a").as("doc_id"))
        .agg(min(col("b")).as("minb"))
        .select(col("doc_id"),
          least(col("doc_id"), col("minb")).as("cluster_id"))
        .localCheckpoint()
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIterations) {
        // (1) edge relaxation: each node adopts min(own label,
        // neighbours' labels). Persisted because the jump below reads
        // it twice (as itself and as the node→label lookup side).
        val viaNeighbors = edges
          .join(labels.select(col("doc_id").as("b"), col("cluster_id")), Seq("b"))
          .groupBy(col("a").as("doc_id"))
          .agg(min(col("cluster_id")).as("n_label"))
        val relaxed = labels.join(viaNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("n_label"), col("cluster_id")))
              .as("relab"),
            col("cluster_id").as("old"))
          .persist()
        // (2) pointer jump (path halving): adopt the label OF the
        // label. Every label value is itself a node id in `relaxed`
        // (labels are mins over node ids of the same component), so
        // the left join always hits; coalesce is belt-and-braces.
        // This is what turns O(diameter) into O(log diameter).
        val next = relaxed.join(
            // node → its label, keyed for the lookup; doc_id is unique
            // (it comes out of a groupBy) so this side needs no agg
            relaxed.select(col("doc_id").as("relab"), col("relab").as("hop")),
            Seq("relab"), "left")
          .select(col("doc_id"),
            least(col("relab"), coalesce(col("hop"), col("relab")))
              .as("cluster_id"),
            (least(col("relab"), coalesce(col("hop"), col("relab")))
              < col("old")).as("_changed"))
          .localCheckpoint() // eager: materializes + truncates lineage
        val before = changedAcc.value
        next.foreach(r => if (r.getAs[Boolean]("_changed")) changedAcc.add(1L))
        changed = changedAcc.value - before
        relaxed.unpersist()
        labels = next
        iter += 1
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"connectedComponents did not converge within $maxIterations " +
            "pointer-jumping iterations (labels were still moving). " +
            "With path halving this covers component diameters past " +
            "2^maxIterations, so the input pair graph is pathological " +
            "or corrupt; raise maxIterations only after understanding why.")
      labels.select("doc_id", "cluster_id")
    } finally edges.unpersist()
  }

  /** Canonical selection (dedup keep-best): given near-dup `pairs`
    * (e.g. from [[minhashLsh]]), cluster them with
    * [[connectedComponents]] and keep ONE representative per cluster —
    * the doc with the most whitespace tokens, ties to the smallest id
    * (the "keep the longest version" policy of training-data dedup;
    * docs in no pair are their own singleton cluster). Output: one row
    * per cluster `(cluster_id, keep_id, keep_tokens, n_members)`.
    *
    * Scale shape: the cluster labels relation is O(docs that appear in
    * a near-dup pair) — tiny next to the corpus, so the left join
    * broadcasts under AQE; the corpus then shuffles ONCE on cluster_id,
    * and the row_number window and the final aggregate share that one
    * exchange (singleton clusters are size-1 groups — no skew). */
  def keepBest(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs)
    val scored = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val labeled = scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    labeled.withColumn("__rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(max(when(col("__rn") === 1, col("doc_id"))).as("keep_id"),
        max(when(col("__rn") === 1, col("n_tokens"))).as("keep_tokens"),
        count(lit(1)).as("n_members"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold. Exact all-pairs via
    * a block-nested join — kept for oracle verification and small dims;
    * [[Similarity.lshCandidatePairs]] is the bucketed scale path.
    * The streamed side is repartitioned to the session default so the
    * O(N²) condition evaluation uses every core (a small parquet
    * corpus arrives in 1-3 partitions, which serialized the join), and
    * the cosine is the native [[graft.functions.CosineSim]] — as a
    * BroadcastNestedLoopJoin condition it evaluates O(N²) times, where
    * the interpreted HOF tree was measured 50×+ slower. */
  def embeddingCosinePairs(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    val shufflePartitions = embs.sparkSession.sessionState.conf.numShufflePartitions
    val a = embs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .repartition(shufflePartitions)
    val b = embs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Exact TF-cosine near-dup pairs over the k-word-shingle term space
    * — the weighted all-pairs similarity operator (Bayardo '07 shape):
    * each document is a sparse term-frequency vector over its
    * k-shingles, and a pair is emitted when cos(a, b) ≥ num/den.
    *
    * The term space is restricted to shingles with document frequency
    * ≤ `maxDf` (vectorization AND similarity — boilerplate shingles in
    * more than `maxDf` docs carry no near-dup signal and are exactly
    * the terms that blow up an inverted index). Under that definition
    * candidate generation via the inverted index is COMPLETE: any pair
    * with a nonzero dot product shares a kept term, so no
    * approximation is involved — the oracle recomputes the same
    * similarity over all pairs and must match exactly.
    *
    * Engine-portable exactness (the p30 discipline): every statistic
    * is an integer — tf, dot = Σ tf_a·tf_b, |a|² = Σ tf² — summed in
    * DECIMAL(38,0) (order-independent, overflow-safe far past the
    * int64 ~50k-shingles-per-doc bound), the threshold decision is the
    * integer-domain cross-multiplication den²·dot² ≥ num²·|a|²·|b|²
    * (zero float sensitivity at the boundary), and only the reported
    * `cos2` = dot²/(|a|²·|b|²) is a single exact-over-exact double
    * division. sqrt/log never enter the gate.
    *
    * Plan shape at 100 TB: shingle explode → one (id, term) shuffle
    * with map-side combine for tf → ONE term shuffle that computes
    * document frequency and the inverted list together, with the
    * df ≤ maxDf cut as a filter on that relation (no separate stop
    * pass, no anti-join — boilerplate terms die where they are
    * counted); per-term fanout is then capped at maxDf elements
    * (≤ maxDf²/2 pairs per term, and [[bucketPairs]]' chunked
    * expansion + size guard apply); one (id_a, id_b) shuffle sums the
    * dot; norms re-derive from the kept inverted lists (one id
    * shuffle of the same relation) and join only the thresholdable
    * pair relation. The corpus is scanned and shingled exactly once;
    * nothing corpus-sized is ever self-joined raw.
    *
    * Why NOT Bayardo prefix filtering here (tried and reverted, round
    * 11): for weighted cosine the Cauchy–Schwarz prefix is every rank
    * whose tf² tail ≥ t²·|a|² — at t = 0.6 that is the first 64% of
    * each vector's mass, so candidates barely shrink, and finishing
    * candidates exactly then needs a (pair × full-vector) probe join
    * whose row count is Σ_pairs |a| — measured at the 100× corpus it
    * spilled past 70 GB of local disk and aborted, vs 73 s complete
    * for this formulation. [[containmentPairs]] is where the prefix
    * trick pays (threshold against the SMALLER set ⇒ prefix length
    * ⌊(1−t)·|a|⌋+1 ≈ 2 terms): same idea, opposite economics. */
  def tfCosinePairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, thresholdNum: Int = 3, thresholdDen: Int = 5,
      maxDf: Int = 64): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen, s"threshold $thresholdNum/$thresholdDen")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    // The corpus is shingled ONCE: the single term-keyed aggregation
    // computes the document frequency AND the inverted list together,
    // so the df cut is a filter on that relation — no separate stop-set
    // pass, no anti-join, no second corpus scan (the first draft's
    // stop-set broadcast + per-consumer recompute measured ~2× slower).
    // Norms then derive from the df-filtered inverted lists themselves.
    //
    // Numeric layout (round-13 measurement: ~1.2-1.4× on the whole
    // pipeline at 10×/100×): every CORPUS-SIZED relation — the term
    // relation, the inverted lists, the expanded pair relation —
    // carries tf as LONG (8-byte, codegen-friendly); only the
    // aggregation buffers sum in DECIMAL(38,0). The per-element
    // products tf·tf stay exact while tf ≤ ~3·10⁹ (a single document
    // would need three billion occurrences of ONE shingle to overflow
    // — orders of magnitude past any real document, and `tf` is a row
    // count so it cannot exceed the doc's length); the decimal SUMS
    // keep the totals overflow-safe exactly as before, and summing
    // exact longs into decimal yields bit-identical results to the
    // all-decimal formulation.
    // Term identity is the shingle's xxhash64 (the minhashLsh
    // convention): the shingle STRING dies inside the map-side partial
    // aggregate and only (id, 8-byte hash, count) ever crosses the
    // network. On local[32] this measures neutral (the "shuffle" is
    // memory-local, so ~20-byte strings vs 8-byte longs costs nothing
    // observable — profiled round 13); the win this buys is CLUSTER
    // network/spill bytes, the same lower-bound argument as the SPJ
    // isolation in BASELINE.md. A 64-bit collision would merge two
    // shingles' postings; at 2⁻⁶⁴ pair probability the p1-p3 stack
    // already accepts this trade, and the sf0.01 oracle (string
    // identity) stays green.
    val terms = graft.util.Par.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        explode(wordShinglesAll(col(textCol), k)).as("term"))
      .groupBy(col("id"), xxhash64(col("term")).as("term"))
      .agg(count(lit(1)).as("tf"))
    val buckets = terms.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sort_array(collect_list(struct(col("id"), col("tf")))).as("xs"))
      .filter(col("df") <= maxDf)
      .persist()
    try {
      val norms = buckets
        .select(explode(col("xs")).as("e"))
        .groupBy(col("e.id").as("id"))
        .agg(sum((col("e.tf") * col("e.tf")).cast(dec)).as("n2"))
      val dots = bucketPairs(buckets.filter(size(col("xs")) >= 2), "xs",
          "struct(__x.id AS id_a, __x.tf AS tf_a, y.id AS id_b, y.tf AS tf_b)")
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
          (col("p.tf_a") * col("p.tf_b")).as("prod"))
        .groupBy("id_a", "id_b").agg(sum(col("prod").cast(dec)).as("dot"))
      val num2 = lit(thresholdNum.toLong * thresholdNum).cast(dec)
      val den2 = lit(thresholdDen.toLong * thresholdDen).cast(dec)
      dots
        .join(norms.select(col("id").as("id_a"), col("n2").as("n2_a")), "id_a")
        .join(norms.select(col("id").as("id_b"), col("n2").as("n2_b")), "id_b")
        .filter(den2 * col("dot") * col("dot") >=
          num2 * col("n2_a") * col("n2_b"))
        // exact decimal products, ONE rounding each at the double cast,
        // then a single correctly-rounded division — bit-identical to the
        // oracle's HUGEINT products (double-first multiplication would
        // round twice and disagree past 2^53)
        .select(col("id_a"), col("id_b"),
          ((col("dot") * col("dot")).cast("double") /
            (col("n2_a") * col("n2_b")).cast("double")).as("cos2"))
        .localCheckpoint() // materialize before unpersisting
    } finally buckets.unpersist()
  }

  /** Exact shingle-CONTAINMENT near-dup pairs — the asymmetric
    * complement of Jaccard (Broder '97 distinguishes resemblance from
    * containment): a pair is emitted when the smaller document's kept
    * shingle set is ≥ num/den contained in the other's,
    * C(a,b) = |S'(a) ∩ S'(b)| / min(|S'(a)|, |S'(b)|) — the signal
    * that catches a quote or excerpt embedded in a larger page, which
    * symmetric Jaccard dilutes below any usable threshold.
    *
    * Term space: distinct k-shingles with document frequency ≤ `maxDf`
    * (the p36/tfCosinePairs discipline — the cut is part of the
    * operator's semantics, applied identically by the oracle, and it
    * is what makes inverted-index candidate generation COMPLETE: any
    * pair with a nonzero intersection shares a kept shingle).
    *
    * Exactness: intersection and set sizes are integers; the
    * threshold is the integer cross-multiplication den·|∩| ≥
    * num·min(|a|,|b|); the reported containment is one exact-int
    * double division. No float enters the decision.
    *
    * Plan shape at 100 TB: shingle-explode → ONE term-keyed shuffle
    * building df + inverted list together (df cut filters in place),
    * chunked [[bucketPairs]] expansion capped at maxDf elements per
    * term, one (id_a, id_b) shuffle counting the intersection, sizes
    * re-derived from the kept lists. The corpus is shingled once;
    * nothing corpus-sized is self-joined raw. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, thresholdNum: Int = 4, thresholdDen: Int = 5,
      maxDf: Int = 64): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 &&
      thresholdNum <= thresholdDen, s"threshold $thresholdNum/$thresholdDen")
    // xxhash64 term identity, the p3/p36 convention: the shingle
    // string dies map-side, only 8-byte hashes reach the term shuffle
    // (cluster network-bytes win; collision odds 2⁻⁶⁴ per pair).
    //
    // PREFIX FILTERING (Chaudhuri/Bayardo '06-'07 family): rank each
    // doc's kept terms by the global (df ASC, term) order; the PREFIX
    // of doc x is its first  n_x − ⌈t·n_x⌉ + 1  rarest terms. A
    // qualifying pair (s, l) with (n_s, id_s) < (n_l, id_l) needs
    // |∩| ≥ ⌈t·n_s⌉; if l shared NO prefix term of s, the overlap
    // would fit inside s's suffix: |∩| ≤ n_s − plen_s = ⌈t·n_s⌉ − 1 —
    // contradiction. So candidates = (prefix occurrence of the
    // size-smaller doc) × (any occurrence), COMPLETE, and the
    // boilerplate-heavy high-df terms mostly sit in suffixes where
    // they generate nothing — the df² expansion collapses to
    // |prefix postings| · df per term. The threshold decision is
    // unchanged integer cross-multiplication; prefix lengths are the
    // exact integer ⌈⌉ via (num·n + den − 1) DIV den, so no float
    // enters candidate generation either.
    val kept = graft.util.Par.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        explode(wordShingles(col(textCol), k)).as("term"))
      .groupBy(xxhash64(col("term")).as("term"))
      .agg(count(lit(1)).as("df"), collect_list(col("id")).as("ids"))
      .filter(col("df") <= maxDf)
      .select(col("term"), col("df"), explode(col("ids")).as("id"))
    // one id-shuffle: rank within doc by global rarity AND size n;
    // the groupBy(id) for the verification vectors below reuses this
    // partitioning (no second exchange on id)
    val wId = Window.partitionBy("id")
    val wRank = wId.orderBy(col("df"), col("term"))
    val marked = kept
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wId))
      .withColumn("pfx", col("rnk") <=
        col("n") - expr(s"($thresholdNum * n + ${thresholdDen - 1}) " +
          s"DIV $thresholdDen") + 1)
      .persist()
    try {
      // verification vectors: each doc's full kept-term set + size
      val vecs = marked.groupBy("id")
        .agg(collect_list(col("term")).as("ts"), count(lit(1)).as("n"))
      // candidate generation: per term, (size, id)-sorted postings;
      // anchors restricted to prefix occurrences, tails chunked per
      // anchor (the bucketPairs memory discipline — one O(df) slice
      // per row, never a flattened O(df²) array)
      val cands = marked
        .groupBy("term")
        .agg(sort_array(collect_list(
          struct(col("n"), col("id"), col("pfx")))).as("xs"))
        .filter(size(col("xs")) >= 2)
        .select(col("xs"), posexplode(expr("filter(xs, e -> e.pfx)"))
          .as(Seq("__i", "__x")))
        .select(explode(expr(
          "transform(filter(xs, y -> y.n > __x.n OR (y.n = __x.n AND y.id > __x.id)), " +
            "y -> struct(__x.id AS id_a, y.id AS id_b))")).as("p"))
        .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .distinct()
      cands
        .join(vecs.select(col("id").as("id_a"), col("ts").as("ts_a"),
          col("n").as("n_a")), "id_a")
        .join(vecs.select(col("id").as("id_b"), col("ts").as("ts_b"),
          col("n").as("n_b")), "id_b")
        .withColumn("inter",
          size(array_intersect(col("ts_a"), col("ts_b"))).cast("long"))
        .filter(col("inter") * thresholdDen >=
          least(col("n_a"), col("n_b")) * thresholdNum)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"),
          (col("inter").cast("double") /
            least(col("n_a"), col("n_b")).cast("double")).as("containment"))
        .localCheckpoint() // materialize before unpersisting
    } finally marked.unpersist()
  }

  /** Line-level dedup (CCNet-style boilerplate removal, Wenzek '19):
    * drop every line that appears in ≥ `minDocFraction` of the corpus'
    * documents — headers, footers, nav bars, cookie banners — and
    * reassemble each document from its surviving lines in original
    * order. `delimiter` is the segment boundary ("\n" for real text;
    * the synthetic gate corpus has no newlines, so p32 exercises the
    * operator at token granularity with " ").
    *
    * Plan shape at 100 TB: explode → one line-hash shuffle with
    * map-side combine for the document-frequency count (count of
    * DISTINCT docs per line via a pre-distinct, itself map-side
    * combined), the boilerplate set broadcast back against the
    * exploded corpus (it is df-bounded: lines in ≥ f·N docs number at
    * most totalLines/(f·N)), then one doc_id shuffle to reassemble.
    * No self-join, nothing corpus-sized crosses the network twice.
    *
    * Output: (id, clean_text, kept_lines) — documents whose every line
    * was boilerplate disappear (nothing left to emit).
    *
    * `minDocs` is the absolute DF threshold — callers with a fraction
    * in mind derive it from a metadata-only count
    * (Tables.footerRowCount), not a corpus scan. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
      delimiter: String, minDocs: Long): DataFrame = {
    val lines = docs.select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(delimiter)))
          .as(Seq("pos", "line")))
    // document frequency: distinct (line, id) first so multiple
    // occurrences inside one doc count once
    val boilerplate = lines.select("line", "id").distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("line")
    val kept = lines.join(broadcast(boilerplate), Seq("line"), "left_anti")
    kept.groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line")), delimiter).as("clean_text"),
        count(lit(1)).as("kept_lines"))
  }

  /** Exact shared verbatim SPANS between document pairs — the
    * suffix-array "ExactSubstr" dedup family (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"),
    * re-expressed as a diagonal-run scan that Spark can distribute:
    *
    *  1. positional k-gram relation: (id, pos, gram) — one row per
    *     token position, gram = the k tokens starting there;
    *  2. df-cap: grams occurring more than `maxDf` times corpus-wide
    *     are dropped (stop-phrase fanout guard — under-detection
    *     only). NOTE the precise shape of the recall loss: a dropped
    *     gram in the MIDDLE of a long copied span splits its diagonal
    *     run, and if both islands fall below `minTokens` the whole
    *     span is missed — not just spans made entirely of ubiquitous
    *     grams. Size `minTokens`/`maxDf` with that in mind (larger
    *     maxDf or smaller minTokens narrows the gap);
    *  3. candidate join on a compact 64-bit gram hash, re-checked on
    *     the gram string so a hash collision can never fabricate a
    *     match;
    *  4. run detection: matched positions with equal diagonal
    *     (posA − posB) and consecutive posA form one verbatim run of
    *     (grams + k − 1) tokens — grouped with the classic
    *     pos − row_number() island trick, windowed per (pair,
    *     diagonal), which is bounded by document length, never corpus
    *     size.
    *
    * Output: (id_a, id_b, span_tokens, n_spans) for pairs whose
    * longest shared run ≥ `minTokens` — id_a < id_b, span_tokens =
    * the longest run, n_spans = how many distinct qualifying runs.
    * One gram-key shuffle + one bounded window; no all-pairs product.
    * Set-overlap dedup ([[ngramJaccardPairs]], [[containmentPairs]])
    * scores WHOLE documents; this finds the copied PASSAGE inside
    * otherwise-different documents — the contract the suffix-array
    * method targets. */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minTokens: Int = 20, maxDf: Int = 64): DataFrame = {
    require(k >= 2 && minTokens >= k,
      s"need k >= 2 and minTokens >= k, got k=$k minTokens=$minTokens")
    // spread: gram-string construction + xxhash64 per token position is
    // the scan-fused CPU wall on narrow inputs (see Par.spread)
    val grams = graft.util.Par.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), split(col(textCol), "\\s+").as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${k - 1}), " +
        s"i -> struct(i AS pos, array_join(slice(toks, i, $k), ' ') AS gram))"))
        .as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.gram").as("gram"),
        xxhash64(col("g.gram")).as("gh"))
    val rare = grams.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("gh")
    val capped = grams.join(rare, Seq("gh"))
    val matches = capped.as("x").join(capped.as("y"),
        col("x.gh") === col("y.gh") && col("x.id") < col("y.id") &&
          col("x.gram") === col("y.gram"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.pos").as("pos_a"),
        (col("x.pos") - col("y.pos")).as("diag"))
      .distinct()
    val w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    matches
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "grp")
      .agg((count(lit(1)) + lit(k - 1)).as("run_tokens"))
      .filter(col("run_tokens") >= minTokens)
      .groupBy("id_a", "id_b")
      .agg(max(col("run_tokens")).as("span_tokens"),
        count(lit(1)).as("n_spans"))
  }

  /** ExactSubstr excision (Lee et al. '22, "Deduplicating Training Data
    * Makes Language Models Better"): REMOVE every duplicated verbatim
    * token window from the corpus, keeping only its first occurrence —
    * the cutting half of the family whose detection half is
    * [[sharedSpanPairs]]. Where the paper builds a corpus-wide suffix
    * array, the Spark-shaped equivalent is positional L-token windows
    * grouped corpus-wide: a token run of length ≥ L is duplicated iff
    * every L-window inside it is, so excising all non-first duplicated
    * windows removes exactly the duplicated runs (to window
    * granularity) and nothing else.
    *
    * Semantics (deterministic, engine-independent):
    *  - every position i of doc d with ≥ L whitespace tokens carries
    *    the window `toks[i..i+L-1]`;
    *  - an occurrence (d, i) is excised iff its window occurs elsewhere
    *    in the corpus and (d, i) is not the lexicographically smallest
    *    (id, pos) occurrence — the keep-first rule, which also removes
    *    INTRA-doc repetition (the second copy inside one doc);
    *  - excised windows are unioned into maximal spans per doc and the
    *    covered tokens dropped; docs with nothing removed are omitted.
    *
    * Scale shape: ONE term shuffle of (id, pos, md5-128(window)) — the
    * window text itself never crosses the network; per-window stats
    * (count, first occurrence) come from a partial-aggregating groupBy
    * (skew-safe: a boilerplate mega-window combines map-side), and the
    * flag join back to positions is a shuffle hash join AQE can split
    * on skew — never a per-key sort. Interval union and text rebuild
    * are per-doc window/HOF work bounded by doc length. Grouping by the
    * 128-bit md5 instead of the window string trades a ~1e-19 birthday
    * collision at 10¹⁰ windows for not shuffling L tokens per position. */
  def exactSubstrExcise(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 20): DataFrame = {
    require(windowTokens >= 2, s"need windowTokens >= 2, got $windowTokens")
    val L = windowTokens
    // literal single-space split (the repo tokenization contract, and
    // the oracle's string_split): join(" ") is then the EXACT inverse,
    // so untouched text — including runs of spaces or embedded
    // tabs/newlines, which stay inside tokens — survives byte-for-byte.
    // spread: the per-position md5 window digests below are the
    // operator's CPU wall (measured 2× on a one-row-group input) —
    // widen the narrow scan before that work fuses into it
    val toks = graft.util.Par.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), split(col(textCol), " ", -1).as("toks"))
    val grams = toks
      .filter(size(col("toks")) >= L)
      .select(col("id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${L - 1}), " +
        s"i -> struct(i AS pos, md5(array_join(slice(toks, i, $L), ' ')) AS h))"))
        .as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val dupStats = grams.groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("first"))
    val flagged = grams.join(dupStats, Seq("h"))
      .filter(!(col("id") === col("first.id") && col("pos") === col("first.pos")))
      .select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    val intervals = flagged
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + lit(L), lit(1))
          .otherwise(lit(0)))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy("id", "grp")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(L - 1)).as("e"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"),
        sum(col("e") - col("s") + lit(1)).as("removed_tokens"),
        count(lit(1)).as("n_spans"))
    toks.join(intervals, Seq("id"))
      .select(col("id").as("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        col("removed_tokens"), col("n_spans"),
        array_join(expr(
          "filter(transform(toks, (t, j) -> struct(j + 1 AS p, t AS t)), " +
          "x -> NOT exists(iv, v -> x.p >= v.s AND x.p <= v.e)).t"), " ")
          .as("cleaned_text"))
  }
}
