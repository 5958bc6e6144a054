package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-light data-selection operators: the "which slice of the crawl
  * do we train on" passes that sit between dedup and export.
  *
  *  - [[dsirSelect]] — hashed n-gram importance resampling (the DSIR
  *    recipe: score raw docs by how target-like their hashed n-gram
  *    distribution is, keep the top slice). Public method: Xie et al.,
  *    "Data Selection for Language Models via Importance Resampling",
  *    NeurIPS 2023.
  *  - [[perplexityBuckets]] — corpus-LM perplexity bucketing (the
  *    CCNet head/middle/tail split). Public method: Wenzek et al.,
  *    "CCNet: Extracting High Quality Monolingual Datasets from Web
  *    Crawl Data", LREC 2020. The 5-gram Kneser–Ney LM is stood in by
  *    a unigram add-one LM *fit on the corpus itself* — the operator
  *    shape (corpus pass → O(vocab) stats → map-side scoring →
  *    percentile split) is identical; swapping the LM changes the
  *    per-token score expression only.
  *
  * ENGINE-PORTABLE-DETERMINISTIC, like everything in [[Curation]]:
  * all transcendental arithmetic is quantized to integer micronats
  * (`floor(ln(·)·1e6)` of an exact integer input) at the per-distinct-
  * value level BEFORE any aggregation, so document scores are exact
  * BIGINT sums that hash-match DuckDB regardless of either engine's
  * float-summation order or libm rounding. (A quantization boundary
  * flip needs libm implementations to disagree exactly at a 1e-6
  * nanoboundary — probability ~1e-9 per distinct token count.)
  */
object Selection {

  /** Portable feature-hash bucket: the first 16 bits of md5, mod
    * `numBuckets` — bit-identical in Spark and DuckDB
    * (`('0x' || substr(md5(t),1,4))::BIGINT` on the oracle side). */
  /** THE portable feature-hash: md5 hex prefix → integer bucket,
    * bit-identical in Spark and DuckDB (`('0x' || substr(md5(t), 1,
    * n))::BIGINT % k`). Load-bearing for every gate whose oracle
    * re-derives buckets (p42, p56, p80) — one spelling, shared. */
  private[operators] def md5Bucket(term: Column, hexChars: Int,
      numBuckets: Int): Column =
    conv(substring(md5(term), 1, hexChars), 16, 10)
      .cast("long") % numBuckets

  private def bucketOf(term: Column, numBuckets: Int): Column =
    md5Bucket(term, 4, numBuckets)

  /** DSIR's hashed feature stream: per doc, the bucket id of every
    * unigram and adjacent bigram — the fused native
    * [[graft.functions.TermBuckets]] expression (one Java loop per
    * row). [[termBucketsHof]] is the slow-but-obviously-right HOF
    * formulation it is parity-tested against. */
  private def termBuckets(textCol: Column, numBuckets: Int): Column =
    graft.functions.GraftExpressions.term_buckets(textCol, numBuckets)

  /** Reference formulation of [[termBuckets]] (kept for the
    * Round18Spec parity test; interpreted HOF tree, measured ~1.5 s
    * per corpus pass at sf0.1 for the array construction alone). A
    * 1-token doc has no bigrams. */
  private[graft] def termBucketsHof(textCol: Column, numBuckets: Int): Column = {
    val toks = split(textCol, " ")
    val bigrams = when(size(toks) > lit(1),
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", slice(toks, i, lit(2)))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams), t => bucketOf(t, numBuckets))
  }

  /** Hashed n-gram importance resampling — keep the `topK` raw docs
    * whose feature distribution looks most like the target slice.
    *
    * score(d) = Σ_{t ∈ terms(d)} ln p̂_target(bucket(t)) / p̂_raw(bucket(t))
    * with add-one-smoothed bucket unigram models over `numBuckets`
    * hashed (uni+bi)gram buckets, in integer micronats.
    *
    * Plan at 100 TB: pass 1 is ONE term shuffle with map-side combine
    * down to the O(numBuckets) count relation (the only corpus-sized
    * exchange); the per-bucket log-ratio table is numBuckets rows —
    * driver-collected (guarded) and rejoined as a BROADCAST hash join
    * on the exploded term stream, so pass 2 (scoring) stays inside
    * whole-stage codegen end to end and its shuffle carries only the
    * partially-aggregated O(n_docs) rows. (A literal-array
    * `aggregate` lambda was measured 10× slower here: higher-order
    * functions evaluate interpreted, re-materializing the lookup
    * array per element.) The final top-k is a TakeOrdered
    * (per-partition heads + driver k-merge), never a global sort.
    *
    * Deterministic: membership and rank are pure functions of the
    * corpus (exact integer compares; ties broken by id). */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, numBuckets: Int = 256, topK: Int = 100): DataFrame = {
    requireBuckets(numBuckets)
    val counts = bucketCounts(docs, textCol, targetPred, numBuckets)
      .collect() // O(numBuckets) rows — bounded by requireBuckets
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (lq, cN) = fitRatio(counts, numBuckets)
    scoreWithRatio(docs, idCol, textCol, numBuckets, lq, cN, topK)
  }

  private[operators] def requireBuckets(numBuckets: Int): Unit =
    require(numBuckets > 0 && numBuckets <= (1 << 16),
      s"numBuckets=$numBuckets: bucket ids are 16-bit md5 prefixes and the " +
        "ratio table is driver-collected; use <= 65536 buckets")

  /** Pass 1: the O(numBuckets) per-bucket (target, raw) term counts —
    * the sufficient statistic of the DSIR model. Counts are ADDITIVE
    * across disjoint batches, which is what [[IncrementalDsir]]
    * exploits: per-batch count rows append to a store and aggregate
    * back to exactly the union corpus's statistic. */
  private[operators] def bucketCounts(docs: DataFrame, textCol: String,
      targetPred: Column, numBuckets: Int): DataFrame = docs
    .select(targetPred.as("is_target"),
      explode(termBuckets(col(textCol), numBuckets)).as("bucket"))
    .groupBy("bucket")
    .agg(sum(when(col("is_target"), 1L).otherwise(0L)).as("ct"),
         sum(when(col("is_target"), 0L).otherwise(1L)).as("cr"))

  /** Fit the micronat log-ratio table from collected bucket counts:
    * lq(b) = floor(1e6·(ln(ct_b+1) − ln(cr_b+1))); absent buckets
    * have ct = cr = 0 ⇒ lq = 0, which is also the smoothed ratio.
    * cN is the per-term normalizer ln((Nr+B)/(Nt+B)) on the same
    * grid. */
  private[operators] def fitRatio(counts: Array[(Long, Long, Long)],
      numBuckets: Int): (Array[Long], Long) = {
    val lq = Array.ofDim[Long](numBuckets)
    var nt = 0L; var nr = 0L
    counts.foreach { case (b, ct, cr) =>
      nt += ct; nr += cr
      lq(b.toInt) = math.floor((math.log(ct + 1.0) - math.log(cr + 1.0)) * 1e6).toLong
    }
    val cN = math.floor((math.log(nr + numBuckets.toDouble) -
      math.log(nt + numBuckets.toDouble)) * 1e6).toLong
    (lq, cN)
  }

  /** Pass 2: score docs against a fitted ratio table and keep the
    * top-k (TakeOrdered + k-row rank window). */
  private[operators] def scoreWithRatio(docs: DataFrame, idCol: String,
      textCol: String, numBuckets: Int, lq: Array[Long], cN: Long,
      topK: Int): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val spark = docs.sparkSession
    import spark.implicits._
    val lqDf = lq.toIndexedSeq.zipWithIndex
      .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "lq")
    val scored = docs
      .select(col(idCol), explode(termBuckets(col(textCol), numBuckets)).as("bucket"))
      .join(broadcast(lqDf), "bucket")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms"), sum("lq").as("sq"))
      .select(col(idCol), col("n_terms"),
        (col("sq") + col("n_terms") * lit(cN)).as("score_micro"))
    val top = scored.orderBy(col("score_micro").desc, col(idCol).asc).limit(topK)
    top.withColumn("sel_rank",
      row_number().over(Window.orderBy(col("score_micro").desc, col(idCol).asc))
        .cast("long"))
  }

  /** Per-doc surprisal under an interpolated Kneser–Ney BIGRAM LM fit
    * on the corpus itself — the genuine CCNet scoring model (Wenzek
    * et al. 2020 score with a 5-gram KN LM; [[perplexityBuckets]] is
    * the unigram stand-in, this is the bigram real thing; the
    * statistics involved are the p50 gate's continuation counts):
    *
    *   p(w|v) = (c(vw) − d)/c(v·) + d·N1+(v·)/c(v·) · N1+(·w)/N1+(··)
    *
    * with absolute discount d = 0.75. Every probability is a RATIONAL
    * of exact integer corpus counts, so both engines compute the same
    * double through the same op order, and the per-type log is
    * quantized to micronats BEFORE the per-doc aggregation (the
    * [[perplexityBuckets]] portability argument, per bigram TYPE).
    * The LM is fit on the scored corpus, so every doc bigram is a
    * seen type — no OOV branch.
    *
    * Plan at 100 TB: one bigram shuffle builds the O(types) count
    * relation; the three marginals (c(v·), N1+(v·), N1+(·w)) and the
    * type total re-aggregate from THAT relation; scoring joins doc
    * bigrams to the type relation on (v,w) — a key-equality shuffle
    * join, bounded fanout — and re-aggregates per doc with map-side
    * combine. Docs with fewer than 2 tokens have no bigrams and are
    * omitted (no LM evidence). */
  def knPerplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val prs = when(size(toks) > lit(1),
        transform(sequence(lit(1), size(toks) - 1),
          i => struct(element_at(toks, i).as("v"),
            element_at(toks, i + lit(1)).as("w"))))
      .otherwise(array().cast("array<struct<v:string,w:string>>"))
    // two consumers (the type aggregation and the scoring join) —
    // checkpoint so the scan+explode runs once; spread first so the
    // tokenize+pair explode AND the checkpoint write parallelize on
    // one-row-group inputs (see Par.spread)
    val docBg = graft.util.Par.spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), explode(prs).as("p"))
      .select(col(idCol), col("p.v").as("v"), col("p.w").as("w"))
      .localCheckpoint()
    // four consumers read the type relation (cv, n1w, n1all, lp);
    // checkpoint it once or each re-pays the corpus bigram shuffle
    // (measured 177 s → 56 s at the 100× corpus). MEMORY_AND_DISK
    // blocks, so at extreme scale this spills rather than OOMs.
    val types = docBg.groupBy("v", "w").agg(count(lit(1)).as("c_vw"))
      .localCheckpoint()
    val cv = types.groupBy("v")
      .agg(sum("c_vw").as("cv"), count(lit(1)).as("n1v"))
    val n1w = types.groupBy("w").agg(count(lit(1)).as("n1w"))
    val n1all = types.agg(count(lit(1)).as("n1all"))
    // identical op order in the DuckDB oracle:
    //   (c−0.75)/cv + (0.75·n1v/cv)·(n1w/n1all)
    val p = (col("c_vw").cast("double") - lit(0.75)) / col("cv") +
      (lit(0.75) * col("n1v") / col("cv")) * (col("n1w") / col("n1all"))
    val lp = types
      .join(cv, "v").join(n1w, "w").crossJoin(broadcast(n1all))
      .select(col("v"), col("w"), floor(log(p) * 1e6).as("lp_micro"))
    docBg
      .join(lp, Seq("v", "w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), (-sum("lp_micro")).as("surprisal_micro"))
      .withColumn("ppl_token",
        col("surprisal_micro").cast("double") / col("n_bigrams") / lit(1e6))
  }

  /** BM25 top-k retrieval (Robertson & Zaragoza, "The Probabilistic
    * Relevance Framework: BM25 and Beyond", 2009; the `1 + (N−df+½)/
    * (df+½)` idf is Lucene's always-positive variant): for each query,
    * the `k` best-scoring docs under
    *
    *   score(q,d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * with k1 = 1.2, b = 0.75.
    *
    * Engine-portable determinism: idf is quantized to integer
    * micronats per TERM; each (term, doc) contribution is a FIXED
    * sequence of IEEE ops over exact integers (tf, dl, N, total
    * tokens) floored to a BIGINT, so the per-(query,doc) score is an
    * exact integer sum — no float-summation-order dependence.
    *
    * Plan at 100 TB: the posting list (term, doc, tf) is one
    * map-side-combined corpus shuffle; corpus scalars (N, Σdl)
    * re-aggregate from the O(docs) length relation; the query set is
    * broadcast (queries are human-scale); scoring re-aggregates by
    * (query, doc) — fanout bounded by Σ_t df(t) over query terms, the
    * classic impact of stopwords in queries (cap df upstream if
    * queries are adversarial); top-k is a per-query ranked window
    * (keys = queries, so the window is fully partitioned). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int = 5): DataFrame = {
    require(k > 0, s"k=$k")
    val toks = split(col(textCol), " ")
    // doc and query ids are renamed on entry (__did/__qid) so the
    // natural idCol == queryIdCol call shape doesn't hit an
    // AMBIGUOUS_REFERENCE after the term join — the bruteForceTopK/
    // knnLabel convention; original names are restored on output
    // (suffixed query_/doc_ only when they collide).
    // lengths feeds the corpus scalars AND the scoring join; postings
    // feeds the df marginal AND the query join — checkpoint both so
    // the corpus scan and the posting-list shuffle run exactly once
    // (materializing the posting list IS the index build at scale)
    val lengths = docs.select(col(idCol).as("__did"), size(toks).cast("long").as("dl"))
      .localCheckpoint()
    val scalars = lengths.agg(count(lit(1)).as("n_docs"), sum("dl").as("n_toks"))
    val postings = docs
      .select(col(idCol).as("__did"), explode(toks).as("term"))
      .groupBy(col("__did"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val qTerms = queries
      .select(col(queryIdCol).as("__qid"),
        explode(array_distinct(split(col(queryTextCol), " "))).as("term"))
    // df is only needed for QUERY terms, so restrict the marginal before
    // broadcasting — broadcast(full-vocabulary df) would be a driver-OOM
    // at the 100 TB corpus this plan is written for. Filtering postings
    // by term before the groupBy leaves each surviving term's count
    // unchanged (df is a per-term marginal).
    val df_ = postings
      .join(broadcast(qTerms.select("term").distinct()), "term")
      .groupBy("term")
      .agg(count(lit(1)).as("df")) // postings are (doc,term)-distinct
    val joined = postings
      .join(broadcast(qTerms), "term")
      .join(broadcast(df_), "term")
      .join(lengths.withColumnRenamed("dl", "dl_"), "__did")
      .crossJoin(broadcast(scalars))
    // idf_micro = floor(1e6·ln(1 + (N−df+0.5)/(df+0.5))) — exact-int inputs
    val idfMicro = floor(log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5))) * 1e6)
    // denom = tf + 1.2·(0.25 + 0.75·(dl·N)/Σdl): one double division, fixed order
    val denom = col("tf").cast("double") + lit(1.2) * (lit(0.25) +
      lit(0.75) * ((col("dl_") * col("n_docs")).cast("double") / col("n_toks")))
    val contrib = floor(idfMicro.cast("double") * (col("tf").cast("double") * lit(2.2))
      / denom).cast("long")
    val scored = joined
      .select(col("__qid"), col("__did"), contrib.as("contrib_micro"))
      .groupBy(col("__qid"), col("__did"))
      .agg(sum("contrib_micro").as("score_micro"))
    val (qOut, dOut) =
      if (queryIdCol == idCol) (s"query_$queryIdCol", s"doc_$idCol")
      else (queryIdCol, idCol)
    scored.withColumn("bm_rank",
        row_number().over(Window.partitionBy(col("__qid"))
          .orderBy(col("score_micro").desc, col("__did").asc)).cast("long"))
      .filter(col("bm_rank") <= k)
      .select(col("__qid").as(qOut), col("__did").as(dOut),
        col("score_micro"), col("bm_rank"))
  }

  /** CCNet-style perplexity split: score every doc by per-token
    * surprisal under an add-one-smoothed unigram LM fit on the corpus
    * itself, then cut into `numBuckets` equal-depth buckets (bucket 1
    * = most fluent "head", last = "tail").
    *
    * surprisal(d)/|d| = ln(N+V) − (1/|d|)·Σ_w ln(c(w)+1), kept as an
    * exact integer numerator `surprisal_micro = |d|·⌊1e6·ln(N+V)⌋ −
    * Σ⌊1e6·ln(c(w)+1)⌋` so the per-token double is the same IEEE
    * quotient in both engines.
    *
    * Plan at 100 TB: one token shuffle (map-side combined) builds the
    * O(V) count relation; totals re-aggregate from THAT relation —
    * the corpus is never scanned twice. Scoring joins tokens to the
    * vocab relation (AQE broadcasts it when small; web-crawl vocab
    * sizes shuffle-join instead of breaching the broadcast limit)
    * and re-aggregates per doc (second
    * map-side-combined shuffle). The final `ntile` is exact
    * equal-depth semantics over the O(docs) relation — the gate's
    * verifiable form; at extreme scale swap the single-partition rank
    * window for `approxQuantile` cutoffs + a map-only bucket compare
    * (constants change, plan shape below the window doesn't). */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
      numBuckets: Int = 3): DataFrame = {
    require(numBuckets > 0, s"numBuckets=$numBuckets")
    // NOT checkpointed: the re-reads here are a cheap map-only explode
    // (words) and a vocab-sized aggregate whose exchange Spark reuses
    // within the one final plan — forcing materialization measured
    // 4.1 s → 6.0 s at the 100× corpus (contrast knPerplexity, whose
    // four consumers genuinely re-paid the shuffle)
    val words = docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
    val counts = words.groupBy("word").agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum("cnt").as("n_total"), count(lit(1)).as("v_size"))
    val lp = counts.select(col("word"),
      floor(log(col("cnt") + lit(1)) * 1e6).as("lp_micro"))
    // NO broadcast hint on the vocab relation: at web-crawl scale the
    // distinct-token table is itself past the broadcast limit (the
    // exact driver-OOM bm25TopK's df marginal documents); a plain join
    // lets AQE broadcast it at runtime whenever it IS small, so the
    // gate-scale plan is unchanged while the 100 TB plan degrades to a
    // shuffle join instead of dying
    val perDoc = words
      .join(lp, "word")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum("lp_micro").as("sum_lp"))
    val scored = perDoc.crossJoin(broadcast(totals)).select(
      col(idCol),
      col("n_tokens"),
      (floor(log(col("n_total") + col("v_size")) * 1e6) * col("n_tokens")
        - col("sum_lp")).as("surprisal_micro"))
    val proxy = col("surprisal_micro").cast("double") / col("n_tokens") / lit(1e6)
    scored
      .withColumn("ppl_proxy", proxy)
      .withColumn("ppl_bucket",
        ntile(numBuckets).over(Window.orderBy(proxy.asc, col(idCol).asc))
          .cast("long"))
  }

  /** A trained perceptron: final integer weights (index `dim` is the
    * bias) and the misclassification count each epoch observed BEFORE
    * its update. */
  final case class PerceptronFit(weights: Array[Long],
      errorsPerEpoch: Seq[Long])

  /** Distributed BATCH perceptron training (Rosenblatt '58, the batch
    * variant) over hashed unigram counts — training the
    * quality/language classifier IN the engine instead of importing
    * frozen weights (the p42 classifier's missing half). Labels are
    * ±1; features are exact integer term counts hashed into `dim`
    * buckets (the p42 md5 trick) plus a constant bias; each epoch adds
    * `Σ_{misclassified} y·x` to the weights, where misclassified means
    * `y·(w·x) ≤ 0`.
    *
    * EVERYTHING IS INTEGER — counts, margins, weights — so training is
    * exactly reproducible anywhere, and the p80 oracle replays all
    * epochs as a recursive CTE carrying the weight list and
    * hash-matches the final weights value-for-value.
    *
    * Scale shape: the feature relation (one (id, idx, cnt) row per
    * distinct term-bucket per doc) builds with ONE shuffle and is
    * reused every epoch; per epoch the weights ride the plan as a
    * (dim+1)-long literal (KB), margins are a map-multiply +
    * per-doc partial-agg sum, and the update collects O(dim) deltas —
    * never rows. Epochs are sequential by the algorithm's own
    * dependency; each costs two bounded-key shuffles over the cached
    * features. */
  def trainPerceptron(docs: DataFrame, idCol: String, textCol: String,
      label: Column, dim: Int = 64, epochs: Int = 3): PerceptronFit = {
    require(dim >= 1 && epochs >= 1, s"dim=$dim epochs=$epochs")
    val feats = docs
      .select(col(idCol).as("id"), explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("term"))
      .select(col("id"), md5Bucket(col("term"), 8, dim).as("idx"))
      .groupBy("id", "idx").agg(count(lit(1)).as("cnt"))
      .unionByName(docs.select(col(idCol).as("id"),
        lit(dim.toLong).as("idx"), lit(1L).as("cnt")))
      // cache CLUSTERED BY id: every epoch's margin aggregation and
      // misclassified join are keyed on id, so the persisted hash(id)
      // layout satisfies them and the per-epoch exchanges of the
      // corpus-sized feature relation disappear (epochs shuffle only
      // the O(dim) update rows); integer sums are order-exact
      .repartition(col("id"))
      .persist()
    // cached alongside feats: every epoch joins it, and without the
    // cache each epoch would re-scan the source relation for an
    // unchanged (id, y) pair
    val labels = docs.select(col(idCol).as("id"), label.cast("long").as("y"))
      .repartition(col("id"))
      .persist()
    try {
      val w = Array.fill(dim + 1)(0L)
      val errs = Seq.newBuilder[Long]
      var ep = 0
      var converged = false
      while (ep < epochs && !converged) {
        val wLit = array(w.toIndexedSeq.map(lit): _*)
        val miscl = feats
          .withColumn("m",
            col("cnt") * element_at(wLit, (col("idx") + 1).cast("int")))
          .groupBy("id").agg(sum("m").as("margin"))
          .join(labels, Seq("id"))
          .filter(col("y") * col("margin") <= 0)
        val agg = miscl.join(feats, Seq("id"))
          .groupBy("idx")
          .agg(sum(col("y") * col("cnt")).as("d"),
            countDistinct(col("id")).as("n"))
          .collect()
        // every misclassified doc carries the bias feature, so the
        // bias row's distinct-id count IS the epoch's error count —
        // one job per epoch, no second pass
        val e = agg.find(_.getLong(0) == dim.toLong).map(_.getLong(2))
          .getOrElse(0L)
        errs += e
        agg.foreach(r => w(r.getLong(0).toInt) += r.getLong(1))
        converged = e == 0L
        ep += 1
      }
      PerceptronFit(w, errs.result())
    } finally { feats.unpersist(); labels.unpersist(); () }
  }

  /** Temperature-based dataset MIXTURE weights — the source-mixing
    * step every pretraining pipeline runs (multilingual mC4 / XLM-R
    * style temperature sampling; the Pile/LLaMA per-source budget
    * table): per source s with size n_s, sampling weight ∝ n_s^α, a
    * total training budget apportioned across sources by largest
    * remainder. α < 1 upweights small sources (α→0 approaches
    * uniform), α = 1 is proportional.
    *
    * Scale shape: ONE corpus-scale aggregation (sum of `sizeCol` per
    * source); everything after runs on the per-source table, which is
    * metadata-scale by definition — collected to the driver like the
    * centroid tables, where the apportionment is exact BigInt
    * arithmetic (weight × budget products overflow a long at real
    * sizes; no float ever touches a budget).
    *
    * Determinism (oracle-exact, p83): weights quantize PER SOURCE to
    * `⌊1e6 · n^α⌋` before any arithmetic (the p57/p63 rule). At the
    * gate's α = 0.5 the power is computed as IEEE `sqrt` — correctly
    * rounded, bit-identical in both engines; other α use `pow` with
    * the same flooring-odds caveat the micronat-ln discipline carries.
    * Sizes must stay exactly double-representable (≤ 2^53) — REQUIREd,
    * not assumed. Ties in the remainder distribution break by source
    * ascending. Returns (source, size, weight_micro, budget) with
    * Σ budget = totalBudget exactly. */
  def mixtureWeights(docs: DataFrame, sourceCol: String, sizeCol: String,
      totalBudget: Long, alpha: Double = 0.5): DataFrame = {
    require(totalBudget > 0, s"totalBudget=$totalBudget")
    require(alpha > 0.0 && alpha <= 1.0, s"alpha=$alpha")
    val spark = docs.sparkSession
    import spark.implicits._
    val perSource = docs
      .groupBy(col(sourceCol).cast("string").as("source"))
      .agg(sum(col(sizeCol)).cast("long").as("size"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    require(perSource.nonEmpty, "mixtureWeights over an empty corpus")
    perSource.foreach { case (s, n) =>
      require(n > 0, s"source '$s' has non-positive size $n")
      require(n <= (1L << 53),
        s"source '$s' size $n exceeds exact double range — quantize the " +
        "size column (e.g. to KB) before mixing")
    }
    def qpow(n: Long): Long = {
      val p = if (alpha == 0.5) math.sqrt(n.toDouble)
              else math.pow(n.toDouble, alpha)
      math.floor(1e6 * p).toLong
    }
    val weighted = perSource.map { case (s, n) => (s, n, qpow(n)) }
    val qTotal = BigInt(weighted.map(w => BigInt(w._3)).sum.toString)
    val based = weighted.map { case (s, n, w) =>
      val prod = BigInt(w) * totalBudget
      (s, n, w, prod / qTotal, prod % qTotal)
    }
    val deficit = (BigInt(totalBudget) - based.map(_._4).sum).toLong
    // largest remainder: remainder DESC, ties by source ASC
    val ranked = based.sortWith { (a, b) =>
      if (a._5 != b._5) a._5 > b._5 else a._1 < b._1
    }.zipWithIndex.map { case ((s, n, w, base, _), i) =>
      (s, n, w, (base + (if (i < deficit) 1 else 0)).toLong)
    }
    ranked.sortBy(_._1).toSeq
      .toDF("source", "size", "weight_micro", "budget")
  }
}
