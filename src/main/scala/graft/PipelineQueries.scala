package graft

import graft.functions.{GraftExpressions, TextFunctions}
import graft.operators.{Bpe, Curation, Dedup, IvfIndex, Joins, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators (dedup / similarity / text
  * analysis / multimodal) exposed through the driver's oracle gate
  * over `documents` and `embeddings`.
  *
  * Oracle-parity rules here:
  *  - shingling/tokenization uses single-space split, expressible
  *    identically in DuckDB (string_split);
  *  - jaccard/cosine are single divisions of exactly-computed values,
  *    and vector sums are sequential double folds on both engines, so
  *    thresholds/orderings can never diverge;
  *  - md5 is bit-identical in both engines (exact dedup key).
  *
  * minhash/simhash/LSH entries carry *verified* outputs (exact metric
  * on surviving pairs), so their oracles are the exact-metric SQL —
  * the approximation must reach recall 1.0 on the planted duplicates
  * to pass, which the chosen parameters guarantee overwhelmingly
  * (P[miss at J=0.7 | 32×4 bands] ≈ 6e-13).
  */
object PipelineQueries {

  // ---- dedup family --------------------------------------------------

  def dExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .select("content_hash", "keep_id", "n_copies")
      .orderBy("content_hash")

  private val dExactSql =
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared exact n-gram-Jaccard oracle (k=5 word shingles). */
  private def jaccardOracle(threshold: Double): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(ws) - 4)),
       |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram
       |      FROM w),
       |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |       CAST(inter AS DOUBLE) / (na.n + nb.n - inter) AS jaccard
       |FROM p JOIN n na ON p.doc_a = na.doc_id
       |       JOIN n nb ON p.doc_b = nb.doc_id
       |WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= $threshold
       |ORDER BY 1, 2""".stripMargin

  def dNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 5, threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  def dMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 5, numHashes = 128, numBands = 32,
        threshold = 0.7)
      .orderBy("doc_a", "doc_b")

  /** SimHash dedup gate: runs the PRODUCTION operator
    * [[graft.operators.Dedup.simhashPairs]] with the oracle-parity
    * fingerprint injected — 60-bit simhash over word 5-shingles with
    * md5 as the feature hash ([[TextFunctions.simhashMd5_60]],
    * bit-identical in both engines), 4×15-bit banded candidates,
    * output = pairs at hamming ≤ 3. Banding is pigeonhole-COMPLETE
    * for hamming ≤ 3 — a pair differing in ≤ 3 bits has ≥ 1 of 4
    * bands untouched — so the banded plan equals the all-pairs answer
    * BY CONSTRUCTION (recall 1.0 is a theorem, not a data property;
    * measured high-Jaccard pairs reach hamming 11, so a
    * Jaccard-equivalence gate would be dishonest). The DuckDB oracle
    * recomputes the identical fingerprints from md5 nibbles and does
    * the all-pairs comparison. Production keeps the native 64-bit
    * xxhash64 fingerprint as the default. */
  def dSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", maxHamming = 3,
        fingerprint = TextFunctions.simhashMd5_60,
        numBands = 4, bandBits = 15)
      .orderBy("doc_a", "doc_b")

  private val dSimhashSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 4)),
      |        i -> array_to_string(ws[i:i+4], ' '))) AS grams FROM w),
      |h AS (SELECT doc_id,
      |        list_transform(grams, gr -> (list_sum(list_transform(
      |          generate_series(1, 15),
      |          j -> (strpos('0123456789abcdef', substr(md5(gr), j, 1)) - 1)::BIGINT
      |               << (4 * (15 - j)))))::BIGINT) AS hs,
      |        len(grams) AS n FROM g),
      |f AS (SELECT doc_id, (list_sum(list_transform(generate_series(0, 59), b ->
      |        CASE WHEN 2 * (list_sum(list_transform(hs, x -> (x >> b) & 1)))::BIGINT >= n
      |             THEN (1::BIGINT << b) ELSE 0::BIGINT END)))::BIGINT AS fp FROM h)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       bit_count(xor(a.fp, b.fp))::BIGINT AS hamming
      |FROM f a JOIN f b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.fp, b.fp)) <= 3
      |ORDER BY 1, 2""".stripMargin

  /** Exact all-pairs embedding dedup — the VERIFIER baseline (O(N²),
    * never the scale path); [[dEmbeddingLsh]] is the gated scalable
    * equivalent. Both share one oracle: the LSH path must reproduce
    * the exact answer. */
  def dEmbedding(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingCosinePairs(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45)
      .orderBy("id_a", "id_b")

  /** Scalable embedding dedup: LSH-bucketed candidates + exact-cosine
    * verify (auto-sized tables for per-pair miss ≤ 1e-8 at the
    * threshold) — no all-pairs join anywhere in the plan. */
  def dEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshCandidatePairs(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, threshold = 0.45,
        // footer-metadata count: auto-sizing without a count job
        corpusCount = Tables.footerRowCount(spark, dir, "embeddings"))
      .orderBy("id_a", "id_b")

  private val dEmbeddingSql =
    """WITH v AS (SELECT vec_id, embedding FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_sum(list_transform(generate_series(1, len(a.embedding)),
      |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |       i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
      |   * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |       i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) AS cosine
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE list_sum(list_transform(generate_series(1, len(a.embedding)),
      |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
      |       i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
      |   * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
      |       i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)))) >= 0.45
      |ORDER BY 1, 2""".stripMargin

  /** Duplicate clusters: minhash-LSH pairs → connected components.
    * Oracle = transitive closure (recursive CTE) over the exact
    * jaccard pairs at the same threshold. */
  def dClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
      Dedup.minhashLsh(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 5, threshold = 0.7))
      .orderBy("doc_id")

  /** Shared transitive-closure CTE chain: exact-Jaccard pairs at 0.7 →
    * symmetric edges → recursive reachability (p13 + p23 oracles, and
    * the l36 table-curation oracle). */
  private[graft] val closureCtes =
    """WITH RECURSIVE w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 4)),
      |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      |      FROM w),
      |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |jp AS (SELECT doc_a, doc_b FROM p
      |       JOIN n na ON p.doc_a = na.doc_id
      |       JOIN n nb ON p.doc_b = nb.doc_id
      |       WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
      |      UNION SELECT doc_b, doc_a FROM jp),
      |reach(a, b) AS (SELECT a, b FROM e
      |      UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)""".stripMargin

  private val dClustersSql = closureCtes + "\n" +
    """SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |FROM reach GROUP BY a ORDER BY 1""".stripMargin

  /** Keep-best canonical selection ([[Dedup.keepBest]]): cluster the
    * verified minhash-LSH pairs, keep the longest doc per cluster
    * (ties → smallest id); singletons keep themselves. Oracle =
    * transitive closure over exact-Jaccard pairs + the same argmax. */
  def dKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Dedup.keepBest(docs, "doc_id", "text",
        Dedup.minhashLsh(docs, "doc_id", "text", k = 5, threshold = 0.7))
      .orderBy("cluster_id")
  }

  private val dKeepBestSql = closureCtes + ",\n" +
    """cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |       FROM reach GROUP BY a),
      |m AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
      |             len(string_split(d.text, ' '))::BIGINT AS n_tokens
      |      FROM documents d LEFT JOIN cl USING (doc_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM m)
      |SELECT cluster_id,
      |       max(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
      |       max(CASE WHEN rn = 1 THEN n_tokens END) AS keep_tokens,
      |       count(*) AS n_members
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Deep-chain connected components: three interleaved path graphs of
    * 60 nodes each (diameter 59) planted over the 180 smallest doc
    * ids — id-interleaved so labels genuinely propagate hop by hop.
    * Plain O(diameter) min-label relaxation at the old default cap of
    * 20 rounds FAILED this shape (split clusters); the pointer-jumping
    * [[Dedup.connectedComponents]] converges in ~⌈log₂ 59⌉ + ε rounds.
    * Oracle: chain membership is rank mod 3, so cluster = min id of
    * the rank class.
    *
    * The 180-id fixture is built with a TakeOrdered limit + a window
    * over that 180-row frame — the single-partition window is over the
    * FIXTURE, not the corpus, so the gate stays scale-safe. */
  def dCcChain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = Tables.load(spark, dir, "documents")
      .select("doc_id").orderBy("doc_id").limit(180)
    val ranked = ids
      .withColumn("rn", row_number().over(Window.orderBy("doc_id")) - 1)
      .withColumn("c", col("rn") % 3)
      .withColumn("pos", expr("rn DIV 3"))
    val pairs = ranked.as("x").join(ranked.as("y"),
        col("x.c") === col("y.c") && col("x.pos") + 1 === col("y.pos"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    Dedup.connectedComponents(pairs).orderBy("doc_id")
  }

  private val dCcChainSql =
    """WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 180),
      |g AS (SELECT doc_id,
      |        (row_number() OVER (ORDER BY doc_id) - 1) % 3 AS c
      |      FROM ids)
      |SELECT doc_id, min(doc_id) OVER (PARTITION BY c) AS cluster_id
      |FROM g ORDER BY doc_id""".stripMargin

  /** Exact shared verbatim spans ([[Dedup.sharedSpanPairs]], the
    * suffix-array ExactSubstr family): pairs of docs sharing a ≥20-token
    * verbatim run, with the longest run length and run count. Oracle =
    * the same positional-8-gram diagonal-run derivation in SQL. */
  def dSharedSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.sharedSpanPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 8, minTokens = 20, maxDf = 64)
      .orderBy("id_a", "id_b")

  private val dSharedSpansSql =
    """WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
      |              FROM documents),
      |g AS (SELECT id, i AS pos, array_to_string(ts[i:i+7], ' ') AS gram
      |      FROM toks, UNNEST(generate_series(1, len(ts) - 7)) AS t(i)
      |      WHERE len(ts) >= 8),
      |rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 64),
      |c AS (SELECT g.* FROM g JOIN rare USING (gram)),
      |m AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.pos AS pos_a,
      |             a.pos - b.pos AS diag
      |      FROM c a JOIN c b ON a.gram = b.gram AND a.id < b.id),
      |r AS (SELECT id_a, id_b, diag, pos_a,
      |             pos_a - row_number() OVER (
      |               PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
      |      FROM m),
      |runs AS (SELECT id_a, id_b, count(*) + 7 AS run_tokens
      |         FROM r GROUP BY id_a, id_b, diag, grp
      |         HAVING count(*) + 7 >= 20)
      |SELECT id_a, id_b, max(run_tokens) AS span_tokens,
      |       count(*) AS n_spans
      |FROM runs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** ExactSubstr excision ([[Dedup.exactSubstrExcise]], the cutting half
    * of the p55 family): every duplicated 20-token window loses all but
    * its first (id, pos) occurrence — including intra-doc repeats — and
    * covered tokens are cut from the text. Oracle = the same positional
    * 20-gram keep-first + interval-union derivation in SQL. */
  def dExactSubstrExcise(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrExcise(Tables.load(spark, dir, "documents"),
        "doc_id", "text", windowTokens = 20)
      .orderBy("doc_id")

  private val dExactSubstrExciseSql =
    """WITH toks AS (SELECT doc_id AS id, string_split(text, ' ') AS ts
      |              FROM documents),
      |g AS (SELECT id, i AS pos, array_to_string(ts[i:i+19], ' ') AS gram
      |      FROM toks, UNNEST(generate_series(1, len(ts) - 19)) AS t(i)
      |      WHERE len(ts) >= 20),
      |f AS (SELECT id, pos FROM (
      |        SELECT id, pos,
      |               row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rn
      |        FROM g) WHERE rn >= 2),
      |b AS (SELECT id, pos,
      |             CASE WHEN pos > lag(pos) OVER w + 20 THEN 1 ELSE 0 END AS brk
      |      FROM f WINDOW w AS (PARTITION BY id ORDER BY pos)),
      |iv AS (SELECT id, min(pos) AS s, max(pos) + 19 AS e
      |       FROM (SELECT id, pos, sum(brk) OVER (
      |               PARTITION BY id ORDER BY pos) AS grp FROM b)
      |       GROUP BY id, grp),
      |tok AS (SELECT id, j, ts[j] AS tok, len(ts) AS n FROM toks,
      |        UNNEST(generate_series(1, len(ts))) AS t(j)),
      |cov AS (SELECT DISTINCT iv.id, c.j
      |        FROM iv, UNNEST(generate_series(iv.s, iv.e)) AS c(j)),
      |kept AS (SELECT tok.id, any_value(tok.n) AS n_tokens,
      |                count(cov.j) AS removed_tokens,
      |                coalesce(array_to_string(list(tok.tok ORDER BY tok.j)
      |                  FILTER (WHERE cov.j IS NULL), ' '), '') AS cleaned_text
      |         FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.j = cov.j
      |         GROUP BY tok.id),
      |sp AS (SELECT id, count(*) AS n_spans FROM iv GROUP BY id)
      |SELECT k.id AS doc_id, k.n_tokens, k.removed_tokens, sp.n_spans,
      |       k.cleaned_text
      |FROM kept k JOIN sp ON k.id = sp.id
      |ORDER BY doc_id""".stripMargin

  /** Unigram-LM tokenizer encode ([[graft.operators.Unigram]], Kudo
    * '18): Viterbi segmentation of every corpus word under the
    * frequency-seeded top-512 substring vocabulary, aggregated per doc.
    * The DP value is the integer `micronat_cost · 1024 + n_pieces`, so
    * the oracle — vocabulary selection, micronat costs, and the DP as
    * a recursive CTE carrying the best-cost list — reproduces every
    * output bit. */
  def tUnigramEncode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.encodeStats(
        Tables.load(spark, dir, "documents"), "doc_id", "text",
        topK = 512, maxPieceLen = 4)
      .orderBy("doc_id")

  private val tUnigramEncodeSql =
    """WITH RECURSIVE dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents),
      |wf AS (SELECT w, count(*) AS freq FROM dw GROUP BY w),
      |occ AS (SELECT substr(w, s, l) AS piece, freq
      |        FROM wf, UNNEST(generate_series(1, len(w))) AS ts(s),
      |             UNNEST(generate_series(1, least(4, len(w) - s + 1))) AS tl(l)),
      |pc AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM occ GROUP BY piece),
      |total AS (SELECT sum(cnt)::BIGINT AS tot FROM pc),
      |vocab AS (
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece ASC LIMIT 512)
      |  UNION
      |  SELECT piece, cnt FROM pc WHERE len(piece) = 1),
      |vc AS (SELECT piece,
      |         (floor(1e6 * ln(tot)) - floor(1e6 * ln(cnt)))::BIGINT * 1024
      |           + 1 AS enc
      |       FROM vocab, total),
      |dp AS (
      |  SELECT w, 0 AS i, [0::BIGINT] AS best FROM wf WHERE len(w) < 1024
      |  UNION ALL
      |  SELECT d.w, d.i + 1 AS i,
      |         list_append(d.best, min(d.best[j + 1] + v.enc)) AS best
      |  FROM dp d,
      |       UNNEST(generate_series(greatest(0, d.i + 1 - 4), d.i)) AS tj(j)
      |       JOIN vc v ON v.piece = substr(d.w, j + 1, d.i + 1 - j)
      |  WHERE d.i < len(d.w)
      |  GROUP BY d.w, d.i, d.best),
      |wenc AS (SELECT w, best[len(w) + 1] AS enc FROM dp WHERE i = len(w))
      |SELECT doc_id, count(*) AS n_words,
      |       sum(enc % 1024)::BIGINT AS n_pieces,
      |       sum(enc // 1024)::BIGINT AS cost_micronats
      |FROM dw JOIN wenc USING (w) GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Frozen-vocabulary unigram encode ([[graft.operators.Unigram
    * .encodeStatsFrozen]] — the tokenizer line's STREAMING deployment
    * shape, map-only per doc): the vocabulary is learned from the
    * even-doc_id HALF of the corpus and applied to ALL docs, so the
    * gate exercises the frozen-apply semantics p75 cannot — words
    * containing a character the training half never saw are
    * unsegmentable and EXCLUDED from every statistic (the inner-join
    * omission rule), and the cost table normalizes over the SELECTED
    * vocabulary's total (the learn/segmentWords convention), not the
    * raw substring total. The oracle's recursive-CTE DP dies at the
    * first position no vocabulary piece can end — which under
    * all-training-chars-kept single-char coverage is exactly the
    * OOV-character rule the operator applies. */
  def tUnigramFrozen(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val learned = graft.operators.Unigram.learn(
      docs.filter(col("doc_id") % 2 === 0), "text",
      vocabSize = 512, emRounds = 0)
    graft.operators.Unigram.encodeStatsFrozen(docs, "doc_id", "text", learned)
      .orderBy("doc_id")
  }

  private val tUnigramFrozenSql =
    """WITH RECURSIVE dwt AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |  FROM documents WHERE doc_id % 2 = 0),
      |wft AS (SELECT w, count(*) AS freq FROM dwt GROUP BY w),
      |occ AS (SELECT substr(w, s, l) AS piece, freq
      |        FROM wft, UNNEST(generate_series(1, len(w))) AS ts(s),
      |             UNNEST(generate_series(1, least(4, len(w) - s + 1))) AS tl(l)),
      |pc AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM occ GROUP BY piece),
      |vocab AS (
      |  -- DISTINCT is EXPLICIT, not via UNION: inside a WITH RECURSIVE
      |  -- block DuckDB gives UNION recursive-union semantics that skip
      |  -- the cross-branch dedup, double-counting every single-char
      |  -- piece that is also in the top-512 — and unlike p75 (total
      |  -- over pc) this query SUMS the vocab, so the duplicates would
      |  -- shift every piece cost by a constant qt error
      |  SELECT DISTINCT piece, cnt FROM (
      |    SELECT piece, cnt FROM (
      |      SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece ASC LIMIT 512)
      |    UNION ALL
      |    SELECT piece, cnt FROM pc WHERE len(piece) = 1)),
      |total AS (SELECT sum(cnt)::BIGINT AS tot FROM vocab),
      |vc AS (SELECT piece,
      |         (floor(1e6 * ln(tot)) - floor(1e6 * ln(cnt)))::BIGINT * 1024
      |           + 1 AS enc
      |       FROM vocab, total),
      |dw AS (SELECT doc_id,
      |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |       FROM documents),
      |wf AS (SELECT DISTINCT w FROM dw),
      |dp AS (
      |  SELECT w, 0 AS i, [0::BIGINT] AS best FROM wf WHERE len(w) < 1024
      |  UNION ALL
      |  SELECT d.w, d.i + 1 AS i,
      |         list_append(d.best, min(d.best[j + 1] + v.enc)) AS best
      |  FROM dp d,
      |       UNNEST(generate_series(greatest(0, d.i + 1 - 4), d.i)) AS tj(j)
      |       JOIN vc v ON v.piece = substr(d.w, j + 1, d.i + 1 - j)
      |  WHERE d.i < len(d.w)
      |  GROUP BY d.w, d.i, d.best),
      |wenc AS (SELECT w, best[len(w) + 1] AS enc FROM dp WHERE i = len(w))
      |SELECT doc_id, count(*) AS n_words,
      |       sum(enc % 1024)::BIGINT AS n_pieces,
      |       sum(enc // 1024)::BIGINT AS cost_micronats
      |FROM dw JOIN wenc USING (w) GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Temperature mixture weights ([[operators.Selection
    * .mixtureWeights]], α = 0.5 over per-source character mass): one
    * corpus aggregation, then exact BigInt largest-remainder
    * apportionment of a 1M budget on the metadata-scale source table.
    * α = 0.5 makes the quantized weight an IEEE `sqrt` — correctly
    * rounded, so both engines floor the same double and the oracle is
    * bit-exact (HUGEINT carries the weight × budget products DuckDB-
    * side, BigInt Spark-side). */
  def cMixtureWeights(spark: SparkSession, dir: String): DataFrame =
    operators.Selection.mixtureWeights(
        Tables.load(spark, dir, "documents"), "source", "n_chars",
        totalBudget = 1000000L, alpha = 0.5)
      .orderBy("source")

  private val cMixtureWeightsSql =
    """WITH c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS size
      |           FROM documents GROUP BY source),
      |q AS (SELECT source, size,
      |        CAST(floor(1e6 * sqrt(size)) AS BIGINT) AS w FROM c),
      |t AS (SELECT sum(w)::HUGEINT AS qt FROM q),
      |b AS (SELECT source, size, w,
      |        (w::HUGEINT * 1000000) // qt AS base,
      |        (w::HUGEINT * 1000000) % qt AS rem
      |      FROM q, t),
      |d AS (SELECT 1000000 - sum(base) AS deficit FROM b),
      |r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC)
      |        AS rr FROM b)
      |SELECT source, size, w AS weight_micro,
      |  CAST(base + (CASE WHEN rr <= (SELECT deficit FROM d)
      |               THEN 1 ELSE 0 END) AS BIGINT) AS budget
      |FROM r ORDER BY source""".stripMargin

  /** The complete Gopher rule battery ([[Curation.gopherRules]], Rae
    * et al. '21 §A1.1) as a per-doc decision surface: every rule's
    * verdict plus the conjunction, all thresholds integer
    * cross-multiplications so no float decides a verdict. */
  def cGopherRules(spark: SparkSession, dir: String): DataFrame =
    Curation.gopherRules(Tables.load(spark, dir, "documents"),
        "doc_id", "text")
      .orderBy("doc_id")

  private val cGopherRulesSql =
    """WITH f AS (SELECT doc_id,
      |    string_split(text, ' ') AS ws,
      |    string_split(text, chr(10)) AS lines,
      |    length(replace(text, ' ', ''))::BIGINT AS sumlen,
      |    (length(text) - length(replace(text, '#', '')))::BIGINT AS hashes,
      |    ((length(text) - length(replace(text, '...', ''))) / 3)::BIGINT
      |      AS ellipses
      |  FROM documents),
      |g AS (SELECT doc_id, sumlen, hashes, ellipses,
      |    len(ws)::BIGINT AS n_words,
      |    len(lines)::BIGINT AS n_lines,
      |    len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'
      |      OR l LIKE '•%'))::BIGINT AS bullets,
      |    len(list_filter(lines, l -> l LIKE '%...'))::BIGINT AS ell_lines,
      |    len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT
      |      AS alpha,
      |    len(list_intersect(list_distinct(ws),
      |      ['the','be','to','of','and','that','have','with']))::BIGINT
      |      AS stop_hits
      |  FROM f)
      |SELECT doc_id, n_words,
      |  n_words >= 50 AND n_words <= 100000 AS word_count_ok,
      |  sumlen >= n_words * 3 AND sumlen <= n_words * 10 AS mean_word_len_ok,
      |  (hashes + ellipses) * 10 <= n_words AS symbol_ratio_ok,
      |  bullets * 10 <= n_lines * 9 AND ell_lines * 10 <= n_lines * 3
      |    AS bullet_ok,
      |  alpha * 5 >= n_words * 4 AS alpha_ratio_ok,
      |  stop_hits >= 2 AS stopwords_ok,
      |  (n_words >= 50 AND n_words <= 100000)
      |    AND (sumlen >= n_words * 3 AND sumlen <= n_words * 10)
      |    AND ((hashes + ellipses) * 10 <= n_words)
      |    AND (bullets * 10 <= n_lines * 9 AND ell_lines * 10 <= n_lines * 3)
      |    AND (alpha * 5 >= n_words * 4)
      |    AND (stop_hits >= 2) AS keep
      |FROM g ORDER BY doc_id""".stripMargin

  /** Composed tokenizer pipeline — the round's three new text stages
    * verified COMPOSED under one oracle (the p71/p73 discipline):
    * Gopher rule filter → ExactSubstr excision (keep-first, computed
    * on the FILTERED corpus) → unigram-LM encode (vocabulary re-seeded
    * on the CLEANED corpus). Each stage shrinks or rewrites the next
    * stage's input, so the seams — filter-before-dedup, dedup-before-
    * vocab — are inside the hash, not just each stage alone.
    *
    * The filter is the five STRUCTURAL Gopher rules; the required-
    * stopword rule presumes natural English and rejects 100% of the
    * synthetic fixture (a filter that keeps nothing verifies nothing
    * downstream), so the pipeline composes the rules that bite here —
    * word count cuts 45% of docs, the p76 gate still verifies all six
    * verdicts per doc. */
  def cTokenizerPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val r = Curation.gopherRules(docs, "doc_id", "text")
    val keep = r.filter(col("word_count_ok") && col("mean_word_len_ok") &&
        col("symbol_ratio_ok") && col("bullet_ok") && col("alpha_ratio_ok"))
      .select("doc_id")
    // kept feeds both the excision and the cleaned join below — without
    // materialization the scan + Gopher filter chain evaluates twice
    val kept = docs.join(keep, Seq("doc_id")).select("doc_id", "text")
      .localCheckpoint()
    val excised = Dedup.exactSubstrExcise(kept, "doc_id", "text", 20)
      .select(col("doc_id"), col("cleaned_text"))
    // the cleaned corpus feeds TWO encodeStats consumers that cannot
    // share an exchange (the distinct-word histogram and the per-doc
    // explode) — without materialization each re-runs the Gopher
    // filter + excision chain (the p73 lesson; 8.9 → ~3 s warm at
    // sf0.1, and at corpus scale the excision shuffle dominates)
    val cleaned = kept.join(excised, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cleaned_text"), col("text")).as("text"))
      .localCheckpoint()
    graft.operators.Unigram
      .encodeStats(cleaned, "doc_id", "text", topK = 512, maxPieceLen = 4)
      .orderBy("doc_id")
  }

  private val cTokenizerPipelineSql =
    """WITH RECURSIVE keepers AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id,
      |      len(string_split(text, ' '))::BIGINT AS n_words,
      |      length(replace(text, ' ', ''))::BIGINT AS sumlen,
      |      (length(text) - length(replace(text, '#', '')))::BIGINT AS hashes,
      |      ((length(text) - length(replace(text, '...', ''))) / 3)::BIGINT
      |        AS ellipses,
      |      len(string_split(text, chr(10)))::BIGINT AS n_lines,
      |      len(list_filter(string_split(text, chr(10)), l -> l LIKE '- %'
      |        OR l LIKE '* %' OR l LIKE '•%'))::BIGINT AS bullets,
      |      len(list_filter(string_split(text, chr(10)),
      |        l -> l LIKE '%...'))::BIGINT AS ell_lines,
      |      len(list_filter(string_split(text, ' '),
      |        w -> regexp_matches(w, '[a-zA-Z]')))::BIGINT AS alpha
      |    FROM documents)
      |  WHERE n_words >= 50 AND n_words <= 100000
      |    AND sumlen >= n_words * 3 AND sumlen <= n_words * 10
      |    AND (hashes + ellipses) * 10 <= n_words
      |    AND bullets * 10 <= n_lines * 9 AND ell_lines * 10 <= n_lines * 3
      |    AND alpha * 5 >= n_words * 4),
      |toks AS (SELECT d.doc_id AS id, string_split(d.text, ' ') AS ts
      |         FROM documents d JOIN keepers USING (doc_id)),
      |g AS (SELECT id, i AS pos, array_to_string(ts[i:i+19], ' ') AS gram
      |      FROM toks, UNNEST(generate_series(1, len(ts) - 19)) AS t(i)
      |      WHERE len(ts) >= 20),
      |fl AS (SELECT id, pos FROM (
      |        SELECT id, pos,
      |               row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rn
      |        FROM g) WHERE rn >= 2),
      |b AS (SELECT id, pos,
      |             CASE WHEN pos > lag(pos) OVER w + 20 THEN 1 ELSE 0 END AS brk
      |      FROM fl WINDOW w AS (PARTITION BY id ORDER BY pos)),
      |iv AS (SELECT id, min(pos) AS s, max(pos) + 19 AS e
      |       FROM (SELECT id, pos, sum(brk) OVER (
      |               PARTITION BY id ORDER BY pos) AS grp FROM b)
      |       GROUP BY id, grp),
      |tok AS (SELECT id, j, ts[j] AS tok FROM toks,
      |        UNNEST(generate_series(1, len(ts))) AS t(j)),
      |cov AS (SELECT DISTINCT iv.id, c.j
      |        FROM iv, UNNEST(generate_series(iv.s, iv.e)) AS c(j)),
      |cleaned AS (SELECT tok.id AS doc_id,
      |              coalesce(array_to_string(list(tok.tok ORDER BY tok.j)
      |                FILTER (WHERE cov.j IS NULL), ' '), '') AS text
      |            FROM tok LEFT JOIN cov ON tok.id = cov.id AND tok.j = cov.j
      |            GROUP BY tok.id),
      |dw AS (SELECT doc_id,
      |         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |       FROM cleaned),
      |wf AS (SELECT w, count(*) AS freq FROM dw GROUP BY w),
      |occ AS (SELECT substr(w, s, l) AS piece, freq
      |        FROM wf, UNNEST(generate_series(1, len(w))) AS ts(s),
      |             UNNEST(generate_series(1, least(4, len(w) - s + 1))) AS tl(l)),
      |pc AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM occ GROUP BY piece),
      |total AS (SELECT sum(cnt)::BIGINT AS tot FROM pc),
      |vocab AS (
      |  SELECT piece, cnt FROM (
      |    SELECT piece, cnt FROM pc ORDER BY cnt DESC, piece ASC LIMIT 512)
      |  UNION
      |  SELECT piece, cnt FROM pc WHERE len(piece) = 1),
      |vc AS (SELECT piece,
      |         (floor(1e6 * ln(tot)) - floor(1e6 * ln(cnt)))::BIGINT * 1024
      |           + 1 AS enc
      |       FROM vocab, total),
      |dp AS (
      |  SELECT w, 0 AS i, [0::BIGINT] AS best FROM wf WHERE len(w) < 1024
      |  UNION ALL
      |  SELECT d.w, d.i + 1 AS i,
      |         list_append(d.best, min(d.best[j + 1] + v.enc)) AS best
      |  FROM dp d,
      |       UNNEST(generate_series(greatest(0, d.i + 1 - 4), d.i)) AS tj(j)
      |       JOIN vc v ON v.piece = substr(d.w, j + 1, d.i + 1 - j)
      |  WHERE d.i < len(d.w)
      |  GROUP BY d.w, d.i, d.best),
      |wenc AS (SELECT w, best[len(w) + 1] AS enc FROM dp WHERE i = len(w))
      |SELECT doc_id, count(*) AS n_words,
      |       sum(enc % 1024)::BIGINT AS n_pieces,
      |       sum(enc // 1024)::BIGINT AS cost_micronats
      |FROM dw JOIN wenc USING (w) GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** MMR diversity selection ([[Similarity.mmrSelect]], Carbonell &
    * Goldstein '98): 8 greedy picks from candidates 1..199 against the
    * vec-0 query at λ = 0.5. The oracle replays the greedy loop as a
    * recursive CTE carrying the selected-id list; scores hash as raw
    * doubles (identical IEEE op sequence — the p6 contract). */
  def sMmrSelect(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val q = embs.filter(col("vec_id") === 0).select("embedding").first()
      .getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    Similarity.mmrSelect(embs.filter(col("vec_id").between(1, 199)),
        "vec_id", "embedding", q, k = 8, lambda = 0.5)
      .orderBy("rank")
  }

  private def mmrCos(a: String, b: String): String =
    s"""(list_sum(list_transform(generate_series(1, len($a)),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE))
       |  / (sqrt(list_sum(list_transform(generate_series(1, len($a)),
       |       i -> $a[i]::DOUBLE * $a[i]::DOUBLE)))
       |   * sqrt(list_sum(list_transform(generate_series(1, len($b)),
       |       i -> $b[i]::DOUBLE * $b[i]::DOUBLE)))))""".stripMargin

  // shared with LakehouseQueries: the l38 SQL-surface MMR gate reuses
  // this oracle verbatim (same fixture rows through a graft table)
  private[graft] val sMmrSelectSql =
    s"""WITH RECURSIVE
       |cand AS (SELECT vec_id, embedding FROM embeddings
       |         WHERE vec_id BETWEEN 1 AND 199),
       |qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
       |base AS (SELECT c.vec_id, c.embedding,
       |           ${mmrCos("c.embedding", "qv.v")} AS simq
       |         FROM cand c, qv),
       |sel AS (
       |  SELECT 0 AS step, []::BIGINT[] AS ids
       |  UNION ALL
       |  SELECT step + 1, list_append(ids, vec_id)
       |  FROM (
       |    SELECT step, ids, vec_id,
       |           row_number() OVER (PARTITION BY step
       |             ORDER BY 0.5 * simq - 0.5 * coalesce(maxsel, 0.0) DESC,
       |                      vec_id ASC) AS rn
       |    FROM (
       |      SELECT s.step, s.ids, b.vec_id,
       |             any_value(b.simq) AS simq,
       |             max(${mmrCos("b.embedding", "e.embedding")}) AS maxsel
       |      FROM sel s,
       |           base b,
       |           UNNEST(list_append(s.ids, -1)) AS t(sid)
       |      LEFT JOIN cand e ON e.vec_id = t.sid
       |      WHERE s.step < 8 AND NOT list_contains(s.ids, b.vec_id)
       |      GROUP BY s.step, s.ids, b.vec_id))
       |  WHERE rn = 1),
       |final AS (SELECT ids FROM sel WHERE step = 8),
       |ranked AS (SELECT g.r AS rank, f.ids[g.r] AS vec_id,
       |                  f.ids[1:g.r-1] AS prefix
       |           FROM final f, UNNEST(generate_series(1, 8)) AS g(r)),
       |pairs AS (SELECT r.rank, r.vec_id, e.embedding AS sel_emb
       |          FROM ranked r, UNNEST(list_append(r.prefix, -1)) AS t(sid)
       |          LEFT JOIN cand e ON e.vec_id = t.sid),
       |scored AS (SELECT p.rank, p.vec_id,
       |    0.5 * any_value(b.simq)
       |      - 0.5 * coalesce(max(${mmrCos("b.embedding", "p.sel_emb")}),
       |          0.0) AS score
       |  FROM pairs p JOIN base b ON b.vec_id = p.vec_id
       |  GROUP BY p.rank, p.vec_id)
       |SELECT rank, vec_id, score FROM scored ORDER BY rank""".stripMargin

  /** Scalable MMR (p85 — [[Similarity.mmrSelectClustered]], the
    * documented exit past [[Similarity.mmrSelect]]'s maxK envelope):
    * the same 8-pick fixture run through the pool-collect + local
    * greedy path at numClusters = 1 with the pool covering every
    * candidate — the operator's EXACTNESS CONTRACT says that is
    * identical to mmrSelect, so the p78 recursive-CTE oracle applies
    * verbatim and the scores hash-match bit for bit (cosineLocal is
    * CosineSim's op sequence). The scale divergence is plan shape
    * only: one window shuffle + a driver-local greedy instead of k
    * sequential scans — which is why k=500 is reachable here
    * (BASELINE.md round-26 row) and refused by the guarded path. */
  def sMmrClustered(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val q = embs.filter(col("vec_id") === 0).select("embedding").first()
      .getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    Similarity.mmrSelectClustered(embs.filter(col("vec_id").between(1, 199)),
        "vec_id", "embedding", q, k = 8, lambda = 0.5,
        numClusters = 1, poolPerCluster = 256)
      .orderBy("rank")
  }

  /** Token-balanced shard assignment ([[Curation.balancedShards]]):
    * every doc dealt onto 4 shards by salted snake order over token
    * weight — per-doc assignments plus the per-shard totals the
    * balance claim rides on, both exact. */
  def cBalancedShards(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    Curation.balancedShards(docs, "doc_id", "n_tokens", shards = 4,
        salts = 8)
      .select(col("doc_id"), col("shard"), col("n_tokens"))
      .orderBy("doc_id")
  }

  private val cBalancedShardsSql =
    """WITH d AS (SELECT doc_id,
      |    len(string_split(text, ' '))::BIGINT AS n_tokens,
      |    ((strpos('0123456789abcdef',
      |        substr(md5(doc_id::VARCHAR), 1, 1)) - 1) * 16
      |     + strpos('0123456789abcdef',
      |        substr(md5(doc_id::VARCHAR), 2, 1)) - 1) % 8 AS salt
      |  FROM documents),
      |r AS (SELECT doc_id, n_tokens,
      |    row_number() OVER (PARTITION BY salt
      |      ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rn
      |  FROM d)
      |SELECT doc_id,
      |  CASE WHEN (rn // 4) % 2 = 0 THEN rn % 4 ELSE 3 - rn % 4 END AS shard,
      |  n_tokens
      |FROM r ORDER BY doc_id""".stripMargin

  /** In-engine perceptron training ([[Selection.trainPerceptron]]):
    * three batch epochs of the en-vs-rest language classifier over
    * 64 hashed unigram buckets + bias — final INTEGER weights, every
    * epoch replayed by the oracle's recursive CTE. */
  def cPerceptron(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fit = graft.operators.Selection.trainPerceptron(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      when(col("lang") === "en", 1L).otherwise(-1L), dim = 64, epochs = 3)
    fit.weights.zipWithIndex
      .map { case (wt, i) => (i.toLong, wt) }.toSeq
      .toDF("idx", "weight").orderBy("idx")
  }

  private val cPerceptronSql =
    """WITH RECURSIVE feats AS (
      |  SELECT doc_id AS id,
      |         ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS idx,
      |         count(*)::BIGINT AS cnt
      |  FROM (SELECT doc_id,
      |          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
      |        FROM documents)
      |  GROUP BY 1, 2
      |  UNION ALL
      |  SELECT doc_id, 64, 1 FROM documents),
      |labels AS (SELECT doc_id AS id,
      |             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
      |           FROM documents),
      |ep AS (
      |  SELECT 0 AS epoch,
      |         list_transform(generate_series(1, 65), j -> 0::BIGINT) AS w
      |  UNION ALL
      |  SELECT epoch + 1, list(wj + dj ORDER BY j)
      |  FROM (
      |    SELECT epoch, w, g.j AS j,
      |           any_value(w[g.j]) AS wj,
      |           coalesce(sum(CASE WHEN idx = g.j - 1 THEN ycnt END), 0)::BIGINT
      |             AS dj
      |    FROM (
      |      SELECT m.epoch, m.w, f2.idx, m.y * f2.cnt AS ycnt, m.id
      |      FROM (
      |        SELECT mg.epoch, mg.w, mg.id, l.y
      |        FROM (
      |          SELECT e.epoch, e.w, f.id,
      |                 sum(f.cnt * e.w[f.idx + 1])::BIGINT AS margin
      |          FROM ep e, feats f
      |          WHERE e.epoch < 3
      |          GROUP BY e.epoch, e.w, f.id) mg
      |        JOIN labels l ON l.id = mg.id
      |        WHERE l.y * mg.margin <= 0) m
      |      JOIN feats f2 ON f2.id = m.id) miscl,
      |      UNNEST(generate_series(1, 65)) AS g(j)
      |    GROUP BY epoch, w, g.j)
      |  GROUP BY epoch, w)
      |SELECT g.j - 1 AS idx, f.w[g.j] AS weight
      |FROM (SELECT w FROM ep WHERE epoch = (SELECT max(epoch) FROM ep)) f,
      |     UNNEST(generate_series(1, 65)) AS g(j)
      |ORDER BY idx""".stripMargin

  // ---- similarity search ---------------------------------------------

  /** Brute-force cosine top-5 for query vectors vec_id < 10. */
  def sBruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    Similarity.bruteForceTopK(embs, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  private val sBruteSql =
    """WITH v AS (SELECT vec_id, embedding FROM embeddings),
      |q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
      |s AS (SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
      |  list_sum(list_transform(generate_series(1, len(q.embedding)),
      |    i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
      |  / (sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)),
      |       i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))
      |   * sqrt(list_sum(list_transform(generate_series(1, len(v.embedding)),
      |       i -> v.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)))) AS cosine
      |      FROM q JOIN v ON q.vec_id <> v.vec_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s)
      |SELECT query_id, neighbor_id, rank, cosine FROM r
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** LSH ANN at full-recall parameters (auto-sized: per-neighbor miss
    * ≤ 1e-8 down to cosine 0.2, below the weakest true top-5 neighbor
    * in this data) — output must equal exact brute force, which is the
    * oracle. Same gate pattern as p3: the approximation has to reach
    * the exact answer. Partial-recall configs are exercised in
    * ScalaTest. */
  def sLshTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    Similarity.lshTopK(embs, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64,
        // footer-metadata count: auto-sizing without a count job
        corpusCount = Tables.footerRowCount(spark, dir, "embeddings"))
      .orderBy("query_id", "rank")
  }

  /** IVF ANN via the PERSISTED index ([[graft.operators.IvfIndex]]):
    * built once per corpus (k-means table service, assignments
    * partitioned by list), queried with partition pruning. Gated at
    * full probe (nProbe = nLists), where the index machinery must
    * reproduce exact brute force bit-for-bit — the oracle. Partial
    * probe (the scale path: nProbe/nLists of the corpus scanned) is
    * covered by recall + partition-pruning ScalaTests. */
  def sIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    val nLists = 16
    val path = ivfCachePath(dir)
    IvfIndex.buildIfStale(embs, "vec_id", "embedding", nLists, path,
      // footer-metadata count: a warm staleness check runs zero jobs
      corpusCount = Tables.footerRowCount(spark, dir, "embeddings"))
    IvfIndex.topK(spark, path, embs.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nProbe = nLists)
      .orderBy("query_id", "rank")
  }

  /** Index path for the persisted-IVF gates, scoped to THIS JVM
    * invocation: a fresh per-process root (shutdown-hook-deleted) keyed
    * by the corpus dir and its embeddings file's size and mtime (a
    * corpus regenerated in place under the same dir gets a fresh
    * index), so every invocation pays the index build at
    * least once and nothing persists across runs — cross-run reuse of
    * an index keyed on the test data would be precompute, not
    * optimization. Within one process, repeated calls (Bench's
    * min-of-runs) hit `buildIfStale`'s staleness check and measure the
    * warm probe path — disclosed in Bench's scaladoc. */
  private lazy val ivfCacheRoot: java.nio.file.Path =
    graft.util.TempDirs.create("graft-ivf-")
  private def ivfCachePath(dir: String): String = {
    import java.nio.file.Files
    val corpus = graft.util.Fs.walk(java.nio.file.Paths.get(dir, "embeddings.parquet"))(
      _.filter(Files.isRegularFile(_)).map(p =>
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSeq)
    val sig = java.lang.Integer.toHexString(
      (dir, corpus.map(_._1).sum, corpus.map(_._2).maxOption).hashCode)
    ivfCacheRoot.resolve(s"ivf-$sig").toString
  }

  // ---- text analysis -------------------------------------------------

  def tQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val metrics = TextFunctions.qualityMetrics(col("text"))
    docs.select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  private val stopList = TextFunctions.Stopwords.map(s => s"'$s'").mkString(", ")

  private val tQualitySql =
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  length(text) AS n_chars,
       |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS avg_token_len,
       |  CAST(len(list_filter(string_split(text, ' '),
       |        w -> w IN ($stopList))) AS DOUBLE)
       |    / len(string_split(text, ' ')) AS stopword_ratio,
       |  CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
       |       AS DOUBLE) / length(text) AS punct_ratio
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Repetition quality signals ([[TextFunctions.repetitionMetrics]],
    * Gopher-style): top-word fraction + duplicate-bigram fraction,
    * pure per-row expressions (no explode, no shuffle). */
  def tRepetition(spark: SparkSession, dir: String): DataFrame = {
    val metrics = TextFunctions.repetitionMetrics(col("text"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id") +: metrics.map { case (n, c) => c.as(n) }: _*)
      .orderBy("doc_id")
  }

  private val tRepetitionSql =
    """SELECT doc_id,
      |  list_max(list_transform(list_distinct(ws),
      |    w -> len(list_filter(ws, x -> x = w))))::DOUBLE / len(ws) AS top_word_ratio,
      |  1.0 - len(list_distinct(bg))::DOUBLE / len(bg) AS dup_bigram_ratio
      |FROM (SELECT doc_id, ws,
      |        list_transform(generate_series(1, greatest(1, len(ws) - 1)),
      |          i -> array_to_string(ws[i:i+1], ' ')) AS bg
      |      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Vocabulary builder (the tokenizer-training precursor): global
    * word frequencies, top-V with a deterministic tie-break. Partial
    * aggregation combines map-side, ONE shuffle on the word, and the
    * top-V is TakeOrderedAndProject (per-partition heaps + driver
    * merge of V rows) — never a global sort. */
  def tVocab(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc)
      .limit(1000)

  private val tVocabSql =
    """SELECT word, count(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY 1 ORDER BY freq DESC, word ASC LIMIT 1000""".stripMargin

  /** BPE pair-merge statistics ([[graft.operators.Bpe.mergeStats]]):
    * the first `bpeMerges` tokenizer merges over the corpus — exact
    * merge SEQUENCE, deterministic tie-break, gated against an
    * unrolled DuckDB reimplementation of the same greedy loop. */
  private val bpeMerges = 8

  def tBpe(spark: SparkSession, dir: String): DataFrame =
    Bpe.mergeStats(Tables.load(spark, dir, "documents"), "text", bpeMerges)
      .orderBy("merge_rank")

  /** The oracle unrolls the merge loop as chained CTEs (one
    * pair-count + argmax + replace trio per round) — same segmentation
    * encoding (double-space separators), same `> count, then (l, r)`
    * tie order, same greedy left-to-right `replace` application. */
  private def tBpeSql: String = {
    def pairAndTop(i: Int) =
      s"""p$i AS (
         |  SELECT z[1] AS l, z[2] AS r, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT unnest(list_zip(a, a[2:])) AS z, freq
         |        FROM (SELECT string_split(trim(s), '  ') AS a, freq FROM w${i - 1}))
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
    def applyMerge(i: Int) =
      s"""w$i AS (
         |  SELECT replace(s, ' ' || m$i.l || '  ' || m$i.r || ' ',
         |                    ' ' || m$i.l || m$i.r || ' ') AS s, freq
         |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
    val rounds = (1 to bpeMerges).map { i =>
      if (i < bpeMerges) pairAndTop(i) + ",\n" + applyMerge(i)
      else pairAndTop(i)
    }
    val finalSelect = (1 to bpeMerges).map { i =>
      if (i == 1)
        s"SELECT 1 AS merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m1"
      else s"SELECT $i, l, r, cnt FROM m$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT w, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |w0 AS (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, freq
       |       FROM words),
       |${rounds.mkString(",\n")}
       |$finalSelect
       |ORDER BY merge_rank""".stripMargin
  }

  /** Language ID over the corpus (custom Catalyst expression, trigram
    * profiles) — available as an operator; the GATE runs the classifier
    * on [[langFixture]], a planted-label fixture whose expected outputs
    * the DuckDB oracle states as literals (the per-row exact-match gate
    * VERDICT r1 asked for; the synthetic `documents.lang` labels are
    * word-salad and not classifier-reachable by design). */
  def tLangId(spark: SparkSession, dir: String): DataFrame = {
    GraftExpressions.register(spark)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), GraftExpressions.lang_id(col("text")).as("lang_pred"))
      .orderBy("doc_id")
  }

  /** (id, text, expected-lang) — real function-word sentences per
    * language, plus script-detection and und floors. */
  private[graft] val langFixture: Seq[(Int, String, String)] = Seq(
    (0, "the cat is on the mat and it is happy that the day is warm", "en"),
    (1, "it is the end of the day and the children are in the house", "en"),
    (2, "der hund und die katze sind mit dem kind in dem garten", "de"),
    (3, "das kind und die frau sind in dem haus mit einem hund", "de"),
    (4, "le chien et le chat sont dans le jardin avec les enfants", "fr"),
    (5, "les parents et les enfants sont dans la maison avec le chien", "fr"),
    (6, "el perro y el gato están en el jardín con los niños de la casa", "es"),
    (7, "los niños y los padres están en la casa con el perro del barrio", "es"),
    (8, "il cane e il gatto sono nel giardino con i bambini della casa", "it"),
    (9, "o cachorro e o gato estão no jardim com as crianças da casa", "pt"),
    (10, "今天天气很好我们一起去公园散步吧", "zh"),
    (11, "今日はいい天気ですから公園へさんぽに行きましょう", "ja"),
    (12, "오늘은 날씨가 좋아서 공원에 산책하러 갑니다", "ko"),
    (13, "xyzzy qwfp 12345", "und"))

  def tLangIdFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    GraftExpressions.register(spark)
    langFixture.map { case (id, text, _) => (id, text) }
      .toDF("sample_id", "text")
      .select(col("sample_id"), GraftExpressions.lang_id(col("text")).as("lang_pred"))
      .orderBy("sample_id")
  }

  private val tLangIdSql = {
    val rows = langFixture
      .map { case (id, _, lang) => s"($id, '$lang')" }.mkString(", ")
    s"SELECT * FROM (VALUES $rows) AS t(sample_id, lang_pred) ORDER BY sample_id"
  }

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03: window-min
    * selection over k-gram hashes), gated with md5 as the gram hash so
    * BOTH engines compute the identical selection: char 8-grams,
    * window 4, min-hash per window, distinct per doc. The native
    * [[graft.functions.GraftExpressions.winnow_fingerprint]]
    * expression (rolling hash, one pass) is the fast path and keeps
    * its ScalaTest selection/overlap coverage — this gate proves the
    * winnowing ALGORITHM row-exactly against DuckDB. */
  def tFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("p", greatest(lit(1), length(col("text")) - 7))
      .withColumn("hs", expr(
        "transform(sequence(1, p), i -> md5(substring(text, i, 8)))"))
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(sequence(1, greatest(1, p - 3)),
          |  j -> array_min(slice(hs, j, least(j + 3, p) - j + 1))))""".stripMargin))
        .as("fp"))
      .orderBy("doc_id", "fp")

  private val tFingerprintSql =
    """WITH d AS (SELECT doc_id, text, greatest(1, length(text) - 7) AS p
      |           FROM documents),
      |h AS (SELECT doc_id, p, list_transform(generate_series(1, p),
      |        i -> md5(substr(text, i, 8))) AS hs FROM d),
      |f AS (SELECT doc_id, list_distinct(list_transform(
      |        generate_series(1, greatest(1, p - 3)),
      |        j -> list_min(hs[j:least(j + 3, p)]))) AS fps FROM h)
      |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin

  /** Token count with a BPE-ish regex segmentation (words, digits,
    * punctuation runs — the standard pre-tokenizer shape). Expressible
    * in both engines via regexp_extract_all. */
  def tTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .as("bpe_ish_tokens"))
      .orderBy("doc_id")

  private val tTokenSql =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- dataset curation (sampling / stratification / normalization) --

  /** Deterministic md5-threshold sample (no RNG: membership is a pure
    * function of the key — reproducible, resumable, oracle-checkable). */
  def cSample(spark: SparkSession, dir: String): DataFrame =
    Curation.deterministicSample(
        Tables.load(spark, dir, "documents"), "doc_id", fraction = 0.25)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  private val cSampleSql =
    s"""SELECT doc_id, lang FROM documents
       |WHERE md5(doc_id::VARCHAR) < '${Curation.hexThreshold(0.25)}'
       |ORDER BY doc_id""".stripMargin

  /** Stratified top-20 per language by md5 order of the key. */
  def cStratified(spark: SparkSession, dir: String): DataFrame =
    Curation.stratifiedTopN(Tables.load(spark, dir, "documents"),
        classCol = "lang", keyCol = "doc_id", n = 20)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")

  private val cStratifiedSql =
    """SELECT lang, doc_id FROM (
      |  SELECT lang, doc_id, row_number() OVER (
      |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
      |  FROM documents)
      |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin

  /** Canonical normalization + content fingerprint (the pre-dedup
    * cleanup pass). */
  def cNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        Curation.normalizeText(col("text")).as("norm_text"))
      .withColumn("norm_hash", md5(col("norm_text")))
      .orderBy("doc_id")

  private val cNormalizeSql =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |       ' +', ' ', 'g')) AS norm_text,
      |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
      |       ' +', ' ', 'g'))) AS norm_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Length histogram by language — curation dataset statistics. */
  def cLengthHist(spark: SparkSession, dir: String): DataFrame =
    Curation.lengthHistogram(Tables.load(spark, dir, "documents"),
        "text", "lang", bucketWidth = 20)
      .orderBy("token_bucket", "class")

  private val cLengthHistSql =
    """SELECT (len(string_split(text, ' ')) // 20) * 20 AS token_bucket,
      |       lang AS class, count(*) AS n_docs
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** PII redaction gate: the synthetic corpus carries no PII, so both
    * engines PLANT the same deterministic email + IPv4 per document
    * (pure function of doc_id), redact, and must agree row-exactly —
    * the patterns are RE2-compatible so Java regex and DuckDB's RE2
    * behave identically. */
  def cPii(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), Curation.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0.0."),
          pmod(col("doc_id"), lit(256)).cast("string")))
        .as("clean"))
      .orderBy("doc_id")

  private val cPiiSql =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      text || ' contact user' || doc_id::VARCHAR
      |        || '@example.com from 10.0.0.' || (doc_id % 256)::VARCHAR,
      |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |    '\b[0-9]{1,3}(\.[0-9]{1,3}){3}\b', '<IP>', 'g') AS clean
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination gate: eval corpus = docs 0-49, report
    * every other document sharing ≥ 1 distinct 5-shingle with it
    * (the decontamination pass run before training-set export). */
  def cContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Curation.contaminationCheck(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 5)
      .orderBy("doc_id")
  }

  private val cContaminationSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 4)),
      |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM w),
      |e AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50)
      |SELECT g.doc_id, count(*) AS n_hits
      |FROM g JOIN e USING (gram)
      |WHERE g.doc_id >= 50
      |GROUP BY 1 HAVING count(*) >= 1 ORDER BY 1""".stripMargin

  /** Sequence-packing gate: the distributed prefix sum must equal the
    * oracle's single global window cumsum exactly — same offsets, same
    * window assignments, independent of Spark's range partitioning. */
  def cPackSequences(spark: SparkSession, dir: String): DataFrame =
    Curation.packSequences(Tables.load(spark, dir, "documents"),
        "doc_id", "text", targetTokens = 2048)
      .orderBy("doc_id")

  private val cPackSql =
    """SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens,
      |  coalesce(sum(len(string_split(text, ' '))) OVER (
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0)::BIGINT AS offset,
      |  (coalesce(sum(len(string_split(text, ' '))) OVER (
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    0) // 2048)::BIGINT AS window_id
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- multimodal plumbing -------------------------------------------

  /** Binary-column plumbing over text-as-bytes: byte length through the
    * binary codepath (cast → octet_length), oracle-checked; the decode
    * stubs are exercised in ScalaTest over synthesized image bytes. */
  def mBinary(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"))
      .orderBy("doc_id")

  private val mBinarySql =
    """SELECT doc_id, octet_length(encode(text)) AS n_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BPE ENCODE gate (p28): learn the first `bpeMerges` merges from the
    * corpus (p26's operator), then APPLY them and count tokens per doc.
    * The oracle re-learns the same merges with p26's chained CTEs and
    * re-applies them with the same replace chain — learn + apply both
    * independently reproduced. Docs with no `[a-z]+` word are absent on
    * both sides (inner explode). */
  def tBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val merges = Bpe.mergeStats(docs, "text", bpeMerges)
      .orderBy("merge_rank")
      .select("left_sym", "right_sym")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    Bpe.encodeTokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  private def tBpeEncodeSql: String = {
    def pairAndTop(i: Int) =
      s"""p$i AS (
         |  SELECT z[1] AS l, z[2] AS r, sum(freq)::BIGINT AS cnt
         |  FROM (SELECT unnest(list_zip(a, a[2:])) AS z, freq
         |        FROM (SELECT string_split(trim(s), '  ') AS a, freq FROM w${i - 1}))
         |  WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |m$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin
    def applyMerge(i: Int) =
      s"""w$i AS (
         |  SELECT replace(s, ' ' || m$i.l || '  ' || m$i.r || ' ',
         |                    ' ' || m$i.l || m$i.r || ' ') AS s, freq
         |  FROM w${i - 1} CROSS JOIN m$i)""".stripMargin
    def applyToDocs(i: Int) =
      s"""e$i AS (
         |  SELECT doc_id, replace(s, ' ' || m$i.l || '  ' || m$i.r || ' ',
         |                            ' ' || m$i.l || m$i.r || ' ') AS s
         |  FROM e${i - 1} CROSS JOIN m$i)""".stripMargin
    val rounds = (1 to bpeMerges).map { i =>
      if (i < bpeMerges) Seq(pairAndTop(i), applyMerge(i), applyToDocs(i))
      else Seq(pairAndTop(i), applyToDocs(i))
    }.flatten
    s"""WITH words AS (
       |  SELECT w, count(*)::BIGINT AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |        FROM documents)
       |  GROUP BY 1),
       |w0 AS (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, freq
       |       FROM words),
       |e0 AS (SELECT doc_id,
       |         '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s
       |       FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |             FROM documents)),
       |${rounds.mkString(",\n")}
       |SELECT doc_id,
       |  sum(len(string_split(trim(s), '  ')))::BIGINT AS n_tokens
       |FROM e$bpeMerges GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** End-to-end corpus curation (p29) — the north-star COMPOSITION
    * gate: quality filter → exact dedup (md5, keep min id) → near-dup
    * keep-best (minhash-LSH candidates, exact Jaccard ≥ 0.7 verify,
    * connected components, longest-doc representative) → per-doc token
    * stats of the surviving corpus. One DuckDB oracle reproduces the
    * whole chain, so the STAGES are verified composed, not just in
    * isolation — the shape an actual training-data run executes.
    *
    * Plan shape: the filter is a scan predicate; exact dedup is one
    * hash shuffle; the LSH candidates/verify/CC machinery runs on the
    * FILTERED survivors only (each stage shrinks the next stage's
    * input — the pipeline-order rule of training-data curation). */
  def pCurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val quality = docs.filter(size(split(col("text"), " ")) >= 30)
    val exactKeep = Dedup.exact(quality, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val uniq = quality.join(exactKeep, Seq("doc_id"), "left_semi")
    val keep = Dedup.keepBest(uniq, "doc_id", "text",
        Dedup.minhashLsh(uniq, "doc_id", "text", k = 5, threshold = 0.7))
      .select(col("keep_id").as("doc_id"))
    uniq.join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  private val pCurationSql =
    """WITH RECURSIVE
      |q AS (SELECT doc_id, text FROM documents
      |      WHERE len(string_split(text, ' ')) >= 30),
      |ek AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
      |s AS (SELECT q.doc_id, q.text FROM q JOIN ek USING (doc_id)),
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM s),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 4)),
      |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram
      |      FROM w),
      |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2),
      |jp AS (SELECT doc_a, doc_b FROM p
      |       JOIN n na ON p.doc_a = na.doc_id
      |       JOIN n nb ON p.doc_b = nb.doc_id
      |       WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.7),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
      |      UNION SELECT doc_b, doc_a FROM jp),
      |reach(a, b) AS (SELECT a, b FROM e
      |      UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
      |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |       FROM reach GROUP BY a),
      |m AS (SELECT s.doc_id, coalesce(cl.cluster_id, s.doc_id) AS cluster_id,
      |             len(string_split(s.text, ' '))::BIGINT AS n_tokens
      |      FROM s LEFT JOIN cl USING (doc_id)),
      |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
      |        ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM m)
      |SELECT doc_id, n_tokens FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---- SemDeDup (p27): semantic dedup groups -------------------------

  /** SemDeDup duplicate-group membership at the FULL-RECALL gate
    * configuration (nClusters = 1: every pair is a within-cluster
    * candidate — the same "exact at full probe" gate pattern as p14's
    * IVF entry). The oracle recomputes the groups independently as a
    * recursive-CTE transitive closure over the exact ≥threshold cosine
    * pair graph (group id = smallest reachable vec_id — the
    * connected-components contract). The scale configuration (many
    * clusters, bounded per-cluster fanout) is gated by
    * SemanticDedupSpec's exact-equivalence on tight-duplicate corpora,
    * where the paper's within-cluster restriction loses nothing. */
  def dSemanticGroups(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    graft.operators.SemanticDedup.verdicts(embs, "vec_id", "embedding",
        nClusters = 1, threshold = 0.45,
        indexPath = ivfCachePath(dir) + "-sem",
        corpusCount = Tables.footerRowCount(spark, dir, "embeddings"))
      .select(col("vec_id"), col("group_id")).orderBy("vec_id")
  }

  private val dSemanticSql = {
    val cos =
      """list_sum(list_transform(generate_series(1, len(a.embedding)),
        |    i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
        |  / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
        |       i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
        |   * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
        |       i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))""".stripMargin
    s"""WITH RECURSIVE
       | p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |       WHERE $cos >= 0.45),
       | e AS (SELECT ia AS a, ib AS b FROM p UNION SELECT ib, ia FROM p),
       | reach(a, b) AS (SELECT a, b FROM e
       |                 UNION
       |                 SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
       |SELECT a AS vec_id, CAST(least(a, min(b)) AS BIGINT) AS group_id
       |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin
  }

  /** Temperature-flattened mixture over `source` (p31): the
    * multi-source data-mixing step — see
    * [[Curation.temperatureMixture]] for the α = 0.5 sublinear target
    * and why it's per-group exact (no cross-source float sum). */
  def cTemperatureMixture(spark: SparkSession, dir: String): DataFrame =
    Curation.temperatureMixture(Tables.load(spark, dir, "documents"),
        classCol = "source", keyCol = "doc_id", scale = 2.0)
      .select("source", "doc_id")
      .orderBy("source", "doc_id")

  private val cTemperatureSql =
    """WITH t AS (
      |  SELECT source, least(count(*),
      |    CAST(ceil(2.0 * sqrt(count(*)::DOUBLE)) AS BIGINT)) AS t
      |  FROM documents GROUP BY 1),
      |r AS (SELECT source, doc_id, row_number() OVER (
      |        PARTITION BY source
      |        ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rn
      |      FROM documents)
      |SELECT source, doc_id FROM r JOIN t USING (source)
      |WHERE rn <= t ORDER BY source, doc_id""".stripMargin

  // ---- bigram-LM typicality scoring (p30) ----------------------------

  /** Corpus-LM typicality scoring — the statistics core of CCNet-style
    * n-gram-LM quality filtering: train bigram/unigram counts on the
    * corpus itself, then score every document by how typical its
    * bigrams are of that corpus. Per doc:
    *   `rare_frac`  = fraction of bigrams seen nowhere else (count 1),
    *   `typicality` = Σ C(bigram) / Σ C(first-word) — the aggregate
    *                  conditional-probability mass of the doc's bigrams.
    * The log transform of classic perplexity is deliberately OMITTED:
    * `ln` is not bit-identical across libm implementations and a sum
    * of logs is order-dependent, so the gate would be flaky — while
    * these BIGINT-sum + single-division statistics are exact in both
    * engines and rank-equivalent uses (threshold filters) survive any
    * monotone transform applied downstream.
    *
    * Scale shape: counting is two hash shuffles with map-side partial
    * aggregation (O(distinct grams) shuffled, not O(tokens)).
    * Attaching C(bigram) back to each occurrence is the textbook SKEW
    * join — bigram frequency is Zipfian, so the hot grams would pile
    * onto single reducers — and uses [[Joins.saltedEquiJoin]] (count
    * rows replicated 8×, occurrences spread by hash(doc_id)). The
    * unigram attach reuses the same operator. Neither count table is
    * broadcast: at 100 TB the distinct-gram tables are themselves
    * beyond broadcast size. */
  def tLmTypicality(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("u"))
    val bg = toks.select(col("doc_id"), explode(expr(
        """zip_with(t, slice(t, 2, greatest(size(t) - 1, 0)),
          |  (x, y) -> named_struct('w1', x, 'b', concat(x, ' ', y)))"""
          .stripMargin)).as("z"))
      .filter(col("z.b").isNotNull)
      .select(col("doc_id"), col("z.w1").as("w1"), col("z.b").as("b"))
    val bc = bg.groupBy("b").agg(count(lit(1)).as("c"))
    val scored = Joins.saltedEquiJoin(
      Joins.saltedEquiJoin(bg, bc, "b", salts = 8, saltBy = col("doc_id")),
      uni, "w1", salts = 8, saltBy = col("doc_id"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("rare"),
        sum(col("c")).as("hit_sum"), sum(col("u")).as("ctx_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("rare").cast("double") / col("n_bigrams").cast("double"))
          .as("rare_frac"),
        (col("hit_sum").cast("double") / col("ctx_sum").cast("double"))
          .as("typicality"))
      .orderBy("doc_id")
  }

  private val tLmTypicalitySql =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (SELECT w1, count(*)::BIGINT AS u
      |        FROM (SELECT unnest(t) AS w1 FROM tok) GROUP BY 1),
      |bg AS (SELECT doc_id, z[1] AS w1, z[1] || ' ' || z[2] AS b
      |       FROM (SELECT doc_id, unnest(list_zip(t, t[2:])) AS z FROM tok)
      |       WHERE z[2] IS NOT NULL),
      |bc AS (SELECT b, count(*)::BIGINT AS c FROM bg GROUP BY 1),
      |j AS (SELECT doc_id, c, u FROM bg JOIN bc USING (b) JOIN uni USING (w1))
      |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
      |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS rare_frac,
      |  CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
      |    / CAST(CAST(sum(u) AS BIGINT) AS DOUBLE) AS typicality
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- line-level dedup / boilerplate removal (p32) ------------------

  /** CCNet-style line dedup ([[Dedup.lineDedup]]): segments occurring
    * in ≥ 78% of documents are boilerplate and removed; each document
    * is reassembled from its surviving segments in order. The gate
    * corpus carries no newlines, so the segment delimiter is " "
    * (token granularity) — the operator and plan are delimiter-
    * agnostic. The DF threshold comes from a METADATA-only corpus
    * count (parquet footers), not a scan. */
  def dLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val minDocs = math.ceil(
      0.78 * Tables.footerRowCount(spark, dir, "documents")).toLong
    Dedup.lineDedup(Tables.load(spark, dir, "documents"),
        "doc_id", "text", delimiter = " ", minDocs = minDocs)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  private val dLineDedupSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
      |df AS (SELECT line, count(*) AS c
      |       FROM (SELECT DISTINCT doc_id, unnest(parts) AS line FROM d)
      |       GROUP BY 1),
      |bp AS (SELECT coalesce(list(line), []) AS bl FROM df
      |       WHERE c >= ceil(0.78 * (SELECT count(*) FROM documents))),
      |clean AS (SELECT doc_id,
      |            list_filter(parts, x -> NOT list_contains(bl, x)) AS keptl
      |          FROM d, bp)
      |SELECT doc_id, array_to_string(keptl, ' ') AS clean_text,
      |       len(keptl) AS kept_lines
      |FROM clean WHERE len(keptl) > 0 ORDER BY doc_id""".stripMargin

  // ---- sliding-window chunking (p33) ---------------------------------

  /** Context-window chunking ([[Curation.chunkDocuments]]): 32-token
    * windows every 24 tokens (8-token overlap) — zero-shuffle,
    * map-only; the 100 TB plan is one codegen span per parquet split. */
  def cChunk(spark: SparkSession, dir: String): DataFrame =
    Curation.chunkDocuments(Tables.load(spark, dir, "documents"),
        "doc_id", "text", windowTokens = 32, strideTokens = 24)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id", "chunk_id")

  private val cChunkSql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
      |s AS (SELECT doc_id, parts,
      |        unnest(range(0, greatest(len(parts), 1), 24)) AS start
      |      FROM d),
      |c AS (SELECT doc_id, start // 24 AS chunk_id,
      |        parts[start+1:start+32] AS chunk
      |      FROM s)
      |SELECT doc_id, chunk_id, len(chunk) AS n_tokens,
      |       array_to_string(chunk, ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ---- vocabulary coverage / OOV rate (p35) --------------------------

  /** [[Curation.oovRate]] at V=20 (the gate fixture; V is a real
    * operator parameter — Round16Spec pins other vocabulary sizes). */
  def tOovRate(spark: SparkSession, dir: String): DataFrame =
    Curation.oovRate(Tables.load(spark, dir, "documents"),
        "doc_id", "text", vocabSize = 20)
      .orderBy("doc_id")

  private val tOovRateSql =
    """WITH v AS (
      |  SELECT list(word) AS vl FROM (
      |    SELECT word FROM (
      |      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |    GROUP BY word ORDER BY count(*) DESC, word ASC LIMIT 20)),
      |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |SELECT doc_id, len(ws) AS n_tokens,
      |  CAST(len(list_filter(ws, w -> NOT list_contains(vl, w))) AS DOUBLE)
      |    / len(ws) AS oov_frac
      |FROM d, v ORDER BY doc_id""".stripMargin

  // ---- model-based quality filtering (p34) ---------------------------

  /** Classifier-based quality filtering — the model-scored stage of
    * CCNet/RefinedWeb-style curation, with the learned model stood in
    * by a FIXED linear scorer over the engine's interpretable quality
    * features (stopword ratio up-weights prose, punctuation noise and
    * token-length drift down-weight). The operator shape is what
    * matters at 100 TB: per-row expressions inside the scan's codegen
    * stage, zero shuffles — swapping in real learned weights changes
    * constants, not the plan. Score arithmetic is a fixed
    * left-associated IEEE chain, bit-identical in both engines, so the
    * keep/drop decision is oracle-exact (no sigmoid: exp() is not
    * bit-portable and a monotone transform never changes the cut). */
  def tQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val m = TextFunctions.qualityMetrics(col("text")).toMap
    val score = lit(2.0) * m("stopword_ratio") - lit(3.0) * m("punct_ratio") -
      lit(0.1) * abs(m("avg_token_len") - lit(5.0)) + lit(0.5)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), score.as("score"))
      .withColumn("keep", col("score") >= 0.55)
      .orderBy("doc_id")
  }

  private val tQualityClassifierSql =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '),
       |          w -> w IN ($stopList))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS s,
       |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g'))
       |         AS DOUBLE) / length(text) AS p,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS a
       |  FROM documents)
       |SELECT doc_id,
       |  2.0 * s - 3.0 * p - 0.1 * abs(a - 5.0) + 0.5 AS score,
       |  (2.0 * s - 3.0 * p - 0.1 * abs(a - 5.0) + 0.5) >= 0.55 AS keep
       |FROM f ORDER BY doc_id""".stripMargin

  // ---- TF-cosine all-pairs similarity (p36) --------------------------

  /** Weighted (term-frequency) cosine near-dup pairs over the 3-shingle
    * term space — the all-pairs-similarity operator
    * ([[Dedup.tfCosinePairs]], Bayardo '07): exact integer statistics,
    * integer-domain threshold decision at cos ≥ 3/5, df-capped term
    * space making inverted-index candidates complete by construction.
    * Complements p2/p3 (set-Jaccard) with the weighted similarity the
    * fuzzy-dedup literature actually ranks by. */
  def dTfCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.tfCosinePairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 3, thresholdNum = 3, thresholdDen = 5,
        maxDf = 64)
      .orderBy("id_a", "id_b")

  private val dTfCosineSql =
    """WITH sh AS (SELECT doc_id, s AS term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 2)),
      |        i -> array_to_string(ws[i:i+2], ' '))) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
      |  GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM sh GROUP BY 1),
      |kept AS (SELECT s.doc_id, s.term, s.tf FROM sh s
      |         JOIN df USING (term) WHERE df.df <= 64),
      |nrm AS (SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY 1),
      |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |           sum(a.tf*b.tf) AS dot
      |         FROM kept a JOIN kept b
      |           ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(d.dot*d.dot AS DOUBLE) / CAST(na.n2*nb.n2 AS DOUBLE) AS cos2
      |FROM dots d JOIN nrm na ON d.id_a = na.doc_id
      |            JOIN nrm nb ON d.id_b = nb.doc_id
      |WHERE 25 * d.dot*d.dot >= 9 * na.n2*nb.n2
      |ORDER BY 1, 2""".stripMargin

  // ---- token-budget mixture sampling (p37) ---------------------------

  /** Per-source token-budget admission ([[Curation.tokenBudgetSample]]):
    * the budgeted data-mixing step — each source contributes documents
    * in deterministic md5 order until its token budget closes. The
    * p31 temperature mixture sets per-source DOC counts; this sets
    * per-source TOKEN mass, which is what training-mix recipes
    * actually specify. */
  def cTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    Curation.tokenBudgetSample(docs, "source", "doc_id",
        col("n_tok"), budget = 600L)
      .select("source", "doc_id", "n_tok")
      .orderBy("source", "doc_id")
  }

  private val cTokenBudgetSql =
    """WITH t AS (SELECT source, doc_id,
      |    len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
      |r AS (SELECT *, coalesce(sum(n_tok) OVER (
      |        PARTITION BY source
      |        ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |      FROM t)
      |SELECT source, doc_id, n_tok FROM r WHERE prev < 600
      |ORDER BY source, doc_id""".stripMargin

  // ---- per-language quality-percentile filter (p38) ------------------

  /** Per-language quality-percentile cut
    * ([[Curation.qualityPercentileFilter]]): keep each language's top
    * 40% by average token length (the q-th-quantile threshold computed
    * per class, broadcast back, compared in place). The relative cut
    * is what real curation uses — an absolute score threshold is
    * mis-calibrated across languages. */
  def cQualityPercentile(spark: SparkSession, dir: String): DataFrame = {
    val score = TextFunctions.qualityMetrics(col("text"))
      .toMap.apply("avg_token_len")
    Curation.qualityPercentileFilter(
        Tables.load(spark, dir, "documents").withColumn("score", score),
        "lang", col("score"), q = 0.6)
      .select("doc_id", "lang", "score")
      .orderBy("doc_id")
  }

  private val cQualityPercentileSql =
    """WITH s AS (SELECT doc_id, lang,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS score FROM documents),
      |t AS (SELECT lang, quantile_cont(score, 0.6) AS thr FROM s GROUP BY 1)
      |SELECT s.doc_id, s.lang, s.score FROM s JOIN t USING (lang)
      |WHERE s.score >= t.thr ORDER BY s.doc_id""".stripMargin

  // ---- multimodal byte-histogram features (p39) ----------------------

  /** Byte-histogram feature extraction over a binary payload column
    * ([[graft.operators.Multimodal.withByteHistogram]], the native
    * in-plan twin of the batched codec path): the REAL (non-stubbed)
    * multimodal feature — an L1-normalized 16-bin byte-value histogram
    * — exploded to (doc_id, bin, freq) rows. The payload is the
    * document text cast to binary (ASCII, so DuckDB reproduces the
    * bytes via code points); float32 division is matched exactly by
    * DuckDB FLOAT arithmetic, then widened to double (exact) for the
    * compare. */
  def mByteHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Multimodal.withByteHistogram(
        Tables.load(spark, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "payload")
      .select(col("doc_id"), posexplode(col("features")).as(Seq("bin", "freq")))
      .filter(col("freq") > 0f)
      .select(col("doc_id"), col("bin").cast("long").as("bin"),
        col("freq").cast("double").as("freq"))
      .orderBy("doc_id", "bin")

  private val mByteHistogramSql =
    """WITH c AS (SELECT doc_id, length(text) AS n,
      |    list_transform(generate_series(1, length(text)),
      |      i -> ord(substr(text, i, 1)) // 16) AS bins
      |  FROM documents),
      |h AS (SELECT doc_id, n, b.b AS bin, count(*) AS cnt
      |      FROM c, unnest(bins) AS b(b) GROUP BY 1, 2, 3)
      |SELECT doc_id, bin,
      |  CAST(CAST(cnt AS FLOAT) / CAST(n AS FLOAT) AS DOUBLE) AS freq
      |FROM h ORDER BY doc_id, bin""".stripMargin

  // ---- shingle-containment near-dup pairs (p40) ----------------------

  /** Asymmetric containment dedup ([[Dedup.containmentPairs]]): pairs
    * where the smaller document's kept-shingle set is ≥ 4/5 inside the
    * other's — catches excerpts/quotes that symmetric Jaccard (p2/p3)
    * dilutes. Exact integer statistics over the df ≤ 64 term space;
    * integer-domain threshold. */
  def dContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.load(spark, dir, "documents"),
        "doc_id", "text", k = 3, thresholdNum = 4, thresholdDen = 5,
        maxDf = 64)
      .orderBy("id_a", "id_b")

  private val dContainmentSql =
    """WITH sh AS (SELECT DISTINCT doc_id, s AS term FROM (
      |    SELECT doc_id, unnest(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 2)),
      |        i -> array_to_string(ws[i:i+2], ' '))) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      |df AS (SELECT term, count(*) AS df FROM sh GROUP BY 1),
      |kept AS (SELECT s.doc_id, s.term FROM sh s
      |         JOIN df USING (term) WHERE df.df <= 64),
      |n AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
      |i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |      FROM kept a JOIN kept b
      |        ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  CAST(inter AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE)
      |    AS containment
      |FROM i JOIN n na ON i.id_a = na.doc_id
      |       JOIN n nb ON i.id_b = nb.doc_id
      |WHERE 5 * inter >= 4 * least(na.n, nb.n)
      |ORDER BY 1, 2""".stripMargin

  // ---- int8 embedding quantization (p41) -----------------------------

  /** Per-vector symmetric int8 quantization
    * ([[Similarity.quantizeInt8]]), exploded to (vec_id, dim, q) rows
    * with the per-vector scale and max reconstruction error. The
    * 4×-compression step before indexing at the 100 TB vector scale;
    * map-only, all-double IEEE arithmetic both engines evaluate
    * identically. */
  def eQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.load(spark, dir, "embeddings"),
        "embedding")
      .select(col("vec_id"), posexplode(col("qvec")).as(Seq("dim", "q")),
        col("scale"), col("max_err"))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("q").cast("long").as("q"), col("scale"), col("max_err"))
      .orderBy("vec_id", "dim")

  private val eQuantizeInt8Sql =
    """WITH v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
      |  FROM embeddings),
      |s AS (SELECT vec_id, xd,
      |    list_max(list_transform(xd, x -> abs(x))) AS m FROM v),
      |sc AS (SELECT vec_id, xd,
      |    CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale FROM s),
      |e AS (SELECT vec_id, scale, u.i - 1 AS dim, xd[u.i] AS x,
      |    CAST(round(xd[u.i] * scale) AS INTEGER) AS q
      |  FROM sc, unnest(generate_series(1, len(xd))) AS u(i))
      |SELECT vec_id, CAST(dim AS BIGINT) AS dim, CAST(q AS BIGINT) AS q,
      |  scale,
      |  max(CASE WHEN scale = 0 THEN 0.0 ELSE abs(q / scale - x) END)
      |    OVER (PARTITION BY vec_id) AS max_err
      |FROM e ORDER BY vec_id, dim""".stripMargin

  // ---- hashing-trick n-gram classifier (p42) -------------------------

  /** fastText-style hashed n-gram linear classifier
    * ([[Curation.hashedNgramClassifier]]): unigram + bigram features
    * hashed into 4096 buckets (no vocabulary pass), exact BIGINT
    * weight sum, mean-pooled score, integer-domain keep decision. */
  def cHashedClassifier(spark: SparkSession, dir: String): DataFrame =
    Curation.hashedNgramClassifier(Tables.load(spark, dir, "documents"),
        "doc_id", "text", dim = 4096)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private val cHashedClassifierSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |terms AS (
      |  SELECT doc_id, unnest(ws) AS term FROM toks
      |  UNION ALL
      |  SELECT doc_id, unnest(list_transform(
      |      generate_series(1, greatest(1, len(ws) - 1)),
      |      i -> array_to_string(ws[i:i+1], ' '))) AS term FROM toks),
      |w AS (SELECT doc_id,
      |    ((('0x' || substr(md5(term), 1, 8))::BIGINT % 4096)
      |      * 2654435761 + 12345) % 1997 - 998 AS w
      |  FROM terms)
      |SELECT doc_id, count(*)::BIGINT AS n_terms,
      |  CAST(sum(w) AS DOUBLE) / (1997.0 * count(*)) AS score,
      |  sum(w) >= 0 AS keep
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- deterministic split assignment (p43) --------------------------

  /** Train/val/test split assignment ([[Curation.assignSplits]]): a
    * pure function of the document key — growth-stable (new docs never
    * move old ones between splits, so eval sets stay fixed across
    * corpus versions), coordination-free, map-only. 80/10/10. */
  def cAssignSplits(spark: SparkSession, dir: String): DataFrame =
    Curation.assignSplits(Tables.load(spark, dir, "documents"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
      .orderBy("doc_id")

  private val cAssignSplitsSql = {
    val t80 = Curation.hexThreshold(0.8)
    val t90 = Curation.hexThreshold(0.8 + 0.1)
    s"""SELECT doc_id,
       |  CASE WHEN md5(doc_id::VARCHAR) < '$t80' THEN 'train'
       |       WHEN md5(doc_id::VARCHAR) < '$t90' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ---- per-label embedding centroids (p44) ---------------------------

  /** Per-label centroid of the embedding corpus — the class-prototype
    * computation behind IVF list training, semantic-dedup cluster
    * centers, and embedding-drift monitoring. Accumulation is
    * FIXED-POINT (each float quantized to 2⁻²⁰ steps, summed as exact
    * BIGINT): a plain double sum is shuffle-order-dependent and would
    * never hash-match across engines — fixed-point is also how
    * deterministic distributed training sums gradients. One (label,
    * dim)-keyed exchange with map-side combine; qsum stays far inside
    * 2⁵³ so the final double division is exact-over-exact. */
  def eLabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n"),
        sum(round(col("x").cast("double") * 1048576.0).cast("long"))
          .as("qsum"))
      .select(col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"), col("n"),
        (col("qsum").cast("double") /
          (col("n").cast("double") * 1048576.0)).as("centroid"))
      .orderBy("label", "dim")

  private val eLabelCentroidsSql =
    """WITH e AS (SELECT label, u.i - 1 AS dim,
      |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1048576.0) AS BIGINT)
      |      AS q
      |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i))
      |SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
      |  count(*) AS n,
      |  CAST(sum(q) AS DOUBLE) / (count(*) * 1048576.0) AS centroid
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- benchmark decontamination — removal (p45) ---------------------

  /** The decontamination REMOVAL completing p21's report
    * ([[Curation.decontaminate]]): corpus docs sharing any 5-gram with
    * the eval slice are dropped; survivors pass through byte-intact. */
  def cDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Curation.decontaminate(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 5)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  private val cDecontaminateSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |        generate_series(1, greatest(1, len(ws) - 4)),
      |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM w),
      |e AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50),
      |bad AS (SELECT DISTINCT g.doc_id FROM g JOIN e USING (gram)
      |        WHERE g.doc_id >= 50)
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM bad)
      |ORDER BY doc_id""".stripMargin

  // ---- signed random projection (p46) ---------------------------------

  /** 64 → 16-dim deterministic signed projection
    * ([[Similarity.randomProjection]]), exploded to (vec_id, dim, v)
    * rows. Exact integer dot products over fixed-point inputs against
    * a coordination-free md5-derived ±1 matrix; map-only. */
  def eRandomProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProjection(Tables.load(spark, dir, "embeddings"),
        "embedding", inDim = 64, outDim = 16)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("v"))
      .orderBy("vec_id", "dim")

  private val eRandomProjectionSql =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qa
      |  FROM embeddings),
      |e AS (SELECT vec_id, u.i - 1 AS i, qa[u.i] AS qv
      |  FROM q, unnest(generate_series(1, len(qa))) AS u(i)),
      |s AS (SELECT i.i, j.j,
      |    CASE WHEN substring(md5(i.i || ':' || j.j), 1, 1) >= '8'
      |         THEN -1 ELSE 1 END AS sgn
      |  FROM generate_series(0, 63) AS i(i), generate_series(0, 15) AS j(j))
      |SELECT e.vec_id, CAST(s.j AS BIGINT) AS dim,
      |  CAST(sum(e.qv * s.sgn) AS BIGINT) AS v
      |FROM e JOIN s ON e.i = s.i
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- k-NN majority-vote labeling (p47) -------------------------------

  /** Semi-supervised label propagation ([[Similarity.knnLabel]]):
    * vectors with `vec_id % 10 = 0` act as the hand-labeled seed set
    * (broadcast); every other vector takes the majority label of its
    * 5 nearest seeds by exact-integer squared-L2 over fixed-point
    * values. Distance ties break by seed id, vote ties by smallest
    * label — fully deterministic in both engines.
    *
    * The `vec_id < 10⁹` clause pins the seed to the ORIGINAL fixture
    * rows (a no-op at oracle scale; ScaleUp replicas shift ids by
    * 10⁹k): a labeled seed is a fixed asset — it does not grow when
    * the corpus does, so the bench measures the honest linear
    * corpus-pass, not an accidental seed×corpus quadratic. */
  def eKnnLabel(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    Similarity.knnLabel(
        embs.filter(col("vec_id") % 10 =!= 0),
        embs.filter(col("vec_id") % 10 === 0 &&
          col("vec_id") < 1000000000L),
        "vec_id", "embedding", "label", k = 5)
      .select(col("vec_id"), col("pred_label").cast("long").as("pred_label"),
        col("votes"))
      .orderBy("vec_id")
  }

  private val eKnnLabelSql =
    """WITH q AS (SELECT vec_id, label, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS qa
      |  FROM embeddings),
      |exc AS (SELECT vec_id, u.i AS i, qa[u.i] AS v FROM q,
      |    unnest(generate_series(1, len(qa))) AS u(i) WHERE vec_id % 10 <> 0),
      |exr AS (SELECT vec_id AS rid, u.i AS i, qa[u.i] AS v FROM q,
      |    unnest(generate_series(1, len(qa))) AS u(i)
      |    WHERE vec_id % 10 = 0 AND vec_id < 1000000000),
      |d AS (SELECT exc.vec_id, exr.rid,
      |    sum((exc.v - exr.v) * (exc.v - exr.v)) AS dist
      |  FROM exc JOIN exr USING (i) GROUP BY 1, 2),
      |t AS (SELECT vec_id, rid, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY dist ASC, rid ASC) AS rn FROM d),
      |v AS (SELECT t.vec_id, q.label, count(*) AS votes
      |  FROM t JOIN q ON t.rid = q.vec_id WHERE t.rn <= 5 GROUP BY 1, 2),
      |p AS (SELECT vec_id, label, votes, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY votes DESC, label ASC) AS rn FROM v)
      |SELECT vec_id, CAST(label AS BIGINT) AS pred_label, votes
      |FROM p WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ---- exact heavy hitters (p48) ---------------------------------------

  /** Frequent-phrase mining ([[Curation.heavyHitters]]): bigrams with
    * ≥ 1/700 of all bigram occurrences. One term shuffle builds the
    * O(vocab) count relation; the total re-aggregates from it and
    * broadcasts back — the corpus is read once. The keep boundary is
    * exact integer arithmetic. [[Curation.misraGriesTopTerms]] is the
    * sketch twin for vocabularies too large to shuffle, contract-gated
    * against this operator in Round14Spec. */
  def cHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Curation.heavyHitters(Tables.load(spark, dir, "documents"),
        "text", phiInv = 700L)
      .orderBy(col("cnt").desc, col("term"))

  private val cHeavyHittersSql =
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT unnest(list_transform(
      |    generate_series(1, greatest(1, len(ws) - 1)),
      |    i -> array_to_string(ws[i:i+1], ' '))) AS term FROM t),
      |c AS (SELECT term, count(*) AS cnt FROM b GROUP BY 1)
      |SELECT term, cnt FROM c, (SELECT sum(cnt) AS n FROM c) t
      |WHERE cnt * 700 >= n ORDER BY cnt DESC, term""".stripMargin

  // ---- tf-idf keyword extraction (p49) ---------------------------------

  /** Per-document keyphrases: top-3 bigrams by a tf·idf SURROGATE kept
    * entirely in exact integers — score = tf · 10⁶ DIV df. A real
    * log-idf ranks identically for fixed tf (monotone in 1/df), and
    * the integer form is bit-portable where `log` is not (the p30
    * discipline). Ties break (score DESC, term ASC) — pinned.
    *
    * Plan at 100 TB: ONE corpus shuffle builds the (doc, term, tf)
    * relation; df re-aggregates from IT (O(vocab), never a second
    * corpus pass) and broadcasts back; the top-3 window keys on
    * doc_id, a second corpus-sized exchange. Two exchanges total for
    * corpus-wide keyword extraction. */
  def cKeywords(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = split(col("text"), " ")
    val bigrams = transform(
      sequence(lit(1), greatest(lit(1), size(toks) - lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(2))))
    val tf = docs.select(col("doc_id"), explode(bigrams).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .withColumn("score", expr("tf * 1000000 DIV df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("score"))
      .orderBy("doc_id", "rank")
  }

  private val cKeywordsSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |b AS (SELECT doc_id, unnest(list_transform(
      |    generate_series(1, greatest(1, len(ws) - 1)),
      |    i -> array_to_string(ws[i:i+1], ' '))) AS term FROM t),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM b GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (SELECT doc_id, term, tf * 1000000 // df AS score
      |      FROM tf JOIN df USING (term)),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM s)
      |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
      |  CAST(score AS BIGINT) AS score
      |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  // ---- Kneser-Ney continuation counts (p50) -----------------------------

  /** The sufficient statistics of Kneser-Ney LM smoothing, per word:
    * unigram count c(w), continuation count N1+(·w) = distinct left
    * contexts, fertility N1+(w·) = distinct right contexts — the
    * exact-integer inputs to P_KN's discounted estimates (Kneser &
    * Ney '95). Words at document edges simply lack that side's
    * context (coalesce 0). One corpus shuffle per relation over the
    * same split, all joins on the O(vocab) word domain. */
  def cKnCounts(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = split(col("text"), " ")
    val bigrams = transform(
      sequence(lit(1), greatest(lit(1), size(toks) - lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(2))))
    val uni = docs.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bg = docs.select(explode(bigrams).as("term"))
      .select(split_part(col("term"), lit(" "), lit(1)).as("lw"),
        split_part(col("term"), lit(" "), lit(2)).as("rw"))
    val cont = bg.groupBy("rw").agg(countDistinct("lw").as("n_left"))
    val fert = bg.groupBy("lw").agg(countDistinct("rw").as("n_right"))
    uni
      .join(cont, uni("w") === cont("rw"), "left")
      .join(fert, uni("w") === fert("lw"), "left")
      .select(col("w"), col("c"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"))
      .orderBy("w")
  }

  private val cKnCountsSql =
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM t),
      |u AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
      |b AS (SELECT unnest(list_transform(
      |    generate_series(1, greatest(1, len(ws) - 1)),
      |    i -> array_to_string(ws[i:i+1], ' '))) AS term FROM t),
      |bg AS (SELECT split_part(term, ' ', 1) AS lw,
      |              split_part(term, ' ', 2) AS rw FROM b),
      |cont AS (SELECT rw, count(DISTINCT lw) AS n_left FROM bg GROUP BY 1),
      |fert AS (SELECT lw, count(DISTINCT rw) AS n_right FROM bg GROUP BY 1)
      |SELECT u.w, u.c,
      |  coalesce(cont.n_left, 0) AS n_left,
      |  coalesce(fert.n_right, 0) AS n_right
      |FROM u LEFT JOIN cont ON u.w = cont.rw
      |       LEFT JOIN fert ON u.w = fert.lw
      |ORDER BY u.w""".stripMargin

  // ---- embedding second-moment (Gram) matrix (p51) ----------------------

  /** The PCA sufficient statistic: the upper-triangular second-moment
    * matrix M[i,j] = Σ_vecs q_i·q_j over the embedding corpus (with
    * p44's per-dim means this yields the covariance; the top
    * eigenvectors are a driver-side 64×64 problem). Values are
    * quantized to 2⁻¹⁰ fixed point so every product (≤ 2²⁰) and every
    * corpus sum stays far inside the 2⁵³ double-exact window even at
    * the 100× bench scale — the p44 discipline, sized for products.
    *
    * Plan at 100 TB: the outer product is built PER ROW with nested
    * array HOFs and exploded once — no self-join, no corpus shuffle;
    * the only exchange is the map-side-combined aggregate over the
    * O(dims²) = 2 080-key domain. */
  def eGramMatrix(spark: SparkSession, dir: String): DataFrame = {
    val dims = 64
    Tables.load(spark, dir, "embeddings")
      .withColumn("q", transform(col("embedding"),
        x => floor(x.cast("double") * 1024.0)))
      .select(explode(flatten(transform(
        sequence(lit(0), lit(dims - 1)),
        i => transform(sequence(i, lit(dims - 1)),
          j => struct(i.as("i"), j.as("j"),
            (get(col("q"), i) * get(col("q"), j)).as("p")))))).as("e"))
      .select(col("e.i").cast("long").as("i"),
        col("e.j").cast("long").as("j"), col("e.p").as("p"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"), sum(col("p")).as("m2"))
      .orderBy("i", "j")
  }

  private val eGramMatrixSql =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS qa
      |  FROM embeddings),
      |e AS (SELECT vec_id, u.i - 1 AS i, qa[u.i] AS v
      |  FROM q, unnest(generate_series(1, len(qa))) AS u(i)),
      |p AS (SELECT a.vec_id, a.i AS i, b.i AS j, a.v * b.v AS p
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i)
      |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
      |  count(*) AS n, CAST(sum(p) AS BIGINT) AS m2
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- dedup cluster-size histogram (p52) -------------------------------

  /** Dedup observability: the size distribution of near-dup clusters —
    * the first chart a curation run reports (how much of the corpus is
    * duplicated, and in how large families?). Two O(clusters)
    * aggregates on top of the p13 component labels; the histogram
    * relation is O(distinct sizes). Oracle reuses the p13 transitive-
    * closure CTEs. */
  def dClusterSizes(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.minhashLsh(Tables.load(spark, dir, "documents"),
          "doc_id", "text", k = 5, threshold = 0.7))
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("size")

  private val dClusterSizesSql = closureCtes + "\n" +
    """,c AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |       FROM reach GROUP BY a),
      |s AS (SELECT cluster_id, count(*) AS size FROM c GROUP BY 1)
      |SELECT size, count(*) AS n_clusters FROM s GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- skip-gram co-occurrence counts (p53) -----------------------------

  /** The word-embedding training statistic: (center, context) pair
    * counts within a ±2 token window — the input matrix of
    * GloVe/PPMI/word2vec-CBOW pipelines (Pennington '14). Ordered
    * pairs, so the matrix is symmetric by construction and exact
    * integer counts hash-match across engines.
    *
    * Plan at 100 TB: the pair relation is built PER ROW with nested
    * array HOFs (each position pairs with its ≤4 in-window neighbors)
    * and exploded once — no position self-join, no corpus shuffle
    * before the one map-side-combined (w, c) aggregate over the
    * O(vocab²∩observed) domain. */
  def cCooccurrence(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), toks.as("ws"))
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ws")) - 1),
        i => transform(
          filter(array(i - 2, i - 1, i + 1, i + 2),
            j => j >= 0 && j < size(col("ws"))),
          j => struct(get(col("ws"), i).as("w"),
            get(col("ws"), j).as("c")))))).as("p"))
      .select(col("p.w").as("w"), col("p.c").as("c"))
      .groupBy("w", "c")
      .agg(count(lit(1)).as("n"))
      .orderBy("w", "c")
  }

  private val cCooccurrenceSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |e AS (SELECT doc_id, u.i AS i, ws[u.i] AS w
      |  FROM t, unnest(generate_series(1, len(ws))) AS u(i)),
      |p AS (SELECT a.w AS w, b.w AS c
      |  FROM e a JOIN e b ON a.doc_id = b.doc_id
      |    AND b.i BETWEEN a.i - 2 AND a.i + 2 AND b.i <> a.i)
      |SELECT w, c, count(*) AS n FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- DSIR importance resampling (p56) ------------------------------

  /** [[graft.operators.Selection.dsirSelect]] with `lang = 'en'` as the
    * target slice: the top-40 raw docs whose hashed (uni+bi)gram
    * distribution is most English-like, in integer micronats. */
  def cDsirSelect(spark: SparkSession, dir: String): DataFrame =
    operators.Selection.dsirSelect(Tables.load(spark, dir, "documents"),
        "doc_id", "text", targetPred = col("lang") === "en",
        numBuckets = 256, topK = 40)
      .orderBy("sel_rank")

  private val cDsirSelectSql =
    """WITH d AS (SELECT doc_id, lang = 'en' AS is_target,
      |             string_split(text, ' ') AS toks FROM documents),
      |t AS (
      |  SELECT doc_id, is_target, unnest(toks) AS term FROM d
      |  UNION ALL
      |  SELECT doc_id, is_target,
      |    unnest(list_transform(range(1, len(toks)),
      |                          i -> toks[i] || ' ' || toks[i+1])) AS term
      |  FROM d),
      |b AS (SELECT doc_id, is_target,
      |        ('0x' || substr(md5(term), 1, 4))::BIGINT % 256 AS bucket FROM t),
      |c AS (SELECT bucket,
      |        sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct,
      |        sum(CASE WHEN is_target THEN 0 ELSE 1 END) AS cr
      |      FROM b GROUP BY bucket),
      |n AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM c),
      |q AS (SELECT bucket,
      |        CAST(floor((ln(ct + 1.0) - ln(cr + 1.0)) * 1e6) AS BIGINT) AS lq FROM c),
      |s AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_terms,
      |        CAST(sum(q.lq) AS BIGINT) AS sq
      |      FROM b JOIN q USING (bucket) GROUP BY b.doc_id),
      |sc AS (SELECT doc_id, n_terms,
      |         sq + n_terms * (SELECT CAST(floor((ln(nr + 256.0) - ln(nt + 256.0)) * 1e6) AS BIGINT) FROM n)
      |           AS score_micro
      |       FROM s),
      |r AS (SELECT doc_id, n_terms, score_micro,
      |        CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS BIGINT)
      |          AS sel_rank
      |      FROM sc)
      |SELECT * FROM r WHERE sel_rank <= 40 ORDER BY sel_rank""".stripMargin

  // ---- CCNet perplexity buckets (p57) --------------------------------

  /** [[graft.operators.Selection.perplexityBuckets]] head/middle/tail
    * split under the corpus-fit add-one unigram LM. */
  def cPplBuckets(spark: SparkSession, dir: String): DataFrame =
    operators.Selection.perplexityBuckets(Tables.load(spark, dir, "documents"),
        "doc_id", "text", numBuckets = 3)
      .orderBy("doc_id")

  private val cPplBucketsSql =
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
      |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total, count(*) AS v_size FROM c),
      |l AS (SELECT word, CAST(floor(ln(cnt + 1.0) * 1e6) AS BIGINT) AS lp FROM c),
      |d AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |        CAST(sum(l.lp) AS BIGINT) AS sum_lp
      |      FROM w JOIN l USING (word) GROUP BY w.doc_id),
      |s AS (SELECT doc_id, n_tokens,
      |        CAST(floor(ln((n_total + v_size)::DOUBLE) * 1e6) AS BIGINT) * n_tokens
      |          - sum_lp AS surprisal_micro
      |      FROM d, t)
      |SELECT doc_id, n_tokens, surprisal_micro,
      |  surprisal_micro::DOUBLE / n_tokens / 1e6 AS ppl_proxy,
      |  CAST(ntile(3) OVER (
      |    ORDER BY surprisal_micro::DOUBLE / n_tokens / 1e6 ASC, doc_id ASC) AS BIGINT)
      |    AS ppl_bucket
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- BM25 top-k retrieval (p58) ------------------------------------

  /** [[graft.operators.Selection.bm25TopK]]: the 5 best docs per
    * query for a fixed 3-query set over the documents corpus. */
  def rBm25(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq((1L, "spark filter join"), (2L, "table scan merge"),
        (3L, "stream window customer"))
      .toDF("query_id", "query_text")
    operators.Selection.bm25TopK(Tables.load(spark, dir, "documents"),
        "doc_id", "text", qs, "query_id", "query_text", k = 5)
      .select("query_id", "doc_id", "score_micro", "bm_rank")
      .orderBy("query_id", "bm_rank")
  }

  private val rBm25Sql =
    """WITH q(query_id, query_text) AS (VALUES
      |  (1, 'spark filter join'), (2, 'table scan merge'),
      |  (3, 'stream window customer')),
      |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |len AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
      |sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(dl) AS BIGINT) AS n_toks FROM len),
      |p AS (SELECT doc_id, unnest(toks) AS term FROM d),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM p GROUP BY 1, 2),
      |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT query_id,
      |         unnest(list_distinct(string_split(query_text, ' '))) AS term FROM q),
      |j AS (SELECT qt.query_id, tf.doc_id, tf.tf, dfx.df, len.dl, sc.n_docs, sc.n_toks
      |      FROM tf JOIN qt USING (term) JOIN dfx USING (term)
      |        JOIN len ON tf.doc_id = len.doc_id, sc),
      |c AS (SELECT query_id, doc_id,
      |        CAST(floor(
      |          floor(ln(1.0 + (n_docs::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) * 1e6)
      |            * (tf::DOUBLE * 2.2)
      |            / (tf::DOUBLE + 1.2 * (0.25 + 0.75 * ((dl * n_docs)::DOUBLE / n_toks)))
      |        ) AS BIGINT) AS contrib
      |      FROM j),
      |s AS (SELECT query_id, doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
      |      FROM c GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id, score_micro,
      |        CAST(row_number() OVER (
      |          PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS BIGINT)
      |          AS bm_rank
      |      FROM s)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score_micro, bm_rank
      |FROM r WHERE bm_rank <= 5 ORDER BY query_id, bm_rank""".stripMargin

  // ---- Efraimidis-Spirakis weighted sample (p59) ---------------------

  /** [[Curation.weightedSample]]: 50 docs sampled without replacement
    * with inclusion odds proportional to `n_chars`. */
  def cWeightedSample(spark: SparkSession, dir: String): DataFrame =
    Curation.weightedSample(Tables.load(spark, dir, "documents")
        .select("doc_id", "n_chars"), "doc_id", "n_chars", m = 50)
      .orderBy("samp_rank")

  private val cWeightedSampleSql =
    """WITH u AS (SELECT doc_id, n_chars,
      |    ((('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT::DOUBLE + 0.5)
      |      / 281474976710656.0) AS uu
      |  FROM documents),
      |p AS (SELECT doc_id, n_chars,
      |    CAST(floor(ln(uu) / n_chars * 1e9) AS BIGINT) AS pr_micro
      |  FROM u WHERE n_chars > 0),
      |r AS (SELECT doc_id, n_chars, pr_micro,
      |    CAST(row_number() OVER (ORDER BY pr_micro DESC, doc_id ASC) AS BIGINT)
      |      AS samp_rank
      |  FROM p)
      |SELECT * FROM r WHERE samp_rank <= 50 ORDER BY samp_rank""".stripMargin

  // ---- Bloom-sketch decontamination (p60) ----------------------------

  /** [[Curation.bloomDecontaminate]] on exactly the p45 fixture, gated
    * against the EXACT operator's oracle — valid because at fpp=1e-9
    * over this fixture's ~10³ probed grams the (fixed-seed,
    * deterministic) filter produces zero false positives, so sketch
    * output ≡ exact output; the no-false-negative half of the
    * contract holds for every fpp by construction (Round19Spec). */
  def cBloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    Curation.bloomDecontaminate(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 5, fpp = 1e-9)
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  // ---- Unicode NFC normalization (p61) -------------------------------

  /** [[graft.functions.NfcNormalize]] over text with PLANTED
    * decomposed sequences (the fixture corpus is ASCII, so the gate
    * prefixes each doc with combining-mark spellings — a&#769;,
    * u&#776; — that NFC must fold to their composed forms): proves
    * the JDK normalizer and DuckDB's `nfc_normalize` agree
    * byte-for-byte, with before/after code-point counts showing the
    * composition actually happened. */
  def tNfcNormalize(spark: SparkSession, dir: String): DataFrame = {
    val raw = concat(lit("a\u0301e\u0301iou\u0308 "),
      substring(col("text"), 1, 40))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), raw.as("raw"))
      .select(col("doc_id"),
        graft.functions.GraftExpressions.nfc_normalize(col("raw")).as("norm_text"),
        length(col("raw")).cast("long").as("len_raw"),
        length(graft.functions.GraftExpressions.nfc_normalize(col("raw")))
          .cast("long").as("len_nfc"))
      .orderBy("doc_id")
  }

  private val tNfcNormalizeSql =
    """WITH s AS (SELECT doc_id,
      |    'a' || chr(769) || 'e' || chr(769) || 'iou' || chr(776) || ' '
      |      || substr(text, 1, 40) AS raw
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(raw) AS norm_text,
      |  CAST(length(raw) AS BIGINT) AS len_raw,
      |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- repetition factors / epoch apportionment (p62) ----------------

  /** [[Curation.repetitionFactors]]: a 1M-slot training budget
    * apportioned across the corpus proportional to `n_chars` by
    * largest remainder — Σ reps = 1,000,000 exactly. */
  def cRepetitionFactors(spark: SparkSession, dir: String): DataFrame =
    Curation.repetitionFactors(
        Tables.load(spark, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", totalBudget = 1000000L)
      .select("doc_id", "n_chars", "base_reps", "rem", "reps")
      .orderBy("doc_id")

  private val cRepetitionFactorsSql =
    """WITH w AS (SELECT CAST(sum(n_chars) AS BIGINT) AS tw FROM documents),
      |q AS (SELECT doc_id, n_chars,
      |        (n_chars * 1000000) // tw AS base_reps,
      |        (n_chars * 1000000) % tw AS rem
      |      FROM documents, w),
      |d AS (SELECT CAST(1000000 - sum(base_reps) AS BIGINT) AS deficit FROM q),
      |r AS (SELECT doc_id, n_chars, CAST(base_reps AS BIGINT) AS base_reps,
      |        CAST(rem AS BIGINT) AS rem,
      |        row_number() OVER (ORDER BY rem DESC, doc_id ASC) AS rr
      |      FROM q)
      |SELECT doc_id, n_chars, base_reps, rem,
      |  base_reps + (CASE WHEN rr <= (SELECT deficit FROM d) THEN 1 ELSE 0 END)
      |    AS reps
      |FROM r ORDER BY doc_id""".stripMargin

  // ---- Kneser-Ney bigram perplexity (p63) ----------------------------

  /** [[graft.operators.Selection.knPerplexity]]: per-doc surprisal
    * under the corpus-fit interpolated KN bigram LM (d = 0.75). */
  def cKnPerplexity(spark: SparkSession, dir: String): DataFrame =
    operators.Selection.knPerplexity(
        Tables.load(spark, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private val cKnPerplexitySql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |db AS (SELECT doc_id, ws[i] AS v, ws[i+1] AS w
      |       FROM t, unnest(range(1, len(ws))) AS u(i)
      |       WHERE len(ws) > 1),
      |ty AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c_vw FROM db GROUP BY 1, 2),
      |cv AS (SELECT v, CAST(sum(c_vw) AS BIGINT) AS cv,
      |         CAST(count(*) AS BIGINT) AS n1v FROM ty GROUP BY 1),
      |nw AS (SELECT w, CAST(count(*) AS BIGINT) AS n1w FROM ty GROUP BY 1),
      |na AS (SELECT CAST(count(*) AS BIGINT) AS n1all FROM ty),
      |lp AS (SELECT ty.v, ty.w,
      |         CAST(floor(ln(
      |           (c_vw::DOUBLE - 0.75) / cv + (0.75 * n1v / cv) * (n1w / n1all)
      |         ) * 1e6) AS BIGINT) AS lp_micro
      |       FROM ty JOIN cv USING (v) JOIN nw USING (w), na)
      |SELECT db.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(-sum(lp_micro) AS BIGINT) AS surprisal_micro,
      |  CAST(-sum(lp_micro) AS BIGINT)::DOUBLE / count(*) / 1e6 AS ppl_token
      |FROM db JOIN lp USING (v, w)
      |GROUP BY db.doc_id ORDER BY db.doc_id""".stripMargin

  // ---- IVF-PQ ADC retrieval (p64) -------------------------------------

  /** [[graft.operators.IvfPq]] at full probe with lossless codebooks
    * (codesPerSub > corpus ⇒ every distinct subvector is its own
    * code, Lloyd means are the points themselves exactly): ADC
    * degenerates to the exact inner product computed as two
    * per-subspace partial sums — the oracle replicates that grouping,
    * so even the double scores hash-match. The gate rebuilds the
    * persisted index from scratch each run (same discipline as the
    * l-family write gates). */
  def sIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    // footer-metadata count: zero Spark jobs, threaded into the build
    // so neither IvfIndex.build nor Pq.train re-counts the corpus
    val n = Tables.footerRowCount(spark, dir, "embeddings").toInt
    val path = graft.util.TempDirs.create("graft-ivfpq-gate-").toString
    val cb = operators.IvfPq.build(embs, "vec_id", "embedding",
      nLists = 4, m = 2, codesPerSub = n + 8, path = path,
      corpusCount = n.toLong)
    val q = embs.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray
    operators.IvfPq.topK(spark, path, cb, q, k = 10, nProbe = 4)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("adc_score").desc, col("id").asc)).cast("long"))
      .select(col("id").as("neighbor_id"), col("adc_score"), col("rnk"))
      .orderBy("rnk")
  }

  /** Query-SET IVF-PQ retrieval ([[graft.operators.IvfPq.topKBatch]]):
    * the p64 lossless-full-probe setup over a 20-query set, with the
    * exact re-rank on top — ONE pruned codes pass and ONE assignments
    * pass serve all 20 queries (per-query invocation would be 20 jobs
    * and 20 scans; the spec asserts the single-scan plan, this gate
    * pins the values). With full probe, lossless codebooks, and
    * candidates ≫ k, each query's answer is the exact inner-product
    * top-k, so the oracle is the brute-force cross join ranked per
    * query. Scores come from the re-rank's flat sequential fold
    * ([[graft.functions.DotProductSet]], the CosineSim arithmetic
    * contract), hash-exact against the oracle's `list_sum`. */
  def sIvfPqBatch(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    // footer-metadata count: zero Spark jobs, threaded into the build
    // so neither IvfIndex.build nor Pq.train re-counts the corpus
    val n = Tables.footerRowCount(spark, dir, "embeddings").toInt
    val path = graft.util.TempDirs.create("graft-ivfpqb-gate-").toString
    val cb = operators.IvfPq.build(embs, "vec_id", "embedding",
      nLists = 4, m = 2, codesPerSub = n + 8, path = path,
      corpusCount = n.toLong)
    val queries = embs.filter(col("vec_id") < 20)
      .select("vec_id", "embedding")
    operators.IvfPq.topKBatch(queries, "vec_id", "embedding", path, cb,
        k = 10, nProbe = 4, candidates = 40)
      .orderBy("query_id", "rnk")
  }

  /** FILTERED query-set retrieval (p84): the p81 setup with a metadata
    * predicate — `label = 1` on the embeddings table — pushed into the
    * retrieval itself ([[graft.operators.IvfPq.topKBatch]]'s `allowed`
    * id set, LEFT-SEMI joined into the pruned codes scan BEFORE
    * candidate ranking). Every candidate slot is spent on a
    * filter-surviving row, so with full probe + lossless codebooks +
    * candidates ≫ k the answer is the EXACT filtered top-k — the
    * oracle is the brute-force cross join with the same WHERE. The
    * label-1 stratum is ~1/10 of the corpus, well under `candidates`,
    * so a post-ranking filter would visibly return the wrong rows —
    * the gate pins filter-before-rank, not just row shape. */
  def sIvfPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    // footer-metadata count: zero Spark jobs, threaded into the build
    // so neither IvfIndex.build nor Pq.train re-counts the corpus
    val n = Tables.footerRowCount(spark, dir, "embeddings").toInt
    val path = graft.util.TempDirs.create("graft-ivfpqf-gate-").toString
    val cb = operators.IvfPq.build(embs, "vec_id", "embedding",
      nLists = 4, m = 2, codesPerSub = n + 8, path = path,
      corpusCount = n.toLong)
    val queries = embs.filter(col("vec_id") < 20)
      .select("vec_id", "embedding")
    val allowed = embs.filter(col("label") === 1).select("vec_id")
    operators.IvfPq.topKBatch(queries, "vec_id", "embedding", path, cb,
        k = 10, nProbe = 4, candidates = 40, allowed = Some(allowed))
      .orderBy("query_id", "rnk")
  }

  /** STORED-column filtered retrieval (p86 — the same filtered answer
    * as p84 through the other filtering path): `label` is declared at
    * build time (`metaCols`) and persists beside the codes, so the
    * query predicate pushes straight into the pruned parquet scan
    * (PushedFilters — spec-asserted) instead of semi-joining an id
    * set. Same oracle as p84: the two paths must agree bit-for-bit. */
  def sIvfPqFilteredStored(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.load(spark, dir, "embeddings")
    // footer-metadata count: zero Spark jobs, threaded into the build
    // so neither IvfIndex.build nor Pq.train re-counts the corpus
    val n = Tables.footerRowCount(spark, dir, "embeddings").toInt
    val path = graft.util.TempDirs.create("graft-ivfpqfs-gate-").toString
    val cb = operators.IvfPq.build(embs, "vec_id", "embedding",
      nLists = 4, m = 2, codesPerSub = n + 8, path = path,
      metaCols = Seq("label"), corpusCount = n.toLong)
    val queries = embs.filter(col("vec_id") < 20)
      .select("vec_id", "embedding")
    operators.IvfPq.topKBatch(queries, "vec_id", "embedding", path, cb,
        k = 10, nProbe = 4, candidates = 40,
        storedFilter = Some(col("label") === 1))
      .orderBy("query_id", "rnk")
  }

  private val sIvfPqFilteredSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < 20),
      |s AS (SELECT q.query_id, v.vec_id AS neighbor_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> q.qe[i]::DOUBLE * v.embedding[i]::DOUBLE)) AS score
      |  FROM embeddings v, q WHERE v.label = 1),
      |r AS (SELECT query_id, neighbor_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rnk
      |  FROM s)
      |SELECT query_id, neighbor_id, score, rnk FROM r WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  private val sIvfPqBatchSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
      |           FROM embeddings WHERE vec_id < 20),
      |s AS (SELECT q.query_id, v.vec_id AS neighbor_id,
      |    list_sum(list_transform(generate_series(1, 64),
      |      i -> q.qe[i]::DOUBLE * v.embedding[i]::DOUBLE)) AS score
      |  FROM embeddings v, q),
      |r AS (SELECT query_id, neighbor_id, score,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, neighbor_id ASC) AS BIGINT) AS rnk
      |  FROM s)
      |SELECT query_id, neighbor_id, score, rnk FROM r WHERE rnk <= 10
      |ORDER BY query_id, rnk""".stripMargin

  private val sIvfPqSql =
    """WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT v.vec_id AS neighbor_id,
      |    list_sum(list_transform(generate_series(1, 32),
      |      i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE))
      |    + list_sum(list_transform(generate_series(33, 64),
      |      i -> q.embedding[i]::DOUBLE * v.embedding[i]::DOUBLE)) AS adc_score
      |  FROM embeddings v, q),
      |r AS (SELECT neighbor_id, adc_score,
      |    CAST(row_number() OVER (ORDER BY adc_score DESC, neighbor_id ASC) AS BIGINT)
      |      AS rnk
      |  FROM s)
      |SELECT neighbor_id, adc_score, rnk FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin

  // ---- HTML/markup stripping (p65) ------------------------------------

  /** [[TextFunctions.stripMarkup]] over text with PLANTED markup (the
    * p61 pattern: the fixture corpus is plain, so the gate wraps each
    * doc in tags + entities in BOTH engines and hash-compares the
    * extraction). */
  def tHtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val wrapped = concat(
      lit("<html><body ref=\"c\"><p>"), col("text"),
      lit("</p><br/>&nbsp;&amp;done &lt;eof&gt; &amp;lt;raw&amp;gt;</body></html>"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.stripMarkup(wrapped).as("clean_text"))
      .withColumn("n_clean", length(col("clean_text")).cast("long"))
      .orderBy("doc_id")
  }

  private val tHtmlStripSql =
    """WITH w AS (SELECT doc_id,
      |    '<html><body ref="c"><p>' || text ||
      |    '</p><br/>&nbsp;&amp;done &lt;eof&gt; &amp;lt;raw&amp;gt;</body></html>'
      |      AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g')) AS clean_text,
      |  CAST(length(trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(raw, '<[^>]*>', ' ', 'g'),
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', CHR(39)), '&nbsp;', ' '), '&amp;', '&'),
      |    '\s+', ' ', 'g'))) AS BIGINT) AS n_clean
      |FROM w ORDER BY doc_id""".stripMargin

  // ---- URL canonicalization + domain caps (p66, p67) ------------------

  /** Deterministic messy URL per document — mixed-case scheme/host,
    * www. prefixes, default and non-default ports, redundant trailing
    * slashes, tracking params around a real one, fragments — built
    * from (doc_id, source) IDENTICALLY in both engines so the gate
    * exercises every canonicalization rule. */
  private def messyUrl: Column = concat(
    when(col("doc_id") % 3 === 0, lit("HTTPS://")).otherwise(lit("http://")),
    when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
    col("source"), lit(".Example.COM"),
    when(col("doc_id") % 3 === 0, lit(":443"))
      .when(col("doc_id") % 3 === 1, lit(":80"))
      .otherwise(lit(":8080")),
    lit("/Docs/"), (col("doc_id") % 10).cast("string"),
    when(col("doc_id") % 4 === 0, lit("///")).otherwise(lit("")),
    lit("?utm_source=feed"),
    when(col("doc_id") % 5 =!= 0,
      concat(lit("&page="), (col("doc_id") % 5).cast("string")))
      .otherwise(lit("")),
    when(col("doc_id") % 2 === 1, lit("&fbclid=XyZ123")).otherwise(lit("")),
    lit("&utm_medium=rss#frag"), (col("doc_id") % 7).cast("string"))

  /** SQL twin of [[messyUrl]] (DuckDB string concatenation). */
  private val messyUrlSql =
    """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'http://' END) ||
      |(CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
      |source || '.Example.COM' ||
      |(CASE WHEN doc_id % 3 = 0 THEN ':443'
      |      WHEN doc_id % 3 = 1 THEN ':80' ELSE ':8080' END) ||
      |'/Docs/' || CAST(doc_id % 10 AS VARCHAR) ||
      |(CASE WHEN doc_id % 4 = 0 THEN '///' ELSE '' END) ||
      |'?utm_source=feed' ||
      |(CASE WHEN doc_id % 5 <> 0
      |      THEN '&page=' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) ||
      |(CASE WHEN doc_id % 2 = 1 THEN '&fbclid=XyZ123' ELSE '' END) ||
      |'&utm_medium=rss#frag' || CAST(doc_id % 7 AS VARCHAR)""".stripMargin

  /** [[Curation.canonicalizeUrls]]: the C4/RefinedWeb URL-identity
    * step — scheme/host case, www., default ports, fragments, tracking
    * params, trailing slashes all normalized; map-only regex chains
    * with byte-identical RE2 twins in the oracle. */
  def cUrlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    Curation.canonicalizeUrls(
        Tables.load(spark, dir, "documents").select("doc_id", "source")
          .withColumn("url", messyUrl),
        "url")
      .select("doc_id", "url", "canonical_url", "domain")
      .orderBy("doc_id")

  private val cUrlCanonicalizeSql =
    s"""WITH u AS (SELECT doc_id, $messyUrlSql AS url FROM documents),
       |c AS (SELECT doc_id, url,
       |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
       |  FROM u),
       |d AS (SELECT *,
       |  regexp_replace(regexp_replace(
       |    lower(regexp_extract(rest, '^([^/?#]*)', 1)), '^www\\.', ''),
       |    ':[0-9]+$$', '') AS dom,
       |  regexp_extract(lower(regexp_extract(rest, '^([^/?#]*)', 1)),
       |    ':([0-9]+)$$', 1) AS port,
       |  regexp_replace(rest, '^[^/?#]*', '') AS pathqf
       |  FROM c),
       |e AS (SELECT *,
       |  CASE WHEN port = '' OR (scheme = 'https' AND port = '443')
       |            OR (scheme = 'http' AND port = '80') THEN ''
       |       ELSE ':' || port END AS keep_port,
       |  CASE WHEN regexp_replace(regexp_extract(pathqf, '^([^?#]*)', 1),
       |              '/+$$', '') = '' THEN '/'
       |       ELSE regexp_replace(regexp_extract(pathqf, '^([^?#]*)', 1),
       |              '/+$$', '') END AS path,
       |  regexp_replace(regexp_replace(
       |    regexp_extract(pathqf, '\\?([^#]*)', 1),
       |    '(?:^|&)(?:utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&]*', '', 'g'),
       |    '^&+', '') AS query
       |  FROM d)
       |SELECT doc_id, url,
       |  scheme || '://' || dom || keep_port || path ||
       |    (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS canonical_url,
       |  dom AS domain
       |FROM e ORDER BY doc_id""".stripMargin

  /** [[Curation.domainCap]]: RefinedWeb-style domain balancing — at
    * most 15 docs per canonical domain, ranked (n_chars DESC, doc_id
    * ASC). The oracle derives the domain directly from the synthetic
    * URL's known shape (p66 pins the full canonicalization chain). */
  def cDomainCap(spark: SparkSession, dir: String): DataFrame =
    Curation.domainCap(
        Tables.load(spark, dir, "documents")
          .select("doc_id", "source", "n_chars")
          .withColumn("url", messyUrl),
        "url", "doc_id", "n_chars", maxPerDomain = 15)
      .select("domain", "doc_id", "n_chars", "domain_rank")
      .orderBy("domain", "domain_rank")

  private val cDomainCapSql =
    """WITH d AS (SELECT doc_id, n_chars,
      |    lower(source) || '.example.com' AS domain FROM documents),
      |r AS (SELECT domain, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY domain
      |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS domain_rank
      |  FROM d)
      |SELECT domain, doc_id, n_chars, domain_rank
      |FROM r WHERE domain_rank <= 15
      |ORDER BY domain, domain_rank""".stripMargin

  // ---- composed web-curation pipeline (p71) ----------------------------

  /** The RefinedWeb-style FRONT half composed end to end (p29 gates
    * the dedup-centric back half): URL canonicalization → per-domain
    * caps (the exact two-stage salted top-N) → eval-set
    * decontamination (exact join) → deterministic split assignment →
    * per-doc token stats. One DuckDB oracle reproduces the whole
    * chain, so the stages are verified COMPOSED — the order is the
    * real pipeline's (identity first, balance second, leakage removal
    * third, split last so eval membership is stable under corpus
    * growth), and every stage shrinks the next stage's input. */
  def cWebPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= 50).withColumn("url", messyUrl)
    val eval = docs.filter(col("doc_id") < 50)
    val capped = Curation.domainCap(corpus, "url", "doc_id", "n_chars",
      maxPerDomain = 15)
    val clean = Curation.decontaminate(capped, eval, "doc_id", "text", k = 5)
    Curation.assignSplits(clean, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("domain"), col("domain_rank"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("split"))
      .orderBy("doc_id")
  }

  private val cWebPipelineSql = {
    val t80 = Curation.hexThreshold(0.8)
    val t90 = Curation.hexThreshold(0.8 + 0.1)
    s"""WITH c AS (SELECT doc_id, n_chars, text,
       |    lower(source) || '.example.com' AS domain
       |  FROM documents WHERE doc_id >= 50),
       |cap AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
       |    ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS domain_rank
       |  FROM c),
       |kept AS (SELECT * FROM cap WHERE domain_rank <= 15),
       |kw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
       |kg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(ws) - 4)),
       |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM kw),
       |ew AS (SELECT string_split(text, ' ') AS ws FROM documents
       |       WHERE doc_id < 50),
       |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(ws) - 4)),
       |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM ew),
       |bad AS (SELECT DISTINCT kg.doc_id FROM kg JOIN eg USING (gram)),
       |fin AS (SELECT * FROM kept
       |        WHERE doc_id NOT IN (SELECT doc_id FROM bad))
       |SELECT doc_id, domain, domain_rank,
       |  len(string_split(text, ' '))::BIGINT AS n_tokens,
       |  CASE WHEN md5(doc_id::VARCHAR) < '$t80' THEN 'train'
       |       WHEN md5(doc_id::VARCHAR) < '$t90' THEN 'val'
       |       ELSE 'test' END AS split
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  // ---- full-chain RefinedWeb pipeline (p73) -----------------------------

  /** The WHOLE RefinedWeb-style pipeline under ONE oracle: p71 gates
    * the front half (canonicalize → domain cap → decontaminate →
    * split) and p29 the dedup-centric back half — this gate fuses
    * them, so the front/back SEAM itself is verified: canonicalize →
    * salted domain cap → eval-set decontamination → deterministic
    * split → minhash-LSH near-dup keep-best → per-doc token stats.
    * Every row also carries the two halves' row counts (front-half
    * survivors, post-dedup keepers), computed independently by both
    * engines — the reconciliation is inside the hash compare. */
  def cFullChain(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") >= 50).withColumn("url", messyUrl)
    val eval = docs.filter(col("doc_id") < 50)
    val capped = Curation.domainCap(corpus, "url", "doc_id", "n_chars",
      maxPerDomain = 15)
    val clean = Curation.decontaminate(capped, eval, "doc_id", "text", k = 5)
    // the front half feeds FOUR consumers (shingling, keep-best's
    // token ranking, the survivor join, the n_front count) that cannot
    // share an exchange — without materialization each re-runs the
    // domain-cap window + decontamination join (measured 4.2 → 3.2 s
    // warm at sf0.1; at corpus scale the front half dominates)
    val splitDf = Curation.assignSplits(clean, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).localCheckpoint()
    val keep = Dedup.keepBest(splitDf, "doc_id", "text",
        Dedup.minhashLsh(splitDf, "doc_id", "text", k = 5, threshold = 0.7))
      .select(col("keep_id").as("doc_id"))
    val surv = splitDf.join(keep, Seq("doc_id"), "left_semi")
    // seam reconciliation: both counts ride every row (broadcast-of-
    // one-row scalars — the established crossJoin-scalar shape)
    surv
      .select(col("doc_id"), col("domain"), col("domain_rank"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("split"))
      .crossJoin(broadcast(splitDf.agg(count(lit(1)).as("n_front"))))
      .crossJoin(broadcast(surv.agg(count(lit(1)).as("n_kept"))))
      .orderBy("doc_id")
  }

  private val cFullChainSql = {
    val t80 = Curation.hexThreshold(0.8)
    val t90 = Curation.hexThreshold(0.8 + 0.1)
    s"""WITH RECURSIVE
       |c AS (SELECT doc_id, n_chars, text,
       |    lower(source) || '.example.com' AS domain
       |  FROM documents WHERE doc_id >= 50),
       |cap AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
       |    ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS domain_rank
       |  FROM c),
       |kept AS (SELECT * FROM cap WHERE domain_rank <= 15),
       |kw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
       |kg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(ws) - 4)),
       |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM kw),
       |ew AS (SELECT string_split(text, ' ') AS ws FROM documents
       |       WHERE doc_id < 50),
       |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |        generate_series(1, greatest(1, len(ws) - 4)),
       |        i -> array_to_string(ws[i:i+4], ' ')))) AS gram FROM ew),
       |bad AS (SELECT DISTINCT kg.doc_id FROM kg JOIN eg USING (gram)),
       |fin AS (SELECT * FROM kept
       |        WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |g AS (SELECT doc_id, gram FROM kg
       |      WHERE doc_id IN (SELECT doc_id FROM fin)),
       |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2),
       |jp AS (SELECT doc_a, doc_b FROM p
       |       JOIN n na ON p.doc_a = na.doc_id
       |       JOIN n nb ON p.doc_b = nb.doc_id
       |       WHERE CAST(inter AS DOUBLE) / (na.n + nb.n - inter) >= 0.7),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM jp
       |      UNION SELECT doc_b, doc_a FROM jp),
       |reach(a, b) AS (SELECT a, b FROM e
       |      UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
       |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
       |       FROM reach GROUP BY a),
       |m AS (SELECT fin.doc_id,
       |        coalesce(cl.cluster_id, fin.doc_id) AS cluster_id,
       |        fin.domain, fin.domain_rank,
       |        len(string_split(fin.text, ' '))::BIGINT AS n_tokens,
       |        CASE WHEN md5(fin.doc_id::VARCHAR) < '$t80' THEN 'train'
       |             WHEN md5(fin.doc_id::VARCHAR) < '$t90' THEN 'val'
       |             ELSE 'test' END AS split
       |      FROM fin LEFT JOIN cl USING (doc_id)),
       |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
       |        ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM m),
       |k AS (SELECT doc_id, domain, domain_rank, n_tokens, split
       |      FROM r WHERE rn = 1)
       |SELECT doc_id, domain, domain_rank, n_tokens, split,
       |  (SELECT count(*) FROM fin)::BIGINT AS n_front,
       |  (SELECT count(*) FROM k)::BIGINT AS n_kept
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ---- real-format MP4 video metadata (p70) ----------------------------

  /** Fixed path: same oracle-visibility contract as p68/p69. */
  private val videoMetaRoot = "/tmp/graft_multimodal_p70"

  /** [[graft.functions.GraftExpressions.video_meta]] — MP4/ISO-BMFF
    * box parsing, the video leg completing the multimodal triad
    * (p68 image, p69 audio). Payloads per doc:
    *   - doc_id%3=0: ftyp + a `free` box + moov{ pad box + mvhd } —
    *     BOTH scan levels must walk by box size;
    *   - doc_id%3=1: ftyp + moov{mvhd} + a declared mdat header;
    *   - doc_id%3=2: truncated to 10 bytes → unknown.
    * mvhd is version 0: timescale = 600·(1+n_chars%3), duration units
    * = 1000+doc_id%9000; duration_ms = units·1000/timescale in integer
    * division on both engines. The oracle walks the same two-level box
    * structure in DuckDB with two recursive CTEs over the hex dump. */
  def mVideoMeta(spark: SparkSession, dir: String): DataFrame = {
    graft.util.TempDirs.deleteRecursively(
      java.nio.file.Paths.get(videoMetaRoot))
    def be(n: Column, nBytes: Int): Column =
      unhex(lpad(hex(n.cast("long")), nBytes * 2, "0"))
    val timescale = ((col("n_chars") % 3 + 1) * 600).cast("int")
    val durUnits = (col("doc_id") % 9000 + 1000).cast("int")
    val ftyp = unhex(lit("00000010" + "66747970" + "69736F6D" + "00000200"))
    val freeBox = unhex(lit("0000000C" + "66726565" + "DEADBEEF"))
    // mvhd v0: size 40 = 8 hdr + 4 ver/flags + 4+4 times + 4+4 ts/dur
    // + 12 pad — declared size and byte count must agree, or a parser
    // advancing PAST mvhd by size reads misaligned garbage
    val mvhd = concat(unhex(lit("00000028" + "6D766864" + "00000000")),
      be(lit(1), 4), be(lit(2), 4),      // creation, modification
      be(timescale, 4), be(durUnits, 4), // timescale, duration
      unhex(lit("000100000100000000000000")))      // rate/volume pad (12B)
    val padBox = unhex(lit("0000000A" + "75647461" + "0102"))
    def moov(children: Column): Column =
      concat(be(length(children) + 8, 4), unhex(lit("6D6F6F76")), children)
    val mdatHdr = unhex(lit("00000008" + "6D646174"))
    val withFree = concat(ftyp, freeBox, moov(concat(padBox, mvhd)))
    val plain = concat(ftyp, moov(mvhd), mdatHdr)
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, withFree)
          .when(col("doc_id") % 3 === 1, plain)
          .otherwise(substring(withFree, 1, 10)).as("payload"))
      .write.mode("overwrite").parquet(videoMetaRoot)
    spark.read.parquet(videoMetaRoot)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.video_meta(col("payload")).as("v"))
      .select(col("doc_id"), col("v.format").as("format"),
        col("v.timescale").cast("long").as("timescale"),
        col("v.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  private val mVideoMetaSql = {
    def be32(p: String) = s"('0x' || substring(hx, CAST(2*($p)+1 AS INT), 8))::BIGINT"
    def typ(p: String) = s"substring(hx, CAST(2*($p)+9 AS INT), 8)"
    s"""WITH RECURSIVE b AS (
       |  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
       |  FROM read_parquet('$videoMetaRoot/*.parquet')),
       |mp4 AS (SELECT * FROM b WHERE n >= 12
       |        AND substring(hx, 9, 8) = '66747970'),
       |top(doc_id, pos, moovpos, moovend) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS BIGINT) FROM mp4
       |  UNION ALL
       |  SELECT s.doc_id, s.pos + ${be32("s.pos")},
       |    CASE WHEN ${typ("s.pos")} = '6D6F6F76' THEN s.pos + 8 END,
       |    CASE WHEN ${typ("s.pos")} = '6D6F6F76'
       |         THEN s.pos + ${be32("s.pos")} END
       |  FROM top s JOIN mp4 j USING (doc_id)
       |  WHERE s.moovpos IS NULL AND s.pos + 8 <= j.n
       |    AND ${be32("s.pos")} >= 8 AND s.pos + ${be32("s.pos")} <= j.n),
       |moov AS (SELECT doc_id, max(moovpos) AS mp, max(moovend) AS me
       |         FROM top WHERE moovpos IS NOT NULL GROUP BY 1),
       |inner_scan(doc_id, pos, mvhdpos) AS (
       |  SELECT m.doc_id, m.mp, CAST(NULL AS BIGINT) FROM moov m
       |  UNION ALL
       |  SELECT s.doc_id, s.pos + ${be32("s.pos")},
       |    CASE WHEN ${typ("s.pos")} = '6D766864' THEN s.pos + 8 END
       |  FROM inner_scan s JOIN moov m USING (doc_id)
       |                    JOIN mp4 j USING (doc_id)
       |  WHERE s.mvhdpos IS NULL AND s.pos + 8 <= m.me
       |    AND ${be32("s.pos")} >= 8 AND s.pos + ${be32("s.pos")} <= m.me),
       |mvhd AS (SELECT doc_id, max(mvhdpos) AS q FROM inner_scan
       |         WHERE mvhdpos IS NOT NULL GROUP BY 1),
       |parsed AS (
       |  SELECT v.doc_id, ${be32("v.q+12")} AS ts, ${be32("v.q+16")} AS dur
       |  FROM mvhd v JOIN mp4 j USING (doc_id)
       |  WHERE substring(j.hx, CAST(2*v.q+1 AS INT), 2) = '00')
       |SELECT b.doc_id,
       |  CASE WHEN p.ts > 0 THEN 'mp4' ELSE 'unknown' END AS format,
       |  CASE WHEN p.ts > 0 THEN p.ts END AS timescale,
       |  CASE WHEN p.ts > 0 THEN p.dur * 1000 // p.ts END AS duration_ms
       |FROM b LEFT JOIN parsed p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- real-format WAV audio metadata (p69) ----------------------------

  /** Fixed path: same oracle-visibility contract as p68/l29. */
  private val audioMetaRoot = "/tmp/graft_multimodal_p69"

  /** [[graft.functions.GraftExpressions.audio_meta]] — REAL WAV/RIFF
    * parsing (chunk-chain scan, little-endian fields), the audio twin
    * of p68's image path. Payloads per doc:
    *   - doc_id%3=0: a WAV whose `fmt ` chunk hides BEHIND a LIST/INFO
    *     chunk — the parser must walk the chain by chunk size;
    *   - doc_id%3=1: a plain `fmt `-first WAV;
    *   - doc_id%3=2: the header truncated to 10 bytes → unknown.
    * The `data` chunk declares its size without carrying the payload —
    * metadata parsers never read sample bytes, and the gate is about
    * header arithmetic: channels = 1+(doc_id%2), rate =
    * 8000·(1+n_chars%4), 16-bit, duration_ms = dataSize·1000/byteRate
    * in integer division on BOTH engines. The oracle re-parses the
    * same blobs: hex slicing with byte-swapped little-endian
    * reconstruction and a recursive chunk-scan CTE. */
  def mAudioMeta(spark: SparkSession, dir: String): DataFrame = {
    graft.util.TempDirs.deleteRecursively(
      java.nio.file.Paths.get(audioMetaRoot))
    // little-endian: reverse the big-endian hex byte pairs
    def le(n: Column, nBytes: Int): Column = {
      val hx = lpad(hex(n.cast("long")), nBytes * 2, "0")
      unhex(concat((0 until nBytes).map(i =>
        substring(hx, (nBytes - 1 - i) * 2 + 1, 2)): _*))
    }
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = ((col("n_chars") % 4 + 1) * 8000).cast("int")
    val blockAlign = channels * 2 // 16-bit PCM
    val byteRate = rate * blockAlign
    val dataSize = (col("doc_id") % 1000 + 1) * blockAlign
    val fmtChunk = concat(
      unhex(lit("666D7420")), le(lit(16), 4),          // "fmt " size=16
      le(lit(1), 2), le(channels, 2), le(rate, 4),     // PCM, channels, rate
      le(byteRate, 4), le(blockAlign, 2), le(lit(16), 2))
    val dataHdr = concat(unhex(lit("64617461")), le(dataSize, 4))
    val listChunk = unhex(lit("4C495354" + "04000000" + "494E464F"))
    def wav(chunks: Column): Column = concat(
      unhex(lit("52494646")), le(lit(0) + length(chunks) + 4, 4),
      unhex(lit("57415645")), chunks)
    val withList = wav(concat(listChunk, fmtChunk, dataHdr))
    val plain = wav(concat(fmtChunk, dataHdr))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, withList)
          .when(col("doc_id") % 3 === 1, plain)
          .otherwise(substring(withList, 1, 10)).as("payload"))
      .write.mode("overwrite").parquet(audioMetaRoot)
    spark.read.parquet(audioMetaRoot)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.audio_meta(col("payload")).as("a"))
      .select(col("doc_id"), col("a.format").as("format"),
        col("a.channels").cast("long").as("channels"),
        col("a.sample_rate").cast("long").as("sample_rate"),
        col("a.bits_per_sample").cast("long").as("bits_per_sample"),
        col("a.duration_ms").as("duration_ms"))
      .orderBy("doc_id")
  }

  private val mAudioMetaSql = {
    // byte p (0-based) of the hex dump, 1-based SQL substring
    def b(p: String) = s"substring(hx, CAST(2*($p)+1 AS INT), 2)"
    def le16(p: String) = s"('0x' || ${b(s"($p)+1")} || ${b(p)})::BIGINT"
    def le32(p: String) =
      s"('0x' || ${b(s"($p)+3")} || ${b(s"($p)+2")} || ${b(s"($p)+1")} || ${b(p)})::BIGINT"
    s"""WITH RECURSIVE w AS (
       |  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
       |  FROM read_parquet('$audioMetaRoot/*.parquet')),
       |wav AS (SELECT * FROM w WHERE n >= 12
       |        AND substring(hx, 1, 8) = '52494646'
       |        AND substring(hx, 17, 8) = '57415645'),
       |scan(doc_id, pos, fmtpos, datasize) AS (
       |  SELECT doc_id, CAST(12 AS BIGINT), CAST(NULL AS BIGINT),
       |         CAST(NULL AS BIGINT) FROM wav
       |  UNION ALL
       |  SELECT s.doc_id,
       |    s.pos + 8 + ${le32("s.pos+4")} + (${le32("s.pos+4")} % 2),
       |    CASE WHEN substring(j.hx, CAST(2*s.pos+1 AS INT), 8) = '666D7420'
       |         THEN s.pos + 8 ELSE s.fmtpos END,
       |    CASE WHEN substring(j.hx, CAST(2*s.pos+1 AS INT), 8) = '64617461'
       |         THEN ${le32("s.pos+4")} ELSE s.datasize END
       |  FROM scan s JOIN wav j USING (doc_id)
       |  WHERE (s.fmtpos IS NULL OR s.datasize IS NULL)
       |    AND s.pos + 8 <= j.n
       |    AND NOT (substring(j.hx, CAST(2*s.pos+1 AS INT), 8) = '666D7420'
       |             AND (${le32("s.pos+4")} < 16 OR s.pos + 24 > j.n))),
       |agg AS (SELECT doc_id, max(fmtpos) AS fp, max(datasize) AS ds
       |        FROM scan GROUP BY 1),
       |parsed AS (
       |  SELECT j.doc_id,
       |    ${le16("a.fp+2")} AS channels, ${le32("a.fp+4")} AS rate,
       |    ${le32("a.fp+8")} AS byterate, ${le16("a.fp+14")} AS bits,
       |    a.ds AS ds
       |  FROM agg a JOIN wav j USING (doc_id)
       |  WHERE a.fp IS NOT NULL AND a.ds IS NOT NULL)
       |SELECT w.doc_id,
       |  CASE WHEN p.channels > 0 AND p.rate > 0 AND p.byterate > 0
       |       THEN 'wav' ELSE 'unknown' END AS format,
       |  CASE WHEN p.channels > 0 AND p.rate > 0 AND p.byterate > 0
       |       THEN p.channels END AS channels,
       |  CASE WHEN p.channels > 0 AND p.rate > 0 AND p.byterate > 0
       |       THEN p.rate END AS sample_rate,
       |  CASE WHEN p.channels > 0 AND p.rate > 0 AND p.byterate > 0
       |       THEN p.bits END AS bits_per_sample,
       |  CASE WHEN p.channels > 0 AND p.rate > 0 AND p.byterate > 0
       |       THEN p.ds * 1000 // p.byterate END AS duration_ms
       |FROM w LEFT JOIN parsed p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ---- real-format image dimensions (p68) -----------------------------

  /** Fixed path: the planted payload parquet must be visible to the
    * oracle's independent re-parse (same contract as l29/l31). */
  private val imageDimsRoot = "/tmp/graft_multimodal_p68"

  /** [[graft.functions.GraftExpressions.image_dims]] — REAL PNG/JPEG
    * header parsing, no codec library (PNG IHDR and JPEG SOF are pure
    * byte arithmetic). Each doc plants one of three payloads, written
    * to a fixed parquet so BOTH sides parse the same physical bytes:
    *   - doc_id%3=0: a well-formed PNG (width=(doc_id%1000)+1,
    *     height=(n_chars%800)+1, big-endian u32 at IHDR offsets 16/20);
    *   - doc_id%3=1: a JPEG whose SOF0 sits BEHIND a COM segment — the
    *     parser must SCAN markers by segment length, not read a fixed
    *     offset;
    *   - doc_id%3=2: the PNG truncated to 10 bytes (signature intact,
    *     IHDR gone) → ("unknown", null, null), never a throw.
    * The ORACLE re-parses independently in DuckDB: hex() the blob,
    * slice the hex string by byte offset, '0x'-cast to integers, and a
    * RECURSIVE CTE walks the JPEG marker chain — construct→parse only
    * round-trips when offsets, endianness, and the scan agree. */
  def mImageDims(spark: SparkSession, dir: String): DataFrame = {
    graft.util.TempDirs.deleteRecursively(
      java.nio.file.Paths.get(imageDimsRoot))
    def be(n: Column, nBytes: Int): Column =
      unhex(lpad(hex(n.cast("long")), nBytes * 2, "0"))
    val w = (col("doc_id") % 1000 + 1).cast("int")
    val h = (col("n_chars") % 800 + 1).cast("int")
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), be(w, 4), be(h, 4),
      unhex(lit("08060000001A2B3C4D")))
    val jpeg = concat(
      unhex(lit("FFD8FFFE0004ABCDFFC0001108")), be(h, 2), be(w, 2),
      unhex(lit("03012200021101031101")))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, png)
          .when(col("doc_id") % 3 === 1, jpeg)
          .otherwise(substring(png, 1, 10)).as("payload"))
      .write.mode("overwrite").parquet(imageDimsRoot)
    spark.read.parquet(imageDimsRoot)
      .select(col("doc_id"),
        graft.functions.GraftExpressions.image_dims(col("payload")).as("d"))
      .select(col("doc_id"), col("d.format").as("format"),
        col("d.width").cast("long").as("width"),
        col("d.height").cast("long").as("height"))
      .orderBy("doc_id")
  }

  private val mImageDimsSql =
    s"""WITH RECURSIVE b AS (
       |  SELECT doc_id, hex(payload) AS hx, octet_length(payload) AS n
       |  FROM read_parquet('$imageDimsRoot/*.parquet')),
       |png AS (
       |  SELECT doc_id,
       |    (n >= 24 AND substring(hx, 1, 16) = '89504E470D0A1A0A'
       |       AND substring(hx, 25, 8) = '49484452') AS ok,
       |    CASE WHEN n >= 24 THEN ('0x' || substring(hx, 33, 8))::BIGINT END AS w,
       |    CASE WHEN n >= 24 THEN ('0x' || substring(hx, 41, 8))::BIGINT END AS h
       |  FROM b),
       |j0 AS (SELECT doc_id, hx, n FROM b
       |       WHERE n >= 4 AND substring(hx, 1, 4) = 'FFD8'),
       |scan(doc_id, pos, sofpos) AS (
       |  SELECT doc_id, CAST(2 AS BIGINT), CAST(NULL AS BIGINT) FROM j0
       |  UNION ALL
       |  SELECT s.doc_id,
       |    CASE WHEN substring(j.hx, CAST(2*s.pos+3 AS INT), 2) IN
       |           ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
       |         THEN s.pos
       |         WHEN substring(j.hx, CAST(2*s.pos+3 AS INT), 2) IN
       |           ('D0','D1','D2','D3','D4','D5','D6','D7','D8','D9','01')
       |         THEN s.pos + 2
       |         ELSE s.pos + 2 +
       |           ('0x' || substring(j.hx, CAST(2*s.pos+5 AS INT), 4))::BIGINT END,
       |    CASE WHEN substring(j.hx, CAST(2*s.pos+3 AS INT), 2) IN
       |           ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
       |         THEN s.pos END
       |  FROM scan s JOIN j0 j USING (doc_id)
       |  WHERE s.sofpos IS NULL AND s.pos + 1 < j.n
       |    AND substring(j.hx, CAST(2*s.pos+1 AS INT), 2) = 'FF'
       |    AND NOT (substring(j.hx, CAST(2*s.pos+3 AS INT), 2) IN
       |          ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
       |        AND s.pos + 8 >= j.n)
       |    AND (substring(j.hx, CAST(2*s.pos+3 AS INT), 2) IN
       |          ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF',
       |           'D0','D1','D2','D3','D4','D5','D6','D7','D8','D9','01')
       |         OR (s.pos + 3 < j.n AND
       |             ('0x' || substring(j.hx, CAST(2*s.pos+5 AS INT), 4))::BIGINT >= 2))),
       |sof AS (SELECT doc_id, min(sofpos) AS p FROM scan
       |        WHERE sofpos IS NOT NULL GROUP BY 1),
       |jd AS (SELECT j.doc_id,
       |        ('0x' || substring(j.hx, CAST(2*(s.p+7)+1 AS INT), 4))::BIGINT AS w,
       |        ('0x' || substring(j.hx, CAST(2*(s.p+5)+1 AS INT), 4))::BIGINT AS h
       |       FROM sof s JOIN j0 j USING (doc_id))
       |SELECT b.doc_id,
       |  CASE WHEN png.ok AND png.w > 0 AND png.h > 0 THEN 'png'
       |       WHEN jd.w > 0 AND jd.h > 0 THEN 'jpeg'
       |       ELSE 'unknown' END AS format,
       |  CASE WHEN png.ok AND png.w > 0 AND png.h > 0 THEN png.w
       |       WHEN jd.w > 0 AND jd.h > 0 THEN jd.w END AS width,
       |  CASE WHEN png.ok AND png.w > 0 AND png.h > 0 THEN png.h
       |       WHEN jd.w > 0 AND jd.h > 0 THEN jd.h END AS height
       |FROM b LEFT JOIN png USING (doc_id) LEFT JOIN jd USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---- interleaved multimodal assembly (p72) ---------------------------

  /** Fixed path: the asset fixture must be visible to the oracle's
    * independent re-parse (same contract as p68–p70). */
  private val assembleRoot = "/tmp/graft_multimodal_p72"

  /** [[graft.operators.Multimodal.assembleInterleaved]] — the
    * MMC4/LAION training-sample shape. The fixture plants one PNG
    * image asset on every even doc (at position doc_id%5) and one
    * plain fmt-first WAV audio asset on every doc_id%3==0 doc (at
    * position doc_id%7), both REAL byte formats (the p68/p69
    * builders); text is chunked into 5-word spans. The engine parses
    * asset dims with the native [[graft.functions.GraftExpressions]]
    * byte parsers and assembles per-doc interleaved sequences in ONE
    * doc_id shuffle; the oracle re-parses the same blobs at fixed hex
    * offsets (the plain variants pin fmt/IHDR positions), rebuilds the
    * same entries, and list_sort reproduces the (pos, ord) order. */
  def mAssembleInterleaved(spark: SparkSession, dir: String): DataFrame = {
    graft.util.TempDirs.deleteRecursively(
      java.nio.file.Paths.get(assembleRoot))
    def be(n: Column, nBytes: Int): Column =
      unhex(lpad(hex(n.cast("long")), nBytes * 2, "0"))
    def le(n: Column, nBytes: Int): Column = {
      val hx = lpad(hex(n.cast("long")), nBytes * 2, "0")
      unhex(concat((0 until nBytes).map(i =>
        substring(hx, (nBytes - 1 - i) * 2 + 1, 2)): _*))
    }
    val docs = Tables.load(spark, dir, "documents")
    // PNG: p68's well-formed builder (IHDR w/h at byte offsets 16/20)
    val w = (col("doc_id") % 1000 + 1).cast("int")
    val h = (col("n_chars") % 800 + 1).cast("int")
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")), be(w, 4), be(h, 4),
      unhex(lit("08060000001A2B3C4D")))
    // WAV: p69's plain fmt-first builder (fmt data at byte 20)
    val channels = (col("doc_id") % 2 + 1).cast("int")
    val rate = ((col("n_chars") % 4 + 1) * 8000).cast("int")
    val blockAlign = channels * 2
    val fmtChunk = concat(
      unhex(lit("666D7420")), le(lit(16), 4),
      le(lit(1), 2), le(channels, 2), le(rate, 4),
      le(rate * blockAlign, 4), le(blockAlign, 2), le(lit(16), 2))
    val dataHdr = concat(unhex(lit("64617461")),
      le((col("doc_id") % 1000 + 1) * blockAlign, 4))
    val wavChunks = concat(fmtChunk, dataHdr)
    val wav = concat(unhex(lit("52494646")),
      le(lit(0) + length(wavChunks) + 4, 4), unhex(lit("57415645")),
      wavChunks)
    val images = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), (col("doc_id") % 5).cast("int").as("pos"),
        (col("doc_id") * 10 + 1).as("asset_id"),
        lit("image").as("modality"), png.as("payload"))
    val audio = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), (col("doc_id") % 7).cast("int").as("pos"),
        (col("doc_id") * 10 + 2).as("asset_id"),
        lit("audio").as("modality"), wav.as("payload"))
    images.unionByName(audio)
      .write.mode("overwrite").parquet(assembleRoot)
    // engine side: parse the persisted blobs with the native byte
    // parsers, render entries, assemble in one shuffle
    val assets = spark.read.parquet(assembleRoot)
    val imgEntries = assets.filter(col("modality") === "image")
      .withColumn("d", graft.functions.GraftExpressions.image_dims(col("payload")))
      .select(col("doc_id"), col("pos"), lit(1).as("ord"),
        lit("image").as("kind"),
        concat(lit("I:"), col("asset_id").cast("string"), lit(":"),
          col("d.width").cast("string"), lit("x"),
          col("d.height").cast("string")).as("entry"),
        (col("d.width").cast("long") * col("d.height")).as("pixels"))
    val audEntries = assets.filter(col("modality") === "audio")
      .withColumn("a", graft.functions.GraftExpressions.audio_meta(col("payload")))
      .select(col("doc_id"), col("pos"), lit(2).as("ord"),
        lit("audio").as("kind"),
        concat(lit("A:"), col("asset_id").cast("string"), lit(":"),
          col("a.channels").cast("string"), lit("@"),
          col("a.sample_rate").cast("string")).as("entry"),
        lit(null).cast("long").as("pixels"))
    val spanEntries = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          greatest(lit(1), ceil(size(col("ws")) / lit(5.0)).cast("int")) - 1))
          .as("pos"))
      .select(col("doc_id"), col("pos"), lit(0).as("ord"),
        lit("text").as("kind"),
        concat(lit("T:"), element_at(col("ws"), col("pos") * 5 + 1),
          lit(":"), least(lit(5), size(col("ws")) - col("pos") * 5)
            .cast("string")).as("entry"),
        lit(null).cast("long").as("pixels"))
    graft.operators.Multimodal.assembleInterleaved(
        spanEntries.unionByName(imgEntries).unionByName(audEntries))
      .orderBy("doc_id")
  }

  private val mAssembleInterleavedSql = {
    def b(p: String) = s"substring(hx, CAST(2*($p)+1 AS INT), 2)"
    def le16(p: String) = s"('0x' || ${b(s"($p)+1")} || ${b(p)})::BIGINT"
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sp0 AS (SELECT doc_id, ws, unnest(generate_series(1,
       |    greatest(1, CAST(ceil(len(ws) / 5.0) AS BIGINT)))) AS i FROM d),
       |sp AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, 0 AS ord,
       |    'text' AS kind,
       |    'T:' || ws[CAST((i-1)*5 + 1 AS INT)] || ':' ||
       |      least(5, len(ws) - (i-1)*5)::VARCHAR AS entry,
       |    CAST(NULL AS BIGINT) AS pixels
       |  FROM sp0),
       |b AS (SELECT doc_id, pos, asset_id, modality, hex(payload) AS hx
       |      FROM read_parquet('$assembleRoot/*.parquet')),
       |img AS (SELECT doc_id, pos, 1 AS ord, 'image' AS kind,
       |    'I:' || asset_id || ':' || w || 'x' || h AS entry,
       |    w * h AS pixels
       |  FROM (SELECT *, ('0x' || substring(hx, 33, 8))::BIGINT AS w,
       |          ('0x' || substring(hx, 41, 8))::BIGINT AS h
       |        FROM b WHERE modality = 'image')),
       |aud AS (SELECT doc_id, pos, 2 AS ord, 'audio' AS kind,
       |    'A:' || asset_id || ':' || ch || '@' || rate AS entry,
       |    CAST(NULL AS BIGINT) AS pixels
       |  FROM (SELECT *, ${le16("22")} AS ch,
       |          ('0x' || ${b("27")} || ${b("26")} || ${b("25")} ||
       |            ${b("24")})::BIGINT AS rate
       |        FROM b WHERE modality = 'audio')),
       |u AS (SELECT * FROM sp UNION ALL SELECT * FROM img
       |      UNION ALL SELECT * FROM aud)
       |SELECT doc_id,
       |  array_to_string(list_transform(
       |    list_sort(list(struct_pack(pos := pos, ord := ord,
       |      entry := entry))), x -> x.entry), '|') AS seq,
       |  sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END)::BIGINT AS n_spans,
       |  sum(CASE WHEN kind = 'image' THEN 1 ELSE 0 END)::BIGINT AS n_images,
       |  sum(CASE WHEN kind = 'audio' THEN 1 ELSE 0 END)::BIGINT AS n_audio,
       |  sum(coalesce(pixels, 0))::BIGINT AS total_pixels
       |FROM u GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_dedup_exact" -> (dExact _),
    "p2_dedup_ngram_jaccard" -> (dNgram _),
    "p3_dedup_minhash_lsh" -> (dMinhash _),
    "p4_dedup_simhash" -> (dSimhash _),
    "p5_dedup_embedding" -> (dEmbedding _),
    "p6_ann_brute_topk" -> (sBruteTopK _),
    "p7_ann_lsh_topk" -> (sLshTopK _),
    "p8_text_quality" -> (tQuality _),
    "p9_lang_id" -> (tLangIdFixture _),
    "p10_fingerprint" -> (tFingerprint _),
    "p11_token_count" -> (tTokenCount _),
    "p12_multimodal_binary" -> (mBinary _),
    "p13_dedup_clusters" -> (dClusters _),
    "p14_ann_ivf_topk" -> (sIvfTopK _),
    "p15_dedup_embedding_lsh" -> (dEmbeddingLsh _),
    "p16_curation_sample" -> (cSample _),
    "p17_curation_stratified" -> (cStratified _),
    "p18_curation_normalize" -> (cNormalize _),
    "p19_curation_length_hist" -> (cLengthHist _),
    "p20_curation_pii" -> (cPii _),
    "p21_contamination" -> (cContamination _),
    "p22_sequence_packing" -> (cPackSequences _),
    "p23_dedup_keep_best" -> (dKeepBest _),
    "p24_repetition" -> (tRepetition _),
    "p25_vocab" -> (tVocab _),
    "p26_bpe_merges" -> (tBpe _),
    "p27_semantic_dedup" -> (dSemanticGroups _),
    "p28_bpe_encode" -> (tBpeEncode _),
    "p29_curation_pipeline" -> (pCurationPipeline _),
    "p30_lm_typicality" -> (tLmTypicality _),
    "p31_mixture_temperature" -> (cTemperatureMixture _),
    "p32_line_dedup" -> (dLineDedup _),
    "p33_chunking" -> (cChunk _),
    "p34_quality_classifier" -> (tQualityClassifier _),
    "p35_oov_rate" -> (tOovRate _),
    "p36_tf_cosine" -> (dTfCosine _),
    "p37_token_budget" -> (cTokenBudget _),
    "p38_quality_percentile" -> (cQualityPercentile _),
    "p39_byte_histogram" -> (mByteHistogram _),
    "p40_containment" -> (dContainment _),
    "p41_quantize_int8" -> (eQuantizeInt8 _),
    "p42_hashed_classifier" -> (cHashedClassifier _),
    "p43_split_assignment" -> (cAssignSplits _),
    "p44_label_centroids" -> (eLabelCentroids _),
    "p46_random_projection" -> (eRandomProjection _),
    "p47_knn_label" -> (eKnnLabel _),
    "p48_heavy_hitters" -> (cHeavyHitters _),
    "p49_keywords" -> (cKeywords _),
    "p50_kn_counts" -> (cKnCounts _),
    "p51_gram_matrix" -> (eGramMatrix _),
    "p52_cluster_sizes" -> (dClusterSizes _),
    "p53_cooccurrence" -> (cCooccurrence _),
    "p45_decontaminate" -> (cDecontaminate _),
    "p54_cc_chain" -> (dCcChain _),
    "p55_shared_spans" -> (dSharedSpans _),
    "p56_dsir_select" -> (cDsirSelect _),
    "p57_ppl_buckets" -> (cPplBuckets _),
    "p58_bm25_topk" -> (rBm25 _),
    "p59_weighted_sample" -> (cWeightedSample _),
    "p60_bloom_decontaminate" -> (cBloomDecontaminate _),
    "p61_nfc_normalize" -> (tNfcNormalize _),
    "p62_repetition_factors" -> (cRepetitionFactors _),
    "p63_kn_perplexity" -> (cKnPerplexity _),
    "p64_ivfpq_adc" -> (sIvfPq _),
    "p65_html_strip" -> (tHtmlStrip _),
    "p66_url_canonicalize" -> (cUrlCanonicalize _),
    "p67_domain_cap" -> (cDomainCap _),
    "p68_image_dims" -> (mImageDims _),
    "p69_audio_meta" -> (mAudioMeta _),
    "p70_video_meta" -> (mVideoMeta _),
    "p71_web_pipeline" -> (cWebPipeline _),
    "p72_interleaved_assembly" -> (mAssembleInterleaved _),
    "p73_full_chain" -> (cFullChain _),
    "p74_exact_substr_excise" -> (dExactSubstrExcise _),
    "p75_unigram_encode" -> (tUnigramEncode _),
    "p76_gopher_rules" -> (cGopherRules _),
    "p77_tokenizer_pipeline" -> (cTokenizerPipeline _),
    "p78_mmr_select" -> (sMmrSelect _),
    "p79_balanced_shards" -> (cBalancedShards _),
    "p80_perceptron" -> (cPerceptron _),
    "p81_ann_query_set" -> (sIvfPqBatch _),
    "p82_unigram_frozen" -> (tUnigramFrozen _),
    "p83_mixture_weights" -> (cMixtureWeights _),
    "p84_ann_filtered" -> (sIvfPqFiltered _),
    "p85_mmr_clustered" -> (sMmrClustered _),
    "p86_ann_filtered_stored" -> (sIvfPqFilteredStored _),
  )

  val oracles: Map[String, String] = Map(
    "p1_dedup_exact" -> dExactSql,
    "p2_dedup_ngram_jaccard" -> jaccardOracle(0.5),
    "p3_dedup_minhash_lsh" -> jaccardOracle(0.7),
    // p4: banded candidates are pigeonhole-complete at hamming ≤ 3 →
    // must equal the oracle's all-pairs comparison exactly
    "p4_dedup_simhash" -> dSimhashSql,
    "p5_dedup_embedding" -> dEmbeddingSql,
    "p6_ann_brute_topk" -> sBruteSql,
    // p7: approximation gated at full-recall params → must equal exact
    "p7_ann_lsh_topk" -> sBruteSql,
    "p8_text_quality" -> tQualitySql,
    "p9_lang_id" -> tLangIdSql,
    "p10_fingerprint" -> tFingerprintSql,
    "p11_token_count" -> tTokenSql,
    "p12_multimodal_binary" -> mBinarySql,
    "p13_dedup_clusters" -> dClustersSql,
    // p14: persisted-index IVF at full probe → must equal exact
    "p14_ann_ivf_topk" -> sBruteSql,
    // p15: LSH candidates + exact verify → must equal the all-pairs SQL
    "p15_dedup_embedding_lsh" -> dEmbeddingSql,
    "p16_curation_sample" -> cSampleSql,
    "p17_curation_stratified" -> cStratifiedSql,
    "p18_curation_normalize" -> cNormalizeSql,
    "p19_curation_length_hist" -> cLengthHistSql,
    "p20_curation_pii" -> cPiiSql,
    "p21_contamination" -> cContaminationSql,
    "p22_sequence_packing" -> cPackSql,
    // p23: LSH-clustered keep-best must equal the exact-closure argmax
    "p23_dedup_keep_best" -> dKeepBestSql,
    "p24_repetition" -> tRepetitionSql,
    "p25_vocab" -> tVocabSql,
    // p26: exact merge sequence vs the unrolled DuckDB greedy loop
    "p26_bpe_merges" -> tBpeSql,
    "p27_semantic_dedup" -> dSemanticSql,
    "p28_bpe_encode" -> tBpeEncodeSql,
    "p29_curation_pipeline" -> pCurationSql,
    "p30_lm_typicality" -> tLmTypicalitySql,
    "p31_mixture_temperature" -> cTemperatureSql,
    "p32_line_dedup" -> dLineDedupSql,
    "p33_chunking" -> cChunkSql,
    "p34_quality_classifier" -> tQualityClassifierSql,
    "p35_oov_rate" -> tOovRateSql,
    "p36_tf_cosine" -> dTfCosineSql,
    "p37_token_budget" -> cTokenBudgetSql,
    "p38_quality_percentile" -> cQualityPercentileSql,
    "p39_byte_histogram" -> mByteHistogramSql,
    "p40_containment" -> dContainmentSql,
    "p41_quantize_int8" -> eQuantizeInt8Sql,
    "p42_hashed_classifier" -> cHashedClassifierSql,
    "p43_split_assignment" -> cAssignSplitsSql,
    "p44_label_centroids" -> eLabelCentroidsSql,
    "p46_random_projection" -> eRandomProjectionSql,
    "p47_knn_label" -> eKnnLabelSql,
    "p48_heavy_hitters" -> cHeavyHittersSql,
    "p49_keywords" -> cKeywordsSql,
    "p50_kn_counts" -> cKnCountsSql,
    "p51_gram_matrix" -> eGramMatrixSql,
    "p52_cluster_sizes" -> dClusterSizesSql,
    "p53_cooccurrence" -> cCooccurrenceSql,
    "p45_decontaminate" -> cDecontaminateSql,
    // p54: diameter-59 planted chains — cluster = min id of rank class
    "p54_cc_chain" -> dCcChainSql,
    "p55_shared_spans" -> dSharedSpansSql,
    "p56_dsir_select" -> cDsirSelectSql,
    "p57_ppl_buckets" -> cPplBucketsSql,
    "p58_bm25_topk" -> rBm25Sql,
    "p59_weighted_sample" -> cWeightedSampleSql,
    // p60: sketch gated at zero-false-positive params -> must equal exact
    "p60_bloom_decontaminate" -> cDecontaminateSql,
    "p61_nfc_normalize" -> tNfcNormalizeSql,
    "p62_repetition_factors" -> cRepetitionFactorsSql,
    "p63_kn_perplexity" -> cKnPerplexitySql,
    // p64: sketch gated at lossless params -> must equal exact, scores included
    "p64_ivfpq_adc" -> sIvfPqSql,
    "p65_html_strip" -> tHtmlStripSql,
    "p66_url_canonicalize" -> cUrlCanonicalizeSql,
    "p67_domain_cap" -> cDomainCapSql,
    "p68_image_dims" -> mImageDimsSql,
    "p69_audio_meta" -> mAudioMetaSql,
    "p70_video_meta" -> mVideoMetaSql,
    "p71_web_pipeline" -> cWebPipelineSql,
    "p72_interleaved_assembly" -> mAssembleInterleavedSql,
    "p73_full_chain" -> cFullChainSql,
    "p74_exact_substr_excise" -> dExactSubstrExciseSql,
    "p75_unigram_encode" -> tUnigramEncodeSql,
    "p76_gopher_rules" -> cGopherRulesSql,
    "p77_tokenizer_pipeline" -> cTokenizerPipelineSql,
    "p78_mmr_select" -> sMmrSelectSql,
    "p79_balanced_shards" -> cBalancedShardsSql,
    "p80_perceptron" -> cPerceptronSql,
    "p81_ann_query_set" -> sIvfPqBatchSql,
    "p82_unigram_frozen" -> tUnigramFrozenSql,
    "p83_mixture_weights" -> cMixtureWeightsSql,
    "p84_ann_filtered" -> sIvfPqFilteredSql,
    // p85: numClusters=1 + full pool == mmrSelect exactly, so the p78
    // recursive-CTE greedy oracle applies verbatim
    "p85_mmr_clustered" -> sMmrSelectSql,
    // p86: same filtered exact top-k as p84 via the stored-column path
    "p86_ann_filtered_stored" -> sIvfPqFilteredSql,
  )
}
