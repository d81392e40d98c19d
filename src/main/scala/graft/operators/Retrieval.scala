package graft.operators

import graft.{CacheRegistry, Tables}
import graft.functions.Parity._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical ranked retrieval + hybrid fusion — the retrieval half of a
  * training-data curation stack (decontamination lookups, targeted
  * corpus search, hard-negative mining) that the embedding-ANN family
  * (`s_*`) alone doesn't cover:
  *
  *   - BM25 (`s_bm25_topk`): per-query-doc top-k over the token
  *     inverted index. The whole scoring pipeline is exact 64-bit
  *     integer arithmetic — k1 = 6/5 and b = 3/4 are folded into one
  *     closed-form integer expression (derivation on [[bm25TopK]]), and
  *     idf uses the monotone rational surrogate
  *     (N − df + 1)·S ÷ (df + 1) instead of the textbook log (log's
  *     last-ulp behavior differs across engines; the RANKING — which is
  *     all BM25 is for — needs monotonicity in df, not the log shape).
  *     Candidates ride an equi-shuffle on the 8-byte token hash (sparse
  *     · sparse inverted-index join, the same discipline as
  *     s_text_cosine_topk); scores are one grouped BIGINT sum;
  *     WindowGroupLimit keeps per-query k-row heaps.
  *
  *   - Reciprocal-rank fusion (`s_hybrid_rrf_topk`): the standard
  *     lexical+semantic hybrid — RRF(d) = Σ_r S ÷ (60 + rank_r(d)) over
  *     the BM25 and text-cosine top-k lists (integer division, so the
  *     fused score is exactly oracle-able). Operates on two ≤ k·|Q|-row
  *     relations — fusion cost is independent of corpus size.
  *
  * 100 TB shape: tf/df/dl relations are linear one-pass aggregates; the
  * probe join is Σ_t df(t) rows per query — bounded by the standard
  * stopword/df-cap pruning lever, EXECUTED here as the gated twin
  * `s_bm25_topk_capped` ([[bm25TopKCapped]]): terms with 2·df > N are
  * excluded from scoring (exactly the terms whose textbook log-idf
  * ln((N−df+½)/(df+½)) is non-positive — near-zero rank signal, maximal
  * probe cost). The fixture's vocabulary is bimodal (one rare 'dup'
  * token at df ≈ 0.05·N, shard markers at 0.1·N, ~30 stopwords at
  * ~0.77·N), so the cap separates cleanly at every SF and the measured
  * probe volume falls to 0.2% (sf0.01) / 3.9% (sf1) of the uncapped
  * join — which is why the capped twin affords a 10× wider query batch
  * ([[NumQueriesCapped]]). The uncapped `s_bm25_topk` stays gated as
  * the exact-ranking baseline. Document text never shuffles; only
  * (hash, tf) pairs and per-query top-k rows move.
  *
  * Reference scope note: the reference engine has no retrieval
  * operator; this extends the LLM-pipeline surface (builder brief) next
  * to its dedup/ANN siblings.
  */
object Retrieval {

  /** Fixed-point scales. IdfScale on the rational idf, TfScale on the
    * tf-normalization quotient; a score contribution is their product
    * (≤ ~1e14 at sf1 — headroom 4 orders below the 2^63 line, audited
    * against N = 5·10^4, T = 2.75·10^6, tf ≤ dl ≤ 10^3).
    *
    * Corpus envelope: the per-TERM intermediates ((N−df+1)·IdfScale and
    * 44·T·tf·TfScale) stay inside int64 through N ≈ 10^8 docs /
    * T ≈ 10^10 tokens. The per-PAIR score additionally SUMS over shared
    * terms — a df=2 term at N = 10^8 contributes ~10^17, so ~80 shared
    * rare terms saturate 2^63 (pairs like that are near-duplicates and
    * belong to the dedup stack first, but the ranker must not rely on
    * that). Past either line, shrink IdfScale/TfScale — BM25 needs the
    * RATIO's ranking precision, not absolute magnitude, so the scales
    * can fall as the corpus grows (the same one-statistic adaptivity as
    * [[Sketches.mForCount]]) — or widen the contribution arithmetic to
    * DECIMAL(38,0) as in q4's property-tested overflow twin
    * (RefQueries.q4CardinalityPlanDecimal).
    */
  val IdfScale = 1000000L
  val TfScale = 1000L

  /** RRF constants: the canonical k = 60 dampener and the integer
    * scale that replaces the textbook 1/(k+rank) double.
    */
  val RrfK = 60L
  val RrfScale = 1000000L

  /** Query-batch width for the capped twin: 10× the uncapped
    * [[Similarity.NumQueries]] (= 20). The point of the df cap is that
    * probe cost stops tracking corpus-wide Σdf — per query it is
    * Σ_{t: 2·df(t) ≤ N} df(t), ≤ 4% of the uncapped volume on this
    * fixture — so a 10× wider batch is cheaper than the narrow
    * uncapped one. Same discipline as the reference's head/tail
    * partitioner split (stateless AdvancedPartialKeyPartitioner:12-58):
    * the heavy head is treated differently — here, dropped at the
    * index, because a term in more than half the corpus cannot
    * discriminate between its documents.
    */
  val NumQueriesCapped = 200L

  /** (doc_id, h, tf): term frequencies over the 31-bit token-hash key —
    * the inverted index both retrieval queries probe. Cached: the
    * BM25 score join and the query-term extraction both consume it.
    */
  private def tfRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"retrieval.tf:$sfDir") {
      Tables.documentsWide(spark, sfDir)
        .select(col("doc_id"),
          explode(graft.functions.TextHashOps.shingleHashes(
            col("text"), 1, distinct = false)).as("h"))
        .groupBy("doc_id", "h").agg(count(lit(1)).as("tf"))
    }

  /** Gated: (query_id, neighbor_id, rnk, score) — BM25 top-k for each
    * of the first [[Similarity.NumQueries]] documents as queries.
    *
    * Integer closed form, with N = |docs|, T = Σ dl (so avgdl = T/N
    * exactly), per query term t with document frequency df and
    * candidate tf, dl:
    *
    *   idfS    = (N − df + 1)·IdfScale ÷ (df + 1)
    *   tfnormS = tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) at k1=6/5,b=3/4
    *           = 44·T·tf·TfScale ÷ (20·T·tf + 6·T + 18·dl·N)
    *             [multiply num/den by 20·T, all integer]
    *   score   = Σ_t idfS·tfnormS   (exact BIGINT sum)
    */
  def bm25TopK(spark: SparkSession, sfDir: String): DataFrame =
    // Cached (k·|Q| rows): consumed by its own gate AND the RRF fusion —
    // the persist policy's "small expensive aggregate, two consumers".
    CacheRegistry.cached(spark, s"retrieval.bm25TopK:$sfDir") {
      bm25TopKPlan(spark, sfDir)
    }

  /** The scoring kernel shared by the batch gate and the streaming
    * serve arm: an arbitrary (query_id, h) term relation scored against
    * the corpus index → (query_id, neighbor_id, score). No
    * self-exclusion here — external serve queries live in their own id
    * space; the batch gate (whose queries ARE corpus docs) filters the
    * key-equal pairs afterwards, which commutes with the grouped sum.
    */
  // The rest of the index, registered like tf: dl + df + the 1-row
  // stats build ONCE however many consumers (the two ranked gates, the
  // capped twin's vocab prune, serve triggers) probe them.
  private def dlRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"retrieval.dl:$sfDir") {
      tfRel(spark, sfDir).groupBy("doc_id").agg(sum("tf").as("dl"))
    }

  private def stRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"retrieval.st:$sfDir") {
      dlRel(spark, sfDir).agg(count(lit(1)).as("n"), sum("dl").as("t"))
    }

  private def dfRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"retrieval.df:$sfDir") {
      tfRel(spark, sfDir).groupBy("h").agg(count(lit(1)).as("df"))
    }

  private[graft] def scoreAgainst(spark: SparkSession, sfDir: String,
      qt: DataFrame): DataFrame = {
    val tf = tfRel(spark, sfDir)
    val dl = dlRel(spark, sfDir)
    val st = stRel(spark, sfDir)
    val df_ = dfRel(spark, sfDir)
    qt.join(tf.select(col("doc_id").as("neighbor_id"), col("h"), col("tf")), "h")
      .join(df_, "h")
      .join(dl.select(col("doc_id").as("neighbor_id"), col("dl")), "neighbor_id")
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("neighbor_id"),
        (expr(s"(n - df + 1) * $IdfScale div (df + 1)") *
          expr(s"(44 * t * tf * $TfScale) div (20 * t * tf + 6 * t + 18 * dl * n)"))
          .as("c"))
      .groupBy("query_id", "neighbor_id").agg(sum("c").as("score"))
  }

  /** Per-query top-k cut, deterministic (score desc, neighbor asc). */
  private[graft] def topKCut(scored: DataFrame): DataFrame =
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("neighbor_id"))))
      .where(col("rnk") <= Similarity.TopK)
      .select("query_id", "neighbor_id", "rnk", "score")

  private def bm25TopKPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val qt = tfRel(spark, sfDir).where(col("doc_id") < Similarity.NumQueries)
      .select(col("doc_id").as("query_id"), col("h"))
    topKCut(scoreAgainst(spark, sfDir, qt)
      .where(col("neighbor_id") =!= col("query_id")))
  }

  /** The df-capped vocabulary: (h) for every term with 2·df ≤ N —
    * vocab-bounded (≤ |terms| rows), registry-persisted, broadcast at
    * the probe prune. One grouped count over the index + the 1-row
    * corpus stats; no text, no per-document rows.
    */
  private def dfKeptRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"retrieval.dfkept:$sfDir") {
      // Both inputs are the already-registered index relations — the
      // prune costs one vocab-sized filter, zero extra corpus passes.
      dfRel(spark, sfDir)
        .crossJoin(broadcast(stRel(spark, sfDir).select("n")))
        .where(col("df") * 2 <= col("n")).select("h")
    }

  /** Gated: BM25 top-k with the stopword/df-cap prune — terms present
    * in more than half the corpus (2·df > N) are dropped BEFORE the
    * probe join, so the scoring join carries Σ_{kept t} df(t) rows per
    * query instead of Σ_all. Ranking recomputes over the surviving
    * terms only (the production semantics of a stopword list: pruned
    * terms contribute nothing, not an approximation of the uncapped
    * score). Query docs none of whose terms survive return no rows —
    * on a stopword-heavy corpus that is the correct answer ("this
    * query has no discriminative content"), not a failure mode.
    */
  def bm25TopKCapped(spark: SparkSession, sfDir: String): DataFrame = {
    val kept = dfKeptRel(spark, sfDir)
    val qt = tfRel(spark, sfDir).where(col("doc_id") < NumQueriesCapped)
      .select(col("doc_id").as("query_id"), col("h"))
      .join(broadcast(kept), "h") // the prune: probe rows never exist
    topKCut(scoreAgainst(spark, sfDir, qt)
      .where(col("neighbor_id") =!= col("query_id")))
  }

  /** Serve-path scoring: a batch of EXTERNAL query documents
    * (query_id, text) ranked against the static corpus index — the
    * per-trigger body of the streaming retrieval arm
    * ([[graft.streaming.StreamingParity.bm25ServeStream]]) and a plain
    * batch entry point for ad-hoc lookups (decontamination probes). The
    * corpus index relations are registry-persisted: serving N triggers
    * builds them once.
    */
  def bm25ServeBatch(spark: SparkSession, sfDir: String,
      batch: DataFrame): DataFrame = {
    val qt = batch
      .select(col("query_id"),
        explode(graft.functions.TextHashOps.shingleHashes(
          col("text"), 1, distinct = true)).as("h"))
    topKCut(scoreAgainst(spark, sfDir, qt))
  }

  /** Gated: (query_id, neighbor_id, rnk, rrf_score, bm25_rnk, cos_rnk)
    * — reciprocal-rank fusion of [[bm25TopK]] and
    * [[TextAnalysis.textCosineTopK]]. A doc absent from one list
    * contributes 0 from that ranker (rank column reports 0); the fused
    * list is re-cut to [[Similarity.TopK]].
    */
  def hybridRrfTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val bm = bm25TopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("bm25_rnk"))
    val cs = TextAnalysis.textCosineTopK(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"), col("rnk").as("cos_rnk"))
    bm.join(cs, Seq("query_id", "neighbor_id"), "full_outer")
      .select(col("query_id"), col("neighbor_id"),
        coalesce(col("bm25_rnk"), lit(0L)).cast("long").as("bm25_rnk"),
        coalesce(col("cos_rnk"), lit(0L)).cast("long").as("cos_rnk"))
      .withColumn("rrf_score",
        when(col("bm25_rnk") > 0, expr(s"$RrfScale div ($RrfK + bm25_rnk)")).otherwise(0L) +
          when(col("cos_rnk") > 0, expr(s"$RrfScale div ($RrfK + cos_rnk)")).otherwise(0L))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf_score").desc, col("neighbor_id"))))
      .where(col("rnk") <= Similarity.TopK)
      .select("query_id", "neighbor_id", "rnk", "rrf_score", "bm25_rnk", "cos_rnk")
  }

  // ---- DuckDB oracles (generated from the same constants) -------------

  private val hashesDuck = s"unnest(${hashedArrayDuck(tokensDuck("text"))})"

  /** The BM25 CTE chain; `capped` inserts the df-cap vocabulary CTE and
    * prunes the query terms against it (the [[bm25TopKCapped]] twin —
    * one text, so a cap edit cannot diverge the two oracles).
    */
  private def bm25Ctes(capped: Boolean): String = {
    val (dfk, qt) =
      if (capped) (
        "\ndfk AS (SELECT h FROM dfr CROSS JOIN st WHERE 2 * dfr.df <= st.n),",
        s"""qt AS (
           |  SELECT doc_id AS query_id, tf.h FROM tf JOIN dfk ON dfk.h = tf.h
           |  WHERE doc_id < $NumQueriesCapped),""".stripMargin)
      else ("",
        s"""qt AS (
           |  SELECT doc_id AS query_id, h FROM tf
           |  WHERE doc_id < ${Similarity.NumQueries}),""".stripMargin)
    s"""tf AS (
       |  SELECT doc_id, h, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, ${hashesDuck} AS h FROM documents)
       |  GROUP BY doc_id, h),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t FROM dl),
       |dfr AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY h),$dfk
       |$qt
       |sc AS (
       |  SELECT q.query_id, c.doc_id AS neighbor_id,
       |    CAST(sum(((st.n - f.df + 1) * $IdfScale // (f.df + 1))
       |      * ((44 * st.t * c.tf * $TfScale)
       |         // (20 * st.t * c.tf + 6 * st.t + 18 * d.dl * st.n)))
       |      AS BIGINT) AS score
       |  FROM qt q
       |  JOIN tf c ON q.h = c.h AND c.doc_id <> q.query_id
       |  JOIN dfr f ON f.h = q.h
       |  JOIN dl d ON d.doc_id = c.doc_id
       |  CROSS JOIN st
       |  GROUP BY q.query_id, c.doc_id)""".stripMargin
  }

  private def bm25Sql(capped: Boolean): String =
    s"""WITH ${bm25Ctes(capped)}
       |SELECT query_id, neighbor_id, rnk, score FROM (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS rnk
       |  FROM sc)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin

  val bm25TopKSql: String = bm25Sql(capped = false)
  val bm25TopKCappedSql: String = bm25Sql(capped = true)

  val hybridRrfTopKSql: String =
    s"""WITH bm AS ($bm25TopKSql),
       |cs AS (${TextAnalysis.textCosineTopKSql}),
       |u AS (
       |  SELECT coalesce(b.query_id, c.query_id) AS query_id,
       |    coalesce(b.neighbor_id, c.neighbor_id) AS neighbor_id,
       |    coalesce(b.rnk, 0) AS bm25_rnk, coalesce(c.rnk, 0) AS cos_rnk
       |  FROM bm b FULL OUTER JOIN cs c
       |    ON b.query_id = c.query_id AND b.neighbor_id = c.neighbor_id),
       |f AS (
       |  SELECT query_id, neighbor_id, bm25_rnk, cos_rnk,
       |    (CASE WHEN bm25_rnk > 0 THEN $RrfScale // ($RrfK + bm25_rnk) ELSE 0 END)
       |    + (CASE WHEN cos_rnk > 0 THEN $RrfScale // ($RrfK + cos_rnk) ELSE 0 END)
       |      AS rrf_score
       |  FROM u)
       |SELECT query_id, neighbor_id, rnk, rrf_score, bm25_rnk, cos_rnk FROM (
       |  SELECT query_id, neighbor_id, rrf_score, bm25_rnk, cos_rnk,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY rrf_score DESC, neighbor_id) AS rnk
       |  FROM f)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_bm25_topk" -> (bm25TopK _),
    "s_bm25_topk_capped" -> (bm25TopKCapped _),
    "s_hybrid_rrf_topk" -> (hybridRrfTopK _))

  val oracles: Map[String, String] = Map(
    "s_bm25_topk" -> bm25TopKSql,
    "s_bm25_topk_capped" -> bm25TopKCappedSql,
    "s_hybrid_rrf_topk" -> hybridRrfTopKSql)
}
