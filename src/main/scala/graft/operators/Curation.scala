package graft.operators

import graft.{CacheRegistry, Tables}
import graft.functions.TextHashOps
import graft.functions.Parity.charPolyHashDuck
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The capstone composition: a full training-data curation pass over
  * `documents`, chaining the pipeline operators —
  *
  *   1. exact dedup (keep lowest doc_id per identical text, via the
  *      62-bit two-hash fingerprint; text itself never shuffles),
  *   2. quality + language annotation (TextAnalysis semantics),
  *   3. curation filter: quality_score > 0.5 AND n_tokens >= 10,
  *   4. corpus accounting per (source, lang_pred).
  *
  * Aggregate outputs are counts and INTEGER sums only — never SUM over
  * doubles, whose result depends on partial-aggregation order and would
  * break the bit-exact oracle (the per-row score is deterministic, so
  * filtering on it is safe; summing it is not).
  */
object Curation {

  private val docsSql = "SELECT doc_id, text FROM documents"

  def corpusCuration(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: widen re-measured post-codegen-cache-fix and still DECLINED
    // (isolated bench A/B 0.83 s widened vs 0.59 narrow; interleaved
    // Probe agreed) — the r18 revert holds for this site.
    val docs = Tables.documents(spark, sfDir)
    val withFp = docs.select(col("doc_id"), col("source"), col("text"),
      TextHashOps.polyHash(col("text")).as("fp"))
    val keep = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val kept = withFp.join(keep, "doc_id")
    val toks = "split(text, ' ')"
    val annotated = kept.select(
        col("doc_id"), col("source"),
        expr(s"size($toks)").as("n_tokens"),
        expr(s"size(filter($toks, t -> t IN ${inList(TextAnalysis.Stopwords)}))").as("stop_cnt"),
        expr(s"size(array_distinct($toks))").as("n_distinct"),
        expr(s"size(filter($toks, t -> t IN ${inList(TextAnalysis.EnMarkers)}))").as("en_cnt"),
        expr(s"size(filter($toks, t -> t IN ${inList(TextAnalysis.EsMarkers)}))").as("es_cnt"),
        expr(s"size(filter($toks, t -> t IN ${inList(TextAnalysis.FrMarkers)}))").as("fr_cnt"))
      .withColumn("quality_score",
        expr("0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)" +
          " + 0.3 * (1.0 - abs(CAST(stop_cnt AS DOUBLE) / n_tokens - 0.2))" +
          " + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0)"))
      .withColumn("lang_pred",
        expr("CASE WHEN en_cnt >= es_cnt AND en_cnt >= fr_cnt AND en_cnt > 0 THEN 'en' " +
          "WHEN es_cnt >= fr_cnt AND es_cnt > 0 THEN 'es' " +
          "WHEN fr_cnt > 0 THEN 'fr' ELSE 'und' END"))
    annotated
      .where(col("quality_score") > 0.5 && col("n_tokens") >= 10)
      .groupBy("source", "lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("stop_cnt").as("sum_stop"))
  }

  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  val corpusCurationSql: String = {
    val toks = "string_split(text, ' ')"
    def cnt(xs: Seq[String]) = s"len(list_filter($toks, t -> t IN ${inList(xs)}))"
    s"""WITH fps AS (
       |  SELECT doc_id, source, text, ${charPolyHashDuck("text")} AS fp
       |  FROM (SELECT doc_id, source, text FROM documents)),
       |keep AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
       |annotated AS (
       |  SELECT f.doc_id, f.source,
       |    len($toks) AS n_tokens,
       |    ${cnt(TextAnalysis.Stopwords)} AS stop_cnt,
       |    len(list_distinct($toks)) AS n_distinct,
       |    ${cnt(TextAnalysis.EnMarkers)} AS en_cnt,
       |    ${cnt(TextAnalysis.EsMarkers)} AS es_cnt,
       |    ${cnt(TextAnalysis.FrMarkers)} AS fr_cnt
       |  FROM fps f JOIN keep k ON f.doc_id = k.doc_id),
       |scored AS (
       |  SELECT *,
       |    0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
       |      + 0.3 * (1.0 - abs(CAST(stop_cnt AS DOUBLE) / n_tokens - 0.2))
       |      + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) AS quality_score,
       |    CASE WHEN en_cnt >= es_cnt AND en_cnt >= fr_cnt AND en_cnt > 0 THEN 'en'
       |         WHEN es_cnt >= fr_cnt AND es_cnt > 0 THEN 'es'
       |         WHEN fr_cnt > 0 THEN 'fr' ELSE 'und' END AS lang_pred
       |  FROM annotated)
       |SELECT source, lang_pred, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(sum(stop_cnt) AS BIGINT) AS sum_stop
       |FROM scored
       |WHERE quality_score > 0.5 AND n_tokens >= 10
       |GROUP BY source, lang_pred""".stripMargin
  }

  // ------------------------------------------------------------------
  // Vocabulary statistics: global term frequency and document frequency —
  // the vocab-building pass of a tokenizer pipeline. One explode + one
  // two-phase agg; at 100 TB the shuffle carries (token, partial counts).
  // ------------------------------------------------------------------
  def vocabFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))

  val vocabFreqSql: String =
    """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |      FROM (SELECT doc_id, text FROM documents))
      |GROUP BY token""".stripMargin

  // ------------------------------------------------------------------
  // Incremental vocabulary maintenance — [[vocabFreq]]'s term counts as
  // a MAINTAINED aggregate (materialized-view / incremental-ETL shape):
  // day-1 counts (even doc_ids, the vocabDrift snapshot convention) are
  // the STORED relation; the day-2 batch (odd doc_ids) is aggregated
  // alone and merged in with one vocab-sized full-outer sum — the
  // corpus is never re-scanned. The oracle recomputes the counts from
  // the WHOLE corpus in one pass, so the hash gate IS the maintenance
  // proof: stored ⊕ Δ ≡ full recompute, token for token (the aggregate
  // sibling of d_incremental_clusters' label-maintenance gate).
  //
  // Scale shape: day-2 cost is batch-proportional — one batch explode +
  // two-phase count + a merge join keyed by the token (8-byte hash at
  // 100 TB, the repetitionStats swap); the stored relation is
  // vocab-sized (millions of rows vs trillions of corpus tokens) and in
  // production lives as a bucketed table on the token key so the merge
  // is shuffle-free (the Bucketing day-2 layout). COUNT DISTINCT df is
  // deliberately NOT maintained here — distinct-over-docs is not
  // self-maintainable from (token, df) alone; a production pipeline
  // keeps the (token, doc) keyset (that relation is exactly
  // d_shingle_novelty's first-seen table at shingle granularity).
  // ------------------------------------------------------------------
  private def storedVocab(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"curation.storedVocab:$sfDir") {
      Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 0)
        .select(explode(expr("split(text, ' ')")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("tf_stored"))
    }

  def incrementalVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val batch = Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 1)
      .select(explode(expr("split(text, ' ')")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf_b"))
    storedVocab(spark, sfDir).join(batch, Seq("token"), "full_outer")
      .select(col("token"),
        (coalesce(col("tf_stored"), lit(0L)) + coalesce(col("tf_b"), lit(0L)))
          .as("tf"),
        coalesce(col("tf_b"), lit(0L)).as("tf_batch"))
  }

  val incrementalVocabSql: String =
    """SELECT token, count(*) AS tf,
      |  CAST(sum(CASE WHEN d % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tf_batch
      |FROM (SELECT doc_id AS d, unnest(string_split(text, ' ')) AS token
      |      FROM (SELECT doc_id, text FROM documents))
      |GROUP BY token""".stripMargin

  // ------------------------------------------------------------------
  // Bigram statistics: [[vocabFreq]] at order 2 WITH multiplicity (the
  // dedup shingles are distinct-per-doc; an n-gram LM / BPE-merge pass
  // needs every occurrence counted). Same explode + two-phase-agg shape:
  // the shuffle carries (gram, partial counts), never documents. The
  // guard keeps sub-w docs out of `sequence`'s backwards-step error.
  // ------------------------------------------------------------------
  def bigramFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsWide(spark, sfDir)
      .select(col("doc_id"), expr("split(text, ' ')").as("toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(0, size(toks) - 2)," +
          " i -> concat_ws(' ', slice(toks, i + 1, 2))) ELSE array() END"))
        .as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))

  val bigramFreqSql: String =
    """SELECT gram, count(*) AS tf, count(DISTINCT doc_id) AS df
      |FROM (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(0, len(toks) - 1),
      |      i -> array_to_string(toks[i + 1:i + 2], ' '))
      |    ELSE [] END) AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM (SELECT doc_id, text FROM documents)))
      |GROUP BY gram""".stripMargin

  // ------------------------------------------------------------------
  // Distribution-relative length trim: keep documents whose length lies
  // within [p5, p95] of their OWN source's n_chars distribution — the
  // C4-style length filter, but corpus-relative instead of a hard-coded
  // constant (each source has its own length profile). Per-source type-7
  // quantiles (the a_quantiles parity contract: percentile() and
  // quantile_cont() agree bit-for-bit on BIGINT inputs), then the tiny
  // one-row-per-source bounds relation broadcast-joins back onto the
  // corpus — one agg pass + one map-side filter, no corpus shuffle.
  // ------------------------------------------------------------------
  def lengthTrim(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val bounds = docs.groupBy("source").agg(
      expr("percentile(n_chars, 0.05D)").as("lo"),
      expr("percentile(n_chars, 0.95D)").as("hi"))
    docs.join(broadcast(bounds), "source")
      .where(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select("doc_id", "source", "n_chars", "lo", "hi")
  }

  val lengthTrimSql: String =
    """WITH bounds AS (
      |  SELECT source, quantile_cont(n_chars, 0.05) AS lo,
      |    quantile_cont(n_chars, 0.95) AS hi
      |  FROM documents GROUP BY source)
      |SELECT d.doc_id, d.source, d.n_chars, b.lo, b.hi
      |FROM (SELECT doc_id, source, n_chars FROM documents) d
      |JOIN bounds b ON d.source = b.source
      |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic train/val/test split: assignment from the content
  // fingerprint (NOT the doc_id), so exact duplicates always land in the
  // same split and re-ingestion is stable — the property that prevents
  // train/val leakage through duplicates.
  // ------------------------------------------------------------------
  def splitAssign(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextHashOps.polyHash(col("text")).as("fp"))
      .withColumn("bucket", pmod(col("fp"), lit(100L)))
      .withColumn("split",
        expr("CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END"))
      .select("doc_id", "fp", "bucket", "split")

  val splitAssignSql: String =
    s"""SELECT doc_id, fp, bucket,
       |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id, fp, fp % 100 AS bucket
       |      FROM (SELECT doc_id, ${charPolyHashDuck("text")} AS fp FROM ($docsSql)))""".stripMargin

  // ------------------------------------------------------------------
  // Deterministic EPOCH SHUFFLE — the training-data global shuffle
  // expressed scale-first. A trainer wants every epoch to visit the
  // corpus in a different pseudorandom order, reproducibly, without a
  // corpus-wide sort: position = affine hash of (doc_id, epoch) mod a
  // prime (for doc_id < P, C1 coprime to P ⇒ a bijection of doc_id per
  // epoch — no position collisions, so pos alone is a total order; a
  // corpus with doc_id ≥ P = 2^31−1 wraps mod P and two docs CAN share
  // a pos, where determinism — though not collision-freedom — survives
  // via the (pos, doc_id) tiebreak in seq; a 100 TB deployment wanting
  // the collision-free guarantee swaps P for a 63-bit prime, same
  // algebra), shard = pos mod
  // ShuffleShards (the file/bucket a 100 TB writer sends the row to),
  // seq = rank WITHIN (epoch, shard). The only exchange is the hash
  // partition by (epoch, shard); each sort is shard-local (the window
  // partitions by the shuffle key — Spark plans exactly one Exchange +
  // per-partition sort, no global range sort, no driver ordering).
  // Epochs differ by the C2 offset: same corpus, provably different
  // permutation, zero stored state. 100 TB form: write bucketed by
  // shard with sortWithinPartitions(pos) — this query IS that plan's
  // logical content, gated.
  // ------------------------------------------------------------------
  val ShuffleEpochs = 2
  val ShuffleShards = 8L
  val ShuffleC1 = 48271L   // MINSTD multiplier, coprime to P
  val ShuffleC2 = 69621L
  val ShuffleC3 = 12345L

  def epochShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = graft.functions.Parity.P
    Tables.documents(spark, sfDir).select(col("doc_id"))
      .withColumn("epoch", explode(expr(s"sequence(0L, ${ShuffleEpochs - 1}L)")))
      .withColumn("pos",
        pmod(pmod(col("doc_id"), lit(P)) * lit(ShuffleC1) +
          col("epoch") * lit(ShuffleC2) + lit(ShuffleC3), lit(P)))
      .withColumn("shard", pmod(col("pos"), lit(ShuffleShards)))
      .withColumn("seq", row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("pos", "doc_id"))
        .cast("long"))
      .select("doc_id", "epoch", "pos", "shard", "seq")
  }

  val epochShuffleSql: String =
    s"""SELECT doc_id, epoch, pos, shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, shard
       |    ORDER BY pos, doc_id) AS BIGINT) AS seq
       |FROM (
       |  SELECT doc_id, epoch,
       |    ((doc_id % ${graft.functions.Parity.P}) * $ShuffleC1
       |      + epoch * $ShuffleC2 + $ShuffleC3) % ${graft.functions.Parity.P} AS pos,
       |    (((doc_id % ${graft.functions.Parity.P}) * $ShuffleC1
       |      + epoch * $ShuffleC2 + $ShuffleC3) % ${graft.functions.Parity.P})
       |      % $ShuffleShards AS shard
       |  FROM ($docsSql)
       |  CROSS JOIN (SELECT unnest(range(0, $ShuffleEpochs)) AS epoch))""".stripMargin

  // ------------------------------------------------------------------
  // Cross-split NEAR-dup leakage — the failure mode the fingerprint
  // split CAN'T prevent: [[splitAssign]] routes exact duplicates to one
  // split by construction (same text ⇒ same fp ⇒ same bucket), but a
  // near-duplicate pair can straddle train/test and leak evaluation
  // signal. Composes the gated split assignment with the gated near-dup
  // cluster labels: a val/test doc is LEAKED iff its cluster contains
  // any train doc. Shapes: two doc_id-keyed joins + one broadcast-sized
  // distinct cluster set (paired docs are a tiny fraction of the
  // corpus); output is 2 rows. At 100 TB both inputs are stored
  // relations (the split column and the label table the incremental
  // path maintains) — this query is then two key joins and a rollup,
  // no re-clustering.
  // ------------------------------------------------------------------
  def splitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val splits = splitAssign(spark, sfDir).select("doc_id", "split")
    val j = Dedup.dedupClusters(spark, sfDir).join(splits, "doc_id")
    val trainClusters = j.where(col("split") === "train")
      .select("canonical_id").distinct().withColumn("leak", lit(1L))
    j.where(col("split") =!= "train")
      .join(broadcast(trainClusters), Seq("canonical_id"), "left")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("leak"), lit(0L))).as("n_leaked"))
  }

  val splitLeakageSql: String =
    s"""WITH clusters AS (${Dedup.dedupClustersSql}),
       |splits AS ($splitAssignSql),
       |j AS (
       |  SELECT c.doc_id, c.canonical_id, s.split
       |  FROM clusters c JOIN splits s ON c.doc_id = s.doc_id),
       |tc AS (SELECT DISTINCT canonical_id FROM j WHERE split = 'train')
       |SELECT split, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN t.canonical_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_leaked
       |FROM j LEFT JOIN tc t ON j.canonical_id = t.canonical_id
       |WHERE j.split <> 'train'
       |GROUP BY split""".stripMargin

  // ------------------------------------------------------------------
  // Right-to-be-forgotten audit — the deletion-propagation check a
  // training corpus needs before it can claim a purge is complete:
  // deleting the REQUESTED rows (here the deterministic doc_id % 17 == 3
  // set stands in for the request list) leaves every EXACT COPY and
  // every CHUNK-level copy of that content in place unless the purge
  // expands through the fingerprint relations. The audit reports the
  // residue instead of pretending: how many surviving docs carry a
  // forgotten doc's 62-bit fingerprint (whole-document copies), and how
  // many surviving docs share a chunk fingerprint with forgotten
  // content (boilerplate/partial copies — over [[chunkDocs]]' registry-
  // persisted fp relation). Shapes: the forget side is request-sized →
  // broadcast; every join is an 8-byte fp equi-join; output is 1 row.
  // At 100 TB this is the query a compliance pass runs after each
  // deletion batch, at the cost of one corpus fp scan + one chunk-fp
  // probe.
  // ------------------------------------------------------------------
  val ForgetMod = 17L
  val ForgetRem = 3L

  /** Registry-persisted narrow chunk-fingerprint relation — shared by the
    * forget audit, the incremental chunk dedup, AND the chunk dedup
    * stats (which projects its (source, chunk_fp) slice from this same
    * cached relation): the chunk explode + slice + hash runs once per
    * session, every consumer probes 8-byte keys plus a source tag.
    */
  private def chunkFpRel(spark: SparkSession, sfDir: String): DataFrame =
    CacheRegistry.cached(spark, s"curation.chunkFpDocs:$sfDir") {
      // Rightsized on the consumers' key (Par.rightsize): the widened
      // chunk explode would otherwise persist 32 near-empty partitions
      // at fixture scale and every consumer pays the task launches.
      graft.Par.rightsize(
        chunkDocs(spark, sfDir).select("doc_id", "chunk_id", "source", "chunk_fp"),
        col("chunk_fp"))
    }

  def forgetAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextHashOps.polyHash(col("text")).as("fp"))
    val isForget = col("doc_id") % ForgetMod === ForgetRem
    val forgetFps = fps.where(isForget).select("fp").distinct()
    val docCounts = fps.agg(
      sum(isForget.cast("long")).as("n_forget"),
      sum((!isForget).cast("long")).as("n_keep"))
    val residualDocs = fps.where(!isForget)
      .join(broadcast(forgetFps), "fp")
      .agg(count(lit(1)).as("residual_fp_docs"))
    val chunks = chunkFpRel(spark, sfDir)
    val forgetChunks = chunks.where(col("doc_id") % ForgetMod === ForgetRem)
      .select("chunk_fp").distinct()
    val residualChunks = chunks.where(col("doc_id") % ForgetMod =!= ForgetRem)
      .join(broadcast(forgetChunks), "chunk_fp")
      .agg(countDistinct("doc_id").as("residual_chunk_docs"))
    docCounts.crossJoin(residualDocs).crossJoin(residualChunks)
  }

  // lazy: textually precedes chunkDocsSql in this object (init order).
  lazy val forgetAuditSql: String =
    s"""WITH fps AS (
       |  SELECT doc_id, ${charPolyHashDuck("text")} AS fp FROM ($docsSql)),
       |chunks AS (
       |  SELECT doc_id, chunk_fp FROM ($chunkDocsSql)),
       |ffp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % $ForgetMod = $ForgetRem),
       |fch AS (SELECT DISTINCT chunk_fp FROM chunks
       |        WHERE doc_id % $ForgetMod = $ForgetRem)
       |SELECT
       |  (SELECT count(*) FROM fps WHERE doc_id % $ForgetMod = $ForgetRem)
       |    AS n_forget,
       |  (SELECT count(*) FROM fps WHERE doc_id % $ForgetMod <> $ForgetRem)
       |    AS n_keep,
       |  (SELECT count(*) FROM fps JOIN ffp USING (fp)
       |   WHERE doc_id % $ForgetMod <> $ForgetRem) AS residual_fp_docs,
       |  (SELECT count(DISTINCT doc_id) FROM chunks JOIN fch USING (chunk_fp)
       |   WHERE doc_id % $ForgetMod <> $ForgetRem) AS residual_chunk_docs""".stripMargin

  // ------------------------------------------------------------------
  // Incremental CHUNK-level dedup — the day-2 ingest path at
  // sub-document granularity: a new batch (odd doc_ids, the
  // incrementalDedup convention) keeps only chunks whose fingerprint is
  // novel against the corpus (even ids) AND claims each intra-batch
  // duplicate set for its lowest (doc_id, chunk_id). This is what
  // document-level day-2 dedup misses: a new doc that is 80% recycled
  // boilerplate sails through doc-fp dedup but sheds its recycled
  // chunks here. Shape: LEFT ANTI on the 8-byte chunk fp (corpus side
  // is the persisted distinct-fp relation — at 100 TB a bloom/bucketed
  // index, the Bucketing day-2 layout) + one fp-keyed min-struct
  // aggregate; chunk text never shuffles.
  // ------------------------------------------------------------------
  def incrementalChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = chunkFpRel(spark, sfDir)
    val corpus = chunks.where(col("doc_id") % 2 === 0)
    val batch = chunks.where(col("doc_id") % 2 === 1)
    batch
      .join(corpus.select("chunk_fp").distinct(), Seq("chunk_fp"), "left_anti")
      .groupBy("chunk_fp")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("w"),
        count(lit(1)).as("batch_dups"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_id").as("chunk_id"),
        col("chunk_fp"), col("batch_dups"))
  }

  // lazy: textually precedes chunkDocsSql in this object (init order).
  lazy val incrementalChunkDedupSql: String =
    s"""WITH chunks AS (
       |  SELECT doc_id, chunk_id, chunk_fp FROM ($chunkDocsSql)),
       |novel AS (
       |  SELECT b.doc_id, b.chunk_id, b.chunk_fp
       |  FROM (SELECT * FROM chunks WHERE doc_id % 2 = 1) b
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM chunks c
       |    WHERE c.doc_id % 2 = 0 AND c.chunk_fp = b.chunk_fp)),
       |cnt AS (SELECT chunk_fp, count(*) AS batch_dups FROM novel GROUP BY 1)
       |SELECT n.doc_id, n.chunk_id, n.chunk_fp, cnt.batch_dups FROM (
       |  SELECT doc_id, chunk_id, chunk_fp,
       |    row_number() OVER (PARTITION BY chunk_fp
       |      ORDER BY doc_id, chunk_id) AS rn
       |  FROM novel) n
       |JOIN cnt ON n.chunk_fp = cnt.chunk_fp
       |WHERE n.rn = 1""".stripMargin

  // ------------------------------------------------------------------
  // Benchmark-contamination detection: training docs sharing any word-
  // 3-gram shingle with the held-out set (here: doc_id < 10 stands in for
  // the benchmark). The eval shingle set is tiny → broadcast; the corpus
  // scan is one pass, no corpus self-join.
  // ------------------------------------------------------------------
  val EvalSetMax = 10L

  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    // Dedup's persisted shingle relation — identical plan, shared cache
    // entry across the whole Jaccard/minhash/contamination family.
    val sh = Dedup.shingleRel(spark, sfDir)
    val evalSh = sh.where(col("doc_id") < EvalSetMax)
      .select(col("sh").as("eval_sh")).distinct()
    sh.where(col("doc_id") >= EvalSetMax)
      .join(broadcast(evalSh), col("sh") === col("eval_sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("shared_shingles"))
  }

  val contaminationSql: String = {
    val shSql =
      s"""SELECT doc_id, unnest(${graft.functions.Parity.hashedArrayDuck(
        graft.functions.Parity.shinglesDuck(graft.functions.Parity.tokensDuck("text"), Dedup.ShingleW))}) AS sh
         |FROM ($docsSql)""".stripMargin
    s"""WITH sh AS ($shSql),
       |ev AS (SELECT DISTINCT sh AS eval_sh FROM sh WHERE doc_id < $EvalSetMax)
       |SELECT s.doc_id, count(*) AS shared_shingles
       |FROM sh s JOIN ev ON s.sh = ev.eval_sh
       |WHERE s.doc_id >= $EvalSetMax
       |GROUP BY s.doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Context-window sequence packing: lay each shard's documents head to
  // tail and chop the concatenation into fixed CtxLen-token training
  // sequences (the GPT-style "concat and chop" packer). Each doc gets
  // the sequence id and offset where its first token lands; consumers
  // slice text by (seq_id, seq_off). Packing is SHARD-LOCAL by design:
  // the running token sum sorts only within (source, doc_id div
  // ShardSize) — bounded windows that distribute freely — never a
  // corpus-wide ordering (a global cumsum would serialize 100 TB through
  // one sort; per-shard boundary waste is at most CtxLen-1 tokens per
  // shard, negligible at any scale). All outputs are exact integers.
  // ------------------------------------------------------------------
  val CtxLen = 2048L
  val ShardSize = 1000L

  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        (col("doc_id") / lit(ShardSize)).cast("long").as("shard"),
        expr(s"size(${graft.functions.Parity.tokensSpark("text")})").cast("long")
          .as("n_tokens"))
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
        col("tok_start"),
        (col("tok_start") / lit(CtxLen)).cast("long").as("seq_id"),
        pmod(col("tok_start"), lit(CtxLen)).as("seq_off"))
  }

  val packSequencesSql: String =
    s"""SELECT doc_id, source, shard, n_tokens, tok_start,
       |  tok_start // $CtxLen AS seq_id, tok_start % $CtxLen AS seq_off
       |FROM (
       |  SELECT doc_id, source, shard, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source, shard
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS tok_start
       |  FROM (
       |    SELECT doc_id, source, doc_id // $ShardSize AS shard,
       |      len(${graft.functions.Parity.tokensDuck("text")}) AS n_tokens
       |    FROM (SELECT doc_id, source, text FROM documents)))""".stripMargin

  // ------------------------------------------------------------------
  // Fixed-size overlapping chunking: slice each document's token stream
  // into ChunkSize-token windows advancing by ChunkStride tokens (the
  // RAG / long-context preprocessing chunker; overlap = ChunkSize −
  // ChunkStride tokens keeps boundary context in two chunks). Chunk c
  // of a doc covers token positions [c·stride, c·stride + size); a doc
  // of n tokens yields 1 chunk when n ≤ size, else
  // ceil((n − size)/stride) + 1 — the last chunk is the first whose
  // window reaches token n−1 and may run short. Each chunk carries its
  // re-assembled text and the 62-bit content fingerprint, so chunks
  // feed straight into the exact-dedup / split-assignment operators.
  //
  // Plan shape (the 100 TB story): tokens never explode — the chunk-id
  // `sequence` explodes one row per CHUNK (amplification ≈ 1/stride of
  // a per-token explode), with slice + concat_ws + the fingerprint all
  // fused into the same codegen stage. Zero shuffles: chunking is a
  // scan-bound projection at any corpus size.
  // ------------------------------------------------------------------
  val ChunkSize = 64L
  val ChunkStride = 48L

  def chunkDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsWide(spark, sfDir)
      .select(col("doc_id"), col("source"),
        expr(graft.functions.Parity.tokensSpark("text")).as("toks"))
      .withColumn("n_tokens", expr("size(toks)").cast("long"))
      .select(col("doc_id"), col("source"), col("toks"), col("n_tokens"),
        explode(expr(
          s"sequence(0L, CASE WHEN n_tokens <= $ChunkSize THEN 0L " +
            s"ELSE (n_tokens - $ChunkSize + $ChunkStride - 1) div $ChunkStride END)"))
          .as("chunk_id"))
      .withColumn("chunk_start", col("chunk_id") * lit(ChunkStride))
      .withColumn("chunk_text",
        expr(s"concat_ws(' ', slice(toks, CAST(chunk_start + 1 AS INT), $ChunkSize))"))
      .select(col("doc_id"), col("source"), col("chunk_id"), col("chunk_start"),
        least(lit(ChunkSize), col("n_tokens") - col("chunk_start")).as("chunk_tokens"),
        col("chunk_text"),
        expr(graft.functions.Parity.charPolyHashSpark("chunk_text")).as("chunk_fp"))

  val chunkDocsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, source, ${graft.functions.Parity.tokensDuck("text")} AS toks,
       |    CAST(len(${graft.functions.Parity.tokensDuck("text")}) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, source, text FROM documents)),
       |chunks AS (
       |  SELECT doc_id, source, toks, n_tokens,
       |    unnest(range(0, CASE WHEN n_tokens <= $ChunkSize THEN 1
       |      ELSE (n_tokens - $ChunkSize + $ChunkStride - 1) // $ChunkStride + 1 END))
       |      AS chunk_id
       |  FROM base),
       |sliced AS (
       |  SELECT doc_id, source, chunk_id, chunk_id * $ChunkStride AS chunk_start,
       |    least($ChunkSize, n_tokens - chunk_id * $ChunkStride) AS chunk_tokens,
       |    array_to_string(toks[chunk_id * $ChunkStride + 1:
       |      chunk_id * $ChunkStride + $ChunkSize], ' ') AS chunk_text
       |  FROM chunks)
       |SELECT doc_id, source, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_start AS BIGINT) AS chunk_start,
       |  CAST(chunk_tokens AS BIGINT) AS chunk_tokens, chunk_text,
       |  ${graft.functions.Parity.charPolyHashDuck("chunk_text")} AS chunk_fp
       |FROM sliced""".stripMargin

  // ------------------------------------------------------------------
  // Chunk-level duplication accounting: per source, how many of its
  // chunks repeat ANYWHERE in the corpus (boilerplate headers, license
  // blocks, templated passages — the within/cross-document duplication
  // that document-level dedup can't see). Composition of [[chunkDocs]]
  // with the exact-dedup shape: chunk texts reduce to their 8-byte
  // fingerprints BEFORE any shuffle, corpus-wide fp occurrence counts
  // are one two-phase aggregate, and the join back to per-chunk rows is
  // on the fingerprint — at 100 TB this shuffles 8 bytes per chunk,
  // never chunk text, the same property that makes document dedup
  // feasible (SURVEY §9).
  // ------------------------------------------------------------------
  def chunkDedupStats(spark: SparkSession, sfDir: String): DataFrame = {
    // The narrow (source, chunk_fp) projection feeds BOTH sides of the
    // fp join (occurrence counts + per-chunk rows). It slices the SAME
    // registry-persisted relation the forget audit and incremental chunk
    // dedup read, so the chunk explode + slice + hash runs once per
    // session across all three consumers (r12 advice: a second cache key
    // here materialized the explode twice).
    val chunks = chunkFpRel(spark, sfDir).select("source", "chunk_fp")
    val dfreq = chunks.groupBy("chunk_fp").agg(count(lit(1)).as("occ"))
    chunks.join(dfreq, "chunk_fp")
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct("chunk_fp").as("n_distinct_fps"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ppm", expr("n_dup_chunks * 1000000L div n_chunks"))
  }

  val chunkDedupStatsSql: String =
    s"""WITH chunks AS (SELECT source, chunk_fp FROM ($chunkDocsSql)),
       |dfreq AS (SELECT chunk_fp, count(*) AS occ FROM chunks GROUP BY chunk_fp)
       |SELECT source, n_chunks, n_distinct_fps, n_dup_chunks,
       |  n_dup_chunks * 1000000 // n_chunks AS dup_ppm
       |FROM (
       |  SELECT c.source, count(*) AS n_chunks,
       |    count(DISTINCT c.chunk_fp) AS n_distinct_fps,
       |    CAST(sum(CASE WHEN d.occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
       |  FROM chunks c JOIN dfreq d ON c.chunk_fp = d.chunk_fp
       |  GROUP BY c.source)""".stripMargin

  // ------------------------------------------------------------------
  // Training-mix accounting: per-source token totals and the sampling
  // ratio that caps every source at an equal share of the token budget
  // (sources under their share keep everything, over-represented ones
  // down-sample) — the sizing step run before materializing a mix.
  // Shape: two-phase agg collapses the corpus to |sources| rows; corpus
  // totals are a broadcast 1-row cross join against that tiny grouped
  // relation, so the global "sort everything" trap never appears.
  // Doubles are single divisions
  // of exact BIGINTs (IEEE correctly-rounded, bit-equal across engines);
  // the budget itself stays in integer division.
  // ------------------------------------------------------------------
  /** Per-source (n_docs, n_tokens) — the one corpus pass behind both mix
    * queries; registry-persisted because each consumer references it
    * twice (group side + totals side of the cross join) and a re-derived
    * plan would scan the corpus once per reference.
    */
  private def mixPerSource(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheRegistry.cached(spark, s"curation.mixPerSource:$sfDir") {
      Tables.documentsWide(spark, sfDir)
        .select(col("source"),
          expr(s"size(${graft.functions.Parity.tokensSpark("text")})").cast("long")
            .as("n_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    }

  def mixWeights(spark: SparkSession, sfDir: String): DataFrame = {
    // Corpus totals as a broadcast 1-row cross join rather than a
    // window-over-() (which funnels the grouped relation through a
    // single partition and logs the WindowExec warning).
    val perSource = mixPerSource(spark, sfDir)
    val totals = perSource.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("total_tokens"),
        expr("CAST(n_tokens AS DOUBLE) / total_tokens").as("token_share"),
        expr("least(CAST(1.0 AS DOUBLE)," +
          " CAST(total_tokens div n_sources AS DOUBLE) / n_tokens)")
          .as("sample_ratio"))
  }

  val mixWeightsSql: String =
    s"""SELECT source, n_docs, n_tokens, total_tokens,
       |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
       |  least(CAST(1.0 AS DOUBLE),
       |    CAST(total_tokens // n_sources AS DOUBLE) / n_tokens) AS sample_ratio
       |FROM (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens,
       |    count(*) OVER () AS n_sources
       |  FROM (
       |    SELECT source, count(*) AS n_docs,
       |      CAST(sum(len(${graft.functions.Parity.tokensDuck("text")})) AS BIGINT)
       |        AS n_tokens
       |    FROM (SELECT source, text FROM documents)
       |    GROUP BY source))""".stripMargin

  // ------------------------------------------------------------------
  // Mix materialization: apply [[mixWeights]]' sampling caps with the
  // content-fingerprint hash (same dup-stability argument as
  // [[splitAssign]]: exact duplicates sample identically, re-ingestion
  // is stable). The per-source threshold stays in INTEGER arithmetic —
  // thresh = (budget · 10⁶) div source_tokens, keep iff fp mod 10⁶ <
  // thresh — so both engines make bit-identical keep decisions; a
  // double ratio would round differently at the boundary. The
  // |sources|-row threshold relation broadcasts into the corpus scan:
  // one pass, no corpus shuffle. (Dividing by n_sources BEFORE the
  // ·10⁶ keeps the intermediate under Long overflow up to ~9×10¹²
  // budget tokens per source — beyond any practical mix.)
  // ------------------------------------------------------------------
  val MixHashMod = 1000000L

  def mixSample(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = mixPerSource(spark, sfDir)
      .select(col("source"), col("n_tokens").as("src_tokens"))
    val totals = perSource.agg(sum(col("src_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    val thresholds = perSource.crossJoin(broadcast(totals))
      .select(col("source").as("t_source"),
        least(lit(MixHashMod),
          expr(s"(total_tokens div n_sources) * $MixHashMod div src_tokens"))
          .as("keep_thresh"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        TextHashOps.polyHash(col("text")).as("fp"))
      .join(broadcast(thresholds), col("source") === col("t_source"))
      .where(pmod(col("fp"), lit(MixHashMod)) < col("keep_thresh"))
      .select(col("doc_id"), col("source"), col("keep_thresh"))
  }

  val mixSampleSql: String =
    s"""WITH t AS (
       |  SELECT source,
       |    least($MixHashMod,
       |      (total_tokens // n_sources) * $MixHashMod // src_tokens)
       |      AS keep_thresh
       |  FROM (
       |    SELECT source, src_tokens,
       |      CAST(sum(src_tokens) OVER () AS BIGINT) AS total_tokens,
       |      count(*) OVER () AS n_sources
       |    FROM (
       |      SELECT source,
       |        CAST(sum(len(${graft.functions.Parity.tokensDuck("text")})) AS BIGINT)
       |          AS src_tokens
       |      FROM (SELECT source, text FROM documents)
       |      GROUP BY source)))
       |SELECT doc_id, d.source, keep_thresh
       |FROM (SELECT doc_id, source, ${charPolyHashDuck("text")} AS fp
       |      FROM (SELECT doc_id, source, text FROM documents)) d
       |JOIN t ON d.source = t.source
       |WHERE fp % $MixHashMod < keep_thresh""".stripMargin

  // ------------------------------------------------------------------
  // Temperature-smoothed mix: the multilingual-sampling weights of the
  // large-model data recipes (upsample low-resource sources with
  // p_i ∝ n_i^α, α = 1/2 here — "temperature 2" in the mT5/XLM-R
  // convention) next to [[mixWeights]]' natural and equal-share
  // policies. w_i = ⌊√(n_i·10⁶)⌋ keeps the whole computation inside
  // the parity rules: BIGINT→DOUBLE is exact below 2^53, sqrt is
  // IEEE-correctly-rounded in both engines, floor pins the one double
  // back to an integer — after that every share and boost is integer
  // cross-multiplied (boost_pm = (w·T·1000) div (W·n): the temperature
  // share over the natural share in per-mille, computed WITHOUT the
  // intermediate ppm rounding so no division-by-zero path exists for a
  // tiny source). Scale shape: identical to mixWeights — one corpus
  // aggregate to |sources| rows, a broadcast 1-row totals join;
  // w·T·1000 stays under 2^63 to ~10¹⁴ corpus tokens, past that the
  // DECIMAL(38,0) hop.
  // ------------------------------------------------------------------
  val TempScale = 1000000L

  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val perSource = mixPerSource(spark, sfDir)
      .select(col("source"), col("n_tokens"),
        expr(s"CAST(floor(sqrt(CAST(n_tokens * $TempScale AS DOUBLE))) AS BIGINT)")
          .as("w"))
    val totals = perSource.agg(sum("n_tokens").as("total_tokens"),
      sum("w").as("total_w"))
    perSource.crossJoin(broadcast(totals)).select(
      col("source"), col("n_tokens"), col("w"),
      expr("n_tokens * 1000000L div total_tokens").as("nat_ppm"),
      expr("w * 1000000L div total_w").as("temp_ppm"),
      expr("(w * total_tokens * 1000L) div (total_w * n_tokens)").as("boost_pm"))
  }

  val temperatureMixSql: String =
    s"""WITH per_source AS (
       |  SELECT source,
       |    CAST(sum(len(${graft.functions.Parity.tokensDuck("text")})) AS BIGINT)
       |      AS n_tokens
       |  FROM (SELECT source, text FROM documents)
       |  GROUP BY source),
       |w AS (
       |  SELECT source, n_tokens,
       |    CAST(floor(sqrt(CAST(n_tokens * $TempScale AS DOUBLE))) AS BIGINT) AS w
       |  FROM per_source),
       |tot AS (
       |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    CAST(sum(w) AS BIGINT) AS total_w
       |  FROM w)
       |SELECT source, n_tokens, w,
       |  n_tokens * 1000000 // total_tokens AS nat_ppm,
       |  w * 1000000 // total_w AS temp_ppm,
       |  (w * total_tokens * 1000) // (total_w * n_tokens) AS boost_pm
       |FROM w, tot""".stripMargin

  // ------------------------------------------------------------------
  // Per-source quality top-k: keep the QualityTopK best-scoring docs in
  // each source ("best N per domain" curation). Rank runs INSIDE each
  // source partition — a bounded window, the same
  // distribute-by-partition-key shape as packSequences — with doc_id as
  // the deterministic tiebreak (the score is a deterministic rational,
  // so ties are real and must order identically in both engines).
  // Catalyst pushes the rank filter down as WindowGroupLimit: each
  // partition retains a k-row heap instead of fully sorting.
  // ------------------------------------------------------------------
  val QualityTopK = 5

  def topQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    TextAnalysis.qualityScore(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= QualityTopK)
      .select(col("source"), col("rk"), col("doc_id"), col("quality_score"))
  }

  val topQualitySql: String =
    s"""SELECT source, rk, doc_id, quality_score
       |FROM (
       |  SELECT d.source, q.doc_id, q.quality_score,
       |    row_number() OVER (PARTITION BY d.source
       |      ORDER BY q.quality_score DESC, q.doc_id) AS rk
       |  FROM (${TextAnalysis.qualityScoreSql}) q
       |  JOIN (SELECT doc_id, source FROM documents) d ON q.doc_id = d.doc_id)
       |WHERE rk <= $QualityTopK""".stripMargin

  // ------------------------------------------------------------------
  // Cross-source overlap matrix: for every pair of sources, how many
  // DISTINCT texts (by 62-bit fingerprint) appear in both — the
  // provenance diagnostic behind dedup policy ("is crawl-B a re-crawl of
  // crawl-A?") and mix design (double-counted content skews sampling
  // weights). Shape: one distinct-shuffle on the 8-byte (source, fp)
  // pair, then a fp-key self-join whose per-key fan-out is bounded by the
  // NUMBER OF SOURCES (each source contributes a fp at most once after
  // the distinct) — at 100 TB the join is linear in corpus size with a
  // ≤ |sources|² row multiplier, never df². Text never shuffles.
  // ------------------------------------------------------------------
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sf = Tables.documents(spark, sfDir)
      .select(col("source"), TextHashOps.polyHash(col("text")).as("fp"))
      .distinct()
    sf.as("a").join(sf.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_fps"))
  }

  val sourceOverlapSql: String =
    s"""WITH sf AS (
       |  SELECT DISTINCT source, ${charPolyHashDuck("text")} AS fp
       |  FROM (SELECT source, text FROM documents))
       |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_fps
       |FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // MinHash SOURCE signatures: [[sourceOverlap]]'s statistic as a
  // mergeable summary — one 32-long signature per source over its
  // distinct doc-fingerprint set, pairwise compared for an estimated
  // fingerprint-Jaccard NEXT TO the exact inter/union (the
  // estimate-beside-truth accounting of d_minhash_jaccard_eval and
  // t_cms_token_freq, at source granularity). The curation use: source
  // acquisition planning reads cross-source duplication BEFORE paying
  // the fp equi-join — and because min is associative, per-source
  // signatures maintain incrementally (day-2 batch: 32 mins folded
  // into the stored 32, the vocabStream/incrementalVocab discipline).
  //
  // 100 TB shape: the signature aggregate is one two-phase pass over
  // (source, fp31) — 32 codegen'd mins absorbed map-side; the pair
  // comparison runs on |sources| rows of 32 longs (driver-scale at any
  // corpus size). The exact inter/union columns are the
  // fixture-affordable audit the estimate is gated against — at
  // production scale the signature columns alone are the product, the
  // same split as t_cms_join_size's est-vs-truth.
  //
  // Domain: the 31-bit polyhash component (fp div Pack — exact: fp =
  // a·Pack + b with b < P2 < Pack), because the minhash permutations
  // ((a_i·h + b_i) mod P) require h < P to stay inside 2^62.
  // ------------------------------------------------------------------
  def sourceOverlapMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Parity._
    // r19: widen re-measured post-codegen-cache-fix and still DECLINED
    // (isolated bench A/B 1.00 s widened vs 0.59 narrow — the base
    // relation embeds twice in the x⋈y self-join, so the widen exchange
    // is paid per embedding); the r18 revert holds.
    val base = Tables.documents(spark, sfDir)
      .select(col("source"), TextHashOps.polyHash(col("text")).as("fp"))
      .select(col("source"), expr(s"fp div $Pack").as("h"))
      .distinct()
    val sigs = base.groupBy("source")
      .agg(count(lit(1)).as("n_fps"),
        minhashAggSpark("h").map(expr): _*)
    val matchSum = (0 until NumHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1L ELSE 0L END")
      .mkString(" + ")
    val inter = base.as("x").join(base.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        expr(s"$matchSum").as("sig_matches"),
        col("a.n_fps").as("n_a"), col("b.n_fps").as("n_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("sig_matches"),
        expr(s"sig_matches * 1000000L div $NumHashes").as("est_jaccard_ppm"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L))).as("uni"),
        expr(s"coalesce(inter, 0L) * 1000000L div (n_a + n_b - coalesce(inter, 0L))")
          .as("true_jaccard_ppm"))
  }

  lazy val sourceOverlapMinhashSql: String = {
    import graft.functions.Parity._
    val aggs = minhashAggDuck("h").mkString(",\n    ")
    val matchSum = (0 until NumHashes)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH base AS (
       |  SELECT DISTINCT source, ${charPolyHashDuck("text")} // $Pack AS h
       |  FROM (SELECT source, text FROM documents)),
       |sigs AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_fps,
       |    $aggs
       |  FROM base GROUP BY source),
       |pm AS (
       |  SELECT a.source AS src_a, b.source AS src_b,
       |    CAST($matchSum AS BIGINT) AS sig_matches,
       |    a.n_fps AS n_a, b.n_fps AS n_b
       |  FROM sigs a JOIN sigs b ON a.source < b.source),
       |iv AS (
       |  SELECT x.source AS src_a, y.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM base x JOIN base y ON x.h = y.h AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT pm.src_a, pm.src_b, pm.sig_matches,
       |  pm.sig_matches * 1000000 // ${NumHashes} AS est_jaccard_ppm,
       |  COALESCE(iv.inter, 0) AS inter,
       |  pm.n_a + pm.n_b - COALESCE(iv.inter, 0) AS uni,
       |  COALESCE(iv.inter, 0) * 1000000
       |    // (pm.n_a + pm.n_b - COALESCE(iv.inter, 0)) AS true_jaccard_ppm
       |FROM pm LEFT JOIN iv ON pm.src_a = iv.src_a AND pm.src_b = iv.src_b""".stripMargin
  }

  // ------------------------------------------------------------------
  // Incremental source-signature maintenance — the "min is associative"
  // claim of [[sourceOverlapMinhash]] EXECUTED as a gate: day-1
  // signatures (even doc_ids, the stored relation) merge a day-2 batch
  // (odd ids, aggregated alone) via one |sources|-row full-outer
  // element-wise min, and the oracle recomputes the signatures from the
  // WHOLE corpus in one pass — stored ⊕ Δ ≡ recompute, slot for slot
  // (the p_incremental_vocab discipline applied to a sketch, not a
  // count). Day-2 cost is batch-proportional; the merge relation is
  // |sources| × 32 longs. n_fps is deliberately NOT maintained —
  // distinct counts don't merge from aggregates (the vocab df rule);
  // signatures DO, which is the point of keeping them.
  // ------------------------------------------------------------------
  private def sourceSigsOf(docs: DataFrame): DataFrame = {
    import graft.functions.Parity._
    docs.select(col("source"), TextHashOps.polyHash(col("text")).as("fp"))
      .select(col("source"), expr(s"fp div $Pack").as("h"))
      .distinct()
      .groupBy("source").agg(
        minhashAggSpark("h").map(expr).head,
        minhashAggSpark("h").map(expr).tail: _*)
  }

  def incrementalSourceSigs(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Parity._
    val stored = sourceSigsOf(
      Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 0))
    val batch = sourceSigsOf(
      Tables.documents(spark, sfDir).where(col("doc_id") % 2 === 1))
    val merged = (0 until NumHashes).map { i =>
      expr(s"""CASE WHEN a.m$i IS NULL THEN b.m$i
              |WHEN b.m$i IS NULL THEN a.m$i
              |WHEN a.m$i < b.m$i THEN a.m$i ELSE b.m$i END""".stripMargin)
        .as(s"m$i")
    }
    stored.as("a").join(batch.as("b"),
        col("a.source") === col("b.source"), "full_outer")
      .select(coalesce(col("a.source"), col("b.source")).as("source") +: merged: _*)
  }

  /** The recompute oracle — the gate's whole point is that the merged
    * output hashes equal to this.
    */
  lazy val incrementalSourceSigsSql: String = {
    import graft.functions.Parity._
    val aggs = minhashAggDuck("h").mkString(",\n    ")
    s"""WITH base AS (
       |  SELECT DISTINCT source, ${charPolyHashDuck("text")} // $Pack AS h
       |  FROM (SELECT source, text FROM documents))
       |SELECT source, $aggs
       |FROM base GROUP BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // Quality-vs-duplication calibration: bucket every doc by its quality
  // score (decile of the score VALUE — a pure projection, deliberately
  // not ntile(), whose global sort is the one thing this must not do at
  // 100 TB) and report how much of each bucket is exact-duplicated
  // content. The diagnostic behind "does the quality filter also remove
  // the duplicated mass?" when tuning curation thresholds. Exact-integer
  // counts; dup membership = LEFT SEMI against the >1-occurrence
  // fingerprints; dup_rate is one division.
  // ------------------------------------------------------------------
  def qualityDupCalibration(spark: SparkSession, sfDir: String): DataFrame = {
    val buckets = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"),
        expr("least(CAST(floor(quality_score * 10) AS BIGINT), 9)").as("bucket"))
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextHashOps.polyHash(col("text")).as("fp"))
    val dupFps = fps.groupBy("fp").agg(count(lit(1)).as("c"))
      .where(col("c") > 1).select("fp")
    val dupDocs = fps.join(dupFps, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("is_dup"))
    buckets.join(dupDocs, Seq("doc_id"), "left")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .select(col("bucket"), col("n_docs"), col("n_dup_docs"),
        expr("CAST(n_dup_docs AS DOUBLE) / n_docs").as("dup_rate"))
  }

  val qualityDupCalibrationSql: String =
    s"""WITH q AS (${TextAnalysis.qualityScoreSql}),
       |buckets AS (
       |  SELECT doc_id, least(CAST(floor(quality_score * 10) AS BIGINT), 9) AS bucket
       |  FROM q),
       |fps AS (
       |  SELECT doc_id, ${charPolyHashDuck("text")} AS fp
       |  FROM (SELECT doc_id, text FROM documents)),
       |dup_fps AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
       |dup_docs AS (
       |  SELECT doc_id FROM fps WHERE fp IN (SELECT fp FROM dup_fps))
       |SELECT b.bucket, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_docs,
       |  CAST(CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS DOUBLE) / count(*) AS dup_rate
       |FROM buckets b LEFT JOIN dup_docs d ON b.doc_id = d.doc_id
       |GROUP BY b.bucket""".stripMargin

  // ------------------------------------------------------------------
  // Curation cascade accounting: the survivor funnel a corpus report
  // leads with — per source, raw docs → exact-dedup survivors (global
  // keep-lowest-id) → near-dedup canonicals (simhash components, among
  // exact survivors) → quality-pass finals (corpusCuration's filter) —
  // each stage applied ON TOP of the previous, so the four columns are
  // monotonically non-increasing (spec-asserted). Composes three
  // already-gated relations; all flags are 0/1 integers summed exactly,
  // and the quality join is LEFT (a doc the scorer drops still counts
  // as raw, it just can't pass quality).
  // ------------------------------------------------------------------
  def curationCascade(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), TextHashOps.polyHash(col("text")).as("fp"))
    val keep = fps.groupBy("fp").agg(min("doc_id").as("keep_id"))
    val flagged = fps.join(keep, "fp")
      .withColumn("is_exact", (col("doc_id") === col("keep_id")).cast("long"))
      .select("doc_id", "source", "is_exact")
    val canon = Dedup.dedupClusters(spark, sfDir)
    val qual = TextAnalysis.qualityScore(spark, sfDir)
      .select(col("doc_id"),
        (col("quality_score") > 0.5 && col("n_tokens") >= 10).cast("long")
          .as("is_quality"))
    flagged
      .join(canon, "doc_id")
      .join(qual, Seq("doc_id"), "left")
      .withColumn("is_canon",
        col("is_exact") * (col("doc_id") === col("canonical_id")).cast("long"))
      .withColumn("is_final", col("is_canon") * coalesce(col("is_quality"), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
        sum("is_exact").as("n_exact"),
        sum("is_canon").as("n_canonical"),
        sum("is_final").as("n_final"))
  }

  /** The cascade oracle with the CLUSTERS source as a parameter: the
    * gated form recomputes components via DuckDB's recursive CTE; the
    * sf1 scale oracle (graft.operators.ScaleOracles) substitutes the
    * independently-verified spark output of d_dedup_clusters, removing
    * the only scale-infeasible stage while keeping every other check
    * byte-identical.
    */
  def curationCascadeSqlWith(clustersSql: String): String =
    s"""WITH fps AS (
       |  SELECT doc_id, source, ${charPolyHashDuck("text")} AS fp
       |  FROM (SELECT doc_id, source, text FROM documents)),
       |keep AS (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY fp),
       |clusters AS ($clustersSql),
       |q AS (
       |  SELECT doc_id,
       |    CASE WHEN quality_score > 0.5 AND n_tokens >= 10 THEN 1 ELSE 0 END
       |      AS is_quality
       |  FROM (${TextAnalysis.qualityScoreSql}))
       |SELECT f.source, count(*) AS n_raw,
       |  CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_exact,
       |  CAST(sum(CASE WHEN f.doc_id = k.keep_id AND f.doc_id = c.canonical_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
       |  CAST(sum(CASE WHEN f.doc_id = k.keep_id AND f.doc_id = c.canonical_id
       |    AND coalesce(q.is_quality, 0) = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_final
       |FROM fps f
       |JOIN keep k USING (fp)
       |JOIN clusters c ON c.doc_id = f.doc_id
       |LEFT JOIN q ON q.doc_id = f.doc_id
       |GROUP BY f.source""".stripMargin

  val curationCascadeSql: String = curationCascadeSqlWith(Dedup.dedupClustersSql)

  // ------------------------------------------------------------------
  // Deterministic stratified downsampling — the rebalancing move every
  // mixture pipeline makes when one source dwarfs the rest. No RNG:
  // a doc's fate is `fp mod 10000 < bps(source)`, a pure function of
  // its CONTENT fingerprint (the same 62-bit poly hash the dedup stack
  // uses — non-negative, so Spark pmod ≡ DuckDB %), which makes the
  // sample reproducible across runs, engines, and re-partitionings,
  // and composable with dedup (a kept doc stays kept when unrelated
  // docs arrive). Per-source basis points come from a RATES relation —
  // derived here from the source name so the fixture needs no config
  // table; production swaps in a real one — broadcast into ONE corpus
  // scan: no shuffle of the text, no per-source pass. The gate hashes
  // the per-source accounting (total, bps, kept).
  // ------------------------------------------------------------------
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val fps = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), TextHashOps.polyHash(col("text")).as("fp"))
    val rates = fps.select("source").distinct()
      .withColumn("bps",
        (lit(2500L) + pmod(length(col("source")).cast("long") * 1777L, lit(7000L))))
    fps.join(broadcast(rates), "source")
      .groupBy("source", "bps")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pmod(col("fp"), lit(10000L)) < col("bps"), 1L).otherwise(0L))
          .as("n_kept"))
      .select("source", "bps", "n_docs", "n_kept")
  }

  val stratifiedSampleSql: String =
    s"""WITH fps AS (
       |  SELECT doc_id, source, ${charPolyHashDuck("text")} AS fp
       |  FROM (SELECT doc_id, source, text FROM documents)),
       |rates AS (
       |  SELECT source,
       |    CAST(2500 + (length(source) * 1777) % 7000 AS BIGINT) AS bps
       |  FROM (SELECT DISTINCT source FROM documents))
       |SELECT f.source, r.bps, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN f.fp % 10000 < r.bps THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept
       |FROM fps f JOIN rates r USING (source)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot upsert merge — the MERGE INTO / Delta-style "apply a change
  // batch to the corpus" step a continuously-refreshed training corpus
  // needs: day-2 re-crawls REVISE existing documents (same doc_id, new
  // text) and ADD new ones; the merged view is latest-version-wins.
  // The change batch is derived deterministically from the fixture (no
  // second table exists): docs with doc_id % 4 = 1 arrive revised
  // (text + ' rev2', version 2); docs with doc_id % 4 = 2 spawn a new
  // insert under doc_id + 10M ('new ' + text, version 1). Output is one
  // row per surviving key: its winning version, a change-status class,
  // and the 62-bit fingerprint of the winning text (the fingerprint —
  // not the text — is what a downstream incremental-dedup pass consumes,
  // see incrementalDedup).
  //
  // Winner selection is groupBy(key).max(version) joined back on
  // (key, version) — two hash exchanges on the 8-byte key, no window
  // sort. Scale shape: the change batch is ~25% here but tiny in
  // production — broadcast the batch keyset and the merge is map-side
  // except for the single key-partitioned union scan; this is
  // copy-on-write MERGE semantics (Delta/Iceberg), where the engine
  // cost is one co-partitioned anti-join + union per batch.
  // ------------------------------------------------------------------
  val UpsertIdOffset = 10000000L

  def upsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val base = docs.select(col("doc_id"), lit(1L).as("version"),
      TextHashOps.polyHash(col("text")).as("fp"))
    val revised = docs.where(col("doc_id") % 4 === 1)
      .select(col("doc_id"), lit(2L).as("version"),
        TextHashOps.polyHash(concat(col("text"), lit(" rev2"))).as("fp"))
    val inserted = docs.where(col("doc_id") % 4 === 2)
      .select((col("doc_id") + UpsertIdOffset).as("doc_id"), lit(1L).as("version"),
        TextHashOps.polyHash(concat(lit("new "), col("text"))).as("fp"))
    val merged = base.unionByName(revised).unionByName(inserted)
    val winner = merged.groupBy("doc_id").agg(max("version").as("version"))
    merged.join(winner, Seq("doc_id", "version"))
      .select(col("doc_id"), col("version"),
        when(col("version") === 2, "updated")
          .when(col("doc_id") >= UpsertIdOffset, "inserted")
          .otherwise("carried").as("status"),
        col("fp"))
  }

  val upsertMergeSql: String =
    s"""WITH merged AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS version,
       |    ${charPolyHashDuck("text")} AS fp
       |  FROM ($docsSql)
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS BIGINT) AS version,
       |    ${charPolyHashDuck("concat(text, ' rev2')")} AS fp
       |  FROM ($docsSql) WHERE doc_id % 4 = 1
       |  UNION ALL
       |  SELECT doc_id + $UpsertIdOffset AS doc_id, CAST(1 AS BIGINT) AS version,
       |    ${charPolyHashDuck("concat('new ', text)")} AS fp
       |  FROM ($docsSql) WHERE doc_id % 4 = 2),
       |winner AS (SELECT doc_id, max(version) AS version FROM merged GROUP BY doc_id)
       |SELECT m.doc_id, m.version,
       |  CASE WHEN m.version = 2 THEN 'updated'
       |       WHEN m.doc_id >= $UpsertIdOffset THEN 'inserted'
       |       ELSE 'carried' END AS status,
       |  m.fp
       |FROM merged m JOIN winner w
       |  ON m.doc_id = w.doc_id AND m.version = w.version""".stripMargin

  // ------------------------------------------------------------------
  // Snapshot diff — derive the CHANGE FEED between two corpus versions
  // (the CDC-derivation step of any snapshot-based ingestion: what a
  // Delta/Iceberg reader calls table_changes when the writer didn't
  // record them). Version A = the base corpus; version B composes two
  // gated conventions — the [[upsertMerge]] winners (revisions +
  // inserts) minus the [[forgetAudit]] deletion set (original
  // doc_id % 17 = 3) — so every change class is non-empty: 'added'
  // (B only), 'removed' (A only), 'changed' (both, fingerprint
  // differs), 'unchanged'. The comparison is FINGERPRINTS on a
  // co-partitioned full-outer join over the 8-byte key — text is never
  // compared or shuffled; missing-side fps report the 0 sentinel
  // (NULL-free output, the NullSemantics hash-gate discipline).
  //
  // Scale shape: one full-outer hash join on doc_id between two
  // corpus-sized fp relations — both sides live bucketed on the key in
  // production, making the diff shuffle-free (the Bucketing layout);
  // output is corpus-sized but 3 integers + a class tag per row.
  // ------------------------------------------------------------------
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextHashOps.polyHash(col("text")).as("fp_a"))
    val b = upsertMerge(spark, sfDir)
      .where(!(col("doc_id") % 17 === 3 && col("doc_id") < UpsertIdOffset))
      .select(col("doc_id"), col("fp").as("fp_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") =!= col("fp_b"), "changed")
          .otherwise("unchanged").as("change"),
        coalesce(col("fp_a"), lit(0L)).as("fp_old"),
        coalesce(col("fp_b"), lit(0L)).as("fp_new"))
  }

  val snapshotDiffSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, fp FROM ($upsertMergeSql)
       |  WHERE NOT (doc_id % 17 = 3 AND doc_id < $UpsertIdOffset)),
       |a AS (
       |  SELECT doc_id, ${charPolyHashDuck("text")} AS fp
       |  FROM ($docsSql))
       |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |  CASE WHEN a.doc_id IS NULL THEN 'added'
       |       WHEN b.doc_id IS NULL THEN 'removed'
       |       WHEN a.fp <> b.fp THEN 'changed'
       |       ELSE 'unchanged' END AS change,
       |  COALESCE(a.fp, 0) AS fp_old,
       |  COALESCE(b.fp, 0) AS fp_new
       |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // BPE tokenizer training — the first merge steps of byte-pair encoding
  // as distributed aggregates (the algorithm every modern tokenizer
  // trains with): start from the word vocab with corpus frequencies,
  // symbols = characters; each iteration (1) counts adjacent symbol
  // pairs weighted by word frequency, (2) picks the most frequent pair
  // under a deterministic total order (count desc, pair asc), (3) merges
  // every occurrence of that pair corpus-wide. Output: the learned merge
  // rule per iteration plus the post-merge corpus symbol count (strictly
  // decreasing by cnt each step — the compression the merge buys).
  //
  // The merge-apply is the subtle part: canonical BPE merges greedily
  // LEFT-TO-RIGHT over the symbol sequence ("a a a a" under (a,a) must
  // become "aa aa", where a naive non-overlapping string replace of
  // ' a a ' consumes the shared boundary space and yields "aa a a").
  // The apply is therefore a sequential string-accumulator fold —
  // Spark `aggregate`, DuckDB `list_reduce` — whose merge condition is
  // "current symbol = y AND the accumulator's LAST symbol = x" (exact:
  // acc = x, or acc ends with ' '||x — symbols never contain spaces),
  // in which case the separator is simply not emitted. Both engines
  // fold strictly left-to-right, so the greedy semantics agree
  // bit-for-bit, and a just-merged symbol can never falsely re-match
  // (the ends-with test sees the whole merged symbol).
  //
  // Scale shape (100 TB): everything after the one corpus scan operates
  // on the VOCAB relation (distinct words + frequencies — millions of
  // rows where the corpus has trillions), exactly why production BPE
  // trainers pre-aggregate to word counts. Per iteration: one
  // vocab-sized pair explode + an 8-byte-keyed sum, a 1-row argmax
  // broadcast back, and a vocab rewrite projection. Iterations are
  // driver-unrolled (the kmeansTrain pattern); each iteration's symbol
  // relation is registry-persisted so the chain is linear, not
  // exponential, across its two consumers (next iteration + stats).
  // ------------------------------------------------------------------
  /** Merge-training depth. The chain is generic in N (one more
    * registry-persisted (rule, syms) link per step, linear cost in the
    * vocab); exhaustion-safe — when a tiny corpus runs out of adjacent
    * pairs before N, the empty rule carries the symbol relation forward
    * unchanged (LEFT join, null-condition no-op fold) and the merges
    * output simply has no row for that iteration, matching canonical
    * BPE training which stops when no pair repeats.
    */
  val BpeIters = 5

  private def bpeChain(spark: SparkSession, sfDir: String): Seq[(DataFrame, DataFrame)] = {
    val vocab = Tables.documentsWide(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wf"))
    var syms = vocab.select(col("word"), col("wf"),
      expr("array_join(split(word, ''), ' ')").as("syms"))
    (1 to BpeIters).map { it =>
      val sl = "split(syms, ' ')"
      val pairs = syms.where(expr(s"size($sl) >= 2"))
        .select(col("wf"), explode(expr(
          s"transform(sequence(0, size($sl) - 2), " +
            s"k -> concat(element_at($sl, k + 1), ' ', element_at($sl, k + 2)))")).as("p"))
        .groupBy("p").agg(sum("wf").as("cnt"))
      val rule = CacheRegistry.cached(spark, s"curation.bpeRule$it:$sfDir") {
        pairs.orderBy(col("cnt").desc, col("p")).limit(1)
      }
      syms = CacheRegistry.cached(spark, s"curation.bpeSyms$it:$sfDir") {
        // LEFT join on TRUE: an exhausted (empty) rule leaves rx/ry NULL,
        // the merge condition never fires, and the fold rebuilds each
        // symbol string unchanged — the chain degrades to identity.
        syms.join(broadcast(rule.select(
            expr("split(p, ' ')[0]").as("rx"), expr("split(p, ' ')[1]").as("ry"))),
            lit(true), "left")
          .select(col("word"), col("wf"),
            expr("aggregate(split(syms, ' '), '', (acc, s) -> CASE " +
              "WHEN s = ry AND (acc = rx OR endswith(acc, concat(' ', rx))) " +
              "THEN concat(acc, ry) " +
              "WHEN acc = '' THEN s " +
              "ELSE concat(acc, ' ', s) END)").as("syms"))
      }
      (rule, syms)
    }
  }

  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeChain(spark, sfDir).zipWithIndex.map { case ((rule, syms), i) =>
      val stat = syms.agg(
        sum(expr("wf * CAST(size(split(syms, ' ')) AS BIGINT)")).as("corpus_syms"))
      rule.crossJoin(stat)
        .select(lit((i + 1).toLong).as("it"), col("p").as("pair"),
          col("cnt"), col("corpus_syms"))
    }.reduce(_ unionByName _)

  private def bpePairsDuck(i: Int): String =
    s"""pairs$i AS (
       |  SELECT p, CAST(sum(wf) AS BIGINT) AS cnt FROM (
       |    SELECT wf, unnest(list_transform(range(0, len(sl) - 1),
       |      k -> sl[k + 1] || ' ' || sl[k + 2])) AS p
       |    FROM (SELECT wf, string_split(syms, ' ') AS sl FROM syms${i - 1})
       |    WHERE len(sl) >= 2)
       |  GROUP BY p),
       |rule$i AS (
       |  SELECT p, cnt FROM pairs$i ORDER BY cnt DESC, p LIMIT 1),
       |syms$i AS (
       |  SELECT word, wf,
       |    list_reduce(list_prepend('', string_split(syms, ' ')), (acc, s) -> CASE
       |      WHEN s = string_split(r.p, ' ')[2]
       |           AND (acc = string_split(r.p, ' ')[1]
       |                OR ends_with(acc, ' ' || string_split(r.p, ' ')[1]))
       |      THEN acc || string_split(r.p, ' ')[2]
       |      WHEN acc = '' THEN s
       |      ELSE acc || ' ' || s END) AS syms
       |  FROM syms${i - 1} LEFT JOIN rule$i r ON true)""".stripMargin

  val bpeMergesSql: String = {
    val iters = (1 to BpeIters).map(bpePairsDuck).mkString(",\n")
    // The pair IS NOT NULL wrap drops exhausted iterations (empty rule ->
    // NULL scalar subquery), mirroring the Spark side's empty crossJoin.
    val stats = (1 to BpeIters).map(i =>
      s"""SELECT * FROM (
         |  SELECT CAST($i AS BIGINT) AS it, (SELECT p FROM rule$i) AS pair,
         |    (SELECT cnt FROM rule$i) AS cnt,
         |    (SELECT CAST(sum(wf * len(string_split(syms, ' '))) AS BIGINT)
         |     FROM syms$i) AS corpus_syms) WHERE pair IS NOT NULL""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH vocab AS (
       |  SELECT tok AS word, count(*) AS wf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM ($docsSql))
       |  GROUP BY tok),
       |syms0 AS (
       |  SELECT word, wf, array_to_string(string_split(word, ''), ' ') AS syms
       |  FROM vocab),
       |$iters
       |$stats""".stripMargin
  }

  // ------------------------------------------------------------------
  // Tokenize with the TRAINED merges — the apply leg of the BPE loop:
  // the iteration-3 symbol table is a (word → symbol count) dictionary;
  // tokenizing the corpus is one explode + one broadcast dictionary
  // join + one per-doc sum (token counts are what a packing/budgeting
  // pass consumes — the symbol STRINGS stay in the vocab relation and
  // never shuffle with the corpus). At 100 TB the dictionary is
  // vocab-sized: broadcast it (or hash-join on the word key when the
  // vocab outgrows broadcast — same plan minus the hint).
  // ------------------------------------------------------------------
  def bpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val sized = bpeChain(spark, sfDir).last._2
      .select(col("word"),
        expr("CAST(size(split(syms, ' ')) AS BIGINT)").as("n_sub"))
    Tables.documentsWide(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(sized), "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_tokens_bpe"))
  }

  val bpeTokenizeSql: String = {
    val iters = (1 to BpeIters).map(bpePairsDuck).mkString(",\n")
    s"""WITH vocab AS (
       |  SELECT tok AS word, count(*) AS wf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM ($docsSql))
       |  GROUP BY tok),
       |syms0 AS (
       |  SELECT word, wf, array_to_string(string_split(word, ''), ' ') AS syms
       |  FROM vocab),
       |$iters,
       |sized AS (
       |  SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_sub
       |  FROM syms$BpeIters)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_sub) AS BIGINT) AS n_tokens_bpe
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM ($docsSql)) t
       |JOIN sized s ON t.word = s.word
       |GROUP BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Full BPE ENCODE — emit each document's actual post-merge symbol
  // sequence (the token stream a training pipeline would feed the
  // model), not just its length. Same dictionary discipline as
  // [[bpeTokenize]]: the iteration-3 symbol table is a vocab-sized
  // (word → symbols) relation joined to the positionally-exploded
  // corpus; per-doc reassembly is an order-keyed collect + array_join,
  // so word order is engine-independent (pos is unique within a doc).
  // Scale shape (100 TB): the corpus shuffles once on doc_id to
  // reassemble — unavoidable for an ordered-output encode — and the
  // dictionary stays broadcast; the heavy string payload moves exactly
  // once, the same single-shuffle bound as the spanScrub re-assembly.
  // ------------------------------------------------------------------
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val dict = bpeChain(spark, sfDir).last._2.select(col("word"), col("syms"))
    Tables.documentsWide(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .join(broadcast(dict), "word")
      .groupBy("doc_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(pos, syms))), " +
          "x -> x.syms), ' ')").as("bpe_text"),
        sum(expr("CAST(size(split(syms, ' ')) AS BIGINT)")).as("n_syms"))
  }

  val bpeEncodeSql: String = {
    val iters = (1 to BpeIters).map(bpePairsDuck).mkString(",\n")
    s"""WITH vocab AS (
       |  SELECT tok AS word, count(*) AS wf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM ($docsSql))
       |  GROUP BY tok),
       |syms0 AS (
       |  SELECT word, wf, array_to_string(string_split(word, ''), ' ') AS syms
       |  FROM vocab),
       |$iters,
       |toks AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS word,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM ($docsSql))
       |SELECT doc_id,
       |  string_agg(s.syms, ' ' ORDER BY pos) AS bpe_text,
       |  CAST(sum(len(string_split(s.syms, ' '))) AS BIGINT) AS n_syms
       |FROM toks t JOIN syms$BpeIters s ON t.word = s.word
       |GROUP BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_bpe_merges" -> (bpeMerges _),
    "p_bpe_tokenize" -> (bpeTokenize _),
    "p_bpe_encode" -> (bpeEncode _),
    "p_upsert_merge" -> (upsertMerge _),
    "p_curation_cascade" -> (curationCascade _),
    "p_quality_dup_calibration" -> (qualityDupCalibration _),
    "p_source_overlap" -> (sourceOverlap _),
    "p_source_overlap_minhash" -> (sourceOverlapMinhash _),
    "p_incremental_source_sigs" -> (incrementalSourceSigs _),
    "p_corpus_curation" -> (corpusCuration _),
    "p_stratified_sample" -> (stratifiedSample _),
    "p_vocab_freq" -> (vocabFreq _),
    "p_split_assign" -> (splitAssign _),
    "p_epoch_shuffle" -> (epochShuffle _),
    "p_contamination" -> (contamination _),
    "p_pack_sequences" -> (packSequences _),
    "p_chunk_docs" -> (chunkDocs _),
    "p_chunk_dedup_stats" -> (chunkDedupStats _),
    "p_split_leakage" -> (splitLeakage _),
    "p_forget_audit" -> (forgetAudit _),
    "p_incremental_chunk_dedup" -> (incrementalChunkDedup _),
    "p_mix_weights" -> (mixWeights _),
    "p_mix_sample" -> (mixSample _),
    "p_temperature_mix" -> (temperatureMix _),
    "p_incremental_vocab" -> (incrementalVocab _),
    "p_snapshot_diff" -> (snapshotDiff _),
    "p_top_quality" -> (topQuality _),
    "p_bigram_freq" -> (bigramFreq _),
    "p_length_trim" -> (lengthTrim _))

  val oracles: Map[String, String] = Map(
    "p_bpe_merges" -> bpeMergesSql,
    "p_bpe_tokenize" -> bpeTokenizeSql,
    "p_bpe_encode" -> bpeEncodeSql,
    "p_upsert_merge" -> upsertMergeSql,
    "p_curation_cascade" -> curationCascadeSql,
    "p_quality_dup_calibration" -> qualityDupCalibrationSql,
    "p_source_overlap" -> sourceOverlapSql,
    "p_source_overlap_minhash" -> sourceOverlapMinhashSql,
    "p_incremental_source_sigs" -> incrementalSourceSigsSql,
    "p_corpus_curation" -> corpusCurationSql,
    "p_stratified_sample" -> stratifiedSampleSql,
    "p_vocab_freq" -> vocabFreqSql,
    "p_split_assign" -> splitAssignSql,
    "p_epoch_shuffle" -> epochShuffleSql,
    "p_contamination" -> contaminationSql,
    "p_pack_sequences" -> packSequencesSql,
    "p_chunk_docs" -> chunkDocsSql,
    "p_chunk_dedup_stats" -> chunkDedupStatsSql,
    "p_split_leakage" -> splitLeakageSql,
    "p_forget_audit" -> forgetAuditSql,
    "p_incremental_chunk_dedup" -> incrementalChunkDedupSql,
    "p_mix_weights" -> mixWeightsSql,
    "p_mix_sample" -> mixSampleSql,
    "p_temperature_mix" -> temperatureMixSql,
    "p_incremental_vocab" -> incrementalVocabSql,
    "p_snapshot_diff" -> snapshotDiffSql,
    "p_top_quality" -> topQualitySql,
    "p_bigram_freq" -> bigramFreqSql,
    "p_length_trim" -> lengthTrimSql)
}
