package graft

import graft.functions.Parity._
import graft.operators.{Analytics, Curation, Dedup, NullSemantics, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL face of the reference query family: every q1–q4 shape as a
  * `spark.sql` text over registered temp views — the one idiom a query
  * engine must speak that the Column-API forms alone don't prove. The
  * graft native expressions are already SQL-reachable through
  * [[GraftExtensions]]; this adds the RELATIONS (base fixture tables
  * plus the two reference parse shapes `graft_pw` / `graft_zx` as SQL
  * views), so a user can sit at a SQL prompt and run the whole
  * reference surface with no Scala.
  *
  * These are not new operators: SqlParitySpec pins each text
  * result-equal to its gated DataFrame twin (same Catalyst planner
  * underneath — the spec proves the two surfaces describe the same
  * logical plan family, pushdowns and partial aggregates included).
  * Window ids stay integer `event_time div slot`, heavy-hitter
  * thresholds stay the integer `cnt*60 > total` predicate — the same
  * parity rules as everywhere (functions/Parity.scala).
  */
object SqlQueries {

  private val slot = Shapes.LogicTimeSlotMs

  /** Register the fixture tables + parse-shape views for `sfDir` in the
    * session catalog. The `events.ts` adapter mirrors
    * [[Shapes.eventTimeMs]]: epoch-nanos LongType (the fixture parquet
    * under `nanosAsLong`) divides to ms; a timestamp-typed column goes
    * through unix_millis.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    // The graft kernels (poly_hash, word_shingle_hashes, simhash64,
    // minhash_sigs, long_vector_dot) — the dedup/similarity texts below
    // need them; registration is idempotent (the registry overrides).
    GraftExtensions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, sfDir).createOrReplaceTempView("embeddings")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    Tables.lineitem(spark, sfDir).createOrReplaceTempView("lineitem")
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer")
    Tables.supplier(spark, sfDir).createOrReplaceTempView("supplier")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation")
    Tables.region(spark, sfDir).createOrReplaceTempView("region")
    Tables.part(spark, sfDir).createOrReplaceTempView("part")
    val et = {
      import org.apache.spark.sql.types.LongType
      spark.table("events").schema("ts").dataType match {
        case LongType => "ts div 1000000"
        case _        => "unix_millis(CAST(ts AS TIMESTAMP))"
      }
    }
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW graft_pw AS
         |SELECT $et AS event_time, pmod(user_id, 3) AS port, event_type AS word
         |FROM events""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW graft_zx AS
         |SELECT $et AS event_time, event_type AS z,
         |  CAST(floor(value) AS BIGINT) AS x
         |FROM events""".stripMargin)
    spark.sql(
      s"""CREATE OR REPLACE TEMP VIEW graft_events AS
         |SELECT $et AS event_time, event_id, user_id, event_type, value
         |FROM events""".stripMargin)
  }

  /** Reference query name → Spark SQL text. Keys match the gated
    * `SparkEntry.queries` names, so the parity spec pairs them directly.
    */
  // lazy: the map closes over `trainingSql` (declared below for
  // readability) — laziness defers assembly until after object init.
  lazy val sql: Map[String, String] = Map(
    "q1_min_count_per_port" ->
      """SELECT word, min(cnt) AS min_cnt FROM (
        |  SELECT word, port, count(*) AS cnt FROM graft_pw GROUP BY word, port)
        |GROUP BY word""".stripMargin,
    "q2_windowed_min_complete" ->
      s"""SELECT word, ltw,
         |  CASE WHEN count(*) = ${Shapes.PortsNum} THEN min(cnt)
         |       ELSE CAST(0 AS BIGINT) END AS min_cnt
         |FROM (
         |  SELECT word, event_time div ${slot}L AS ltw, port, count(*) AS cnt
         |  FROM graft_pw GROUP BY word, ltw, port)
         |GROUP BY word, ltw""".stripMargin,
    "q3_windowed_count" ->
      s"""SELECT z, event_time div ${slot}L AS ltw, count(*) AS cnt
         |FROM graft_zx GROUP BY z, ltw""".stripMargin,
    "q3_windowed_max" ->
      s"""SELECT z, event_time div ${slot}L AS ltw, max(x) AS max_x
         |FROM graft_zx GROUP BY z, ltw""".stripMargin,
    "q3_windowed_sum" ->
      s"""SELECT z, event_time div ${slot}L AS ltw, sum(x) AS sum_x
         |FROM graft_zx GROUP BY z, ltw""".stripMargin,
    "q3_sliding_count" ->
      s"""SELECT z, hop, count(*) AS cnt FROM (
         |  SELECT z, explode(sequence(ltw - 1, ltw)) AS hop FROM (
         |    SELECT z, event_time div ${slot}L AS ltw FROM graft_zx))
         |GROUP BY z, hop""".stripMargin,
    "q3_heavy_hitters" ->
      s"""WITH counts AS (
         |  SELECT event_time div ${slot}L AS ltw, z, count(*) AS cnt
         |  FROM graft_zx GROUP BY ltw, z),
         |totals AS (SELECT ltw, sum(cnt) AS total FROM counts GROUP BY ltw)
         |SELECT c.ltw, c.z, c.cnt AS cnt
         |FROM counts c JOIN totals t ON c.ltw = t.ltw
         |WHERE c.cnt * 60 > t.total""".stripMargin,
    "q4_star_cardinality" ->
      """SELECT z, c0 * c1 * c2 AS card FROM (
        |  SELECT word AS z,
        |    sum(CASE WHEN port = 0 THEN 1L ELSE 0L END) AS c0,
        |    sum(CASE WHEN port = 1 THEN 1L ELSE 0L END) AS c1,
        |    sum(CASE WHEN port = 2 THEN 1L ELSE 0L END) AS c2
        |  FROM graft_pw GROUP BY word)""".stripMargin,
    "q4_windowed_cardinality" ->
      s"""SELECT z, ltw, c0 * c1 * c2 AS card FROM (
         |  SELECT word AS z, event_time div ${slot}L AS ltw,
         |    sum(CASE WHEN port = 0 THEN 1L ELSE 0L END) AS c0,
         |    sum(CASE WHEN port = 1 THEN 1L ELSE 0L END) AS c1,
         |    sum(CASE WHEN port = 2 THEN 1L ELSE 0L END) AS c2
         |  FROM graft_pw GROUP BY word, ltw)""".stripMargin,
    "q4_star_join" ->
      """SELECT c_mktsegment, count(*) AS li_cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q_amplify" ->
      s"""SELECT z, event_time div ${slot}L AS ltw, count(*) AS cnt FROM (
         |  SELECT z, event_time, explode(array_repeat(1, 3)) AS dup
         |  FROM graft_zx)
         |GROUP BY z, ltw""".stripMargin,
    // Warehouse analytics family — the same decimal-exact arithmetic as
    // the Column forms (identical CASTs, so the final doubles are
    // bit-equal; see functions/Parity).
    "a_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a_regional_revenue" ->
      """SELECT n_name,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "a_brand_revenue" ->
      """SELECT p_brand,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
        |  sum(CAST(floor(l_quantity) AS BIGINT)) AS sum_qty,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "a_market_share" ->
      """WITH by_nation AS (
        |  SELECT year(o_orderdate) AS o_year, n_name,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS DECIMAL(38,4)) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT CAST(o_year AS BIGINT) AS o_year, n_name,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec AS DOUBLE) /
        |    CAST(CAST(sum(rev_dec) OVER (PARTITION BY o_year) AS DECIMAL(38,4)) AS DOUBLE)
        |    AS share
        |FROM by_nation""".stripMargin,
    "a_daily_active" ->
      """SELECT event_time div 86400000 AS day,
        |  count(DISTINCT user_id) AS dau, count(*) AS n_events
        |FROM graft_events GROUP BY 1""".stripMargin) ++ trainingSql

  /** The training-data-pipeline families at the SQL prompt — dedup,
    * similarity, text analysis, curation, NULL semantics (the round-8
    * coverage gap: their kernels were SQL-registered but no texts
    * existed). Same parity discipline as above: every expression string
    * is the one the DataFrame twin compiles (most come straight from
    * functions/Parity), so the two surfaces produce bit-identical rows —
    * SqlParitySpec pins each pair.
    */
  private def inList(xs: Seq[String]): String =
    xs.map(s => s"'$s'").mkString("(", ", ", ")")

  private val simhashBandsSql: String = (0 until SimHashBands)
    .map(i => s"SELECT doc_id, simhash, $i AS band, ${simhashBandSpark("simhash", i)} AS bkey FROM sh")
    .mkString("\n  UNION ALL ")

  private val minhashBandsSql: String = (0 until NumBands)
    .map(b => s"SELECT doc_id, sig, $b AS band, ${bandKeySpark("sig", b)} AS bkey FROM sigs")
    .mkString("\n  UNION ALL ")

  /** The d_minhash_lsh_pairs text. */
  private val minhashLshPairsSparkSql: String =
    s"""WITH sigs AS (
       |  SELECT doc_id, sig FROM (
       |    SELECT doc_id, minhash_sigs(text, ${Dedup.ShingleW}) AS sig FROM documents)
       |  WHERE size(sig) > 0),
       |bands AS (
       |  $minhashBandsSql)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),
       |    0L, (acc, x) -> acc + x) AS sig_matches
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin

  private val quantizedSparkSql: String =
    s"""SELECT vec_id, v, long_vector_dot(v, v) AS norm
       |FROM (SELECT vec_id, ${quantizeSpark("embedding")} AS v FROM embeddings)""".stripMargin

  /** Shared CTE chain producing the simhash near-dup pair relation
    * `spairs(id_a, id_b, hamming)` — used by d_simhash_pairs and its
    * cross-modality consumer d_modality_agreement.
    */
  private lazy val simhashPairsSparkCtes: String =
    s"""sh AS (SELECT doc_id, simhash64(text) AS simhash FROM documents),
       |bands AS (
       |  $simhashBandsSql),
       |spairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${hammingSpark("a.simhash", "b.simhash")} AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE ${hammingSpark("a.simhash", "b.simhash")} <= ${Dedup.MaxHamming})""".stripMargin

  private val featureHashSparkSql: String =
    s"""SELECT doc_id, pmod(h, ${TextAnalysis.FeatureDims}) AS dim, count(*) AS w
       |FROM (SELECT doc_id, explode(word_shingle_hashes(text, 1, false)) AS h
       |      FROM documents)
       |GROUP BY doc_id, pmod(h, ${TextAnalysis.FeatureDims})""".stripMargin

  /** The s_text_cosine_topk text. */
  private val textCosineTopKSparkSql: String =
    s"""WITH fv AS ($featureHashSparkSql),
       |norms AS (SELECT doc_id, sum(w * w) AS nrm FROM fv GROUP BY doc_id),
       |dots AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, sum(q.w * c.w) AS dot
       |  FROM fv q JOIN fv c ON q.dim = c.dim AND q.doc_id <> c.doc_id
       |  WHERE q.doc_id < ${Similarity.NumQueries}
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT d.query_id, d.neighbor_id, d.dot,
       |    ${cosineSpark("d.dot", "nq.nrm", "nc.nrm")} AS cos
       |  FROM dots d
       |  JOIN norms nq ON nq.doc_id = d.query_id
       |  JOIN norms nc ON nc.doc_id = d.neighbor_id)
       |SELECT query_id, neighbor_id, rnk, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin

  /** Spark-dialect quality-score relation, shared by t_quality_score and
    * its curation consumers below (same sharing the oracle side does via
    * TextAnalysis.qualityScoreSql).
    */
  private lazy val qualityScoreSparkSql: String =
    s"""SELECT doc_id, n_tokens, stop_cnt,
       |  CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
       |  CAST(n_distinct AS DOUBLE) / n_tokens AS diversity,
       |  0.4 * (CAST(n_distinct AS DOUBLE) / n_tokens)
       |    + 0.3 * (1.0 - abs(CAST(stop_cnt AS DOUBLE) / n_tokens - 0.2))
       |    + 0.3 * (CAST(least(n_tokens, 100) AS DOUBLE) / 100.0) AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    size(${tokensSpark("text")}) AS n_tokens,
       |    size(filter(${tokensSpark("text")}, t -> t IN ${inList(TextAnalysis.Stopwords)})) AS stop_cnt,
       |    size(array_distinct(${tokensSpark("text")})) AS n_distinct
       |  FROM documents)""".stripMargin

  /** Spark-dialect 100-bin quality histogram — ONE constant holding the
    * bin expression (`least(floor(score*100), 99)`), interpolated by
    * both its consumers (`t_quality_histogram` verbatim and
    * `t_quality_cutpoints_binned` as a wrapped CTE) so the texts that
    * must stay bit-identical share a single source (r15, ADVICE).
    */
  private lazy val qualityHistogramSparkSql: String =
    s"""WITH q AS ($qualityScoreSparkSql)
       |SELECT d.source,
       |  CAST(least(floor(q.quality_score * 100.0), ${TextAnalysis.QualityBins - 1}) AS BIGINT) AS bin,
       |  count(*) AS n_docs, sum(CAST(q.n_tokens AS BIGINT)) AS sum_tokens
       |FROM q JOIN (SELECT doc_id, source FROM documents) d
       |  ON q.doc_id = d.doc_id
       |GROUP BY 1, 2""".stripMargin

  private lazy val shingleRelSparkSql: String =
    s"""SELECT doc_id, explode(word_shingle_hashes(text, ${Dedup.ShingleW}, true)) AS sh
       |FROM documents""".stripMargin

  private lazy val cosineTopKSparkSql: String =
    s"""WITH corpus AS ($quantizedSparkSql),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    long_vector_dot(q.v, c.v) AS dot,
       |    ${cosineSpark("long_vector_dot(q.v, c.v)", "q.norm", "c.norm")} AS cos
       |  FROM (SELECT * FROM corpus WHERE vec_id < ${Similarity.NumQueries}) q
       |  JOIN corpus c ON q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rnk, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin

  private lazy val lshTopKSparkSql: String =
    s"""WITH corpus AS (
       |  SELECT vec_id, v, norm, ${lshBucketSpark("v")} AS bucket FROM ($quantizedSparkSql)),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    long_vector_dot(q.v, c.v) AS dot,
       |    ${cosineSpark("long_vector_dot(q.v, c.v)", "q.norm", "c.norm")} AS cos
       |  FROM (SELECT * FROM corpus WHERE vec_id < ${Similarity.NumQueries}) q
       |  JOIN corpus c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rnk, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin

  private lazy val multiprobeTopKSparkSql: String = {
    val offsets = (Seq(0) ++ (0 until NumPlanes).map(j => 1 << j)).mkString(", ")
    s"""WITH corpus AS (
       |  SELECT vec_id, v, norm, ${lshBucketSpark("v")} AS bucket FROM ($quantizedSparkSql)),
       |probes AS (
       |  SELECT vec_id, v, norm, int(bucket ^ probe) AS pbucket
       |  FROM (SELECT *, explode(array($offsets)) AS probe
       |        FROM corpus WHERE vec_id < ${Similarity.NumQueries})),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    long_vector_dot(q.v, c.v) AS dot,
       |    ${cosineSpark("long_vector_dot(q.v, c.v)", "q.norm", "c.norm")} AS cos
       |  FROM probes q JOIN corpus c ON q.pbucket = c.bucket AND q.vec_id <> c.vec_id)
       |SELECT query_id, neighbor_id, rnk, dot FROM (
       |  SELECT query_id, neighbor_id, dot,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM scored)
       |WHERE rnk <= ${Similarity.TopK}""".stripMargin
  }

  /** Majority vote (count desc, label asc) over a top-k relation's
    * neighbor labels — shared by the two kNN texts.
    */
  private def knnVoteSparkSql(topk: String): String =
    s"""SELECT query_id, n_label FROM (
       |  SELECT query_id, n_label,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, n_label) AS rnk
       |  FROM (
       |    SELECT t.query_id, l.label AS n_label, count(*) AS votes
       |    FROM ($topk) t
       |    JOIN (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings) l
       |      ON t.neighbor_id = l.vec_id
       |    GROUP BY 1, 2))
       |WHERE rnk = 1""".stripMargin

  /** The p_upsert_merge text, named so the snapshot-diff face can
    * inject it as its version-B CTE — one merge text, two consumers.
    */
  private lazy val upsertMergeSparkSql: String =
    s"""WITH merged AS (
       |  SELECT doc_id, CAST(1 AS BIGINT) AS version, poly_hash(text) AS fp
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, CAST(2 AS BIGINT) AS version,
       |    poly_hash(concat(text, ' rev2')) AS fp
       |  FROM documents WHERE doc_id % 4 = 1
       |  UNION ALL
       |  SELECT doc_id + ${Curation.UpsertIdOffset}L AS doc_id,
       |    CAST(1 AS BIGINT) AS version, poly_hash(concat('new ', text)) AS fp
       |  FROM documents WHERE doc_id % 4 = 2),
       |winner AS (SELECT doc_id, max(version) AS version FROM merged GROUP BY doc_id)
       |SELECT m.doc_id, m.version,
       |  CASE WHEN m.version = 2 THEN 'updated'
       |       WHEN m.doc_id >= ${Curation.UpsertIdOffset}L THEN 'inserted'
       |       ELSE 'carried' END AS status,
       |  m.fp
       |FROM merged m JOIN winner w
       |  ON m.doc_id = w.doc_id AND m.version = w.version""".stripMargin

  private lazy val trainingSql: Map[String, String] = Map(
    // ---- text analysis ------------------------------------------------
    "t_token_stats" ->
      s"""SELECT doc_id,
         |  size(${tokensSpark("text")}) AS n_tokens,
         |  regexp_count(text, '[a-z]+') AS n_words,
         |  size(array_distinct(${tokensSpark("text")})) AS n_distinct,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(${tokensSpark("text")})
         |    AS avg_token_len
         |FROM documents""".stripMargin,
    "t_quality_score" -> qualityScoreSparkSql,
    "t_lang_id" ->
      s"""SELECT doc_id, lang, en_cnt, es_cnt, fr_cnt,
         |  CASE WHEN en_cnt >= es_cnt AND en_cnt >= fr_cnt AND en_cnt > 0 THEN 'en'
         |       WHEN es_cnt >= fr_cnt AND es_cnt > 0 THEN 'es'
         |       WHEN fr_cnt > 0 THEN 'fr' ELSE 'und' END AS lang_pred
         |FROM (
         |  SELECT doc_id, lang,
         |    size(filter(${tokensSpark("text")}, t -> t IN ${inList(TextAnalysis.EnMarkers)})) AS en_cnt,
         |    size(filter(${tokensSpark("text")}, t -> t IN ${inList(TextAnalysis.EsMarkers)})) AS es_cnt,
         |    size(filter(${tokensSpark("text")}, t -> t IN ${inList(TextAnalysis.FrMarkers)})) AS fr_cnt
         |  FROM documents)""".stripMargin,
    "t_fingerprint" ->
      s"""SELECT doc_id, poly_hash(text) AS fp,
         |  CASE WHEN size(word_shingle_hashes(text, 4, true)) = 0 THEN CAST($P AS BIGINT)
         |       ELSE array_min(word_shingle_hashes(text, 4, true)) END AS fp_min_shingle
         |FROM documents""".stripMargin,
    "t_collapse_repeats" ->
      s"""SELECT doc_id, n_tokens, size(kept) AS n_kept,
         |  n_tokens - size(kept) AS n_collapsed,
         |  array_join(kept, ' ') AS clean_text
         |FROM (
         |  SELECT doc_id, size(toks) AS n_tokens,
         |    filter(toks, (t, i) -> CASE WHEN i = 0 THEN true
         |      ELSE t != element_at(toks, i) END) AS kept
         |  FROM (SELECT doc_id, ${tokensSpark("text")} AS toks FROM documents))""".stripMargin,
    "t_feature_hash" -> featureHashSparkSql,
    // ---- dedup --------------------------------------------------------
    "d_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM (SELECT doc_id, poly_hash(text) AS fp FROM documents)
        |GROUP BY fp""".stripMargin,
    "d_exact_dedup_stats" ->
      """SELECT source, count(*) AS n_docs, count(DISTINCT fp) AS n_distinct
        |FROM (SELECT source, poly_hash(text) AS fp FROM documents)
        |GROUP BY source""".stripMargin,
    "d_incremental_dedup" ->
      """WITH fps AS (SELECT doc_id, poly_hash(text) AS fp FROM documents),
        |novel AS (
        |  SELECT b.fp, b.doc_id
        |  FROM (SELECT * FROM fps WHERE doc_id % 2 = 1) b
        |  LEFT ANTI JOIN (SELECT fp FROM fps WHERE doc_id % 2 = 0) c ON b.fp = c.fp)
        |SELECT min(doc_id) AS doc_id, count(*) AS batch_dups
        |FROM novel GROUP BY fp""".stripMargin,
    "d_simhash" ->
      "SELECT doc_id, simhash64(text) AS simhash FROM documents",
    "d_simhash_pairs" ->
      s"""WITH $simhashPairsSparkCtes
         |SELECT id_a, id_b, hamming FROM spairs""".stripMargin,
    "d_jaccard_pairs" ->
      s"""WITH sh AS (
         |  SELECT doc_id, explode(word_shingle_hashes(text, ${Dedup.ShingleW}, true)) AS sh
         |  FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ints AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, sa.n + sb.n - inter AS uni
         |FROM ints
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter * ${Dedup.JaccDen} > (sa.n + sb.n - inter) * ${Dedup.JaccNum}""".stripMargin,
    "d_containment_pairs" ->
      s"""WITH sh AS ($shingleRelSparkSql),
         |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
         |rare AS (
         |  SELECT s.doc_id, s.sh FROM sh s
         |  JOIN dfreq d ON s.sh = d.sh AND d.df >= 2 AND d.df <= ${Dedup.ContainDfCap}),
         |sizes AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
         |ints AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, inter, na, nb, containment_ppm FROM (
         |  SELECT id_a, id_b, inter, sa.n AS na, sb.n AS nb,
         |    inter * 1000000L div least(sa.n, sb.n) AS containment_ppm
         |  FROM ints
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b)
         |WHERE containment_ppm >= ${Dedup.ContainPpm}""".stripMargin,
    "d_minhash_lsh_pairs" -> minhashLshPairsSparkSql,
    "d_embedding_neardup" ->
      s"""WITH q AS ($quantizedSparkSql)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  long_vector_dot(a.v, b.v) AS dot, a.norm AS na, b.norm AS nb
         |FROM q a JOIN q b ON a.vec_id < b.vec_id
         |WHERE ${cosineSpark("long_vector_dot(a.v, b.v)", "a.norm", "b.norm")}
         |  > CAST(${Dedup.CosThreshold} AS DOUBLE)""".stripMargin,
    // ---- similarity search --------------------------------------------
    "s_cosine_topk" -> cosineTopKSparkSql,
    "s_lsh_bucket_stats" ->
      s"""SELECT bucket, count(*) AS n_vectors
         |FROM (SELECT ${lshBucketSpark("v")} AS bucket FROM ($quantizedSparkSql))
         |GROUP BY bucket""".stripMargin,
    "s_lsh_topk" -> lshTopKSparkSql,
    "s_lsh_multiprobe_topk" -> multiprobeTopKSparkSql,
    "s_knn_classify" ->
      s"""WITH pred AS (
         |  SELECT query_id, n_label AS pred_label, votes FROM (
         |    SELECT query_id, n_label, votes,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY votes DESC, n_label) AS rnk
         |    FROM (
         |      SELECT t.query_id, l.label AS n_label, count(*) AS votes
         |      FROM ($cosineTopKSparkSql) t
         |      JOIN (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings) l
         |        ON t.neighbor_id = l.vec_id
         |      GROUP BY 1, 2))
         |  WHERE rnk = 1)
         |SELECT p.query_id, l.label AS true_label, p.pred_label, p.votes,
         |  CAST(l.label = p.pred_label AS BIGINT) AS correct
         |FROM pred p
         |JOIN (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings) l
         |  ON p.query_id = l.vec_id""".stripMargin,
    "s_knn_agreement" ->
      s"""WITH exact AS (${knnVoteSparkSql(cosineTopKSparkSql)}),
         |approx AS (${knnVoteSparkSql(multiprobeTopKSparkSql)})
         |SELECT count(*) AS n_queries,
         |  sum(coalesce(CAST(a.n_label = e.n_label AS BIGINT), 0L)) AS n_agree
         |FROM exact e LEFT JOIN approx a ON e.query_id = a.query_id""".stripMargin,
    "s_text_cosine_topk" -> textCosineTopKSparkSql,
    // ---- curation -----------------------------------------------------
    "p_vocab_freq" ->
      """SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, explode(split(text, ' ')) AS token FROM documents)
        |GROUP BY token""".stripMargin,
    "p_bigram_freq" ->
      """SELECT gram, count(*) AS tf, count(DISTINCT doc_id) AS df
        |FROM (
        |  SELECT doc_id, explode(CASE WHEN size(toks) >= 2
        |    THEN transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', slice(toks, i + 1, 2)))
        |    ELSE array() END) AS gram
        |  FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents))
        |GROUP BY gram""".stripMargin,
    "p_length_trim" ->
      """WITH bounds AS (
        |  SELECT source, percentile(n_chars, 0.05D) AS lo, percentile(n_chars, 0.95D) AS hi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars, b.lo, b.hi
        |FROM documents d JOIN bounds b ON d.source = b.source
        |WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi""".stripMargin,
    "p_split_assign" ->
      """SELECT doc_id, fp, bucket,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, fp, pmod(fp, 100) AS bucket
        |      FROM (SELECT doc_id, poly_hash(text) AS fp FROM documents))""".stripMargin,
    "p_epoch_shuffle" ->
      s"""SELECT doc_id, epoch, pos, shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, shard
         |    ORDER BY pos, doc_id) AS BIGINT) AS seq
         |FROM (
         |  SELECT doc_id, epoch,
         |    pmod(pmod(doc_id, ${graft.functions.Parity.P}) * ${graft.operators.Curation.ShuffleC1}
         |      + epoch * ${graft.operators.Curation.ShuffleC2}
         |      + ${graft.operators.Curation.ShuffleC3}, ${graft.functions.Parity.P}) AS pos,
         |    pmod(pmod(pmod(doc_id, ${graft.functions.Parity.P}) * ${graft.operators.Curation.ShuffleC1}
         |      + epoch * ${graft.operators.Curation.ShuffleC2}
         |      + ${graft.operators.Curation.ShuffleC3}, ${graft.functions.Parity.P}),
         |      ${graft.operators.Curation.ShuffleShards}) AS shard
         |  FROM documents
         |  LATERAL VIEW explode(sequence(0L, ${graft.operators.Curation.ShuffleEpochs - 1}L)) e AS epoch)""".stripMargin,
    "p_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, explode(word_shingle_hashes(text, ${Dedup.ShingleW}, true)) AS sh
         |  FROM documents),
         |ev AS (SELECT DISTINCT sh AS eval_sh FROM sh WHERE doc_id < ${Curation.EvalSetMax})
         |SELECT s.doc_id, count(*) AS shared_shingles
         |FROM sh s JOIN ev ON s.sh = ev.eval_sh
         |WHERE s.doc_id >= ${Curation.EvalSetMax}
         |GROUP BY s.doc_id""".stripMargin,
    // ---- NULL semantics -----------------------------------------------
    "n_null_agg" -> NullSemantics.nullAggSparkSql,
    "n_null_join" -> NullSemantics.nullJoinSparkSql,
    "n_null_distinct" -> NullSemantics.nullDistinctSparkSql,
    "n_null_safe_eq" -> NullSemantics.nullSafeEqSparkSql) ++ eventAnalyticsSql

  /** The event/warehouse analytics that were still DataFrame-only at the
    * SQL prompt: windowed/sessionized event shapes over the
    * `graft_events` ms-adapted view, the TPC-H Q3/Q4-shaped warehouse
    * queries, and the as-of join in its window-carry form (Spark has no
    * native ASOF JOIN — this text IS the documented composition).
    */
  private lazy val eventAnalyticsSql: Map[String, String] = Map(
    // The five r14 TPC-H shapes: their oracle texts are dialect-neutral
    // (year(), TIMESTAMP literals, DECIMAL casts, a correlated scalar
    // subquery Catalyst decorrelates to the DataFrame form's agg+join),
    // so one text serves both engines.
    // The dialect-neutral round-14 closing shapes of the 22-shape TPC-H
    // sweep: their oracle texts serve both engines too.
    "a_forecast_revenue" -> graft.operators.Analytics.forecastRevenueSql,
    "a_returned_revenue" -> graft.operators.Analytics.returnedRevenueSql,
    "a_order_count_distribution" -> graft.operators.Analytics.orderCountDistributionSql,
    "a_disjunctive_revenue" -> graft.operators.Analytics.disjunctiveRevenueSql,
    "a_dominant_suppliers" -> graft.operators.Analytics.dominantSuppliersSql,
    "a_promo_revenue" -> graft.operators.Analytics.promoRevenueSql,
    "a_top_supplier" -> graft.operators.Analytics.topSupplierSql,
    "a_nation_trade_volume" -> graft.operators.Analytics.nationTradeVolumeSql,
    "a_large_orders" ->
      s"""WITH qty AS (
         |  SELECT l_orderkey,
         |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
         |      AS BIGINT) AS total_qty
         |  FROM lineitem GROUP BY l_orderkey
         |  HAVING CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
         |    AS BIGINT) > ${Analytics.LargeOrderQty})
         |SELECT CAST(o_custkey AS BIGINT) AS c_custkey,
         |  CAST(o_orderkey AS BIGINT) AS o_orderkey,
         |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
         |  total_qty
         |FROM orders JOIN qty ON o_orderkey = qty.l_orderkey""".stripMargin,
    "a_sole_blame_suppliers" ->
      s"""SELECT s_suppkey, count(*) AS numwait FROM (
         |  SELECT DISTINCT l1.l_orderkey, CAST(l1.l_suppkey AS BIGINT) AS s_suppkey
         |  FROM lineitem l1
         |  JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
         |  WHERE l1.l_shipdate > o.o_orderdate + INTERVAL ${Analytics.LateDays} DAY
         |    AND EXISTS (
         |      SELECT 1 FROM lineitem l2
         |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         |    AND NOT EXISTS (
         |      SELECT 1 FROM lineitem l3
         |      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
         |        AND l3.l_shipdate > o.o_orderdate + INTERVAL ${Analytics.LateDays} DAY))
         |GROUP BY s_suppkey""".stripMargin,
    "a_idle_customers" ->
      s"""WITH c AS (
        |  SELECT c_custkey AS custkey, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |  FROM customer),
        |pos AS (SELECT * FROM c WHERE bal_cents > 0),
        |stats AS (
        |  SELECT sum(bal_cents) AS total_cents, count(*) AS n_pos FROM pos)
        |SELECT n_name, count(*) AS n_customers, sum(bal_cents) AS sum_bal_cents
        |FROM pos
        |CROSS JOIN stats
        |JOIN nation ON pos.c_nationkey = n_nationkey
        |WHERE bal_cents * n_pos > total_cents
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = pos.custkey
        |      AND o_orderdate >= TIMESTAMP '${Analytics.IdleCutoff}')
        |GROUP BY n_name""".stripMargin,
    "a_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT) AS q,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_cents
        |  FROM lineitem)
        |SELECT count(*) AS n_small_lines, sum(price_cents) AS sum_price_cents
        |FROM li l
        |WHERE 5 * q * (SELECT count(*) FROM li x WHERE x.l_partkey = l.l_partkey)
        |    < (SELECT sum(q) FROM li y WHERE y.l_partkey = l.l_partkey)""".stripMargin,
    "a_scd2_build" ->
      s"""WITH scd_c AS (
         |  SELECT c_custkey AS custkey,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
         |  FROM customer),
         |v AS (
         |  SELECT custkey, CAST(1 AS BIGINT) AS version,
         |    CAST(1992 AS BIGINT) AS valid_from, bal_cents FROM scd_c
         |  UNION ALL
         |  SELECT custkey, CAST(2 AS BIGINT), CAST(1994 AS BIGINT), bal_cents + 1000
         |  FROM scd_c WHERE custkey % 4 = 1
         |  UNION ALL
         |  SELECT custkey, CAST(3 AS BIGINT), CAST(1996 AS BIGINT), bal_cents + 2000
         |  FROM scd_c WHERE custkey % 8 = 1)
         |SELECT custkey, version, bal_cents, valid_from,
         |  CAST(coalesce(lead(valid_from) OVER (PARTITION BY custkey
         |    ORDER BY version) - 1, ${Analytics.Scd2OpenYear}) AS BIGINT) AS valid_to,
         |  CAST(coalesce(lead(valid_from) OVER (PARTITION BY custkey
         |    ORDER BY version) - 1, ${Analytics.Scd2OpenYear}) = ${Analytics.Scd2OpenYear}
         |    AS BIGINT) AS is_current
         |FROM v""".stripMargin,
    "a_scd2_asof" ->
      s"""WITH scd_c AS (
         |  SELECT c_custkey AS custkey,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
         |  FROM customer),
         |v AS (
         |  SELECT custkey, CAST(1 AS BIGINT) AS version,
         |    CAST(1992 AS BIGINT) AS valid_from, bal_cents FROM scd_c
         |  UNION ALL
         |  SELECT custkey, CAST(2 AS BIGINT), CAST(1994 AS BIGINT), bal_cents + 1000
         |  FROM scd_c WHERE custkey % 4 = 1
         |  UNION ALL
         |  SELECT custkey, CAST(3 AS BIGINT), CAST(1996 AS BIGINT), bal_cents + 2000
         |  FROM scd_c WHERE custkey % 8 = 1),
         |dim AS (
         |  SELECT custkey, version, bal_cents, valid_from,
         |    coalesce(lead(valid_from) OVER (PARTITION BY custkey
         |      ORDER BY version) - 1, ${Analytics.Scd2OpenYear}) AS valid_to
         |  FROM v)
         |SELECT version, count(*) AS n_orders,
         |  count(DISTINCT o.o_custkey) AS n_customers,
         |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents
         |FROM orders o
         |JOIN dim d ON o.o_custkey = d.custkey
         |  AND year(o.o_orderdate) >= d.valid_from
         |  AND year(o.o_orderdate) <= d.valid_to
         |GROUP BY version""".stripMargin,
    "a_top_customers" ->
      s"""SELECT c_mktsegment, rnk, c_custkey, revenue, n_orders FROM (
         |  SELECT c.c_mktsegment, c.c_custkey,
         |    CAST(r.revenue_dec AS DOUBLE) AS revenue, r.n_orders,
         |    row_number() OVER (PARTITION BY c.c_mktsegment
         |      ORDER BY r.revenue_dec DESC, c.c_custkey) AS rnk
         |  FROM (
         |    SELECT o_custkey,
         |      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue_dec,
         |      count(*) AS n_orders
         |    FROM orders GROUP BY o_custkey) r
         |  JOIN customer c ON r.o_custkey = c.c_custkey)
         |WHERE rnk <= ${graft.operators.Analytics.TopN}""".stripMargin,
    "a_revenue_rollup" ->
      """SELECT coalesce(c_mktsegment, 'ALL') AS segment,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)""".stripMargin,
    "a_shipping_priority" -> {
      val cut = graft.operators.Analytics.ShipCutoff
      s"""SELECT l_orderkey, unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms,
         |  o_orderpriority, CAST(revenue_dec AS DOUBLE) AS revenue
         |FROM (
         |  SELECT l_orderkey, o_orderdate, o_orderpriority,
         |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
         |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
         |      AS DECIMAL(38,4)) AS revenue_dec
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment = 'BUILDING'
         |    AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '$cut'
         |    AND CAST(l_shipdate AS TIMESTAMP) > TIMESTAMP '$cut'
         |  GROUP BY 1, 2, 3)
         |ORDER BY revenue_dec DESC, l_orderkey
         |LIMIT 10""".stripMargin
    },
    "a_order_priority_late" ->
      s"""SELECT o_orderpriority, count(*) AS n_late_orders
         |FROM orders o
         |WHERE EXISTS (
         |  SELECT 1 FROM lineitem l
         |  WHERE l.l_orderkey = o.o_orderkey
         |    AND l.l_shipdate > o.o_orderdate + INTERVAL ${graft.operators.Analytics.LateDays} DAY)
         |GROUP BY o_orderpriority""".stripMargin,
    "a_sessionize" ->
      s"""WITH ev AS (SELECT event_time AS t, user_id FROM graft_events),
         |flagged AS (
         |  SELECT user_id, t,
         |    CASE WHEN lt IS NULL OR t - lt > ${graft.operators.Analytics.SessionGapMs}
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM (SELECT user_id, t,
         |          lag(t) OVER (PARTITION BY user_id ORDER BY t) AS lt
         |        FROM ev)),
         |s AS (
         |  SELECT user_id, t,
         |    sum(is_new) OVER (PARTITION BY user_id ORDER BY t) AS sid
         |  FROM flagged)
         |SELECT user_id, min(t) AS session_start, max(t) AS session_end,
         |  max(t) - min(t) AS duration_ms, count(*) AS n_events
         |FROM s GROUP BY user_id, sid""".stripMargin,
    // the native PIVOT syntax — a distinct third formulation of the
    // reshape (DataFrame .pivot / conditional-agg oracle / SQL PIVOT)
    "a_pivot_revenue" ->
      """SELECT * FROM (
        |  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS dp
        |  FROM lineitem)
        |PIVOT (CAST(CAST(sum(dp) AS DECIMAL(38,4)) AS DOUBLE)
        |  FOR l_returnflag IN ('A' AS rev_a, 'N' AS rev_n, 'R' AS rev_r))""".stripMargin,
    // native UNPIVOT syntax over the PIVOT subquery — the SQL round trip
    "a_unpivot_revenue" ->
      """SELECT ship_year, upper(substr(flag, 5, 1)) AS flag, revenue FROM (
        |  SELECT * FROM (
        |    SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year, l_returnflag,
        |      CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS dp
        |    FROM lineitem)
        |  PIVOT (CAST(CAST(sum(dp) AS DECIMAL(38,4)) AS DOUBLE)
        |    FOR l_returnflag IN ('A' AS rev_a, 'N' AS rev_n, 'R' AS rev_r)))
        |UNPIVOT (revenue FOR flag IN (rev_a, rev_n, rev_r))""".stripMargin,
    "a_gap_fill" ->
      s"""WITH hourly AS (
         |  SELECT z, event_time div ${graft.operators.Analytics.GapFillSlotMs} AS h,
         |    sum(x) AS h_sum
         |  FROM graft_zx GROUP BY 1, 2),
         |b AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
         |spine AS (
         |  SELECT z, explode(sequence(b.lo, b.hi)) AS h
         |  FROM (SELECT DISTINCT z FROM hourly) CROSS JOIN b)
         |SELECT spine.z, spine.h,
         |  coalesce(last(hourly.h_sum, true) OVER (
         |    PARTITION BY spine.z ORDER BY spine.h
         |    ROWS UNBOUNDED PRECEDING), 0L) AS filled_sum,
         |  CAST(CASE WHEN hourly.h_sum IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
         |FROM spine LEFT JOIN hourly
         |  ON spine.z = hourly.z AND spine.h = hourly.h""".stripMargin,
    "a_quantiles" ->
      """SELECT l_returnflag, CAST(p AS BIGINT) AS q_idx, v AS q_val
        |FROM (
        |  SELECT l_returnflag, percentile(q, array(0.25D, 0.5D, 0.75D)) AS qs
        |  FROM (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS q
        |        FROM lineitem)
        |  GROUP BY l_returnflag)
        |LATERAL VIEW posexplode(qs) t AS p, v""".stripMargin,
    "a_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_time AS tms, event_type FROM graft_events),
        |v AS (SELECT user_id, min(tms) AS t1 FROM ev
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.tms >= v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.tms >= c.t2 GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step, count(*) AS n_users FROM v
        |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM c
        |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM p""".stripMargin,
    "a_funnel_windowed" -> {
      val win = graft.operators.Analytics.FunnelWindowMs
      s"""WITH ev AS (
         |  SELECT user_id, event_time AS tms, event_type FROM graft_events),
         |v AS (SELECT user_id, min(tms) AS t1 FROM ev
         |      WHERE event_type = 'view' GROUP BY user_id),
         |c AS (SELECT e.user_id, min(e.tms) AS t2 FROM ev e JOIN v USING (user_id)
         |      WHERE e.event_type = 'click' AND e.tms >= v.t1
         |        AND e.tms <= v.t1 + $win GROUP BY e.user_id),
         |p AS (SELECT e.user_id, min(e.tms) AS t3 FROM ev e JOIN c USING (user_id)
         |      WHERE e.event_type = 'purchase' AND e.tms >= c.t2
         |        AND e.tms <= c.t2 + $win GROUP BY e.user_id)
         |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS step, count(*) AS n_users FROM v
         |UNION ALL SELECT CAST(2 AS BIGINT), 'click', count(*) FROM c
         |UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', count(*) FROM p""".stripMargin
    },
    "a_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, event_time div 86400000 AS day FROM graft_events),
        |first AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
        |SELECT f.cohort_day, d.day - f.cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM days d JOIN first f USING (user_id)
        |GROUP BY 1, 2""".stripMargin,
    "a_moving_window" ->
      s"""SELECT user_id, tms, x,
         |  sum(x) OVER w AS win_sum,
         |  count(*) OVER w AS win_n,
         |  CAST(sum(x) OVER w AS DOUBLE) / (count(*) OVER w) AS win_avg
         |FROM (SELECT user_id, event_time AS tms,
         |        CAST(floor(value) AS BIGINT) AS x FROM graft_events)
         |WINDOW w AS (PARTITION BY user_id ORDER BY tms
         |  RANGE BETWEEN ${graft.operators.Analytics.MovingWindowMs} PRECEDING AND CURRENT ROW)""".stripMargin,
    "a_json_extract" ->
      """SELECT CAST(get_json_object(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n_events,
        |  sum(CAST(floor(value) AS BIGINT)) AS sum_x
        |FROM events
        |GROUP BY 1""".stripMargin,
    "a_event_deltas" ->
      """SELECT user_id, event_id, tms, x, tms - prev_tms AS dt, x - prev_x AS dx
        |FROM (
        |  SELECT user_id, event_id, tms, x,
        |    lag(tms) OVER w AS prev_tms, lag(x) OVER w AS prev_x
        |  FROM (SELECT user_id, event_id, event_time AS tms,
        |          CAST(floor(value) AS BIGINT) AS x FROM graft_events)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tms, event_id))
        |WHERE prev_tms IS NOT NULL""".stripMargin,
    "a_outliers" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS x FROM events),
        |stats AS (
        |  SELECT user_id, count(*) AS n, sum(x) AS s, sum(x * x) AS q
        |  FROM ev GROUP BY user_id)
        |SELECT e.user_id, e.event_id, e.x, st.n
        |FROM ev e JOIN stats st USING (user_id)
        |WHERE (e.x * st.n - st.s) * (e.x * st.n - st.s) >
        |  4 * (st.n * st.q - st.s * st.s)""".stripMargin,
    "a_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, event_time AS t, user_id,
        |    CAST(floor(value) AS BIGINT) AS x,
        |    event_id % 2 = 0 AS kind
        |  FROM graft_events),
        |carried AS (
        |  SELECT user_id, event_id, t, kind,
        |    last(CASE WHEN NOT kind THEN event_id END) IGNORE NULLS OVER w AS quote_id,
        |    last(CASE WHEN NOT kind THEN x END) IGNORE NULLS OVER w AS quote_x
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, kind, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id AS trade_id, t AS trade_t, quote_id, quote_x
        |FROM carried WHERE kind AND quote_id IS NOT NULL""".stripMargin,
    "a_interval_join" -> {
      val w = graft.operators.Analytics.ContextWindowMs
      s"""WITH ev AS (SELECT event_id, event_time AS t, value FROM graft_events),
         |probe AS (SELECT event_id, t, t div $w AS bin FROM ev),
         |anchors AS (
         |  SELECT anchor_id, a_t, explode(array(b0, b0 + 1)) AS jbin
         |  FROM (SELECT event_id AS anchor_id, t AS a_t, t div $w AS b0
         |        FROM ev WHERE value >= ${graft.operators.Analytics.AnchorMinValue}))
         |SELECT a.anchor_id, p.event_id, p.t - a.a_t AS delta_ms
         |FROM probe p JOIN anchors a
         |  ON p.bin = a.jbin AND p.t >= a.a_t AND p.t < a.a_t + $w
         |  AND p.event_id <> a.anchor_id""".stripMargin
    },
    "a_daily_active_approx" ->
      """WITH pairs AS (
        |  SELECT event_time div 86400000 AS day, user_id, count(*) AS c
        |  FROM graft_events GROUP BY 1, 2)
        |SELECT day, count(*) AS dau, sum(c) AS n_events,
        |  CASE WHEN abs(approx_count_distinct(user_id, 0.01D) - count(*)) * 100
        |            <= 3 * count(*)
        |       THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS approx_ok
        |FROM pairs GROUP BY day""".stripMargin) ++ longTailSql

  /** The corpus-diagnostic long tail: shingle-df repetition/novelty and
    * the mix/quality curation accounting — the last DataFrame-only
    * members of their families with straightforward SQL forms.
    *
    * Deliberately NOT given SQL texts (DataFrame-only by design):
    * the cluster family (`d_*_clusters`, `d_cluster_sizes`,
    * `d_canonical_stats`, `p_curation_cascade`, `p_split_leakage` —
    * a cluster-label consumer) — connected components
    * is a driver-controlled iteration and Spark SQL has no recursive
    * CTE; k-means (`s_kmeans_*`, `s_ivf_kmeans_topk`,
    * `s_incremental_ivf_codes`/`s_incremental_pq_codes`/
    * `s_incremental_recall_drift` — the day-2
    * assignment arms reuse the frozen trained structures) and the PQ
    * family (`s_pq_*` — per-subspace codebook training is the same
    * driver-unrolled Lloyd chain) — iterative
    * training, same reason; the multimodal family (`m_*`) — binary
    * decode through typed mapPartitions codecs, not expressible as a
    * SQL projection; and the plan-demonstration twins
    * (`q3_windowed_count_salted`, `q3_windowed_count_salted_dynamic`,
    * `a_moving_window_bucketed`,
    * `d_adaptive_jaccard_pairs` — the arm CHOICE is a driver-side
    * runtime branch SQL cannot express; its output equals the
    * `d_jaccard_pairs` text at the J > 1/2 threshold,
    * `d_jaccard_prefix_pairs`, `d_embedding_neardup_lsh`, `s_ivf_topk`,
    * `s_ivf_recall` — it composes `s_ivf_topk`; the SQL-face recall
    * eval is `s_lsh_recall`, `s_text_lsh_topk`,
    * `s_feature_topk` and `s_feature_recall` — they consume the typed
    * partition-iterator decode (the m_* boundary reason) and their
    * index/eval shapes are the `s_text_lsh_topk`/`s_lsh_recall` plans,
    * `p_pack_sequences`,
    * `p_stratified_sample`, `a_profile`, `a_profile_approx` (the
    * single-pass wide-agg + stack reshape IS the demonstrated plan),
    * `a_timeseries_similarity`,
    * `d_incremental_*`) whose value is a specific physical plan or a
    * long expr pipeline the Column form already states more clearly —
    * their SEMANTIC twins (the unsalted/unbucketed/brute-force forms)
    * all have SQL texts above. The texts whose dialect had to diverge
    * from the DuckDB oracle through a Spark copy in `operators/` (the
    * derived-partsupp TPC-H shapes, z-order layout, count-min, bloom,
    * BM25, RRF, edit distance, the triangle counts, the adaptive
    * decision and the source-signature sweeps) are retired: those
    * queries answer to their DuckDB oracle alone (OracleGateSpec).
    * Every other gated batch query has a SQL text; SqlParitySpec pins
    * the boundary by exhaustive complement.
    */
  /** One BPE iteration's CTE triple (pairsN, ruleN, symsN) in the Spark
    * SQL dialect — shared by the p_bpe_merges and p_bpe_tokenize texts.
    */
  private def bpeIterSparkSql(i: Int): String =
    s"""pairs$i AS (
       |  SELECT p, sum(wf) AS cnt FROM (
       |    SELECT wf, explode(transform(sequence(0, size(sl) - 2),
       |      k -> concat(element_at(sl, k + 1), ' ', element_at(sl, k + 2)))) AS p
       |    FROM (SELECT wf, split(syms, ' ') AS sl FROM syms${i - 1})
       |    WHERE size(sl) >= 2)
       |  GROUP BY p),
       |rule$i AS (
       |  SELECT p, cnt FROM pairs$i ORDER BY cnt DESC, p LIMIT 1),
       |syms$i AS (
       |  SELECT word, wf,
       |    aggregate(split(syms, ' '), '', (acc, s) -> CASE
       |      WHEN s = split(r.p, ' ')[1]
       |           AND (acc = split(r.p, ' ')[0]
       |                OR endswith(acc, concat(' ', split(r.p, ' ')[0])))
       |      THEN concat(acc, split(r.p, ' ')[1])
       |      WHEN acc = '' THEN s
       |      ELSE concat(acc, ' ', s) END) AS syms
       |  FROM syms${i - 1} LEFT JOIN rule$i r ON true)""".stripMargin

  private lazy val longTailSql: Map[String, String] = Map(
    "p_temperature_mix" ->
      s"""WITH per_source AS (
         |  SELECT source,
         |    CAST(sum(size(${tokensSpark("text")})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (
         |  SELECT source, n_tokens,
         |    CAST(floor(sqrt(CAST(n_tokens * ${Curation.TempScale}L AS DOUBLE)))
         |      AS BIGINT) AS w
         |  FROM per_source),
         |tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |    CAST(sum(w) AS BIGINT) AS total_w
         |  FROM w)
         |SELECT source, n_tokens, w,
         |  n_tokens * 1000000L div total_tokens AS nat_ppm,
         |  w * 1000000L div total_w AS temp_ppm,
         |  (w * total_tokens * 1000L) div (total_w * n_tokens) AS boost_pm
         |FROM w, tot""".stripMargin,
    // The SQL face states the SEMANTIC (one full-corpus pass); the
    // gated DataFrame twin executes the incremental stored ⊕ Δ plan —
    // the same face/plan split as a_sole_blame_suppliers' EXISTS form.
    "p_incremental_vocab" ->
      s"""SELECT token, count(*) AS tf,
         |  sum(CASE WHEN d % 2 = 1 THEN 1L ELSE 0L END) AS tf_batch
         |FROM (SELECT doc_id AS d, explode(${tokensSpark("text")}) AS token
         |      FROM documents)
         |GROUP BY token""".stripMargin,
    "p_snapshot_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id, fp FROM ($upsertMergeSparkSql)
         |  WHERE NOT (doc_id % 17 = 3 AND doc_id < ${Curation.UpsertIdOffset}L)),
         |a AS (SELECT doc_id, poly_hash(text) AS fp FROM documents)
         |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN b.doc_id IS NULL THEN 'removed'
         |       WHEN a.fp <> b.fp THEN 'changed'
         |       ELSE 'unchanged' END AS change,
         |  COALESCE(a.fp, 0L) AS fp_old,
         |  COALESCE(b.fp, 0L) AS fp_new
         |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin,
    "t_vocab_drift" ->
      s"""WITH cnts AS (
         |  SELECT tok AS token,
         |    sum(CASE WHEN d % 2 = 0 THEN 1L ELSE 0L END) AS cnt_a,
         |    sum(CASE WHEN d % 2 = 0 THEN 0L ELSE 1L END) AS cnt_b
         |  FROM (SELECT doc_id AS d, explode(${tokensSpark("text")}) AS tok
         |        FROM documents)
         |  GROUP BY tok),
         |tot AS (
         |  SELECT sum(cnt_a) AS tot_a, sum(cnt_b) AS tot_b FROM cnts),
         |sh AS (
         |  SELECT token, cnt_a, cnt_b,
         |    CASE WHEN tot_a = 0 THEN 0L ELSE cnt_a * 1000000L div tot_a END AS share_a_ppm,
         |    CASE WHEN tot_b = 0 THEN 0L ELSE cnt_b * 1000000L div tot_b END AS share_b_ppm
         |  FROM cnts CROSS JOIN tot)
         |SELECT token, cnt_a, cnt_b, share_a_ppm, share_b_ppm,
         |  abs(share_a_ppm - share_b_ppm) AS drift_ppm
         |FROM sh""".stripMargin,
    "t_token_char_fit" ->
      """WITH b AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS x,
        |    CAST(size(split(text, ' ')) AS BIGINT) AS y
        |  FROM documents),
        |s AS (
        |  SELECT source, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM b GROUP BY source)
        |SELECT source, n, sx, sy, sxx, sxy, syy,
        |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
        |  CAST(n * sxy - sx * sy AS DOUBLE) / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |     * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr
        |FROM s""".stripMargin,
    "d_span_scrub" ->
      s"""WITH dup AS (
         |  SELECT sh FROM (
         |    SELECT explode(word_shingle_hashes(text, ${Dedup.ScrubW}, true)) AS sh
         |    FROM documents)
         |  GROUP BY sh HAVING count(*) > 1),
         |spans AS (
         |  SELECT doc_id, pos, sh FROM documents
         |  LATERAL VIEW posexplode(word_shingle_hashes(text, ${Dedup.ScrubW}, false)) t AS pos, sh),
         |cov AS (
         |  SELECT s.doc_id, collect_set(s.pos + k.cp) AS cov
         |  FROM spans s JOIN dup d ON s.sh = d.sh
         |  LATERAL VIEW explode(sequence(0, ${Dedup.ScrubW - 1})) k AS cp
         |  GROUP BY s.doc_id)
         |SELECT doc_id, n_tokens,
         |  n_tokens - CAST(size(kept) AS BIGINT) AS n_removed,
         |  array_join(kept, ' ') AS clean_text
         |FROM (
         |  SELECT d.doc_id, CAST(size(d.toks) AS BIGINT) AS n_tokens,
         |    CASE WHEN c.cov IS NULL THEN d.toks
         |         ELSE filter(d.toks, (t, i) -> NOT array_contains(c.cov, i)) END
         |      AS kept
         |  FROM (SELECT doc_id, ${tokensSpark("text")} AS toks FROM documents) d
         |  LEFT JOIN cov c ON d.doc_id = c.doc_id)""".stripMargin,
    "t_pii_scrub" ->
      s"""SELECT doc_id,
         |  CAST(regexp_count(aug, '${TextAnalysis.EmailPat}') AS BIGINT) AS n_emails,
         |  CAST(regexp_count(aug, '${TextAnalysis.PhonePat}') AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(aug, '${TextAnalysis.EmailPat}', '<EMAIL>'),
         |    '${TextAnalysis.PhonePat}', '<PHONE>') AS scrubbed
         |FROM (
         |  SELECT doc_id, concat(text,
         |    CASE WHEN doc_id % 3 = 0
         |         THEN concat(' user', CAST(doc_id AS STRING), '@example.org')
         |         ELSE '' END,
         |    CASE WHEN doc_id % 2 = 0
         |         THEN concat(' call 555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0'))
         |         ELSE '' END) AS aug
         |  FROM documents)""".stripMargin,
    "p_chunk_docs" ->
      s"""WITH base AS (
         |  SELECT doc_id, source, split(text, ' ') AS toks,
         |    CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |chunks AS (
         |  SELECT doc_id, source, toks, n_tokens,
         |    explode(sequence(0L, CASE WHEN n_tokens <= ${Curation.ChunkSize} THEN 0L
         |      ELSE (n_tokens - ${Curation.ChunkSize} + ${Curation.ChunkStride - 1})
         |        div ${Curation.ChunkStride} END)) AS chunk_id
         |  FROM base),
         |sliced AS (
         |  SELECT doc_id, source, chunk_id,
         |    chunk_id * ${Curation.ChunkStride} AS chunk_start,
         |    least(${Curation.ChunkSize}L,
         |      n_tokens - chunk_id * ${Curation.ChunkStride}) AS chunk_tokens,
         |    concat_ws(' ', slice(toks,
         |      CAST(chunk_id * ${Curation.ChunkStride} + 1 AS INT),
         |      ${Curation.ChunkSize})) AS chunk_text
         |  FROM chunks)
         |SELECT doc_id, source, chunk_id, chunk_start, chunk_tokens, chunk_text,
         |  poly_hash(chunk_text) AS chunk_fp
         |FROM sliced""".stripMargin,
    "p_chunk_dedup_stats" ->
      s"""WITH chunks AS (
         |  SELECT source, poly_hash(chunk_text) AS chunk_fp FROM (
         |    SELECT source, concat_ws(' ', slice(toks,
         |      CAST(chunk_id * ${Curation.ChunkStride} + 1 AS INT),
         |      ${Curation.ChunkSize})) AS chunk_text
         |    FROM (
         |      SELECT source, toks,
         |        explode(sequence(0L, CASE WHEN n_tokens <= ${Curation.ChunkSize} THEN 0L
         |          ELSE (n_tokens - ${Curation.ChunkSize} + ${Curation.ChunkStride - 1})
         |            div ${Curation.ChunkStride} END)) AS chunk_id
         |      FROM (
         |        SELECT source, split(text, ' ') AS toks,
         |          CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
         |        FROM documents)))),
         |dfreq AS (SELECT chunk_fp, count(*) AS occ FROM chunks GROUP BY chunk_fp)
         |SELECT source, n_chunks, n_distinct_fps, n_dup_chunks,
         |  n_dup_chunks * 1000000L div n_chunks AS dup_ppm
         |FROM (
         |  SELECT c.source, count(*) AS n_chunks,
         |    count(DISTINCT c.chunk_fp) AS n_distinct_fps,
         |    sum(CASE WHEN d.occ > 1 THEN 1L ELSE 0L END) AS n_dup_chunks
         |  FROM chunks c JOIN dfreq d ON c.chunk_fp = d.chunk_fp
         |  GROUP BY c.source)""".stripMargin,
    "t_quality_deciles" ->
      s"""WITH q AS ($qualityScoreSparkSql),
         |j AS (
         |  SELECT d.source, q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens,
         |    q.quality_score,
         |    CAST(ntile(10) OVER (PARTITION BY d.source
         |      ORDER BY q.quality_score DESC, q.doc_id) AS BIGINT) AS decile
         |  FROM q JOIN (SELECT doc_id, source FROM documents) d
         |    ON q.doc_id = d.doc_id)
         |SELECT source, decile, count(*) AS n_docs, sum(n_tokens) AS sum_tokens,
         |  min(quality_score) AS min_score, max(quality_score) AS max_score
         |FROM j GROUP BY source, decile""".stripMargin,
    // the sketch-cutpoint decile plan in SQL clothes: one mergeable
    // approx_percentile aggregate, a broadcast-size cutpoint relation,
    // per-row higher-order bucket assignment — no per-source total sort
    "t_quality_deciles_approx" ->
      s"""WITH q AS ($qualityScoreSparkSql),
         |j AS (
         |  SELECT d.source, q.doc_id, CAST(q.n_tokens AS BIGINT) AS n_tokens,
         |    q.quality_score
         |  FROM q JOIN (SELECT doc_id, source FROM documents) d
         |    ON q.doc_id = d.doc_id),
         |cuts AS (
         |  SELECT source, approx_percentile(quality_score,
         |    array(${TextAnalysis.DecilePs.map(p => s"${p}D").mkString(", ")}),
         |    ${graft.operators.Analytics.ApproxQuantileAccuracy}) AS cuts
         |  FROM j GROUP BY source)
         |SELECT j.source, CAST(1 + size(filter(cuts.cuts, c -> j.quality_score > c)) AS BIGINT) AS bucket,
         |  count(*) AS n_docs, sum(n_tokens) AS sum_tokens,
         |  min(quality_score) AS min_score, max(quality_score) AS max_score
         |FROM j JOIN cuts ON j.source = cuts.source
         |GROUP BY 1, 2""".stripMargin,
    "t_quality_histogram" -> qualityHistogramSparkSql,
    // cutpoints read off the bounded grid: integer-exact ceil rank via
    // (p10*n + 9) div 10, first bin whose cumsum reaches it. The grid is
    // the SHARED histogram text (one constant, one bin expression) — the
    // sum_tokens column prunes away under the h projection.
    "t_quality_cutpoints_binned" ->
      s"""WITH h AS (
         |  SELECT source, bin, n_docs FROM ($qualityHistogramSparkSql)),
         |cum AS (
         |  SELECT source, bin, sum(n_docs) OVER (PARTITION BY source
         |    ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum_docs
         |  FROM h),
         |tot AS (SELECT source, sum(n_docs) AS n FROM h GROUP BY source),
         |ps AS (SELECT explode(sequence(1, 9)) AS p10)
         |SELECT cum.source, CAST(ps.p10 AS BIGINT) AS p10, min(cum.bin) AS cut_bin
         |FROM cum JOIN tot ON cum.source = tot.source CROSS JOIN ps
         |WHERE cum.cum_docs >= (ps.p10 * tot.n + 9) div 10
         |GROUP BY cum.source, ps.p10""".stripMargin,
    "t_top_ngrams" ->
      s"""WITH grams AS (
         |  SELECT source, explode(CASE WHEN size(toks) >= ${TextAnalysis.NgramW}
         |    THEN transform(sequence(0, size(toks) - ${TextAnalysis.NgramW}),
         |      i -> concat_ws(' ', slice(toks, i + 1, ${TextAnalysis.NgramW})))
         |    ELSE array() END) AS gram
         |  FROM (SELECT source, ${tokensSpark("text")} AS toks FROM documents)),
         |cnts AS (SELECT source, gram, count(*) AS cnt FROM grams GROUP BY 1, 2)
         |SELECT source, gram, cnt, rnk FROM (
         |  SELECT source, gram, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, gram) AS rnk
         |  FROM cnts)
         |WHERE rnk <= ${TextAnalysis.TopNgramK}""".stripMargin,
    // the executed 8-byte-gram-hash plan in SQL clothes: count on
    // poly_hash(gram), rank-with-ties candidates, recover display grams
    // for the candidate fps only, final re-rank by (cnt, gram)
    "t_top_ngrams_hashed" ->
      s"""WITH grams AS (
         |  SELECT source, gram, poly_hash(gram) AS gram_fp FROM (
         |    SELECT source, explode(CASE WHEN size(toks) >= ${TextAnalysis.NgramW}
         |      THEN transform(sequence(0, size(toks) - ${TextAnalysis.NgramW}),
         |        i -> concat_ws(' ', slice(toks, i + 1, ${TextAnalysis.NgramW})))
         |      ELSE array() END) AS gram
         |    FROM (SELECT source, ${tokensSpark("text")} AS toks FROM documents))),
         |cand AS (
         |  SELECT source AS c_source, gram_fp AS c_fp, cnt FROM (
         |    SELECT source, gram_fp, count(*) AS cnt,
         |      rank() OVER (PARTITION BY source ORDER BY count(*) DESC) AS crnk
         |    FROM grams GROUP BY source, gram_fp)
         |  WHERE crnk <= ${TextAnalysis.TopNgramK}),
         |recovered AS (
         |  SELECT DISTINCT g.source, g.gram, c.cnt
         |  FROM grams g JOIN cand c
         |    ON g.source = c.c_source AND g.gram_fp = c.c_fp)
         |SELECT source, gram, cnt, rnk FROM (
         |  SELECT source, gram, cnt,
         |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, gram) AS rnk
         |  FROM recovered)
         |WHERE rnk <= ${TextAnalysis.TopNgramK}""".stripMargin,
    "t_token_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, explode(${tokensSpark("text")}) AS tok FROM documents),
         |vocab AS (SELECT tok, count(*) AS wf FROM toks GROUP BY tok)
         |SELECT doc_id, count(*) AS n_tokens, sum(wf) AS sum_wf,
         |  min(wf) AS min_wf,
         |  sum(CASE WHEN wf = 1 THEN 1L ELSE 0L END) AS n_hapax
         |FROM toks t JOIN vocab v ON t.tok = v.tok
         |GROUP BY doc_id""".stripMargin,
    "p_incremental_chunk_dedup" ->
      s"""WITH chunks AS (
         |  SELECT doc_id, chunk_id, poly_hash(concat_ws(' ', slice(toks,
         |    CAST(chunk_id * ${Curation.ChunkStride} + 1 AS INT),
         |    ${Curation.ChunkSize}))) AS chunk_fp
         |  FROM (
         |    SELECT doc_id, toks,
         |      explode(sequence(0L, CASE WHEN n_tokens <= ${Curation.ChunkSize} THEN 0L
         |        ELSE (n_tokens - ${Curation.ChunkSize} + ${Curation.ChunkStride - 1})
         |          div ${Curation.ChunkStride} END)) AS chunk_id
         |    FROM (
         |      SELECT doc_id, split(text, ' ') AS toks,
         |        CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents))),
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
         |WHERE n.rn = 1""".stripMargin,
    "p_jsonl_roundtrip" ->
      """SELECT r.doc_id, r.text, r.lang, r.source FROM (
        |  SELECT from_json(
        |    to_json(struct(doc_id, text, lang, source)),
        |    'doc_id BIGINT, text STRING, lang STRING, source STRING') AS r
        |  FROM documents)
        |WHERE r.doc_id IS NOT NULL""".stripMargin,
    "p_forget_audit" ->
      s"""WITH fps AS (SELECT doc_id, poly_hash(text) AS fp FROM documents),
         |chunks AS (
         |  SELECT doc_id, poly_hash(concat_ws(' ', slice(toks,
         |    CAST(chunk_id * ${Curation.ChunkStride} + 1 AS INT),
         |    ${Curation.ChunkSize}))) AS chunk_fp
         |  FROM (
         |    SELECT doc_id, toks,
         |      explode(sequence(0L, CASE WHEN n_tokens <= ${Curation.ChunkSize} THEN 0L
         |        ELSE (n_tokens - ${Curation.ChunkSize} + ${Curation.ChunkStride - 1})
         |          div ${Curation.ChunkStride} END)) AS chunk_id
         |    FROM (
         |      SELECT doc_id, split(text, ' ') AS toks,
         |        CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
         |      FROM documents))),
         |ffp AS (SELECT DISTINCT fp FROM fps
         |        WHERE doc_id % ${Curation.ForgetMod} = ${Curation.ForgetRem}),
         |fch AS (SELECT DISTINCT chunk_fp FROM chunks
         |        WHERE doc_id % ${Curation.ForgetMod} = ${Curation.ForgetRem})
         |SELECT
         |  (SELECT count(*) FROM fps
         |   WHERE doc_id % ${Curation.ForgetMod} = ${Curation.ForgetRem}) AS n_forget,
         |  (SELECT count(*) FROM fps
         |   WHERE doc_id % ${Curation.ForgetMod} <> ${Curation.ForgetRem}) AS n_keep,
         |  (SELECT count(*) FROM fps JOIN ffp USING (fp)
         |   WHERE doc_id % ${Curation.ForgetMod} <> ${Curation.ForgetRem})
         |    AS residual_fp_docs,
         |  (SELECT count(DISTINCT doc_id) FROM chunks JOIN fch USING (chunk_fp)
         |   WHERE doc_id % ${Curation.ForgetMod} <> ${Curation.ForgetRem})
         |    AS residual_chunk_docs""".stripMargin,
    "t_repetition_stats" ->
      """WITH base AS (SELECT doc_id, split(text, ' ') AS toks FROM documents),
        |stats AS (
        |  SELECT doc_id, CAST(size(toks) AS BIGINT) AS n_tokens,
        |    CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct
        |  FROM base),
        |grams AS (
        |  SELECT doc_id, explode(CASE WHEN size(toks) >= 2
        |    THEN transform(sequence(0, size(toks) - 2), i -> concat_ws(' ', slice(toks, i + 1, 2)))
        |    ELSE array() END) AS gram
        |  FROM base),
        |top AS (
        |  SELECT doc_id, max(struct(cnt, gram)) AS top FROM (
        |    SELECT doc_id, gram, count(*) AS cnt FROM grams GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  (s.n_tokens - s.n_distinct) * 1000000L div s.n_tokens AS dup_token_frac_e6,
        |  coalesce(t.top.gram, '') AS top_bigram,
        |  coalesce(t.top.cnt, 0L) AS top_bigram_cnt,
        |  coalesce(t.top.cnt, 0L) * 2000000L div s.n_tokens AS top_bigram_frac_e6
        |FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id""".stripMargin,
    "s_hard_negatives" -> {
      val offsets = (Seq(0) ++ (0 until NumPlanes).map(j => 1 << j)).mkString(", ")
      s"""WITH corpus AS (
         |  SELECT vec_id, label, v, long_vector_dot(v, v) AS norm,
         |    ${lshBucketSpark("v")} AS bucket
         |  FROM (SELECT vec_id, label, ${quantizeSpark("embedding")} AS v FROM embeddings)),
         |probes AS (
         |  SELECT vec_id, label, v, norm, int(bucket ^ probe) AS pbucket
         |  FROM (SELECT *, explode(array($offsets)) AS probe
         |        FROM corpus WHERE vec_id < ${Similarity.NumQueries})),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         |    long_vector_dot(q.v, c.v) AS dot,
         |    ${cosineSpark("long_vector_dot(q.v, c.v)", "q.norm", "c.norm")} AS cos
         |  FROM probes q JOIN corpus c ON q.pbucket = c.bucket AND q.label <> c.label)
         |SELECT query_id, neighbor_id, neighbor_label, rnk, dot FROM (
         |  SELECT query_id, neighbor_id, neighbor_label, dot,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= ${Similarity.TopK}""".stripMargin
    },
    "a_expectations" ->
      """SELECT 'lineitem_nonempty' AS check_name, count(*) AS observed,
        |  count(*) > 0 AS passed FROM lineitem
        |UNION ALL
        |SELECT 'null_orderkeys', count(*), count(*) = 0
        |FROM lineitem WHERE l_orderkey IS NULL
        |UNION ALL
        |SELECT 'orphan_lineitems', count(*), count(*) = 0
        |FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'dup_orderkeys', count(*), count(*) = 0
        |FROM (SELECT o_orderkey FROM orders GROUP BY 1 HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'qty_out_of_range', count(*), count(*) = 0
        |FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50
        |UNION ALL
        |SELECT 'nonpositive_price', count(*), count(*) = 0
        |FROM lineitem WHERE l_extendedprice <= 0""".stripMargin,
    "p_bpe_merges" -> {
      // pair IS NOT NULL drops exhausted iterations (same guard as the
      // DuckDB oracle text in Curation.bpeMergesSql).
      val stats = (1 to Curation.BpeIters).map(i =>
        s"""SELECT * FROM (
           |  SELECT CAST($i AS BIGINT) AS it, (SELECT p FROM rule$i) AS pair,
           |    (SELECT cnt FROM rule$i) AS cnt,
           |    (SELECT sum(wf * CAST(size(split(syms, ' ')) AS BIGINT))
           |     FROM syms$i) AS corpus_syms) WHERE pair IS NOT NULL""".stripMargin)
        .mkString("\nUNION ALL\n")
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS wf
         |  FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |syms0 AS (
         |  SELECT word, wf, array_join(split(word, ''), ' ') AS syms FROM vocab),
         |${(1 to Curation.BpeIters).map(bpeIterSparkSql).mkString(",\n")}
         |$stats""".stripMargin
    },
    "p_bpe_tokenize" ->
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS wf
         |  FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |syms0 AS (
         |  SELECT word, wf, array_join(split(word, ''), ' ') AS syms FROM vocab),
         |${(1 to Curation.BpeIters).map(bpeIterSparkSql).mkString(",\n")},
         |sized AS (
         |  SELECT word, CAST(size(split(syms, ' ')) AS BIGINT) AS n_sub
         |  FROM syms${Curation.BpeIters})
         |SELECT doc_id, count(*) AS n_words, sum(n_sub) AS n_tokens_bpe
         |FROM (SELECT doc_id, explode(split(text, ' ')) AS word FROM documents) t
         |JOIN sized s ON t.word = s.word
         |GROUP BY doc_id""".stripMargin,
    "p_bpe_encode" ->
      s"""WITH vocab AS (
         |  SELECT word, count(*) AS wf
         |  FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
         |  GROUP BY word),
         |syms0 AS (
         |  SELECT word, wf, array_join(split(word, ''), ' ') AS syms FROM vocab),
         |${(1 to Curation.BpeIters).map(bpeIterSparkSql).mkString(",\n")},
         |toks AS (
         |  SELECT doc_id, pos, word FROM documents
         |  LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word)
         |SELECT doc_id,
         |  array_join(transform(array_sort(collect_list(struct(pos, syms))),
         |    x -> x.syms), ' ') AS bpe_text,
         |  sum(CAST(size(split(syms, ' ')) AS BIGINT)) AS n_syms
         |FROM toks t JOIN syms${Curation.BpeIters} s ON t.word = s.word
         |GROUP BY doc_id""".stripMargin,
    "p_upsert_merge" -> upsertMergeSparkSql,
    "s_lsh_recall" ->
      s"""WITH exact AS ($cosineTopKSparkSql),
         |approx AS ($lshTopKSparkSql)
         |SELECT e.query_id, count(*) AS k,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1L ELSE 0L END) AS hits
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY e.query_id""".stripMargin,
    "d_minhash_jaccard_eval" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, sig FROM (
         |    SELECT doc_id, minhash_sigs(text, ${Dedup.ShingleW}) AS sig FROM documents)
         |  WHERE size(sig) > 0),
         |bands AS (
         |  $minhashBandsSql),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1L ELSE 0L END),
         |      0L, (acc, x) -> acc + x) AS sig_matches
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |sh AS ($shingleRelSparkSql),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |ints AS (
         |  SELECT c.id_a, c.id_b, count(*) AS i
         |  FROM cands c
         |  JOIN sh x ON x.doc_id = c.id_a
         |  JOIN sh y ON y.doc_id = c.id_b AND y.sh = x.sh
         |  GROUP BY c.id_a, c.id_b)
         |SELECT c.id_a, c.id_b, c.sig_matches,
         |  coalesce(i.i, 0L) AS inter,
         |  sa.n + sb.n - coalesce(i.i, 0L) AS uni,
         |  CAST(c.sig_matches AS DOUBLE) / ${NumHashes} AS est_j,
         |  CAST(coalesce(i.i, 0L) AS DOUBLE) / (sa.n + sb.n - coalesce(i.i, 0L)) AS true_j
         |FROM cands c
         |LEFT JOIN ints i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |JOIN sizes sa ON sa.doc_id = c.id_a
         |JOIN sizes sb ON sb.doc_id = c.id_b""".stripMargin,
    "d_dup_shingle_stats" ->
      s"""WITH sh AS ($shingleRelSparkSql),
         |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         |SELECT doc_id, n_shingles, n_shared,
         |  CAST(n_shared AS DOUBLE) / n_shingles AS dup_frac,
         |  n_shared * 10 > n_shingles * 3 AS flagged
         |FROM (
         |  SELECT s.doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN d.df > 1 THEN 1L ELSE 0L END) AS n_shared
         |  FROM sh s JOIN dfreq d ON s.sh = d.sh
         |  GROUP BY s.doc_id)""".stripMargin,
    "d_shingle_novelty" ->
      s"""WITH sh AS ($shingleRelSparkSql),
         |first_seen AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
         |SELECT doc_id, n_shingles, n_novel,
         |  CAST(n_novel AS DOUBLE) / n_shingles AS novel_frac
         |FROM (
         |  SELECT s.doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN f.first_doc = s.doc_id THEN 1L ELSE 0L END) AS n_novel
         |  FROM sh s JOIN first_seen f ON s.sh = f.sh
         |  GROUP BY s.doc_id)""".stripMargin,
    "p_source_overlap" ->
      """WITH sf AS (
        |  SELECT DISTINCT source, poly_hash(text) AS fp FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_fps
        |FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "p_top_quality" ->
      s"""SELECT source, rk, doc_id, quality_score
         |FROM (
         |  SELECT d.source, q.doc_id, q.quality_score,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY q.quality_score DESC, q.doc_id) AS rk
         |  FROM ($qualityScoreSparkSql) q
         |  JOIN (SELECT doc_id, source FROM documents) d ON q.doc_id = d.doc_id)
         |WHERE rk <= ${Curation.QualityTopK}""".stripMargin,
    "p_mix_weights" ->
      s"""SELECT source, n_docs, n_tokens, total_tokens,
         |  CAST(n_tokens AS DOUBLE) / total_tokens AS token_share,
         |  least(CAST(1.0 AS DOUBLE),
         |    CAST(total_tokens div n_sources AS DOUBLE) / n_tokens) AS sample_ratio
         |FROM (
         |  SELECT source, n_docs, n_tokens,
         |    sum(n_tokens) OVER () AS total_tokens,
         |    count(*) OVER () AS n_sources
         |  FROM (
         |    SELECT source, count(*) AS n_docs,
         |      sum(CAST(size(${tokensSpark("text")}) AS BIGINT)) AS n_tokens
         |    FROM documents
         |    GROUP BY source))""".stripMargin,
    "p_mix_sample" -> {
      val m = Curation.MixHashMod
      s"""WITH t AS (
         |  SELECT source AS t_source,
         |    least($m, (total_tokens div n_sources) * $m div src_tokens)
         |      AS keep_thresh
         |  FROM (
         |    SELECT source, src_tokens,
         |      sum(src_tokens) OVER () AS total_tokens,
         |      count(*) OVER () AS n_sources
         |    FROM (
         |      SELECT source,
         |        sum(CAST(size(${tokensSpark("text")}) AS BIGINT)) AS src_tokens
         |      FROM documents
         |      GROUP BY source)))
         |SELECT doc_id, source, keep_thresh
         |FROM (SELECT doc_id, source, poly_hash(text) AS fp FROM documents) d
         |JOIN t ON d.source = t.t_source
         |WHERE pmod(fp, $m) < keep_thresh""".stripMargin
    },
    "p_quality_dup_calibration" ->
      s"""WITH q AS ($qualityScoreSparkSql),
         |buckets AS (
         |  SELECT doc_id, least(CAST(floor(quality_score * 10) AS BIGINT), 9) AS bucket
         |  FROM q),
         |fps AS (SELECT doc_id, poly_hash(text) AS fp FROM documents),
         |dup_fps AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
         |dup_docs AS (
         |  SELECT doc_id, 1L AS is_dup FROM fps
         |  WHERE fp IN (SELECT fp FROM dup_fps))
         |SELECT bucket, count(*) AS n_docs,
         |  sum(coalesce(is_dup, 0L)) AS n_dup_docs,
         |  CAST(sum(coalesce(is_dup, 0L)) AS DOUBLE) / count(*) AS dup_rate
         |FROM buckets LEFT JOIN dup_docs USING (doc_id)
         |GROUP BY bucket""".stripMargin,
    "a_quantiles_approx" ->
      s"""WITH agg AS (
         |  SELECT l_returnflag,
         |    approx_percentile(CAST(floor(l_quantity) AS BIGINT),
         |      array(0.25D, 0.5D, 0.75D),
         |      ${graft.operators.Analytics.ApproxQuantileAccuracy}) AS qs
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(q_idx AS BIGINT) AS q_idx, q_val
         |FROM agg LATERAL VIEW posexplode(qs) t AS q_idx, q_val""".stripMargin,
    "d_modality_agreement" ->
      s"""WITH $simhashPairsSparkCtes,
         |q AS ($quantizedSparkSql)
         |SELECT p.id_a, p.id_b, p.hamming,
         |  long_vector_dot(a.v, b.v) AS dot, a.norm AS na, b.norm AS nb,
         |  ${cosineSpark("long_vector_dot(a.v, b.v)", "a.norm", "b.norm")} AS cos
         |FROM spairs p
         |JOIN q a ON a.vec_id = p.id_a
         |JOIN q b ON b.vec_id = p.id_b""".stripMargin,
    "p_corpus_curation" ->
      s"""WITH fps AS (
         |  SELECT doc_id, source, text, poly_hash(text) AS fp FROM documents),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fps GROUP BY fp),
         |annotated AS (
         |  SELECT f.doc_id, f.source,
         |    size(split(f.text, ' ')) AS n_tokens,
         |    size(filter(split(f.text, ' '), t -> t IN ${inList(TextAnalysis.Stopwords)})) AS stop_cnt,
         |    size(array_distinct(split(f.text, ' '))) AS n_distinct,
         |    size(filter(split(f.text, ' '), t -> t IN ${inList(TextAnalysis.EnMarkers)})) AS en_cnt,
         |    size(filter(split(f.text, ' '), t -> t IN ${inList(TextAnalysis.EsMarkers)})) AS es_cnt,
         |    size(filter(split(f.text, ' '), t -> t IN ${inList(TextAnalysis.FrMarkers)})) AS fr_cnt
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
         |  sum(n_tokens) AS sum_tokens, sum(stop_cnt) AS sum_stop
         |FROM scored
         |WHERE quality_score > 0.5 AND n_tokens >= 10
         |GROUP BY source, lang_pred""".stripMargin,
    "q3_skew_stats" -> q3SkewStatsSparkSql,
    "q3_skew_stats_approx" ->
      s"""SELECT event_time div $slot AS ltw, count(*) AS m_total,
         |  approx_count_distinct(z, 0.01D) AS k_keys_approx
         |FROM graft_zx GROUP BY event_time div $slot""".stripMargin,
    "q3_adaptive_windowed_count" ->
      s"""WITH strat AS (SELECT ltw, strategy FROM ($q3SkewStatsSparkSql)),
         |counts AS (
         |  SELECT z, event_time div $slot AS ltw, count(*) AS cnt
         |  FROM graft_zx GROUP BY z, event_time div $slot)
         |SELECT counts.z, counts.ltw, counts.cnt, strat.strategy
         |FROM counts JOIN strat ON counts.ltw = strat.ltw""".stripMargin) ++ graphSql

  /** Spark-dialect skew-stats + cost-model strategy (the q3_skew_stats
    * gate; also the `strat` input of q3_adaptive_windowed_count). Window
    * total via sum() OVER rather than the DataFrame form's broadcast
    * totals join — value-identical longs either way.
    */
  private lazy val q3SkewStatsSparkSql: String =
    s"""WITH counts AS (
       |  SELECT event_time div $slot AS ltw, z, count(*) AS cnt
       |  FROM graft_zx GROUP BY event_time div $slot, z),
       |wt AS (
       |  SELECT ltw, z, cnt, sum(cnt) OVER (PARTITION BY ltw) AS total
       |  FROM counts),
       |s AS (
       |  SELECT ltw, max(total) AS m_total, count(*) AS k_keys, max(cnt) AS max_cnt,
       |    sum(CASE WHEN cnt * 60 > total THEN 1L ELSE 0L END) AS head_num,
       |    sum(CASE WHEN cnt = 1 THEN 1L ELSE 0L END) AS single_num
       |  FROM wt GROUP BY ltw)
       |SELECT ltw, m_total, k_keys, max_cnt,
       |  max_cnt / m_total AS p1, head_num, single_num,
       |  CASE WHEN (13.26D * (max_cnt / m_total) + 1.02D) * m_total / 12.0D
       |            <= m_total / 12.0D + 0.01D * (k_keys + head_num * 10 - single_num)
       |       THEN 0L ELSE 1L END AS strategy
       |FROM s""".stripMargin

  // ------------------------------------------------------------------
  // Graph family — the PageRank chain unrolled in the Spark dialect
  // (`div` for BIGINT floor division where DuckDB writes `//`; Spark's
  // BIGINT sum never widens, so no cast-back is needed).
  // ------------------------------------------------------------------

  private val graphChainSparkSql: String = {
    import graft.operators.Graph.{Iters, Scale}
    val head =
      s"""pairs AS (
         |  SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2L AS cust,
         |    CAST(l_suppkey AS BIGINT) * 2L + 1L AS supp
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS (
         |  SELECT cust AS src, supp AS dst FROM pairs
         |  UNION ALL
         |  SELECT supp AS src, cust AS dst FROM pairs),
         |deg AS (SELECT src AS id, count(*) AS outdeg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT id, (SELECT ${Scale}L div n FROM nn) AS pr FROM deg)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""c$i AS (
         |  SELECT r.id, r.pr div d.outdeg AS c
         |  FROM r${i - 1} r JOIN deg d USING (id)),
         |r$i AS (
         |  SELECT e.dst AS id,
         |    (SELECT (15L * ${Scale}L) div (100L * n) FROM nn)
         |      + (85L * sum(c.c)) div 100L AS pr
         |  FROM edges e JOIN c$i c ON c.id = e.src
         |  GROUP BY e.dst)""".stripMargin
    }
    (head +: iters).mkString(",\n")
  }

  private lazy val graphSql: Map[String, String] = {
    import graft.operators.Graph.Iters
    Map(
      "g_pagerank" ->
        s"""WITH $graphChainSparkSql
           |SELECT id AS node_id, pr FROM r$Iters""".stripMargin,
      "g_pagerank_converge" -> {
        val rows = (1 to Iters).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS it,
             |  sum(abs(a.pr - b.pr)) AS l1_delta,
             |  sum(CASE WHEN a.pr <> b.pr THEN 1L ELSE 0L END) AS moved
             |FROM r${i - 1} a JOIN r$i b USING (id)""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $graphChainSparkSql
           |$rows""".stripMargin
      },
      "g_degree_hist" ->
        s"""WITH $graphChainSparkSql
           |SELECT CASE WHEN id % 2L = 1L THEN 'supplier' ELSE 'customer' END AS side,
           |  outdeg, count(*) AS nodes
           |FROM deg GROUP BY 1, 2""".stripMargin)
  }

  /** Run one reference query through the SQL surface. */
  def run(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    registerViews(spark, sfDir)
    spark.sql(sql(name))
  }
}
