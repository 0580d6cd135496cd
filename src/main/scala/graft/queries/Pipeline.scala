package graft.queries

import graft.Tables
import graft.ops.{Ann, Dedup, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline + event-stream queries (SURVEY §2.3 / §2.4).
  * SQL-expressible operators carry DuckDB oracles; LSH-based operators
  * (xxhash64-dependent) are deterministic rows-only entries backed by
  * ScalaTest ground-truth specs.
  */
object Pipeline {

  // ---- text analysis ---------------------------------------------------

  def qTokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).as("bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_m"))

  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    val feats = TextAnalysis.qualityFeatures("text")
    Tables.documents(s, dir).select(
      col("doc_id") +: feats.map { case (n, c) => c.as(n) }: _*)
  }

  def qFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  def qLangId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      col("lang").as("labeled_lang"),
      TextAnalysis.langId("text").as("pred_lang"))

  def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionProfile(Tables.documents(s, dir), "doc_id", "text")

  // ---- dedup -----------------------------------------------------------

  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")

  def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDuplicates(Tables.documents(s, dir), "doc_id", "text", threshold = 0.5)

  def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDuplicates(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)

  def qNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardSearch(Tables.documents(s, dir), "doc_id", "text",
      queryPred = col("id") < 50, threshold = 0.15)

  /** Duplicate clusters via connected components over exact-Jaccard
    * pairs (bounded to doc_id < 500 so DuckDB's recursive CTE can
    * replay it as the oracle; DedupSpec exercises the operator on
    * LSH-candidate pairs at scale). */
  def qDupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val pairs = Dedup.ngramJaccardSearch(docs, "doc_id", "text", lit(true), 0.5)
    Dedup.duplicateClusters(pairs)
  }

  /** The END-TO-END near-dup dedup a corpus pipeline actually runs
    * (SURVEY L24): similarity pairs → connected components → keep one
    * doc per cluster (the min-id root) plus every unclustered doc.
    * Transitive closure matters: pairwise keep-min would retain B from
    * a chain A~B, B~C where only the cluster root A should survive.
    * Scale: clustering runs on near-dup PAIRS (≪ corpus), the final
    * keep-set anti-join is one shuffle on doc_id. */
  def qNeardupKeep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
    val pairs = Dedup.ngramJaccardSearch(docs, "doc_id", "text", lit(true), 0.5)
    val drop = Dedup.duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_root"))
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Same search via LSH candidates — the benched scale path (rows-only:
    * recall is the band schedule's, so no SQL oracle; the exact form
    * above stays as the oracle gate). */
  def qNgramJaccardLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardSearchLsh(Tables.documents(s, dir), "doc_id", "text",
      queryPred = col("id") < 50, threshold = 0.15)

  // ---- embeddings / ANN ------------------------------------------------

  def qEmbedMeta(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"), col("label"),
      size(col("embedding")).cast("int").as("dim"),
      element_at(col("embedding"), 1).cast("double").as("c0"))

  /** Per-label embedding centroid in long form (label, dim position,
    * mean) — the class-centroid computation IVF/clustering training
    * starts from. Element sums go through decimal so the reduction is
    * order-independent (float accumulation order differs per engine);
    * the one division rounds at 6 decimals. posexplode is map-side; the
    * shuffle carries (label, pos) partial sums — dims × labels rows. */
  def qVecCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("v").cast("decimal(20,10)")).cast("double") / count(lit(1)), 6)
        .as("mean_v"))

  /** Output ids+rank only: cosine VALUES differ across engines in the
    * last float bits, but rank order is stable (measured rank-boundary
    * gap 1.9e-5 vs 2.7e-8 cross-engine cosine error at sf0.01). */
  def qAnnBruteforce(s: SparkSession, dir: String): DataFrame =
    Ann.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      queryPred = col("query_id") < 10, k = 5)
      .select(col("query_id"), col("nn_id"), col("rank").cast("long").as("rk"))

  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
      queryPred = col("query_id") < 10, k = 5)

  /** Exact-cosine IVF search over the COMMITTED coarse cells (r17):
    * the cell assignment and centroids come from the table's committed
    * vector index ([[graft.meta.VectorIndex]] — sidecars, not session
    * memos), and the candidates' float vectors join back from the
    * corpus by id — at 100 TB the cells are an id-keyed sidecar next
    * to the data and only probed cells' members re-read their vectors,
    * the classic IVF-with-re-rank serving shape. */
  def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val cat = Vectors.pqCatFor(s, dir)
    val (model, codes) = graft.meta.VectorIndex.committed(s, cat, "embeddings")
    val assigned = codes
      .select(col(graft.meta.VectorIndex.IdCol).as("nn_id"), col("cell"))
      .join(Tables.embeddings(s, dir)
        .select(col("vec_id").as("nn_id"), col("embedding").as("nn_vec")), "nn_id")
    val q = Tables.embeddings(s, dir)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .filter(col("query_id") < 10)
    Ann.ivfSearch(Ann.IvfIndex(assigned, model.ivfCentroids),
      q, "query_id", "q_vec", k = 5, excludeSelf = true)
  }

  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.cosineNearDup(Tables.embeddings(s, dir), "vec_id", "embedding", threshold = 0.35)

  // ---- multimodal metadata --------------------------------------------

  /** Typed metadata over an opaque payload column (SURVEY §2.3 L12's
    * SQL-checkable slice; the binary plumbing lives in ops.Multimodal). */
  def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      octet_length(col("text")).cast("long").as("byte_len"),
      md5(col("text")).as("content_hash"))

  /** The full multimodal decode path (Dataset[MediaRecord] →
    * mapPartitions batch decode → features), oracle-checked: the stub
    * decoder's sha256-derived dimensions are reproducible in SQL. */
  def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Multimodal
    Multimodal.decodeFeatures(Multimodal.toMediaRecords(Tables.documents(s, dir)))
      .toDF()
      .select(col("docId").as("doc_id"), col("mediaType").as("media_type"),
        col("byteLen").cast("long").as("byte_len"), col("sha256"),
        col("width").cast("int").as("width"), col("height").cast("int").as("height"),
        col("durationMs").cast("long").as("duration_ms"))
  }

  // ---- events ----------------------------------------------------------

  def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyWindowedBatch(Tables.events(s, dir))

  def qSessionize(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionize(Tables.events(s, dir))

  /** Lexical diversity (L29): TTR + hapax rate per document. */
  def qLexicalDiversity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.lexicalDiversity(Tables.documents(s, dir), "doc_id", "text")

  /** Boilerplate prefix clusters (L30). k=2 on the synthetic word-soup
    * corpus so clusters actually form; real corpora use k ~ 8-32. */
  def qBoilerplatePrefix(s: SparkSession, dir: String): DataFrame =
    Dedup.prefixClusters(Tables.documents(s, dir), "doc_id", "text", k = 2)

  /** PII redaction over synthesized-but-deterministic PII (SURVEY §2.3
    * L34): the corpus carries no emails/phones/IPs, so the query plants
    * one of each per document, derived from `doc_id` IDENTICALLY in the
    * oracle SQL — redaction and audit counts are then hash-exact
    * checkable end to end. All map-side codegen'd expressions. */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com ip 10."),
      (col("doc_id") % 256).cast("string"), lit(".0.1 tel 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-0199"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.piiRedact(raw).as("redacted"),
      TextAnalysis.piiCount(raw, TextAnalysis.EmailRe).as("n_emails"),
      TextAnalysis.piiCount(raw, TextAnalysis.Ipv4Re).as("n_ips"),
      TextAnalysis.piiCount(raw, TextAnalysis.PhoneRe).as("n_phones"))
  }

  /** Canonical normalization (SURVEY §2.3 L35) over a deliberately
    * messy form (upper-cased text + tab/space runs), hash-checked
    * against the oracle's identical formulation. */
  def qNormalizeText(s: SparkSession, dir: String): DataFrame = {
    val raw = concat(upper(col("text")), lit("  \t  The  End   "))
    Tables.documents(s, dir).select(
      col("doc_id"),
      TextAnalysis.normalizeText(raw).as("norm_text"),
      length(TextAnalysis.normalizeText(raw)).cast("long").as("n_chars"))
  }

  /** Per-domain corpus analytics (SURVEY §2.3 L37): the web-pipeline
    * rollup that decides which sites to keep, throttle or drop. The
    * corpus carries no URLs, so each doc plants one derived from doc_id
    * IDENTICALLY in the oracle (the PII-query discipline); host/domain/
    * TLD extraction is regexp work in the Java∩RE2 subset, map-side
    * inside the scan stage, followed by ONE domain-cardinality-sized
    * aggregation — linear at 100 TB. */
  def qUrlDomains(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("https://"),
      when(col("doc_id") % 5 === 0, lit("www.")).otherwise(lit("")),
      lit("site"), (col("doc_id") % 7).cast("string"), lit(".example"),
      when(col("doc_id") % 3 === 0, lit(".org")).otherwise(lit(".com")),
      lit("/p/"), col("doc_id").cast("string"), lit("?l="), col("lang"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.urlDomain(url).as("domain"), TextAnalysis.urlTld(url).as("tld"))
      .groupBy(col("domain"), col("tld"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Incremental ingest dedup, exact form (SURVEY §2.3 L36): a synthetic
    * "new batch" — exact clones of every 7th≡3 corpus doc plus uniquely
    * suffixed (novel) variants of every 7th≡5 — is annotated against the
    * full corpus fingerprint index. Clones must resolve to their corpus
    * keeper, novels to null, hash-exact vs the oracle's identical
    * construction. */
  def qIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val clones = docs.filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val novels = docs.filter(col("doc_id") % 7 === 5)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" novel suffix "), col("doc_id")).as("text"))
    Dedup.exactAgainstCorpus(clones.unionByName(novels), docs, "doc_id", "text")
  }

  /** Near-dup form of the ingest dedup (rows-only: LSH candidates are
    * not SQL-expressible; recall is spec-gated in DedupSpec): lightly
    * edited clones of every 11th corpus doc probe the corpus band
    * index and must come back with their best match. */
  def qIncrNeardup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val edited = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"),
        concat(lit("zzz "), substring(col("text"), 5, 1000000)).as("text"))
    Dedup.nearDupAgainstCorpus(edited, docs, "doc_id", "text", threshold = 0.7)
  }

  /** Repeated-substring span stats (L42, Lee et al. exact-substring
    * pass): per-doc window/duplicated-window counts at k=8 tokens —
    * string-gram ORACLE form (DuckDB replays the window algebra). */
  def qSubstringDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.SubstringDedup.markDuplicated(
      Tables.documents(s, dir), "doc_id", "text", k = 8)

  /** L42's shuffle-byte scale path: identical counts over xxhash64'd
    * grams (8-byte shuffle keys instead of k-token strings); equality
    * with the string form is spec-pinned, driver records rows. */
  def qSubstringDedupHashed(s: SparkSession, dir: String): DataFrame =
    graft.ops.SubstringDedup.markDuplicated(
      Tables.documents(s, dir), "doc_id", "text", k = 8, hashed = true)

  /** SemDeDup (L43) oracle form: axis-projection clusters + fixed-point
    * integer cosine threshold (τ=0.3) — engine-exact kept/dropped. */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.ops.SemDedup.markDuplicatesExact(e, "vec_id", "embedding",
      graft.ops.SemDedup.axisCluster(col("embedding")))
  }

  /** LM perplexity filter (L44, CCNet/stupid-backoff) — ORACLE form:
    * the bigram model trains on the doc_id%10==0 subset and scores
    * EVERY doc, so known/backoff/OOV paths are all exercised; the
    * integer statistics (bigram count, in-model count) are
    * engine-exact. The float ppl rides in `q_lm_ppl` (rows-only;
    * `LmScoreSpec` pins the log math against a naive scorer). */
  def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = graft.ops.LmScore.train(
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    graft.ops.LmScore.score(docs, "doc_id", "text", m)
      .select(col("doc_id"), col("n_bigrams"), col("n_known"))
  }

  /** L44 full output on the self-trained model: per-doc perplexity,
    * the CCNet filtering statistic (rows-only — transcendental). */
  def qLmPpl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = graft.ops.LmScore.train(docs, "doc_id", "text")
    graft.ops.LmScore.score(docs, "doc_id", "text", m)
  }

  /** Quality classifier (L45, GPT-3-style tf-idf logistic regression):
    * train on the even-id half labeled lang=='en', score the held-out
    * odd-id half, roll up predicted-vs-true counts per lang (rows-only
    * — L-BFGS training isn't SQL-expressible; `QualityClassifierSpec`
    * gates held-out separation ≥96% on separable corpora). */
  def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // a fixture per sf-dir: the classifier trains ONCE on the even-id
    // half (bench-the-score-not-the-build, like the ANN indexes);
    // scoring is map-side under broadcast coefficients
    val m = Fixtures("qc_model", dir) {
      graft.ops.QualityClassifier.train(
        docs.filter(col("doc_id") % 2 === 0)
          .withColumn("label", (col("lang") === "en").cast("double")),
        "text", "label", numFeatures = 1 << 16, maxIter = 30)
    }
    graft.ops.QualityClassifier.score(docs.filter(col("doc_id") % 2 === 1), "text", m)
      .groupBy(col("lang"), (col("quality_prob") > 0.5).as("predicted_en"))
      .agg(count(lit(1)).as("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_lm_score" -> (qLmScore _),
    "q_lm_ppl" -> (qLmPpl _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_substring_dedup_hashed" -> (qSubstringDedupHashed _),
    "q_semdedup" -> (qSemDedup _),
    "q_incr_dedup" -> (qIncrDedup _),
    "q_incr_neardup" -> (qIncrNeardup _),
    "q_pii_redact" -> (qPiiRedact _),
    "q_normalize_text" -> (qNormalizeText _),
    "q_url_domains" -> (qUrlDomains _),
    "q_lexical_diversity" -> (qLexicalDiversity _),
    "q_boilerplate_prefix" -> (qBoilerplatePrefix _),
    "q_token_count" -> (qTokenCount _),
    "q_quality_score" -> (qQualityScore _),
    "q_fingerprint" -> (qFingerprint _),
    "q_lang_id" -> (qLangId _),
    "q_repetition" -> (qRepetition _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_dup_clusters" -> (qDupClusters _),
    "q_neardup_keep" -> (qNeardupKeep _),
    "q_ngram_jaccard_lsh" -> (qNgramJaccardLsh _),
    "q_embed_meta" -> (qEmbedMeta _),
    "q_vec_centroids" -> (qVecCentroids _),
    "q_ann_bruteforce" -> (qAnnBruteforce _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_embed_neardup" -> (qEmbedNearDup _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_multimodal_decode" -> (qMultimodalDecode _),
    "q_events_window" -> (qEventsWindow _),
    "q_sessionize" -> (qSessionize _))

  private val stop = (l: Seq[String]) => l.map(v => s"'$v'").mkString("(", ",", ")")
  private val enL = stop(TextAnalysis.EnStop)
  private val esL = stop(TextAnalysis.EsStop)
  private val frL = stop(TextAnalysis.FrStop)
  private val deL = stop(TextAnalysis.DeStop)

  val oracles: Map[String, String] = Map(
    // L44: DuckDB replays the bigram window + subset-model membership
    // join — integer counts are engine-exact (the float ppl is
    // rows-only in q_lm_ppl)
    "q_lm_score" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(unnest(range(1, array_length(words))) AS INT) AS pos, words
        |  FROM w),
        |bi AS (
        |  SELECT doc_id, words[pos] AS t1, words[pos + 1] AS t2 FROM g),
        |model AS (
        |  SELECT DISTINCT t1, t2 FROM bi WHERE doc_id % 10 = 0)
        |SELECT bi.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN m.t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_known
        |FROM bi LEFT JOIN model m ON m.t1 = bi.t1 AND m.t2 = bi.t2
        |GROUP BY 1""".stripMargin,
    // L42: DuckDB replays the k=8 sliding-window gram algebra on the
    // literal gram strings — engine-exact integer counts
    "q_substring_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(unnest(range(1, greatest(array_length(words) - 6, 1))) AS INT) AS pos,
        |    words
        |  FROM w),
        |g2 AS (
        |  SELECT doc_id, array_to_string(words[pos:pos+7], ' ') AS gram FROM g),
        |o AS (
        |  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g2 GROUP BY 1)
        |SELECT g2.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(CASE WHEN o.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
        |FROM g2 JOIN o USING (gram)
        |GROUP BY 1""".stripMargin,
    // L43: axis-projection clusters + fixed-point integer cosine test
    // (100·dot² ≥ 9·|a|²·|b|² ⇔ cos ≥ 0.3) — exact integer arithmetic
    // in both engines, so kept/dropped hash-matches
    "q_semdedup" ->
      """WITH cl AS (
        |  SELECT vec_id,
        |    CAST(list_position(embedding, list_aggregate(embedding, 'max')) AS INT) AS cluster
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 10000000) AS BIGINT) AS vi
        |  FROM embeddings),
        |n AS (SELECT vec_id, SUM(vi * vi) AS n2 FROM e GROUP BY 1),
        |d AS (
        |  SELECT ca.vec_id AS ida, cb.vec_id AS idb, SUM(ea.vi * eb.vi) AS dot
        |  FROM cl ca JOIN cl cb ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id
        |  JOIN e ea ON ea.vec_id = ca.vec_id
        |  JOIN e eb ON eb.vec_id = cb.vec_id AND eb.pos = ea.pos
        |  GROUP BY 1, 2),
        |dup AS (
        |  SELECT DISTINCT d.idb
        |  FROM d JOIN n na ON na.vec_id = d.ida JOIN n nb ON nb.vec_id = d.idb
        |  WHERE d.dot >= 0
        |    AND 100 * CAST(d.dot AS HUGEINT) * CAST(d.dot AS HUGEINT)
        |        >= 9 * CAST(na.n2 AS HUGEINT) * CAST(nb.n2 AS HUGEINT))
        |SELECT cl.vec_id, cl.cluster, (dup.idb IS NULL) AS kept
        |FROM cl LEFT JOIN dup ON dup.idb = cl.vec_id""".stripMargin,
    "q_incr_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, text
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    text || ' novel suffix ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 7 = 5),
        |idx AS (
        |  SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
        |    MIN(doc_id) AS dup_of
        |  FROM documents GROUP BY 1)
        |SELECT b.doc_id, i.dup_of, i.dup_of IS NOT NULL AS is_dup
        |FROM batch b
        |LEFT JOIN idx i
        |  ON md5(regexp_replace(lower(b.text), '\s+', ' ', 'g')) = i.fingerprint""".stripMargin,
    "q_pii_redact" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.'
        |      || CAST(doc_id % 256 AS VARCHAR) || '.0.1 tel 555-'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' AS r
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(r, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(r, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(r, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phones
        |FROM raw""".stripMargin,
    "q_normalize_text" ->
      """WITH raw AS (
        |  SELECT doc_id, upper(text) || '  ' || chr(9) || '  The  End   ' AS r
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(r), '\s+', ' ', 'g')) AS norm_text,
        |  length(trim(regexp_replace(lower(r), '\s+', ' ', 'g'))) AS n_chars
        |FROM raw""".stripMargin,
    "q_url_domains" ->
      """WITH u AS (
        |  SELECT doc_id, lang, n_chars,
        |    'https://' || CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
        |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
        |    CASE WHEN doc_id % 3 = 0 THEN '.org' ELSE '.com' END ||
        |    '/p/' || CAST(doc_id AS VARCHAR) || '?l=' || lang AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, n_chars,
        |    regexp_replace(
        |      regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1), '^www\.', '') AS domain
        |  FROM u)
        |SELECT domain,
        |  regexp_extract(domain, '\.([A-Za-z]+)$', 1) AS tld,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM d GROUP BY 1, 2""".stripMargin,
    "q_lexical_diversity" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_words,
        |  COUNT(*) AS n_types,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
        |  ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio
        |FROM c GROUP BY 1""".stripMargin,
    "q_boilerplate_prefix" ->
      """SELECT array_to_string(list_slice(string_split(lower(text), ' '), 1, 2), ' ') AS prefix,
        |  COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars_m
        |FROM documents""".stripMargin,
    "q_quality_score" ->
      s"""SELECT doc_id,
         |  CAST(LENGTH(text) AS BIGINT) AS n_chars,
         |  len(string_split(lower(text), ' ')) AS n_words,
         |  len(list_filter(string_split(lower(text), ' '), w -> w IN $enL)) AS stop_hits,
         |  LENGTH(replace(text, ' ', '')) / len(string_split(lower(text), ' ')) AS mean_word_len,
         |  len(list_filter(string_split(lower(text), ' '), w -> w IN $enL)) / len(string_split(lower(text), ' ')) AS stop_ratio,
         |  (LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;]', '', 'g'))) / LENGTH(text) AS punct_ratio,
         |  len(list_filter(string_split(lower(text), ' '), w -> w IN $enL)) / len(string_split(lower(text), ' ')) * 0.5
         |    + (LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;]', '', 'g'))) / LENGTH(text) * 0.2
         |    + LENGTH(replace(text, ' ', '')) / len(string_split(lower(text), ' ')) * 0.06 AS quality_score
         |FROM documents""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    "q_lang_id" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    len(list_filter(string_split(lower(text), ' '), w -> w IN $enL)) AS en,
         |    len(list_filter(string_split(lower(text), ' '), w -> w IN $esL)) AS es,
         |    len(list_filter(string_split(lower(text), ' '), w -> w IN $frL)) AS fr,
         |    len(list_filter(string_split(lower(text), ' '), w -> w IN $deL)) AS de
         |  FROM documents)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN en = 0 AND es = 0 AND fr = 0 AND de = 0 THEN 'und'
         |       WHEN en >= es AND en >= fr AND en >= de THEN 'en'
         |       WHEN es >= fr AND es >= de THEN 'es'
         |       WHEN fr >= de THEN 'fr'
         |       ELSE 'de' END AS pred_lang
         |FROM h""".stripMargin,
    "q_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        |  FROM documents),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY 1, 2),
        |a AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
        |    COUNT(*) AS n_distinct, CAST(MAX(c) AS BIGINT) AS top_freq
        |  FROM c GROUP BY 1),
        |tw AS (
        |  SELECT doc_id, w AS top_word FROM (
        |    SELECT doc_id, w,
        |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
        |    FROM c) r
        |  WHERE rn = 1)
        |SELECT a.doc_id, a.n_words, a.n_distinct,
        |  ROUND(1 - a.n_distinct / CAST(a.n_words AS DOUBLE), 6) AS rep_ratio,
        |  a.top_freq, tw.top_word
        |FROM a JOIN tw USING (doc_id)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |      i -> string_split(lower(text), ' ')[i] || ' ' ||
        |           string_split(lower(text), ' ')[i+1] || ' ' ||
        |           string_split(lower(text), ' ')[i+2])) AS s
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 3
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    len(list_intersect(a.s, b.s)) /
        |      (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id < 50) t
        |WHERE jaccard >= 0.15""".stripMargin,
    "q_dup_clusters" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |      i -> string_split(lower(text), ' ')[i] || ' ' ||
        |           string_split(lower(text), ' ')[i+1] || ' ' ||
        |           string_split(lower(text), ' ')[i+2])) AS s
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 3 AND doc_id < 500),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u)
        |SELECT id AS doc_id, MIN(r) AS cluster_root FROM reach GROUP BY 1""".stripMargin,
    "q_neardup_keep" ->
      """WITH RECURSIVE
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |      i -> string_split(lower(text), ' ')[i] || ' ' ||
        |           string_split(lower(text), ' ')[i+1] || ' ' ||
        |           string_split(lower(text), ' ')[i+2])) AS s
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 3 AND doc_id < 500),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) /
        |    (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5),
        |edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach(id, r) AS (
        |  SELECT u, u FROM edges
        |  UNION
        |  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u),
        |drop_ids AS (
        |  SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d
        |WHERE d.doc_id < 500 AND d.doc_id NOT IN (SELECT id FROM drop_ids)""".stripMargin,
    "q_embed_meta" ->
      """SELECT vec_id, label,
        |  CAST(len(embedding) AS INT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS c0
        |FROM embeddings""".stripMargin,
    "q_vec_centroids" ->
      """SELECT label, pos,
        |  ROUND(CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS mean_v
        |FROM (
        |  SELECT label,
        |    CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |    unnest(embedding) AS v
        |  FROM embeddings) t
        |GROUP BY 1, 2""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_hash
        |FROM documents""".stripMargin,
    "q_ann_bruteforce" ->
      """SELECT query_id, nn_id, rk FROM (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nn_id,
        |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rk
        |  FROM embeddings a
        |  JOIN embeddings b ON b.vec_id != a.vec_id
        |  WHERE a.vec_id < 10) t
        |WHERE rk <= 5""".stripMargin,
    "q_multimodal_decode" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS media_type,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |    sha256(text) AS sha256,
        |    ('0x' || substring(sha256(text), 1, 8))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, media_type, byte_len, sha256,
        |  CAST(h % 1920 + 1 AS INT) AS width,
        |  CAST((h // 1920) % 1080 + 1 AS INT) AS height,
        |  CASE WHEN media_type = 'image' THEN 0 ELSE h % 600000 END AS duration_ms
        |FROM m""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS ws_epoch,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |x AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
        |FROM s GROUP BY user_id, session_id""".stripMargin)
}
