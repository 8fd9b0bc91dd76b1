package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionArtifacts, Tables}

/** Text analysis for corpus curation (SURVEY.md §2.4): token counting,
  * quality scoring, language ID, document fingerprinting. All map-side
  * (per-document) computations from codegen'd string/array functions —
  * embarrassingly parallel, no shuffle except langid's tiny lexicon
  * broadcast.
  */
object TextOps {

  def wsTokens(textCol: Column): Column = split(lower(trim(textCol)), "\\s+")

  // ---------- token counting ----------

  /** Whitespace token count + BPE-ish sub-token count (letter runs, digit
    * runs, and individual other-glyphs — the shape of a byte-pair encoder's
    * pre-tokenizer) + char count. */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(
      col("doc_id"),
      size(wsTokens(col(textCol))).as("n_ws_tokens"),
      regexp_count(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("n_bpe_tokens"),
      length(col(textCol)).as("n_chars_computed"))

  // ---------- quality scoring ----------

  /** Heuristic quality features: length, alpha/punct/whitespace ratios,
    * stopword ratio, mean word length, and a combined [0,1] score
    * (Gopher/C4-style filters' feature set). */
  def qualityScore(docs: DataFrame, textCol: String,
                   stopwords: Seq[String]): DataFrame = {
    val t = col(textCol)
    // same single-tokenize rationale as langId (r20): nTok, the stopword
    // filter and the mean-word-length fold each consumed the split —
    // materialize it once
    val toks = col("__graft_toks")
    val nAlpha = regexp_count(t, lit("[A-Za-z]"))
    val nPunct = regexp_count(t, lit("[.,;:!?'\"()-]"))
    val nTok = size(toks)
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(toks, tk => array_contains(stopArr, tk)))
    docs.withColumn("__graft_toks", wsTokens(t)).select(
        col("doc_id"),
        length(t).as("n_chars"),
        nTok.as("n_tokens"),
        round(nAlpha.cast("double") / greatest(length(t), lit(1)), 6).as("alpha_ratio"),
        round(nPunct.cast("double") / greatest(length(t), lit(1)), 6).as("punct_ratio"),
        round(nStop.cast("double") / greatest(nTok, lit(1)), 6).as("stop_ratio"),
        round(aggregate(toks, lit(0), (acc, tk) => acc + length(tk)).cast("double") /
          greatest(nTok, lit(1)), 6).as("mean_word_len"))
      .withColumn("quality",
        round(least(lit(1.0),
          (least(col("n_tokens"), lit(200)) / lit(200.0)) * lit(0.4) +
          col("alpha_ratio") * lit(0.4) +
          least(col("stop_ratio") * lit(4.0), lit(1.0)) * lit(0.2)), 6))
  }

  // ---------- cleaning ----------

  /** C4-style text scrubbing: remove URLs, email addresses, and long digit
    * runs, then collapse whitespace. Pure regexp_replace chain (codegen'd,
    * map-side); patterns restricted to syntax with identical semantics in
    * Java regex and RE2 so the oracle holds. */
  def cleanText(t: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, lit("https?://[^\\s]+"), lit("")),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"), lit("")),
        lit("[0-9]{6,}"), lit("<NUM>")),
      lit("\\s+"), lit(" ")))

  def textClean(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), cleanText(col(textCol)).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")))

  // ---------- language ID ----------

  /** Score each document against per-language lexicons (word → weight);
    * prediction = argmax language. The lexicon is broadcast; scoring is one
    * map-side HOF pass per doc. This is the classic stopword/n-gram
    * profile method at Spark scale. */
  def langId(docs: DataFrame, textCol: String,
             lexicons: Map[String, Seq[String]]): DataFrame = {
    // tokenize ONCE into a materialized column: each lexicon's score
    // consumes the token array twice (filter + size), so the inline form
    // re-ran the split regex 2·|lexicons|+ times per row — HOF consumers
    // are interpreted (no codegen CSE across them). Project collapse
    // keeps a non-cheap multi-consumer alias materialized (r20; the
    // fingerprint operator's scaladoc documents the same property).
    val toks = col("__graft_toks")
    val scoreCols = lexicons.toSeq.sortBy(_._1).map { case (lang, words) =>
      val arr = array(words.map(lit): _*)
      round(size(filter(toks, t => array_contains(arr, t))).cast("double") /
        greatest(size(toks), lit(1)), 6).as(s"score_$lang")
    }
    val scored = docs.withColumn("__graft_toks", wsTokens(col(textCol)))
      .select(col("doc_id") +: scoreCols: _*)
    val langs = lexicons.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"score_$l").as("s"), lit(l).as("l")))
      .reduce((a, b) => when(b("s") > a("s"), b).otherwise(a))
    scored.withColumn("pred_lang", best("l"))
  }

  // ---------- fingerprinting ----------

  /** Winnowing document fingerprint: hash every sequential k-gram, keep
    * the minimum hash in each sliding window of `w` grams; the distinct
    * kept hashes are the fingerprint (Schleimer et al., SIGMOD'03).
    * Robust to local edits; used for near-dup detection and provenance.
    * One native pass per document ([[graft.functions.WinnowFingerprint]]
    * — the HOF formulation it replaces re-evaluated the entire gram-hash
    * pipeline per window through interpreted lambdas, then once more per
    * derived stat column: 27 s vs <1 s at sf0.01). The derived stats
    * reference the materialized array, which projection collapse leaves
    * alone (non-cheap producer, multiple consumers). */
  def fingerprint(docs: DataFrame, textCol: String, k: Int = 3,
                  w: Int = 4): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.WinnowFingerprint(
          lower(trim(col(textCol))), k, w).as("fingerprints"))
      .withColumn("n_fp", size(col("fingerprints")))
      .withColumn("fp_min", array_min(col("fingerprints")))
      .withColumn("fp_max", array_max(col("fingerprints")))
  }

  // ---------- SparkEntry glue ----------

  private val EnStop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "on", "for", "with", "as", "at", "by")

  def textTokens(spark: SparkSession, sfDir: String): DataFrame =
    tokenCounts(Tables.documents(spark, sfDir), "text")

  val textTokensSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
      |  length(text) AS n_chars_computed
      |FROM documents""".stripMargin

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    qualityScore(Tables.documentsKernel(spark, sfDir), "text", EnStop)

  val textQualitySql: String =
    """SELECT doc_id, n_chars, n_tokens, alpha_ratio, punct_ratio, stop_ratio,
      |  mean_word_len,
      |  round(least(1.0, (least(n_tokens, 200) / 200.0) * 0.4
      |        + alpha_ratio * 0.4
      |        + least(stop_ratio * 4.0, 1.0) * 0.2), 6) AS quality
      |FROM (
      |  SELECT doc_id,
      |    length(text) AS n_chars,
      |    len(toks) AS n_tokens,
      |    round(len(regexp_extract_all(text, '[A-Za-z]')) * 1.0 / greatest(length(text), 1), 6) AS alpha_ratio,
      |    round(len(regexp_extract_all(text, '[.,;:!?''"()-]')) * 1.0 / greatest(length(text), 1), 6) AS punct_ratio,
      |    round(len(list_filter(toks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','on','for','with','as','at','by'], t))) * 1.0
      |          / greatest(len(toks), 1), 6) AS stop_ratio,
      |    round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / greatest(len(toks), 1), 6) AS mean_word_len
      |  FROM (SELECT *, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents))""".stripMargin

  /** Scrub a derived column that deterministically injects URLs/emails/
    * digit runs into every 5th doc, so the cleaning path is exercised on
    * data that contains nothing to clean. */
  def textCleanQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val dirty = Tables.documents(spark, sfDir).withColumn("dirty",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" see https://example.com/x?id=9 or mail a.b@example.org ref 123456789"))
          .otherwise(lit(""))))
    textClean(dirty, "dirty")
  }

  val textCleanSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    text || CASE WHEN doc_id % 5 = 0
      |      THEN ' see https://example.com/x?id=9 or mail a.b@example.org ref 123456789'
      |      ELSE '' END,
      |    'https?://[^\s]+', '', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g'),
      |    '\s+', ' ', 'g')) AS clean_text,
      |  length(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    text || CASE WHEN doc_id % 5 = 0
      |      THEN ' see https://example.com/x?id=9 or mail a.b@example.org ref 123456789'
      |      ELSE '' END,
      |    'https?://[^\s]+', '', 'g'),
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g'),
      |    '\s+', ' ', 'g'))) AS n_chars_clean
      |FROM documents""".stripMargin

  /** Lexicons here are tiny demo profiles; real deployments plug in
    * trained per-language frequency tables. */
  def textLangid(spark: SparkSession, sfDir: String): DataFrame =
    langId(Tables.documentsKernel(spark, sfDir), "text", Map(
      "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une"),
      "es" -> Seq("el", "la", "los", "y", "es", "un", "una")))

  /** Oracle replica of [[langId]]'s strict-greater fold over the langs in
    * sorted order (de, en, es, fr) — ties keep the earlier language. Scores
    * are round-6 of integer-count ratios, so both engines compare identical
    * doubles and the CASE chain reproduces the fold exactly. */
  val textLangidSql: String =
    """SELECT doc_id, score_de, score_en, score_es, score_fr,
      |  CASE WHEN score_fr > m3 THEN 'fr' ELSE l3 END AS pred_lang
      |FROM (
      |  SELECT *,
      |    CASE WHEN score_es > m2 THEN score_es ELSE m2 END AS m3,
      |    CASE WHEN score_es > m2 THEN 'es' ELSE l2 END AS l3
      |  FROM (
      |    SELECT *,
      |      CASE WHEN score_en > score_de THEN score_en ELSE score_de END AS m2,
      |      CASE WHEN score_en > score_de THEN 'en' ELSE 'de' END AS l2
      |    FROM (
      |      SELECT doc_id,
      |        round(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht','ein'], t))) * 1.0 / greatest(len(toks), 1), 6) AS score_de,
      |        round(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) * 1.0 / greatest(len(toks), 1), 6) AS score_en,
      |        round(len(list_filter(toks, t -> list_contains(['el','la','los','y','es','un','una'], t))) * 1.0 / greatest(len(toks), 1), 6) AS score_es,
      |        round(len(list_filter(toks, t -> list_contains(['le','la','les','et','est','un','une'], t))) * 1.0 / greatest(len(toks), 1), 6) AS score_fr
      |      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |            FROM documents))))""".stripMargin

  /** Driver-facing projection: digest the fingerprint set to scalars
    * (count/min/max/xor) so the oracle gate can sort and hash the result;
    * [[fingerprint]] keeps the full `array<long>` form (spec-tested). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    fingerprint(Tables.documentsKernel(spark, sfDir), "text")
      .select(col("doc_id"), col("n_fp").cast("long").as("n_fp"),
        col("fp_min"), col("fp_max"),
        aggregate(col("fingerprints"), lit(0L),
          (acc, h) => acc.bitwiseXOR(h)).as("fp_xor"))

  /** End-to-end corpus-curation pipeline — the composition a training-data
    * run executes: length gate → quality gate → exact-dup drop (keep
    * lowest doc_id) → near-dup drop (keep each cluster's canonical doc).
    * Every doc gets its first failing gate as `reason` ('' = kept). All
    * four verdicts are computed corpus-wide in parallel branches and
    * joined on doc_id; the full pipeline is oracle-checked because each
    * branch reuses an already-hash-matching formulation (quality score,
    * md5 keep-first window, recursive-CTE cluster closure). */
  def pipelineCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val qual = qualityScore(docs, "text", EnStop)
      .select(col("doc_id"), col("n_chars"), col("quality"))
    val exact = Dedup.exactKeepFirst(docs, "text").select("doc_id", "is_dup")
    // cluster membership comes from the session-scoped index (built once
    // per corpus snapshot, shared with dedup_clusters/dedup_canonical_best)
    // — see Dedup.clusterIndex for the amortization rationale
    val clus = Dedup.clusterIndex(spark, sfDir, threshold = 0.5)
      .select("doc_id", "is_canonical")
    qual.join(exact, "doc_id").join(clus, "doc_id")
      .withColumn("reason",
        when(col("n_chars") < 20, "too_short")
          .when(col("quality") < 0.35, "low_quality")
          .when(col("is_dup") === 1, "exact_dup")
          .when(col("is_canonical") === 0, "near_dup")
          .otherwise(""))
      .withColumn("kept", (col("reason") === "").cast("int"))
      .select("doc_id", "kept", "reason", "quality")
  }

  val pipelineCurationSql: String =
    s"""${Dedup.clustersCtes},
       |clus AS (
       |  SELECT v AS doc_id, CAST(min(l) = v AS INT) AS is_canonical
       |  FROM reach GROUP BY v),
       |qual AS (
       |${TextOps.textQualitySql}
       |),
       |exact AS (
       |  SELECT doc_id,
       |    CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
       |  FROM documents)
       |SELECT doc_id, CAST(reason = '' AS INT) AS kept, reason, quality FROM (
       |  SELECT q.doc_id AS doc_id, q.quality AS quality,
       |    CASE WHEN q.n_chars < 20 THEN 'too_short'
       |         WHEN q.quality < 0.35 THEN 'low_quality'
       |         WHEN e.is_dup = 1 THEN 'exact_dup'
       |         WHEN c.is_canonical = 0 THEN 'near_dup'
       |         ELSE '' END AS reason
       |  FROM qual q
       |  JOIN exact e ON q.doc_id = e.doc_id
       |  JOIN clus c ON q.doc_id = c.doc_id)""".stripMargin

  /** Gated-query form of [[curationGate]] (driver oracle slot
    * `curation_gate`): the composed map-side gate over the documents
    * corpus with the LM fit on the corpus itself, emitting the exactly
    * replayable columns — `lm_tokens` (an integer: the whitespace-token
    * count, which verifies the native tokenizer verbatim) and
    * `gate_reason` (the first-failing label). The compression and
    * token-budget bands are left wide open (DuckDB has no deflate, and
    * a BPE-merge replay in SQL would gate the oracle on a second model
    * fit), so the active reasons are `no_tokens` / `high_perplexity` /
    * NULL — which still forces the oracle to reproduce the ENTIRE
    * Stupid Backoff pipeline (tokenize → 1/2/3-gram counts → top-K
    * heads → context-gated folded ratios → per-token backoff →
    * mean-log-score) to agree on every doc's side of the threshold.
    * `lm_ppl` itself is NOT emitted: cross-engine ln/avg drift is
    * ~1e-13 relative, unfalsifiably safe against a threshold placed
    * 0.23 away from the nearest document (measured, sf0.01; 7.4 away
    * at sf0.1) but NOT against round()'s half-way boundaries —
    * thresholded reasons are the honest hash-stable surface. */
  def curationGateQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documentsKernel(spark, sfDir).select(col("doc_id"), col("text"))
    val (lm, bpe) = gateModels(spark, sfDir)
    curationGate(docs, "text", lm, maxPpl = 14.2, bpe = bpe)
      .select(col("doc_id"), col("lm_tokens"), col("gate_reason"))
  }

  /** Session-scoped (LM, BPE) models for [[curationGateQuery]] — the
    * [[Dedup.clusterIndex]] amortization precedent: the fits are
    * corpus-snapshot-scoped INPUTS (every consumer of the gate shares one
    * in-domain model), not per-query work, so they are built once per
    * (app, sfDir) through [[graft.SessionArtifacts]], which also owns the
    * cold bypass. Driver-side models: nothing to release. */
  private[graft] def gateModels(spark: SparkSession, sfDir: String)
      : (graft.ml.NgramLm.LmModel, graft.ml.Bpe.BpeModel) =
    SessionArtifacts.getOrBuild(spark, s"gate-models:$sfDir") { _ =>
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val lm = graft.ml.NgramLm.fit(docs, "text")
      val (bpe, _) = graft.ml.Bpe.fit(docs, "text", numMerges = 50)
      ((lm, bpe), SessionArtifacts.nothingToRelease)
    }

  /** Shared DuckDB CTE chain for the Stupid Backoff FIT on the full
    * documents corpus — same tokenizer contract as the native kernel
    * (lowercase, ASCII `\s+` split, empties dropped), same top-K head
    * pruning with (count desc, gram) ties, same context-survival gating
    * of the folded ratios, same add-one smoothed unigram floor. Ends at
    * the ratio tables `r1`/`r2`/`r3` (+ `consts`, and `fctx` = the
    * fit corpus's own token stream with its two lags); consumers append
    * a [[backoffScoredCte]] tail over whatever (doc_id, w, w1, w2)
    * token stream they score — the gate scores the corpus itself, the
    * curation-recipe oracle scores post-cut survivor streams, and the
    * curation-increment oracle fits on its corpus HALF (`src`
    * parameterized r15, the md5MinhashPairsCtesFrom precedent: the fit
    * corpus is whatever relation the caller's models were fit on). One
    * proven replay, three gated surfaces. */
  private[operators] def backoffFitCtesFrom(src: String): String =
    s"""ftoks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ts
      |  FROM $src),
      |ftok AS (
      |  SELECT doc_id, u.pos AS pos, u.w AS w
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts)+1),
      |          i -> {'pos': i, 'w': ts[i]})) AS u FROM ftoks)),
      |fctx AS (
      |  SELECT doc_id, pos, w,
      |         lag(w)    OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM ftok),
      |g1 AS (SELECT w AS g, count(*) AS n FROM ftok GROUP BY 1),
      |k1 AS (SELECT g, n FROM g1 ORDER BY n DESC, g LIMIT 65536),
      |g2 AS (SELECT w1 || ' ' || w AS g, count(*) AS n FROM fctx
      |       WHERE w1 IS NOT NULL GROUP BY 1),
      |k2 AS (SELECT g, n FROM g2 ORDER BY n DESC, g LIMIT 131072),
      |g3 AS (SELECT w2 || ' ' || w1 || ' ' || w AS g, count(*) AS n FROM fctx
      |       WHERE w2 IS NOT NULL GROUP BY 1),
      |k3 AS (SELECT g, n FROM g3 ORDER BY n DESC, g LIMIT 131072),
      |consts AS (SELECT (SELECT sum(n) FROM g1) AS bigN,
      |                  (SELECT count(*) FROM k1) AS U),
      |r3 AS (SELECT k3.g, k3.n * 1.0 / k2.n AS s FROM k3
      |       JOIN k2 ON k2.g = list_aggregate(
      |         (string_split(k3.g, ' '))[1:2], 'string_agg', ' ')),
      |r2 AS (SELECT k2.g, k2.n * 1.0 / k1.n AS s FROM k2
      |       JOIN k1 ON k1.g = string_split(k2.g, ' ')[1]),
      |r1 AS (SELECT g, (n + 1.0) / (c.bigN + c.U + 1) AS s FROM k1, consts c)"""
      .stripMargin

  private[operators] val backoffFitCtes: String = backoffFitCtesFrom("documents")

  /** The Stupid Backoff scoring tail over a (doc_id, w, w1, w2) CTE
    * named `ctxSrc` — one `scored` CTE emitting the per-token backoff
    * probability under [[backoffFitCtes]]' ratio tables. */
  private[operators] def backoffScoredCte(ctxSrc: String): String =
    s"""scored AS (
      |  SELECT $ctxSrc.doc_id,
      |    CASE WHEN w2 IS NOT NULL THEN coalesce(t3.s,
      |           0.4 * coalesce(t2.s, 0.4 * coalesce(t1.s, 1.0 / (c.bigN + c.U + 1))))
      |         WHEN w1 IS NOT NULL THEN coalesce(t2.s,
      |           0.4 * coalesce(t1.s, 1.0 / (c.bigN + c.U + 1)))
      |         ELSE coalesce(t1.s, 1.0 / (c.bigN + c.U + 1)) END AS s
      |  FROM $ctxSrc
      |  CROSS JOIN consts c
      |  LEFT JOIN r3 t3 ON w2 IS NOT NULL AND t3.g = w2 || ' ' || w1 || ' ' || w
      |  LEFT JOIN r2 t2 ON w1 IS NOT NULL AND t2.g = w1 || ' ' || w
      |  LEFT JOIN r1 t1 ON t1.g = w)""".stripMargin

  /** Full DuckDB replay of the Stupid Backoff fit + score + threshold
    * ([[backoffFitCtes]] + [[backoffScoredCte]] over the fit corpus's
    * own token stream). */
  val curationGateSql: String =
    s"""WITH $backoffFitCtes,
      |${backoffScoredCte("fctx")},
      |perdoc AS (
      |  SELECT doc_id, count(*) AS lm_tokens, exp(-avg(ln(s))) AS ppl
      |  FROM scored GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(p.lm_tokens, 0) AS lm_tokens,
      |  CASE WHEN coalesce(p.lm_tokens, 0) = 0 THEN 'no_tokens'
      |       WHEN p.ppl > 14.2 THEN 'high_perplexity'
      |       ELSE NULL END AS gate_reason
      |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id""".stripMargin

  /** Quality-aware canonical selection: one row per near-dup cluster with
    * the member a curation pass should KEEP — the highest-quality document
    * (ties → lowest doc_id) rather than [[Dedup.dedupClusters]]' min-id
    * canonical. This is the policy real corpus pipelines want: of N
    * near-identical crawls, keep the cleanest, not the first-crawled.
    *
    * Shape: cluster labels join quality scores on doc_id (one shuffle),
    * then one partial-aggregated groupBy(cluster) — `max_by` over the
    * (quality, −doc_id) struct keeps ONE row of state per cluster, fully
    * deterministic because doc_id makes the sort key unique. */
  def dedupCanonicalBest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // shared session-scoped cluster index — see Dedup.clusterIndex
    val clus = Dedup.clusterIndex(spark, sfDir, threshold = 0.5)
      .select(col("doc_id"), col("cluster_id"))
    val qual = qualityScore(docs, "text", EnStop)
      .select(col("doc_id"), col("quality"))
    clus.join(qual, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"),
          struct(col("quality"), (-col("doc_id")).as("nid"))).as("canonical_id"),
        max(col("quality")).as("best_quality"),
        count(lit(1)).as("n_docs"))
  }

  /** Oracle: the recursive-CTE cluster closure joined to the (already
    * hash-matching) quality CTE; rank inside each cluster by
    * (quality DESC, doc_id) — identical to max_by over (quality, −doc_id). */
  val dedupCanonicalBestSql: String =
    s"""${Dedup.clustersCtes},
       |clus AS (SELECT v AS doc_id, min(l) AS cluster_id FROM reach GROUP BY v),
       |qual AS (
       |${TextOps.textQualitySql}
       |)
       |SELECT cluster_id, canonical_id, best_quality, n_docs FROM (
       |  SELECT c.cluster_id AS cluster_id, q.doc_id AS canonical_id,
       |    q.quality AS best_quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |                       ORDER BY q.quality DESC, q.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
       |  FROM clus c JOIN qual q ON c.doc_id = q.doc_id)
       |WHERE rn = 1""".stripMargin

  /** Per-document deflate compression ratio (compressed/raw UTF-8 bytes)
    * — the repeated-substring quality signal the Gopher rules family
    * thresholds: LOW ratio = boilerplate / generated spam, NEAR-1 =
    * high-entropy junk. Complements [[textEntropy]], which only sees the
    * unigram character distribution ("abcabcabc…" is entropy-normal but
    * compresses to nearly nothing). Map-side native expression
    * ([[graft.functions.CompressRatio]] — thread-local reused Deflater;
    * SQL: `graft_compress_ratio`); no oracle slot, because the exact
    * ratio is a zlib-build property — specs pin the signal's ORDERING
    * (repetitive ≪ natural < random), not bytes. NULL for empty/null
    * text (nothing to assess). */
  def compressionRatio(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("compress_ratio",
      graft.functions.CompressRatio(col(textCol)))

  /** The composed curation gate — in-domain perplexity, deflate
    * compression ratio, and BPE token budget — as ONE map-side
    * annotation pass: every signal column is appended row-locally
    * (native [[graft.functions.LmScoreDoc]] / CompressRatio /
    * BpeEncode kernels, models riding the codegen references array),
    * plus `gate_reason` = the FIRST failing gate (the
    * pipeline_curation contract) or NULL for keepers — annotate, don't
    * filter, so callers can audit what each gate rejects before
    * dropping anything. Because every stage is a projection, the gate
    * runs UNCHANGED on a stream — StreamingSpec replays this exact
    * function in two micro-batches == batch, bit-for-bit.
    *
    * Reason order: `no_tokens` (nothing to assess — a gate that cannot
    * assess a row must not pass it silently), `high_perplexity`
    * (out-of-domain under the LM), `low_compress_ratio`
    * (boilerplate/generated spam), `high_compress_ratio` (high-entropy
    * junk — both tails are Gopher-rule thresholds), `token_budget`
    * (outside [minTokens, maxTokens]). */
  def curationGate(docs: DataFrame, textCol: String,
                   lm: graft.ml.NgramLm.LmModel, maxPpl: Double,
                   bpe: graft.ml.Bpe.BpeModel, minTokens: Int = 1,
                   maxTokens: Int = Int.MaxValue,
                   minCompressRatio: Double = 0.0,
                   maxCompressRatio: Double = Double.MaxValue): DataFrame = {
    require(maxPpl > 0, s"curation gate: maxPpl must be positive, got $maxPpl")
    require(minTokens >= 1 && maxTokens >= minTokens,
      s"curation gate: token budget [$minTokens, $maxTokens] is empty or " +
        "admits zero-token docs — those are no_tokens' job")
    require(minCompressRatio >= 0 && maxCompressRatio > minCompressRatio,
      s"curation gate: compress-ratio band [$minCompressRatio, " +
        s"$maxCompressRatio] is empty")
    val reserved = Seq("lm_tokens", "lm_avg_logprob", "lm_ppl",
      "compress_ratio", "bpe_n_tokens", "gate_reason")
    // Honor the session's resolution semantics: Spark's withColumn
    // replacement is case-INsensitive unless spark.sql.caseSensitive is
    // set, so an input column named e.g. LM_PPL would slip a
    // case-sensitive guard and still be silently overwritten — exactly
    // the failure this check exists to prevent (r12 ADVICE).
    val caseSensitive = docs.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    val clash =
      if (caseSensitive) reserved.filter(docs.columns.contains)
      else {
        val have = docs.columns
          .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
        reserved.filter(have.contains) // reserved names are lowercase
      }
    require(clash.isEmpty,
      s"curation gate: input already has column(s) ${clash.mkString(", ")} " +
        "— the gate would silently overwrite them; rename upstream")
    val scored = graft.ml.Bpe.tokenCount(
      compressionRatio(
        graft.ml.NgramLm.scoreMapSide(docs, textCol, lm), textCol),
      textCol, bpe)
    scored.withColumn("gate_reason",
      when(col("lm_ppl").isNull, "no_tokens")
        .when(col("lm_ppl") > maxPpl, "high_perplexity")
        .when(col("compress_ratio") < minCompressRatio, "low_compress_ratio")
        .when(col("compress_ratio") > maxCompressRatio, "high_compress_ratio")
        .when(col("bpe_n_tokens") < minTokens ||
          col("bpe_n_tokens") > maxTokens, "token_budget")
        .otherwise(lit(null).cast("string")))
  }

  /** Per-document code-point entropy (bits/char) — native one-pass
    * expression; the oracle cross-checks it against the relational
    * explode-per-char formulation. */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        round(graft.functions.CharEntropy(col("text")), 6).as("entropy_bits"))

  val textEntropySql: String =
    """SELECT doc_id,
      |  round((ln(n) - s / n) / ln(2.0), 6) AS entropy_bits
      |FROM (
      |  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS n, sum(c * ln(c)) AS s
      |  FROM (
      |    SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
      |    FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
      |    GROUP BY doc_id, ch)
      |  GROUP BY doc_id)""".stripMargin

  // ---------- PII redaction ----------

  /** PII patterns, applied in this order (emails first so their local parts
    * aren't half-eaten by the number patterns). Kept to regex constructs
    * with identical semantics in java.util.regex and RE2 (DuckDB):
    * character classes, bounded/unbounded repetition, word boundaries. */
  private val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip",    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("ssn",   "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<ID>"),
    // unbounded repetition: a bounded {7,15} would leave the tail digits
    // of a 16+-digit number unredacted in the scrubbed output
    ("phone", "\\+[0-9]{7,}", "<PHONE>"))

  /** Privacy scrub for training corpora: REDACT (tag, don't delete) emails,
    * IPv4s, SSN-shaped ids, and international phone numbers, with per-kind
    * counts — the audit trail a compliance pass needs. Unlike [[textClean]]
    * (which strips boilerplate), redaction preserves document structure.
    * Pure map-side regex work; at 100 TB this is an embarrassingly
    * parallel scan with zero shuffle. */
  def piiRedact(docs: DataFrame, textCol: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (_, pat, tag)) => regexp_replace(c, lit(pat), lit(tag))
    }
    val counts = PiiPatterns.map { case (kind, pat, _) =>
      regexp_count(col(textCol), lit(pat)).as(s"n_$kind")
    }
    docs.select(col("doc_id") +: counts :+ redacted.as("redacted") :+
      length(redacted).as("n_chars_redacted"): _*)
  }

  // ---------- distributed per-stratum prefix sums ----------

  /** Two-level (exclusive) prefix sum of `value` per stratum under
    * (ord, id) order — the distributed replacement for an unbounded
    * `sum/row_number OVER (PARTITION BY stratum ORDER BY ...)` window,
    * which puts an ENTIRE stratum in one task: with a real corpus (one
    * language ≈ half the data) that is a single-task scan of half the
    * corpus.
    *
    * Shape: range-partition on (stratum, ord, id) so every partition holds
    * a contiguous ordered slice →
    *   job 1: per-(partition, stratum) subtotals (P·L tiny rows to the
    *          driver) → exclusive cumulative base per (partition, stratum)
    *          + per-stratum totals, broadcast back;
    *   job 2: map-side running sum over the SAME shuffled RDD instance
    *          (stage reuse — the range shuffle is computed once; job 2
    *          reads its map output, it does not rescan the source).
    * Every stratum may span many partitions, so skew spreads instead of
    * concentrating; state per task is one counter per stratum-slice.
    *
    * Input tuples: (stratum, ord, id, value), ordered by (ord, id) within
    * stratum. Returns ((stratum, id, value, exclusivePrefix) rows, totals
    * per stratum). An RDD is used deliberately: the two-job
    * subtotal/re-map structure over one shared shuffle is genuine
    * per-partition imperative logic that the declarative layer cannot
    * express.
    *
    * LOW-CARDINALITY STRATA ONLY: the driver collects one subtotal row per
    * (partition, stratum-in-partition) — bounded by P + #strata-spanning
    * boundaries for real strata like language (dozens of values), but a
    * high-cardinality stratum column (doc_id!) would collect O(|rows|) to
    * the driver. `maxSubtotals` makes that misuse fail loudly instead of
    * OOMing the driver. */
  private[operators] def stratumPrefixSum(rows: DataFrame,
      maxSubtotals: Int = 4 << 20)
      : (org.apache.spark.rdd.RDD[(String, Long, Long, Long)], Map[String, Long]) = {
    val sorted = rows.toDF("s", "o", "i", "v")
      .repartitionByRange(col("s"), col("o"), col("i"))
      .sortWithinPartitions("s", "o", "i")
    val spark = rows.sparkSession
    // ONE RDD instance, shared by both jobs (shuffle-stage reuse)
    val rdd = sorted.rdd
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val subtotals = rdd.mapPartitionsWithIndex { (pid, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { case (s, _, _, v) => m.update(s, m.getOrElse(s, 0L) + v) }
      m.iterator.map { case (s, t) => (pid, s, t) }
    }.collect()
    require(subtotals.length <= maxSubtotals,
      s"stratumPrefixSum collected ${subtotals.length} (partition, stratum) " +
        s"subtotal rows (max $maxSubtotals): the stratum column must be " +
        "low-cardinality (e.g. language). Do not key this on an id-like column.")
    val bases: Map[(Int, String), Long] = subtotals.groupBy(_._2).flatMap {
      case (s, arr) =>
        var acc = 0L
        arr.sortBy(_._1).map { case (pid, _, t) =>
          val b = acc; acc += t; ((pid, s), b)
        }
    }
    val totals: Map[String, Long] =
      subtotals.groupBy(_._2).map { case (s, arr) => s -> arr.map(_._3).sum }
    val bc = spark.sparkContext.broadcast(bases)
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      val run = scala.collection.mutable.HashMap.empty[String, Long]
      it.map { case (s, o, i, v) =>
        val prefix = bc.value.getOrElse((pid, s), 0L) + run.getOrElse(s, 0L)
        run.update(s, run.getOrElse(s, 0L) + v)
        (s, i, v, prefix)
      }
    }
    (out, totals)
  }

  // ---------- stratified sampling ----------

  /** Deterministic stratified sample: within each stratum (language), keep
    * the ceil(frac·n) documents with the smallest md5-derived priority — a
    * seeded uniform draw that is reproducible across engines, partitionings
    * and reruns (rand() is none of those). The standard corpus
    * re-balancing step before training-mix construction.
    *
    * Rank = distributed prefix COUNT via [[stratumPrefixSum]] (ord = the
    * md5 priority): exact global per-stratum ranks without the r3
    * one-task-per-stratum ranking window. The stratum column is keyed by
    * its string form. */
  def stratifiedSample(docs: DataFrame, stratumCol: String,
                       frac: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pri = graft.functions.Deterministic.md5Priority(col("doc_id"))
    val rows = docs
      .select(col(stratumCol).cast("string"), pri, col("doc_id"), lit(1L))
    val (pref, totals) = stratumPrefixSum(rows)
    val bcTotals = spark.sparkContext.broadcast(totals)
    pref.mapPartitions { it =>
      val t = bcTotals.value
      it.flatMap { case (s, docId, _, prefix) =>
        val n = t(s)
        val rk = prefix + 1
        if (rk <= math.ceil(n * frac).toLong) Some((s, docId, rk, n)) else None
      }
    }.toDF(stratumCol, "doc_id", "rk", "n_stratum")
  }

  // ---------- length profiling ----------

  /** Token-count histogram of the corpus (bucket width 10) with cumulative
    * document counts — the length-distribution profile that drives
    * curation thresholds (truncation length, short-doc gates). One grouped
    * aggregate; the cumulative window runs over the tiny bucket table. */
  def lengthHistogram(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTok = size(wsTokens(col(textCol)))
    val hist = docs.select(nTok.cast("long").as("n_tok"))
      .select(expr("n_tok div 10 * 10").as("bucket_lo"))
      .groupBy(col("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("bucket_lo"))
      .rowsBetween(Window.unboundedPreceding, 0)
    hist.withColumn("cum_docs", sum(col("n_docs")).over(w))
  }

  // ---------- SparkEntry glue (new ops) ----------

  /** Inject deterministic PII into a derived column (emails on every 3rd
    * doc, IP + SSN + phone on every 7th) so the redaction path is exercised
    * regardless of corpus content. */
  def textPiiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val dirty = Tables.documentsKernel(spark, sfDir).withColumn("dirty",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" contact j.doe@corp.example or sales+eu@corp.example")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" host 192.168.10.42 id 123-45-6789 tel +14155550123")).otherwise(lit(""))))
    piiRedact(dirty, "dirty")
  }

  val textPiiRedactSql: String = {
    // single line: the interpolating outer string is stripMargin'd, which
    // would eat one pipe of a line-leading `||`
    val dirty =
      "text || (CASE WHEN doc_id % 3 = 0 THEN ' contact j.doe@corp.example or sales+eu@corp.example' ELSE '' END)" +
        " || (CASE WHEN doc_id % 7 = 0 THEN ' host 192.168.10.42 id 123-45-6789 tel +14155550123' ELSE '' END)"
    val redacted =
      s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace($dirty,
         |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
         |  '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<ID>', 'g'),
         |  '\\+[0-9]{7,}', '<PHONE>', 'g')""".stripMargin
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all($dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
       |  CAST(len(regexp_extract_all($dirty, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ip,
       |  CAST(len(regexp_extract_all($dirty, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INT) AS n_ssn,
       |  CAST(len(regexp_extract_all($dirty, '\\+[0-9]{7,}')) AS INT) AS n_phone,
       |  $redacted AS redacted,
       |  length($redacted) AS n_chars_redacted
       |FROM documents""".stripMargin
  }

  def docStratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, sfDir), "lang", frac = 0.2)

  val docStratifiedSampleSql: String =
    """SELECT lang, doc_id, rk, n_stratum FROM (
      |  SELECT lang, doc_id,
      |    row_number() OVER (PARTITION BY lang
      |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |               doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS n_stratum
      |  FROM documents)
      |WHERE rk <= ceil(n_stratum * 0.2)""".stripMargin

  // ---------- repetition scoring ----------

  /** Intra-document repetition: 1 - distinct/total word 3-grams (the
    * Gopher-class "repeated n-gram" quality gate). Distinct counting runs
    * on the native one-pass shingle hash set; 64-bit shingle hashing is
    * collision-free at corpus scale (same argument as dedup_ngram's
    * oracle). Map-side, zero shuffle. */
  def repetitionScore(docs: DataFrame, textCol: String): DataFrame = {
    val toks = wsTokens(col(textCol))
    val total = greatest(size(toks) - 2, lit(1))
    val distinct3 = size(graft.functions.ShingleHashSet(lower(trim(col(textCol))), 3))
    docs.select(col("doc_id"),
      total.as("n_ngrams"),
      distinct3.as("n_distinct"),
      round(lit(1.0) - distinct3.cast("double") / total, 6).as("rep_ratio"))
      .withColumn("repetitive", (col("rep_ratio") > 0.2).cast("int"))
  }

  // ---------- sequence packing ----------

  /** Concat-and-chunk sequence packing: documents are laid out
    * contiguously per language (ordered by doc_id), and the token stream
    * is cut into fixed `budget`-token training chunks; each document maps
    * to the chunk containing its start offset. This is the packing step of
    * an LLM pretraining pipeline (TFDS-style concat → chunk).
    *
    * The start offset is a distributed prefix sum via [[stratumPrefixSum]]
    * — the r3 form (`sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)`
    * with an unbounded frame) ran each language in ONE task. */
  def packChunks(docs: DataFrame, textCol: String, budget: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nTok = size(wsTokens(col(textCol))).cast("long")
    val rows = docs.select(col("lang"), col("doc_id"), col("doc_id"), nTok)
    val (pref, _) = stratumPrefixSum(rows)
    pref.toDF("lang", "doc_id", "n_tok", "off")
      .select(col("lang"), col("doc_id"), col("n_tok"), col("off"),
        expr(s"off div $budget").as("chunk_id"),
        pmod(col("off"), lit(budget.toLong)).as("chunk_off"))
  }

  // ---------- contamination screening ----------

  /** Benchmark-contamination screen: flag documents sharing word 3-grams
    * with a probe set (here: each language's lowest-id document stands in
    * for a held-out benchmark). Probe shingle sets are dim-sized →
    * broadcast; overlap is the native merge-walk intersect on sorted hash
    * sets. The fact side never shuffles. */
  def contamination(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = graft.functions.ShingleHashSet(lower(trim(col(textCol))), 3)
    val withG = docs.select(col("doc_id"), col("lang"), g.as("g"))
    val probes = withG
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
      .select(col("lang"), col("doc_id").as("probe_id"), col("g").as("g_probe"))
    withG.join(broadcast(probes), "lang")
      .withColumn("n_overlap",
        graft.functions.SortedIntersectCount(col("g"), col("g_probe")))
      .select(col("lang"), col("doc_id"), col("probe_id"),
        col("n_overlap"),
        (col("doc_id") === col("probe_id")).cast("int").as("is_probe"),
        (col("doc_id") =!= col("probe_id") && col("n_overlap") >= 1)
          .cast("int").as("contaminated"))
  }

  /** DuckDB word-3-gram distinct-set builder over a `text` column (shared
    * by the repetition and contamination oracles; same construction as
    * dedup_ngram's). */
  private val SqlToks = "string_split_regex(lower(trim(text)), '\\s+')"
  private val Sql3Grams =
    s"""list_distinct(CASE WHEN len($SqlToks) >= 3
       |  THEN list_transform(range(len($SqlToks) - 2),
       |    i -> list_aggregate($SqlToks[i+1:i+3], 'string_agg', ' '))
       |  ELSE [list_aggregate($SqlToks, 'string_agg', ' ')] END)""".stripMargin

  def textRepetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionScore(Tables.documentsKernel(spark, sfDir), "text")

  val textRepetitionSql: String =
    s"""SELECT doc_id, n_ngrams, n_distinct, rep_ratio,
       |  CAST(rep_ratio > 0.2 AS INT) AS repetitive
       |FROM (
       |  SELECT doc_id,
       |    CAST(greatest(len($SqlToks) - 2, 1) AS INT) AS n_ngrams,
       |    CAST(len($Sql3Grams) AS INT) AS n_distinct,
       |    round(1.0 - len($Sql3Grams) * 1.0
       |      / greatest(len($SqlToks) - 2, 1), 6) AS rep_ratio
       |  FROM documents)""".stripMargin

  def docPackChunks(spark: SparkSession, sfDir: String): DataFrame =
    packChunks(Tables.documents(spark, sfDir), "text", budget = 512)

  val docPackChunksSql: String =
    s"""SELECT lang, doc_id, n_tok, off,
       |  off // 512 AS chunk_id, off % 512 AS chunk_off
       |FROM (
       |  SELECT lang, doc_id, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      - n_tok AS off
       |  FROM (
       |    SELECT lang, doc_id,
       |      CAST(len($SqlToks) AS BIGINT) AS n_tok
       |    FROM documents))""".stripMargin

  def docContamination(spark: SparkSession, sfDir: String): DataFrame =
    contamination(Tables.documents(spark, sfDir), "text")

  val docContaminationSql: String =
    s"""WITH g AS (SELECT doc_id, lang, $Sql3Grams AS g FROM documents),
       |p AS (SELECT lang, min(doc_id) AS probe_id FROM documents GROUP BY lang)
       |SELECT d.lang AS lang, d.doc_id AS doc_id, p.probe_id AS probe_id,
       |  CAST(len(list_intersect(d.g, pg.g)) AS INT) AS n_overlap,
       |  CAST(d.doc_id = p.probe_id AS INT) AS is_probe,
       |  CAST(d.doc_id != p.probe_id
       |       AND len(list_intersect(d.g, pg.g)) >= 1 AS INT) AS contaminated
       |FROM g d
       |JOIN p ON d.lang = p.lang
       |JOIN g pg ON pg.doc_id = p.probe_id""".stripMargin

  def textLengthHist(spark: SparkSession, sfDir: String): DataFrame =
    lengthHistogram(Tables.documents(spark, sfDir), "text")

  val textLengthHistSql: String =
    """SELECT bucket_lo, n_docs,
      |  CAST(sum(n_docs) OVER (ORDER BY bucket_lo
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
      |FROM (
      |  SELECT len(string_split_regex(lower(trim(text)), '\s+')) // 10 * 10 AS bucket_lo,
      |    count(*) AS n_docs
      |  FROM documents GROUP BY 1)""".stripMargin

  /** Deterministic weighted sampling without replacement (Efraimidis-
    * Spirakis A-ES): per stratum, keep the `n` rows with the largest
    * ln(u)/w — equivalently u^(1/w) — where u ∈ (0, 1] is the row id's
    * md5-derived uniform. Selection probability rises with weight, the
    * draw is reproducible on any cluster/partitioning (no RNG state),
    * and rows with w <= 0 are excluded. The curation use: quality-
    * weighted document selection whose sample is stable run-over-run —
    * the weighted sibling of [[stratifiedSample]]'s uniform draw.
    *
    * One shuffle: (stratum, key, id) through the bounded-state
    * smallest_k — n rows of state per stratum, map-side partials, never
    * a per-stratum sort of the table. */
  def weightedSample(df: DataFrame, stratumCol: String, idCol: String,
                     weightCol: String, n: Int): DataFrame = {
    // u in (0,1]: +1 keeps ln defined at the 2^-60 corner
    val u = (graft.functions.Deterministic.md5Priority(col(idCol))
      .cast("double") + 1.0) / math.pow(2.0, 60)
    val aes = -log(u) / col(weightCol) // >= 0; smallest = largest A-ES key
    df.filter(col(weightCol) > 0.0)
      .withColumn("_aes", aes)
      .groupBy(col(stratumCol))
      .agg(graft.functions.SmallestK.smallestK(
        struct(col("_aes"), col(idCol)), n).as("top"))
      .select(col(stratumCol), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col(stratumCol), (col("pos") + 1).cast("int").as("rk"),
        col("t").getField(idCol).as(idCol), col("t._aes").as("aes_key"))
  }

  // ---------- BM25 ranked retrieval ----------

  /** Okapi BM25 scoring of every document against a small query-term set —
    * the ranked-retrieval primitive of a corpus search/relevance pipeline.
    *
    * Scale shape: one explode of the corpus into (doc, term) counts (the
    * same tokenization as text_tokens), aggregated per doc-term map-side;
    * document frequencies for the QUERY TERMS ONLY are a k-row aggregate
    * (k = |query|), collected and folded into the scoring expression with
    * N and avgdl as literals — so the scoring pass is a single map-side
    * scan of the per-doc term counts with no join at all, and nothing
    * corpus-sized ever shuffles except the (doc, query-term) count rows,
    * which are pre-filtered to the query vocabulary. Returns one row per
    * document containing at least one query term, scored and ranked via
    * the bounded-state smallest_k (top `k` docs).
    */
  def bm25TopK(docs: DataFrame, textCol: String, queryTerms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK requires at least one query term")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val spark = docs.sparkSession
    // corpus statistics: N and average document length (one tiny agg)
    val stats = docs.select(count(lit(1)).as("n"),
        avg(size(wsTokens(col(textCol)))).as("avgdl")).head
    val n = stats.getLong(0)
    val avgdl = stats.getDouble(1)
    // per-doc length + per-(doc, query-term) frequencies; the filter to
    // the query vocabulary happens BEFORE the aggregation shuffle
    val toks = docs.select(col("doc_id"),
        size(wsTokens(col(textCol))).as("dl"),
        explode(wsTokens(col(textCol))).as("term"))
      .filter(col("term").isin(terms: _*))
    // tf feeds TWO consumers (the df-per-term collect and the scoring
    // pass) and Catalyst does not share subplans across actions, so it is
    // cached for the duration of this call: ONE tokenize+explode+shuffle
    // of the corpus instead of two. The k-row result is materialized and
    // the cache dropped blocking BEFORE returning — the ml-fit pattern
    // (LinearModel/LogisticRegression) — so the operator leaves no blocks
    // behind and the returned frame is a driver-local k-row relation.
    val tf = toks.groupBy(col("doc_id"), col("term"))
      .agg(first(col("dl")).as("dl"), count(lit(1)).as("tf"))
      .cache()
    try {
      // document frequency per query term: k rows, driver-resident
      // tf is already one row per (doc, term), so df = plain row count
      val dfMap = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val idf = terms.map { t =>
        val df = dfMap.getOrElse(t, 0L).toDouble
        t -> math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      }.toMap
      // fold idf into the expression as a literal map lookup; score is
      // pure arithmetic over (tf, dl) — map-side, no join
      val idfCol = element_at(
        map(idf.flatMap { case (t, w) => Seq(lit(t), lit(w)) }.toSeq: _*),
        col("term"))
      val out = tf
        .withColumn("s", idfCol * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("s")), 6).as("score"), count(lit(1)).as("n_terms"))
        .groupBy()
        .agg(graft.functions.SmallestK.smallestK(
          struct((-col("score") + lit(0.0)).as("ns"), col("doc_id"),
            col("score"), col("n_terms")), k).as("top"))
        .select(posexplode(col("top")).as(Seq("pos", "t")))
        .select((col("pos") + 1).cast("int").as("rk"),
          col("t.doc_id").as("doc_id"), col("t.score").as("score"),
          col("t.n_terms").as("n_terms"))
      val rows = out.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    } finally tf.unpersist(blocking = true)
  }
}
