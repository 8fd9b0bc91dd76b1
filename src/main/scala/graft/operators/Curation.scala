package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SessionArtifacts

/** The end-to-end corpus-curation recipe — the one place that answers
  * "how do I curate a crawl with this engine" by CHAINING the
  * individually-specced stages in their load-bearing order:
  *
  *   manifest-pruned read  (upstream of this function — the composed
  *                          100 TB path: Manifest.pruneFiles over the
  *                          lake listing, then spark.read.parquet on the
  *                          survivors; ConfSpec executes it end-to-end)
  *   → no_tokens fast-path (null / whitespace-only text)
  *   → exact dedup         ([[Dedup.exactKeepFirst]], keep-first)
  *   → near dedup          ([[Dedup.dedupClusters]] over banded
  *                          MinHash-LSH candidates, min-id canonical)
  *   → substring dedup     ([[Dedup.duplicatedSpans]] + [[Dedup.cutSpans]]:
  *                          boilerplate CUT from survivors, docs gutted
  *                          below `minKeptRatio` rejected outright)
  *   → quality gate        ([[TextOps.curationGate]]: LM perplexity,
  *                          compress-ratio band, BPE token budget — one
  *                          map-side pass, first-failing reason)
  *   → embedding screen    ([[graft.ml.Pca.reconstructionError]] >
  *                          `maxRecErr` — optional, only rows with an
  *                          embedding are screened)
  *   → packing             (downstream of this function —
  *                          [[TextOps.packChunks]] on the keepers;
  *                          packing changes row identity from documents
  *                          to training chunks, so it is a consumer of
  *                          this output, not a stage of it)
  *
  * Order rationale: exact before near (an exact twin would otherwise
  * seed a near-dup cluster and could be elected its canonical while
  * itself already rejected — the whole cluster would die); near before
  * substring (cutting boilerplate first would perturb shingle sets and
  * near-dup recall); cuts before the gate (the gate must judge the text
  * a training run would actually see — doc 5 of the spec passes the
  * gate ONLY because its boilerplate was cut first); the embedding
  * screen last (it is the most expensive signal per row, so it sees the
  * fewest rows).
  *
  * Output: ONE row per input document — (doc_id, text, curation_reject)
  * where `curation_reject` is NULL for keepers and otherwise the FIRST
  * stage that rejected the row (`no_tokens`, `exact_dup`, `near_dup`,
  * `boilerplate_gutted`, the [[TextOps.curationGate]] reasons
  * `high_perplexity` / `low_compress_ratio` / `high_compress_ratio` /
  * `token_budget`, `embedding_outlier`); `text` is the document's text
  * AS OF its final stage (post-cut for everything that survived the
  * substring stage — i.e. keepers carry the text a training run should
  * ingest, and rejects carry the evidence that condemned them).
  * Post-cut text keeps the document's ORIGINAL CASE ([[Dedup.cutSpans]]
  * cuts from original-case tokens; only whitespace runs collapse) —
  * the recipe never case-folds what it keeps, it only case-folds what
  * it HASHES.
  * Per-stage reject counts are one aggregation away
  * ([[rejectCounts]]) — no stage in this function runs a count of its
  * own, so adding the recipe on top of the stages costs zero extra
  * actions beyond [[Dedup.dedupClusters]]' internal fixpoint (which is
  * eager by its own contract).
  *
  * Scale shape: every stage is the already-probed operator — nothing
  * here shuffles anything the stages don't. The recipe persists the
  * FOUR frames that are consulted by more than one downstream leg (the
  * standardized input; the exact-survivor frame the LSH fixpoint scans
  * repeatedly; the post-cut frame feeding both the gutted-reject leg
  * and the keeper path — persisting only the keeper side re-ran the
  * span exchanges once more per evaluation, the r14 plan-audit find;
  * the gated frame feeding both the gate-reject leg and the keepers) at
  * MEMORY_AND_DISK, and hands the caller a [[FuzzyJoin.PersistHandle]]
  * owning all four — materialize the result (and anything derived),
  * then `close()` (the fuzzyJoinPersisted contract; closing early
  * degrades to recompute, never to wrong rows).
  */
object Curation {

  /** Optional embedding-quality screen: rows of `embeddings` whose
    * `embCol` reconstruction error under `model` exceeds `maxRecErr`
    * reject their document as `embedding_outlier`. Documents WITHOUT an
    * embedding row pass unscreened — absence of evidence is not
    * garbage, and at 100 TB the embedded subset is typically the
    * curated minority. */
  final case class EmbedScreen(embeddings: DataFrame, idCol: String,
                               embCol: String, model: graft.ml.Pca.PcaModel,
                               maxRecErr: Double)

  /** Per-stage reject tally of a [[curateCorpus]] result: one row per
    * reject reason plus the NULL row for keepers. */
  def rejectCounts(curated: DataFrame): DataFrame =
    curated.groupBy(col("curation_reject")).agg(count(lit(1)).as("n"))

  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
                   lm: graft.ml.NgramLm.LmModel, maxPpl: Double,
                   bpe: graft.ml.Bpe.BpeModel,
                   minTokens: Int = 1, maxTokens: Int = Int.MaxValue,
                   minCompressRatio: Double = 0.0,
                   maxCompressRatio: Double = Double.MaxValue,
                   nearThreshold: Double = 0.8,
                   spanN: Int = 20, minKeptRatio: Double = 0.3,
                   embedScreen: Option[EmbedScreen] = None,
                   pinStages: Boolean = false)
      : (DataFrame, FuzzyJoin.PersistHandle) = {
    require(minKeptRatio >= 0.0 && minKeptRatio <= 1.0,
      s"curate: minKeptRatio $minKeptRatio outside [0, 1]")
    require(nearThreshold > 0.0 && nearThreshold <= 1.0,
      s"curate: nearThreshold $nearThreshold outside (0, 1]")
    val lvl = StorageLevel.MEMORY_AND_DISK
    // pinStages=true (r21, guide §3.3 "materialising an intermediate
    // truncates the plan" / the r20 verdict's #6 item): the SESSION-OWNED
    // callers (curationRecipeQuery) swap the stage persists for eager
    // localCheckpoints. Values are identical, but the storage is not:
    // persist(MEMORY_AND_DISK) caches compressed columnar batches while a
    // localCheckpoint stores row blocks (several times larger for
    // text-heavy frames; both spill to disk), and a lost executor loses
    // them for good (see graft.SessionArtifacts). A persisted frame
    // KEEPS its full logical lineage, so every downstream verdict leg
    // re-enters analysis/optimization/cache-lookup over the whole
    // fixpoint history per evaluation (the recipe's executed plan was
    // ~14k lines; the increment's ~96k — ~1 s/rep of pure driver work on
    // cached data), while a localCheckpoint truncates each leg's subtree
    // to a block scan. Per-call users keep persist: their handles' close
    // frees blocks eagerly (a checkpoint RDD is reclaimed by the
    // ContextCleaner after GC instead), and a closed persist degrades to
    // recompute where a freed checkpoint cannot.
    def pinned(df: DataFrame): DataFrame =
      if (pinStages) df.localCheckpoint() else df.persist(lvl)
    def reject(ids: DataFrame, from: DataFrame, reason: String): DataFrame =
      from.join(ids, Seq("doc_id")).select(col("doc_id"), col("text"),
        lit(reason).as("curation_reject"))

    // standardized working frame — internal names, one column each way
    val base = pinned(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))

    // stage 0: degenerate text out FIRST. A null document is not a
    // "duplicate" of another null document in any curation sense, and
    // the dedup stages' shingle algebra degenerates on empty token
    // streams (null and "" share the singleton empty shingle — they
    // would cluster as near-dups and one would steal a canonical slot).
    // Whitespace-only is the TOKENIZER's notion (`\s`-only text — the
    // same class the `\s+` split sees), not trim()'s ASCII-space-only
    // one: a '\t'- or '\n'-only document has zero tokens too (r13
    // ADVICE — trim() let those flow into the shingle algebra).
    val degenerate = col("text").isNull || col("text").rlike("^\\s*$")
    val rej0 = base.filter(degenerate)
      .select(col("doc_id"), col("text"), lit("no_tokens").as("curation_reject"))
    val s0 = base.filter(!degenerate)

    // stage 1: exact dedup, keep-first
    val exact = Dedup.exactKeepFirst(s0, "text")
    val rej1 = reject(exact.filter(col("is_dup") === 1).select("doc_id"),
      s0, "exact_dup")
    val s1 = pinned(s0.join(exact.filter(col("is_dup") === 0).select("doc_id"),
      Seq("doc_id")))

    // stage 2: near dedup (eager — dedupClusters runs its label
    // fixpoint at call time, which is why s1 is persisted first)
    val clusters = Dedup.dedupClusters(s1, nearThreshold)
    val rej2 = reject(clusters.filter(col("is_canonical") === 0)
      .select("doc_id"), s1, "near_dup")
    val s2 = s1.join(clusters.filter(col("is_canonical") === 1)
      .select("doc_id"), Seq("doc_id"))

    // stage 3: substring dedup — cut the shared spans, reject the gutted.
    // `cut` is the persisted frame, not s3: the gutted-reject leg and the
    // keeper leg BOTH read it, and the alternative (persisting only the
    // keeper side) re-ran the two gram-keyed span exchanges — the
    // recipe's most expensive stage — once more per evaluation just to
    // label the gutted docs (r14 plan audit of the 28.5 s sf10 rep).
    val spans = Dedup.duplicatedSpans(s2, "doc_id", "text", n = spanN)
    val cut = pinned(Dedup.cutSpans(s2, spans, "doc_id", "text"))
    val rej3 = cut.filter(col("kept_ratio") < minKeptRatio)
      .select(col("doc_id"), col("text_dedup").as("text"),
        lit("boilerplate_gutted").as("curation_reject"))
    val s3 = cut.filter(col("kept_ratio") >= minKeptRatio)
      .select(col("doc_id"), col("text_dedup").as("text"))

    // stage 4: the composed quality gate (map-side; first-failing
    // reason). Persisted for the same two-consumer reason as `cut`: the
    // reject leg and the keeper leg would otherwise each re-run the
    // LM/deflate/BPE kernels over every surviving document.
    val gated = pinned(TextOps.curationGate(s3, "text", lm, maxPpl, bpe,
      minTokens, maxTokens, minCompressRatio, maxCompressRatio))
    val rej4 = gated.filter(col("gate_reason").isNotNull)
      .select(col("doc_id"), col("text"),
        col("gate_reason").as("curation_reject"))
    val s4 = gated.filter(col("gate_reason").isNull)
      .select(col("doc_id"), col("text"))

    // stage 5: embedding-quality screen (optional, evidence-only)
    val (rej5, s5) = embedScreen match {
      case None => (None, s4)
      case Some(es) =>
        // distinct: a doc with several embedding rows (re-embeds, shard
        // overlap) must reject ONCE — duplicate outlier ids would break
        // the one-row-per-input-document invariant (r13 ADVICE)
        val bad = graft.ml.Pca.reconstructionError(
            es.embeddings.select(col(es.idCol).as("doc_id"), col(es.embCol)),
            es.embCol, es.model)
          .filter(col("pca_rec_err") > es.maxRecErr).select("doc_id")
          .distinct()
        (Some(reject(bad, s4, "embedding_outlier")),
          s4.join(bad, Seq("doc_id"), "left_anti"))
    }

    val keepers = s5.select(col("doc_id"), col("text"),
      lit(null).cast("string").as("curation_reject"))
    val out = (Seq(keepers, rej0, rej1, rej2, rej3, rej4) ++ rej5)
      .reduce(_ unionByName _)
    (out, new FuzzyJoin.PersistHandle(Seq(base, s1, cut, gated)))
  }

  /** Gated-query form of [[curateCorpus]] (driver oracle slot
    * `curation_recipe`): the WHOLE batch recipe over the documents
    * corpus, hash-matched per document — (doc_id, text-as-of-final-
    * stage, curation_reject) — against a DuckDB replay that composes
    * every stage's already-proven oracle: the md5 keep-first window
    * (dedup_exact_keep_first), the md5-minhash LSH pairs + recursive-CTE
    * closure over the exact-dedup SURVIVORS (dedup_clusters — band keys
    * are per-document, so survivor pairs are the full generator's pairs
    * restricted to survivors), an exact gram-string replay of the
    * substring coverage + cut (window positions, token-index coverage,
    * original-case reassembly, the rounded kept_ratio — gram EQUALITY is
    * all [[Dedup.duplicatedSpans]]' xxhash64 kernel encodes, so grouping
    * by the gram string is the same operator modulo hash collisions, the
    * dedup_minhash md5-family precedent's cheaper sibling), and the full
    * Stupid Backoff fit + re-scoring of each survivor's POST-CUT token
    * stream (curation_gate) with the threshold verdict.
    *
    * Configuration, argued: `nearThreshold = 0.5` is the proven cluster
    * replay's threshold; `spanN = 5` and `minKeptRatio = 0.9` are a
    * STRICT profile chosen so the substring stage FIRES at the verify
    * SF — the corpus's only cross-document shared windows of ≥ 6 tokens
    * live inside near-dup clusters, which stage 2 removes (measured:
    * 24/6/448 near_dup/boilerplate_gutted/high_perplexity rejects and 22
    * keepers at sf0.01), and a stage the data never exercises would gate
    * nothing. kept_ratio is a ratio of two integers rounded identically
    * in both engines, so the 0.9 comparison is drift-free by
    * construction; `maxPpl = 14.2` is curation_gate's threshold, and the
    * nearest post-cut survivor sits 0.26 away at sf0.01 (the measured-
    * margin honesty rule). The compression and token-budget bands stay
    * wide open for the same reason as curation_gate's (DuckDB has no
    * deflate and a second model fit would gate the oracle on BPE
    * internals), so those reasons are spec-gated
    * (CurationRecipeSpec), not hash-gated.
    *
    * Engine-parity note (r14 ADVICE, documented as out of the data
    * contract): Java's `\s` class (the Spark side's rlike/split
    * tokenizers) includes vertical tab \x0B, RE2's (DuckDB) does not —
    * a \x0B-only document would be `no_tokens` in Spark but not in the
    * oracle's `deg` CTE. The documents tables contain no \x0B
    * (GenScale emits none), so the exclusion is a declared data-contract
    * bound, not a live divergence; the same bound covers every shared
    * `\s`-regex CTE in this file.
    *
    * Block lifetime: the recipe's near-dup fixpoint leaves ONE label
    * checkpoint alive (localCheckpoint lineage is truncated — it CANNOT
    * be freed before the result is materialized), and the driver's
    * query contract hands back a bare DataFrame with nobody downstream
    * to close a handle. So the query is SESSION-SCOPED through
    * [[graft.SessionArtifacts]], like [[Dedup.clusterIndex]] and
    * [[TextOps.gateModels]]: built once per (app, sfDir) — one bounded
    * checkpoint + the FOUR pinned stage frames (base, exact-survivors,
    * cut, gated) live for the session, and every rep re-evaluates the
    * (lazy) verdict frame against them. The uncached per-call cost, with
    * the handle closed per rep, is on the record as the `curate_corpus`
    * figure of the bench forensics from r13 on (e.g.
    * BENCH_FORENSICS_r13_scaleprobe_sf01.txt). A cold build persists its stages instead
    * of pinning them, and the next cold build closes its handle: the
    * previous cold frame, if still referenced, merely recomputes (the
    * handle contract's documented degradation), and the label
    * checkpoint is reclaimed by the ContextCleaner once that frame is
    * dropped. On the session path a race loser's close() only
    * unpersists, which does nothing to localCheckpoint blocks; those
    * stay until the ContextCleaner reclaims them after GC. */
  def curationRecipeQuery(spark: SparkSession, sfDir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, s"curation-recipe:$sfDir") { cold =>
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val (lm, bpe) = TextOps.gateModels(spark, sfDir)
      // pinStages on the session path only: session frames are never
      // closed, and the localCheckpoint truncation is what keeps each
      // warm rep's re-planned tree small — see curateCorpus
      curateCorpus(docs, "doc_id", "text", lm,
        maxPpl = 14.2, bpe, nearThreshold = 0.5, spanN = 5,
        minKeptRatio = 0.9, pinStages = !cold)
    }

  /** The composed DuckDB oracle for [[curationRecipeQuery]] — each
    * stage's proven CTE chain, chained on the previous stage's
    * survivors. See the query's scaladoc for the stage-by-stage
    * correspondence. */
  val curationRecipeSql: String =
    s"""WITH RECURSIVE
      |deg AS (
      |  SELECT doc_id FROM documents
      |  WHERE text IS NULL OR regexp_matches(text, '^\\s*$$')),
      |surv0 AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id NOT IN (SELECT doc_id FROM deg)),
      |exd AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      |    FROM surv0)
      |  WHERE doc_id != keep_id),
      |s1 AS (
      |  SELECT doc_id, text FROM surv0
      |  WHERE doc_id NOT IN (SELECT doc_id FROM exd)),
      |${Dedup.md5MinhashPairsCtesFrom("s1")},
      |strong AS (SELECT doc_id_a, doc_id_b FROM pairs WHERE jaccard >= 0.5),
      |edges AS MATERIALIZED (SELECT doc_id_a AS src, doc_id_b AS dst FROM strong
      |          UNION SELECT doc_id_b, doc_id_a FROM strong),
      |reach(v, l) AS (
      |  SELECT doc_id, doc_id FROM s1
      |  UNION
      |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v),
      |neard AS (
      |  SELECT v AS doc_id FROM reach GROUP BY v HAVING min(l) != v),
      |s2 AS (
      |  SELECT doc_id, text FROM s1
      |  WHERE doc_id NOT IN (SELECT doc_id FROM neard)),
      |stoks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      |  FROM s2),
      |sgrams AS (
      |  SELECT doc_id, i AS pos,
      |    list_aggregate(ts[i+1:i+5], 'string_agg', ' ') AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts)-4)) AS i
      |        FROM stoks WHERE len(ts) >= 5)),
      |cutpos AS (
      |  SELECT DISTINCT doc_id, pos FROM sgrams
      |  WHERE gram IN (SELECT gram FROM sgrams GROUP BY gram
      |                 HAVING count(DISTINCT doc_id) >= 2)),
      |toki AS (
      |  SELECT doc_id, unnest(range(len(ts))) AS i, unnest(ts) AS w
      |  FROM stoks),
      |cuti AS (
      |  SELECT DISTINCT t.doc_id, t.i FROM toki t
      |  JOIN cutpos c ON c.doc_id = t.doc_id AND t.i >= c.pos
      |    AND t.i < c.pos + 5),
      |ratio AS (
      |  SELECT s.doc_id,
      |    round((len(s.ts) - coalesce(c.nc, 0)) * 1.0 / len(s.ts), 4)
      |      AS kept_ratio
      |  FROM stoks s LEFT JOIN (
      |    SELECT doc_id, count(*) AS nc FROM cuti GROUP BY doc_id) c
      |    USING (doc_id)),
      |otoki AS (
      |  SELECT doc_id, unnest(range(len(ts))) AS i, unnest(ts) AS w
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
      |        FROM s2)),
      |cuttext AS (
      |  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.i) AS text
      |  FROM otoki t
      |  WHERE NOT EXISTS (SELECT 1 FROM cuti c
      |                    WHERE c.doc_id = t.doc_id AND c.i = t.i)
      |  GROUP BY t.doc_id),
      |${TextOps.backoffFitCtes},
      |kept AS (
      |  SELECT t.doc_id, t.w,
      |    row_number() OVER (PARTITION BY t.doc_id ORDER BY t.i) AS pos
      |  FROM toki t
      |  -- w <> '': the scored stream must match the native LM tokenizer,
      |  -- which emits only non-empty runs — a doc starting/ending with
      |  -- non-space whitespace (tab/newline survives trim()) splits with
      |  -- a phantom '' token that must not be scored or shift the w1/w2
      |  -- contexts (mirrors ftoks' filter; r14 ADVICE)
      |  WHERE t.doc_id IN (SELECT doc_id FROM ratio WHERE kept_ratio >= 0.9)
      |    AND t.w <> ''
      |    AND NOT EXISTS (SELECT 1 FROM cuti c
      |                    WHERE c.doc_id = t.doc_id AND c.i = t.i)),
      |kctx AS (
      |  SELECT doc_id, pos, w,
      |         lag(w)    OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM kept),
      |${TextOps.backoffScoredCte("kctx")},
      |perdoc AS (
      |  SELECT doc_id, exp(-avg(ln(s))) AS ppl FROM scored GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id IN (SELECT doc_id FROM deg) THEN d.text
      |       WHEN d.doc_id IN (SELECT doc_id FROM exd) THEN d.text
      |       WHEN d.doc_id IN (SELECT doc_id FROM neard) THEN d.text
      |       -- coalesce: a doc whose EVERY token is cut has no cuttext
      |       -- group, while Spark's concat_ws over an empty array is ''
      |       ELSE coalesce(ct.text, '') END AS text,
      |  CASE WHEN d.doc_id IN (SELECT doc_id FROM deg) THEN 'no_tokens'
      |       WHEN d.doc_id IN (SELECT doc_id FROM exd) THEN 'exact_dup'
      |       WHEN d.doc_id IN (SELECT doc_id FROM neard) THEN 'near_dup'
      |       WHEN r.kept_ratio < 0.9 THEN 'boilerplate_gutted'
      |       WHEN p.ppl > 14.2 THEN 'high_perplexity'
      |       ELSE NULL END AS curation_reject
      |FROM documents d
      |LEFT JOIN ratio r ON r.doc_id = d.doc_id
      |LEFT JOIN cuttext ct ON ct.doc_id = d.doc_id
      |LEFT JOIN perdoc p ON p.doc_id = d.doc_id""".stripMargin

  /** Owns everything a [[curateIncrement]] call pinned: the persisted
    * batch frames AND the incremental-label fixpoint's checkpoint.
    * Contract: materialize first, `close()` after — and note the
    * degradation is STRONGER than the persist-only handles'. The
    * persist side merely recomputes on re-evaluation, but freeing the
    * label checkpoint truncates lineage that cannot be rebuilt: a frame
    * from THIS call re-evaluated after `close()` fails with missing
    * checkpoint blocks, it does not recompute. Close only once the
    * frame is dropped (never wrong rows either way — a dead frame
    * throws, it can't return stale data). */
  final class IncrementHandle private[operators] (inner: Seq[AutoCloseable])
      extends AutoCloseable {
    override def close(): Unit = inner.foreach(_.close())
  }

  /** The DAILY-INCREMENT form of [[curateCorpus]]: curate a NEW batch of
    * documents against an EXISTING curated corpus in O(batch) work plus
    * one corpus scan — no corpus shuffle, no corpus-wide fixpoint
    * (re-deriving connected components over 100 TB because 0.1% new
    * documents arrived is not viable; this is [[Dedup.incrementalLabels]]'
    * contract lifted to the whole recipe).
    *
    * Stages, and how they differ from the batch recipe:
    *  - no_tokens fast-path and within-batch exact dedup: identical.
    *  - near dedup is the INCREMENTAL machinery: LSH candidates within
    *    the batch plus batch-bucket probes against the corpus
    *    ([[Dedup.incrementalCandidatePairs]] — batch side broadcast, the
    *    corpus side scanned once, never shuffled; pass `bucketIndex` =
    *    yesterday's persisted [[Dedup.minhashBuckets]] index when the
    *    increment job has no (or expensive) corpus-text access — r15
    *    normalized its layout (shingle sets once per document, band
    *    keys separate) after the r14 probe measured the denormalized
    *    form slower than re-deriving from text), then
    *    [[Dedup.incrementalLabels]]' frozen-old-labels attach. A new doc
    *    ATTACHED to an existing cluster duplicates content the corpus
    *    already has → `dup_of_corpus` (its corpus `cluster_id` is kept
    *    on the reject row — the forensics answer "duplicate of WHAT").
    *    Exact duplicates of corpus docs land here too (identical
    *    shingle sets ⇒ identical signatures ⇒ guaranteed band
    *    collision, Jaccard 1 ≥ any threshold). Unattached new
    *    components keep their min-id canonical; the rest are
    *    `near_dup`, exactly like the batch recipe.
    *  - the substring-cut stage runs IFF the caller supplies
    *    `spanIndex` (a [[Dedup.gramIndex]] frame — built once per
    *    corpus snapshot, persisted/bucketed like the label index):
    *    [[Dedup.duplicatedSpansIncrement]] flags spans duplicated
    *    against the corpus OR within the batch (batch gram set
    *    broadcast, corpus index scanned once, never shuffled), the
    *    spans are CUT, and docs gutted below `minKeptRatio` reject as
    *    `boilerplate_gutted` — identical semantics to the batch
    *    recipe's stage. Without an index the stage is SKIPPED
    *    (within-batch-only spans on a daily increment would mostly
    *    miss: the boilerplate's other copies live in the corpus), and
    *    the gate's compression-ratio tail is the honestly-weaker
    *    backstop.
    *  - the quality gate runs with CORPUS-fit models passed in (the
    *    in-domain distribution is the corpus's, not the increment's —
    *    fitting the LM on one day's crawl would make every topical
    *    shift "out of domain").
    *  - optional embedding screen: identical.
    *
    * Output: one row per input doc — (doc_id, text, cluster_id,
    * curation_reject). `cluster_id` is the increment label where one
    * was assigned (NULL for no_tokens / within-batch exact rejects):
    * keepers' (doc_id, cluster_id) rows are EXACTLY what the caller
    * appends to `oldLabels` before the next increment — the daily loop
    * closes over this output. `rejectCounts` works unchanged. */
  def curateIncrement(newDocs: DataFrame, idCol: String, textCol: String,
                      oldDocs: DataFrame, oldLabels: DataFrame,
                      lm: graft.ml.NgramLm.LmModel, maxPpl: Double,
                      bpe: graft.ml.Bpe.BpeModel,
                      minTokens: Int = 1, maxTokens: Int = Int.MaxValue,
                      minCompressRatio: Double = 0.0,
                      maxCompressRatio: Double = Double.MaxValue,
                      nearThreshold: Double = 0.8,
                      md5Family: Boolean = false,
                      bucketIndex: Option[Dedup.BucketIndex] = None,
                      spanIndex: Option[DataFrame] = None,
                      spanN: Int = 20, minKeptRatio: Double = 0.3,
                      embedScreen: Option[EmbedScreen] = None,
                      pinStages: Boolean = false)
      : (DataFrame, IncrementHandle) = {
    require(nearThreshold > 0.0 && nearThreshold <= 1.0,
      s"curate increment: nearThreshold $nearThreshold outside (0, 1]")
    require(minKeptRatio >= 0.0 && minKeptRatio <= 1.0,
      s"curate increment: minKeptRatio $minKeptRatio outside [0, 1]")
    val lvl = StorageLevel.MEMORY_AND_DISK
    // pinStages: same lineage-truncation trade as [[curateCorpus]]'s —
    // see the comment there. The increment's verdict legs re-planned the
    // LARGEST tree on the gated surface (~96k plan lines per evaluation
    // over cached inputs: corpus bucket probe + two label fixpoints +
    // span probe, re-entered by ~8 legs).
    def pinned(df: DataFrame): DataFrame =
      if (pinStages) df.localCheckpoint() else df.persist(lvl)
    val base = pinned(
      newDocs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
    // same tokenizer-matched whitespace class as the batch recipe's
    // stage 0 (see curateCorpus — trim() misses '\t'/'\n'-only text)
    val degenerate = col("text").isNull || col("text").rlike("^\\s*$")
    val rej0 = base.filter(degenerate)
      .select(col("doc_id"), col("text"),
        lit(null).cast("long").as("cluster_id"),
        lit("no_tokens").as("curation_reject"))
    val s0 = base.filter(!degenerate)
    val exact = Dedup.exactKeepFirst(s0, "text")
    val rej1 = s0.join(exact.filter(col("is_dup") === 1).select("doc_id"),
        Seq("doc_id"))
      .select(col("doc_id"), col("text"),
        lit(null).cast("long").as("cluster_id"),
        lit("exact_dup").as("curation_reject"))
    val s1 = pinned(s0.join(exact.filter(col("is_dup") === 0).select("doc_id"),
      Seq("doc_id")))
    // bucketIndex = yesterday's persisted minhashBuckets index when the
    // caller holds one (the near probe then never touches corpus text);
    // without it the corpus is hashed once per increment map-side — the
    // default, measured faster whenever the text is warm and local
    val (nn, no) = Dedup.incrementalCandidatePairs(s1,
      oldDocs.select(col("doc_id"), col("text")), "text",
      threshold = nearThreshold, md5Family = md5Family,
      oldBuckets = bucketIndex)
    val (labels0, labelH) = Dedup.incrementalLabels(s1, oldLabels, nn, no)
    // labels feeds THREE legs (dup_of_corpus, near_dup, the canonical
    // survivors) and its lineage embeds the corpus-side bucket probe —
    // incrementalLabels checkpoints only its component fixpoint, so an
    // unpersisted frame re-derived the corpus buckets once per consumer
    // per evaluation (the r14 two-consumer plan-audit find, caught here
    // by the r15 bench smoke: 4.1 s/rep at sf0.1 against warm caches).
    // O(batch) rows; owned by the returned handle like the rest.
    val labels = pinned(labels0)
    def labeledReject(ids: DataFrame, reason: String): DataFrame =
      s1.join(ids, Seq("doc_id")).select(col("doc_id"), col("text"),
        col("cluster_id"), lit(reason).as("curation_reject"))
    val rej2a = labeledReject(labels.filter(col("attached_to_existing") === 1)
      .select("doc_id", "cluster_id"), "dup_of_corpus")
    val rej2b = labeledReject(labels.filter(col("attached_to_existing") === 0
        && col("cluster_id") =!= col("doc_id"))
      .select("doc_id", "cluster_id"), "near_dup")
    val s2 = pinned(s1.join(labels.filter(col("attached_to_existing") === 0
        && col("cluster_id") === col("doc_id"))
      .select("doc_id", "cluster_id"), Seq("doc_id")))
    // optional substring stage: cut corpus-or-batch-duplicated spans,
    // reject the gutted — texts downstream (incl. keepers) are post-cut
    val (rej2c, s2b, cutPersist) = spanIndex match {
      case None => (None, s2, Nil)
      case Some(ix) =>
        val spans = Dedup.duplicatedSpansIncrement(s2, "doc_id", "text",
          ix, n = spanN)
        // persist the CUT frame, not just its keeper side — the gutted
        // leg would otherwise re-run the span probe per evaluation
        // (the batch recipe's r14 plan-audit find, same shape here)
        val cut = pinned(Dedup.cutSpans(s2, spans, "doc_id", "text")
          .join(s2.select("doc_id", "cluster_id"), Seq("doc_id")))
        (Some(cut.filter(col("kept_ratio") < minKeptRatio)
          .select(col("doc_id"), col("text_dedup").as("text"),
            col("cluster_id"),
            lit("boilerplate_gutted").as("curation_reject"))),
          cut.filter(col("kept_ratio") >= minKeptRatio)
            .select(col("doc_id"), col("text_dedup").as("text"),
              col("cluster_id")),
          Seq(cut))
    }
    // gated persisted for its two consumers (reject + keeper legs) —
    // the LM/deflate/BPE kernels run once per doc per evaluation
    val gated = pinned(TextOps.curationGate(s2b, "text", lm, maxPpl, bpe,
      minTokens, maxTokens, minCompressRatio, maxCompressRatio))
    val rej3 = gated.filter(col("gate_reason").isNotNull)
      .select(col("doc_id"), col("text"), col("cluster_id"),
        col("gate_reason").as("curation_reject"))
    val s3 = gated.filter(col("gate_reason").isNull)
      .select(col("doc_id"), col("text"), col("cluster_id"))
    val (rej4, s4) = embedScreen match {
      case None => (None, s3)
      case Some(es) =>
        // distinct for the same one-row-per-doc reason as the batch form
        val bad = graft.ml.Pca.reconstructionError(
            es.embeddings.select(col(es.idCol).as("doc_id"), col(es.embCol)),
            es.embCol, es.model)
          .filter(col("pca_rec_err") > es.maxRecErr).select("doc_id")
          .distinct()
        (Some(s3.join(bad, Seq("doc_id")).select(col("doc_id"), col("text"),
          col("cluster_id"), lit("embedding_outlier").as("curation_reject"))),
          s3.join(bad, Seq("doc_id"), "left_anti"))
    }
    val keepers = s4.select(col("doc_id"), col("text"), col("cluster_id"),
      lit(null).cast("string").as("curation_reject"))
    val out = (Seq(keepers, rej0, rej1, rej2a, rej2b) ++ rej2c ++
      Seq(rej3) ++ rej4).reduce(_ unionByName _)
    val persisted = Seq(base, s1, labels, s2) ++ cutPersist ++ Seq(gated)
    (out, new IncrementHandle(Seq(
      new FuzzyJoin.PersistHandle(persisted), labelH)))
  }

  /** Gated-query form of [[curateIncrement]] (driver oracle slot
    * `curation_increment`) — the DAILY LOOP under the hash gate, the one
    * flagship composition that was still spec-only after r14: the
    * documents corpus is split deterministically by doc_id parity into
    * an existing CORPUS (even ids, degenerate text excluded — a curated
    * snapshot has no null docs) and today's BATCH (odd ids, degenerates
    * kept so the no_tokens fast-path is exercised); "yesterday's state"
    * is derived from the corpus half exactly as the daily loop would
    * hold it — frozen labels from [[Dedup.dedupClusters]] (the md5-LSH
    * generator, so the oracle can replay every collision), a
    * [[Dedup.gramIndex]] span index, and CORPUS-fit (LM, BPE) models —
    * and the whole increment runs with `md5Family = true` so every band
    * collision, attach decision, span cut and perplexity verdict is
    * DuckDB-replayable. Hash-matched per batch document on
    * (doc_id, text-as-of-final-stage, cluster_id, curation_reject).
    *
    * The oracle composes the proven CTE replays, each restricted to the
    * split: band keys are per-document ([[Dedup.md5MinhashPairsCtesFrom]]
    * over corpus ∪ batch-survivors = each side's own generator by
    * restriction — the curation_recipe precedent), so corpus-corpus
    * pairs rebuild the frozen labels' closure, batch-batch pairs drive
    * the increment's component fixpoint, and cross-parity pairs ARE
    * [[Dedup.incrementalCandidatePairs]]' probe leg (same rounded
    * jaccard, same threshold). The attach algebra is component-level,
    * exactly [[Dedup.incrementalLabels]]': each batch component takes
    * the min corpus cluster over its members' matches; attached members
    * reject `dup_of_corpus` CARRYING that corpus cluster_id, unattached
    * non-canonicals reject `near_dup`, canonicals flow on. The span
    * stage replays [[Dedup.duplicatedSpansIncrement]] by gram STRING
    * (batch df ≥ 2 ∪ corpus membership — the recipe's equality-modulo-
    * hash-collisions argument), and the gate re-fits Stupid Backoff on
    * the CORPUS half ([[TextOps.backoffFitCtesFrom]]) and re-scores each
    * survivor's POST-CUT stream.
    *
    * Configuration, argued: the strict substring profile (spanN = 5,
    * minKeptRatio = 0.9) and nearThreshold = 0.5 are curation_recipe's —
    * chosen there so every stage FIRES at the verify SF, and the parity
    * split preserves that (measured at sf0.01: 12 cross-parity pairs ≥
    * 0.5 populate dup_of_corpus; within-batch pairs populate near_dup).
    * `maxPpl = 28.4` is NOT the house 14.2: the increment's LM is fit
    * on the corpus HALF and scores the OTHER half's documents, and
    * held-out text scores strictly worse than in-corpus text (every
    * batch doc sits above 26.8 at sf0.01 where the recipe's in-corpus
    * scores cluster near 14) — a 14.2 gate would reject all 229
    * survivors and the keeper class would never fire. 28.4 sits in the
    * distribution's widest low-end gap (measured sf0.01: nearest docs
    * 27.60 below / 29.12 above, margins ≥ 0.72 — vs ~1e-13 relative
    * cross-engine ln/avg drift), so every document's side of the
    * threshold is hash-stable and all of keep / dup_of_corpus /
    * near_dup / boilerplate_gutted / high_perplexity populate.
    * Compression and token-budget bands stay wide open for
    * curation_gate's reason (DuckDB has no deflate).
    *
    * Session-scoped for the same block-lifetime reasons as
    * [[curationRecipeQuery]] (two label fixpoints — the corpus index
    * build and the increment's own — leave truncated-lineage
    * checkpoints), with the same cold-mode hygiene: each cold build
    * closes the previous cold build's handle. Unlike the recipe's
    * persist-only handle, this close frees the fixpoint CHECKPOINT too,
    * so the previous cold frame becomes invalid (re-evaluation fails
    * with missing checkpoint blocks — it does NOT recompute); safe under
    * the bench's sequential evaluate-then-rebuild pattern, which never
    * touches a prior frame after the next cold build. A race loser's
    * close() frees only its fixpoint checkpoint on the session path; its
    * pinned stage frames wait for the ContextCleaner. */
  def curationIncrementQuery(spark: SparkSession, sfDir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, s"curation-increment:$sfDir") { cold =>
      val docs = graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"))
      val degenerate = col("text").isNull || col("text").rlike("^\\s*$")
      val corpus = docs.filter(col("doc_id") % 2 === 0 && !degenerate)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      // yesterday's state, derived from the corpus half exactly as the
      // daily loop would hold it (all three are corpus-snapshot inputs)
      val oldLabels = Dedup.dedupClusters(corpus, threshold = 0.5)
        .select(col("doc_id"), col("cluster_id"))
      val lm = graft.ml.NgramLm.fit(corpus, "text")
      val (bpe, _) = graft.ml.Bpe.fit(corpus, "text", numMerges = 50)
      val spanIx = Dedup.gramIndex(corpus, "text", n = 5)
      // pinStages on the session path only — see curationRecipeQuery
      curateIncrement(batch, "doc_id", "text", corpus, oldLabels,
        lm, maxPpl = 28.4, bpe, nearThreshold = 0.5, md5Family = true,
        spanIndex = Some(spanIx), spanN = 5, minKeptRatio = 0.9,
        pinStages = !cold)
    }

  /** The composed DuckDB oracle for [[curationIncrementQuery]] — every
    * stage's proven CTE replay, restricted to the parity split. See the
    * query's scaladoc for the stage-by-stage correspondence. */
  val curationIncrementSql: String =
    s"""WITH RECURSIVE
      |deg AS (
      |  SELECT doc_id FROM documents
      |  WHERE text IS NULL OR regexp_matches(text, '^\\s*$$')),
      |corpus AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE doc_id % 2 = 0 AND doc_id NOT IN (SELECT doc_id FROM deg)),
      |batch AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
      |bs0 AS (
      |  SELECT doc_id, text FROM batch
      |  WHERE doc_id NOT IN (SELECT doc_id FROM deg)),
      |exd AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
      |    FROM bs0)
      |  WHERE doc_id != keep_id),
      |bs1 AS (
      |  SELECT doc_id, text FROM bs0
      |  WHERE doc_id NOT IN (SELECT doc_id FROM exd)),
      |-- one generator over corpus ∪ batch-survivors: band keys are
      |-- per-document, so each leg below is the full generator's pairs
      |-- restricted by endpoint parity (corpus = even, batch = odd)
      |gsrc AS (
      |  SELECT doc_id, text FROM corpus
      |  UNION ALL SELECT doc_id, text FROM bs1),
      |${Dedup.md5MinhashPairsCtesFrom("gsrc")},
      |strong AS (SELECT doc_id_a, doc_id_b FROM pairs WHERE jaccard >= 0.5),
      |-- frozen corpus labels: the dedup_clusters closure over the
      |-- corpus-corpus restriction
      |cedges AS MATERIALIZED (
      |  SELECT doc_id_a AS src, doc_id_b AS dst FROM strong
      |  WHERE doc_id_a % 2 = 0 AND doc_id_b % 2 = 0
      |  UNION SELECT doc_id_b, doc_id_a FROM strong
      |  WHERE doc_id_a % 2 = 0 AND doc_id_b % 2 = 0),
      |creach(v, l) AS (
      |  SELECT doc_id, doc_id FROM corpus
      |  UNION
      |  SELECT e.dst, r.l FROM creach r JOIN cedges e ON e.src = r.v),
      |oldlab AS (SELECT v AS doc_id, min(l) AS cluster_id
      |           FROM creach GROUP BY v),
      |-- increment components: the fixpoint over the batch only
      |bedges AS MATERIALIZED (
      |  SELECT doc_id_a AS src, doc_id_b AS dst FROM strong
      |  WHERE doc_id_a % 2 = 1 AND doc_id_b % 2 = 1
      |  UNION SELECT doc_id_b, doc_id_a FROM strong
      |  WHERE doc_id_a % 2 = 1 AND doc_id_b % 2 = 1),
      |breach(v, l) AS (
      |  SELECT doc_id, doc_id FROM bs1
      |  UNION
      |  SELECT e.dst, r.l FROM breach r JOIN bedges e ON e.src = r.v),
      |comp AS (SELECT v AS doc_id, min(l) AS comp FROM breach GROUP BY v),
      |-- the probe leg: cross-parity pairs, batch doc pulls the min
      |-- corpus cluster it matches; then component-wide min (the
      |-- incrementalLabels attach algebra)
      |nopairs AS (
      |  SELECT CASE WHEN doc_id_a % 2 = 1 THEN doc_id_a ELSE doc_id_b END AS bdoc,
      |         CASE WHEN doc_id_a % 2 = 1 THEN doc_id_b ELSE doc_id_a END AS cdoc
      |  FROM strong WHERE (doc_id_a % 2) != (doc_id_b % 2)),
      |attach AS (
      |  SELECT n.bdoc AS doc_id, min(o.cluster_id) AS old_cl
      |  FROM nopairs n JOIN oldlab o ON o.doc_id = n.cdoc GROUP BY n.bdoc),
      |compold AS (
      |  SELECT c.comp, min(a.old_cl) AS comp_old
      |  FROM comp c LEFT JOIN attach a ON a.doc_id = c.doc_id GROUP BY c.comp),
      |lab AS (
      |  SELECT c.doc_id, coalesce(co.comp_old, c.comp) AS cluster_id,
      |         co.comp_old IS NOT NULL AS attached
      |  FROM comp c JOIN compold co ON co.comp = c.comp),
      |bs2 AS (
      |  SELECT s.doc_id, s.text FROM bs1 s JOIN lab l ON l.doc_id = s.doc_id
      |  WHERE NOT l.attached AND l.cluster_id = l.doc_id),
      |-- substring stage: duplicatedSpansIncrement by gram STRING —
      |-- positions whose 5-gram repeats across >= 2 batch survivors OR
      |-- appears anywhere in the corpus (the gramIndex membership test)
      |stoks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      |  FROM bs2),
      |sgrams AS (
      |  SELECT doc_id, i AS pos,
      |    list_aggregate(ts[i+1:i+5], 'string_agg', ' ') AS gram
      |  FROM (SELECT doc_id, ts, unnest(range(len(ts)-4)) AS i
      |        FROM stoks WHERE len(ts) >= 5)),
      |cgrams AS (
      |  SELECT DISTINCT list_aggregate(ts[i+1:i+5], 'string_agg', ' ') AS gram
      |  FROM (SELECT ts, unnest(range(len(ts)-4)) AS i
      |        FROM (SELECT string_split_regex(lower(trim(text)), '\\s+') AS ts
      |              FROM corpus) WHERE len(ts) >= 5)),
      |cutpos AS (
      |  SELECT DISTINCT doc_id, pos FROM sgrams
      |  WHERE gram IN (SELECT gram FROM sgrams GROUP BY gram
      |                 HAVING count(DISTINCT doc_id) >= 2)
      |     OR gram IN (SELECT gram FROM cgrams)),
      |toki AS (
      |  SELECT doc_id, unnest(range(len(ts))) AS i, unnest(ts) AS w
      |  FROM stoks),
      |cuti AS (
      |  SELECT DISTINCT t.doc_id, t.i FROM toki t
      |  JOIN cutpos c ON c.doc_id = t.doc_id AND t.i >= c.pos
      |    AND t.i < c.pos + 5),
      |ratio AS (
      |  SELECT s.doc_id,
      |    round((len(s.ts) - coalesce(c.nc, 0)) * 1.0 / len(s.ts), 4)
      |      AS kept_ratio
      |  FROM stoks s LEFT JOIN (
      |    SELECT doc_id, count(*) AS nc FROM cuti GROUP BY doc_id) c
      |    USING (doc_id)),
      |otoki AS (
      |  SELECT doc_id, unnest(range(len(ts))) AS i, unnest(ts) AS w
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
      |        FROM bs2)),
      |cuttext AS (
      |  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.i) AS text
      |  FROM otoki t
      |  WHERE NOT EXISTS (SELECT 1 FROM cuti c
      |                    WHERE c.doc_id = t.doc_id AND c.i = t.i)
      |  GROUP BY t.doc_id),
      |-- gate: Stupid Backoff FIT ON THE CORPUS HALF (the increment's
      |-- models are corpus-snapshot inputs), scored over each survivor's
      |-- post-cut stream
      |${TextOps.backoffFitCtesFrom("corpus")},
      |kept AS (
      |  SELECT t.doc_id, t.w,
      |    row_number() OVER (PARTITION BY t.doc_id ORDER BY t.i) AS pos
      |  FROM toki t
      |  -- w <> '': match the native LM tokenizer (see curationRecipeSql)
      |  WHERE t.doc_id IN (SELECT doc_id FROM ratio WHERE kept_ratio >= 0.9)
      |    AND t.w <> ''
      |    AND NOT EXISTS (SELECT 1 FROM cuti c
      |                    WHERE c.doc_id = t.doc_id AND c.i = t.i)),
      |kctx AS (
      |  SELECT doc_id, pos, w,
      |         lag(w)    OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
      |         lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      |  FROM kept),
      |${TextOps.backoffScoredCte("kctx")},
      |perdoc AS (
      |  SELECT doc_id, exp(-avg(ln(s))) AS ppl FROM scored GROUP BY doc_id)
      |SELECT b.doc_id,
      |  CASE WHEN b.doc_id IN (SELECT doc_id FROM deg) THEN b.text
      |       WHEN b.doc_id IN (SELECT doc_id FROM exd) THEN b.text
      |       WHEN l.attached OR l.cluster_id != b.doc_id THEN b.text
      |       ELSE coalesce(ct.text, '') END AS text,
      |  CASE WHEN b.doc_id IN (SELECT doc_id FROM deg) THEN CAST(NULL AS BIGINT)
      |       WHEN b.doc_id IN (SELECT doc_id FROM exd) THEN CAST(NULL AS BIGINT)
      |       ELSE l.cluster_id END AS cluster_id,
      |  CASE WHEN b.doc_id IN (SELECT doc_id FROM deg) THEN 'no_tokens'
      |       WHEN b.doc_id IN (SELECT doc_id FROM exd) THEN 'exact_dup'
      |       WHEN l.attached THEN 'dup_of_corpus'
      |       WHEN l.cluster_id != b.doc_id THEN 'near_dup'
      |       WHEN r.kept_ratio < 0.9 THEN 'boilerplate_gutted'
      |       WHEN p.ppl > 28.4 THEN 'high_perplexity'
      |       ELSE NULL END AS curation_reject
      |FROM batch b
      |LEFT JOIN lab l ON l.doc_id = b.doc_id
      |LEFT JOIN ratio r ON r.doc_id = b.doc_id
      |LEFT JOIN cuttext ct ON ct.doc_id = b.doc_id
      |LEFT JOIN perdoc p ON p.doc_id = b.doc_id""".stripMargin
}
