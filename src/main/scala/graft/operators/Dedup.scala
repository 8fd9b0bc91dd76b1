package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{SessionArtifacts, Tables}

/** Deduplication family for large-scale corpus curation (SURVEY.md §2.3).
  *
  * Scale design, per variant:
  *  - exact: one map-side hash + one shuffle on the 128-bit digest. The
  *    digest (not the full text) is the shuffle key, so 100 TB of documents
  *    shuffles only ~32 bytes/row.
  *  - MinHash/LSH: signatures are computed map-side with higher-order
  *    functions (no UDF); the only shuffle is the (band, band_hash) bucket
  *    join, and candidate verification touches only bucket collisions —
  *    never the n² pair space.
  *  - SimHash: map-side 64-bit sketch; banding the sketch into 16-bit
  *    quarters finds all pairs within hamming distance 3 with one shuffle.
  *  - n-gram Jaccard: exact verification on a bounded candidate generator.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact-duplicate groups: md5 of the raw text. */
  def exactGroups(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))

  /** Canonical-document mapping: every doc points at the smallest doc_id
    * with identical text; `is_dup` marks rows a dedup pass would drop. */
  def exactKeepFirst(docs: DataFrame, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary")))
    docs.select(col("doc_id"), min(col("doc_id")).over(w).as("keep_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
  }

  /** Production twin of [[exactKeepFirst]]: the same keep-first window
    * keyed on `xxhash64(text)` instead of md5 (r15, the same split as
    * minhash's md5 and xxhash64 pair generators — the r14 verdict flagged
    * dedup_exact_keep_first as the board's worst sf10 ratio, 29×, and
    * asked whether the cost is the hash or the exchange; the bench
    * forensics from r15 on price both flavors side by side, e.g.
    * BENCH_FORENSICS_r15_scaleprobe_sf10.txt). The md5 flavor exists
    * solely so DuckDB can replay the hash in the oracle; xxhash64 is the
    * codegen'd 64-bit house hash — same dedup semantics modulo a ~2⁻⁶⁴
    * per-pair collision odds (a collision would conflate two DISTINCT
    * texts into one group; at lake scale pair counts ~2⁴⁰ that risk is
    * accepted everywhere else the lib uses 64-bit hashing, and callers
    * that cannot accept it keep the md5 flavor). */
  def exactKeepFirstHashed(docs: DataFrame, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)))
    docs.select(col("doc_id"), min(col("doc_id")).over(w).as("keep_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("int"))
  }

  // ---------- MinHash + LSH ----------

  /** Word k-shingles of the lowercased text, de-duplicated. */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = split(lower(trim(textCol)), "\\s+")
    array_distinct(
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", toks))))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum xxhash64 over the shingle set. Pure map-side HOF expression. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(shinglesCol, s => xxhash64(seed, s))))

  /** Validates an LSH band scheme and returns rowsPerBand. Fails loudly
    * because both bad shapes fail SILENTLY downstream: a non-divisible
    * (numHashes, bands) pair ignores the trailing `numHashes % bands`
    * signature rows (quietly changed recall), and bands > numHashes makes
    * rowsPerBand = 0 so every band key hashes an EMPTY slice — all
    * documents collide in every band and the candidate self-join
    * degenerates to a full O(n²) cross product. */
  private[graft] def requireBandScheme(numHashes: Int, bands: Int): Int = {
    require(numHashes >= 1, s"minhash: numHashes must be >= 1, got $numHashes")
    require(bands >= 1 && bands <= numHashes,
      s"minhash: bands must be in [1, numHashes=$numHashes], got $bands — " +
        "bands > numHashes gives empty band slices (every doc collides in " +
        "every band; the candidate self-join becomes O(n²))")
    require(numHashes % bands == 0,
      s"minhash: numHashes ($numHashes) must be divisible by bands ($bands)" +
        " — a remainder silently drops the trailing signature rows from " +
        "every band key (changed recall, no error)")
    numHashes / bands
  }

  /** LSH band keys: signature split into `bands` slices of `rowsPerBand`,
    * each slice hashed to one bucket key. */
  def lshBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sigCol, b * rowsPerBand + 1, lit(rowsPerBand))))

  /** Candidate near-dup pairs via LSH banding + exact Jaccard verification.
    * Returns (doc_id_a, doc_id_b, jaccard) for bucket-colliding pairs with
    * jaccard >= threshold.
    *
    * Hot path is fully native: shingle sets are sorted int64 hash sets
    * ([[graft.functions.ShingleHashSet]], one pass per doc), signatures a
    * fused numHashes×|set| loop ([[graft.functions.MinHashSig]]), and the
    * exact verification a merge walk
    * ([[graft.functions.SortedIntersectCount]]) — no per-pair hash-set
    * builds, no interpreted HOF lambdas. */
  def minhashPairs(docs: DataFrame, textCol: String, k: Int = 3,
                   numHashes: Int = 32, bands: Int = 8,
                   threshold: Double = 0.7): DataFrame = {
    val rowsPerBand = requireBandScheme(numHashes, bands)
    // The band self-join and the candidate dedup move IDS ONLY — the
    // shingle-hash arrays are attached to the deduped pair set afterwards
    // by two doc_id joins. The previous shape carried both arrays through
    // the (band, bh) shuffle (one copy per band — 8× per doc) and again
    // through the dropDuplicates exchange; at corpus scale the band join's
    // payload must stay O(ids), with each doc's set shuffled once per
    // attach side. The set column is recomputed per consumer (scan +
    // one native pass) rather than carried — recompute is cheaper than
    // materializing array rows, the ts_rul_pipeline lesson.
    val withSh = docs.select(col("doc_id"),
      graft.functions.ShingleHashSet(lower(trim(col(textCol))), k).as("sh"))
    val buckets = withSh
      .withColumn("sig", graft.functions.MinHashSig(col("sh"), numHashes))
      .select(col("doc_id"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "bh")))
    val ids = buckets
      .join(buckets.withColumnRenamed("doc_id", "doc_id_b"), Seq("band", "bh"))
      .filter(col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("doc_id_a"), col("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
    ids
      .join(withSh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(withSh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** Per-document MinHash diagnostics joined with each doc's best LSH match
    * — always one row per document (robust under data with no near-dups),
    * while still exercising the full shingle→sign→band→bucket-join path. */
  def minhashProfile(docs: DataFrame, textCol: String): DataFrame = {
    val pairs = minhashPairs(docs, textCol, threshold = 0.0)
    val sym = pairs.select(col("doc_id_a").as("doc_id"),
                  col("doc_id_b").as("match_id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id"),
                  col("doc_id_a").as("match_id"), col("jaccard")))
    val best = sym.groupBy(col("doc_id"))
      .agg(max_by(col("match_id"), struct(col("jaccard"), col("match_id"))).as("best_match_id"),
           max(col("jaccard")).as("best_jaccard"),
           count(lit(1)).as("n_candidates"))
    docs.select(col("doc_id"),
        size(graft.functions.ShingleHashSet(lower(trim(col(textCol))), 3))
          .as("n_shingles"))
      .join(best, Seq("doc_id"), "left")
  }

  // ---------- MinHash + LSH, oracle-replayable md5 hash family ----------

  /** Sorted distinct md5-60 hashes of the word k-shingles — the
    * replayable twin of [[graft.functions.ShingleHashSet]], computed in
    * one native pass ([[graft.functions.Md5ShingleHashSet]]; the HOF
    * formulation it replaced paid an interpreted md5/conv chain PER
    * SHINGLE — 12.6 s at sf0.1 vs ~1 s native). The md5 runs once per
    * window (not per seed): seeded signature mixing happens downstream in
    * native splitmix ([[graft.functions.MinHashSig]]), which DuckDB
    * replays exactly in UHUGEINT mod-2^64 CTEs. */
  def md5ShingleHashes(textCol: Column, k: Int): Column =
    graft.functions.Md5ShingleHashSet(lower(trim(textCol)), k)

  /** [[minhashPairs]] with the md5-60 hash family and plain-text band
    * keys — identical pipeline shape (map-side signatures, ids-only band
    * self-join, arrays attached post-dedup), every hash replayable by the
    * DuckDB oracle. Jaccard is rounded to 6 dp in both engines (exact:
    * both divide the same two integers). */
  def minhashPairsMd5(docs: DataFrame, textCol: String, k: Int = 3,
                      numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.7): DataFrame =
    minhashPairsMd5From(docs.select(col("doc_id"),
      md5ShingleHashes(col(textCol), k).as("sh")), numHashes, bands, threshold)

  /** [[minhashPairsMd5]] over a PRE-DERIVED (doc_id, sh) frame. The md5
    * shingle set is this family's dominant map cost and the pair plan
    * consults it in THREE branches (band buckets + both attach joins);
    * taking the frame as an input lets a caller that owns a persisted
    * copy ([[md5ShingleIndex]]) pay the derivation once instead of once
    * per branch per evaluation — r21, the r20 verdict's #5 item. Values
    * are unchanged by construction: the inlined form passes the raw
    * derivation expression and yields the previous plan verbatim. */
  def minhashPairsMd5From(withSh: DataFrame,
                          numHashes: Int = 32, bands: Int = 8,
                          threshold: Double = 0.7): DataFrame = {
    val rowsPerBand = requireBandScheme(numHashes, bands)
    // band key = the signature slice itself, comma-joined: a string key
    // replays as DuckDB string_agg(... ORDER BY seed) where a hashed key
    // (xxhash64 of the slice) would not
    val buckets = withSh
      .withColumn("sig", graft.functions.MinHashSig(col("sh"), numHashes))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", transform(
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string"))))).as(Seq("band", "bh")))
    val ids = buckets
      .join(buckets.withColumnRenamed("doc_id", "doc_id_b"), Seq("band", "bh"))
      .filter(col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("doc_id_a"), col("doc_id_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
    ids
      .join(withSh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        Seq("doc_id_a"))
      .join(withSh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        Seq("doc_id_b"))
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
  }

  /** [[minhashProfile]] on the replayable md5 hash family — the gated
    * `dedup_minhash` surface since r9 (the xxhash64 fast path stays the
    * lib default; this one trades ~2× the map-side hash cost for a full
    * DuckDB hash-parity oracle). */
  def minhashProfileMd5(docs: DataFrame, textCol: String): DataFrame =
    minhashProfileMd5From(docs.select(col("doc_id"),
      md5ShingleHashes(col(textCol), 3).as("sh")))

  /** [[minhashProfileMd5]] over a pre-derived (doc_id, sh) frame — the
    * profile consults the shingle set in a FOURTH branch (n_shingles),
    * so the shared-frame win compounds here (see
    * [[minhashPairsMd5From]]). n_shingles = size(sh) is the same value
    * the inline form computed (the derivation is deterministic and
    * row-preserving over docs). */
  def minhashProfileMd5From(withSh: DataFrame): DataFrame = {
    val pairs = minhashPairsMd5From(withSh, threshold = 0.0)
    val sym = pairs.select(col("doc_id_a").as("doc_id"),
                  col("doc_id_b").as("match_id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_id_b").as("doc_id"),
                  col("doc_id_a").as("match_id"), col("jaccard")))
    val best = sym.groupBy(col("doc_id"))
      .agg(max_by(col("match_id"), struct(col("jaccard"), col("match_id"))).as("best_match_id"),
           max(col("jaccard")).as("best_jaccard"),
           count(lit(1)).as("n_candidates"))
    withSh.select(col("doc_id"), size(col("sh")).as("n_shingles"))
      .join(best, Seq("doc_id"), "left")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash over whitespace tokens: every distinct token's 64-bit
    * hash votes ±1 per bit; the sketch bit is the vote sign. One native
    * pass per document ([[graft.functions.SimHash64]] — the HOF
    * formulation it replaces hashed every (bit, token) pair separately
    * through interpreted lambdas, 64× the hashing). Emitted with the four
    * 16-bit band keys used for hamming-distance candidate generation. */
  def simhash(docs: DataFrame, textCol: String): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.SimHash64(lower(trim(col(textCol)))).as("simhash"))
      .withColumn("band0", shiftright(col("simhash"), 0).bitwiseAND(0xFFFFL))
      .withColumn("band1", shiftright(col("simhash"), 16).bitwiseAND(0xFFFFL))
      .withColumn("band2", shiftright(col("simhash"), 32).bitwiseAND(0xFFFFL))
      .withColumn("band3", shiftright(col("simhash"), 48).bitwiseAND(0xFFFFL))
  }

  /** [[simhash]] on the md5 hash family ([[graft.functions.Md5SimHash64]])
    * — the gated `dedup_simhash` surface since r9: every token hash is
    * DuckDB's `md5_number_upper`, so sketch AND band values replay
    * exactly in SQL. Same pure map-side plan (no shuffle at all); the
    * arithmetic-shiftright band extraction is unchanged (the `& 0xFFFF`
    * mask discards the sign-extension bits). */
  def simhashMd5(docs: DataFrame, textCol: String): DataFrame = {
    docs.select(col("doc_id"),
        graft.functions.Md5SimHash64(lower(trim(col(textCol)))).as("simhash"))
      .withColumn("band0", shiftright(col("simhash"), 0).bitwiseAND(0xFFFFL))
      .withColumn("band1", shiftright(col("simhash"), 16).bitwiseAND(0xFFFFL))
      .withColumn("band2", shiftright(col("simhash"), 32).bitwiseAND(0xFFFFL))
      .withColumn("band3", shiftright(col("simhash"), 48).bitwiseAND(0xFFFFL))
  }

  /** Near-dup candidate pairs from the 64-bit SimHash sketch: two docs
    * are candidates iff they collide on ANY of the four 16-bit bands —
    * pigeonhole-complete for hamming distance <= 3 (4 bands, ≤3 differing
    * bits ⇒ at least one band untouched) — then verified by the exact
    * popcount of the sketch XOR.
    *
    * Scale shape: sketches and bands are map-side ([[simhash]]); the only
    * shuffle is the ×4-exploded (band, band-value) equi-join, and the
    * verification touches an 8-byte sketch per side — the text never
    * moves. The SimHash analog of [[minhashPairs]]' LSH banding. */
  def simhashPairs(docs: DataFrame, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // the 4-band generation only guarantees a colliding band for pairs
    // within hamming 3; a larger threshold would silently return an
    // INCOMPLETE pair set (4 differing bits can straddle all 4 bands)
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs is pigeonhole-complete only for maxHamming <= 3, got $maxHamming")
    val sk = simhash(docs, textCol)
    val bands = sk.select(col("doc_id"), col("simhash"),
      posexplode(array(col("band0"), col("band1"), col("band2"), col("band3")))
        .as(Seq("b", "bv")))
    val a = bands.select(col("b"), col("bv"),
      col("doc_id").as("doc_id_a"), col("simhash").as("sh_a"))
    val bb = bands.select(col("b"), col("bv"),
      col("doc_id").as("doc_id_b"), col("simhash").as("sh_b"))
    a.join(bb, Seq("b", "bv"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"), col("sh_a"), col("sh_b"))
      .dropDuplicates("doc_id_a", "doc_id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_id_a", "doc_id_b", "hamming")
  }

  // ---------- n-gram Jaccard (exact, bounded candidates) ----------

  /** Word 3-gram multiset → distinct set per doc. */
  def ngramSet(textCol: Column, n: Int): Column = shingles(textCol, n)

  /** Exact n-gram Jaccard over the length-band candidate generator:
    * same-lang pairs whose lengths differ by <= `lenTol` chars.
    *
    * SCALE WARNING (r10, found by the 100× probe): this candidate set
    * grows as the SQUARE of per-(lang, n_chars) bucket density — 34k
    * pairs at sf0.1, 3.4M at 10×, 340M at 100× on this corpus — because
    * corpus growth piles more docs into the same (lang, length) buckets.
    * It is a correctness/verification surface for BOUNDED corpora (and
    * the honest exact baseline the LSH recall specs compare against); the
    * gated queries and the cluster index moved to [[minhashPairsMd5]]'s
    * banded generator, whose candidate count tracks the actual near-dup
    * rate and stays linear under density growth.
    *
    * The per-pair set math runs on sorted xxhash64'd shingles through the
    * native merge-walk expression ([[graft.functions.SortedIntersectCount]])
    * — `array_intersect` on string arrays builds a boxed hash set per PAIR,
    * which dominated this operator's runtime ~10× at sf0.1. Values are
    * unchanged (64-bit shingle hashing is collision-free at corpus scale,
    * and the DuckDB oracle's string-set jaccard hash-matches). */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, lenTol: Int = 2): DataFrame = {
    val withG = docs.select(col("doc_id"),
      graft.functions.ShingleHashSet(lower(trim(col("text"))), n).as("g"))
    // Banded equi-join on (lang, n_chars): the a-side is exploded to its
    // 2·lenTol+1 admissible lengths and joined on the exact length — each
    // qualifying pair matches at exactly one offset, so no dedup is
    // needed. A plain same-lang join with an |nc_a - nc_b| <= tol
    // post-filter is quadratic per language and concentrates the largest
    // language in one shuffle partition; the banded key spreads it and
    // produces only qualifying pairs. The banded join moves IDS ONLY (the
    // a-side explosion would otherwise shuffle 2·lenTol+1 copies of each
    // shingle set); the sets attach to the qualifying pairs afterwards by
    // two doc_id joins, one array copy per doc per side.
    val meta = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val a = meta.select(col("lang"), col("doc_id").as("doc_id_a"),
        explode(sequence(col("n_chars") - lenTol, col("n_chars") + lenTol))
          .as("nc_key"))
    a.join(meta.select(col("lang"), col("doc_id").as("doc_id_b"),
        col("n_chars").as("nc_key")), Seq("lang", "nc_key"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("lang"), col("doc_id_a"), col("doc_id_b"))
      .join(withG.select(col("doc_id").as("doc_id_a"), col("g").as("g_a")),
        Seq("doc_id_a"))
      .join(withG.select(col("doc_id").as("doc_id_b"), col("g").as("g_b")),
        Seq("doc_id_b"))
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("g_a"), col("g_b")))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("g_a")) + size(col("g_b")) - col("common")), 6))
      .select("lang", "doc_id_a", "doc_id_b", "jaccard")
  }

  // ---------- embedding cosine near-dup ----------

  /** Embedding near-dup pairs within a bounded candidate window: same
    * label, vec_id within `idWindow` (stand-in for an ANN bucket join at
    * scale — see Similarity.annLsh for the unbounded path).
    *
    * Banded equi-join on (label, vec_id div idWindow), mirroring the
    * ngram generator above: with bucket width = idWindow, a qualifying
    * pair (id_b − id_a ∈ (0, idWindow]) has bucket_b ∈ {bucket_a,
    * bucket_a + 1}, so the a-side explodes to those two bucket keys and
    * the range test becomes a post-filter on an already-bounded pair set.
    * The r3 shape — join on `label` alone with the id-window as a
    * post-filter — materialized every same-label pair first: per-label
    * QUADRATIC, and one giant shuffle partition per label at corpus
    * scale. */
  def embedCosinePairs(emb: DataFrame, idWindow: Int = 50): DataFrame = {
    // integer `div`, not float division + cast: vec_id can exceed 2^53 at
    // corpus scale, where double division mis-buckets
    val bucket = expr(s"vec_id div $idWindow")
    val a = emb.select(col("label"), col("vec_id").as("vec_id_a"),
        col("embedding").as("e_a"),
        explode(array(bucket, bucket + 1)).as("bkt"))
    val b = emb.select(col("label"), col("vec_id").as("vec_id_b"),
      bucket.as("bkt"), col("embedding").as("e_b"))
    a.join(b, Seq("label", "bkt"))
      .filter(col("vec_id_a") < col("vec_id_b") &&
              col("vec_id_b") - col("vec_id_a") <= idWindow)
      .withColumn("cos", round(graft.functions.VectorOps.cosine(col("e_a"), col("e_b")), 6))
      .select("label", "vec_id_a", "vec_id_b", "cos")
  }

  // ---------- duplicate-cluster formation (connected components) ----------

  /** Eager localCheckpoint plus a handle to the persisted RDD that backs
    * it, so the fixpoint can actually free superseded rounds.
    *
    * `Dataset.unpersist` is NOT that: it only evicts CacheManager entries
    * (`df.persist`/`df.cache`), and a localCheckpoint's blocks live on the
    * internal RDD the returned Dataset wraps — unpersisting the Dataset is
    * a silent no-op and every round's blocks survive until a periodic GC
    * lets the ContextCleaner reclaim them (DedupHygieneSpec pins this).
    * The handle is the checkpointed Dataset's own LogicalRDD leaf,
    * recovered reflectively (LogicalRDD is private[sql]; its case-class
    * `rdd` accessor is public bytecode) — exact even when other threads
    * persist RDDs concurrently, unlike a getPersistentRDDs id-diff. If
    * Spark's internals ever rename the leaf, the Try degrades to None and
    * the blocks fall back to ContextCleaner reclamation instead of
    * failing the operator. */
  private def checkpointWithHandle(
      df: DataFrame): (DataFrame, Option[org.apache.spark.rdd.RDD[_]]) = {
    val cp = df.localCheckpoint()
    val plan = cp.queryExecution.analyzed
    val handle = scala.util.Try(
      plan.getClass.getMethod("rdd").invoke(plan)
        .asInstanceOf[org.apache.spark.rdd.RDD[_]]).toOption
    (cp, handle)
  }

  private def free(h: Option[org.apache.spark.rdd.RDD[_]]): Unit =
    h.foreach(_.unpersist(blocking = true))

  /** Caller-facing handle to a checkpoint's block set. Operators that
    * return a frame still referencing a checkpoint hand one of these back
    * so the CALLER can free the blocks eagerly the moment it has consumed
    * the result — the same hygiene [[componentLabels]] applies internally.
    * Without it the block set strands until a periodic GC lets the
    * ContextCleaner reclaim it; a session looping daily increments would
    * accumulate one per call. `close()` is safe to call more than once and
    * after the backing session is gone (RDD.unpersist is idempotent). */
  final class CheckpointHandle private[operators] (
      h: Option[org.apache.spark.rdd.RDD[_]]) extends AutoCloseable {
    override def close(): Unit = free(h)
  }

  /** Persisted RDDs backing the checkpoint leaves of `df`'s analyzed plan
    * — the same reflective recovery as [[checkpointWithHandle]], applied
    * to every LogicalRDD leaf. Lets an operator free a nested fixpoint's
    * surviving checkpoint once a downstream materialization has made it
    * dead, instead of leaving it to the ContextCleaner. Best-effort like
    * the single-handle path: unrecoverable leaves degrade to cleaner
    * reclamation. */
  private def persistedLeafRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().flatMap(l =>
      scala.util.Try(l.getClass.getMethod("rdd").invoke(l)
        .asInstanceOf[org.apache.spark.rdd.RDD[_]]).toOption)
      .filter(_.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)

  /** Connected components over a near-dup candidate-pair graph: every doc
    * is labeled with the smallest doc_id reachable through candidate edges
    * (its cluster id); `is_canonical` marks the one doc per cluster a
    * dedup pass keeps.
    *
    * Algorithm: min-label propagation to fixpoint — the standard
    * large-scale formulation (each iteration is one join + one min-agg,
    * both keyed on doc id; converges in O(component diameter) rounds,
    * and near-dup clusters are shallow by construction). Lineage is cut
    * with localCheckpoint each round so the plan doesn't grow with the
    * iteration count; at cluster scale this would be a reliable
    * checkpoint to durable storage instead.
    */
  def componentLabels(vertices: DataFrame, pairs: DataFrame,
                      maxIters: Int = 20): DataFrame = {
    // The fixpoint state covers ONLY edge-incident vertices: singletons —
    // the overwhelming majority of any corpus — never enter the loop and
    // get their own id back in the final join. Self-loops fold "keep your
    // own label" into the propagation join+agg itself, so each round has
    // no union branch. The edge set is materialized ONCE — its lineage
    // embeds the candidate generator (an expensive similarity self-join),
    // which would otherwise be recomputed by every round.
    val sym = pairs.select(col("doc_id_a").as("src"), col("doc_id_b").as("dst"))
      .unionByName(pairs.select(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))
    val (edges, edgesH) = checkpointWithHandle(
      sym.unionByName(sym.select(col("src"), col("src").as("dst")))
        .distinct())
    // Seed = one-hop closed-neighborhood min (self included via the
    // self-loop): one agg, worth a full propagation round — shallow
    // near-dup clusters often converge AT the seed and pay one
    // confirmation round only.
    var (labels, labelsH) = checkpointWithHandle(
      edges.groupBy(col("src"))
        .agg(min(col("dst")).as("l"))
        .select(col("src").as("v"), col("l")))
    // Convergence test: labels are monotonically non-increasing under
    // min-propagation (the closed neighborhood includes the vertex), so
    // the fixpoint is reached exactly when sum(l) stops decreasing — one
    // shuffle-free partial aggregate over the just-checkpointed frame,
    // instead of a join + count against the previous round's labels. The
    // sum runs in decimal(38,0): a Long sum would wrap mod 2^64 at
    // billions-of-vertices scale and the monotonicity argument only holds
    // for exact arithmetic.
    def labelSum(df: DataFrame): BigDecimal =
      BigDecimal(df.agg(coalesce(sum(col("l").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head.getDecimal(0))
    // The error path must free too: a non-converging graph or a failed
    // mid-loop job would otherwise strand the edge + current-label (+ the
    // caller's pair) blocks — exactly the leak class the eager frees
    // exist to prevent, surviving in sessions that catch and retry.
    try {
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val supersededH = labelsH
      // propagate: min label over the closed neighborhood (self-loop
      // supplies the vertex's own label) — one join + one agg
      val neighbor = labels.join(edges, labels("v") === edges("src"))
        .groupBy(edges("dst")).agg(min(col("l")).as("l"))
        .select(col("dst").as("v"), col("l"))
      // pointer jumping (path halving) fused into the same round:
      // l <- min(l, label(l)). Neighbor propagation alone needs
      // O(component diameter) rounds — a chain of templated near-dups is
      // exactly that worst case; the jump roughly squares the reach per
      // round. `neighbor` feeds both sides of the jump join lazily and is
      // recomputed rather than checkpointed: two joins over the (small)
      // incident-vertex set are cheaper than a second materialization per
      // round — the r4 shape paid 3 checkpoint jobs per round and the
      // checkpoint overhead, not the join math, dominated the bench.
      val (next, nextH) = checkpointWithHandle(
        neighbor
          .join(neighbor.select(col("v").as("lv"), col("l").as("ll")),
            col("l") === col("lv"))
          .select(col("v"), least(col("l"), col("ll")).as("l")))
      // a labelSum failure lands in the outer catch BEFORE labelsH is
      // reassigned — free the freshly materialized round here or it leaks
      val s = try labelSum(next) catch { case t: Throwable =>
        free(nextH); throw t
      }
      converged = s == prevSum
      prevSum = s
      // `next` is already materialized (eager localCheckpoint + the sum
      // action above), so the superseded round's blocks are dead — free
      // them NOW. Leaving them to the ContextCleaner strands
      // ~(rounds+2) checkpoint block sets per fixpoint execution in the
      // block manager until a periodic GC fires (default interval 30 min
      // — longer than a whole bench run), and the eviction churn taxes
      // every later query in the session; at a real 100 TB run the same
      // leak accumulates across a long job until executors OOM.
      // blocking=true for the same reason as KMeans.fit: non-blocking
      // unpersists just move the churn onto the next query.
      free(supersededH)
      labels = next
      labelsH = nextH
      it += 1
    }
    // a silent non-converged return would break the one-canonical-per-
    // cluster invariant downstream (dedupClusters, pipeline_curation)
    require(converged,
      s"componentLabels did not converge within $maxIters rounds")
    } catch { case t: Throwable =>
      free(labelsH); free(edgesH); throw t
    }
    // The fixpoint is done and `labels` is checkpointed (its evaluation no
    // longer re-runs lineage), so the edge blocks are dead too.
    free(edgesH)
    // Singletons re-enter here: every vertex without an edge keeps its own
    // id. The label side is at most the incident vertices — AQE broadcasts
    // it when small; at corpus scale this is the only join that touches
    // the full vertex set, once, instead of every round. This IS a second
    // scan of `vertices` (the candidate generator already scanned it), but
    // a deliberately bounded one: only the doc_id column survives column
    // pruning, so at 100 TB it reads one narrow column chunk, not the
    // text — fusing it into the generator's scan would force the wide
    // columns through the fixpoint instead.
    //
    // The returned frame still references the final round's `labels`
    // checkpoint (one block set over the incident vertices — everything
    // else was freed above). It cannot be unpersisted here because the
    // caller has not consumed the join yet; the ContextCleaner reclaims it
    // once the frame is dropped (Bench/Verify set
    // spark.cleaner.periodicGC.interval=1min so that actually happens
    // within a session). DedupHygieneSpec pins the ≤1-surviving-block-set
    // invariant.
    vertices.select(col("doc_id").as("v"))
      .join(labels.withColumnRenamed("l", "cl"), Seq("v"), "left")
      .select(col("v"), coalesce(col("cl"), col("v")).as("l"))
  }

  /** Cluster assignment for every document: near-dup edges = exact
    * shingle-set Jaccard >= threshold, verified over the BANDED md5-LSH
    * candidate generator ([[minhashPairsMd5]]).
    *
    * r10 generator swap, forced by the 100× scale probe: the previous
    * edge source ([[ngramJaccardPairs]]' same-lang length-band
    * candidates) grows as the SQUARE of per-(lang, n_chars) bucket
    * density — 34k candidate pairs at sf0.1 became 340M at 100× data and
    * the index build died spilling terabytes, while the corpus's actual
    * dup structure (and so the LSH candidate set) grew linearly. LSH
    * banding is the generator whose candidate count tracks the real
    * near-dup rate instead of corpus density; the md5 family keeps every
    * edge DuckDB-replayable, so the cluster closure stays oracle-gated.
    * `candidatePairs` lets callers swap generators (e.g. the xxhash64
    * fast path, or length-banding for small bounded corpora). */
  def dedupClusters(docs: DataFrame, threshold: Double,
      candidatePairs: (DataFrame, Double) => DataFrame =
        (d, t) => minhashPairsMd5(d, "text", threshold = t)): DataFrame = {
    // materialize the candidate pairs once — componentLabels references
    // them in both directions of the edge union
    val (pairs, pairsH) = checkpointWithHandle(
      candidatePairs(docs, threshold))
    // componentLabels runs its fixpoint eagerly (the edge set is
    // checkpointed from `pairs` at entry and every round is an action), so
    // by the time it returns the pair blocks are dead — the returned frame
    // references only the final label checkpoint. Free them before the
    // caller ever executes the result.
    val out =
      try componentLabels(docs, pairs)
      finally free(pairsH) // on failure too — see componentLabels' catch
    out.select(col("v").as("doc_id"), col("l").as("cluster_id"),
        (col("l") === col("v")).cast("int").as("is_canonical"))
  }

  /** Incremental cluster assignment: label a NEW batch of documents
    * against an EXISTING cluster index without re-running the corpus-wide
    * fixpoint — the daily-increment shape of curation at scale, where
    * re-deriving connected components over 100 TB because 0.1% new
    * documents arrived is not viable.
    *
    * Inputs: `oldLabels` = the existing index (doc_id, cluster_id),
    * immutable; `newNewPairs` = candidate near-dup pairs WITHIN the new
    * batch; `newOldPairs` = candidate pairs from new docs (doc_id_a) to
    * old docs (doc_id_b). [[incrementalCandidatePairs]] produces both from
    * the same MinHash/LSH machinery as the full build — the new batch's
    * band keys probed against the indexed corpus buckets, batch side
    * broadcast.
    *
    * Algorithm: (1) connected components over the new batch ONLY (the
    * fixpoint runs on the increment, not the corpus); (2) each new doc
    * pulls the min old cluster_id it matches; (3) each new COMPONENT takes
    * the min attached old cluster over its members, so two new near-dups
    * land in one cluster even when only one of them touches the old
    * corpus; unattached components keep their own min-id label.
    *
    * Contract: old labels are FROZEN. A full rebuild could merge two old
    * clusters through a new bridge document; the incremental pass instead
    * attaches the bridge to the smaller cluster_id and leaves the old
    * partition untouched — the standard tradeoff that keeps increments
    * O(batch), with a periodic full rebuild reconciling bridges.
    *
    * Returns the label frame plus a [[CheckpointHandle]]: the frame
    * references one checkpointed block set (the increment's component
    * labels), and a caller that has consumed the result should `close()`
    * the handle to free it eagerly — a session looping daily increments
    * otherwise strands one block set per call until a periodic GC.
    */
  def incrementalLabels(newDocs: DataFrame, oldLabels: DataFrame,
                        newNewPairs: DataFrame,
                        newOldPairs: DataFrame): (DataFrame, CheckpointHandle) = {
    // (1) fixpoint over the increment only — all checkpoint hygiene of
    // componentLabels applies. The component frame feeds TWO plan
    // branches (the attach aggregation and the final join), so it is
    // checkpointed once here; without it the vertices-tail join would
    // execute twice per action. The one block set (O(batch)) is freed by
    // the caller via the returned handle, or by the ContextCleaner when
    // the frame is dropped.
    val inner = componentLabels(newDocs, newNewPairs)
      .select(col("v").as("doc_id"), col("l").as("comp"))
    val (comp, compH) = checkpointWithHandle(inner)
    // `comp` is materialized, so the inner fixpoint's own surviving label
    // checkpoint (the one block set componentLabels leaves per build) is
    // dead — free it now rather than stranding it until a periodic GC.
    // Leaves owned by the CALLER's inputs (a checkpointed newDocs/pair
    // frame) are excluded: freeing those is the caller's decision.
    val callerOwned = (persistedLeafRdds(newDocs) ++
      persistedLeafRdds(newNewPairs)).map(_.id).toSet
    persistedLeafRdds(inner).filterNot(r => callerOwned(r.id))
      .foreach(_.unpersist(blocking = true))
    // (2) per new doc, the smallest old cluster it matches (min-label
    // semantics, consistent with the full build's canonical choice)
    val attach = newOldPairs
      .join(oldLabels.select(col("doc_id").as("doc_id_b"), col("cluster_id")),
        Seq("doc_id_b"))
      .groupBy(col("doc_id_a").as("doc_id"))
      .agg(min(col("cluster_id")).as("old_cl"))
    // (3) component-wide min old cluster; the attach side is O(new batch)
    // so both joins broadcast at increment scale
    val compOld = comp.join(attach, Seq("doc_id"), "left")
      .groupBy(col("comp"))
      .agg(min(col("old_cl")).as("comp_old"))
    val out = comp.join(compOld, Seq("comp"))
      .select(col("doc_id"),
        coalesce(col("comp_old"), col("comp")).as("cluster_id"),
        col("comp_old").isNotNull.cast("int").as("attached_to_existing"))
    (out, new CheckpointHandle(compH))
  }

  /** Corpus MinHash BUCKET INDEX — the persisted form of the corpus side
    * of [[incrementalCandidatePairs]]' probe join, NORMALIZED into two
    * frames (r15, the r14 verdict's layout find): `buckets` = one small
    * row per (document, band) — (doc_id, band, bh) — carrying ONLY the
    * band key, and `shingles` = the document's full shingle-hash set
    * ONCE per document — (doc_id, sh) — joined back only for the
    * collision hits (batch-sized by construction) that need exact
    * Jaccard verification. Build once per corpus snapshot and persist
    * both frames next to [[clusterIndex]]'s labels and [[gramIndex]]
    * (bucket `buckets` on (band, bh) and `shingles` on doc_id for
    * shuffle-free probes); the increment then probes yesterday's index
    * WITHOUT touching corpus text.
    *
    * Why normalized: the r14 layout carried the shingle set once per
    * (doc, band) — with 8 bands, ~8× the shingle bytes per document,
    * MORE bytes than the text it replaced — and the r14 fixed-batch
    * probe duly measured that index SLOWER than re-deriving from text
    * (11.5 vs 7.8 s at a 500k-doc corpus). This layout stores the set
    * once; the collision-hit join that re-attaches it scans the
    * shingle frame map-side against a broadcast batch-sized hit list,
    * so the probe still never shuffles the corpus. Re-priced by the
    * r15 fixed-batch probe (INCREMENT_PROBE_r15.json, med-of-3, pinned
    * heap): at a 500k-doc corpus the normalized index now BEATS the
    * derive-from-text form (6.77 vs 7.72 s — r14's layout lost 11.46
    * vs 7.82); at 50k docs it still loses (9.18 vs 5.97 — the probe's
    * extra exchanges are a fixed overhead a small warm corpus
    * undercuts). So: derive stays the default for small/warm corpora,
    * and the index is both the text-access DECOUPLING option and the
    * measured faster path once the corpus is large.
    *
    * Family coherence: band keys are built exactly like the matching
    * pair generator's — xxhash64 slice keys for the production family,
    * comma-joined signature strings for the md5 (oracle-replayable)
    * family — so an index built with one family must be probed with the
    * same `md5Family` flag ([[incrementalCandidatePairs]]' existing
    * contract, load-bearing across a persistence boundary). Both frames
    * come from one builder call so the pair cannot mix snapshots or
    * families. */
  final case class BucketIndex(buckets: DataFrame, shingles: DataFrame) {
    /** Corpus size (one `shingles` row per document) — computed once per
      * index instance (= once per corpus snapshot) and cached, so the
      * crossover advisory costs one count on the first probe and nothing
      * after. */
    lazy val docCount: Long = shingles.count()
  }

  /** The measured index-vs-derive crossover (INCREMENT_PROBE_r15, med-of-3,
    * pinned heap, fixed 5000-doc batch): at a 50k-doc corpus the persisted
    * index LOSES to deriving buckets from text (9.18 vs 5.97 s — the
    * probe's extra exchanges are a fixed overhead a small warm corpus
    * undercuts); at 500k docs it WINS (6.77 vs 7.72 s). The boundary is
    * between those two measured points; ~100k is the documented rule of
    * thumb (README "daily loop"). Below this, prefer derive-from-text
    * unless the point of the index is text-access DECOUPLING (probing
    * yesterday's snapshot without holding its text). */
  val bucketIndexCrossoverDocs: Long = 100000L

  /** The crossover advisory [[incrementalCandidatePairs]] logs when a
    * persisted [[BucketIndex]] is supplied for a corpus under
    * [[bucketIndexCrossoverDocs]] — exposed so the rule is spec-pinnable:
    * Some(message) under the crossover, None at or above it. */
  def bucketIndexAdvisory(ix: BucketIndex): Option[String] =
    if (ix.docCount < bucketIndexCrossoverDocs)
      Some(s"bucketIndex supplied for a ${ix.docCount}-doc corpus, under " +
        s"the measured index-vs-derive crossover (~$bucketIndexCrossoverDocs " +
        "docs, INCREMENT_PROBE_r15): deriving buckets from text is the " +
        "measured faster path at this size — keep the index only if you " +
        "need text-access decoupling from yesterday's snapshot")
    else None

  /** Roll a persisted [[BucketIndex]] forward by one increment's keepers
    * — the bucket-index sibling of the daily loop's gram-index refresh
    * (README: `gramIx.unionByName(gramIndex(keepers)).distinct()`). The
    * increment's frames are built with ONE [[minhashBuckets]] call and
    * unioned per frame, so the result is row-identical to rebuilding the
    * index over corpus ∪ keepers (doc_ids are disjoint by the loop's own
    * id discipline; no distinct needed — and none is taken, so a caller
    * who appends the same day twice gets duplicate bucket rows rather
    * than a silent dedup masking the mistake).
    *
    * Scheme coherence: `k`/`numHashes`/`bands`/`md5Family` MUST match
    * the original build — the same cross-persistence contract the
    * md5Family flag already carries ([[incrementalCandidatePairs]]:
    * band keys differ between hash families, and between band schemes).
    * The refreshed index picks up a fresh cached [[BucketIndex.docCount]]
    * on first probe, so the crossover advisory tracks the grown corpus. */
  def bucketIndexAppend(ix: BucketIndex, newDocs: DataFrame,
                        textCol: String = "text", k: Int = 3,
                        numHashes: Int = 32, bands: Int = 8,
                        md5Family: Boolean = false): BucketIndex = {
    val add = minhashBuckets(newDocs, textCol, k, numHashes, bands, md5Family)
    BucketIndex(ix.buckets.unionByName(add.buckets),
      ix.shingles.unionByName(add.shingles))
  }

  def minhashBuckets(docs: DataFrame, textCol: String = "text", k: Int = 3,
                     numHashes: Int = 32, bands: Int = 8,
                     md5Family: Boolean = false): BucketIndex = {
    val inline = bucketRowsInline(docs, textCol, k, numHashes, bands, md5Family)
    def shingleSet(c: org.apache.spark.sql.Column) =
      if (md5Family) md5ShingleHashes(c, k)
      else graft.functions.ShingleHashSet(lower(trim(c)), k)
    BucketIndex(
      buckets = inline.select(col("doc_id"), col("band"), col("bh")),
      shingles = docs.select(col("doc_id"), shingleSet(col(textCol)).as("sh")))
  }

  /** One-pass (doc_id, sh, band, bh) bucket rows with the shingle set
    * carried INLINE — the shape the derive-from-text probe path and the
    * batch side use (one scan, no re-join); [[minhashBuckets]] projects
    * the normalized persisted frames out of the same pipeline. */
  private def bucketRowsInline(docs: DataFrame, textCol: String, k: Int,
                               numHashes: Int, bands: Int,
                               md5Family: Boolean): DataFrame = {
    val rowsPerBand = requireBandScheme(numHashes, bands)
    def shingleSet(c: org.apache.spark.sql.Column) =
      if (md5Family) md5ShingleHashes(c, k)
      else graft.functions.ShingleHashSet(lower(trim(c)), k)
    def bandKeys(sig: org.apache.spark.sql.Column) =
      if (md5Family)
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",", transform(
            slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
            _.cast("string"))))
      else lshBands(sig, bands, rowsPerBand).cast("array<string>")
    docs.select(col("doc_id"), shingleSet(col(textCol)).as("sh"))
      .withColumn("sig", graft.functions.MinHashSig(col("sh"), numHashes))
      .select(col("doc_id"), col("sh"),
        posexplode(bandKeys(col("sig"))).as(Seq("band", "bh")))
  }

  /** Candidate generation for [[incrementalLabels]]: the new batch's
    * MinHash/LSH band keys probed against the indexed corpus buckets.
    * Returns `(newNewPairs, newOldPairs)` — verified near-dup pairs
    * (jaccard >= threshold) within the batch, and from batch docs
    * (doc_id_a) to corpus docs (doc_id_b) — shaped for direct use as
    * incrementalLabels' pair inputs.
    *
    * Scale shape: band keys and shingle sets are per-document and
    * map-side, identical to [[minhashPairs]] — so any pair the FULL LSH
    * BUILD (minhashPairs over old ∪ new) would find via a band collision
    * is found here by construction, either within the batch or through
    * the probe. Hash-family coherence (r10): [[dedupClusters]]' default
    * edge source is now the md5-LSH generator, and band-collision events
    * DIFFER between hash families at the margin (a borderline near-dup
    * can band-collide under one family and not the other) — so pass
    * `md5Family = true` to run the increment with the exact generator
    * the index was built with, which makes incremental ∘ probe equal a
    * full rebuild BY CONSTRUCTION on bridge-free graphs (spec-pinned);
    * the default xxhash64 family remains the cheap path for callers
    * whose index was built with [[minhashPairs]]. The
    * batch side is explicitly `broadcast()`: the corpus bucket frame —
    * at production scale a PERSISTED index table bucketed by (band, bh),
    * modeled here by deriving it from the corpus frame — is scanned
    * map-side and never shuffles, which is the whole point of an
    * incremental path: O(batch) work plus one corpus scan, no corpus
    * shuffle, no corpus-wide fixpoint. */
  def incrementalCandidatePairs(newDocs: DataFrame, oldDocs: DataFrame,
      textCol: String = "text", k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.7,
      md5Family: Boolean = false,
      oldBuckets: Option[BucketIndex] = None): (DataFrame, DataFrame) = {
    requireBandScheme(numHashes, bands)
    oldBuckets.foreach { ix =>
      val needB = Seq("doc_id", "band", "bh")
      val needS = Seq("doc_id", "sh")
      require(needB.forall(ix.buckets.columns.contains) &&
          needS.forall(ix.shingles.columns.contains),
        s"incrementalCandidatePairs: oldBuckets must be a minhashBuckets " +
          s"index (buckets: ${needB.mkString(", ")}; shingles: " +
          s"${needS.mkString(", ")}), got buckets " +
          s"[${ix.buckets.columns.mkString(", ")}] / shingles " +
          s"[${ix.shingles.columns.mkString(", ")}] — and it must have " +
          "been built with the SAME (k, numHashes, bands, hash family) " +
          "as this probe")
      // one-line crossover advisory (r15 verdict #4 operationalized):
      // docCount is cached on the index instance, so this is one count
      // job per corpus snapshot, then free
      bucketIndexAdvisory(ix).foreach(m =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(m))
    }
    // within-batch pairs: the full generator at batch scale
    val nn =
      if (md5Family) minhashPairsMd5(newDocs, textCol, k, numHashes, bands, threshold)
      else minhashPairs(newDocs, textCol, k, numHashes, bands, threshold)
    // probe join: batch buckets broadcast against the corpus buckets;
    // exact Jaccard verification only on bucket collisions. The batch
    // side always carries its shingle sets inline (one map-side pass,
    // batch-sized). The corpus side is the persisted index when the
    // caller holds one — band keys scanned WITHOUT the shingle payload,
    // hits (batch-sized by construction) broadcast back against the
    // once-per-document shingle frame — else derived from oldDocs in
    // one inline map-side pass, the DEFAULT whenever the text is warm
    // and local (see minhashBuckets' scaladoc).
    val newB = broadcast(
      bucketRowsInline(newDocs, textCol, k, numHashes, bands, md5Family)
        .select(col("band"), col("bh"),
          col("doc_id").as("doc_id_a"), col("sh").as("sh_a")))
    val hits = oldBuckets match {
      case None =>
        newB.join(bucketRowsInline(oldDocs, textCol, k, numHashes, bands,
            md5Family)
          .select(col("band"), col("bh"), col("doc_id").as("doc_id_b"),
            col("sh").as("sh_b")), Seq("band", "bh"))
          .select(col("doc_id_a"), col("doc_id_b"), col("sh_a"), col("sh_b"))
          .dropDuplicates("doc_id_a", "doc_id_b")
      case Some(ix) =>
        // dedup BEFORE attaching sh_b: the collision list is batch-sized,
        // so the shingle frame is scanned once map-side against a
        // broadcast hit list — the corpus still never shuffles
        val collisions = newB.join(ix.buckets.select(col("band"), col("bh"),
            col("doc_id").as("doc_id_b")), Seq("band", "bh"))
          .select(col("doc_id_a"), col("doc_id_b"), col("sh_a"))
          .dropDuplicates("doc_id_a", "doc_id_b")
        ix.shingles.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b"))
          .join(broadcast(collisions), Seq("doc_id_b"))
          .select(col("doc_id_a"), col("doc_id_b"), col("sh_a"), col("sh_b"))
    }
    val no = hits
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard", {
        val j = col("common").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("common"))
        // the probe leg must round (or not) EXACTLY like the matching
        // full generator: minhashPairsMd5 filters on round(j, 6), so an
        // unrounded probe would disagree with the full rebuild for pairs
        // at the rounding margin of the threshold (self-review catch) —
        // breaking the by-construction coherence this flag exists for
        if (md5Family) round(j, 6) else j
      })
      .filter(col("jaccard") >= threshold)
      .select("doc_id_a", "doc_id_b", "jaccard")
    (nn, no)
  }

  /** Session-scoped dedup-cluster INDEX over the documents table: the
    * connected-components fixpoint run once per (session, corpus snapshot,
    * threshold) and shared by every query that consumes cluster
    * membership — dedup_clusters, dedup_canonical_best and
    * pipeline_curation all read the same materialized labels instead of
    * each re-running candidate generation + fixpoint.
    *
    * This is the production shape for near-dup clustering at corpus scale:
    * the fixpoint is an index BUILD over an immutable corpus snapshot
    * (exactly like the IVF k-means index in [[graft.operators.Similarity]])
    * — paid once when the snapshot is loaded, then amortized across every
    * downstream consumer. At 100 TB re-deriving the cluster graph inside
    * each of three curation queries would triple the most expensive stage
    * in the pipeline for no informational gain. The cached value holds the
    * final label checkpoint alive for the session (one bounded block set:
    * two longs per edge-incident vertex); everything else the build
    * materializes is freed eagerly by [[dedupClusters]]'s hygiene path.
    * [[graft.SessionArtifacts]] owns the memo mechanics, cold mode and
    * the executor-loss policy. The standalone
    * [[dedupClusters]](docs, threshold) API is untouched for callers that
    * want an uncached one-shot run.
    */
  def clusterIndex(spark: SparkSession, sfDir: String,
                   threshold: Double): DataFrame =
    SessionArtifacts.getOrBuild(spark, s"cluster-index:$sfDir:$threshold") { _ =>
      (dedupClusters(Tables.documents(spark, sfDir), threshold),
        SessionArtifacts.nothingToRelease)
    }

  /** Session-scoped md5-shingle index: the persisted (doc_id, sh) frame
    * over the documents corpus that [[dedupMinhash]] and [[dedupNgram]]
    * share. Their md5-60 shingle derivation is the family's dominant map
    * cost and appears in FOUR plan branches per profile evaluation (band
    * buckets, two attach joins, n_shingles); the r20 disposition kept the
    * recompute-per-branch trade because a lazy gated return cannot own a
    * per-call persist (the FuzzyJoin PersistHandle lesson). This is the
    * r20 verdict's prescribed resolution (#5): SESSION ownership through
    * [[graft.SessionArtifacts]], like [[clusterIndex]] and the curation
    * session states — built once per (app, sfDir), and a cold build is
    * not persisted, so every cold evaluation pays the true inline
    * derivation (and reproduces the pre-r21 plan verbatim).
    *
    * The cache matches frames by plan, which sets two rules here:
    *  - No build has anything to release. A race loser's `persist` of the
    *    winner's plan registers nothing, and its `unpersist` would drop
    *    the one entry both frames share, the winner's.
    *  - A cold build must not read a warm index of the same session. Its
    *    scan carries a `Filter(true)`, so no cached plan equals any part
    *    of it; the optimizer then removes the filter, and the executed
    *    plan is the uncached one. */
  def md5ShingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    SessionArtifacts.getOrBuild(spark, s"md5-shingle-index:$sfDir")(
      md5ShingleBuild(spark, sfDir))

  /** The build behind [[md5ShingleIndex]]. */
  private[graft] def md5ShingleBuild(spark: SparkSession, sfDir: String)(
      cold: Boolean): (DataFrame, AutoCloseable) = {
    val docs = Tables.documentsKernel(spark, sfDir)
    val df = (if (cold) docs.where(lit(true)) else docs)
      .select(col("doc_id"), md5ShingleHashes(col("text"), 3).as("sh"))
    if (!cold) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df, SessionArtifacts.nothingToRelease)
  }

  // ---------- SparkEntry glue ----------

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    exactGroups(Tables.documents(spark, sfDir), "text")

  val dedupExactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_dups, min(doc_id) AS keep_id
      |FROM documents GROUP BY 1""".stripMargin

  def dedupExactKeepFirst(spark: SparkSession, sfDir: String): DataFrame =
    exactKeepFirst(Tables.documents(spark, sfDir), "text")

  val dedupExactKeepFirstSql: String =
    """SELECT doc_id,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
      |  CAST(doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS is_dup
      |FROM documents""".stripMargin

  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    minhashProfileMd5From(md5ShingleIndex(spark, sfDir))

  /** DuckDB replay of [[minhashProfileMd5]], hash-exact end to end:
    *  - shingle strings replicate `shingles()` (the dedup_ngram-proven
    *    tokenizer parity),
    *  - base hash = `md5_number_upper // 16` (= Spark's byte-reversed
    *    `conv(substr(md5, …, 15), 16, 10)`),
    *  - MinHashSig's splitmix mixing replayed in UHUGEINT mod-2^64 CTEs
    *    (xor + `//`-shifts + 64-bit multiplies; products of two uint64
    *    fit UHUGEINT exactly), signed-min parity via the HUGEINT-subtract
    *    conversion,
    *  - band keys = string_agg of the signature slice ORDER BY seed,
    *  - best-match tie-break (max jaccard, then max match_id) via the
    *    two-step agg join. */
  /** Shared DuckDB CTE chain replaying [[minhashPairsMd5]] end to end —
    * md5-60 shingle hashes, splitmix signature mixing in UHUGEINT
    * mod-2^64, band keys, bucket-join candidates, exact jaccard on the
    * hash sets. Ends at the `pairs` CTE; consumers append their own tail:
    * the dedup_minhash profile, the dedup_ngram pair list, the (r10)
    * cluster closure, and (r14) the curation-recipe oracle — one proven
    * replay, four gated surfaces. `src` = the (doc_id, text) relation the
    * pairs are generated over: band keys are per-document, so pairs over
    * a SUBSET of documents (the recipe's exact-dedup survivors) are the
    * full generator's pairs restricted to that subset — the same CTEs
    * serve both. */
  def md5MinhashPairsCtesFrom(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM $src
      |),
      |sh0 AS (
      |  SELECT doc_id, list_sort(list_distinct(list_transform(
      |    CASE WHEN len(t) >= 3
      |      THEN list_distinct(list_transform(range(len(t) - 2),
      |             i -> list_aggregate(t[i+1:i+3], 'string_agg', ' ')))
      |      ELSE [list_aggregate(t, 'string_agg', ' ')] END,
      |    g -> CAST(md5_number_upper(g) // 16 AS BIGINT)))) AS sh
      |  FROM toks
      |),
      |hx AS (SELECT doc_id, unnest(sh) AS h FROM sh0),
      |seeds AS (SELECT unnest(range(32)) AS s),
      |m0 AS (SELECT doc_id, s,
      |  xor(CAST(h AS UHUGEINT),
      |      CAST((CAST(s AS UHUGEINT) * CAST(11400714819323198485 AS UHUGEINT)
      |            + CAST(11400714819323198485 AS UHUGEINT))
      |        % CAST(18446744073709551616 AS UHUGEINT) AS UHUGEINT)) AS z0
      |  FROM hx CROSS JOIN seeds),
      |m1 AS (SELECT doc_id, s,
      |  CAST(CAST(xor(z0, z0 // 1073741824) AS UHUGEINT)
      |       * CAST(13787848793156543929 AS UHUGEINT)
      |       % CAST(18446744073709551616 AS UHUGEINT) AS UHUGEINT) AS z1 FROM m0),
      |m2 AS (SELECT doc_id, s,
      |  CAST(CAST(xor(z1, z1 // 134217728) AS UHUGEINT)
      |       * CAST(10723151780598845931 AS UHUGEINT)
      |       % CAST(18446744073709551616 AS UHUGEINT) AS UHUGEINT) AS z2 FROM m1),
      |m3 AS (SELECT doc_id, s, xor(z2, z2 // 2147483648) AS z FROM m2),
      |sig AS (SELECT doc_id, s,
      |  min(CAST(CAST(z AS HUGEINT)
      |        - CASE WHEN z >= CAST(9223372036854775808 AS UHUGEINT)
      |            THEN CAST(18446744073709551616 AS HUGEINT)
      |            ELSE CAST(0 AS HUGEINT) END AS BIGINT)) AS sv
      |  FROM m3 GROUP BY doc_id, s),
      |bands AS (SELECT doc_id, s // 4 AS band,
      |  string_agg(CAST(sv AS VARCHAR), ',' ORDER BY s) AS bh
      |  FROM sig GROUP BY doc_id, s // 4),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      |    AND a.doc_id < b.doc_id),
      |pairs AS MATERIALIZED (
      |  SELECT doc_id_a, doc_id_b,
      |    round(CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |      / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 6) AS jaccard
      |  FROM cand JOIN sh0 x ON x.doc_id = cand.doc_id_a
      |            JOIN sh0 y ON y.doc_id = cand.doc_id_b)""".stripMargin

  val md5MinhashPairsCtes: String = md5MinhashPairsCtesFrom("documents")

  val dedupMinhashSql: String =
    s"""WITH $md5MinhashPairsCtes,
      |sym AS (SELECT doc_id_a AS doc_id, doc_id_b AS match_id, jaccard FROM pairs
      |        UNION ALL
      |        SELECT doc_id_b AS doc_id, doc_id_a AS match_id, jaccard FROM pairs),
      |agg AS (SELECT doc_id, max(jaccard) AS best_jaccard,
      |               count(*) AS n_candidates
      |        FROM sym GROUP BY doc_id),
      |bid AS (SELECT sym.doc_id, max(match_id) AS best_match_id
      |        FROM sym JOIN agg ON sym.doc_id = agg.doc_id
      |          AND sym.jaccard = agg.best_jaccard
      |        GROUP BY sym.doc_id)
      |SELECT d.doc_id,
      |  CAST(len(s.sh) AS INT) AS n_shingles,
      |  bid.best_match_id, agg.best_jaccard, agg.n_candidates
      |FROM documents d
      |JOIN sh0 s ON s.doc_id = d.doc_id
      |LEFT JOIN agg ON agg.doc_id = d.doc_id
      |LEFT JOIN bid ON bid.doc_id = d.doc_id""".stripMargin

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashMd5(Tables.documents(spark, sfDir), "text")

  /** DuckDB replay of [[simhashMd5]]: distinct-token md5 hashes
    * (`md5_number_upper` = the expression's little-endian first-8-bytes
    * value), ±1 votes per bit via unsigned shift-and-mask, sketch
    * reassembled as Σ 2^b over positive votes with the signed conversion
    * at the end; 16-bit bands by unsigned divide/mod. */
  val dedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      |  FROM documents),
      |th AS (SELECT DISTINCT doc_id, md5_number_upper(tok) AS h FROM toks),
      |bits AS (SELECT unnest(range(64)) AS b),
      |votes AS (SELECT doc_id, b,
      |  sum(CASE WHEN (h >> CAST(b AS UBIGINT)) & CAST(1 AS UBIGINT) = CAST(1 AS UBIGINT)
      |      THEN 1 ELSE -1 END) AS v
      |  FROM th CROSS JOIN bits GROUP BY doc_id, b),
      |sk AS (SELECT doc_id,
      |  sum(CASE WHEN v > 0
      |      THEN CAST(1 AS HUGEINT) << CAST(b AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS u
      |  FROM votes GROUP BY doc_id)
      |SELECT doc_id,
      |  CAST(u - CASE WHEN u >= 9223372036854775808
      |        THEN CAST(18446744073709551616 AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS simhash,
      |  CAST(u % 65536 AS BIGINT) AS band0,
      |  CAST(u // 65536 % 65536 AS BIGINT) AS band1,
      |  CAST(u // 4294967296 % 65536 AS BIGINT) AS band2,
      |  CAST(u // 281474976710656 % 65536 AS BIGINT) AS band3
      |FROM sk""".stripMargin

  /** Gated `dedup_ngram` (r10): exact n-gram Jaccard over the BANDED LSH
    * candidate generator — the scalable candidate set, replacing the
    * length-band generator the r10 100× scale probe caught going
    * quadratic (same-lang |Δn_chars|≤2 candidates grow as the square of
    * per-(lang, length) density: 34k pairs at sf0.1 → 3.4M at sf1 →
    * 340M at sf10, which is a pathology of the GENERATOR, not of data
    * growth — dup rates are constant by construction). The exact-jaccard
    * verification semantics are unchanged; only which pairs get verified
    * moved from "similar length, same language" to "LSH band collision" —
    * the candidate definition that stays linear because only genuinely
    * similar (or hash-coincident) docs collide. The length-band generator
    * survives as the lib-level [[ngramJaccardPairs]] for bounded corpora. */
  def dedupNgram(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairsMd5From(md5ShingleIndex(spark, sfDir), threshold = 0.0)

  /** DuckDB oracle for [[dedupNgram]]: the shared md5-minhash replay's
    * `pairs` CTE, emitted as-is. */
  val dedupNgramSql: String =
    s"""WITH $md5MinhashPairsCtes
       |SELECT doc_id_a, doc_id_b, jaccard FROM pairs""".stripMargin

  def dedupClustersQuery(spark: SparkSession, sfDir: String): DataFrame =
    clusterIndex(spark, sfDir, threshold = 0.5)

  /** Recursive CTE list computing the min-label closure `reach(v, l)` over
    * the symmetrized near-dup edge set (r10: edges = the md5-minhash LSH
    * pairs at jaccard >= 0.5, matching [[dedupClusters]]' generator swap)
    * — shared by the dedup_clusters oracle and the curation-pipeline
    * oracle. */
  val clustersCtes: String =
    s"""WITH RECURSIVE $md5MinhashPairsCtes,
       |strong AS (SELECT doc_id_a, doc_id_b FROM pairs WHERE jaccard >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_id_a AS src, doc_id_b AS dst FROM strong
       |          UNION SELECT doc_id_b, doc_id_a FROM strong),
       |reach(v, l) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.v)""".stripMargin

  /** Recursive-CTE oracle: cluster id = min reachable label. */
  val dedupClustersSql: String =
    s"""$clustersCtes
       |SELECT v AS doc_id, min(l) AS cluster_id,
       |  CAST(min(l) = v AS INT) AS is_canonical
       |FROM reach GROUP BY v""".stripMargin

  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame =
    embedCosinePairs(Tables.embeddings(spark, sfDir))

  val dedupEmbedSql: String =
    """SELECT a.label AS label, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
      |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
      |FROM embeddings a JOIN embeddings b
      |  ON a.label = b.label AND a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 50""".stripMargin

  // ---------- substring-span dedup (fine-grained) ----------

  /** Cross-document EXACT SUBSTRING dedup at the token level — the
    * fine-grained third axis next to exact-doc and near-doc dedup: find,
    * for every document, the token spans whose n-gram content appears in
    * OTHER documents too (the boilerplate headers, license blocks and
    * quoted passages that survive document-level dedup because the
    * surrounding text differs). This is the distributed shape of the
    * "deduplicate repeated substrings" pass LLM curation pipelines run
    * after doc-level dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — their suffix-array pass;
    * here the practical n-gram-anchor formulation: any shared substring
    * of ≥ n tokens necessarily shares all its length-n windows, so the
    * duplicated-token COVERAGE is the union of cross-document-repeated
    * [p, p+n) windows, merged into maximal runs. Coverage semantics,
    * stated precisely: a span says "every token here lies in some
    * window shared with another document", NOT "this whole span appears
    * verbatim in one other document" — two independently-shared blocks
    * that abut in one document merge into one coverage span (the
    * cut-these-tokens contract curation needs; per-source alignment —
    * WHICH pair shares WHAT, verbatim — is [[sharedSpanPairs]]).
    * Modulo xxhash64 collisions.
    *
    * Scale shape: tokenization and gram hashing are map-side via the
    * native positional kernel (ShingleHashSeq — tokenize once, one
    * 64-bit mix per window); the gram-keyed work is TWO O(tokens)
    * exchanges of ~20-byte (id, pos, hash) rows — one for the
    * distinct-doc-count aggregation, one re-keying the same rows as the
    * join probe (Spark cannot reuse the exchange across the two
    * subtrees). That doubling is DELIBERATE: the one-exchange
    * alternative — collect_list of every (id, pos) occurrence per gram
    * in a single aggregation — holds unbounded per-gram state, and the
    * exact grams this operator exists for (boilerplate shared by
    * millions of documents) are the ones that would OOM it; two
    * skew-proof bounded-state exchanges is the 100 TB trade. One doc_id
    * shuffle then re-assembles positions; the span merge is an
    * aggregate() fold over each doc's sorted positions — per-doc state
    * bounded by its own duplicated-position count.
    *
    * Output: (idCol, spans array<struct<start, end>>) in TOKEN indices,
    * half-open [start, end), only docs with ≥1 duplicated span. `minDf`
    * = minimum DISTINCT documents sharing a gram for it to count
    * (within-doc repetition is text_repetition's job, not this one's). */
  /** Apply [[duplicatedSpans]] output: cut the flagged token ranges out
    * of each document's text — the write side of the substring-dedup
    * pass ("every token kept appears in no cross-document-shared window
    * of length ≥ n"). Join is a LEFT join on the id (docs without spans
    * pass through), the cut itself a map-side HOF filter over the token
    * index against the (small, per-doc) span list.
    *
    * Output text is TOKEN-JOINED: the cut necessarily re-assembles
    * tokens, so original whitespace runs collapse to single spaces —
    * the same normalization every tokenized consumer downstream (and
    * the reference pipeline's space-separated format) already applies.
    * Tokens keep their ORIGINAL CASE: span detection hashes lowercased
    * grams, but the span indices address token POSITIONS, which
    * case-folding cannot move — so the text a keeper carries is the
    * document's own words minus the cut ranges, not a case-normalized
    * copy (r13 ADVICE: the old wsTokens-based cut silently lowercased
    * every surviving document, a contract the scaladoc never stated).
    * `kept_ratio` carries the per-doc survival fraction so curation can
    * gate on "mostly boilerplate" docs directly. */
  def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
               textCol: String): DataFrame = {
    val joined = docs.join(spans, Seq(idCol), "left")
    // original-case tokens: same `\s+` boundaries as the hashing pass's
    // lower(trim(...)) tokenizer (lowercasing never creates or removes
    // whitespace), so position i here IS position i in the span frame
    val toks = split(trim(col(textCol)), "\\s+")
    val kept = filter(toks, (_, i) =>
      coalesce(!exists(col("spans"),
        s => i >= s.getField("start") && i < s.getField("end")), lit(true)))
    joined.select(col(idCol),
      concat_ws(" ", kept).as("text_dedup"),
      when(size(toks) > 0,
        round(size(kept).cast("double") / size(toks), 4))
        .otherwise(1.0).as("kept_ratio"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 20, minDf: Int = 2): DataFrame = {
    require(n >= 2 && n <= 1000, s"duplicatedSpans: n=$n out of [2, 1000]")
    require(minDf >= 2, s"duplicatedSpans: minDf=$minDf must be >= 2 — " +
      "1 would mark every token of every document")
    val reserved = Set("pos", "h", "_df", "_ps", "spans")
    require(!reserved.contains(idCol),
      s"duplicatedSpans: idCol '$idCol' collides with an internal " +
        s"working column (${reserved.toSeq.sorted.mkString(", ")}) — " +
        "rename the id column first")
    // (doc, pos, gram hash) via the NATIVE positional gram kernel
    // (ShingleHashSeq: tokenize once, hash each token once, O(1)-state
    // 64-bit mix per window) — the HOF formulation this replaced sliced
    // and concatenated n token STRINGS per window (O(n·tokens) char
    // traffic) and measured 10.1 s at sf0.1 vs ~2 s native; posexplode's
    // index IS the token position. Docs shorter than n yield an empty
    // array (no full window — nothing to explode).
    val grams = docs.select(col(idCol),
        posexplode(graft.functions.ShingleHashSeq(
          lower(trim(col(textCol))), n)).as(Seq("pos", "h")))
    // grams repeated across >= minDf distinct docs; ids only through the
    // exchange
    val dupHashes = grams.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("h"))
    val dupPositions = grams.join(dupHashes, Seq("h"))
      .select(col(idCol), col("pos"))
    // merge overlapping/adjacent [p, p+n) windows per doc into maximal
    // spans with one sorted fold
    dupPositions.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
      .select(col(idCol), mergeWindowSpans(col("_ps"), n).as("spans"))
  }

  /** Corpus gram INDEX for incremental substring dedup: the DISTINCT
    * positional n-gram hashes of the corpus, one `h` column — the
    * membership set [[duplicatedSpansIncrement]] probes a new batch
    * against. Build it once per corpus snapshot (one tokenize+hash pass,
    * one distinct exchange of 8-byte hashes) and persist it like
    * [[clusterIndex]]'s labels or a bucketed table (`sources.Bucketing`
    * on `h` makes the daily probe join shuffle-free); membership is all
    * the increment needs — positions and df stay with the documents. */
  def gramIndex(docs: DataFrame, textCol: String, n: Int = 20): DataFrame = {
    require(n >= 2 && n <= 1000, s"gramIndex: n=$n out of [2, 1000]")
    docs.select(explode(graft.functions.ShingleHashSeq(
        lower(trim(col(textCol))), n)).as("h"))
      .distinct()
  }

  /** Incremental substring COVERAGE — the per-batch twin of
    * [[duplicatedSpans]] and the missing stage of the daily-increment
    * curation loop: the maximal token spans of NEW documents whose
    * length-n windows are duplicated either AGAINST THE CORPUS (gram
    * hash present in `corpusGrams`, a [[gramIndex]] frame) or WITHIN
    * the batch (≥ `minDf` distinct new documents — two new crawls of
    * one template must flag even before the corpus ever sees it). One
    * union of duplicated positions, one merge fold — the same span
    * algebra ([[duplicatedSpans]]'s `mergeWindowSpans`), so batch and
    * increment spans cannot drift.
    *
    * Scale shape (the [[incrementalCandidatePairs]] probe discipline):
    * the batch's distinct gram hashes are BROADCAST against the corpus
    * index — the corpus side is scanned once and never shuffled, the
    * hits come back batch-sized, and everything downstream is O(batch).
    * A corpus-side shuffle here would dwarf the increment, which is
    * exactly why [[Curation.curateIncrement]] shipped WITHOUT this
    * stage until the index existed. */
  def duplicatedSpansIncrement(newDocs: DataFrame, idCol: String,
                               textCol: String, corpusGrams: DataFrame,
                               n: Int = 20, minDf: Int = 2): DataFrame = {
    require(n >= 2 && n <= 1000, s"duplicatedSpansIncrement: n=$n out of [2, 1000]")
    require(minDf >= 2, s"duplicatedSpansIncrement: minDf=$minDf must be >= 2")
    require(corpusGrams.columns.contains("h"),
      "duplicatedSpansIncrement: corpusGrams must be a gramIndex frame " +
        s"with an 'h' column, got [${corpusGrams.columns.mkString(", ")}]")
    val reserved = Set("pos", "h", "_df", "_ps", "spans")
    require(!reserved.contains(idCol),
      s"duplicatedSpansIncrement: idCol '$idCol' collides with an " +
        "internal working column — rename the id column first")
    val grams = newDocs.select(col(idCol),
        posexplode(graft.functions.ShingleHashSeq(
          lower(trim(col(textCol))), n)).as(Seq("pos", "h")))
    val inBatch = grams.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDf)
      .select(col("h"))
    // batch gram set broadcast, corpus index streamed: hits ≤ batch grams
    val vsCorpus = corpusGrams.select(col("h"))
      .join(broadcast(grams.select(col("h")).distinct()), Seq("h"))
    val dupHashes = inBatch.unionByName(vsCorpus).distinct()
    grams.join(broadcast(dupHashes), Seq("h"))
      .select(col(idCol), col("pos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
      .select(col(idCol), mergeWindowSpans(col("_ps"), n).as("spans"))
  }

  /** Fold a SORTED position list into maximal merged [p, p+n) spans —
    * ONE definition shared by the coverage operator ([[duplicatedSpans]])
    * and the pairwise aligner ([[sharedSpanPairs]]), so the span algebra
    * cannot drift between the two. */
  private def mergeWindowSpans(sortedPs: Column, n: Int): Column =
    aggregate(sortedPs,
      array().cast("array<struct<start:int,end:int>>"),
      (acc, p) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 && p <= last.getField("end"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("start").as("start"),
              // positions ascend and windows share one length, so
              // p + n always >= the previous end — no max needed
              (p + n).cast("int").as("end")))))
          .otherwise(concat(acc,
            array(struct(p.cast("int").as("start"),
              (p + n).cast("int").as("end")))))
      })

  /** Pairwise span ATTRIBUTION — the per-source alignment refinement
    * [[duplicatedSpans]] declares out of its own scope: for each document
    * pair, the maximal token ranges that appear VERBATIM in both (one row
    * per pair per aligned run, with both sides' coordinates), which is
    * what contamination forensics and whitelisting decisions need —
    * coverage can only say "this token is shared with someone",
    * attribution says with WHOM and aligned WHERE.
    *
    * Algorithm: the same positional n-gram hashes as coverage, then a
    * hash-keyed self-join (id_a < id_b) and a per-(pair, diagonal) merge
    * fold — two window matches on one diagonal (pos_a − pos_b constant)
    * that overlap or abut certify one contiguous verbatim run, because
    * the overlap region is shared by construction, so merged spans ARE
    * the maximal aligned runs (modulo xxhash64 collisions; length-n runs
    * match at every window position, so recovery is exact, ≥ n tokens).
    * A block repeated k× in one document aligns on k diagonals and is
    * reported once per alignment — each copy attributed.
    *
    * Scale contract, and why this CANNOT replace coverage: the self-join
    * enumerates C(df, 2) id pairs per shared gram, which is exactly the
    * quadratic blow-up [[duplicatedSpans]] is engineered to avoid — fine
    * for provenance between specific documents (df small), fatal for
    * planet-scale boilerplate (df in the millions). `maxDf` caps it
    * structurally: grams shared by more than `maxDf` DISTINCT documents
    * are excluded from attribution (they remain cutSpans' job; see
    * [[sharedSpanPairsSampled]] for a bounded way to still get example
    * attributions for them), so per-DOCUMENT-PAIR fan-out is bounded by
    * C(maxDf, 2) and candidate volume by matches, not n². Two caveats on
    * that bound. (1) It counts distinct documents, not positions: a gram
    * repeated k times in each of two documents contributes k² candidate
    * rows for that pair and hash (each copy genuinely aligns with each
    * counterpart copy — that is the "each copy attributed" semantics
    * above, not waste — but heavy INTRA-document repetition multiplies
    * the join beyond what df alone suggests; pathologically repetitive
    * inputs should be screened with [[TextOps.textRepetition]] first).
    * (2) Raising maxDf is a deliberate quadratic spend. Defaults across
    * the repo, reconciled: the code default is maxDf=16 (provenance
    * between near-dup documents — the common forensics case);
    * SubstringDedupSpec pins the exclusion boundary exactly at df=5 with
    * maxDf=4; Bench runs maxDf=50 because the sf10 probe deliberately
    * pays a larger quadratic budget to measure the join's scaling shape,
    * not because 50 is a recommended setting.
    *
    * Lineage note (the fuzzyJoin discipline): the gram explode is
    * consulted three times in one action — the df gate plus the two join
    * sides — so an input that is itself an expensive query should be
    * persisted by the caller first; the tokenize+hash kernel itself is
    * map-side cheap, and at this operator's intended df-bounded scale
    * the pairwise join dominates, not the scans.
    *
    * Output rows: (id_a, id_b, start_a, end_a, start_b, end_b) — token
    * indices, half-open, id_a < id_b, end−start ≥ n on both sides and
    * equal: `tokens_a[start_a, end_a) == tokens_b[start_b, end_b)`
    * (SubstringDedupSpec re-verifies the verbatim claim token-for-token
    * on every emitted row). */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 20, maxDf: Int = 16): DataFrame = {
    require(n >= 2 && n <= 1000, s"sharedSpanPairs: n=$n out of [2, 1000]")
    require(maxDf >= 2, s"sharedSpanPairs: maxDf=$maxDf must be >= 2 — " +
      "attribution needs at least one counterpart document")
    val reserved = Set("pos", "h", "_df", "_ps", "_diag", "_s",
      "id_a", "id_b", "pos_a", "pos_b")
    require(!reserved.contains(idCol),
      s"sharedSpanPairs: idCol '$idCol' collides with an internal " +
        s"working column — rename the id column first")
    val grams = docs.select(col(idCol),
        posexplode(graft.functions.ShingleHashSeq(
          lower(trim(col(textCol))), n)).as(Seq("pos", "h")))
    // the df gate: ids-only aggregation exchange, same shape as
    // coverage's — the join below sees only attributable hashes
    val attributable = grams.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select(col("h"))
    val hits = grams.join(attributable, Seq("h"))
    val ga = hits.select(col("h"), col(idCol).as("id_a"), col("pos").as("pos_a"))
    val gb = hits.select(col("h"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    ga.join(gb, Seq("h")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("_diag"), col("pos_a"))
      .groupBy(col("id_a"), col("id_b"), col("_diag"))
      .agg(sort_array(collect_list(col("pos_a"))).as("_ps"))
      .select(col("id_a"), col("id_b"), col("_diag"),
        explode(mergeWindowSpans(col("_ps"), n)).as("_s"))
      .select(col("id_a"), col("id_b"),
        col("_s.start").as("start_a"), col("_s.end").as("end_a"),
        (col("_s.start") - col("_diag")).cast("int").as("start_b"),
        (col("_s.end") - col("_diag")).cast("int").as("end_b"))
  }

  /** [[sharedSpanPairs]] with a bounded SAMPLING path for the mega-df
    * grams the base operator's `maxDf` gate structurally excludes — the
    * boilerplate a forensics user most wants attributed (the license
    * block, the site template, the scraped nav bar). Full attribution of
    * a gram shared by df documents is C(df, 2) pairs — the exact
    * quadratic spend the gate exists to refuse — so instead, for each
    * gram with df > maxDf, a DETERMINISTIC sample of `sampleDocs`
    * documents is attributed in full among themselves:
    * C(sampleDocs, 2) pairs per gram, bounded. The sample is bottom-k
    * under ONE GLOBAL per-document rank `xxhash64(id)` (consistent
    * sampling — stable across runs and partitionings, no RNG), NOT a
    * per-gram draw: consecutive grams of one boilerplate block share
    * (nearly) one document set, so under a single permutation they
    * sample the SAME documents and their window matches merge into
    * contiguous runs, where a per-(gram, doc) rank would fragment every
    * block into single-window confetti. The price of consistency is
    * that the same (hash-least) documents serve as examples for every
    * block they contain — acceptable, since the output is evidence, not
    * a uniform survey.
    * The report reads "this block is shared by ~`span_df` documents;
    * here are verified verbatim example alignments", which is the
    * whitelisting decision input — the full pair list for a million-doc
    * boilerplate block would be a quadratic artifact nobody reads.
    *
    * Output: the [[sharedSpanPairs]] six span coordinates plus
    * `span_df` (the largest per-gram document frequency among the
    * windows merged into THIS span — per merged span, not per
    * (pair, diagonal) group, so a low-df run that happens to share a
    * diagonal with a distant mega-df run keeps its own honest df; for
    * sampled boilerplate this IS the "~N documents share this" estimate;
    * exact, not sketched, because the df gate already counts it) and
    * `sampled` (true iff THIS span contains a gram beyond maxDf, i.e.
    * its pair list is an example, not an enumeration). Rows with
    * `sampled = false` are bit-identical to the base operator's
    * (SubstringDedupSpec pins this); a base run that a sampled mega-df
    * window overlaps or abuts merges INTO the containing sampled run —
    * the run genuinely is one contiguous shared block for that pair, so
    * reporting it split would be the lie.
    *
    * Scale: the sample ranking is one ids-only exchange on (h, id) into
    * the bounded-state `smallest_k` aggregate — O(sampleDocs) state per
    * gram with map-side partials (the r13 shape was a row_number()
    * window: an O(df log df) single-task sort per mega gram, which for
    * the df-millions license block this operator exists for is exactly
    * the skew the house bans; same rows by construction — bottom-k
    * under the same (xxhash64(id), id) total order). Then the identical
    * alignment join as the base path over `small ∪ sampled` hits, whose
    * per-gram fan-out is ≤ C(max(maxDf, sampleDocs), 2) by
    * construction. The same intra-document repetition caveat as the
    * base operator applies. */
  def sharedSpanPairsSampled(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 20, maxDf: Int = 16,
                             sampleDocs: Int = 8): DataFrame = {
    require(n >= 2 && n <= 1000, s"sharedSpanPairsSampled: n=$n out of [2, 1000]")
    require(maxDf >= 2, s"sharedSpanPairsSampled: maxDf=$maxDf must be >= 2")
    require(sampleDocs >= 2,
      s"sharedSpanPairsSampled: sampleDocs=$sampleDocs must be >= 2 — " +
        "attribution needs at least one counterpart document")
    require(sampleDocs <= maxDf,
      s"sharedSpanPairsSampled: sampleDocs=$sampleDocs > maxDf=$maxDf " +
        "would make the sampled path MORE quadratic than the gate it " +
        "relieves; raise maxDf instead if that spend is intended")
    val reserved = Set("pos", "h", "_df", "_ps", "_diag", "_s", "_ks",
      "_pd", "id_a", "id_b", "pos_a", "pos_b", "span_df", "sampled")
    require(!reserved.contains(idCol),
      s"sharedSpanPairsSampled: idCol '$idCol' collides with an internal " +
        "working column — rename the id column first")
    val grams = docs.select(col(idCol),
        posexplode(graft.functions.ShingleHashSeq(
          lower(trim(col(textCol))), n)).as(Seq("pos", "h")))
    val dfs = grams.groupBy(col("h"))
      .agg(count_distinct(col(idCol)).as("_df"))
      .filter(col("_df") >= 2)
    val hits = grams.join(dfs, Seq("h"))
    val small = hits.filter(col("_df") <= maxDf)
    // mega-df grams: keep only the bottom-`sampleDocs` documents per
    // hash under the GLOBAL deterministic per-document rank (ties by
    // id — total order, so the sample is unique and replayable; see
    // the scaladoc for why the rank must not depend on h). smallest_k
    // keeps O(sampleDocs) state per gram with map-side partials — a
    // window would sort all df rows of a mega gram in one task
    val megaSample = hits.filter(col("_df") > maxDf)
      .select(col("h"), col(idCol)).distinct()
      .groupBy(col("h"))
      .agg(graft.functions.SmallestK.smallestK(
        struct(xxhash64(col(idCol)).as("rk"), col(idCol).as("id")),
        sampleDocs).as("_ks"))
      .select(col("h"), explode(col("_ks")).as("_pd"))
      .select(col("h"), col("_pd.id").as(idCol))
    val mega = hits.filter(col("_df") > maxDf)
      .join(megaSample, Seq("h", idCol))
    val all = small.unionByName(mega)
    val ga = all.select(col("h"), col(idCol).as("id_a"),
      col("pos").as("pos_a"), col("_df"))
    val gb = all.select(col("h"), col(idCol).as("id_b"), col("pos").as("pos_b"))
    ga.join(gb, Seq("h")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("pos_a") - col("pos_b")).as("_diag"),
        struct(col("pos_a").as("p"), col("_df").as("df")).as("_pd"))
      .groupBy(col("id_a"), col("id_b"), col("_diag"))
      // (p, df) pairs sorted by position — one gram hash per (doc, pos),
      // so p is unique within the group and the struct sort is a sort
      // by position; the merge fold then carries each span's OWN max df
      .agg(sort_array(collect_list(col("_pd"))).as("_ps"))
      .select(col("id_a"), col("id_b"), col("_diag"),
        explode(mergeWindowSpansDf(col("_ps"), n)).as("_s"))
      .select(col("id_a"), col("id_b"),
        col("_s.start").as("start_a"), col("_s.end").as("end_a"),
        (col("_s.start") - col("_diag")).cast("int").as("start_b"),
        (col("_s.end") - col("_diag")).cast("int").as("end_b"),
        col("_s.df").as("span_df"), (col("_s.df") > maxDf).as("sampled"))
  }

  /** [[mergeWindowSpans]] over (position, df) structs: identical span
    * algebra, but each merged span carries the MAX per-gram df of the
    * windows folded into it — so [[sharedSpanPairsSampled]]'s `span_df`
    * and `sampled` are properties of the span itself, not inherited
    * from whatever else shares the (pair, diagonal) group (r13 ADVICE:
    * a low-df-only run used to inherit a distant mega run's df). */
  private def mergeWindowSpansDf(sortedPds: Column, n: Int): Column =
    aggregate(sortedPds,
      array().cast("array<struct<start:int,end:int,df:bigint>>"),
      (acc, pd) => {
        val last = element_at(acc, -1)
        val p = pd.getField("p")
        when(size(acc) > 0 && p <= last.getField("end"),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("start").as("start"),
              (p + n).cast("int").as("end"),
              greatest(last.getField("df"), pd.getField("df")).as("df")))))
          .otherwise(concat(acc,
            array(struct(p.cast("int").as("start"),
              (p + n).cast("int").as("end"),
              pd.getField("df").as("df")))))
      })
}
