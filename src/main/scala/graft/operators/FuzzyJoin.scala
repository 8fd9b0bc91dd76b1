package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (Levenshtein) join with COMPLETE prefix-filter blocking
  * — the record-linkage / entity-resolution primitive: all pairs (a, b)
  * with `lev(a, b) <= maxDist`, without the O(n²) cross product.
  *
  * Blocking is q-gram PREFIX FILTERING (the Ed-Join scheme, Xiao et al.
  * VLDB'08): each string explodes only its d·q+1 globally-RAREST distinct
  * grams (one shared (document-frequency, gram) total order), candidates
  * are pairs sharing a prefix gram within the ±d length band, and only
  * survivors pay the exact thresholded `levenshtein` verify (which
  * abandons a row early once d is exceeded). ≤ d edits touch ≤ d·q
  * distinct gram values per side, so a qualifying pair shares
  * ≥ max(|setₐ|,|set_b|) − d·q gram values and the prefix-filter lemma
  * guarantees the two prefixes intersect — false candidates die in the
  * verify; true pairs can never be dropped. The gram-path source notes
  * carry the measured story of why this beats the count-filter
  * formulation (185 s → sub-second on low-entropy name domains).
  *
  * Both prefix-gram guarantees are vacuous when `max(|a|,|b|) <
  * q·(d+1)`. Completeness is kept by a partition, not a prayer: pairs
  * where BOTH strings are short (length ≤ q·(d+1) − 1, which also covers
  * gram-less strings shorter than q) go through a length-banded bucket
  * join among the shorts only (bounded: short strings live in ≤ q·(d+1)
  * length buckets and each probes 2d+1 of them), while any pair
  * involving a longer string is caught by the gram path. The two paths
  * are disjoint by the same max-length test, so no pair is emitted
  * twice.
  *
  * Scale shape (the minhashPairs discipline): the gram exchanges carry
  * (id, len, gram) — ids-only through the heavy shuffles, strings
  * re-attached to the SURVIVING candidates by two id joins before the
  * verify. Candidate volume tracks Σ prefix-gram collisions — rare
  * grams by construction — not n².
  *
  * Tuning `q` (measured, r18): the candidate count is governed by how
  * RARE the d·q+1 rarest grams are, and gram rarity is the alphabet's
  * q-gram diversity. On long LOW-ENTROPY domains (id-like strings — a
  * constant prefix plus digits: bigram alphabet ~100) q = 3 collapses
  * the collision lists ~10× at the cost of one extra prefix gram and a
  * longer still-vacuous short band: 829.0 s → 225.7 s on the 1.5M-name
  * `Customer#%09d` domain at d=1 (pair output identical — blocked ==
  * brute force is spec-pinned for q ∈ {2, 3}). The default stays q = 2:
  * short or high-entropy strings LOSE gram diversity headroom at larger
  * q (fewer grams per string, and the short-pair band widens as
  * q·(d+1)−1). Rule of thumb: raise q when strings are long and drawn
  * from a small character class. */
object FuzzyJoin {

  /** All (id_a, id_b, dist) with `lev(a.strCol, b.strCol) <= maxDist`,
    * for non-null strings. Both inputs need (`idCol`, `strCol`); ids must
    * be unique per side (it's a join key). Matching is case-sensitive —
    * normalize (e.g. `lower(trim(...))`) upstream if wanted.
    *
    * Lineage note (the skewJoinAuto precedent): each input's lineage is
    * consulted SEVERAL times in one action — the gram explode feeds both
    * the frequency table and the prefix probe, and the prepped frame
    * feeds the deletion band and the survivor string re-attach
    * (FuzzyJoinSpec counts ≥4 raw scans in the unpersisted executed
    * plan and exactly one cache entry in the persisted one). Inputs
    * that are themselves expensive queries should either be persisted by
    * the caller first or go through [[fuzzyJoinPersisted]] /
    * [[fuzzyPairsPersisted]], which persist the prepped projection
    * internally and hand back a [[PersistHandle]] so the caller can free
    * the blocks once the result is consumed; this variant does not
    * persist because the returned frame is lazy and an unowned internal
    * persist would leak past the call. */
  def fuzzyJoin(left: DataFrame, right: DataFrame, idCol: String,
                strCol: String, maxDist: Int, q: Int = 2): DataFrame =
    fuzzyImpl(left, right, idCol, strCol, maxDist, q,
      ordered = false, persistInput = false)._1

  /** Caller-owned cache handle for the Persisted variants — the
    * [[Dedup.CheckpointHandle]] contract: materialize the returned frame
    * FIRST, then `close()` to free the cached projection eagerly instead
    * of stranding it in the session's CacheManager. Idempotent; closing
    * before materializing just degrades back to unpersisted recompute
    * (correct, slower), never to wrong rows. */
  final class PersistHandle private[operators] (frames: Seq[DataFrame])
      extends AutoCloseable {
    override def close(): Unit = frames.foreach(_.unpersist(blocking = true))
  }

  /** [[fuzzyJoin]] with the input-lineage problem handled internally:
    * each side's prepped (id, string, length) projection is persisted
    * MEMORY_AND_DISK, so the expensive input lineage is evaluated ONCE
    * per side no matter how many blocking bands consult it — at 100 TB
    * four scans of an unpersisted upstream query is the dominant cost,
    * and the projection is the smallest thing worth caching (three
    * columns, pre-filtered of nulls). Returns the result frame plus the
    * [[PersistHandle]] that owns the cache entries. */
  def fuzzyJoinPersisted(left: DataFrame, right: DataFrame, idCol: String,
                         strCol: String, maxDist: Int,
                         q: Int = 2): (DataFrame, PersistHandle) = {
    val (out, persisted) = fuzzyImpl(left, right, idCol, strCol, maxDist, q,
      ordered = false, persistInput = true)
    (out, new PersistHandle(persisted))
  }

  /** Self-join form of [[fuzzyJoinPersisted]]: ONE persisted projection
    * serves both sides (the right side is a column rename over the same
    * cache entry), so the input lineage is evaluated exactly once. */
  def fuzzyPairsPersisted(df: DataFrame, idCol: String, strCol: String,
                          maxDist: Int, q: Int = 2): (DataFrame, PersistHandle) = {
    val (out, persisted) = fuzzyImpl(df, df, idCol, strCol, maxDist, q,
      ordered = true, persistInput = true)
    (out, new PersistHandle(persisted))
  }

  private def fuzzyImpl(left: DataFrame, right: DataFrame, idCol: String,
                        strCol: String, maxDist: Int, q: Int,
                        ordered: Boolean,
                        persistInput: Boolean): (DataFrame, Seq[DataFrame]) = {
    require(maxDist >= 0, s"fuzzy join: maxDist must be >= 0, got $maxDist")
    require(q >= 1, s"fuzzy join: q must be >= 1, got $q")
    val shortMax = q * (maxDist + 1) - 1 // longest length with a vacuous bound
    def prep(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"id_$side"), col(strCol).as(s"s_$side"))
        .filter(col(s"s_$side").isNotNull)
        .withColumn(s"len_$side", length(col(s"s_$side")))
    val cacheLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (l, r, persisted) =
      if (!persistInput) (prep(left, "a"), prep(right, "b"), Seq.empty[DataFrame])
      else if (ordered) {
        // self-join: one cache entry, the b-side is a rename over it
        val base = prep(left, "a").persist(cacheLevel)
        val bSide = base.select(col("id_a").as("id_b"),
          col("s_a").as("s_b"), col("len_a").as("len_b"))
        (base, bSide, Seq(base))
      } else {
        val la = prep(left, "a").persist(cacheLevel)
        val rb = prep(right, "b").persist(cacheLevel)
        (la, rb, Seq(la, rb))
      }

    // ---- gram path: every pair whose LONGER string exceeds shortMax ----
    // Strings shorter than q have no grams and are safely absent here: a
    // (gram-less, long) pair has max = len_long ≥ q(d+1), so
    // lev ≥ |len diff| ≥ q(d+1) − (q−1) = qd + 1 > d — never a match —
    // and (gram-less, short) pairs are the short path's job.
    //
    // Blocking is PREFIX FILTERING on the globally-rarest grams (the
    // Ed-Join scheme, Xiao et al. VLDB'08), not a shared-gram count
    // filter. The count filter's join enumerates every gram collision
    // BEFORE counting, and that collapses on low-entropy domains: 20k
    // TPC-H part names (64 distinct values) ran 185 s on the gram-only
    // key, and "Customer#000…" names defeated even a positional-bucket
    // key (every name shares every prefix gram AT THE SAME POSITION —
    // 15k² collisions per bucket). Prefix filtering inverts the shape:
    // sort each string's DISTINCT grams by one global (document
    // frequency, gram) order and explode only the first d·q+1 — for
    // prefix-heavy domains those are exactly the discriminating tail
    // grams, and candidate volume tracks Σ rare-gram collisions.
    //
    // Completeness (set form of the prefix-filter lemma): ≤ d edits
    // touch ≤ d·q distinct gram VALUES of each side, so a qualifying
    // pair shares ≥ max(|setₐ|,|set_b|) − d·q gram values; prefixes of
    // length |set| − t + 1 ≤ d·q + 1 under ONE total order must then
    // intersect. Degenerate diversity is covered structurally: a string
    // with ≤ d·q+1 distinct grams explodes its WHOLE set (min applies),
    // and a long repetitive pair within d always shares a gram value
    // because d edits leave an untouched window of length ≥ q when
    // len ≥ q(d+1) — i.e. above the same shortMax that routes
    // everything else here.
    val pfxLen = maxDist * q + 1
    // r20: the gram path only ever EMITS pairs with
    // `greatest(len_a, len_b) > gramFloor` (the band-partition predicate
    // in the gramIds join below), and a string with
    // `len <= gramFloor - maxDist` can never be in such a pair: its
    // partner would need `len > gramFloor`, putting the length gap above
    // maxDist — already not a match. Filtering both gram-side inputs to
    // `len > gramFloor - maxDist` therefore drops only rows that cannot
    // reach the join output (candidates unchanged, completeness intact —
    // the prefix-filter lemma needs ONE shared total gram order, and the
    // (df, gram) order over the filtered universe is still one shared
    // order; rarity only steers efficiency). The practical effect: on
    // domains that live entirely inside the deletion band (every string
    // ≤ delMax — the gated fuzzy_pairs customer-name domain), the entire
    // gram subtree (two explodes, the shared freq table, two SmallestK
    // aggregations) now runs on zero rows instead of the full corpus.
    // Note gramFloor - maxDist ≥ q − 1, so this subsumes the old
    // `len >= q` has-a-gram guard. (delMax/gramFloor are hoisted above
    // the gram path for this filter; the deletion band's rationale lives
    // on its own block below.)
    val delMax = maxDist match {
      case 0 => Int.MaxValue
      case 1 => 64
      case 2 => 24
      case _ => -1
    }
    val gramFloor = math.max(shortMax, delMax)
    def gramSet(df: DataFrame, side: String): DataFrame =
      df.filter(col(s"len_$side") > lit(gramFloor - maxDist))
        .select(col(s"id_$side"), col(s"len_$side"),
          explode(array_distinct(transform(
            sequence(lit(0), col(s"len_$side") - q),
            i => col(s"s_$side").substr(i + 1, lit(q))))).as(s"g_$side"))
    val lgs = gramSet(l, "a")
    val rgs = gramSet(r, "b")
    // ONE document-frequency table over both sides — the prefix lemma
    // needs both prefixes drawn under the SAME total order
    val freq = lgs.select(col("g_a").as("g"))
      .unionAll(rgs.select(col("g_b").as("g")))
      .groupBy(col("g")).agg(count(lit(1)).as("_df"))
    def prefix(gs: DataFrame, side: String): DataFrame =
      gs.join(freq, col(s"g_$side") === col("g")).drop("g")
        .groupBy(col(s"id_$side"), col(s"len_$side"))
        .agg(graft.functions.SmallestK.smallestK(
          struct(col("_df"), col(s"g_$side").as("g")), pfxLen).as("_pfx"))
        .select(col(s"id_$side"), col(s"len_$side"),
          explode(col("_pfx.g")).as(s"g_$side"))
    // self-join (fuzzyPairs) pushes id_a < id_b INTO the candidate
    // joins: generating and verifying both orientations of every pair
    // and dropping half afterwards would double the gram-join output,
    // the dedup shuffle, and the per-pair Levenshtein verifies
    val orderOk = if (ordered) col("id_a") < col("id_b") else lit(true)

    // ---- deletion-neighborhood band (SymSpell blocking), d ≤ 2 ----
    // Prefix filtering assumes rare grams EXIST. On ID-like domains they
    // don't: 150k "Customer#000…" names hold ~120 distinct gram values
    // total, every "rarest" gram is shared by thousands of strings, and
    // the sf10 probe leg filled the disk with prefix-join spill. For
    // small d the symmetric-delete scheme is complete AND
    // domain-independent: an optimal ≤d-edit alignment leaves a common
    // subsequence reachable from BOTH strings by ≤ d single-character
    // deletions, so candidates = strings sharing a ≤d-deletion variant
    // (hashed; hash collisions just add candidates for the verify).
    // Variant count is 1 + len (d=1) or 1 + len + C(len,2) (d=2), so
    // the band is capped at delMax where that stays small; longer
    // strings keep the prefix path, whose gram diversity grows with
    // length. d = 0 degenerates to an exact hash join over everything.
    // (delMax itself is defined above the gram path, which derives its
    // input length floor from it.)
    // One plain (hashed-variant) equi-join. A positional refinement —
    // tagging each d=1 variant with its deleted index so substitution
    // candidates join on (variant, index) — was built and MEASURED OUT:
    // it needs three joins (same-index, self×deletion, deletion×self) in
    // place of one, and on the 1.5M-id probe the tripled explode scans
    // and exchange volume cost more than the smaller join output saved
    // (the single-join form finished in 1020 s; the three-join form was
    // killed unfinished at 29 min). Simple shape, one exchange per side.
    def delVariants(s: Column): Column = {
      val len = length(s)
      val self = array(xxhash64(s))
      def del1(src: Column) = transform(sequence(lit(0), length(src) - 1),
        i => xxhash64(concat(src.substr(lit(1), i),
          src.substr(i + 2, length(src)))))
      val d1 = when(len >= 1, del1(s)).otherwise(array().cast("array<bigint>"))
      val d2 =
        if (maxDist < 2) array().cast("array<bigint>")
        else when(len >= 2, flatten(transform(sequence(lit(0), len - 2),
          i => transform(sequence(i + 1, len - 1),
            j => xxhash64(concat(s.substr(lit(1), i),
              s.substr(i + 2, j - i - 1),
              s.substr(j + 2, length(s))))))))
          .otherwise(array().cast("array<bigint>"))
      if (maxDist == 0) self
      else array_distinct(concat(self, d1, d2))
    }
    def delSide(df: DataFrame, side: String): DataFrame =
      df.filter(col(s"len_$side") <= delMax)
        .select(col(s"id_$side"), col(s"len_$side"),
          explode(delVariants(col(s"s_$side"))).as(s"_v_$side"))
    val delIds =
      if (delMax < 0) None
      else Some(delSide(l, "a").join(delSide(r, "b"),
          col("_v_a") === col("_v_b") &&
            abs(col("len_a") - col("len_b")) <= maxDist && orderOk)
        .select(col("id_a"), col("id_b")))

    // prefix path covers the pairs above the deletion band (all pairs
    // when the band is inactive, d ≥ 3); the two bands partition on the
    // same max-length test (gramFloor, defined with the gram path above),
    // so nothing emits twice
    val gramIds =
      if (delMax == Int.MaxValue) None // d = 0: deletion band covers all
      else Some(prefix(lgs, "a").join(prefix(rgs, "b"),
          col("g_a") === col("g_b") &&
            abs(col("len_a") - col("len_b")) <= maxDist &&
            greatest(col("len_a"), col("len_b")) > gramFloor && orderOk)
        .select(col("id_a"), col("id_b")))

    // ---- short path: both ≤ shortMax, ONLY when the deletion band is
    // inactive (otherwise it subsumes the shorts, gram-less included) ----
    val shortIds =
      if (delMax >= shortMax) None
      else {
        val ls = l.filter(col("len_a") <= shortMax)
          .withColumn("_lb", explode(sequence(
            greatest(col("len_a") - maxDist, lit(0)), col("len_a") + maxDist)))
        val rs = r.filter(col("len_b") <= shortMax)
        Some(ls.join(rs, col("_lb") === col("len_b") && orderOk)
          .select(col("id_a"), col("id_b")))
      }

    val candIds = Seq(delIds, gramIds, shortIds).flatten
      .reduce(_ unionByName _)
      .dropDuplicates("id_a", "id_b")
    val out = candIds
      .join(l.select(col("id_a"), col("s_a")), Seq("id_a"))
      .join(r.select(col("id_b"), col("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
    (out, persisted)
  }

  /** Self-join form: unordered near-pairs within one frame
    * (id_a < id_b, so each pair once and no self-matches — the ordering
    * predicate is pushed into the candidate joins, so only one
    * orientation of each pair is ever generated or verified). Same
    * lineage note as [[fuzzyJoin]]; [[fuzzyPairsPersisted]] is the
    * handled form. */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
                 maxDist: Int, q: Int = 2): DataFrame =
    fuzzyImpl(df, df, idCol, strCol, maxDist, q,
      ordered = true, persistInput = false)._1

  /** Gated-query form of [[fuzzyPairs]] (driver oracle slot
    * `fuzzy_pairs`): all customer-name pairs within Levenshtein
    * distance 2 over the FIXED key domain `c_custkey <= 1200`, so the
    * DuckDB oracle can afford the brute-force `levenshtein()` cross
    * join the blocking path is spec-equal to. The bound is a constant,
    * not SF-proportional, for two load-bearing reasons: (a) the
    * oracle's verify is O(domain²) BY DESIGN (that is what makes it an
    * independent check of the blocking), so the domain must stay
    * brute-forceable; (b) GenScale's big-SF corpora replicate `c_name`
    * verbatim across copies while OFFSETTING `c_custkey`, so a fixed
    * key predicate selects the original copy's names — unique,
    * replica-free — at every probe SF instead of a quadratically
    * inflated dist-0 pair pile (the r10 GenScale lesson). Unbounded
    * scale evidence for this operator lives on the record (the bench's
    * `fuzzy_pairs_cname` forensics line through r18, retired in r19
    * once q=3 was adopted — see BENCH_FORENSICS_r19_fuzzy_ab_note.txt),
    * not here: the gate measures correctness, that line measured scale.
    * `dist` is cast to long to match DuckDB's BIGINT. */
  def fuzzyPairsQuery(spark: org.apache.spark.sql.SparkSession,
                      sfDir: String): DataFrame =
    fuzzyPairs(
      graft.Tables.customerKernel(spark, sfDir)
        .filter(col("c_custkey") <= 1200)
        .select(col("c_custkey").as("id"), col("c_name").as("s")),
      "id", "s", maxDist = 2)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))

  /** The brute force the blocking must equal, verbatim: every pair once
    * (key-ordered), thresholded edit distance. */
  val fuzzyPairsSql: String = """
    SELECT c1.c_custkey AS id_a, c2.c_custkey AS id_b,
           levenshtein(c1.c_name, c2.c_name) AS dist
    FROM customer c1 JOIN customer c2 ON c1.c_custkey < c2.c_custkey
    WHERE c1.c_custkey <= 1200 AND c2.c_custkey <= 1200
      AND levenshtein(c1.c_name, c2.c_name) <= 2"""
}
