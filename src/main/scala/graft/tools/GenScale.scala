package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up generator for the driver's synthetic testdata (TESTDATA.md):
  * replicates every table of a source scale factor `factor`× into a new
  * directory with the same schemas, so the bench can be run at sf1 from
  * the committed sf0.1 without regenerating from scratch (the original
  * generator is driver-side; /root/testdata is read-only).
  *
  * Scaling is ENTITY-wise, not row-wise — each copy i gets disjoint key
  * ranges (offset = i × per-table power-of-10 base), so:
  *   - `events`: 10× user_ids (trajectories), SAME per-trajectory length
  *     — the realistic growth axis for the time-series family (more
  *     engines/users, not longer histories);
  *   - `orders`/`lineitem`: FK consistency preserved per copy (copy i's
  *     lineitems reference copy i's orders/parts/suppliers);
  *   - dims `region`/`nation` stay fixed (as TPC-H scaling does).
  *
  * Content decorrelation — the part that keeps the probe honest:
  *   - `documents.text` goes through a per-copy seeded alphabet
  *     PERMUTATION cipher (codegen'd `translate`, a bijection on
  *     [a-z],[A-Z],[0-9]): token equality, token lengths, whitespace and
  *     punctuation are all preserved WITHIN a copy, so the duplicate-rate
  *     and near-dup cluster-size distribution stay constant as the corpus
  *     grows — while cross-copy shingle/token hashes are uncorrelated.
  *     (r10: a seeded Fisher-Yates permutation replaced the r9 rotation —
  *     rotation repeats with period 26, so at factor 100 copies i and
  *     i+26 would share letter mappings and every doc would gain ~3 fake
  *     near-twins, re-introducing exactly the candidate-pair blowup the
  *     cipher exists to prevent. Distinct seeded permutations have no
  *     such period; copy 0 stays the identity.) Naive verbatim
  *     replication would instead give every doc factor−1 exact twins:
  *     quadratic candidate-pair blowup in the banded joins that measures
  *     a pathology, not scale.
  *   - `embeddings.embedding` is circularly rotated by (i·7 mod dim)
  *     positions AND (for i>0) sign-flipped per-component by a
  *     deterministic xxhash64(i, position) bit — both orthogonal
  *     transforms, so norms, per-component magnitude distribution and
  *     intra-copy cluster geometry are exactly preserved; cross-copy
  *     cosines decorrelate. (r10: rotation alone repeats with period dim
  *     — at factor 100 > dim=64, copy 64 would be copy 0 verbatim and
  *     dedup_embed would see exact twins; the 2^dim sign patterns
  *     remove the period.)
  *   - numeric fact columns are kept verbatim (value distributions are
  *     what the aggregates grind through; they should not drift).
  *
  * Usage: GenScale <srcSfDir> <dstDir> [factor=10]
  * (run via `sbt "runMain graft.tools.GenScale /root/testdata/sf0.1
  * /tmp/sf1 10"` — dev tool, off the gated surface like Profile.)
  */
object GenScale {

  /** Smallest power of 10 strictly greater than the current max key —
    * clean disjoint id ranges per copy, readable in plan dumps. */
  private def offsetBase(df: DataFrame, key: String): Long = {
    val mx = df.agg(max(col(key))).head().getLong(0)
    var b = 1L
    while (b <= mx) b *= 10
    b
  }

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase
  private val digit = "0123456789"

  /** Seeded Fisher-Yates permutation of `s` for copy `i`; i=0 identity.
    * Deterministic in (s, i) so re-runs regenerate identical data. */
  private def permuted(s: String, i: Int): String =
    if (i == 0) s
    else {
      val arr = s.toCharArray
      // seed folds in the class length, which separates digits (10) from
      // letters (26) — but lower and upper share length 26 and therefore
      // draw the SAME permutation (case-paired: 'A' maps to uppercase of
      // wherever 'a' maps). That pairing is INTENTIONAL and load-bearing,
      // not an oversight: it makes the cipher commute with lowercasing
      // (lower(cipher(text)) == cipher(lower(text))), which is what
      // preserves within-copy duplicate rates under the engine's
      // lowercased shingling. Do not "fix" the seeds to decorrelate the
      // cases — that silently changes the dup-rate invariance the
      // generator exists to maintain (self-review).
      val rnd = new scala.util.Random(
        0x9E3779B97F4A7C15L * i + 0xD1B54A32D192ED03L * s.length)
      var j = arr.length - 1
      while (j > 0) {
        val k = rnd.nextInt(j + 1)
        val t = arr(j); arr(j) = arr(k); arr(k) = t
        j -= 1
      }
      new String(arr)
    }

  /** The full 62-char translate target for copy `i` — exposed for the
    * spec's pairwise-distinctness check across copy indices. */
  private[graft] def cipherTarget(i: Int): String =
    permuted(lower, i) + permuted(upper, i) + permuted(digit, i)

  /** Per-copy substitution cipher: a seeded permutation of a-z, A-Z, 0-9
    * each within their own class. i=0 is the identity. */
  private def cipher(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
    translate(c, lower + upper + digit, cipherTarget(i))

  /** One scaled copy per table; copy 0 is bit-identical to the source. */
  def scaled(spark: SparkSession, srcDir: String, factor: Int): Map[String, DataFrame] = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    def t(n: String) = spark.read.parquet(s"$srcDir/$n.parquet")

    // events.ts passes through untouched in whatever physical form the
    // source uses (long ns under the legacy conf, or untagged-µs NTZ since
    // the r9 testdata generation) — Tables.events normalizes any of them
    // to a µs timestamp on read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = t("events")

    val custB = offsetBase(t("customer"), "c_custkey")
    val suppB = offsetBase(t("supplier"), "s_suppkey")
    val partB = offsetBase(t("part"), "p_partkey")
    val ordB  = offsetBase(t("orders"), "o_orderkey")
    val evB   = offsetBase(events, "event_id")
    val userB = offsetBase(events, "user_id")
    val docB  = offsetBase(t("documents"), "doc_id")
    val vecB  = offsetBase(t("embeddings"), "vec_id")
    val dim   = t("embeddings")
      .select(size(col("embedding"))).head().getInt(0)

    def copies(f: Int => DataFrame): DataFrame =
      (0 until factor).map(f).reduce(_ unionAll _)

    Map(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> copies(i => t("customer")
        .withColumn("c_custkey", col("c_custkey") + lit(i * custB))),
      "supplier" -> copies(i => t("supplier")
        .withColumn("s_suppkey", col("s_suppkey") + lit(i * suppB))),
      "part" -> copies(i => t("part")
        .withColumn("p_partkey", col("p_partkey") + lit(i * partB))),
      "orders" -> copies(i => t("orders")
        .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordB))
        .withColumn("o_custkey", col("o_custkey") + lit(i * custB))),
      "lineitem" -> copies(i => t("lineitem")
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * ordB))
        .withColumn("l_partkey", col("l_partkey") + lit(i * partB))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppB))),
      "events" -> copies(i => events
        .withColumn("event_id", col("event_id") + lit(i * evB))
        .withColumn("user_id", col("user_id") + lit(i * userB))),
      "documents" -> copies(i => t("documents")
        .withColumn("doc_id", col("doc_id") + lit(i * docB))
        .withColumn("text", cipher(col("text"), i))),
      "embeddings" -> copies { i =>
        val r = (i * 7) % dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        // rotation alone has period dim (copy dim == copy 0 verbatim at
        // factor > dim); a per-copy deterministic sign-flip pattern —
        // also orthogonal, and exact in float — removes the period while
        // preserving norms and intra-copy dot products bit-for-bit
        val decorrelated =
          if (i == 0) col("embedding")
          else transform(rotated, (x, j) =>
            (x * when(pmod(xxhash64(lit(i.toLong), j.cast("long")), lit(2L)) === 0,
              lit(1.0f)).otherwise(lit(-1.0f))).cast("float"))
        t("embeddings")
          .withColumn("vec_id", col("vec_id") + lit(i * vecB))
          .withColumn("embedding", decorrelated)
      })
  }

  def generate(spark: SparkSession, srcDir: String, dstDir: String,
               factor: Int, only: Set[String] = Set.empty): Unit =
    scaled(spark, srcDir, factor).foreach { case (name, df) =>
      if (only.isEmpty || only.contains(name)) {
        df.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
        System.err.println(s"[genscale] wrote $name")
      } else System.err.println(s"[genscale] skipped $name (table filter)")
    }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional comma-separated table filter (4th arg) — the r16 third
    // corpus decade needs 5M documents (factor 1000) for the fixed-batch
    // increment probe; generating the 600M-row lineitem alongside would
    // cost ~10x the wall and disk for tables the probe never reads
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set.empty)
    val spark = SparkSession.builder()
      .appName("graft-genscale").master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.driver.memory", "16g")
      .getOrCreate()
    try generate(spark, src, dst, factor, only)
    finally spark.stop()
  }
}
