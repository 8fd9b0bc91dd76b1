package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Array-valued ("tensor") forms of the reference's windowing pipeline —
  * the (N, T, F) sample matrices of datasets/turbofan.py:63-88 expressed as
  * one row per window with an `array<double>` feature column.
  *
  * The strided windows come from one kernel that runs once per trajectory:
  * a `groupBy(key)` collects each trajectory's points, sorted by the order
  * columns (`sort_array` over (order…, values…) structs — ties on the
  * order keys break on the values, so the result does not depend on input
  * order or partitioning), and the [[graft.functions.WindowTensors]]
  * expression scales, windows, normalizes and labels them in plain loops;
  * `inline` turns its array into one row per window. The only shuffle is
  * that one hash exchange on the key, at any scale. Per-key memory is the
  * sorted trajectory, n × (|order| + F) values, plus its scaled copy
  * padded to `padTo` — the same order as the unbounded `max().over(key)`
  * frame buffer of a window formulation.
  *
  * The tensor frame is planned once, when it is built
  * ([[graft.plans.SharedShuffle]]): the groupBy → kernel → `inline`
  * subplan is planned without adaptive execution and its RDD is built
  * then, which starts no job. Every action over the frame, or over any
  * frame derived from it, reads that one RDD, so they share one shuffle:
  * the first action reads the input and writes the map side, later
  * actions (a fit, then its evaluation) skip that stage. Consequences:
  *  - AQE neither coalesces nor splits the tensorize exchange; it has
  *    `spark.sql.shuffle.partitions` partitions, as read at build time.
  *    AQE still plans everything above it.
  *  - A conf change after the build does not re-plan the frame; build it
  *    again to pick the change up.
  *  - Nothing is cached. After executor loss the missing shuffle output
  *    is recomputed from lineage, like any shuffle's.
  *  - The shuffle files live as long as the frame: the ContextCleaner
  *    deletes them once no frame over it is reachable.
  *  - `explain` and plan strings show the subplan beneath the
  *    `SharedShuffle` leaf.
  */
object Tensorize {

  /** Full TurboFan feature pipeline (turbofan.py __init__):
    * per-trajectory max-scale → sliding window (T, skip) → per-window
    * z-normalization (population std, eps→1 guard, mirroring
    * normalize_data) → capped RUL label.
    *
    * Output: (key, widx, features: array<double> length T, rul).
    */
  def windowTensorize(df: DataFrame, key: String, order: Seq[String],
                      valueCol: String, t: Int, skip: Int, rulCap: Int,
                      padTo: Int = 0): DataFrame =
    windowTensorizeMulti(df, key, order, Seq(valueCol), t, skip, rulCap,
      padTo = padTo)

  /** Multi-feature variant of [[windowTensorize]] — the reference's
    * (N, T, F) tensors with F = several sensor/setting columns
    * (turbofan.py: 3 settings + 21 sensors). Emits row-major flattened
    * `array<double>` of length T·F plus the capped RUL label. Each feature
    * is max-scaled per trajectory (scale_data, turbofan.py:261 — ALL
    * columns), then per window (normalize_data, turbofan.py:236-246):
    * SENSOR columns are z-normed (zero mean, population std, eps→1 guard)
    * while `settingCols` (the three operating-condition columns, indices
    * {0,1,2} in the reference) are divided by 100 instead — operating
    * modes are discrete levels whose magnitude carries meaning, so
    * per-window standardization would erase them.
    *
    * Values are cast to double before scaling. A null value or a column
    * whose trajectory max is 0 fails the query with a named error
    * (TENSORIZE_NULL_VALUE / TENSORIZE_ZERO_MAX); a trajectory shorter
    * than `t` emits no window; null keys form their own trajectory.
    *
    * `padTo > 0` (at least `t`) front-pads a trajectory shorter than
    * `padTo` to `padTo` points with its first scaled observation before
    * windowing, and the padded length feeds the RUL labels — see
    * [[graft.functions.WindowTensors]]. */
  def windowTensorizeMulti(df: DataFrame, key: String, order: Seq[String],
                           valueCols: Seq[String], t: Int, skip: Int,
                           rulCap: Int,
                           settingCols: Set[String] = Set.empty,
                           padTo: Int = 0): DataFrame = {
    val point = struct(order.map(col) ++ valueCols.zipWithIndex.map {
      case (c, i) => col(c).cast("double").as(s"_v$i") }: _*)
    graft.plans.SharedShuffle(df.groupBy(col(key))
      .agg(sort_array(collect_list(point)).as("_pts"))
      .select(col(key), inline(graft.functions.WindowTensors(col("_pts"),
        order.length, valueCols, valueCols.map(settingCols.contains),
        t, skip, rulCap, padTo))))
  }

  /** music._change_to_seq_len: bring every trajectory to exactly `t` steps —
    * keep the last `t` points if longer, front-pad with 0.0 if shorter.
    * One shuffle (groupBy key); per-key state is one bounded array.
    */
  def padTruncate(df: DataFrame, key: String, tsOrderCol: String,
                  valueCol: String, t: Int): DataFrame =
    lastWindow(df, key, tsOrderCol, valueCol, t, _ => lit(0.0))

  /** The last `t` values of each trajectory by `tsOrderCol`, front-padded
    * to `t` with `pad(vals)` when shorter: (key, orig_len, seq). */
  private def lastWindow(df: DataFrame, key: String, tsOrderCol: String,
                         valueCol: String, t: Int,
                         pad: Column => Column): DataFrame =
    df.groupBy(col(key))
      .agg(sort_array(collect_list(struct(col(tsOrderCol), col(valueCol)))).as("pts"))
      .withColumn("orig_len", size(col("pts")))
      .withColumn("vals", transform(col("pts"), p => p(valueCol)))
      .withColumn("seq",
        when(col("orig_len") >= t, slice(col("vals"), -t, t))
          .otherwise(concat(
            array_repeat(pad(col("vals")), (lit(t) - col("orig_len")).cast("int")),
            col("vals"))))
      .select(col(key), col("orig_len"), col("seq"))

  /** Teacher-forcing next-step pairs — the music-forecasting train/test
    * construction (music.py:22-28): every trajectory is brought to exactly
    * `t`+1 steps through the same zero-front-pad / keep-last rule as
    * [[padTruncate]] (music.py:37-45 `_change_to_seq_len`), then
    * X = window[0:t] and y = window[1:t+1] — the one-step-shifted target
    * a sequence forecaster trains against. Same single-shuffle shape as
    * padTruncate; the shift is two map-side slices of the bounded array. */
  def teacherForcingPairs(df: DataFrame, key: String, tsOrderCol: String,
                          valueCol: String, t: Int): DataFrame =
    padTruncate(df, key, tsOrderCol, valueCol, t + 1)
      .select(col(key), col("orig_len"),
        slice(col("seq"), 1, t).as("x"),
        slice(col("seq"), 2, t).as("y"))

  /** SparkEntry glue: tensorize events (T=20, skip=5, cap=130).
    *
    * The driver-facing projection digests the `array<double>` feature
    * column to scalars (z_min/z_max/z_last) so the result is hashable by
    * the oracle gate; the raw tensor form stays the library API
    * ([[windowTensorize]]) and is spec-verified.
    */
  def tsWindowTensorize(spark: SparkSession, sfDir: String): DataFrame =
    zDigests(windowTensorize(
      Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", Seq("ts_us", "event_id"), "value", t = 20, skip = 5, rulCap = 130),
      "user_id")

  /** (key, widx, rul, z_min, z_max, z_last) of a tensor frame. */
  private def zDigests(tensors: DataFrame, key: String): DataFrame =
    tensors.select(col(key), col("widx"),
      col("rul").cast("long").as("rul"),
      // + 0.0 folds a -0.0 round output (z-score in (-0.5e-6, 0) under
      // DuckDB's float round) to +0.0; mirrored in the oracle SQL
      (round(array_min(col("features")), 6) + lit(0.0)).as("z_min"),
      (round(array_max(col("features")), 6) + lit(0.0)).as("z_max"),
      (round(element_at(col("features"), -1), 6) + lit(0.0)).as("z_last"))

  /** DuckDB oracle for [[tsWindowTensorize]]: the same scale → window →
    * z-norm pipeline via window frames (z_min/z_max are monotone under the
    * affine z-transform, so they commute with min/max over the frame). */
  val tsWindowTensorizeSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    value / max(value) OVER (PARTITION BY user_id) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |f AS (
      |  SELECT user_id, rn, n, v,
      |    avg(v) OVER fr AS m,
      |    stddev_pop(v) OVER fr AS sd,
      |    min(v) OVER fr AS vmin,
      |    max(v) OVER fr AS vmax
      |  FROM s
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY rn
      |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  CAST((rn - 20) / 5 AS BIGINT) AS widx,
      |  CAST(least(130, n - rn) AS BIGINT) AS rul,
      |  round((vmin - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_min,
      |  round((vmax - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_max,
      |  round((v - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_last
      |FROM f WHERE rn >= 20 AND (rn - 20) % 5 = 0""".stripMargin

  /** Reference-complete variant of [[tsWindowTensorize]] — the train-path
    * short-trajectory backfill of turbofan.py:133-138: a trajectory with
    * fewer than T·skip observations is front-padded by repeating its FIRST
    * (scaled) observation to exactly T·skip steps before striding, and the
    * padded length feeds the RUL labels (`y = len_padded − T − i·skip`,
    * exactly as numpy computes it — padded steps count as life).
    *
    * One [[windowTensorize]] call with `padTo = T·skip`: the kernel pads
    * a short trajectory itself, so long and short trajectories share the
    * one groupBy shuffle and no routing aggregate or join is planned.
    * Requires a NON-NULL trajectory key (true of every source this library
    * ingests); null-key rows are dropped by an explicit filter (pinned by
    * spec) rather than windowed as a trajectory of their own. */
  def windowTensorizePadded(df: DataFrame, key: String, order: Seq[String],
                            valueCol: String, t: Int, skip: Int,
                            rulCap: Int): DataFrame =
    zDigests(windowTensorize(df.filter(col(key).isNotNull), key, order,
      valueCol, t, skip, rulCap, padTo = t * skip), key)

  def tsWindowTensorizePadded(spark: SparkSession, sfDir: String): DataFrame =
    windowTensorizePadded(
      Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", Seq("ts_us", "event_id"), "value", t = 20, skip = 5, rulCap = 130)

  /** DuckDB oracle for [[tsWindowTensorizePadded]]: long trajectories reuse
    * the [[tsWindowTensorizeSql]] frame formulation; short trajectories are
    * materialized as an explicit padded 1..100 position series (position ≤
    * pad → first observation) and run through the SAME frame — both
    * engines accumulate each window in position order, so the float parity
    * argument of the unpadded oracle carries over unchanged. */
  val tsWindowTensorizePaddedSql: String =
    """WITH s AS (
      |  SELECT user_id,
      |    value / max(value) OVER (PARTITION BY user_id) AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events),
      |longf AS (
      |  SELECT user_id, rn, n, v,
      |    avg(v) OVER fr AS m, stddev_pop(v) OVER fr AS sd,
      |    min(v) OVER fr AS vmin, max(v) OVER fr AS vmax
      |  FROM s WHERE n >= 100
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY rn
      |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
      |padded AS (
      |  SELECT su.user_id, t.p,
      |    CASE WHEN t.p <= 100 - su.n THEN fi.v
      |         ELSE so.v END AS v
      |  FROM (SELECT DISTINCT user_id, n FROM s WHERE n < 100) su
      |  CROSS JOIN (SELECT range + 1 AS p FROM range(100)) t
      |  JOIN (SELECT user_id, v FROM s WHERE rn = 1) fi ON fi.user_id = su.user_id
      |  LEFT JOIN s so ON so.user_id = su.user_id AND so.rn = t.p - (100 - su.n)),
      |shortf AS (
      |  SELECT user_id, p, v,
      |    avg(v) OVER fr AS m, stddev_pop(v) OVER fr AS sd,
      |    min(v) OVER fr AS vmin, max(v) OVER fr AS vmax
      |  FROM padded
      |  WINDOW fr AS (PARTITION BY user_id ORDER BY p
      |                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT user_id,
      |  CAST((rn - 20) / 5 AS BIGINT) AS widx,
      |  CAST(least(130, n - rn) AS BIGINT) AS rul,
      |  round((vmin - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_min,
      |  round((vmax - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_max,
      |  round((v - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_last
      |FROM longf WHERE rn >= 20 AND (rn - 20) % 5 = 0
      |UNION ALL
      |SELECT user_id,
      |  CAST((p - 20) / 5 AS BIGINT) AS widx,
      |  CAST(least(130, 100 - p) AS BIGINT) AS rul,
      |  round((vmin - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_min,
      |  round((vmax - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_max,
      |  round((v - m) / (CASE WHEN sd <= 1e-12 THEN 1.0 ELSE sd END), 6) + 0.0 AS z_last
      |FROM shortf WHERE p >= 20 AND (p - 20) % 5 = 0""".stripMargin

  /** SparkEntry glue: pad/left-truncate each user's series to 512 steps.
    * Digested to scalars (sum/first/last of the fixed-length sequence) for
    * the oracle gate; [[padTruncate]] keeps the array form. */
  def tsPadTruncate(spark: SparkSession, sfDir: String): DataFrame =
    padTruncate(
      Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "value", t = 512)
      .select(col("user_id"),
        col("orig_len").cast("long").as("orig_len"),
        greatest(lit(0L), lit(512L) - col("orig_len")).as("n_pad"),
        round(aggregate(col("seq"), lit(0.0), (acc, x) => acc + x), 6).as("seq_sum"),
        round(element_at(col("seq"), 1), 6).as("seq_first"),
        round(element_at(col("seq"), -1), 6).as("seq_last"))

  /** DuckDB oracle for [[tsPadTruncate]]: last-512-by-time sum, plus first
    * element (0.0 when front-padded) and last element. */
  val tsPadTruncateSql: String =
    """WITH o AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), value) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id,
      |  CAST(max(n) AS BIGINT) AS orig_len,
      |  CAST(greatest(0, 512 - max(n)) AS BIGINT) AS n_pad,
      |  round(sum(CASE WHEN rn > n - 512 THEN value ELSE 0.0 END), 6) AS seq_sum,
      |  round(CASE WHEN max(n) >= 512
      |        THEN max(CASE WHEN rn = n - 511 THEN value END)
      |        ELSE 0.0 END, 6) AS seq_first,
      |  round(max(CASE WHEN rn = n THEN value END), 6) AS seq_last
      |FROM o GROUP BY user_id""".stripMargin

  /** Provided-RUL validation windows — the reference's validation-set
    * construction (turbofan.py:118 `sliding_window_rul(self.val_trajectories,
    * rul=self.val_rul, augment_test_data=False)`): keep ONLY the last
    * T-step window of each trajectory, front-pad short trajectories by
    * repeating their FIRST observation (the np backfill at
    * turbofan.py:135-138: `padded_traj[0:pad] = traj[0]`), and label each
    * window with an EXTERNALLY supplied per-trajectory RUL (the
    * RUL_FD00x.txt files of turbofan.py:100-103), clipped at `rulCap`
    * (`y[y > max_rul_predictable] = max_rul_predictable`).
    *
    * `labels` must have columns (key, rul_provided); it is a per-trajectory
    * table — tiny relative to the observations — so it broadcasts. One
    * shuffle (groupBy key); per-key state is one bounded array.
    */
  def rulValidationWindow(df: DataFrame, labels: DataFrame, key: String,
                          tsOrderCol: String, valueCol: String, t: Int,
                          rulCap: Int): DataFrame =
    inferenceWindow(df, key, tsOrderCol, valueCol, t)
      .join(broadcast(labels), Seq(key))
      .withColumn("rul", least(lit(rulCap.toLong), col("rul_provided").cast("long")))
      .select(col(key), col("orig_len"), col("seq"), col("rul"))

  /** Augmented test windows — the remaining branch of the reference's
    * `sliding_window_rul` (turbofan.py:142-150): when an EXTERNAL
    * per-trajectory RUL is provided AND `augment_test_data=True`, the
    * reference emits ALL windows of each test trajectory (same stride and
    * front-backfill as the train path), labelling window j with
    * `rul[ii] + L − T − j·skip` — the external end-of-trajectory RUL plus
    * the steps the window still has to go WITHIN the trajectory — then
    * caps at `max_rul_predictable`. The other two branches are
    * [[windowTensorize]] (`rul=None`) and [[rulValidationWindow]]
    * (`augment_test_data=False`, last window only); this closes the
    * augmented test-evaluation path a reference user would hit.
    *
    * Critically, the cap applies to the SUM, not to the trajectory-relative
    * part alone — so the inner tensorize runs uncapped and the external
    * offset joins BEFORE the single `least`. `labels` is per-trajectory
    * (key, rul_provided) — dim-sized, broadcast. Same kernel call as
    * [[windowTensorizePadded]] (`padTo = T·skip`, null keys dropped).
    *
    * Output: (key, widx, features: array<double> length T, rul).
    */
  def augmentedTestWindows(df: DataFrame, labels: DataFrame, key: String,
                           order: Seq[String], valueCol: String, t: Int,
                           skip: Int, rulCap: Int): DataFrame =
    // rulCap = MaxValue leaves the trajectory-relative label uncapped; the
    // real cap is applied once, after the external offset
    windowTensorize(df.filter(col(key).isNotNull), key, order, valueCol,
        t, skip, rulCap = Int.MaxValue, padTo = t * skip)
      .join(broadcast(labels), Seq(key))
      .withColumn("rul",
        least(lit(rulCap.toLong), col("rul") + col("rul_provided").cast("long")))
      .select(col(key), col("widx"), col("features"), col("rul"))

  /** Inference-only windowing for the UNLABELED challenge split — the
    * reference's test-set construction (turbofan.py:106-113): trajectories
    * with no RUL at all, reduced to their last T-step window (same
    * first-observation front-backfill as the validation path) purely for
    * model scoring. Identical window semantics to [[rulValidationWindow]]
    * minus the label join. */
  def inferenceWindow(df: DataFrame, key: String, tsOrderCol: String,
                      valueCol: String, t: Int): DataFrame =
    lastWindow(df, key, tsOrderCol, valueCol, t, element_at(_, 1))

  /** SparkEntry glue: last-64-step validation window per trajectory, with
    * the per-trajectory RUL labels INGESTED from an external space-separated
    * side file (the `RUL_FD00x.txt` path of turbofan.py:100-103 — written
    * once per run by [[graft.Fixtures.ensureRulLabels]] in Verify/Bench
    * SETUP, read back through the same no-header CSV ingest as
    * [[graft.sources.TrajectoryCsv]]), digested to scalars for the oracle
    * gate like [[tsPadTruncate]]. The query itself is a pure read +
    * broadcast join — no driver collect, no file write, nothing but the
    * operator in the timed path. */
  def tsRulValidation(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts")))
    val path = graft.Fixtures.rulLabelPath(sfDir)
    require(new java.io.File(path).isFile,
      s"RUL label side file $path missing — run Fixtures.ensureRulLabels(spark, sfDir) in setup first")
    val labels = spark.read
      .option("sep", " ").option("header", "false")
      .schema("user_id LONG, rul_provided LONG")
      .csv(path)
    rulValidationWindow(ev, labels, "user_id", "ts_us", "value",
        t = 64, rulCap = 130)
      .select(col("user_id"),
        col("orig_len").cast("long").as("orig_len"),
        greatest(lit(0L), lit(64L) - col("orig_len")).as("n_pad"),
        col("rul"),
        round(aggregate(col("seq"), lit(0.0), (acc, x) => acc + x), 6).as("win_sum"),
        round(element_at(col("seq"), 1), 6).as("win_first"),
        round(element_at(col("seq"), -1), 6).as("win_last"))
  }

  /** DuckDB oracle for [[tsRulValidation]]: the padded window sum equals
    * tail-sum + n_pad·first (padding repeats the first observation); the
    * window head is the first observation when padded, else the value at
    * rn = n − 63. user_id ≥ 0, so `%` matches Spark's pmod. */
  val tsRulValidationSql: String =
    """WITH o AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), value) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id,
      |  CAST(max(n) AS BIGINT) AS orig_len,
      |  CAST(greatest(0, 64 - max(n)) AS BIGINT) AS n_pad,
      |  CAST(least(130, (user_id * 37 + 11) % 200) AS BIGINT) AS rul,
      |  round(sum(CASE WHEN rn > n - 64 THEN value ELSE 0.0 END)
      |        + greatest(0, 64 - max(n))
      |          * max(CASE WHEN rn = 1 THEN value END), 6) AS win_sum,
      |  round(max(CASE WHEN rn = greatest(1, n - 63) THEN value END), 6) AS win_first,
      |  round(max(CASE WHEN rn = n THEN value END), 6) AS win_last
      |FROM o GROUP BY user_id""".stripMargin

  /** SparkEntry glue for the unlabeled challenge split: last-64-step
    * window per trajectory, NO label — digested to scalars like
    * [[tsRulValidation]]. */
  def tsRulInference(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).withColumn("ts_us", unix_micros(col("ts")))
    inferenceWindow(ev, "user_id", "ts_us", "value", t = 64)
      .select(col("user_id"),
        col("orig_len").cast("long").as("orig_len"),
        greatest(lit(0L), lit(64L) - col("orig_len")).as("n_pad"),
        round(aggregate(col("seq"), lit(0.0), (acc, x) => acc + x), 6).as("win_sum"),
        round(element_at(col("seq"), 1), 6).as("win_first"),
        round(element_at(col("seq"), -1), 6).as("win_last"))
  }

  /** Deterministic distributed shuffle for training export — the analog of
    * the reference's `shuffle_data` (datasets/turbofan.py:266), which
    * permutes the in-memory (X, y) arrays with `np.random.permutation`
    * before batching. A 100 TB corpus can't be permuted driver-side; the
    * distributed equivalent is a rank by a seeded hash of a unique key:
    * range-partition on the rank, sort within partitions, and the
    * concatenated file order IS the permutation — seed-reproducible,
    * independent of input partitioning, no global single-point sort (the
    * range exchange is the only shuffle, and hash ranks are uniform so
    * every output partition gets an even share with no skew by
    * construction).
    *
    * `keyCols` must uniquely identify rows (they break hash ties, making
    * the total order deterministic even across collisions) — duplicate
    * keys silently degrade the seed-reproducibility contract (colliding
    * rows sort in nondeterministic relative order), so
    * `validateUniqueKeys=true` adds a cheap distinct-count assertion for
    * debugging at small scale (two extra jobs; off by default for the
    * production path). Different seeds give decorrelated permutations —
    * xxhash64 avalanche means a one-bit seed change reorders everything.
    */
  def shuffledExport(df: DataFrame, keyCols: Seq[String], seed: Long,
      numPartitions: Int = 0, validateUniqueKeys: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty, "shuffledExport needs key columns to rank on")
    // the rank column is internal scaffolding: a pre-existing column of
    // the same name would be silently overwritten and then dropped,
    // losing user data — refuse loudly instead
    require(!df.columns.contains("__shuffle_rank"),
      "shuffledExport reserves the column name __shuffle_rank; rename that input column")
    if (validateUniqueKeys) {
      val n = df.count()
      val d = df.select(keyCols.map(col): _*).distinct().count()
      require(d == n,
        s"shuffledExport keyCols ${keyCols.mkString(",")} are not unique: $d distinct of $n rows — the permutation would not be seed-reproducible")
    }
    val rank = xxhash64(lit(seed) +: keyCols.map(col): _*)
    val sortCols = col("__shuffle_rank") +: keyCols.map(col)
    val ranked = df.withColumn("__shuffle_rank", rank)
    val parted =
      if (numPartitions > 0) ranked.repartitionByRange(numPartitions, sortCols: _*)
      else ranked.repartitionByRange(sortCols: _*)
    parted.sortWithinPartitions(sortCols: _*).drop("__shuffle_rank")
  }

  /** DuckDB oracle for [[tsRulInference]]: [[tsRulValidationSql]] minus
    * the external-label column. */
  val tsRulInferenceSql: String =
    """WITH o AS (
      |  SELECT user_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), value) AS rn,
      |    count(*) OVER (PARTITION BY user_id) AS n
      |  FROM events)
      |SELECT user_id,
      |  CAST(max(n) AS BIGINT) AS orig_len,
      |  CAST(greatest(0, 64 - max(n)) AS BIGINT) AS n_pad,
      |  round(sum(CASE WHEN rn > n - 64 THEN value ELSE 0.0 END)
      |        + greatest(0, 64 - max(n))
      |          * max(CASE WHEN rn = 1 THEN value END), 6) AS win_sum,
      |  round(max(CASE WHEN rn = greatest(1, n - 63) THEN value END), 6) AS win_first,
      |  round(max(CASE WHEN rn = n THEN value END), 6) AS win_last
      |FROM o GROUP BY user_id""".stripMargin
}
