package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The two-branch formulation of the padded TurboFan windows that the
  * kernel's `padTo` replaced, kept as the reference
  * [[graft.operators.Tensorize.windowTensorizePadded]] and
  * [[graft.operators.Tensorize.augmentedTestWindows]] are checked against.
  * A per-key count aggregate, joined back, routes each trajectory: one of
  * at least T·skip points takes the window-frame tensors of
  * [[TensorizeReference]]; a shorter one is scaled by `max().over(key)`,
  * collected, front-padded to T·skip with its first scaled observation
  * and windowed with `slice` and `aggregate` lambdas. The branches are
  * unioned.
  *
  * Same limits as [[TensorizeReference]]: only compared on inputs with
  * unique order keys and non-null values (a null value in a short
  * trajectory gives null z-scores here, not an error). */
object PaddedWindowsReference {

  def windowTensorizePadded(df: DataFrame, key: String, order: Seq[String],
                            valueCol: String, t: Int, skip: Int,
                            rulCap: Int): DataFrame = {
    val (in, counts, padLen) = route(df, key, t, skip)
    val long = TensorizeReference.windowTensorize(longKeys(in, key, counts, padLen),
        key, order, valueCol, t, skip, rulCap)
      .select(col(key), col("widx"),
        col("rul").cast("long").as("rul"),
        (round(array_min(col("features")), 6) + lit(0.0)).as("z_min"),
        (round(array_max(col("features")), 6) + lit(0.0)).as("z_max"),
        (round(element_at(col("features"), -1), 6) + lit(0.0)).as("z_last"))
    val short = shortPaddedWindows(in, key, order, valueCol, counts,
        padLen, t, skip)
      .select(col(key), col("j").cast("long").as("widx"),
        least(lit(rulCap.toLong), lit((padLen - t).toLong) - col("j") * skip)
          .cast("long").as("rul"),
        (round((array_min(col("win")) - col("m")) / col("sd"), 6) + lit(0.0)).as("z_min"),
        (round((array_max(col("win")) - col("m")) / col("sd"), 6) + lit(0.0)).as("z_max"),
        (round((element_at(col("win"), -1) - col("m")) / col("sd"), 6) + lit(0.0)).as("z_last"))
    long.unionByName(short)
  }

  def augmentedTestWindows(df: DataFrame, labels: DataFrame, key: String,
                           order: Seq[String], valueCol: String, t: Int,
                           skip: Int, rulCap: Int): DataFrame = {
    val (in, counts, padLen) = route(df, key, t, skip)
    val long = TensorizeReference.windowTensorize(longKeys(in, key, counts, padLen),
        key, order, valueCol, t, skip, rulCap = Int.MaxValue)
      .select(col(key), col("widx"), col("features"),
        col("rul").cast("long").as("rel_rul"))
    val short = shortPaddedWindows(in, key, order, valueCol, counts,
        padLen, t, skip)
      .select(col(key), col("j").cast("long").as("widx"),
        transform(col("win"), x => (x - col("m")) / col("sd")).as("features"),
        (lit((padLen - t).toLong) - col("j") * skip).as("rel_rul"))
    long.unionByName(short)
      .join(broadcast(labels), Seq(key))
      .withColumn("rul",
        least(lit(rulCap.toLong), col("rel_rul") + col("rul_provided").cast("long")))
      .select(col(key), col("widx"), col("features"), col("rul"))
  }

  /** Non-null-key rows, their per-key counts, and T·skip. */
  private def route(df: DataFrame, key: String, t: Int,
                    skip: Int): (DataFrame, DataFrame, Int) = {
    val in = df.filter(col(key).isNotNull)
    (in, in.groupBy(col(key)).agg(count(lit(1)).as("n_all")), t * skip)
  }

  private def longKeys(in: DataFrame, key: String, counts: DataFrame,
                       padLen: Int): DataFrame =
    in.join(counts.filter(col("n_all") >= padLen).select(col(key)), Seq(key))

  /** Scale → front-pad with the first scaled observation to `padLen` →
    * stride windows out of the array → per-window mean and guarded sd,
    * folded in window order. Emits (key, j, win, m, sd). */
  private def shortPaddedWindows(in: DataFrame, key: String,
      order: Seq[String], valueCol: String, counts: DataFrame,
      padLen: Int, t: Int, skip: Int): DataFrame = {
    val wKey = Window.partitionBy(col(key))
    in.join(counts.filter(col("n_all") < padLen).select(col(key)), Seq(key))
      .withColumn("_v", col(valueCol) / max(col(valueCol)).over(wKey))
      .groupBy(col(key))
      .agg(sort_array(collect_list(
        struct(order.map(col) :+ col("_v"): _*))).as("pts"))
      .withColumn("vals", transform(col("pts"), p => p("_v")))
      .withColumn("padded", concat(
        array_repeat(element_at(col("vals"), 1),
          (lit(padLen) - size(col("vals"))).cast("int")),
        col("vals")))
      .select(col(key),
        explode(sequence(lit(0), lit((padLen - t) / skip))).as("j"),
        col("padded"))
      .withColumn("win", slice(col("padded"), col("j") * skip + 1, lit(t)))
      .withColumn("m", aggregate(col("win"), lit(0.0), (a, x) => a + x) / lit(t))
      .withColumn("sd0", sqrt(aggregate(col("win"), lit(0.0),
        (a, x) => a + (x - col("m")) * (x - col("m"))) / lit(t)))
      .withColumn("sd", when(col("sd0") <= lit(1e-12), lit(1.0)).otherwise(col("sd0")))
  }
}
