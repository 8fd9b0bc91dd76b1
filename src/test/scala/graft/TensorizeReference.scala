package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The per-row window-frame formulation of the TurboFan tensors, kept as
  * the reference the per-trajectory kernel ([[graft.functions.WindowTensors]])
  * is checked against: per feature a `max().over(key)` scale, a
  * `collect_list` over a sliding `rowsBetween(-(t-1), 0)` frame, and
  * `aggregate`/`transform` lambdas for the mean, the std and the z-score,
  * interleaved row-major (time, feature).
  *
  * Its `row_number` order is nondeterministic on duplicate order keys, and
  * it has no defined result for null values or a zero column max, so it is
  * only compared on inputs with unique order keys and non-null values. */
object TensorizeReference {

  def windowTensorize(df: DataFrame, key: String, order: Seq[String],
                      valueCol: String, t: Int, skip: Int, rulCap: Int): DataFrame = {
    val wKey = Window.partitionBy(col(key))
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    val frame = w.rowsBetween(-(t - 1), 0)
    val scaled = df.withColumn("_v", col(valueCol) / max(col(valueCol)).over(wKey))
    val windowed = scaled
      .withColumn("rn", row_number().over(w))
      .withColumn("n_all", count(lit(1)).over(wKey))
      .withColumn("raw_win", collect_list(col("_v")).over(frame))
      .filter(col("rn") >= t && (col("rn") - t) % skip === 0)
      .withColumn("widx", ((col("rn") - t) / skip).cast("long"))
      .withColumn("rul", least(lit(rulCap), col("n_all") - col("rn")))
    val mean = aggregate(col("raw_win"), lit(0.0), (acc, x) => acc + x) / lit(t)
    val winNormed = windowed
      .withColumn("w_mean", mean)
      .withColumn("w_std",
        sqrt(aggregate(col("raw_win"), lit(0.0),
          (acc, x) => acc + (x - col("w_mean")) * (x - col("w_mean"))) / lit(t)))
      .withColumn("w_std_safe",
        when(col("w_std") <= lit(1e-12), lit(1.0)).otherwise(col("w_std")))
      .withColumn("features",
        transform(col("raw_win"), x => (x - col("w_mean")) / col("w_std_safe")))
    winNormed.select(col(key), col("widx"), col("features"), col("rul"))
  }

  def windowTensorizeMulti(df: DataFrame, key: String, order: Seq[String],
                           valueCols: Seq[String], t: Int, skip: Int,
                           rulCap: Int,
                           settingCols: Set[String] = Set.empty): DataFrame = {
    val wKey = Window.partitionBy(col(key))
    val w = Window.partitionBy(col(key)).orderBy(order.map(col): _*)
    val frame = w.rowsBetween(-(t - 1), 0)
    val scaled = valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(s"_s_$c", col(c) / max(col(c)).over(wKey))
    }
    val windowed = valueCols.foldLeft(
      scaled.withColumn("rn", row_number().over(w))
            .withColumn("n_all", count(lit(1)).over(wKey))) { (d, c) =>
      d.withColumn(s"_w_$c", collect_list(col(s"_s_$c")).over(frame))
    }
      .filter(col("rn") >= t && (col("rn") - t) % skip === 0)
      .withColumn("widx", ((col("rn") - t) / skip).cast("long"))
      .withColumn("rul", least(lit(rulCap), col("n_all") - col("rn")))
    val normed = valueCols.foldLeft(windowed) { (d, c) =>
      val arr = col(s"_w_$c")
      if (settingCols.contains(c))
        d.withColumn(s"_z_$c", transform(arr, x => x / lit(100.0)))
      else {
        val mean = aggregate(arr, lit(0.0), (acc, x) => acc + x) / lit(t)
        d.withColumn(s"_m_$c", mean)
          .withColumn(s"_sd_$c", {
            val sd = sqrt(aggregate(arr, lit(0.0),
              (acc, x) => acc + (x - col(s"_m_$c")) * (x - col(s"_m_$c"))) / lit(t))
            when(sd <= lit(1e-12), lit(1.0)).otherwise(sd)
          })
          .withColumn(s"_z_$c", transform(arr, x => (x - col(s"_m_$c")) / col(s"_sd_$c")))
      }
    }
    val features = flatten(transform(sequence(lit(0), lit(t - 1)),
      i => array(valueCols.map(c => element_at(col(s"_z_$c"), i + 1)): _*)))
    normed.select(col(key), col("widx"), features.as("features"), col("rul"))
  }
}
