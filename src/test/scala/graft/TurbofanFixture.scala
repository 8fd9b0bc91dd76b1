package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A small turbofan-format training file (train_FD00x.txt layout: id,
  * cycle, 3 settings, 21 sensors, space-separated with a trailing space):
  * 3 trajectories of 30 steps each. */
object TurbofanFixture {
  def writeTrain(): String = {
    val dir = java.nio.file.Files.createTempDirectory("tf").toFile
    val f = new java.io.File(dir, "train.txt")
    val pw = new java.io.PrintWriter(f)
    for (traj <- 1 to 3; t <- 1 to 30) {
      val settings = Seq(0.5, 0.6, 0.7).map(s => s + t * 0.01)
      val sensors = (1 to 21).map(j => j * 1.0 + t * 0.1 * traj)
      pw.println((Seq(traj, t) ++ settings ++ sensors).mkString(" ") + " ")
    }
    pw.close()
    f.getAbsolutePath
  }

  private val settings = (1 to 3).map(i => s"setting_$i")
  private val features = settings ++ (1 to 21).map(i => s"sensor_$i")

  /** The turbofan pass's frame over `file`, as perfbench builds it but
    * with RUL cap 15: window tensors (T = 10, skip 5) split 80/20 by
    * window index into folds. */
  def split(spark: SparkSession, file: String): DataFrame = {
    val tensors = operators.Tensorize.windowTensorizeMulti(
      sources.TrajectoryCsv.read(spark, file), "trajectory_id", Seq("t"), features,
      t = 10, skip = 5, rulCap = 15, settingCols = settings.toSet)
    operators.TimeSeriesOps.ratioSplit(tensors, "trajectory_id", Seq("widx"), 0.8)
  }
}
