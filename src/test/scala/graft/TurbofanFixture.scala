package graft

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
}
