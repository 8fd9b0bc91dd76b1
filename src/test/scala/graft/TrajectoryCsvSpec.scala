package graft

import java.io.{File, PrintWriter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TrajectoryCsv

/** The job-free TurboFan reader against the schema-inferring reference
  * ([[TrajectoryCsvReference]]): no Spark job in `read`, a pinned
  * schema, the same values on every layout the reference read, and loud
  * failures, naming the path, where the reference guessed. */
class TrajectoryCsvSpec extends SparkSpec {

  private val names = Seq("trajectory_id", "t") ++
    (1 to 3).map(i => s"setting_$i") ++ (1 to 21).map(i => s"sensor_$i")

  private def write(dir: File, name: String, lines: Seq[String]): String = {
    val f = new File(dir, name)
    val pw = new PrintWriter(f)
    try lines.foreach(pw.println) finally pw.close()
    f.getAbsolutePath
  }

  private def tmpDir(): File = java.nio.file.Files.createTempDirectory("trajcsv").toFile

  /** Seeded FD001-like rows: ids and cycles, settings printed with 4
    * decimals and one integral setting, sensors at full double precision
    * and in scientific notation, each line ended by `tail`. */
  private def seededLines(seed: Long, tail: String): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (1 to 4).flatMap { id =>
      (1 to 5 + rnd.nextInt(20)).map { t =>
        val settings = Seq(f"${rnd.nextGaussian() * 0.002}%.4f",
          f"${rnd.nextGaussian() * 0.0003}%.4f", "100")
        val sensors = (1 to 21).map { j =>
          val v = 10.0 + j * 37.5 + rnd.nextGaussian()
          if (j % 7 == 0) f"$v%.3e" else v.toString
        }
        (Seq(id.toString, t.toString) ++ settings ++ sensors).mkString(" ") + tail
      }
    }
  }

  /** (trajectory_id, t) → the raw bits of every column cast to double. */
  private def bits(df: DataFrame): Map[(Double, Double), Seq[Long]] = {
    val rows = df.select(names.map(c => col(c).cast("double")): _*).collect()
    val out = rows.map { r =>
      (r.getDouble(0), r.getDouble(1)) ->
        names.indices.map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
    }.toMap
    assert(out.size == rows.length, "duplicate (trajectory_id, t)")
    out
  }

  private def assertSameAsReference(path: String, rows: Int): Unit = {
    val got = bits(TrajectoryCsv.read(spark, path))
    assert(got.size == rows)
    assert(got == bits(TrajectoryCsvReference.read(spark, path)))
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("read runs no Spark job and pins the schema") {
    val path = TurbofanFixture.writeTrain()
    val (df, jobs) = JobProbe(spark)(TrajectoryCsv.read(spark, path))
    assert(jobs.isEmpty, s"read started jobs $jobs")
    assert(df.schema == StructType(names.map(n => StructField(n,
      if (n == "trajectory_id" || n == "t") IntegerType else DoubleType))))
    // the reference starts jobs for inferSchema and for the non-null count
    assert(JobProbe(spark)(TrajectoryCsvReference.read(spark, path))._2.nonEmpty)
  }

  test("values == the reference's cast to double: fixture, CMAPSS layout, no trailing separator") {
    assertSameAsReference(TurbofanFixture.writeTrain(), 90)
    val dir = tmpDir()
    val cmapss = seededLines(5L, "  ")
    assertSameAsReference(write(dir, "cmapss.txt", cmapss), cmapss.size)
    val bare = seededLines(6L, "")
    assertSameAsReference(write(dir, "bare.txt", bare), bare.size)
  }

  test("blank lines are skipped and a directory reads all its files") {
    val dir = tmpDir()
    val a = seededLines(7L, " ")
    val withBlanks = Seq("", "   ") ++ a.take(3) ++ Seq("") ++ a.drop(3) ++ Seq("", "")
    assertSameAsReference(write(dir, "blanks.txt", withBlanks), a.size)
    val multi = tmpDir()
    val b = seededLines(8L, " ").map(l => "9" + l) // ids 91..94
    write(multi, "part-0.txt", a)
    write(multi, "part-1.txt", b)
    write(multi, "_SUCCESS", Seq("not a data line"))
    assertSameAsReference(multi.getAbsolutePath, a.size + b.size)
  }

  test("ragged rows, non-numeric tokens and data in an empty column fail loudly, naming the path") {
    val dir = tmpDir()
    val good = seededLines(11L, "  ")
    def failsNaming(name: String, lines: Seq[String], what: String): Unit = {
      val path = write(dir, name, lines)
      val e = intercept[Exception](TrajectoryCsv.read(spark, path).collect())
      val m = messages(e)
      assert(m.contains(path), s"$what: the error does not name $path: $m")
    }
    val toks = good(2).split(" ", -1)
    failsNaming("ragged.txt",
      good.take(2) ++ Seq(toks.take(20).mkString(" ") + "  ") ++ good.drop(3), "ragged row")
    failsNaming("long.txt",
      good.take(2) ++ Seq(toks.take(26).mkString(" ") + " 1.5 9.0 ") ++ good.drop(3),
      "row with extra columns")
    failsNaming("token.txt",
      good.take(2) ++ Seq((toks.take(10) ++ Seq("n/a") ++ toks.drop(11)).mkString(" ")) ++
        good.drop(3), "non-numeric token")
    failsNaming("trailing.txt",
      good.take(2) ++ Seq(toks.take(26).mkString(" ") + " 7.0 ") ++ good.drop(3),
      "data in a trailing column")
    // data in the trailing column is caught inside the plan, by name
    val e = intercept[Exception](
      TrajectoryCsv.read(spark, new File(dir, "trailing.txt").getPath).count())
    assert(messages(e).contains("leaves empty"), messages(e))
  }

  test("an empty or blank-only input fails in read, naming the path") {
    val dir = tmpDir()
    Seq("empty.txt" -> Seq.empty[String], "blank.txt" -> Seq("", "  ", "")).foreach {
      case (name, lines) =>
        val path = write(dir, name, lines)
        val e = intercept[IllegalArgumentException](TrajectoryCsv.read(spark, path))
        assert(e.getMessage.contains(path), e.getMessage)
    }
    val short = write(dir, "short.txt", Seq("1 2 3 "))
    val e = intercept[IllegalArgumentException](TrajectoryCsv.read(spark, short))
    assert(e.getMessage.contains(short) && e.getMessage.contains("got 3"), e.getMessage)
  }
}
