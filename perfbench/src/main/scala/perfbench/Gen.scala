package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. A generated value is a keyed hash of
  * (seed, column tag, row id), so a seed gives the same files whatever the
  * partitioning. The program under test only ever sees the files. */
object Gen {

  /** Uniform in [0, 1). */
  def u(seed: Long, tag: Int, id: Column): Column =
    (pmod(xxhash64(lit(seed), lit(tag), id), lit(1L << 40)).cast("double") /
      lit((1L << 40).toDouble))

  def int(seed: Long, tag: Int, id: Column, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(seed, tag, id) * lit((hi - lo + 1).toDouble))).cast("long")

  /** A generator seeded from a mix of `keys`: java.util.Random's first
    * draws barely differ between nearby seeds such as 1, 2 and 3. */
  def random(keys: Long*): scala.util.Random =
    new scala.util.Random(keys.foldLeft(0L)((h, k) =>
      new java.util.SplittableRandom(h ^ k).nextLong()))

  /** CMAPSS-shaped trajectory lengths: `engines` lengths in the FD001 range
    * [128, 362] summing to exactly `rows`, so every seed does the same
    * amount of work. */
  def engineLengths(seed: Long, engines: Int, rows: Int): Array[Int] = {
    val (lo, hi) = (128, 362)
    require(rows >= engines * lo && rows <= engines * hi,
      s"$rows rows cannot split into $engines engines of $lo-$hi cycles")
    val rnd = random(seed)
    val len = Array.fill(engines)(lo + rnd.nextInt(hi - lo + 1))
    var diff = rows - len.sum
    while (diff != 0) {
      val e = rnd.nextInt(engines)
      if (diff > 0 && len(e) < hi) { len(e) += 1; diff -= 1 }
      else if (diff < 0 && len(e) > lo) { len(e) -= 1; diff += 1 }
    }
    len
  }

  /** One space-separated trajectory file (trajectory_id, t, 3 settings,
    * 21 sensors, trailing separator) with FD001-like values: settings are
    * small operating-condition noise around fixed levels, sensors drift
    * exponentially toward failure at the trajectory's last cycle. */
  def trajectories(seed: Long, lengths: Array[Int], file: Path): Unit = {
    val rnd = random(seed, 1)
    val base = Array.tabulate(21)(j => 10.0 + 50.0 * ((j * 7919) % 13))
    val drift = Array.tabulate(21)(j => if (j % 4 == 0) 0.0 else
      (if (j % 2 == 0) 1.0 else -1.0) * (0.5 + (j % 5) * 0.3))
    val out = Files.newBufferedWriter(file)
    try {
      val sb = new java.lang.StringBuilder
      lengths.zipWithIndex.foreach { case (n, e) =>
        var t = 1
        while (t <= n) {
          sb.setLength(0)
          sb.append(e + 1).append(' ').append(t)
          sb.append(' ').append(f"${rnd.nextGaussian() * 0.002}%.4f")
          sb.append(' ').append(f"${rnd.nextGaussian() * 0.0003}%.4f")
          sb.append(' ').append("100.0")
          val health = math.exp(4.0 * t / n) / math.exp(4.0)
          var j = 0
          while (j < 21) {
            val v = base(j) + drift(j) * 5.0 * health + rnd.nextGaussian() * 0.05
            sb.append(' ').append(f"$v%.4f")
            j += 1
          }
          sb.append(" \n")
          out.write(sb.toString)
          t += 1
        }
      }
    } finally out.close()
  }

  /** Window count and RUL-label sum the multi-sensor tensorizer must
    * produce: per trajectory of n rows, windows end at rows T, T+skip, ...
    * and each carries min(cap, n - end). */
  def windowClosedForm(lengths: Array[Int], t: Int, skip: Int,
                       cap: Int): (Long, Long) = {
    var windows, rul = 0L
    lengths.foreach { n =>
      var end = t
      while (end <= n) { windows += 1; rul += math.min(cap, n - end); end += skip }
    }
    (windows, rul)
  }
}

object DailyGen {
  import Gen._
  import org.apache.spark.sql.expressions.Window

  /** The daily-curation inputs under `dir`: the documents of the tables
    * in `tables` scaled up `factor` times with GenScale, split by the seed
    * into an existing corpus and arriving documents; the arrivals, in
    * doc_id order, form `days` batches of `batchDocs` (one id block per
    * day, like a real crawl), and in each batch the `nearShare` of
    * documents with the smallest seeded hash are replaced by a corpus
    * document's text plus one word. */
  def generate(spark: SparkSession, seed: Long, tables: Path, factor: Int,
               corpusShare: Double, batchDocs: Int, days: Int,
               nearShare: Double, dir: Path): Unit = {
    val scaled = dir.resolve("scaled")
    graft.tools.GenScale.generate(spark, tables.toString, scaled.toString,
      factor, only = Set("documents"))
    val docs = spark.read.parquet(scaled.resolve("documents.parquet").toString)
      .select(col("doc_id"), col("text"))
    val inCorpus = u(seed, 40, col("doc_id")) < lit(corpusShare)
    val corpusPath = dir.resolve("corpus.parquet").toString
    docs.filter(inCorpus).coalesce(1).write.parquet(corpusPath)
    val byId = Window.orderBy(col("doc_id"))
    val corpusIx = spark.read.parquet(corpusPath)
      .select((row_number().over(byId) - 1).as("ci"), col("text").as("ctext"))
    val nCorpus = corpusIx.count()
    val nNear = math.round(nearShare * batchDocs)
    val arrivals = docs.filter(!inCorpus)
      .withColumn("k", row_number().over(byId) - 1)
      .filter(col("k") < lit(days.toLong * batchDocs))
      .withColumn("day", (col("k") / batchDocs).cast("int"))
    val n = arrivals.count()
    require(n == days.toLong * batchDocs,
      s"$n arriving documents, need $days days x $batchDocs")
    val ranked = arrivals
      .withColumn("r", row_number().over(Window.partitionBy(col("day"))
        .orderBy(u(seed, 41, col("doc_id")), col("doc_id"))) - 1)
      .withColumn("ci", int(seed, 42, col("doc_id"), 0, nCorpus - 1))
    ranked.join(corpusIx, Seq("ci"), "left")
      .select(col("doc_id"),
        when(col("r") < lit(nNear), concat(col("ctext"), lit(" near")))
          .otherwise(col("text")).as("text"),
        col("day"))
      .repartition(col("day")).write.partitionBy("day")
      .parquet(dir.resolve("batches").toString)
    val ids = arrivals.agg(min(col("doc_id")), max(col("doc_id"))).head()
    Files.write(dir.resolve("id_range"),
      s"${ids.getLong(0)} ${ids.getLong(1)}\n".getBytes("UTF-8"))
  }
}
