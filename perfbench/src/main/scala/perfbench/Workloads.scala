package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.{Fixtures, SparkEntry}
import graft.ml.{Bpe, LinearModel, NgramLm}
import graft.operators.{Curation, Dedup, Tensorize, TextOps, TimeSeriesOps}
import graft.sources.{IncrementStore, Manifest, TrajectoryCsv}

/** One closed-loop operation's outcome. `inRows` feeds `rows_per_s`;
  * `outRows` is what the operation returned. */
final case class OpResult(name: String, seconds: Double, ok: Boolean,
                          inRows: Long, outRows: Long, why: String = "")

trait Workload {
  /** Builds the workload's session state; returns the wall seconds of
    * each named session-artifact build it made. */
  def setup(spark: SparkSession, tr: Tracer): Seq[(String, Double)]
  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult
  /** Whether operation i can run twice with the same outcome (the traced
    * run then times it both with and without tracing). */
  def repeatable: Boolean = true
  /** Whether a run may end after operation i (whole units of work). */
  def mayStopAfter(i: Int): Boolean = true
  /** How many operations there are; a run never goes past them. */
  def ops: Int = Int.MaxValue
  /** Operations to run untimed before the unit of work that opens with
    * operation i, so that every timed operation runs warm. */
  def warmUp(i: Int): Seq[Int] = Nil
  /** Per-layer figures only this workload has, measured over the whole
    * run. */
  def layerFigures(spark: SparkSession): Seq[(String, Double)] = Nil
  /** Runs once after the timed phase (e.g. persist check references). */
  def finish(allOk: Boolean): Unit = ()
}

object Workload {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent digest of every row: (rows, Σ low 32 bits of the
    * row hash, xor of the row hashes). Map columns go through to_json
    * because Spark does not hash maps. */
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _ => col(s"`${f.name}`")
      }
    }
    xxhash64(cols.toSeq: _*)
  }

  def digestExprs(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"), sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("s"),
    bit_xor(h).as("x"))

  type Digest = (Long, Long, Long)

  /** [[rowHash]] digest of a whole frame, in one job. */
  def digest(df: DataFrame): Digest = {
    val d = digestExprs(rowHash(df))
    val r = df.agg(d.head, d.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** The timed operation whose output the negative test corrupts;
    * warm-up executions are left alone. */
  @volatile var corruptOp: Int = -1
  @volatile var timedPhase: Boolean = false
  def observed(i: Int, v: Long): Long =
    if (timedPhase && i == corruptOp) v + 1 else v
}

/** The paper's TurboFan pipeline, one pass per operation. */
final class Turbofan(file: String, lengths: Array[Int], t: Int, skip: Int,
                     cap: Int) extends Workload {
  import Workload._
  private val settings = (1 to 3).map(i => s"setting_$i")
  private val features = settings ++ (1 to 21).map(i => s"sensor_$i")
  private val (windowsExpected, rulExpected) =
    Gen.windowClosedForm(lengths, t, skip, cap)

  /** One untimed pass first: the first pass in a JVM is about twice as
    * slow (code generation and JIT). */
  override def warmUp(i: Int): Seq[Int] = if (i == 0) Seq(0) else Nil

  def setup(spark: SparkSession, tr: Tracer): Seq[(String, Double)] = Nil

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val ((windows, rulSum, mse), secs) = timed {
      val raw = tr.span("sources.read", "TrajectoryCsv.read") {
        TrajectoryCsv.read(spark, file)
      }
      val split = tr.span("operators.build", "windowTensorizeMulti+ratioSplit") {
        val tensors = Tensorize.windowTensorizeMulti(raw, "trajectory_id",
          Seq("t"), features, t = t, skip = skip, rulCap = cap,
          settingCols = settings.toSet)
        TimeSeriesOps.ratioSplit(tensors, "trajectory_id", Seq("widx"), 0.8)
      }
      val w = tr.span("ml.fit", "fitRidge") {
        LinearModel.fitRidge(split.filter(col("fold") === "train"),
          "features", "rul", lambda = 1e-3)
      }
      val byFold = tr.span("ml.eval", "predict+mse") {
        split.select(col("fold"), col("rul"),
            LinearModel.predict(col("features"), w).as("pred"))
          .groupBy(col("fold"))
          .agg(count(lit(1)), sum(col("rul")),
            sum(pow(col("pred") - col("rul"), 2.0)))
          .collect().map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      }
      val test = byFold.getOrElse("test", (0L, 0L, Double.NaN))
      (byFold.values.map(_._1).sum, byFold.values.map(_._2).sum,
        test._3 / test._1)
    }
    val w = observed(i, windows)
    val ok = w == windowsExpected && rulSum == rulExpected &&
      !mse.isNaN && !mse.isInfinite
    OpResult(s"pass$i", secs, ok, lengths.sum.toLong, windows,
      if (ok) "" else s"windows $w/$windowsExpected rul $rulSum/$rulExpected mse $mse")
  }
}

/** Every gated query of `SparkEntry.queries`, consumed through the noop
  * sink; one query per operation. The queries come in parts that
  * measured alike (perfbench/workloads.json says how): a run starts at
  * a seeded part, takes the parts in turn, each in a seeded order and
  * warmed once before it is timed, and only ends on a part boundary. */
final class Catalog(dir: String, seed: Long, reference: Path,
                    partLists: Seq[Seq[String]]) extends Workload {
  import Workload._
  private val parts: Seq[Seq[String]] = {
    val names = SparkEntry.queries.keySet
    val unknown = partLists.flatten.filterNot(names)
    require(unknown.isEmpty, s"parts name unknown queries: ${unknown.mkString(", ")}")
    // queries added since the parts were measured join the smallest
    val missing = (names -- partLists.flatten).toSeq.sorted
    val smallest = partLists.indices.minBy(partLists(_).size)
    partLists.zipWithIndex.map { case (q, k) =>
      if (k == smallest) q ++ missing else q }
  }
  private val (order, ends): (Seq[String], Set[Int]) = {
    val rnd = Gen.random(seed, 2)
    val start = rnd.nextInt(parts.size)
    val taken = parts.indices.map(k =>
      rnd.shuffle(parts((start + k) % parts.size).sorted))
    (taken.flatten, taken.scanLeft(0)(_ + _.size).tail.toSet)
  }

  override def mayStopAfter(i: Int): Boolean = ends(Math.floorMod(i, order.size) + 1)
  /** The whole part, once, so its timed queries run warm, as in
    * `graft.Bench`. */
  override def warmUp(i: Int): Seq[Int] = i to Iterator.from(i).find(mayStopAfter).get
  private val seen = mutable.Map.empty[String, Digest]
  private val known: Map[String, Digest] =
    if (!Files.exists(reference)) Map.empty
    else scala.io.Source.fromFile(reference.toFile).getLines().map { l =>
      val Array(q, n, s, x) = l.split(' ')
      q -> ((n.toLong, s.toLong, x.toLong))
    }.toMap

  def setup(spark: SparkSession, tr: Tracer): Seq[(String, Double)] = {
    Fixtures.ensureRulLabels(spark, dir)
    def memo(name: String)(f: => Unit): (String, Double) =
      name -> timed(tr.span(s"memo.$name")(f))._2
    Seq(
      memo("cluster_index")(Dedup.clusterIndex(spark, dir, threshold = 0.5).count()),
      memo("md5_index")(Dedup.md5ShingleIndex(spark, dir).count()),
      // the first call fits the session-scoped gate models
      memo("gate_models")(TextOps.curationGateQuery(spark, dir)),
      memo("recipe")(Curation.curationRecipeQuery(spark, dir)),
      memo("increment")(Curation.curationIncrementQuery(spark, dir)))
  }

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val q = order(Math.floorMod(i, order.size))
    val obs = new Observation()
    val (_, secs) = timed {
      val df = tr.span("operators.build", q)(SparkEntry.queries(q)(spark, dir))
      val h = rowHash(df)
      val d = digestExprs(h)
      tr.span("exec.evaluate", q) {
        df.observe(obs, d.head, d.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val m = obs.get
    def long(k: String): Long = m.get(k) match {
      case Some(v: java.lang.Number) => v.longValue
      case _ => 0L
    }
    val got = (observed(i, long("n")), long("s"), long("x"))
    val expected = known.get(q).orElse(seen.get(q))
    seen.getOrElseUpdate(q, got)
    val ok = got._1 > 0 && expected.forall(_ == got)
    OpResult(q, secs, ok, got._1, got._1,
      if (ok) "" else s"digest $got expected ${expected.getOrElse("rows > 0")}")
  }

  /** A clean run adds the digests of queries no earlier run of this seed
    * recorded; later runs of the seed, traced or not, must reproduce them. */
  override def finish(allOk: Boolean): Unit =
    if (allOk && !seen.keySet.subsetOf(known.keySet)) {
      val all = seen.toMap ++ known
      val tmp = reference.resolveSibling(reference.getFileName.toString + ".tmp")
      Files.write(tmp, all.toSeq.sortBy(_._1).map { case (q, (n, s, x)) =>
        s"$q $n $s $x" }.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.move(tmp, reference, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
}

/** The daily increment loop: curate a day's batch against the corpus,
  * append the verdicts to the store, read pruned ranges back; compact
  * every few days. One day per operation. */
final class DailyCuration(data: Path, storeDir: Path, seed: Long,
                          days: Int, batchDocs: Long, readsPerDay: Int,
                          readWidth: Double, compactEvery: Int,
                          filesPerIncrement: Int) extends Workload {
  import Workload._
  // a day appends to the store: it cannot run twice, and a run is all days
  override def repeatable: Boolean = false
  override def ops: Int = days
  override def mayStopAfter(i: Int): Boolean = i == days - 1
  private var corpus: DataFrame = _
  private var oldLabels: DataFrame = _
  private var gramIx: DataFrame = _
  private var lm: NgramLm.LmModel = _
  private var bpe: Bpe.BpeModel = _
  private val store = IncrementStore(storeDir.resolve("verdicts").toString,
    storeDir.resolve("manifest").toString, filesPerIncrement = filesPerIncrement)
  private val (idLo, idHi) = {
    val Array(lo, hi) = new String(Files.readAllBytes(data.resolve("id_range")),
      "UTF-8").trim.split(' ').map(_.toLong)
    (lo, hi)
  }
  private var stored = 0L
  val readSeconds = mutable.ArrayBuffer.empty[Double]
  val compactSeconds = mutable.ArrayBuffer.empty[Double]
  private var writeSeconds = 0.0
  private var bytesWritten = 0L
  private var daysRun = 0
  private var filesScanned, filesListed = 0L

  private def wipe(p: Path): Unit =
    if (Files.exists(p)) {
      val ps = Files.walk(p)
      try ps.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally ps.close()
    }

  /** (path, size, mtime) of every file under the store. */
  private def snapshot(): Map[String, (Long, Long)] =
    if (!Files.exists(storeDir)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val ps = Files.walk(storeDir)
      try ps.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }.toMap
      finally ps.close()
    }

  private def newBytes(before: Map[String, (Long, Long)]): Long =
    snapshot().collect {
      case (p, (size, mtime)) if !before.get(p).contains((size, mtime)) => size
    }.sum

  def setup(spark: SparkSession, tr: Tracer): Seq[(String, Double)] = {
    wipe(storeDir)
    stored = 0L
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    corpus = tr.span("sources.read", "corpus") {
      spark.read.parquet(data.resolve("corpus.parquet").toString)
    }.select(col("doc_id"), col("text")).persist(lvl)
    corpus.count()
    oldLabels = Dedup.dedupClusters(corpus, threshold = 0.5)
      .select(col("doc_id"), col("cluster_id")).persist(lvl)
    oldLabels.count()
    lm = NgramLm.fit(corpus, "text")
    bpe = Bpe.fit(corpus, "text", numMerges = 50)._1
    gramIx = Dedup.gramIndex(corpus, "text", n = 5).persist(lvl)
    gramIx.count()
    Nil
  }

  private def range(day: Int, r: Int): (Long, Long) = {
    val rnd = Gen.random(seed, 3, day, r)
    val width = ((idHi - idLo) * readWidth).toLong
    val lo = idLo + (rnd.nextDouble() * (idHi - idLo - width)).toLong
    (lo, lo + width)
  }

  def op(spark: SparkSession, tr: Tracer, i: Int): OpResult = {
    val before = snapshot()
    val reads = mutable.ArrayBuffer.empty[((Long, Long), Digest)]
    val (_, secs) = timed {
      val batch = tr.span("sources.read", "batch") {
        spark.read.parquet(data.resolve(s"batches/day=$i").toString)
      }
      val (verdicts, handle) = tr.span("operators.build", "curateIncrement") {
        Curation.curateIncrement(batch, "doc_id", "text", corpus, oldLabels,
          lm, maxPpl = 28.4, bpe, nearThreshold = 0.5, md5Family = true,
          spanIndex = Some(gramIx), spanN = 5, minKeptRatio = 0.9)
      }
      writeSeconds += timed(tr.span("sources.write", "writeIncrement") {
        store.writeIncrement(verdicts.select(col("doc_id"), col("text"),
          col("cluster_id"), col("curation_reject"), lit(i).as("day")))
      })._2
      handle.close()
      if ((i + 1) % compactEvery == 0) {
        val c = timed(tr.span("sources.write", "compact") {
          store.compact(spark, targetFileBytes = 8L << 20)
        })._2
        compactSeconds += c
        writeSeconds += c
      }
      (0 until readsPerDay).foreach { r =>
        val (lo, hi) = range(i, r)
        val (d, rs) = timed(tr.span("sources.read", "readRange") {
          digest(store.readRange(spark, Map("doc_id" -> (lo, hi))))
        })
        readSeconds += rs
        reads += (((lo, hi), d))
      }
    }
    bytesWritten += newBytes(before)
    daysRun += 1
    stored += batchDocs
    // checks, outside the operation's clock
    val all = store.readAll(spark)
    val counts = all.agg(count(lit(1)), sum(when(col("day") === i, 1L).otherwise(0L)))
      .head()
    val total = observed(i, counts.getLong(0))
    val today = counts.getLong(1)
    val m = store.manifest(spark)
    val listed = m.count()
    val bad = reads.filterNot { case ((lo, hi), d) =>
      filesScanned += Manifest.prune(m, Map("doc_id" -> (lo, hi))).size
      filesListed += listed
      digest(all.filter(col("doc_id") >= lo && col("doc_id") <= hi)) == d
    }
    val ok = today == batchDocs && total == stored && bad.isEmpty
    OpResult(s"day$i", secs, ok, batchDocs, today,
      if (ok) "" else s"day rows $today/$batchDocs store $total/$stored " +
        s"mismatched reads ${bad.map(_._1).mkString(",")}")
  }

  override def layerFigures(spark: SparkSession): Seq[(String, Double)] = {
    def bytesUnder(p: Path): Long = {
      import scala.jdk.CollectionConverters._
      val ps = Files.walk(p)
      try ps.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally ps.close()
    }
    val live = bytesUnder(storeDir.resolve("verdicts"))
    val once = storeDir.resolveSibling("plain.parquet")
    wipe(once)
    store.readAll(spark).write.parquet(once.toString)
    val plain = bytesUnder(once)
    wipe(once)
    Seq(
      "store.read_p50_s" -> Stats.median(readSeconds.toSeq),
      "store.compact_s" -> (if (compactSeconds.isEmpty) 0.0
                            else Stats.median(compactSeconds.toSeq)),
      "store.write_amp" -> bytesWritten.toDouble / live,
      "store.space_amp" -> bytesUnder(storeDir).toDouble / plain,
      "sources.files_scanned_ratio" -> filesScanned.toDouble / filesListed,
      "sources.write_s" -> writeSeconds / daysRun,
      "sources.bytes_written_mb" -> bytesWritten / 1e6 / daysRun)
  }
}
