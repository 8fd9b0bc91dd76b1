package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** End-to-end migration-story tests: the reference's TurboFan workflow
  * run entirely through graft operators, plus skew/percentile extras. */
class PipelineSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  test("full TurboFan-style pipeline: CSV -> multi-feature tensorize -> split") {
    // a small turbofan-format file: 3 trajectories, 30 steps
    val raw = sources.TrajectoryCsv.read(spark, TurbofanFixture.writeTrain())
    val settings = (1 to 3).map(i => s"setting_$i")
    val featureCols = settings ++ (1 to 4).map(i => s"sensor_$i")
    val tensors = Tensorize.windowTensorizeMulti(raw, "trajectory_id", Seq("t"),
      featureCols, t = 10, skip = 5, rulCap = 15, settingCols = settings.toSet)
    val rows = tensors.collect()
    // each trajectory: windows end at rows 10, 15, 20, 25, 30 → 5 windows
    assert(rows.length == 15)
    val feats = rows.head.getAs[scala.collection.Seq[Double]]("features")
    assert(feats.length == 10 * featureCols.length)
    // capped RUL at the first window of a 30-step trajectory = min(15, 20)
    val byIdx = rows.map(r => (r.getInt(0), r.getLong(r.fieldIndex("widx"))) -> r.getLong(r.fieldIndex("rul"))).toMap
    assert(byIdx((1, 0L)) == 15L) // capped
    assert(byIdx((1, 4L)) == 0L)  // failure point
    // sensors z-normed per window: each sensor slice sums to ~0
    val s1 = (0 until 10).map(t => feats(t * featureCols.length + 3))
    assert(math.abs(s1.sum) < 1e-9)
    // settings NOT z-normed: max-scaled then /100 (turbofan normalize_data
    // treats op-condition columns separately), so values sit in (0, 0.01]
    val set1 = (0 until 10).map(t => feats(t * featureCols.length))
    assert(set1.forall(v => v > 0.0 && v <= 0.01 + 1e-12), set1)
    // the final window of trajectory 1 ends at the trajectory max → 1/100
    val lastW = rows.find(r => r.getInt(0) == 1 &&
      r.getLong(r.fieldIndex("widx")) == 4L).get
      .getAs[scala.collection.Seq[Double]]("features")
    assert(math.abs(lastW(9 * featureCols.length) - 0.01) < 1e-12)

    val split = TimeSeriesOps.ratioSplit(tensors, "trajectory_id", Seq("widx"), 0.8)
    val counts = split.groupBy("fold").count().as[(String, Long)].collect().toMap
    assert(counts("train") == 12 && counts("test") == 3)
  }

  test("the paper pass runs no job before its two actions, and scans the file once") {
    // the perfbench turbofan operation on the fixture: a new eager job or
    // a second scan of the input anywhere in it fails here. The tensor
    // frame is planned once, so the evaluation reads the fit's shuffle
    // output and no input bytes
    val file = TurbofanFixture.writeTrain()
    val settings = (1 to 3).map(i => s"setting_$i")
    val features = settings ++ (1 to 21).map(i => s"sensor_$i")
    val (split, built) = JobProbe(spark) {
      val raw = sources.TrajectoryCsv.read(spark, file)
      val tensors = Tensorize.windowTensorizeMulti(raw, "trajectory_id", Seq("t"),
        features, t = 10, skip = 5, rulCap = 15, settingCols = settings.toSet)
      TimeSeriesOps.ratioSplit(tensors, "trajectory_id", Seq("widx"), 0.8)
    }
    assert(built.isEmpty, s"read + tensorize + split started jobs: $built")
    val bytes = new java.io.File(file).length
    val (w, fit) = JobProbe(spark) {
      graft.ml.LinearModel.fitRidge(split.filter(col("fold") === "train"),
        "features", "rul", lambda = 1e-3)
    }
    assert(w.length == 10 * features.length + 1)
    assert(fit.nonEmpty && fit.map(_.inputBytes).sum == bytes,
      s"fitRidge read ${fit.map(_.inputBytes)} bytes of a $bytes-byte file")
    val (counts, eval) = JobProbe(spark) {
      split.select(col("fold"), col("rul"),
          graft.ml.LinearModel.predict(col("features"), w).as("pred"))
        .groupBy(col("fold"))
        .agg(count(lit(1)), sum(pow(col("pred") - col("rul"), 2.0)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(counts == Map("train" -> 12L, "test" -> 3L))
    assert(eval.nonEmpty && eval.map(_.inputBytes).sum == 0L,
      s"predict + MSE read ${eval.map(_.inputBytes)} bytes of a $bytes-byte file")
  }

  test("salted aggregation equals direct aggregation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy("user_id")
      .agg(sum("value").as("v_sum"), count(lit(1)).as("v_n"))
      .select(col("user_id"), round(col("v_sum"), 6).as("v_sum"), col("v_n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val salted = Skew.saltedSumCount(ev, "user_id", "value", salts = 8)
      .select(col("user_id"), round(col("v_sum"), 6).as("v_sum"), col("v_n"))
      .as[(Long, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(direct.keySet == salted.keySet)
    direct.foreach { case (k, (s, n)) =>
      assert(math.abs(s - salted(k)._1) < 1e-6)
      assert(n == salted(k)._2)
    }
  }

  test("scd1 upsert: updates replace, inserts append, untouched rows survive") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    val source = Seq((2L, "b2", 25.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val got = operators.Upsert.scd1(target, source, "k")
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0)))
  }

  test("percentiles are ordered and within range") {
    val df = operators.Relational.qPercentiles(spark, sf)
    df.collect().foreach { r =>
      val (p50, p90, p99) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(p50 <= p90 && p90 <= p99)
      assert(r.getDouble(4) <= p50 && p99 <= r.getDouble(5))
    }
  }

  test("curationGate: first-failing-gate reasons in order, keepers NULL, guardrails") {
    import graft.ml.{Bpe, NgramLm}
    // in-domain corpus to fit both models: repeated natural-ish words
    val train = Seq((1L,
      "the quick brown fox jumps over the lazy dog " * 20)).toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "text")
    val (bpe, _) = Bpe.fit(train, "text", numMerges = 50)
    val probe = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // keeper
      (2L, ""),                                            // no_tokens
      (3L, null.asInstanceOf[String]),                     // no_tokens
      (4L, "zzq xkw vvp mmt ssr qqa wwb eec rrd ttf"),     // out-of-domain
      (5L, "the the the the the the the the the the " * 30), // boilerplate
      (6L, "the quick")                                    // under token budget
    ).toDF("doc_id", "text")
    val got = operators.TextOps.curationGate(probe, "text", lm,
        maxPpl = 50.0, bpe = bpe, minTokens = 5,
        minCompressRatio = 0.12, maxCompressRatio = 1.5)
      .select("doc_id", "gate_reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).isEmpty, s"keeper flagged: ${got(1L)}")
    assert(got(2L).contains("no_tokens") && got(3L).contains("no_tokens"))
    assert(got(4L).contains("high_perplexity"), got(4L).toString)
    assert(got(5L).contains("low_compress_ratio"), got(5L).toString)
    assert(got(6L).contains("token_budget"), got(6L).toString)
    // ordering: doc 5 ALSO fails the token gate? No — it has 300 tokens;
    // make a doc failing both ppl and compress: repeated OOV word — the
    // FIRST gate (perplexity) must name it
    val both = Seq((7L, "zzq " * 200)).toDF("doc_id", "text")
    val r7 = operators.TextOps.curationGate(both, "text", lm,
        maxPpl = 50.0, bpe = bpe, minCompressRatio = 0.12)
      .select("gate_reason").head.getString(0)
    assert(r7 == "high_perplexity", s"first-failing order broken: $r7")
    // guardrails: empty bands and column clashes refused
    intercept[IllegalArgumentException] {
      operators.TextOps.curationGate(probe, "text", lm, maxPpl = 0.0, bpe = bpe)
    }
    intercept[IllegalArgumentException] {
      operators.TextOps.curationGate(probe, "text", lm, maxPpl = 10,
        bpe = bpe, minTokens = 9, maxTokens = 3)
    }
    intercept[IllegalArgumentException] {
      operators.TextOps.curationGate(
        probe.withColumn("lm_ppl", lit(1.0)), "text", lm, maxPpl = 10, bpe = bpe)
    }
    // the clash guard must follow Spark's case-INsensitive resolution:
    // withColumn would silently overwrite LM_PPL even though the name
    // differs in case (r12 ADVICE)
    intercept[IllegalArgumentException] {
      operators.TextOps.curationGate(
        probe.withColumn("LM_PPL", lit(1.0)), "text", lm, maxPpl = 10, bpe = bpe)
    }
  }
}
