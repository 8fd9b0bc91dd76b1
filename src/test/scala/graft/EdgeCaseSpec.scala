package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, RangeJoin, TimeSeriesOps}

/** Degenerate-input behavior: operators must return empty/identity
  * results, not throw, when a table or group is empty — at pipeline scale
  * an empty partition or filtered-out day is routine, not exceptional. */
class EdgeCaseSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  test("range join with empty points or empty intervals is empty") {
    val iv = RangeJoin.intervals(spark)
    val noPts = Seq.empty[(Long, Long)].toDF("ev_us", "event_id")
    assert(RangeJoin.rangeJoin(noPts, col("ev_us"), iv, 3600000000L).count() == 0)
    val pts = Seq((1704067200000001L, 1L)).toDF("ev_us", "event_id")
    val noIv = iv.filter(lit(false))
    assert(RangeJoin.rangeJoin(pts, col("ev_us"), noIv, 3600000000L).count() == 0)
  }

  test("smallest_k over an empty relation yields no groups; empty array on null-only input") {
    val empty = Seq.empty[(Int, Int)].toDF("g", "n")
      .groupBy("g").agg(graft.functions.SmallestK.smallestK(col("n"), 3).as("t"))
    assert(empty.count() == 0)
    val nulls = Seq((1, None: Option[Int]), (1, None)).toDF("g", "n")
      .groupBy("g").agg(graft.functions.SmallestK.smallestK(col("n"), 3).as("t"))
    assert(nulls.select(size(col("t"))).head().getInt(0) == 0)
  }

  test("vector_avg of an empty/null-only group is null, not NaN") {
    val df = Seq((1, None: Option[Seq[Double]]), (1, None)).toDF("g", "v")
      .groupBy("g").agg(graft.functions.VectorAgg.vectorAvg(col("v")).as("m"))
    assert(df.head().isNullAt(1))
  }

  test("recurrence and holt on a single-row trajectory return init state") {
    val one = Seq((7L, 1L, 100L, 42.5)).toDF("user_id", "event_id", "ts_us", "value")
    val e = TimeSeriesOps.ewma(one, "user_id", Seq("ts_us", "event_id"), "value", 0.1)
    assert(e.select("ewma").head().getDouble(0) == 42.5)
    val h = TimeSeriesOps.holt(one, "user_id", Seq("ts_us", "event_id"), "value", 0.3, 0.2)
    val r = h.select("level", "trend").head()
    assert(r.getDouble(0) == 42.5 && r.getDouble(1) == 0.0)
  }

  test("dedup clusters on a corpus with no near-dup pairs is all-singletons") {
    // distinct single-token texts — no 3-gram overlap, no same-length pairs collide
    val docs = (1 to 30).map(i => (i.toLong, "tok" + ("x" * i), "en", 3 + i))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = Dedup.dedupClusters(docs, threshold = 0.5)
    assert(out.count() == 30)
    assert(out.filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    assert(out.filter(col("is_canonical") =!= 1).count() == 0)
  }

  test("incrementalLabels with no candidate pairs founds all-singleton clusters") {
    val oldLabels = Seq((1L, 1L)).toDF("doc_id", "cluster_id")
    val newDocs = Seq(10L, 11L).toDF("doc_id")
    val none = Seq.empty[(Long, Long)].toDF("doc_id_a", "doc_id_b")
    val (labels, handle) = Dedup.incrementalLabels(newDocs, oldLabels, none, none)
    val got = labels.as[(Long, Long, Int)].collect().sorted
    handle.close()
    assert(got.toSeq == Seq((10L, 10L, 0), (11L, 11L, 0)))
  }

  test("componentLabels matches a driver-side union-find on random graphs") {
    // the fixpoint has been the hardest operator two rounds running; pin
    // its semantics against an independent oracle over arbitrary shapes,
    // not just the fixed chain/star cases
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val nV = 30 + rnd.nextInt(40)
      val verts = (1L to nV.toLong).toDF("doc_id")
      val edges = (1 to nV).flatMap { _ =>
        val a = 1L + rnd.nextInt(nV)
        val b = 1L + rnd.nextInt(nV)
        if (a == b) None else Some((math.min(a, b), math.max(a, b)))
      }.distinct
      val parent = Array.tabulate(nV + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id per component via a second pass (union by min above keeps
      // the root the min already, but re-derive defensively)
      val want = (1 to nV).map(v => v.toLong -> find(v).toLong).toMap
      val got = Dedup.componentLabels(verts, edges.toDF("doc_id_a", "doc_id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial (n=$nV, e=${edges.size}) diverged")
    }
  }

  test("vector_sum on ragged arrays is partition-order independent, spans max length") {
    val rows = Seq((1, Seq(1.0, 2.0, 3.0)), (1, Seq(10.0, 20.0, 30.0, 40.0, 50.0)),
      (1, Seq(100.0)))
    for (parts <- Seq(1, 3)) {
      val out = rows.toDF("g", "v").repartition(parts)
        .groupBy("g").agg(graft.functions.VectorAgg.vectorSum(col("v")).as("s"))
        .head().getSeq[Double](1)
      assert(out == Seq(111.0, 22.0, 33.0, 40.0, 50.0),
        s"parts=$parts got $out")
    }
  }

  test("padded tensorize: short trajectories backfilled to T*skip, padded RUL") {
    // reference semantics (turbofan.py:133-138): a 30-step trajectory with
    // T=20, skip=5 is padded to 100 steps by repeating the first scaled
    // observation; windows stride the padded series and RUL counts padded
    // steps as life (y = 100 - 20 - 5j)
    val sfTiny = "/root/testdata/sf0.001"
    val out = operators.Tensorize.tsWindowTensorizePadded(spark, sfTiny)
    val ev = Tables.events(spark, sfTiny)
    val counts = ev.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    val shortUsers = counts.filter(_._2 < 100)
    assert(shortUsers.nonEmpty, "fixture assumption: sf0.001 has short users")
    val rows = out.collect().map { r =>
      (r.getLong(0), r.getLong(r.fieldIndex("widx"))) ->
        (r.getLong(r.fieldIndex("rul")), r.getDouble(r.fieldIndex("z_min")),
         r.getDouble(r.fieldIndex("z_max")))
    }.toMap
    val (su, sn) = shortUsers.head
    // every short user yields exactly 17 windows, widx 0..16
    val wids = rows.keys.filter(_._1 == su).map(_._2).toSet
    assert(wids == (0L to 16L).toSet, s"user $su (n=$sn) windows: $wids")
    // RUL ignores the true length and uses the padded one: 80 - 5j
    (0L to 16L).foreach { j =>
      assert(rows((su, j))._1 == 80L - 5L * j, s"rul at widx $j")
    }
    // a window fully inside the pad is constant -> sd-guard -> all-zero z
    if (sn <= 80) {
      val (_, zmin, zmax) = rows((su, 0L))
      assert(zmin == 0.0 && zmax == 0.0)
    }
    // synthetic long + short mix: the unpadded and the padded trajectory
    // agree with first principles (all gated users are short, so an
    // unpadded trajectory is only exercised here)
    val mix = ((1 to 150).map(i => (1L, i.toLong, i.toLong, i.toDouble)) ++
               (1 to 30).map(i => (2L, i.toLong, i.toLong, i.toDouble)))
      .toDF("user_id", "ts_us", "event_id", "value")
    val got = operators.Tensorize.windowTensorizePadded(
        mix, "user_id", Seq("ts_us", "event_id"), "value",
        t = 20, skip = 5, rulCap = 130)
      .collect().map { r =>
        (r.getLong(0), r.getLong(r.fieldIndex("widx"))) ->
          r.getLong(r.fieldIndex("rul"))
      }.toMap
    // long user: strided windows of the raw series, rul = n - (t + 5j)
    val longW = got.keys.filter(_._1 == 1L).map(_._2).toSet
    assert(longW == (0L to 26L).toSet, s"long-user windows: $longW")
    assert(got((1L, 0L)) == 130L) // min(130, 150-20)
    assert(got((1L, 26L)) == 0L)
    // short user: padded to 100, 17 windows, rul from the padded length
    val shortW = got.keys.filter(_._1 == 2L).map(_._2).toSet
    assert(shortW == (0L to 16L).toSet, s"short-user windows: $shortW")
    assert(got((2L, 0L)) == 80L && got((2L, 16L)) == 0L)
  }

  test("padded tensorize: null-key rows are excluded by contract, rest unchanged") {
    // the non-null-key contract is an explicit filter, not an accident of
    // join semantics: adding null-key rows must change NOTHING about the
    // output (and in particular must not resurrect the old window form's
    // null-partition behavior)
    val clean = (1 to 30).map(i => (2L, i.toLong, i.toLong, i.toDouble))
      .toDF("user_id", "ts_us", "event_id", "value")
    val withNulls = clean.unionByName(
      (1 to 25).map(i => (null.asInstanceOf[java.lang.Long], 1000L + i,
          1000L + i, i.toDouble))
        .toDF("user_id", "ts_us", "event_id", "value"))
    def digest(df: org.apache.spark.sql.DataFrame) =
      operators.Tensorize.windowTensorizePadded(
          df, "user_id", Seq("ts_us", "event_id"), "value",
          t = 20, skip = 5, rulCap = 130)
        .collect().map(r => (r.get(0), r.getLong(1), r.getLong(2))).toSet
    val a = digest(clean)
    val b = digest(withNulls)
    assert(a == b, "null-key rows altered the output")
    assert(!b.exists(_._1 == null), "a null-key window leaked into the output")
  }

  /** The messages of an exception and all its causes, joined. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  private def series(rows: Seq[(java.lang.Long, Long, java.lang.Double, Double)]) =
    rows.toDF("k", "t", "v", "w")

  test("window tensorize: a null feature value fails with a named error") {
    val df = series((1 to 8).map(i => (1L: java.lang.Long, i.toLong,
      (if (i == 5) null else i.toDouble): java.lang.Double, i * 2.0)))
    val single = intercept[Exception] {
      operators.Tensorize.windowTensorize(df, "k", Seq("t"), "v", 4, 2, 100).collect()
    }
    assert(messages(single).contains("[TENSORIZE_NULL_VALUE] feature column `v`"),
      messages(single))
    val multi = intercept[Exception] {
      operators.Tensorize.windowTensorizeMulti(df, "k", Seq("t"), Seq("w", "v"),
        4, 2, 100).collect()
    }
    assert(messages(multi).contains("[TENSORIZE_NULL_VALUE] feature column `v`"),
      messages(multi))
    // padded to T·skip = 12, the 8-point trajectory must fail the same way
    assertPaddedFails(df, "v", "[TENSORIZE_NULL_VALUE] feature column `v`")
  }

  /** `windowTensorizePadded` and `augmentedTestWindows` with T = 4,
    * skip = 3 (a trajectory of under 12 points is padded) fail with `named`. */
  private def assertPaddedFails(df: org.apache.spark.sql.DataFrame,
                                valueCol: String, named: String): Unit = {
    val padded = intercept[Exception] {
      operators.Tensorize.windowTensorizePadded(df, "k", Seq("t"), valueCol,
        4, 3, 100).collect()
    }
    assert(messages(padded).contains(named), messages(padded))
    val augmented = intercept[Exception] {
      operators.Tensorize.augmentedTestWindows(df, Seq((1L, 5L)).toDF("k", "rul_provided"),
        "k", Seq("t"), valueCol, 4, 3, 100).collect()
    }
    assert(messages(augmented).contains(named), messages(augmented))
  }

  test("window tensorize: an all-zero column fails with a named error") {
    val df = series((1 to 8).map(i => (1L: java.lang.Long, i.toLong,
      i.toDouble: java.lang.Double, 0.0)))
    val e = intercept[Exception] {
      operators.Tensorize.windowTensorizeMulti(df, "k", Seq("t"), Seq("v", "w"),
        4, 2, 100).collect()
    }
    assert(messages(e).contains("[TENSORIZE_ZERO_MAX] feature column `w`"), messages(e))
    assertPaddedFails(df, "w", "[TENSORIZE_ZERO_MAX] feature column `w`")
  }

  test("window tensorize: a trajectory shorter than T emits no windows") {
    val df = series((1 to 3).map(i => (1L: java.lang.Long, i.toLong,
        i.toDouble: java.lang.Double, 1.0)) ++
      (1 to 4).map(i => (2L: java.lang.Long, i.toLong, i.toDouble: java.lang.Double, 1.0)))
    val got = operators.Tensorize.windowTensorize(df, "k", Seq("t"), "v", 4, 2, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 0L)))
  }

  test("window tensorize: null keys form their own trajectory") {
    val rows = (1 to 9).map(i => (i.toLong, i.toDouble: java.lang.Double, i * 0.5))
    val keyed = series(rows.map { case (t, v, w) => (7L: java.lang.Long, t, v, w) })
    val nullKeyed = series(rows.map { case (t, v, w) => (null: java.lang.Long, t, v, w) })
    val (nullKey, key7) = operators.Tensorize.windowTensorize(
        keyed.unionByName(nullKeyed), "k", Seq("t"), "v", 4, 2, 100)
      .collect().partition(_.isNullAt(0))
    def digest(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(1), r.getSeq[Double](2), r.getLong(3))).toSet
    assert(nullKey.length == 3 && digest(nullKey) == digest(key7))
  }

  test("window tensorize: a pad length below T is rejected") {
    val df = series((1 to 8).map(i => (1L: java.lang.Long, i.toLong,
      i.toDouble: java.lang.Double, 1.0)))
    val e = intercept[IllegalArgumentException] {
      operators.Tensorize.windowTensorize(df, "k", Seq("t"), "v",
        t = 4, skip = 2, rulCap = 100, padTo = 3)
    }
    assert(e.getMessage.contains("pad length 3 must be 0 (no padding) or at least " +
      "the window length 4"), e.getMessage)
  }

  test("round-7 op guardrails fail loudly on misuse") {
    val docs = (1 to 5).map(i => (i.toLong, "some text here", "en", 14))
      .toDF("doc_id", "text", "lang", "n_chars")
    val emb = Seq((1L, Seq.fill(64)(0.5f))).toDF("vec_id", "embedding")
    // PQ: dim must split evenly into subspaces
    intercept[IllegalArgumentException] {
      operators.Similarity.pqCodebooks(emb, dim = 64, m = 7, ks = 16)
    }
    // PQ: codes are tinyint — ks = 256 (the standard FAISS default) would
    // wrap ids negative and element_at would read the LUT from the END,
    // silently wrong distances; must be a hard error at every entry point.
    // The boundary is ids 0..127, so ks = 128 is VALID and ks = 129 is
    // the first rejected size (an earlier guard wrongly rejected 128)
    intercept[IllegalArgumentException] {
      operators.Similarity.pqCodebooks(emb, dim = 64, m = 8, ks = 256)
    }
    val overBooks = Array.fill(8)(Array.fill(129)(Array.fill(8)(0.0)))
    intercept[IllegalArgumentException] {
      operators.Similarity.pqEncode(emb, dim = 64, codebooks = overBooks)
    }
    intercept[IllegalArgumentException] {
      operators.Similarity.annPq(emb, emb, overBooks, dim = 64, k = 1)
    }
    val maxBooks = Array.fill(8)(Array.tabulate(128)(c =>
      Array.fill(8)(c.toDouble)))
    val codes128 = operators.Similarity.pqEncode(
      emb, dim = 64, codebooks = maxBooks)
    assert(codes128.limit(1).count() == 1) // ks=128 encodes without error
    // PQ LUTs are driver-built per query: an unbounded query batch is a
    // driver OOM, not a working plan — the guard must fire BEFORE more
    // than cap+1 rows reach the driver (limit-probe, r9)
    val manyQ = (1L to 5L).map(i => (i, Seq.fill(64)(i.toFloat)))
      .toDF("vec_id", "embedding")
    val okBooks = Array.fill(8)(Array.fill(16)(Array.fill(8)(0.0)))
    val codesQ = operators.Similarity.pqEncode(manyQ, dim = 64, codebooks = okBooks)
    intercept[IllegalArgumentException] {
      operators.Similarity.annPq(codesQ, manyQ, okBooks, dim = 64, k = 1,
        maxQueryBatch = 4)
    }
    assert(operators.Similarity.annPq(codesQ, manyQ, okBooks, dim = 64,
      k = 1, maxQueryBatch = 5).limit(1).count() == 1)
    // BM25: an empty query is a caller bug, not an empty result
    intercept[IllegalArgumentException] {
      operators.TextOps.bm25TopK(docs, "text", Seq.empty, k = 5)
    }
    // SimHash banding is pigeonhole-complete only to hamming 3
    intercept[IllegalArgumentException] {
      operators.Dedup.simhashPairs(docs, "text", maxHamming = 4)
    }
    // adding problem: position tags live at offsets 100/101
    intercept[IllegalArgumentException] {
      operators.Synthetic.addingProblem(spark, n = 10, t = 101)
    }
    // weighted sampling: all-nonpositive weights select nothing
    val zeroW = (1 to 6).map(i => (i.toLong, "s", 0.0)).toDF("doc_id", "st", "w")
    assert(operators.TextOps.weightedSample(zeroW, "st", "doc_id", "w", 3).count() == 0)
  }

  test("normal_eq rejects empty vectors; fits diagnose empty input") {
    // empty feature vector: silently ignoring it would let an all-empty
    // input eval to null downstream — must be a hard, descriptive error
    val e1 = intercept[Exception] {
      Seq((Seq.empty[Double], 1.0)).toDF("x", "y")
        .agg(graft.functions.NormalEq.normalEq(col("x"), lit(1.0), col("y")))
        .head()
    }
    assert(e1.getMessage.contains("empty feature vector"))
    // zero-row fit: descriptive require, not an NPE
    val e2 = intercept[IllegalArgumentException] {
      graft.ml.LinearModel.fitRidge(
        Seq((Seq(1.0, 2.0), 3.0)).toDF("f", "label").filter(lit(false)),
        "f", "label", lambda = 1e-3)
    }
    assert(e2.getMessage.contains("empty input"))
    val e3 = intercept[IllegalArgumentException] {
      graft.ml.LogisticRegression.fit(
        Seq((Seq(1.0, 2.0), 1.0)).toDF("f", "y").filter(lit(false)), "f", "y")
    }
    assert(e3.getMessage.contains("empty input"))
  }

  test("fitRidge drops a null-label row, bitwise, as it drops a null-feature row") {
    val rows = (1 to 12).map { i =>
      (Seq(i * 0.5, math.sin(i.toDouble)), Option(3.0 * i - 1.0 + math.cos(i.toDouble)))
    }
    // one partition in row order, so the kept rows sum in the same order
    def fit(rs: Seq[(Seq[Double], Option[Double])]) = graft.ml.LinearModel
      .fitRidge(rs.toDF("f", "label").coalesce(1), "f", "label", lambda = 1e-3)
      .map(java.lang.Double.doubleToRawLongBits).toSeq
    val base = fit(rows)
    assert(fit(rows :+ ((Seq(100.0, -50.0), None))) == base,
      "a null-label row changed the fit")
    assert(fit(rows :+ ((null: Seq[Double], Some(7.0)))) == base,
      "a null-feature row changed the fit")
  }

  test("component labels converge on a long chain (pointer jumping)") {
    // a path graph 0-1-2-...-59: min-label needs 59 hops by neighbor
    // propagation alone; pointer jumping must close it within maxIters=20
    val chain = (0 until 59).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_id_a", "doc_id_b")
    val verts = (0 to 59).map(_.toLong).toDF("doc_id")
    val labels = Dedup.componentLabels(verts, chain)
    assert(labels.filter(col("l") =!= 0L).count() == 0,
      "all chain members must resolve to label 0")
  }

  test("shingle hash tokenization matches split semantics on whitespace-edged text") {
    // trailing \t: split("ab cd\t", "\\s+") keeps a trailing empty token,
    // so "ab cd\t" and "ab cd" have DIFFERENT singleton shingles
    val df = Seq(("ab cd\t", "ab cd"), ("x y z", "x y z\n")).toDF("a", "b")
      .select(
        (graft.functions.ShingleHashSet(col("a"), 3) ===
         graft.functions.ShingleHashSet(col("b"), 3)).as("eq"))
    val eqs = df.collect().map(_.getBoolean(0)).toSeq
    assert(eqs == Seq(false, false))
    // and the set SIZE still matches the HOF formulation on such text
    val sizes = Seq("ab cd\t", "\tx", "a b c d\n").toDF("text")
      .select(size(Dedup.ngramSet(col("text"), 3)).as("want"),
        size(graft.functions.ShingleHashSet(col("text"), 3)).as("got"))
    assert(sizes.filter(col("want") =!= col("got")).count() == 0)
  }

  test("gap-fill resample: contiguous hourly grid, gaps carry last value") {
    val out = graft.operators.TimeSeriesQueries.tsGapFill(spark, sf).cache()
    val hourUs = 3600000000L
    // grid contiguity: per user, (max - min)/hour + 1 rows
    val spans = out.groupBy("user_id")
      .agg(count(lit(1)).as("rows"),
        ((max("bucket_us") - min("bucket_us")) / hourUs + 1).as("want"))
      .filter(col("rows") =!= col("want")).count()
    assert(spans == 0, "grid has holes or duplicates")
    assert(out.filter(col("bucket_us") % hourUs =!= 0).count() == 0)
    // generated gap rows exist (irregular data) and are filled
    val gaps = out.filter(col("n") === 0)
    assert(gaps.count() > 0, "expected at least one empty bucket at sf0.001")
    assert(gaps.filter(col("v_avg").isNotNull).count() == 0)
    assert(gaps.filter(col("v_filled").isNull).count() == 0,
      "interior gaps must carry the previous bucket's value")
    out.unpersist()
  }

  test("forward as-of join picks the next right value, exact matches visible") {
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (1L, 300L, 12L))
      .toDF("user_id", "ts_us", "event_id")
    val right = Seq((1L, 200L, 90L, 2.0), (1L, 250L, 91L, 3.0))
      .toDF("user_id", "ts_us", "event_id", "pv")
    val out = TimeSeriesOps.asofJoinForward(left, right, "user_id", "ts_us",
        "pv", tieCols = Seq("event_id"))
      .orderBy("ts_us").select("asof_val").collect().map(r => Option(r.get(0)))
    // ts=100 -> next right 200 (2.0); ts=200 -> exact match visible (2.0);
    // ts=300 -> nothing after -> null
    assert(out.toSeq == Seq(Some(2.0), Some(2.0), None))
    // with tolerance 40µs, ts=100 (gap 100) is out of range
    val tol = TimeSeriesOps.asofJoinForward(left, right, "user_id", "ts_us",
        "pv", tieCols = Seq("event_id"), toleranceUs = Some(40L))
      .orderBy("ts_us").select("asof_val").collect().map(r => Option(r.get(0)))
    assert(tol.toSeq == Seq(None, Some(2.0), None))
    // a NULL-valued right row nearer than the matched value must not
    // satisfy the tolerance on the matched value's behalf
    val rightWithNull = Seq((1L, 110L, 89L, None: Option[Double]),
      (1L, 1000L, 90L, Some(5.0)))
      .toDF("user_id", "ts_us", "event_id", "pv")
    val lone = Seq((1L, 100L, 10L)).toDF("user_id", "ts_us", "event_id")
    val nullTol = TimeSeriesOps.asofJoinForward(lone, rightWithNull, "user_id",
        "ts_us", "pv", tieCols = Seq("event_id"), toleranceUs = Some(50L))
      .select("asof_val").collect().map(r => Option(r.get(0)))
    assert(nullTol.toSeq == Seq(None),
      "null-valued right row's timestamp leaked into the tolerance check")
  }

  test("round-3 text ops survive empty and whitespace-only documents") {
    val docs = Seq((1L, "", "en"), (2L, "   ", "en"), (3L, "one", "en"),
        (4L, "a b c d e f g h i j k", "de"))
      .toDF("doc_id", "text", "lang")
    // repetition: no NaN/negative ratios on degenerate token streams
    val rep = graft.operators.TextOps.repetitionScore(docs, "text")
    assert(rep.filter(col("rep_ratio").isNull || col("rep_ratio") < 0 ||
      col("rep_ratio") > 1).count() == 0)
    // pii redaction: empty text passes through with zero counts
    val pii = graft.operators.TextOps.piiRedact(docs, "text")
    assert(pii.filter(col("doc_id") === 1L)
      .select("n_email", "n_ip", "n_ssn", "n_phone")
      .head.toSeq.map(_.asInstanceOf[Int]).sum == 0)
    // packing: offsets stay dense even with zero-ish token counts
    val packed = graft.operators.TextOps.packChunks(docs, "text", budget = 8)
    assert(packed.filter(col("off") < 0 || col("chunk_off") < 0).count() == 0)
    assert(packed.count() == 4)
    // contamination: a single-doc stratum has only its probe row
    val cont = graft.operators.TextOps.contamination(docs, "text")
    val de = cont.filter(col("lang") === "de").collect()
    assert(de.length == 1 && de.head.getAs[Int]("is_probe") == 1 &&
      de.head.getAs[Int]("contaminated") == 0)
  }

  test("stl decomposition on a single-bucket trajectory: trend = v, resid = 0") {
    val one = Seq((9L, java.sql.Timestamp.valueOf("2024-01-01 05:30:00"), 42.0))
      .toDF("user_id", "ts", "value")
      .withColumn("event_id", lit(1L))
    // single bucket: the ±12 h window sees only itself → trend = v,
    // seasonal = detr = 0, resid = 0
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600000000L
    val d = one.withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("bucket_us", col("ts_us") - pmod(col("ts_us"), lit(hourUs)))
      .groupBy(col("user_id"), col("bucket_us"))
      .agg(sum(round(col("value") * 100).cast("long")).as("sv"), count(lit(1)).as("n"))
      .withColumn("v", col("sv").cast("double") / (lit(100.0) * col("n")))
      .withColumn("trend", sum(col("sv")).over(
          Window.partitionBy(col("user_id")).orderBy(col("bucket_us"))
            .rangeBetween(-12L * hourUs, 12L * hourUs)).cast("double") /
        (lit(100.0) * sum(col("n")).over(
          Window.partitionBy(col("user_id")).orderBy(col("bucket_us"))
            .rangeBetween(-12L * hourUs, 12L * hourUs))))
    val r = d.head
    assert(r.getAs[Double]("v") == 42.0 && r.getAs[Double]("trend") == 42.0)
  }

  test("shingle hashes of empty and sub-n texts collapse to one shingle") {
    val df = Seq("", "one", "one two").toDF("t")
      .select(size(graft.functions.ShingleHashSet(col("t"), 3)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1, 1, 1))
  }
}
