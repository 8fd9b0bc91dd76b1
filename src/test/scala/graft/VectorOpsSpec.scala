package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.{CosineSimilarity, Dot, DistSq, VectorLengthMismatch, VectorOps}

class VectorOpsSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  private def bits(x: Any): Option[Long] =
    Option(x).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))

  /** `rows` as a frame the optimizer cannot fold on the driver (it
    * evaluates a projection over a local relation interpreted), so the
    * kernels run as generated code. */
  private def frame[T <: Product : scala.reflect.ClassTag : org.apache.spark.sql.Encoder](
      rows: Seq[T]): DataFrame =
    spark.createDataset(spark.sparkContext.parallelize(rows, 2)).toDF("a", "b")

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val before = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally before.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Each kernel against its reference on the (a, b) rows of `df`, as raw
    * bits, plus the interpreted kernels on the same rows. */
  private def assertMatchesReference(df: DataFrame, what: String): Unit = {
    val (a, b) = (col("a"), col("b"))
    val kernels: Seq[(String, Column, Column, (Expression, Expression) => Expression)] = Seq(
      ("dot", VectorOps.dot(a, b), VectorOpsReference.dot(a, b), Dot(_, _)),
      ("cosine", VectorOps.cosine(a, b), VectorOpsReference.cosine(a, b), CosineSimilarity(_, _)))
    val types = df.schema.fields.take(2).map(_.dataType)
    val rows = df.select(Seq(a, b, VectorOps.toDouble(a), VectorOpsReference.toDouble(a)) ++
      kernels.flatMap(k => Seq(k._2, k._3)): _*).collect()
    assert(rows.nonEmpty, what)
    rows.foreach { r =>
      assert(r.getSeq[Any](2).map(bits) == r.getSeq[Any](3).map(bits), s"$what: toDouble")
      val lits = Seq(Literal.create(r.get(0), types(0)), Literal.create(r.get(1), types(1)))
      kernels.zipWithIndex.foreach { case ((name, _, _, expr), k) =>
        val (nat, ref) = (r.get(4 + 2 * k), r.get(5 + 2 * k))
        assert(bits(nat) == bits(ref), s"$what: $name native $nat, reference $ref")
        val interpreted = expr(lits(0), lits(1)).eval()
        assert(bits(interpreted) == bits(nat), s"$what: $name interpreted $interpreted, codegen $nat")
      }
    }
  }

  test("native kernels are bit-identical to the HOF reference") {
    val emb = Tables.embeddings(spark, sf)
    assertMatchesReference(
      emb.select(col("vec_id").as("a_id"), col("embedding").as("a"))
        .crossJoin(emb.select(col("vec_id").as("b_id"), col("embedding").as("b")))
        .filter(col("a_id") < col("b_id") && col("b_id") <= 20)
        .select("a", "b"),
      "float embeddings")
    // the TurboFan row width: 240 window features and the bias
    val rnd = new scala.util.Random(7L)
    def row(scale: Double) = Array.fill(241)(rnd.nextGaussian() * scale)
    assertMatchesReference(
      frame(Seq(1e-3, 1.0, 1e3, 1e8).flatMap(s => Seq.fill(8)((row(s), row(1.0))))),
      "d = 241 doubles")
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    assertMatchesReference(
      frame(Seq((Array(nan, 1.0), Array(1.0, 2.0)), (Array(inf, 1.0), Array(1.0, 2.0)),
        (Array(-inf, 2.0), Array(inf, 1.0)), (Array(1.0, 2.0), Array(nan, nan)),
        (Array(inf, 0.0), Array(0.0, 3.0)))),
      "NaN and ±Inf elements")
    assertMatchesReference(
      frame(Seq((Array(Float.NaN, 1f), Array(Float.PositiveInfinity, -2f)))),
      "NaN and ±Inf float elements")
    // empty arrays fold to 0.0; the reference's 0/0 cosine only gives the
    // kernel's NULL without ANSI mode
    withConf("spark.sql.ansi.enabled", "false") {
      assertMatchesReference(
        frame(Seq((Array.empty[Double], Array.empty[Double]))), "empty doubles")
      assertMatchesReference(
        frame(Seq((Array.empty[Float], Array.empty[Float]))), "empty floats")
    }
  }

  test("edge inputs: a length mismatch raises one named error, a null element gives NULL") {
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    val kernels: Seq[(String, (Column, Column) => Column, (Expression, Expression) => Expression)] =
      Seq(("dot", VectorOps.dot, Dot(_, _)),
        ("cosine_similarity", VectorOps.cosine, CosineSimilarity(_, _)),
        ("dist_sq", VectorOps.distSq, DistSq(_, _)))
    def arr(xs: Any*) = Literal.create(xs, ArrayType(DoubleType, containsNull = true))
    val ragged = Seq(frame(Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)))),
      frame(Seq((Array(1f, 2f), Array(1.0, 2.0, 3.0)))),
      Seq((Array(1.0), Array.empty[Double])).toDF("a", "b"))
    val withNull = frame(Seq((Seq(Some(1.0), None, Some(3.0)), Seq(Some(1.0), Some(2.0), Some(3.0)))))
    kernels.foreach { case (name, f, expr) =>
      // generated code, the local relation folded interpreted, and a
      // GenericArrayData literal
      ragged.foreach { df =>
        val ex = intercept[Exception](df.select(f(col("a"), col("b"))).collect())
        assert(causes(ex).exists(c => c.isInstanceOf[VectorLengthMismatch] &&
          c.getMessage.startsWith(s"$name: vector length mismatch")), s"$name: $ex")
      }
      intercept[VectorLengthMismatch](expr(arr(1.0, 2.0), arr(1.0)).eval())
      // a null element, read as 0.0 from UnsafeArrayData or unboxed into
      // an NPE from GenericArrayData before, is NULL on either side
      val got = withNull.select(f(col("a"), col("b")), f(col("b"), col("a"))).head()
      assert(got.isNullAt(0) && got.isNullAt(1), s"$name: $got")
      assert(expr(arr(1.0, null), arr(1.0, 2.0)).eval() == null, name)
      assert(expr(arr(1.0, 2.0), arr(null, 2.0)).eval() == null, name)
      assert(withNull.select(f(col("a"), lit(null).cast("array<double>"))).head().isNullAt(0), name)
    }
  }

  test("predict, the IRLS fit and predictProb equal the reference path") {
    // the perfbench turbofan pass on the fixture: ridge weights, then one
    // prediction per window
    val tensors = TurbofanFixture.split(spark, TurbofanFixture.writeTrain())
    val w = ml.LinearModel.fitRidge(tensors, "features", "rul", lambda = 1e-3)
    val preds = tensors.select(ml.LinearModel.predict(col("features"), w),
      VectorOpsReference.predict(col("features"), w)).collect()
    assert(preds.length == 15)
    preds.foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), s"predict: $r"))

    val emb = Tables.embeddings(spark, sf).select(
      VectorOps.toDouble(col("embedding")).as("features"),
      (col("label") === 0).cast("double").as("y"))
    val beta = ml.LogisticRegression.fit(emb, "features", "y")
    assert(beta.toSeq.map(bits) == VectorOpsReference.logisticFit(emb, "features", "y").toSeq.map(bits))
    val probs = emb.select(ml.LogisticRegression.predictProb(col("features"), beta),
      VectorOpsReference.predictProb(col("features"), beta)).collect()
    probs.foreach(r => assert(bits(r.get(0)) == bits(r.get(1)), s"predictProb: $r"))
  }

  test("native cosine handles double arrays, zero vectors, SQL registration") {
    val df = frame(Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 2.0, 3.0))))
    val out = df.select(VectorOps.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => Option(r.get(0)))
    assert(math.abs(out(0).get.asInstanceOf[Double] - 1.0) < 1e-12)
    assert(out(1).isEmpty, "zero vector must yield null, not NaN")

    CosineSimilarity.register(spark)
    df.createOrReplaceTempView("vec_pairs")
    val viaSql = spark.sql("SELECT graft_cosine(a, b) AS c FROM vec_pairs")
      .collect().map(r => Option(r.get(0)))
    assert(viaSql(0).get.asInstanceOf[Double] == out(0).get.asInstanceOf[Double])
  }

  test("codegen path is exercised (no fallback) for float arrays") {
    val emb = Tables.embeddings(spark, sf).limit(50)
    val plan = emb.select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
    // evaluation succeeds and self-cosine == 1
    val vals = plan.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("NearestCentroid/NearestCells match the struct-least formulation") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = emb.orderBy("vec_id").limit(7).select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val v = VectorOps.toDouble(col("embedding"))
    // composed reference: lexicographic least over (dist, id) structs
    val candidates = centroids.zipWithIndex.map { case (c, id) =>
      struct(VectorOps.distSq(v, typedLit(c)).as("d"), lit(id.toLong).as("id"))
    }
    val both = emb.select(
      least(candidates: _*).getField("id").as("want"),
      graft.functions.NearestCentroid(v, centroids).as("got"),
      slice(transform(array_sort(array(candidates: _*)), s => s("id")), 1, 3).as("want_cells"),
      graft.functions.NearestCells(v, centroids, 3).as("got_cells"))
    assert(both.filter(col("want") =!= col("got")).count() == 0)
    assert(both.filter(col("want_cells") =!= col("got_cells")).count() == 0)
    // ties: a duplicated centroid must resolve to the lower id
    val dup = centroids(0)
    val tied = emb.limit(5).select(
      graft.functions.NearestCentroid(v, Array(dup, dup, centroids(1))).as("c"))
    assert(tied.collect().forall(_.getLong(0) != 1L))
  }

  test("vector_sum/vector_avg match the posexplode formulation") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .withColumn("g", pmod(col("vec_id"), lit(4)))
    val want = emb
      .select(col("g"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("g"), col("dim")).agg(avg(col("x")).as("m"))
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m")).as("c"))
    val got = emb.groupBy(col("g"))
      .agg(graft.functions.VectorAgg.vectorAvg(col("v")).as("c"))
    // element-wise tolerance: partial-agg order differs from explode order
    val joined = want.withColumnRenamed("c", "w").join(got, "g")
      .withColumn("maxdiff",
        aggregate(zip_with(col("w"), col("c"), (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)))
    val bad = joined.filter(col("maxdiff") > 1e-9).count()
    assert(bad == 0)
    // float input and sum variant sanity
    val s = Tables.embeddings(spark, sf).limit(3)
      .agg(graft.functions.VectorAgg.vectorSum(col("embedding")).as("s"),
           graft.functions.VectorAgg.vectorAvg(col("embedding")).as("m"))
      .select(aggregate(zip_with(col("s"), col("m"), (a, b) => abs(a - b * 3.0)),
        lit(0.0), (acc, x) => greatest(acc, x)))
      .head().getDouble(0)
    assert(s < 1e-9)
  }
}
