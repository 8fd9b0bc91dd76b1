package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Pins the loaders' contract:
  *  - building a loader starts no Spark job, and its schema and rows are
  *    those of the schema-inferring reference ([[TablesReference]]);
  *  - the footer pick follows Spark's non-merging inference on a
  *    Spark-written directory, and bad paths or `mergeSchema` fail loudly;
  *  - the reader-schema form of the NTZ→UTC-instant normalization:
  *    values byte-identical to the expression form
  *    ([[Tables.ntzAsUtcInstant]]) it replaced on the loader path, output
  *    type unchanged, and the plan property the swap exists for —
  *    timestamp predicates reaching the parquet scan as pushdown filters
  *    instead of dying on a derived column. */
class TablesSpec extends SparkSpec {

  /** Row count and the order-independent sum of the rows' hashes. */
  private def digest(df: DataFrame): (Long, Option[BigDecimal]) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)))
  }

  test("every loader starts no job; schema and rows == the inferring reference") {
    TablesReference.loaders.foreach { case (name, loader, reference) =>
      val (df, jobs) = JobProbe(spark)(loader(spark, sf))
      assert(jobs.isEmpty, s"$name started ${jobs.size} Spark job(s) while building")
      val (ref, refJobs) = JobProbe(spark)(reference(spark, sf))
      assert(refJobs.nonEmpty, s"$name: the probe missed the reference's inference job")
      assert(df.schema == ref.schema,
        s"$name schema diverges from inference:\n${df.schema.treeString}\n" +
          ref.schema.treeString)
      assert(digest(df) == digest(ref), s"$name rows diverge from the reference")
    }
  }

  test("Spark-written multi-part directory with _SUCCESS: schema == inference") {
    // the GenScale output shape: part files plus _SUCCESS and .crc siblings
    val root = java.nio.file.Files.createTempDirectory("tables_parts")
    val dir = root.resolve("events.parquet").toString
    Tables.load(spark, sf, "events")
      .withColumn("tags", array(col("event_type"), col("props")))
      .repartition(3).write.parquet(dir)
    val listed = new java.io.File(dir).list().toSet
    assert(listed("_SUCCESS") && listed.count(_.startsWith("part-")) == 3 &&
      listed.exists(_.startsWith(".")), s"unexpected write layout: $listed")
    val (df, jobs) = JobProbe(spark)(Tables.load(spark, root.toString, "events"))
    assert(jobs.isEmpty, s"load started ${jobs.size} job(s)")
    val inferred = spark.read.parquet(dir)
    assert(df.schema == inferred.schema)
    assert(digest(df) == digest(inferred))
  }

  test("a missing path or a directory with no data file fails in load, naming it") {
    val missing = java.nio.file.Files.createTempDirectory("tables_missing")
      .resolve("nowhere").toString
    val e1 = intercept[IllegalArgumentException](Tables.load(spark, missing, "lineitem"))
    assert(e1.getMessage.contains(s"$missing/lineitem.parquet"), e1.getMessage)
    val root = java.nio.file.Files.createTempDirectory("tables_empty")
    val empty = root.resolve("orders.parquet")
    java.nio.file.Files.createDirectory(empty)
    java.nio.file.Files.createFile(empty.resolve("_SUCCESS"))
    val e2 = intercept[IllegalArgumentException](Tables.orders(spark, root.toString))
    assert(e2.getMessage.contains(empty.toString), e2.getMessage)
  }

  test("mergeSchema=true fails loudly, naming the conf") {
    val key = "spark.sql.parquet.mergeSchema"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val e = intercept[IllegalArgumentException](Tables.orders(spark, sf))
      assert(e.getMessage.contains(key), e.getMessage)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("loader ts columns: reader-schema form == expression form, byte-exact") {
    for ((table, c) <- Seq(("lineitem", "l_shipdate"), ("orders", "o_orderdate"),
                           ("events", "ts"))) {
      val viaSchema = table match {
        case "lineitem" => Tables.lineitem(spark, sf)
        case "orders"   => Tables.orders(spark, sf)
        case _          => Tables.events(spark, sf)
      }
      assert(viaSchema.schema(c).dataType == TimestampType,
        s"$table.$c must surface as µs TIMESTAMP")
      val viaExpr = Tables.ntzAsUtcInstant(Tables.load(spark, sf, table), c)
      val a = viaSchema.select(col(c)).withColumn("us", unix_micros(col(c)))
      val b = viaExpr.select(col(c)).withColumn("us", unix_micros(col(c)))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$table.$c: reader-schema values diverge from the expression form")
    }
  }

  test("loaders rebalance under-split tiny inputs to session parallelism") {
    // one row group = one scan task no matter the core count; the loader
    // inserts a hash repartition on the table's natural unique key for
    // such tiny inputs so map-side work parallelizes (identity at scale:
    // many row groups clear the partition-count condition)
    val para = spark.sparkContext.defaultParallelism
    assert(Tables.documentsKernel(spark, sf).rdd.getNumPartitions == para,
      "documentsKernel did not rebalance a single-row-group tiny input")
    assert(Tables.customerKernel(spark, sf).rdd.getNumPartitions == para,
      "customerKernel did not rebalance a single-row-group tiny input")
    // the plain loaders stay un-rebalanced (light-map/join-only consumers)
    assert(Tables.documents(spark, sf).rdd.getNumPartitions < para,
      "plain documents loader unexpectedly repartitioned")
    assert(Tables.customer(spark, sf).rdd.getNumPartitions < para,
      "plain customer loader unexpectedly repartitioned")
    // and the rebalance must NOT cost the scan its pushdown (filters push
    // through a Repartition node)
    val plan = Tables.documentsKernel(spark, sf)
      .filter(col("doc_id") > 100L).queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThan(doc_id,100)"),
      s"doc_id pushdown lost through the rebalance:\n${plan.take(1200)}")
  }

  test("ts predicates on loader columns reach the scan as pushed filters") {
    val plan = Tables.orders(spark, sf)
      .filter(col("o_orderdate") < Tables.utcTs("1996-06-01"))
      .queryExecution.executedPlan.toString
    // the pre-r20 projection form pushed only IsNotNull; the reader-schema
    // form must push the comparison itself
    assert(plan.contains("LessThan(o_orderdate"),
      s"o_orderdate comparison not pushed to the scan:\n${plan.take(1500)}")
  }
}
