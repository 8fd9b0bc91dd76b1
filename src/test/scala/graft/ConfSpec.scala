package graft

/** The cluster deployment profile (Conf.cluster, r10): the one artifact a
  * real 100-TB rollout asks for — a derivation from (cores, target
  * partition payload) to the session conf block — spec-pinned so the
  * settings actually land in a live session and the guardrails refuse
  * nonsense sizing. */
class ConfSpec extends SparkSpec {

  test("cluster profile settings land in a live session (and restore cleanly)") {
    val profile = Conf.cluster(nCores = 400, targetPartitionBytes = 64L << 20)
    // get() can return Success(null) for keys with no default (e.g.
    // initialPartitionNum falls back to shuffle.partitions) — treat as unset
    val saved = profile.keySet.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      Conf.applyCluster(spark, nCores = 400, targetPartitionBytes = 64L << 20)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "800")
      assert(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "3200")
      assert(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes") == (64L << 20).toString)
      assert(spark.conf.get(
        "spark.sql.files.maxPartitionBytes") == (64L << 20).toString)
      assert(spark.conf.get(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes") ==
        (256L << 20).toString)
      assert(spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold") == (64L << 20).toString)
      // the tuned 1 MB open cost was measured on local disk only
      assert(spark.conf.get("spark.sql.files.openCostInBytes") == "4MB")
      // the tuned base rides along — AQE + skew join + runtime filters
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    } finally {
      // the test session is shared across every suite — put it back
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("the documented read-path recipe composes: clustered+manifested ingest → gated pruned read → skew-profiled agg") {
    // the scaladoc recipe on Conf, executed step for step at test scale —
    // executable documentation, so the recipe cannot rot apart from the
    // components it wires together (step 1, the session profile, is
    // pinned by the test above; shared-session hygiene forbids re-running
    // applyCluster here)
    import org.apache.spark.sql.functions._
    import graft.sources.Manifest
    import graft.operators.Skew
    val tmp = java.nio.file.Files.createTempDirectory("readpath").toString
    val ev = Tables.events(spark, sf)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select("event_id", "user_id", "event_type", "ts_us", "value")
    // step 2: ingest — clustered layout + manifest, one call
    val m = Manifest.writeWithManifest(ev, s"$tmp/t", s"$tmp/m",
      cols = Seq("ts_us"), nFiles = 16, clusterBy = Seq("ts_us"))
    // step 3: pruned read — a 10% time band survives to a few files on
    // the clustered layout, and the read equals the full-scan filter
    val Array(lo, hi) = ev.stat.approxQuantile("ts_us", Array(0.45, 0.55), 0.001)
    val band = Map("ts_us" -> (lo.toLong: Any, hi.toLong: Any))
    assert(Manifest.prune(m, band).length <= 3,
      "planning-time skipping must fire on the clustered ingest")
    val day = Manifest.readPruned(spark, s"$tmp/t", m, band)
    val want = ev.filter(col("ts_us") >= lo.toLong && col("ts_us") <= hi.toLong)
    assert(day.count() == want.count())
    // step 4: diagnose, then aggregate — profile totals must account for
    // every read row, and the salted two-stage agg equals the plain one
    val prof = Skew.keyProfile(day, "event_type").head
    assert(prof.getAs[Long]("n_rows") == want.count())
    assert(prof.getAs[Long]("n_keys") >= 1)
    val salted = Skew.saltedSumCount(day, "event_type", "value")
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val plain = day.groupBy(col("event_type"))
      .agg(sum(col("value")).as("s"), count(col("value")).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == plain.keySet)
    plain.foreach { case (k, (s, n)) =>
      assert(salted(k)._2 == n, s"$k count")
      assert(math.abs(salted(k)._1 - s) < 1e-6 * math.max(1.0, math.abs(s)),
        s"$k sum ${salted(k)._1} vs $s")
    }
  }

  test("cluster profile guardrails refuse nonsense sizing") {
    intercept[IllegalArgumentException](Conf.cluster(0))
    intercept[IllegalArgumentException](Conf.cluster(-8))
    // 1 KB partitions: the job drowns in task overhead
    intercept[IllegalArgumentException](
      Conf.cluster(8, targetPartitionBytes = 1024L))
    // 4 GB partitions: executor OOM/spill territory
    intercept[IllegalArgumentException](
      Conf.cluster(8, targetPartitionBytes = 4L << 30))
    // a negative threshold silently disables broadcasting
    intercept[IllegalArgumentException](
      Conf.cluster(8, broadcastThresholdBytes = -1L))
    // 0 is allowed, explicitly (intentional broadcast opt-out)
    assert(Conf.cluster(8, broadcastThresholdBytes = 0L)
      .apply("spark.sql.autoBroadcastJoinThreshold") == "0")
  }
}
