package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {
  private val ss = TestSpark.spark
  import ss.implicits._

  /** File streaming sources need a directory: stage the single events
    * parquet file into a temp dir once.
    *
    * LOAD-BEARING for the batch-equivalence tests below: ONE file and no
    * maxFilesPerTrigger means Trigger.AvailableNow processes the whole
    * fixture as a SINGLE micro-batch, so every key's events are sorted
    * together by the per-batch sort inside the stateful operators
    * (lastWindowStream, funnel, sessionize). Splitting the fixture across
    * files could split a key's events across batches in file order, which
    * the operators' documented in-order contract does not cover — add
    * files here and the equivalence assertions stop being guaranteed. */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming windowed agg equals the batch tumbling agg") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    // complete mode: one-shot replay emits every window's final totals
    val q = StreamingOps.windowedAgg(stream).writeStream
      .outputMode("complete").format("memory").queryName("stream_win_c")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_win_c")
      .select("w_start_ms", "event_type", "n", "v")
    val want = operators.Relational.qTumblingAgg(spark, sf)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
    assert(want.exceptAll(got).count() == 0)
  }

  test("readEvents probes ts from one footer: no job; an empty dir fails with the cause attached") {
    val (stream, jobs) = JobProbe(spark)(StreamingOps.readEvents(spark, eventsDir))
    assert(jobs.isEmpty, s"readEvents started ${jobs.size} Spark job(s)")
    assert(stream.isStreaming && stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val empty = java.nio.file.Files.createTempDirectory("events_empty").toString
    val e = intercept[IllegalArgumentException](StreamingOps.readEvents(spark, empty))
    assert(e.getMessage.contains(s"cannot probe the physical ts type of $empty"),
      e.getMessage)
    assert(e.getCause != null && e.getCause.getMessage.contains(empty),
      s"probe failure lost its cause: ${e.getCause}")
  }

  test("streaming sessionization emits the same closed sessions as batch") {
    val batchSessions = operators.TimeSeriesQueries.tsSessionize(spark, sf)
    // replay events as a stream of Ev
    val stream = StreamingOps.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val sessions = StreamingOps.sessionizeStream(stream, gapUs = 1800000000L)
    val q = sessions.writeStream
      .outputMode("append").format("memory").queryName("stream_sess")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_sess")
    // all events arrive in one batch → every session except each user's
    // last (still open in state) must match a batch session exactly
    val gotKeyed = got.select("user_id", "sess_start_us", "sess_end_us", "n_events")
      .as[(Long, Long, Long, Long)].collect().toSet
    val batchKeyed = batchSessions
      .select(col("user_id"), col("sess_start_us"), col("sess_end_us"), col("n_events"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(gotKeyed.nonEmpty, "no sessions emitted")
    assert(gotKeyed.subsetOf(batchKeyed),
      s"streaming emitted sessions not present in batch: ${(gotKeyed -- batchKeyed).take(3)}")
    // and it must have emitted nearly all of them (all but ≤1 open per user)
    val nUsers = batchSessions.select("user_id").distinct.count()
    assert(gotKeyed.size >= batchKeyed.size - nUsers)
  }

  test("streaming ewma equals the batch recurrence on a one-batch replay") {
    val batch = operators.TimeSeriesQueries.tsEwma(spark, sf)
      .select(col("user_id"), col("event_id"), col("ewma"))
    val stream = StreamingOps.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val q = StreamingOps.ewmaStream(stream, alpha = 0.1).toDF()
      .writeStream.outputMode("append").format("memory").queryName("stream_ewma")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_ewma")
      .select(col("user_id"), col("event_id"), round(col("ewma"), 6).as("ewma_s"))
    val joined = batch.join(got, Seq("user_id", "event_id"))
    assert(joined.count() == batch.count(), "row sets differ")
    // identical fold expression + one-batch replay → exactly equal after
    // the same round-6 the batch query applies
    assert(joined.filter(col("ewma") =!= col("ewma_s")).count() == 0)
  }

  test("streaming funnel reaches the same per-user stage as the batch funnel") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
      .as[StreamingOps.FunnelEv]
    val q = StreamingOps.funnelStream(stream).writeStream
      .outputMode("update").format("memory").queryName("stream_funnel")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_funnel")
      .select("user_id", "stage").as[(Long, Int)].collect().toMap
    // batch per-user stages via the same chained-window construction
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1", min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" && col("us") > col("t1"), col("us"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" && col("us") > col("t2"), col("us"))).over(w))
      .groupBy("user_id")
      .agg(max(when(col("t3").isNotNull, 3)
        .when(col("t2").isNotNull, 2)
        .when(col("t1").isNotNull, 1).otherwise(0)).as("stage"))
      .as[(Long, Int)].collect().toMap
    assert(got.nonEmpty && got == batch,
      s"stage mismatch for users: ${(got.toSet diff batch.toSet).take(5)}")
  }

  test("stream-stream join matches the batch interval join") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val joined = StreamingOps.purchaseClickJoin(stream)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_interval_join")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ss_interval_join")
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    val want = p.join(c, col("user_id") === col("c_user_id") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 3600 SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("user_id"), unix_millis(col("p_ts")).as("p_ts_ms"),
        unix_millis(col("c_ts")).as("c_ts_ms"), col("p_value"), col("c_value"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
  }

  test("streaming last-window features equal the batch inference windows at stream end") {
    // bit-for-bit equivalence with the batch inferenceWindow relies on the
    // single-file fixture above replaying as ONE micro-batch (see
    // eventsDir): within a batch the handler sorts each key's events, so
    // the stream fold visits them in exactly the batch sort order
    val stream = StreamingOps.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("value"))
      .as[StreamingOps.Ev]
    val q = StreamingOps.lastWindowStream(stream, t = 64).toDF()
      .writeStream.outputMode("append").format("memory").queryName("stream_lastwin")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // one emission per event; each user's LAST emission is the window the
    // batch inference path builds over the whole trajectory
    val got = spark.table("stream_lastwin")
      .groupBy(col("user_id"))
      .agg(max_by(col("window"), col("n_seen")).as("window"),
           max(col("n_seen")).as("n_seen"))
    val ev = Tables.events(spark, sf).withColumn("ts_us", unix_micros(col("ts")))
    val want = operators.Tensorize.inferenceWindow(ev, "user_id", "ts_us", "value", t = 64)
    assert(got.count() == want.count(), "per-user row counts differ")
    val joined = want.join(got, Seq("user_id"))
    assert(joined.count() == want.count())
    assert(joined.filter(col("n_seen") =!= col("orig_len")).count() == 0,
      "event counts diverge from trajectory lengths")
    assert(joined.filter(col("seq") =!= col("window")).count() == 0,
      "streaming end-state windows differ from batch inference windows")
  }

  test("streaming debounce dedup equals the batch window dedup on one-batch replay") {
    // single-file fixture ⇒ one micro-batch ⇒ the per-key sort covers the
    // whole stream (see eventsDir) — the condition under which the
    // debounce machine reproduces the batch lag() formulation exactly
    val stream = StreamingOps.readEvents(spark, eventsDir)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
      .as[StreamingOps.DebEv]
    val q = StreamingOps.debounceStream(stream).toDF()
      .writeStream.outputMode("append").format("memory").queryName("stream_deb")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_deb")
      .select("user_id", "event_type", "event_id", "us")
    val want = operators.Relational.qWindowDedup(spark, sf)
    assert(got.count() == want.count(), "row counts differ from batch dedup")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming debounce diverges from batch q_window_dedup")
  }

  test("streaming dedup: watermarked dropDuplicates removes replayed events") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    // duplicate the stream against itself (union) → every event twice
    val doubled = stream.unionByName(stream)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")
    val q = doubled.writeStream
      .outputMode("append").format("memory").queryName("stream_dedup")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("stream_dedup").count()
    val want = Tables.events(spark, sf).count()
    assert(got == want, s"expected $want unique events, got $got")
  }

  test("multimodal frame sampling: bounded frames, stable hashes, thumb contract") {
    import graft.operators.Multimodal
    val media = Multimodal.mediaTable(Tables.documents(spark, sf))
    val frames = Multimodal.frameSample(media, stride = 256, maxFrames = 8,
      thumbDim = 16).cache()
    assert(frames.count() > 0)
    // only video rows, <= maxFrames frames each, thumb always 16-dim
    val perDoc = frames.groupBy("doc_id").count()
    assert(perDoc.filter(col("count") > 8).count() == 0)
    assert(frames.filter(size(col("thumb")) =!= 16).count() == 0)
    // deterministic across recomputation
    val again = Multimodal.frameSample(media, stride = 256, maxFrames = 8,
      thumbDim = 16).select("doc_id", "frame_idx", "frame_hash")
    assert(again.exceptAll(frames.select("doc_id", "frame_idx", "frame_hash"))
      .count() == 0)
    frames.unpersist()
  }

  test("multimodal feature extraction: deterministic stub features, schema contract") {
    val feats = operators.Multimodal.mmBinaryFeatures(spark, sf)
    assert(feats.columns.toSeq ==
      Seq("doc_id", "modality", "n_bytes", "mean_byte", "byte_entropy", "n_frames"))
    val n = Tables.documents(spark, sf).count()
    assert(feats.count() == n)
    assert(feats.filter(col("modality").isin("image", "audio", "video")).count() == n)
    assert(feats.filter(col("byte_entropy") <= 0 || col("byte_entropy") > 8).count() == 0)
    // determinism
    val a = feats.orderBy("doc_id").collect().map(_.toString)
    val b = operators.Multimodal.mmBinaryFeatures(spark, sf)
      .orderBy("doc_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("real-codec image decode: javax.imageio PNG map-side, corrupt payloads flagged not fatal") {
    // a 2x2 PNG with known primaries — the REAL decode path (r10), same
    // plumbing contract as the stub: binary in, fixed-dim features out,
    // payload never in the output, bad rows classified not thrown
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xFF0000); img.setRGB(1, 0, 0x00FF00)
    img.setRGB(0, 1, 0x0000FF); img.setRGB(1, 1, 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", baos)
    val png = baos.toByteArray
    val media = Seq(
      (1L, "image", png),
      (2L, "image", "definitely not a png".getBytes("UTF-8")),
      (3L, "video", png)).toDF("doc_id", "modality", "payload")
    val got = operators.Multimodal.imageFeaturesReal(media, thumbDim = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getInt(2), r.getInt(3),
          r.getAs[scala.collection.Seq[Double]]("thumb")))).toMap
    assert(got.keySet == Set(1L, 2L)) // video row filtered, not decoded
    val (ok, w, h, thumb) = got(1L)
    assert(ok && w == 2 && h == 2)
    // thumbDim=4 over 4 pixels -> identity grid, row-major: R G B W lumas
    def luma(r: Int, g: Int, b: Int) = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
    val want = Seq(luma(255, 0, 0), luma(0, 255, 0), luma(0, 0, 255),
      luma(255, 255, 255))
    thumb.zip(want).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"thumb $thumb != $want") }
    val (bad, bw, bh, badThumb) = got(2L)
    assert(!bad && bw == -1 && bh == -1 && badThumb.isEmpty)
  }

  test("real-codec audio decode: javax.sound WAV map-side, sine with known RMS/peak/envelope") {
    // a generated 16-bit PCM mono WAV of a pure sine — the REAL audio
    // decode path (r10), same contract as the image path: binary in,
    // fixed-dim features out, corrupt rows classified not thrown. A sine
    // of amplitude A has RMS A/sqrt(2), peak ~A, mean |x| = 2A/pi — three
    // independent checks that genuine samples came out of the codec.
    val rate = 8000f
    val amp = 0.5
    val n = 8000
    val pcm = new Array[Byte](2 * n)
    for (i <- 0 until n) {
      val v = math.round(amp * math.sin(2 * math.Pi * 440.0 * i / rate)
        * 32767.0).toShort
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    val wav = baos.toByteArray
    val media = Seq(
      (1L, "audio", wav),
      (2L, "audio", "definitely not audio".getBytes("UTF-8")),
      (3L, "image", wav)).toDF("doc_id", "modality", "payload")
    val got = operators.Multimodal.audioFeaturesReal(media, envDim = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getDouble(2), r.getInt(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6),
          r.getAs[scala.collection.Seq[Double]]("envelope")))).toMap
    assert(got.keySet == Set(1L, 2L)) // image row filtered, not decoded
    val (ok, sr, ch, len, rms, peak, env) = got(1L)
    assert(ok && sr == rate.toDouble && ch == 1 && len == n.toLong)
    assert(math.abs(rms - amp / math.sqrt(2)) < 0.01, s"rms $rms")
    assert(math.abs(peak - amp) < 0.01, s"peak $peak")
    assert(env.length == 8)
    env.foreach(e => assert(math.abs(e - 2 * amp / math.Pi) < 0.01,
      s"envelope $env not flat at 2A/pi"))
    val (bad, bsr, bch, blen, _, _, benv) = got(2L)
    assert(!bad && bsr == -1.0 && bch == -1 && blen == -1L && benv.isEmpty)
  }

  test("streaming heavy hitters equals batch counts in the exact regime") {
    // k >= distinct event types -> Misra-Gries degenerates to exact
    // counting, so stream == batch bit-for-bit regardless of order
    val k = 16
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.heavyHittersStream(stream, k).writeStream
      .outputMode("complete").format("memory").queryName("stream_hh")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def toMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(explode(col("top")).as("t"))
        .select(col("t.item"), col("t.est_count"))
        .as[(String, Long)].collect().toMap
    val got = toMap(spark.table("stream_hh"))
    val want = toMap(Tables.events(spark, sf).groupBy()
      .agg(functions.HeavyHitters.heavyHitters(col("event_type"), k).as("top")))
    assert(got == want, s"stream $got != batch $want")
    assert(got.nonEmpty)
  }

  test("streaming heavy hitters merges state across micro-batches") {
    // fixture split into two files + maxFilesPerTrigger=1 forces TWO
    // micro-batches: the second trigger must merge its partial into the
    // state-store buffer from the first. In the exact regime (k >=
    // distinct items) the merged counts still equal batch, so a state
    // round-trip or merge regression is a hard equality failure.
    val d = java.nio.file.Files.createTempDirectory("events_stream_2b")
    val ev = Tables.events(spark, sf)
    val half = ev.count() / 2
    ev.filter(col("event_id") % 2 === 0)
      .write.parquet(d.resolve("a").toString)
    ev.filter(col("event_id") % 2 =!= 0)
      .write.parquet(d.resolve("b").toString)
    val files = java.nio.file.Files.walk(d).iterator()
    val flat = java.nio.file.Files.createTempDirectory("events_stream_2bf")
    var i = 0
    files.forEachRemaining { p =>
      if (p.toString.endsWith(".parquet") &&
          !java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.copy(p, flat.resolve(s"part$i.parquet")); i += 1
      }
    }
    assert(i >= 2, s"fixture staging produced $i files; need >= 2")
    val k = 16
    // the split files hold µs timestamps already (written from
    // Tables.events), so read them plainly rather than via readEvents'
    // ns-normalizing schema
    val stream = spark.readStream
      .schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat.toString)
    val q = StreamingOps.heavyHittersStream(stream, k).writeStream
      .outputMode("complete").format("memory").queryName("stream_hh_2b")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    def toMap(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.select(explode(col("top")).as("t"))
        .select(col("t.item"), col("t.est_count"))
        .as[(String, Long)].collect().toMap
    val got = toMap(spark.table("stream_hh_2b"))
    val want = toMap(ev.groupBy()
      .agg(functions.HeavyHitters.heavyHitters(col("event_type"), k).as("top")))
    assert(got == want, s"stream $got != batch $want")
    assert(half > 0)
  }

  test("windowed agg drops watermark-late rows (out-of-order three-batch replay)") {
    // The append-mode late-data contract (see windowedAgg scaladoc):
    // eviction happens at the END of the first batch whose watermark has
    // passed the window, so a row must arrive in a LATER batch than its
    // window's finalization to observe the drop.
    //  batch 1 (file a): three events in the 10:00 window + a
    //    clock-advancer at 20:30 → watermark after the batch = 18:30.
    //  batch 2 (file b): an on-time 20:45 event; during this batch the
    //    18:30 watermark finalizes + emits the 10:00 windows.
    //  batch 3 (file c): a LATE 10:15 click — its window is gone; the
    //    row must be dropped (numRowsDroppedByWatermark) and the
    //    finalized click window must stay (n=2, v=3.0), with no second
    //    emission and the late value appearing nowhere.
    val minUs = 60L * 1000000L
    def ev(us: Long, typ: String, v: Double) = (us, typ, v)
    val fileA = Seq(
      ev(601 * minUs, "click", 1.0), // 10:01
      ev(602 * minUs, "click", 2.0), // 10:02
      ev(603 * minUs, "view", 4.0), // 10:03
      ev(1230 * minUs, "click", 8.0)) // 20:30 advancer
    val fileB = Seq(ev(1245 * minUs, "view", 32.0)) // 20:45 on-time
    val fileC = Seq(ev(615 * minUs, "click", 16.0)) // LATE: 10:15 << wm 18:45
    val d = java.nio.file.Files.createTempDirectory("events_late")
    def stage(rows: Seq[(Long, String, Double)], name: String, mt: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"late_$name")
      rows.toDF("ts_us", "event_type", "value")
        .select(timestamp_micros(col("ts_us")).as("ts"), col("event_type"),
          col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.walk(tmp).iterator()
      var staged = false
      part.forEachRemaining { p =>
        if (p.toString.endsWith(".parquet") &&
            !java.nio.file.Files.isDirectory(p) && !staged) {
          val dst = d.resolve(s"$name.parquet")
          java.nio.file.Files.copy(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mt))
          staged = true
        }
      }
      assert(staged, s"no parquet part staged for $name")
    }
    // file mod-times force the source order a → b → c (FileStreamSource
    // orders by timestamp)
    stage(fileA, "a", 1000000L)
    stage(fileB, "b", 2000000L)
    stage(fileC, "c", 3000000L)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
    val q = StreamingOps.windowedAgg(stream).writeStream
      .outputMode("append").format("memory").queryName("stream_win_late")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3,
      s"expected >= 3 micro-batches, got ${q.recentProgress.length}")
    // the drop must be OBSERVABLE in the metrics, not just inferred
    assert(q.recentProgress.map(
        _.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum >= 1,
      "no batch reported a watermark-dropped row")
    val rows = spark.table("stream_win_late")
      .select("w_start_ms", "event_type", "n", "v")
      .as[(Long, String, Long, Double)].collect().toSeq
    val tenClick = rows.filter(r =>
      r._1 == 10 * 3600000L && r._2 == "click")
    // exactly ONE emission of the finalized window, and the late 10:15
    // click (value 16) is not in it: n=2, v=3.0 from file a only
    assert(tenClick == Seq((10 * 3600000L, "click", 2L, 3.0)),
      s"late row leaked into the finalized window: $rows")
    assert(!rows.exists(_._4 == 16.0), s"late row emitted somewhere: $rows")
  }

  test("sessionize absorbs cross-batch late events without regressing session end") {
    // Batch 1 (user 7): events at t=0 s and t=10 s (one session, gap 60 s),
    // then t=1000 s — closes session 1 [0,10]×2 and opens session 2.
    // Batch 2: a LATE event at t=500 s (older than the open session's
    // last=1000 s) plus t=5000 s which closes session 2. Contract pinned:
    // the late event is ABSORBED into the open session (n grows), the
    // session end does NOT regress below already-observed event time, and
    // the closed session 1 emitted in batch 1 is untouched.
    val sec = 1000000L
    val b1 = Seq(
      StreamingOps.Ev(1L, 0L, 7L, 1.0),
      StreamingOps.Ev(2L, 10L * sec, 7L, 2.0),
      StreamingOps.Ev(3L, 1000L * sec, 7L, 4.0))
    val b2 = Seq(
      StreamingOps.Ev(4L, 500L * sec, 7L, 8.0), // late vs last=1000 s
      StreamingOps.Ev(5L, 5000L * sec, 7L, 16.0))
    val d = java.nio.file.Files.createTempDirectory("sess_late")
    def stage(rows: Seq[StreamingOps.Ev], name: String, mt: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(s"sess_$name")
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val it = java.nio.file.Files.walk(tmp).iterator()
      var staged = false
      it.forEachRemaining { p =>
        if (p.toString.endsWith(".parquet") &&
            !java.nio.file.Files.isDirectory(p) && !staged) {
          val dst = d.resolve(s"$name.parquet")
          java.nio.file.Files.copy(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mt))
          staged = true
        }
      }
      assert(staged)
    }
    stage(b1, "a", 1000000L)
    stage(b2, "b", 2000000L)
    val stream = spark.readStream.schema(b1.toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(d.toString)
      .as[StreamingOps.Ev]
    val q = StreamingOps.sessionizeStream(stream, gapUs = 60L * sec)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_late_q").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2)
    val got = spark.table("sess_late_q")
      .select("sess_start_us", "sess_end_us", "n_events", "v_sum")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = Set(
      (0L, 10L * sec, 2L, 3.0), // batch-1 closed session, untouched
      // open session at [1000 s] absorbed the late 500 s event: n=2,
      // v=4+8, end stays 1000 s (no regression to 500 s)
      (1000L * sec, 1000L * sec, 2L, 12.0))
    assert(got == want, s"late-session contract broke: $got")
  }

  test("streaming count-min sketch merges across micro-batches == batch bytes") {
    // the CMS aggregate in a streaming aggregation, like heavy hitters:
    // agg buffer = state-store entry, element-wise-sum merge = state
    // update. Two forced micro-batches over the split fixture must yield
    // the exact whole-table sketch bytes (sum is order-free), proving
    // the buffer round-trips the state store and merges, not replaces.
    val ev = Tables.events(spark, sf)
    val d = java.nio.file.Files.createTempDirectory("cms_stream_2b")
    ev.filter(col("event_id") % 2 === 0).coalesce(1)
      .write.parquet(d.resolve("a").toString)
    ev.filter(col("event_id") % 2 =!= 0).coalesce(1)
      .write.parquet(d.resolve("b").toString)
    val flat = java.nio.file.Files.createTempDirectory("cms_stream_2bf")
    var i = 0
    for (sub <- Seq("a", "b")) {
      java.nio.file.Files.list(d.resolve(sub)).iterator().forEachRemaining { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, flat.resolve(s"b$i.parquet")); i += 1
        }
      }
    }
    assert(i == 2)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(flat.toString)
    val q = stream.groupBy()
      .agg(functions.Cms.sketch(col("event_type")).as("sk"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val got = spark.table("cms_stream").head.getAs[Array[Byte]]("sk")
    val want = ev.agg(functions.Cms.sketch(col("event_type")).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(got, want),
      "streaming sketch bytes != batch sketch bytes")
  }

  test("bloom-dedup stream equals exact keep-first dedup on one-batch replay") {
    // 1024 words/shard for <= 500 docs -> fpp ~1e-5 per probe; false
    // positives are hash-deterministic, so this equality is stable, not
    // flaky. Docs carry xxhash64(text) and shard = pmod(h, 8).
    val docsDir = java.nio.file.Files.createTempDirectory("bloom_dedup_1b")
    val prepared = Tables.documents(spark, sf)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(8)).cast("int"))
      .select("doc_id", "shard", "h")
    prepared.write.parquet(docsDir.resolve("d").toString)
    val stream = spark.readStream.schema(prepared.schema)
      .parquet(docsDir.resolve("d").toString)
      .as[StreamingOps.BloomDoc]
    val q = StreamingOps.bloomDedupStream(stream).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_dedup_1b")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("bloom_dedup_1b").select("doc_id")
      .as[Long].collect().toSet
    val want = prepared.groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want,
      s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("bloom-dedup stream drops re-arrivals across micro-batches") {
    // batch 1 = the corpus; batch 2 = the SAME texts under new doc_ids
    // (re-arrival). Everything in batch 2 must hit the batch-1 filter
    // state and be dropped — zero batch-2 emissions proves the Bloom
    // words survive the state-store round-trip between triggers.
    val d = java.nio.file.Files.createTempDirectory("bloom_dedup_2b")
    val prepared = Tables.documents(spark, sf)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(8)).cast("int"))
      .select("doc_id", "shard", "h")
    val nDocs = prepared.count()
    prepared.coalesce(1).write.parquet(d.resolve("t1").toString)
    prepared.withColumn("doc_id", col("doc_id") + 1000000L)
      .coalesce(1).write.parquet(d.resolve("t2").toString)
    val flat = java.nio.file.Files.createTempDirectory("bloom_dedup_2bf")
    // file names order the batches: batch 1 before re-arrivals
    var i = 0
    for (sub <- Seq("t1", "t2")) {
      java.nio.file.Files.list(d.resolve(sub)).iterator().forEachRemaining { p =>
        if (p.toString.endsWith(".parquet")) {
          java.nio.file.Files.copy(p, flat.resolve(s"b$i.parquet")); i += 1
        }
      }
    }
    assert(i == 2, s"expected 2 staged files, got $i")
    val stream = spark.readStream.schema(prepared.schema)
      .option("maxFilesPerTrigger", 1).parquet(flat.toString)
      .as[StreamingOps.BloomDoc]
    val q = StreamingOps.bloomDedupStream(stream).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("bloom_dedup_2b")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val emitted = spark.table("bloom_dedup_2b").select("doc_id")
      .as[Long].collect()
    assert(emitted.forall(_ < 1000000L),
      s"re-arrivals leaked past the filter: ${emitted.filter(_ >= 1000000L).take(5).toSeq}")
    assert(emitted.nonEmpty && nDocs > 0)
  }

  test("bloom-dedup stream refuses to resume a checkpoint with changed sizing") {
    // the state header guard: re-running against the SAME checkpoint with
    // different nHashes must fail loudly (silently probing old-size
    // state with new bit patterns would change dedup behavior)
    val data = java.nio.file.Files.createTempDirectory("bloom_ckpt_data")
    val ckpt = java.nio.file.Files.createTempDirectory("bloom_ckpt_loc")
    val prepared = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), xxhash64(col("text")).as("h"))
      .withColumn("shard", pmod(col("h"), lit(4)).cast("int"))
      .select("doc_id", "shard", "h")
    prepared.coalesce(1).write.parquet(data.resolve("t1").toString)
    // a file sink (unlike memory) supports checkpoint recovery
    val sink = java.nio.file.Files.createTempDirectory("bloom_ckpt_sink")
    def run(nHashes: Int): Unit = {
      val stream = spark.readStream.schema(prepared.schema)
        .parquet(data.resolve("t1").toString).as[StreamingOps.BloomDoc]
      val q = StreamingOps.bloomDedupStream(stream, nHashes = nHashes).toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run(nHashes = 3)
    // second run, same checkpoint, same params: resumes cleanly (no new
    // data → no-op) — the guard must not false-positive
    run(nHashes = 3)
    // add new data so the resumed query actually processes a batch
    prepared.withColumn("doc_id", col("doc_id") + 500000L)
      .coalesce(1).write.mode("append").parquet(data.resolve("t1").toString)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(nHashes = 5)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("bloomDedupStream")),
      s"expected the sizing IllegalStateException, got: $ex")
  }

  test("the composed curation gate (ppl + compression ratio + BPE budget) streams == batch, bit-for-bit") {
    // every stage of the gate is a map-side native expression over a
    // broadcast-shipped model — LmScoreDoc, CompressRatio, BpeEncode —
    // so the whole composition is a stateless projection+filter and a
    // two-micro-batch replay must reproduce the batch rows EXACTLY
    // (same kernels, same rows, no state to merge). This is the
    // streaming-safety pin for the curation-gate family: had any stage
    // smuggled in an aggregation or join, append mode would refuse or
    // the rows would drift.
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val lm = ml.NgramLm.fit(docs, "text",
      maxUnigrams = 512, maxBigrams = 1024, maxTrigrams = 1024)
    val (bpe, _) = ml.Bpe.fit(docs, "text", numMerges = 64)
    // thresholds from the batch distribution so the gate is selective
    // but non-trivial on this corpus
    val scoredB = ml.NgramLm.scoreMapSide(docs, "text", lm)
    val pplCut = scoredB.stat.approxQuantile("lm_ppl", Array(0.7), 0.0).head
    // the gate under test is the LIBRARY composition — TextOps.curationGate
    // — not an ad-hoc spec-local pipeline, so this spec pins the exact
    // function users run
    def gate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      operators.TextOps.curationGate(df, "text", lm, maxPpl = pplCut,
          bpe = bpe, minTokens = 3, minCompressRatio = 0.1)
        .filter(col("gate_reason").isNull)
        .select("doc_id", "lm_tokens", "lm_avg_logprob", "compress_ratio",
          "bpe_n_tokens")
    val want = gate(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(want.nonEmpty && want.size < docs.count(),
      s"gate must be selective but non-trivial, kept ${want.size}")

    val dir = stageBatches("curation_gate", Seq(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = gate(stream).writeStream
      .outputMode("append").format("memory").queryName("curation_gate_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2, "fixture must replay as 2+ micro-batches")
    val got = spark.table("curation_gate_q").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  /** Stage pre-built micro-batches as single parquet files with
    * increasing mod-times, so maxFilesPerTrigger=1 + AvailableNow replays
    * them in order — the shared fixture shape of the late-data specs. */
  private def stageBatches(prefix: String,
      batches: Seq[org.apache.spark.sql.DataFrame]): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    batches.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"${prefix}_$i")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      var staged = false
      java.nio.file.Files.walk(tmp).iterator().forEachRemaining { p =>
        if (p.toString.endsWith(".parquet") &&
            !java.nio.file.Files.isDirectory(p) && !staged) {
          val dst = d.resolve(f"b$i%02d.parquet")
          java.nio.file.Files.copy(p, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000L * (i + 1)))
          staged = true
        }
      }
      assert(staged, s"no parquet part staged for batch $i")
    }
    d.toString
  }

  test("streaming t-digest merges state across micro-batches within the batch rank-error bound") {
    // the t-digest aggregate as a streaming aggregation, like heavy
    // hitters / CMS: digest buffer = state-store entry, merge = state
    // update. Byte equality with batch is IMPOSSIBLE by design (compaction
    // is insertion-order-dependent and micro-batching changes insertion
    // order), so the contract pinned here is the one the batch TDigestSpec
    // pins: rank error vs exact sorted values <= 1% tails / 3% mid-range.
    val ev = Tables.events(spark, sf)
    val dir = stageBatches("td_stream", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.tdigestStream(stream).writeStream
      .outputMode("complete").format("memory").queryName("td_stream_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val digest = spark.table("td_stream_q").head.getAs[Array[Byte]]("td")
    val sorted = ev.select("value").as[Double].collect().sorted
    def rankOf(v: Double): Double = {
      val i = java.util.Arrays.binarySearch(sorted, v)
      (if (i >= 0) i else -(i + 1)).toDouble / sorted.length
    }
    for (p <- Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = functions.TdUtil.quantileBytes(digest, p)
      val bound = if (p <= 0.05 || p >= 0.95) 0.01 else 0.03
      val err = math.abs(rankOf(est) - p)
      assert(err <= bound,
        f"stream digest q=$p: rank error $err%.4f > $bound (est=$est%.3f)")
    }
  }

  test("ewma stream folds a cross-batch late event as the next step, state advances") {
    // Late-data contract: the recurrence is an ARRIVAL-ORDER fold (each
    // batch sorted, then folded into the running state) — a late event
    // does not rewrite history (emitted values are immutable), it folds
    // from the current state like any next observation.
    val sec = 1000000L
    val alpha = 0.3
    val dir = stageBatches("ewma_late", Seq(
      Seq(StreamingOps.Ev(1L, 1L * sec, 7L, 1.0),
          StreamingOps.Ev(2L, 2L * sec, 7L, 2.0)).toDF(),
      Seq(StreamingOps.Ev(3L, 1L * sec + sec / 2, 7L, 10.0)).toDF())) // late vs t=2 s
    val stream = spark.readStream
      .schema(Seq(StreamingOps.Ev(1L, 1L, 1L, 1.0)).toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.Ev]
    val q = StreamingOps.ewmaStream(stream, alpha).writeStream
      .outputMode("append").format("memory").queryName("ewma_late_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2)
    val got = spark.table("ewma_late_q")
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    val s1 = 1.0                                  // init = first value
    val s2 = s1 * (1.0 - alpha) + 2.0 * alpha     // in-order batch 1
    val s3 = s2 * (1.0 - alpha) + 10.0 * alpha    // late event: NEXT step
    assert(got == Map(1L -> s1, 2L -> s2, 3L -> s3),
      s"late-fold contract broke: $got")
  }

  test("funnel stream: a stage arriving before its prerequisite is not revisited (forward-only)") {
    // batch 1: click with NO view yet -> ignored, stage 0. batch 2: the
    // late view -> stage 1 (the earlier click is NOT replayed — the
    // machine only moves forward). batch 3: a fresh click -> stage 2.
    val sec = 1000000L
    def ev(id: Long, t: Long, typ: String) =
      StreamingOps.FunnelEv(id, t * sec, 7L, typ)
    val dir = stageBatches("funnel_late", Seq(
      Seq(ev(1, 200, "click")).toDF(),
      Seq(ev(2, 100, "view")).toDF(),
      Seq(ev(3, 300, "click")).toDF()))
    val stream = spark.readStream
      .schema(Seq(ev(1, 1, "view")).toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.FunnelEv]
    val q = StreamingOps.funnelStream(stream).writeStream
      .outputMode("update").format("memory").queryName("funnel_late_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3)
    val stages = spark.table("funnel_late_q")
      .select("stage").as[Int].collect().toSeq.sorted
    // one emission per trigger: 0 (click ignored), 1 (view lands, click
    // NOT revisited — a replaying machine would emit 2 here and never 1),
    // 2 (fresh click advances)
    assert(stages == Seq(0, 1, 2), s"forward-only contract broke: $stages")
    // and the click that finally advanced the funnel is the FRESH one
    val fin = spark.table("funnel_late_q").filter(col("stage") === 2)
      .select("t2_us").as[Long].head()
    assert(fin == 300L * sec, s"t2 should be the fresh click, got $fin")
  }

  test("debounce stream: a late duplicate is suppressed and cannot rewind the horizon") {
    val sec = 1000000L
    def ev(id: Long, t: Long) =
      StreamingOps.DebEv(id, t * sec, 7L, "click")
    // gap 600 s. batch 1: t=0 (first -> emitted), t=700 (gap 700 > 600 ->
    // emitted). batch 2: LATE t=650 — within gap of the 700 horizon ->
    // suppressed. batch 3: t=1290 — 590 s after the horizon -> suppressed.
    // Under the rewind bug (horizon overwritten to 650) t=1290 would be
    // 640 s clear and wrongly emitted — this event is the discriminator.
    val dir = stageBatches("deb_late", Seq(
      Seq(ev(1, 0), ev(2, 700)).toDF(),
      Seq(ev(3, 650)).toDF(),
      Seq(ev(4, 1290)).toDF()))
    val stream = spark.readStream
      .schema(Seq(ev(1, 1)).toDF().schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.DebEv]
    val q = StreamingOps.debounceStream(stream, gapUs = 600L * sec).writeStream
      .outputMode("append").format("memory").queryName("deb_late_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 3)
    val got = spark.table("deb_late_q")
      .select("event_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L),
      s"late-duplicate contract broke (horizon rewound?): $got")
  }

  test("kmeans: deterministic assignment, k clusters, SSE decreases with iterations") {
    val emb = Tables.embeddings(spark, sf)
    val a1 = ml.KMeans.fit(emb, k = 5, iters = 1)
    val a3 = ml.KMeans.fit(emb, k = 5, iters = 3)
    assert(a3.select("cluster").distinct().count() <= 5)
    assert(a3.count() == emb.count())
    val sse1 = ml.KMeans.sse(emb, a1).head.getDouble(0)
    val sse3 = ml.KMeans.sse(emb, a3).head.getDouble(0)
    assert(sse3 <= sse1 + 1e-6, s"SSE should not increase: $sse1 -> $sse3")
    // determinism
    val again = ml.KMeans.fit(emb, k = 5, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(a3.as[(Long, Long)].collect().toMap == again)
  }

  test("streaming profile: the wide aggregate runs in complete mode, sketches merge to batch") {
    // Profile.profileAggs is streaming-safe by construction (every column
    // is a mergeable aggregate or a mergeable sketch buffer): run it over
    // a forced two-micro-batch replay and hold the merged row to the
    // batch row — counts/min/max exactly, theta BYTE-equal (order-free
    // union), KLL p50 within the batch bound (order-dependent compaction)
    val ev = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val dir = stageBatches("prof_stream", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = operators.Profile.profileAggs(stream).writeStream
      .outputMode("complete").format("memory").queryName("prof_stream_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2)
    val got = spark.table("prof_stream_q").head
    val want = operators.Profile.profileAggs(ev).head
    assert(got.getAs[Long]("value__n") == want.getAs[Long]("value__n"))
    assert(got.getAs[Double]("value__min") == want.getAs[Double]("value__min"))
    assert(got.getAs[Double]("value__max") == want.getAs[Double]("value__max"))
    assert(math.abs(got.getAs[Double]("value__mean")
      - want.getAs[Double]("value__mean")) < 1e-9)
    assert(java.util.Arrays.equals(
      got.getAs[Array[Byte]]("user_id__theta"),
      want.getAs[Array[Byte]]("user_id__theta")),
      "streamed theta column must merge to the batch bytes")
    val p50s = functions.KllUtil.quantileBytes(
      got.getAs[Array[Byte]]("value__kll"), 0.5)
    val p50b = functions.KllUtil.quantileBytes(
      want.getAs[Array[Byte]]("value__kll"), 0.5)
    val sorted = ev.select("value").as[Double].collect().sorted
    def rankOf(v: Double): Double = {
      val i = java.util.Arrays.binarySearch(sorted, v)
      (if (i >= 0) i else -(i + 1)).toDouble / sorted.length
    }
    assert(math.abs(rankOf(p50s) - 0.5) <= 0.015, s"stream p50 $p50s vs $p50b")
  }

  test("streaming theta sketch equals the batch sketch BYTE-FOR-BYTE across micro-batches") {
    // theta's union is order-independent (the k smallest hashes of a
    // union don't care how the union was micro-batched), so this twin —
    // alone among the sketch twins — pins byte equality with batch, not
    // an error bound. A state round-trip or merge regression is a hard
    // byte-diff failure.
    val ev = Tables.events(spark, sf)
    val dir = stageBatches("theta_stream", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.thetaStream(stream, "user_id", k = 64).writeStream
      .outputMode("complete").format("memory").queryName("theta_stream_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val streamed = spark.table("theta_stream_q").head.getAs[Array[Byte]]("theta")
    val batch = ev.agg(functions.Theta.sketch(col("user_id"), 64).as("t"))
      .head.getAs[Array[Byte]]("t")
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed theta sketch must be byte-identical to the batch sketch")
    // and the probe side works off the streamed bytes: k=64 over the
    // small-corpus user population is the exact-or-estimate regime —
    // just pin it against the batch estimate, which is the same bytes
    assert(functions.ThetaUtil.estimateBytes(streamed) ==
      functions.ThetaUtil.estimateBytes(batch))
  }

  test("built-in session_window twin matches the batch sessionize contract exactly") {
    // batch parity on the whole corpus: sessions derived from the batch
    // operator (group by the per-event session_idx) == sessionWindowAgg
    // run as a plain batch aggregation
    val ev = Tables.events(spark, sf)
    val gapUs = 1800000000L
    val batchSessions = operators.TimeSeriesOps
      .sessionize(ev, "user_id", "ts", gapUs)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("sess_start_us"),
        max(col("ts_us")).as("sess_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("v_sum"))
      .drop("session_idx")
    val got = StreamingOps.sessionWindowAgg(ev, gapUs)
    assert(got.count() == batchSessions.count())
    assert(got.exceptAll(batchSessions).count() == 0)
    assert(batchSessions.exceptAll(got).count() == 0)

    // the gap-boundary contract, pinned: diff == gap merges (batch
    // semantics), diff == gap + 1us splits
    def sess(ts2OffsetUs: Long): Long = {
      val base = 1704067200000000L
      val two = Seq((1L, base), (1L, base + ts2OffsetUs))
        .toDF("user_id", "us")
        .select(col("user_id"), timestamp_micros(col("us")).as("ts"),
          lit(1.0).as("value"))
      StreamingOps.sessionWindowAgg(two, gapUs).count()
    }
    assert(sess(gapUs) == 1, "diff == gap must merge, like batch")
    assert(sess(gapUs + 1) == 2, "diff == gap + 1us must split")
  }

  test("streaming session_window emits closed sessions that match batch sessions") {
    val ev = Tables.events(spark, sf)
    val gapUs = 1800000000L
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.sessionWindowAgg(stream, gapUs).writeStream
      .outputMode("append").format("memory").queryName("sess_win_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_win_q")
    val batchSessions = StreamingOps.sessionWindowAgg(ev, gapUs)
    // append mode emits sessions the final watermark closed; each must
    // match a batch session exactly, and the replay must close most
    assert(got.count() > 0, "no sessions emitted")
    assert(got.exceptAll(batchSessions).count() == 0,
      "every emitted session must equal a batch session")
  }

  test("streaming reservoir sample equals the batch sample BYTE-FOR-BYTE across micro-batches") {
    // bottom-k-of-union is order-independent like theta's union, so this
    // twin also pins byte equality — the streamed panel of "k example
    // values" is exactly the batch sample, however the stream was batched
    val ev = Tables.events(spark, sf)
    val dir = stageBatches("sample_stream", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.sampleStream(stream, "user_id", k = 32).writeStream
      .outputMode("complete").format("memory").queryName("sample_stream_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val streamed = spark.table("sample_stream_q").head.getAs[Array[Byte]]("sample")
    val batch = ev.agg(functions.Reservoir.sample(col("user_id"), 32).as("s"))
      .head.getAs[Array[Byte]]("s")
    assert(java.util.Arrays.equals(streamed, batch),
      "streamed sample must be byte-identical to the batch sample")
    // below capacity the sample IS the distinct set — the small corpus's
    // user population fits in k=32, so pin exactness, not just size
    val users = ev.select("user_id").distinct().count()
    assert(functions.ReservoirUtil.valuesOf(streamed).length ==
      math.min(32L, users))
  }

  test("keyed streaming sketches: per-group theta state, each group byte-equal to batch") {
    // the twins' scaladocs claim "add keys to groupBy for per-key
    // sketches at the same cost" — pin it: per-event_type theta sketches
    // across a forced two-micro-batch replay, every group's state-store
    // entry merging to the batch sketch BYTE-for-byte (theta's
    // order-independent union, now under keyed state)
    val ev = Tables.events(spark, sf)
    val dir = stageBatches("theta_keyed", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = stream.groupBy("event_type")
      .agg(functions.Theta.sketch(col("user_id"), 64).as("t"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("theta_keyed_q").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2)
    val got = spark.table("theta_keyed_q")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("t")).toMap
    val want = ev.groupBy("event_type")
      .agg(functions.Theta.sketch(col("user_id"), 64).as("t"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("t")).toMap
    assert(got.keySet == want.keySet && got.size > 1)
    got.foreach { case (k, bytes) =>
      assert(java.util.Arrays.equals(bytes, want(k)),
        s"group $k: streamed sketch diverged from batch")
    }
  }

  test("streaming KLL merges state across micro-batches within the uniform batch bound") {
    // the KLL aggregate as a streaming aggregation, mirroring the
    // t-digest twin above: serialized compactor hierarchy = state-store
    // entry, mergeIn = state update. Byte equality with batch is out
    // (compaction decimates by insertion order and micro-batching changes
    // that order); the contract pinned is the batch KllSpec's own bound —
    // <= 1.5% rank error at EVERY probed quantile with k=200, uniform
    // across the range (KLL's selling point vs the t-digest's
    // tail-weighted bound).
    val ev = Tables.events(spark, sf)
    val dir = stageBatches("kll_stream", Seq(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 =!= 0)))
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = StreamingOps.kllStream(stream).writeStream
      .outputMode("complete").format("memory").queryName("kll_stream_q")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.length >= 2,
      s"expected >= 2 micro-batches, got ${q.recentProgress.length}")
    val sketch = spark.table("kll_stream_q").head.getAs[Array[Byte]]("kll")
    val sorted = ev.select("value").as[Double].collect().sorted
    def rankOf(v: Double): Double = {
      val i = java.util.Arrays.binarySearch(sorted, v)
      (if (i >= 0) i else -(i + 1)).toDouble / sorted.length
    }
    for (p <- Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = functions.KllUtil.quantileBytes(sketch, p)
      val err = math.abs(rankOf(est) - p)
      assert(err <= 0.015,
        f"stream KLL q=$p: rank error $err%.4f > 0.015 (est=$est%.3f)")
    }
  }

  /** The corpus as the asof-stream input type, and the batch formulation
    * it must reproduce (the gated ts_asof_join shape: right side = the
    * purchase rows of the same stream). */
  private def asofFixture = {
    val d = Tables.events(spark, sf)
      .withColumn("ts_us", unix_micros(col("ts")))
      .select("event_id", "ts_us", "user_id", "event_type", "value")
    val purchases = d.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("value").as("pv"))
    val want = operators.TimeSeriesOps.asofJoin(d, purchases, "user_id",
        "ts_us", "pv", tieCols = Seq("event_id"))
      .select(col("event_id"), col("asof_val"))
      .as[(Long, Option[Double])].collect().toMap
    (d, want)
  }

  private def runAsofStream(dir: String,
      schema: org.apache.spark.sql.types.StructType,
      name: String): Map[Long, Option[Double]] = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
      .as[StreamingOps.AsofEv]
    val q = StreamingOps.asofStream(stream).toDF().writeStream
      .outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).select(col("event_id"), col("asof_val"))
      .as[(Long, Option[Double])].collect().toMap
  }

  test("asof stream one-batch replay reproduces the batch as-of join on the corpus") {
    val (d, want) = asofFixture
    val dir = stageBatches("asof_one", Seq(d))
    val got = runAsofStream(dir, d.schema, "asof_stream_one")
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    want.foreach { case (id, v) =>
      assert(got(id) == v, s"event $id: got ${got(id)} want $v") }
  }

  test("asof stream split in event-time order carries the horizon across batches") {
    val (d, want) = asofFixture
    // an event-time-ordered split: state (the last purchase of each key)
    // must carry from the early batch into the late one
    val cut = d.stat.approxQuantile("ts_us", Array(0.5), 0.0).head.toLong
    val dir = stageBatches("asof_split", Seq(
      d.filter(col("ts_us") <= cut), d.filter(col("ts_us") > cut)))
    val got = runAsofStream(dir, d.schema, "asof_stream_split")
    assert(got.size == want.size, s"${got.size} vs ${want.size}")
    want.foreach { case (id, v) =>
      assert(got(id) == v, s"event $id: got ${got(id)} want $v") }
  }

  test("asof stream never rewinds the horizon on a cross-batch late right row") {
    val sec = 1000000L
    def ev(id: Long, ts: Long, tpe: String, v: Option[Double]) =
      StreamingOps.AsofEv(id, ts, 7L, tpe, v)
    val b1 = Seq(ev(1L, 100L * sec, "purchase", Some(5.0)),
      ev(2L, 200L * sec, "view", Some(0.0))).toDF()
    // batch 2: a LATE purchase (ts 50 s < stored horizon 100 s), a
    // NULL-valued purchase past the horizon (must neither crash the
    // query nor advance the state — the batch null-skip contract), and
    // an on-time event after both
    val b2 = Seq(ev(3L, 50L * sec, "purchase", Some(9.0)),
      ev(5L, 250L * sec, "purchase", None),
      ev(4L, 300L * sec, "view", Some(0.0))).toDF()
    val dir = stageBatches("asof_late", Seq(b1, b2))
    val got = runAsofStream(dir, b1.schema, "asof_stream_late")
    assert(got == Map(
      1L -> Some(5.0), // the purchase sees itself
      2L -> Some(5.0),
      // the late purchase must NOT take over the state: it is emitted
      // enriched against the current horizon, and the later event still
      // sees the t=100 s purchase, not the late t=50 s one
      3L -> Some(5.0),
      // the null-valued purchase contributes nothing, to itself or after
      5L -> Some(5.0),
      4L -> Some(5.0)), s"$got")
  }

  test("curationIncrementStream: micro-batches == sequential batch calls; a batch-2 copy of a batch-1 keeper is dup_of_corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Curation, Dedup}
    import graft.ml.{Bpe, NgramLm}
    def uniq(tag: String, n: Int): String =
      (0 until n).map(i => s"${tag}w$i").mkString(" ")
    val corpusText = uniq("oa", 40)
    val corpus = Seq((1L, corpusText), (2L, uniq("ob", 30)), (3L, uniq("oc", 30)))
      .toDF("doc_id", "text")
    val labels0 = Dedup.dedupClusters(corpus, threshold = 0.8)
      .select("doc_id", "cluster_id")
    val train = Seq((1L, corpusText)).toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "text")
    val (bpe, _) = Bpe.fit(train, "text", numMerges = 20)

    val b1 = Seq((101L, uniq("k1", 25)), (102L, corpusText))
    val b2 = Seq((201L, uniq("k1", 25)), (202L, uniq("k2", 25)))

    // --- streaming: two micro-batches through the foreachBatch sink ---
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    val got = scala.collection.mutable.Map.empty[Long, Set[String]]
    val ckpt = java.nio.file.Files.createTempDirectory("cur_stream").toString
    val q = StreamingOps.curationIncrementStream(stream, "doc_id", "text",
      corpus, labels0, lm, maxPpl = 1e6, bpe,
      nearThreshold = 0.8, md5Family = true) { (id, v) =>
        got(id) = v.select("doc_id", "text", "cluster_id", "curation_reject")
          .collect().map(_.toString).toSet
      }
      .option("checkpointLocation", ckpt).start()
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()

    // --- batch: the same two days through curateIncrement by hand ---
    def run(batch: Seq[(Long, String)], oldDocs: org.apache.spark.sql.DataFrame,
            labels: org.apache.spark.sql.DataFrame) = {
      val (v, h) = Curation.curateIncrement(batch.toDF("doc_id", "text"),
        "doc_id", "text", oldDocs, labels, lm, maxPpl = 1e6, bpe,
        nearThreshold = 0.8, md5Family = true)
      val rows = v.select("doc_id", "text", "cluster_id", "curation_reject")
        .collect()
      h.close()
      rows
    }
    val rows1 = run(b1, corpus, labels0)
    val keep1 = rows1.filter(_.isNullAt(3))
    val rows2 = run(b2,
      corpus.unionByName(keep1.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("doc_id", "text")),
      labels0.unionByName(keep1.map(r => (r.getLong(0), r.getLong(2))).toSeq
        .toDF("doc_id", "cluster_id")))

    assert(got(0L) == rows1.map(_.toString).toSet,
      s"batch 0 diverged:\n${got(0L)}\nvs\n${rows1.mkString("\n")}")
    assert(got(1L) == rows2.map(_.toString).toSet,
      s"batch 1 diverged:\n${got(1L)}\nvs\n${rows2.mkString("\n")}")
    // and the cross-batch closure is real: 201 (a copy of batch-1 keeper
    // 101) attaches to 101's cluster as dup_of_corpus in BOTH forms
    val r201 = rows2.find(_.getLong(0) == 201L).get
    assert(r201.getString(3) == "dup_of_corpus" && r201.getLong(2) == 101L,
      r201.toString)
    val r202 = rows2.find(_.getLong(0) == 202L).get
    assert(r202.isNullAt(3), r202.toString)
  }

  test("rollGramIndex: 3-batch rolled index probes with the single-piece exchange count (no full-index shuffle) and identical spans") {
    import graft.operators.Dedup
    def uniq(tag: String, n: Int): String =
      (0 until n).map(i => s"${tag}w$i").mkString(" ")
    val corpus = Seq((1L, uniq("oa", 40)), (2L, uniq("ob", 30)))
      .toDF("doc_id", "text")
    val base = Dedup.gramIndex(corpus, "text", n = 5).localCheckpoint(true)
    // three micro-batches of keepers rolled on, production-style —
    // deliberate overlap (k1 repeats) so the no-distinct index really
    // does hold duplicate hashes across pieces
    val kbs = Seq(
      Seq((101L, uniq("k1", 25))), Seq((201L, uniq("k2", 25))),
      Seq((301L, uniq("k1", 25)), (302L, uniq("k3", 25))))
      .map(_.toDF("doc_id", "text"))
    val rolled = kbs.foldLeft(base)(
      StreamingOps.rollGramIndex(_, _, "text", 5))
    // the equivalent single-piece index: full rebuild over corpus+keepers
    val single = Dedup.gramIndex(
      kbs.foldLeft(corpus)(_ unionByName _), "text", n = 5)
      .localCheckpoint(true)
    // day-4 batch: one doc quoting a batch-1 keeper (only the rolled
    // state can catch it), one fresh
    val b4 = Seq((401L, uniq("k1", 25)), (402L, uniq("z", 25)))
      .toDF("doc_id", "text")
    def probe(ix: org.apache.spark.sql.DataFrame) =
      Dedup.duplicatedSpansIncrement(b4, "doc_id", "text", ix, n = 5)
    def hashEx(df: org.apache.spark.sql.DataFrame): Int =
      "(?<!Broadcast)Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    val (pr, ps) = (probe(rolled), probe(single))
    // the r16 shape re-shuffled the WHOLE accumulated index every batch
    // (union + distinct); the rolled form must plan exactly the
    // single-piece probe's exchanges — the union adds zero
    assert(hashEx(pr) == hashEx(ps),
      s"rolled-index probe plans ${hashEx(pr)} hash exchanges vs " +
        s"single-piece ${hashEx(ps)}:\n" +
        pr.queryExecution.executedPlan.toString.take(1500))
    // and duplicate index rows change nothing downstream: span output
    // identical to the rebuilt-index probe, quoting doc flagged
    val (gr, gs) = (pr.collect().map(_.toString).toSet,
      ps.collect().map(_.toString).toSet)
    assert(gr == gs, s"rolled vs rebuilt probe diverged:\n$gr\nvs\n$gs")
    assert(pr.filter(col("doc_id") === 401L).count() == 1,
      "the batch-1 keeper's boilerplate must be caught via the rolled index")
  }

  test("curationIncrementStream: mid-day restart with store-rebuilt resume state replays committed batch without double-commit, verdicts == unbroken run") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Curation, Dedup}
    import graft.ml.{Bpe, NgramLm}
    def uniq(tag: String, n: Int): String =
      (0 until n).map(i => s"${tag}w$i").mkString(" ")
    val corpusText = uniq("oa", 40)
    val corpus = Seq((1L, corpusText), (2L, uniq("ob", 30)))
      .toDF("doc_id", "text")
    val labels0 = Dedup.dedupClusters(corpus, threshold = 0.8)
      .select("doc_id", "cluster_id")
    val train = Seq((1L, corpusText)).toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "text")
    val (bpe, _) = Bpe.fit(train, "text", numMerges = 20)
    val b1 = Seq((101L, uniq("k1", 25)), (102L, corpusText))
    val b2 = Seq((201L, uniq("k1", 25)), (202L, uniq("k2", 25)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext

    def startStream(mem: MemoryStream[(Long, String)],
                    resume: Option[StreamingOps.CurationResume],
                    sink: scala.collection.mutable.Map[Long, Array[org.apache.spark.sql.Row]]) = {
      val ckpt = java.nio.file.Files.createTempDirectory("cur_restart").toString
      StreamingOps.curationIncrementStream(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        corpus, labels0, lm, maxPpl = 1e6, bpe,
        nearThreshold = 0.8, md5Family = true, resume = resume) { (id, v) =>
          require(!sink.contains(id),
            s"batch $id committed twice — replay idempotence broken")
          sink(id) = v.select("doc_id", "text", "cluster_id",
            "curation_reject").collect()
        }
        .option("checkpointLocation", ckpt).start()
    }

    // --- unbroken run: both batches through one stream ---
    val full = scala.collection.mutable.Map.empty[Long, Array[org.apache.spark.sql.Row]]
    val memA = MemoryStream[(Long, String)]
    val qA = startStream(memA, None, full)
    try {
      memA.addData(b1); qA.processAllAvailable()
      memA.addData(b2); qA.processAllAvailable()
    } finally qA.stop()

    // --- broken run: batch 0 committed to the durable sink, then the
    // query "dies" (driver state lost); restart resumes from the sink ---
    val store = scala.collection.mutable.Map.empty[Long, Array[org.apache.spark.sql.Row]]
    val memB = MemoryStream[(Long, String)]
    val qB = startStream(memB, None, store)
    try { memB.addData(b1); qB.processAllAvailable() } finally qB.stop()
    assert(store.keySet == Set(0L))

    // rebuild resume state from what the sink durably holds — keepers +
    // the committed batch ids, exactly what an IncrementStore + label
    // store gives back
    val priorKeepers = store.values.flatten.filter(_.isNullAt(3))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .toDF("doc_id", "text", "cluster_id")
    val resume = StreamingOps.CurationResume(priorKeepers,
      committedBatchIds = store.keySet.toSet)

    // the restarted query re-delivers batch 0 (the checkpoint never saw
    // its commit) and then batch 1; the sink's require() above proves
    // batch 0 is NOT re-committed
    val memC = MemoryStream[(Long, String)]
    val qC = startStream(memC, Some(resume), store)
    try {
      memC.addData(b1); qC.processAllAvailable() // replayed, skipped
      memC.addData(b2); qC.processAllAvailable() // new, processed
    } finally qC.stop()

    assert(store.keySet == Set(0L, 1L), s"${store.keySet}")
    // the combined history equals the unbroken run batch for batch —
    // in particular 201 is dup_of_corpus of batch-0 keeper 101, which
    // only holds if the resumed state really folded the keepers back in
    Seq(0L, 1L).foreach { id =>
      assert(store(id).map(_.toString).toSet ==
        full(id).map(_.toString).toSet,
        s"batch $id diverged after restart:\n${store(id).mkString("\n")}\n" +
          s"vs\n${full(id).mkString("\n")}")
    }
    val r201 = store(1L).find(_.getLong(0) == 201L).get
    assert(r201.getString(3) == "dup_of_corpus" && r201.getLong(2) == 101L,
      r201.toString)
  }

  test("day-roll recipe: fresh checkpoint per day with day-scoped ids — day-2 not shadowed by day-1's committed ids, a day-2 copy of a day-1 keeper is dup_of_corpus, mid-day-2 restart resumes with day-1 history present") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    import graft.ml.{Bpe, NgramLm}
    import graft.sources.IncrementStore
    def uniq(tag: String, n: Int): String =
      (0 until n).map(i => s"${tag}w$i").mkString(" ")
    val corpusText = uniq("oa", 40)
    val corpus = Seq((1L, corpusText), (2L, uniq("ob", 30)))
      .toDF("doc_id", "text")
    val labels0 = Dedup.dedupClusters(corpus, threshold = 0.8)
      .select("doc_id", "cluster_id")
    val train = Seq((1L, corpusText)).toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "text")
    val (bpe, _) = Bpe.fit(train, "text", numMerges = 20)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("cur_dayroll").toString
    val vstore = IncrementStore(s"$dir/verdicts", s"$dir/manifest",
      filesPerIncrement = 2)
    def startStream(mem: MemoryStream[(Long, String)], day: Long,
                    resume: Option[StreamingOps.CurationResume]) = {
      // each start = a FRESH checkpoint: exactly the day-boundary (and
      // MemoryStream-restart) topology whose renumbered batch ids the
      // day scope exists for
      val ckpt = java.nio.file.Files.createTempDirectory(s"dayroll_d$day").toString
      val sinkFn = StreamingOps.CurationResume.storeSink(vstore, day = day)
      StreamingOps.curationIncrementStream(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        corpus, labels0, lm, maxPpl = 1e6, bpe,
        nearThreshold = 0.8, md5Family = true, resume = resume) { (id, v) =>
          sinkFn(id, v.select(col("doc_id"), col("text"),
            col("cluster_id"), col("curation_reject")))
        }
        .option("checkpointLocation", ckpt).start()
    }

    // ---- day 1: two batches land under day=1 ----
    val d1b0 = Seq((101L, uniq("k1", 25)), (102L, corpusText))
    val d1b1 = Seq((111L, uniq("k2", 25)))
    val memA = MemoryStream[(Long, String)]
    val qA = startStream(memA, 1L, None)
    try {
      memA.addData(d1b0); qA.processAllAvailable()
      memA.addData(d1b1); qA.processAllAvailable()
    } finally qA.stop()

    // ---- the boundary: day-2 resume has an EMPTY skip set while day-1
    // ids are {0,1} — the exact contrast that keeps day-2's renumbered
    // batches 0..k from being silently shadowed (the documented hazard)
    val r1 = StreamingOps.CurationResume.fromStore(spark, vstore, day = 1L)
    assert(r1.committedBatchIds == Set(0L, 1L), r1.committedBatchIds.toString)
    val r2 = StreamingOps.CurationResume.fromStore(spark, vstore, day = 2L)
    assert(r2.committedBatchIds.isEmpty,
      s"day-2 skip set must be empty at day start: ${r2.committedBatchIds}")
    assert(r2.priorKeepers.select("doc_id").as[Long].collect().toSet ==
      Set(101L, 111L), "day-2 resume must carry ALL day-1 keepers")

    // ---- day 2: fresh checkpoint, day-scoped sink; batch 0 holds a
    // COPY of day-1 keeper 101 (cross-day loop closure) + a new keeper
    val d2b0 = Seq((201L, uniq("k1", 25)), (202L, uniq("k3", 25)))
    val d2b1 = Seq((211L, uniq("k4", 25)))
    val memB = MemoryStream[(Long, String)]
    val qB = startStream(memB, 2L, Some(r2))
    try { memB.addData(d2b0); qB.processAllAvailable() } finally qB.stop()
    // mid-day-2 "crash": driver state gone; resume from the store with
    // the SAME day — the skip set is day-2's {0}, day-1 history present
    val r2b = StreamingOps.CurationResume.fromStore(spark, vstore, day = 2L)
    assert(r2b.committedBatchIds == Set(0L), r2b.committedBatchIds.toString)
    assert(r2b.priorKeepers.select("doc_id").as[Long].collect().toSet ==
      Set(101L, 111L, 202L), "restart keepers = day-1's plus day-2-so-far's")
    val memC = MemoryStream[(Long, String)]
    val qC = startStream(memC, 2L, Some(r2b))
    try {
      memC.addData(d2b0); qC.processAllAvailable() // replayed, skipped
      memC.addData(d2b1); qC.processAllAvailable() // new, processed
    } finally qC.stop()

    // ---- the rolled history: every batch exactly once under its day
    val hist = vstore.readRange(spark, Map("doc_id" -> (null: Any, null: Any)))
    val perBatch = hist.groupBy(col("day"), col("batch_id")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(perBatch == Map((1L, 0L) -> 2L, (1L, 1L) -> 1L,
      (2L, 0L) -> 2L, (2L, 1L) -> 1L),
      s"per-(day, batch) history drifted: $perBatch")
    // cross-day closure: 201 (day 2) is dup_of_corpus of day-1 keeper 101
    val r201 = hist.filter(col("doc_id") === 201L)
      .select("curation_reject", "cluster_id").head
    assert(r201.getString(0) == "dup_of_corpus" && r201.getLong(1) == 101L,
      r201.toString)
    // day-3 start: empty skip set, keepers from BOTH days
    val r3 = StreamingOps.CurationResume.fromStore(spark, vstore, day = 3L)
    assert(r3.committedBatchIds.isEmpty)
    assert(r3.priorKeepers.select("doc_id").as[Long].collect().toSet ==
      Set(101L, 111L, 202L, 211L))

    // a pre-day-scope store refuses a day-scoped restart loudly
    val legacy = IncrementStore(s"$dir/legacy", s"$dir/legacy_manifest",
      filesPerIncrement = 2)
    legacy.writeIncrement(Seq((1L, "t", 1L, null: String, 0L))
      .toDF("doc_id", "text", "cluster_id", "curation_reject", "batch_id"))
    val e = intercept[IllegalArgumentException] {
      StreamingOps.CurationResume.fromStore(spark, legacy, day = 2L)
    }
    assert(e.getMessage.contains("no day column") ||
      e.getMessage.contains("predates the day-roll"), e.getMessage)
  }

  test("curationIncrementStream + IncrementStore: the documented recovery recipe end-to-end (store sink, crash, store-rebuilt resume)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    import graft.ml.{Bpe, NgramLm}
    import graft.sources.IncrementStore
    def uniq(tag: String, n: Int): String =
      (0 until n).map(i => s"${tag}w$i").mkString(" ")
    val corpusText = uniq("oa", 40)
    val corpus = Seq((1L, corpusText), (2L, uniq("ob", 30)))
      .toDF("doc_id", "text")
    val labels0 = Dedup.dedupClusters(corpus, threshold = 0.8)
      .select("doc_id", "cluster_id")
    val train = Seq((1L, corpusText)).toDF("doc_id", "text")
    val lm = NgramLm.fit(train, "text")
    val (bpe, _) = Bpe.fit(train, "text", numMerges = 20)
    val b1 = Seq((101L, uniq("k1", 25)), (102L, corpusText))
    val b2 = Seq((201L, uniq("k1", 25)), (202L, uniq("k2", 25)))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext

    val dir = java.nio.file.Files.createTempDirectory("cur_store_stream").toString
    val vstore = IncrementStore(s"$dir/verdicts", s"$dir/manifest",
      filesPerIncrement = 2)
    // the durable sink: each batch's verdicts land clustered+manifested
    // with their batchId stamped by the store-owned sink — the store IS
    // the recovery source (r17 verdict #2: zero hand-rolled state)
    val sinkFn = StreamingOps.CurationResume.storeSink(vstore)
    def sink(id: Long, v: org.apache.spark.sql.DataFrame): Unit =
      sinkFn(id, v.select(col("doc_id"), col("text"), col("cluster_id"),
        col("curation_reject")))
    def startStream(mem: MemoryStream[(Long, String)],
                    resume: Option[StreamingOps.CurationResume]) = {
      val ckpt = java.nio.file.Files.createTempDirectory("cur_ss").toString
      StreamingOps.curationIncrementStream(
        mem.toDF.toDF("doc_id", "text"), "doc_id", "text",
        corpus, labels0, lm, maxPpl = 1e6, bpe,
        nearThreshold = 0.8, md5Family = true, resume = resume)(sink)
        .option("checkpointLocation", ckpt).start()
    }

    // day part 1 committed through the store; then the query "dies"
    val memA = MemoryStream[(Long, String)]
    val qA = startStream(memA, None)
    try { memA.addData(b1); qA.processAllAvailable() } finally qA.stop()

    // recovery exactly as the scaladoc prescribes: keepers + committed
    // batch ids rebuilt FROM THE STORE in one constructor call (nothing
    // from the dead driver, nothing hand-assembled)
    val resume = StreamingOps.CurationResume.fromStore(spark, vstore)
    assert(resume.committedBatchIds == Set(0L))
    assert(resume.priorKeepers.select("doc_id").as[Long].collect().toSet ==
      Set(101L), "prior keepers must be exactly batch 0's keeper")

    // restart re-delivers batch 0, then batch 1 arrives
    val memB = MemoryStream[(Long, String)]
    val qB = startStream(memB, Some(resume))
    try {
      memB.addData(b1); qB.processAllAvailable()
      memB.addData(b2); qB.processAllAvailable()
    } finally qB.stop()

    // no double-append: batch 0 is in the store exactly once, and the
    // store's own staleness gate stayed green through both writers
    val finalHist = vstore.readRange(spark,
      Map("doc_id" -> (null: Any, null: Any)))
    assert(finalHist.filter(col("batch_id") === 0L).count() == 2,
      "replayed batch 0 must not be re-committed")
    assert(finalHist.count() == 4)
    // cross-batch closure survived the crash: 201 (copy of the batch-0
    // keeper 101, known only via the store-rebuilt state) is
    // dup_of_corpus of 101's cluster
    val r201 = finalHist.filter(col("doc_id") === 201L)
      .select("curation_reject", "cluster_id").head
    assert(r201.getString(0) == "dup_of_corpus" && r201.getLong(1) == 101L,
      r201.toString)
    assert(finalHist.filter(col("doc_id") === 202L &&
      col("curation_reject").isNull).count() == 1)
  }

  test("curationIncrementStream over a checkpointed file source: crash after batch 1's store commit, fromStore resume skips the re-delivered batch, history == unbroken run, compactRange keeps per-batch counts") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.DataFrame
    import graft.operators.Dedup
    import graft.ml.{Bpe, NgramLm}
    import graft.sources.IncrementStore
    import StreamingOps.CurationResume
    // the MemoryStream specs above cannot show the checkpoint's restart
    // semantics: here a real parquet file source with one file per
    // trigger feeds the recipe, and the restart re-delivers batch 1 from
    // the offset log of the SAME checkpointLocation
    val work = Files.createTempDirectory("cur_file_source").toString
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val degenerate = col("text").isNull || col("text").rlike("^\\s*$")
    // yesterday's curated corpus = even ids; today's crawl = odd ids in
    // three single-file batches
    val corpus = docs.filter(col("doc_id") % 2 === 0 && !degenerate).persist(lvl)
    val labels0 = Dedup.dedupClusters(corpus, threshold = 0.8,
        candidatePairs = (d, t) => Dedup.minhashPairs(d, "text", threshold = t))
      .select(col("doc_id"), col("cluster_id")).persist(lvl)
    val lm = NgramLm.fit(corpus, "text", maxUnigrams = 4096,
      maxBigrams = 8192, maxTrigrams = 8192)
    val (bpe, _) = Bpe.fit(corpus, "text", numMerges = 50)
    val nBatches = 3
    val batchCounts = (0 until nBatches).map { i =>
      docs.filter(col("doc_id") % 2 === 1 &&
          pmod(floor(col("doc_id") / 2), lit(nBatches)) === i)
        .coalesce(1).write.parquet(s"$work/batches/b$i")
      spark.read.parquet(s"$work/batches/b$i").count()
    }
    val docsSchema = spark.read.parquet(s"$work/batches/b0").schema

    final case class Run(tag: String) {
      val incoming = Files.createDirectories(Paths.get(s"$work/incoming_$tag"))
      val ckpt = s"$work/ckpt_$tag"
      val store = IncrementStore(s"$work/store_$tag/verdicts",
        s"$work/store_$tag/manifest", filesPerIncrement = 2)
      val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
      // surface batch i as ONE file in one atomic rename (a hidden name
      // is ignored by the source until then)
      def feed(i: Int): Unit = {
        val part = Files.list(Paths.get(s"$work/batches/b$i")).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        assert(part.length == 1, s"batch $i staged as ${part.length} files")
        val tmp = incoming.resolve(s".b$i.parquet")
        Files.copy(part.head, tmp)
        Files.move(tmp, incoming.resolve(s"b$i.parquet"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      def sink(id: Long, v: DataFrame): Unit = {
        CurationResume.storeSink(store)(id, v.select(col("doc_id"),
          col("text"), col("cluster_id"), col("curation_reject")))
        sunk += id
      }
      def start(resume: Option[CurationResume], onVerdicts: (Long, DataFrame) => Unit) =
        StreamingOps.curationIncrementStream(
          spark.readStream.schema(docsSchema).option("maxFilesPerTrigger", 1)
            .parquet(incoming.toString),
          "doc_id", "text", corpus, labels0, lm, maxPpl = 1e6, bpe,
          nearThreshold = 0.8, md5Family = false, minKeptRatio = 0.1,
          resume = resume)(onVerdicts)
          .option("checkpointLocation", ckpt).start()
    }

    // ---- run A: batch 1 is durable in the store, then the query dies
    // before the checkpoint's commit log records it ----
    val runA = Run("A")
    val crash = "injected crash between store commit and checkpoint commit"
    val qA = runA.start(None, (id, v) => {
      runA.sink(id, v)
      if (id == 1L) throw new RuntimeException(crash)
    })
    try {
      runA.feed(0); qA.processAllAvailable()
      runA.feed(1)
      val e = intercept[Exception](qA.processAllAvailable())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => Option(c.getMessage).exists(_.contains(crash))), e.toString)
    } finally qA.stop()
    assert(runA.sunk == Seq(0L, 1L), runA.sunk.toString)

    val resume = CurationResume.fromStore(spark, runA.store)
    assert(resume.committedBatchIds == Set(0L, 1L), resume.committedBatchIds.toString)
    val durable = runA.store.readAll(spark).count()
    assert(durable == batchCounts(0) + batchCounts(1))
    val qA2 = runA.start(Some(resume), runA.sink)
    try {
      // the restart re-delivers batch 1 from the offset log: skipped,
      // the store's row count does not move
      qA2.processAllAvailable()
      assert(runA.store.readAll(spark).count() == durable,
        "the re-delivered batch 1 was appended twice")
      runA.feed(2); qA2.processAllAvailable()
    } finally qA2.stop()
    assert(runA.sunk == Seq(0L, 1L, 2L), runA.sunk.toString)

    // ---- run B: the unbroken control ----
    val runB = Run("B")
    val qB = runB.start(None, runB.sink)
    try (0 until nBatches).foreach { i => runB.feed(i); qB.processAllAvailable() }
    finally qB.stop()

    def classCounts(df: DataFrame): Map[String, Long] =
      df.groupBy(coalesce(col("curation_reject"), lit("keep"))).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // order-independent digest: per-row xxhash64 over every column, bit_xor'd
    def digest(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("doc_id"), coalesce(col("cluster_id"), lit(-1L)),
          coalesce(col("curation_reject"), lit("keep")), col("batch_id"),
          coalesce(col("text"), lit(""))).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).head
      (r.getLong(0), r.getLong(1))
    }
    val (histA, histB) = (runA.store.readAll(spark), runB.store.readAll(spark))
    assert(classCounts(histA) == classCounts(histB))
    assert(digest(histA) == digest(histB))
    assert(digest(histA)._1 == batchCounts.sum)

    // ---- maintenance: compactRange the day, per-batch counts kept ----
    def perBatch(df: DataFrame): Map[Long, Long] =
      df.groupBy(col("batch_id")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = perBatch(histA)
    assert(before == batchCounts.indices.map(i => i.toLong -> batchCounts(i)).toMap)
    val b = histA.agg(min(col("doc_id")), max(col("doc_id"))).head
    val range = Map("doc_id" -> (b.getLong(0): Any, b.getLong(1): Any))
    runA.store.compactRange(spark, range, targetFileBytes = 128L << 20)
    assert(perBatch(runA.store.readRange(spark, range)) == before)
    Seq(corpus, labels0).foreach(_.unpersist(blocking = false))
  }
}
