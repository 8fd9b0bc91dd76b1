package graft

import graft.operators.Dedup

/** Block-manager hygiene guardrails for the connected-components fixpoint.
  *
  * Round-5 regression class: `componentLabels` localCheckpoints edges, the
  * seed labels, every round's labels, and the candidate pairs — if any of
  * them outlives the fixpoint, a bench run that executes the fixpoint 12×
  * (dedup_clusters / dedup_canonical_best / pipeline_curation × warm +
  * reps) strands dozens of checkpoint block sets that only a periodic GC
  * reclaims, and the eviction churn taxes every later query in the
  * session. The operator must free everything it materializes except the
  * single final label checkpoint the returned (lazy) frame still
  * references.
  */
class DedupHygieneSpec extends SparkSpec {

  test("dedupClusters leaves at most one persistent RDD per invocation") {
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf)
    val before = sc.getPersistentRDDs.keySet
    Dedup.dedupClusters(docs, threshold = 0.5).count()
    val leaked1 = sc.getPersistentRDDs.keySet -- before
    assert(leaked1.size <= 1,
      s"one dedupClusters run left ${leaked1.size} persistent RDDs " +
        "(expected ≤1: the final label checkpoint the result references)")
    // repeated executions must not accumulate loop-internal state: three
    // full runs may each keep their final label checkpoint alive (the
    // ContextCleaner frees those on GC), but nothing else
    Dedup.dedupClusters(docs, threshold = 0.5).count()
    Dedup.dedupClusters(docs, threshold = 0.5).count()
    val leaked3 = sc.getPersistentRDDs.keySet -- before
    assert(leaked3.size <= 3,
      s"three dedupClusters runs left ${leaked3.size} persistent RDDs " +
        "(expected ≤3) — the fixpoint is leaking loop-internal checkpoints again")
  }

  test("cold mode bypasses the cluster-index memo and still matches the cached result") {
    // the SPARK_GRAFT_COLD bench toggle (injected here via the graft.cold
    // system property — env cannot change after JVM start) must actually
    // rebuild instead of reading the session index, and the rebuild must
    // agree with the memoized labels exactly
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val warm1 = Dedup.clusterIndex(spark, sf, threshold = 0.5)
    val warm2 = Dedup.clusterIndex(spark, sf, threshold = 0.5)
    assert(warm1 eq warm2, "warm calls must return the memoized frame")
    val warmRows = rows(warm1)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    sys.props("graft.cold") = "1"
    try {
      val cold = Dedup.clusterIndex(spark, sf, threshold = 0.5)
      assert(!(cold eq warm1), "cold mode must bypass the memo")
      assert(rows(cold) == warmRows, "cold rebuild diverged from the cached index")
    } finally {
      sys.props.remove("graft.cold")
      // the cold rebuild's final label checkpoint is not memoized and has
      // no consumer after this test — free it instead of stranding a
      // block set in the shared session (the leak class this suite polices)
      (sc.getPersistentRDDs.keySet -- before)
        .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
    }
    // and the memo is intact afterwards
    assert(Dedup.clusterIndex(spark, sf, threshold = 0.5) eq warm1)
  }

  test("cold mode matches the warm memo for every session artifact, and " +
       "holds at most one cold build of the curation states") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.operators.{Curation, TextOps}
    // each artifact's public entry point: the memoized value and the
    // frame whose rows are compared; the gate models' rows are read
    // through the query they feed
    def itself(f: (SparkSession, String) => DataFrame) =
      (s: SparkSession, d: String) => { val df = f(s, d); (df: AnyRef, df) }
    val entryPoints: Seq[(String, (SparkSession, String) => (AnyRef, DataFrame))] = Seq(
      ("cluster-index", itself(Dedup.clusterIndex(_, _, threshold = 0.5))),
      ("md5-shingle-index", itself(Dedup.md5ShingleIndex)),
      ("gate-models", (s, d) =>
        (TextOps.gateModels(s, d), TextOps.curationGateQuery(s, d))),
      ("curation-recipe", itself(Curation.curationRecipeQuery)),
      ("curation-increment", itself(Curation.curationIncrementQuery)))
    assert(entryPoints.map(_._1) == SparkEntry.sessionArtifacts.map(_._1),
      "every session artifact needs a cold-versus-warm case")
    def rows(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val sc = spark.sparkContext
    entryPoints.foreach { case (name, f) =>
      val (warm, warmFrame) = f(spark, sf)
      val warmRows = rows(warmFrame)
      val before = sc.getPersistentRDDs.keySet
      // a method of its own, so no stack slot keeps the cold frame (and
      // its label checkpoints) reachable once it returns
      def checkCold(): Unit = {
        val (cold, coldFrame) = f(spark, sf)
        assert(!(cold eq warm), s"$name: cold mode must bypass the memo")
        assert(rows(coldFrame) == warmRows, s"$name: cold rows diverged from the warm memo")
      }
      sys.props("graft.cold") = "1"
      try {
        checkCold()
        if (name.startsWith("curation-")) {
          // one cold build's footprint, then a second cold build: closing
          // the first build's handle must keep the session at one build's
          // frames (its label checkpoints go when GC drops the frame)
          val oneBuild = (sc.getPersistentRDDs.keySet -- before).size
          checkCold()
          val deadline = System.nanoTime() + 30e9.toLong
          def extra = (sc.getPersistentRDDs.keySet -- before).size
          while (extra > oneBuild && System.nanoTime() < deadline) {
            System.gc(); Thread.sleep(200)
          }
          assert(extra <= oneBuild, s"$name: two cold builds hold $extra " +
            s"persistent RDDs beyond the baseline, one build holds $oneBuild")
        }
      } finally {
        sys.props.remove("graft.cold")
        // free what the cold builds left: no consumer reads them again
        (sc.getPersistentRDDs.keySet -- before)
          .foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(true)))
      }
      assert(f(spark, sf)._1 eq warm, s"$name: the warm memo must survive cold mode")
    }
  }

  /** A corpus directory of this suite's own (a copy of the documents
    * table), so its session artifacts and cached plans are unshared. */
  private def privateCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-md5-")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "documents.parquet"),
      dir.resolve("documents.parquet"))
    dir.toString
  }

  private def minhashRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("a race loser's release leaves the winner's md5-shingle cache in place") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    val dir = privateCorpus()
    // two first calls, both held inside the build until both have built
    // and persisted; then one stores its frame and the other loses
    val barrier = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    val frames = try {
      val calls = (1 to 2).map(_ => pool.submit(() =>
        SessionArtifacts.getOrBuild(spark, s"md5-shingle-index:$dir") { cold =>
          val built = Dedup.md5ShingleBuild(spark, dir)(cold)
          barrier.await(60, TimeUnit.SECONDS)
          built
        }))
      calls.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(frames(0) eq frames(1), "both calls must return the winner's frame")
    assert(Dedup.md5ShingleIndex(spark, dir) eq frames(0),
      "the raced key must be the one md5ShingleIndex reads")
    assert(frames(0).storageLevel ==
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      "the race loser's release dropped the winner's cache")
    val plan = Dedup.dedupMinhash(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"dedup_minhash no longer reads the md5-shingle cache:\n${plan.take(2000)}")
  }

  test("a cold md5-shingle build does not read the warm index's cache") {
    val dir = privateCorpus()
    val warm = Dedup.dedupMinhash(spark, dir)
    assert(warm.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    val warmRows = minhashRows(warm)
    sys.props("graft.cold") = "1"
    try {
      val cold = Dedup.dedupMinhash(spark, dir)
      val plan = cold.queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryTableScan"),
        s"a cold dedup_minhash read the warm cache:\n${plan.take(2000)}")
      assert(minhashRows(cold) == warmRows, "cold rows diverged from the warm index")
    } finally sys.props.remove("graft.cold")
  }

  test("componentLabels frees every block set on the non-convergence error path") {
    val ss = TestSpark.spark
    import ss.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val verts = (1L to 10L).toDF("doc_id")
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("doc_id_a", "doc_id_b")
    // maxIters = 0 forces the convergence require to fire with the seed
    // labels + edges checkpointed — a catch-and-retry session must not
    // accumulate those blocks
    intercept[IllegalArgumentException] {
      Dedup.componentLabels(verts, pairs, maxIters = 0)
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"error path left ${leaked.size} persistent RDDs behind")
  }

  test("LSH band schemes that fail silently downstream are refused loudly at entry") {
    val ss = TestSpark.spark
    import ss.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    // bands > numHashes → rowsPerBand = 0 → every band key hashes an
    // EMPTY slice → all docs collide in all bands → O(n²) self-join
    val e1 = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(docs, "text", numHashes = 8, bands = 16)
    }
    assert(e1.getMessage.contains("bands"), e1.getMessage)
    // non-divisible pair → the trailing numHashes % bands signature rows
    // are silently dropped from every band key (changed recall, no error)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.minhashPairsMd5(docs, "text", numHashes = 32, bands = 5)
    }
    assert(e2.getMessage.contains("divisible"), e2.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.incrementalCandidatePairs(docs, docs, numHashes = 32, bands = 0)
    }
    // a valid scheme still runs — identical texts have identical
    // signatures, so the band collision (and the pair) is guaranteed
    val twins = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    assert(Dedup.minhashPairs(twins, "text", numHashes = 16, bands = 4,
      threshold = 0.9).count() == 1)
  }
}
