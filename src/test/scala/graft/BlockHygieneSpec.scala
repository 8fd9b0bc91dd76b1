package graft

/** Generic block-manager hygiene gate over EVERY driver-gated query.
  *
  * [[DedupHygieneSpec]] pins the connected-components fixpoint
  * specifically — the operator that caused the r3/r5 leak regressions —
  * but any future operator that persists, caches, or localCheckpoints can
  * re-introduce the same class unnoticed: blocks that outlive the query
  * accumulate across a 90-query × reps bench session (and across a
  * long-lived 100 TB job) until eviction churn or executor OOM. This gate
  * turns the lesson into a regression test: after running ANY
  * `SparkEntry.queries` entry to completion, the only persistent RDD
  * allowed to survive beyond the pre-existing baseline is the session
  * cluster-index label checkpoint — and that one is built ONCE here, up
  * front, so it sits in the baseline and every query must come out clean.
  *
  * Reverting any of the explicit unpersists (KMeans.fit, LinearModel's
  * ridge/IRLS materialize-then-unpersist, Dedup.componentLabels'
  * checkpoint-handle frees) makes this spec fail by construction: the
  * leaked block set registers in `getPersistentRDDs` the moment the query
  * materializes it and nothing removes it before the assertion.
  */
class BlockHygieneSpec extends SparkSpec {

  test("every SparkEntry query leaves getPersistentRDDs at the baseline " +
       "(sole sanctioned survivors: the session cluster-index checkpoint " +
       "and the session curation recipe + increment state)") {
    val sc = spark.sparkContext
    // Build (or memo-hit) every session artifact first (the shared
    // cluster index's single final label checkpoint, the curation recipe
    // and increment fixpoint checkpoints and pinned stage frames, the
    // persisted md5-shingle index — see graft.SessionArtifacts).
    // Baselining AFTER the builds means every query must come out clean.
    SparkEntry.sessionArtifacts.foreach { case (_, build) => build(spark, sf) }
    val baseline = sc.getPersistentRDDs.keySet
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, sf).count()
      // diff against the baseline, not emptiness: earlier suites in the
      // shared session may have left sanctioned survivors of their own
      // (DedupHygieneSpec's uncached runs), and the ContextCleaner may
      // concurrently reclaim baseline entries — only NEW ids are leaks
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty,
        s"query '$name' left ${leaked.size} persistent RDD(s) behind " +
          s"(ids ${leaked.toSeq.sorted.mkString(",")}) — an operator is " +
          "missing an unpersist/checkpoint-handle free")
    }
  }
}
