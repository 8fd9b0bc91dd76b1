package graft

/** Plan-shape guardrails across the whole query surface: catches operators
  * that silently degrade into unpartitioned cartesian products — the class
  * of regression that is invisible at test scale and fatal at 100 TB.
  */
class PlanHygieneSpec extends SparkSpec {

  test("no query plans a CartesianProduct") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(2000)}")
    }
  }

  test("a warm query build starts no Spark job, except the declared fits and samples") {
    // building a query is planning, not execution: a job started while a
    // builder runs is paid again on every build of that query (the loaders'
    // schema-inference job was one, ~80 ms per table). The first build of
    // each query also builds the session memos; the second must start no
    // job at all, except in the builders that fit a model or draw a sample
    // to shape the plan
    val fitsOrSamples = Set("ann_ivf", "doc_pack_chunks", "doc_stratified_sample",
      "ts_adding_problem", "ts_kmeans_embed", "ts_logreg_embed", "ts_rul_pipeline")
    SparkEntry.queries.values.foreach(_(spark, sf))
    val started = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (_, jobs) = JobProbe(spark)(fn(spark, sf))
      if (jobs.isEmpty) None else Some(name -> jobs.size)
    }
    val unexpected = started.filterNot { case (n, _) => fitsOrSamples(n) }
    assert(unexpected.isEmpty,
      s"query builders started Spark jobs: ${unexpected.mkString(", ")}")
    // a builder that stopped fitting or sampling leaves the set, so the
    // guard covers it again
    val stale = fitsOrSamples -- started.map(_._1)
    assert(stale.isEmpty, s"declared builders start no job any more: $stale")
  }

  test("per-trajectory window suite plans exactly one exchange") {
    // SURVEY §3.5: all frame computations of a ts_* query share the single
    // hashpartitioning(user_id) shuffle — a second Exchange means a window
    // spec stopped aligning with the partitioning and the operator now
    // reshuffles the full table at scale.
    // q_funnel's budget is 3: one shuffle shared by all three window
    // frames + the partial/final pair of the closing count-distinct
    // aggregation (which moves per-user stage rows, not the table).
    // ts_rul_validation/inference: the single groupBy(user_id) shuffle;
    // the external label side must stay a BROADCAST join (regressing to a
    // shuffle join would re-exchange the windowed table per label join)
    val budget = Map("ts_rolling_agg" -> 1, "ts_zscore_norm" -> 1,
      "ts_lag_features" -> 1, "ts_ffill" -> 1, "ts_diff" -> 1,
      "q_window_dedup" -> 1, "q_funnel" -> 3,
      "ts_rul_validation" -> 1, "ts_rul_inference" -> 1)
    budget.foreach { case (name, maxEx) =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      val nExchanges = "(?<!Broadcast)Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(nExchanges <= maxEx,
        s"$name plans $nExchanges hash exchanges (budget $maxEx):\n${plan.take(1500)}")
    }
  }

  test("tuned conf injects a runtime bloom filter into selective dim joins") {
    // semi-join reduction without writing one: the fact side of a shuffle
    // join is pre-filtered by a bloom filter over the filtered dim keys
    val before = Conf.tuned.keys.map(k => k -> spark.conf.getOption(k)).toMap
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      Conf.applyTuned(spark)
      // force a shuffle join so the bloom path (not broadcast reuse) applies
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // sf0.01: the fact side must clear the (already lowered) 1MB
      // application-side scan threshold, which sf0.001 does not.
      // The ACTUAL loaders (r20 ADVICE): orders/lineitem are never
      // rebalanced (only customerKernel/documentsKernel are — TablesSpec
      // pins that), so this asserts InjectRuntimeFilter works through the
      // production read path (loadNtzAsUtc's reader-schema scan), not
      // just through a bare parquet read. The kernel loaders' Repartition
      // is the one shape the rule won't traverse — by design it only
      // fires on under-split TINY tables, where a bloom saves nothing.
      val sf01 = "/root/testdata/sf0.01"
      val orders = Tables.orders(spark, sf01)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = Tables.lineitem(spark, sf01)
      val plan = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(1200)}")
    } finally {
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  test("dedup_embed joins on the banded (label, bucket) key, not label alone") {
    // a label-only equi-join materializes every same-label pair before the
    // id-window filter — per-label quadratic and one giant partition per
    // label at corpus scale; the bucket key must participate in the join
    val plan = SparkEntry.queries("dedup_embed")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("bkt"),
      s"dedup_embed no longer joins on the banded bucket key:\n${plan.take(1500)}")
  }

  test("bounded-state top-k queries plan no rank window") {
    // a row_number window partitioned by a low-cardinality key (priority
    // class, query id, language) sorts the whole input on a handful of
    // tasks; these queries must rank through the smallest_k aggregate
    // (k rows of state per group, map-side partials) instead
    Seq("q_topk_per_group", "q_top_words", "ann_topk", "ann_lsh", "ann_ivf")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("Window"),
          s"$name still plans a rank window:\n${plan.take(1500)}")
        assert(plan.contains("partial_smallestkagg"),
          s"$name does not map-side-aggregate through smallest_k:\n${plan.take(1500)}")
      }
  }

  test("doc packing and stratified sampling plan no per-stratum window") {
    // the distributed prefix sum replaced unbounded one-task-per-language
    // windows; a WindowExec reappearing here means the operator regressed
    // to single-task-per-stratum execution
    Seq("doc_pack_chunks", "doc_stratified_sample").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name plans a per-stratum window again:\n${plan.take(1500)}")
    }
  }

  test("cluster-index tail join rescans documents as a doc_id-only column chunk") {
    // componentLabels' final singleton join deliberately scans `documents`
    // a second time (the candidate generator's scan lives behind the edge
    // checkpoint), but it must stay a ONE-column scan: at 100 TB the
    // narrow doc_id chunk is cheap, dragging text/lang through the tail
    // join is not. Every file scan left in the returned plan must read
    // doc_id and nothing else.
    val plan = SparkEntry.queries("dedup_clusters")(spark, sf)
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(schemas.nonEmpty, s"no file scan found:\n${plan.take(1500)}")
    schemas.foreach { s =>
      assert(s.matches("doc_id:\\w+"),
        s"cluster tail join reads more than doc_id: struct<$s>")
    }
  }

  test("padded tensorize plans no join and a single hash exchange") {
    // the kernel pads short trajectories itself (padTo = T·skip), so no
    // per-key count is routed back through a join: the only exchange is
    // the tensorize groupBy's, printed beneath the SharedShuffle leaf
    val plan = SparkEntry.queries("ts_window_tensorize_padded")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"a join is planned:\n${plan.take(1500)}")
    assert(plan.contains("SharedShuffle"), plan.take(1500))
    val nExchanges = "(?<!Broadcast)Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(nExchanges == 1,
      s"ts_window_tensorize_padded plans $nExchanges hash exchanges (want 1):\n${plan.take(1500)}")
  }

  test("ANN compression paths keep the corpus/codes side map-local (broadcast-only joins)") {
    // the int8/PQ scans' whole scale story is that the corpus contributes
    // only compressed payloads to a MAP-LOCAL probe scan — queries/LUTs/
    // shortlists are the broadcast side. With the broadcast threshold
    // disabled, the explicit broadcast() hints are the ONLY thing keeping
    // these plans off CartesianProduct/SortMergeJoin, so removing a hint
    // fails this spec rather than silently reshuffling the corpus at scale
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val emb = Tables.embeddings(spark, sf)
      val queries = emb.filter(col("vec_id") < 10)
      val qc = Similarity.quantizeEmbeddings(emb)
      val books = Similarity.pqCodebooks(emb, dim = 64, m = 8, ks = 16)
      val codes = Similarity.pqEncode(emb, dim = 64, books)
      // exchange budgets: the per-query top-k aggregation is the ONE
      // allowed hash exchange (it moves k·|queries| rows, not the corpus);
      // refined adds the re-rank's own top-k aggregation
      val cases = Seq(
        ("annTopKQuantized",
          Similarity.annTopKQuantized(qc, qc.filter(col("vec_id") < 10), 5), 1),
        ("annPq", Similarity.annPq(codes, queries, books, dim = 64, k = 5), 1),
        ("annPqRefined",
          Similarity.annPqRefined(emb, codes, queries, books, dim = 64,
            k = 5, shortlist = 50), 2))
      cases.foreach { case (name, df, maxEx) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("SortMergeJoin"),
          s"$name shuffles through a sort-merge join:\n${plan.take(1500)}")
        assert(!plan.contains("CartesianProduct"),
          s"$name lost its broadcast hint (cartesian):\n${plan.take(1500)}")
        assert(plan.contains("Broadcast"),
          s"$name plans no broadcast join at all:\n${plan.take(1500)}")
        val nEx = "(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(plan).size
        assert(nEx <= maxEx,
          s"$name plans $nEx hash exchanges (budget $maxEx):\n${plan.take(1500)}")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)
  }

  test("ts_gapfill plans no join and stays inside its exchange budget") {
    // the r8 run-level rewrite fills on the hourly level and explodes
    // map-side — a Join reappearing means the O(grid) dense-grid shape
    // (grid ~10× the event count, unbounded for sparse series) is back
    val plan = SparkEntry.queries("ts_gapfill")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"ts_gapfill regressed to the grid-join shape:\n${plan.take(1500)}")
    val nEx = "(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nEx <= 2, // (user, bucket) agg + user-partitioned fill windows
      s"ts_gapfill plans $nEx hash exchanges (budget 2):\n${plan.take(1500)}")
  }

  test("dedup candidate joins move ids only (arrays attach after dedup)") {
    // the r8 ids-only restructure: the LSH band self-join and the pair
    // dedup must not carry shingle-hash arrays (previously 8 band copies
    // per doc + a dropDuplicates exchange of both arrays). Only the two
    // attach-side exchanges may ship an array column.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for ((name, budget) <- Seq("dedup_minhash" -> 2, "dedup_ngram" -> 2)) {
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val arrayExchanges = plan.collect {
        case e: ShuffleExchangeExec if e.output.exists(
          _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]) => e
      }
      assert(arrayExchanges.size <= budget,
        s"$name ships arrays through ${arrayExchanges.size} exchanges " +
          s"(budget $budget — the ids-only candidate join regressed):\n" +
          arrayExchanges.map(_.output.mkString(", ")).mkString("\n"))
    }
  }

  test("oracle-checked scans prune columns (no SELECT * scans of lineitem)") {
    val plan = operators.Relational.q1Agg(spark, sf)
      .queryExecution.executedPlan.toString
    // lineitem has 11 columns; q1 needs 7 — the scan must not read more
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 7, s"unpruned scan: $readSchema")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      "filter not pushed to parquet")
  }
}
