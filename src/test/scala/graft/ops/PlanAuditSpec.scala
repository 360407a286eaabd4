package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec,
  SortMergeJoinExec}

/** Physical-plan audits for the headline queries: the scale properties
  * claimed in SURVEY.md §8 (broadcast dimensions, parquet filter/column
  * pushdown, bounded exchange counts) asserted against the actual
  * executed plans, so a regression that silently introduces a
  * sort-merge join or a full-column scan fails CI, not a 100 TB run.
  */
class PlanAuditSpec extends SparkSpec {

  private def executed(df: DataFrame) = {
    // execute THIS frame so AQE finalizes the inspected plan (count()
    // would run a separate QueryExecution and leave this one initial)
    df.collect()
    df.queryExecution.executedPlan
  }

  private def collectNodes(df: DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val root = executed(df)
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.execution.SparkPlan]()
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      out += p
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case _ => p.children.foreach(walk)
      }
    }
    walk(root)
    out.toSeq
  }

  test("q05 5-way star join: every join is broadcast; fact table never shuffles for a join") {
    val nodes = collectNodes(Relational.q05.build(spark, sfDir))
    val smj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
    val bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec])
    assert(smj == 0, s"sort-merge join crept into the star join")
    assert(bhj == 5, s"expected 5 broadcast joins, got $bhj")
  }

  test("q02 selective filter reaches the parquet scan (PushedFilters)") {
    val scans = collectNodes(Relational.q02.build(spark, sfDir))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val pushed = scans.flatMap(_.metadata.get("PushedFilters")).mkString
    assert(pushed.contains("GreaterThan") || pushed.contains("EqualTo"),
      s"no selective filter pushed: $pushed")
  }

  test("q67 sampling reads only (source, doc_id) — text column pruned from the scan") {
    val scans = collectNodes(Extended.q67.build(spark, sfDir))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val schema = scans.map(_.requiredSchema.fieldNames.toSet).reduce(_ ++ _)
    assert(!schema.contains("text"),
      s"sampling query reads the text blob it never uses: $schema")
    assert(schema == Set("source", "doc_id"))
  }

  test("q63 pivot: fact table crosses one exchange pre-aggregated; later stages are group-sized") {
    val nodes = collectNodes(Extended.q63.build(spark, sfDir))
    // pivot lowers to two stacked aggregations — (linestatus, returnflag)
    // partial+final, then PivotFirst over the ~6 group rows — plus the
    // final orderBy: 3 exchanges, but only the FIRST moves fact-table
    // data, and partial aggregation shrinks that to one row per
    // (partition, group) before the wire.
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"pivot plan has $shuffles exchanges")
    val aggs = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec])
    assert(aggs >= 2, s"expected partial+final hash agg, got $aggs")
  }

  test("q138 sessions: one hash exchange feeds both windows AND the rollup") {
    val nodes = collectNodes(Extended.q138.build(spark, sfDir))
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    // exchange 1: hash on user_id — the windows sort in-partition on it
    // and the (user_id, sid) rollup is satisfied by the same clustering
    // (grouping keys are a superset of the partition key, so Catalyst
    // plans partial+final agg with NO second hash exchange); exchange
    // 2: the sink's range sort. Anything more means the session rollup
    // re-shuffled event rows.
    assert(shuffles <= 2, s"q138 plan has $shuffles exchanges")
    val windows = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(windows >= 1, s"expected window operators, got $windows")
  }

  test("kNN brute force: query side is a broadcast, corpus side streams (no corpus shuffle before scoring)") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
    val knn = Similarity.bruteForceKnn(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5).toDF("qid", "qv"),
      emb, k = 3)
    val nodes = collectNodes(knn)
    val bcast = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])
    assert(bcast == 1, "expected one broadcast nested-loop join for queries x corpus")
  }

  test("LSH ANN and embedding dedup plans contain no ScalaUDF (bucketing is codegen)") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
    val knn = Similarity.lshKnn(spark, emb,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5), k = 3)
    val dedup = Dedup.dedupByEmbedding(spark, emb, threshold = 0.95)
    for ((name, df) <- Seq("lshKnn" -> knn, "dedupByEmbedding" -> dedup)) {
      val udfs = collectNodes(df).flatMap(_.expressions).flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      })
      assert(udfs.isEmpty, s"$name plan contains ScalaUDF: $udfs")
    }
  }

  test("q49 boilerplate removal strikes chunks via a broadcast anti-join") {
    val nodes = collectNodes(CurationOps.q49.build(spark, sfDir))
    // the df-thresholded boilerplate set is heavy-hitter-sized: the
    // removal join must be a broadcast (LeftAnti BroadcastHashJoin),
    // never a sort-merge of the full chunk stream
    val smj = nodes.count(_.isInstanceOf[SortMergeJoinExec])
    val antiBhj = nodes.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(smj == 0, "boilerplate anti-join degraded to sort-merge")
    assert(antiBhj.nonEmpty, "expected a broadcast left-anti join")
  }

  /** Global scale gate: a CartesianProduct anywhere, or a
    * BroadcastNestedLoopJoin outside the documented scalar/K-row
    * whitelist, is a 100 TB killer regardless of which query it hides
    * in — so audit EVERY registered query's executed plan, not just
    * the headline ones. The whitelist entries are all joins whose
    * build side is bounded by construction (a handful of query rows, K
    * centroids, one scalar row), where a nested-loop broadcast is the
    * correct plan, with the reason recorded here.
    */
  /** Java's \s (the engine's split) is [ \t\n\x0B\f\r]; RE2/DuckDB's
    * \s omits vertical tab — so any twin regex using the shorthand
    * silently diverges from the engine on a U+000B. Every twin spells
    * the class explicitly (TwinSql.toksOf is the tokenizer builder);
    * this gate keeps the shorthand from ever re-entering the registry.
    */
  test("no registered oracle SQL uses the \\s regex shorthand (RE2 dialect divergence)") {
    val bad = graft.SparkEntry.oracleSql.filter(_._2.contains("\\s")).keys.toSeq.sorted
    assert(bad.isEmpty,
      s"twins using \\s (Java/RE2 dialects disagree on vertical tab): $bad")
  }

  test("no query plan contains a cartesian product or an unlisted nested-loop join") {
    val bnljWhitelist: Map[String, String] = Map(
      "q31_knn_bruteforce" -> "queries x corpus: bounded query batch broadcasts, corpus streams",
      "q50_embedding_neardup" -> "exact verifier over a bounded slice (vec_id<200); unbounded path is LSH-bucketed dedupByEmbedding",
      "q53_knn_ivf" -> "bounded query batch x K centroids probe",
      "q57_multimodal_embed_knn" -> "bounded query batch x media embeddings",
      "q74_gap_fill" -> "one-row broadcast holding the scalar (min,max) spine bounds",
      "q75_fuzzy_pairs" -> "bounded blocking subset (p_partkey<=150) broadcast; production blocks by key first",
      "q94_mixture_sampling" -> "one-row broadcast holding the scalar mixture total",
      "q102_knn_ivfpq" -> "bounded query batch x K centroids probe",
      "q110_source_temperature" -> "one-row broadcast holding the scalar max source size",
      "q115_bm25_retrieval" -> "one-row broadcast holding the scalar corpus-mean doc length",
      "q43_kmeans_assign" -> "points x one-row broadcast holding the K centers array",
      "q117_centroid_classifier" -> "vectors x K-row broadcast of label centroids (K = distinct labels, bounded)",
      "q120_silhouette_by_label" -> "vectors x one-row broadcast packing the K label centroids",
      "q44_cluster_members" -> "points x one-row broadcast holding the K centers array",
      "q97_semantic_dedup" -> "points x one-row broadcast holding the K centers array",
      "q141_rfm" -> "one-row broadcast holding the scalar corpus-max timestamp",
      "q134_source_divergence" -> "S x S source-pair spine (S = source count, a pipeline constant); zero-shared-vocab pairs must emit l1=2.0",
      "q145_collocations" -> "one-row broadcast holding the scalar corpus token count",
      "q151_source_length_drift" -> "S x B source/bucket spine (both pipeline constants) + scalar N + scalar bucket count, all broadcast; zero-observed buckets must contribute their e_b penalty",
      "q158_calibration_audit" -> "10 bucket rows x two scalar broadcasts (corpus doc count, ordered-fold ECE)",
      "q163_quality_drift" -> "S x 10-decile spine (q151's shared chiSquareByBucket: source counts x bucket counts x scalar N, all broadcast)",
      "q161_epoch_allocation" -> "source rows x scalar broadcasts (max source size, ordered-fold weight sum)",
      "q183_training_manifest" -> "q161's planner spine (source rows x scalar broadcasts) feeding the doc-side equi-join",
      "q164_label_noise" -> "bounded slice (vec_id<200) through bruteForceKnn: query batch broadcasts, slice streams; corpus path swaps in lshKnn/ivfKnn",
      "q171_ivf_cell_balance" -> "K cell-count rows x one-row broadcast holding the scalar corpus total",
      "q176_dsir_selection" -> "nBuckets bucket rows x one-row broadcast holding the scalar occurrence totals",
      "q178_nb_classifier_audit" -> "vocab rows x one-row broadcast of (V, N+, N-); doc rows x one-row broadcast of the class prior",
      "q180_ivf_recall_curve" -> "bounded audit: query batch x K centroids, candidates x 8-row nprobe spine, brute reference x corpus, one-row totals",
      "q181_ivf_delete_serve" -> "bounded query batch x K-row broadcast of the persisted quantizer (the probeSearch serve join)",
      "q186_gate_disagreement" -> "q178's NB kernel: vocab rows x one-row broadcast of (V, N+, N-); doc rows x one-row broadcast of the class prior",
      "q188_hybrid_rrf_retrieval" -> "the audited arms' bounded sides: q115's one-row corpus-mean doc-length broadcast (sparse) + q31's bounded query batch x corpus (dense)",
      "q189_kneser_ney_score" -> "one-row broadcast holding the scalar distinct-bigram total NN",
      "q190_jl_recall_curve" -> "bounded audit: query batch x corpus (q31's shape, twice), 4-row dim spine, one-row totals",
      // q209/q210 need no entries: their K-seed/K-centroid broadcast
      // stages sit behind localCheckpoint boundaries, so the executed
      // final plans contain no nested-loop join (the anti-rot check
      // enforces exactness, not generosity)
      "q208_graph_ann_recall" -> "bounded audit: corpus x K-seed broadcast (2-cell assignment), query batch x K centroids (entry), brute reference x corpus (q31's shape); the walk itself is equi-joins on the edge table",
      "q191_gate_operating_points" -> "19-row threshold spine x doc rows (pre-aggregation) + q178's NB scalar broadcasts",
      "q195_dedup_threshold_sweep" -> "per-cut one-row aggregate crossJoins (scalar pair counts) over the bounded q85 slice",
      "q197_embedding_cell_drift" -> "q151's shared chiSquareByBucket: 2-window x K-cell spine + scalar N + scalar cell count, all broadcast",
      "q200_retrieval_eval" -> "the audited engines' bounded sides: q115's one-row avgdl broadcast, q31's bounded query batch x corpus (dense arm), and the query-count-sized n_rel/idcg broadcasts onto 15 metric rows",
      "q201_embedding_drift_cells" -> "K cell rows x one-row broadcast of the two window totals (q171's shape)",
      "q203_doremi_weights" -> "q189's one-row NN broadcast + source rows x two one-row broadcasts (corpus totals, ordered-fold weight normalizer)",
      "q204_hard_negative_mining" -> "bounded anchor batch (doc_id<20) x text embeddings through bruteForceKnn (q31's shape); corpus path swaps in the IVF/LSH serving"
      // q206 is absent: it searches a checkpointed BM25 index, so its
      // plan holds no avgdl broadcast. q115/q188/q200 search once and
      // plan the index build inline; the build is also audited on its
      // own below.
    )
    val bad = scala.collection.mutable.ListBuffer[String]()
    val observedBnlj = scala.collection.mutable.TreeSet[String]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val nodes = try collectNodes(fn(spark, sfDir)) catch {
        case e: Throwable =>
          bad += s"$name: failed to execute (${e.getMessage})"; Nil
      }
      if (nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]))
        bad += s"$name: CartesianProduct"
      if (nodes.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]))
        observedBnlj += name
    }
    assert(bad.isEmpty, "scale-killer plan nodes:\n" + bad.mkString("\n"))
    // exact match both ways: an unlisted BNLJ is a scale killer, and a
    // whitelist entry whose query no longer nested-loops is rot that
    // would silently excuse a future regression
    val unlisted = observedBnlj.toSet -- bnljWhitelist.keySet
    assert(unlisted.isEmpty,
      s"BroadcastNestedLoopJoin outside the whitelist: $unlisted")
    val stale = bnljWhitelist.keySet -- observedBnlj
    assert(stale.isEmpty,
      s"whitelist entries whose plans no longer nested-loop: $stale")
  }

  test("the BM25 index build aggregates the postings once and nested-loops only onto the one-row avgdl") {
    val docs = Tables.documents(spark, sfDir)
    val tf = graft.index.Retrieval.postings(graft.text.Normalize.tokens(docs))
    val index = graft.index.Retrieval.bm25Index(tf, docs.count())
    val nodes = collectNodes(index)
    val bnlj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size == 1, s"expected the one avgdl nested-loop join, got ${bnlj.size}")
    assert(bnlj.head.right.output.map(_.name) == Seq("avgdl"))
    val buildRows = bnlj.head.right.collect {
      case b: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec =>
        b.getRuntimeStatistics.rowCount
    }
    assert(buildRows == Seq(Some(BigInt(1))), s"avgdl build side rows: $buildRows")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
    // dl and df come from aggregates, not window sorts
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]))
    // the one broadcast hint is on the one-row avgdl: a hint ignores
    // the size threshold, so one on the document-sized dl side would
    // ship a row per document to every executor
    val hinted = index.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.flatMap { j =>
      Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
        case (Some(h), side) if h.strategy.contains(
            org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
          side.output.map(_.name)
      }
    }
    assert(hinted == Seq(Seq("avgdl")), s"broadcast-hinted join sides: $hinted")
    // the dl, df and avgdl branches reuse the postings exchange
    val postingsShuffles = nodes.collect {
      case e: ShuffleExchangeLike => e.outputPartitioning
    }.collect {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
    }.count(_ == Seq("term", "doc_id"))
    assert(postingsShuffles == 1,
      s"the token stream was aggregated and shuffled $postingsShuffles times")
  }

  test("a search over bm25Stats exchanges only per-partition top-k rows, on qid") {
    val docs = Tables.documents(spark, sfDir)
    val stats = graft.index.Retrieval.bm25Stats(
      graft.index.Retrieval.postings(graft.text.Normalize.tokens(docs)), docs.count())
    try {
      import spark.implicits._
      val qdf = graft.text.Normalize.tokens(Seq((0L, "the quick data pipeline")).toDF("doc_id", "text"))
        .select(org.apache.spark.sql.functions.col("doc_id").as("qid"),
          org.apache.spark.sql.functions.col("term")).distinct()
      val search = graft.index.Retrieval.searchBm25FromStats(stats, qdf, 10)
      val nodes = collectNodes(search)
      val plan = search.queryExecution.executedPlan.toString
      // the index is partitioned on doc_id, so the per-(qid, doc_id)
      // fold runs in the scan stage; the query terms fold to a local
      // relation on the driver
      val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size == 1, s"expected one shuffle\n$plan")
      val keys = shuffles.head.outputPartitioning match {
        case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
        case other => Seq(other.toString)
      }
      assert(keys == Seq("qid"), s"the one shuffle is not hashpartitioning(qid)\n$plan")
      val partialLimit = shuffles.head.child.exists {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.mode == org.apache.spark.sql.execution.window.Partial
        case _ => false
      }
      assert(partialLimit, s"the qid exchange does not sit above a partial top-k\n$plan")
      val broadcast = nodes.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b.child
      }
      assert(broadcast.nonEmpty && broadcast.forall(
        _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
        s"the query side is not a local table scan\n$plan")
      assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]))
    } finally stats.release()
  }

  test("q159 memorization risk: one content-keyed exchange feeds both aggregates") {
    val nodes = collectNodes(CurationOps.q159.build(spark, sfDir))
    // exchange 0 (r15): the Tables.fanout scan-parallelism guard —
    // fires only on the single-row-group fixture layout (identity on a
    // production multi-split layout, see Tables.fanout); exchange 1:
    // hash on the window hash g — HashPartitioning(g) satisfies both
    // the (g, doc_id) and the (g) aggregates, so they run
    // partition-local on it; exchange 2: the sink's range sort of
    // the audit-sized survivors. A fourth exchange means an aggregate
    // re-shuffled the corpus-sized occurrence rows.
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"q159 plan has $shuffles exchanges")
    // span text rejoins on the survivors via broadcast, never sort-merge
    assert(nodes.count(_.isInstanceOf[SortMergeJoinExec]) == 0,
      "survivor rejoin degraded to a corpus sort-merge join")
  }

  test("nearest-center assignment is a pure map: zero exchanges") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id").as("id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("vec"))
    val centers = Array.tabulate(4, 8)((i, j) => (i * 8 + j + 1).toDouble)
    val assigned = graft.cluster.KMeansAssign.assignMap(emb, centers)
    val shuffles = collectNodes(assigned).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles == 0, "broadcast-map assignment must not shuffle the points")
  }
}
