package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scaling probe: replicate the driver-generated documents table
  * `factor`x (doc_ids shifted per replica, a per-replica tag appended
  * to the text so replicas are not byte-identical) into a /tmp corpus
  * directory — written as `defaultParallelism` files, the layout a
  * real corpus has — then time selected full-corpus queries at 1x vs
  * `factor`x and print the time ratio. Near-linear ratios (and
  * sub-factor ratios where fixed job overhead amortizes) are the
  * evidence behind the "narrow ops run at scan speed" claims in
  * PLANS.md. The EMBEDDINGS table replicates the same way (vec_ids
  * shifted, dim 0 perturbed per replica) so ANN serving probes scale
  * their corpus side while fixed-id query batches (`vec_id < 10`)
  * stay replica-0-sized; all other tables are copied unchanged, so
  * only documents- and embeddings-driven queries scale.
  *
  * Measurement only — correctness oracles always run against the
  * untouched driver fixtures.
  *
  * Usage: runMain graft.tools.ScaleCheck <sfDir> <factor> [query...]
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    // default set: full-corpus queries with NO doc_id-range semantics.
    // (q89 decontamination is deliberately absent: it partitions on
    // doc_id >= 450, so id-shifted replicas would all land on the
    // "held-out" side and scale the benchmark instead of the corpus.)
    val names = if (args.length > 2) args.drop(2).toSeq
      else Seq("q21_doc_token_stats", "q22_word_freq", "q25_dedup_exact",
        "q54_langid", "q107_span_dedup",
        "q108_bigram_lm", "q112_source_overlap",
        "q113_sliding_span_dedup", "q114_tfidf_retrieval",
        "q143_exact_substr_spans",
        "q144_longest_repeated_substring", "q145_collocations",
        "q116_bigram_lm_score", "q134_source_divergence",
        "q136_ngram_novelty", "q140_dataset_card",
        "q146_incremental_novelty",
        // q153/q155 are deliberately absent: both run on bounded doc
        // slices (candidate audit, q85-slice clustering), so replica
        // scaling would not exercise their corpus-sized stages.
        // q156 is absent for q89's reason: its snapshots are doc_id
        // RANGES (A < 450, B >= 50), and id-shifted replicas all land
        // on B's side — the probe would scale "added" rows, not the
        // diff join both sides feed; the full-outer join's scale
        // argument is the plan pin in PLANS.md instead.
        // q160/q162/q170/q194 are absent for q153's reason (bounded doc_id
        // slices); q172 is size-invariant (constant 114-row analytic
        // table, no corpus scan); q173 is bounded-slice (doc_id < 500,
        // the q45 signature scope); q150's embeddings probe runs on request (its 1x
        // number is sub-second and the replicated-embeddings build is
        // the cost).
        "q152_data_contract", "q154_boundary_stitch",
        "q158_calibration_audit", "q159_memorization_risk",
        "q161_epoch_allocation", "q163_quality_drift",
        // q164 is deliberately absent (q153's reason: bounded
        // vec_id < 200 slice — only replica 0 would serve it; the
        // corpus-scale story is the lshKnn/ivfKnn swap, pinned in
        // PLANS.md). q165-q167 scale on the full corpus:
        "q165_embedding_outliers", "q166_dup_fraction",
        "q167_repetition_loops", "q168_embedding_coverage",
        "q169_quality_dup_entanglement",
        // q171's centers are fixture-pinned (vec_id < 8, replica 0)
        // but the assignment side scans the FULL replicated embeddings
        // corpus — exactly the index-build scale question; q174's
        // delta stays replica-0-sized while the history side scales —
        // exactly the incremental-maintenance question:
        "q171_ivf_cell_balance", "q174_ivf_upsert",
        // q180 is deliberately absent (q164's reason: bounded
        // vec_id < 10 audit batch against the vec_id < 8 fixture
        // quantizer — the corpus-scale serving story is q53's probe
        // join shape, pinned in PLANS.md). q190 is absent for the
        // same reason (bounded vec_id < 10 batch; the corpus-scale
        // half — the projection itself — is a pure codegen narrow
        // map, JlProjectExpr).
        // q177 is deliberately absent: id-shifted replicas land in the
        // SAME doc_id % 50 pattern group (10^7 is a multiple of 50),
        // so the fixture's verified-pair output grows quadratically in
        // the replica count by construction — the probe would measure
        // the synthetic image generator's group layout, not the op
        // (whose join is banded, never all-pairs; q45's argument).
        "q175_discrimination_audit", "q176_dsir_selection",
        "q178_nb_classifier_audit", "q179_host_curation_rollup",
        // q181: the takedown strike + serve — the index/strike sides
        // scale with the replicated embeddings corpus while the query
        // batch stays replica-0-sized (q174's maintenance question)
        "q181_ivf_delete_serve",
        // q182 is deliberately absent (q153's reason: the exact
        // all-pairs funnel stage runs on q85's doc_id < 100 slice —
        // only replica 0 participates, so the probe measures a fixed
        // slice cost). q183 scans the full corpus (tokenize pass +
        // planner broadcast + TakeOrderedAndProject head):
        "q183_training_manifest",
        // q184 is deliberately absent: it profiles the documents TABLE
        // column-by-column (exact distinct per column) — replica
        // scaling would measure countDistinct over near-identical
        // replicas (text gains a rep tag, ids shift), i.e. the
        // replicator's layout, not the op; the scale story is the
        // per-column independent scan+agg shape (one pruned column per
        // job), argued in the doc comment.
        // q185 scans the FULL corpus shingle stream — the canonical
        // content-keyed exchange class (no pair joins anywhere):
        "q185_source_marginal_novelty",
        // q186/q191 ride the q178 NB chain (corpus pass + vocab join)
        // plus row-local fixed-gate arithmetic; q191 additionally
        // fans the 19-row spine pre-aggregation:
        "q186_gate_disagreement", "q191_gate_operating_points",
        // q187's corpus-sized stage is the (source, term) freq agg;
        // the regression runs on the vocabulary table:
        "q187_zipf_audit",
        // q188's corpus-side arms scale (postings build + brute-force
        // dense scan) while the query batch stays replica-0-pinned
        // (doc_id < 5 — q174's maintenance-question shape):
        "q188_hybrid_rrf_retrieval",
        // q189 trains + scores on the full corpus (q116's shape plus
        // one extra vocabulary-sized w2 window):
        "q189_kneser_ney_score",
        // q192's corpus-sized stage is the one (source, word) agg;
        // everything after runs on the word-type table:
        "q192_unigram_segmentation",
        // q193's documents/postings/dup-group stores scale with the
        // corpus (its band store rides the fixed q45 doc_id < 500
        // signature scope — replica 0 only, a constant term):
        "q193_takedown_propagation",
        // q197/q201 scan the full replicated embeddings through the
        // zero-shuffle broadcast assignment map + a K-cell aggregate:
        "q197_embedding_cell_drift", "q201_embedding_drift_cells",
        // q199 is q192's shape twice (one corpus agg, then word-type-
        // bounded E-step/M-step/second segmentation):
        "q199_unigram_em_round",
        // q200's corpus-side arms scale (postings build, dense scan,
        // the query-side-bounded relevance join) while the 5-query
        // batch stays replica-0-pinned (q188's shape):
        "q200_retrieval_eval",
        // q202: the benchmark slice is pinned to replica-0 ids
        // ([450,500) — id-shifted replicas never land there), so the
        // filter build stays constant while the corpus screening +
        // exact-audit join scale — exactly the gate's production
        // question (broadcast-bitmap probes at scan speed vs the q89
        // exchange):
        "q202_bloom_decontamination",
        // q203 rides q189's full training chain (its scale class);
        // everything past it is source-granular:
        "q203_doremi_weights",
        // q204 is deliberately absent (q164's reason: the anchor batch
        // is bounded doc_id < 20 and the negative scan is the
        // brute-force DEMO arm — the corpus-scale serving path is the
        // q53 probe join, stated in its doc comment; its corpus-sized
        // stage, the stub embed pass, is q57's published shape).
        // q205's benchmark side is pinned ([450,500), replica 0) while
        // the corpus shingle stream it joins scales — the eval-burn
        // production question:
        "q205_eval_burn",
        // q206: ONE scaling postings build feeds all six grid arms
        // (each a posting-sized reweight) — the sweep must scale like
        // q200's lexical side, not six times it:
        "q206_bm25_tuning_curve")
        // q207 is deliberately absent (q85/q162's reason: both pair
        // arms are the doc_id < 100 exact all-pairs impact slice —
        // only replica 0 participates; the corpus-scale normalized
        // path is foldedMinhashSignatures, one more codegen expression
        // inside the SAME narrow signature map as q45's published
        // shape — zero extra passes or exchanges by construction).
        // q208 is deliberately absent (q177's reason, on the build
        // side: the fixture quantizer is pinned at nCells = 8, so
        // id-shifted embedding replicas inflate CELL SIZES instead of
        // cell COUNTS and the 2-cell edge-candidate join grows
        // quadratically in the replica count by construction — the
        // probe would measure the fixture's frozen cell layout, not
        // the op (in production nCells scales with N keeping cells
        // bounded, the standard kNN-graph build; stated in the doc
        // comment). The serve side is q180's reason (bounded
        // vec_id < 10 batch; per-hop work <= beam x m edge lookups,
        // corpus-size-independent given the graph).
        // q209 is deliberately absent (q208's reason on the build
        // side — its base graph pays the same frozen-nCells fixture
        // quadratic under replication; the incremental claim itself
        // (touched-consumer-only recompute, carry-overs by anti-join)
        // is structural and fuzz-proven in GraphUpsertSpec).
        // q210 is deliberately absent (q208's reason: same frozen-
        // nCells fixture quadratic on the build side; the delete
        // itself is anti/semi joins and the serve is q208's bounded
        // walk).
        // q195 is deliberately absent (q153's reason: the scored-pair
        // table is q85's doc_id < 100 all-pairs verification slice —
        // only replica 0 participates; at corpus scale candidates come
        // from minhashCandidates and the sweep prices the verified
        // candidate set, argued in the doc comment).
        // q196 is absent for the same reason (both signature arms ride
        // the q45 doc_id < 500 scope; the scale story is the two
        // banded joins, q45/q177's published class).
        // q198 is absent for q85's reason (doc_id < 100 exact-Jaccard
        // slice; at corpus scale candidates come from probeBandIndex
        // and the region recompute is delta-local by construction).
    val spark = session()
    val out = ensureScaledCorpus(spark, base, factor)

    val qs = graft.SparkEntry.queries
    // materialize via toRdd.count(), NOT Dataset.count(): count()
    // re-optimizes with only the row count as output, and column
    // pruning then deletes any operator whose outputs feed no key,
    // filter, or kept column — q136's whole window + sh exchange
    // vanished that way, so the probe timed a plan the query never
    // runs. toRdd executes the query's own physical plan verbatim.
    def time(n: String, dir: String): Double = {
      qs(n)(spark, dir).queryExecution.toRdd.count() // warmup/codegen
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        qs(n)(spark, dir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    println(f"[scale] ${"query"}%-26s ${"1x"}%7s ${factor + "x"}%7s  ratio (ideal <= $factor)")
    names.foreach { n =>
      val t1 = time(n, base)
      val tk = time(n, out)
      println(f"[scale] $n%-26s $t1%7.2f $tk%7.2f  ${tk / t1}%5.2fx")
    }
    spark.stop()
  }

  /** The shared local session every scale probe runs under. */
  private[tools] def session(): SparkSession = {
    val s = graft.GraftSession.forRegistry().getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Build (or reuse) the `factor`x replicated corpus for `base` and
    * return its directory — the fixture half of the probe, shared
    * with [[GraphScaleCheck]].
    *
    * Completeness + freshness sentinel: an interrupted build leaves
    * the directory partial, and a REGENERATED base fixture would
    * otherwise be silently served from a stale /tmp corpus — the
    * marker stores a fingerprint (name/size/mtime, recursive) of the
    * base tables and the build recipe; any mismatch rebuilds.
    */
  private[tools] def ensureScaledCorpus(spark: SparkSession, base: String,
                                        factor: Int): String = {
    val out = s"/tmp/graft_scale_${factor}x_" +
      base.replaceAll("[^0-9a-zA-Z.]", "_")
    // listFiles returns null (not empty) for a missing/unreadable path
    def ls(f: java.io.File): Array[java.io.File] = {
      val c = f.listFiles()
      require(c != null, s"cannot list fixture path: ${f.getAbsolutePath}")
      c
    }
    def fpOf(f: java.io.File): String =
      if (f.isDirectory)
        ls(f).sortBy(_.getName)
          .map(c => s"${c.getName}(${fpOf(c)})").mkString(",")
      else s"${f.length}:${f.lastModified}"
    val fingerprint = (ls(new java.io.File(base))
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}=${fpOf(f)}") :+ s"factor=$factor" :+ "recipe=v3")
      .mkString("\n")
    val okMarker = new java.io.File(out, "_GRAFT_SCALE_OK")
    val fresh = okMarker.exists() &&
      new String(java.nio.file.Files.readAllBytes(okMarker.toPath), "UTF-8") == fingerprint
    if (!fresh) {
      val docs = spark.read.parquet(base + "/documents.parquet")
      val rep = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))
          .withColumn("text", concat(col("text"), lit(s" rep$i")))
      }.reduce(_ unionByName _)
      rep.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(out + "/documents.parquet")
      // embeddings replicate the same way (vec_ids shifted; one dim
      // perturbed per replica so replicas are not byte-identical —
      // +i/1000 on dim 0 keeps vectors well-formed and shifts the SQ8
      // dim-0 range realistically). The ANN queries' query batch and
      // coarse centers key on vec_id < 10 / < 8, so only replica 0
      // serves them and the CORPUS side is what scales — exactly the
      // serving-scale question.
      val emb = spark.read.parquet(base + "/embeddings.parquet")
      val embRep = (0 until factor).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
          .withColumn("embedding",
            // zero-length vectors (a fixture shape the similarity
            // queries guard with len > 0) pass through untouched —
            // element_at on them would throw under ANSI, or worse
            // produce a 1-element [null] vector that slips past every
            // len > 0 guard downstream
            when(size(col("embedding")) === 0, col("embedding"))
              .otherwise(concat(
                array((element_at(col("embedding"), 1)
                  + lit(i.toFloat / 1000.0f)).cast("float")),
                slice(col("embedding"), 2, 100000))))
      }.reduce(_ unionByName _)
      embRep.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(out + "/embeddings.parquet")
      // sibling tables copy as-is — including directory-style parquet
      // tables (the single-file copy used to silently skip those)
      def copyRec(src: java.nio.file.Path, dst: java.nio.file.Path): Unit =
        if (java.nio.file.Files.isDirectory(src)) {
          java.nio.file.Files.createDirectories(dst)
          val children = java.nio.file.Files.list(src)
          try children.forEach(p => copyRec(p, dst.resolve(p.getFileName)))
          finally children.close()
        } else java.nio.file.Files.copy(src, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new java.io.File(base).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          f.getName != "documents.parquet" && f.getName != "embeddings.parquet")
        .foreach(f => copyRec(f.toPath, java.nio.file.Paths.get(out, f.getName)))
      java.nio.file.Files.write(okMarker.toPath, fingerprint.getBytes("UTF-8"))
      println(s"[scale] built ${factor}x corpus at $out")
    }
    out
  }
}
