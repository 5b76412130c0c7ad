package graft

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.operators.Dedup

/** Plan-shape assertions for the exact pair joins: the triangle-blocked
  * layout must plan as a shuffle equi-join on the block-pair key —
  * never BroadcastNestedLoopJoin / CartesianProduct, whose single
  * over-wide tasks are the scale-killer the blocking exists to avoid.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def assertNoNestedLoop(plan: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair join must not plan a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"pair join must not plan a cartesian product:\n$plan")
  }

  test("persisted graph point reads prune to one type partition") {
    val pg = graft.graph.MemoryGraph.persisted(spark, sf)
    def partitionFilters(plan: String): String = {
      val i = plan.indexOf("PartitionFilters: [")
      assert(i >= 0, s"expected a partitioned scan:\n$plan")
      plan.substring(i, plan.indexOf("]", i))
    }
    val nodePlan = pg.node("ent:c:42").queryExecution.executedPlan.toString
    assert(partitionFilters(nodePlan).contains("ntype"),
      s"node lookup must prune on the ntype partition:\n$nodePlan")
    val edgePlan = pg.edges.where($"etype" === "invalidates")
      .queryExecution.executedPlan.toString
    assert(partitionFilters(edgePlan).contains("etype"),
      s"edge-type scan must prune on the etype partition:\n$edgePlan")
  }

  test("content point lookups prune ntype and plan as bounded point reads") {
    val pg = graft.graph.MemoryGraph.persisted(spark, sf)
    Seq(pg.findByName("entity", "customer#000000042") -> "entity",
        pg.findFactByContent("slow small filter") -> "fact",
        pg.findDecisionByTitle("URGENT") -> "decision").foreach {
      case (df, nt) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains(s"ntype#") && plan.contains(s"= $nt)"),
          s"$nt lookup must prune on its ntype partition:\n$plan")
        assert(plan.contains("TakeOrderedAndProject"),
          s"$nt lookup must plan a bounded point read, not a sort:\n$plan")
    }
  }

  test("embeddingPairs plans as an equi-join on block pairs") {
    val df = Dedup.embeddingPairs(Tables.embeddings(spark, sf),
      "vec_id", "embedding", tau = 0.40)
    assertNoNestedLoop(df.queryExecution.executedPlan.toString)
  }

  test("keyedEmbeddingPairs plans as an equi-join on (key, block pair)") {
    val df = Dedup.keyedEmbeddingPairs(Tables.embeddings(spark, sf),
      "vec_id", "embedding", "label", tau = 0.30)
    assertNoNestedLoop(df.queryExecution.executedPlan.toString)
  }

  test("blocked embeddingPairs output equals the unblocked all-pairs join") {
    val e = Tables.embeddings(spark, sf)
    val blocked = Dedup.embeddingPairs(e, "vec_id", "embedding", 0.40)
      .orderBy($"id_a", $"id_b").collect().toSeq
    // reference formulation: plain quadratic join (small SF only)
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("va"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("vb"))
    val direct = a.join(b, $"id_a" < $"id_b")
      .withColumn("sim", graft.functions.VectorOps.cosine6($"va", $"vb"))
      .where($"sim" >= 0.40)
      .select($"id_a", $"id_b", $"sim")
      .orderBy($"id_a", $"id_b").collect().toSeq
    assert(blocked === direct)
  }

  test("batch sessionize shuffles once: groupBy reuses the window's partitioning") {
    val df = graft.streaming.Streams
      .sessionize(Tables.events(spark, sf), gapUs = 30L * 60 * 1000000).toDF()
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected a single shuffle (window on user_id, agg reuses it):\n$plan")
  }

  test("no query in the inventory plans an unbounded nested loop") {
    // BroadcastNestedLoopJoin is legitimate ONLY when one side is a
    // broadcast of constant size (a scalar count, a <=10-row query
    // set, a <=k-centroid table): cost O(n*k), k tiny. Everything
    // else must be an equi-join. CartesianProduct is never OK.
    val boundedCrossJoins = Set(
      "b2_list_nodes", "b19_list_valid", // broadcast total_count scalar
      "b17_batch_ingest",                // broadcast batch_nodes scalar
      "b8_semantic_topk", "b12_analyze", // broadcast query vector
      "c6_ann_bruteforce", "c15_text_ann", // broadcast query set
      "c13_ann_ivf", "c17_ann_ivf_trained", // broadcast centroids
      "c29_ann_index_probe",                // broadcast centroids
      "c24_quantized_ann",  // broadcast 1-row quant scale + query set
      "c26_domain_mix",     // broadcast 1-row corpus totals
      "c28_lm_surprisal",   // broadcast 1-row total-token count
      "c31_vocab_stats",    // broadcast 1-row vocab totals
      "c32_mix_apply",      // broadcast 1-row corpus totals
      "c86_epoch_repeat",   // broadcast 1-row corpus totals (c32 class)
      "c35_cluster_profile", // broadcast centroids
      "c36_bm25_retrieval", // broadcast 1-row corpus totals
      "d12_stream_cluster_assign", // broadcast 1-row centroid array
      "d11_stream_window_cm", // broadcast fixed probe-set grid
      "c40_importance_select", // broadcast 1-row model totals
      "d13_stream_importance", // broadcast 1-row totals + threshold row
      "c42_bigram_counts",     // broadcast 1-row pair totals
      "c45_bpe_train",         // broadcast 1-row argmax pair + totals
      "c43_source_drift",      // broadcast bounded bucket grid + totals
      "d16_stream_source_drift", // broadcast bounded bucket grid + totals
      "c44_chunk_retrieval",   // broadcast query set
      "c46_chunk_index_recall", // broadcast query set + centroids
      "d15_stream_retrieval",  // broadcast centroids (query probe)
      "c49_bpe_apply",         // broadcast 1-row merge per step (k=3)
      "c47_bpe_encode",        // broadcast 1-row merge per step (k=3,
                               // the r15 at-rest-merges apply replay)
      "d18_stream_bpe_encode", // broadcast 1-row merge per step (k=3)
      "c50_bigram_surprisal",  // broadcast 1-row total-token count
      "d19_stream_surprisal",  // broadcast 1-row total-token count
      "c59_ann_nprobe_curve",  // broadcast centroids + query set (c17 thrice)
      "c61_pq_ann",            // broadcast codebooks + query set + norms
      "c62_ivfpq",             // broadcast coarse cents + codebooks + queries
      "c52_trigram_surprisal", // broadcast 1-row total-token count
      "c54_bpe_batch_train",   // broadcast 1-row merge slot per (r, j)
      "c55_moore_lewis",       // broadcast 1-row totals, both LMs
      "c56_tokenizer_fertility", // broadcast 1-row merge per step
      "d22_stream_moore_lewis",  // broadcast 1-row totals, both LMs
      "c63_bpe_curve",       // broadcast 1-row argmax pair + raw total
      "c64_length_trim",     // broadcast 1-row threshold band
      "c65_tfidf_keywords",  // broadcast 1-row doc count
      "d25_stream_length_gate", // broadcast 1-row threshold band
      "a19_funnel",             // broadcast 1-row step-1 count
      "c69_embedding_health",   // broadcast 1-row quant scale
      "c70_lsh_precision",      // broadcast 1-row verified count
      "c71_quality_calibration", // broadcast 1-row total-token count (c28)
      "c72_mix_temperature_curve", // broadcast 1-row corpus totals
      "c79_ivf_append",        // broadcast 1-row centroid array
      "d32_stream_ivf_append", // broadcast 1-row centroid array
      "c80_centroid_retrain",  // broadcast 1-row centroid arrays (old+new)
      "c81_retrain_migration", // broadcast 1-row centroid arrays (old+new)
      "c82_retrain_recall",    // broadcast centroids + query set (c17 class)
      "c83_filtered_ann",      // broadcast centroids (query probe)
      "c84_ann_label_partition", // broadcast centroids (query probe)
      "c87_hard_negatives",    // broadcast centroids (query probe)
      "d34_stream_filtered_ann", // broadcast centroids (query probe)
      "d36_stream_retrain_cycle", // broadcast 1-row trigger + centroid arrays
      "d37_stream_ann_freshness", // broadcast centroids (query probe)
      "c89_takedown_audit",      // broadcast 1-row map-size totals
      "d39_stream_delete_feed",  // broadcast 1-row member total
      "c90_surprisal_quantile_sketch", // broadcast 1-row sketch total
      "c92_sketch_ks_drift",     // broadcast 1-row blend total
      "d40_stream_sketch_fold",  // broadcast 1-row sketch total
      "d42_stream_ks_monitor",   // broadcast 1-row blend total (c92)
      "c99_perplexity_buckets",  // broadcast 1-row tercile thresholds + LM totals (c50 class)
      "d45_stream_perplexity_router", // broadcast 1-row frozen thresholds + LM totals (c99 class)
      "c100_data_card",          // broadcast 1-row blend total (the c92 ks pass)
      "c102_hamming_ann",        // broadcast 1-row thresholds + query codes (c24 class)
      "c104_hybrid_rrf",         // broadcast eval vectors + 1-row BM25 totals (c6/c36 class)
      "c107_kmv_set_ops",        // broadcast |sources| pair grid over k-row states
      "d48_stream_kmv_setops",   // broadcast |sources| pair grid (c107 class)
      "c108_threshold_sweep",    // broadcast |taus|-row grid over verified pairs
      "c110_contamination_report", // broadcast eval side, all four legs (c27/c36/c6 class)
      "d51_stream_contamination_route", // broadcast arrival side, frozen train legs (c110 class)
      "c111_jackknife_influence", // broadcast 1-row corpus totals (c26 class)
      "c113_dedup_certificate",  // broadcast 1-row survivor/residual totals
      "c115_ann_pareto")         // broadcast 1-row audit totals per member + the c6-class exact baseline + query-side probes (c17/c24/c61/c62/c102 classes composed)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
      if (!boundedCrossJoins(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the bounded allowlist")
    }
  }

  test("winnowing prints head is map-side: no WindowExec and no " +
      "exchange before the fingerprint rows exist") {
    // Third-generation c103 (round 13): prints are a pure per-doc
    // function computed by the native WinnowPrints expression, so
    // the plan between the parquet scan and the print rows must be
    // projection + generate ONLY — the r12 lead-chain plan's
    // doc-keyed WindowExec (a full token-stream shuffle+sort) and
    // the follow-up distinct exchange must never come back.
    val plan = graft.operators.Dedup.winnowingPrints(
        graft.model.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window ["),
      s"winnowingPrints must not plan a WindowExec:\n$plan")
    assert(!plan.contains("Exchange"),
      s"winnowingPrints must be map-side end-to-end:\n$plan")
    assert(plan.contains("winnow_prints"),
      s"the native expression must be in the plan:\n$plan")
  }

  test("window-hash count trio plans partial aggregation on h — no WindowExec") {
    // c57/c78/c85 count/rank occurrences of a corpus-scale window/block
    // hash. A per-hash WindowExec has NO partial aggregation — a viral
    // boilerplate window occurring 1e8+ times lands in one sorted task
    // at 100 TB — so the trio must plan the count as a map-side-
    // combinable aggregate on h joined back (AQE-skew-splittable),
    // never a Window over the hash key.
    val aggOnH = "(Hash|ObjectHash|Sort)Aggregate\\(keys?=\\[h#\\d+L?\\], functions=\\[partial_".r
    Seq("c57_dup_window_rate", "c78_span_dedup_apply",
        "c85_paragraph_dedup").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window ["),
        s"$name must not plan a per-hash WindowExec:\n$plan")
      assert(aggOnH.findFirstIn(plan).isDefined,
        s"$name must plan a partial aggregate keyed on h:\n$plan")
    }
  }

  test("curation exact-dedup + band-claim plans: keeper via partial " +
      "aggregate on the corpus key — no WindowExec") {
    // Round-11 close of the WindowExec-on-corpus-key class: c19/c60's
    // exact-dedup keeper (min id per content fingerprint) and c20's
    // band-bucket owner (min did per (band_idx, band_val)) must plan
    // as map-side-combinable aggregates + dup-filtered join-back,
    // never a Window over the corpus-cardinality key (a viral
    // duplicate would land its whole cluster in one sorted task).
    val aggOnFp =
      "(Hash|ObjectHash|Sort)Aggregate\\(keys?=\\[ex_fp#\\d+L?\\], functions=\\[partial_".r
    val aggOnBand =
      "(Hash|ObjectHash|Sort)Aggregate\\(keys?=\\[band_idx#\\d+, band_val#\\d+[^\\]]*\\], functions=\\[partial_".r
    // c19's final frame keeps the exact-dedup branch lazy: assert the
    // full executed plan. (c60 materializes the stage behind a
    // barrier, so its final plan can't show the agg — it routes
    // through the same exactSurvivors helper asserted directly below.)
    val p19 = SparkEntry.queries("c19_curate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p19.contains("Window ["),
      s"c19_curate must not plan a per-fingerprint WindowExec:\n$p19")
    assert(aggOnFp.findFirstIn(p19).isDefined,
      s"c19_curate must plan a partial aggregate keyed on ex_fp:\n$p19")
    val pHelper = graft.operators.Curate.exactSurvivors(
        graft.model.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!pHelper.contains("Window [") &&
        aggOnFp.findFirstIn(pHelper).isDefined,
      s"exactSurvivors (c19/c60 stage) must plan partial agg on ex_fp:\n$pHelper")
    val p20 = SparkEntry.queries("c20_neardup_novelty")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p20.contains("Window ["),
      s"c20_neardup_novelty must not plan a per-bucket WindowExec:\n$p20")
    assert(aggOnBand.findFirstIn(p20).isDefined,
      s"c20_neardup_novelty must plan a partial aggregate on the band key:\n$p20")
  }

  test("c95 bottom-k sample plans the partial TopKPerKey heap over a " +
      "map-side-combinable hash agg — no WindowExec") {
    val p = SparkEntry.queries("c95_bottomk_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window ["),
      s"c95 must not rank with a per-stratum WindowExec:\n$p")
    assert(p.contains("TopKPerKeyPartial"),
      s"c95 must plan the partial bounded heap before the exchange:\n$p")
    assert("functions=\\[partial_min".r.findFirstIn(p).isDefined,
      s"c95's (stratum, h) collapse must partial-aggregate:\n$p")
    assertNoNestedLoop(p)
  }

  test("c96 pca rounds plan broadcast joins over the barriered codes — " +
      "no WindowExec, no nested loop beyond the one-row totals") {
    val p = SparkEntry.queries("c96_embedding_pca")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window ["),
      s"c96 must not plan any WindowExec:\n$p")
    // the per-round v/m/n artifacts join back as broadcasts: the
    // only nested-loop joins allowed are the one-row scalar
    // crossJoins (mv, n, mx — the allowlisted bounded class)
    assert(p.contains("BroadcastHashJoin"),
      s"c96's dim joins must broadcast the 64-row artifacts:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"c96 must not plan a cartesian product:\n$p")
  }

  test("fuzzy decontamination candidate joins broadcast the eval side") {
    // c76/d30's scale contract: candidate generation is train-bands
    // against the BROADCAST eval bands — never a corpus self-join.
    // The explicit broadcast() must survive planning as a
    // BroadcastHashJoin on (band_idx, band_val).
    Seq("c76_fuzzy_decontaminate", "d30_stream_fuzzy_decontaminate")
      .foreach { name =>
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        assert(plan.contains("BroadcastHashJoin"),
          s"$name should broadcast the eval bands:\n$plan")
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name must stay an equi-join")
      }
  }

  test("IVF probes dynamic-partition-prune the inverted-lists scan") {
    // The index-probe queries exist to NOT read the whole index: the
    // lists parquet is partitioned on c_id and the probe side
    // broadcasts, so the scan must carry a dynamicpruning partition
    // filter — without it every probe is a full-index scan and the
    // persisted layout buys nothing at 100 TB.
    Seq("c29_ann_index_probe", "d15_stream_retrieval",
        "c83_filtered_ann", "c84_ann_label_partition").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"$name must DPP-prune the lists scan:\n$plan")
    }
    // the label-partitioned layout's whole point: BOTH partition
    // columns prune — the label key must appear inside the scan's
    // PartitionFilters, not as a post-scan Filter
    val p84 = SparkEntry.queries("c84_ann_label_partition")(spark, sf)
      .queryExecution.executedPlan.toString
    val pf = p84.linesIterator.filter(_.contains("PartitionFilters"))
      .mkString("\n")
    assert(pf.contains("label"),
      s"c84 must carry the label key in PartitionFilters:\n$pf")
  }

  test("pageRank iteration aggregates with a plain sum — no per-dst array") {
    // A collect_list keyed by destination materializes a hub's whole
    // in-neighborhood as ONE row — executor OOM on skewed keys at
    // scale, and it disables map-side partial aggregation. The
    // fixed-point formulation must plan as a hash aggregate.
    val e = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c").toDF("node")
    val od = e.groupBy($"src").agg(count(lit(1)).as("od"))
    val weighted = e.join(od, "src")
    val rank = nodes.select($"node".as("id"), lit(1000000000000L).as("r"))
    val step = graft.graph.GraphAlgo
      .pageRankStep(weighted, nodes, rank, 85, 150000000000L, 4)
    val plan = step.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"pageRank step must not materialize per-dst arrays:\n$plan")
    assert(!plan.contains("sort_array"),
      s"pageRank step must not sort per-dst arrays:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_finalmerge"),
      s"pageRank step must keep map-side partial aggregation:\n$plan")
  }

  test("kmeans update folds members with a plain sum — no membership array") {
    val base = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 4.0f)),
        (2L, Seq(5.0f, 6.0f)))
      .toDF("vid", "v")
      .withColumn("vn", graft.functions.VectorOps.norm($"v"))
    val cent = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(5.0f, 6.0f)))
      .toDF("cid", "cv")
      .withColumn("cn", graft.functions.VectorOps.norm($"cv"))
    val plan = graft.operators.Ann.kmeansUpdate(base, cent)
      .queryExecution.executedPlan.toString
    // the only permitted collect_list is the per-centroid dim
    // assembly (bounded by dimensionality, ≤ 64 elements) — never one
    // keyed by cluster membership
    val folds = "collect_list\\(struct\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(folds.nonEmpty && folds.forall(_ == "dim"),
      s"kmeans update may only assemble the bounded dim array:\n$plan")
  }

  test("deduplicate (minhash candidates + verify) equals exact-pair dedup") {
    val docs = Tables.documents(spark, sf)
    val composed = Dedup.deduplicate(docs, "doc_id", "text", 0.5)
      .orderBy($"doc_id").collect().toSeq
    val exact = graft.graph.GraphAlgo
      .connectedComponents(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 0.5)
        .select($"id_a", $"id_b"))
      .select($"node".as("doc_id"), $"component".as("keeper"))
      .orderBy($"doc_id").collect().toSeq
    assert(composed === exact)
  }
}
