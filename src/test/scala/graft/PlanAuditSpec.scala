package graft

/** The round-7 plan sweep (SCALE.md) promoted to a CI gate (round 10, VERDICT r9
  * #6): every declared query's plan is audited for the three shapes that
  * sink a 100 TB run, so the next window-key trap or accidental cross
  * join cannot land silently.
  *
  *  (a) CartesianProduct — never allowed. All intentional cross joins in
  *      the library are one-row or broadcast-tiny and plan as
  *      BroadcastNestedLoopJoin, so any CartesianProduct is a bug. The
  *      same holds for a block kNN search (`KnnBlock`) placed per
  *      partition pair instead of with a broadcast query block.
  *  (b) BroadcastNestedLoopJoin — allowed ONLY on the whitelist below:
  *      each entry is an intentional one-row-broadcast crossJoin (a
  *      scalar aggregate — centroid norms, corpus totals, min/max range,
  *      count frames — joined onto a big stream) or a known-small
  *      broadcast (the ≤20-row literal-bounded query block, the
  *      nClasses/band/bit range frames). A new BNLJ query must be added
  *      here deliberately, with the same justification.
  *  (c) A global-order window (empty partitionSpec + orderSpec) — the
  *      single-task sort. Legal ONLY over provably bounded input (the
  *      Rank.scala header rule: bin counts, per-class/per-type rows,
  *      top-k-limited frames, eval-set-scoped metrics) — whitelisted
  *      per query with the bound named.
  *
  * Plans are CONSTRUCTED, not run (eager-checkpoint operators do execute
  * their loop during construction — that is what makes their plans
  * auditable at all); one pass over the inventory shared by all three
  * tests. sf0.001 keeps the eager work small; plan SHAPE is
  * SF-independent (the same query builders the sf0.1 bench runs).
  */
class PlanAuditSpec extends SparkSpecBase {

  /** BNLJ whitelist — intentional one-row/tiny-broadcast cross joins. */
  private val bnljAllowed = Set(
    "agg_benford", "agg_trimmed_mean",
    // quantile cut: 4-row per-mille broadcast against the distinct frame
    "agg_group_quantiles",
    // ANN family: centroid/codebook frames (≤ cells·m rows) and scalar
    // norm/total aggregates broadcast against the corpus stream
    "ann_cosine_topk", "ann_hamming", "ann_ivf", "ann_ivf_kmeans", "ann_ndcg",
    "ann_ivf_pq", "ann_pq", "ann_pq_chunked", "ann_pq_distortion",
    "ann_recall", "ann_rerank",
    "corpus_apportion", "corpus_mix_temperature",
    "dedup_embedding", "dedup_semantic", "dedup_semantic2",
    // simhash: the broadcast band-range frame (simBands rows)
    "dedup_simhash", "dedup_simhash64",
    "embedding_cell_balance", "embedding_outliers", "embedding_pca",
    // mmr: the ≤10-row literal-bounded query block (Knn.knn hint)
    "embedding_mmr",
    // cuped: one-row time-midpoint broadcast onto the event stream
    "events_cuped",
    // permutation test: one-row observed-difference broadcast onto the
    // 64-row replicate frame, then two one-row aggregates crossed
    "stats_permutation",
    // subword segmenters: the one-row vocab-MAP broadcast (≤ 64 + |alphabet|
    // entries) crossed onto the distinct-word frame
    "tokenizer_wordpiece", "tokenizer_viterbi",
    "events_cooccur", "events_power_users", "events_rfm",
    "events_time_to_convert",
    // markov: one-row renormalization total + state-count broadcasts
    "events_markov_stationary",
    // FkNN: the class-range frame (nClasses rows); the neighbour
    // searches themselves, `_local`'s per-block ones too, plan as KnnBlock
    "fknn_classify", "fknn_classify_chunked", "fknn_classify_local",
    "fknn_membership_chunked", "fknn_membership_init",
    // hits: per-round one-row L1-normalization totals + node-count frame
    "graph_hits",
    // market basket: one-row n_orders total onto the pair stream
    "market_basket",
    "graph_modularity", "graph_triangles",
    // scalar min/max/total one-row frames joined onto the stream
    "normalize_minmax", "pairwise_distance", "pairwise_distance_l1",
    "quality_ks_drift", "quality_perplexity", "quality_psi_drift",
    "sketch_kmv", "sql_q11", "sql_q22",
    // chisq: marginal-grid cross (|types|·|buckets| rows) + one-row
    // total/dims broadcasts
    "stats_chisq",
    // bootstrap: one-row corpus-stats broadcast onto the B-row frame
    "stats_bootstrap_ci",
    // kendall: inequality self-join over the ≤|X|·|Y|-cell broadcast
    // grid + one-row tie/total frames
    "stats_kendall",
    // fdr_bh: the kendall grid + one-row component frames ride inside
    // the spliced battery
    "stats_fdr_bh",
    // kruskal: one-row N/ties total onto the per-group frame
    "stats_kruskal",
    // tcloseness: one-row corpus total onto the class-segment frame
    "anon_tcloseness",
    // silhouette: ≤|labels|-row centroid frame against the corpus stream
    "embedding_silhouette",
    "text_bm25", "text_collocations", "text_tfidf")

  /** Global-order-window whitelist — every input provably bounded. */
  private val globalWindowAllowed = Set(
    "agg_gini",            // cumulated over per-customer aggregate (≤ |customers| at eval slice; Lorenz rank)
    "agg_trimmed_mean",    // rank over one group's bounded value rows
    "ann_pq_distortion",   // quantile edges over ≤ codebook-sized distortion rows
    "auc_binary",          // eval-set-scoped rank statistic (aucBinaryBucketed is the scale twin)
    "corpus_apportion",    // source-count frame (≤ |sources| rows)
    "corpus_token_budget", // Rank.prefixSum offsets frame (≤ #partitions rows)
    "tokenizer_wordpiece", // vocab top-64 rank over the substring-count frame (corpus_zipf rule)
    "tokenizer_viterbi",   // same shared vocab build
    "tokenizer_unigram_train", // seed + trained-piece ranks over vocab-sized frames (≤ SeedV + alphabet rows)
    "corpus_zipf",         // vocab rank on the declared slice (Rank.prefixSum is the scale form)
    "dedup_suffix",        // Rank.globalRank offsets frame (≤ #partitions rows)
    "embedding_outliers",  // quantile edges over ≤ bins rows (×3)
    "events_paths",        // top-k-limited path frame
    "events_power_users",  // decile cut over the per-user aggregate (rfm note)
    "events_rfm",          // same per-user aggregate bound
    "events_slo_burn",     // hourly frame (calendar-bounded)
    "graph_random_walk",   // Rank offsets frame inside adjacencyIndexed (≤ #partitions rows)
    "graph_walk_cooccur",  // same shared walk build
    "graph_node2vec_walk", // same adjacencyIndexed offsets frame
    "events_time_to_convert", // per-bin quantile frame
    "metrics_pr_auc",      // descending cumulative over ≤16 score bins
    "quality_ks_drift",    // cumulative dist over fixed histogram bins (×2)
    "skyline_pareto",      // sweep over the per-size frame (≤ |p_size| = 50 rows)
    "stats_bootstrap_ci",  // rank cut over the B = 64 replicate-mean frame
    "stats_fdr_bh",        // BH rank over the m = 6 battery-statistic frame (+ the components' Rank offsets frames)
    "stats_kruskal",       // Rank.midranks offsets frame (≤ #partitions rows)
    "stats_mannwhitney",   // Rank offsets frame (≤ #partitions rows)
    "stats_spearman",      // Rank.midranks offsets frame (×2, ≤ #partitions rows)
    "ts_bollinger",        // hourly frame (calendar-bounded)
    "ts_rsi")              // hourly frame (calendar-bounded, ×2)

  /** One construction pass: name → (executedPlan text, #global windows). */
  private lazy val audited: Map[String, (String, Int)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, sfDir).queryExecution
      val gw = qe.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty && w.orderSpec.nonEmpty => w
      }.size
      val txt = qe.executedPlan.toString
      spark.catalog.clearCache()
      name -> (txt, gw)
    }.toMap

  test("no declared query plans a CartesianProduct") {
    // a block kNN search placed per partition pair is the same placement
    val partitionedBlock = "KnnBlock [^\n]*, partitioned ".r
    val offenders = audited.collect {
      case (name, (plan, _))
        if plan.contains("CartesianProduct") || partitionedBlock.findFirstIn(plan).nonEmpty => name
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.toSeq.sorted}")
  }

  test("BroadcastNestedLoopJoin only on the one-row-broadcast whitelist") {
    val offenders = audited.collect {
      case (name, (plan, _))
        if plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name) => name
    }
    assert(offenders.isEmpty,
      s"unwhitelisted BNLJ in: ${offenders.toSeq.sorted} — if intentional " +
        "(one-row/tiny broadcast), add to bnljAllowed with the bound named")
  }

  test("global-order windows only over provably bounded inputs (Rank.scala rule)") {
    val offenders = audited.collect {
      case (name, (_, gw)) if gw > 0 && !globalWindowAllowed(name) => name
    }
    assert(offenders.isEmpty,
      s"unwhitelisted global-order window in: ${offenders.toSeq.sorted} — " +
        "either partition the window, use the distributed twin pattern " +
        "(Rank.prefixSum / aucBinaryBucketed), or " +
        "whitelist with the input bound named")
  }

  test("every declared query is audited (inventory drift guard)") {
    assert(audited.size === SparkEntry.queries.size)
    // whitelists must not rot: every entry still names a declared query
    val ghost = (bnljAllowed ++ globalWindowAllowed).filterNot(SparkEntry.queries.contains)
    assert(ghost.isEmpty, s"whitelist entries for undeclared queries: $ghost")
  }
}
