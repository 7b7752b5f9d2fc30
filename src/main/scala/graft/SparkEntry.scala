package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Ckpt, Distance, Fknn, Knn, Metrics, SharedFrames}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` has a DuckDB twin in `oracleSql` (same column
  * names, same rounding, same tie-breaks — SURVEY §7.4 determinism rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Fknn.classifyPipeline(embTrain(spark, d), embQueries(spark, d), K, NClasses)
  }

  // ---- shared builders -----------------------------------------------

  /** embeddings with vector cast to ARRAY<DOUBLE> (SURVEY §7.4 rule #1). */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))

  private def embQueries(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") % 10 === 0)
  private def embTrain(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") % 10 =!= 0)

  private val K = 5
  private val NClasses = 10

  /** Stage 1 over the embeddings train split, `Fknn.fit`'s table fitted
    * once per (session, data dir): read by `fknn_classify`, `_chunked`,
    * `_local` and `scores`. */
  private def memShared(s: SparkSession, d: String): DataFrame =
    SharedFrames(s, d, "memberships") { Fknn.fit(embTrain(s, d), K, NClasses) }

  /** Shared stage-2 scores for the metrics family (round 10, VERDICT r9
    * #1), wide (q_id, u): every metric row reads the SAME vote, where
    * round 9 had each rebuild the O(N²) classify pipeline (family 2.76 s →
    * 6.13 s driver). Stage 2 runs ONCE per (session, data dir) over the
    * shared fitted table; the memo keeps the checkpoint, |queries| rows.
    */
  private def scoresShared(s: SparkSession, d: String): DataFrame =
    SharedFrames(s, d, "scores") {
      Ckpt.truncate(Fknn.scores(memShared(s, d), embQueries(s, d), K))
    }

  /** The shared scores' long view (q_id, class, u). */
  private def scoreRows(s: SparkSession, d: String): DataFrame =
    Fknn.scoreRows(scoresShared(s, d))

  /** Predictions projected from the shared scores by `Fknn.predict`'s
    * argmax rule, so every prediction row matches its unchanged oracle. */
  private def predShared(s: SparkSession, d: String): DataFrame =
    Fknn.argmax(scoresShared(s, d))

  /** Release the shared fitted table and scores. */
  def releaseShared(): Unit = SharedFrames.release("scores", "memberships")

  // ---- DuckDB SQL fragments (shared across oracle twins) ---------------

  /** Euclidean / Manhattan distance between two DOUBLE[] columns in
    * DuckDB SQL — the shared fold-order-exact fragments
    * (`graft.rel.Queries.l2Sql`/`l1Sql`; one definition repo-wide).
    * Float literals in this file use e-notation so DuckDB types them
    * DOUBLE (bare 0.49 would be DECIMAL).
    */
  private def distSql(a: String, b: String): String = graft.rel.Queries.l2Sql(a, b)
  private def distL1Sql(a: String, b: String): String = graft.rel.Queries.l1Sql(a, b)

  private val embCte =
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings), " +
      "qs AS (SELECT * FROM e WHERE vec_id % 10 = 0), " +
      "tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0)"

  /** Stage-1 membership CTE chain (over `tr`), long form, k=5, 10 classes. */
  private val memCte =
    s"tp AS (SELECT a.vec_id AS q_id, b.vec_id AS t_id, ${distSql("a.v", "b.v")} AS dist " +
      "FROM tr a CROSS JOIN tr b WHERE a.vec_id <> b.vec_id), " +
      "tk AS (SELECT q_id, t_id, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM tp), " +
      s"nb AS (SELECT tk.q_id, t2.label AS class FROM tk JOIN tr t2 ON t2.vec_id = tk.t_id WHERE tk.rn <= $K), " +
      "cnts AS (SELECT q_id, class, count(*) AS n FROM nb GROUP BY 1, 2), " +
      s"cls AS (SELECT unnest(range($NClasses))::INT AS class), " +
      "mem AS (SELECT t.vec_id AS t_id, c.class, " +
      s"0.49e0 * coalesce(n.n, 0) / ${K}e0 + CASE WHEN c.class = t.label THEN 0.51e0 ELSE 0e0 END AS membership " +
      "FROM tr t CROSS JOIN cls c LEFT JOIN cnts n ON n.q_id = t.vec_id AND n.class = c.class)"

  /** Stage-2 classify CTE chain → rk (argmax-ready). */
  private val classifyCte =
    s"$embCte, $memCte, " +
      s"qp AS (SELECT q.vec_id AS q_id, b.vec_id AS t_id, ${distSql("q.v", "b.v")} AS dist " +
      "FROM qs q CROSS JOIN tr b), " +
      "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp), " +
      s"wts AS (SELECT q_id, t_id, 1e0/(greatest(dist, 1e-12)*greatest(dist, 1e-12)) AS w FROM qk WHERE rn <= $K), " +
      "sc AS (SELECT w.q_id, m.class, sum(m.membership * w.w)/sum(w.w) AS u " +
      "FROM wts w JOIN mem m ON m.t_id = w.t_id GROUP BY 1, 2), " +
      "rk AS (SELECT q_id, class, row_number() OVER (PARTITION BY q_id ORDER BY u DESC, class) AS rn FROM sc)"

  private val classifySql =
    s"WITH $classifyCte SELECT q_id, class AS predicted FROM rk WHERE rn = 1"

  // ---- the inventory ----------------------------------------------------

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++
    graft.rel.Queries.queries ++ graft.llm.TextOps.queries ++ graft.llm.Streaming.queries ++
    graft.llm.Dedup.queries ++ graft.llm.AnnSearch.queries ++
    graft.llm.TextAnalysis.queries ++ graft.llm.Multimodal.queries ++
    graft.llm.Curation.queries ++ graft.rel.TimeSeries.queries ++ graft.rel.Graph.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #1 scan_project (CORE): typed scan + projection pushed to parquet.
    "scan_project" -> ((s, d) => Tables.embeddings(s, d).select("vec_id", "label")),

    // #15 pairwise_distance (CORE): the FkNN inner loop as a relational op.
    "pairwise_distance" -> { (s, d) =>
      val e = emb(s, d)
      // query side literal-bounded (≤20 rows) — known-small by
      // construction, the legitimate forced-broadcast shape
      Knn.pairwise(e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
          hintBroadcastQ = true)
        .select(col("q_id"), col("t_id"), round(col("dist"), 6).as("dist"))
    },

    // #15b pairwise_distance_l1 (CORE): the reference's Manhattan-metric
    // option (CLI distType [LINEAGE]), same relational shape as #15.
    "pairwise_distance_l1" -> { (s, d) =>
      val e = emb(s, d)
      Knn.pairwise(e.filter(col("vec_id") < 20), e.filter(col("vec_id") >= 20),
          dist = graft.functions.ArrayDistance.l1, hintBroadcastQ = true)
        .select(col("q_id"), col("t_id"), round(col("dist"), 6).as("dist"))
    },

    // #21b knn_classify (SURF): crisp-kNN majority vote, the kNN-IS
    // sibling surface the reference ships alongside FkNN [LINEAGE].
    "knn_classify" -> { (s, d) =>
      Fknn.knnClassify(embTrain(s, d), embQueries(s, d), K)
    },

    // #21 knn_topk (CORE): grouped top-k, the heart of kNN-IS.
    "knn_topk" -> { (s, d) =>
      Knn.knn(embQueries(s, d), embTrain(s, d), K)
        .select(col("q_id"), col("t_id"), round(col("dist"), 6).as("dist"), col("rn"))
    },

    // #21c knn_regress: inverse-distance-weighted kNN REGRESSION — the
    // numeric-target sibling of knn_classify (same top-k kernel, a
    // weighted mean instead of a majority vote). Target is the train
    // vector's mean component (a deterministic smooth function of the
    // embedding, so regression from neighbors is meaningful); weights
    // 1/max(dist, 1e-9) guard exact-duplicate neighbors. The target
    // fold is a left-to-right `aggregate` HOF ≡ DuckDB list_sum (the
    // fused-distance element-order parity contract).
    "knn_regress" -> { (s, d) =>
      val tr = embTrain(s, d).select(col("vec_id"), col("v"),
        expr("aggregate(v, 0D, (a, x) -> a + x) / size(v)").as("target"))
      Knn.knn(embQueries(s, d), tr.select("vec_id", "v"), K)
        .join(tr.select(col("vec_id").as("t_id"), col("target")), "t_id")
        .withColumn("w", lit(1.0) / greatest(col("dist"), lit(1e-9)))
        .groupBy(col("q_id"))
        .agg(graft.rel.Queries.rnd(sum(col("w") * col("target")) / sum(col("w")), 6)
          .as("pred"), count(lit(1)).as("k"))
    },

    // #22 fknn_membership_init (CORE): Keller stage-1 CMD, long form.
    "fknn_membership_init" -> { (s, d) =>
      Fknn.membershipInit(embTrain(s, d), K, NClasses)
        .select(col("vec_id"), col("class"), round(col("membership"), 6).as("membership"))
    },

    // #22b fknn_membership_chunked (CORE): same stage-1 semantics through
    // the kNN-IS `numIterations` physical path — the query side split
    // into 4 id-hash blocks, each individually broadcast (the memory
    // bound for train sets too large for one unhinted self-join). Same
    // oracle as #22: the chunking must be output-invisible.
    "fknn_membership_chunked" -> { (s, d) =>
      Fknn.membershipInit(embTrain(s, d), K, NClasses, blocks = 4)
        .select(col("vec_id"), col("class"), round(col("membership"), 6).as("membership"))
    },

    // agg_hll (sketch): HLL++ approximate count-distinct per event_type.
    // Deliberately NO oracle twin — sketch internals differ across
    // engines, so the driver records the weaker rows-only check here;
    // the bounded-error contract vs the exact answer is SketchSpec's.
    "agg_hll" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
    },

    // agg_approx_quantiles (sketch): GK-summary percentiles per group —
    // the bounded-memory quantile sketch that replaces agg_quantiles'
    // exact sort at 100 TB (mergeable partials, accuracy set by the
    // target 1/accuracy relative rank error). Rows-only like agg_hll
    // (summary merge internals differ across engines); SketchSpec pins
    // the per-group bracketing contract vs the exact quantiles.
    "agg_approx_quantiles" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).as("qs"))
        .select(col("l_returnflag"), posexplode(col("qs")).as(Seq("p_idx", "q")))
    },

    // #23 fknn_classify (CORE): the flagship two-stage pipeline — stage 2
    // over the shared stage-1 table, fitted once (SURVEY §4.1 row 5).
    "fknn_classify" -> { (s, d) =>
      Fknn.predict(memShared(s, d), embQueries(s, d), K)
    },

    // #23c fknn_classify_chunked (CORE): stage 2 through the kNN-IS
    // `numIterations` physical path — the query set split into 4 id-hash
    // blocks, each individually broadcast (the memory bound for query
    // sets too large for one broadcast). Same oracle as #23: chunking
    // must be output-invisible, mirroring what #22b proves for stage 1.
    "fknn_classify_chunked" -> { (s, d) =>
      Fknn.predict(memShared(s, d), embQueries(s, d), K, blocks = 4)
    },

    // #23b fknn_classify_local (CORE): the reference's version=local
    // approximate variant (SURVEY §3.1 EP-3) — per-block local top-k,
    // vote over the union of block candidates; 4 deterministic id-blocks.
    "fknn_classify_local" -> { (s, d) =>
      Fknn.classifyLocal(memShared(s, d), embQueries(s, d), K, blocks = 4)
    },

    // ingest_stream (round 14, VERDICT r13 #3): the streamed
    // recurring-ingest funnel, oracle-gated — two deterministic drops
    // through one Structured Streaming checkpoint; the oracle is the
    // batch twin's SQL (rationale at RunIngestStream.ingestStreamQuery)
    "ingest_stream" -> graft.run.RunIngestStream.ingestStreamQuery,

    // retract_stream (round 14): the streamed retract-then-ingest state
    // machine, oracle-gated on the ingest_retract CTE chain (rationale
    // at RunIngestStream.retractStreamQuery)
    "retract_stream" -> graft.run.RunIngestStream.retractStreamQuery,

    // ingest_vec_stream (round 15, VERDICT r14 missing #1): the streamed
    // VECTOR-ingest leg oracle-gated — two embedding drops through one
    // checkpoint, id guard → IVF semantic dedup → index append
    // (rationale at RunIngestStream.ingestVecStreamQuery)
    "ingest_vec_stream" -> graft.run.RunIngestStream.ingestVecStreamQuery,

    // retract_vec_stream (round 16, VERDICT r15 #2): the streamed VECTOR
    // retraction closing the {ingest, retract} × {text, vector} matrix —
    // a vec_id takedown drop through retractIds' checkpoint (IVF + kNN
    // graph tombstone + compaction), then an embedding drop whose id
    // guard and semantic dedup see the state that forgot the ids
    // (rationale at RunIngestStream.retractVecStreamQuery)
    "retract_vec_stream" -> graft.run.RunIngestStream.retractVecStreamQuery,

    // graph_embed_nn (round 14, VERDICT r13 #4): the trained node
    // embeddings gated as a rows-only row — skip-gram over the memoized
    // walk corpus, vectors round-tripped through parquet, seed top-3
    // cosine neighbors (rationale at RunEmbed.embedNnQuery)
    "graph_embed_nn" -> graft.run.RunEmbed.embedNnQuery,

    // The ten rows below all read `scoresShared` — stage 2 runs once per
    // (session, dir) over `memShared` and each metric is a small
    // aggregate over a view of the checkpointed score frame
    // (round 10, VERDICT r9 #1; family was 6.13 s driver at r9 with five
    // independent pipeline rebuilds).

    // #19 confusion_matrix (SURF): GROUP BY (actual, predicted).
    "confusion_matrix" -> { (s, d) =>
      Metrics.confusionMatrix(predShared(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20 accuracy (SURF): the reference's headline metric.
    "accuracy" -> { (s, d) =>
      Metrics.accuracy(predShared(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20b auc_binary (SURF): the reference's AUC report, one-vs-rest
    // (class 0) over the fuzzy score table — rank-statistic AUC with
    // averaged ties.
    "auc_binary" -> { (s, d) =>
      Metrics.aucBinary(scoreRows(s, d).filter(col("class") === 0),
        emb(s, d).select("vec_id", "label"), posLabel = 0)
    },

    // #20e metrics_pr_auc (EXT): binned average precision over the same
    // class-0 score slice — the imbalanced-class companion to #20b.
    "metrics_pr_auc" -> { (s, d) =>
      Metrics.prAucBinned(scoreRows(s, d).filter(col("class") === 0),
        emb(s, d).select("vec_id", "label"), posLabel = 0)
    },

    // #20c class_report (SURF): per-class precision/recall/F1.
    "class_report" -> { (s, d) =>
      Metrics.classReport(predShared(s, d), emb(s, d).select("vec_id", "label"), NClasses)
    },

    // #20d metrics_logloss (EXT): proper-scoring-rule eval of the fuzzy
    // probabilities — the metric a training-data pipeline alerts on when
    // a classifier drifts but accuracy hasn't moved yet.
    "metrics_logloss" -> { (s, d) =>
      Metrics.logLoss(scoreRows(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20e metrics_brier (EXT): squared-error proper score, same frame.
    "metrics_brier" -> { (s, d) =>
      Metrics.brier(scoreRows(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20f metrics_kappa (EXT): chance-corrected agreement in exact
    // integer form — (diag·n − Σrc)/(n² − Σrc), one closing division.
    "metrics_kappa" -> { (s, d) =>
      Metrics.cohenKappa(predShared(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20g metrics_mcc (EXT): multi-class Matthews correlation (R_k).
    "metrics_mcc" -> { (s, d) =>
      Metrics.mcc(predShared(s, d), emb(s, d).select("vec_id", "label"))
    },

    // #20h metrics_calibration (EXT): reliability bins over top-1
    // confidence — "when the model says 0.9, is it right 90% of the
    // time". Confidence rounded 6dp BEFORE binning so bin edges compare
    // identical doubles cross-engine.
    "metrics_calibration" -> { (s, d) =>
      Metrics.calibrationBins(scoreRows(s, d), emb(s, d).select("vec_id", "label"))
    },
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    coreOracles.view.mapValues(graft.rel.Queries.duckify).toMap ++ graft.rel.Queries.oracles ++
    (graft.llm.TextOps.rawOracles ++ graft.llm.Streaming.rawOracles ++
      graft.llm.Dedup.rawOracles ++ graft.llm.AnnSearch.rawOracles ++
      graft.llm.TextAnalysis.rawOracles ++ graft.llm.Multimodal.rawOracles ++
      graft.llm.Curation.rawOracles ++ graft.rel.TimeSeries.rawOracles ++
      graft.rel.Graph.rawOracles)
      .view.mapValues(graft.rel.Queries.duckify).toMap

  private def coreOracles: Map[String, String] = Map(
    "scan_project" -> "SELECT vec_id, label FROM embeddings",

    // streamed drops through ingestDelta ARE the recurring batch
    // semantics — the oracle is the ingest_manifest2 SQL verbatim
    "ingest_stream" -> graft.llm.Curation.rawOracles("ingest_manifest2"),

    "pairwise_distance" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
        s"SELECT a.vec_id AS q_id, b.vec_id AS t_id, round(${distSql("a.v", "b.v")}, 6) AS dist " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < 20 AND b.vec_id >= 20"),

    "knn_topk" ->
      (s"WITH $embCte, " +
        s"qp AS (SELECT q.vec_id AS q_id, b.vec_id AS t_id, ${distSql("q.v", "b.v")} AS dist " +
        "FROM qs q CROSS JOIN tr b), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp) " +
        s"SELECT q_id, t_id, round(dist, 6) AS dist, rn::INT AS rn FROM qk WHERE rn <= $K"),

    "knn_regress" ->
      (s"WITH $embCte, " +
        s"qp AS (SELECT q.vec_id AS q_id, b.vec_id AS t_id, ${distSql("q.v", "b.v")} AS dist " +
        "FROM qs q CROSS JOIN tr b), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp), " +
        "tg AS (SELECT vec_id, list_sum(v) / len(v) AS target FROM tr), " +
        s"nb AS (SELECT q_id, 1e0 / greatest(dist, 1e-9) AS w, target " +
        s"FROM qk JOIN tg ON tg.vec_id = qk.t_id WHERE rn <= $K) " +
        "SELECT q_id, rnd(sum(w * target) / sum(w), 6) AS pred, count(*) AS k " +
        "FROM nb GROUP BY 1"),

    "fknn_membership_init" ->
      (s"WITH $embCte, $memCte " +
        "SELECT t_id AS vec_id, class, round(membership, 6) AS membership FROM mem"),

    // chunking is output-invisible: the chunked path must hash-match the
    // exact same oracle as the unchunked stage-1
    "fknn_membership_chunked" ->
      (s"WITH $embCte, $memCte " +
        "SELECT t_id AS vec_id, class, round(membership, 6) AS membership FROM mem"),

    "fknn_classify" -> classifySql,

    // chunking is output-invisible: same oracle as fknn_classify
    "fknn_classify_chunked" -> classifySql,

    "fknn_classify_local" ->
      (s"WITH $embCte, $memCte, " +
        s"qp AS (SELECT q.vec_id AS q_id, b.vec_id AS t_id, b.vec_id % 4 AS blk, ${distSql("q.v", "b.v")} AS dist " +
        "FROM qs q CROSS JOIN tr b), " +
        "qk AS (SELECT q_id, t_id, dist, row_number() OVER (PARTITION BY q_id, blk ORDER BY dist, t_id) AS rn FROM qp), " +
        s"wts AS (SELECT q_id, t_id, 1e0/(greatest(dist, 1e-12)*greatest(dist, 1e-12)) AS w FROM qk WHERE rn <= $K), " +
        "sc AS (SELECT w.q_id, m.class, sum(m.membership * w.w)/sum(w.w) AS u " +
        "FROM wts w JOIN mem m ON m.t_id = w.t_id GROUP BY 1, 2), " +
        "rk AS (SELECT q_id, class, row_number() OVER (PARTITION BY q_id ORDER BY u DESC, class) AS rn FROM sc) " +
        "SELECT q_id, class AS predicted FROM rk WHERE rn = 1"),

    "pairwise_distance_l1" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
        s"SELECT a.vec_id AS q_id, b.vec_id AS t_id, round(${distL1Sql("a.v", "b.v")}, 6) AS dist " +
        "FROM e a CROSS JOIN e b WHERE a.vec_id < 20 AND b.vec_id >= 20"),

    "knn_classify" ->
      (s"WITH $embCte, " +
        s"qp AS (SELECT q.vec_id AS q_id, b.vec_id AS t_id, ${distSql("q.v", "b.v")} AS dist " +
        "FROM qs q CROSS JOIN tr b), " +
        "qk AS (SELECT q_id, t_id, row_number() OVER (PARTITION BY q_id ORDER BY dist, t_id) AS rn FROM qp), " +
        s"vt AS (SELECT qk.q_id, t2.label, count(*) AS n FROM qk JOIN tr t2 ON t2.vec_id = qk.t_id WHERE qk.rn <= $K GROUP BY 1, 2), " +
        "rk AS (SELECT q_id, label, row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label) AS rn FROM vt) " +
        "SELECT q_id, label AS predicted FROM rk WHERE rn = 1"),

    "confusion_matrix" ->
      (s"WITH $classifyCte, " +
        "pred AS (SELECT q_id, class AS predicted FROM rk WHERE rn = 1) " +
        "SELECT e.label, p.predicted, count(*) AS n " +
        "FROM pred p JOIN embeddings e ON e.vec_id = p.q_id GROUP BY 1, 2"),

    "accuracy" ->
      (s"WITH $classifyCte, " +
        "pred AS (SELECT q_id, class AS predicted FROM rk WHERE rn = 1) " +
        "SELECT round(avg(CASE WHEN p.predicted = e.label THEN 1e0 ELSE 0e0 END), 6) AS accuracy " +
        "FROM pred p JOIN embeddings e ON e.vec_id = p.q_id"),

    "metrics_pr_auc" ->
      // same binning, descending-cumulative precision, ordered fold
      (s"WITH $classifyCte, " +
        "s0 AS (SELECT sc.u, CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS pos " +
        "FROM sc JOIN embeddings e ON e.vec_id = sc.q_id WHERE sc.class = 0), " +
        "h AS (SELECT least(floor(u * 16), 15)::INT AS b, count(*) AS cnt, " +
        "sum(pos)::BIGINT AS p FROM s0 GROUP BY 1), " +
        "c AS (SELECT b, p, cnt, sum(p) OVER (ORDER BY b DESC) AS ctp, " +
        "sum(cnt) OVER (ORDER BY b DESC) AS ccnt FROM h), " +
        "t AS (SELECT b, ctp, (p::HUGEINT * ctp)::DOUBLE / ccnt AS term FROM c), " +
        "m AS (SELECT max(ctp) AS ptot, " +
        "list_reduce(list(term ORDER BY b DESC), (acc, x) -> acc + x) AS s FROM t) " +
        "SELECT CASE WHEN ptot = 0 THEN NULL ELSE rnd(s / ptot, 6) END AS pr_auc FROM m"),

    "auc_binary" ->
      (s"WITH $classifyCte, " +
        "s0 AS (SELECT sc.q_id, sc.u, CASE WHEN e.label = 0 THEN 1e0 ELSE 0e0 END AS pos " +
        "FROM sc JOIN embeddings e ON e.vec_id = sc.q_id WHERE sc.class = 0), " +
        "rk2 AS (SELECT q_id, u, pos, row_number() OVER (ORDER BY u, q_id) AS rn FROM s0), " +
        "ar AS (SELECT q_id, pos, avg(rn) OVER (PARTITION BY u) AS ar FROM rk2) " +
        "SELECT rnd((sum(CASE WHEN pos = 1e0 THEN ar END) - sum(pos) * (sum(pos) + 1) / 2e0) " +
        "/ (sum(pos) * (count(*) - sum(pos))), 6) AS auc FROM ar"),

    "class_report" ->
      (s"WITH $classifyCte, " +
        "pred AS (SELECT q_id, class AS predicted FROM rk WHERE rn = 1), " +
        "j AS (SELECT e.label, p.predicted FROM pred p JOIN embeddings e ON e.vec_id = p.q_id), " +
        "st AS (SELECT c.class, " +
        "sum(CASE WHEN j.label = c.class AND j.predicted = c.class THEN 1 ELSE 0 END)::BIGINT AS tp, " +
        "sum(CASE WHEN j.label <> c.class AND j.predicted = c.class THEN 1 ELSE 0 END)::BIGINT AS fp, " +
        "sum(CASE WHEN j.label = c.class AND j.predicted <> c.class THEN 1 ELSE 0 END)::BIGINT AS fn " +
        "FROM cls c LEFT JOIN j ON TRUE GROUP BY 1), " +
        "pr AS (SELECT class, tp, fp, fn, " +
        "CASE WHEN tp + fp = 0 THEN 0e0 ELSE tp / (tp + fp) END AS p, " +
        "CASE WHEN tp + fn = 0 THEN 0e0 ELSE tp / (tp + fn) END AS r FROM st) " +
        "SELECT class, tp, fp, fn, rnd(p, 6) AS precision, rnd(r, 6) AS recall, " +
        "rnd(CASE WHEN p + r = 0 THEN 0e0 ELSE 2e0 * p * r / (p + r) END, 6) AS f1 FROM pr"),

    "metrics_logloss" ->
      (s"WITH $classifyCte, " +
        "tu AS (SELECT q_id, sum(u) AS tu FROM sc GROUP BY 1), " +
        "pl AS (SELECT s.q_id, s.u / t.tu AS p FROM sc s JOIN tu t ON s.q_id = t.q_id " +
        "JOIN embeddings e ON e.vec_id = s.q_id AND s.class = e.label) " +
        "SELECT rnd(-avg(ln(greatest(p, 1e-15))), 6) AS logloss, count(*) AS n FROM pl"),

    "metrics_brier" ->
      (s"WITH $classifyCte, " +
        "tu AS (SELECT q_id, sum(u) AS tu FROM sc GROUP BY 1), " +
        "dv AS (SELECT s.q_id, sum((s.u / t.tu - CASE WHEN s.class = e.label THEN 1e0 ELSE 0e0 END) * " +
        "(s.u / t.tu - CASE WHEN s.class = e.label THEN 1e0 ELSE 0e0 END)) AS b " +
        "FROM sc s JOIN tu t ON s.q_id = t.q_id " +
        "JOIN embeddings e ON e.vec_id = s.q_id GROUP BY 1) " +
        "SELECT rnd(avg(b), 6) AS brier, count(*) AS n FROM dv"),

    "metrics_kappa" ->
      // exact integer rewrite: (diag·n − Σ r_k c_k)/(n² − Σ r_k c_k)
      (s"WITH $classifyCte, " +
        "pred AS (SELECT q_id, class AS predicted FROM rk WHERE rn = 1), " +
        "j AS (SELECT e.label, p.predicted FROM pred p JOIN embeddings e ON e.vec_id = p.q_id), " +
        "tot AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN label = predicted THEN 1 ELSE 0 END)::BIGINT AS diag FROM j), " +
        "rm AS (SELECT label AS k, count(*) AS rl FROM j GROUP BY 1), " +
        "cm AS (SELECT predicted AS k, count(*) AS cl FROM j GROUP BY 1), " +
        "pe AS (SELECT sum(rl * cl)::BIGINT AS rc FROM rm JOIN cm USING (k)) " +
        "SELECT rnd((diag * n - rc) / (n * n - rc), 6) AS kappa, n " +
        "FROM tot CROSS JOIN pe"),

    "metrics_mcc" ->
      // R_k: factors cast to double BEFORE multiplying (s⁴-scale product)
      (s"WITH $classifyCte, " +
        "pred AS (SELECT q_id, class AS predicted FROM rk WHERE rn = 1), " +
        "j AS (SELECT e.label, p.predicted FROM pred p JOIN embeddings e ON e.vec_id = p.q_id), " +
        "tot AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN label = predicted THEN 1 ELSE 0 END)::BIGINT AS diag FROM j), " +
        "rm AS (SELECT label AS k, count(*) AS rl FROM j GROUP BY 1), " +
        "cm AS (SELECT predicted AS k, count(*) AS cl FROM j GROUP BY 1), " +
        "mtt AS (SELECT sum(rl * rl)::BIGINT AS tt FROM rm), " +
        "mpp AS (SELECT sum(cl * cl)::BIGINT AS pp FROM cm), " +
        "mpt AS (SELECT sum(rl * cl)::BIGINT AS pt FROM rm JOIN cm USING (k)) " +
        "SELECT rnd((diag * n - pt) / sqrt((n * n - pp)::DOUBLE * (n * n - tt)::DOUBLE), 6) AS mcc, n " +
        "FROM tot CROSS JOIN mtt CROSS JOIN mpp CROSS JOIN mpt"),

    "metrics_calibration" ->
      // conf rounded 6dp BEFORE the bin-edge floor — identical doubles
      // cross-engine, so bin membership cannot flip by one ulp
      (s"WITH $classifyCte, " +
        "tu AS (SELECT q_id, sum(u) AS tu FROM sc GROUP BY 1), " +
        "top AS (SELECT r.q_id, r.class AS predicted, rnd(s.u / t.tu, 6) AS conf " +
        "FROM rk r JOIN sc s ON s.q_id = r.q_id AND s.class = r.class " +
        "JOIN tu t ON t.q_id = r.q_id WHERE r.rn = 1), " +
        "j AS (SELECT conf, CASE WHEN t.predicted = e.label THEN 1e0 ELSE 0e0 END AS acc, " +
        "least(floor(conf * 10), 9)::INT AS bin " +
        "FROM top t JOIN embeddings e ON e.vec_id = t.q_id) " +
        "SELECT bin, count(*) AS n, rnd(avg(conf), 6) AS conf_avg, " +
        "rnd(avg(acc), 6) AS acc_avg FROM j GROUP BY 1"),
  )
}
