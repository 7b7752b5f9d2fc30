package graft

import org.apache.spark.sql.functions._

import graft.core.{Ckpt, Distance, Knn}

/** The bounded-heap TopK aggregator against its window-function executable
  * spec, plus the physical-plan properties the 100×-scale design depends
  * on (broadcast only when hinted; pushdown reaching the scan).
  */
class KnnSpec extends SparkSpecBase {

  test("capped-parallelism detection: low coalesce seen; masked by an aggregate above it") {
    import graft.core.Knn.cappedBelowTarget
    val target = spark.sparkContext.defaultParallelism
    val base = Tables.embeddings(spark, sfDir)
    val squeezed = base.coalesce(1)
    assert(cappedBelowTarget(squeezed.queryExecution.optimizedPlan, target))
    // behavioral: ensureParallelism re-spreads the capped frame
    assert(graft.core.Knn.ensureParallelism(squeezed).rdd.getNumPartitions === target)
    // an aggregate above the coalesce re-shuffles, restoring parallelism —
    // the buried Repartition node must no longer count as capped
    val restored = squeezed.groupBy("label")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    assert(!cappedBelowTarget(restored.queryExecution.optimizedPlan, target))
    // an adequate explicit repartition also clears it
    val respread = squeezed.repartition(target)
    assert(!cappedBelowTarget(respread.queryExecution.optimizedPlan, target))
  }

  test("a checkpoint train side is re-spread by its partition count, not its size") {
    val target = spark.sparkContext.defaultParallelism
    val q = emb.filter(col("vec_id") % 10 === 0)
    def respreads(t: org.apache.spark.sql.DataFrame) =
      Knn.knn(q, t, 5).queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
    val wide = Ckpt.truncate(emb.repartition(target))
    val narrow = Ckpt.truncate(emb.coalesce(1))
    try {
      assert(wide.rdd.getNumPartitions === target && narrow.rdd.getNumPartitions === 1)
      assert(!respreads(wide), "a checkpoint with the session's parallelism is re-spread")
      assert(respreads(narrow), "a one-partition checkpoint is not re-spread")
    } finally Seq(wide, narrow).foreach(Ckpt.release)
  }

  private def emb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))

  test("native top-k ≡ udaf top-k ≡ window top-k (same rows incl. rank)") {
    val q = emb.filter(col("vec_id") % 10 === 0)
    val t = emb.filter(col("vec_id") % 10 =!= 0)
    val pairs = Knn.pairwise(q, t)
    val viaNative = collectSet(Knn.topK(pairs, 5).select("q_id", "t_id", "dist", "rn"))
    val viaUdaf = collectSet(graft.functions.TopKAgg.knnUdaf(pairs, 5).select("q_id", "t_id", "dist", "rn"))
    val viaWin = collectSet(Knn.topKWindow(pairs, 5).select("q_id", "t_id", "dist", "rn"))
    assert(viaNative === viaWin)
    assert(viaUdaf === viaWin)
  }

  test("k larger than candidate count returns all candidates, ranked") {
    val q = emb.filter(col("vec_id") === 0)
    val t = emb.filter(col("vec_id").between(1, 3))
    val out = Knn.knn(q, t, k = 10).collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Int]("rn")).sorted.toSeq === Seq(1, 2, 3))
  }

  test("pairwise broadcast hint: present when hinted, absent for self-join path") {
    val q = emb.filter(col("vec_id") < 20)
    val hinted = Knn.pairwise(q, emb, hintBroadcastQ = true)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "hinted pairwise must carry the broadcast hint (kNN-IS chunk placement)")
    val unhinted = Knn.pairwise(emb, emb, hintBroadcastQ = false)
    assert(!unhinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "self-join pairwise must NOT force-broadcast the train side — " +
        "Catalyst size-gates it (broadcasting ~all data OOMs at scale)")
  }

  test("knn_topk/knn_classify declared splits carry no forced query-side broadcast") {
    // round-5 fix: the `vec_id % 10 == 0` query side is 10% of the corpus —
    // corpus-proportional, so a forced broadcast is a guaranteed OOM at
    // 100×. The hint must be absent from the analyzed plan (AQE then
    // size-gates the placement at runtime, which is allowed to broadcast
    // at THIS sf — the invariant is that nothing forces it).
    // the hint is a ResolvedHint on the cross-join path, and the block
    // operator's own broadcastQuery flag on the KnnBlock path
    def forced(df: org.apache.spark.sql.DataFrame): Boolean = {
      val plan = df.queryExecution.analyzed
      plan.toString.contains("ResolvedHint") ||
        plan.collectFirst { case b: graft.plans.KnnBlock if b.broadcastQuery => b }.nonEmpty
    }
    val q = emb.filter(col("vec_id") % 10 === 0)
    val t = emb.filter(col("vec_id") % 10 =!= 0)
    val topk = Knn.knn(q, t, k = 5)
    assert(!forced(topk),
      "knn_topk path must not force-broadcast a corpus-proportional query side")
    val classify = graft.core.Fknn.knnClassify(t, q, k = 5)
    assert(!forced(classify),
      "knn_classify path must not force-broadcast a corpus-proportional query side")
    // and the one legitimately hinted shape (chunked per-block) still hints
    val chunk = q.filter(col("vec_id") % 4 === 0)
    assert(forced(Knn.knn(chunk, t, k = 5, hintBroadcastQ = true)))
    assert(forced(Knn.knn(chunk, t, k = 5, dist = graft.functions.ArrayDistance.cosine,
      hintBroadcastQ = true)))
  }

  test("round-5 operators plan with their load-bearing physical shapes") {
    // pqSearch: the fused gather is in the plan, both ADC inputs sit
    // behind explicit exchanges (the AQE size-gate boundary), and no
    // force-broadcast hint exists anywhere in the pipeline
    val pq = graft.llm.AnnSearch.pqTopK(spark, sfDir)
    val pqPlan = pq.queryExecution.executedPlan.toString
    assert(pqPlan.contains("fused_adc"), "ADC must run through the fused expression")
    assert(pqPlan.contains("REPARTITION_BY_NUM"),
      "ADC inputs need their stage boundary (see pqSearch scaladoc)")
    // interval-bin join: physically an EQUI-join on the bin key — the
    // plan must contain a hash/sort-merge join, never a nested loop or
    // cartesian over the full point set
    val ij = graft.rel.Queries.joinIntervalBin(spark, sfDir)
    val ijPlan = ij.queryExecution.executedPlan.toString
    assert(!ijPlan.contains("BroadcastNestedLoopJoin") && !ijPlan.contains("CartesianProduct"),
      s"interval-bin join must plan as an equi-join, got:\n$ijPlan")
    // corpus_shuffle: the position window is PARTITIONED by shard (a
    // global window here would serialize the corpus into one task)
    val cs = graft.llm.Curation.corpusShuffle(spark, sfDir)
    val csPlan = cs.queryExecution.executedPlan.toString
    assert(csPlan.contains("hashpartitioning(shard"),
      s"corpus_shuffle window must partition by shard, got:\n$csPlan")
  }

  test("knn_regress: k neighbors per query; an exact-duplicate neighbor dominates the prediction") {
    val out = SparkEntry.queries("knn_regress")(spark, sfDir).collect()
    assert(out.nonEmpty)
    // every query used exactly k neighbors (the harness has >= k train rows)
    assert(out.forall(_.getLong(2) === 5L), "k column must be 5 for every query")
    // construct a duplicate pair: train vector == query vector ⇒ dist
    // clamps to 1e-9, weight 1e9 swamps the other neighbors, so the
    // prediction collapses to the duplicate's own target
    import spark.implicits._
    val mk = (id: Long, v: Seq[Double]) => (id, v)
    val q = Seq(mk(1L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "v")
    val t = Seq(mk(10L, Seq(1.0, 2.0, 3.0)), mk(11L, Seq(50.0, 50.0, 50.0)),
        mk(12L, Seq(-40.0, 0.0, 40.0))).toDF("vec_id", "v")
    val tr = t.select(col("vec_id"), col("v"),
      expr("aggregate(v, 0D, (a, x) -> a + x) / size(v)").as("target"))
    val pred = graft.core.Knn.knn(q, t.select("vec_id", "v"), 3)
      .join(tr.select(col("vec_id").as("t_id"), col("target")), "t_id")
      .withColumn("w", lit(1.0) / greatest(col("dist"), lit(1e-9)))
      .groupBy(col("q_id"))
      .agg((sum(col("w") * col("target")) / sum(col("w"))).as("pred"))
      .collect().head.getDouble(1)
    assert(math.abs(pred - 2.0) < 1e-6, s"duplicate neighbor must dominate: $pred")
  }

  test("join_asof_nearest ≡ brute-force nearest click; ties break backward; no clicks → -1") {
    import org.apache.spark.sql.functions._
    val near = graft.rel.Queries.joinAsofNearest(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("t"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t").as("ct"))
    // brute force: min over (|ct-t|, ct) — on an equal-distance tie the
    // backward candidate has the SMALLER ct, so the struct min picks it
    val hasClick = err.join(clk, Seq("user_id"))
      .groupBy(col("event_id"), col("user_id"))
      .agg(min(struct(abs(col("ct") - col("t")).as("d"), col("ct"))).as("m"))
      .select(col("event_id"), col("user_id"), col("m.ct").as("nearest_click_us"))
    val noClick = err.join(clk.select("user_id").distinct(), Seq("user_id"), "left_anti")
      .select(col("event_id"), col("user_id"), lit(-1L).as("nearest_click_us"))
    assert(collectSet(near) === collectSet(hasClick.unionByName(noClick)))
    assert(near.count() > 0)
  }

  test("outlier_iqr ≡ driver-side brute force: discrete quartiles, Tukey fences, count") {
    import org.apache.spark.sql.functions._
    val out = graft.rel.Queries.outlierIqr(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val vals = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toVector).toMap
    assert(out.keySet === vals.keySet)
    for ((flag, vs) <- vals) {
      val q1 = vs(math.ceil(vs.size * 0.25).toInt - 1)
      val q3 = vs(math.ceil(vs.size * 0.75).toInt - 1)
      val lo = q1 - (q3 - q1) * 1.5
      val hi = q3 + (q3 - q1) * 1.5
      val r = out(flag)
      assert(math.abs(r.getDouble(1) - q1) < 1e-6, s"$flag q1")
      assert(math.abs(r.getDouble(2) - q3) < 1e-6, s"$flag q3")
      assert(r.getLong(5) === vs.count(v => v < lo || v > hi).toLong, s"$flag n_out")
    }
  }

  test("agg_string_agg: sorted distinct join, count consistent with the split") {
    val r = graft.rel.Queries.aggStringAgg(spark, sfDir).collect()
    assert(r.nonEmpty)
    for (row <- r) {
      val parts = row.getString(1).split(",").toSeq
      assert(parts === parts.sorted, s"unsorted listagg: ${row.getString(1)}")
      assert(parts.distinct.size === parts.size)
      assert(row.getLong(2) === parts.size.toLong)
    }
  }

  test("scan_filter_prune pushes predicate and columns into the parquet scan") {
    val df = graft.rel.Queries.scanFilterPrune(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThanOrEqual(l_quantity,45"),
      s"expected pushed filter in:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"),
      "scan must read only the projected columns")
  }

  test("TopKAggExpr buffer serde roundtrip (the shuffle path)") {
    import graft.functions.{TopKAggExpr, TopKBuf}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = TopKAggExpr(Literal(0.0), Literal(0L), k = 5)
    val b = agg.createAggregationBuffer()
    TopKBuf.insert(b, 5, 3.5, 7L)
    TopKBuf.insert(b, 5, 1.5, 9L)
    TopKBuf.insert(b, 5, 2.5, 8L)
    val r = agg.deserialize(agg.serialize(b))
    assert(r.n === 3)
    assert(r.dists.take(3).toSeq === Seq(1.5, 2.5, 3.5))
    assert(r.ids.take(3).toSeq === Seq(9L, 8L, 7L))
    // merge determinism: inserting the same set in any order gives same buffer
    val b2 = agg.createAggregationBuffer()
    Seq((2.5, 8L), (3.5, 7L), (1.5, 9L)).foreach { case (d, i) => TopKBuf.insert(b2, 5, d, i) }
    assert(b2.dists.take(3).toSeq === r.dists.take(3).toSeq && b2.ids.take(3).toSeq === r.ids.take(3).toSeq)
  }

  test("duckify rewrites rnd() to the floor formula, balanced-paren aware") {
    import graft.rel.Queries.duckify
    assert(duckify("SELECT rnd(x, 2) FROM t") ===
      "SELECT floor((x) * 100e0 + 0.5e0) / 100e0 FROM t")
    assert(duckify("rnd(sum(a (b, c)) OVER (ORDER BY x, y), 6)") ===
      "floor((sum(a (b, c)) OVER (ORDER BY x, y)) * 1000000e0 + 0.5e0) / 1000000e0")
    assert(duckify("rnd(rnd(x, 2), 6)") ===
      "floor((floor((x) * 100e0 + 0.5e0) / 100e0) * 1000000e0 + 0.5e0) / 1000000e0")
  }
}
