package graft

import org.apache.spark.sql.functions._

import graft.core.Metrics

/** Hand-computed fixtures for the report metrics (AUC rank statistic,
  * per-class precision/recall/F1).
  */
class MetricsSpec extends SparkSpecBase {

  test("aucBinary matches the hand-computed rank statistic (with score tie)") {
    import spark.implicits._
    // scores (q_id, u): positives q1 (0.9), q3 (0.7); negatives q2 (0.8),
    // q4 (0.7 — TIED with q3). Ascending ranks: q3/q4 share avg rank 1.5,
    // q2 → 3, q1 → 4. AUC = (Σ pos avg-ranks − P(P+1)/2) / (P·N)
    //     = (1.5 + 4 − 3) / (2·2) = 0.625
    val scores = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.7)).toDF("q_id", "u")
    val truth = Seq((1L, 0), (2L, 5), (3L, 0), (4L, 7)).toDF("vec_id", "label")
    val auc = Metrics.aucBinary(scores, truth, posLabel = 0)
      .collect().head.getDouble(0)
    assert(auc === 0.625)
  }

  test("aucBinary emits NULL (not a crash or garbage) on a single-class eval slice") {
    import spark.implicits._
    val scores = Seq((1L, 0.9), (2L, 0.8)).toDF("q_id", "u")
    val allPos = Seq((1L, 0), (2L, 0)).toDF("vec_id", "label")
    assert(Metrics.aucBinary(scores, allPos, posLabel = 0).collect().head.isNullAt(0))
    assert(Metrics.aucBinaryBucketed(scores, allPos, posLabel = 0).collect().head.isNullAt(0))
  }

  test("bucketed AUC matches exact within bucket tolerance on the real score table") {
    import graft.core.{Ckpt, Distance, Fknn}
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), Distance.asDouble(col("embedding")).as("v"), col("label"))
    val t = e.filter(col("vec_id") % 10 =!= 0)
    val q = e.filter(col("vec_id") % 10 === 0)
    val fitted = Fknn.fit(t, 5, 10)
    try {
      val sc0 = Fknn.classifyScores(fitted, q, 5).filter(col("class") === 0).persist()
      val truth = e.select(col("vec_id"), col("label"))
      val exact = Metrics.aucBinary(sc0, truth, posLabel = 0).collect().head.getDouble(0)
      val approx = Metrics.aucBinaryBucketed(sc0, truth, posLabel = 0).collect().head.getDouble(0)
      // 10⁴ buckets over 50 eval rows: every distinct score lands alone in
      // its bucket unless two scores sit within 1e-4 of the range — allow
      // that one mis-ranked pair's worth of slack
      assert(math.abs(exact - approx) < 0.01, s"exact=$exact approx=$approx")
      sc0.unpersist()
    } finally Ckpt.release(fitted)
  }

  test("bucketed AUC at buckets=1 degrades to 0.5 (everything tied), exact stays put") {
    import spark.implicits._
    val scores = Seq((1L, 0.9), (2L, 0.8), (3L, 0.7), (4L, 0.6)).toDF("q_id", "u")
    val truth = Seq((1L, 0), (2L, 0), (3L, 7), (4L, 7)).toDF("vec_id", "label")
    val one = Metrics.aucBinaryBucketed(scores, truth, posLabel = 0, buckets = 1)
      .collect().head.getDouble(0)
    assert(one === 0.5)
    val exact = Metrics.aucBinary(scores, truth, posLabel = 0).collect().head.getDouble(0)
    assert(exact === 1.0)
  }

  test("classReport matches hand-computed precision/recall/F1") {
    import spark.implicits._
    // class 0: tp=1 (q1), fn=1 (q2 predicted 1), fp=1 (q3 actual 1 pred 0)
    val pred = Seq((1L, 0), (2L, 1), (3L, 0)).toDF("q_id", "predicted")
    val truth = Seq((1L, 0), (2L, 0), (3L, 1)).toDF("vec_id", "label")
    val rep = Metrics.classReport(pred, truth, nClasses = 3)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(rep(0) === ((1L, 1L, 1L, 0.5, 0.5, 0.5)))
    // class 1: tp=0, fp=1 (q2), fn=1 (q3) → p=r=f1=0
    assert(rep(1) === ((0L, 1L, 1L, 0.0, 0.0, 0.0)))
    // class 2: absent everywhere → densified zeros
    assert(rep(2) === ((0L, 0L, 0L, 0.0, 0.0, 0.0)))
  }

  test("cohenKappa matches the textbook po/pe form on a planted confusion matrix") {
    import spark.implicits._
    // 2×2: diag = 5 of n = 8; rows (5, 3), cols (4, 4)
    val pred = Seq(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1, 6L -> 0, 7L -> 1, 8L -> 1)
      .toDF("q_id", "predicted")
    val truth = Seq(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0, 5L -> 0, 6L -> 1, 7L -> 1, 8L -> 1)
      .toDF("vec_id", "label")
    val got = Metrics.cohenKappa(pred, truth).collect().head.getDouble(0)
    val po = 5.0 / 8; val pe = (5.0 * 4 + 3.0 * 4) / 64
    assert(math.abs(got - (po - pe) / (1 - pe)) < 1e-9)
  }

  test("mcc reduces to the binary Matthews formula on a 2×2 matrix") {
    import spark.implicits._
    // tp=3 tn=2 fp=2 fn=1 (positive = class 1)
    val pred = Seq(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 1, 6L -> 1, 7L -> 0, 8L -> 0)
      .toDF("q_id", "predicted")
    val truth = Seq(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1, 5L -> 0, 6L -> 0, 7L -> 0, 8L -> 0)
      .toDF("vec_id", "label")
    val got = Metrics.mcc(pred, truth).collect().head.getDouble(0)
    val (tp, tn, fp, fn) = (3.0, 2.0, 2.0, 1.0)
    val expect = (tp * tn - fp * fn) /
      math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    // output is rnd(…, 6) — half-ulp-of-6dp tolerance
    assert(math.abs(got - expect) < 1e-6)
  }

  test("logLoss and brier are proper: perfect probabilities score 0, uniform scores ln(C)/consistently") {
    import spark.implicits._
    // u rows for 2 queries over 2 classes: q1 certain-correct, q2 uniform
    val scores = Seq((1L, 0, 1.0), (1L, 1, 0.0), (2L, 0, 0.5), (2L, 1, 0.5))
      .toDF("q_id", "class", "u")
    val truth = Seq(1L -> 0, 2L -> 0).toDF("vec_id", "label")
    val ll = Metrics.logLoss(scores, truth).collect().head.getDouble(0)
    // mean of (0, ln 2): clamp keeps the certain query at −ln(1)=0
    assert(math.abs(ll - math.log(2.0) / 2) < 1e-6)
    val br = Metrics.brier(scores, truth).collect().head.getDouble(0)
    // q1 contributes 0; q2 contributes (0.5² + 0.5²) = 0.5
    assert(math.abs(br - 0.25) < 1e-9)
  }

  test("prAucBinned: perfect separation scores 1; matches hand AP on a crafted slice") {
    import spark.implicits._
    def run(rows: Seq[(Long, Double)], labels: Seq[(Long, Int)]): Option[Double] = {
      val scores = rows.map { case (id, u) => (id, 0, u) }.toDF("q_id", "class", "u")
      val truth = labels.toDF("vec_id", "label")
      Option(Metrics.prAucBinned(scores, truth, posLabel = 0)
        .head().getAs[java.lang.Double]("pr_auc")).map(_.doubleValue())
    }
    // positives all in the top bin, negatives at the bottom → AP = 1
    val sep = run(
      Seq((1L, 0.99), (2L, 0.98), (3L, 0.01), (4L, 0.02)),
      Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)))
    assert(sep === Some(1.0))
    // hand case: bins b15={pos}, b0={pos, neg} (0.99→15; 0.01, 0.03→0)
    // desc sweep: term(b15)=1·1/1; term(b0)=1·2/3 → AP=(1+2/3)/2=5/6
    val hand = run(
      Seq((1L, 0.99), (2L, 0.01), (3L, 0.03)),
      Seq((1L, 0), (2L, 0), (3L, 1)))
    assert(hand.exists(v => math.abs(v - 5.0 / 6) < 1e-6))
    // no positives → NULL (the aucBinary convention)
    val nul = run(Seq((1L, 0.9)), Seq((1L, 1)))
    assert(nul === None)
  }

  test("calibrationBins: bin counts partition the eval set and confidence sits inside its bin") {
    val t = Tables.embeddings(spark, sfDir).count() // touch fixture
    assert(t > 0)
    val q = SparkEntry.queries("metrics_calibration")(spark, sfDir).collect()
    val n = q.map(_.getAs[Long]("n")).sum
    val queries = Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0).count()
    assert(n === queries)
    q.foreach { r =>
      val bin = r.getAs[Int]("bin"); val conf = r.getAs[Double]("conf_avg")
      assert(conf >= bin / 10.0 - 1e-6 && conf <= (bin + 1) / 10.0 + 1e-6)
    }
  }
}
