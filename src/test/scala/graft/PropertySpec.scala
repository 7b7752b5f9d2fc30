package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.Fknn
import graft.functions.TopKBuf
import graft.llm.Streaming

/** Property-based layer (SURVEY §5.2 layer 2): checkable invariants over
  * randomized inputs. Spark-touching properties run few cases (each case
  * is a distributed job); the pure-function heap property runs hundreds.
  */
class PropertySpec extends SparkSpecBase {

  private def check(p: Prop, min: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), p)
    assert(res.passed, res.status.toString)
  }

  test("TopKBuf.insert ≡ sort-and-take-k for arbitrary (dist, id) streams") {
    val gen = for {
      k <- Gen.choose(1, 8)
      xs <- Gen.listOf(Gen.zip(
        Gen.chooseNum(0.0, 10.0), Gen.chooseNum(0L, 20L)))
    } yield (k, xs)
    check(Prop.forAll(gen) { case (k, xs) =>
      val b = TopKBuf(new Array[Double](k), new Array[Long](k), 0)
      xs.foreach { case (d, id) => TopKBuf.insert(b, k, d, id) }
      val got = (0 until b.n).map(i => (b.dists(i), b.ids(i))).toList
      got == xs.sorted.take(k)
    }, min = 300)
  }

  private val datasetGen = for {
    n <- Gen.choose(6, 16)
    dim <- Gen.choose(2, 4)
    nc <- Gen.choose(2, 3)
    vecs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.chooseNum(-5.0, 5.0)))
    labels <- Gen.listOfN(n, Gen.choose(0, nc - 1))
  } yield (vecs, labels, nc)

  test("Keller memberships: rows sum to exactly 1.0, all in [0,1], own-class ≥ 0.51") {
    import spark.implicits._
    check(Prop.forAll(datasetGen) { case (vecs, labels, nc) =>
      val df = vecs.zip(labels).zipWithIndex
        .map { case ((v, l), i) => (i.toLong, v.toArray, l) }
        .toDF("vec_id", "v", "label")
      // the long view of the fitted table, which must equal the lazy one
      val fitted = Fknn.fit(df, k = 3, nClasses = nc)
      val mem = Fknn.memberships(fitted).collect()
      val lazyOk = mem.toSet == Fknn.membershipInit(df, k = 3, nClasses = nc).collect().toSet
      graft.core.Ckpt.release(fitted)
      val byId = mem.groupBy(_.getLong(0))
      val sumsOk = byId.values.forall(rs => math.abs(rs.map(_.getDouble(2)).sum - 1.0) < 1e-9)
      val rangeOk = mem.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      val ownOk = mem.forall { r =>
        r.getInt(1) != labels(r.getLong(0).toInt) || r.getDouble(2) >= 0.51
      }
      sumsOk && rangeOk && ownOk && lazyOk
    }, min = 5)
  }

  test("FkNN classification is invariant under translation of all vectors") {
    import spark.implicits._
    val gen = for {
      base <- datasetGen
      shift <- Gen.listOfN(4, Gen.chooseNum(-3.0, 3.0))
    } yield (base, shift)
    check(Prop.forAll(gen) { case ((vecs, labels, nc), shift) =>
      val rows = vecs.zip(labels).zipWithIndex
        .map { case ((v, l), i) => (i.toLong, v.toArray, l) }
      val df = rows.toDF("vec_id", "v", "label")
      val shifted = rows.map { case (i, v, l) =>
        (i, v.zipWithIndex.map { case (x, j) => x + shift(j % shift.size) }, l)
      }.toDF("vec_id", "v", "label")
      def preds(d: org.apache.spark.sql.DataFrame) = {
        val q = d.filter(col("vec_id") % 3 === 0)
        val t = d.filter(col("vec_id") % 3 =!= 0)
        Fknn.classifyPipeline(t, q, k = 2, nClasses = nc)
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      }
      preds(df) == preds(shifted)
    }, min = 3)
  }

  test("sessionize: per-user session count = 1 + #gaps>30min; event counts conserved") {
    import spark.implicits._
    val gen = for {
      nUsers <- Gen.choose(1, 3)
      evs <- Gen.listOf(for {
        u <- Gen.choose(0L, nUsers.toLong - 1)
        // offsets up to ~3h so both gap outcomes occur
        off <- Gen.chooseNum(0L, 10800L)
        v <- Gen.chooseNum(0.0, 5.0)
      } yield (u, off, v))
    } yield evs.zipWithIndex.map { case ((u, off, v), i) =>
      (i.toLong, new Timestamp(1700000000000L + off * 1000L), u, "e", v)
    }
    check(Prop.forAll(gen) { evs =>
      evs.isEmpty || {
        val df = evs.toDF("event_id", "ts", "user_id", "event_type", "value")
        val out = Streaming.sessionizeTransform(df)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val byUser = evs.groupBy(_._3)
        val expectedSessions = byUser.view.mapValues { rows =>
          val times = rows.map(e => (e._2.getTime, e._1)).sorted.map(_._1)
          1 + times.sliding(2).count { case Seq(a, b) => b - a > 1800000L; case _ => false }
        }.toMap
        val gotSessions = out.groupBy(_._1).view.mapValues(_.length).toMap
        val countsOk = out.groupBy(_._1).forall { case (u, rs) =>
          rs.map(_._3).sum == byUser(u).size
        }
        gotSessions == expectedSessions && countsOk
      }
    }, min = 20)
  }

  // randomized event feed for the TimeSeries invariants: n events over a
  // multi-hour span, a few types, values in a small range
  private val eventsGen = for {
    n <- Gen.choose(5, 40)
    rows <- Gen.listOfN(n, for {
      secs <- Gen.choose(0L, 6L * 3600)
      typ <- Gen.oneOf("a", "b")
      v <- Gen.chooseNum(-5.0, 5.0)
    } yield (secs, typ, v))
  } yield rows.zipWithIndex.map { case ((secs, typ, v), i) => (i.toLong, secs, typ, v) }

  private def eventsDf(rows: Seq[(Long, Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_id", "secs", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("secs"))).drop("secs")
      .withColumn("user_id", lit(1L))
  }

  test("resample grid: contiguous hours per type, exactly once, n conserved") {
    check(Prop.forAll(eventsGen) { rows =>
      val out = graft.rel.TimeSeries.resampleHourly(eventsDf(rows)).collect()
      val byType = out.groupBy(_.getString(0))
      val contiguous = byType.forall { case (_, rs) =>
        val hs = rs.map(_.getLong(1)).sorted
        hs.distinct.length == hs.length &&
          hs.zip(hs.drop(1)).forall { case (a, b) => b - a == 3600 }
      }
      val conserved = out.map(_.getLong(2)).sum == rows.length
      contiguous && conserved
    }, min = 15)
  }

  test("OHLC invariants: low ≤ open,close ≤ high; n conserved per type") {
    check(Prop.forAll(eventsGen) { rows =>
      val out = graft.rel.TimeSeries.ohlcHourly(eventsDf(rows)).collect()
      val bounds = out.forall { r =>
        val (o, h, l, c) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        l <= o && o <= h && l <= c && c <= h
      }
      bounds && out.map(_.getLong(6)).sum == rows.length
    }, min = 15)
  }

  test("ewmaScan (linear container) ≡ ewmaHourly (HOF) on random feeds") {
    check(Prop.forAll(eventsGen) { rows =>
      val df = eventsDf(rows)
      collectSet(graft.rel.TimeSeries.ewmaScan(df)) ==
        collectSet(graft.rel.TimeSeries.ewmaHourly(df))
    }, min = 10)
  }

  test("holtScan (linear container) ≡ holtHourly (HOF) on random feeds") {
    check(Prop.forAll(eventsGen) { rows =>
      val df = eventsDf(rows)
      collectSet(graft.rel.TimeSeries.holtScan(df)) ==
        collectSet(graft.rel.TimeSeries.holtHourly(df))
    }, min = 10)
  }

  test("corpus_line_dedup is the identity when nothing crosses the threshold") {
    import spark.implicits._
    // with minDocs > |corpus| no segment can be boilerplate, so the
    // segment → anti-join → ordered-reassembly round trip must return
    // every doc verbatim — this pins slicing arithmetic and reassembly
    // order for ragged tails, width-1 docs, duplicated docs, etc.
    val gen = for {
      n <- Gen.choose(1, 6)
      docs <- Gen.listOfN(n, Gen.choose(1, 12).flatMap(len =>
        Gen.listOfN(len, Gen.choose(0, 19).map(i => s"w$i"))))
    } yield docs.map(_.mkString(" "))
    check(Prop.forAll(gen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.llm.Curation.lineDedupDocs(docs, width = 3,
        minDocs = texts.length + 1).collect()
      out.length == texts.length && out.forall { r =>
        r.getLong(2) == 0L && r.getString(3) == texts(r.getLong(0).toInt)
      }
    }, min = 10)
  }

  test("triangleCount ≡ brute force on random small graphs") {
    import spark.implicits._
    val gen = for {
      nodes <- Gen.choose(3, 8)
      edges <- Gen.someOf(for { a <- 0 until nodes; b <- a + 1 until nodes }
        yield (a.toLong, b.toLong))
    } yield edges.toList
    check(Prop.forAll(gen suchThat (_.nonEmpty)) { edges =>
      val es = edges.toSet
      val nodes = es.flatMap(e => Seq(e._1, e._2)).toList.sorted
      val brute = (for {
        i <- nodes; j <- nodes if j > i; k <- nodes if k > j
        if es((i, j)) && es((j, k)) && es((i, k))
      } yield 1).size
      val r = graft.rel.Graph.triangleCount(edges.toDF("p1", "p2")).collect().head
      r.getLong(0) == edges.length && r.getLong(1) == brute.toLong
    }, min = 15)
  }

  test("banded SimHash pigeonhole holds for arbitrary 64-bit signatures (incl. sign bit)") {
    import spark.implicits._
    // correlated signatures (base ^ up-to-10 bit flips) so Hamming ≤ 7
    // pairs actually occur — independent random longs sit near Hamming 32
    // and the property would be vacuous
    val gen = for {
      base <- Gen.choose(Long.MinValue, Long.MaxValue)
      n <- Gen.choose(2, 10)
      flips <- Gen.listOfN(n, Gen.listOf(Gen.choose(0, 63)).map(_.take(10)))
    } yield flips.zipWithIndex.map { case (fs, i) =>
      (i.toLong, fs.foldLeft(base)((a, b) => a ^ (1L << b)))
    }
    check(Prop.forAll(gen) { sigRows =>
      val df = sigRows.toDF("doc_id", "simhash")
      collectSet(graft.llm.Dedup.simhashBandedPairs(spark, df,
        maxHamming = 7, simBits = 64, simBands = 8)) ==
        collectSet(graft.llm.Dedup.simhashAllPairs(df, maxHamming = 7))
    }, min = 10)
  }

  test("candidate-driven jaccardVerify ≡ all-pairs when candidates cover all pairs") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(2, 7)
      docs <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.choose(0, 12)))
    } yield docs
    check(Prop.forAll(gen) { docs =>
      val toks = docs.zipWithIndex
        .flatMap { case (ts, i) => ts.distinct.map(t => (i.toLong, s"t$t")) }
        .toDF("doc_id", "tok")
      val n = docs.length
      val cand = (for { a <- 0 until n; b <- a + 1 until n }
        yield (a.toLong, b.toLong)).toDF("d1", "d2")
      collectSet(graft.llm.TextOps.jaccardVerify(cand, toks, 0.3)) ==
        collectSet(graft.llm.TextOps.jaccardAllPairs(toks, 0.3))
    }, min = 10)
  }

  test("FusedCosine ≡ composed three-fold form for arbitrary dims and values") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.functions.ArrayDistance
    val gen = for {
      dim <- Gen.choose(1, 16)
      n <- Gen.choose(1, 8)
      vs <- Gen.listOfN(n, Gen.zip(
        Gen.listOfN(dim, Gen.chooseNum(-10.0, 10.0)),
        Gen.listOfN(dim, Gen.chooseNum(-10.0, 10.0))))
    } yield vs
    check(Prop.forAll(gen) { vs =>
      // zero-norm rows must be excluded from the composed comparison: the
      // composed Column form RAISES under ANSI (Spark 4 default Divide)
      // where the fused expression yields IEEE NaN — asserted separately
      val nonzero = vs.filter { case (a, b) =>
        a.exists(_ != 0.0) && b.exists(_ != 0.0)
      }
      nonzero.isEmpty || {
        val rows = nonzero.map { case (a, b) => Row(a.toArray, b.toArray) }
        val schema = StructType(Seq(
          StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        val composed = lit(1.0) - ArrayDistance.dot(col("a"), col("b")) /
          (sqrt(ArrayDistance.dot(col("a"), col("a"))) *
            sqrt(ArrayDistance.dot(col("b"), col("b"))))
        df.select(ArrayDistance.cosine(col("a"), col("b")).as("fc"), composed.as("cc"))
          .collect().forall { r =>
            java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
              java.lang.Double.doubleToLongBits(r.getDouble(1))
          }
      }
    }, min = 10)
    // the zero-norm contract itself: fused → NaN (ranks last), total
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))
    val z = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Array(0.0, 0.0), Array(1.0, 2.0))), 1), schema)
    assert(z.select(ArrayDistance.cosine(col("a"), col("b"))).head().getDouble(0).isNaN)
  }

  test("BPE merges never change the reconstructed corpus: joining symbols recovers every word") {
    // the defining invariant of a merge table: applying any number of
    // merges re-segments but never rewrites — concatenating each word's
    // final symbols must reproduce the word exactly, and total symbol
    // count decreases by exactly the weighted pair hits of each round
    val docGen = for {
      nw <- Gen.choose(2, 6)
      words <- Gen.listOfN(nw, Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    } yield words
    check(Prop.forAll(docGen) { words =>
      import spark.implicits._
      val docs = Seq((0L, words.mkString(" "))).toDF("doc_id", "text")
      val enc = graft.llm.TextAnalysis.bpeEncodeDocs(docs, rounds = 3).collect()
      // chars are conserved (reconstruction implied: merges only concat
      // adjacent symbols of the SAME word, so n_chars must equal the
      // summed word lengths and n_tokens can never exceed n_chars)
      enc.forall { r =>
        val nTok = r.getLong(2); val nChars = r.getLong(3)
        nChars == words.map(_.length).sum && nTok <= nChars && nTok >= words.length
      }
    }, min = 15)
  }

  test("interval-bin join ≡ direct θ-join for arbitrary window lengths vs bin width") {
    // the binning decomposition must be exact whatever the ratio of
    // interval length to bin width (sub-bin, exact-bin, multi-bin)
    val gen = for {
      winLen <- Gen.choose(1L, 9000L)
      pts <- Gen.nonEmptyListOf(Gen.choose(0L, 20000L))
      starts <- Gen.nonEmptyListOf(Gen.choose(0L, 20000L))
    } yield (winLen, pts, starts)
    check(Prop.forAll(gen) { case (winLen, pts, starts) =>
      import spark.implicits._
      val binW = 3600L
      val wins = starts.distinct.map(s => (s, s, s + winLen)).toDF("w_id", "ws", "we")
      val p = pts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("p_id", "pt")
      val binned = wins
        .select(col("w_id"), col("ws"), col("we"),
          explode(expr(s"sequence(ws div ${binW}L, (we - 1) div ${binW}L)")).as("bin"))
        .join(p.withColumn("bin", expr(s"pt div ${binW}L")), "bin")
        .filter(col("pt") >= col("ws") && col("pt") < col("we"))
        .select("w_id", "p_id")
      val direct = wins.join(p, col("pt") >= col("ws") && col("pt") < col("we"))
        .select("w_id", "p_id")
      collectSet(binned) == collectSet(direct)
    }, min = 10)
  }

  test("EWMA stays inside the running [min, max] envelope of bucket means") {
    check(Prop.forAll(eventsGen) { rows =>
      val df = eventsDf(rows)
      val means = graft.rel.TimeSeries.resampleHourly(df).collect()
        .filter(_.getLong(2) > 0) // observed buckets carry the bucket mean
        .groupBy(_.getString(0))
        .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(3))).toMap
      val ew = graft.rel.TimeSeries.ewmaHourly(df).collect()
        .groupBy(_.getString(0))
        .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(2))).toMap
      ew.forall { case (typ, es) =>
        val ms = means(typ)
        es.indices.forall { i =>
          val seen = ms.take(i + 1)
          // 1e-6 slack: both sides are 6-dp rounded
          es(i) >= seen.min - 1e-6 && es(i) <= seen.max + 1e-6
        }
      }
    }, min = 15)
  }

  test("Hamilton apportionment: Σalloc = budget and every alloc within 1 of ideal, any weights") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 12)
      toks <- Gen.listOfN(n, Gen.choose(1L, 100000L))
      budget <- Gen.choose(100L, 1000000L)
    } yield (toks, budget)
    check(Prop.forAll(gen) { case (toks, budget) =>
      // one doc per source whose whitespace token count IS the drawn
      // mass (capped so the text stays materializable)
      val capped = toks.map(t => math.min(t, 2000L))
      val df = capped.zipWithIndex.map { case (t, i) =>
        (i.toLong, Seq.fill(t.toInt)("x").mkString(" "), f"s$i%02d")
      }.toDF("doc_id", "text", "source")
      val out = graft.llm.TextAnalysis.apportionDocs(df, budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val total = capped.sum
      val sumOk = out.map(_._3).sum == budget
      val boundOk = out.forall { case (_, tok, alloc) =>
        math.abs(alloc - budget.toDouble * tok / total) < 1.0 + 1e-9
      }
      sumOk && boundOk
    }, min = 12)
  }

  test("grid spatial join ≡ naive radius join for arbitrary point clouds") {
    import spark.implicits._
    // exercises the arithmetic via a custkey/acctbal-shaped frame: the
    // query derives (x, y) from (c_acctbal, c_custkey % 89)
    val gen = for {
      n <- Gen.choose(2, 40)
      pts <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 500L), Gen.chooseNum(-900.0, 900.0)))
    } yield pts.groupBy(_._1).map(_._2.head).toList // unique ids
    check(Prop.forAll(gen) { pts =>
      val df = pts.map { case (id, bal) =>
        (id, s"c$id", 0, math.floor(bal * 100 + 0.5) / 100, "SEG")
      }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val dir = java.nio.file.Files.createTempDirectory("gridprop").toString
      df.write.mode("overwrite").parquet(s"$dir/customer.parquet")
      val got = graft.rel.Queries.joinSpatialGrid(spark, dir)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val coords = pts.map { case (id, bal) =>
        (id, math.floor(bal * 100 + 0.5) / 100, (id % 89) * 50.0)
      }
      val naive = (for {
        (ia, xa, ya) <- coords; (ib, xb, yb) <- coords
        if ia < ib && math.sqrt((xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)) <= 100.0
      } yield (ia, ib)).toSet
      got == naive
    }, min = 10)
  }

  test("transition matrix: per-state probability rows sum to 1 on random event streams") {
    check(Prop.forAll(eventsGen suchThat (_.nonEmpty)) { rows =>
      val tm = graft.rel.TimeSeries.transitionMatrix(eventsDf(rows)).collect()
      tm.isEmpty || tm.groupBy(_.getString(0)).values.forall { g =>
        math.abs(g.map(_.getDouble(3)).sum - 1.0) < 1e-4
      }
    }, min = 12)
  }

  test("theil-sen distributed selection ≡ row-rank window form on random event streams") {
    // the round-9 rewrite's identity, property-checked beyond the fixed
    // fixture: the bucketed two-level rank selection must equal the
    // pre-rewrite global window rank for ANY value/tie/type pattern
    import org.apache.spark.sql.expressions.Window
    def windowForm(ev: org.apache.spark.sql.DataFrame) = {
      val b = ev.groupBy(col("event_type"),
          date_trunc("hour", col("ts")).cast("long").as("hs"))
        .agg(graft.rel.Queries.rnd(avg(col("value")), 6).as("v"))
        .select(col("event_type"), col("hs"),
          floor(col("v") * 1e6 + 0.5).cast("long").as("vu"))
      val a = b.select(col("event_type"), col("hs").as("h1"), col("vu").as("v1"))
      val c = b.select(col("event_type"), col("hs").as("h2"), col("vu").as("v2"))
      val pairs = a.join(c, Seq("event_type")).filter(col("h1") < col("h2"))
        .select(col("event_type"), col("h1"), col("h2"),
          ((col("v2") - col("v1")) / ((col("h2") - col("h1")) / lit(3600L))).as("slope"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("slope"), col("h1"), col("h2"))
      val g = Window.partitionBy(col("event_type"))
      pairs.withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(g))
        .filter(col("r") * 2 >= col("n"))
        .groupBy(col("event_type"))
        .agg(min(col("slope")).as("med"), max(col("n")).as("n_pairs"))
        .select(col("event_type"), col("n_pairs"),
          graft.rel.Queries.rnd(col("med") / 1e6, 6).as("slope_per_hour"))
    }
    check(Prop.forAll(eventsGen suchThat (_.nonEmpty)) { rows =>
      val ev = eventsDf(rows).withColumn("user_id", lit(1L))
      val got = graft.rel.TimeSeries.theilSen(ev).collect().map(_.toSeq).toSet
      val ref = windowForm(ev).collect().map(_.toSeq).toSet
      got == ref
    }, min = 10)
  }

  test("harmonicHll ≡ exact harmonicPerSeed on random graphs (sparse-exact regime)") {
    // random sparse graphs stay far under the lgK=10 coupon threshold,
    // so the sketch must track the exact BFS fold essentially exactly —
    // for EVERY node (seedMod = 1), not just the declared seed set
    val gen = for {
      n <- Gen.choose(4, 20)
      m <- Gen.choose(3, 40)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield es.filter { case (a, b) => a != b }
    check(Prop.forAll(gen suchThat (_.nonEmpty)) { es =>
      import spark.implicits._
      val half = es.toDF("src", "dst")
      val edges = half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("node")).distinct()
      val exact = graft.rel.Graph.harmonicPerSeed(edges, seeds)
        .collect().map(r => r.getLong(0) -> (r.getLong(1).toDouble, r.getDouble(2))).toMap
      val est = graft.rel.Graph.harmonicHll(edges, seedMod = 1)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      // exact omits zero-reach seeds; est emits every node — compare on
      // exact's support and require est ≈ 0 elsewhere
      exact.forall { case (s, (nEx, hEx)) =>
        est.contains(s) &&
          math.abs(est(s)._1 - nEx) <= math.max(0.5, 0.02 * nEx) &&
          math.abs(est(s)._2 - hEx) <= math.max(0.02, 0.02 * hEx)
      } && (est.keySet -- exact.keySet).forall(s => est(s)._2 < 0.02)
    }, min = 10)
  }

  test("PSI: non-negative on any split (same-sign terms) and symmetric under half swap") {
    // each term (p−q)·ln(p/q) has matching signs, so PSI ≥ 0 always;
    // and swapping the halves negates both factors → identical scalar
    val gen = Gen.listOf(Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 2100L)))
      .suchThat(_.size >= 2)
    check(Prop.forAll(gen) { rows =>
      import spark.implicits._
      val docs = rows.zipWithIndex.map { case ((id, len), i) =>
        (id * 100 + i, "t", "en", "s", len)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val ab = graft.llm.TextAnalysis.psiDriftDocs(docs).head().getDouble(2)
      val swapped = docs.withColumn("doc_id", col("doc_id") + 1)
      val ba = graft.llm.TextAnalysis.psiDriftDocs(swapped).head().getDouble(2)
      ab >= -1e-12 && math.abs(ab - ba) < 1e-9
    }, min = 10)
  }

  test("snapshotDiff: statuses partition the key union; added/removed match set differences") {
    val gen = for {
      pIds <- Gen.listOf(Gen.choose(0L, 30L)).map(_.distinct)
      cIds <- Gen.listOf(Gen.choose(0L, 30L)).map(_.distinct)
      mutated <- Gen.listOf(Gen.choose(0L, 30L)).map(_.toSet)
    } yield (pIds, cIds, mutated)
    check(Prop.forAll(gen) { case (pIds, cIds, mutated) =>
      import spark.implicits._
      val prev = pIds.map(i => (i, s"doc $i")).toDF("doc_id", "text")
      val curr = cIds.map(i => (i, if (mutated(i)) s"DOC $i!" else s"doc $i"))
        .toDF("doc_id", "text")
      val out = graft.llm.Curation.snapshotDiff(prev, curr)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val (p, c) = (pIds.toSet, cIds.toSet)
      out.getOrElse("added", 0L) == (c -- p).size.toLong &&
        out.getOrElse("removed", 0L) == (p -- c).size.toLong &&
        out.getOrElse("changed", 0L) == (p & c).count(mutated).toLong &&
        out.values.sum == (p ++ c).size.toLong
    }, min = 12)
  }

  test("cusum closed form ≡ the sequential S⁺ recurrence on random hourly series") {
    // S⁺_i = P_i − min(0, min_{j≤i} P_j) must equal the textbook
    // max(0, S⁺_{i−1} + d_i) fold for ANY series — the identity the
    // two-window plan rests on. Values land on 1dp so the 6dp bucket
    // rounding is exact and the reference fold sees identical inputs.
    val gen = Gen.nonEmptyListOf(Gen.choose(-300, 300).map(_ / 10.0))
      .map(_.take(40))
    check(Prop.forAll(gen) { vals =>
      import spark.implicits._
      val rows = vals.zipWithIndex.map { case (v, h) =>
        (h.toLong, new Timestamp(h * 3600000L), 1L, "t", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.rel.TimeSeries.cusumHourly(rows)
        .orderBy("hs").select("cusum_pos").as[Double].collect()
      val mean = vals.map(v => math.floor(v * 1e6 + 0.5)).sum / vals.length / 1e6
      val ref = vals.scanLeft(0.0)((s, v) => math.max(0.0, s + (v - mean))).tail
      got.zip(ref).forall { case (g, r) => math.abs(g - r) < 1e-4 }
    }, min = 12)
  }

  test("burstiness ∈ [−1, 1) with cv ≥ 0 for arbitrary event spacings") {
    val gen = Gen.listOfN(12, Gen.choose(0L, 7200L)).map(_.distinct)
      .suchThat(_.size >= 3)
    check(Prop.forAll(gen) { offs =>
      import spark.implicits._
      val rows = offs.sorted.zipWithIndex.map { case (o, i) =>
        (i.toLong, new Timestamp(o * 1000L), 1L, "t", 1.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val r = graft.rel.TimeSeries.burstiness(rows).collect().head
      val (cv, b) = (Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double]))
      // all-identical sub-second gaps yield NULLs (0/0 guarded), else
      // σ ≥ 0 pins B ∈ [−1, 1) and cv ≥ 0
      b.forall(x => x >= -1.0 && x < 1.0) && cv.forall(_ >= 0.0)
    }, min = 12)
  }

  test("theilSenSampled: budget ≥ bucket count is the identity on random series") {
    val gen = Gen.nonEmptyListOf(Gen.choose(-500, 500).map(_ / 10.0))
      .map(_.take(30)).suchThat(_.size >= 2)
    check(Prop.forAll(gen) { vals =>
      import spark.implicits._
      val rows = vals.zipWithIndex.map { case (v, h) =>
        (h.toLong, new Timestamp(h * 3600000L), 1L, "t", v)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val exact = graft.rel.TimeSeries.theilSen(rows).collect().map(_.toSeq).toSet
      val capped = graft.rel.TimeSeries.theilSenSampled(rows, vals.length + 1)
        .collect().map(_.toSeq).toSet
      capped == exact
    }, min = 8)
  }

  test("mmr: rank 1 is the pure-relevance argmax; picks distinct, from the shortlist") {
    val gen = for {
      n <- Gen.choose(4, 9)
      vecs <- Gen.listOfN(n, Gen.listOfN(3, Gen.choose(-100, 100).map(_ / 100.0)))
        .suchThat(_.forall(v => v.exists(_ != 0.0)))
      q <- Gen.listOfN(3, Gen.choose(-100, 100).map(_ / 100.0))
        .suchThat(_.exists(_ != 0.0))
    } yield (q, vecs)
    check(Prop.forAll(gen) { case (q, vecs) =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("mmrp").toString
      val rows = ((1L, q) +: vecs.zipWithIndex.map { case (v, i) => ((21 + i).toLong, v) })
      rows.toDF("vec_id", "embedding")
        .withColumn("embedding", expr("transform(embedding, x -> x::FLOAT)"))
        .withColumn("label", lit(0))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = graft.llm.AnnSearch.mmrSelect(spark, dir)
        .orderBy("rank").collect()
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val sims = vecs.zipWithIndex.map { case (v, i) => (21 + i).toLong -> cos(q, v) }
      // rank-1 = argmax relevance (ties → lowest id), ranks 1..k, distinct
      val best = sims.maxBy { case (id, s) => (s, -id) }._1
      got.headOption.forall(_._1 == best) &&
        got.map(_._1).distinct.length == got.length &&
        got.map(_._2).toSeq == (1 to got.length)
    }, min = 8)
  }

  test("skylineOf ≡ brute-force dominance filter on random (size, price) tables") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1, 10), Gen.choose(1, 50).map(_ * 1.0)))
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Queries.skylineOf(pts.toDF("p_size", "p_retailprice"))
        .select("p_size", "skyline_price").as[(Int, Double)].collect().toSet
      // brute force: distinct (size, min-price-at-size) not dominated by
      // any point (size ≥ ∧ price ≤, one strict)
      val perSize = pts.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val expect = perSize.filter { case (s, p) =>
        !perSize.exists { case (s2, p2) =>
          s2 >= s && p2 <= p && (s2 > s || p2 < p)
        }
      }.toSet
      got == expect
    }, min = 25)
  }

  test("mannwhitneyOf ≡ brute-force midrank U on random two-sample data") {
    import spark.implicits._
    // values from a small integer domain to force heavy TIES — the
    // midrank/tie-correction path is the property's point
    val gen = for {
      a <- Gen.nonEmptyListOf(Gen.choose(1, 6).map(_ * 1.0))
      b <- Gen.nonEmptyListOf(Gen.choose(1, 6).map(_ * 1.0))
      if a.nonEmpty && b.nonEmpty
    } yield (a, b)
    check(Prop.forAll(gen) { case (a, b) =>
      val rows = a.map((true, _)) ++ b.map((false, _))
      val df = rows.zipWithIndex
        .map { case ((isa, v), i) => (isa, v, i.toLong) }
        .toDF("isa", "value", "event_id")
      val got = graft.rel.Queries.mannwhitneyOf(df)
        .select("u_stat").as[Double].head()
      val all = (a ++ b).sorted
      def midrank(v: Double): Double = {
        val lt = all.count(_ < v); val eq = all.count(_ == v)
        lt + (eq + 1) / 2.0
      }
      val u1 = a.map(midrank).sum - a.length.toLong * (a.length + 1) / 2.0
      math.abs(got - u1) < 1e-6
    }, min = 20)
  }

  test("spearmanOf ≡ brute-force midrank Pearson on random tied pairs") {
    import spark.implicits._
    // small integer domains force ties in BOTH columns; require some
    // variance in each (rho undefined on a constant column)
    val gen = Gen.listOfN(12, Gen.zip(
      Gen.choose(1, 4).map(_ * 1.0), Gen.choose(1, 4).map(_ * 1.0)))
      .suchThat(l => l.map(_._1).distinct.size > 1 && l.map(_._2).distinct.size > 1)
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Queries.spearmanOf(pts.toDF("x", "y"))
        .select("rho").as[Double].head()
      def midranks(vs: List[Double]): Map[Double, Double] = {
        val sorted = vs.sorted
        vs.distinct.map { v =>
          v -> (sorted.count(_ < v) + (sorted.count(_ == v) + 1) / 2.0)
        }.toMap
      }
      val mx = midranks(pts.map(_._1)); val my = midranks(pts.map(_._2))
      val rs = pts.map { case (x, y) => (mx(x), my(y)) }
      val n = rs.length.toDouble
      val (sx, sy) = (rs.map(_._1).sum, rs.map(_._2).sum)
      val expect = (n * rs.map(p => p._1 * p._2).sum - sx * sy) /
        math.sqrt((n * rs.map(p => p._1 * p._1).sum - sx * sx) *
          (n * rs.map(p => p._2 * p._2).sum - sy * sy))
      math.abs(got - expect) < 1e-6
    }, min = 15)
  }

  test("kruskalOf ≡ brute-force tie-corrected H on random grouped data") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("a", "b", "c"), Gen.choose(1, 5).map(_ * 1.0)))
      .suchThat(l => l.map(_._1).distinct.size >= 2 && l.size >= 4 &&
        l.map(_._2).distinct.size > 1)
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Queries.kruskalOf(pts.toDF("g", "v"))
        .select("h", "h_tie").as[(Double, Double)].head()
      val all = pts.map(_._2).sorted
      def midrank(v: Double): Double =
        all.count(_ < v) + (all.count(_ == v) + 1) / 2.0
      val n = pts.length.toDouble
      val s = pts.groupBy(_._1).values.map { g =>
        val r = g.map(p => midrank(p._2)).sum
        r * r / g.length
      }.sum
      val h = 12.0 * s / (n * (n + 1)) - 3 * (n + 1)
      val ties = all.groupBy(identity).values
        .map(t => t.length.toLong * t.length * t.length - t.length).sum
      val hTie = h / (1.0 - ties / (n * n * n - n))
      math.abs(got._1 - h) < 1e-6 && math.abs(got._2 - hTie) < 1e-6
    }, min = 15)
  }

  test("kendallOf ≡ all-pairs tau-b on random tied grids") {
    import spark.implicits._
    val gen = Gen.listOfN(15, Gen.zip(
      Gen.choose(1, 4).map(_ * 1.0), Gen.choose(1, 3).map(_ * 1.0)))
      .suchThat(l => l.map(_._1).distinct.size > 1 && l.map(_._2).distinct.size > 1)
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Queries.kendallOf(pts.toDF("x", "y"))
        .select("pq_diff", "tau_b").as[(Long, Double)].head()
      var p = 0L; var q = 0L
      for (i <- pts.indices; j <- (i + 1) until pts.length) {
        val s = (pts(i)._1 - pts(j)._1) * (pts(i)._2 - pts(j)._2)
        if (s > 0) p += 1 else if (s < 0) q += 1
      }
      val n = pts.length.toDouble
      val n0 = n * (n - 1) / 2
      val n1 = pts.groupBy(_._1).values.map(t => t.length.toDouble * (t.length - 1) / 2).sum
      val n2 = pts.groupBy(_._2).values.map(t => t.length.toDouble * (t.length - 1) / 2).sum
      got._1 == p - q &&
        math.abs(got._2 - (p - q) / math.sqrt((n0 - n1) * (n0 - n2))) < 1e-6
    }, min = 15)
  }

  test("anovaOf ≡ brute-force one-way F on random grouped data") {
    import spark.implicits._
    val gen = Gen.listOfN(12, Gen.zip(
      Gen.oneOf("a", "b"), Gen.choose(1, 9).map(_ / 2.0)))
      .suchThat { l =>
        val gs = l.groupBy(_._1)
        gs.size == 2 && gs.values.forall(_.size >= 2) &&
          gs.values.exists(g => g.map(_._2).distinct.size > 1)
      }
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Queries.anovaOf(pts.toDF("g", "v"))
        .select("f", "eta_sq").as[(Double, Double)].head()
      val e6 = pts.map { case (g, v) => (g, math.floor(v * 1e6 + 0.5)) }
      val n = e6.length.toDouble
      val grand = e6.map(_._2).sum / n
      val groups = e6.groupBy(_._1).values.toSeq
      val ssb = groups.map { g =>
        val m = g.map(_._2).sum / g.length
        g.length * (m - grand) * (m - grand)
      }.sum
      val ssw = groups.map { g =>
        val m = g.map(_._2).sum / g.length
        g.map(p => (p._2 - m) * (p._2 - m)).sum
      }.sum
      val f = (ssb / (groups.size - 1)) / (ssw / (n - groups.size))
      math.abs(got._1 - f) < 1e-4 && math.abs(got._2 - ssb / (ssb + ssw)) < 1e-6
    }, min = 15)
  }

  test("Rank.groupQuantiles ≡ sorted inverted-CDF cut per key on random grouped longs") {
    import spark.implicits._
    val permille = Seq(250, 500, 750, 950)
    val gen = Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("a", "b"), Gen.choose(-9L, 9L)))
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Rank.groupQuantiles(
        pts.toDF("g", "v"), col("g"), col("v"), permille)
        .select("mr_k", "q_permille", "mr_v")
        .as[(String, Int, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val expect = (for {
        (g, rows) <- pts.groupBy(_._1).toSeq
        q <- permille
      } yield {
        val s = rows.map(_._2).sorted
        // smallest value at rank ceil(q·n/1000): type-1 inverted CDF
        (g, q) -> s((q * s.length + 999) / 1000 - 1)
      }).toMap
      got == expect
    }, min = 20)
  }

  test("Rank.groupMedian ≡ sorted lower-middle per key on random grouped longs") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("a", "b", "c"), Gen.choose(-20L, 20L)))
    check(Prop.forAll(gen) { pts =>
      val got = graft.rel.Rank.groupMedian(
        pts.toDF("g", "v"), col("g"), col("v"))
        .select("mr_k", "mr_median").as[(String, Long)].collect().toMap
      val expect = pts.groupBy(_._1).map { case (g, rows) =>
        val s = rows.map(_._2).sorted
        g -> s((s.length - 1) / 2)
      }
      got == expect
    }, min = 20)
  }
}
