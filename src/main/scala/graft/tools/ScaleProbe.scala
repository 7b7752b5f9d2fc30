package graft.tools

import org.apache.spark.sql.functions._

import graft.core.Fknn

/** Scale experiment: run the FkNN kernel on an N-row synthetic embedding
  * table (written to /tmp) to check the O(N²) pair stage scales linearly
  * in pairs with the bounded-heap top-k (no driver collect, no full-sort).
  * usage: tools/run.sh graft.tools.ScaleProbe [nRows] [dim]
  * (the table goes under `java.io.tmpdir`; set it with -Djava.io.tmpdir)
  *
  * The per-layer split of the kernel (forced distance scan vs top-k) is
  * perfbench's `distance.scan_s` / `topk.self_s`, not timed here: a bare
  * `count()` over the pair frame prunes the distance column, so it times
  * a scan that never runs (perfbench/NOTES.md).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    val dim = if (args.length > 1) args(1).toInt else 64
    // the factory sets the raised object-hash fallback threshold that
    // kNN-sized group counts need, or ObjectHashAggregate sort-falls-back
    // (the 4-8× regression this probe exists to measure the absence of)
    val spark = graft.Session()

    val path = s"${System.getProperty("java.io.tmpdir")}/scale_emb_${n}_$dim"
    // deterministic synthetic vectors: hash-seeded, no RNG state
    spark.range(n)
      .select(
        col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), i -> sin(id * 131 + i) )").as("v"),
        (col("id") % 10).cast("int").as("label"))
      .write.mode("overwrite").parquet(path)
    val e = spark.read.parquet(path)
    val train = e.filter(col("vec_id") % 10 =!= 0)
    val queries = e.filter(col("vec_id") % 10 === 0)

    // stage 1 forced through sum(membership), as perfbench forces
    // `fknn.membership_s`: under a bare count() Catalyst could drop the
    // neighbour-label left join (unique aggregate keys), so the O(N²)
    // chain would never run
    var t0 = System.nanoTime()
    val memRows = Fknn.membershipInit(train, 5, 10)
      .agg(count(lit(1)), sum(col("membership"))).head().getLong(0)
    val tMem = (System.nanoTime() - t0) / 1e9
    // production path: classifyPipeline materializes stage 1 once (Fknn.fit)
    t0 = System.nanoTime()
    val pred = Fknn.classifyPipeline(train, queries, 5, 10)
    val predRows = pred.count()
    val tCls = (System.nanoTime() - t0) / 1e9
    val pairs = (n * 0.9).toLong * (n * 0.9).toLong
    println(f"[scale] n=$n dim=$dim selfPairs=$pairs membership=$memRows rows in $tMem%.1f s " +
      f"(${pairs / tMem / 1e6}%.1f Mpairs/s), classify=$predRows rows in $tCls%.1f s")

    // crisp-kNN declared-split path (round-5: no forced broadcast — the
    // size estimate owns the placement). The probe reports the placement
    // the block operator got, so the size gate is DOCUMENTED flipping: a
    // small query side still broadcasts (the fast plan), one past the
    // threshold runs per partition pair — the shape that survives a
    // corpus-proportional query side at 100 TB instead of OOMing an
    // executor on a forced build.
    t0 = System.nanoTime()
    val topk = graft.core.Knn.knn(queries, train, 5)
    val nk = topk.count()
    val tKnn = (System.nanoTime() - t0) / 1e9
    val phys = topk.queryExecution.executedPlan.toString
    val join =
      if (phys.contains("KnnBlock")) {
        if (phys.contains("broadcast query")) "block-broadcast" else "block-partitioned"
      } else if (phys.contains("CartesianProduct")) "cartesian"
      else if (phys.contains("BroadcastNestedLoop")) "broadcast-nl"
      else "other"
    val qtPairs = (n * 0.9).toLong * (n / 10)
    println(f"[scale] knn_topk n=$n q=${n / 10} join=$join rows=$nk wall=$tKnn%.1f s " +
      f"(${qtPairs / tKnn / 1e6}%.1f Mpairs/s)")
    spark.stop()
  }
}
