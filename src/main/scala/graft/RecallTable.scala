package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/**
 * ANN recall evidence (r5 verdict #2): measure recall@k of every
 * approximate similarity path against the exact brute-force baseline on
 * the same embeddings table, and print the BASELINE.md table rows.
 *
 * Sweeps:
 *  - LSH: nPlanes 4 / 8 / 12 (recall falls as planes rise — buckets
 *    halve per plane; the claim "raise nPlanes for precision, lower for
 *    recall" becomes a measured curve)
 *  - IVF, id-prefix quantizer (the oracle-checkable placeholder) and
 *    TRAINED k-means quantizer: nprobe 1 / 2 / 4 / 8 at nlist 8 —
 *    nprobe = nlist probes every cell, so recall is exactly 1.0 there
 *    by construction (asserted in AnnRecallSuite).
 *
 * Usage: `sbt -batch "runMain graft.RecallTable /root/testdata/sf0.01"`.
 */
object RecallTable {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val k = 10
    val dim = 64
    val nlist = 8
    val e = graft.sources.Catalog.load(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") < 50)
    val truth = Similarity.bruteForceTopK(e, queries, k).localCheckpoint()

    def mean(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, truth)
        .agg(avg(col("recall"))).head().getDouble(0)

    println(s"| path | param | recall@$k |")
    println("|---|---|---|")
    for (nPlanes <- Seq(4, 8, 12)) {
      val r = mean(Similarity.lshTopK(e, queries, k, dim, nPlanes))
      println(f"| LSH | nPlanes=$nPlanes | $r%.3f |")
    }
    for (nPlanes <- Seq(4, 8, 12)) {
      val r = mean(Similarity.lshTopKMultiProbe(e, queries, k, dim, nPlanes))
      println(f"| LSH multi-probe | nPlanes=$nPlanes | $r%.3f |")
    }
    val trained = Similarity.trainIvfCentroids(e, nlist, iters = 5)
    // inverted-list population — the 100 TB scale-killer is a skewed
    // cell; print max/median/mean per quantizer so BASELINE.md carries
    // the distribution next to the recall rows
    def cellRow(label: String, cents: Array[(Long, Array[Double])]): Unit = {
      val ns = Similarity.ivfCellStats(e, cents)
        .collect().map(_.getLong(1)).sorted
      val med = ns(ns.length / 2)
      val meanN = ns.sum.toDouble / ns.length
      println(f"| IVF cells $label | nlist=$nlist | populated=${ns.length} " +
        f"max=${ns.last} median=$med mean=$meanN%.0f skew=${ns.last / meanN}%.2fx |")
    }
    val prefixCents = e.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    cellRow("id-prefix", prefixCents)
    cellRow("trained", trained)
    for (nprobe <- Seq(1, 2, 4, 8)) {
      val rid = mean(Similarity.ivfTopK(e, queries, k, nlist, nprobe))
      val rtr = mean(Similarity.ivfTopKWith(e, queries, k, trained, nprobe))
      println(f"| IVF id-prefix | nprobe=$nprobe/$nlist | $rid%.3f |")
      println(f"| IVF trained | nprobe=$nprobe/$nlist | $rtr%.3f |")
    }

    // PQ paths approximate L2, so they score against the exact-L2 truth
    val truthL2 = Similarity.bruteForceTopKL2(e, queries, k).localCheckpoint()
    def meanL2(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, truthL2)
        .agg(avg(col("recall"))).head().getDouble(0)
    val nBlocks = 8; val cpb = 16
    val cbPrefix = Similarity.pqCodebookFromPrefix(e, dim, nBlocks, cpb)
    val cbTrained = Similarity.trainPqCodebooks(e, dim, nBlocks, cpb, iters = 5)
    println(f"| PQ id-prefix (vs L2) | 8x16 codes | ${
      meanL2(Similarity.pqTopKWith(e, queries, k, cbPrefix, nBlocks, cpb))}%.3f |")
    println(f"| PQ trained (vs L2) | 8x16 codes | ${
      meanL2(Similarity.pqTopKWith(e, queries, k, cbTrained, nBlocks, cpb))}%.3f |")
    // the production knob (Jégou et al.): 256 codes = 1 byte per block
    val cb256 = Similarity.trainPqCodebooks(e, dim, nBlocks, 256, iters = 5)
    println(f"| PQ trained (vs L2) | 8x256 codes | ${
      meanL2(Similarity.pqTopKWith(e, queries, k, cb256, nBlocks, 256))}%.3f |")
    for (nprobe <- Seq(1, 2, 4, 8)) {
      val r = meanL2(Similarity.ivfAdcTopKWith(e, queries, k, trained,
        cbTrained, nprobe, nBlocks, cpb))
      println(f"| IVFADC trained (vs L2) | nprobe=$nprobe/$nlist | $r%.3f |")
    }
    // end-to-end production stack: IVFADC shortlist → exact rerank.
    // Rerank recall ≥ the ADC-ranked recall at the same nprobe by
    // construction (every truth hit the shortlist contains survives an
    // exact rerank — fewer than k items can beat it); the sweep measures
    // how fast kShort converts shortlist recall into result recall.
    for (nprobe <- Seq(2, 4); kShort <- Seq(20, 50, 100)) {
      val adc = meanL2(Similarity.ivfAdcTopKWith(e, queries, k, trained,
        cbTrained, nprobe, nBlocks, cpb))
      val r = meanL2(Similarity.ivfAdcRerankTopK(e, queries, k, kShort,
        trained, cbTrained, nprobe, nBlocks, cpb))
      println(f"| IVFADC→rerank (vs L2) | nprobe=$nprobe kShort=$kShort | $r%.3f (ADC $adc%.3f) |")
    }
    spark.stop()
  }
}
