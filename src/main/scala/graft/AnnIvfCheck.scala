package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-corpus ANN branch certification (r13, closing VERDICT r12 #5):
  * executes q186/q187's IVF candidate path END TO END through the real
  * `queries` entries (the `scale` gate mode forces the footer-count
  * gate past the exact all-pairs branch — the same switch a >100k-row
  * corpus trips naturally) and measures it against the exact path on
  * the SAME world:
  *
  *   - q187 neighbor recall@5 of the IVF candidate stage vs the exact
  *     brute-force stage (the suite's ≥0.8 gate, here asserted ≥0.8
  *     at whatever SF the caller points at — run it at the ScaleUp sf1
  *     world for the 100×-scale certification);
  *   - q186 mutual-NN pair recall (ANN pairs ∩ exact pairs / exact);
  *   - rounded-cosine agreement on every ANN pair the exact top-1
  *     table also contains (same ROUND-4 scoring recipe ⇒ equal).
  *
  * Prints ONE JSON line; exits 1 if a floor is missed.
  * Usage: `sbt 'runMain graft.AnnIvfCheck <sfDir>'`
  */
object AnnIvfCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")

    def top5(scored: DataFrame): DataFrame =
      graft.plans.TopK.perKey(scored, keys = Seq("qid"),
        order = Seq(("cos_sim", true), ("nid", false)), k = 5)
        .select(col("qid"), col("nid"))

    // exact branch: the all-pairs stage itself, whatever the gate mode
    val exactScored = operators.SimilarityOps.knnPurityScored(spark, d)
      .localCheckpoint(false)
    val e5 = top5(exactScored).localCheckpoint(false)
    val ePairs = operators.SimilarityOps
      .mutualNnFrom(exactScored.select("qid", "nid", "cos_sim"))
      .localCheckpoint(false)

    // IVF branch through the REAL queries entries; eager checkpoints,
    // so every stage (TopK map side included) runs, and is timed,
    // under `scale`
    val t0 = System.nanoTime()
    val (i5, q186, q187rows) = Gates.withMode(spark, Gates.Scale) {
      val ivfScored = operators.SimilarityOps
        .annCandidateScores(spark, d).localCheckpoint()
      (top5(ivfScored).localCheckpoint(),
        SparkEntry.queries("q186_mutual_nn")(spark, d).localCheckpoint(),
        SparkEntry.queries("q187_knn_purity")(spark, d).count())
    }
    val tIvf = (System.nanoTime() - t0) / 1e9

    val eCnt = e5.count()
    val recall5 = e5.join(i5, Seq("qid", "nid")).count().toDouble / eCnt
    val ePairCnt = ePairs.count()
    val pairRecall = ePairs.join(q186, Seq("id_a", "id_b")).count()
      .toDouble / ePairCnt
    // scoring-recipe agreement: ANN pairs present in the exact pair
    // table must carry the identical ROUND-4 cosine
    val cosDisagree = q186
      .join(ePairs.withColumnRenamed("mutual_cos", "_exp"),
        Seq("id_a", "id_b"))
      .filter(col("mutual_cos") =!= col("_exp")).count()

    def f(x: Double): String = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    println(s"""{"ann_ivf_check":{"sf_dir":"$d",""" +
      s""""recall_at5":${f(recall5)},"exact_top5_rows":$eCnt,""" +
      s""""mutual_pair_recall":${f(pairRecall)},""" +
      s""""exact_pairs":$ePairCnt,"cos_disagree":$cosDisagree,""" +
      s""""q187_rows":$q187rows,"ivf_branch_sec":${f(tIvf)}}}""")
    spark.stop()
    if (recall5 < 0.8 || pairRecall < 0.8 || cosDisagree > 0) sys.exit(1)
  }
}
