package graft

/** Timed smoke of the RELATIONAL fallbacks (r15, VERDICT r14 #7): the
  * driver kernels cover every benchable scale, so the >gate 100 TB
  * shapes were correctness-tested (conf-gated differentials) but never
  * TIMED — a fallback perf regression could hide. This main runs under
  * the `relational` gate mode (every driver gate off) unless the JVM
  * already sets [[Gates.Key]], times each gated family's query with the
  * noop sink (warm-up + min-of-2, the Bench protocol), and writes a
  * durable per-SF artifact (`FALLBACK_SMOKE_<sf>.json`).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.FallbackSmoke
  */
object FallbackSmoke {
  // one representative query per gated family
  private val Queries = Seq(
    "q105_pagerank", "q116_ppr", "q109_kcore", "q110_bfs_hops",
    "q193_sssp", "q126_label_prop", "q214_hits", "q265_scan_cluster",
    "q107_triangles", "q223_clustering_coef", "q151_link_predict",
    "q167_modularity", "q174_assortativity", "q231_two_hop_reach",
    "q61_dedup_clusters", "q157_incr_cc", "q240_ktruss",
    "q266_als_rank1", "q153_theil_sen", "q83_outliers")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    if (spark.conf.getOption(Gates.Key).isEmpty)
      spark.conf.set(Gates.Key, Gates.Relational.name)
    def once(name: String): Double = {
      val t0 = System.nanoTime
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime - t0) / 1e9
    }
    val results = Queries.map { n =>
      spark.sparkContext.setJobDescription(s"fallback:$n")
      once(n) // warm-up
      val t = math.min(once(n), once(n))
      println(f"[fallback] $n%-24s $t%6.2f s")
      n -> t
    }
    val sfName = new java.io.File(sfDir).getName
    val line = results
      .map { case (n, t) => "\"" + n + "\":" + f"$t%.2f" }
      .mkString(
        s"""{"sf":"$sfName","total":${f"${results.map(_._2).sum}%.2f"},""" +
          "\"queries\":{", ",", "}}")
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(s"FALLBACK_SMOKE_$sfName.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[fallback] artifact write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
