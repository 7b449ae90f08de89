package graft

/** Output-identity snapshot: collects named catalog queries and writes one
  * row-per-line text file per query, for bit-identity diffs across an
  * optimization (used for the no-oracle queries, where the DuckDB compare
  * can't prove results unchanged).
  *   runMain graft.Snap <sfDir> <outPrefix> [name...]
  * Defaults to the six no-oracle queries. Same session config as Verify.
  */
object Snap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val prefix = if (args.length > 1) args(1) else "/tmp/snap"
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("lda_topics", "lda_doc_topics", "gibbs_topics",
        "dedup_minhash_lsh", "sim_ivf_topk", "mm_decode_features")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession(cpus)
    names.foreach { n =>
      val out = Catalog.runAndClear(spark, sfDir, n)(_.collect())
        .map(_.toString).mkString("\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${prefix}_$n.txt"), out)
      System.err.println(s"[snap] $n")
    }
    spark.stop()
  }
}
