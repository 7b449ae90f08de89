package graft

/** Measurement harness (optimization guide §1): times each named catalog
  * query `reps` times in one session so one-time costs (codegen compile,
  * file listing, broadcast build) separate from steady-state compute.
  *   runMain graft.Profile [reps] [name...]
  * Defaults: 3 reps, the headline set. Same session config as Bench.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Catalog.all.filter(_.headline).map(_.name)
    val spark = GraftSession(cpus)
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      val q = Catalog.byName(n)
      val times = (1 to reps).map { i =>
        spark.sparkContext.setJobDescription(s"$n#$i")
        val t0 = System.nanoTime()
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        // Same rationale as Bench: drop intra-query persists between reps so
        // every rep computes from parquet, not from the previous rep's cache.
        spark.sharedState.cacheManager.clearCache()
        t
      }
      println(f"[profile] $n ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
