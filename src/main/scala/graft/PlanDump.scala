package graft

/** Prints the formatted physical plan (and optionally times) for named
  * catalog queries: runMain graft.PlanDump <sfDir> <name> [name...] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Catalog.all.map(_.name)
    val spark = GraftSession(8)
    names.foreach { n =>
      println(s"===== $n =====")
      Catalog.runAndClear(spark, sfDir, n) { df =>
        df.explain("formatted")
        val t0 = System.nanoTime()
        val c = df.count()
        println(f"[plandump] $n rows=$c time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
