package graft

/** Local smoke runner for the driver's entry() contract: prints the flagship
  * LDA topic report on sf0.001 and asserts rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession(8)
    val t0 = System.nanoTime()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(f"[smoke] entry() rows=${rows.length} in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    require(rows.nonEmpty, "entry() returned 0 rows")
    spark.stop()
  }
}
