package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Stage-level measurement harness (optimization guide §1/§7): runs one named
  * catalog query `reps` times and prints, per rep, every completed stage with
  * wall time, task count, summed executor time, spill, and shuffle
  * records — the local-mode stand-in for the Spark UI's stage table.
  *
  * This is how the r22 cache-materialization race was found: a bimodal query
  * shows the same stages with 3–4× the summed executor time in slow reps
  * (block-lock wait is charged as executor run time), and shuffle record
  * counts expose join-strategy flips (62M vs 697M partial-agg rows for the
  * same final output).
  *
  *   runMain graft.Diag [reps] [query]
  * Same session config and cache hygiene as Profile.
  */
object Diag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val name = if (args.length > 1) args(1) else "text_doc_term"
    val spark = GraftSession(cpus)
    val stages = mutable.ArrayBuffer[(Int, String, Long, Int, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val tm = si.taskMetrics
        stages += ((si.stageId, si.name.take(40), wall, si.numTasks,
          tm.executorRunTime, tm.memoryBytesSpilled, tm.shuffleReadMetrics.recordsRead,
          tm.shuffleWriteMetrics.recordsWritten))
      }
    })
    (1 to reps).foreach { i =>
      stages.clear()
      spark.sparkContext.setJobDescription(s"diag:$name#$i")
      val t0 = System.nanoTime()
      Catalog.byName(name).run(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      println(f"[diag] rep $i total ${t}%.2f s")
      stages.sortBy(_._1).foreach { case (id, n, w, nt, e, sp, srr, swr) =>
        println(f"[diag]   stage $id%3d wall=${w / 1000.0}%7.2fs tasks=$nt%3d exec=${e / 1000.0}%8.2fs spill=${sp / 1e6}%7.0fMB sRead=$srr%10d sWrite=$swr%10d  $n")
      }
    }
    spark.stop()
  }
}
