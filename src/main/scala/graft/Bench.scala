package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import scala.collection.mutable

/** Benchmark main: runs the named catalog queries (default: the headline
  * queries, one per operator family) on SPARK_GRAFT_SF_DIR and prints ONE
  * JSON line for the driver.
  *   runMain graft.Bench [name...]
  * master local[$SPARK_GRAFT_CPUS] / $SPARK_GRAFT_CPUS shuffle partitions per
  * the engine contract.
  *
  * Measurement methodology (optimization guide §1, changed r21 — see
  * OPTIMIZATION_r21.md): each query runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) in one session, so one-time costs (codegen compile, file
  * listing, broadcast build) separate from steady-state compute, and
  * `queries`/`value` report the per-query MEDIAN — rounds 17–18 measured a
  * 2.55× swing on byte-identical bytecode, wider than any real regression,
  * because a single run folds one-time codegen/JIT compile and host noise
  * into the number. The raw runs (old methodology: run 1 of each list) are
  * kept in `runs`. Every rep that throws prints the query name and
  * exception to stderr; a query with no successful rep is listed in
  * `failed`, and then `value` is null, because a query missing from the sum
  * would read as a faster total.
  *
  * Timed action (also changed r21, guide §1.4): the noop sink
  * (`write.format("noop")`) instead of `.count()` — count() lets the
  * optimizer prune columns and whole subtrees (a projection-only query could
  * time as little more than a row count), while the noop write computes
  * every column of every row and discards it. Old-methodology (count-based)
  * numbers are recorded in OPTIMIZATION_r21.md for comparison.
  *
  * Stage trace (stderr): each rep's time, and every completed stage tagged
  * with its `query#rep` — wall time, task count, summed executor time,
  * spill, and shuffle records; the local-mode stand-in for the Spark UI's
  * stage table. This is how the r22 cache-materialization race was found:
  * a bimodal query shows the same stages with 3–4× the summed executor time
  * in slow reps (block-lock wait is charged as executor run time), and
  * shuffle record counts expose join-strategy flips (62M vs 697M
  * partial-agg rows for the same final output).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    val unknown = args.filterNot(Catalog.byName.contains)
    require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(" ")}")
    val names =
      if (args.nonEmpty) args.toSeq else Catalog.all.filter(_.headline).map(_.name)
    val spark = GraftSession(cpus)
    spark.sparkContext.addSparkListener(new SparkListener {
      // Listener events arrive on one bus thread, possibly after the rep
      // has returned, so each stage line carries the job description
      // (`query#rep`) its stage was submitted under.
      private val tags = mutable.Map[Int, String]()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        tags(s.stageInfo.stageId) =
          Option(s.properties).map(_.getProperty("spark.job.description")).orNull
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val tm = si.taskMetrics
        System.err.println(f"[bench] ${tags.remove(si.stageId).orNull} stage ${si.stageId}%3d " +
          f"wall=${wall / 1000.0}%7.2fs tasks=${si.numTasks}%3d " +
          f"exec=${tm.executorRunTime / 1000.0}%8.2fs spill=${tm.memoryBytesSpilled / 1e6}%7.0fMB " +
          f"sRead=${tm.shuffleReadMetrics.recordsRead}%10d " +
          f"sWrite=${tm.shuffleWriteMetrics.recordsWritten}%10d  ${si.name.take(40)}")
      }
    })
    // Untimed warmup: file listing, parquet footers, codegen compilation.
    spark.sparkContext.setJobDescription("warmup")
    Seq("lineitem", "documents", "embeddings", "events").foreach { t =>
      try graft.sources.Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val results: Seq[(String, Seq[Double])] = names.map { n =>
      val times = (1 to reps).flatMap { i =>
        spark.sparkContext.setJobDescription(s"$n#$i")
        val t0 = System.nanoTime()
        try {
          val t = Catalog.runAndClear(spark, sfDir, n) { df =>
            df.write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          System.err.println(f"[bench] $n#$i total $t%.2f s")
          Some(t)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $n#$i failed: $e")
          None
        }
      }
      spark.sparkContext.setJobDescription(null)
      n -> times
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val ok = results.filter(_._2.nonEmpty)
    val failed = results.filter(_._2.isEmpty).map(_._1)
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + median(v) }
      .mkString("{", ",", "}")
    val runs = ok.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total =
      if (failed.isEmpty) ok.map { case (_, v) => median(v) }.sum.toString else "null"
    spark.stop() // drains the listener bus: every stage line precedes the JSON
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""runs":$runs,"reps":$reps,"failed":$failedJson,"sf":"$sfDir"}""")
  }
}
