package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics derived from a run's spans and listener records.
  * Each metric is computed per traced pass; the median over traced passes
  * is reported. */
object Layers {

  /** The engine module a catalog query belongs to, by its name prefix. */
  def module(query: String): String = query.takeWhile(_ != '_') match {
    case "rel" => "operators.relational"
    case "text" | "pipeline" => "operators.text"
    case "dedup" => "operators.dedup"
    case "sim" => "operators.similarity"
    case "lda" | "gibbs" => "lda"
    case "events" => "streaming"
    case "mm" => "multimodal"
    case _ => "other"
  }

  val ModuleTimes = Seq("operators.relational", "operators.text", "operators.similarity",
    "operators.dedup", "streaming", "multimodal")

  def compute(t: Tracer, passes: Seq[(Double, Span)], facts: Map[Int, PlanFacts],
      outRows: Map[Int, Long], cores: Int): Seq[(String, Double)] = {
    val jobs = t.jobs.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val stageJob = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val jobSpan = jobs.map(j => j.id -> j.span).toMap
    val tasksBySpan = tasks.groupBy(x => stageJob.get(x.stage).flatMap(jobSpan.get).getOrElse(-1))
    val jobsBySpan = jobs.groupBy(_.span)
    val completed = t.completedStages.asScala.toSeq
      .groupBy(s => stageJob.get(s).flatMap(jobSpan.get).getOrElse(-1))
    val children = t.spans.groupBy(_.parent)

    def taskIntervals(ts: Seq[TaskRec]) = ts.map(x => (x.launchMs * 1000, x.finishMs * 1000))
    def driverOnlyUs(s: Span): Long =
      s.durUs - Tracer.covered(taskIntervals(tasksBySpan.getOrElse(s.id, Nil)), s.startUs, s.endUs)
    def selfUs(s: Span): Long = s.durUs - Tracer.covered(
      jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs * 1000, j.endMs * 1000)), s.startUs, s.endUs)

    val perPass = passes.map { case (passS, p) =>
      val queries = children.getOrElse(p.id, Nil).filter(_.name.startsWith("query:"))
      val steps = queries.flatMap(q => children.getOrElse(q.id, Nil).map(s => (q, s)))
      val builds = steps.filter(_._2.name == "build")
      val runs = steps.filter(_._2.name == "run")
      def mod(q: Span) = module(q.name.stripPrefix("query:"))
      val ts = steps.flatMap(s => tasksBySpan.getOrElse(s._2.id, Nil))
      val stepJobs = steps.flatMap(s => jobsBySpan.getOrElse(s._2.id, Nil))
      val planFacts = runs.flatMap(r => facts.get(r._2.id).map(r._1 -> _))
      val dedupFacts = planFacts.filter(x => mod(x._1) == "operators.dedup")
      val joinRows = dedupFacts.map(_._2.joinRows).sum.toDouble
      val pairs = dedupFacts.filter(_._2.joinRows > 0).map(x => outRows.getOrElse(x._1.id, 0L)).sum
      val ldaBuilds = builds.filter(x => mod(x._1) == "lda").map(_._2)
      val ldaTasks = ldaBuilds.flatMap(b => tasksBySpan.getOrElse(b.id, Nil))
      val execRunS = ts.map(_.runMs).sum / 1e3
      val sec = (us: Long) => us / 1e6
      Seq(
        "catalog.build_s" -> sec(builds.map(_._2.durUs).sum),
        "catalog.run_s" -> sec(runs.map(_._2.durUs).sum),
        "sources.scan_tasks" -> ts.count(x => x.inputBytes > 0 || x.inputRecords > 0).toDouble,
        "sources.input_rows" -> ts.map(_.inputRecords).sum.toDouble,
        "sources.input_bytes" -> ts.map(_.inputBytes).sum.toDouble) ++
      ModuleTimes.map(m => s"$m.run_s" ->
        sec(queries.filter(q => mod(q) == m).map(_.durUs).sum)) ++ Seq(
        "operators.dedup.join_rows" -> joinRows,
        "operators.dedup.pair_yield" -> (if (joinRows > 0) pairs / joinRows else 0.0),
        "operators.exchanges" -> planFacts.map(_._2.exchanges).sum.toDouble,
        "operators.broadcast_joins" -> planFacts.map(_._2.broadcastJoins).sum.toDouble,
        "operators.sort_merge_joins" -> planFacts.map(_._2.sortMergeJoins).sum.toDouble,
        "lda.fit_s" -> sec(ldaBuilds.map(_.durUs).sum),
        "lda.jobs" -> ldaBuilds.map(b => jobsBySpan.getOrElse(b.id, Nil).size).sum.toDouble,
        "lda.driver_only_s" -> sec(ldaBuilds.map(driverOnlyUs).sum),
        "lda.exec_cpu_s" -> ldaTasks.map(_.cpuNs).sum / 1e9,
        "spark.jobs" -> stepJobs.size.toDouble,
        "spark.stages" -> steps.map(s => completed.getOrElse(s._2.id, Nil).size).sum.toDouble,
        "spark.tasks" -> ts.size.toDouble,
        "spark.driver_only_s" -> sec(steps.map(s => driverOnlyUs(s._2)).sum),
        "spark.exec_run_s" -> execRunS,
        "spark.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "spark.core_util" -> execRunS / (passS * cores),
        "spark.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
        "spark.shuffle_read_records" -> ts.map(_.shuffleReadRecords).sum.toDouble,
        "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "spark.failed_tasks" -> ts.count(_.failed).toDouble,
        "self.build_s" -> sec(builds.map(b => selfUs(b._2)).sum),
        "self.run_s" -> sec(runs.map(r => selfUs(r._2)).sum),
        "trace.gap_s" -> (passS - sec(steps.map(_._2.durUs).sum)),
        "trace.spans" -> (1 + queries.size + steps.size + stepJobs.size).toDouble)
    }
    perPass.head.map(_._1).map(k => k -> Harness.median(perPass.map(_.toMap.apply(k))))
  }

  /** Every span, Spark jobs included (parented by the span whose local
    * property they carried), one JSON object per line. */
  def spanLines(t: Tracer): String = {
    val byId = t.spans.map(s => s.id -> s).toMap
    val own = t.spans.map(s => Json.write(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "trace" -> s.trace, "start_us" -> s.startUs, "end_us" -> s.endUs)))
    val jobs = t.jobs.asScala.toSeq.sortBy(_.id).map(j => Json.write(Map(
      "id" -> s"job-${j.id}", "name" -> "spark.job", "parent" -> j.span,
      "trace" -> byId.get(j.span).map(_.trace).getOrElse(-1),
      "start_us" -> j.startMs * 1000, "end_us" -> j.endMs * 1000)))
    (own ++ jobs).mkString("", "\n", "\n")
  }
}
