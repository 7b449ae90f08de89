package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Catalog
import graft.functions.Cleaning
import graft.sources.Tables

/** One benchmark JVM: opens a workload's generated inputs, warms every query
  * up, then runs timed passes over the query list until the time budget is
  * spent. One client, closed loop: each query is built (`Q.run`) and
  * collected, its rows are checked, and its caches are dropped before the
  * next starts. The check (digest + compare) runs outside the timed span.
  *
  * With `--trace 1`, untraced and traced passes alternate; the traced ones
  * record spans (pass → query → build / run → Spark job) and listener
  * counts, from which the per-layer metrics are derived.
  *
  * Arguments (all `--key value`): data, queries (comma list), tables,
  * expected (TSV written by run.py), seconds, warmup, trace (0|1), cores,
  * launched-ms (epoch ms at JVM launch), out (result JSON), spans (span
  * file), conf (the workload's extra Spark settings, `key=value` comma
  * list), faults (`query:throw` or `query:wrong`, comma list; tests only).
  */
object Harness {

  final case class Expect(kind: String, rows: Long, digest: String,
      columns: Seq[String], words: Map[String, Int])

  final case class Exec(query: String, ok: Boolean, rows: Long, digest: String,
      seconds: Double = 0.0)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchedMs = args.get("launched-ms").map(_.toLong)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    if (args.get("mode").contains("oracles")) { dumpOracles(args("queries"), args("out")); return }

    val dir = args("data")
    val names = args("queries").split(",").toSeq
    val tables = args("tables").split(",").toSeq
    val seconds = args("seconds").toDouble
    val warmup = args("warmup").toInt
    val traceOn = args("trace") == "1"
    val cores = args("cores").toInt
    val faults = args.getOrElse("faults", "").split(",").filter(_.nonEmpty)
      .map { f => val Array(q, k) = f.split(":"); q -> k }.toMap
    val expected = readExpected(args("expected"))

    val conf = args.getOrElse("conf", "").split(",").filter(_.nonEmpty)
      .map { c => val Array(k, v) = c.split("=", 2); k -> v }.toMap
    val spark = Session.create(cores, conf)
    val sc = spark.sparkContext
    val tracer = new Tracer
    val root = tracer.open("workload", -1, 0)

    // Opening the inputs: file listing and parquet footers for every table.
    val o0 = System.nanoTime()
    tables.foreach(t => Tables.table(spark, dir, t).schema)
    val openS = (System.nanoTime() - o0) / 1e9
    def sinceLaunch = (System.currentTimeMillis() - launchedMs) / 1000.0
    System.err.println(f"[perfbench] session up and inputs open at ${sinceLaunch}%.1f s (open $openS%.2f s)")

    val execs = mutable.ArrayBuffer.empty[Exec]
    val facts = mutable.Map.empty[Int, PlanFacts] // run span id -> plan facts
    val outRows = mutable.Map.empty[Int, Long] // query span id -> result rows

    def build(name: String): DataFrame = faults.get(name) match {
      case Some("throw") => throw new RuntimeException(s"injected failure in $name")
      case Some("wrong") => val df = Catalog.byName(name).run(spark, dir); df.union(df.limit(1))
      case _ => Catalog.byName(name).run(spark, dir)
    }

    /** One pass over the workload: each query is built (`Q.run`) and
      * collected, which computes every column of every row, then its rows are
      * checked and its caches dropped. Returns the pass's timed seconds (wall
      * time minus the checks) and its span. */
    def pass(kind: String): (Double, Span) = {
      val p = tracer.open(s"pass:$kind", root.id, 0)
      var untimedNs = 0L
      val p0 = System.nanoTime()
      names.foreach { name =>
        val q = tracer.open(s"query:$name", p.id, -1)
        var df: DataFrame = null
        var rows: Array[Row] = null
        var error: Throwable = null
        def step(label: String)(body: => Unit): Span = {
          val s = tracer.open(label, q.id, q.trace)
          sc.setLocalProperty(tracer.SpanProperty, s.id.toString)
          try body catch { case e: Throwable => error = e }
          sc.setLocalProperty(tracer.SpanProperty, null)
          tracer.close(s)
        }
        step("build") { df = build(name) }
        val run = if (error == null) Some(step("run") { rows = df.collect() }) else None
        tracer.close(q)

        val c0 = System.nanoTime()
        val chk = tracer.open("check", p.id, q.trace)
        if (kind == "traced" && error == null)
          run.foreach(r => tracer.awaitPlan(df.queryExecution).foreach(facts(r.id) = _))
        val exec = check(name, df, rows, error, expected.get(name), execs.toSeq)
        outRows(q.id) = exec.rows
        spark.catalog.clearCache()
        tracer.close(chk)
        untimedNs += System.nanoTime() - c0
        execs += exec.copy(seconds = q.durUs / 1e6)
      }
      tracer.close(p)
      ((System.nanoTime() - p0 - untimedNs) / 1e9, p)
    }

    (1 to warmup).foreach { _ =>
      pass("warmup")
      System.err.println(f"[perfbench] warm-up pass done at ${sinceLaunch}%.1f s")
    }
    val setupS = (System.currentTimeMillis() - launchedMs) / 1000.0

    val untracedPasses = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[(Double, Span)]
    // Start a pass only if one more (at the last pass's wall time, checks
    // included) still fits in the budget; at least one of each kind runs.
    val t0 = System.nanoTime()
    var lastWall = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (untracedPasses.isEmpty || (traceOn && tracedPasses.isEmpty) ||
        elapsed + lastWall <= seconds) {
      val w0 = elapsed
      val kind = if (traceOn && untracedPasses.size > tracedPasses.size) "traced" else "timed"
      val timed = if (kind == "traced") {
        sc.addSparkListener(tracer.sparkListener)
        spark.listenerManager.register(tracer.queryListener)
        tracedPasses += pass("traced")
        sc.removeSparkListener(tracer.sparkListener)
        spark.listenerManager.unregister(tracer.queryListener)
        tracedPasses.last._1
      } else { untracedPasses += pass("timed")._1; untracedPasses.last }
      lastWall = elapsed - w0
      System.err.println(f"[perfbench] $kind pass: $timed%.3f s ($lastWall%.1f s with checks): " +
        execs.takeRight(names.size).map(e => f"${e.query} ${e.seconds}%.2f").mkString(", "))
    }

    var cleanS = 0.0
    if (traceOn && tables.contains("documents")) {
      def probe(): Double = {
        val c0 = System.nanoTime()
        Tables.documents(spark, dir).select(Cleaning.cleanText(col("text")).as("clean"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - c0) / 1e9
      }
      probe()
      cleanS = median((1 to 3).map(_ => probe()))
    }
    tracer.close(root)
    execs.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, es) =>
      System.err.println(f"[perfbench] query $q%-24s first ${es.head.seconds}%7.3f s  median ${
        median(es.drop(warmup).map(_.seconds).toSeq)}%7.3f s")
    }
    spark.stop() // drains the listener bus, so every traced event is in

    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "passes" -> untracedPasses.toSeq,
      "attempted" -> execs.size,
      "failed" -> execs.count(!_.ok),
      "peak_rss_mb" -> peakRssMb())
    if (traceOn) {
      val layers = Layers.compute(tracer, tracedPasses.toSeq, facts.toMap,
        outRows.toMap, cores)
      val tracedS = median(tracedPasses.map(_._1).toSeq)
      val untracedS = median(untracedPasses.toSeq)
      out("layers") = mutable.LinkedHashMap(layers ++ Seq(
        "sources.open_s" -> openS,
        "functions.clean_s" -> cleanS,
        "trace.pass_s" -> tracedS,
        "trace.untraced_pass_s" -> untracedS,
        "trace.overhead_s" -> (tracedS - untracedS)): _*)
      Files.writeString(Paths.get(args("spans")), Layers.spanLines(tracer))
    }
    Files.writeString(Paths.get(args("out")), Json.write(out))
  }

  /** Checks one execution. A throw, a missing expectation, a digest that
    * differs from the oracle's, a wrong shape, or a digest that differs
    * from this query's earlier passes all make it a failure; the cause
    * goes to stderr. */
  def check(name: String, df: DataFrame, rows: Array[Row], error: Throwable,
      want: Option[Expect], before: Seq[Exec]): Exec = {
    def fail(why: String, rows: Long = -1L, digest: String = "") = {
      System.err.println(s"[perfbench] FAIL $name: $why")
      Exec(name, ok = false, rows, digest)
    }
    if (error != null) return fail(s"threw ${error.getClass.getName}: ${error.getMessage}")
    try {
      val digest = Digest.of(df.schema, rows)
      val n = rows.length.toLong
      want match {
        case None => fail("no expected output recorded", n, digest)
        case Some(e) if e.kind == "oracle" =>
          if (n != e.rows) fail(s"$n rows, oracle has ${e.rows}", n, digest)
          else if (digest != e.digest) fail(s"digest $digest, oracle has ${e.digest}", n, digest)
          else Exec(name, ok = true, n, digest)
        case Some(e) =>
          val cols = df.schema.fieldNames.toSeq.sorted
          val firstDigest = before.find(x => x.query == name && x.ok).map(_.digest)
          val badWords = e.words.collect { case (c, k) if cols.contains(c) &&
            rows.exists(r => r.getAs[String](c).split(" ").length != k) => s"$c not $k words" }
          if (cols != e.columns) fail(s"columns ${cols.mkString(",")}, pinned ${e.columns.mkString(",")}", n, digest)
          else if (e.rows >= 0 && n != e.rows) fail(s"$n rows, pinned ${e.rows}", n, digest)
          else if (badWords.nonEmpty) fail(badWords.mkString("; "), n, digest)
          else if (firstDigest.exists(_ != digest)) fail(s"digest $digest differs from first pass ${firstDigest.get}", n, digest)
          else Exec(name, ok = true, n, digest)
      }
    } catch { case e: Exception => fail(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
  }

  /** expected.tsv: `name oracle rows digest` or
    * `name shape rows columns words` (rows -1 = any; words `col:n;...`). */
  def readExpected(path: String): Map[String, Expect] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { line =>
      val f = line.split("\t", -1)
      f(0) -> (if (f(1) == "oracle") Expect("oracle", f(2).toLong, f(3), Nil, Map.empty)
      else Expect("shape", f(2).toLong, "", f(3).split(",").toSeq.sorted,
        f(4).split(";").filter(_.nonEmpty).map { w => val Array(c, k) = w.split(":"); c -> k.toInt }.toMap))
    }.toMap

  def dumpOracles(queries: String, out: String): Unit = {
    val sql = queries.split(",").map(n => n -> Catalog.byName.get(n).flatMap(_.oracle).orNull)
    Files.writeString(Paths.get(out), Json.write(sql.toMap))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Session {
  def create(cores: Int, conf: Map[String, String]): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
