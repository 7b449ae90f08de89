package graft

import java.nio.file.{Files, Paths}
import scala.io.Source

import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Standing record of every catalog query's physical plan shape at sf0.001:
  * the number of Exchange nodes and of native (`graft.*` StaticInvoke) calls,
  * counted in the physical plan before AQE re-plans it. Cached relations
  * count their own plan where they are scanned, and subqueries count too.
  *
  * The committed table is `src/test/resources/plan_shape.tsv`. A change that
  * adds a shuffle or makes the optimizer evaluate a native once more per row
  * shows up here as a row diff. Every run writes the counts it saw to
  * `target/plan_shape.actual.tsv`; after a deliberate plan change, review
  * that file and commit it as the new table. */
class PlanShapeSpec extends SparkSpec {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  private def shape(p: SparkPlan): (Int, Int) = {
    val all = nodes(p)
    val natives = all.flatMap(_.expressions).map(_.collect {
      case s: StaticInvoke if s.staticObject.getName.startsWith("graft.") => s
    }.size).sum
    (all.count(_.isInstanceOf[Exchange]), natives)
  }

  test("every catalog query keeps its committed Exchange and native-call counts") {
    val actual = Catalog.all.map(_.name).sorted.map { n =>
      val (ex, nat) = Catalog.runAndClear(spark, sf0001, n)(df =>
        shape(df.queryExecution.executedPlan))
      s"$n\t$ex\t$nat"
    }
    val header = "query\texchanges\tnatives"
    Files.createDirectories(Paths.get("target"))
    Files.writeString(Paths.get("target/plan_shape.actual.tsv"),
      (header +: actual).mkString("", "\n", "\n"))

    val src = Source.fromResource("plan_shape.tsv")
    val expected = try src.getLines().drop(1).toSeq finally src.close()
    val diff = (expected.diff(actual).map("- " + _) ++ actual.diff(expected).map("+ " + _))
    if (diff.nonEmpty)
      fail("plan shapes differ from plan_shape.tsv (see target/plan_shape.actual.tsv):\n" +
        diff.mkString("\n"))
  }
}
