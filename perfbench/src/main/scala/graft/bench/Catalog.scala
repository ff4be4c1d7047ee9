package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkEntry

/** One execution of one catalog query. Phase times are seconds; in an
  * untraced run only `wall` is measured. */
final case class QueryRun(name: String, wall: Double, construct: Double = 0,
                          constructRule: Double = 0, analyze: Double = 0,
                          optimize: Double = 0, physical: Double = 0,
                          action: Double = 0, physicalNodes: Int = 0,
                          reusedExchanges: Int = 0,
                          error: Option[String] = None)

/** Runs catalog queries by name through `SparkEntry.queries` and checks
  * each result against its expected row count and checksum. */
final class Catalog(spark: SparkSession, dir: String, expected: Map[String, (Long, Long)]) {

  /** The timed action is `collect()`: it runs the full plan, consumes
    * every output column, and hands back the rows a user would read. */
  def run(name: String, trace: Option[Trace]): (QueryRun, Array[org.apache.spark.sql.Row]) = {
    val fn = SparkEntry.queries(name)
    trace match {
      case None =>
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).collect()
        (QueryRun(name, (System.nanoTime() - t0) / 1e9), rows)
      case Some(tr) =>
        var out: QueryRun = null
        var rows: Array[org.apache.spark.sql.Row] = null
        val t0 = Clock.now
        tr.span("bench", "query", name) {
          val r0 = RuleExecutor.getCurrentMetrics().time
          val constructId = tr.nextSpanId
          val (df, c) = timed(tr.span("queries", "construct", name)(fn(spark, dir)))
          val rule = (RuleExecutor.getCurrentMetrics().time - r0) / 1e9
          tr.annotate(constructId, "catalyst_s", rule)
          val qe = df.queryExecution
          val (_, a) = timed(tr.span("plans", "analyze", name)(qe.assertAnalyzed()))
          val (_, o) = timed(tr.span("plans", "optimize", name)(qe.optimizedPlan))
          val (_, p) = timed(tr.span("plans", "physical", name)(qe.executedPlan))
          val (rs, x) = timed(tr.span("exec", "action", name)(df.collect()))
          rows = rs
          val (nodes, reused) = planShape(qe.executedPlan)
          out = QueryRun(name, 0, c, rule, a, o, p, x, nodes, reused)
        }
        (out.copy(wall = (Clock.now - t0) / 1e9), rows)
    }
  }

  /** Run and verify; any exception or mismatch is returned as an error. */
  def runChecked(name: String, trace: Option[Trace]): QueryRun =
    try {
      val (r, rows) = run(name, trace)
      expected.get(name) match {
        case None => r.copy(error = Some("no expected result recorded"))
        case Some((n, ck)) =>
          val got = (rows.length.toLong, Checksum.of(rows))
          if (got == ((n, ck))) r
          else r.copy(error = Some(s"result mismatch: rows/checksum $got, expected ($n,$ck)"))
      }
    } catch {
      case e: Throwable =>
        QueryRun(name, Double.NaN, error = Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
    }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Physical operators in the final (post-AQE) plan, and how many of
    * them are reused exchanges. */
  def planShape(plan: SparkPlan): (Int, Int) = {
    var nodes = 0; var reused = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => nodes += 1; walk(q.plan)
      case r: ReusedExchangeExec => nodes += 1; reused += 1
      case other =>
        nodes += 1
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (nodes, reused)
  }
}

object Catalog {
  /** The extended tier's families: per-row, group-by and window work,
    * linear in the corpus. Pair-math queries are left out because
    * key-remapped copies inflate their candidate pairs quadratically. */
  val linearFamilies: Seq[String] = Seq("agg_", "tw_", "over_", "text_", "mm_")
  val pairMath: Set[String] = Set("text_winnow", "mm_dedup")

  def linear: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filter(n => linearFamilies.exists(n.startsWith)).filterNot(pairMath)

  def loadExpected(path: java.nio.file.Path): Map[String, (Long, Long)] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else scala.io.Source.fromFile(path.toFile).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, ck) = l.split("\t")
        n -> (rows.toLong, ck.toLong)
      }.toMap
}
