package graft.bench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** The traced split must add up: per query, the phases cover the wall
  * time, and the listener sees every task each completed stage ran. */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private var trace: Trace = _
  // a plain aggregate, a join, a window query and one whose constructor
  // runs a Spark job (localCheckpoint) before returning its DataFrame
  private val queries = Seq("agg_pricing_summary", "join_left", "over_running_sum", "text_langid_nb")

  override def beforeAll(): Unit = {
    spark = Sessions.build("perfbench-test")
    trace = new Trace(spark.sparkContext)
    trace.install()
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def catalog = new Catalog(spark, "data", Map.empty)

  test("construct + analyze + optimize + physical + action reconciles with wall time") {
    queries.foreach { q =>
      val (r, rows) = catalog.run(q, Some(trace))
      assert(rows.nonEmpty, q)
      val phases = r.construct + r.analyze + r.optimize + r.physical + r.action
      assert(phases <= r.wall + 1e-6, s"$q: phases $phases exceed wall ${r.wall}")
      assert(r.wall - phases <= 0.005 + 0.02 * r.wall, s"$q: phases $phases vs wall ${r.wall}")
    }
  }

  test("listener task counts equal the stage totals") {
    val m = trace.mark()
    queries.foreach(q => catalog.run(q, Some(trace)))
    val w = trace.since(m)
    assert(w.stages.nonEmpty)
    val perStage = w.tasks.groupBy(t => (t.stageId, t.stageAttempt)).map { case (k, ts) => k -> ts.size }
    w.stages.foreach { s =>
      assert(perStage.getOrElse((s.stageId, s.attempt), 0) == s.numTasks, s"stage $s")
    }
    assert(w.tasks.size == w.stages.map(_.numTasks).sum)
  }

  test("every job of a traced query is a child of one of its phase spans") {
    val m = trace.mark()
    catalog.run("text_langid_nb", Some(trace))
    val w = trace.since(m)
    val jobs = trace.jobSpans(w.spans).filter(j => w.jobs.exists(x => -(x.jobId + 1) == j.id))
    val phases = w.spans.filter(s => Set("construct", "action")(s.kind)).map(_.id).toSet
    assert(jobs.nonEmpty && jobs.forall(j => phases(j.parent)), jobs)
  }
}
