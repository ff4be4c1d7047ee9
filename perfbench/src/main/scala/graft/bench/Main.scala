package graft.bench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{Sessions, Tables}

/** Benchmark entry point. One process runs one workload:
  *
  *   graft.bench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                    --corpus <tables dir> --corpus-seconds <s>
  *                    --expected <dir> --work <work dir>
  *
  * and prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics when
  * untraced, the per-layer metrics when traced. `--record <dir>` instead
  * runs each query of the workload once and writes its row count and
  * checksum, plus its rows as parquet for the oracle comparison. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        corpus: String, corpusSeconds: Double, expected: String, work: String,
                        queries: Option[Seq[String]], record: Option[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "25").toDouble,
      m.get("trace").contains("1"), need("corpus"), m.getOrElse("corpus-seconds", "0").toDouble,
      need("expected"), need("work"),
      m.get("queries").map(q => if (q == "all") Workloads.allQueries(need("workload")) else q.split(",").toSeq),
      m.get("record"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val wl = Workloads.byName.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${Workloads.byName.keys.mkString(", ")}"))
    Files.createDirectories(Paths.get(args.work))
    val out = new Bench(args, wl).run()
    println(out)
    System.out.flush()
  }
}

/** A workload: what a pass runs, and how many warm passes follow the cold
  * one per 25 seconds of `--seconds`. The pass count is fixed rather than
  * "as many as fit", because warm passes keep getting faster while the JIT
  * settles, so a varying count would move the medians. The corpus is built
  * by perfbench/corpus.py. */
sealed trait Workload {
  def name: String
  def warmPer25s: Int
  def warmPasses(seconds: Double): Int = math.max(1, math.round(warmPer25s * seconds / 25).toInt)
}
final case class CatalogWorkload(name: String, queries: Seq[String], warmPer25s: Int) extends Workload
final case class StreamWorkload(name: String, perBatch: Int, keys: Int, warmPer25s: Int) extends Workload

object Workloads {
  /** Fixed slices of the catalog, chosen so that a cold pass and a few
    * warm passes fit one run; see perfbench/README.md for the rules. */
  val sf01Slice: Seq[String] = Seq("agg_string_agg", "emb_norms", "fn_regex", "join_semi",
    "mm_features", "over_running_sum", "pat_mr_sql", "pipe_classify", "rel_unpivot", "text_c4",
    "tw_tumble_offset", "rel_zip_index")
  val x10Slice: Seq[String] = Seq("over_range_time", "over_rank_topn", "tw_spendreport", "text_bpe")

  val byName: Map[String, Workload] = Seq[Workload](
    CatalogWorkload("catalog_sf01", sf01Slice, 4),
    CatalogWorkload("catalog_x10", x10Slice, 4),
    StreamWorkload("stream_keyed", 1000, 400, 5)).map(w => w.name -> w).toMap

  def allQueries(workload: String): Seq[String] =
    if (workload == "catalog_x10") Catalog.linear else SparkEntry.queries.keys.toSeq.sorted
}

final class Bench(args: Main.Args, wl: Workload) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var spark: SparkSession = _
  private var trace: Option[Trace] = None
  private var streams: Option[StreamRunner] = None
  private val streamSetups = new java.util.concurrent.atomic.AtomicInteger()

  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def fail(what: String, err: String): Unit = {
    failed += 1
    failures += s"$what: $err"
    System.err.println(s"[perfbench] FAILED $what: $err")
  }

  /** Session build, table open and, for the stream workload, the start of
    * its four streaming queries; the first set-up in the JVM also runs
    * the JVM warm-up, which is reported on its own. */
  private def setUp(first: Boolean): (Double, Double, Double, Double) = {
    streams.foreach(_.stop())
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = Sessions.build("perfbench")
    val build = secs(t0)
    // the stream workload reads no table, so it opens none
    val t1 = System.nanoTime()
    if (wl.isInstanceOf[CatalogWorkload]) Tables.all.foreach(t => Tables.load(spark, args.corpus, t).schema)
    val open = secs(t1)
    val t2 = System.nanoTime()
    if (first) warmUp()
    val warmup = secs(t2)
    val t3 = System.nanoTime()
    wl match {
      case s: StreamWorkload =>
        val r = new StreamRunner(spark, new EventStream(args.seed, s.perBatch, s.keys),
          s"${args.work}/stream-${streamSetups.incrementAndGet()}")
        r.start()
        streams = Some(r)
      case _ => ()
    }
    (build, open, warmup, secs(t3))
  }

  /** JVM warm-up: one small query through the generic operators (parquet
    * scan, shuffle join, broadcast join, window, aggregate, sort), so that
    * the cold pass pays each query's own first-run cost rather than
    * Spark's one-time class loading and JIT. */
  private def warmUp(): Unit = {
    import org.apache.spark.sql.functions._
    val n = spark.read.parquet(s"${args.corpus}/nation.parquet")
    val r = spark.read.parquet(s"${args.corpus}/region.parquet")
    spark.range(20000).selectExpr("id % 25 AS n_nationkey", "id AS v", "cast(id AS double) AS d")
      .join(n, "n_nationkey").join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("r_name").orderBy(col("v").desc)))
      .filter(col("rn") <= 100)
      .groupBy("r_name").agg(sum("d"), count(lit(1))).orderBy("r_name").collect()
  }

  def run(): String = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    println(f"[perfbench] ${wl.name} timeline jvm_to_main ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    val t0 = System.nanoTime()
    val setups = (0 until 3).map(i => setUp(i == 0))
    println(f"[perfbench] ${wl.name} timeline setups ${secs(t0)}%.2f s: " +
      setups.map { case (b, o, w, st) => f"build $b%.2f open $o%.2f warm $w%.2f start $st%.2f" }.mkString("; "))
    put("setup_s", Stats.median(setups.map { case (b, o, _, st) => b + o + st }), "s")
    args.record match {
      case Some(dir) => record(dir)
      case None => measure(setups)
    }
  }

  private def measure(setups: Seq[(Double, Double, Double, Double)]): String = {
    val work = args.work
    if (args.trace) {
      val tr = new Trace(spark.sparkContext)
      tr.install()
      spark.streams.addListener(tr.streamListener)
      trace = Some(tr)
    }
    val calStart = Stats.calCpuSeconds()
    val t0 = System.nanoTime()
    wl match {
      case c: CatalogWorkload => runCatalog(c)
      case s: StreamWorkload => runStream(s)
    }
    println(f"[perfbench] ${wl.name} timeline measure_and_check ${secs(t0)}%.2f s")
    val calEnd = Stats.calCpuSeconds()
    if (args.trace) {
      put("core.session_build_s", Stats.median(setups.map(_._1)), "s")
      put("core.table_open_s", Stats.median(setups.map(_._2)), "s")
      put("core.warmup_s", setups.head._3, "s")
      put("core.corpus_s", args.corpusSeconds, "s")
      if (wl.isInstanceOf[StreamWorkload]) put("streaming.start_s", Stats.median(setups.map(_._4)), "s")
      put("host.cal_cpu_start_s", calStart, "s")
      put("host.cal_cpu_end_s", calEnd, "s")
    } else {
      put("peak_rss_mb", Stats.peakRssMb, "MB")
      put("host.cal_cpu_start_s", calStart, "s")
      put("host.cal_cpu_end_s", calEnd, "s")
    }
    trace.foreach { tr =>
      val spans = tr.allSpans
      val all = spans ++ tr.jobSpans(spans)
      Files.writeString(Paths.get(s"$work/../trace-${wl.name}-${args.seed}.json"), Trace.toJson(all))
    }
    spark.stop()
    report()
  }

  private def report(): String = {
    val shown = metrics.filter { case (k, _) => Bench.declared(args.trace).contains(k) }
    metrics.foreach { case (k, (v, u)) => println(f"[perfbench] ${wl.name} $k%-32s ${Json.num(v)} $u") }
    println(f"[perfbench] ${wl.name} failed_frac ${if (attempted == 0) 1.0 else failed.toDouble / attempted} ($failed of $attempted)")
    failures.take(20).foreach(f => println(s"[perfbench] failure: $f"))
    val ms = Bench.declared(args.trace).map { k =>
      val (v, u) = shown.getOrElse(k, (Double.NaN, ""))
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    val correct = failed == 0 && attempted > 0 && shown.size == Bench.declared(args.trace).size
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  // ---------------------------------------------------------------- catalog

  private def expectedFor(name: String) =
    Catalog.loadExpected(Paths.get(args.expected, s"$name.tsv"))

  private def runCatalog(c: CatalogWorkload): Unit = {
    val names = args.queries.getOrElse(c.queries)
    val cat = new Catalog(spark, args.corpus, expectedFor(c.name))
    final case class Pass(runs: Seq[QueryRun], layers: Map[String, Double]) {
      def total: Double = runs.map(_.wall).sum
    }
    def pass(traced: Boolean, label: String): Pass = {
      val tr = if (traced) trace else None
      val mark = tr.map(_.mark())
      val runs = tr.fold(names.map(cat.runChecked(_, None))) { t =>
        t.span("bench", "pass", label)(names.map(cat.runChecked(_, tr)))
      }
      runs.foreach { r =>
        attempted += 1
        r.error.foreach(e => fail(s"${r.name} ($label)", e))
      }
      Pass(runs, (tr zip mark).headOption.fold(Map.empty[String, Double]) {
        case (t, m) => catalogLayers(t, m, runs)
      })
    }
    val cold = pass(args.trace, "cold")
    val warm = (1 to c.warmPasses(args.seconds)).map(i => pass(args.trace, s"warm $i"))
    val walls = warm.flatMap(_.runs.map(_.wall)).filterNot(_.isNaN)
    if (!args.trace) {
      put("cold_total_s", cold.total, "s")
      put("total_s", Stats.median(warm.map(_.total).toSeq), "s")
      put("p50_ms", Stats.quantile(walls.toSeq, 0.5) * 1000, "ms")
      put("p90_ms", Stats.quantile(walls.toSeq, 0.9) * 1000, "ms")
      put("query_samples", walls.size.toDouble, "count")
    } else {
      warm.head.layers.keys.foreach { k =>
        put(k, Stats.median(warm.map(_.layers(k)).toSeq), Bench.unitOf(k))
      }
      Seq("queries", "plans", "exec").foreach { l =>
        put(s"cold.${l}_s", cold.layers.getOrElse(s"$l.self_s", Double.NaN), "s")
      }
      putZero(Bench.streamingLayer :+ "cold.streaming_s")
    }
  }

  private def putZero(names: Seq[String]): Unit =
    names.foreach(n => if (!metrics.contains(n)) put(n, 0, Bench.unitOf(n)))

  /** Per-layer figures of one traced catalog pass. */
  private def catalogLayers(tr: Trace, m: Mark, runs: Seq[QueryRun]): Map[String, Double] = {
    val w = tr.since(m)
    val byKind = w.spans.groupBy(_.kind)
    def spansOf(k: String) = byKind.getOrElse(k, Nil)
    val jobSpans = tr.jobSpans(w.spans).filter(j => w.jobs.exists(x => -(x.jobId + 1) == j.id))
    val constructIds = spansOf("construct").map(_.id).toSet
    val ctorJobs = jobSpans.filter(j => constructIds(j.parent))
    val rule = runs.map(_.constructRule).sum
    val self = Trace.selfTimeByLayer(w.spans ++ jobSpans).map { case (k, v) => k -> v / 1e9 }
    val wall = runs.map(_.wall).filterNot(_.isNaN).sum
    val queriesSelf = self.getOrElse("queries", 0.0) - rule
    val plansSelf = self.getOrElse("plans", 0.0) + rule
    val execSelf = self.getOrElse("exec", 0.0)
    Map(
      "queries.construct_s" -> queriesSelf,
      "queries.construct_jobs" -> ctorJobs.size.toDouble,
      "queries.construct_job_queries" -> spansOf("construct").count(s => ctorJobs.exists(_.parent == s.id)).toDouble,
      "plans.analyze_s" -> (rule + runs.map(_.analyze).sum),
      "plans.optimize_s" -> runs.map(_.optimize).sum,
      "plans.physical_s" -> runs.map(_.physical).sum,
      "plans.physical_nodes" -> runs.map(_.physicalNodes).sum.toDouble,
      "plans.reused_exchanges" -> runs.map(_.reusedExchanges).sum.toDouble,
      "queries.self_s" -> queriesSelf, "plans.self_s" -> plansSelf, "exec.self_s" -> execSelf,
      "queries.share" -> queriesSelf / wall, "plans.share" -> plansSelf / wall,
      "exec.share" -> execSelf / wall, "trace.total_s" -> runs.map(_.wall).sum
    ) ++ execLayer(w, spansOf("action"))
  }

  /** Scheduler and task figures over a window; `blocking` are the spans a
    * result waits on (catalog actions, micro-batches). */
  private def execLayer(w: Window, blocking: Seq[Span]): Map[String, Double] = {
    val ti = w.tasks.map(t => (t.launchNs, t.finishNs))
    val busy = Trace.covered(ti, Long.MinValue, Long.MaxValue)
    val taskRun = w.tasks.map(t => t.finishNs - t.launchNs).sum
    Map(
      "exec.jobs" -> w.jobs.size.toDouble,
      "exec.stages" -> w.stages.size.toDouble,
      "exec.tasks" -> w.tasks.size.toDouble,
      "exec.action_s" -> blocking.map(_.durNs).sum / 1e9,
      "exec.driver_gap_s" -> blocking.map(s => s.durNs - Trace.covered(ti, s.startNs, s.endNs)).sum / 1e9,
      "exec.task_run_s" -> taskRun / 1e9,
      "exec.task_cpu_s" -> w.tasks.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> w.tasks.map(_.gcMs).sum / 1e3,
      "exec.parallelism" -> (if (busy > 0) taskRun.toDouble / busy else 0.0),
      "exec.shuffle_read_bytes" -> w.tasks.map(_.shuffleReadBytes).sum.toDouble,
      "exec.shuffle_write_bytes" -> w.tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "exec.input_bytes" -> w.tasks.map(_.inputBytes).sum.toDouble,
      "exec.spill_bytes" -> w.tasks.map(_.spillBytes).sum.toDouble,
      "exec.failed_tasks" -> w.tasks.count(!_.ok).toDouble)
  }

  // ---------------------------------------------------------------- stream

  /** Rounds of one batch into each of the four running pipelines; the
    * first round is the cold one. Outputs are checked
    * once, after the flush. */
  private def runStream(s: StreamWorkload): Unit = {
    val runner = streams.get
    final case class Round(batchMs: Seq[(String, Double)], layers: Map[String, Double]) {
      def total: Double = batchMs.map(_._2).sum / 1000
    }
    def round(traced: Boolean, label: String): Round = {
      val tr = if (traced) trace else None
      val mark = tr.map(_.mark())
      val ms = tr.fold(runner.round(None))(t => t.span("bench", "round", label)(runner.round(tr)))
      attempted += ms.size
      Round(ms, (tr zip mark).headOption.fold(Map.empty[String, Double]) {
        case (t, m) => streamLayers(t, m, ms, s.perBatch)
      })
    }
    val cold = round(args.trace, "cold")
    val warm = (1 to s.warmPasses(args.seconds)).map(i => round(args.trace, s"warm $i"))
    val outs = runner.finish()
    outs.foreach { case (name, _, err) =>
      attempted += 1
      err.foreach(e => fail(s"$name output", e))
    }
    val batches = warm.flatMap(_.batchMs).toSeq
    val events = s.perBatch * Pipelines.all.size
    // the four pipelines differ in cost, so the pooled batch latencies
    // are multi-modal; quantiles are taken per pipeline and averaged
    def perPipeline(q: Double): Double = Stats.mean(Pipelines.all.map { p =>
      Stats.quantile(batches.filter(_._1 == p.name).map(_._2), q)
    })
    if (!args.trace) {
      put("cold_total_s", cold.total, "s")
      put("total_s", Stats.median(warm.map(_.total).toSeq), "s")
      put("p50_ms", perPipeline(0.5), "ms")
      put("p90_ms", perPipeline(0.9), "ms")
      put("batch_p95_ms", Stats.quantile(batches.map(_._2), 0.95), "ms")
      put("batch_samples", batches.size.toDouble, "count")
      put("stream_events_per_s", events / Stats.median(warm.map(_.total).toSeq), "1/s")
      Pipelines.all.foreach { p =>
        put(s"${p.name}.p50_ms", Stats.median(batches.filter(_._1 == p.name).map(_._2)), "ms")
      }
    } else {
      warm.head.layers.keys.foreach { k =>
        put(k, Stats.median(warm.map(_.layers(k)).toSeq), Bench.unitOf(k))
      }
      put("streaming.output_rows", outs.map(_._2).sum.toDouble, "count")
      put("cold.exec_s", cold.layers.getOrElse("exec.self_s", 0.0), "s")
      put("cold.streaming_s", cold.layers.getOrElse("streaming.self_s", 0.0), "s")
      putZero(Bench.catalogOnlyLayer ++ Seq("cold.queries_s", "cold.plans_s"))
    }
  }

  private def streamLayers(tr: Trace, m: Mark, batchMs: Seq[(String, Double)],
                           perBatch: Int): Map[String, Double] = {
    val w = tr.since(m)
    val batchSpans = w.spans.filter(_.kind == "batch")
    val jobSpans = tr.jobSpans(w.spans).filter(j => w.jobs.exists(x => -(x.jobId + 1) == j.id))
    val self = Trace.selfTimeByLayer(w.spans ++ jobSpans).map { case (k, v) => k -> v / 1e9 }
    val total = batchMs.map(_._2).sum / 1000
    val p = w.progress
    Map(
      "streaming.events_per_s" -> perBatch * batchMs.size / total,
      "streaming.plan_ms" -> p.map(_.planMs).sum.toDouble,
      "streaming.add_batch_ms" -> p.map(_.addBatchMs).sum.toDouble,
      "streaming.commit_ms" -> p.map(_.commitMs).sum.toDouble,
      "streaming.state_commit_ms" -> p.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_rows" -> p.map(_.stateRows).maxOption.getOrElse(0L).toDouble,
      "streaming.state_mem_bytes" -> p.map(_.stateMemBytes).maxOption.getOrElse(0L).toDouble,
      "streaming.rows_dropped_by_watermark" -> p.map(_.droppedByWatermark).sum.toDouble,
      "streaming.micro_batches" -> p.size.toDouble,
      "streaming.self_s" -> self.getOrElse("streaming", 0.0),
      "exec.self_s" -> self.getOrElse("exec", 0.0),
      "exec.share" -> self.getOrElse("exec", 0.0) / total,
      "trace.total_s" -> total
    ) ++ execLayer(w, batchSpans)
  }

  // ---------------------------------------------------------------- record

  /** Write each query's row count and checksum, and its rows as parquet
    * for the DuckDB oracle comparison (perfbench/oracle.py). */
  private def record(outDir: String): String = {
    val names = args.queries.getOrElse(Workloads.allQueries(wl.name))
    val lines = names.map { n =>
      attempted += 1
      try {
        val df = SparkEntry.queries(n)(spark, args.corpus)
        val rows = df.collect()
        df.write.mode("overwrite").parquet(s"$outDir/out/$n")
        s"$n\t${rows.length}\t${Checksum.of(rows)}"
      } catch { case e: Throwable => fail(n, String.valueOf(e.getMessage).take(300)); s"# $n failed" }
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/${wl.name}.tsv"), lines.mkString("", "\n", "\n"))
    val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), sql)
    Files.writeString(Paths.get(s"$outDir/corpus_dir"), args.corpus)
    spark.stop()
    s"""{"recorded": ${names.size}, "failed": $failed}"""
  }
}

object Bench {
  val endToEnd: Seq[String] = Seq("setup_s", "cold_total_s", "total_s", "p50_ms", "p90_ms", "peak_rss_mb")
  val streamingLayer: Seq[String] = Seq("streaming.start_s", "streaming.micro_batches",
    "streaming.events_per_s",
    "streaming.plan_ms", "streaming.add_batch_ms", "streaming.commit_ms", "streaming.state_commit_ms",
    "streaming.state_rows", "streaming.state_mem_bytes", "streaming.rows_dropped_by_watermark",
    "streaming.output_rows", "streaming.self_s")
  val catalogOnlyLayer: Seq[String] = Seq("queries.construct_s", "queries.construct_jobs",
    "queries.construct_job_queries", "plans.analyze_s", "plans.optimize_s", "plans.physical_s",
    "plans.physical_nodes", "plans.reused_exchanges", "plans.self_s",
    "queries.share", "plans.share")
  val perLayer: Seq[String] = Seq("core.session_build_s", "core.table_open_s", "core.warmup_s", "core.corpus_s") ++
    catalogOnlyLayer ++ Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.action_s", "exec.driver_gap_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.parallelism", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.input_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "exec.self_s", "exec.share") ++ streamingLayer ++ Seq("cold.queries_s", "cold.plans_s", "cold.exec_s",
    "cold.streaming_s",
    "host.cal_cpu_start_s", "host.cal_cpu_end_s", "trace.total_s")

  def declared(traced: Boolean): Seq[String] = if (traced) perLayer else endToEnd

  def unitOf(k: String): String =
    if (k.endsWith("per_s")) "1/s" else if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "B" else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("share") || k.endsWith("parallelism")) "ratio" else "count"
}
