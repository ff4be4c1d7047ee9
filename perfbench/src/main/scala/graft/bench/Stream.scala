package graft.bench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.{KeyedEvent, SeqPattern, StatefulOps, StreamPipelines}

/** Seeded keyed event stream, cut into fixed-size micro-batches.
  *
  * Batch b covers event time [T0 + b*15 s, T0 + (b+1)*15 s), aligned with
  * the 15-second windows of `clickCount`. Keys are Zipf-skewed. About
  * 1.5% of events are out of order (up to 3 s back, into the previous
  * window: later than every watermark, so never dropped) and about 0.5%
  * are late (three or more windows back: behind every watermark, so
  * dropped by the watermarked pipelines). Batch b depends only on the
  * seed and b, so a run can feed as many batches as its time allows. A
  * far-future flush batch at the end closes every window and matures
  * every buffered pattern. */
final class EventStream(seed: Long, perBatch: Int, nKeys: Int) {
  import EventStream._
  private val cdf = {
    val w = (1 to nKeys).map(k => 1.0 / math.pow(k, 1.1)); val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail.toArray
  }
  private val cache = mutable.Map.empty[Int, (Seq[KeyedEvent], Set[KeyedEvent])]

  private def make(b: Int): (Seq[KeyedEvent], Set[KeyedEvent]) = {
    val rnd = new scala.util.Random(seed * 1000003L + b)
    def key(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else math.min(-i - 1, nKeys - 1)).toLong
    }
    def value(): Double = {
      val u = rnd.nextDouble()
      val v = if (u < 0.15) rnd.nextDouble() * 0.99 else if (u < 0.25) 500.5 + rnd.nextDouble() * 500 else 1 + rnd.nextDouble() * 498
      math.rint(v * 100) / 100
    }
    val lo = T0 + b * WindowMs
    val evs = (0 until perBatch).map { _ =>
      val u = rnd.nextDouble()
      val ts =
        if (b >= 3 && u < 0.005) lo - 2 * WindowMs - 1 - rnd.nextInt(WindowMs.toInt)
        else if (b >= 1 && u < 0.02) lo - 1 - rnd.nextInt(3000)
        else lo + rnd.nextInt(WindowMs.toInt)
      KeyedEvent(key(), new Timestamp(ts), if (rnd.nextDouble() < 0.35) "fail" else "ok", value())
    }
    (evs, evs.filter(_.ts.getTime < lo - 2 * WindowMs).toSet)
  }

  def batch(b: Int): Seq[KeyedEvent] = cache.getOrElseUpdate(b, make(b))._1
  def late(b: Int): Set[KeyedEvent] = cache.getOrElseUpdate(b, make(b))._2

  /** One far-future batch after `n` data batches: it moves the watermark
    * past every real event, and the no-data batch Spark runs next closes
    * every window and fires every pattern timer. */
  def flush(n: Int): Seq[Seq[KeyedEvent]] =
    Seq(Seq(KeyedEvent(FlushKey, new Timestamp(T0 + n * WindowMs + 3600000L), "ok", 100.0)))

  /** What `n` data batches and the flush feed into every pipeline. */
  def fed(n: Int): Fed = {
    val data = (0 until n).map(batch)
    Fed(data ++ flush(n), (0 until n).flatMap(late).toSet)
  }
}

final case class Fed(batches: Seq[Seq[KeyedEvent]], late: Set[KeyedEvent]) {
  def real: Seq[KeyedEvent] = batches.flatten.filter(_.key >= 0)
}

object EventStream {
  val T0: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val WindowMs = 15000L
  val FlushKey = -1L
}

/** One pipeline: how to start it over a MemoryStream, and how to
  * recompute its expected output from the events that were fed. */
final case class Pipeline(name: String,
                          start: (SparkSession, MemoryStream[KeyedEvent], String) => StreamingQuery,
                          output: (SparkSession, String) => Seq[Row],
                          expected: (SparkSession, Fed) => Seq[Row])

object Pipelines {
  val SmallMax = 1.0
  val LargeMin = 500.0
  val GapMs = 60000L
  val cepSteps: Seq[SeqPattern.Step] =
    Seq(SeqPattern.Step("f1", Set("fail")), SeqPattern.Step("f2", Set("fail")),
      SeqPattern.Step("f3", Set("fail")))
  val CepWithinMs = 10000L

  private def memorySink(ds: Dataset[_], name: String, ckpt: String): StreamingQuery =
    ds.writeStream.format("memory").queryName(name).outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()

  private def table(spark: SparkSession, name: String): Seq[Row] =
    spark.table(name).collect().toSeq

  /** Watermarked 15 s window count per key. Late rows are dropped; every
    * window is closed by the flush batch. */
  val clickCount = Pipeline("click_count",
    (spark, in, dir) => memorySink(
      StreamPipelines.clickCount(in.toDF(), "ts", "key"), s"click_${dir.hashCode.abs}", s"$dir/ckpt"),
    (spark, dir) => table(spark, s"click_${dir.hashCode.abs}"),
    (_, es) => es.real.filterNot(es.late).groupBy(e =>
      (e.ts.getTime - Math.floorMod(e.ts.getTime, EventStream.WindowMs), e.key))
      .map { case ((w, k), xs) => Row(new Timestamp(w), k, xs.size.toLong) }.toSeq)

  /** Small-then-large transaction alert per key; state carries across
    * batches, each batch is replayed per key in event-time order. */
  val fraud = Pipeline("fraud_detector",
    (spark, in, dir) => memorySink(
      StatefulOps.fraudDetector(in.toDS(), SmallMax, LargeMin, GapMs), s"fraud_${dir.hashCode.abs}", s"$dir/ckpt"),
    (spark, dir) => table(spark, s"fraud_${dir.hashCode.abs}"),
    (_, es) => {
      val pending = mutable.Map.empty[Long, Long].withDefaultValue(-1L)
      es.batches.flatMap { batch =>
        batch.groupBy(_.key).toSeq.flatMap { case (k, evs) =>
          evs.sortBy(e => (e.ts.getTime, e.value)).flatMap { e =>
            val p = pending(k)
            val out =
              if (p >= 0 && e.value > LargeMin && e.ts.getTime - p <= GapMs)
                Seq(Row(k, "fraud", new Timestamp(p), e.ts, e.value))
              else Nil
            pending(k) = if (e.value < SmallMax) e.ts.getTime else -1L
            out
          }
        }
      }
    })

  /** Three strict consecutive failures within 10 s, in event-time order
    * (watermark 5 s). Expected: the batch detector over every non-late
    * event at once. */
  val cep = Pipeline("cep_ordered",
    (spark, in, dir) => {
      val ds = in.toDS().withWatermark("ts", "5 seconds").as[KeyedEvent](Encoders.product[KeyedEvent])
      memorySink(SeqPattern.detectOrdered(ds, cepSteps, CepWithinMs, strict = true),
        s"cep_${dir.hashCode.abs}", s"$dir/ckpt")
    },
    (spark, dir) => table(spark, s"cep_${dir.hashCode.abs}"),
    (spark, es) => {
      val ds = spark.createDataset(es.real.filterNot(es.late))(Encoders.product[KeyedEvent])
      SeqPattern.detect(ds, cepSteps, CepWithinMs, strict = true).toDF().collect().toSeq
    })

  /** Route every event to one of two parquet sinks by value. */
  val split = Pipeline("split_to_sinks",
    (spark, in, dir) => StreamPipelines.splitToSinks(in.toDF(), col("value") > 250,
      s"$dir/a", s"$dir/b").option("checkpointLocation", s"$dir/ckpt").start(),
    (spark, dir) => Seq(s"$dir/a", s"$dir/b").zipWithIndex.flatMap { case (p, i) =>
      if (!new java.io.File(p).exists()) Nil
      else spark.read.parquet(p).collect().toSeq.map(r => Row.fromSeq(r.toSeq :+ i))
    },
    (_, es) => es.batches.flatten.map(e =>
      Row(e.key, e.ts, e.kind, e.value, if (e.value > 250) 0 else 1)))

  val all: Seq[Pipeline] = Seq(clickCount, fraud, cep, split)
}

/** Feeds the event stream closed-loop through the four pipelines, which
  * run side by side: a round adds one batch to each pipeline in turn, and
  * the next batch is added only after `processAllAvailable` returns. */
final class StreamRunner(spark: SparkSession, es: EventStream, workDir: String) {
  private final class Live(val p: Pipeline, val dir: String, val in: MemoryStream[KeyedEvent],
                           val q: StreamingQuery)
  private var live: Seq[Live] = Nil
  private var fedBatches = 0
  private var starts = 0

  /** Start every pipeline on a fresh input and checkpoint. */
  def start(): Unit = {
    stop()
    starts += 1
    fedBatches = 0
    live = Pipelines.all.map { p =>
      val dir = s"$workDir/${p.name}-$starts"
      val in = MemoryStream[KeyedEvent](Encoders.product[KeyedEvent], spark)
      new Live(p, dir, in, p.start(spark, in, dir))
    }
  }

  def stop(): Unit = {
    live.foreach(l => try l.q.stop() catch { case _: Throwable => () })
    live = Nil
  }

  private def feed(l: Live, b: Seq[KeyedEvent]): Double = {
    val t0 = System.nanoTime()
    l.in.addData(b)
    l.q.processAllAvailable()
    (System.nanoTime() - t0) / 1e6
  }

  /** One round: the next data batch into each pipeline; per-batch
    * milliseconds from `addData` until `processAllAvailable` returns. */
  def round(trace: Option[Trace]): Seq[(String, Double)] = {
    val b = es.batch(fedBatches)
    val out = live.map { l =>
      val ms = trace.fold(feed(l, b))(_.span("streaming", "batch", s"${l.p.name} batch $fedBatches")(feed(l, b)))
      l.p.name -> ms
    }
    fedBatches += 1
    out
  }

  /** Flush, stop, and compare each pipeline's output with its recomputation
    * from the fed events. Returns (pipeline, output rows, error). */
  def finish(): Seq[(String, Long, Option[String])] = {
    val fed = es.fed(fedBatches)
    val res = live.map { l =>
      try {
        es.flush(fedBatches).foreach(b => feed(l, b))
        l.q.stop()
        l.q.exception.foreach(e => throw e)
        val got = l.p.output(spark, l.dir)
        val want = l.p.expected(spark, fed)
        val err =
          if (got.size == want.size && Checksum.of(got) == Checksum.of(want)) None
          else Some(s"output mismatch: ${got.size} rows vs ${want.size} recomputed")
        (l.p.name, got.size.toLong, err)
      } catch {
        case e: Throwable =>
          (l.p.name, 0L, Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
    }
    stop()
    res
  }
}
