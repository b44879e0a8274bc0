package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.model.Schemas
import graft.stream.OrderPipeline

/** The order-stream benchmark's JVM side: sets up one workload, runs its
  * timed passes and writes what it measured to `<work>/result.json`.
  * `perfbench/run.py` builds and launches it, checks every pass's sink
  * output against the generator's truth, and prints the metrics.
  *
  * Usage: `StreamBench --workload drain|faults --seed N --seconds S
  * --trace 0|1 --cores C --work DIR`
  *
  * A pass is one measured stretch of the workload, made of reps on fresh
  * directories. Each rep writes a backlog to a topic directory first,
  * then drains it with `Trigger.AvailableNow` in bounded batches
  * (`maxFilesPerTrigger`) through the fan-out query, beside the running
  * aggregate; its transient rows then go through the retry loop until it
  * is quiescent. Reps repeat until their drains add up to `--seconds`.
  * An untraced run makes one pass. A traced run makes a one-rep untraced
  * pass and a one-rep traced one, adds the scan/decode/route isolation
  * pass, and ends with a one-rep drain on a `local[1]` context.
  */
object StreamBench {

  /** Backlog shape: 45k rows in 24 files, 2 files (3,750 rows) per
    * micro-batch, so that a drain commits 12 fan-out batches and its
    * latency quantiles rest on a dozen commit times. */
  val BacklogRows = 45000L
  val BacklogFiles = 24
  val FilesPerBatch = 2

  /** Producer timings per pass, each of three backlogs' rows (135k) in
    * 24 files. A smaller write is mostly per-job cost; this one still
    * takes under a second, so a pass takes the best of several. */
  val ProduceRows = 3 * BacklogRows
  val ProduceProbes = 4

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val work = opts("work")
    require(Set("drain", "faults").contains(workload), s"unknown workload $workload")

    val spark = session(cores)
    val b = new Bench(spark, workload, seed, seconds, work)
    val passes = scala.collection.mutable.ArrayBuffer.empty[String]
    Bench.logged("warm-up")(b.warmUp())
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    // a traced run's untraced pass makes one rep, to set beside the traced
    // rep for the tracing overhead
    passes += Bench.logged("untraced pass")(b.pass("untraced", None, oneRep = traced))
    val traceJson =
      if (!traced) "null"
      else {
        val t = new Trace(spark)
        passes += Bench.logged("traced pass")(b.pass("traced", Some(t), oneRep = true))
        t.detach()
        val summary = Bench.logged("trace summary")(b.traceSummary(t))
        // the single-core baseline: one drain of the workload's own mix on
        // a local[1] context in this JVM, whose JIT and codegen are warm
        spark.stop()
        passes += Bench.logged("local[1] pass") {
          new Bench(session(1), workload, seed, 0, work).pass("local1", None, oneRep = true)
        }
        summary
      }
    val json =
      s"""{"workload":"$workload","seed":$seed,"cores":$cores,"setup_s":$setupS,""" +
        s""""passes":${passes.mkString("[", ",\n", "]")},\n"trace":$traceJson}"""
    Files.write(Paths.get(work, "result.json"), json.getBytes("UTF-8"))
    SparkSession.active.stop()
  }

  private def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Bench {
  /** Runs `body`, noting its wall time on stderr (the JVM log). */
  def logged[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"[perfbench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}

/** One workload's passes on one session. */
final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    work: String) {
  import StreamBench._

  /** Details of the latest drain, and the topic of the latest producer
    * timing, that the traced summary reads back. */
  private var lastRep: Option[RepInfo] = None
  private var lastProduced = ""

  final case class RepInfo(dir: String, topic: String, fanout: java.util.UUID,
      aggregate: java.util.UUID, retry: java.util.UUID)

  private def source(topic: String): DataFrame =
    spark.readStream.schema(Schemas.envelope)
      .option("maxFilesPerTrigger", FilesPerBatch.toString).parquet(topic)

  private def spanned[T](t: Option[Trace], name: String, parent: Int = -1)(body: => T): T =
    t.fold(body)(_.span(name, parent)(body))

  /** Times the reference producer, `OrderGen.orders` into
    * `OrderGen.writeTopicDir`, on ProduceRows of the reference mix (on
    * every workload, so that `faults`' own frame corruption is not
    * timed). Returns rows per second. */
  private def produce(dir: String, probeSeed: Long, t: Option[Trace]): Double =
    spanned(t, "produce") {
      lastProduced = s"$dir/topic"
      ProduceRows / Inputs.produce(spark, ProduceRows, BacklogFiles, probeSeed, lastProduced)
    }

  /** Runs the producer and one drain on a half-size backlog (6 batches)
    * before any timing, so that code generation and JIT compiles land in
    * set-up. */
  def warmUp(): Unit = {
    produce(s"$work/warm-produce", seed * 1000 + 999, None)
    Inputs.generate(spark, workload, BacklogRows / 2, BacklogFiles / 2, seed * 1000 + 999,
      s"$work/warm")
    drain(s"$work/warm", None)
    ()
  }

  /** Repeats backlogs until their drains add up to `seconds` (or makes
    * one), each from its own seed; the metrics are medians over them.
    * Then times the producer ProduceProbes times (once for one rep). */
  def pass(label: String, t: Option[Trace], oneRep: Boolean = false): String = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[String]
    var drainS = 0.0
    while (reps.isEmpty || (drainS < seconds && !oneRep)) {
      val dir = s"$work/$label/rep${reps.size}"
      Inputs.generate(spark, workload, BacklogRows, BacklogFiles, seed * 1000 + reps.size, dir)
      val (json, wall) = drain(dir, t)
      reps += json
      drainS += wall
    }
    val produced = (0 until (if (oneRep) 1 else ProduceProbes)).map { i =>
      produce(s"$work/$label/produce$i", seed * 1000 + 500 + i, t)
    }
    s"""{"label":"$label","produce_rows_per_s":${produced.mkString("[", ",", "]")},""" +
      s""""reps":${reps.mkString("[", ",\n", "]")}}"""
  }

  /** Starts the running aggregate; the returned cell holds its latest
    * (count, sum, mean) row as JSON. */
  private def startAggregate(processed: DataFrame,
      ckpt: String): (StreamingQuery, Array[String]) = {
    val last = Array("null")
    val w = OrderPipeline.runningAggregate(processed).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().headOption.foreach { r =>
          last(0) = Seq(0, 1, 2).map(i => if (r.isNullAt(i)) "null" else r.get(i).toString)
            .mkString("[", ",", "]")
        }
      }
    (w.trigger(Trigger.AvailableNow()).start(), last)
  }

  /** Seeds the retry loop with the fan-out's retry sink and runs it until
    * it is quiescent. */
  private def runRetryLoop(rep: String, t: Option[Trace]): StreamingQuery = {
    val queue = s"$rep/retry-queue"
    spanned(t, "retry_loop") {
      spanned(t, "retry_loop.inject") {
        OrderPipeline.injectRetries(spark.read.parquet(s"$rep/out/retry").drop("batch"),
          queue, "seed")
      }
      val q = spanned(t, "retry_loop.start") {
        OrderPipeline.startRetryLoop(spark, queue, s"$rep/retry-dlq", s"$rep/ckpt-retry")
      }
      q.processAllAvailable()
      q.stop()
      q
    }
  }

  private def commitTimes(ckpt: String): String = {
    val files = Option(new File(s"$ckpt/commits").listFiles()).getOrElse(Array.empty[File])
    files.filter(_.getName.forall(_.isDigit))
      .map(f => s""""${f.getName}":${f.lastModified()}""").mkString("{", ",", "}")
  }

  /** One drain of the backlog in `rep/topic` through fan-out, aggregate
    * and retry loop, from fresh checkpoints and sinks under `rep`.
    * Returns the rep's JSON and its drain seconds. */
  private def drain(rep: String, t: Option[Trace]): (String, Double) = {
    val topic = s"$rep/topic"
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (fan, agg, last, retry) = spanned(t, "drain") {
      val (agg, last) = spanned(t, "aggregate.start") {
        startAggregate(OrderPipeline.process(source(topic)), s"$rep/ckpt-agg")
      }
      val fan = spanned(t, "fanout.query") {
        val query = t.fold(0)(_.currentSpan)
        spanned(t, "fanout.start") {
          OrderPipeline.process(source(topic)).writeStream
            .option("checkpointLocation", s"$rep/ckpt-fan")
            .trigger(Trigger.AvailableNow())
            .foreachBatch { (b: DataFrame, id: Long) =>
              spanned(t, "fanout", query)(OrderPipeline.writeFanOut(b, id, s"$rep/out"))
            }
            .start()
        }.tap(_.awaitTermination())
      }
      val retry = runRetryLoop(rep, t)
      spanned(t, "aggregate.await")(agg.awaitTermination())
      (fan, agg, last, retry)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    lastRep = Some(RepInfo(rep, topic, fan.id, agg.id, retry.id))
    val json = s"""{"dir":"$rep","start_ms":$startMs,"wall_s":$wallS,""" +
      s""""aggregate":${last(0)},"commits":${commitTimes(s"$rep/ckpt-fan")}}"""
    (json, wallS)
  }

  /** Per-layer numbers of the traced pass, as a JSON object. */
  def traceSummary(t: Trace): String =
    TraceSummary(spark, t, lastRep.get, lastProduced, FilesPerBatch)
}
