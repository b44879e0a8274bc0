package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.model.Schemas
import graft.stream.OrderPipeline

/** Turns a traced pass's spans, jobs and progress events into the
  * per-layer metrics the benchmark declares. Sink row and byte counts are
  * added by `run.py`, which reads the sinks anyway to check them. */
object TraceSummary {

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def phase(ps: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))

  /** Times the file source read alone, then with decode, then with
    * routing, each drained to the `noop` sink; the differences are each
    * layer's self time. They are lazy inside the fan-out, so timing the
    * fan-out call cannot separate them. */
  private def isolation(spark: SparkSession, t: Trace, topic: String, ckpt: String,
      filesPerBatch: Int): Map[String, Double] = {
    val src = spark.readStream.schema(Schemas.envelope)
      .option("maxFilesPerTrigger", filesPerBatch.toString).parquet(topic)
    val stages = Seq(
      "scan" -> src,
      "decode" -> OrderPipeline.decode(src),
      "route" -> OrderPipeline.process(src))
    val secs = stages.map { case (name, df) =>
      t.span(s"isolate.$name") {
        val t0 = System.nanoTime()
        df.writeStream.format("noop").option("checkpointLocation", s"$ckpt-$name")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
        name -> (System.nanoTime() - t0) / 1e9
      }
    }.toMap
    val failed = OrderPipeline.decode(spark.read.schema(Schemas.envelope).parquet(topic))
      .filter(col("order").isNull).count()
    Map("scan.self_s" -> secs("scan"),
      "decode.self_s" -> (secs("decode") - secs("scan")),
      "route.self_s" -> (secs("route") - secs("decode")),
      "decode.failed_rows" -> failed.toDouble)
  }

  private def dirBytes(dir: String): Double = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(walk).sum
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(dir)).toDouble
  }

  /** `produced` is the topic of the traced producer timing;
    * `filesPerBatch` is the drain's batch bound. */
  def apply(spark: SparkSession, t: Trace, rep: Bench#RepInfo, produced: String,
      filesPerBatch: Int): String = {
    val fanSpans = t.byName("fanout") ++ t.byName("fanout.start")
    val fanJobs = t.jobsOf(fanSpans.map(_.id).toSet)
    val fanTasks = t.tasksOf(fanJobs)
    val fanProgress = t.progress.of(rep.fanout).filter(_.numInputRows > 0)
    val callMs = t.byName("fanout").map(_.seconds * 1e3)
    val perBatch = fanJobs.filter(_.batch.nonEmpty).groupBy(_.batch).values.toSeq
    val retryStart = t.byName("retry_loop").map(_.startNs).minOption.getOrElse(Long.MaxValue)
    val fanStart = fanSpans.map(_.startNs).minOption.getOrElse(0L)
    val cached = t.jobs.cached.values.asScala.toSeq
      .filter { case (at, _) => at - t.originNs >= fanStart && at - t.originNs < retryStart }
      .map(_._2.toDouble)
    val agg = t.progress.of(rep.aggregate).filter(_.numInputRows > 0)
    val lastState = agg.lastOption.flatMap(_.stateOperators.headOption)
    val retry = t.progress.of(rep.retry).filter(_.numInputRows > 0)
    val produce = t.byName("produce").lastOption
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

    val engine = Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets",
      "addBatch", "triggerExecution").flatMap { k =>
      val xs = phase(fanProgress, k)
      Seq(s"engine.${k}_ms_p50" -> quantile(xs, 0.5), s"engine.${k}_ms_p95" -> quantile(xs, 0.95))
    }
    val metrics = Seq(
      "fanout.call_ms_p50" -> quantile(callMs, 0.5),
      "fanout.call_ms_p95" -> quantile(callMs, 0.95),
      "fanout.call_s_total" -> callMs.sum / 1e3,
      "fanout.jobs_per_batch" -> quantile(perBatch.map(_.size.toDouble), 0.5),
      "fanout.tasks_per_batch" ->
        quantile(perBatch.map(js => t.tasksOf(js).map(_.tasks).sum.toDouble), 0.5),
      "fanout.task_cpu_s" -> fanTasks.map(_.cpuNs).sum / 1e9,
      "fanout.task_gc_s" -> fanTasks.map(_.gcMs).sum / 1e3,
      "fanout.cache_bytes" -> quantile(cached, 0.5),
      "engine.batches" -> fanProgress.size.toDouble,
      "engine.rows_per_batch_p50" -> quantile(fanProgress.map(_.numInputRows.toDouble), 0.5),
      "state.rows_total" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms_p50" ->
        quantile(agg.flatMap(_.stateOperators.headOption).map(_.commitTimeMs.toDouble), 0.5),
      "aggregate.triggerExecution_ms_p50" -> quantile(phase(agg, "triggerExecution"), 0.5),
      "retry_loop.wall_s" -> t.byName("retry_loop").lastOption.map(_.seconds).getOrElse(0.0),
      "retry_loop.batches" -> retry.size.toDouble,
      "retry_loop.rows_in" -> retry.map(_.numInputRows.toDouble).sum,
      "retry_loop.files_reinjected" -> Option(new File(s"${rep.dir}/retry-queue").listFiles())
        .getOrElse(Array.empty[File]).count(_.getName.startsWith("reinject-")).toDouble,
      "retry_loop.addBatch_ms_p50" -> quantile(phase(retry, "addBatch"), 0.5),
      "produce.call_s" -> produce.map(_.seconds).getOrElse(0.0),
      "produce.bytes_written" -> dirBytes(produced)
    ) ++ engine ++
      isolation(spark, t, rep.topic, s"${rep.dir}/ckpt-isolate", filesPerBatch) ++
      Seq("jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "jvm.peak_rss_mb" -> rssKb / 1024)
    metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{\"metrics\":{", ",", "},") +
      s""""spans":${t.spansJson}}"""
  }
}
