package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The one way the driver mains (Bench, Verify, TimeQ, Explain,
  * ScaleProbe) build a session, time a step and count its jobs. */
object Harness {

  /** Cores for `local[n]`: `SPARK_GRAFT_CPUS` if set, else this JVM's
    * processor count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // coalesce tiny post-shuffle partitions to the advisory size
      // instead of preserving parallelism — fewer task launches per
      // stage at small SF, and the production-recommended setting at
      // scale (partition sizing should win over raw task count)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // the suite compiles ~2k distinct codegen units; the default
      // 100-entry cache would evict the warmup's classes before the
      // timed run touches them, moving Janino compiles INTO windows
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `f`, returning its result and its wall seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Counts the Spark jobs that compute something. Every
    * `spark.read.parquet` fires a schema-inference job (sole stage named
    * "parquet at …"); reading a table is not computation, so only
    * genuine actions (collect, head, treeAggregate, eager
    * localCheckpoint, …) count. The call site lives in the STAGE name
    * (job properties carry no callSite for these scheduler-submitted
    * jobs). */
  final class JobCounter private extends SparkListener {
    private val jobs = new AtomicInteger()

    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val sites = js.stageInfos.map(_.name)
      val isRead = sites.nonEmpty && sites.forall(s =>
        s.startsWith("parquet at") || s.startsWith("load at") ||
          s.startsWith("json at"))
      if (!isRead) jobs.incrementAndGet()
    }

    /** The count once the async listener bus has drained. A STABILITY
      * loop, not a fixed sleep: under load a job-start event can land
      * later than any fixed delay, mis-attributing a job to the next
      * step. Waits until the counter holds still for 30 ms, bounded at
      * ~500 ms total. */
    def drained(): Int = {
      var seen = jobs.get()
      var stableMs = 0
      var waitedMs = 0
      while (stableMs < 30 && waitedMs < 500) {
        Thread.sleep(10); waitedMs += 10
        val now = jobs.get()
        if (now == seen) stableMs += 10 else { seen = now; stableMs = 0 }
      }
      jobs.get()
    }
  }

  object JobCounter {
    def attach(spark: SparkSession): JobCounter = {
      val c = new JobCounter
      spark.sparkContext.addSparkListener(c)
      c
    }
  }
}
