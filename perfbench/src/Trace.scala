package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Span and listener recorder for traced runs.
  *
  * A span wraps one call into a layer from the benchmark's own code and
  * records name, start, end and parent. Jobs are attributed to the
  * innermost span by a `SparkContext` local property that is set around
  * each call and read back in `onJobStart`; a streaming query's thread
  * inherits the property of the thread that started it, and its jobs
  * also carry the engine's own batch-id property. Everything is held in
  * memory and summarised once, after the run.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val originNs: Long = System.nanoTime()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new JobListener
  val progress = new ProgressListener

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(progress)

  /** Runs `body` as span `name`; `parent` overrides the calling thread's
    * enclosing span (for calls made on a streaming query's thread). */
  def span[T](name: String, parent: Int = -1)(body: => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    val outer = current.get()
    val prop = sc.getLocalProperty(SpanKey)
    current.set(id)
    sc.setLocalProperty(SpanKey, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, if (parent >= 0) parent else outer, start - originNs,
        System.nanoTime() - originNs))
      current.set(outer)
      sc.setLocalProperty(SpanKey, prop)
    }
  }

  /** Id of the calling thread's innermost open span (0 at top level). */
  def currentSpan: Int = current.get()

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(progress)
  }

  def byName(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Self time: duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.asScala.filter(_.parent == s.id).toSeq.sortBy(_.startNs)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { k =>
      val a = math.max(k.startNs, reach)
      val b = math.min(k.endNs, s.endNs)
      if (b > a) { covered += b - a; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Jobs of the spans with these ids. */
  def jobsOf(spanIds: Set[Int]): Seq[JobRec] =
    jobs.jobs.asScala.filter(j => spanIds.contains(j.span)).toSeq

  /** Tasks of these jobs' stages. */
  def tasksOf(js: Seq[JobRec]): Seq[StageTasks] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(jobs.stageTasks.get(s)))

  def spansJson: String = spans.asScala.toSeq.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ms":${s.startNs / 1e6},"end_ms":${s.endNs / 1e6},""" +
      s""""self_ms":${selfSeconds(s) * 1e3}}"""
  }.mkString("[", ",\n", "]")
}

object Trace {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  final case class JobRec(id: Int, span: Int, batch: String, stages: Seq[Int])
  final class StageTasks {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  }

  final class JobListener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val stageTasks = new ConcurrentHashMap[Int, StageTasks]()
    /** rdd id -> (first block time ns, stored bytes) of persisted RDDs. */
    val cached = new ConcurrentHashMap[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(0)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey))).getOrElse("")
      jobs.add(JobRec(e.jobId, span, batch, e.stageIds))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageTasks.computeIfAbsent(e.stageId, _ => new StageTasks)
      val m = Option(e.taskMetrics)
      s.synchronized {
        s.tasks += 1
        m.foreach { t =>
          s.cpuNs += t.executorCpuTime
          s.gcMs += t.jvmGCTime
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        val rdd = b.blockId.asRDDId.get.rddId
        val bytes = b.memSize + b.diskSize
        cached.merge(rdd, (System.nanoTime(), bytes), (a, n) => (a._1, a._2 + n._2))
      }
    }
  }

  final class ProgressListener extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
  }
}
