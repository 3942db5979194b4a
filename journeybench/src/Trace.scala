package journeybench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{JourneyBridge, SparkContext}
import org.apache.spark.scheduler._

/** Layer spans timed from outside the program. Each call into a module's
  * public function runs inside `span(name)`, which tags every Spark job its
  * thread submits with a tag unique to the call (SparkContext.addJobTag), so
  * jobs, tasks, task time and shuffle bytes are attributed exactly. The chat
  * relay runs its micro-batches on the stream thread, which carries no tag;
  * those jobs are attributed by time to the `streaming.flush` call whose
  * window (from the turn's log append to the end of the flush) holds their
  * start. Spans stay in memory until [[summary]]. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private final class JobRec(val tag: Option[String], val stream: Boolean, val start: Long) {
    @volatile var end: Long = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
    var rowsRead = 0L
  }
  private final case class Call(span: String, tag: String, t0: Long, t1: Long,
      wallMs: Double, streamFrom: Option[Long])

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val calls = mutable.ArrayBuffer.empty[Call]
  private var seq = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(JourneyBridge.JobTagsKey)))
        .flatMap(_.split(',').find(_.startsWith(TagPrefix)))
      val stream = props.exists(_.getProperty(StreamQueryKey) != null)
      jobs.put(e.jobId, new JobRec(tag, stream, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        jobId <- Option(stageJob.get(e.stageId))
        j <- Option(jobs.get(jobId))
      } j.synchronized {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
          j.rowsRead += m.inputMetrics.recordsRead
        }
      }
  }
  sc.addSparkListener(listener)

  def nowMs: Long = System.currentTimeMillis()

  /** Run `f` as one call of span `name`. `streamFrom` opens the window in
    * which untagged stream-thread jobs count toward this call. */
  def span[A](name: String, streamFrom: Option[Long] = None)(f: => A): A = {
    seq += 1
    val tag = s"$TagPrefix$seq"
    sc.addJobTag(tag)
    val t0 = nowMs
    val n0 = System.nanoTime()
    try f
    finally {
      val wall = (System.nanoTime() - n0) / 1e6
      sc.removeJobTag(tag)
      calls += Call(name, tag, t0, nowMs, wall, streamFrom)
    }
  }

  /** Per-span means per call, keyed `<span>_ms`, `<span>.calls`, `.jobs`,
    * `.tasks`, `.task_ms`, `.shuffle_bytes`, `.driver_gap_ms` and
    * `.rows_read` (input records the span's tasks read from files). */
  def summary(): Map[String, Double] = {
    JourneyBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    val all = jobs.values.asScala.toSeq
    val byTag = all.filter(_.tag.isDefined).groupBy(_.tag.get)
    val streamJobs = all.filter(j => j.stream && j.tag.isEmpty)
    val perCall = calls.toSeq.map { c =>
      val own = byTag.getOrElse(c.tag, Nil) ++
        c.streamFrom.fold(Seq.empty[JobRec])(from =>
          streamJobs.filter(j => j.start >= from && j.start <= c.t1))
      val covered = union(own.map(j => (math.max(j.start, c.t0), math.min(endOf(j), c.t1))))
      (c.span, Seq(c.wallMs, own.size.toDouble, own.map(_.tasks).sum.toDouble,
        own.map(_.taskMs).sum.toDouble, own.map(_.shuffleBytes).sum.toDouble,
        math.max(0.0, (c.t1 - c.t0) - covered), own.map(_.rowsRead).sum.toDouble))
    }
    perCall.groupBy(_._1).flatMap { case (span, rows) =>
      val n = rows.size.toDouble
      def mean(i: Int) = rows.map(_._2(i)).sum / n
      Map(s"${span}_ms" -> mean(0), s"$span.calls" -> n, s"$span.jobs" -> mean(1),
        s"$span.tasks" -> mean(2), s"$span.task_ms" -> mean(3),
        s"$span.shuffle_bytes" -> mean(4), s"$span.driver_gap_ms" -> mean(5),
        s"$span.rows_read" -> mean(6))
    }
  }

  /** Wall times of every call of one span, in call order. */
  def wallMs(span: String): Seq[Double] = calls.toSeq.filter(_.span == span).map(_.wallMs)

  private def endOf(j: JobRec): Long = if (j.end < 0) j.start else j.end

  private def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble
  }
}

object Tracer {
  val TagPrefix = "journeybench-"
  // StreamExecution.QUERY_ID_KEY: set on every job a streaming query runs
  val StreamQueryKey = "sql.streaming.queryId"

  val JourneySpans: Seq[String] = Seq("auth.verify", "store.open", "store.append", "store.delete",
    "ingest.outcomes", "rag.retrieve", "streaming.log_append", "streaming.flush")
  val SpanFields: Seq[(String, String)] = Seq("_ms" -> "ms", ".calls" -> "count",
    ".jobs" -> "count", ".tasks" -> "count", ".task_ms" -> "ms",
    ".shuffle_bytes" -> "bytes", ".driver_gap_ms" -> "ms")
}
