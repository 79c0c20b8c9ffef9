package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One layer call seen from the benchmark: `group` is the id shared by
  * every span of one query pass or micro-batch; times are epoch ms. */
final case class Span(id: Int, parent: Int, name: String, group: String,
    startMs: Double, endMs: Double)

/** Per-task record kept by the traced run's SparkListener. */
final case class TaskRec(stage: Int, launchMs: Long, endMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long,
    spill: Long, inBytes: Long, inRows: Long)

/** Per-trigger record kept by the traced run's StreamingQueryListener. */
final case class TriggerRec(endMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateRemoved: Long, stateMemory: Long,
    stateCommitMs: Long)

/** In-memory tracing: spans around each layer call made from the
  * benchmark's own code, plus Spark's task, job, SQL-execution and
  * streaming-progress events. Nothing is recorded when `on` is false, and
  * nothing is written until the run ends. Listener events arrive on
  * Spark's asynchronous bus, so the records are complete only after
  * `SparkSession.stop`, which drains the bus. */
final class Trace(val on: Boolean) {
  private var nextId = 0
  private val parents = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobStarts = ArrayBuffer.empty[Long]
  val sqlStarts = ArrayBuffer.empty[Long]
  val queryStarts = ArrayBuffer.empty[Long]
  val triggers = ArrayBuffer.empty[TriggerRec]

  def nowMs: Double = System.nanoTime() / 1e6 + Trace.epochOffsetMs

  /** Time `body` as a span named `name` in `group`, child of the span
    * this thread is inside. */
  def span[T](name: String, group: String)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val stack = parents.get()
      val parent = stack.headOption.getOrElse(0)
      parents.set(id :: stack)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        parents.set(stack)
        synchronized { spans += Span(id, parent, name, group, t0, t1) }
      }
    }

  /** Record a span whose interval was measured elsewhere. */
  def record(name: String, group: String, startMs: Double, endMs: Double)
      : Unit =
    if (on) synchronized {
      nextId += 1
      spans += Span(nextId, 0, name, group, startMs, endMs)
    }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) Trace.this.synchronized {
          tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
            e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
            m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
        }
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Trace.this.synchronized { jobStarts += e.time }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          Trace.this.synchronized { sqlStarts += s.time }
        case _ =>
      }
    })
    watch(spark)
  }

  /** Streaming listeners belong to one session: call for each session
    * the workload runs queries on. */
  def watch(spark: SparkSession): Unit = if (on) {
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Trace.this.synchronized {
          queryStarts += java.time.Instant.parse(e.timestamp).toEpochMilli
        }
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators
        val rec = TriggerRec(
          java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.getOrDefault("triggerExecution", 0L),
          scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
            .asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.numRowsRemoved).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
        Trace.this.synchronized { triggers += rec }
        record("trigger", s"batch${p.batchId}",
          rec.endMs - rec.durations.getOrElse("triggerExecution", 0L), rec.endMs)
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    })
  }

  /** All spans as JSON lines, written once at the end of the run. */
  def writeSpans(path: java.nio.file.Path): Unit = if (on) {
    val lines = spans.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""group":"${s.group}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Trace.unionMs(kids.getOrElse(s.id, Nil).toSeq
        .map(k => (k.startMs, k.endMs)), s.startMs, s.endMs)
      s.id -> (s.endMs - s.startMs - covered)
    }.toMap
  }
}

object Trace {
  /** Anchors the monotonic clock to epoch ms once, so spans line up with
    * Spark's epoch-stamped task and progress events. */
  val epochOffsetMs: Double =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionMs(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
