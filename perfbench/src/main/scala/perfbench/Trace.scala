package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded around every call the harness makes into a layer
  * (`lake.*`, `sql.*`, `spark.*`, `streaming.*`, `queries.*`) and around
  * each client op. The innermost open span of a thread is published as
  * the Spark local property [[SpanKey]], so jobs (and the tasks and
  * filesystem calls they make) carry the span that caused them. All
  * records stay in memory and are written out by [[dump]] once the run
  * ends; `perfbench/summarize.py` turns them into per-layer metrics.
  *
  * With tracing off, [[span]] only runs its body: no listener, no
  * counting filesystem and no local property is installed.
  */
object Trace {
  val SpanKey = "perfbench.span"

  @volatile var enabled = false
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val spans = new ConcurrentLinkedQueue[String]()
  private val events = new ConcurrentLinkedQueue[String]()

  /** Runs `f` inside a span named `name` (`<layer>.<call>`). */
  def span[A](spark: SparkSession, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      open.set(id :: stack)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      var ok = false
      try { val r = f; ok = true; r }
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        spans.add(Json.obj("id" -> id, "parent" -> parent, "name" -> name,
          "t0" -> t0, "t1" -> t1, "ok" -> ok,
          "thread" -> Thread.currentThread().getName))
      }
    }

  /** The span open on the calling thread, or 0. */
  def current: Long = open.get().headOption.getOrElse(0L)

  /** A free-form trace event (already a JSON object). */
  def event(json: String): Unit = if (enabled) events.add(json)

  def install(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new JobListener)
    spark.listenerManager.register(new PhaseListener)
    spark.streams.addListener(new ProgressListener)
  }

  def dump(dir: String): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    def write(name: String, lines: Iterable[String]): Unit =
      java.nio.file.Files.write(new java.io.File(d, name).toPath,
        lines.asJava)
    write("spans.jsonl", spans.asScala)
    write("events.jsonl", events.asScala)
    write("fs.jsonl", CountingFileSystem.snapshot())
  }

  /** Jobs, their stages and task metrics, keyed to the span or the
    * micro-batch that launched them. */
  private class JobListener extends SparkListener {
    private case class Job(id: Int, span: String, batch: String, t0: Long,
        stages: Seq[Int])
    private val jobs = mutable.Map[Int, Job]()
    private val stageMetrics = mutable.Map[Int, Array[Long]]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        .getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop(SpanKey),
        prop("streaming.sql.batchId"), e.time, e.stageIds)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted)
        : Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val a = stageMetrics.getOrElseUpdate(i.stageId, new Array[Long](7))
      a(0) += 1
      a(1) += i.numTasks
      if (m != null) {
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.shuffleReadMetrics.totalBytesRead
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(6) += m.inputMetrics.recordsRead
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(e.jobId).foreach { j =>
        val tot = new Array[Long](7)
        j.stages.foreach { s =>
          stageMetrics.remove(s).foreach(a =>
            a.indices.foreach(k => tot(k) += a(k)))
        }
        events.add(Json.obj("type" -> "job", "job" -> j.id,
          "span" -> j.span, "batch" -> j.batch,
          "t0" -> j.t0, "t1" -> e.time, "stages" -> tot(0),
          "tasks" -> tot(1), "shuffle_write" -> tot(2),
          "shuffle_read" -> tot(3), "input" -> tot(4), "spill" -> tot(5),
          "records_read" -> tot(6)))
      }
    }
  }

  /** Catalyst phase times of every action, from `qe.tracker`. */
  private class PhaseListener extends QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      events.add(Json.obj("type" -> "qe", "t" -> System.nanoTime(),
        "analysis" -> ms("analysis"), "optimization" -> ms("optimization"),
        "planning" -> ms("planning")))
    }
  }

  /** Micro-batch progress: durations and state rows per trigger. */
  private class ProgressListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      events.add(Json.obj("type" -> "progress", "run" -> p.runId.toString,
        "batch" -> p.batchId,
        "rows" -> p.numInputRows,
        "wall_ms" -> System.currentTimeMillis(),
        "trigger" -> d.getOrElse("triggerExecution", 0L),
        "add_batch" -> d.getOrElse("addBatch", 0L),
        "get_batch" -> d.getOrElse("getBatch", 0L),
        "planning" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit" -> d.getOrElse("walCommit", 0L),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum))
    }
  }
}
