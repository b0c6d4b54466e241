package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run: run, pass, op, build, exec, check,
  * job, stage or (streaming micro-)batch. Times are epoch seconds.
  */
final class Span(val id: Long, var parent: Long, val kind: String, val name: String,
    var start: Double, var end: Double) {
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** Span store kept in memory during the run and written as JSONL at the
  * end; the harness's own spans use an epoch clock derived from
  * `nanoTime`, Spark's events carry epoch milliseconds.
  */
final class Spans {
  private val ids = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()

  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  def create(parent: Long, kind: String, name: String, start: Double): Span = {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, start, start)
    all.add(s)
    s
  }

  def open(parent: Long, kind: String, name: String): Span = create(parent, kind, name, now())

  def close(s: Span): Span = { s.end = now(); s }

  def write(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try all.asScala.foreach { s =>
      val base = Seq("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)
      w.write(Json((base ++ s.attrs).toMap))
      w.write("\n")
    } finally w.close()
  }
}

/** Spark-side tracing: jobs, stages and task aggregates (SparkListener),
  * micro-batches (StreamingQueryListener) and Catalyst phase times
  * (QueryExecutionListener). Jobs find their parent span through the
  * [[Tracer.Parent]] local property; batches and query executions are
  * claimed by the operation that was running when the bus was last
  * drained ([[claim]]).
  */
final class Tracer(spans: Spans) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stages = new ConcurrentHashMap[(Int, Int), Span]()
  private val batches = new ConcurrentLinkedQueue[Span]()
  private val executions = new ConcurrentLinkedQueue[java.lang.Double]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Parent)))
        .map(_.toLong).getOrElse(0L)
      val s = spans.create(parent, "job", s"job ${e.jobId}", e.time / 1e3)
      s.attrs("stages") = e.stageIds.size
      jobs.put(e.jobId, s)
      e.stageIds.foreach(id => stageJob.put(id, s))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { s =>
        s.end = e.time / 1e3
        s.attrs("ok") = e.jobResult == JobSucceeded
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val info = e.stageInfo
      val parent = Option(stageJob.get(info.stageId)).map(_.id).getOrElse(0L)
      val start = info.submissionTime.map(_ / 1e3).getOrElse(spans.now())
      val s = spans.create(parent, "stage", s"stage ${info.stageId}.${info.attemptNumber()}", start)
      StageKeys.foreach(k => s.attrs(k) = 0L)
      stages.put((info.stageId, info.attemptNumber()), s)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        def add(k: String, v: Long): Unit = s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
        val ti = e.taskInfo
        val dur = ti.finishTime - ti.launchTime
        add("tasks", 1)
        add("task_ms", dur)
        if (ti.attemptNumber > 0 || ti.speculative || e.reason != Success) add("task_retries", 1)
        val m = e.taskMetrics
        if (m != null) {
          val gettingResult = if (ti.gettingResultTime > 0) ti.finishTime - ti.gettingResultTime else 0L
          add("task_cpu_ns", m.executorCpuTime)
          add("task_gc_ms", m.jvmGCTime)
          add("task_wait_ms", math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - gettingResult))
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          add("spill_bytes", m.diskBytesSpilled)
          add("peak_exec_mem_bytes", m.peakExecutionMemory)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stages.remove((info.stageId, info.attemptNumber()))).foreach { s =>
        s.end = info.completionTime.map(_ / 1e3).getOrElse(spans.now())
        info.failureReason.foreach(r => s.attrs("failure") = r.linesIterator.nextOption().getOrElse(""))
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
      val s = spans.create(0L, "batch", s"${Option(p.name).getOrElse(p.id.toString)} #${p.batchId}", start)
      s.end = start + d("triggerExecution") / 1e3
      s.attrs("trigger_s") = d("triggerExecution") / 1e3
      s.attrs("add_batch_s") = d("addBatch") / 1e3
      s.attrs("wal_commit_s") = (d("walCommit") + d("commitOffsets")) / 1e3
      s.attrs("input_rows") = p.numInputRows
      s.attrs("state_rows") = p.stateOperators.map(_.numRowsTotal).sum
      s.attrs("state_bytes") = p.stateOperators.map(_.memoryUsedBytes).sum
      batches.add(s)
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      executions.add(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3)
    def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** After a drain: parents the micro-batches seen since the last claim
    * under `build`; returns the number of query executions since then
    * and their Catalyst analysis + optimization + planning seconds.
    */
  def claim(build: Span): (Int, Double) = {
    taken(batches).foreach(_.parent = build.id)
    val plans = taken(executions).map(_.doubleValue)
    (plans.size, plans.sum)
  }
}

object Tracer {
  /** Local property naming the span that Spark jobs submitted from this
    * thread belong to. */
  val Parent = "graftbench.parent"

  private def taken[T <: AnyRef](q: ConcurrentLinkedQueue[T]): Seq[T] =
    Iterator.continually(q.poll()).takeWhile(_ != null).toSeq

  private val StageKeys = Seq("tasks", "task_ms", "task_retries", "task_cpu_ns", "task_gc_ms",
    "task_wait_ms", "shuffle_write_bytes", "shuffle_write_records", "shuffle_read_bytes",
    "shuffle_fetch_wait_ms", "spill_bytes", "peak_exec_mem_bytes")
}

/** Watches the private tmpdir for staged input layouts (`graft_*`, the
  * engine's content-keyed caches) while a traced pass runs. A layout's
  * build span starts when its directory (or its `.build-<uuid>` sibling)
  * appears and ends when the published directory holds `_SUCCESS`;
  * polling every [[StagingWatch.PollMs]] ms bounds the error. It only
  * records while `parent` (the running operation's span) is set.
  */
final class StagingWatch(spans: Spans, dir: java.nio.file.Path) {
  @volatile var parent: Long = 0L
  @volatile private var running = true
  private val building = mutable.Map.empty[String, Span]
  private val thread = new Thread(() => {
    while (running) {
      poll()
      Thread.sleep(StagingWatch.PollMs)
    }
  }, "graftbench-staging-watch")

  private def names(): Seq[String] = {
    val st = java.nio.file.Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft_")).toSeq
    finally st.close()
  }

  def poll(): Unit = synchronized {
    val present = names()
    // a published layout that disappears and comes back is a rebuild
    building.filterInPlace((l, s) => !s.attrs.contains("built") || present.contains(l))
    if (parent != 0L) for (n <- present; layout = n.takeWhile(_ != '.')) {
      val s = building.getOrElseUpdate(layout, spans.open(parent, "staging", layout))
      if (n == layout && !s.attrs.contains("built") &&
          java.nio.file.Files.exists(dir.resolve(n).resolve("_SUCCESS"))) {
        spans.close(s)
        s.attrs("built") = true
      }
    }
  }

  def start(): StagingWatch = { thread.setDaemon(true); thread.start(); this }

  def stop(): Unit = {
    running = false
    thread.join()
  }
}

object StagingWatch {
  val PollMs = 20L
}

/** JSON writer for the result and span files: Jackson with its Scala
  * module, both in Spark's jars. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
