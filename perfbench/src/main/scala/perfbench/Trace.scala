package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed interval. Benchmark spans wrap calls into the program's public
  * functions; job and stage spans come from the Spark listener. Times are
  * epoch nanoseconds (listener times have millisecond resolution). `op` is
  * the root span the interval belongs to.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Long, end: Long)

/** Counters of one Spark task, attributed to the op its job ran for. */
final case class TaskRec(op: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    schedMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    peakMem: Long, recordsRead: Long)

/** Span recorder for the traced run. Spans, task counters and notes (counts
  * taken at span boundaries) stay in memory until the run ends. The Spark
  * listener is attached only while a traced round runs, so untraced rounds
  * of the same process carry no instrumentation.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val notes = mutable.ArrayBuffer.empty[(Long, String, Double)] // (op, name, value)
  private val open = mutable.Stack.empty[(Long, Long)] // (span id, op)
  private var nextId = 1L
  private var active = false
  private val sc: SparkContext = spark.sparkContext
  private val lock = new Object

  private val listener = new SparkListener {
    private val jobOp = mutable.Map.empty[Int, Long]
    private val stageOp = mutable.Map.empty[Int, Long]
    private val jobStart = mutable.Map.empty[Int, Long]
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .map(_.toLong).getOrElse(0L)
      jobOp(e.jobId) = op
      e.stageIds.foreach(s => stageOp.getOrElseUpdate(s, op))
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        spans += Span(newId(), 0L, jobOp.getOrElse(e.jobId, 0L), s"job ${e.jobId}",
          "exec.job", t0 * 1000000L, e.time * 1000000L)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val i = e.stageInfo
        for (t0 <- i.submissionTime; t1 <- i.completionTime)
          spans += Span(newId(), 0L, stageOp.getOrElse(i.stageId, 0L),
            s"stage ${i.stageId}", "exec.stage", t0 * 1000000L, t1 * 1000000L)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        // the scheduler-delay formula of Spark's own UI
        val fetch = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
        val sched = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetch)
        tasks += TaskRec(stageOp.getOrElse(e.stageId, 0L), m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, sched, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
          m.inputMetrics.recordsRead)
      }
    }
  }

  private def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }

  def enabled: Boolean = active

  /** Attach the listener for one traced round. */
  def start(): Unit = { active = true; sc.addSparkListener(listener) }

  /** Detach after the round, once every event of its jobs is delivered. */
  def stop(): Unit = {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    active = false
  }

  /** Time `body` as a span of `layer`. A span opened outside any other is
    * a root (an op or a probe); the Spark jobs it starts carry its id
    * through a local property.
    */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId()
      val isRoot = open.isEmpty
      val (parent, op) = if (isRoot) (0L, id) else open.head
      if (isRoot) sc.setLocalProperty(OpKey, id.toString)
      open.push((id, op))
      val t0 = now()
      try body
      finally {
        val t1 = now()
        open.pop()
        lock.synchronized { spans += Span(id, parent, op, name, layer, t0, t1) }
        if (isRoot) sc.setLocalProperty(OpKey, null)
      }
    }

  /** Record a count at the current span boundary (no-op when untraced). */
  def note(name: String, value: Double): Unit =
    if (active) lock.synchronized {
      notes += ((open.headOption.map(_._2).getOrElse(0L), name, value))
    }

  /** A root span for one op; also notes the codegen compiles made in it. */
  def op[T](name: String)(body: => T): T = span(name, "op") {
    if (!active) body
    else {
      val (n0, ms0) = codegen()
      try body
      finally {
        val (n1, ms1) = codegen()
        note("codegen_compiles", (n1 - n0).toDouble)
        note("codegen_compile_ms", ms1 - ms0)
      }
    }
  }

  /** Spans, tasks and notes as JSON lines. */
  def writeTo(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try lock.synchronized {
      spans.foreach(s => out.println(Json.write(Map("kind" -> "span",
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start" -> s.start, "end" -> s.end))))
      tasks.foreach(t => out.println(Json.write(Map("kind" -> "task", "op" -> t.op,
        "run_ms" -> t.runMs, "cpu_ns" -> t.cpuNs, "gc_ms" -> t.gcMs,
        "sched_ms" -> t.schedMs, "shuffle_write" -> t.shuffleWrite,
        "shuffle_read" -> t.shuffleRead, "spill" -> t.spill,
        "peak_mem" -> t.peakMem, "records_read" -> t.recordsRead))))
      notes.foreach { case (op, n, v) =>
        out.println(Json.write(Map("kind" -> "note", "op" -> op, "name" -> n,
          "value" -> v)))
      }
    } finally out.close()
  }
}

object Tracer {
  val OpKey = "perfbench.op"
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offset

  /** Engine layer, measured just before a traced op on the same text:
    * dialect rewrite + parse + analyze (`sql`), Spark alone on the text
    * `EXPLAIN SYNTAX` returns, and physical planning. The two parses run
    * twice in A-B-B-A order, so warm-up favours neither.
    */
  def probeEngine(gs: graft.engine.GraftSession, name: String, sql: String,
      t: Tracer): Unit = t.span(name, "probe") {
    try {
      val text = gs.sql(s"EXPLAIN SYNTAX $sql").collect().map(_.getString(0)).mkString("\n")
      def graftSql() = t.span("GraftSession.sql", "engine.sql")(gs.sql(sql))
      def sparkSql() = t.span("SparkSession.sql", "engine.spark_sql")(gs.spark.sql(text))
      graftSql(); sparkSql(); sparkSql()
      val df = graftSql()
      val plan = t.span("executedPlan", "engine.plan")(df.queryExecution.executedPlan)
      t.note("plan_nodes", planNodes(plan).toDouble)
    } catch { case _: Exception => () } // the op itself records failures
  }

  /** Physical plan size in nodes, looking through adaptive wrappers. */
  def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => 1 + planNodes(q.plan)
    case other => 1 + other.children.map(planNodes).sum +
      other.subqueries.map(planNodes).sum
  }

  /** Codegen compile count and summed compile time (ms). The histogram keeps
    * every sample until it holds 1,028; past that the sum is estimated.
    */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (snap.size >= n) snap.getValues.map(_.toDouble).sum
      else snap.getMean * n
    (n, sum)
  }
}
