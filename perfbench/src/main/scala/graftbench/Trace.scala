package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval in the trace: a workload operation, a layer call inside
  * it, or (added at the end from listener events) a Spark job or stage.
  * Times are epoch milliseconds. */
final case class Span(id: String, parent: String, op: Int, name: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Spark job as seen by [[EngineListener]]. */
final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
    stages: Seq[Int])

/** Task totals of one stage. */
final class StageRec {
  var group = ""
  var submitted = 0L
  var completed = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
}

/** Public-listener view of the engine: every job with its job group,
  * every stage with its task totals. */
final class EngineListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitted = e.stageInfo.submissionTime.getOrElse(0L)
    s.completed = e.stageInfo.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      // the Spark UI's definition of scheduler delay
      val overhead = m.executorDeserializeTime + m.resultSerializationTime
      s.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        overhead - e.taskInfo.gettingResultTime)
    }
  }
}

/** One executed query as seen by the public [[QueryExecutionListener]]:
  * its planning time (QueryPlanningTracker) and its SQL metrics summed
  * by operator kind. */
final case class SqlRec(func: String, planMs: Double, metrics: Map[String, Double])

final class SqlListener extends QueryExecutionListener {
  val events = mutable.ArrayBuffer[SqlRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val acc = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
          val ms = p.metrics
          ms.get("numOutputRows").foreach(m => acc("sql.rows_out") += m.value)
          // timing metrics are kept in ms, except shuffle write time (ns)
          ms.get("pipelineTime").foreach(m => acc("sql.codegen_ms") += m.value)
          ms.get("sortTime").foreach(m => acc("sql.sort_ms") += m.value)
          ms.get("shuffleWriteTime").foreach(m => acc("sql.shuffle_write_ms") += m.value / 1e6)
          ms.get("scanTime").foreach(m => acc("sql.scan_ms") += m.value)
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(qe.executedPlan)
    synchronized { events += SqlRec(funcName, planMs, acc.toMap) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** In-memory tracer. With tracing off it only runs the wrapped code;
  * with tracing on it keeps layer spans, sets a job group per operation
  * and, after each operation, attributes the listeners' jobs, stages,
  * tasks and executed queries to it. Spans are written out at the end. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val nanoOrigin = System.nanoTime()
  private val epochOrigin = System.currentTimeMillis().toDouble
  def nowMs: Double = epochOrigin + (System.nanoTime() - nanoOrigin) / 1e6

  var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[String] = Nil
  private var seq = 0
  private var opId = -1
  private val aliases = mutable.HashMap[String, Int]()  // streaming run id -> op
  private lazy val engine = new EngineListener
  private lazy val sql = new SqlListener
  private var sqlSeen = 0

  /** Registers the listeners; from here on operations are traced. */
  def enable(): Unit = {
    sc.addSparkListener(engine)
    spark.listenerManager.register(sql)
    on = true
  }

  def group(op: Int): String = s"graftbench-op-$op"

  /** A streaming query's jobs carry its run id as job group. */
  def alias(runId: String): Unit = if (on) aliases(runId) = opId

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      seq += 1
      val id = s"s$seq"
      val parent = stack.headOption.getOrElse("")
      stack = id :: stack
      val t0 = nowMs
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, opId, name, t0, nowMs)
      }
    }

  /** Runs one operation under its own job group and span. */
  def op[A](index: Int, name: String)(f: => A): A = {
    if (!on) return f
    opId = index
    sc.setJobGroup(group(index), name)
    try span(s"op:$name")(f)
    finally sc.clearJobGroup()
  }

  /** Engine and SQL totals of one finished operation. Drains the
    * listener bus first, so call it outside the timed interval. */
  def opMetrics(index: Int): Map[String, Double] = {
    if (!on) return Map.empty
    org.apache.spark.BenchBus.drain(sc)
    val m = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val opSpans = spans.filter(_.op == index)
    val opSpan = opSpans.find(_.name.startsWith("op:"))
    val mine = engine.synchronized {
      engine.jobs.values.filter(j => j.group == group(index) ||
        aliases.get(j.group).contains(index)).toList
    }
    for (s <- opSpans if !s.name.startsWith("op:")) {
      m(s.name + "_ms") += s.ms
      m(s.name + "_jobs") += mine.count(j => j.startMs >= s.startMs - 1 && j.startMs <= s.endMs + 1)
    }
    m("spark.jobs") = mine.size
    engine.synchronized {
      // a stage counts once, for the job group that ran it (a job that
      // reuses a finished shuffle lists that stage as skipped)
      val ran = mine.flatMap(j => j.stages.map(_ -> j.group)).toMap
      for ((sid, g) <- ran; st <- engine.stages.get(sid) if st.tasks > 0 && st.group == g) {
        m("spark.stages") += 1
        m("spark.tasks") += st.tasks
        m("spark.task_run_s") += st.runMs / 1e3
        m("spark.task_cpu_s") += st.cpuNs / 1e9
        m("spark.gc_s") += st.gcMs / 1e3
        m("spark.scheduler_delay_ms") += st.schedDelayMs
        m("spark.shuffle_write_mb") += st.shuffleWrite / 1e6
        m("spark.shuffle_read_mb") += st.shuffleRead / 1e6
        m("spark.spill_mb") += st.spill / 1e6
        m("spark.peak_exec_mem_mb") = math.max(m("spark.peak_exec_mem_mb"), st.peakMem / 1e6)
      }
    }
    opSpan.foreach { o =>
      // wall time of the operation during which none of its jobs ran
      val iv = mine.map(j => (math.max(j.startMs.toDouble, o.startMs),
        math.min(j.endMs.toDouble, o.endMs))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var end = Double.MinValue
      for ((a, b) <- iv) {
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      m("spark.driver_wait_ms") = o.ms - covered
      m("op.wall_ms") = o.ms
      // self time of the operation: wall time no layer span covers
      m("op.unaccounted_ms") = o.ms - opSpans.filter(_.parent == o.id).map(_.ms).sum
    }
    val evs = sql.synchronized {
      val e = sql.events.drop(sqlSeen).toList
      sqlSeen = sql.events.size
      e
    }
    for (e <- evs; (k, v) <- e.metrics) m(k) += v
    m("sql.queries") = evs.size
    evs.lastOption.foreach(e => m("last_query.plan_ms") = e.planMs)
    val staged = mutable.HashSet[Int]()
    for (j <- mine) {
      // Spark jobs and stages as child spans of the innermost layer
      // span that was open when the job started
      val parent = opSpans.filter(s => s.startMs <= j.startMs + 1 && s.endMs >= j.startMs - 1)
        .sortBy(-_.startMs).headOption.map(_.id).getOrElse("")
      spans += Span(s"j${j.id}", parent, index, "spark.job", j.startMs.toDouble, j.endMs.toDouble)
      engine.synchronized {
        for (sid <- j.stages; st <- engine.stages.get(sid)
             if st.tasks > 0 && st.group == j.group && staged.add(sid))
          spans += Span(s"j${j.id}.st$sid", s"j${j.id}", index, "spark.stage",
            st.submitted.toDouble, st.completed.toDouble)
      }
    }
    m.toMap
  }
}
