package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** In-memory span recorder. Ops and layer calls are recorded by the harness
  * around its calls into graft's public functions; Spark jobs and stages
  * are recorded by a listener installed on the session. A job is parented
  * to the call that submitted it through a local property, falling back to
  * the innermost call open at submission time (jobs submitted from pool
  * threads do not inherit it). Spans are written out once, at the end.
  */
final class Trace(spark: SparkSession) {
  import Trace.Span

  /** The run stage new spans are tagged with: setup, warm, loop, finish or
    * coverage.
    */
  @volatile var stage = "setup"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val open = mutable.Stack.empty[Span]
  private var currentOp = 0L
  private val Prop = "perfbench.span"

  private def newSpan(kind: String, name: String, parent: Long, op: Long,
      start: Long): Span = synchronized {
    val sp = Span(nextId, kind, name, parent, op, start, stage)
    nextId += 1
    spans += sp
    sp
  }

  /** Times `body` as one span of `kind` ("op" or "call") named `name`. */
  def span[A](kind: String, name: String)(body: => A): A = {
    val parent = synchronized(open.headOption)
    if (kind == "op") currentOp = synchronized(nextId)
    val sp = newSpan(kind, name, parent.fold(0L)(_.id), currentOp, System.nanoTime())
    synchronized(open.push(sp))
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, sp.id.toString)
    try body
    finally {
      sc.setLocalProperty(Prop, prev)
      sp.end = System.nanoTime()
      synchronized(open.pop())
    }
  }

  /** Attaches a measured attribute (result rows, files written, …) to the
    * innermost open span whose name is `name`.
    */
  def attr(name: String, key: String, value: Any): Unit = synchronized {
    open.find(_.name == name).orElse(spans.reverseIterator.find(_.name == name))
      .foreach(_.attrs(key) = value)
  }

  private val jobs = mutable.Map.empty[Int, Span]
  // SQL execution id -> its description: the job description when one is
  // set, else the call site of the action that started the execution
  private val executions = mutable.Map.empty[Long, String]
  private val stages = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Int]
  // listener timestamps are wall-clock millis; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + nanoOffset

  private def owner(props: java.util.Properties, at: Long): Span = synchronized {
    val byProp = Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(id => spans.find(_.id == id.toLong))
    byProp.getOrElse(spans.reverseIterator.find(s => s.kind != "job" && s.kind != "stage" &&
      s.start <= at && (s.end < 0 || s.end >= at)).orNull)
  }

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(executions(x.executionId) = x.description)
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val at = nanos(e.time)
      val parent = owner(e.properties, at)
      val sp = newSpan("job", s"job ${e.jobId}", Option(parent).fold(0L)(_.id),
        Option(parent).fold(0L)(_.op), at)
      val p = Option(e.properties)
      sp.attrs("description") = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      sp.attrs("callsite") = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      // jobs that adaptive execution submits from pool threads carry a pool
      // frame as call site; their SQL execution names the action instead
      sp.attrs("sql_callsite") = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong)).getOrElse("")
      sp.attrs("stages") = e.stageIds.size
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = sp
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { sp =>
        sp.end = nanos(e.time)
        sp.attrs("failed") = e.jobResult != JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val info = e.stageInfo
      val job = stageJob.get(info.stageId).flatMap(jobs.get)
      val sp = newSpan("stage", s"stage ${info.stageId}", job.fold(0L)(_.id),
        job.fold(0L)(_.op), nanos(info.submissionTime.getOrElse(System.currentTimeMillis())))
      sp.attrs("tasks") = info.numTasks
      stages(info.stageId) = sp
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages.get(e.stageInfo.stageId).foreach { sp =>
        sp.end = nanos(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach { sp =>
        def add(k: String, v: Long): Unit =
          sp.attrs(k) = sp.attrs.getOrElse(k, 0L).asInstanceOf[Long] + v
        add("tasks_ended", 1L)
        if (e.reason != org.apache.spark.Success) add("failed_tasks", 1L)
        Option(e.taskMetrics).foreach { m =>
          add("cpu_ns", m.executorCpuTime)
          add("gc_ms", m.jvmGCTime)
          add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("input_rows", m.inputMetrics.recordsRead)
          add("bytes_written", m.outputMetrics.bytesWritten)
        }
      }
    }
  }

  /** Writes every span as one JSON object per line. */
  def write(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.value(v)}" }
      w.println(s"""{"id":${s.id},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"op":${s.op},"stage":${Json.str(s.stage)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}""" +
        (if (attrs.isEmpty) "}" else attrs.mkString(",", ",", "}")))
    }
    finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, kind: String, name: String, parent: Long, op: Long,
      start: Long, stage: String, var end: Long = -1L,
      attrs: mutable.Map[String, Any] = mutable.Map.empty)
}

/** Minimal JSON rendering for the harness's output lines. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
