package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the listener saw it, with the task counters of its
  * stages summed in. `module` is the repo module that issued the job,
  * read from the job's call site (see [[Trace.moduleOf]]). */
final class JobRec(val id: Int, val start: Long, val module: String,
                   val site: String) {
  var end: Long = -1L
  var taskCpuNs, taskRunMs, taskMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  def seconds: Double = if (end < 0) 0.0 else (end - start) / 1000.0
}

/** A span taken in the benchmark's own code around one call into a
  * layer. Times are epoch milliseconds, the clock Spark's listener
  * events use, so jobs can be placed inside spans. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
  def contains(t: Long): Boolean = t >= start && t <= end
}

/**
 * The traced run's recorder. Spans and listener records stay in memory
 * and are written out once, when the run ends. Without tracing the
 * `span` calls only run their body, and no listener is registered.
 */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id → issuing module. Jobs that AQE submits from its
    * own threads carry no user frame in their call site; the execution
    * they belong to carries the caller's. */
  private val execModule = mutable.HashMap.empty[Long, String]
  private var streamBatches, streamRows = 0L

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        execModule(x.executionId) = Trace.moduleOf(x.details)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val last = e.stageInfos.sortBy(-_.stageId).headOption
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      val module = exec.flatMap(id => execModule.get(id.toLong))
        .getOrElse(Trace.moduleOf(last.map(_.details).getOrElse("")))
      jobs(e.jobId) = new JobRec(e.jobId, e.time, module, last.map(_.name).getOrElse(""))
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId)) {
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.taskCpuNs += m.executorCpuTime
          j.taskRunMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.diskBytesSpilled
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        streamBatches += 1
        streamRows += e.progress.numInputRows
      }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` inside a span named `name`, nested under the open one. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val start = System.currentTimeMillis()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, name, start, System.currentTimeMillis())
      }
    }

  /** Deliver every pending listener event, then detach the listeners. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def streaming: (Long, Long) = synchronized((streamBatches, streamRows))

  /** Jobs that started inside `s`. */
  def jobsIn(s: Span): Seq[JobRec] = allJobs.filter(j => s.contains(j.start))

  /** Descendant spans of `s` (children, grandchildren, ...). */
  def within(s: Span, name: String): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      byParent.getOrElse(id, Nil).toSeq.flatMap(c => c +: walk(c.id))
    walk(s.id).filter(_.name == name)
  }

  /** A span's self time: its duration minus what its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - Trace.union(spans.filter(_.parent == s.id).map(c => (c.start, c.end)).toSeq)

  /** Seconds of `s` during which no Spark job was running. */
  def outsideJobsSeconds(s: Span): Double =
    s.seconds - Trace.union(allJobs.filter(j => j.end >= 0 && j.end >= s.start && j.start <= s.end)
      .map(j => (math.max(j.start, s.start), math.min(j.end, s.end))))

  def toJson(runId: String): String = {
    val sb = new StringBuilder
    sb.append(s"""{"run_id":${Json.str(runId)},"spans":[""")
    sb.append(spans.sortBy(_.id).map { s =>
      val js = jobsIn(s)
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run_id":${Json.str(runId)},""" +
        s""""start":${s.start},"end":${s.end},"self_s":${selfSeconds(s)},"jobs":${js.size},""" +
        s""""task_cpu_s":${js.map(_.taskCpuNs).sum / 1e9},"shuffle_write_bytes":${js.map(_.shuffleWrite).sum},""" +
        s""""shuffle_read_bytes":${js.map(_.shuffleRead).sum},"output_bytes":${js.map(_.output).sum}}"""
    }.mkString(","))
    sb.append("],\"jobs\":[")
    sb.append(allJobs.map { j =>
      s"""{"id":${j.id},"module":${Json.str(j.module)},"site":${Json.str(j.site)},""" +
        s""""start":${j.start},"end":${j.end},"task_cpu_s":${j.taskCpuNs / 1e9}}"""
    }.mkString(","))
    sb.append("]}")
    sb.toString
  }
}

object Trace {
  /** Modules named by the per-layer metrics; a job is charged to the
    * innermost frame of its call site that lies in one of them, and to
    * `ops` when its only repo frames are shared helpers. */
  val modules = Seq("ops", "dedup", "similarity", "text", "multimodal",
    "graph", "streaming", "quality")

  private val queryFileModule = Seq(
    "TextQueries" -> "text", "SimilarityTruthQueries" -> "similarity",
    "SimilarityQueries" -> "similarity", "MultimodalTruthQueries" -> "multimodal",
    "MultimodalQueries" -> "multimodal", "StreamingQueries" -> "streaming",
    "QualityQueries" -> "quality", "GraphTruthQueries" -> "graph",
    "DedupTruthQueries" -> "dedup")

  private val Frame = """\s*(?:at\s+)?graft\.([A-Za-z0-9_$.]+)\(.*""".r

  /** The module that issued a job, from the long form of its call site
    * (one stack frame per line, innermost first): `marketpulse.<Class>`
    * for the paper pipeline, one of [[modules]] otherwise, `action` when
    * no repo frame is on the stack (the benchmark's own action). */
  def moduleOf(longCallSite: String): String = {
    val frames = longCallSite.split("\n").toSeq.collect { case Frame(path) => path }
    def named(path: String): Option[String] = path.split("\\.").toList match {
      case "marketpulse" :: cls :: _ => Some("marketpulse." + cls.takeWhile(_ != '$'))
      case "queries" :: cls :: _ =>
        queryFileModule.collectFirst { case (p, m) if cls.startsWith(p) => m }
      case pkg :: _ :: _ if modules.contains(pkg) && pkg != "ops" => Some(pkg)
      case _ => None
    }
    frames.iterator.flatMap(named).nextOption()
      .getOrElse(if (frames.nonEmpty) "ops" else "action")
  }

  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var curS, curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1000.0
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
