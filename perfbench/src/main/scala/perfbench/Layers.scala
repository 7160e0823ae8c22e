package perfbench

/**
 * Per-layer metrics of a traced run, per timed pass (a refresh cycle,
 * or one pass over a workload's queries), from the spans the workloads
 * took and the jobs the listener saw inside them. Layers that do no
 * work on a workload read 0.
 */
object Layers {
  def fill(r: Run): Unit = {
    val t = r.trace
    val spans = t.allSpans
    val passes = spans.count(_.name == "pass").max(1).toDouble
    val ops = spans.filter(_.name.startsWith("op:"))
    def inside(name: String): Seq[Span] = ops.flatMap(o => t.within(o, name))
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum / passes
    def jobsOf(ss: Seq[Span]): Seq[JobRec] = ss.flatMap(t.jobsIn).distinctBy(_.id)
    def jobSecs(js: Seq[JobRec]) = js.map(_.seconds).sum / passes
    def mb(bytes: Long) = bytes / 1e6 / passes
    val L = r.layers

    def opsNamed(name: String) = ops.filter(_.name == s"op:$name")
    val dag = opsNamed("referenceDag")
    val merge = jobsOf(dag).filter(_.module == "marketpulse.Pipeline")
    val sink = jobsOf(dag).filter(_.module == "marketpulse.DocumentSink")
    L("DocumentMerge.job_s") = jobSecs(merge)
    L("DocumentMerge.shuffle_mb") = mb(merge.map(_.shuffleWrite).sum)
    L("DocumentSink.job_s") = jobSecs(sink)
    L("Pipeline.materialize_s") = secs(opsNamed("materialize"))
    L("Pipeline.materialize_mb") = mb(jobsOf(opsNamed("materialize")).map(_.output).sum)
    val dq = opsNamed("referenceSuite")
    L("DataQuality.wall_s") = secs(dq)
    L("DataQuality.jobs") = jobsOf(dq).size / passes

    val runs = inside("q.run")
    val runJobs = jobsOf(runs)
    L("queries.run_s") = secs(runs)
    L("queries.run_jobs") = runJobs.size / passes
    L("queries.action_s") = secs(inside("action"))
    Trace.modules.foreach(m => L(s"$m.job_s") = jobSecs(runJobs.filter(_.module == m)))
    val (batches, rows) = t.streaming
    L("streaming.batches") = (batches - r.streamingBefore._1) / passes
    L("streaming.input_rows") = (rows - r.streamingBefore._2) / passes
    L("Caches.storage_mb") =
      if (r.cachesMb.isEmpty) 0.0 else r.cachesMb.sum / r.cachesMb.size

    val js = jobsOf(ops)
    val opMs = ops.map(_.seconds).sum * 1000
    val cpus = Runtime.getRuntime.availableProcessors()
    L("spark.jobs") = js.size / passes
    L("spark.outside_jobs_s") = ops.map(t.outsideJobsSeconds).sum / passes
    L("spark.slot_idle_frac") = 1.0 - js.map(_.taskMs).sum / math.max(opMs * cpus, 1.0)
    L("spark.task_cpu_s") = js.map(_.taskCpuNs).sum / 1e9 / passes
    L("spark.task_run_s") = js.map(_.taskRunMs).sum / 1e3 / passes
    L("spark.gc_s") = js.map(_.gcMs).sum / 1e3 / passes
    L("spark.shuffle_write_mb") = mb(js.map(_.shuffleWrite).sum)
    L("spark.shuffle_read_mb") = mb(js.map(_.shuffleRead).sum)
    L("spark.spill_mb") = mb(js.map(_.spill).sum)
    L("spark.input_mb") = mb(js.map(_.input).sum)
    L("spark.output_mb") = mb(js.map(_.output).sum)
  }
}
