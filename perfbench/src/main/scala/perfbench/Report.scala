package perfbench

import scala.jdk.CollectionConverters._

/** The traced run's raw events as JSON-ready maps; attribution of jobs to
  * ops and every derived number live in `run.py`. */
object Report {
  def events(t: Tracer): Map[String, Any] = Map(
    "jobs" -> t.jobs.asScala.toSeq.map(j => Map(
      "job" -> j.jobId, "start" -> j.start, "end" -> j.end, "tags" -> j.tags,
      "exec" -> j.execId, "stream_query" -> j.streamQuery, "stages" -> j.stageIds)),
    "stages" -> t.stages.values.asScala.toSeq.map(s => s.synchronized(Map(
      "stage" -> s.stageId, "attempt" -> s.attempt,
      "submitted" -> s.submitted, "completed" -> s.completed,
      "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
      "gc_ms" -> s.gcMs, "delay_ms" -> s.delayMs,
      "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
      "fetch_wait_ms" -> s.fetchWaitMs, "spill" -> s.spill,
      "peak_mem" -> s.peakMem, "input_bytes" -> s.inputBytes,
      "durations" -> s.durations.toSeq))),
    "execs" -> t.execs.asScala.toSeq.map(e => Map(
      "exec" -> e.execId, "time" -> e.time, "tags" -> e.tags)),
    "plans" -> t.plans.asScala.toSeq.map(p => Map(
      "exec" -> p.execId, "analysis_s" -> p.analysis,
      "optimization_s" -> p.optimization, "planning_s" -> p.planning,
      "fingerprint" -> p.fingerprint)))
}
