package graft

/** Dev tool: time named queries end-to-end N times in one JVM (exposes
  * first-run codegen/JIT cost vs steady state, separate from Bench's
  * warmed medians). Usage:
  *   SPARK_GRAFT_ONLY=q1,q2 SPARK_GRAFT_REPS=3 [SPARK_GRAFT_CPUS=32]
  *     runMain graft.Scratch
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "dd3_minhash_lsh")
      .split(",").map(_.trim)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // Bench's session profile, so Scratch timings predict Bench timings
    val spark = GraftSession.benchBuilder().getOrCreate()
    // optional ad-hoc conf overrides: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("WARN")
    // optional: surface the INFO-level whole-stage-codegen bailout
    // ("Found too long generated codes ... fallback to non-codegen")
    if (sys.env.contains("SPARK_GRAFT_LOGWSCG"))
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.WholeStageCodegenExec",
        org.apache.logging.log4j.Level.INFO)
    // optional per-rep task metrics (SPARK_GRAFT_TASKSTATS=1): attribute a
    // slow rep to executor compute vs everything else
    val taskMs = new java.util.concurrent.atomic.LongAdder
    val cpuNs = new java.util.concurrent.atomic.LongAdder
    if (sys.env.contains("SPARK_GRAFT_TASKSTATS"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (te.taskMetrics != null) {
              taskMs.add(te.taskMetrics.executorRunTime)
              cpuNs.add(te.taskMetrics.executorCpuTime)
            }
        })
    for (r <- 1 to reps; n <- names) {
      taskMs.reset(); cpuNs.reset()
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      val extra = if (sys.env.contains("SPARK_GRAFT_TASKSTATS")) {
        Thread.sleep(300)
        f" run=${taskMs.sum / 1e3}%.2f cpu=${cpuNs.sum / 1e9}%.2f"
      } else ""
      println(f"[scratch] run$r $n: ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        extra)
    }
    spark.stop()
  }
}
