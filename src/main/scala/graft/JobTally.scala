package graft

/** Dev tool: per-query job/stage/task attribution — how much of a bench
  * row is Spark-job count (scheduling floor) vs task compute. Runs each
  * named query once untimed (warmup: codegen + AQE shapes), then measures
  * `reps` timed runs with a listener tallying jobs, stages, tasks, summed
  * task time, and GC — the numbers that decide whether a row needs fewer
  * actions (driver-side fusion) or cheaper tasks (plan work).
  *
  * Usage: SPARK_GRAFT_ONLY=a,b,c [SPARK_GRAFT_REPS=3] runMain graft.JobTally [sfDir]
  */
object JobTally {
  private final class Tally extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskMs = new java.util.concurrent.atomic.LongAdder
    val gcMs = new java.util.concurrent.atomic.LongAdder
    override def onJobStart(
        j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    val stageDetail = new java.util.concurrent.ConcurrentLinkedQueue[
      (Double, Int, String)]()
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      taskMs.add(sc.stageInfo.taskMetrics.executorRunTime)
      gcMs.add(sc.stageInfo.taskMetrics.jvmGCTime)
      val graftFrame = sc.stageInfo.details.linesIterator
        .find(l => l.contains("graft") && !l.contains("JobTally"))
        .getOrElse("").trim
      stageDetail.add((sc.stageInfo.taskMetrics.executorRunTime / 1e3,
        sc.stageInfo.numTasks,
        (sc.stageInfo.name.linesIterator.next() + " | " + graftFrame)
          .take(180)))
    }
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    val targets = if (names.nonEmpty) names else SparkEntry.defs.map(_.name)
    targets.foreach { n =>
      // warmup
      try qs(n)(spark, d).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[jobtally] $n warmup failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      val walls = (1 to reps).map { _ =>
        val t = new Tally
        spark.sparkContext.addSparkListener(t)
        val t0 = System.nanoTime()
        qs(n)(spark, d).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        // drain the async listener bus so the tally is complete
        // (listenerBus is private[spark]; poll until counters settle)
        var prev = -1
        while (prev != t.stages.get + t.jobs.get) {
          prev = t.stages.get + t.jobs.get
          Thread.sleep(100)
        }
        spark.sparkContext.removeSparkListener(t)
        (wall, t)
      }
      val (bw, bt) = walls.minBy(_._1)
      println(f"[jobtally] $n%-28s wall=$bw%6.2fs jobs=${bt.jobs.get}%3d " +
        f"stages=${bt.stages.get}%3d tasks=${bt.tasks.get}%4d " +
        f"taskTime=${bt.taskMs.sum / 1e3}%7.2fs gc=${bt.gcMs.sum / 1e3}%5.2fs")
      if (sys.env.contains("SPARK_GRAFT_STAGES")) {
        import scala.jdk.CollectionConverters._
        bt.stageDetail.asScala.toSeq.sortBy(-_._1).take(12).foreach {
          case (sec, nt, name) =>
            println(f"[jobtally]    stage $sec%7.2fs tasks=$nt%4d  $name")
        }
      }
    }
    spark.stop()
  }
}
