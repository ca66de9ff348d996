package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev tool: micro-batch cost breakdown for the streaming rows. Registers
  * a [[StreamingQueryListener]], runs the named queries end-to-end through
  * the normal `SparkEntry` path, and prints every micro-batch's
  * `durationMs` phases (triggerExecution, addBatch, getBatch/latestOffset,
  * walCommit, commitOffsets) plus state-store rows — the breakdown the
  * round-9 verdict asked for on st8_stream_gold, which had three rounds as
  * board #1 without one. `addBatch` is reported whole: a foreachBatch
  * sink's body (st8's bronze write, gold refresh and merge) is one phase.
  *
  * Usage: SPARK_GRAFT_ONLY=st8_stream_gold [SPARK_GRAFT_REPS=2]
  *          [SPARK_GRAFT_CPUS=32] runMain graft.StreamProfile
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "st8_stream_gold")
      .split(",").map(_.trim)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // Bench's session profile, so phase shares predict Bench rows
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val progress = scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.synchronized { progress += e.progress }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    for (r <- 1 to reps; n <- names) {
      progress.synchronized(progress.clear())
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(500) // listener events are async
      val evs = progress.synchronized(progress.toList)
      val batchTotal = evs.map(
        _.durationMs.getOrDefault("triggerExecution", 0L).longValue)
        .sum / 1e3
      println(f"[stprof] run$r $n wall=$wall%.2fs " +
        f"batches=${evs.count(_.numInputRows > 0)}(+${
          evs.count(_.numInputRows == 0)} empty) " +
        f"triggerExecution=$batchTotal%.2fs " +
        f"outside-batch=${wall - batchTotal}%.2fs")
      evs.zipWithIndex.foreach { case (p, i) =>
        val dm = p.durationMs
        def ms(k: String): Long = dm.getOrDefault(k, 0L).longValue
        val known = Seq("addBatch", "getBatch", "latestOffset",
          "queryPlanning", "walCommit", "commitOffsets")
        val other = ms("triggerExecution") - known.map(ms).sum
        println(f"[stprof]   batch$i rows=${p.numInputRows} " +
          f"trigger=${ms("triggerExecution")}ms " +
          known.map(k => s"$k=${ms(k)}ms").mkString(" ") +
          f" other=${other}ms" +
          p.stateOperators.headOption.fold("")(so =>
            s" stateRows=${so.numRowsTotal}"))
      }
    }
    spark.stop()
  }
}
