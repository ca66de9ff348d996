package graft

/** Driver-run benchmark: executes every operator query at
  * SPARK_GRAFT_SF_DIR (sf0.1 per round) and prints ONE JSON line.
  *
  * Queries are forced through the `noop` sink — a bare `count()` would let
  * Catalyst prune the projected expressions and benchmark the scan only.
  * Config mirrors the target environment: local[32], 32 shuffle
  * partitions (not the 200 default — at local scale the extra task
  * scheduling dominates), AQE on (default in Spark 4).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.benchBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional subset filter for local iteration: comma-separated names.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val defs = only.fold(SparkEntry.defs)(f => SparkEntry.defs.filter(q => f(q.name)))

    // Warmup iteration outside the timed region (standard JMH practice:
    // same workload, untimed first pass). A fresh JVM otherwise charges
    // the first execution of each plan shape ~10s of one-time cost (janino
    // compilation of the whole-stage-codegen classes + C2 JIT of the
    // interpreted expression paths); warming at the SAME scale factor also
    // keeps AQE's runtime join-strategy choices — and therefore the
    // generated code — identical between warmup and measurement.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    defs.foreach { q =>
      try q.fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    // When warming at a DIFFERENT scale factor, the dd family's
    // materialized signature stage (operators.DedupStage, keyed per
    // corpus dir) was only built for warmDir — force the sfDir build here
    // so it lands in dedup_stage_build_sec, not inside the first timed
    // dd-query sample.
    if (warmDir != sfDir) {
      try graft.operators.DedupStage(spark, sfDir)
      catch { case _: Throwable => () }
      try graft.operators.EmbedStage(spark, sfDir)
      catch { case _: Throwable => () }
      try graft.operators.PassageGraph(spark, sfDir)
      catch { case _: Throwable => () }
    }

    // Median of 5 timed iterations per query, with the iterations
    // INTERLEAVED as full suite rounds rather than back-to-back: host
    // noise on this machine arrives in multi-minute windows, so
    // consecutive samples of one query are correlated — spreading a
    // query's samples across rounds lets the median reject a noisy window.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "5").toInt
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    // Family prefix of a query name (tx/dd/sim/pl/...): a System.gc at
    // family boundaries — OUTSIDE the timed region — drains the garbage
    // that 148 queries sharing one JVM accumulate (round-4 stats showed
    // 18-31s max outliers on 1.5-2.6s-min queries; heap pressure from
    // earlier families is the prime suspect, and an explicit collection
    // point between families keeps any full-GC pause out of a timed
    // sample instead of landing it mid-query).
    def family(n: String) = n.takeWhile(c => !c.isDigit && c != '_')
    var prevFamily = ""
    // Long families (the 40-query `a` stretch) still accumulated enough
    // garbage BETWEEN boundary drains for a mid-family full-GC to land
    // inside a timed sample (r6: a26 max 4.3s on a 1.06s median). Drain
    // every 12 queries within a family too — still outside the timed
    // region.
    var sinceDrain = 0
    // Per-sample GC attribution (round-6 verdict: a28_cms_topk med 9.2s vs
    // min 0.89s in the full suite, tight solo — root-cause, don't guess).
    // Records for every sample how much JVM collection time elapsed INSIDE
    // the timed region, so a slow sample self-reports whether it was heap
    // pressure (gc ≈ overshoot) or something else (scheduler, broadcast,
    // compilation). Written to the durable samples file, not the committed
    // one-line artifact.
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcSamples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to iters; q <- defs) {
      if (family(q.name) != prevFamily || sinceDrain >= 12) {
        prevFamily = family(q.name); sinceDrain = 0
        System.gc()
      }
      sinceDrain += 1
      val g0 = gcMillis
      val t0 = System.nanoTime()
      val ok =
        try { q.fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          false
        }
      // release any persist() the query registered (cache is per-query
      // scratch, not cross-query state — leaking it skews later timings).
      spark.catalog.clearCache()
      if (ok) {
        samples.updateWith(q.name)(s =>
          Some((System.nanoTime() - t0) / 1e9 :: s.getOrElse(Nil)))
        gcSamples.updateWith(q.name)(s =>
          Some((gcMillis - g0) / 1e3 :: s.getOrElse(Nil)))
      }
    }
    // Per-query {min, median, max} over the interleaved rounds. The spread
    // is the point: round 3's artifact showed a uniform +20-35% drift on
    // sub-second queries that read as 25 regressions but was host noise —
    // a single median can't distinguish a real 1.3x regression from a
    // noisy measurement window, min/max can.
    case class Stat(min: Double, med: Double, max: Double)
    val results = defs.map { q =>
      samples.get(q.name) match {
        case Some(ts) =>
          val s = ts.sorted
          (q.name, Some(Stat(s.head, s(s.size / 2), s.last)))
        case None => (q.name, None)
      }
    }
    // Failed queries are reported with value -1 (sentinel) and listed in
    // "failed" — time-to-failure must not masquerade as a duration.
    def r(v: Double) = math.rint(v * 10000) / 10000
    val qs = results.map { case (k, st) =>
      "\"" + k + "\":" + st.fold("-1")(s => r(s.med).toString) }.mkString("{", ",", "}")
    val statsJson = results.collect { case (k, Some(s)) =>
      "\"" + k + s"""":{"min":${r(s.min)},"med":${r(s.med)},"max":${r(s.max)}}"""
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, Some(s)) => s.med }.sum
    // Noise floor: median (med/min - 1) over the 10 cheapest queries.
    // These queries' plans don't change round-to-round, so their drift vs
    // their own best observation is a direct read of host interference —
    // compare any apparent cross-round regression against this number
    // before calling it real.
    val cheap = results.collect { case (_, Some(s)) => s }.sortBy(_.min).take(10)
    val noiseFloor =
      if (cheap.isEmpty) 0.0
      else {
        val drifts = cheap.map(s => s.med / s.min - 1.0).sorted
        r(drifts(drifts.size / 2))
      }
    // Cap telemetry (CapTelemetry): dropped-row counts behind every skew
    // cap, from the last timed iteration. All zeros at fixture scale —
    // the caps are sized never to fire there.
    val tel = CapTelemetry.snapshot().toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // One-off cost of materializing the shared stages (dedup signatures,
    // vector index) this JVM — paid during warmup here, reported so the
    // dd/sim-family steady-state timings can't hide it.
    val stageSec = r(graft.operators.DedupStage.buildSeconds)
    val embedSec = r(graft.operators.EmbedStage.buildSeconds)
    val graphSec = r(graft.operators.PassageGraph.buildSeconds)
    val line =
      s"""{"metric":"total","value":${r(total)},"unit":"sec","queries":$qs,"stats":$statsJson,"noise_floor":$noiseFloor,"iters":$iters,"dedup_stage_build_sec":$stageSec,"embed_stage_build_sec":$embedSec,"graph_stage_build_sec":$graphSec,"failed":$failed,"telemetry":$tel,"sf":"$sfDir"}"""
    // Persist the full line to a file: the driver captures only the
    // tail of stdout, which truncated 28 of 89 per-query timings in round 2.
    // A file artifact survives regardless of capture window.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // Durable per-sample detail (wall + in-sample GC seconds, iteration
    // order) for variance forensics — deliberately NOT in the committed
    // artifact: it exists so a round-over-round outlier can be attributed
    // (GC vs scheduler vs real regression) without re-running the suite.
    val samplesFile = outFile.stripSuffix(".json") + "_samples.json"
    val samplesJson = defs.flatMap { q =>
      samples.get(q.name).map { ts =>
        val gs = gcSamples.getOrElse(q.name, Nil)
        // lists were prepended per iteration — reverse to iteration order.
        "\"" + q.name + "\":{\"wall\":" +
          ts.reverse.map(r).mkString("[", ",", "]") +
          ",\"gc\":" + gs.reverse.map(r).mkString("[", ",", "]") + "}"
      }
    }.mkString("{", ",", "}")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(samplesFile), samplesJson + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $samplesFile: ${e.getMessage}")
    }
    // The driver's tail capture proved SHORTER than the full line at 148
    // queries (rounds 3-4 committed `parsed: null` artifacts) — so the
    // LAST line printed is a compact self-contained summary (~1 KB: totals,
    // failure list, noise floor, ten most expensive medians) that parses
    // from the committed artifact alone; the full per-query stats live in
    // the line above and the durable file.
    val top10 = results.collect { case (k, Some(s)) => (k, s.med) }
      .sortBy(-_._2).take(10)
      .map { case (k, m) => "\"" + k + "\":" + r(m) }.mkString("{", ",", "}")
    val summaryLine =
      s"""{"metric":"total","value":${r(total)},"unit":"sec","queries":$top10,"n_queries":${results.size},"n_timed":${results.count(_._2.isDefined)},"noise_floor":$noiseFloor,"iters":$iters,"dedup_stage_build_sec":$stageSec,"embed_stage_build_sec":$embedSec,"graph_stage_build_sec":$graphSec,"failed":$failed,"full_stats_file":"$outFile","summary_of_top":10,"sf":"$sfDir"}"""
    // r14 stdout-contract fix (VERDICT r13 item 1): round 13's driver
    // artifact came back `parsed: null` because both JSON lines printed
    // BEFORE spark.stop(), and the streaming state-store maintenance
    // threads — still holding providers from the st-family queries — dump
    // "Could not unload state store provider / RpcEnv already stopped"
    // stacks during shutdown, scrolling the JSON out of the driver's tail
    // capture. Quiesce in order: stop any straggler streams, unload every
    // state-store provider and stop the maintenance pool WHILE the RpcEnv
    // is alive (so unloading cannot throw), stop Spark, and only THEN
    // print the two JSON lines as the absolute last stdout. Timing is
    // untouched — this reorders output, not work.
    try {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] state-store quiesce failed: ${e.getMessage}")
    }
    spark.stop()
    println(line)
    println(summaryLine)
    System.out.flush()
  }
}
