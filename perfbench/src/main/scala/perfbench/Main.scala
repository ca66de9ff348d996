package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{CapTelemetry, GraftSession, QueryDef, SparkEntry}
import graft.operators.{EmbedStage, SnapshotTable}
import graft.streaming.StreamingOps

/** One benchmark run in one JVM, driven by the spec `run.py` writes:
  *
  *  1. set-up: session start and the shared stages the workload reads;
  *  2. warm-up: for a batch workload a check pass that runs every op once
  *     and writes its result as parquet, for the DuckDB oracle comparison
  *     `run.py` makes, then untimed passes; for the stream, the sink
  *     tables' history, then the first chunks through the sink queries
  *     the timed region goes on feeding;
  *  3. the timed region: untraced, whole passes until `seconds` have
  *     elapsed and at least `min_passes` ran; with tracing on, four passes
  *     instead, untraced-traced-traced-untraced, so the tracing overhead is
  *     measured free of the warm-up drift.
  *
  * It writes one raw JSON record; `run.py` derives every metric from it.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val conf = spec.get("config").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    val rec = mutable.LinkedHashMap[String, Any]()
    val spark = session(conf)
    try run(spark, spec, rec)
    finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      scala.util.Try(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
      spark.stop()
    }
  }

  def run(spark: SparkSession, spec: JsonNode, rec: mutable.LinkedHashMap[String, Any]): Unit = {
    val out = spec.get("out").asText
    val dir = spec.get("input").asText

    // --- 1. set-up: the session (started by `main`) and the stage builds --
    rec("stage_build_s") = strings(spec.get("stages"))
      .map(st => st -> timed(buildStage(spark, st, dir))).toMap
    rec("effective_config") = spark.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.") ||
        k == "spark.master" || k == "spark.local.dir" }
    val opNames = strings(spec.get("ops")).toSet
    rec("oracles") = SparkEntry.oracleSql.filter { case (n, _) => opNames(n) }
    val w = if (spec.get("kind").asText == "stream") new Stream(spark, spec, out)
            else new Batch(spark, spec, dir, out)

    // the tracer exists before the stream's queries start, so their
    // sessions inherit its plan listener; it records only inside `during`
    val tracer = if (spec.get("trace").asBoolean) Some(new Tracer(spark)) else None

    // --- 2. warm-up, with the check pass ----------------------------------
    rec("check") = w.check()
    rec("ready_ms") = Clock.ms
    say("warm-up done")

    // --- 3. timed region, with the tracer on some passes when tracing ----
    rec("region") = w.region(spec.get("seconds").asDouble, tracer)
    say("timed region done")
    tracer.foreach { tr =>
      rec("traced") = Map(
        "gc_jvm_s" -> tr.gcMs / 1e3,
        "codegen_compile_s" -> tr.codegenNs / 1e9,
        "caps" -> CapTelemetry.snapshot(),
        "trace" -> Report.events(tr))
    }
    rec("peak_rss_kb") = peakRssKb
    Files.writeString(Paths.get(out, "record.json"), Json(rec.toMap))
  }

  def say(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText).toSeq

  def session(conf: Map[String, String]): SparkSession = {
    val cores = conf("spark.master").stripPrefix("local[").stripSuffix("]")
    val b = GraftSession.builder(conf("spark.master"), cores)
    val s = conf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def timed(f: => Unit): Double = {
    val t0 = Clock.ms
    f
    (Clock.ms - t0) / 1e3
  }

  def buildStage(s: SparkSession, stage: String, dir: String): Unit = stage match {
    case "embed" => EmbedStage(s, dir)
  }

  /** Pass schedule: untraced until `seconds` and `minPasses` are met, or
    * the ABBA order when tracing. */
  def schedule(tracer: Option[Tracer], minPasses: Int, seconds: Double,
               start: Double, done: Int): Option[Option[Tracer]] = tracer match {
    case Some(_) => Seq(None, tracer, tracer, None).lift(done)
    case None =>
      if (done < minPasses || Clock.ms - start < seconds * 1000) Some(None) else None
  }

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def peakRssKb: Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** A workload: a check pass, then a timed region. */
trait Workload {
  def check(): Map[String, String]
  def region(seconds: Double, tracer: Option[Tracer]): Map[String, Any]
}

/** Closed loop, one client: each op is one `QueryDef` built and forced
  * through the `noop` sink, in the order the spec lists. */
final class Batch(spark: SparkSession, spec: JsonNode, dir: String, out: String)
    extends Workload {
  private val byName = SparkEntry.defs.map(q => q.name -> q).toMap
  private val ops: Seq[QueryDef] = Main.strings(spec.get("ops")).map(byName)
  private val minPasses = spec.get("min_passes").asInt

  private val warmPasses = spec.get("warm_passes").asInt

  /** Every op once with its result written for the oracle check, then
    * `warm_passes` untimed passes: the JIT is still warming after one. */
  def check(): Map[String, String] = {
    val status = ops.map { q =>
      q.name -> (try {
        q.fn(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/check/${q.name}")
        "ok"
      } catch { case e: Throwable => "error: " + e.toString.take(500) }
      finally spark.catalog.clearCache())
    }.toMap
    for (_ <- 1 to warmPasses; q <- ops if status(q.name) == "ok") {
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    status
  }

  def region(seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val sc = spark.sparkContext
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = Clock.ms
    var next = Main.schedule(tracer, minPasses, seconds, start, 0)
    while (next.isDefined) {
      val tr = next.get
      val p = passes.size
      val p0 = Clock.ms
      def pass(): Unit = ops.foreach { q =>
        val tag = s"perfbench-op-${recs.size}"
        tr.foreach(_ => sc.addJobTag(tag))
        val t0 = Clock.ms
        var tb = t0
        val err = try {
          val df = q.fn(spark, dir)
          tb = Clock.ms
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(e.toString.take(500)) }
        val t1 = Clock.ms
        tr.foreach(_ => sc.removeJobTag(tag))
        spark.catalog.clearCache()
        recs += Map("name" -> q.name, "pass" -> p, "traced" -> tr.isDefined,
          "tag" -> tag, "t0" -> t0, "built" -> tb, "t1" -> t1, "error" -> err)
      }
      tr.fold(pass())(_.during(pass()))
      passes += Map("s" -> (Clock.ms - p0) / 1e3, "traced" -> tr.isDefined)
      next = Main.schedule(tracer, minPasses, seconds, start, passes.size)
    }
    Map("ops" -> recs.toSeq, "passes" -> passes.toSeq)
  }
}

/** Closed loop with one producer: every sink's stream reads its own copy
  * of the source directory, and the next pre-generated chunk file is moved
  * into all of them only when every sink's progress event for the previous
  * chunk has arrived. An op is one chunk, from its creation to its last
  * sink's commit. After each commit the client reads the snapshot table's
  * version before the head. The same queries and sink tables run from
  * the warm-up through the timed region, so timed batches start warm and
  * land on tables that already hold a history and the warm-up's chunks;
  * with tracing on, as many chunks again are fed after the untraced ones,
  * traced. */
final class Stream(spark: SparkSession, spec: JsonNode, out: String)
    extends Workload {
  private val sinks = Main.strings(spec.get("sinks"))
  private val chunks = Main.strings(spec.get("chunks"))
  private val schema = spark.read.parquet(chunks.head).schema
  private val preloadChunks = spec.get("preload_chunks").asInt
  private val warmChunks = spec.get("warm_chunks").asInt
  private val minChunks = spec.get("min_chunks").asInt
  private val root = s"$out/stream"
  private var queries: Seq[(String, StreamingQuery)] = Nil
  private var fed = 0 // chunks fed so far, the warm-up's included

  private type Event = (Long, Double, Map[String, Double])
  private val progress =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.LinkedBlockingQueue[Event]]()
  private def queue(id: String) =
    progress.computeIfAbsent(id, _ => new java.util.concurrent.LinkedBlockingQueue[Event]())
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) queue(e.progress.id.toString).put((
        e.progress.batchId, Clock.ms,
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap))
  }
  spark.streams.addListener(listener)

  private def start(sink: String) = {
    val src = s"$root/$sink/src"
    new File(src).mkdirs()
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    sink match {
      case "merge" => StreamingOps.mergeSink(stream, s"$root/$sink/sink",
        Seq("event_id"), "ts", s"$root/$sink/ckpt")
      case "snapshot" => StreamingOps.snapshotSink(
        stream.select("event_id", "user_id", "ts", "value"), s"$root/$sink/sink",
        "perfbench", s"$root/$sink/ckpt")
    }
  }

  /** Feed the next chunks until `budgetMs` and `minChunks` are both met (or
    * exactly `count` chunks); one record per chunk. */
  private def feed(budgetMs: Double, count: Option[Int]): Seq[Map[String, Any]] = {
    val recs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.ms
    def more = count match {
      case Some(n) => recs.size < n
      case None => recs.size < minChunks || Clock.ms - t0 < budgetMs
    }
    while (more) {
      require(fed < chunks.size, s"ran out of generated chunks at $fed")
      val chunk = chunks(fed)
      val name = new File(chunk).getName
      sinks.foreach(s => Files.copy(Paths.get(chunk), Paths.get(root, s, s".$name")))
      val c0 = Clock.ms
      sinks.foreach(s => Files.move(Paths.get(root, s, s".$name"),
        Paths.get(root, s, "src", name), StandardCopyOption.ATOMIC_MOVE))
      val batches = queries.map { case (sink, q) =>
        val ev = queue(q.id.toString).poll(120, java.util.concurrent.TimeUnit.SECONDS)
        q.exception.foreach(e => throw e)
        require(ev != null, s"$sink: no progress event for chunk $fed")
        sink -> Map("query" -> q.id.toString, "batch" -> ev._1, "t1" -> ev._2,
          "durations" -> ev._3)
      }.toMap
      val c1 = batches.values.map(_("t1").asInstanceOf[Double]).max
      val reads = if (sinks.contains("snapshot")) snapshotRead(s"$root/snapshot/sink")
        else Map.empty
      fed += 1
      recs += Map("chunk" -> chunk, "t0" -> c0, "t1" -> c1, "batches" -> batches) ++ reads
    }
    recs.toSeq
  }

  /** A time-travel read between commits: the version before the head. */
  private def snapshotRead(tbl: String): Map[String, Any] = Map("read_s" -> Main.timed {
    val vs = SnapshotTable.versions(spark, tbl)
    SnapshotTable.read(spark, tbl, Some(vs(math.max(0, vs.size - 2)))).count()
  })

  /** Loads the first `preload_chunks` chunks into every sink table as the
    * history a long-running stream has left: in the merge table one file
    * per chunk, as its appends leave them; in the snapshot table one file,
    * as a compaction leaves it (a snapshot read lists each file, so many
    * small files there would make the reads most of the run). Then starts
    * the sink queries and feeds the warm-up chunks. The outputs checked
    * are the final sink tables, dumped by [[region]]. */
  def check(): Map[String, String] = {
    if (preloadChunks > 0) {
      val history = Paths.get(root, "history")
      Files.createDirectories(history)
      chunks.take(preloadChunks).foreach { c =>
        Files.copy(Paths.get(c), history.resolve(Paths.get(c).getFileName))
      }
      if (sinks.contains("snapshot")) SnapshotTable.commit(spark,
        spark.read.schema(schema).parquet(history.toString)
          .select("event_id", "user_id", "ts", "value").coalesce(1),
        s"$root/snapshot/sink", replace = false)
      if (sinks.contains("merge")) {
        Files.createDirectories(Paths.get(root, "merge"))
        Files.move(history, Paths.get(root, "merge", "sink"))
      }
      fed = preloadChunks
    }
    queries = sinks.map(k => k -> start(k))
    feed(0, Some(warmChunks))
    Map.empty
  }

  def region(seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val p0 = Clock.ms
    val plain = feed(seconds * 1000, None)
    val passes = mutable.ArrayBuffer[Map[String, Any]](
      Map("s" -> (Clock.ms - p0) / 1e3, "traced" -> false))
    val traced = tracer.toSeq.flatMap { tr =>
      val p1 = Clock.ms
      val r = tr.during(feed(0, Some(plain.size)))
      passes += Map("s" -> (Clock.ms - p1) / 1e3, "traced" -> true)
      r
    }
    queries.foreach(_._2.stop())
    Map("ops" -> (plain.map(_ + ("traced" -> false)) ++ traced.map(_ + ("traced" -> true))),
      "passes" -> passes.toSeq, "fed" -> chunks.take(fed), "sink_dumps" -> dumpSinks())
  }

  /** Each sink's final table as one parquet file for the batch-twin
    * comparison `run.py` makes. */
  private def dumpSinks(): Map[String, String] = sinks.map { k =>
    k -> (try {
      val df = k match {
        case "snapshot" => SnapshotTable.read(spark, s"$root/$k/sink")
        case _ => spark.read.parquet(s"$root/$k/sink")
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/check/$k")
      "ok"
    } catch { case e: Throwable => "error: " + e.toString.take(500) })
  }.toMap
}
