package graft

import graft.queries.StreamingQueries.Replay
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The replay harness the streaming rows are built on
  * (`StreamingQueries.Replay`): chunk files named and timed in feed
  * order, exact half-open slices, one chunk per micro-batch in feed
  * order, and a session conf scoped to the run.
  */
class StreamReplaySpec extends SparkSpec {
  import Replay.slice

  /** `n` rows 250 ms apart from the replay epoch; every third row sits
    * exactly on a millisecond, the others 1 or 2 µs after one. */
  private def events(n: Int): DataFrame = spark.range(n).select(col("id"),
    timestamp_micros(lit(Replay.Epoch * 1000) + col("id") * 250000L +
      col("id") % 3).as("ts"))
  private def at(id: Long): Long = Replay.Epoch + id * 250
  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).sorted.toSeq

  test("chunk names and modification times continue across feed calls") {
    val r = new Replay(spark, "replay_spec", "feed")
    val ev = events(30)
    r.feed(slice(ev, at(0), at(10)), slice(ev, at(10), at(20)))
    r.feed(slice(ev, at(20), at(30)))
    val files = new java.io.File(r.src).listFiles()
      .filter(f => f.getName.startsWith("chunk_") &&
        f.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).sortBy(_._1).toSeq
    assert(files == (0 to 2).map(n =>
      s"chunk_$n.parquet" -> (Replay.Epoch + n * 60000L)))
    assert(ids(spark.read.parquet(s"${r.src}/chunk_2.parquet")) ==
      (20L until 30L))
  }

  test("consecutive slices partition a frame exactly, nothing lost at a cut") {
    val ev = events(1001)
    val (t0, t1) = Replay.bounds(ev)
    assert((t0, t1) == (at(0), at(1000)))
    // row 300 sits exactly on its cut, row 301 1 µs after its cut, and
    // the last row 1 µs after t1
    val cuts = Seq(t0, at(300), at(301), at(700) + 1, t1 + 1)
    val parts = cuts.zip(cuts.tail).map { case (lo, hi) => slice(ev, lo, hi) }
    assert(parts.map(_.count()) == Seq(300L, 1L, 400L, 300L))
    assert(parts.map(ids).reduce(_ ++ _) == (0L until 1001L))
  }

  test("the file source reads one fed chunk per micro-batch, in feed order") {
    val r = new Replay(spark, "replay_spec", "source")
    val ev = events(90)
    // fed out of id order: the feed order, not the content, orders batches
    r.feed(slice(ev, at(60), at(90)), slice(ev, at(0), at(30)))
    r.feed(slice(ev, at(30), at(60)))
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    var partitions = ""
    r.run(2) { t =>
      partitions = spark.conf.get("spark.sql.shuffle.partitions")
      r.source(ev.schema).writeStream
        .option("checkpointLocation", r.ckpt)
        .foreachBatch { (b: DataFrame, id: Long) =>
          batches.add(id -> ids(b))
          ()
        }
        .trigger(t).start()
    }
    import scala.jdk.CollectionConverters._
    assert(batches.asScala.toSeq == Seq(0L -> (60L until 90L),
      1L -> (0L until 30L), 2L -> (30L until 60L)))
    assert(partitions == "2")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("the scoped conf restores a set key and unsets an unset one, " +
      "also when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "spark.graft.replayspec.unset"
    val before = spark.conf.get(set)
    def restored(): Unit = {
      assert(spark.conf.get(set) == before)
      assert(spark.conf.getOption(unset).isEmpty)
    }
    assert(Replay.withConf(spark, set -> "3", unset -> "x") {
      (spark.conf.get(set), spark.conf.get(unset))
    } == ("3", "x"))
    restored()
    val e = intercept[IllegalStateException] {
      Replay.withConf(spark, set -> "3", unset -> "x") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    restored()
  }
}
