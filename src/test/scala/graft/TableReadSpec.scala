package graft

import graft.operators.{EmbedStage, ListedParquet}
import org.apache.spark.sql.types.TimestampType

/** [[ListedParquet.readPath]] — the reader behind every fixture table and
  * materialized stage — takes its schema from one footer on the driver:
  * the same schema a schema-less `spark.read.parquet` infers, with no
  * Spark job before the query's own. */
class TableReadSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val dirs = Seq("perfbench/data", "/root/testdata/sf0.01")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A flat Spark output directory of several files, with nested arrays,
    * maps and structs whose nullability the read has to widen. */
  private lazy val multiFile: String = {
    val out = s"${tmp("graft_tableread")}/multi"
    spark.range(0, 300, 1, 3)
      .selectExpr("id", "array(id, id + 1) AS a",
        "map(id, named_struct('x', id, 'y', array(id))) AS m",
        "named_struct('p', id, 'q', array(named_struct('r', id))) AS s",
        "CAST(id AS DECIMAL(12, 2)) AS d", "timestamp_micros(id) AS ts",
        "CAST(id AS STRING) AS str")
      .write.parquet(out)
    out
  }

  private def paths: Seq[String] = {
    val stage = EmbedStage(spark, "perfbench/data")
    val stageDir = new org.apache.hadoop.fs.Path(stage.vectors.inputFiles.head)
      .getParent.getParent.toString
    dirs.flatMap(d => tables.map(t => s"$d/$t.parquet")) ++
      Seq(s"$stageDir/vectors", s"$stageDir/buckets", multiFile)
  }

  private def sameSchema(path: String): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(ListedParquet.readPath(spark, path).schema == inferred,
      s"$path: ${ListedParquet.readPath(spark, path).schema.treeString} vs " +
        inferred.treeString)
  }

  test("footer schema equals Spark's inferred schema: names, types, nullability") {
    val ps = paths
    assert(new java.io.File(multiFile).listFiles()
      .count(_.getName.endsWith(".parquet")) >= 2)
    ps.foreach(sameSchema)
    // the read returns the table's rows too, not only its schema
    val li = "/root/testdata/sf0.01/lineitem.parquet"
    assert(ListedParquet.readPath(spark, li).count() ==
      spark.read.parquet(li).count())
    assert(ListedParquet.readPath(spark, multiFile).count() == 300)
  }

  test("the footer schema follows the session's inferTimestampNTZ") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ps = paths
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      ps.foreach(sameSchema)
      assert(Tables.lineitem(spark, "perfbench/data")
        .schema("l_shipdate").dataType == TimestampType)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("building an adhoc query launches no Spark job") {
    val dir = "perfbench/data"
    val ops = Seq("s1_scan_pushdown", "a1_group_minmax", "a7_weighted_mean",
      "w19_rsi", "j7_asof_join", "sql4_asof_sugar", "sim13_hybrid_rrf")
    val jobs = ops.map { n =>
      val q = SparkEntry.queries(n)
      q(spark, dir) // warm: builds the stage, memoizes per-dir checks
      n -> jobsDuring { q(spark, dir); () }
    }
    assert(jobs.forall(_._2 == 0), jobs)
  }

  test("a missing, empty, partitioned or streaming-sink path fails by name") {
    def refused(path: String, why: String): Unit = {
      val e = intercept[IllegalArgumentException](
        ListedParquet.readPath(spark, path))
      assert(e.getMessage.contains(path) && e.getMessage.contains(why),
        e.getMessage)
    }
    val root = tmp("graft_tableread_bad")
    refused(s"$root/missing.parquet", "no such path")
    val empty = s"$root/empty"
    new java.io.File(empty).mkdirs()
    new java.io.File(s"$empty/_SUCCESS").createNewFile()
    refused(empty, "no data file")
    val parted = s"$root/parted"
    spark.range(10).selectExpr("id", "id % 2 AS p")
      .write.partitionBy("p").parquet(parted)
    refused(parted, "subdirectories")
    // a streaming sink's committed file set is its metadata log's, not
    // the directory's
    val sink = s"$root/sink"
    spark.range(10).write.parquet(sink)
    new java.io.File(s"$sink/_spark_metadata").mkdirs()
    refused(sink, "streaming sink")
  }
}
