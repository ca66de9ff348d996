package graft

import graft.operators.ZOrder
import org.apache.spark.sql.functions._

/** Data-layout operators: Z-order clustering is side-effecting (no SQL
  * oracle), so the contracts are spec-proven: content preservation and
  * the measured two-dimensional locality that is Z-order's entire point.
  * (Small-file compaction is `SnapshotTable.compactSnapshot`, proven in
  * `SnapshotTableSpec`.)
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  test("morton interleave is monotone in each dim and collision-free " +
    "on a grid") {
    val cells = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val z = cells.toDF("a", "b")
      .select(col("a"), col("b"),
        ZOrder.interleave(col("a"), col("b")).as("z"))
    assert(z.select("z").distinct().count() == 32 * 32)
    // fixing b, z grows with a (bit interleave preserves per-dim order)
    val fixedB = z.filter(col("b") === 7L).orderBy("a")
      .select("z").as[Long].collect()
    assert(fixedB.sameElements(fixedB.sorted))
  }

  test("z-order bounds BOTH dims per file; linear sort leaves one " +
    "dim unbounded") {
    // full 200×200 grid, one point per cell — x and y genuinely
    // independent (a modular-multiplier walk would make y a function of
    // x and fake y-locality into the linear layout)
    val pts = (0 until 40000).map { i =>
      (i.toLong, (i % 200).toLong, (i / 200).toLong)
    }.toDF("id", "x", "y")

    def perFileSpans(df: org.apache.spark.sql.DataFrame, path: String) = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(((max("x") - min("x")).cast("double") / 199.0).as("sx"),
             ((max("y") - min("y")).cast("double") / 199.0).as("sy"))
        .agg(avg("sx"), avg("sy")).as[(Double, Double)].head()
    }

    val (zx, zy) = perFileSpans(
      ZOrder.cluster(pts, "x", "y", nFiles = 16),
      "/tmp/graft_zorder_spec_z")
    val (lx, ly) = perFileSpans(
      pts.repartitionByRange(16, col("x")).sortWithinPartitions("x"),
      "/tmp/graft_zorder_spec_linear")

    // linear sort: x-stripes — tight x, full-domain y in every file
    assert(lx < 0.15, s"linear x span $lx")
    assert(ly > 0.9, s"linear y span $ly")
    // z-order: both dims bounded well under the domain (16 files ≈ 4×4
    // curve cells → expected span ≈ 0.25–0.5 per dim)
    assert(zx < 0.6, s"zorder x span $zx")
    assert(zy < 0.6, s"zorder y span $zy")
  }

  test("z-order clustering preserves content") {
    val pts = (0 until 5000).map { i =>
      (i.toLong, (i * 13L) % 100L, (i * 31L) % 100L)
    }.toDF("id", "x", "y")
    val out = ZOrder.cluster(pts, "x", "y", nFiles = 8)
    assert(out.exceptAll(pts).isEmpty && pts.exceptAll(out).isEmpty)
  }
}
