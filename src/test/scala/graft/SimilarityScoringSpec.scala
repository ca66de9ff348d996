package graft

import graft.operators.{EmbedStage, VectorOps}
import graft.queries.SimilarityQueries.{oTopK, topK}
import org.apache.spark.sql.functions._

/** The shared scoring pairs of the similarity rows:
  *  - `VectorOps.cosine` over stage vectors is the reference formula
  *    (composed-lambda dots, norms recomputed from the vectors) bit for
  *    bit;
  *  - the per-query top-k cut keeps exactly min(k, n) rows per query and
  *    breaks score ties by ascending cand_id, in its DataFrame form and in
  *    its oracle text (run here through Spark SQL, which reads the same
  *    window syntax).
  */
class SimilarityScoringSpec extends SparkSpec {

  test("cosine over stage vectors equals the dotLRef reference bit for bit") {
    import VectorOps.{cosine, dotLRef}
    val v = EmbedStage(spark, "perfbench/data").vectors
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("qv").as("qv_q"),
        col("nsq").as("nsq_q"))
    val c = v.select(col("vec_id").as("cand_id"), col("qv").as("qv_c"),
      col("nsq").as("nsq_c"))
    val ref = dotLRef(col("qv_q"), col("qv_c")).cast("double") /
      (sqrt(dotLRef(col("qv_q"), col("qv_q")).cast("double")) *
        sqrt(dotLRef(col("qv_c"), col("qv_c")).cast("double")))
    val rows = q.crossJoin(c)
      .select(cosine((col("qv_q"), col("nsq_q")), (col("qv_c"), col("nsq_c")))
        .as("got"), ref.as("want"))
      .collect()
    assert(rows.length == 5 * v.count() && rows.length > 0)
    val bits = (x: Double) => java.lang.Double.doubleToRawLongBits(x)
    val diff = rows.count(r => bits(r.getDouble(0)) != bits(r.getDouble(1)))
    assert(diff == 0, s"$diff of ${rows.length} cosines differ")
  }

  test("top-k keeps min(k, n) rows per query, score ties to the lowest " +
    "cand_id, in both forms") {
    val s = spark
    import s.implicits._
    // query 1: six candidates, three tied at 0.9 and two tied at 0.5;
    // query 2: two candidates, fewer than k
    val scored = Seq(
      (1L, 17L, 0.9), (1L, 4L, 0.9), (1L, 9L, 0.9), (1L, 3L, 0.5),
      (1L, 2L, 0.5), (1L, 1L, 0.1),
      (2L, 8L, 0.7), (2L, 5L, 0.7))
      .toDF("query_id", "cand_id", "score")
    val k = 4
    val want = Set((1L, 4L, 1), (1L, 9L, 2), (1L, 17L, 3), (1L, 2L, 4),
      (2L, 5L, 1), (2L, 8L, 2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("cand_id"), col("rn").cast("int"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val got = rows(topK(scored, "score", k))
    assert(got.size == want.size && got.toSet == want)
    scored.createOrReplaceTempView("topk_scored")
    val oracle = rows(spark.sql(
      oTopK("topk_scored", "score", k, "query_id, cand_id, rn")))
    assert(oracle.size == want.size && oracle.toSet == want)
  }
}
