package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SEMANTIC benchmark decontamination — the embedding-space complement
  * of the n-gram scrub (`dd8_decontaminate`): a paraphrased or
  * re-tokenized eval question leaves no shared n-grams, but its
  * embedding stays near-identical, so the leak check that survives
  * rewording is "does any corpus vector sit above cosine τ of any
  * benchmark vector" (the SemDeDup/Phi-style decontamination pass).
  *
  * Scale shape: the benchmark side is small by nature (eval suites are
  * thousands of rows) — its buckets and vectors ride BROADCASTS against
  * the corpus's bucketed index; candidates come only from same-(table,
  * bucket) sign-LSH collisions (OR-amplified across tables), never an
  * all-pairs product, and the exact cosine runs on the staged quantized
  * vectors ([[VectorOps]] exact-long arithmetic).
  */
object SemanticDecon {

  /** One row per corpus id: `max_cos` (highest exact cosine against any
    * bench candidate; null when no bucket collision), `n_cand`
    * (distinct bench candidates scored), `keep` (no candidate, or all
    * below `tau`).
    *
    * `corpusBuckets`/`benchBuckets`: (id, table_id, bucket) — from
    * [[EmbedStage]] or [[SignLsh.bucketize]]; both sides must use the
    * SAME planes. `corpusVecs`/`benchVecs`: (id, qv, nsq).
    */
  def audit(corpusBuckets: DataFrame, benchBuckets: DataFrame,
            corpusVecs: DataFrame, benchVecs: DataFrame,
            tau: Double): DataFrame = {
    val cand = corpusBuckets
      .join(broadcast(benchBuckets.withColumnRenamed("id", "bid")),
        Seq("table_id", "bucket"))
      .select(col("id").as("cid"), col("bid"))
      .distinct()
    val q = corpusVecs.select(col("id").as("cid"),
      col("qv").as("qv_q"), col("nsq").as("nsq_q"))
    val c = benchVecs.select(col("id").as("bid"),
      col("qv").as("qv_c"), col("nsq").as("nsq_c"))
    val cosine = VectorOps.cosine((col("qv_q"), col("nsq_q")),
      (col("qv_c"), col("nsq_c")))
    val agg = cand.join(q, "cid").join(broadcast(c), "bid")
      .select(col("cid"), cosine.as("cosine"))
      .groupBy("cid")
      .agg(max("cosine").as("max_cos"), count(lit(1)).as("n_cand"))
    corpusVecs.select(col("id").as("cid"))
      .join(agg, Seq("cid"), "left")
      .select(col("cid").as("vec_id"), col("max_cos"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("max_cos") < tau, lit(true)).as("keep"))
  }
}
