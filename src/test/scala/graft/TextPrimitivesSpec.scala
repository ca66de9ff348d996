package graft

import graft.operators.TextOps._
import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

/** The shared text primitives on hand-made inputs, against a plain-Scala
  * reference: the rolling-hash winnowing branches, the token stats behind
  * `qualityScore`, the dedup member expansion and the df-capped postings
  * self-join with its cap telemetry.
  */
class TextPrimitivesSpec extends SparkSpec {

  /** hash32 reference: the first 8 hex chars of md5 as an unsigned int. */
  private def refHash(t: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8"))
    md.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
  }

  private def refGrams(text: String): Seq[Long] = {
    val th = text.split(" ").toSeq.map(refHash)
    th.sliding(3).filter(_.size == 3).map { case Seq(a, b, c) =>
      ((a * RollB + b) % RollM * RollB + c) % RollM
    }.toSeq
  }

  test("winnowing: no grams below 3 tokens, all-gram minimum below a " +
    "window, distinct window minima beyond") {
    val s = spark
    import s.implicits._
    val docs = Seq(1, 2, 3, 5, 12).map(n =>
      (n, (1 to n).map(i => s"t${(i * 7) % 5}x$i").mkString(" ")))
    val got = docs.toDF("n", "text")
      .select(col("n"), size(rollingGrams(tokenHashes(col("text"))))
          .as("n_grams"),
        winnow(rollingGrams(tokenHashes(col("text")))).as("w"))
      .as[(Int, Int, Seq[Long])].collect()
      .map { case (n, g, w) => n -> (g, w.toSet) }.toMap
    docs.foreach { case (n, text) =>
      val grams = refGrams(text)
      val want =
        if (grams.size >= WinnowW)
          grams.sliding(WinnowW).map(_.min).toSet
        else if (grams.nonEmpty) Set(grams.min)
        else Set.empty[Long]
      assert(got(n) == (grams.size, want), s"$n tokens")
    }
    // the three branches are all exercised
    assert(got(1)._2.isEmpty && got(2)._2.isEmpty)
    assert(got(3)._1 == 1 && got(3)._2.size == 1)
    assert(got(5)._1 == 3 && got(5)._2 == Set(refGrams(docs(3)._2).min))
    assert(got(12)._1 == 10 && got(12)._2.size > 1)
  }

  test("token stats and qualityScore on repeated words and stopwords") {
    val s = spark
    import s.implicits._
    val long = ("the a" +: (1 to 22).map(i => s"w$i")).mkString(" ")
    val rows = Seq("the cat saw a cat the end", long).toDF("text")
      .select(tokenStats(col("text")): _*)
      .select(col("n_tokens"), col("n_distinct"), col("n_stop"),
        qualityScore(col("n_tokens"), col("n_stop"), col("n_distinct")))
      .as[(Long, Long, Long, Double)].collect()
    // 7 tokens, 5 distinct, 3 stopwords: short (0), stop ratio 3/7 in
    // band (0.3), type-token ratio 5/7 (0.3)
    assert(rows(0) == ((7L, 5L, 3L, 0.0 + 0.3 + 0.3)))
    // 24 distinct tokens, 2 stopwords: every component scores
    assert(rows(1) == ((24L, 24L, 2L, 0.4 + 0.3 + 0.3)))
  }

  test("member expansion carries (matches, jq) and within-group pairs") {
    val s = spark
    import s.implicits._
    val membership = Seq((1L, 1L), (5L, 1L), (9L, 1L), (2L, 2L), (3L, 3L),
      (4L, 3L), (6L, 4L), (7L, 4L)).toDF("doc_id", "rep_id")
    val survivors = Seq((1L, 2L, 12L, 700000L), (2L, 3L, 8L, 400000L))
      .toDF("rep_a", "rep_b", "matches", "jq")
    // reps 1 and 3 are duplicate groups; rep 4's group has no shingle
    val profiles = Seq((1L, 3L, Seq(5L)), (2L, 1L, Seq(6L)),
      (3L, 2L, Seq(7L)), (4L, 2L, Seq.empty[Long]))
      .toDF("rep_id", "n_copies", "hs")
    val got = DedupQueries.expandPairs(membership, survivors, profiles,
        Seq("matches" -> lit(16L), "jq" -> lit(1000000L)))
      .select("doc_a", "doc_b", "matches", "jq")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 2L, 12L, 700000L), (2L, 5L, 12L, 700000L),
      (2L, 9L, 12L, 700000L),
      (2L, 3L, 8L, 400000L), (2L, 4L, 8L, 400000L),
      (1L, 5L, 16L, 1000000L), (1L, 9L, 16L, 1000000L),
      (5L, 9L, 16L, 1000000L), (3L, 4L, 16L, 1000000L)))
  }

  test("capped self-join counts shared keys and drops a key above the " +
    "df cap, counted through CapTelemetry") {
    val s = spark
    import s.implicits._
    // key 7 sits in 1003 sets: above the 1000 cap, so it is dropped and
    // shares nothing — docs 1 and 2 share {10, 11}, docs 1 and 3 {12}
    val hot = (100L until 1101L).map(i => (i, Seq(7L)))
    val sets = (Seq((1L, Seq(10L, 11L, 12L, 7L)), (2L, Seq(10L, 11L, 13L, 7L)),
      (3L, Seq(12L, 14L))) ++ hot).toDF("doc_id", "set")
    val got = DedupQueries.sharedKeys(sets, "doc_id", "set", "k",
        "doc_a", "doc_b", "spec_postings_cap")
      .select("doc_a", "doc_b", "c", "na", "nb")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 2L, 4L, 4L), (1L, 3L, 1L, 4L, 2L)))
    assert(CapTelemetry.snapshot().get("spec_postings_cap")
      .contains(1003L))
  }
}
