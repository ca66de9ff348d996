package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level text primitives for the training-data pipeline operators
  * (dedup, fingerprinting, language ID, quality scoring).
  *
  * Everything here is a pure Catalyst expression — no UDFs — so the
  * operators stay columnar, codegen-eligible, and pushdown-transparent at
  * 100 TB. The string hash is the first 8 hex chars of md5 parsed as a
  * uint32: md5 is bit-identical across engines, which makes every derived
  * signature (minhash, simhash, LSH bucket) oracle-verifiable.
  *
  * Each text decision the tx, dd and mix rows share is written here
  * once, as a DataFrame/oracle-SQL pair: the tokenization, token count
  * and token-hash list; the doc-keyed hash and unit draw; the hashed
  * shingle set; the rolling-hash winnowing; the passage hashes; the token
  * stats, stopwords and quality score; the fingerprint. The dedup index
  * pairs (signatures, bands, Jaccard) live with [[LshBanding]].
  */
object TextOps {

  /** Portable 32-bit string hash: first 8 hex chars of md5 as a long.
    * DuckDB equivalent: `CAST('0x' || substr(md5(x),1,8) AS BIGINT)`. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  def oHash32(x: String): String =
    s"CAST('0x' || substr(md5($x),1,8) AS BIGINT)"

  /** Whitespace tokens, their count and their per-token [[hash32]]
    * list — the tokenization every text, dedup and mixture row shares. */
  def tokens(text: Column): Column = split(text, " ")
  def oTokens(x: String): String = s"string_split($x, ' ')"
  def nTokens(text: Column): Column = size(tokens(text)).cast("long")
  def oNTokens(x: String): String = s"CAST(len(${oTokens(x)}) AS BIGINT)"
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => hash32(t))
  def oTokenHashes(x: String): String =
    s"list_transform(${oTokens(x)}, t -> ${oHash32("t")})"

  /** Doc-keyed hash `hash32('<tag>:' || id)` and its unit draw in [0, 1):
    * a per-row random number fixed across runs and engines. */
  def keyHash(tag: String, id: Column): Column =
    hash32(concat(lit(s"$tag:"), id.cast("string")))
  def oKeyHash(tag: String, id: String): String =
    oHash32(s"'$tag:' || CAST($id AS VARCHAR)")
  def unitDraw(tag: String, id: Column): Column =
    keyHash(tag, id).cast("double") / 4294967296.0
  def oUnitDraw(tag: String, id: String): String =
    s"CAST(${oKeyHash(tag, id)} AS DOUBLE) / 4294967296.0"

  /** Hashed word n-gram stream as ONE native expression
    * ([[graft.functions.ShingleHash32]]): bit-identical to
    * `transform(shingles(text, n), g => hash32(g))` for non-null text
    * (spec-pinned), without the interpreted higher-order-function tree,
    * the per-gram string build, or the md5 hex round-trip. Null text
    * yields null (the composed form yields an empty array) — identical
    * under explode/explode_outer, the shape every consumer uses; guard
    * with coalesce if a non-exploding consumer ever needs []. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    call_function("shingle_hash32", text, lit(n))

  /** Word n-gram shingles (default 3). Guarded: Spark's `sequence(1, k)`
    * counts DOWN when k < 1, so short docs must return an empty array
    * explicitly. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val idx = sequence(lit(1), size(toks) - (n - 1))
    val grams = transform(idx, i =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))
    when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
  }
  /** Oracle-side shingles over a BOUND token-list column named `lst`
    * (bind it in a prior CTE: `${oTokens("text")} AS lst`). */
  def oShinglesFromList(lst: String, n: Int = 3): String = {
    val parts = (0 until n).map(k => s"$lst[i + $k]").mkString(" || ' ' || ")
    s"""CASE WHEN len($lst) >= $n THEN
       |  list_transform(generate_series(1, len($lst) - ${n - 1}), i -> $parts)
       |ELSE [] END""".stripMargin
  }

  /** MinHash permutation constants: k affine maps (a*h + b) mod p over the
    * 32-bit shingle hash. Fixed constants → reproducible across engines and
    * runs; a < 2^6 keeps a*h < 2^38, far inside long range. */
  val MinhashP: Long = 2147483647L
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(j => (2L * j + 3L, 1000003L * j + 12345L))

  /** Oracle-side minhash component over a shingle list hashed ONCE with
    * [[oShingleHashSet]] (md5 is ~50× the affine map's cost); the Spark
    * side is [[DedupStage]]'s per-permutation `min` over
    * [[shingleHashes]]. */
  def oMinhashSig(hashArr: String, a: Long, b: Long): String =
    s"list_min(list_transform($hashArr, h -> (h * $a + $b) % $MinhashP))"

  /** Expression-level let-binding: evaluate `e` ONCE per row and feed it
    * to `body` through a lambda variable. Catalyst's CollapseProject /
    * filter pushdown can inline a multiply-referenced array alias into
    * every reference site — for a chain like tokens→grams→winnowed that
    * turns O(n) per row into O(n³) (each `element_at` re-evaluates the
    * whole upstream array). `transform(array(e), x -> body(x))[1]` pins
    * `e` to a lambda variable, which is evaluated exactly once no matter
    * how the optimizer rearranges the surrounding plan. */
  def let1(e: Column)(body: Column => Column): Column =
    element_at(transform(array(e), x => body(x)), 1)

  /** Oracle-side distinct hashed 3-gram shingle set over a BOUND token
    * list — the set [[DedupStage]] materializes per representative. */
  def oShingleHashSet(lst: String): String =
    s"list_distinct(list_transform(${oShinglesFromList(lst)},\n" +
      s"  s -> ${oHash32("s")}))"

  /** Karp-Rabin rolling hash over the token-hash stream, one mod per
    * step (th < 2^32, B ≈ 2^20: products stay < 2^52). [[docHash]] folds
    * the whole stream; [[rollingGrams]] hashes every token 3-gram;
    * [[winnow]] keeps the distinct minima of each [[WinnowW]]-gram window
    * (Schleimer et al. 2003), or all grams' minimum when fewer. tx5
    * reports the winnowed set, dd11 indexes it. Each intermediate array
    * is [[let1]]-bound: unbound, a pushed-down filter on the winnowed set
    * inlined the chain into every `element_at` (dd11: 239 s → 1.4 s at
    * sf0.01). The oracle binds them as CTE columns ([[oWinnowCtes]]). */
  val RollB = 1000003L
  val RollM = 2147483647L
  val WinnowW = 4
  def docHash(th: Column): Column =
    aggregate(th, lit(0L), (a, x) => (a * RollB + x) % RollM)
  def oDocHash(th: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT), $th),
       |      (a, x) -> (a * $RollB + x) % $RollM)""".stripMargin
  def rollingGrams(th: Column): Column = let1(th) { t =>
    when(size(t) >= 3,
      transform(sequence(lit(1), size(t) - 2),
        i => (((element_at(t, i) * RollB +
                element_at(t, i + 1)) % RollM) * RollB +
              element_at(t, i + 2)) % RollM))
      .otherwise(array().cast("array<long>"))
  }
  def winnow(grams: Column): Column = let1(grams) { g =>
    when(size(g) >= WinnowW,
      array_distinct(transform(
        sequence(lit(1), size(g) - (WinnowW - 1)),
        i => array_min(slice(g, i, lit(WinnowW))))))
      .when(size(g) > 0, array(array_min(g)))
      .otherwise(array().cast("array<long>"))
  }

  /** Oracle chain: CTEs `th(doc_id, th)`, `g(doc_id, th, grams)` and
    * `fp(doc_id, th, grams, winnowed)` over `documents`. */
  val oWinnowCtes: String = {
    val (b, m, w) = (RollB, RollM, WinnowW)
    s"""th AS (
       |  SELECT doc_id, ${oTokenHashes("text")} AS th FROM documents),
       |g AS (
       |  SELECT doc_id, th,
       |    list_transform(generate_series(1, len(th) - 2), i ->
       |      (((th[i] * $b + th[i + 1]) % $m) * $b + th[i + 2]) % $m)
       |      AS grams
       |  FROM th),
       |fp AS (
       |  SELECT doc_id, th, grams,
       |    CASE WHEN len(grams) >= $w THEN
       |      list_distinct(list_transform(
       |        generate_series(1, len(grams) - ${w - 1}),
       |        i -> list_min(grams[i:i + ${w - 1}])))
       |    WHEN len(grams) > 0 THEN [list_min(grams)]
       |    ELSE [] END AS winnowed
       |  FROM g)""".stripMargin
  }

  /** `(doc_id, ph)`: the md5 of every non-overlapping `p`-token passage of
    * each `(doc_id, text)` row, partial tail kept — dd9's duplicated
    * passages and [[PassageGraph]]'s shared-passage edges. [[oPassageCtes]]
    * is the oracle: CTEs `t(doc_id, lst)` and `p(doc_id, ph)`. */
  def passageHashes(docs: DataFrame, p: Int): DataFrame = {
    val chunks = transform(
      sequence(lit(1), ceil(size(col("lst")) / lit(p.toDouble)).cast("int")),
      i => concat_ws(" ", slice(col("lst"), (i - 1) * p + 1, lit(p))))
    docs.select(col("doc_id"), tokens(col("text")).as("lst"))
      .select(col("doc_id"), explode(chunks).as("passage"))
      .select(col("doc_id"), md5(col("passage")).as("ph"))
  }
  def oPassageCtes(p: Int): String =
    s"""t AS (
       |  SELECT doc_id, ${oTokens("text")} AS lst FROM documents),
       |p AS (
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, CAST(ceil(len(lst) / $p.0) AS INT)),
       |    i -> md5(array_to_string(lst[(i-1)*$p+1 : i*$p], ' '))))
       |    AS ph
       |  FROM t)""".stripMargin

  /** Per-document token stats `n_tokens`, `n_distinct`, `n_stop` (tokens
    * in [[Stopwords]]) — the inputs of [[qualityScore]]. */
  val Stopwords: Seq[String] = Seq("the", "a")
  def tokenStats(text: Column): Seq[Column] = {
    val toks = tokens(text)
    Seq(nTokens(text).as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      size(filter(toks, w => Stopwords.map(w === _).reduce(_ || _)))
        .cast("long").as("n_stop"))
  }
  def oTokenStats(x: String): String = {
    val stop = Stopwords.map(w => s"w = '$w'").mkString(" OR ")
    s"""${oNTokens(x)} AS n_tokens,
       |    CAST(len(list_distinct(${oTokens(x)})) AS BIGINT)
       |      AS n_distinct,
       |    CAST(len(list_filter(${oTokens(x)},
       |      w -> $stop)) AS BIGINT) AS n_stop""".stripMargin
  }

  /** Document quality score over pre-computed token stats — ONE definition
    * per engine side, shared by the scoring query (tx2), the curation
    * gate (tx6) and the canonical pick (dd13) so a threshold tweak cannot
    * silently diverge them.
    * length ≥ 20 tokens (0.4) + stopword ratio in [0.01, 0.5] (0.3) +
    * type-token ratio ≥ 0.3 (0.3). */
  def qualityScore(nTokens: Column, nStop: Column,
                   nDistinct: Column): Column = {
    val stopR = nStop.cast("double") / nTokens.cast("double")
    val ttr = nDistinct.cast("double") / nTokens.cast("double")
    when(nTokens >= 20, 0.4).otherwise(0.0) +
      when(stopR.between(0.01, 0.5), 0.3).otherwise(0.0) +
      when(ttr >= 0.3, 0.3).otherwise(0.0)
  }
  def oQualityScore(nTokens: String, nStop: String,
                    nDistinct: String): String =
    s"""(CASE WHEN $nTokens >= 20 THEN 0.4e0 ELSE 0.0e0 END +
       |     CASE WHEN CAST($nStop AS DOUBLE) / CAST($nTokens AS DOUBLE)
       |       BETWEEN 0.01e0 AND 0.5e0 THEN 0.3e0 ELSE 0.0e0 END +
       |     CASE WHEN CAST($nDistinct AS DOUBLE) / CAST($nTokens AS DOUBLE)
       |       >= 0.3e0 THEN 0.3e0 ELSE 0.0e0 END)""".stripMargin

  /** PII / identifier scrub patterns. Conservative regex classes chosen to
    * parse AND match identically under Java regex (Spark executors) and
    * RE2 (DuckDB oracle): character classes, bounded repetition, no
    * backrefs/lookaround (which RE2 rejects). */
  val DigitRun = "[0-9]+"
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val SsnPat = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** Count non-overlapping matches of `pattern` (0 when none). */
  def countMatches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long")
  def oCountMatches(x: String, pattern: String): String =
    s"CAST(len(regexp_extract_all($x, '$pattern')) AS BIGINT)"

  /** Replace every match of `pattern` with `repl` (Spark replaces all by
    * default; the oracle needs RE2's explicit 'g' flag). */
  def maskAll(c: Column, pattern: String, repl: String): Column =
    regexp_replace(c, pattern, repl)
  def oMaskAll(x: String, pattern: String, repl: String): String =
    s"regexp_replace($x, '$pattern', '$repl', 'g')"

  /** Canonical document fingerprint: md5 over the sorted distinct token
    * set — robust to word order and duplication (the rolling-hash
    * fingerprint analog, exact across engines). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))
  def oFingerprint(x: String): String =
    s"md5(array_to_string(list_sort(list_distinct(${oTokens(x)})), ' '))"

  /** The fixed query term set tx7 and sim13 rank the corpus for. */
  val Bm25Terms: Seq[String] = Seq("spark", "query", "stream")

  /** BM25 (Robertson–Spärck Jones, k1=1.2, b=0.75) per-document scores for
    * a fixed query term set, quantized to a LONG at 1e-6 — the ranking key
    * both tx7 (lexical top-k) and sim13 (hybrid-fusion lexical leg) order
    * by. Shared so the two rows cannot drift.
    *
    * Shape: ONE per-doc tokenize/tf scan (persisted — both the corpus-stats
    * aggregate and the scoring scan read it), corpus stats broadcast back
    * as a 1-row frame. Parity follows tx7's doctrine: idf ln floor-
    * quantized to a long at 1e9 and rebuilt as long/1e9, every constant an
    * explicit double, the emitted score `floor(score·1e6+0.5)` AS LONG.
    */
  def bm25Scores(s: org.apache.spark.sql.SparkSession, d: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = tokens(col("text"))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, w => w === t)).cast("long").as(s"tf_$i")
    }
    val base = graft.Tables.fanOut(graft.Tables.documents(s, d)).select(
      col("doc_id") +: size(toks).cast("long").as("dl") +: tfCols: _*)
      .persist()
    val statAggs =
      (sum("dl").cast("double") / count(lit(1)).cast("double"))
        .as("avgdl") +:
      terms.indices.map { i =>
        count(when(col(s"tf_$i") > 0, 1)).cast("long").as(s"df_$i")
      }
    val stats = base.agg(count(lit(1)).cast("long").as("n_docs"),
      statAggs: _*)
    val score = terms.indices.map { i =>
      (floor(log(((col("n_docs") - col(s"df_$i")).cast("double") + lit(0.5)) /
          (col(s"df_$i").cast("double") + lit(0.5))) * lit(1e9) + lit(0.5))
        .cast("long").cast("double") / lit(1e9)) *
      (col(s"tf_$i").cast("double") * (lit(1.2) + lit(1.0))) /
      (col(s"tf_$i").cast("double") + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(score * lit(1e6) + lit(0.5)).cast("long").as("score_q"))
  }

  /** Oracle CTE block for [[bm25Scores]]: defines `bm_base`, `bm_stats`
    * and `bm_scored(doc_id, score_q)` — splice after `WITH`. */
  def oBm25Cte(terms: Seq[String]): String = {
    val oTf = terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(string_split(text, ' '), w -> w = '$t')) AS BIGINT) AS tf_$i"
    }.mkString(",\n    ")
    val oStats = terms.indices.map { i =>
      s"CAST(count(CASE WHEN tf_$i > 0 THEN 1 END) AS BIGINT) AS df_$i"
    }.mkString(", ")
    val oScore = terms.indices.map { i =>
      s"(CAST(floor(ln((CAST(n_docs - df_$i AS DOUBLE) + 0.5e0) / " +
      s"(CAST(df_$i AS DOUBLE) + 0.5e0)) * 1.0e9 + 0.5e0) AS BIGINT) / 1.0e9) * " +
      s"(CAST(tf_$i AS DOUBLE) * (1.2e0 + 1.0e0)) / " +
      s"(CAST(tf_$i AS DOUBLE) + 1.2e0 * " +
      s"(1.0e0 - 0.75e0 + 0.75e0 * CAST(dl AS DOUBLE) / avgdl))"
    }.mkString(" + ")
    s"""bm_base AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
       |    $oTf
       |  FROM documents),
       |bm_stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |      AS avgdl,
       |    $oStats
       |  FROM bm_base),
       |bm_scored AS (
       |  SELECT doc_id,
       |    CAST(floor(($oScore) * 1.0e6 + 0.5e0) AS BIGINT) AS score_q
       |  FROM bm_base, bm_stats)""".stripMargin
  }
}
