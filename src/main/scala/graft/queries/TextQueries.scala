package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.TextOps._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline: language ID,
  * quality scoring, token counting, fingerprint reporting. All pure
  * columnar expressions over `documents` — each scales as a single
  * projection (+ one tiny aggregate where noted), no UDFs.
  * Shared text decisions are DataFrame/oracle-SQL pairs in
  * [[graft.operators.TextOps]]; each row keeps its own cut and thresholds.
  */
object TextQueries {

  /** mix6 DSIR hash-LM bucket count: bounds both unigram-LM count tables
    * at B rows regardless of corpus size (the importance-resampling
    * design's scale invariant). */
  private val DsirB = 4096

  /** Marker-token sets per language for the n-gram frequency heuristic.
    * (Synthetic corpus → synthetic marker table; the operator structure —
    * per-language token-hit scoring + deterministic argmax — is the real
    * language-ID shape.) */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("data", "table", "row"),
    "de" -> Seq("window", "group", "sort"),
    "fr" -> Seq("query", "filter", "merge"),
    "zh" -> Seq("hash", "join", "scan"))

  val all: Seq[QueryDef] = Seq(

    // TX1: language identification — count marker-token hits per language,
    // predict argmax with deterministic tie order (list order).
    QueryDef(
      "tx1_lang_id",
      Some {
        val scores = markers.map { case (lang, ws) =>
          val hits = ws.map(w =>
            s"len(list_filter(${oTokens("text")}, t -> t = '$w'))")
            .mkString(" + ")
          s"CAST($hits AS BIGINT) AS score_$lang"
        }.mkString(",\n    ")
        val best = markers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
          s"CASE WHEN score_$lang >= ${markers.map(m => s"score_${m._1}").mkString("greatest(", ", ", ")")} THEN '$lang' ELSE $acc END"
        }
        s"""WITH scored AS (
           |  SELECT doc_id, lang AS lang_true,
           |    $scores
           |  FROM documents)
           |SELECT doc_id, lang_true,
           |  CASE WHEN ${markers.map(m => s"score_${m._1}").mkString(" + ")} = 0
           |    THEN 'und' ELSE $best END AS lang_pred,
           |  ${markers.map(m => s"score_${m._1}").mkString(", ")}
           |FROM scored""".stripMargin
      },
      (s, d) => {
        val toks = tokens(col("text"))
        val scoreCols = markers.map { case (lang, ws) =>
          ws.map(w => size(filter(toks, t => t === w)).cast("long"))
            .reduce(_ + _).as(s"score_$lang")
        }
        val scored = Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id") +: col("lang").as("lang_true") +: scoreCols: _*)
        val maxScore = greatest(markers.map(m => col(s"score_${m._1}")): _*)
        val best = markers.reverse.foldLeft(lit("und")) {
          case (acc, (lang, _)) =>
            when(col(s"score_$lang") >= maxScore, lit(lang)).otherwise(acc)
        }
        val total = markers.map(m => col(s"score_${m._1}")).reduce(_ + _)
        scored.select(
          col("doc_id") +: col("lang_true") +:
          when(total === 0, "und").otherwise(best).as("lang_pred") +:
          markers.map(m => col(s"score_${m._1}")): _*)
      }),

    // TX2: quality scoring — length, token stats, stopword ratio,
    // type-token ratio, composed into one deterministic quality score.
    QueryDef(
      "tx2_quality_score",
      Some(s"""WITH t AS (
             |  SELECT doc_id, n_chars,
             |    ${oTokenStats("text")}
             |  FROM documents)
             |SELECT doc_id, n_tokens, n_distinct,
             |  CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |    AS avg_token_len,
             |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |    AS stopword_ratio,
             |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
             |    AS type_token_ratio,
             |  ${oQualityScore("n_tokens", "n_stop", "n_distinct")} AS quality
             |FROM t""".stripMargin),
      (s, d) => {
        val t = Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id") +: col("n_chars") +: tokenStats(col("text")): _*)
        val stopR = col("n_stop").cast("double") / col("n_tokens").cast("double")
        val ttr = col("n_distinct").cast("double") / col("n_tokens").cast("double")
        t.select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          (col("n_chars").cast("double") / col("n_tokens").cast("double"))
            .as("avg_token_len"),
          stopR.as("stopword_ratio"),
          ttr.as("type_token_ratio"),
          qualityScore(col("n_tokens"), col("n_stop"), col("n_distinct"))
            .as("quality"))
      }),

    // TX3: token counting — whitespace tokens + BPE-ish regex tokens
    // (letter runs / digit runs / single punctuation) + char count.
    QueryDef(
      "tx3_token_count",
      Some(s"""SELECT doc_id,
             |  ${oNTokens("text")} AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             |    AS BIGINT) AS bpe_tokens,
             |  CAST(length(text) AS BIGINT) AS n_chars_measured
             |FROM documents""".stripMargin),
      (s, d) =>
        Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id"),
          nTokens(col("text")).as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"))),

    // TX4: per-source corpus profile — document counts, mean length, dup
    // rate by fingerprint (one tiny aggregate per source).
    QueryDef(
      "tx4_corpus_profile",
      Some(s"""WITH fp AS (
              |  SELECT source, n_chars, ${oFingerprint("text")} AS fp
              |  FROM documents)
              |SELECT source, count(*) AS n_docs,
              |  count(DISTINCT fp) AS n_unique,
              |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS mean_chars
              |FROM fp GROUP BY source""".stripMargin),
      (s, d) => {
        // n_chars is integer-valued — the mean rides a plain exact long
        // sum, no quantization needed
        Tables.fanOut(Tables.documents(s, d))
          .select(col("source"), col("n_chars"),
            fingerprint(col("text")).as("fp"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct("fp").as("n_unique"),
               (sum(col("n_chars")).cast("double") / count(col("n_chars")))
                 .as("mean_chars"))
      }),

    // TX5: rolling-hash document fingerprinting — the ORDER-SENSITIVE
    // complement to dd2's sorted-token fingerprint. Karp-Rabin polynomial
    // hash over the token-hash stream for the whole-document identity,
    // plus a winnowing fingerprint (Schleimer et al. 2003): the rolling
    // hash of every token 3-gram, thinned to the minimum of each 4-gram
    // window — the selection a plagiarism/containment detector indexes
    // (dd11 indexes the same set). All pure per-row expressions
    // (TextOps' rolling-hash pairs).
    QueryDef(
      "tx5_rolling_fingerprint",
      Some(s"""WITH $oWinnowCtes
              |SELECT doc_id, ${oDocHash("th")} AS doc_hash,
              |  CAST(len(grams) AS BIGINT) AS n_grams,
              |  md5(array_to_string(list_sort(winnowed), ',')) AS fp_digest,
              |  CAST(len(winnowed) AS BIGINT) AS n_fp
              |FROM fp""".stripMargin),
      (s, d) =>
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), tokenHashes(col("text")).as("th"))
          .select(col("doc_id"), docHash(col("th")).as("doc_hash"),
            rollingGrams(col("th")).as("grams"))
          .select(col("doc_id"), col("doc_hash"),
            size(col("grams")).cast("long").as("n_grams"),
            winnow(col("grams")).as("winnowed"))
          .select(col("doc_id"), col("doc_hash"), col("n_grams"),
            md5(concat_ws(",", transform(array_sort(col("winnowed")),
              x => x.cast("string")))).as("fp_digest"),
            size(col("winnowed")).cast("long").as("n_fp"))),

    // TX6: the curation COMPOSITION a training-data pipeline actually
    // runs — quality gate (tx2's scoring) first, then exact dedup
    // keep-first over the survivors — emitting one row per kept document
    // with its collapsed-copy count. Order matters at scale: the cheap
    // per-row quality filter cuts the corpus before anything shuffles, and
    // the dedup groupBy keys on the 16-byte md5, never the text.
    QueryDef(
      "tx6_corpus_curation",
      Some(s"""WITH t AS (
             |  SELECT doc_id, lang, text,
             |    ${oTokenStats("text")}
             |  FROM documents),
             |q AS (
             |  SELECT *,
             |    ${oQualityScore("n_tokens", "n_stop", "n_distinct")}
             |      AS quality
             |  FROM t)
             |SELECT min(doc_id) AS doc_id, min(lang) AS lang,
             |  min(n_tokens) AS n_tokens, min(quality) AS quality,
             |  count(*) AS n_copies
             |FROM q WHERE quality >= 0.7
             |GROUP BY md5(text)""".stripMargin),
      (s, d) => {
        val t = Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id") +: col("lang") +: col("text") +:
          tokenStats(col("text")): _*)
        t.withColumn("quality",
            qualityScore(col("n_tokens"), col("n_stop"), col("n_distinct")))
          .filter(col("quality") >= 0.7)
          // identical text ⇒ identical derived features, so plain min
          // stays in hash aggregation (no object-agg SortAggregate) and
          // picks the keep-first doc_id + its metadata
          .groupBy(md5(col("text")).as("th"))
          .agg(min("doc_id").as("doc_id"), min("lang").as("lang"),
               min("n_tokens").as("n_tokens"), min("quality").as("quality"),
               count(lit(1)).as("n_copies"))
          .drop("th")
      }),

    // TX7: BM25 relevance scoring — rank the corpus for a fixed query term
    // set (Robertson-Sparck Jones BM25, k1=1.2 b=0.75). Corpus statistics
    // (N, avgdl, per-term df) come from ONE aggregate broadcast back onto
    // the per-doc scan; top-k is orderBy+limit (TakeOrdered — no global
    // sort).
    //
    // Parity (third-round fix — the compared value is now a LONG):
    //  1. `round(x, 9)` is engine-specific (Spark goes through BigDecimal,
    //   DuckDB through a float grid) and bare decimal literals like `1.2`
    //   are DECIMAL-typed in DuckDB, silently pulling sub-expressions into
    //   decimal arithmetic that Spark does in doubles. Both are gone: every
    //   constant is written as an explicit DOUBLE (`1.2e0`), every operand
    //   is cast to DOUBLE before it meets one, and ALL quantization uses
    //   the doctrine tree `floor(x*scale + 0.5)` (QueryDef.scala `lq`) —
    //   the same correctly-rounded IEEE ops on both engines.
    //  2. The one transcendental (idf ln) is floor-quantized to a LONG at
    //   1e9 and rebuilt as `long/1e9` — a correctly-rounded long→double
    //   cast plus division, bit-identical on both engines. From there every
    //   input (tf/dl/df/N exact ints, avgdl exact-sum division) flows
    //   through identical IEEE trees → bit-identical score doubles.
    //  3. The emitted score is `floor(score*1e6 + 0.5)` AS BIGINT — the
    //   hash compares longs, and the rank/tiebreak (score_q desc, doc_id)
    //   orders by that same long, so a last-ulp libm ln difference can
    //   only matter if it crosses a 1e-9 floor boundary (~1e-7 odds per
    //   distinct term, 3 terms per corpus).
    //
    // The scorer itself lives in TextOps.bm25Scores / oBm25Cte, shared
    // with sim13's hybrid-fusion lexical leg so the two rows cannot drift.
    QueryDef(
      "tx7_bm25",
      Some(s"""WITH ${oBm25Cte(Bm25Terms)}
              |SELECT doc_id, score_q
              |FROM bm_scored
              |ORDER BY score_q DESC, doc_id
              |LIMIT 20""".stripMargin),
      (s, d) =>
        bm25Scores(s, d, Bm25Terms)
          .orderBy(col("score_q").desc, col("doc_id"))
          .limit(20)),

    // TX8: PII / identifier scrub — the redaction pass a training-data
    // pipeline runs before anything leaves the raw zone: mask identifier
    // digit runs, count what each pattern class found (the scrub's audit
    // trail), and pseudonymize the leading identifier with a deterministic
    // surrogate (md5 tokenization) so downstream joins still work without
    // the raw value. Pure per-row regex projections over the semi-
    // structured `props` payload — codegen'd, no shuffle at any scale.
    // The email/SSN classes are part of the battery and hit zero on this
    // corpus (asserted by the oracle, not assumed): a scrub that cannot
    // prove absence is as useless as one that cannot mask presence.
    QueryDef(
      "tx8_pii_scrub",
      Some(s"""SELECT event_id, event_type,
              |  ${oMaskAll("props", DigitRun, "<N>")} AS masked_props,
              |  ${oCountMatches("props", DigitRun)} AS n_digit_runs,
              |  CASE WHEN regexp_extract(props, '([0-9]+)', 1) <> ''
              |       THEN CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
              |       END AS first_id,
              |  CASE WHEN regexp_extract(props, '([0-9]+)', 1) <> ''
              |       THEN md5('id:' || regexp_extract(props, '([0-9]+)', 1))
              |       END AS pseudo_id,
              |  ${oCountMatches("props", EmailPat)} AS n_emails,
              |  ${oCountMatches("props", SsnPat)} AS n_ssns
              |FROM events""".stripMargin),
      (s, d) => {
        val run = regexp_extract(col("props"), "([0-9]+)", 1)
        Tables.events(s, d).select(
          col("event_id"), col("event_type"),
          maskAll(col("props"), DigitRun, "<N>").as("masked_props"),
          countMatches(col("props"), DigitRun).as("n_digit_runs"),
          // CASE guards the ANSI cast: the empty no-match sentinel must
          // never reach CAST on either engine
          when(run =!= "", run.cast("long")).as("first_id"),
          when(run =!= "", md5(concat(lit("id:"), run))).as("pseudo_id"),
          countMatches(col("props"), EmailPat).as("n_emails"),
          countMatches(col("props"), SsnPat).as("n_ssns"))
      }),

    // TX9: intra-document repetition metrics (Gopher-style quality
    // filters): duplicate-token fraction, most-frequent-bigram share, and
    // the fraction of trigram instances that are repeats — the signals
    // that catch boilerplate and degenerate generation inside ONE document
    // (the cross-document dedup family can't see these). Shape: one
    // explode to (doc, n-gram) rows, count per gram, then per-doc
    // conditional aggregates — both shuffles are doc_id-keyed with
    // map-side partial aggregation, so the cost scales with token count,
    // never pairwise.
    //
    // Shuffle keys are LONGS, never gram text (the dedup-family rule,
    // tx12's pattern): tokens are hashed ONCE per document with the
    // portable hash32 and a gram's identity on the count shuffle is the
    // (ord, h1, h2, h3) hash tuple — at 100 TB that is the difference
    // between shuffling tens of TB of bigram/trigram strings and a
    // fraction of that in fixed-width longs. The oracle replays the
    // identical hashes, so even a 32-bit token collision is bit-mirrored
    // on both engines; n_tokens/n_distinct stay on the RAW token list
    // (distinctness of text, not of hashes).
    QueryDef(
      "tx9_repetition",
      Some(s"""WITH t AS (
              |  SELECT doc_id, ${oTokens("text")} AS raw,
              |    ${oTokenHashes("text")} AS lst
              |  FROM documents),
              |base AS (
              |  SELECT doc_id,
              |    CAST(len(raw) AS BIGINT) AS n_tokens,
              |    CAST(len(list_distinct(raw)) AS BIGINT) AS n_distinct,
              |    lst
              |  FROM t),
              |g AS (
              |  SELECT doc_id, n_tokens, n_distinct, 2 AS ord,
              |    unnest(list_transform(generate_series(1, len(lst) - 1),
              |      i -> {'g1': lst[i], 'g2': lst[i + 1], 'g3': 0})) AS gr
              |  FROM base
              |  UNION ALL
              |  SELECT doc_id, n_tokens, n_distinct, 3,
              |    unnest(list_transform(generate_series(1, len(lst) - 2),
              |      i -> {'g1': lst[i], 'g2': lst[i + 1], 'g3': lst[i + 2]}))
              |  FROM base),
              |c AS (
              |  SELECT doc_id, n_tokens, n_distinct, ord,
              |    gr['g1'] AS g1, gr['g2'] AS g2, gr['g3'] AS g3,
              |    count(*) AS n
              |  FROM g GROUP BY ALL),
              |a AS (
              |  SELECT doc_id, n_tokens, n_distinct,
              |    max(CASE WHEN ord = 2 THEN n END) AS top_bi,
              |    CAST(sum(CASE WHEN ord = 2 THEN n ELSE 0 END) AS BIGINT)
              |      AS tot_bi,
              |    CAST(sum(CASE WHEN ord = 3 AND n > 1 THEN n ELSE 0 END)
              |      AS BIGINT) AS dup_tri,
              |    CAST(sum(CASE WHEN ord = 3 THEN n ELSE 0 END) AS BIGINT)
              |      AS tot_tri
              |  FROM c GROUP BY 1, 2, 3)
              |SELECT doc_id, n_tokens,
              |  CAST(n_tokens - n_distinct AS DOUBLE)
              |    / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
              |  CAST(top_bi AS DOUBLE) / CAST(tot_bi AS DOUBLE)
              |    AS top_bigram_frac,
              |  CAST(dup_tri AS DOUBLE) / CAST(tot_tri AS DOUBLE)
              |    AS dup_trigram_frac,
              |  (CAST(top_bi AS DOUBLE) / CAST(tot_bi AS DOUBLE) <= 0.0625
              |   AND CAST(dup_tri AS DOUBLE) / CAST(tot_tri AS DOUBLE)
              |     <= 0.02) AS keep
              |FROM a""".stripMargin),
      (s, d) => {
        val toks = tokens(col("text"))
        // gram identity = (ord, h1, h2, h3) long tuple over the hashed
        // token list (g3 = 0 for bigrams — ord disambiguates). Spark's
        // sequence() counts DOWN below 1, so short docs need the guard.
        val gramStructs = (n: Int) => {
          val structs = transform(
            sequence(lit(1), size(col("lst")) - (n - 1)),
            i => struct(lit(n).as("ord"),
              element_at(col("lst"), i).as("g1"),
              element_at(col("lst"), i + 1).as("g2"),
              (if (n == 3) element_at(col("lst"), i + 2)
               else lit(0L)).as("g3")))
          when(size(col("lst")) >= n, structs).otherwise(array()
            .cast("array<struct<ord:int,g1:bigint,g2:bigint,g3:bigint>>"))
        }
        val base = Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id"),
          nTokens(col("text")).as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          tokenHashes(col("text")).as("lst"))
        val grams = base.select(
          col("doc_id"), col("n_tokens"), col("n_distinct"),
          explode(concat(gramStructs(2), gramStructs(3))).as("g"))
        val counts = grams
          .groupBy(col("doc_id"), col("n_tokens"), col("n_distinct"),
                   col("g.ord").as("ord"), col("g.g1"), col("g.g2"),
                   col("g.g3"))
          .agg(count(lit(1)).as("n"))
        val agg = counts
          // n_tokens/n_distinct are functionally dependent on doc_id —
          // carrying them through the grouping keys beats a join back
          .groupBy("doc_id", "n_tokens", "n_distinct")
          .agg(
            max(when(col("ord") === 2, col("n"))).as("top_bi"),
            sum(when(col("ord") === 2, col("n")).otherwise(0L)).as("tot_bi"),
            sum(when(col("ord") === 3 && col("n") > 1, col("n"))
              .otherwise(0L)).as("dup_tri"),
            sum(when(col("ord") === 3, col("n")).otherwise(0L)).as("tot_tri"))
        val topBiFrac = col("top_bi").cast("double") /
          col("tot_bi").cast("double")
        val dupTriFrac = col("dup_tri").cast("double") /
          col("tot_tri").cast("double")
        agg.select(
          col("doc_id"), col("n_tokens"),
          ((col("n_tokens") - col("n_distinct")).cast("double") /
            col("n_tokens").cast("double")).as("dup_token_frac"),
          topBiFrac.as("top_bigram_frac"),
          dupTriFrac.as("dup_trigram_frac"),
          (topBiFrac <= 0.0625 && dupTriFrac <= 0.02).as("keep"))
      }),

    // TX10: unigram-surprisal quality filter (the perplexity-band filter
    // of the CCNet recipe, with the corpus's own unigram counts standing
    // in for the external LM): per token-instance surprisal −ln p(w) =
    // ln(T) − ln(count(w)), per-document mean, keep the band. High mean =
    // gibberish/rare-token soup, low mean = degenerate common-token text.
    //
    // Parity: the per-doc mean is a SUM of doubles, whose accumulation
    // order differs between engines — so each token's surprisal is
    // quantized to the 1e-6-nat grid first (floor(x·1e6 + 0.5), identical
    // IEEE ops both sides) and the per-doc accumulation is a plain LONG
    // sum (order-free; |sq| ≤ ln(T)·1e6 ≈ 1.3e7 per token → ~7e11 rows
    // of headroom). One double division chain at the end.
    //
    // Scale shape: token counts and the total are corpus-level statistics
    // — a tiny hash-agg (vocabulary-sized) broadcast back against the
    // token stream, and a 1-row total via broadcast cross join; the only
    // data-sized shuffle is the doc_id-keyed partial-agg sum. At 100 TB
    // the count table is a staged snapshot artifact (DedupStage pattern),
    // not a per-query recompute.
    QueryDef(
      "tx10_unigram_surprisal",
      Some(s"""WITH tok AS (
             |  SELECT doc_id, unnest(${oTokens("text")}) AS w
             |  FROM documents),
             |cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
             |tot AS (SELECT count(*) AS t FROM tok),
             |q AS (
             |  SELECT doc_id,
             |    CAST(floor((ln(CAST(t AS DOUBLE)) - ln(CAST(c AS DOUBLE)))
             |      * 1000000.0 + 0.5) AS BIGINT) AS sq
             |  FROM tok JOIN cnt USING (w) CROSS JOIN tot),
             |a AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |    CAST(sum(sq) AS BIGINT) AS s
             |  FROM q GROUP BY 1),
             |f AS (
             |  SELECT doc_id, n_tokens,
             |    CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
             |      AS ms
             |  FROM a)
             |SELECT doc_id, n_tokens, ms AS mean_surprisal,
             |  ms >= 3.0 AND ms <= 3.45 AS keep
             |FROM f""".stripMargin),
      (s, d) => {
        val tok = Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
          .persist() // feeds the count dim, the total, and the join
        val cnt = tok.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = tok.agg(count(lit(1)).as("t"))
        val sq = floor((log(col("t").cast("double")) -
          log(col("c").cast("double"))) * 1000000.0 + 0.5).cast("long")
        val perDoc = tok.join(broadcast(cnt), "w")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"), sq.as("sq"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum(col("sq")).as("s"))
        val ms = col("s").cast("double") /
          col("n_tokens").cast("double") / 1000000.0
        perDoc.select(col("doc_id"), col("n_tokens"),
          ms.as("mean_surprisal"),
          (ms >= 3.0 && ms <= 3.45).as("keep"))
      }),

    // MIX1: domain-mixture sampling — the data-mixing step of a training
    // pipeline: given target mixture WEIGHTS per source (here derived
    // from the source name as a deterministic stand-in for the config
    // table a real run ships), find the largest corpus achievable without
    // upsampling any source (the binding-constraint minimum), turn that
    // into a per-source sample rate, and make a deterministic per-doc
    // keep decision by hashing the doc id into [0,1) — reproducible
    // across runs/engines, no RNG state (the pl7 doctrine, per-row).
    //
    // Scale shape: everything except the final per-row decision operates
    // on the 20-row per-source count table — two 1-row broadcast cross
    // joins (total weight, binding minimum) and one broadcast dim join
    // back onto the corpus. The corpus itself is scanned once, no
    // shuffle: the decision is a pure projection.
    QueryDef(
      "mix1_domain_mixture",
      Some(s"""WITH c AS (
              |  SELECT source, CAST(count(*) AS BIGINT) AS n,
              |    CAST(substr(source, 4) AS INT) + 1 AS w
              |  FROM documents GROUP BY 1),
              |tw AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM c),
              |nm AS (
              |  SELECT min(CAST(n AS DOUBLE) * CAST(tw AS DOUBLE)
              |    / CAST(w AS DOUBLE)) AS nmix
              |  FROM c CROSS JOIN tw),
              |r AS (
              |  SELECT source, n,
              |    CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS target_frac,
              |    least(CAST(1.0 AS DOUBLE),
              |      nmix * (CAST(w AS DOUBLE) / CAST(tw AS DOUBLE))
              |        / CAST(n AS DOUBLE)) AS sample_rate
              |  FROM c CROSS JOIN tw CROSS JOIN nm)
              |SELECT d.doc_id, d.source, r.n AS n_source,
              |  r.target_frac, r.sample_rate,
              |  ${oUnitDraw("mx1", "d.doc_id")} < r.sample_rate AS keep
              |FROM documents d JOIN r USING (source)""".stripMargin),
      (s, d) => {
        val docs = Tables.fanOut(Tables.documents(s, d))
        val c = docs.groupBy("source")
          .agg(count(lit(1)).as("n"))
          .withColumn("w", col("source").substr(lit(4), lit(10))
            .cast("int") + 1)
          // 20 rows consumed by three downstream frames (total weight,
          // binding minimum, rate table) — persist so the corpus count
          // scan runs once, not three times
          .persist()
        val tw = c.agg(sum(col("w")).as("tw"))
        val nm = c.crossJoin(broadcast(tw))
          .agg(min(col("n").cast("double") * col("tw").cast("double") /
            col("w").cast("double")).as("nmix"))
        val targetFrac = col("w").cast("double") / col("tw").cast("double")
        val r = c.crossJoin(broadcast(tw)).crossJoin(broadcast(nm))
          .select(col("source"), col("n").as("n_source"),
            targetFrac.as("target_frac"),
            least(lit(1.0), col("nmix") * targetFrac /
              col("n").cast("double")).as("sample_rate"))
        val u = unitDraw("mx1", col("doc_id"))
        docs.join(broadcast(r), "source")
          .select(col("doc_id"), col("source"), col("n_source"),
            col("target_frac"), col("sample_rate"),
            (u < col("sample_rate")).as("keep"))
      }),

    // MIX2: temperature-scaled token-budget sampling — mix1's sibling with
    // the weights DERIVED from the data (the multilingual-LM upsampling
    // recipe: w_i ∝ T_i^α with α = 0.5, so small sources get relatively
    // more of the budget than their raw share). Per-source token counts →
    // sqrt weights → a global token budget B = half the corpus → per-source
    // sample rate min(1, B·w_i/Σw / T_i) → deterministic per-doc keep.
    //
    // Parity: α = 0.5 means the weight is sqrt(T) — correctly rounded IEEE
    // on both engines (no pow/exp). The weight SUM is order-dependent in
    // doubles, so each weight is quantized to the 1e-6 grid first and the
    // sum runs over longs (tx10's pattern; Σ√T·1e6 ≤ 20·√(10^12)·1e6 ≈
    // 2·10^13 — long-safe headroom for any real corpus).
    //
    // Scale shape: the entire decision table is 20 rows (per-source counts
    // + two 1-row broadcast cross joins); the corpus is scanned once for
    // the counts and once for the per-row keep projection — no data-sized
    // shuffle at all (the count agg's shuffle moves 20 rows).
    QueryDef(
      "mix2_token_budget",
      Some(s"""WITH c AS (
              |  SELECT source,
              |    CAST(sum(len(${oTokens("text")})) AS BIGINT) AS tok
              |  FROM documents GROUP BY 1),
              |w AS (
              |  SELECT source, tok,
              |    CAST(floor(sqrt(CAST(tok AS DOUBLE)) * 1000000.0 + 0.5)
              |      AS BIGINT) AS wq
              |  FROM c),
              |tw AS (
              |  SELECT CAST(sum(wq) AS BIGINT) AS twq,
              |    CAST(sum(tok) AS BIGINT) AS ttok
              |  FROM w),
              |r AS (
              |  SELECT source, tok AS n_tokens_source,
              |    CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE) AS target_frac,
              |    least(CAST(1.0 AS DOUBLE),
              |      0.5 * CAST(ttok AS DOUBLE)
              |        * (CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE))
              |        / CAST(tok AS DOUBLE)) AS sample_rate
              |  FROM w CROSS JOIN tw)
              |SELECT d.doc_id, d.source, r.n_tokens_source, r.target_frac,
              |  r.sample_rate,
              |  ${oUnitDraw("mx2", "d.doc_id")} < r.sample_rate AS keep
              |FROM documents d JOIN r USING (source)""".stripMargin),
      (s, d) => {
        val docs = Tables.fanOut(Tables.documents(s, d))
        val c = docs
          .select(col("source"), nTokens(col("text")).as("nt"))
          .groupBy("source").agg(sum("nt").as("tok"))
        val w = c.withColumn("wq",
          floor(sqrt(col("tok").cast("double")) * 1000000.0 + 0.5)
            .cast("long"))
          // 20 rows, but each recompute re-tokenizes the corpus — persist
          // so the total and the rate table share ONE counts pass
          .persist()
        val tw = w.agg(sum("wq").as("twq"), sum("tok").as("ttok"))
        val targetFrac = col("wq").cast("double") / col("twq").cast("double")
        val r = w.crossJoin(broadcast(tw))
          .select(col("source"), col("tok").as("n_tokens_source"),
            targetFrac.as("target_frac"),
            least(lit(1.0), lit(0.5) * col("ttok").cast("double") *
              targetFrac / col("tok").cast("double")).as("sample_rate"))
        val u = unitDraw("mx2", col("doc_id"))
        docs.join(broadcast(r), "source")
          .select(col("doc_id"), col("source"), col("n_tokens_source"),
            col("target_frac"), col("sample_rate"),
            (u < col("sample_rate")).as("keep"))
      }),

    // TX11: token-normalization pipeline — the canonicalization pass that
    // runs BEFORE dedup/fingerprinting in a real corpus pipeline: strip
    // non-alphanumerics per token, drop stopwords and sub-2-char residue,
    // emit the kept count, survival ratio, and the md5 fingerprint of the
    // NORMALIZED token stream (order-sensitive — the identity downstream
    // exact dedup would key on). Pure per-row higher-order expressions;
    // the normalized text itself never needs to materialize anywhere.
    QueryDef(
      "tx11_normalize_tokens",
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    ${oNTokens("text")} AS n_raw,
             |    list_filter(
             |      list_transform(${oTokens("text")},
             |        w -> regexp_replace(w, '[^a-z0-9]', '', 'g')),
             |      w -> len(w) >= 2 AND w <> 'the' AND w <> 'a') AS kept
             |  FROM documents)
             |SELECT doc_id, n_raw,
             |  CAST(len(kept) AS BIGINT) AS n_kept,
             |  CAST(len(kept) AS DOUBLE) / CAST(n_raw AS DOUBLE)
             |    AS kept_ratio,
             |  md5(array_to_string(kept, ' ')) AS norm_fp
             |FROM t""".stripMargin),
      (s, d) => {
        val kept = filter(
          transform(tokens(col("text")),
            w => regexp_replace(w, "[^a-z0-9]", "")),
          w => length(w) >= 2 && w =!= "the" && w =!= "a")
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"),
            nTokens(col("text")).as("n_raw"),
            kept.as("kept"))
          .select(col("doc_id"), col("n_raw"),
            size(col("kept")).cast("long").as("n_kept"),
            (size(col("kept")).cast("double") / col("n_raw").cast("double"))
              .as("kept_ratio"),
            md5(concat_ws(" ", col("kept"))).as("norm_fp"))
      }),

    // TX12: bigram-LM surprisal filter — tx10's unigram filter upgraded to
    // a conditional model: p(w|prev) = (c2(prev,w) + 1) / (c1(prev) + V)
    // (add-one smoothing over the corpus's own counts), per-document mean
    // surprisal, keep = within a band of the corpus token-weighted mean —
    // self-calibrating, no magic threshold. The signal a unigram model
    // cannot see: scrambled text keeps its unigram profile but breaks its
    // bigram transitions.
    //
    // Parity: per-token surprisal quantized to the 1e-6-nat grid (tx10's
    // pattern — ln over identical integer-derived doubles, then floor),
    // all accumulation in longs. Scale shape: tokens are HASHED once per
    // document (hash32) and every downstream key — the bigram count
    // groupBys, the c1/c2 joins, the vocabulary distinct — is one or two
    // longs, never token text (the dedup-family shuffle rule; both
    // engines hash identically, so even a collision is bit-mirrored).
    // The c1/c2 joins back onto the bigram stream are unhinted —
    // Catalyst broadcasts them at fixture scale and shuffle-joins at
    // vocab scale, both correct (the dd9 doctrine); the only data-sized
    // shuffles are the count aggregates and the doc rollup.
    QueryDef(
      "tx12_bigram_surprisal",
      Some(s"""WITH t AS (
             |  SELECT doc_id, ${oTokenHashes("text")} AS lst
             |  FROM documents),
             |bp AS (
             |  SELECT doc_id, pr['p'] AS p, pr['w'] AS w FROM (
             |    SELECT doc_id, unnest(list_transform(
             |      generate_series(1, len(lst) - 1),
             |      i -> {'p': lst[i], 'w': lst[i + 1]})) AS pr
             |    FROM t)),
             |c2 AS (SELECT p, w, count(*) AS c2 FROM bp GROUP BY 1, 2),
             |c1 AS (SELECT p, count(*) AS c1 FROM bp GROUP BY 1),
             |v AS (
             |  SELECT count(DISTINCT tk) AS v FROM (
             |    SELECT unnest(lst) AS tk FROM t)),
             |q AS (
             |  SELECT doc_id,
             |    CAST(floor((ln(CAST(c1 + v AS DOUBLE)) -
             |      ln(CAST(c2 + 1 AS DOUBLE))) * 1000000.0 + 0.5) AS BIGINT)
             |      AS sq
             |  FROM bp JOIN c1 USING (p) JOIN c2 USING (p, w) CROSS JOIN v),
             |a AS (
             |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(sq) AS BIGINT) AS s
             |  FROM q GROUP BY 1),
             |tot AS (
             |  SELECT CAST(sum(s) AS BIGINT) AS ts,
             |    CAST(sum(n_bigrams) AS BIGINT) AS tn
             |  FROM a)
             |SELECT doc_id, n_bigrams,
             |  CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0
             |    AS mean_surprisal,
             |  abs(CAST(s AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0
             |    - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 1000000.0)
             |    <= 0.1 AS keep
             |FROM a CROSS JOIN tot""".stripMargin),
      (s, d) => {
        val pairs = zip_with(
          slice(col("lst"), lit(1), size(col("lst")) - 1),
          slice(col("lst"), lit(2), size(col("lst")) - 1),
          (a, b) => struct(a.as("p"), b.as("w")))
        val t = Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), tokenHashes(col("text")).as("lst"))
          .persist() // feeds the bigram stream AND the vocabulary count
        val bp = t
          .select(col("doc_id"),
            explode(when(size(col("lst")) >= 2, pairs)
              .otherwise(array().cast("array<struct<p:bigint,w:bigint>>")))
              .as("pr"))
          .select(col("doc_id"), col("pr.p").as("p"), col("pr.w").as("w"))
          .persist() // count dims + the surprisal join all read it
        val c2 = bp.groupBy("p", "w").agg(count(lit(1)).as("c2"))
        val c1 = bp.groupBy("p").agg(count(lit(1)).as("c1"))
        val v = t.select(explode(col("lst")).as("tk"))
          .agg(countDistinct("tk").as("v"))
        val sq = floor((log((col("c1") + col("v")).cast("double")) -
          log((col("c2") + 1).cast("double"))) * 1000000.0 + 0.5)
          .cast("long")
        val a = bp.join(c1, "p").join(c2, Seq("p", "w"))
          .crossJoin(broadcast(v))
          .select(col("doc_id"), sq.as("sq"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("sq").as("s"))
          // one row per doc; without this the corpus-band total below
          // re-runs the whole c1/c2 surprisal join a second time
          .persist()
        val tot = a.agg(sum("s").as("ts"), sum("n_bigrams").as("tn"))
        val ms = col("s").cast("double") /
          col("n_bigrams").cast("double") / 1000000.0
        val cms = col("ts").cast("double") /
          col("tn").cast("double") / 1000000.0
        a.crossJoin(broadcast(tot))
          .select(col("doc_id"), col("n_bigrams"),
            ms.as("mean_surprisal"),
            (abs(ms - cms) <= 0.1).as("keep"))
      }),

    // TX13: TF-IDF keyword extraction — the top-3 most characteristic
    // terms per document over the FULL corpus vocabulary (tx7's BM25
    // ranks documents for fixed query terms; this ranks terms for each
    // document). tfidf = (tf/dl) · ln(N/df), every factor an exact long
    // before ONE identical IEEE tree, rounded to the 1e-9 grid for the
    // hash compare.
    //
    // Scale shape: one tokenize+explode pass → (doc, term) hash aggregate
    // (map-side combine collapses within-doc repeats before the
    // shuffle); df is a second aggregate over the postings already keyed
    // by term; the idf join back is unhinted — broadcast at fixture
    // scale, term-keyed shuffle at vocabulary scale, Catalyst's call;
    // the top-k window partitions by doc_id (per-doc frames, never a
    // global sort). Terms ride the shuffle as raw tokens (short words)
    // — a 100 TB run would key df/idf on hash32(term) like the dd
    // family and keep one term copy for display.
    QueryDef(
      "tx13_tfidf",
      Some(s"""WITH toks AS (
             |  SELECT doc_id, unnest(${oTokens("text")}) AS term,
             |    ${oNTokens("text")} AS dl
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, term, min(dl) AS dl, count(*) AS tf
             |  FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term,
             |    round((CAST(tf.tf AS DOUBLE) / CAST(tf.dl AS DOUBLE)) *
             |      ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)),
             |      9) AS tfidf
             |  FROM tf JOIN df USING (term) CROSS JOIN n)
             |SELECT doc_id, term, CAST(rnk AS BIGINT) AS rnk, tfidf
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, term) AS rnk
             |  FROM scored)
             |WHERE rnk <= 3""".stripMargin),
      (s, d) => {
        val docs = Tables.fanOut(Tables.documents(s, d))
        val tf = docs
          .select(col("doc_id"), nTokens(col("text")).as("dl"),
            explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term")
          .agg(min("dl").as("dl"), count(lit(1)).as("tf"))
        // tf feeds both the df dimension and the scoring join; measured:
        // persisting it is a net LOSS here (1.72s → 1.89s at sf0.1) — the
        // (doc, term) frame is wide enough that materialization costs more
        // than re-running the pipelined explode+partial-agg pass
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tfidf = round(
          (col("tf").cast("double") / col("dl").cast("double")) *
            log(col("n_docs").cast("double") / col("df").cast("double")),
          9)
        val w = Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))
        tf.join(df, "term").crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("term"), tfidf.as("tfidf"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 3)
          .select("doc_id", "term", "rnk", "tfidf")
      }),

    // MIX3: SEQUENCE PACKING — the training-data step that turns a
    // document corpus into fixed-length model sequences: concatenate the
    // token stream and chop every L=512 tokens (the standard padding-free
    // "pack and chop"). Packing is inherently sequential, so it runs PER
    // SHARD (deterministic hash of doc_id) — exactly how production
    // packing jobs bound the sequential unit: shard count scales with the
    // corpus so one shard always fits a task, and the cumulative-offset
    // window partitions by shard. Each document's placement is fully
    // described by (first_seq, last_seq, seq_offset) — boundary-spanning
    // docs are visible as last_seq > first_seq. Zero-token docs carry
    // nothing to pack and are excluded by contract.
    QueryDef(
      "mix3_pack_sequences",
      Some(s"""WITH t AS (
             |  SELECT doc_id,
             |    ${oNTokens("text")} AS nt,
             |    CAST(${oHash32("CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT)
             |      AS shard
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, shard, nt,
             |    sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum
             |  FROM t WHERE nt > 0)
             |SELECT doc_id, shard, nt,
             |  CAST((cum - nt) // 512 AS BIGINT) AS first_seq,
             |  CAST((cum - 1) // 512 AS BIGINT) AS last_seq,
             |  CAST((cum - nt) % 512 AS BIGINT) AS seq_offset
             |FROM c""".stripMargin),
      (s, d) => {
        val t = Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"),
            nTokens(col("text")).as("nt"),
            (hash32(col("doc_id").cast("string")) % 8).as("shard"))
          .filter(col("nt") > 0)
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, 0)
        t.withColumn("cum", sum("nt").over(w))
          .select(col("doc_id"), col("shard"), col("nt"),
            expr("(cum - nt) DIV 512").as("first_seq"),
            expr("(cum - 1) DIV 512").as("last_seq"),
            ((col("cum") - col("nt")) % 512).as("seq_offset"))
      }),

    // MIX4: balanced shard assignment — the write-side twin of mix3:
    // distribute documents across 8 output shards so every shard carries
    // a near-equal TOKEN load (training shards are consumed in parallel;
    // the slowest shard paces the epoch). Size-aware SNAKE packing: rank
    // docs by token count descending WITHIN each source and walk the
    // ranks boustrophedon (0..7,7..0,…), so each source's heavy head is
    // spread across all shards and consecutive sizes alternate direction
    // — ~LPT balance with zero sequential bin-packing state. The rank
    // window partitions by source (bounded), never globally; the audit
    // windows run over exactly 8 shard rows. Deterministic by (nt desc,
    // doc_id) on both engines; imbalance = max/min shard load as a ratio
    // of exact longs.
    QueryDef(
      "mix4_shard_snake",
      Some(s"""WITH t AS (
             |  SELECT doc_id, source,
             |    ${oNTokens("text")} AS nt
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, source, nt,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY nt DESC, doc_id) - 1 AS rn
             |  FROM t),
             |a AS (
             |  SELECT doc_id, nt,
             |    CASE WHEN rn % 16 < 8 THEN rn % 16
             |         ELSE 15 - (rn % 16) END AS shard
             |  FROM r),
             |sh AS (
             |  SELECT CAST(shard AS BIGINT) AS shard,
             |    count(*) AS n_docs,
             |    CAST(sum(nt) AS BIGINT) AS total_tokens
             |  FROM a GROUP BY 1)
             |SELECT shard, CAST(n_docs AS BIGINT) AS n_docs, total_tokens,
             |  CAST(max(total_tokens) OVER () AS DOUBLE)
             |    / CAST(min(total_tokens) OVER () AS DOUBLE) AS imbalance
             |FROM sh""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(col("nt").desc, col("doc_id"))
        val g = Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("source"), nTokens(col("text")).as("nt"))
          .withColumn("rn", (row_number().over(w) - 1).cast("long"))
          .withColumn("shard",
            when(col("rn") % 16 < 8, col("rn") % 16)
              .otherwise(lit(15L) - col("rn") % 16))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("total_tokens"))
          .select(col("shard"), col("n_docs"), col("total_tokens"),
            (max("total_tokens").over(g).cast("double") /
              min("total_tokens").over(g).cast("double")).as("imbalance"))
      }),

    // MIX5: weighted sampling WITHOUT replacement — Efraimidis-Spirakis
    // (2006): each item draws u ∈ (0,1] and the k items with the largest
    // u^(1/w) are a size-weighted sample without replacement; picking
    // the k SMALLEST of the equivalent key −ln(u)/w avoids the pow. The
    // one-pass distributable formulation of weighted reservoir sampling
    // (a seeded RNG's draw order would depend on partitioning): here it
    // samples 5 documents per source with probability ∝ token count —
    // the corpus-subsampling step that favors long documents without a
    // global sort (the rank window partitions by source; at corpus scale
    // a plain per-partition top-k + merge computes the same keys).
    //
    // Parity: u derives from the portable hash32 (+1 keeps ln off zero),
    // the ln is rounded at 9 decimals BEFORE the weight division,
    // and both engines order identical doubles with the doc_id tiebreak.
    QueryDef(
      "mix5_weighted_sample",
      Some(s"""WITH t AS (
              |  SELECT doc_id, source,
              |    ${oNTokens("text")} AS nt,
              |    ${oKeyHash("ws", "doc_id")} AS h
              |  FROM documents),
              |k AS (
              |  SELECT doc_id, source, nt,
              |    round(-ln((CAST(h AS DOUBLE) + 1.0) / 4294967296.0), 9)
              |      / CAST(nt AS DOUBLE) AS es_key
              |  FROM t WHERE nt > 0),
              |r AS (
              |  SELECT doc_id, source, nt, es_key,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY es_key, doc_id) AS rnk
              |  FROM k)
              |SELECT source, doc_id, nt AS n_tokens, es_key,
              |  CAST(rnk AS BIGINT) AS rnk
              |FROM r WHERE rnk <= 5""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("es_key", "doc_id")
        Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("source"),
            nTokens(col("text")).as("nt"),
            keyHash("ws", col("doc_id")).as("h"))
          .filter(col("nt") > 0)
          .withColumn("es_key",
            round(-log((col("h").cast("double") + 1.0) / 4294967296.0), 9)
              / col("nt").cast("double"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 5)
          .select(col("source"), col("doc_id"), col("nt").as("n_tokens"),
            col("es_key"), col("rnk"))
      }),

    // MIX6: DSIR-style importance selection — score every document by
    // how target-domain-like it is under two HASHED unigram LMs (the
    // published importance-resampling recipe for pretraining data
    // selection: per-token log p_target(b) − log p_corpus(b), add-1
    // smoothed, summed over the doc and length-normalized; docs with
    // positive mean log-ratio read "more like the target than the
    // average corpus doc" and are kept). The target domain here is
    // source='src0' — the deterministic stand-in for the curated target
    // dataset a real run ships.
    //
    // The LM dimension is a 4096-bucket TOKEN HASH space, not the raw
    // vocabulary — that's the actual DSIR design, and it's what makes
    // the operator corpus-size-independent: both count tables are ≤ B
    // rows at ANY corpus size, so they broadcast forever, and the corpus
    // is scanned once (token explode → two tiny hash-aggs, then a pure
    // projection + per-doc sum, all map-side-combinable).
    //
    // Parity: per-token log-ratio is floor-quantized to 1e-6 BEFORE the
    // per-doc sum (the tx10 lrq doctrine — libm ln is 1-ulp-accurate,
    // never emitted raw), so the doc sum is exact long arithmetic and
    // the mean derives through one identical IEEE tree.
    QueryDef(
      "mix6_dsir_select",
      Some(s"""WITH tok AS (
              |  SELECT doc_id, source,
              |    ${oHash32("'ds:' || w")} % $DsirB AS b
              |  FROM (
              |    SELECT doc_id, source,
              |      unnest(${oTokens("text")}) AS w
              |    FROM documents)),
              |tcnt AS (
              |  SELECT b, count(*) AS ct FROM tok
              |  WHERE source = 'src0' GROUP BY b),
              |tt AS (
              |  SELECT count(*) AS t FROM tok WHERE source = 'src0'),
              |ccnt AS (SELECT b, count(*) AS cc FROM tok GROUP BY b),
              |tot AS (SELECT count(*) AS tc FROM tok),
              |q AS (
              |  SELECT doc_id, source,
              |    CAST(floor((ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE))
              |      - ln(CAST(t + $DsirB AS DOUBLE))
              |      - ln(CAST(cc + 1 AS DOUBLE))
              |      + ln(CAST(tc + $DsirB AS DOUBLE)))
              |      * 1000000.0 + 0.5) AS BIGINT) AS lrq
              |  FROM tok LEFT JOIN tcnt USING (b) JOIN ccnt USING (b)
              |  CROSS JOIN tt CROSS JOIN tot),
              |a AS (
              |  SELECT doc_id, source, CAST(count(*) AS BIGINT)
              |      AS n_tokens,
              |    CAST(sum(lrq) AS BIGINT) AS s
              |  FROM q GROUP BY 1, 2)
              |SELECT doc_id, source = 'src0' AS is_target, n_tokens,
              |  CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
              |    AS lr_mean,
              |  CAST(s AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 1000000.0
              |    > 0.0 AS keep
              |FROM a""".stripMargin),
      (s, d) => {
        val tok = Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"), col("source"),
            explode(tokens(col("text"))).as("w"))
          .select(col("doc_id"), col("source"),
            (hash32(concat(lit("ds:"), col("w"))) % DsirB).as("b"))
          .persist()
        val tgt = tok.filter(col("source") === "src0")
        val tcnt = tgt.groupBy("b").agg(count(lit(1)).as("ct"))
        val tt = tgt.agg(count(lit(1)).as("t"))
        val ccnt = tok.groupBy("b").agg(count(lit(1)).as("cc"))
        val tot = tok.agg(count(lit(1)).as("tc"))
        val lr = log((coalesce(col("ct"), lit(0L)) + 1).cast("double")) -
          log((col("t") + DsirB).cast("double")) -
          log((col("cc") + 1).cast("double")) +
          log((col("tc") + DsirB).cast("double"))
        val lrq = floor(lr * 1000000.0 + 0.5).cast("long")
        val a = tok.join(broadcast(tcnt), Seq("b"), "left")
          .join(broadcast(ccnt), "b")
          .crossJoin(broadcast(tt)).crossJoin(broadcast(tot))
          .select(col("doc_id"), col("source"), lrq.as("lrq"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_tokens"), sum("lrq").as("s"))
        val lrMean = col("s").cast("double") /
          col("n_tokens").cast("double") / 1000000.0
        a.select(col("doc_id"),
          (col("source") === "src0").as("is_target"), col("n_tokens"),
          lrMean.as("lr_mean"), (lrMean > 0.0).as("keep"))
      }),

    // TX14: vocabulary-growth profile (Heaps' law curve) — cumulative
    // distinct vocabulary and token count at 20 corpus checkpoints: the
    // curve that tells a training-data pipeline whether more of this
    // corpus still buys new vocabulary. Scale-honest construction: each
    // term contributes only its FIRST document (one term-keyed
    // aggregate), first-occurrences and token counts then collapse to
    // the 20-BUCKET grid, and the cumulative windows run over those 20
    // rows — never over documents (a per-doc cumulative window would be
    // a single unbounded partition at corpus scale).
    QueryDef(
      "tx14_vocab_growth",
      Some(s"""WITH b AS (
             |  SELECT CAST(max(doc_id) + 1 AS BIGINT) AS n FROM documents),
             |toks AS (
             |  SELECT doc_id, unnest(${oTokens("text")}) AS term
             |  FROM documents),
             |firsts AS (
             |  SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY 1),
             |vnew AS (
             |  SELECT CAST(least(first_doc * 20 // n, 19) AS BIGINT)
             |    AS bucket, count(*) AS new_terms
             |  FROM firsts, b GROUP BY 1),
             |tok AS (
             |  SELECT CAST(least(doc_id * 20 // n, 19) AS BIGINT)
             |    AS bucket,
             |    CAST(sum(len(${oTokens("text")})) AS BIGINT)
             |      AS n_tokens,
             |    count(*) AS n_docs
             |  FROM documents, b GROUP BY 1)
             |SELECT t.bucket,
             |  CAST(sum(t.n_docs) OVER w AS BIGINT) AS cum_docs,
             |  CAST(sum(t.n_tokens) OVER w AS BIGINT) AS cum_tokens,
             |  CAST(coalesce(sum(v.new_terms) OVER w, 0) AS BIGINT)
             |    AS cum_vocab
             |FROM tok t LEFT JOIN vnew v ON t.bucket = v.bucket
             |WINDOW w AS (ORDER BY t.bucket
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
        .stripMargin),
      (s, d) => {
        val docs = Tables.fanOut(Tables.documents(s, d))
        val bounds = docs.agg((max("doc_id") + 1).as("n"))
        // tokenize ONCE: both the term-firsts explode and the per-doc token
        // counts read this cached (doc_id, toks, nt) frame — without it each
        // branch re-splits the whole corpus (the r4→r6 tx14 regression was
        // exactly this double tokenize)
        val tokenized = docs
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("nt", size(col("toks")).cast("long"))
          .persist()
        val firsts = tokenized
          .select(col("doc_id"), explode(col("toks")).as("term"))
          .groupBy("term").agg(min("doc_id").as("first_doc"))
        val vnew = firsts.crossJoin(broadcast(bounds))
          .groupBy(least(expr("first_doc * 20 DIV n"), lit(19L))
            .as("bucket"))
          .agg(count(lit(1)).as("new_terms"))
        val tok = tokenized.crossJoin(broadcast(bounds))
          .groupBy(least(expr("doc_id * 20 DIV n"), lit(19L)).as("bucket"))
          .agg(sum("nt").as("n_tokens"),
            count(lit(1)).as("n_docs"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0)
        tok.join(vnew, Seq("bucket"), "left")
          .select(col("bucket"),
            sum("n_docs").over(w).as("cum_docs"),
            sum("n_tokens").over(w).as("cum_tokens"),
            coalesce(sum("new_terms").over(w), lit(0L)).as("cum_vocab"))
      }),

    // TX15: overlapping chunk windows — the segmentation step that turns
    // variable-length documents into fixed-budget training/embedding
    // units: K=32-token chunks at stride S=24 (8-token overlap so no
    // boundary context is lost; K sized so the fixture's 10-99-token docs
    // exercise 1-4 chunks), each chunk identified by the md5 of its
    // token span (the id a chunk-level dedup or vector index keys on).
    // The last chunk absorbs the sub-K tail; docs shorter than K yield
    // exactly one chunk. Chunk coverage is derivable (start/len), so the
    // original document is reconstructable from its chunk schedule.
    //
    // Scale shape: one projection + a per-row explode of the start
    // schedule — zero shuffles at any corpus size (the same
    // no-pairwise-cost rule as dd9's passages: cost ∝ tokens).
    QueryDef(
      "tx15_chunk_windows",
      Some(s"""WITH t AS (
             |  SELECT doc_id, ${oTokens("text")} AS lst,
             |    ${oNTokens("text")} AS n
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, lst, n,
             |    unnest(generate_series(1, greatest(n - 31, 1), 24))
             |      AS start
             |  FROM t)
             |SELECT doc_id,
             |  CAST((start - 1) // 24 AS BIGINT) AS chunk_idx,
             |  CAST(start AS BIGINT) AS start,
             |  CAST(least(32, n - start + 1) AS BIGINT) AS chunk_len,
             |  md5(array_to_string(
             |    lst[start : start + least(32, n - start + 1) - 1], ' '))
             |    AS chunk_md5
             |FROM s""".stripMargin),
      (s, d) => {
        val K = 32; val S = 24
        val toks = tokens(col("text"))
        val base = Tables.fanOut(Tables.documents(s, d)).select(
          col("doc_id"), toks.as("lst"),
          size(toks).cast("long").as("n"))
        val len = least(lit(K.toLong), col("n") - col("start") + 1)
        base
          .select(col("doc_id"), col("lst"), col("n"),
            explode(sequence(lit(1L),
              greatest(col("n") - (K - 1), lit(1L)), lit(S.toLong)))
              .as("start"))
          .select(col("doc_id"),
            expr(s"CAST((start - 1) DIV $S AS BIGINT)").as("chunk_idx"),
            col("start").cast("long").as("start"),
            len.cast("long").as("chunk_len"),
            md5(concat_ws(" ",
              slice(col("lst"), col("start").cast("int"), len.cast("int"))))
              .as("chunk_md5"))
      }),

    // TX16: rank-frequency head profile (the Zipf curve's top-50) — term
    // rank, count, corpus share, and CUMULATIVE share: the view that sets
    // a stopword cutoff and prices vocabulary truncation (cum_share at
    // rank k = coverage a k-term vocab head buys). Deterministic ranking:
    // ties broken by term text.
    //
    // Scale shape: one token hash-aggregate (vocabulary-sized output),
    // TakeOrdered for the top-50, then rank/cumulative windows over
    // those 50 rows only — the data-sized work is a single count shuffle,
    // and no window ever sees more than `Head` rows.
    QueryDef(
      "tx16_zipf_head",
      Some(s"""WITH tok AS (
             |  SELECT unnest(${oTokens("text")}) AS term
             |  FROM documents),
             |tot AS (SELECT count(*) AS t FROM tok),
             |c AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
             |top AS (
             |  SELECT term, n FROM c
             |  ORDER BY n DESC, term LIMIT 50)
             |SELECT
             |  CAST(row_number() OVER (ORDER BY n DESC, term) AS BIGINT)
             |    AS rank,
             |  term, n,
             |  CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS share,
             |  CAST(sum(n) OVER (ORDER BY n DESC, term
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share
             |FROM top CROSS JOIN tot""".stripMargin),
      (s, d) => {
        val tok = Tables.fanOut(Tables.documents(s, d))
          .select(explode(tokens(col("text"))).as("term"))
          .persist() // feeds the total AND the per-term counts
        val tot = tok.agg(count(lit(1)).as("t"))
        val top = tok.groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term")).limit(50)
        val w = Window.orderBy(col("n").desc, col("term"))
        val cumW = w.rowsBetween(Window.unboundedPreceding, 0)
        top.crossJoin(broadcast(tot))
          .select(
            row_number().over(w).cast("long").as("rank"),
            col("term"), col("n"),
            (col("n").cast("double") / col("t").cast("double")).as("share"),
            (sum("n").over(cumW).cast("double") / col("t").cast("double"))
              .as("cum_share"))
      }),

    // TX17: per-document n-gram NOVELTY against the earlier corpus — the
    // doc-granular complement of tx14's corpus-level Heaps curve, and
    // the signal a continual-pretraining pipeline watches: what fraction
    // of a document's distinct 3-gram shingles has never appeared in any
    // LOWER-doc_id document (ingestion order)? A crawl of near-dups reads
    // ~0; fresh material reads high; the per-doc ratio decays as the
    // corpus grows.
    //
    // Scale shape: every gram is a 32-bit hash the moment it leaves the
    // tokenizer (no strings on the wire); first-occurrence is one
    // gram-keyed min aggregate; the join back is gram-keyed on BOTH
    // sides (the aggregate reuses the explode's partitioning), then one
    // doc-keyed count — two hash-key shuffles total, map-side
    // combinable, no window over the corpus.
    QueryDef(
      "tx17_novelty",
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ${oTokens("text")} AS ts
              |  FROM documents),
              |sh AS (
              |  SELECT doc_id, unnest(${oShingleHashSet("ts")}) AS g
              |  FROM toks),
              |first AS (
              |  SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
              |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
              |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0
              |    END) AS BIGINT) AS n_novel,
              |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0
              |    END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty
              |FROM sh s JOIN first f USING (g)
              |GROUP BY s.doc_id""".stripMargin),
      (s, d) => {
        val dg = Tables.fanOut(Tables.documents(s, d))
          .select(col("doc_id"),
            explode(array_distinct(shingleHashes(col("text")))).as("g"))
          .persist() // feeds the first-occurrence dim AND the join back
        val first = dg.groupBy("g").agg(min("doc_id").as("first_doc"))
        dg.join(first, "g")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L)
              .otherwise(0L)).as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            (col("n_novel").cast("double") /
              col("n_grams").cast("double")).as("novelty"))
      }),

    // MIX7: temperature-scaled mixture weights — the α-smoothing every
    // multilingual/multi-domain training run applies (weights ∝ n^α,
    // α = 0.5): big sources are down-weighted, small ones up-weighted,
    // without the inversion a uniform target would cause. Complements
    // mix1 (externally-given weights, binding-constraint rates): here
    // the weights DERIVE from the observed counts. Parity note: sqrt
    // is IEEE-exact on both engines (unlike log/exp, which the lrq
    // doctrine quantizes), so n^0.5 is the one fractional power usable
    // raw; each weight is still floor-quantized to a 1e6 long before
    // the cross-source sum so the total is order-free integer
    // arithmetic. Everything runs on the 20-row source-count table;
    // the corpus is scanned once.
    QueryDef(
      "mix7_temperature_mixture",
      Some("""WITH c AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n
             |  FROM documents GROUP BY 1),
             |w AS (
             |  SELECT source, n,
             |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1.0e6 + 0.5e0)
             |      AS BIGINT) AS wq
             |  FROM c),
             |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS twq FROM w)
             |SELECT source, n, wq,
             |  CAST(floor(CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE)
             |    * 1.0e9 + 0.5e0) AS BIGINT) AS share_q,
             |  CAST(floor(CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE)
             |    * 10000.0) AS BIGINT) AS quota,
             |  CAST(floor(CAST(wq AS DOUBLE) / CAST(twq AS DOUBLE)
             |    * 10000.0 / CAST(n AS DOUBLE) * 1.0e9 + 0.5e0)
             |    AS BIGINT) AS rate_q
             |FROM w CROSS JOIN t""".stripMargin),
      (s, d) => {
        val c = Tables.fanOut(Tables.documents(s, d))
          .groupBy("source").agg(count(lit(1)).as("n"))
        val w = c.withColumn("wq",
          floor(sqrt(col("n").cast("double")) * 1.0e6 + 0.5).cast("long"))
        val t = broadcast(w.agg(sum("wq").as("twq")))
        val share = col("wq").cast("double") / col("twq").cast("double")
        w.crossJoin(t).select(col("source"), col("n"), col("wq"),
          floor(share * 1.0e9 + 0.5).cast("long").as("share_q"),
          floor(share * 10000.0).cast("long").as("quota"),
          floor(share * 10000.0 / col("n").cast("double") * 1.0e9 + 0.5)
            .cast("long").as("rate_q"))
      }),
  )
}
