package graft.queries

import graft.Tables
import graft.text.TextAnalysis._
import org.apache.spark.sql.functions._

/** Text-analysis queries over the `documents` corpus. Every query is a
  * narrow per-row projection (no shuffle except final aggregation where
  * noted) — at 100 TB these are pure map stages limited by scan bandwidth,
  * so column pruning matters: each selects only `doc_id` + `text`.
  */
object TextQueries {

  /** PII patterns for text_pii_scrub — ONE definition consumed by the Spark
    * builder, the DuckDB oracle, and TextPiiSpec, so the three can't drift.
    * Only constructs with identical Java-regex/RE2 semantics: character
    * classes (dot inside a class is literal), greedy and bounded
    * quantifiers.
    */
  val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val PiiPhoneRe = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"

  /** BM25 parameters — one definition for the Spark build, the oracle SQL,
    * and the spec (declared before `defs`, which captures them at object
    * init). Query terms chosen for idf contrast on the test corpus
    * ("dup" df≈25 of 500 at sf0.01; the others df≈390).
    */
  val Bm25Terms: Seq[String] = Seq("vector", "stream", "dup")
  val Bm25K1: Double = 1.2
  val Bm25B: Double = 0.75
  val Bm25TopK: Int = 15

  /** Heavy-hitters parameters: Misra–Gries counter budget and how many
    * exact top terms the grade reports over.
    */
  val HhK: Int = 64
  val HhTop: Int = 20

  /** Count-min sketch parameters: depth (hash rows), width (buckets per
    * row), and how many exact top terms the grade reports over.
    */
  val CmsD: Int = 4
  val CmsW: Int = 1024
  val CmsTop: Int = 20

  /** KMV sketch size for q_kmv_overlap (k smallest distinct hash values).
    * The (k-1)·2³²/h₍ₖ₎ estimator's relative standard error is ≈ 1/√(k-2)
    * ≈ 9% at k=128 — the error the query grades in permille. The sketched
    * universe is 3-token shingles, not single terms: the corpus vocabulary
    * (~31 terms) is smaller than k, which would leave the estimator branch
    * dead; the shingle universe is ~10k per half at sf0.01.
    */
  val KmvK: Int = 128

  /** text_oov_rate: vocabulary budget (top-V terms by frequency). Sized to
    * the test corpus's 31-term synthetic vocabulary so OOV is nonzero; a
    * production tokenizer budget (e.g. 2^15) only changes this constant.
    */
  val OovVocab: Int = 16
  val KmvShingleK: Int = 3

  /** Repeated-span mining parameters: span length in tokens, minimum
    * distinct-document spread to call a span "repeated", and how many
    * top spans the report carries.
    */
  val SpanK: Int = 8
  val SpanMinDocs: Int = 2
  val SpanTop: Int = 20

  /** text_bpe_pairs: how many top character pairs the report carries. */
  val BpeTop: Int = 30

  /** text_bpe_encode: merge rounds the unrolled trainer learns before
    * encoding (production runs the same dataflow in a driver loop; the
    * unroll keeps the whole program oracle-expressible).
    */
  val BpeEncMerges: Int = 4

  /** text_bigram_lm: fixed-point scale for the bigram probability and the
    * keep threshold (avg bigram probability ≥ LmKeepFx/LmFx). The
    * threshold is calibrated to split this corpus: repeated/template text
    * (high bigram predictability) clears it, shuffled or high-entropy
    * text does not.
    */
  val LmFx: Long = 1000000L
  val LmKeepFx: Long = 33000L

  /** Co-occurrence parameters: vocabulary size (top-V by document
    * frequency) and minimum pair support for text_cooccurrence_pmi.
    */
  val CoocVocab: Int = 50
  val CoocMinSupport: Int = 3

  /** Posting-list segment width (docs per bucket) for q_inverted_index. */
  val InvBucket: Int = 100

  /** Gopher/C4-style composite quality filter: per-rule boolean flags over
    * the oracle-verified quality signals plus their conjunction `keep`.
    * Shared by `text_quality_filter` and `q_curation_pipeline`. Thresholds
    * are calibrated to the corpus (token count ≥ 20, stopword ratio
    * ≥ 0.03, mean word length in [3,10], digit and punctuation ratios
    * ≤ 0.2) so the filter actually splits the data. Map-only, no shuffle;
    * flags stay attached so a dropped doc is auditable by reason.
    */
  private[queries] def qualityFilter(spark: org.apache.spark.sql.SparkSession,
                                     dir: String): org.apache.spark.sql.DataFrame = {
    val s = qualitySignals(col("text")).toMap
    val rules = Seq(
      "r_min_tokens" -> (s("n_tokens") >= 20L),
      "r_stopwords" -> (s("stop_ratio") >= 0.03d),
      "r_word_len" -> (s("mean_word_len") >= 3.0d && s("mean_word_len") <= 10.0d),
      "r_digit" -> (s("digit_ratio") <= 0.2d),
      "r_punct" -> (s("punct_ratio") <= 0.2d)
    )
    val keep = rules.map(_._2).reduce(_ && _)
    Tables.documents(spark, dir)
      .select(col("doc_id") +: rules.map { case (n, c) => c.as(n) } :+ keep.as("keep"): _*)
  }

  /** Complete SQL statement for [[qualityFilter]] (nestable in a WITH chain). */
  private[queries] val qualityFilterSql = {
    val s = qualitySignalsSql("text").toMap
    val rules = Seq(
      "r_min_tokens" -> s"(${s("n_tokens")} >= 20)",
      "r_stopwords" -> s"(${s("stop_ratio")} >= 0.03)",
      "r_word_len" -> s"(${s("mean_word_len")} >= 3.0 AND ${s("mean_word_len")} <= 10.0)",
      "r_digit" -> s"(${s("digit_ratio")} <= 0.2)",
      "r_punct" -> s"(${s("punct_ratio")} <= 0.2)"
    )
    val keep = rules.map(_._2).mkString("(", " AND ", ")")
    s"""SELECT doc_id,
       |       ${rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n       ")},
       |       $keep AS keep
       |FROM documents""".stripMargin
  }

  /** The BPE trainer's input: the word-frequency table with
    * boundary-spaced symbol strings (v0). Shared by `text_bpe_artifact`
    * and `q_export_pipeline`; `text_bpe_encode` inlines the same shape in
    * its unrolled no-collect variant.
    */
  private[queries] def bpeWordTable(spark: org.apache.spark.sql.SparkSession,
                                    dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
      .select(col("word"), col("wn"),
              concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"))

  /** The collect-style BPE trainer (pair-count → argmax with the
    * count DESC, pair ASC tie-break → boundary-spaced replace,
    * [[BpeEncMerges]] rounds; the 1-row collect per round is
    * driver-grain in production too — the merge list IS the artifact
    * being built). Returns the incrementally trained word table and the
    * ordered merge list; reload-path application is [[bpeApplyMerges]].
    */
  private[queries] def bpeTrainMerges(v0: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[String]) = {
    var v = v0
    val merges = scala.collection.mutable.ArrayBuffer.empty[String]
    for (_ <- 1 to BpeEncMerges) {
      val mp = v
        .select(col("wn"), split(trim(col("s")), " ").as("sy"))
        .where(expr("size(sy) >= 2"))
        .select(col("wn"), explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .select(col("pair")).as[String](org.apache.spark.sql.Encoders.STRING)
        .head()
      merges += mp
      v = v.select(col("word"), col("wn"),
                   expr(s"replace(s, concat(' ', '$mp', ' '), " +
                        s"concat(' ', replace('$mp', ' ', ''), ' '))").as("s"))
    }
    (v, merges.toSeq)
  }

  /** The merge-application expression shared by [[bpeApplyMerges]] and
    * [[bpeApplySymbols]]: an artifact's merges in rank order as ONE
    * chained map over the boundary-spaced symbol string.
    */
  private def bpeMergedExpr(merges: Seq[String]): String =
    merges.foldLeft("s") { (acc, mp) =>
      s"replace($acc, concat(' ', '$mp', ' '), concat(' ', replace('$mp', ' ', ''), ' '))"
    }

  /** The production tokenizer-LOAD path: apply an artifact's merges in
    * rank order (no pair statistics at load time) → (word, n_sym).
    */
  private[queries] def bpeApplyMerges(v0: org.apache.spark.sql.DataFrame,
                                      merges: Seq[String]): org.apache.spark.sql.DataFrame =
    v0.select(col("word"),
              expr(s"size(split(trim(${bpeMergedExpr(merges)}), ' '))").cast("long").as("n_sym"))

  /** [[bpeApplyMerges]] keeping the ORDERED symbol sequence per word —
    * the id-assignment grain for `q_tokenized_shards`' input_ids export.
    */
  private[queries] def bpeApplySymbols(v0: org.apache.spark.sql.DataFrame,
                                       merges: Seq[String]): org.apache.spark.sql.DataFrame =
    v0.select(col("word"),
              expr(s"split(trim(${bpeMergedExpr(merges)}), ' ')").as("syms"))

  /** The independent DuckDB BPE-retrain CTE chain (`v0`, the unrolled
    * `p{i}/t{i}/v{i}` rounds, `wlen(word, n_sym)`), nestable in a WITH —
    * ONE definition consumed by the `text_bpe_encode`,
    * `text_bpe_artifact`, and `q_export_pipeline` oracles, so the
    * retrain the three gates grade against cannot drift.
    */
  private[queries] val bpeOracleCtes: String = {
    val rounds = (1 to BpeEncMerges).map { i =>
      s"""p$i AS (
         |  SELECT pair, SUM(wn) AS n FROM (
         |    SELECT wn, unnest(list_transform(generate_series(1, len(sy) - 1),
         |                                     j -> sy[j] || ' ' || sy[j + 1])) AS pair
         |    FROM (SELECT wn, string_split(trim(s), ' ') AS sy FROM v${i - 1})
         |    WHERE len(sy) >= 2)
         |  GROUP BY pair
         |),
         |t$i AS (SELECT pair AS mp FROM p$i ORDER BY n DESC, pair ASC LIMIT 1),
         |v$i AS (
         |  SELECT word, wn,
         |         replace(s, ' ' || mp || ' ', ' ' || replace(mp, ' ', '') || ' ') AS s
         |  FROM v${i - 1} CROSS JOIN t$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT word, COUNT(*) AS wn,
       |         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
       |  FROM (SELECT unnest(${tokensSql("text")}) AS word FROM documents)
       |  GROUP BY word
       |),
       |$rounds,
       |wsy AS (
       |  SELECT word, string_split(trim(s), ' ') AS sy FROM v$BpeEncMerges
       |),
       |wlen AS (
       |  SELECT word, CAST(len(sy) AS BIGINT) AS n_sym FROM wsy
       |)""".stripMargin
  }

  /** The id-assignment tail of the retrain oracle, nestable after
    * [[bpeOracleCtes]]: the deterministic vocabulary (distinct final
    * symbols in lexicographic order, 0-based ids — the portable stand-in
    * for a production tokenizer's shipped vocab file) and each word's
    * ORDERED id list. Mirrors [[bpeApplySymbols]] + the vocab/wids stages
    * of `q_tokenized_shards`.
    */
  private[queries] val bpeIdCtes: String =
    s"""vocab AS (
       |  SELECT sym, CAST(ROW_NUMBER() OVER (ORDER BY sym) - 1 AS BIGINT) AS id
       |  FROM (SELECT DISTINCT unnest(sy) AS sym FROM wsy)
       |),
       |wsp AS (
       |  SELECT word, unnest(sy) AS sym,
       |         unnest(generate_series(1, len(sy))) AS sp
       |  FROM wsy
       |),
       |wids AS (
       |  SELECT word, list(id ORDER BY sp) AS ids
       |  FROM wsp JOIN vocab USING (sym) GROUP BY word
       |)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // token counting: whitespace, BPE-ish subword, and distinct-token counts
    QueryDef(
      "text_token_counts",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"),
                  wsTokenCount(col("text")).cast("long").as("n_ws_tokens"),
                  bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
                  size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct_tokens"))
      },
      Some(s"""SELECT doc_id,
              |       CAST(${wsTokenCountSql("text")} AS BIGINT) AS n_ws_tokens,
              |       CAST(${bpeTokenCountSql("text")} AS BIGINT) AS n_bpe_tokens,
              |       CAST(len(list_distinct(${tokensSql("text")})) AS BIGINT) AS n_distinct_tokens
              |FROM documents""".stripMargin)
    ),

    // quality scoring: ratios + fixed-weight composite
    QueryDef(
      "text_quality",
      (spark, dir) => {
        val sigs = qualitySignals(col("text")).map { case (n, c) => c.as(n) }
        Tables.documents(spark, dir).select(col("doc_id") +: sigs: _*)
      },
      Some({
        val sigs = qualitySignalsSql("text").map { case (n, e) => s"$e AS $n" }
        s"""SELECT doc_id, ${sigs.mkString(",\n       ")}
           |FROM documents""".stripMargin
      })
    ),

    // composite document-quality FILTER (Gopher/C4-style): each rule is a
    // named boolean over the oracle-verified quality signals, `keep` is
    // their conjunction — the decision column a training-data pipeline
    // partitions on. Thresholds are calibrated to the corpus (token count
    // ≥ 20, stopword ratio ≥ 0.03, mean word length in [3,10], digit and
    // punctuation ratios ≤ 0.2) so the filter actually splits the data
    // rather than passing everything. Map-only: one pass, no shuffle;
    // flags stay attached so a dropped doc is auditable by reason.
    QueryDef(
      "text_quality_filter",
      (spark, dir) => {
        qualityFilter(spark, dir)
      },
      Some(qualityFilterSql)
    ),

    // language identification: per-language marker scores + argmax, compared
    // against the generator's `lang` label (accuracy rollup by true label)
    QueryDef(
      "text_langid",
      (spark, dir) => {
        val scores = langScores(col("text")).map { case (n, c) => c.as(n) }
        Tables.documents(spark, dir)
          .select(Seq(col("doc_id"), col("lang"), langPredict(col("text")).as("lang_pred")) ++ scores: _*)
      },
      Some({
        val scores = langScoresSql("text").map { case (n, e) => s"$e AS $n" }
        s"""SELECT doc_id, lang, ${langPredictSql("text")} AS lang_pred,
           |       ${scores.mkString(",\n       ")}
           |FROM documents""".stripMargin
      })
    ),

    // document fingerprinting: normalized-content md5 + min/max shingle hash
    // (1-perm minhash) + shingle cardinality. Staged projections bind each
    // intermediate array (tokens → shingles → hashes) ONCE — inlining the
    // chain re-evaluates it per consuming expression (tokenize ×4 per row;
    // measured 7s → sub-second at sf0.1), and CollapseProject keeps the
    // stages because the bound arrays are non-cheap and multiply referenced.
    QueryDef(
      "text_fingerprint",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), col("text"), shinglesOf(col("toks"), 3).as("shn"))
          .select(col("doc_id"), col("text"), col("shn"),
                  graft.expressions.SignatureExpressions.h32Array(col("shn")).as("hs"))
          .select(col("doc_id"),
                  contentHash(col("text")).as("content_md5"),
                  array_min(col("hs")).as("min_shingle_h"),
                  array_max(col("hs")).as("max_shingle_h"),
                  size(array_distinct(col("shn"))).cast("long").as("n_distinct_shingles"))
      },
      Some({
        val sh = shingleHashesSql("text", 3)
        s"""SELECT doc_id,
           |       ${contentHashSql("text")} AS content_md5,
           |       list_min($sh) AS min_shingle_h,
           |       list_max($sh) AS max_shingle_h,
           |       CAST(len(list_distinct(${shinglesSql("text", 3)})) AS BIGINT) AS n_distinct_shingles
           |FROM documents""".stripMargin
      })
    ),

    // explode/Generate: flatten the token stream and aggregate term
    // frequencies — the inverted-index/vocabulary build shape. Top-20 with
    // unique tiebreak for determinism.
    QueryDef(
      "text_term_frequency",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token"))
          .limit(20)
      },
      Some(s"""SELECT token, COUNT(*) AS tf
              |FROM (SELECT unnest(${tokensSql("text")}) AS token FROM documents)
              |GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin)
    ),

    // PII scrubbing: count and redact email/phone-shaped spans — the
    // privacy pass every training-data pipeline runs before tokenization.
    // Map-only; patterns use only constructs with identical semantics in
    // Java regex (Spark) and RE2 (DuckDB): character classes (dot inside a
    // class is literal — no escape-level pitfalls), greedy quantifiers,
    // bounded repetition.
    QueryDef(
      "text_pii_scrub",
      (spark, dir) => {
        // emails scrub first; phones are counted on the email-scrubbed text
        // so a phone-shaped span inside an email local-part is neither
        // double-counted nor reported as an unredacted phone — n_phones
        // always equals the number of <PHONE> tokens emitted
        Tables.documents(spark, dir)
          .select(col("doc_id"),
                  regexp_count(col("text"), lit(PiiEmailRe)).cast("long").as("n_emails"),
                  regexp_replace(col("text"), PiiEmailRe, "<EMAIL>").as("t1"))
          .select(col("doc_id"), col("n_emails"),
                  regexp_count(col("t1"), lit(PiiPhoneRe)).cast("long").as("n_phones"),
                  md5(regexp_replace(col("t1"), PiiPhoneRe, "<PHONE>")).as("scrubbed_md5"))
      },
      Some(s"""SELECT doc_id, n_emails,
              |       CAST(len(regexp_extract_all(t1, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
              |       md5(regexp_replace(t1, '$PiiPhoneRe', '<PHONE>', 'g')) AS scrubbed_md5
              |FROM (
              |  SELECT doc_id,
              |         CAST(len(regexp_extract_all(text, '$PiiEmailRe')) AS BIGINT) AS n_emails,
              |         regexp_replace(text, '$PiiEmailRe', '<EMAIL>', 'g') AS t1
              |  FROM documents
              |)""".stripMargin)
    ),

    // tf-idf vocabulary scoring in EXACT FIXED-POINT: idf is the integer
    // ratio (n_docs × 10^6) div df rather than a float log — deterministic
    // across engines (transcendental log differs in the last ulp between
    // libm implementations) while preserving the idf ordering. One explode
    // + one hash agg + a broadcast scalar; top-20 with unique tiebreak.
    QueryDef(
      "text_tfidf",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df_docs"))
          .crossJoin(broadcast(nd))
          .select(col("token"), col("tf"), col("df_docs"),
                  expr("tf * ((n_docs * 1000000) div df_docs)").as("tfidf_score"))
          .orderBy(col("tfidf_score").desc, col("token"))
          .limit(20)
      },
      Some(s"""SELECT token, tf, df_docs,
              |       CAST(tf * ((n_docs * 1000000) // df_docs) AS BIGINT) AS tfidf_score
              |FROM (
              |  SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df_docs
              |  FROM (SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM documents)
              |  GROUP BY token
              |) CROSS JOIN (SELECT COUNT(*) AS n_docs FROM documents)
              |ORDER BY tfidf_score DESC, token LIMIT 20""".stripMargin)
    ),

    // within-document repetition: duplicate 3-gram fraction — the standard
    // LLM-corpus repetition quality gate (degenerate/looping text has a
    // high ratio). Map-only; ratio is an exact-int division so the double
    // is bit-identical across engines.
    QueryDef(
      "text_repetition",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), shinglesOf(col("toks"), 3).as("shn"))
          .select(col("doc_id"),
                  size(col("shn")).cast("long").as("n_shingles"),
                  size(array_distinct(col("shn"))).cast("long").as("n_distinct"))
          .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
                  when(col("n_shingles") > 0,
                       lit(1.0) - col("n_distinct").cast("double") / col("n_shingles").cast("double"))
                    .otherwise(lit(0.0)).as("rep_ratio"))
          .withColumn("flagged", col("rep_ratio") > 0.2)
      },
      Some(s"""SELECT doc_id, n_shingles, n_distinct, rep_ratio, rep_ratio > CAST(0.2 AS DOUBLE) AS flagged
              |FROM (
              |  SELECT doc_id, n_shingles, n_distinct,
              |         CASE WHEN n_shingles > 0
              |              THEN CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / CAST(n_shingles AS DOUBLE)
              |              ELSE CAST(0 AS DOUBLE) END AS rep_ratio
              |  FROM (
              |    SELECT doc_id,
              |           CAST(len(sh) AS BIGINT) AS n_shingles,
              |           CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct
              |    FROM (SELECT doc_id, ${shinglesSql("text", 3)} AS sh FROM documents)
              |  )
              |)""".stripMargin)
    ),

    // corpus rollup: the aggregation consumers actually run — token budget +
    // mean quality per (source, lang). Sums are exact integer/decimal.
    QueryDef(
      "text_corpus_stats",
      (spark, dir) => {
        Tables.documents(spark, dir)
          .select(col("source"), col("lang"),
                  bpeTokenCount(col("text")).cast("long").as("toks"))
          .groupBy(col("source"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("toks")).cast("long").as("total_tokens"),
               min(col("toks")).as("min_tokens"),
               max(col("toks")).as("max_tokens"))
      },
      // CAST(SUM AS BIGINT): DuckDB SUM(BIGINT) widens to HUGEINT → float64
      // through the driver's pandas path; int64 on both sides hash-matches
      Some(s"""SELECT source, lang, COUNT(*) AS n_docs,
              |       CAST(SUM(toks) AS BIGINT) AS total_tokens,
              |       MIN(toks) AS min_tokens, MAX(toks) AS max_tokens
              |FROM (SELECT source, lang, CAST(${bpeTokenCountSql("text")} AS BIGINT) AS toks FROM documents)
              |GROUP BY source, lang""".stripMargin)
    ),

    // approximate heavy hitters graded against exact, in-query — the third
    // graded sketch (q_approx_distinct: HLL; q_approx_quantiles:
    // percentile; here: Misra–Gries frequency). MG keeps O(k) state per
    // partition and merges map-side — the bounded-state alternative to a
    // full term groupBy when the vocabulary explodes at 100 TB. The MG
    // summary CONTENTS are merge-order-dependent near the threshold, so
    // the query exposes only the order-insensitive theorem: every term
    // with exact count > N/(k+1) MUST appear in the summary. `ok` is that
    // check (vacuously true for non-guaranteed terms); the oracle pins it
    // TRUE, so a buggy sketch fails the hash compare. guaranteed uses
    // exact integer arithmetic (n·(k+1) > N), no division. The output is
    // the top-HhTop exact terms UNIONed with EVERY theorem-guaranteed term
    // (up to k of them can exceed N/(k+1)) — so no guaranteed term escapes
    // grading even when more than HhTop qualify. Both branches are
    // scale-safe: TakeOrderedAndProject for the top-N, a broadcast-total
    // map-side filter (≤ k survivors) for the guaranteed set — no global
    // window over the vocabulary.
    QueryDef(
      "q_heavy_hitters",
      (spark, dir) => {
        import spark.implicits._
        val terms = Tables.documents(spark, dir)
          .select(explode(tokens(col("text"))).as("term"))
        val mg = terms.as[String]
          .select(graft.functions.Udafs.MisraGries(HhK).toColumn.name("summary"))
        val cnt = terms.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        val tot = cnt.agg(sum(col("n_exact")).cast("long").as("n_total"))
        val guaranteed = col("n_exact") * (HhK + 1).toLong > col("n_total")
        val top = cnt.orderBy(col("n_exact").desc, col("term").asc).limit(HhTop)
        val guar = cnt.crossJoin(broadcast(tot))
          .where(guaranteed).select(col("term"), col("n_exact"))
        top.union(guar).distinct()
          .crossJoin(broadcast(tot))
          .crossJoin(broadcast(mg))
          .select(col("term"), col("n_exact"),
                  guaranteed.as("guaranteed"),
                  (!guaranteed ||
                    array_contains(map_keys(col("summary")), col("term"))).as("ok"))
          .orderBy(col("n_exact").desc, col("term").asc)
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(${tokensSql("text")}) AS term FROM documents
              |),
              |cnt AS (SELECT term, COUNT(*) AS n_exact FROM t GROUP BY 1),
              |tot AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n_total FROM cnt),
              |sel AS (
              |  SELECT term, n_exact FROM (
              |    SELECT term, n_exact FROM cnt
              |    ORDER BY n_exact DESC, term ASC LIMIT $HhTop)
              |  UNION
              |  SELECT term, n_exact FROM cnt CROSS JOIN tot
              |  WHERE n_exact * ${HhK + 1} > n_total
              |)
              |SELECT term, n_exact,
              |       (n_exact * ${HhK + 1} > n_total) AS guaranteed,
              |       TRUE AS ok
              |FROM sel CROSS JOIN tot
              |ORDER BY n_exact DESC, term ASC""".stripMargin)
    ),

    // count-min sketch graded against exact, in-query — the FOURTH graded
    // sketch (HLL distinct, percentile, Misra–Gries frequency, and now CMS
    // point-frequency). The sketch is CmsD×CmsW counters: every token
    // occurrence increments one bucket per hash row, so the build is a
    // single hash-agg over the token stream whose map-side combine reduces
    // each partition to ≤ D×W partial rows — bounded state where a full
    // term groupBy carries the whole vocabulary; the finished sketch
    // (≤ 4096 rows) broadcasts to answer point queries. Grading exposes
    // the THEOREM (deterministic, per instance): every row's counter
    // includes every occurrence of the term, so est = min(counters) ≥
    // exact — the oracle PINS never_undercounts TRUE, so an engine that
    // ever undercounts hash-mismatches. The overestimate magnitude is
    // data-dependent (fixed md5-derived hashes), so it is REPORTED and
    // compared value-for-value rather than pinned: within_bound applies
    // the 2N/W Markov-style yardstick identically on both engines.
    QueryDef(
      "q_countmin",
      (spark, dir) => {
        import graft.functions.Hashing
        val terms = Tables.documents(spark, dir)
          .select(explode(tokens(col("text"))).as("term"))
        def rowBuckets = array((0 until CmsD).map { di =>
          struct(lit(di).as("d"),
                 pmod(Hashing.h32(concat_ws(":", col("term"), lit(di))),
                      lit(CmsW.toLong)).as("bucket"))
        }: _*)
        val counters = terms.select(explode(rowBuckets).as("e"))
          .groupBy(col("e.d").as("d"), col("e.bucket").as("bucket"))
          .agg(count(lit(1)).as("c"))
        val cnt = terms.groupBy(col("term")).agg(count(lit(1)).as("n_exact"))
        // NOTE (r18, measured and REJECTED): deriving n_total from the
        // finished sketch (Σ counters.c DIV CmsD — value-identical) looks
        // like it saves this arm's tokenize pass, but the executed plan
        // shares NO exchange between the two counters consumers (broadcast
        // probe join + total agg), so the counters subtree — whose explode
        // is CmsD× wider than this one — ran twice. Interleaved A/B:
        // 1.47→1.62 / 1.31→1.39 s, consistently ~8% slower. Kept as-is.
        val tot = cnt.agg(sum(col("n_exact")).cast("long").as("n_total"))
        val top = cnt.orderBy(col("n_exact").desc, col("term").asc).limit(CmsTop)
        val probes = top
          .select(col("term"), col("n_exact"), explode(rowBuckets).as("p"))
          .select(col("term"), col("n_exact"),
                  col("p.d").as("d"), col("p.bucket").as("bucket"))
        probes.join(broadcast(counters), Seq("d", "bucket"))
          .groupBy(col("term"), col("n_exact"))
          .agg(min(col("c")).cast("long").as("cms_estimate"))
          .crossJoin(broadcast(tot))
          .select(col("term"), col("n_exact"), col("cms_estimate"),
                  (col("cms_estimate") - col("n_exact")).as("overestimate"),
                  (col("cms_estimate") >= col("n_exact")).as("never_undercounts"),
                  ((col("cms_estimate") - col("n_exact")) * lit(CmsW.toLong / 2) <=
                    col("n_total")).as("within_bound"))
          .orderBy(col("n_exact").desc, col("term").asc)
      },
      Some {
        val h = graft.functions.Hashing.h32Sql("term || ':' || d")
        s"""WITH t AS (
           |  SELECT unnest(${tokensSql("text")}) AS term FROM documents
           |),
           |ds AS (SELECT unnest(range(0, $CmsD)) AS d),
           |cnt AS (SELECT term, COUNT(*) AS n_exact FROM t GROUP BY 1),
           |tot AS (SELECT CAST(SUM(n_exact) AS BIGINT) AS n_total FROM cnt),
           |counters AS (
           |  SELECT d, $h % $CmsW AS bucket, COUNT(*) AS c
           |  FROM t CROSS JOIN ds GROUP BY 1, 2
           |),
           |top AS (
           |  SELECT term, n_exact FROM cnt ORDER BY n_exact DESC, term ASC LIMIT $CmsTop
           |),
           |probes AS (
           |  SELECT term, n_exact, d, $h % $CmsW AS bucket FROM top CROSS JOIN ds
           |),
           |est AS (
           |  SELECT term, n_exact, CAST(MIN(c) AS BIGINT) AS cms_estimate
           |  FROM probes JOIN counters USING (d, bucket) GROUP BY 1, 2
           |)
           |SELECT term, n_exact, cms_estimate,
           |       cms_estimate - n_exact AS overestimate,
           |       TRUE AS never_undercounts,
           |       (cms_estimate - n_exact) * ${CmsW / 2} <= n_total AS within_bound
           |FROM est CROSS JOIN tot
           |ORDER BY n_exact DESC, term ASC""".stripMargin
      }
    ),

    // KMV (k-minimum-values, Beyer et al. SIGMOD'07) distinct-cardinality
    // sketch with SET OPERATIONS, graded against exact in-query — the FIFTH
    // graded sketch (HLL distinct, percentile, Misra–Gries, CMS, and now
    // KMV union/intersection). The corpus splits into two source halves;
    // each half's sketch is the k smallest distinct 3-shingle hashes, built by
    // the bounded MinKLong aggregator (O(k) map-side state — a vocabulary
    // groupBy is NOT needed beyond the distinct). The union sketch is then
    // COMPOSED from the two finished sketches with no second data pass (the
    // k smallest of a union are the k smallest of the member sketches'
    // concatenation — each is within its own set's k smallest), which is
    // the property that makes KMV the right overlap estimator at 100 TB:
    // per-corpus sketches persist as ~1 KB rows and any pair's overlap is
    // answerable sketch-vs-sketch. Intersection: any union-sketch member
    // belonging to A is necessarily in A's sketch, so the sketch-join
    // membership test is EXACT for union-sketch members and ρ·est_union is
    // the Beyer et al. intersection estimator. All estimator arithmetic is
    // exact integer ((k-1)·2³² div h₍ₖ₎) so both engines produce identical
    // values; the observed error vs exact is REPORTED in permille (expected
    // ≈ 1/√(k-2) ≈ 9% for the union; larger for the intersection, whose
    // Jaccard factor ρ adds binomial noise).
    QueryDef(
      "q_kmv_overlap",
      (spark, dir) => {
        import spark.implicits._
        import graft.functions.{Hashing, Udafs}
        val num = (KmvK - 1).toLong * Hashing.H32Max // estimator numerator (k-1)·2³²
        // hash BEFORE the distinct: the shuffle carries (grp, int64), not
        // (grp, shingle string) — ~5× less shuffle volume. The "exact"
        // grading reference is therefore distinct-HASH cardinality, which
        // is exactly the quantity the KMV estimator targets (and identical
        // on both engines); it differs from distinct-shingle cardinality
        // only by 32-bit collisions, E[n²/2³³] ≈ 10 of ~300k at sf0.1.
        val gt = Tables.documents(spark, dir)
          .select(when(substring(col("source"), 4, 10).cast("int") < 10, lit("a"))
                    .otherwise(lit("b")).as("grp"),
                  // bind the token array BEFORE shingling: shinglesOf's
                  // lambda re-evaluates its operand per shingle
                  tokens(col("text")).as("toks"))
          .select(col("grp"), explode(shinglesOf(col("toks"), KmvShingleK)).as("term"))
          .select(col("grp"), Hashing.h32(col("term")).as("h"))
          .distinct()
          .persist()
        gt.count() // eager: exact counts AND the sketches consume this
        val exact = gt.agg(
          sum(when(col("grp") === "a", 1L).otherwise(0L)).cast("long").as("n_exact_a"),
          sum(when(col("grp") === "b", 1L).otherwise(0L)).cast("long").as("n_exact_b"),
          countDistinct(col("h")).cast("long").as("n_exact_union"))
          .withColumn("n_exact_inter",
                      (col("n_exact_a") + col("n_exact_b") - col("n_exact_union")).cast("long"))
        val sk = gt
          .as[Udafs.KeyedHash]
          .groupByKey(_.grp).mapValues(_.h)
          .agg(Udafs.MinKLong(KmvK).toColumn.name("sketch"))
          .toDF("grp", "sketch")
        val skRow = sk.agg(
          first(when(col("grp") === "a", col("sketch")), ignoreNulls = true).as("ska"),
          first(when(col("grp") === "b", col("sketch")), ignoreNulls = true).as("skb"))
        exact.crossJoin(broadcast(skRow))
          .withColumn("sku", expr(s"slice(array_sort(array_distinct(concat(ska, skb))), 1, $KmvK)"))
          .withColumn("n_sku", expr("size(sku)"))
          .withColumn("kmv_matched", expr(
            "CAST(size(filter(sku, x -> array_contains(ska, x) AND array_contains(skb, x))) AS BIGINT)"))
          .withColumn("kmv_est_a", expr(
            s"CASE WHEN size(ska) < $KmvK THEN CAST(size(ska) AS BIGINT) ELSE CAST($num div element_at(ska, $KmvK) AS BIGINT) END"))
          .withColumn("kmv_est_b", expr(
            s"CASE WHEN size(skb) < $KmvK THEN CAST(size(skb) AS BIGINT) ELSE CAST($num div element_at(skb, $KmvK) AS BIGINT) END"))
          .withColumn("kmv_est_union", expr(
            s"CASE WHEN n_sku < $KmvK THEN CAST(n_sku AS BIGINT) ELSE CAST($num div element_at(sku, $KmvK) AS BIGINT) END"))
          .withColumn("kmv_est_inter", expr(
            "CASE WHEN n_sku = 0 THEN CAST(0 AS BIGINT) ELSE CAST((kmv_matched * kmv_est_union) div n_sku AS BIGINT) END"))
          .withColumn("err_union_permille", expr(
            "CASE WHEN n_exact_union = 0 THEN CAST(0 AS BIGINT) ELSE CAST(abs(kmv_est_union - n_exact_union) * 1000 div n_exact_union AS BIGINT) END"))
          .withColumn("err_inter_permille", expr(
            "CASE WHEN n_exact_inter = 0 THEN CAST(0 AS BIGINT) ELSE CAST(abs(kmv_est_inter - n_exact_inter) * 1000 div n_exact_inter AS BIGINT) END"))
          .select(lit(KmvK.toLong).as("k"),
                  col("n_exact_a"), col("n_exact_b"),
                  col("n_exact_union"), col("n_exact_inter"),
                  col("kmv_est_a"), col("kmv_est_b"),
                  col("kmv_est_union"), col("kmv_est_inter"),
                  col("kmv_matched"),
                  col("err_union_permille"), col("err_inter_permille"))
      },
      Some {
        val num = (KmvK - 1).toLong * graft.functions.Hashing.H32Max
        val h = graft.functions.Hashing.h32Sql("term")
        s"""WITH toks AS (
           |  SELECT CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'a' ELSE 'b' END AS grp,
           |         unnest(${shinglesSql("text", KmvShingleK)}) AS term
           |  FROM documents
           |),
           |gh AS (SELECT DISTINCT grp, $h AS h FROM toks),
           |exact AS (
           |  SELECT CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_a,
           |         CAST(SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_b,
           |         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact_union,
           |         CAST(SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
           |              + SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
           |              - COUNT(DISTINCT h) AS BIGINT) AS n_exact_inter
           |  FROM gh
           |),
           |ska_t AS (SELECT list(h ORDER BY h) AS ska
           |          FROM (SELECT h FROM gh WHERE grp = 'a' ORDER BY h LIMIT $KmvK)),
           |skb_t AS (SELECT list(h ORDER BY h) AS skb
           |          FROM (SELECT h FROM gh WHERE grp = 'b' ORDER BY h LIMIT $KmvK)),
           |m AS (
           |  SELECT *, (list_sort(list_distinct(list_concat(ska, skb))))[1:$KmvK] AS sku
           |  FROM exact CROSS JOIN ska_t CROSS JOIN skb_t
           |),
           |m2 AS (
           |  SELECT *, len(sku) AS n_sku,
           |         CAST(len(list_filter(sku, x -> list_contains(ska, x) AND list_contains(skb, x))) AS BIGINT) AS kmv_matched,
           |         CASE WHEN len(ska) < $KmvK THEN CAST(len(ska) AS BIGINT)
           |              ELSE CAST($num // ska[$KmvK] AS BIGINT) END AS kmv_est_a,
           |         CASE WHEN len(skb) < $KmvK THEN CAST(len(skb) AS BIGINT)
           |              ELSE CAST($num // skb[$KmvK] AS BIGINT) END AS kmv_est_b
           |  FROM m
           |),
           |m3 AS (
           |  SELECT *,
           |         CASE WHEN n_sku < $KmvK THEN CAST(n_sku AS BIGINT)
           |              ELSE CAST($num // sku[$KmvK] AS BIGINT) END AS kmv_est_union
           |  FROM m2
           |),
           |m4 AS (
           |  SELECT *,
           |         CASE WHEN n_sku = 0 THEN CAST(0 AS BIGINT)
           |              ELSE CAST((kmv_matched * kmv_est_union) // n_sku AS BIGINT) END AS kmv_est_inter
           |  FROM m3
           |)
           |SELECT CAST($KmvK AS BIGINT) AS k,
           |       n_exact_a, n_exact_b, n_exact_union, n_exact_inter,
           |       kmv_est_a, kmv_est_b, kmv_est_union, kmv_est_inter, kmv_matched,
           |       CASE WHEN n_exact_union = 0 THEN CAST(0 AS BIGINT)
           |            ELSE CAST(abs(kmv_est_union - n_exact_union) * 1000 // n_exact_union AS BIGINT) END AS err_union_permille,
           |       CASE WHEN n_exact_inter = 0 THEN CAST(0 AS BIGINT)
           |            ELSE CAST(abs(kmv_est_inter - n_exact_inter) * 1000 // n_exact_inter AS BIGINT) END AS err_inter_permille
           |FROM m4""".stripMargin
      }
    ),

    // per-group heavy hitters: one Misra–Gries summary per `source` — the
    // shape a real corpus monitor uses (which terms dominate EACH ingest
    // feed), and the aggregator's map-side partial merge exercised under
    // groupBy instead of a single global group. Same theorem-only grading
    // as q_heavy_hitters, applied per source with that source's own N:
    // every term with per-source count > N_s/(k+1) must appear in that
    // source's summary. Output = per-source top-HhTop exact terms UNION
    // every per-source guaranteed term. Scale shape: the exact counts are
    // one hash-agg; per-source top-N is the bounded TermCountTopK
    // aggregator (O(k) map-side state, no per-source vocabulary sort); the
    // guaranteed filter is map-side against the broadcast per-source
    // totals; the MG summaries are one row per source, broadcast back.
    QueryDef(
      "q_heavy_hitters_by_source",
      (spark, dir) => {
        import spark.implicits._
        val terms = Tables.documents(spark, dir)
          .select(col("source"), explode(tokens(col("text"))).as("term"))
        val mgBySource = terms.as[(String, String)]
          .groupByKey(_._1)
          .agg(graft.functions.Udafs.MisraGriesKeyed(HhK).toColumn.name("summary"))
          .toDF("source", "summary")
        val cnt = terms.groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("n_exact"))
        val tot = cnt.groupBy(col("source"))
          .agg(sum(col("n_exact")).cast("long").as("n_total"))
        val guaranteed = col("n_exact") * (HhK + 1).toLong > col("n_total")
        val top = cnt.as[(String, String, Long)]
          .groupByKey(_._1)
          .agg(graft.functions.Udafs.TermCountTopK(HhTop).toColumn.name("top"))
          .toDF("source", "top")
          .select(col("source"), explode(col("top")).as("t"))
          .select(col("source"), col("t._1").as("term"), col("t._2").as("n_exact"))
        val guar = cnt.join(broadcast(tot), "source")
          .where(guaranteed).select(col("source"), col("term"), col("n_exact"))
        top.union(guar).distinct()
          .join(broadcast(tot), "source")
          .join(broadcast(mgBySource), "source")
          .select(col("source"), col("term"), col("n_exact"),
                  guaranteed.as("guaranteed"),
                  (!guaranteed ||
                    array_contains(map_keys(col("summary")), col("term"))).as("ok"))
          .orderBy(col("source").asc, col("n_exact").desc, col("term").asc)
      },
      Some(s"""WITH t AS (
              |  SELECT source, unnest(${tokensSql("text")}) AS term FROM documents
              |),
              |cnt AS (SELECT source, term, COUNT(*) AS n_exact FROM t GROUP BY 1, 2),
              |tot AS (SELECT source, CAST(SUM(n_exact) AS BIGINT) AS n_total FROM cnt GROUP BY 1),
              |rk AS (
              |  SELECT source, term, n_exact,
              |         row_number() OVER (PARTITION BY source ORDER BY n_exact DESC, term ASC) AS rn
              |  FROM cnt
              |),
              |sel AS (
              |  SELECT source, term, n_exact FROM rk WHERE rn <= $HhTop
              |  UNION
              |  SELECT c.source, c.term, c.n_exact FROM cnt c JOIN tot USING (source)
              |  WHERE c.n_exact * ${HhK + 1} > n_total
              |)
              |SELECT s.source, s.term, s.n_exact,
              |       (s.n_exact * ${HhK + 1} > tot.n_total) AS guaranteed,
              |       TRUE AS ok
              |FROM sel s JOIN tot USING (source)
              |ORDER BY source ASC, n_exact DESC, term ASC""".stripMargin)
    ),

    // BM25 lexical retrieval: top-K documents for a fixed query term set —
    // the lexical half of the retrieval story (ann_* is the embedding
    // half), the shape a corpus-curation pipeline uses to pull candidate
    // documents against benchmark queries. LOG-FREE idf variant: idf_t =
    // (N - df_t + 0.5)/(df_t + 0.5) without the usual ln(·) — ln is the one
    // BM25 ingredient whose last-bit rounding is libm-implementation-
    // defined, while +,-,*,/ are IEEE-exact on both engines, so this
    // variant is cross-engine bit-identical (the oracle re-derives every
    // number; rare terms still dominate — "dup" df≈25 vs common df≈390).
    // Per-term scores add in a FIXED left-to-right order, never a float
    // SUM aggregate. Scale shape: corpus stats are one aggregate row
    // (broadcast); scoring is map-only over (doc_id, text); top-K is
    // TakeOrderedAndProject. Nothing document-sized shuffles.
    QueryDef(
      "q_bm25_search",
      (spark, dir) => {
        val (k1, b) = (Bm25K1, Bm25B)
        val docs = Tables.documents(spark, dir)
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("len", size(col("toks")).cast("long"))
        val withTf = Bm25Terms.foldLeft(docs) { case (d, t) =>
          d.withColumn(s"tf_$t",
            size(filter(col("toks"), x => x === t)).cast("long"))
        }.drop("toks")
        val statAggs =
          Seq(count(lit(1)).as("n_docs"), sum(col("len")).cast("long").as("sum_len")) ++
            Bm25Terms.map(t => sum(when(col(s"tf_$t") > 0L, 1L).otherwise(0L))
              .cast("long").as(s"df_$t"))
        val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
        val scored = withTf.crossJoin(broadcast(stats))
          .withColumn("avglen", col("sum_len").cast("double") / col("n_docs").cast("double"))
          .withColumn("normv",
            lit(1.0d - b) + lit(b) * (col("len").cast("double") / col("avglen")))
        val termScore = Bm25Terms.map { t =>
          val tf = col(s"tf_$t").cast("double")
          val df = col(s"df_$t").cast("double")
          val idf = ((col("n_docs").cast("double") - df) + lit(0.5d)) / (df + lit(0.5d))
          idf * ((tf * lit(k1 + 1.0d)) / (tf + lit(k1) * col("normv")))
        }.reduceLeft(_ + _) // fixed left-to-right: bit-identical to the oracle
        scored.select(col("doc_id"), termScore.as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(Bm25TopK)
      },
      Some {
        val (k1, b) = (Bm25K1, Bm25B)
        val tfCols = Bm25Terms.map(t =>
          s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(",\n  ")
        val dfCols = Bm25Terms.map(t =>
          s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n  ")
        val score = Bm25Terms.map { t =>
          val idf = s"(((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE)) + 0.5) / (CAST(df_$t AS DOUBLE) + 0.5))"
          s"($idf * ((CAST(tf_$t AS DOUBLE) * ${k1 + 1.0d}) / (CAST(tf_$t AS DOUBLE) + $k1 * normv)))"
        }.reduceLeft((a, x) => s"($a + $x)")
        s"""WITH d AS (
           |  SELECT doc_id, ${tokensSql("text")} AS toks FROM documents
           |), tf AS (
           |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS len,
           |  $tfCols
           |  FROM d
           |), st AS (
           |  SELECT COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_len,
           |  $dfCols
           |  FROM tf
           |), sc AS (
           |  SELECT doc_id,
           |         (${1.0d - b} + $b * (CAST(len AS DOUBLE) /
           |            (CAST(sum_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS normv,
           |         n_docs, ${Bm25Terms.map(t => s"tf_$t, df_$t").mkString(", ")}
           |  FROM tf CROSS JOIN st
           |)
           |SELECT doc_id, $score AS score
           |FROM sc
           |ORDER BY score DESC, doc_id ASC
           |LIMIT $Bm25TopK""".stripMargin
      }
    ),

    // token co-occurrence with PMI over the top-$CoocVocab document-
    // frequency vocabulary — the association-mining pass (word2vec-style
    // context statistics, collocation detection) of a text pipeline. PMI's
    // log is monotone, so ranking needs only the RATIO p(t1,t2)/(p(t1)p(t2))
    // = (n12·N)/(df1·df2), computed in exact integer fixed-point (×10^6,
    // integer div) — bit-identical across engines, same trick as tf-idf.
    // (Bound: n12·N·10^6 ≤ N²·10^6 stays under 2^63 for N up to ~3e6 docs;
    // beyond that the ratio would move to DECIMAL(38).) Scale shape: the
    // vocabulary is a TakeOrdered top-V broadcast in BOTH roles (membership
    // filter and df lookup); pairs are generated MAP-SIDE from each doc's
    // sorted ≤V-token vocab intersection (no dt⋈dt self-join shuffle — the
    // doc_id exchange from the collect_set agg is the only data-sized
    // shuffle, and each doc emits ≤ V(V−1)/2 bounded pairs); the pair agg
    // keys on (t1,t2) over a ≤V² domain, so the final stage is tiny.
    QueryDef(
      "text_cooccurrence_pmi",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val dt = docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
        val vocab = dt.groupBy(col("token")).agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("token").asc).limit(CoocVocab)
        val nd = docs.agg(count(lit(1)).as("ndocs"))
        val perDoc = dt.join(broadcast(vocab.select(col("token"))), "token")
          .groupBy(col("doc_id")).agg(sort_array(collect_set(col("token"))).as("ts"))
        val pairs = perDoc.select(explode(expr(
            "flatten(transform(ts, (a, i) -> transform(slice(ts, i + 2, size(ts)), b -> struct(a AS t1, b AS t2))))")).as("p"))
          .groupBy(col("p.t1").as("t1"), col("p.t2").as("t2"))
          .agg(count(lit(1)).as("n12"))
        pairs
          .join(broadcast(vocab.select(col("token").as("t1"), col("df").as("df1"))), "t1")
          .join(broadcast(vocab.select(col("token").as("t2"), col("df").as("df2"))), "t2")
          .crossJoin(broadcast(nd))
          .where(col("n12") >= CoocMinSupport)
          .select(col("t1"), col("t2"), col("n12"), col("df1"), col("df2"),
                  expr("(n12 * ndocs * 1000000) div (df1 * df2)").as("pmi_fx"))
          .orderBy(col("pmi_fx").desc, col("t1").asc, col("t2").asc)
          .limit(40)
      },
      Some(s"""WITH dt AS (
              |  SELECT DISTINCT doc_id, unnest(${tokensSql("text")}) AS token FROM documents
              |),
              |df AS (SELECT token, COUNT(*) AS df FROM dt GROUP BY 1),
              |vocab AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT $CoocVocab),
              |dtv AS (SELECT dt.doc_id, dt.token FROM dt JOIN vocab USING (token)),
              |nd AS (SELECT COUNT(*) AS ndocs FROM documents),
              |p AS (
              |  SELECT a.token AS t1, b.token AS t2, COUNT(*) AS n12
              |  FROM dtv a JOIN dtv b ON a.doc_id = b.doc_id AND a.token < b.token
              |  GROUP BY 1, 2
              |)
              |SELECT t1, t2, n12, v1.df AS df1, v2.df AS df2,
              |       (n12 * ndocs * 1000000) // (v1.df * v2.df) AS pmi_fx
              |FROM p JOIN vocab v1 ON p.t1 = v1.token JOIN vocab v2 ON p.t2 = v2.token, nd
              |WHERE n12 >= $CoocMinSupport
              |ORDER BY pmi_fx DESC, t1, t2 LIMIT 40""".stripMargin)
    ),

    // inverted-index build: term → (df, total_tf, ordered "doc:tf" posting
    // list) — the retrieval-index construction pass behind q_bm25_search.
    // Posting lists assemble HIERARCHICALLY: level 1 builds per-(term,
    // doc-bucket) segment strings (bucket = doc_id div $InvBucket, so
    // bucket order IS doc order), level 2 concatenates the ≤ndocs/$InvBucket
    // segments per term. A stopword's postings therefore never materialize
    // as one collect_list of df entries on a single reducer — the skewed
    // key is split across buckets and the final concat handles short
    // segment arrays; this is the segmented-index shape real engines ship
    // to object storage. Both collect_lists are sort_array'd (shuffle
    // arrival order never reaches the output), so the strings are
    // deterministic and bit-equal to the oracle's ORDER BY string_agg.
    QueryDef(
      "q_inverted_index",
      (spark, dir) => {
        val tf = Tables.documents(spark, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        val lvl1 = tf
          .groupBy(col("term"), expr(s"doc_id div $InvBucket").as("bucket"))
          .agg(sort_array(collect_list(struct(col("doc_id"), col("tf")))).as("ps"),
               count(lit(1)).as("df_b"), sum(col("tf")).as("tf_b"))
          .select(col("term"), col("bucket"), col("df_b"), col("tf_b"),
                  array_join(expr(
                    "transform(ps, p -> concat(cast(p.doc_id AS string), ':', cast(p.tf AS string)))"),
                    " ").as("s"))
        lvl1.groupBy(col("term"))
          .agg(sum(col("df_b")).as("df"), sum(col("tf_b")).as("total_tf"),
               sort_array(collect_list(struct(col("bucket"), col("s")))).as("bs"))
          .select(col("term"), col("df"), col("total_tf"),
                  array_join(expr("transform(bs, q -> q.s)"), " ").as("postings"))
          .orderBy(col("df").desc, col("term").asc)
          .limit(30)
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, unnest(${tokensSql("text")}) AS term FROM documents
              |),
              |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM t GROUP BY 1, 2),
              |inv AS (
              |  SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
              |         string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
              |                    ' ' ORDER BY doc_id) AS postings
              |  FROM tf GROUP BY term
              |)
              |SELECT term, df, total_tf, postings FROM inv
              |ORDER BY df DESC, term LIMIT 30""".stripMargin)
    ),

    // cross-document repeated-span mining: the boilerplate/template
    // detector of LLM data curation — every SpanK-token window that
    // recurs in ≥ SpanMinDocs distinct documents, ranked by spread. Scale
    // shape: one persisted per-doc shingle stage (the shingle table,
    // written once at cluster scale) feeds both the hash-keyed spread agg
    // — column pruning keeps span STRINGS out of that shuffle, only
    // (doc_id, span_hash) flows — and the representative-text derivation,
    // which joins the broadcast top-SpanTop winner set map-side so wide
    // rows exist only for spans that made the cut. Deterministic: ranked
    // by (n_docs, span_hash) with min(span) as the representative (all
    // spans of one 32-bit hash are equal modulo md5 collision).
    QueryDef(
      "text_repeated_spans",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        // ONE persisted shingle stage feeding both passes. The persist is a
        // materialization barrier BEFORE the explodes — exploding a
        // computed array column re-evaluates its expression chain per
        // generated element (measured: 7.4s for the bare explode vs 0.3s
        // packed at sf0.1; the same trap minhashPairsSpark documents), and
        // at cluster scale this stage is the shingle table written once.
        val sp = docs
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= SpanK)
          .select(col("doc_id"), array_distinct(shinglesOf(col("toks"), SpanK)).as("sps"))
          .persist()
        sp.count() // eager: both explodes below must read the cache
        val hashed = sp // distinct per doc: n_docs counts DOCS
          .select(col("doc_id"), explode(col("sps")).as("span"))
          .select(col("doc_id"), col("span"),
                  graft.functions.Hashing.h32(col("span")).as("span_hash"))
        val top = hashed.groupBy(col("span_hash"))
          .agg(countDistinct(col("doc_id")).as("n_docs"))
          .where(col("n_docs") >= SpanMinDocs)
          .orderBy(col("n_docs").desc, col("span_hash").asc)
          .limit(SpanTop)
        hashed.join(broadcast(top), "span_hash")
          .groupBy(col("span_hash"), col("n_docs"))
          .agg(min(col("span")).as("span"))
          .select(col("span_hash"), col("span"), col("n_docs"))
          .orderBy(col("n_docs").desc, col("span_hash").asc)
      },
      Some {
        val h32 = graft.functions.Hashing.h32Sql("span")
        s"""WITH sp AS (
           |  SELECT doc_id, unnest(list_distinct(${shinglesSql("text", SpanK)})) AS span
           |  FROM documents
           |),
           |h AS (SELECT doc_id, span, $h32 AS span_hash FROM sp),
           |top AS (
           |  SELECT span_hash, COUNT(DISTINCT doc_id) AS n_docs
           |  FROM h GROUP BY span_hash
           |  HAVING COUNT(DISTINCT doc_id) >= $SpanMinDocs
           |  ORDER BY n_docs DESC, span_hash ASC LIMIT $SpanTop
           |)
           |SELECT t.span_hash, MIN(h.span) AS span, CAST(t.n_docs AS BIGINT) AS n_docs
           |FROM top t JOIN h ON h.span_hash = t.span_hash
           |GROUP BY t.span_hash, t.n_docs
           |ORDER BY n_docs DESC, t.span_hash ASC""".stripMargin
      }
    ),

    // BPE trainer inner loop, iteration 0: corpus-weighted adjacent
    // character-pair counts within words — the statistic a byte-pair-
    // encoding tokenizer maximizes at each merge. Two hash aggs, both
    // bounded: words collapse to the VOCABULARY first (so a word repeated
    // 10^9 times at 100 TB is one row with a weight, not 10^9 pair
    // explosions), then pairs generate map-side from the vocab rows and
    // aggregate to at most |alphabet|² keys. Integer counts throughout.
    QueryDef(
      "text_bpe_pairs",
      (spark, dir) => {
        val vocab = Tables.documents(spark, dir)
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("wn"))
          .where(length(col("word")) >= 2)
        vocab
          .select(col("wn"), explode(expr(
            "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")).as("pair"))
          .groupBy(col("pair"))
          .agg(sum(col("wn")).cast("long").as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("pair").asc)
          .limit(BpeTop)
      },
      Some(s"""WITH w AS (
              |  SELECT word, COUNT(*) AS wn FROM (
              |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
              |  GROUP BY word HAVING length(word) >= 2
              |),
              |p AS (
              |  SELECT unnest(list_transform(generate_series(1, length(word) - 1),
              |                               i -> substr(word, i, 2))) AS pair, wn
              |  FROM w
              |)
              |SELECT pair, CAST(SUM(wn) AS BIGINT) AS n_pairs
              |FROM p GROUP BY pair
              |ORDER BY n_pairs DESC, pair ASC LIMIT $BpeTop""".stripMargin)
    ),

    // BPE trainer iteration 1: take the argmax pair from the iteration-0
    // count (computed IN-QUERY with the count-desc/pair-asc tiebreak, so
    // the oracle verifies the choice too), apply ONE merge sweep to the
    // space-separated symbol representation of the vocabulary, and
    // recount adjacent pairs — the loop body a full BPE trainer iterates
    // to its vocab size. The merge is the leftmost-non-overlapping
    // replace of " p1 p2 " with " p1p2 " over the sentinel-padded symbol
    // string: for p1 ≠ p2 (any natural corpus argmax) occurrences cannot
    // overlap and one sweep IS the exact BPE merge; for the p1 = p2 edge
    // both engines share scan-past-replacement semantics, and re-analysis
    // of adjacent runs belongs to the next iteration anyway. Everything
    // stays at vocabulary grain (a 10⁹-repeat word is one weighted row),
    // pair generation is map-side, agg keys ≤ symbol-alphabet².
    QueryDef(
      "text_bpe_merge",
      (spark, dir) => {
        val vocab = Tables.documents(spark, dir)
          .select(explode(tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("wn"))
          .where(length(col("word")) >= 2)
          .select(col("wn"),
                  concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("s"))
        def pairRows(df: org.apache.spark.sql.DataFrame, extra: Seq[String]) =
          df.select((extra.map(col) :+ col("wn") :+ split(trim(col("s")), " ").as("sy")): _*)
            .select((extra.map(col) :+ col("wn") :+ explode(expr(
              "transform(sequence(1, size(sy) - 1), i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
              .as("pair")): _*)
        val top = pairRows(vocab, Seq.empty)
          .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("pair").asc).limit(1)
          .select(col("pair").as("merged_pair"))
        val merged = vocab.crossJoin(broadcast(top))
          .select(col("wn"), col("merged_pair"),
                  expr("replace(s, concat(' ', merged_pair, ' '), " +
                       "concat(' ', replace(merged_pair, ' ', ''), ' '))").as("s"))
        pairRows(merged, Seq("merged_pair"))
          .groupBy(col("merged_pair"), col("pair"))
          .agg(sum(col("wn")).cast("long").as("n_pairs"))
          .orderBy(col("n_pairs").desc, col("pair").asc)
          .limit(BpeTop)
          .select(col("pair"), col("n_pairs"), col("merged_pair"))
      },
      Some(s"""WITH w AS (
              |  SELECT word, COUNT(*) AS wn FROM (
              |    SELECT unnest(${tokensSql("text")}) AS word FROM documents)
              |  GROUP BY word HAVING length(word) >= 2
              |), v AS (
              |  SELECT wn, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s FROM w
              |), p0 AS (
              |  SELECT pair, SUM(wn) AS n FROM (
              |    SELECT wn, unnest(list_transform(generate_series(1, len(sy) - 1),
              |                                     i -> sy[i] || ' ' || sy[i + 1])) AS pair
              |    FROM (SELECT wn, string_split(trim(s), ' ') AS sy FROM v))
              |  GROUP BY pair
              |), top AS (
              |  SELECT pair AS merged_pair FROM p0 ORDER BY n DESC, pair ASC LIMIT 1
              |), m AS (
              |  SELECT wn, merged_pair,
              |         replace(s, ' ' || merged_pair || ' ',
              |                 ' ' || replace(merged_pair, ' ', '') || ' ') AS s
              |  FROM v CROSS JOIN top
              |), p1 AS (
              |  SELECT merged_pair, pair, CAST(SUM(wn) AS BIGINT) AS n_pairs FROM (
              |    SELECT wn, merged_pair,
              |           unnest(list_transform(generate_series(1, len(sy) - 1),
              |                                 i -> sy[i] || ' ' || sy[i + 1])) AS pair
              |    FROM (SELECT wn, merged_pair, string_split(trim(s), ' ') AS sy FROM m))
              |  GROUP BY merged_pair, pair
              |)
              |SELECT pair, n_pairs, merged_pair FROM p1
              |ORDER BY n_pairs DESC, pair ASC LIMIT $BpeTop""".stripMargin)
    ),

    // BPE ENCODER at document grain: learn BpeEncMerges merges on the
    // word-frequency table (the standard BPE-training grain — pair
    // statistics weighted by word count, never per-document), then encode
    // every document as the sum of its words' post-merge symbol counts and
    // report the per-doc compression vs the character baseline in exact
    // permille. Each round is the text_bpe_merge loop body: count pairs →
    // argmax (count DESC, pair ASC — deterministic ties) → apply via the
    // boundary-spaced replace (non-overlapping left-to-right in BOTH
    // engines; adjacent occurrences share their boundary space, so a run
    // 'a b a b' merges its first pair per pass — the same convention
    // text_bpe_merge pinned). Scale shape: all BpeEncMerges rounds run at
    // the BOUNDED vocabulary grain (each round one vocab-sized hash-agg +
    // a 1-row broadcast argmax); encoding is a map-side join of exploded
    // doc words against the broadcast word→symbol-count table — no
    // per-document sequential state anywhere. Production loops the same
    // dataflow M times from the driver; the unroll keeps the whole program
    // one oracle-checkable query.
    QueryDef(
      "text_bpe_encode",
      (spark, dir) => {
        // NOTE (r17, measured): persisting this word table (as
        // text_bpe_artifact does) re-derives the corpus explode + groupBy
        // once instead of once per round — but bench'd ~15% SLOWER at
        // sf0.1: each round's job is one fused codegen pipeline over a
        // small corpus, and the added count job + InMemoryTableScan cost
        // more than the four re-derivations they save. Left lazy here; the
        // artifact/export gates keep their persist because their v0 has
        // 6+ consumers.
        var v = bpeWordTable(spark, dir)
        for (_ <- 1 to BpeEncMerges) {
          val top = v
            .select(col("wn"), split(trim(col("s")), " ").as("sy"))
            // single-symbol words carry no pairs — and Spark's
            // sequence(1, 0) DESCENDS rather than being empty
            .where(expr("size(sy) >= 2"))
            .select(col("wn"), explode(expr(
              "transform(sequence(1, size(sy) - 1), i -> concat(element_at(sy, i), ' ', element_at(sy, i + 1)))"))
              .as("pair"))
            .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
            .orderBy(col("n").desc, col("pair").asc).limit(1)
            .select(col("pair").as("mp"))
          v = v.crossJoin(broadcast(top))
            .select(col("word"), col("wn"),
                    expr("replace(s, concat(' ', mp, ' '), " +
                         "concat(' ', replace(mp, ' ', ''), ' '))").as("s"))
        }
        val wlen = v.select(col("word"),
                            expr("size(split(trim(s), ' '))").cast("long").as("n_sym"))
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .join(broadcast(wlen), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(sum(length(col("word"))).cast("long").as("n_tokens_chars"),
               sum(col("n_sym")).cast("long").as("n_tokens_bpe"))
          .withColumn("compression_permille",
                      expr("(n_tokens_bpe * 1000) div n_tokens_chars").cast("long"))
          .orderBy(col("doc_id"))
      },
      Some {
        s"""WITH $bpeOracleCtes,
           |dw AS (SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents)
           |SELECT doc_id,
           |       CAST(SUM(length(word)) AS BIGINT) AS n_tokens_chars,
           |       CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe,
           |       CAST(SUM(n_sym) * 1000 // SUM(length(word)) AS BIGINT) AS compression_permille
           |FROM dw JOIN wlen USING (word)
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin
      }
    ),

    // BPE TOKENIZER ARTIFACT ROUND-TRIP (round-15, the r14 verdict's #8):
    // the tokenizer-VERSIONING shape every training estate lives with — a
    // tokenizer is trained once, its artifact (the ordered merge list; the
    // only state BPE needs at load time) ships to storage, and every
    // later pipeline run must reload it and reproduce BIT-IDENTICAL
    // encodings, or token counts silently drift between data batches
    // tokenized months apart. Train leg: the text_bpe_encode trainer
    // (pair-count → argmax → boundary-spaced replace, BpeEncMerges
    // rounds), with each round's winning pair collected (1 row/round).
    // Artifact leg: the (rank, pair) list lands as parquet. Reload leg:
    // a fresh pass reads the artifact back, rebuilds the word→symbols
    // table by applying the loaded merges IN RANK ORDER as one chained
    // map over the vocabulary — no pair statistics at load time, the
    // production tokenizer-load path — and the rebuilt table is require'd
    // IDENTICAL to the trainer's own (both except directions empty,
    // vocabulary-grain). The reported encoding comes from the RELOADED
    // table and must hash-match the same independent DuckDB retrain
    // oracle as text_bpe_encode. Scale: merges are a constant-sized
    // artifact; reload work is one broadcast + a map over the vocabulary,
    // never the corpus.
    QueryDef(
      "text_bpe_artifact",
      (spark, dir) => {
        val v0 = bpeWordTable(spark, dir).persist()
        v0.count() // shared by the train loop and the reload rebuild
        // 1-row collect per round: the trainer's argmax IS driver-grain
        // in production too (the merge list is the artifact being built)
        val (v, merges) = bpeTrainMerges(v0)
        val trained = v.select(col("word"),
                               expr("size(split(trim(s), ' '))").cast("long").as("n_sym"))
        // artifact OUT: the ordered merge list is the whole tokenizer
        val tgt = StorageQueries.target("bpe_tokenizer_artifact")
        import spark.implicits._
        merges.zipWithIndex.map { case (p, r) => (r.toLong, p) }
          .toDF("rank", "pair")
          .coalesce(1).write.mode("overwrite").parquet(tgt)
        // artifact IN: a fresh read; ranks must come back complete
        val loaded = spark.read.parquet(tgt).orderBy(col("rank"))
          .collect().map(r => (r.getLong(0), r.getString(1)))
        require(loaded.map(_._1).toSeq == (0L until BpeEncMerges.toLong),
          s"artifact lost/reordered merge ranks: ${loaded.map(_._1).mkString(",")}")
        // reload path: apply loaded merges in rank order as ONE chained map
        // over the vocabulary — no pair counting, the tokenizer-load shape
        val reloaded = bpeApplyMerges(v0, loaded.map(_._2).toSeq).persist()
        // bit-identical tokenization or the artifact is lossy: both
        // except directions, vocabulary-grain
        require(reloaded.except(trained).head(1).isEmpty &&
                trained.except(reloaded).head(1).isEmpty,
          "reloaded tokenizer encodes differently from the trainer — " +
          "the artifact round-trip is lossy")
        Tables.documents(spark, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
          .join(broadcast(reloaded), Seq("word"))
          .groupBy(col("doc_id"))
          .agg(sum(length(col("word"))).cast("long").as("n_tokens_chars"),
               sum(col("n_sym")).cast("long").as("n_tokens_bpe"))
          .withColumn("compression_permille",
                      expr("(n_tokens_bpe * 1000) div n_tokens_chars").cast("long"))
          .orderBy(col("doc_id"))
      },
      Some {
        // text_bpe_encode's independent retrain oracle (the shared CTE
        // chain): the reloaded artifact must land on the same encodings
        s"""WITH $bpeOracleCtes,
           |dw AS (SELECT doc_id, unnest(${tokensSql("text")}) AS word FROM documents)
           |SELECT doc_id,
           |       CAST(SUM(length(word)) AS BIGINT) AS n_tokens_chars,
           |       CAST(SUM(n_sym) AS BIGINT) AS n_tokens_bpe,
           |       CAST(SUM(n_sym) * 1000 // SUM(length(word)) AS BIGINT) AS compression_permille
           |FROM dw JOIN wlen USING (word)
           |GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin
      }
    ),

    // corpus-bigram language-model quality score (the perplexity-filter
    // shape, log-free): train bigram/prefix counts on the corpus itself
    // (two hash-aggs), then score every document by its average bigram
    // probability P(w2|w1) = c(w1 w2)/c(w1·) in exact ×10^6 fixed point —
    // floor(c12·10^6/c1) summed over bigram OCCURRENCES, integer-divided
    // by the bigram count, so the whole number is integer arithmetic and
    // bit-identical cross-engine (avg probability is monotone in the
    // geometric-mean/perplexity score for ranking purposes without a
    // cross-engine log). Self-trained counts mean no unseen bigram
    // (c12 ≥ 1), so no smoothing constant to keep in sync. keep = score
    // above the corpus-splitting threshold — fluent template-ish text
    // scores high, shuffled/noisy text low. Scale shape: the bigram stats
    // table is corpus-vocabulary-sized and joins the per-doc bigram table
    // by an equi-key; per-doc agg is one hash-agg. At 100 TB the stats
    // table is written once and reused across scoring runs.
    QueryDef(
      "text_bigram_lm",
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val toks = docs
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= 2)
        val bg = toks
          .select(col("doc_id"), explode(shinglesOf(col("toks"), 2)).as("bg"))
        val bgCounts = bg.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
        val prefCounts = bgCounts
          .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
          .agg(sum(col("c12")).as("c1"))
        val stats = bgCounts
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(prefCounts, "w1")
          .select(col("bg"), expr(s"c12 * ${LmFx}L div c1").as("p_fx"))
        bg.join(stats, "bg")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p_fx")).as("sum_p_fx"))
          .select(col("doc_id"), col("n_bigrams"),
                  expr("sum_p_fx div n_bigrams").as("score_fx"))
          .withColumn("keep", col("score_fx") >= lit(LmKeepFx))
      },
      Some {
        val toksSql = tokensSql("text")
        s"""WITH tk AS (
           |  SELECT doc_id, $toksSql AS t FROM documents WHERE len($toksSql) >= 2
           |), bg AS (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           |                                       i -> t[i] || ' ' || t[i + 1])) AS bg
           |  FROM tk
           |), bgc AS (
           |  SELECT bg, COUNT(*) AS c12 FROM bg GROUP BY bg
           |), pref AS (
           |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
           |  FROM bgc GROUP BY 1
           |), stats AS (
           |  SELECT bg, (c12 * $LmFx) // c1 AS p_fx
           |  FROM bgc JOIN pref ON split_part(bgc.bg, ' ', 1) = pref.w1
           |)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |       CAST(CAST(SUM(p_fx) AS BIGINT) // COUNT(*) AS BIGINT) AS score_fx,
           |       (CAST(SUM(p_fx) AS BIGINT) // COUNT(*)) >= $LmKeepFx AS keep
           |FROM bg JOIN stats USING (bg)
           |GROUP BY doc_id""".stripMargin
      }
    ),

    // tokenizer-coverage / out-of-vocabulary rate — the metric run before
    // committing a tokenizer to a corpus (OOV share per source tells you
    // where a fixed vocabulary will shatter text into bytes): the top-V
    // terms by corpus frequency (count-desc/term-asc — the deterministic
    // tiebreak every top-k here uses) become the vocabulary, every token
    // is membership-tested against it, and coverage is reported per
    // source in exact permille. Scale shape: term counts are one
    // map-side-combined hash-agg at VOCABULARY grain; the top-V sort runs
    // on that bounded term table, never on tokens; the membership test is
    // a map-only broadcast left join (V rows); the rollup one hash-agg on
    // `source`. V = 16 is calibrated to this corpus's 31-term synthetic
    // vocabulary so both sides of the split are populated — a production
    // run changes one constant (e.g. 2^15 for a BPE budget).
    QueryDef(
      "text_oov_rate",
      (spark, dir) => {
        val toks = Tables.documents(spark, dir)
          .select(col("source"), explode(tokens(col("text"))).as("term"))
        val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(OovVocab)
          .select(col("term"), lit(1).as("in_v"))
        toks.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("long").as("n_tokens"),
               sum(when(col("in_v").isNull, 1L).otherwise(0L)).cast("long").as("n_oov"))
          .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
      },
      Some {
        val toks = tokensSql("text")
        s"""WITH t AS (
           |  SELECT source, unnest($toks) AS term FROM documents
           |),
           |v AS (
           |  SELECT term FROM (
           |    SELECT term, COUNT(*) AS cnt FROM t GROUP BY 1
           |    ORDER BY cnt DESC, term ASC LIMIT $OovVocab)
           |)
           |SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           |       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           |       CAST(CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000
           |            // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS oov_permille
           |FROM t LEFT JOIN v ON t.term = v.term
           |GROUP BY 1""".stripMargin
      }
    )
  )
}
