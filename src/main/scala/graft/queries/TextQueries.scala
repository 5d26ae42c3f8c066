package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text ETL + analysis surface (SURVEY §2 F1/P5/P6/W4/A5/O6, E5) over the
  * `documents` fixture — re-expresses the reference's tokenize → vocab-filter
  * → truncate pipeline (chapter2/Word2VecTransformingIterator.java:70-145)
  * as declarative DataFrame queries.
  *
  * Scale: tokenization is a per-row expression (no shuffle); the vocab is a
  * grouped aggregate whose result is small (vocab cardinality), so the
  * membership filter is a broadcast semi-join — the 100 TB corpus never
  * shuffles for vocabulary filtering.
  */
object TextQueries {

  /** DuckDB twin of TextFunctions.tokenize (FIXTURES.md canonical spec:
    * lower → whitespace→space → strip → split → drop empties). The
    * whitespace class is spelled EXPLICITLY as Java's \s ([ \t\n\x0b\f\r]):
    * DuckDB's RE2 \s excludes vertical tab, so the shorthand would
    * silently join tokens around a \x0b where Spark splits them — a
    * latent corpus-wide gate break on the first fixture regeneration
    * that emits exotic whitespace (review r9).
    */
  private[graft] val duckWs = "[ \\t\\n\\x0b\\f\\r]"
  private[graft] val duckToks =
    s"list_filter(str_split(regexp_replace(regexp_replace(lower(text), '$duckWs', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' '), x -> x <> '')"

  /** Exploded (doc_id, token) stream, shared by several oracles. */
  private val duckTokenStream =
    s"SELECT doc_id, unnest($duckToks) AS token FROM documents"

  /** Single-sourced DuckDB twins of TextFunctions.punctRatio /
    * stopwordRatio / qualityScore, shared by every oracle that scores
    * quality (a second hand-maintained copy of the formula could silently
    * desync from the Spark side).
    */
  // derived from the authoritative Spark-side list (review r9)
  private val duckStops = graft.functions.TextFunctions.EnglishStopwords
    .map(w => s"'$w'").mkString("[", ",", "]")
  private def duckPunctRatio(text: String): String =
    s"""CASE WHEN length($text) > 0
       |     THEN CAST(length(regexp_replace(lower($text), '[a-z0-9 ]', '', 'g')) AS DOUBLE) / length($text)
       |     ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
  private def duckStopRatio(toks: String): String =
    s"""CASE WHEN len($toks) > 0
       |     THEN CAST(len(list_filter($toks, t -> list_contains($duckStops, t))) AS DOUBLE) / len($toks)
       |     ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
  /** Quality from precomputed stop_ratio / n_tokens / punct_ratio columns. */
  private def duckQuality(stopRatio: String, nTokens: String, punctRatio: String): String =
    s"""CAST(0.4 AS DOUBLE) * $stopRatio
       |             + CAST(0.3 AS DOUBLE) * least(CAST($nTokens AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
       |             + CAST(0.3 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - $punctRatio)""".stripMargin

  private def tokensDF(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), explode(tokenize(col("text"))).as("token"))

  /** Vocabulary = tokens present in at least half of all documents
    * (scale-free threshold so the same query works at any sf).
    */
  private val duckVocab =
    s"""(SELECT token FROM ($duckTokenStream) GROUP BY token
       | HAVING count(DISTINCT doc_id) * 2 >= (SELECT count(*) FROM documents))""".stripMargin

  /** Vocabulary from an existing (doc_id, token) stream — the P5 queries
    * persist that stream and feed it to both the vocab aggregate and the
    * membership join, so the regexp tokenizer runs once per document, not
    * once per consumer.
    */
  private def vocabOf(s: SparkSession, d: String, toks: DataFrame): DataFrame = {
    val nDocs = Tables.documents(s, d).count()
    toks.groupBy("token")
      .agg(countDistinct("doc_id").as("df"))
      .where(col("df") * 2 >= nDocs)
      .select("token")
  }

  val defs: Seq[QueryDef] = Seq(

    // F1: canonical tokenizer — corpus-wide token frequencies.
    QueryDef.sql(
      "f1_token_counts",
      s"SELECT token, count(*) AS n FROM ($duckTokenStream) GROUP BY token ORDER BY token") {
      (s, d) => tokensDF(s, d).groupBy("token").agg(count(lit(1)).as("n")).orderBy("token")
    },

    // W4: sequence position via posexplode (timestep index j —
    // Word2VecTransformingIterator.java:248-255). 1-based on both sides.
    QueryDef.sql(
      "w4_posexplode",
      s"""SELECT doc_id, generate_subscripts(toks, 1) AS pos, unnest(toks) AS token
         |FROM (SELECT doc_id, $duckToks AS toks FROM documents WHERE doc_id < 20)
         |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      Tables.documents(s, d).where(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(tokenize(col("text"))).as(Seq("pos0", "token")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos")
    },

    // A5: running max of sequence lengths (maxLength —
    // Word2VecTransformingIterator.java:101), plus corpus length stats.
    QueryDef.sql(
      "a5_max_seq_len",
      s"""SELECT max(n_toks) AS max_len, min(n_toks) AS min_len, avg(n_toks) AS avg_len
         |FROM (SELECT len($duckToks) AS n_toks FROM documents)""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(size(tokenize(col("text"))).cast("long").as("n_toks"))
        .agg(max("n_toks").as("max_len"), min("n_toks").as("min_len"),
          avg("n_toks").as("avg_len"))
    },

    // P5: vocabulary-membership filter as a broadcast semi-join
    // (wordVectors.hasWord — Word2VecTransformingIterator.java:97-99).
    QueryDef.sql(
      "p5_vocab_filter",
      s"""SELECT doc_id, count(*) AS n_vocab_tokens
         |FROM ($duckTokenStream) WHERE token IN $duckVocab
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = graft.operators.Pinned.pin(tokensDF(s, d))
      toks.join(broadcast(vocabOf(s, d, toks)), Seq("token"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_vocab_tokens"))
        .orderBy("doc_id")
    },

    // J3-as-text: dropped out-of-vocab tokens (the anti-join complement).
    QueryDef.sql(
      "p5_oov_tokens",
      s"""SELECT token, count(*) AS n
         |FROM ($duckTokenStream) WHERE token NOT IN $duckVocab
         |GROUP BY token ORDER BY token""".stripMargin) { (s, d) =>
      val toks = graft.operators.Pinned.pin(tokensDF(s, d))
      toks.join(broadcast(vocabOf(s, d, toks)), Seq("token"), "left_anti")
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy("token")
    },

    // O6: truncate per sequence (256-cap — Word2VecTransformingIterator.java:104-105),
    // here cap=5 surfaced as a joined string.
    QueryDef.sql(
      "o6_truncate_seq",
      s"""SELECT doc_id, array_to_string(toks[1:5], ' ') AS head5, len(toks) AS full_len
         |FROM (SELECT doc_id, $duckToks AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat_ws(" ", slice(toks, 1, 5)).as("head5"),
          size(toks).cast("long").as("full_len"))
        .orderBy("doc_id")
    },

    // F11: path → label extraction (ParentPathLabelGenerator —
    // chapter_4/MnistClassification.java:60) over synthesized paths.
    QueryDef.sql(
      "f11_path_label",
      """SELECT doc_id, path, regexp_extract(path, '/([^/]+)/[^/]+$', 1) AS label
        |FROM (SELECT doc_id, '/data/' || source || '/' || doc_id || '.txt' AS path FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("/data/"), col("source"), lit("/"), col("doc_id"), lit(".txt")).as("path"))
        .withColumn("label", regexp_extract(col("path"), "/([^/]+)/[^/]+$", 1))
        .orderBy("doc_id")
    },

    // F12: string formatting/concat of results (chapter_6/SumNumberOfIterations.java:53).
    QueryDef.sql(
      "f12_format_concat",
      """SELECT c_custkey,
        |       'customer ' || c_name || ' [' || c_mktsegment || '] bal=' ||
        |         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS description
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"),
          concat(lit("customer "), col("c_name"), lit(" ["), col("c_mktsegment"),
            lit("] bal="), col("c_acctbal").cast("decimal(12,2)").cast("string"))
            .as("description"))
        .orderBy("c_custkey")
    },

    // E5a: per-document quality/statistics kit (length, punctuation,
    // stopword density, whitespace + BPE-ish token counts, quality score).
    QueryDef.sql(
      "e5_text_stats",
      s"""WITH base AS (
         |  SELECT doc_id, text, $duckToks AS toks FROM documents
         |), m AS (
         |  SELECT doc_id,
         |         len(toks) AS n_tokens,
         |         length(text) AS n_chars,
         |         ${duckPunctRatio("text")} AS punct_ratio,
         |         ${duckStopRatio("toks")} AS stop_ratio,
         |         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0b\\f\\r]')) AS bpe_tokens
         |  FROM base
         |)
         |SELECT doc_id, n_tokens, n_chars, bpe_tokens,
         |       round(punct_ratio, 6) AS punct_ratio, round(stop_ratio, 6) AS stop_ratio,
         |       round(${duckQuality("stop_ratio", "n_tokens", "punct_ratio")}, 6) AS quality
         |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
          round(punctRatio(col("text")), 6).as("punct_ratio"),
          round(stopwordRatio(toks), 6).as("stop_ratio"),
          round(qualityScore(col("text"), toks), 6).as("quality"))
        .orderBy("doc_id")
    },

    // E5a2: Gopher-style repetition ratio — the duplicated-bigram fraction
    // an LLM-corpus quality filter cuts on (boilerplate/looping text).
    QueryDef.sql(
      "e5_repetition",
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
         |      FROM base)
         |SELECT doc_id, len(grams) AS n_bigrams,
         |       round(CASE WHEN len(grams) > 0
         |                  THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
         |                  ELSE CAST(0.0 AS DOUBLE) END, 6) AS rep_ratio
         |FROM g ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(shingles(toks, 2)).cast("long").as("n_bigrams"),
          round(repetitionRatio(toks, 2), 6).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // E5b: heuristic language ID by stopword-list hits (argmax, fixed
    // tie order en→de→fr→es, 'und' = undetermined).
    QueryDef.sql(
      "e5_lang_id",
      {
        // derived from the SAME profile data the Spark expression uses
        // (TextFunctions.LangIdStopwordProfiles) — a hand-maintained copy
        // could silently desync (review r9); tie order = profile order
        val profiles = graft.functions.TextFunctions.LangIdStopwordProfiles
        val hitLines = profiles.map { case (lang, ws) =>
          s"len(list_filter(toks, t -> list_contains([${ws.map(w => s"'$w'").mkString(",")}], t))) AS ${lang}_h"
        }.mkString(",\n         ")
        val all = profiles.map(_._1 + "_h").mkString(", ")
        val caseLines = profiles.map { case (lang, _) =>
          s"WHEN ${lang}_h = greatest($all) AND ${lang}_h > 0 THEN '$lang'"
        }.mkString("\n            ")
        s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
           |hits AS (
           |  SELECT doc_id,
           |         $hitLines
           |  FROM base
           |)
           |SELECT doc_id,
           |       CASE $caseLines
           |            ELSE 'und' END AS pred_lang
           |FROM hits ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), langId(tokenize(col("text"))).as("pred_lang"))
        .orderBy("doc_id")
    },

    // E5b2: character-trigram language id (n-gram heuristic variant —
    // occurrence counts are non-overlapping left-to-right on both engines).
    QueryDef.sql(
      "e5_lang_id_ngram",
      {
        // same single-sourcing as e5_lang_id: the oracle's profile table
        // IS TextFunctions.TrigramProfiles (review r9)
        val profiles = graft.functions.TextFunctions.TrigramProfiles
        val hitCols = profiles.map { case (lang, grams) =>
          val terms = grams.map(g =>
            s"CAST((length(t) - length(replace(t, '$g', ''))) / ${g.length} AS INT)")
          s"${terms.mkString(" + ")} AS ${lang}_h"
        }.mkString(",\n         ")
        s"""WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
           |hits AS (
           |  SELECT doc_id,
           |         $hitCols
           |  FROM lowered
           |)
           |SELECT doc_id,
           |       CASE WHEN en_h = greatest(en_h, de_h, fr_h, es_h) AND en_h > 0 THEN 'en'
           |            WHEN de_h = greatest(en_h, de_h, fr_h, es_h) AND de_h > 0 THEN 'de'
           |            WHEN fr_h = greatest(en_h, de_h, fr_h, es_h) AND fr_h > 0 THEN 'fr'
           |            WHEN es_h = greatest(en_h, de_h, fr_h, es_h) AND es_h > 0 THEN 'es'
           |            ELSE 'und' END AS pred_lang
           |FROM hits ORDER BY doc_id""".stripMargin
      }) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), langIdNgram(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    },

    // E7: the composed LLM-data-pipeline — dedup (exact, keep-min) then
    // quality-gate then per-language corpus stats, as ONE oracle-checked
    // query; the shape a real cleaning job takes end to end.
    QueryDef.sql(
      "e7_clean_corpus_stats",
      s"""WITH corpus AS (
         |  SELECT doc_id, text, lang FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id < 50
         |),
         |deduped AS (
         |  SELECT min(doc_id) AS doc_id, any_value(text) AS text,
         |         min_by(lang, doc_id) AS lang
         |  FROM corpus GROUP BY text
         |),
         |scored AS (
         |  SELECT doc_id, lang, len($duckToks) AS n_tokens FROM deduped
         |)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |       max(n_tokens) AS max_tokens
         |FROM scored WHERE n_tokens >= 20
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text", "lang")
      val corpus = base.union(
        Tables.documents(s, d).where(col("doc_id") < 50)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text"), col("lang")))
      val deduped = graft.operators.Dedup.exactDedup(corpus, Seq("text"), "doc_id")
      deduped
        .select(col("lang"), size(tokenize(col("text"))).cast("long").as("n_tokens"))
        .where(col("n_tokens") >= 20)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          max("n_tokens").as("max_tokens"))
        .orderBy("lang")
    },

    // E7b: curation funnel — the observability face of a composed cleaning
    // chain: per-stage surviving row counts for input → boilerplate-line
    // removal (planted footer on every 3rd doc; all-boilerplate docs drop)
    // → exact dedup (50 planted copies collapse) → token-count quality
    // gate. The report every production curation run ships next to its
    // output; each stage is the already-catalogued operator, so the funnel
    // pins their COMPOSITION end-to-end against one oracle. Scale: each
    // stage count is a map-side partial aggregate over the stage's frame;
    // the stages themselves inherit their operators' documented shapes.
    QueryDef.sql(
      "e7_curation_funnel",
      s"""WITH base AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'please subscribe to our newsletter today' ELSE '' END AS text
         |  FROM documents),
         |corpus AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM base WHERE doc_id < 50),
         |l AS (SELECT doc_id, unnest(str_split(text, chr(10))) AS line,
         |             generate_subscripts(str_split(text, chr(10)), 1) AS pos
         |      FROM corpus WHERE length(text) > 0),
         |bp AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 50),
         |m AS (SELECT l.doc_id, l.pos, l.line, b.line IS NOT NULL AS isbp
         |      FROM l LEFT JOIN bp b USING (line)),
         |cleaned AS (
         |  SELECT doc_id,
         |         coalesce(string_agg(CASE WHEN NOT isbp THEN line END, chr(10) ORDER BY pos), '') AS text
         |  FROM m GROUP BY doc_id),
         |nonempty AS (SELECT doc_id, text FROM cleaned WHERE length(text) > 0),
         |deduped AS (SELECT min(doc_id) AS doc_id, text FROM nonempty GROUP BY text),
         |quality AS (SELECT doc_id FROM deduped WHERE len($duckToks) >= 20)
         |SELECT '1_input' AS stage, CAST(count(*) AS BIGINT) AS n_rows FROM corpus
         |UNION ALL SELECT '2_boilerplate', CAST(count(*) AS BIGINT) FROM nonempty
         |UNION ALL SELECT '3_dedup', CAST(count(*) AS BIGINT) FROM deduped
         |UNION ALL SELECT '4_quality', CAST(count(*) AS BIGINT) FROM quality
         |ORDER BY stage""".stripMargin) { (s, d) =>
      import graft.operators.{Dedup, Pinned}
      val base = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\nplease subscribe to our newsletter today")).otherwise(lit(""))).as("text"))
      val corpus = Pinned.pin(base.union(base.where(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))))
      val nonempty = Pinned.pin(
        Dedup.removeBoilerplate(corpus, "doc_id", "text", minDocs = 50)
          .where(length(col("cleaned_text")) > 0)
          .select(col("doc_id"), col("cleaned_text").as("text")))
      val deduped = Pinned.pin(Dedup.exactDedup(nonempty, Seq("text"), "doc_id"))
      val quality = deduped.where(size(tokenize(col("text"))) >= 20)
      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("stage"), col("n_rows"))
      stage("1_input", corpus)
        .union(stage("2_boilerplate", nonempty))
        .union(stage("3_dedup", deduped))
        .union(stage("4_quality", quality))
        .orderBy("stage")
    },

    // E8: sequence packing — concatenate documents per language in doc_id
    // order and cut into fixed token-budget chunks (the standard LLM
    // pretraining shard/pack step). One window pass per language: chunk id
    // is the token-budget bucket of each doc's preceding cumulative count.
    // At 100 TB the partitionBy(lang) window shuffles once on lang; with a
    // skewed language mix, pre-bucket by (lang, doc_id range) instead.
    QueryDef.sql(
      "e8_pack_chunks",
      s"""WITH toks AS (
         |  SELECT doc_id, lang, len($duckToks) AS n_tokens FROM documents
         |),
         |packed AS (
         |  SELECT doc_id, lang, n_tokens,
         |         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
         |  FROM toks
         |)
         |SELECT doc_id, lang, n_tokens,
         |       CAST(floor(cum_before / 2000) AS BIGINT) AS chunk
         |FROM packed ORDER BY lang, doc_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(tokenize(col("text"))).cast("long").as("n_tokens"))
        .withColumn("cum_before", sum("n_tokens").over(w) - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          floor(col("cum_before") / 2000).cast("long").as("chunk"))
        .orderBy("lang", "doc_id")
    },

    // E5f: quantile quality gate — keep each language's top-half documents
    // by heuristic quality score (the relative-threshold variant of the e7
    // absolute gate; real pipelines budget per language, not globally).
    // One window pass per language; rank ties broken by doc_id so the cut
    // is deterministic.
    QueryDef.sql(
      "e5_quality_gate",
      s"""WITH base AS (
         |  SELECT doc_id, lang, text, $duckToks AS toks FROM documents
         |),
         |scored AS (
         |  SELECT doc_id, lang,
         |         round(${duckQuality(duckStopRatio("toks"), "len(toks)", duckPunctRatio("text"))}, 6) AS quality
         |  FROM base
         |),
         |ranked AS (
         |  SELECT doc_id, lang, quality,
         |         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS n_lang
         |  FROM scored
         |)
         |SELECT doc_id, lang, quality FROM ranked
         |WHERE rn * 2 <= n_lang ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = tokenize(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          round(qualityScore(col("text"), toks), 6).as("quality"))
      val wRank = Window.partitionBy("lang").orderBy(col("quality").desc, col("doc_id"))
      val wAll = Window.partitionBy("lang")
      scored
        .withColumn("rn", row_number().over(wRank))
        .withColumn("n_lang", count(lit(1)).over(wAll))
        .where(col("rn") * 2 <= col("n_lang"))
        .select("doc_id", "lang", "quality")
        .orderBy("doc_id")
    },

    // E5e: PII-style redaction — scrub synthetic emails and long digit runs
    // with portable regexes (same pattern dialect in both engines), then
    // fingerprint the redacted text so the oracle compares outcomes without
    // hauling full documents through the harness.
    QueryDef.sql(
      "e5_redact",
      """WITH salted AS (
        |  SELECT doc_id,
        |         text || ' contact user' || doc_id || '@example.com ref ' ||
        |           (doc_id * 7919 + 1000000) AS text
        |  FROM documents
        |),
        |red AS (
        |  SELECT doc_id,
        |         regexp_replace(
        |           regexp_replace(text, '[a-zA-Z0-9.%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
        |           '[0-9]{6,}', '<NUM>', 'g') AS redacted
        |  FROM salted
        |)
        |SELECT doc_id, md5(redacted) AS red_fp,
        |       CAST(length(redacted) AS BIGINT) AS red_len
        |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      val salted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com ref "), col("doc_id") * 7919 + 1000000).as("text"))
      val redacted = regexp_replace(
        regexp_replace(col("text"), "[a-zA-Z0-9.%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
        "[0-9]{6,}", "<NUM>")
      salted
        .select(col("doc_id"), md5(redacted.cast("binary")).as("red_fp"),
          length(redacted).cast("long").as("red_len"))
        .orderBy("doc_id")
    },

    // E5d: rolling polynomial fingerprint (order-sensitive, incremental).
    QueryDef.sql(
      "e5_rolling_fingerprint",
      s"""SELECT doc_id,
         |       list_reduce(
         |         list_prepend(CAST(0 AS BIGINT),
         |           list_transform($duckToks, t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
         |         (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), rollingFingerprint(tokenize(col("text"))).as("rolling_fp"))
        .orderBy("doc_id")
    },

    // E5c: document fingerprint over normalized tokens (md5 — portable
    // across engines, collapses formatting variants).
    QueryDef.sql(
      "e5_fingerprint",
      s"""SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // F6b: array set operations — distinct-token overlap/difference between
    // consecutive documents (array_intersect/except with order-insensitive
    // size comparison).
    QueryDef.sql(
      "f6_token_setops",
      s"""WITH t AS (SELECT doc_id, list_distinct($duckToks) AS toks FROM documents WHERE doc_id < 50)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS BIGINT) AS n_common,
         |       CAST(len(list_filter(a.toks, x -> NOT list_contains(b.toks, x))) AS BIGINT) AS n_only_a
         |FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
         |ORDER BY a_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).where(col("doc_id") < 50)
        .select(col("doc_id"), array_distinct(tokenize(col("text"))).as("toks"))
      val a = t.select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
      val b = t.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
      a.join(b, col("b_id") === col("a_id") + 1)
        .select(col("a_id"), col("b_id"),
          size(array_intersect(col("a_toks"), col("b_toks"))).cast("long").as("n_common"),
          size(array_except(col("a_toks"), col("b_toks"))).cast("long").as("n_only_a"))
        .orderBy("a_id")
    },

    // S8/J1: embedding-model source as a broadcast dimension table — the
    // word→vector lookup of the reference's Word2Vec path
    // (chapter2/PredictCommentsUsingRNNAndWord2Vec.java:55): tokens map to
    // a vector id (portable hash mod table size) and join the broadcast
    // embedding table; per-doc mean pooling of the looked-up vectors.
    QueryDef.sql(
      "s8_embedding_lookup",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($duckToks) AS token FROM documents WHERE doc_id < 100
         |), keyed AS (
         |  SELECT doc_id, token,
         |         CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) %
         |           (SELECT count(*) FROM embeddings) AS vec_id
         |  FROM toks
         |)
         |SELECT k.doc_id, count(*) AS n_tokens,
         |       round(avg(CAST(e.embedding[1] AS DOUBLE)), 6) AS mean_e1
         |FROM keyed k JOIN embeddings e USING (vec_id)
         |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextFunctions.hash32
      val nVecs = Tables.embeddings(s, d).count()
      val keyed = Tables.documents(s, d).where(col("doc_id") < 100)
        .select(col("doc_id"), explode(tokenize(col("text"))).as("token"))
        .withColumn("vec_id", hash32(col("token")) % nVecs)
      keyed.join(broadcast(Tables.embeddings(s, d)), "vec_id")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("mean_e1"))
        .orderBy("doc_id")
    },

    // E4: multimodal column plumbing — text treated as an opaque binary
    // payload with typed metadata; byte length + a deterministic stub
    // "decode" feature. (Real decode is operators.Multimodal.decodeStub,
    // exercised in tests — no image libs in this container.)
    QueryDef.sql(
      "e4_binary_meta",
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |       CAST(octet_length(encode(text)) % 256 AS INT) AS feature0
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val bin = col("text").cast("binary")
      Tables.documents(s, d)
        .select(col("doc_id"), length(bin).cast("long").as("n_bytes"),
          (length(bin) % 256).cast("int").as("feature0"))
        .orderBy("doc_id")
    },

    // E5c: bigram-LM fluency scoring (operators.NgramLM) — the KenLM-style
    // perplexity filter in its oracle-exact form: fit bigram counts on the
    // corpus, score each doc by the mean/min MLE conditional probability of
    // its transitions. Transcendental-free (scaled-integer sums, exact
    // divisions) so DuckDB replays it bit-for-bit; the ln-based
    // scoreLogProb twin is unit-tested instead.
    QueryDef.sql(
      "e5_bigram_fluency",
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS gram
         |      FROM base),
         |bg AS (SELECT gram, count(*) AS c_gram FROM g GROUP BY gram),
         |pf AS (SELECT split_part(gram, ' ', 1) AS prefix, sum(c_gram) AS c_prefix
         |       FROM bg GROUP BY 1),
         |model AS (SELECT gram, c_gram, c_prefix
         |          FROM bg JOIN pf ON split_part(bg.gram, ' ', 1) = pf.prefix),
         |scored AS (SELECT doc_id,
         |             CAST(c_gram AS DOUBLE) / c_prefix AS r,
         |             CAST(round(CAST(c_gram AS DOUBLE) / c_prefix * 1e9) AS BIGINT) AS s
         |           FROM g JOIN model USING (gram))
         |SELECT doc_id, count(*) AS n_grams,
         |       round(CAST(sum(s) AS DOUBLE) / count(*) / 1e9, 6) AS mean_cond_prob,
         |       round(min(r), 6) AS min_cond_prob
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val model = graft.operators.NgramLM.fit(docs, "text", n = 2)
      graft.operators.NgramLM.scoreMeanProb(docs, model, "doc_id", "text", n = 2)
        .orderBy("doc_id")
    },

    // E5d: TF-IDF keyword extraction — top-3 terms per document. The idf
    // damping is sqrt(N/df) rather than ln(N/df): sqrt is an
    // exactly-rounded IEEE op, so scores (and therefore the per-doc
    // ranking) are bit-identical across engines. df comes from the
    // (doc, term) aggregate, so it is a distinct-doc count by construction.
    QueryDef.sql(
      "e5_tfidf_terms",
      s"""WITH t AS ($duckTokenStream),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token),
         |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT doc_id, token,
         |        round(tf * sqrt(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
         |        CAST(row_number() OVER (
         |          PARTITION BY doc_id
         |          ORDER BY tf * sqrt(CAST(n_docs AS DOUBLE) / df) DESC, token) AS BIGINT) AS rank
         |      FROM tf JOIN idf USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tfidf, rank FROM s WHERE rank <= 3
         |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
      val nDocs = Tables.documents(s, d).count()
      val tf = tokensDF(s, d).groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val score = col("tf") * sqrt(lit(nDocs).cast("double") / col("df"))
      val w = Window.partitionBy("doc_id").orderBy(score.desc, col("token"))
      tf.join(idf, "token")
        .withColumn("tfidf", round(score, 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 3)
        .select("doc_id", "token", "tfidf", "rank")
        .orderBy("doc_id", "rank")
    },

    // E13: robust outlier scoring — rank documents by how many robust
    // z-scores (median / MAD, the standard robust location/scale pair)
    // their token count sits from their source's center, and surface the
    // 20 most extreme. Mean/stddev outlier cuts are circular at curation
    // time — the outliers being hunted drag the mean toward themselves;
    // median/MAD have a 50% breakdown point. The query emits SCORES plus a
    // rank rather than thresholding (the fixture's synthetic lengths are
    // near-uniform, so any fixed textbook cut like |z| > 3 matches nothing
    // at some sf — a real corpus applies its own cut to the score).
    // Plan shape: two tiny per-source aggregates (exact percentile is fine
    // per GROUP — the state is per-source, not per-corpus) broadcast back
    // to the row stream, then one global top-20
    // (TakeOrderedAndProject-shaped); the corpus never shuffles.
    // Contract: a source with MAD = 0 — i.e. at least half its docs sit
    // exactly at the median length (templated/boilerplate sources) — is
    // EXCLUDED from scoring entirely, outliers included: the robust scale
    // is undefined there, and a caller who wants such sources scored
    // should substitute a fallback scale (mean absolute deviation) first.
    // 1.4826 rescales MAD to sigma-equivalent units (normal consistency).
    QueryDef.sql(
      "e13_outlier_mad",
      s"""WITH toks AS (SELECT doc_id, source,
         |  CAST(len($duckToks) AS DOUBLE) AS n_toks FROM documents),
         |med AS (SELECT source, quantile_cont(n_toks, 0.5) AS med
         |        FROM toks GROUP BY source),
         |dev AS (SELECT doc_id, source, n_toks, abs(n_toks - med) AS absdev
         |        FROM toks JOIN med USING (source)),
         |scored AS (SELECT doc_id, source, n_toks,
         |             round(absdev / (1.4826 * mad), 6) AS robust_z
         |           FROM dev JOIN (SELECT source, quantile_cont(absdev, 0.5) AS mad
         |                          FROM dev GROUP BY source) USING (source)
         |           WHERE mad > 0)
         |SELECT doc_id, source, n_toks, robust_z,
         |  CAST(row_number() OVER (ORDER BY robust_z DESC, doc_id) AS BIGINT) AS rk
         |FROM scored ORDER BY rk LIMIT 20""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(tokenize(col("text"))).cast("double").as("n_toks"))
      val med = toks.groupBy("source")
        .agg(expr("percentile(n_toks, 0.5)").as("med"))
      val dev = toks.join(broadcast(med), "source")
        .withColumn("absdev", abs(col("n_toks") - col("med")))
      val madt = dev.groupBy("source")
        .agg(expr("percentile(absdev, 0.5)").as("mad"))
      val scored = dev.join(broadcast(madt), "source")
        .where(col("mad") > 0)
        .select(col("doc_id"), col("source"), col("n_toks"),
          round(col("absdev") / (lit(1.4826) * col("mad")), 6).as("robust_z"))
      val w = Window.orderBy(col("robust_z").desc, col("doc_id"))
      scored.orderBy(col("robust_z").desc, col("doc_id")).limit(20)
        .withColumn("rk", row_number().over(w).cast("long"))
        .orderBy("rk")
    },

    // E8b: length-bucketed batch assignment — group documents of similar
    // token length into fixed-size batches (bucket = 64-token length band,
    // 16 docs per batch, length-sorted within the bucket) and report each
    // batch's padding overhead: pad_tokens = what a pad-to-longest batch
    // wastes. THE standard throughput trick for sequence-model training —
    // random batching pads most sequences to the batch max; length-sorted
    // batching makes max ~= min within a batch. Integer-only arithmetic,
    // so the oracle replays it exactly. Scale: the window partitions by
    // length band (parallelism = #bands); a corpus whose single band
    // outgrows a task takes the same two-phase draw-bucket split as
    // Sampling.tokenBudget.
    QueryDef.sql(
      "e8_length_batches",
      s"""WITH toks AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_toks
         |              FROM documents),
         |r AS (SELECT doc_id, n_toks, n_toks // 64 AS bucket,
         |        row_number() OVER (PARTITION BY n_toks // 64
         |                           ORDER BY n_toks, doc_id) AS rn
         |      FROM toks)
         |SELECT bucket, CAST((rn - 1) // 16 AS BIGINT) AS batch_id,
         |  count(*) AS n_docs, min(n_toks) AS min_toks, max(n_toks) AS max_toks,
         |  CAST(max(n_toks) * count(*) - sum(n_toks) AS BIGINT) AS pad_tokens
         |FROM r GROUP BY bucket, batch_id
         |ORDER BY bucket, batch_id""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), size(tokenize(col("text"))).cast("long").as("n_toks"))
        .withColumn("bucket", expr("n_toks div 64"))
      val w = Window.partitionBy("bucket").orderBy("n_toks", "doc_id")
      toks.withColumn("rn", row_number().over(w))
        .withColumn("batch_id", expr("(rn - 1) div 16").cast("long"))
        .groupBy("bucket", "batch_id")
        .agg(count(lit(1)).as("n_docs"), min("n_toks").as("min_toks"),
          max("n_toks").as("max_toks"),
          (max("n_toks") * count(lit(1)) - sum("n_toks")).as("pad_tokens"))
        .orderBy("bucket", "batch_id")
    },

    // E8c: sliding-window chunking (window 128 tokens, stride 96 — 32-token
    // overlap), the retrieval/RAG ingestion shape: every document becomes
    // chunk rows carrying (start offset, actual length, content signature).
    // Starts are 0, S, 2S, ... < n, so the tail chunk may be short and a
    // doc shorter than one window still yields its single chunk.
    // Scale: pure per-row expression work (sequence + explode + slice) —
    // the corpus never shuffles; output order is the only exchange and
    // exists for the oracle, not the pipeline.
    QueryDef.sql(
      "e8_overlap_chunks",
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |s AS (SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0),
         |st AS (SELECT doc_id, toks, n, unnest(range(0, n, 96)) AS start FROM s)
         |SELECT doc_id, CAST(start // 96 AS BIGINT) AS chunk_id,
         |       CAST(start AS BIGINT) AS start_tok,
         |       CAST(len(toks[start + 1 : least(start + 128, n)]) AS BIGINT) AS chunk_len,
         |       md5(array_to_string(toks[start + 1 : least(start + 128, n)], ' ')) AS chunk_sig
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      val win = 128
      val stride = 96
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), tokenize(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .where(col("n") > 0)
      toks
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("n") - 1, lit(stride))).as("start"))
        .withColumn("chunk", slice(col("toks"), col("start") + 1, lit(win)))
        .select(col("doc_id"),
          expr(s"CAST(start DIV $stride AS BIGINT)").as("chunk_id"),
          col("start").cast("long").as("start_tok"),
          size(col("chunk")).cast("long").as("chunk_len"),
          md5(concat_ws(" ", col("chunk"))).as("chunk_sig"))
        .orderBy("doc_id", "chunk_id")
    },

    // E5l: cross-document duplicate n-gram coverage — for each document,
    // the fraction of its DISTINCT 3-gram shingles that occur in at least
    // one other document (the Gopher/C4-style "duplicate n-gram fraction"
    // quality signal; high values mark boilerplate and template spam that
    // exact/near dedup keeps because the documents differ overall).
    // Scale: shingles are md5-hashed before any exchange, so 16-byte
    // digests shuffle, never text (the e1 discipline); the doc-frequency
    // aggregate is bounded by distinct-shingle cardinality, and the
    // exploded stream is pinned so tokenization runs once, not twice
    // (aggregate input + join probe).
    QueryDef.sql(
      "e5_dup_ngram_coverage",
      s"""WITH base AS (SELECT doc_id, $duckToks AS toks FROM documents),
         |g AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, len(toks) - 1),
         |          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
         |      FROM base),
         |e AS (SELECT doc_id,
         |        CAST('0x' || substr(md5(unnest(grams)), 1, 15) AS BIGINT) AS gh
         |      FROM g WHERE len(grams) > 0),
         |dup AS (SELECT gh FROM e GROUP BY gh HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM e GROUP BY doc_id),
         |nd AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_dup
         |       FROM e JOIN dup USING (gh) GROUP BY e.doc_id)
         |SELECT tot.doc_id, tot.n_grams,
         |       coalesce(nd.n_dup, 0) AS n_dup,
         |       round(CAST(coalesce(nd.n_dup, 0) AS DOUBLE) / tot.n_grams, 6) AS dup_frac
         |FROM tot LEFT JOIN nd USING (doc_id) ORDER BY tot.doc_id""".stripMargin) { (s, d) =>
      // digests shuffle as 8-byte truncated-md5 longs (hash60), never
      // 32-char md5 strings, and only the df >= 2 subset joins back —
      // per-doc totals come from a separate cheap partial aggregate
      // instead of carrying df through a corpus-wide equi-join. The
      // truncation is applied identically in the oracle, so collision
      // behavior (and therefore every count) stays hash-exact.
      // shingleSet handles the two shingling perf traps (token projection
      // boundary; repartition of the single-split parquet).
      val grams = graft.operators.Pinned.pin(
        graft.operators.Dedup.shingleSet(
            Tables.documents(s, d).select(col("doc_id"), col("text")), "doc_id", "text", n = 3)
          .select(col("doc_id"), graft.functions.TextFunctions.hash60(col("sh")).as("gh")))
      val dup = grams.groupBy("gh").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2).select("gh")
      val tot = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val nd = grams.join(dup, "gh").groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      tot.join(nd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"),
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"), 6)
            .as("dup_frac"))
        .orderBy("doc_id")
    },

    // E5m: exact heavy hitters — the corpus's top-25 tokens by total
    // occurrences, deterministic tie-break on the token. Plan shape:
    // partial (map-side) count per token, one shuffle sized by the
    // DISTINCT vocabulary, then TakeOrderedAndProject for the global
    // top-k — the full counts never sort globally.
    QueryDef.sql(
      "e5_heavy_hitters",
      s"""SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM ($duckTokenStream) GROUP BY token
         |ORDER BY n DESC, token LIMIT 25""".stripMargin) { (s, d) =>
      tokensDF(s, d).groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(25)
    },

    // E5n: the SKETCH path — count-min-sketch frequency estimates for the
    // same top-25 tokens. At 100 TB the exact path's shuffle carries the
    // full distinct vocabulary; the sketch pass reduces to ONE constant-
    // size counter grid (map-side merge, ~KBs at eps = 1e-3) regardless
    // of corpus or vocabulary size. DuckDB cannot replay the sketch, but
    // the seeded CMS is deterministic AND partition-invariant (counter
    // adds commute), so the oracle pins a committed golden
    // (graft.GoldenGen); the one-sided error bound
    // (exact <= est <= exact + eps * N) stays gated in OperatorsSpec.
    QueryDef.pinnedSql(
      "e5_heavy_hitters_cms",
      Golden.sql("e5_heavy_hitters_cms", "token, exact_n, est_n",
        "exact_n DESC, token")) { (s, d) =>
      import graft.operators.{Pinned, Sketches}
      val toks = Pinned.pin(tokensDF(s, d))
      val top = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("token")).limit(25)
      val cms = Sketches.countMinSketchOf(toks, "token",
        eps = 1e-3, confidence = 0.99, seed = 1)
      Sketches.withEstimate(top, "token", cms, "est_n")
        .select("token", "exact_n", "est_n")
        .orderBy(col("exact_n").desc, col("token"))
    },

    // E5p: BPE first-merge pair counts — the inner loop of byte-pair-
    // encoding tokenizer training: corpus-weighted frequencies of adjacent
    // character pairs, top-30 (the candidates for the first merge). The
    // 100 TB trick is the two-level aggregate: the corpus reduces to WORD
    // COUNTS first (one shuffle with map-side combine), then the char-pair
    // explode runs over the DISTINCT VOCABULARY weighted by those counts —
    // vocabulary-sized work independent of corpus size, where the naive
    // formulation explodes character pairs over every token occurrence.
    QueryDef.sql(
      "e5_bpe_pairs",
      s"""WITH wc AS (SELECT token, count(*) AS wn FROM ($duckTokenStream) GROUP BY token),
         |p AS (SELECT wn, unnest(list_transform(range(1, length(token)),
         |        i -> substr(token, i, 2))) AS pair
         |      FROM wc WHERE length(token) >= 2)
         |SELECT pair, CAST(sum(wn) AS BIGINT) AS n
         |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin) { (s, d) =>
      val wc = tokensDF(s, d).groupBy("token").agg(count(lit(1)).as("wn"))
      wc.where(length(col("token")) >= 2)
        .select(col("wn"), explode(expr(
          "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("wn").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(30)
    },

    // E5o: deflate-compression-ratio quality signal (Gopher/RefinedWeb's
    // boilerplate/repetition proxy) — per-source distribution stats plus
    // the count of suspiciously-compressible docs (ratio < 0.35).
    // Deterministic (fixed deflate level on the JDK's bundled zlib) but
    // not COMPUTABLE in DuckDB, so the oracle reads a stored golden table
    // (VERDICT r5 #6) generated by `Test/runMain graft.GoldenGen` from
    // this very query: the pin catches deflate/JDK drift, code
    // regressions, and fixture-text drift between rounds (regenerate the
    // golden after the driver regenerates fixtures — see GoldenGen).
    // Semantics (repetition compresses below prose, ordering, null/empty
    // contract) stay pinned in FunctionsSpec. Map-side only: one deflate
    // pass per doc, the aggregate is the lone exchange (|sources| rows
    // out). Golden path follows the t2 contract's fixed sf0.01
    // correctness dir, like s4_binary_scan's oracle.
    QueryDef.pinnedSql(
      "e5_compression_ratio",
      Golden.sql("e5_compression_ratio",
        "source, avg_ratio, min_ratio, max_ratio, n_suspicious", "source")) { (s, d) =>
      import graft.operators.Quality
      Quality.withCompressionRatio(
        Tables.documents(s, d).select(col("source"), col("text")), "text", "ratio")
        .groupBy("source")
        .agg(round(avg(col("ratio")), 4).as("avg_ratio"),
          round(min(col("ratio")), 4).as("min_ratio"),
          round(max(col("ratio")), 4).as("max_ratio"),
          sum(when(col("ratio") < 0.35, 1L).otherwise(0L)).as("n_suspicious"))
        .orderBy("source")
    },

    // E5q: full BPE tokenizer TRAINING (the merge table e5_bpe_pairs only
    // previews round 1 of) — Sennrich et al. 2016 over the canonical token
    // stream. 100 TB: ONE corpus shuffle (exact word counts), a bounded
    // TakeOrdered vocab cut, then a corpus-independent driver merge loop
    // (operators/Bpe.scala scale note). Deterministic end to end (exact
    // counts, total-order tie-breaks), so the oracle pins a stored golden
    // like e5_compression_ratio — not SQL-expressible (iterative rewrite),
    // regenerate via `Test/runMain graft.GoldenGen` after fixture drift.
    QueryDef.pinnedSql(
      "e5_bpe_merges",
      Golden.sql("e5_bpe_merges", "rank, left_sym, right_sym, merged",
        "rank")) { (s, d) =>
      import graft.operators.Bpe
      val merges = Bpe.trainOn(tokensDF(s, d), "token",
        numMerges = 64, maxVocab = 4096)
      Bpe.mergesDF(s, merges)
        .withColumn("merged", concat(col("left_sym"), col("right_sym")))
        .orderBy("rank")
    },

    // E5q: BPE ENCODE — segment every document with the trained merges and
    // report per-source subword fertility (pieces per word, the number a
    // token-budget pipeline actually bills by). Encoding is pure map-side
    // (ranks broadcast, zero text shuffle); the lone exchange is the
    // |sources|-row aggregate. Same golden-pin oracle contract as above.
    QueryDef.pinnedSql(
      "e5_bpe_encode",
      Golden.sql("e5_bpe_encode",
        "source, n_docs, n_words, n_pieces, fertility", "source")) { (s, d) =>
      import graft.operators.Bpe
      // pinned: trainOn consumes the token stream EAGERLY and withPieces
      // re-reads it for encoding — unpinned, the corpus tokenizes twice
      // (review r9; the harness releases after every query)
      val docs = graft.operators.Pinned.pin(Tables.documents(s, d)
        .select(col("doc_id"), col("source"), tokenize(col("text")).as("toks")))
      val merges = Bpe.trainOn(
        docs.select(explode(col("toks")).as("token")), "token",
        numMerges = 64, maxVocab = 4096)
      Bpe.withPieces(docs, "toks", merges, "pieces")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("n_words"),
          sum(size(col("pieces"))).cast("long").as("n_pieces"),
          round(sum(size(col("pieces"))).cast("double") /
            sum(size(col("toks"))).cast("double"), 4).as("fertility"))
        .orderBy("source")
    }
  )
}
