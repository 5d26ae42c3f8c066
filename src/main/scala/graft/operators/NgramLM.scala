package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Count-based n-gram language model for corpus fluency scoring (SURVEY E5
  * extension) — the declarative form of the KenLM-style perplexity filter
  * every LLM data pipeline runs: fit n-gram statistics on a reference
  * corpus, score each document by how predictable its token transitions
  * are, cut the tail.
  *
  * Scale: the fitted model is gram-type-sized (vocabulary-bounded, ≪
  * corpus), built in one shuffle over exploded grams with map-side partial
  * counts. Scoring joins each doc's gram occurrences to the model on the
  * gram string — a plain equi-join AQE broadcasts whenever the model fits
  * (typical: a few GB for web-scale vocabularies), so the 100 TB corpus
  * streams through without shuffling text. No driver state, no UDFs.
  *
  * Two scores:
  *  - [[scoreMeanProb]] — mean/min MLE conditional probability
  *    P(w_i | w_{i-n+1..i-1}) = c(gram)/c(prefix). Transcendental-free by
  *    design (exactly-rounded ops only: integer counts, one double divide,
  *    scaled-integer sums), so the DuckDB oracle reproduces it bit-for-bit
  *    — same policy as TextFunctions.qualityScore.
  *  - [[scoreLogProb]] — the conventional average log-probability
  *    (ln-based, unit-tested rather than oracle-hashed: ln is not an
  *    exactly-rounded operation, so cross-engine bitwise parity is not
  *    guaranteed).
  */
object NgramLM {

  /** Fit n-gram counts over a corpus: one row per distinct gram with its
    * occurrence count and its prefix's total count — the MLE conditional
    * probability is c_gram / c_prefix. Gram occurrences count with
    * multiplicity (a language model is frequency-weighted, unlike the
    * dedup shingle sets). One shuffle on the gram; the prefix totals are a
    * second aggregate over the already-gram-type-sized counts, joined back
    * on the prefix.
    */
  def fit(corpus: DataFrame, textCol: String, n: Int = 2,
          repartitionFirst: Boolean = true): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2 for conditional probabilities, got $n")
    // pinned: BOTH the prefix aggregate and the final join consume this
    // frame — without the pin the corpus-wide explode+groupBy runs twice
    // (Spark does not share subplans across join branches). Gram-type-
    // sized, so the pin is vocabulary-bounded, never corpus-bounded.
    val grams = Pinned.pin(
      gramStream(corpus, Seq.empty, textCol, n, repartitionFirst)
        .groupBy("gram").agg(count(lit(1)).as("c_gram")))
    // prefix = the first n-1 tokens of the space-joined gram
    val withPrefix = grams.withColumn("prefix", substring_index(col("gram"), " ", n - 1))
    val prefixTotals = withPrefix.groupBy("prefix").agg(sum("c_gram").as("c_prefix"))
    // the gram column carries the fitted ORDER as schema metadata, so the
    // score functions can refuse an n-mismatched model (a trigram query
    // against a bigram model would miss every join and score everything
    // at unseenProb — silent corpus-wide garbage, review r8)
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(OrderMetaKey, n.toLong).build()
    withPrefix.join(prefixTotals, "prefix")
      .select(col("gram").as("gram", meta), col("c_gram"), col("c_prefix"))
  }

  private[graft] val OrderMetaKey = "graft_ngram_order"

  /** Refuse a model whose fitted gram order disagrees with the score call's
    * `n` (schema-metadata check — no job). Models from other sources
    * (no metadata) pass unchecked, caller's responsibility.
    */
  private def requireOrder(model: DataFrame, n: Int): Unit = {
    val meta = model.schema("gram").metadata
    if (meta.contains(OrderMetaKey))
      require(meta.getLong(OrderMetaKey) == n.toLong,
        s"model was fitted with n = ${meta.getLong(OrderMetaKey)} but is being " +
          s"scored with n = $n — every gram would miss and score unseenProb")
  }

  /** Per-doc fluency from MLE conditional probabilities, oracle-exact:
    *  - n_grams: the doc's gram occurrence count;
    *  - mean_cond_prob: mean of c_gram/c_prefix over occurrences. Each
    *    ratio is scaled to an integer (×1e9, exactly representable) before
    *    summing, so the cross-row sum is order-invariant — the same
    *    scaled-integer-moment trick a10_summary_stats uses;
    *  - min_cond_prob: the least predictable transition (min is
    *    order-invariant for free).
    * Docs with fewer than n tokens have no grams and drop out (as they do
    * from any perplexity filter). Grams absent from the model score
    * `unseenProb` (default 0.0 — the MLE value; fit-on-self never hits it).
    */
  def scoreMeanProb(docs: DataFrame, model: DataFrame, idCol: String,
                    textCol: String, n: Int = 2,
                    unseenProb: Double = 0.0,
                    repartitionFirst: Boolean = true): DataFrame = {
    requireOrder(model, n)
    val ratio = coalesce(
      col("c_gram").cast("double") / col("c_prefix"), lit(unseenProb))
    docGrams(docs, idCol, textCol, n, repartitionFirst)
      .join(model.select("gram", "c_gram", "c_prefix"), Seq("gram"), "left")
      .select(col(idCol), ratio.as("r"),
        round(ratio * lit(1e9)).cast("long").as("s"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        round(sum("s").cast("double") / count(lit(1)) / lit(1e9), 6).as("mean_cond_prob"),
        round(min("r"), 6).as("min_cond_prob"))
  }

  /** Conventional average log-probability (natural log of the MLE
    * conditional probability, averaged over the doc's gram occurrences) —
    * the score whose negative exponential is per-token perplexity. Unseen
    * grams floor at ln(unseenProb). Unit-tested, not oracle-hashed (ln).
    */
  def scoreLogProb(docs: DataFrame, model: DataFrame, idCol: String,
                   textCol: String, n: Int = 2,
                   unseenProb: Double = 1e-9,
                   repartitionFirst: Boolean = true): DataFrame = {
    requireOrder(model, n)
    val lp = coalesce(
      log(col("c_gram").cast("double") / col("c_prefix")), lit(math.log(unseenProb)))
    docGrams(docs, idCol, textCol, n, repartitionFirst)
      .join(model.select("gram", "c_gram", "c_prefix"), Seq("gram"), "left")
      .select(col(idCol), lp.as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), avg("lp").as("avg_logprob"))
  }

  /** Fluency gate: fit on the corpus itself and keep docs whose mean
    * conditional probability clears `minMeanProb` — the composable
    * filter-shaped form (garbled/templated-tail removal).
    *
    * UNSCOREABLE docs (fewer than n tokens — titles, one-word records)
    * yield no grams and so cannot clear any threshold: by DEFAULT they
    * are removed with the low-probability docs (the historical behavior,
    * now stated rather than silent); pass keepUnscoreable = true to let
    * them through ungated — the gate then only judges docs it can
    * actually score (review r8).
    */
  def fluencyGate(corpus: DataFrame, idCol: String, textCol: String,
                  minMeanProb: Double, n: Int = 2,
                  keepUnscoreable: Boolean = false): DataFrame = {
    val keep = scoreMeanProb(corpus, fit(corpus, textCol, n), idCol, textCol, n)
      .where(col("mean_cond_prob") >= minMeanProb)
      .select(idCol)
    if (!keepUnscoreable) corpus.join(keep, Seq(idCol), "left_semi")
    else {
      // unscoreable = under n tokens = zero grams (incl. NULL text);
      // scoreMeanProb never emits a row for them, so admit them by token
      // count directly. The null branch is EXPLICIT: size(NULL) is -1
      // only under legacy sizeOfNull semantics, and the gate must not
      // flip with spark.sql.ansi.enabled (review r10)
      val short = corpus
        .where(col(textCol).isNull || size(tokenize(col(textCol))) < n)
        .select(idCol)
      corpus.join(keep.union(short), Seq(idCol), "left_semi")
    }
  }

  /** repartitionFirst mirrors [[fit]]'s escape hatch on the SCORING hot
    * path: the default round-robin spread protects small single-split
    * inputs, but a 100 TB well-split corpus must not exchange every byte
    * of text before tokenizing — pass false there (review r10; the file
    * header's no-text-shuffle contract holds only with it).
    */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String, n: Int,
                       repartitionFirst: Boolean): DataFrame =
    gramStream(docs, Seq(idCol), textCol, n, repartitionFirst = repartitionFirst)

  /** (keep..., gram) occurrence stream. Tokens are projected behind a
    * named attribute BEFORE shingling — inlined, every element_at in the
    * shingle lambda re-runs the regexp tokenizer (O(doc^2) per document,
    * measured ~10x on the corpus-wide gram aggregate) — and the corpus is
    * spread first so a small single-split parquet doesn't shingle on one
    * task (same two traps Dedup.shingleSet documents).
    */
  private def gramStream(df: DataFrame, keep: Seq[String], textCol: String,
                         n: Int, repartitionFirst: Boolean): DataFrame = {
    // repartitionFirst = false for corpus-sized well-split inputs
    // (Dedup.shingleSet's exact contract): fitting over 100 TB must not
    // round-robin every byte of text through an exchange first
    val spread =
      if (repartitionFirst)
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      else df
    spread.select(keep.map(col) :+ tokenize(col(textCol)).as("__toks"): _*)
      .select(keep.map(col) :+ explode(shingles(col("__toks"), n)).as("gram"): _*)
  }
}
