package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fluent entry point for the whole engine: `import graft.api._` gives every
  * DataFrame the text/dedup/similarity/ranking verbs, so the reference's
  * pipelines read as one chain (tokenize → vocab filter → truncate → embed;
  * dedup → quality gate → pack) without reaching into the operator objects.
  * Thin forwarding only — each verb delegates to the tested operator, so the
  * scale/plan properties documented in SCALE.md carry over verbatim.
  */
package object api {

  implicit class TextOps(private val df: DataFrame) {

    /** Canonical tokenization (native `graft_tokenize`) of `textCol` into
      * `tokens` (SURVEY F1).
      */
    def tokenized(textCol: String = "text", as: String = "tokens"): DataFrame =
      df.withColumn(as, functions.TextFunctions.tokenize(col(textCol)))

    /** Heuristic quality score in [0,1] (E5) as column `quality`. */
    def qualityScored(textCol: String = "text"): DataFrame = {
      val toks = functions.TextFunctions.tokenize(col(textCol))
      df.withColumn("quality", functions.TextFunctions.qualityScore(col(textCol), toks))
    }

    /** Exact dedup keeping the min-tiebreak row per duplicate group (E1). */
    def dedupExact(key: Seq[String], tiebreak: String): DataFrame =
      operators.Dedup.exactDedup(df, key, tiebreak)

    /** Near-duplicate removal via MinHash-LSH banding + exact-Jaccard
      * verification (E2); keeps the min-id member of each detected pair.
      */
    def dedupNear(idCol: String, textCol: String = "text",
                  threshold: Double = 0.5): DataFrame =
      operators.Dedup.removeNearDups(df, idCol, textCol, threshold)

    /** Incremental vetting (E2): treat THIS frame as the new batch and drop
      * rows duplicating `existing` (or an earlier batch row). Pass the
      * stored signature/band indexes for the probe-only-touched-buckets
      * plan at scale.
      */
    def dedupIncrementalAgainst(existing: DataFrame, idCol: String,
                                textCol: String = "text", threshold: Double = 0.5,
                                existingIndex: Option[DataFrame] = None,
                                bandIndex: Option[DataFrame] = None): DataFrame =
      operators.Dedup.dedupIncremental(existing, df, idCol, textCol, threshold,
        existingIndex, bandIndex = bandIndex)

    /** Benchmark decontamination (E10): drop every row of THIS frame that
      * shares an n-token shingle with `evalSet` (the held-out benchmark).
      * The eval side broadcasts; this corpus streams once, unshuffled.
      */
    def decontaminatedAgainst(evalSet: DataFrame, idCol: String,
                              textCol: String = "text", n: Int = 4): DataFrame =
      operators.Dedup.decontaminate(df, evalSet, idCol, textCol, n)

    /** Token-budget curation (E11): per `groupCol`, keep rows in
      * deterministic draw order while the group's running count of
      * `tokensCol` stays within `budget` (bucketed scale-safe plan).
      */
    def tokenBudgeted(groupCol: String, key: String, tokensCol: String,
                      salt: String, budget: Long): DataFrame =
      operators.Sampling.tokenBudget(df, groupCol, col(key), col(tokensCol),
        salt, budget)

    /** Gopher-style repetition signal (E5): duplicated n-gram fraction as
      * column `rep_ratio`.
      */
    def repetitionScored(textCol: String = "text", n: Int = 2): DataFrame =
      df.withColumn("rep_ratio", functions.TextFunctions.repetitionRatio(
        functions.TextFunctions.tokenize(col(textCol)), n))

    /** Sequence packing (E8): assign docs to fixed token-budget chunks per
      * `partitionCol` in `orderCol` order; adds `n_tokens` and `chunk`.
      * Pass `nTokensCol` to reuse an already-computed token count instead
      * of re-tokenizing the corpus.
      */
    def packed(budget: Int, partitionCol: String = "lang",
               orderCol: String = "doc_id", textCol: String = "text",
               nTokensCol: Option[String] = None): DataFrame = {
      require(budget > 0, s"budget must be positive: $budget")
      // scratch/output columns must not silently clobber user data — the
      // same require convention AsOfJoin/Sampling use (review r9)
      if (nTokensCol.isEmpty)
        require(!df.columns.contains("n_tokens"),
          "input already has an n_tokens column — pass nTokensCol to use it")
      require(!df.columns.contains("chunk"), "input already has a chunk column")
      val w = Window.partitionBy(partitionCol).orderBy(orderCol)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counted = nTokensCol match {
        case Some(c) => df.withColumn("n_tokens", col(c).cast("long"))
        case None => df.withColumn("n_tokens",
          size(functions.TextFunctions.tokenize(col(textCol))).cast("long"))
      }
      counted.withColumn("chunk",
        floor((sum("n_tokens").over(w) - col("n_tokens")) / budget).cast("long"))
    }

    /** Deflate-compression-ratio quality signal (E5) as column `as` —
      * the Gopher/RefinedWeb boilerplate/repetition proxy.
      */
    def compressionScored(textCol: String = "text",
                          as: String = "compression_ratio"): DataFrame =
      operators.Quality.withCompressionRatio(df, textCol, as)

    /** C4-style boilerplate-line removal (E1): drop every line occurring
      * in >= `minDocs` distinct docs, reassemble documents in order.
      */
    def boilerplateRemoved(idCol: String, textCol: String = "text",
                           minDocs: Int = 50): DataFrame =
      operators.Dedup.removeBoilerplate(df, idCol, textCol, minDocs)

    /** Pairwise Jaccard overlap between strata via KMV signatures (E2):
      * returns (source_a, source_b, shared, denom, est_jaccard).
      *
      * Registers a pinned (persisted) signature frame internally; callers
      * outside the query harness must call `operators.Pinned.release()`
      * when done, or the cached blocks accumulate for the session.
      */
    def sourceOverlapKmv(strataCol: String, textCol: String = "text",
                         n: Int = 3, k: Int = 64): DataFrame =
      operators.Sketches.kmvJaccard(
        operators.Sketches.kmvSignatures(df, strataCol, textCol, n, k), k)

    /** Train BPE merge rules on a token column (E5): one word-count
      * shuffle + bounded vocab cut, then the driver-side merge loop —
      * see operators/Bpe.scala for the 100 TB split.
      */
    def bpeMerges(tokenCol: String = "token", numMerges: Int = 1000,
                  maxVocab: Int = 65536): Seq[(String, String)] =
      operators.Bpe.trainOn(df, tokenCol, numMerges, maxVocab)

    /** Segment an array-of-words column into BPE pieces (E5): ranks
      * broadcast, zero-shuffle map-side encode.
      */
    def bpeEncoded(merges: Seq[(String, String)],
                   tokensCol: String = "tokens",
                   as: String = "pieces"): DataFrame =
      operators.Bpe.withPieces(df, tokensCol, merges, as)
  }

  implicit class EmbeddingOps(private val corpus: DataFrame) {

    /** Exact top-k cosine neighbors of `queries` (E3 oracle path; small |Q|). */
    def topKExact(queries: DataFrame, k: Int): DataFrame =
      operators.Similarity.exactTopK(corpus, queries, k)

    /** ANN top-k via multi-table sign-bit LSH (E3 scale path). */
    def topKLsh(queries: DataFrame, k: Int): DataFrame =
      operators.Similarity.lshTopK(corpus, queries, k)

    /** ANN top-k via IVF coarse quantization (E3 scale path). */
    def topKIvf(queries: DataFrame, k: Int): DataFrame =
      operators.Similarity.ivfTopK(corpus, queries, k)

    /** ANN top-k via product quantization (E3 memory path): ADC scan over
      * m-byte codes, exact re-rank of the shortlist. For a persisted index
      * use `ProductQuantization.writeIndex` + `pqTopKPrebuilt` directly.
      */
    def topKPq(queries: DataFrame, k: Int, rerank: Int = 4): DataFrame =
      operators.ProductQuantization.pqTopK(corpus, queries, k, rerank = rerank)

    /** ANN top-k via the IVF-PQ (IVFADC) composition (E3): coarse cells
      * prune compute, residual-PQ codes prune bytes.
      *
      * Registers a pinned (persisted) cell-assignment frame internally;
      * callers outside the query harness must call
      * `operators.Pinned.release()` when done, or the cached blocks
      * accumulate for the session.
      */
    def topKIvfPq(queries: DataFrame, k: Int, nProbe: Int = 4,
                  rerank: Int = 4): DataFrame =
      operators.ProductQuantization.ivfPqTopK(corpus, queries, k,
        nProbe = nProbe, rerank = rerank)

    /** Aggregate recall@k of THIS frame (an ANN result with q_id/n_id
      * columns) against `exact`: one row (n_queries, recall_ok) — the
      * quality gate the catalog's e3_ann_* entries pin per round.
      */
    def recallAgainst(exact: DataFrame, minMeanRecall: Double): DataFrame =
      operators.Similarity.recallSummary(corpus, exact, minMeanRecall)

    /** SemDeDup-style semantic dedup (E2): one kept representative per
      * above-`threshold` cosine component within each KMeans cell.
      * Returns (id, cell, component, kept).
      *
      * Registers a pinned (persisted) cell-assignment frame internally;
      * callers outside the query harness must call
      * `operators.Pinned.release()` when done, or the cached blocks
      * accumulate for the session.
      */
    def semDeduped(threshold: Double, nCells: Int = 16,
                   fitSampleFraction: Double = 1.0): DataFrame =
      operators.Similarity.semDedup(corpus, threshold, nCells, fitSampleFraction)
  }

  implicit class RelationalOps(private val left: DataFrame) {

    /** Backward as-of join (J6/W5): latest right `valueCol` at-or-before
      * each left `ts` within `key`.
      */
    def asofBackward(right: DataFrame, key: String, ts: String,
                     valueCol: String): DataFrame =
      operators.AsOfJoin.backward(left, right, key, ts, valueCol)

    /** Per-group top-n by `scoreCol` (W1): deterministic rank tiebreak.
      * Output schema equals the input schema (the rank helper is dropped).
      */
    def topNPerGroup(groupCol: String, scoreCol: String, n: Int,
                     tiebreak: String): DataFrame = {
      require(!left.columns.contains("__rnk"),
        "input already has a __rnk column (the rank scratch column would destroy it)")
      val w = Window.partitionBy(groupCol)
        .orderBy(col(scoreCol).desc, col(tiebreak))
      left.withColumn("__rnk", row_number().over(w)).where(col("__rnk") <= n)
        .drop("__rnk")
    }

    /** Two-phase salted grouped sum for degenerate key skew. */
    def saltedSum(keyCols: Seq[String], valueCol: Column, salts: Int = 16): DataFrame =
      operators.Skew.saltedSum(left, keyCols, valueCol, salts)

    /** Deterministic ~pct% sample by key (O2) — partitioning-invariant,
      * pushdown-friendly, engine-portable (md5 draw).
      */
    def hashSampled(key: String, salt: String, pct: Int): DataFrame =
      operators.Sampling.hashSample(left, col(key), salt, pct)

    /** Deterministic permutation (O3): adds a dense 1-based `pos` column. */
    def hashShuffled(key: String, salt: String, outCol: String = "pos"): DataFrame =
      operators.Sampling.hashShuffle(left, col(key), salt, outCol)

    /** Deterministic train/test split label (O4) as column `split`. */
    def splitLabeled(key: String, salt: String, trainPct: Int = 80): DataFrame =
      left.withColumn("split", operators.Sampling.splitLabel(col(key), salt, trainPct))

    /** Source-weighted mixing (E12): replicate rows per-stratum `weights`
      * (fractional epochs drawn deterministically); adds `epoch`.
      */
    def weightedMixed(strataCol: String, weights: Map[String, Double],
                      key: String, salt: String): DataFrame =
      operators.Sampling.weightedMix(left, col(strataCol), weights, col(key), salt)
  }
}
