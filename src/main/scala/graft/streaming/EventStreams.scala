package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Structured-Streaming surface (SURVEY E6): the same window expressions
  * power the batch-parity queries in EventQueries and the streaming tests
  * (MemoryStream in EventStreamsSpec) — one definition, two execution modes,
  * which is exactly how Structured Streaming is meant to be used.
  *
  * Scale: streaming aggs shuffle on (group, window); watermarks bound state.
  * At 100 TB/day the same code runs with kafka sources — nothing here is
  * local-mode-specific.
  */
object EventStreams {

  /** Tumbling 1-hour counts+sums per event type. `withEventTimeWatermark`
    * must be applied by the caller for streaming inputs.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(14, 2))).cast("double").as("total"))
      .select(col("event_type"), col("w.start").as("win_start"), col("n"), col("total"))

  /** Session windows (10-minute gap) per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n"))

  /** Streaming wrapper: 10-minute watermark for late data, then tumbling agg. */
  def streamingTumbling(stream: DataFrame): DataFrame =
    tumblingAgg(stream.withWatermark("ts", "10 minutes"))

  /** Streaming dedup by event_id within the watermark horizon. */
  def streamingDedup(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continual-ingest dedup sink: each micro-batch of documents is vetted
    * against the clean corpus accumulated so far (Dedup.dedupIncremental —
    * exact fingerprints + MinHash-LSH) and only survivors land in
    * `outDir/docs` — the streaming composition the incremental
    * signature-index story exists for. The signature index is MAINTAINED
    * at `outDir/index` from the signatures already computed during vetting
    * (dedupIncrementalWithIndex), so no round re-tokenizes or re-hashes
    * the accumulated corpus. Earlier batches always win against later
    * ones, so with ingest-ordered ids the result equals running the batch
    * dedup over the full corpus at once (asserted in StreamingSpec).
    *
    * Replay-idempotent for the realistic failure modes: every write goes
    * to a `batch=<id>` partition directory in OVERWRITE mode, and both
    * reads exclude the current batch id — so a batch replayed after a
    * crash between the two writes (or after both, before the checkpoint
    * commit) recomputes against exactly the state its first attempt saw
    * and overwrites the same directories with the same rows. A crash in
    * the MIDDLE of a write heals when the committer leaves only staging
    * debris (`_temporary`; FileOutputCommitter v1): directories without
    * committed data files are treated as ABSENT, so the replay's
    * overwrite — or the one-time index rebuild — repairs them instead of
    * wedging on an unreadable directory. What a plain-parquet layout
    * cannot survive is a committer that exposes partial task output as
    * committed files (v2 semantics on object stores): crash-mid-write
    * there needs a transactional table format underneath, not this sink.
    *
    * outDir is coupled to the checkpoint's batch-id sequence. Resuming
    * against a populated outDir with a fresh/reset checkpoint would
    * renumber batches from 0, silently exclude earlier batches from the
    * dedup corpus and then overwrite them — so the sink refuses to run a
    * batch id below one already committed. (A reset that collides exactly
    * at the maximum committed id is indistinguishable from a legitimate
    * replay of that batch and cannot be caught here; keep checkpoint and
    * outDir lifecycles together.)
    *
    * A pre-existing external corpus at outDir/docs (no index yet) is
    * bootstrapped once: its loose files move into the sink's `batch=-1`
    * partition directory (a metadata-only rename, result-checked) and a
    * full index builds under `index/batch=-1` — after that, every batch
    * is index-only. The same migration covers a user-prebuilt
    * [[graft.operators.Dedup.signatureIndex]] at outDir/index. The sink
    * owns outDir's layout from then on.
    *
    * @param curate per-batch pre-vetting transform applied to the incoming
    *               rows BEFORE dedup (default identity). The composition
    *               point for ingest hygiene: pass e.g.
    *               `_.decontaminatedAgainst(benchmarks, idCol)` or a
    *               quality-score gate. Must be deterministic — a replayed
    *               batch re-runs it and must reproduce the same survivors
    *               (same contract as the dedup itself); it may filter or
    *               rewrite columns but must keep idCol and textCol.
    */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
                           outDir: String, checkpointDir: String,
                           threshold: Double = 0.5,
                           curate: DataFrame => DataFrame = identity)
  : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val spark = batch.sparkSession
        val incoming = curate(batch).select(idCol, textCol)
        // explicit existence probes: catching AnalysisException instead
        // would also swallow real read failures (schema drift, listing
        // errors) and silently disable dedup
        val hconf = spark.sparkContext.hadoopConfiguration
        val docsPath = new org.apache.hadoop.fs.Path(s"$outDir/docs")
        val idxPath = new org.apache.hadoop.fs.Path(s"$outDir/index")
        val fs = docsPath.getFileSystem(hconf)
        // a dir that exists but holds no committed data file (only
        // _temporary/_SUCCESS debris from a crashed write) must read as
        // ABSENT: treating it as present would wedge every replay on an
        // unreadable directory and block the overwrite that repairs it
        def hasCommitted(p: org.apache.hadoop.fs.Path): Boolean =
          fs.exists(p) && {
            // qualify BEFORE prefix-stripping: listFiles returns qualified
            // absolute paths, so a relative/unqualified `p` would make the
            // strip a no-op and expose the ancestor directories to the
            // hidden-segment filter (a dot-dir anywhere above outDir would
            // then classify every committed file as debris — silently
            // disabling dedup)
            val qp = fs.makeQualified(p)
            val it = fs.listFiles(qp, true)
            var found = false
            while (!found && it.hasNext) {
              val rel = it.next().getPath.toUri.getPath
                .stripPrefix(qp.toUri.getPath)
              found = !rel.split("/")
                .exists(s => s.startsWith("_") || s.startsWith("."))
            }
            found
          }
        // bootstrap externally-created data: loose files would break
        // partition discovery next to batch=N dirs, so move them (metadata-
        // only rename) into the sink's batch=-1 partition first — for the
        // corpus AND a user-prebuilt index alike
        def migrateLoose(p: org.apache.hadoop.fs.Path): Unit = if (fs.exists(p)) {
          val loose = fs.listStatus(p)
            .filterNot(_.getPath.getName.startsWith("batch="))
          if (loose.nonEmpty) {
            val boot = new org.apache.hadoop.fs.Path(p, "batch=-1")
            fs.mkdirs(boot)
            loose.foreach { e =>
              val dest = new org.apache.hadoop.fs.Path(boot, e.getPath.getName)
              // Hadoop reports most rename failures (permissions, quota,
              // cross-mount) by returning false, not by throwing
              if (!fs.rename(e.getPath, dest))
                throw new java.io.IOException(
                  s"bootstrap migration: rename ${e.getPath} -> $dest returned " +
                    "false; refusing to continue with a mixed loose/partitioned " +
                    "layout that would break every later read of " + p)
            }
          }
        }
        migrateLoose(docsPath)
        migrateLoose(idxPath)
        // a committed batch id ABOVE the current one means the checkpoint
        // was reset or re-pointed against this outDir: running would
        // exclude those batches from the corpus and overwrite them later.
        // BOTH dirs are scanned — a higher id surviving only under index/
        // (docs cleared by an operator, index forgotten) would otherwise
        // vet batches against a stale index of deleted docs and silently
        // drop their legitimate re-ingest as "duplicates"
        for (p <- Seq(docsPath, idxPath) if fs.exists(p)) {
          val committed = fs.listStatus(p).map(_.getPath.getName)
            .collect { case n if n.startsWith("batch=") =>
              n.stripPrefix("batch=").toLong }
            .filter(_ >= 0)
          if (committed.exists(_ > bid))
            throw new IllegalStateException(
              s"$p already holds batch=${committed.max} but this " +
                s"stream is running batch=$bid: its checkpoint ($checkpointDir) " +
                "does not match outDir (reset or re-pointed). Resume with the " +
                "original checkpoint or start a fresh outDir; refusing to " +
                "destroy committed batches.")
        }
        def withoutThisBatch(df: org.apache.spark.sql.DataFrame) =
          if (df.columns.contains("batch")) df.where(col("batch") =!= bid) else df
        val docsReadable = hasCommitted(docsPath)
        val existing =
          if (docsReadable)
            withoutThisBatch(spark.read.parquet(s"$outDir/docs")).select(idCol, textCol)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema)
        // probe once per batch (a recursive listing — two round-trips per
        // steady-state micro-batch on an object store would be pure waste)
        val idxReadable = hasCommitted(idxPath)
        val bootstrapIndex = docsReadable && !idxReadable
        if (bootstrapIndex) {
          // one-time O(corpus) index build for the bootstrapped corpus;
          // every later batch maintains the index incrementally
          graft.operators.Dedup.signatureIndex(existing, idCol, textCol)
            .write.mode("overwrite").parquet(s"$outDir/index/batch=-1")
        }
        val storedIndex =
          if (idxReadable || bootstrapIndex)
            Some(withoutThisBatch(spark.read.parquet(s"$outDir/index")))
          else None
        // scoped: concurrent streams/queries in the same session must not
        // release each other's pinned intermediates
        graft.operators.Pinned.scoped {
          val (kept, keptIndex) = graft.operators.Dedup.dedupIncrementalWithIndex(
            existing, incoming, idCol, textCol, threshold, existingIndex = storedIndex)
          kept.write.mode("overwrite").parquet(s"$outDir/docs/batch=$bid")
          keptIndex.write.mode("overwrite").parquet(s"$outDir/index/batch=$bid")
        }
      }
      .start()

  /** OBJECT-STORE twin of [[incrementalDedupSink]] (r10): the corpus and
    * its signature index live in two [[graft.sources.ManifestStore]]
    * tables under `outRoot/docs` and `outRoot/index`, each partitioned by
    * the micro-batch id, each committed through `appendBatch`'s per-appId
    * txn watermark — so the sink is exactly-once on storage where the
    * partition-dir sink's overwrite contract does not hold (s3a/gs/wasb,
    * any FileOutputCommitter-v2 exposure). Crash anatomy: the two tables
    * commit independently, so a crash BETWEEN them redelivers the batch —
    * the docs append no-ops at its watermark while the index append
    * commits, and because both `existing` reads EXCLUDE the current batch
    * id (a partition-pruned `Not(EqualTo("batch", bid))` — the replay
    * recomputes against exactly the state its first attempt saw), the
    * recomputed survivors are identical and the pair converges. A
    * fully-committed redelivery early-returns at the watermarks without
    * recomputing anything. The `curate` hook carries the same determinism
    * contract as [[incrementalDedupSink]]'s.
    *
    * outRoot is coupled to the checkpoint's batch-id sequence (same
    * contract as the partition-dir sink): a watermark strictly above the
    * incoming batch id means the checkpoint was reset or re-pointed, and
    * the sink REFUSES rather than silently swallow renumbered batches as
    * redeliveries. A pre-existing docs table with no index is bootstrapped
    * once (full signatureIndex under batch = -1) — the corpus must be
    * batch-partitioned, i.e. appended with
    * `corpus.withColumn("batch", lit(-1L))` + `partitionBy = Seq("batch")`;
    * any other layout is refused with that recipe.
    */
  def manifestDedupSink(docs: DataFrame, idCol: String, textCol: String,
                        outRoot: String, checkpointDir: String,
                        threshold: Double = 0.5,
                        curate: DataFrame => DataFrame = identity)
  : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        manifestDedupBatch(batch, bid, idCol, textCol, outRoot, threshold, curate)
      }
      .start()

  /** One micro-batch of [[manifestDedupSink]] — the deterministic seam the
    * redelivery/crash tests drive directly.
    */
  private[graft] val ManifestDedupDocsApp = "graft-manifest-dedup-docs"
  private[graft] val ManifestDedupIndexApp = "graft-manifest-dedup-index"

  private[graft] def manifestDedupBatch(batch: DataFrame, bid: Long,
                                        idCol: String, textCol: String,
                                        outRoot: String, threshold: Double,
                                        curate: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, Not}
    val spark = batch.sparkSession
    val M = graft.sources.ManifestStore
    val docsRoot = s"$outRoot/docs"
    val idxRoot = s"$outRoot/index"
    // ONE snapshot resolve per table per batch (a manifest list+parse is
    // an object-store round-trip over an O(live files) text file; the
    // reads below reuse these snapshots — review r10)
    val docsSnap = M.latestSnapshot(spark, docsRoot).filter(_.files.nonEmpty)
    var idxSnap = M.latestSnapshot(spark, idxRoot).filter(_.files.nonEmpty)
    def mark(s: Option[graft.sources.ManifestStore.Snapshot], app: String): Long =
      s.map(_.txns.getOrElse(app, -1L)).getOrElse(-1L)
    val (docsMark, idxMark) = (mark(docsSnap, ManifestDedupDocsApp),
      mark(idxSnap, ManifestDedupIndexApp))
    // a watermark STRICTLY above bid means the checkpoint was reset or
    // re-pointed at this outRoot: batches renumbered from 0 would be
    // silently swallowed as "redeliveries" — refuse, exactly like the
    // partition-dir sink (a healthy stream only ever redelivers bid ==
    // watermark; Spark never replays a batch below a committed one)
    if (docsMark > bid || idxMark > bid)
      throw new IllegalStateException(
        s"$outRoot already holds micro-batch ${math.max(docsMark, idxMark)} but this " +
          s"stream is running batch=$bid: its checkpoint does not match outRoot " +
          "(reset or re-pointed). Resume with the original checkpoint or start a " +
          "fresh outRoot; refusing to silently swallow renumbered batches.")
    if (docsMark == bid && idxMark == bid)
      return // fully-committed redelivery: both appends would no-op anyway
    // the docs table must be THIS sink's layout (batch-partitioned): a
    // plain corpus table can't express the current-batch exclusion replay
    // correctness rests on — refuse with the migration recipe
    docsSnap.foreach { s =>
      require(s.partCols == Seq("batch"),
        s"$docsRoot is not a manifestDedupSink table (partitioned by ${s.partCols}, " +
          "expected [batch]). Bootstrap an external corpus by appending it once with " +
          "ManifestStore.append(spark, corpus.withColumn(\"batch\", lit(-1L)), root, " +
          "partitionBy = Seq(\"batch\")) — the sink then indexes it on its first batch.")
    }
    val incoming = curate(batch).select(idCol, textCol)
    // EXCLUDE this batch id from both reads: a redelivered batch must
    // recompute against the state its first attempt saw, or its own
    // committed docs would mark every row a self-duplicate and the index
    // side of the pair would commit garbage. The exclusion is a
    // partition-pruned manifest read — the replayed batch's files never
    // open.
    val notThis = Seq(Not(EqualTo("batch", bid)))
    val existing = docsSnap
      .map(s => M.readWhere(spark, docsRoot, s, notThis).select(idCol, textCol))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], incoming.schema))
    if (docsSnap.isDefined && idxSnap.isEmpty) {
      // bootstrap a corpus that predates its index: one O(corpus) index
      // build, committed like any batch (atomic — a crash mid-build
      // leaves no manifest and the next replay rebuilds)
      M.append(spark,
        graft.operators.Dedup.signatureIndex(existing, idCol, textCol)
          .withColumn("batch", lit(-1L)),
        idxRoot, partitionBy = Seq("batch"))
      idxSnap = M.latestSnapshot(spark, idxRoot).filter(_.files.nonEmpty)
    }
    val storedIndex = idxSnap.map(s => M.readWhere(spark, idxRoot, s, notThis))
    graft.operators.Pinned.scoped {
      val (kept, keptIndex) = graft.operators.Dedup.dedupIncrementalWithIndex(
        existing, incoming, idCol, textCol, threshold, existingIndex = storedIndex)
      M.appendBatch(spark, kept.withColumn("batch", lit(bid)),
        docsRoot, ManifestDedupDocsApp, bid, partitionBy = Seq("batch"))
      M.appendBatch(spark, keptIndex.withColumn("batch", lit(bid)),
        idxRoot, ManifestDedupIndexApp, bid, partitionBy = Seq("batch"))
    }
  }

  /** Curate hook for [[incrementalDedupSink]]: per-batch benchmark
    * decontamination — every incoming doc sharing an n-gram with the eval
    * suite drops BEFORE dedup vetting, so contaminated docs never enter
    * the corpus or its signature index. The eval shingle set broadcasts
    * (Dedup.contaminationReport's 100 TB shape: the batch streams once,
    * never shuffles), and the hook is deterministic as the sink's curate
    * contract requires — a replayed batch re-flags exactly the same docs.
    *
    * Usage: `incrementalDedupSink(docs, "doc_id", "text", out, ck,
    *   curate = EventStreams.decontaminatingCurate(evalDocs, "doc_id", "text"))`
    * Two micro-batches match the batch-path decontaminate + dedup
    * composition exactly (asserted in StreamingSpec).
    */
  def decontaminatingCurate(evalDocs: DataFrame, idCol: String, textCol: String,
                            n: Int = 4): DataFrame => DataFrame = {
    // the eval suite is static across the stream's lifetime: shingle,
    // distinct and persist it ONCE at hook construction — re-deriving it
    // per micro-batch (every trigger, forever) would add a redundant
    // eval-side job to the ingest hot path. A raw .persist, NOT
    // Pinned.pin: the sink's per-batch Pinned.scoped must not release a
    // hook-lifetime cache (unpersisted when the stream's session ends).
    val evalShingles = graft.operators.Dedup
      .shingleSet(evalDocs, idCol, textCol, n).select("sh").distinct()
      .persist()
    batch => graft.operators.Dedup.decontaminateShingles(
      batch, evalShingles, idCol, textCol, n)
  }

  /** Stream-stream interval join: each purchase joins every view by the
    * same user in the preceding `horizonMinutes` — the attribution shape
    * (which impressions preceded this conversion). Both sides carry
    * watermarks so Spark bounds the join state: a buffered view can be
    * evicted once the purchase-side watermark passes view.ts + horizon.
    * The same definition runs in batch for parity (watermarks are no-ops
    * there), which is how StreamingSpec asserts correctness.
    *
    * Scale: stream-stream joins shuffle both sides on user_id; state size
    * is bounded by horizon × per-user event rate, independent of stream
    * length — the property that lets it run forever.
    */
  def viewPurchaseAttribution(views: DataFrame, purchases: DataFrame,
                              horizonMinutes: Int = 30): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val p = purchases.select(col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "1 hour")
    v.join(p,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr(s"interval $horizonMinutes minutes"))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"), col("purchase_value"))
  }

  final case class UserRunning(user_id: Long, events: Long, total: Double)

  /** Custom keyed state (flatMapGroupsWithState surface): cumulative
    * per-user counters maintained across micro-batches — the shape every
    * "custom state machine" streaming op takes. Works identically over a
    * bounded Dataset (one group pass) for batch parity.
    */
  def runningUserTotals(events: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
  : org.apache.spark.sql.Dataset[UserRunning] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    // drop rows whose key or value is null / un-castable BEFORE the typed
    // deserialization: one bad record (user_id=null, value="n/a") would
    // otherwise throw at the non-nullable (Long, Double) decode and kill
    // the whole streaming query — a poison-pill, not a data error
    val typed = events.select(col("user_id").cast("long").as("u"),
        col("value").cast("double").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull)
      .as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.events
          var t = prev.total
          rows.foreach { case (_, v) => n += 1; t += v }
          val next = UserRunning(uid, n, t)
          state.update(next)
          Iterator(next)
      }
  }
}
