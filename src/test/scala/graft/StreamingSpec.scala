package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, size, split}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.EventStreams

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** E6: true streaming execution — the same EventStreams definitions that
  * pass the batch-parity oracle run here under MemoryStream with
  * watermarks, and must produce the batch answer once all data arrives.
  */
class StreamingSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private def ts(min: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 ${min / 60}%02d:${min % 60}%02d:00")

  private val sample = Seq(
    Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0),
    Ev(3, ts(65), 2, "view", 3.0), Ev(4, ts(70), 1, "click", 4.0),
    Ev(5, ts(130), 2, "view", 5.0))

  test("streaming tumbling agg converges to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(sample)
    val agg = EventStreams.streamingTumbling(stream.toDF())
    val query = agg.writeStream.format("memory").queryName("tumble_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("tumble_out")
      .select("event_type", "win_start", "n", "total")
      .collect().map(_.toString).sorted.toSeq
    val batch = EventStreams.tumblingAgg(sample.toDF())
      .select("event_type", "win_start", "n", "total")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(sample ++ Seq(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(20), 1, "click", 2.0)))
    val query = EventStreams.streamingDedup(stream.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val ids = spark.table("dedup_out").select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L), s"dedup failed: $ids")
  }

  test("file stream: replayed event files aggregate to the batch answer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // replay the sample as two parquet "arrivals"
    sample.take(3).toDF().write.parquet(s"$dir/batch0")
    sample.drop(3).toDF().write.parquet(s"$dir/batch1")
    val flat = spark.read.parquet(s"$dir/*")
    val stream = spark.readStream.schema(flat.schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$dir/*")
    val query = EventStreams.streamingTumbling(stream)
      .writeStream.format("memory").queryName("file_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("file_out").collect().map(_.toString).sorted.toSeq
    val batch = EventStreams.tumblingAgg(flat).collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("watermark: events older than the watermark are dropped in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = EventStreams.tumblingAgg(stream.toDF().withWatermark("ts", "10 minutes"))
    val query = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    // batch 1: events up to 02:10 => watermark advances to 02:00
    stream.addData(Ev(1, ts(5), 1, "click", 1.0), Ev(2, ts(130), 1, "click", 2.0))
    query.processAllAvailable()
    // batch 2: a straggler at 00:40 — far below the 02:00 watermark; its
    // hour-0 window is closed, so it must never surface
    stream.addData(Ev(3, ts(40), 1, "click", 99.0))
    query.processAllAvailable()
    // batch 3: push watermark past every window end so all windows emit
    stream.addData(Ev(4, ts(400), 1, "click", 4.0))
    query.processAllAvailable()
    query.stop()
    val out = spark.table("late_out")
      .select("win_start", "n", "total").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2))).toSet
    // hour-0 window emitted with ONLY event 1 (the late 99.0 never counted)
    assert(out.contains(("2024-01-01 00:00:00.0", 1L, 1.0)), s"got $out")
    assert(!out.exists(_._3 == 99.0) && !out.exists(_._3 == 100.0), s"late event leaked: $out")
  }

  test("streaming session windows converge to the batch session aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    stream.addData(sample)
    val agg = EventStreams.sessionAgg(stream.toDF().withWatermark("ts", "10 minutes"))
    val query = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("sess_out").collect().map(_.toString).sorted.toSeq
    val batch = EventStreams.sessionAgg(sample.toDF()).collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("foreachBatch sink: micro-batches land as parquet and sum to the input") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-febatch").toString
    val stream = MemoryStream[Ev]
    stream.addData(sample)
    val query = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val written = spark.read.parquet(s"$outDir/data")
    assert(written.count() == sample.size)
    assert(written.select("event_id").as[Long].collect().sorted.toSeq ==
      sample.map(_.event_id).sorted)

    // maintenance loop: per-batch appends leave one file per task — the
    // small-files accumulation the compaction sink exists for. Compacting
    // the landing dir is lossless and collapses it to the byte-derived count.
    val (before, after) =
      graft.sources.Sink.compactParquet(spark, s"$outDir/data", 1L << 30)
    assert(before >= 1 && after == 1, s"($before, $after)")
    val compacted = spark.read.parquet(s"$outDir/data")
    assert(compacted.select("event_id").as[Long].collect().sorted.toSeq ==
      sample.map(_.event_id).sorted, "compaction changed the landed data")
  }

  test("streaming BPE token accounting: per-micro-batch encode equals the batch answer") {
    // a frozen tokenizer artifact billing a document stream by subword
    // count — the train-once-at-ingest / encode-everywhere posture inside
    // Structured Streaming: ranks broadcast per executor, encode is
    // map-side, so it composes into any foreachBatch curate hook
    import graft.operators.Bpe
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "lowest winter windows"), (2L, "new widest low"),
      (3L, "newest newest lower"), (4L, "wide new lows"))
    val merges = Bpe.train(
      docs.flatMap(_._2.split(' ')).groupBy(identity)
        .map { case (w, g) => w -> g.size.toLong }, numMerges = 12)
    assert(merges.nonEmpty)
    val outDir = java.nio.file.Files.createTempDirectory("graft-bpestream").toString
    val stream = MemoryStream[(Long, String)]
    stream.addData(docs.take(2)); stream.addData(docs.drop(2))
    val query = stream.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Bpe.withPieces(
          batch.withColumn("toks", split(col("text"), " ")), "toks", merges, "pieces")
          .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"))
          .write.mode("append").parquet(s"$outDir/counts")
      }
      .trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.read.parquet(s"$outDir/counts")
      .as[(Long, Long)].collect().sorted.toSeq
    val batchAnswer = Bpe.withPieces(
      docs.toDF("doc_id", "text").withColumn("toks", split(col("text"), " ")),
      "toks", merges, "pieces")
      .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(streamed == batchAnswer)
    assert(streamed.size == 4)
  }

  test("incremental dedup sink: two micro-batches equal the one-shot batch dedup") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-incdedup").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-incdedup-ck").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val b1 = Seq((1L, base), (2L, base + "lambda mu"),
      (3L, "first unique document about other things entirely"))
    val b2 = Seq((10L, base + "nu xi omicron"),
      (11L, "second unique document with fresh content words"),
      (12L, "first unique document about other things entirely")) // exact dup of 3
    val stream = MemoryStream[(Long, String)]
    stream.addData(b1)
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch path: the whole corpus vetted at once against nothing
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], all.schema)
    val batchKept = graft.operators.Dedup
      .dedupIncremental(empty, all, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batchKept, s"streamed=$streamed batch=$batchKept")
    assert(streamed == Seq(1L, 3L, 11L), s"survivors=$streamed")
    // the incrementally-maintained signature index stays in lockstep with
    // the survivor set (so later batches never re-hash the corpus)
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == streamed, s"index=$idx survivors=$streamed")
  }

  /** r10: the manifest-backed twin — corpus + signature index live in two
    * ManifestStore tables partitioned by batch id, committed exactly-once
    * through txn watermarks. Parity with the partition-dir sink's
    * semantics, plus the crash anatomies a plain layout cannot survive.
    */
  test("manifest dedup sink: two micro-batches equal the one-shot batch dedup; restart-safe") {
    implicit val sqlCtx = spark.sqlContext
    val outRoot = java.nio.file.Files.createTempDirectory("graft-mandedup").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-mandedup-ck").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val b1 = Seq((1L, base), (2L, base + "lambda mu"),
      (3L, "first unique document about other things entirely"))
    val b2 = Seq((10L, base + "nu xi omicron"),
      (11L, "second unique document with fresh content words"),
      (12L, "first unique document about other things entirely")) // exact dup of 3
    val stream = MemoryStream[(Long, String)]
    stream.addData(b1)
    val q = EventStreams.manifestDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outRoot, ck)
    q.processAllAvailable()
    q.stop()
    // RESTART the stream (new query, same checkpoint): batch 2 arrives
    // after a full stop — the watermark discipline must hold across it
    stream.addData(b2)
    val q2 = EventStreams.manifestDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outRoot, ck)
    q2.processAllAvailable()
    q2.stop()
    val M = graft.sources.ManifestStore
    val streamed = M.read(spark, s"$outRoot/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], all.schema)
    val batchKept = graft.operators.Dedup
      .dedupIncremental(empty, all, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batchKept, s"streamed=$streamed batch=$batchKept")
    assert(streamed == Seq(1L, 3L, 11L), s"survivors=$streamed")
    val idx = M.read(spark, s"$outRoot/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == streamed, s"index=$idx survivors=$streamed")
    // both tables are batch-partitioned manifest tables with watermarks
    assert(M.latestSnapshot(spark, s"$outRoot/docs").get.partCols == Seq("batch"))
    assert(M.latestSnapshot(spark, s"$outRoot/docs").get
      .txns("graft-manifest-dedup-docs") == 1L)
  }

  test("manifest dedup sink: redelivery and crash-between-commits both converge") {
    val outRoot = java.nio.file.Files.createTempDirectory("graft-mandedup2").toString
    val base = "omega psi chi phi upsilon tau sigma rho pi omicron " * 4
    def run(b: Seq[(Long, String)], bid: Long) =
      EventStreams.manifestDedupBatch(b.toDF("doc_id", "text"), bid,
        "doc_id", "text", outRoot, 0.5, identity)
    val M = graft.sources.ManifestStore
    def docIds() = M.read(spark, s"$outRoot/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    def idxIds() = M.read(spark, s"$outRoot/index")
      .select("doc_id").as[Long].collect().sorted.toSeq

    val b0 = Seq((1L, base), (2L, "a unique zero-batch document with its own words"))
    run(b0, 0L)
    assert(docIds() == Seq(1L, 2L) && idxIds() == Seq(1L, 2L))

    // FULL redelivery of batch 0 (crash after both commits, before the
    // checkpoint commit): both appends must no-op at their watermarks
    run(b0, 0L)
    assert(docIds() == Seq(1L, 2L), "redelivered batch doubled the corpus")
    assert(idxIds() == Seq(1L, 2L), "redelivered batch doubled the index")

    // CRASH BETWEEN the two commits: batch 1's docs land (simulated by
    // pre-committing them), the index does not; the redelivery must
    // recompute the SAME survivors (its own committed docs excluded from
    // `existing` via the batch-id pruning) and complete the index side
    val b1 = Seq((10L, base + " with a small tail"), // near-dup of 1 -> dropped
      (11L, "an entirely different batch-one document body"))
    val keptByDedup = Seq(11L)
    M.appendBatch(spark,
      Seq((11L, "an entirely different batch-one document body")).toDF("doc_id", "text")
        .withColumn("batch", org.apache.spark.sql.functions.lit(1L)),
      s"$outRoot/docs", "graft-manifest-dedup-docs", 1L, partitionBy = Seq("batch"))
    run(b1, 1L) // the redelivery
    assert(docIds() == Seq(1L, 2L) ++ keptByDedup,
      s"docs diverged after crash-between-commits replay: ${docIds()}")
    assert(idxIds() == Seq(1L, 2L) ++ keptByDedup,
      s"index diverged after crash-between-commits replay: ${idxIds()}")
  }

  test("manifest dedup sink: reset checkpoint refused; external corpus bootstraps or is refused with the recipe") {
    val M = graft.sources.ManifestStore
    val base = "kappa iota theta eta zeta epsilon delta gamma beta alpha " * 4
    def run(outRoot: String, b: Seq[(Long, String)], bid: Long) =
      EventStreams.manifestDedupBatch(b.toDF("doc_id", "text"), bid,
        "doc_id", "text", outRoot, 0.5, identity)

    // a reset/re-pointed checkpoint renumbers batches from 0: the sink
    // must refuse, not swallow the new data as "redeliveries"
    val root1 = java.nio.file.Files.createTempDirectory("graft-mandedup3").toString
    run(root1, Seq((1L, base)), 5L)
    val e = intercept[IllegalStateException] {
      run(root1, Seq((2L, "fresh data under a renumbered batch id")), 0L)
    }
    assert(e.getMessage.contains("checkpoint"), e.getMessage)

    // an external corpus appended in the documented layout bootstraps:
    // first batch builds the index and vets against it
    val root2 = java.nio.file.Files.createTempDirectory("graft-mandedup4").toString
    M.append(spark,
      Seq((100L, base)).toDF("doc_id", "text")
        .withColumn("batch", org.apache.spark.sql.functions.lit(-1L)),
      s"$root2/docs", partitionBy = Seq("batch"))
    run(root2, Seq(
      (200L, base + " tail"), // near-dup of the bootstrapped doc -> dropped
      (201L, "a wholly new document with distinct vocabulary")), 0L)
    assert(M.read(spark, s"$root2/docs").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(100L, 201L))
    assert(M.read(spark, s"$root2/index").select("doc_id").as[Long].collect().sorted.toSeq
      == Seq(100L, 201L), "bootstrap index must cover the external corpus + survivors")

    // any other docs layout is refused with the migration recipe
    val root3 = java.nio.file.Files.createTempDirectory("graft-mandedup5").toString
    M.append(spark, Seq((300L, base)).toDF("doc_id", "text"), s"$root3/docs")
    val e2 = intercept[IllegalArgumentException] {
      run(root3, Seq((301L, "whatever")), 0L)
    }
    assert(e2.getMessage.contains("partitionBy"), e2.getMessage)
  }

  test("incremental dedup sink with decontaminating curate: two micro-batches equal batch-path decontaminate + dedup") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-incdecon").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-incdecon-ck").toString
    val evalText = "the canary evaluation passage nobody may train on ever"
    val evalDocs = Seq((9000L, evalText)).toDF("doc_id", "text")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val b1 = Seq((1L, base),
      (2L, s"prefix words then $evalText and a suffix"), // contaminated -> dropped pre-dedup
      (3L, "first clean unique document about other things entirely"))
    val b2 = Seq((10L, base + "lambda mu"), // near-dup of 1 -> dropped by dedup
      (11L, evalText),                      // contaminated -> dropped pre-dedup
      (12L, "second clean unique document with fresh content words"))
    val stream = MemoryStream[(Long, String)]
    stream.addData(b1)
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck,
      curate = EventStreams.decontaminatingCurate(evalDocs, "doc_id", "text"))
    q.processAllAvailable()
    stream.addData(b2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // batch path: decontaminate the whole corpus first, then dedup at once
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val decon = graft.operators.Dedup.decontaminate(all, evalDocs, "doc_id", "text")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], all.schema)
    val batchKept = graft.operators.Dedup
      .dedupIncremental(empty, decon.select("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(streamed == batchKept, s"streamed=$streamed batch=$batchKept")
    assert(streamed == Seq(1L, 3L, 12L), s"survivors=$streamed")
    // contaminated docs must not have entered the signature index either
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == streamed, s"index=$idx survivors=$streamed")
  }

  test("incremental dedup sink with a compression-ratio quality curate gate") {
    // the deflate quality signal composes into the same curate hook as
    // decontamination: degenerate repetition is dropped BEFORE dedup and
    // never reaches the corpus or the signature index
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-qualgate").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-qualgate-ck").toString
    val prose = "a reasonably varied prose document about several distinct topics and ideas " * 3
    val spamDoc = "spam " * 200 // compresses to a tiny fraction of its size
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((1L, prose), (2L, spamDoc),
      (3L, "another genuinely distinct clean document with many different words")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck,
      curate = df => graft.operators.Quality
        .withCompressionRatio(df, "text", "__cr")
        .where(org.apache.spark.sql.functions.col("__cr") >= 0.2).drop("__cr"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L), s"quality gate failed: $kept")
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == kept, "the spam doc must not enter the signature index")
  }

  test("incremental dedup sink bootstraps over a pre-existing external corpus") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-incboot").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-incboot-ck").toString
    val corpusText = "the original corpus document body with many distinctive words inside"
    // an externally-written corpus: plain parquet, no batch layout, no index
    Seq((1L, corpusText)).toDF("doc_id", "text").write.parquet(s"$outDir/docs")
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((50L, corpusText), // exact dup of the external corpus -> dropped
      (51L, "a completely fresh incoming streaming document")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    q.processAllAvailable()
    q.stop()
    val docs = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(1L, 51L), s"docs=$docs — the external corpus must survive " +
      "the layout bootstrap and its duplicate must be caught via the bootstrapped index")
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == Seq(1L, 51L), s"index=$idx")
  }

  test("incremental dedup sink heals staging debris from a crashed first-batch write") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-incheal").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-incheal-ck").toString
    // simulate a v1-committer crash mid first batch: the batch dirs exist
    // but hold only _temporary staging — no committed data files
    for (sub <- Seq("docs/batch=0/_temporary", "index/batch=0/_temporary")) {
      val d = java.nio.file.Paths.get(outDir, sub.split("/"): _*)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("part-00000"), Array[Byte](1, 2, 3))
    }
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((1L, "a document that must land despite the debris"),
      (2L, "a second distinct document with other words")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    q.processAllAvailable()
    q.stop()
    // the replayed batch 0 must treat the debris dirs as absent and
    // overwrite them — not wedge on an unreadable parquet directory
    val docs = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(1L, 2L), s"docs=$docs")
  }

  test("incremental dedup sink refuses a reset checkpoint against a populated outDir") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-increset").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-increset-ck").toString
    // a previous run committed batch=5; a fresh checkpoint restarts ids at 0
    Seq((1L, "a previously accepted document")).toDF("doc_id", "text")
      .write.parquet(s"$outDir/docs/batch=5")
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((9L, "an incoming document")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("checkpoint")), s"unexpected failure: $ex")
    // and the previously committed batch is untouched
    val docs = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().toSeq
    assert(docs == Seq(1L), s"committed batch was modified: $docs")
  }

  /** Review-r8 pin: the reset guard must scan BOTH output dirs — a higher
    * committed id surviving only under index/ (docs cleared, index
    * forgotten) would otherwise vet batches against a stale index of
    * deleted docs and silently drop their legitimate re-ingest.
    */
  test("incremental dedup sink refuses a reset checkpoint when only index/ holds batches") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-increset2").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-increset2-ck").toString
    val corpus = Seq((1L, "a previously accepted document body")).toDF("doc_id", "text")
    graft.operators.Dedup.signatureIndex(corpus, "doc_id", "text")
      .write.parquet(s"$outDir/index/batch=5") // docs/ cleared, index left behind
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((9L, "a previously accepted document body")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("checkpoint")), s"unexpected failure: $ex")
  }

  /** Review-r8 pin: one poison-pill record (null key/value) must not kill
    * the cumulative-state query at typed deserialization.
    */
  test("runningUserTotals drops null-key/value rows instead of crashing") {
    val events = Seq(
      (java.lang.Long.valueOf(7L), java.lang.Double.valueOf(2.0)),
      (null.asInstanceOf[java.lang.Long], java.lang.Double.valueOf(9.0)),
      (java.lang.Long.valueOf(7L), null.asInstanceOf[java.lang.Double]))
      .toDF("user_id", "value")
    val out = EventStreams.runningUserTotals(events).collect()
    assert(out.toSeq == Seq(graft.streaming.EventStreams.UserRunning(7L, 1L, 2.0)),
      s"only the clean row must count: ${out.toSeq}")
  }

  test("incremental dedup sink adopts a user-prebuilt loose signature index") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-incidx").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-incidx-ck").toString
    val corpusText = "the original corpus document body with many distinctive words inside"
    val corpus = Seq((1L, corpusText)).toDF("doc_id", "text")
    // old-layout output: loose parquet in BOTH docs and index, no batch dirs
    corpus.write.parquet(s"$outDir/docs")
    graft.operators.Dedup.signatureIndex(corpus, "doc_id", "text")
      .write.parquet(s"$outDir/index")
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq((50L, corpusText), // exact dup of the corpus -> dropped
      (51L, "a completely fresh incoming streaming document")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck)
    q.processAllAvailable()
    q.stop()
    val docs = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(1L, 51L), s"docs=$docs — both loose dirs must migrate " +
      "into batch=-1 so partition discovery keeps working")
    // the loose index migrated rather than being rebuilt beside itself
    assert(new java.io.File(s"$outDir/index/batch=-1").isDirectory)
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == Seq(1L, 51L), s"index=$idx")
  }

  test("incremental dedup sink composes a curation transform before vetting") {
    implicit val sqlCtx = spark.sqlContext
    import graft.api._
    val outDir = java.nio.file.Files.createTempDirectory("graft-inccur").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-inccur-ck").toString
    val benchmarks = Seq((900L, "the held out benchmark question answer pair text"))
      .toDF("doc_id", "text")
    val stream = MemoryStream[(Long, String)]
    stream.addData(Seq(
      // contains a benchmark 4-gram -> curated away BEFORE dedup
      (1L, "a doc leaking the held out benchmark question verbatim"),
      (2L, "a perfectly clean incoming document with original words")))
    val q = EventStreams.incrementalDedupSink(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", outDir, ck,
      curate = _.decontaminatedAgainst(benchmarks, "doc_id"))
    q.processAllAvailable()
    q.stop()
    val docs = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(docs == Seq(2L), s"docs=$docs — the contaminated doc must be " +
      "curated out before vetting and never enter the corpus or index")
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == Seq(2L), s"index=$idx")
  }

  test("incremental dedup sink survives a stop/restart between micro-batches with no dups or loss") {
    // VERDICT r5 #7: the exactly-once claim a 100 TB ingest depends on —
    // kill the query between micro-batches, restart from the SAME
    // checkpoint, and the sink must neither re-admit what batch 0 kept
    // nor lose what arrived while it was down.
    val outDir = java.nio.file.Files.createTempDirectory("graft-increstart").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-increstart-ck").toString
    val in = java.nio.file.Files.createTempDirectory("graft-increstart-in").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    Seq((1L, base), (2L, "first unique document about other things entirely"))
      .toDF("doc_id", "text").write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def start() = EventStreams.incrementalDedupSink(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$in/*"),
      "doc_id", "text", outDir, ck)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // arrivals while the stream is DOWN: a near-dup of doc 1 (caught only
    // if the restarted query still sees batch 0's corpus + index) and a
    // fresh doc (lost only if the restart skips past unprocessed input)
    Seq((10L, base + "lambda mu"),
      (11L, "second unique document with fresh content words"))
      .toDF("doc_id", "text").write.parquet(s"$in/f1")
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(s"$outDir/docs").select("doc_id").as[Long].collect().toSeq
    assert(rows.size == rows.distinct.size, s"duplicate rows after restart: $rows")
    assert(rows.sorted == Seq(1L, 2L, 11L), s"survivors=${rows.sorted}")
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == rows.sorted, s"index=$idx diverged from corpus after restart")
  }

  test("incremental dedup sink replays a crash-before-commit batch idempotently") {
    // the harder half of exactly-once: the batch's data writes completed
    // but the CHECKPOINT commit did not (crash in between), so the
    // restarted query re-runs the same batch id. The sink's
    // exclude-current-batch reads + overwrite writes must make the replay
    // byte-identical instead of doubling the batch.
    val outDir = java.nio.file.Files.createTempDirectory("graft-increplay").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-increplay-ck").toString
    val in = java.nio.file.Files.createTempDirectory("graft-increplay-in").toString
    Seq((1L, "a document that will be replayed after the crash"),
      (2L, "a second distinct document with other words"))
      .toDF("doc_id", "text").write.parquet(s"$in/f0")
    val schema = spark.read.parquet(s"$in/f0").schema
    def start() = EventStreams.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(s"$in/*"), "doc_id", "text", outDir, ck)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val firstRun = spark.read.parquet(s"$outDir/docs")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(firstRun == Seq(1L, 2L), s"first run: $firstRun")
    // simulate the crash window: offsets/0 exists (batch planned), data
    // landed, but the commit record is gone — Structured Streaming's
    // restart contract is to re-run batch 0. The CRC sibling must go with
    // it: the local FS is checksummed, and a stale .0.crc makes the
    // replay's commit rename fail as a phantom concurrent-use error.
    val commit0 = java.nio.file.Paths.get(ck, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(commit0),
      "checkpoint commit file missing — test setup no longer matches " +
        "Structured Streaming's checkpoint layout")
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(ck, "commits", ".0.crc"))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(s"$outDir/docs").select("doc_id").as[Long].collect().toSeq
    assert(rows.size == rows.distinct.size, s"replay doubled the batch: $rows")
    assert(rows.sorted == firstRun, s"replay changed survivors: ${rows.sorted}")
    val idx = spark.read.parquet(s"$outDir/index")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(idx == firstRun, s"index=$idx diverged after replay")
  }

  test("session windows merge events within the gap (batch semantics check)") {
    val out = EventStreams.sessionAgg(sample.toDF())
      .select("user_id", "n").as[(Long, Long)].collect().toSet
    // user 1: {5,20} are >10min apart -> separate sessions; 70 alone
    // user 2: 65 and 130 separate
    assert(out == Set((1L, 1L), (2L, 1L)) || out.forall(_._2 == 1L),
      s"unexpected sessions: $out")
  }

  test("stream-stream interval join: purchases attribute to in-horizon views, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val viewEvs = Seq(Ev(1, ts(5), 1, "view", 0.0), Ev(2, ts(65), 2, "view", 0.0))
    val buyEvs = Seq(
      Ev(3, ts(20), 1, "purchase", 9.0),  // 15 min after user 1's view -> match
      Ev(4, ts(50), 1, "purchase", 7.0),  // 45 min after -> outside horizon
      Ev(5, ts(80), 2, "purchase", 5.0),  // 15 min after user 2's view -> match
      Ev(6, ts(10), 3, "purchase", 1.0))  // user with no view at all
    val views = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    views.addData(viewEvs)
    buys.addData(buyEvs)
    val query = EventStreams.viewPurchaseAttribution(views.toDF(), buys.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()
    val streamed = spark.table("attr_out").collect().map(_.toString).sorted.toSeq
    // watermarks are no-ops in batch mode: same definition, same answer
    val batch = EventStreams.viewPurchaseAttribution(viewEvs.toDF(), buyEvs.toDF())
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.size == 2, s"expected the two in-horizon attributions: $streamed")
  }
}
