package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Streaming SLO for the EXACTLY-ONCE manifest sink (VERDICT r9 #6):
  * StreamSlo measures the partition-dir curate sink; this drives the same
  * decontaminate + quality-gate curate hook through
  * [[graft.sources.ManifestStore.appendBatch]] — the object-store commit
  * path — from a file stream over the sf0.1 documents table, one file per
  * micro-batch, and records docs/sec, per-batch latency percentiles (from
  * the listener's own trigger timings) and the manifest COMMIT-RETRY count
  * (lost create-exclusive races; 0 on a single-writer stream). Every odd
  * batch is REDELIVERED (appendBatch called twice) so the run also proves
  * the no-duplicate contract at rate, not just in the unit spec.
  * `Test/runMain graft.ManifestSlo [srcDir] [nBatches]`; numbers land in
  * SCALE.md.
  */
object ManifestSlo {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = GraftSession.getOrCreate(32)

    val work = java.nio.file.Files.createTempDirectory("graft-mslo").toString
    val staging = s"$work/staging"
    new java.io.File(staging).mkdirs()
    val docs = spark.read.parquet(s"$src/documents.parquet").select("doc_id", "text")
    val total = docs.count()
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 until nBatches).foreach { i =>
      val tmp = s"$work/tmp$i"
      docs.where(pmod(col("doc_id"), lit(nBatches)) === i)
        .coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(f"$staging/b$i%03d.parquet"))
    }

    val progress = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        synchronized {
          val p = e.progress
          if (p.numInputRows > 0)
            progress += ((p.batchId, p.numInputRows,
              p.durationMs.getOrDefault("triggerExecution", 0L).toDouble))
        }
    })

    val evalDocs = docs.where(col("doc_id") % 97 === 0).select("doc_id", "text")
    val curate = graft.streaming.EventStreams
      .decontaminatingCurate(evalDocs, "doc_id", "text")
    val tableRoot = s"$work/table"
    val retries0 = graft.sources.ManifestLog.commitRetries.sum()

    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)
    val t0 = System.nanoTime()
    val q = stream.writeStream
      .option("checkpointLocation", s"$work/ck")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, bid: Long) =>
        val kept = curate(b)
          .where(size(graft.functions.TextFunctions.tokenize(col("text"))) >= 20)
        graft.sources.ManifestStore.appendBatch(
          b.sparkSession, kept, tableRoot, "mslo-sink", bid)
        if (bid % 2 == 1) // forced redelivery: must no-op at the watermark
          graft.sources.ManifestStore.appendBatch(
            b.sparkSession, kept, tableRoot, "mslo-sink", bid)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val retries = graft.sources.ManifestLog.commitRetries.sum() - retries0

    val lats = progress.map(_._3).sorted
    def pct(p: Double): Double =
      if (lats.isEmpty) 0 else lats(math.min(lats.size - 1, (p * lats.size).toInt))
    val busy = lats.sum / 1000.0
    val table = graft.sources.ManifestStore.read(spark, tableRoot)
    val kept = table.count()
    val dupes = kept - table.select("doc_id").distinct().count()
    val versions = graft.sources.ManifestStore
      .latestSnapshot(spark, tableRoot).get.version
    println(f"MANIFESTSLO batches=${progress.size} docs_in=$total kept=$kept " +
      f"dupes=$dupes versions=$versions commit_retries=$retries " +
      f"wall=$wall%.1fs busy=$busy%.1fs " +
      f"docs_per_sec_busy=${total / busy}%.1f docs_per_sec_wall=${total / wall}%.1f " +
      f"p50=${pct(0.50) / 1000}%.2fs p95=${pct(0.95) / 1000}%.2fs max=${lats.max / 1000}%.2fs")
    progress.sortBy(_._1).foreach { case (bid, _, ms) =>
      println(f"MANIFESTSLO batch=$bid%2d latency=${ms / 1000}%.2fs")
    }
    require(dupes == 0L, s"duplicate doc_ids under forced redelivery: $dupes")
    spark.stop()
  }
}
