package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.sources.ManifestStore

/** True Structured Streaming over manifest tables (VERDICT r11 #7):
  * `readStream.format("graft-manifest")` under real engine triggers,
  * checkpointing and restart recovery, and the format sink's exactly-once
  * commits. Every test runs an actual `StreamingQuery`.
  */
class ManifestStreamSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private val M = ManifestStore

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-mstream-$tag").toString
    new java.io.File(d).delete()
    d
  }

  private def ids(root: String): Seq[Long] =
    M.table(spark, root).select("id").as[Long].collect().sorted.toSeq

  private def runOnce(src: String, dst: String, ckpt: String,
                      options: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft-manifest").options(options)
    val q = reader.load(src)
      .writeStream.format("graft-manifest")
      .option("appId", "mstream-spec")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
  }

  test("format stream tails a manifest table with exactly-once restart recovery") {
    val src = freshDir("src"); val dst = freshDir("dst"); val ckpt = freshDir("ckpt")
    M.append(spark, (1L to 10L).toDF("id"), src)
    M.append(spark, (11L to 20L).toDF("id"), src)

    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 20L), "first run must deliver the full snapshot")
    val batchesAfterFirst = M.latestSnapshot(spark, dst).get.version

    // restart with nothing new: no batch, no version churn
    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 20L))
    assert(M.latestSnapshot(spark, dst).get.version == batchesAfterFirst,
      "an idle restart must not commit")

    // two more source commits, then restart: exactly the increment arrives
    M.append(spark, (21L to 25L).toDF("id"), src)
    M.append(spark, (26L to 30L).toDF("id"), src)
    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 30L), "restart must deliver the increment exactly once")
  }

  test("changeFeed stream carries merge-on-read deletes and upsert inserts") {
    val src = freshDir("cfsrc"); val dst = freshDir("cfdst"); val ckpt = freshDir("cfckpt")
    M.append(spark, (1L to 10L).toDF("id"), src)
    runOnce(src, dst, ckpt, Map("changeFeed" -> "true"))
    val first = M.table(spark, dst).select("id", M.ChangeTypeCol)
      .as[(Long, String)].collect().sorted.toSeq
    assert(first == (1L to 10L).map(_ -> "insert"),
      s"first changeFeed batch must be the snapshot as inserts: $first")

    // a MoR delete and a fresh append between runs stream as exact changes
    val (_, nFiles, _) = M.deleteWhereMergeOnRead(spark, src, Seq(EqualTo("id", 4L)))
    assert(nFiles > 0, "the MoR delete must have tagged a file")
    M.append(spark, Seq(11L, 12L).toDF("id"), src)
    runOnce(src, dst, ckpt, Map("changeFeed" -> "true"))
    val changes = M.table(spark, dst).select("id", M.ChangeTypeCol)
      .as[(Long, String)].collect().sorted.toSeq
    val expected = ((1L to 10L).map(_ -> "insert") ++
      Seq(4L -> "delete", 11L -> "insert", 12L -> "insert")).sorted
    assert(changes == expected, s"change log mismatch: $changes")
  }

  test("maxVersionsPerTrigger paces a backlogged catch-up one commit per batch") {
    val src = freshDir("pacesrc"); val dst = freshDir("pacedst"); val ckpt = freshDir("paceckpt")
    (0 until 3).foreach(i => M.append(spark, Seq(10L * i + 1, 10L * i + 2).toDF("id"), src))
    runOnce(src, dst, ckpt, Map("maxVersionsPerTrigger" -> "1"))
    assert(ids(dst) == Seq(1L, 2L, 11L, 12L, 21L, 22L))
    // one sink commit per micro-batch = one destination version per source version
    assert(M.latestSnapshot(spark, dst).get.version == 3,
      "3 source versions at maxVersionsPerTrigger=1 must land as 3 batches")
  }

  test("maxBytesPerTrigger pages a catch-up by manifest-recorded input bytes") {
    val src = freshDir("bytesrc"); val dst = freshDir("bytedst"); val ckpt = freshDir("byteckpt")
    (0 until 3).foreach(i =>
      M.append(spark, (10L * i + 1 to 10L * i + 8).toDF("id"), src))
    val perVersion = M.latestSnapshot(spark, src).get.files.map(_.bytes).sum / 3
    // budget ≈ one version's bytes → each commit becomes its own batch
    runOnce(src, dst, ckpt, Map("maxBytesPerTrigger" -> perVersion.toString))
    assert(M.latestSnapshot(spark, dst).get.version == 3,
      "a one-version byte budget must page 3 commits as 3 batches")
    assert(ids(dst).size == 24)
    // a budget smaller than any single commit still admits one per batch
    val dst2 = freshDir("bytedst2"); val ckpt2 = freshDir("byteckpt2")
    runOnce(src, dst2, ckpt2, Map("maxBytesPerTrigger" -> "1"))
    assert(M.latestSnapshot(spark, dst2).get.version == 3,
      "an undersized budget must still admit one commit per batch")
  }

  test("commitVersions stream attributes every change row to its commit (r13)") {
    val src = freshDir("cvsrc"); val dst = freshDir("cvdst")
    val ckpt = freshDir("cvckpt")
    M.append(spark, (1L to 8L).toDF("id"), src)                        // v1
    M.append(spark, (9L to 16L).toDF("id"), src)                      // v2
    M.deleteWhereMergeOnRead(spark, src,
      Seq(org.apache.spark.sql.sources.LessThan("id", 3L)))           // v3
    val q = spark.readStream.format("graft-manifest")
      .option("changeFeed", "true").option("commitVersions", "true").load(src)
      .writeStream.format("graft-manifest")
      .option("appId", "cv-spec").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(dst)
    q.awaitTermination()
    val got = M.table(spark, dst)
      .select("id", ManifestStore.ChangeTypeCol, ManifestStore.CommitVersionCol)
      .as[(Long, String, Long)].collect().toSet
    val exp = (1L to 8L).map(i => (i, "insert", 1L)).toSet ++
      (9L to 16L).map(i => (i, "insert", 2L)) ++
      Seq((1L, "delete", 3L), (2L, "delete", 3L))
    assert(got == exp, s"attributed feed mismatch:\n$got")
    // restart with one more commit: only the new version's rows arrive
    M.append(spark, Seq(100L).toDF("id"), src)                        // v4
    val q2 = spark.readStream.format("graft-manifest")
      .option("changeFeed", "true").option("commitVersions", "true").load(src)
      .writeStream.format("graft-manifest")
      .option("appId", "cv-spec").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(dst)
    q2.awaitTermination()
    assert(M.table(spark, dst).count() == got.size + 1)
    assert(M.table(spark, dst).where(col("id") === 100L)
      .select(ManifestStore.CommitVersionCol).as[Long].head() == 4L)
  }

  test("rate caps never name a torn slot as the end offset (advice r12: " +
    "a wedged WAL offset is unrecoverable)") {
    val src = freshDir("tornsrc"); val dst = freshDir("torndst")
    val ckpt = freshDir("tornckpt")
    M.append(spark, Seq(1L, 2L).toDF("id"), src) // v1
    // a dead committer's durable torn slot at v2 (aged past any grace)
    val torn = new org.apache.hadoop.fs.Path(
      s"$src/_manifests/v${"%020d".format(2)}.manifest")
    val fs = torn.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(torn, false)
    out.write("graft-manifest v2\nversion=2\nhalf-a-lin".getBytes("UTF-8"))
    out.close()
    fs.setTimes(torn, System.currentTimeMillis() - 3600 * 1000L, -1L)
    M.append(spark, Seq(3L, 4L).toDF("id"), src) // v3
    M.append(spark, Seq(5L, 6L).toDF("id"), src) // v4
    // maxVersionsPerTrigger=1 with from=1 used to compute end = from+1 = 2
    // — the torn slot — which getBatch cannot resolve; the engine WALs the
    // offset first, so every restart replayed the same bad version. The
    // admission walk must skip the slot and admit v3, then v4.
    runOnce(src, dst, ckpt, Map("maxVersionsPerTrigger" -> "1"))
    assert(ids(dst) == (1L to 6L))
    assert(M.latestSnapshot(spark, dst).get.version == 3,
      "3 intact commits at 1/trigger = 3 batches; the torn slot is not a commit")
    // same walk under a byte budget: chosen must never rest on the torn slot
    val dst2 = freshDir("torndst2"); val ckpt2 = freshDir("tornckpt2")
    runOnce(src, dst2, ckpt2, Map("maxBytesPerTrigger" -> "1"))
    assert(ids(dst2) == (1L to 6L))
    assert(M.latestSnapshot(spark, dst2).get.version == 3)
  }

  test("startingVersion=latest skips history; a numeric bound is exclusive") {
    val src = freshDir("svsrc")
    M.append(spark, (1L to 5L).toDF("id"), src)
    M.append(spark, (6L to 9L).toDF("id"), src)

    val dstL = freshDir("svdstL"); val ckptL = freshDir("svckptL")
    runOnce(src, dstL, ckptL, Map("startingVersion" -> "latest"))
    assert(M.latestSnapshot(spark, dstL).isEmpty,
      "latest must deliver nothing until a NEW commit")
    M.append(spark, Seq(100L).toDF("id"), src)
    runOnce(src, dstL, ckptL, Map("startingVersion" -> "latest"))
    assert(ids(dstL) == Seq(100L), "only the post-start commit streams")

    val dstN = freshDir("svdstN"); val ckptN = freshDir("svckptN")
    runOnce(src, dstN, ckptN, Map("startingVersion" -> "1"))
    assert(ids(dstN) == (6L to 9L) :+ 100L,
      "startingVersion=1 must stream versions 2..head, not v1")
  }

  test("compaction mid-stream is transparent; a CoW delete fails the query loudly") {
    val src = freshDir("cowsrc"); val dst = freshDir("cowdst"); val ckpt = freshDir("cowckpt")
    M.append(spark, (1L to 50L).toDF("id"), src)
    runOnce(src, dst, ckpt)
    // r12: a PHYSICAL rewrite between runs streams THROUGH — maintenance
    // must not break consumers (op-labeled, row-conservation-verified)
    M.append(spark, (51L to 60L).toDF("id"), src)
    M.compact(spark, src)
    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 60L),
      "a compaction in range must be transparent: exactly the appended rows arrive")
    // a DATA-CHANGING rewrite (CoW delete) still fails the query loudly
    M.append(spark, (61L to 70L).toDF("id"), src)
    val (nDel, _, _) = M.deleteWhere(spark, src, Seq(EqualTo("id", 5L)))
    assert(nDel == 1L)
    val ex = intercept[StreamingQueryException] { runOnce(src, dst, ckpt) }
    val msg = Option(ex.getCause).map(_.toString).getOrElse(ex.toString)
    assert(msg.contains("not derivable") || msg.contains("reprocess"),
      s"expected the rewrite refusal, got: $msg")
    assert(ids(dst) == (1L to 60L), "the failed batch must not have committed")

    // a merge-on-read delete is not an append either: the plain
    // (changeFeed=false) stream refuses it, naming the deletion vector
    val morSrc = freshDir("morsrc"); val morDst = freshDir("mordst")
    val morCkpt = freshDir("morckpt")
    M.append(spark, (1L to 20L).toDF("id"), morSrc)
    runOnce(morSrc, morDst, morCkpt)
    val dstVersion = M.latestSnapshot(spark, morDst).get.version
    M.append(spark, (21L to 30L).toDF("id"), morSrc)
    val (nMor, nFiles, _) = M.deleteWhereMergeOnRead(spark, morSrc, Seq(EqualTo("id", 5L)))
    assert(nMor == 1L && nFiles > 0, "the MoR delete must have tagged a file")
    val exMor = intercept[StreamingQueryException] { runOnce(morSrc, morDst, morCkpt) }
    val morMsg = Iterator.iterate[Throwable](exMor)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString(" | ")
    assert(morMsg.contains("deletion vector"), s"expected the dv refusal, got: $morMsg")
    assert(M.latestSnapshot(spark, morDst).get.version == dstVersion,
      "the refused batch must commit nothing to the sink")
    assert(ids(morDst) == (1L to 20L))
  }

  test("sink refuses non-append output modes and a missing identity") {
    val src = freshDir("refsrc"); val dst = freshDir("refdst")
    M.append(spark, (1L to 3L).toDF("id"), src)
    val stream = spark.readStream.format("graft-manifest").load(src)
    val agg = stream.groupBy().count()
    val exMode = intercept[Exception] {
      agg.writeStream.format("graft-manifest")
        .option("appId", "x").option("checkpointLocation", freshDir("refck1"))
        .outputMode("complete").trigger(Trigger.AvailableNow()).start(dst)
    }
    assert(exMode.getMessage.contains("append-only"), exMode.getMessage)
    val exId = intercept[Exception] {
      stream.writeStream.format("graft-manifest")
        .trigger(Trigger.AvailableNow()).start(dst)
    }
    assert(exId.getMessage.contains("exactly-once identity"), exId.getMessage)
  }

  test("a schema widening applies on restart; replayed old batches null-fill") {
    val src = freshDir("widesrc"); val dst = freshDir("widedst"); val ckpt = freshDir("wideckpt")
    M.append(spark, (1L to 5L).toDF("id"), src)
    runOnce(src, dst, ckpt)
    // the SOURCE widens between runs; the restarted stream re-resolves
    // the schema (the Delta-source posture: schema is fixed per RUN) and
    // any replayed pre-widening batch null-fills the new column
    M.append(spark, Seq((6L, "x")).toDF("id", "tag"), src)
    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 6L), "exactly-once must survive the widening restart")
    val tags = M.table(spark, dst).select("id", "tag")
      .as[(Long, Option[String])].collect().toMap
    assert(tags(6L).contains("x"), s"the widened column must arrive: $tags")
    assert((1L to 5L).forall(i => tags(i).isEmpty),
      s"pre-widening rows read null in the new column: $tags")
  }

  test("the format sink honors writeStream.partitionBy") {
    val src = freshDir("psrc"); val dst = freshDir("pdst"); val ckpt = freshDir("pckpt")
    M.append(spark, (1L to 20L).map(i => (i, (i % 2).toString)).toDF("id", "p"), src)
    val q = spark.readStream.format("graft-manifest").load(src)
      .writeStream.format("graft-manifest")
      .partitionBy("p")
      .option("appId", "part-sink").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    val snap = M.latestSnapshot(spark, dst).get
    assert(snap.partCols == Seq("p"), s"partition layout lost: ${snap.partCols}")
    assert(ids(dst) == (1L to 20L))
    // the second batch must append under the SAME layout
    M.append(spark, Seq((21L, "1")).toDF("id", "p"), src)
    val q2 = spark.readStream.format("graft-manifest").load(src)
      .writeStream.format("graft-manifest")
      .partitionBy("p")
      .option("appId", "part-sink").option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start(dst)
    q2.awaitTermination()
    assert(ids(dst) == (1L to 21L))
  }

  test("source refuses a mismatched schema and a table that does not exist yet") {
    val src = freshDir("nosrc")
    val exNoTable = intercept[Exception] {
      spark.readStream.format("graft-manifest").load(src)
    }
    assert(exNoTable.getMessage.contains("no committed manifest"),
      exNoTable.getMessage)
    M.append(spark, (1L to 3L).toDF("id"), src)
    // a MATCHING provided schema passes (the catalog-table path relies on
    // it); a mismatched one refuses — manifest tables own their schema
    spark.readStream.format("graft-manifest").schema("id LONG").load(src): Unit
    val exSchema = intercept[Exception] {
      spark.readStream.format("graft-manifest")
        .schema("id LONG, bogus STRING").load(src)
    }
    assert(exSchema.getMessage.contains("does not match the manifest"),
      exSchema.getMessage)
  }

  test("a recreated source table refuses checkpointed resume") {
    val src = freshDir("recsrc"); val dst = freshDir("recdst"); val ckpt = freshDir("recckpt")
    M.append(spark, (1L to 5L).toDF("id"), src)
    runOnce(src, dst, ckpt)
    assert(ids(dst) == (1L to 5L))
    // drop and recreate the root in place: a DIFFERENT table now lives at
    // the same path — the checkpoint's offsets are version numbers of the
    // dead one, and resuming would silently skip the new table's commits
    val hp = new org.apache.hadoop.fs.Path(src)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    M.append(spark, (100L to 105L).toDF("id"), src)
    val ex = intercept[Exception] { runOnce(src, dst, ckpt) }
    assert(ex.getMessage.contains("DIFFERENT table"), ex.getMessage)
    assert(ids(dst) == (1L to 5L), "nothing from the impostor table may land")
  }

  test("readStream.table streams a registered catalog table") {
    val src = freshDir("cattbl"); val dst = freshDir("catdst"); val ckpt = freshDir("catckpt")
    M.append(spark, (1L to 10L).toDF("id"), src)
    spark.sql("DROP TABLE IF EXISTS graft_mstream_cat")
    spark.sql(s"CREATE TABLE graft_mstream_cat USING `graft-manifest` OPTIONS (path '$src')")
    def runTable(): Unit = {
      val q = spark.readStream.table("graft_mstream_cat")
        .writeStream.format("graft-manifest")
        .option("appId", "cat-sink").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dst)
      q.awaitTermination()
    }
    runTable()
    assert(ids(dst) == (1L to 10L))
    M.append(spark, (11L to 12L).toDF("id"), src)
    runTable()
    assert(ids(dst) == (1L to 12L), "catalog-table streams resume exactly-once")
    spark.sql("DROP TABLE IF EXISTS graft_mstream_cat")
  }

  test("the micro-batch plan keeps the native parquet scan (pushdown survives)") {
    val src = freshDir("plansrc")
    M.append(spark, (1L to 100L).toDF("id"), src)
    val source = new graft.streaming.ManifestStreamSource(
      spark, src, changeFeed = false, startVersion = 0L,
      maxVersionsPerTrigger = None, maxBytesPerTrigger = None,
      tableSchema = M.tableSchemaOf(M.latestSnapshot(spark, src).get))
    val batch = source.getBatch(None,
      graft.streaming.ManifestSourceOffset(1L))
    assert(batch.isStreaming, "getBatch must return a streaming-flagged frame")
    // the batch plan must keep the planner-integrated relation (native
    // vectorized parquet + pushdown inside the micro-batch), not an
    // opaque row wrapper — the FileStreamSource shape
    val leaves = batch.queryExecution.analyzed.collectLeaves()
    val fsLeaves = leaves.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
        if lr.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation] => lr
    }
    assert(fsLeaves.nonEmpty,
      s"expected a HadoopFsRelation leaf in the micro-batch plan:\n${batch.queryExecution.analyzed}")
    assert(fsLeaves.forall(_.isStreaming), "relation leaves must be streaming-flagged")
  }
}
