package graft

import org.apache.spark.sql.functions._

import graft.sources.{ManifestLog, ManifestStore}

/** Column mapping (r14, VERDICT r13 #2): RENAME COLUMN and DROP COLUMN as
  * METADATA-ONLY manifest commits — files keep their physical column
  * names (assigned at birth, immutable), the manifest carries the logical
  * schema plus a logical→physical map, and the read path rewrites reader
  * schemas/filters per file. A 100 TB schema refactor is one
  * O(manifest-bytes) commit, never a table rewrite.
  */
class ColumnMappingSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private val M = ManifestStore

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft-colmap").toString

  private def frame(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"p$i", i % 4)).toDF("id", "payload", "grp")

  test("rename is metadata-only: bytes untouched, reads/filters/pruning map through") {
    val root = freshRoot()
    M.append(spark, frame(0, 40).repartitionByRange(4, col("id")), root)
    val before = M.latestSnapshot(spark, root).get
    val v = M.renameColumn(spark, root, "id", "doc_id")
    val snap = M.latestSnapshot(spark, root).get
    assert(v == before.version + 1 && snap.op == "rename-column")
    assert(snap.files == before.files, "zero data entries may change")
    assert(snap.colMap == Map("doc_id" -> "id"))
    // logical reads under the new name
    val df = M.read(spark, root)
    assert(df.columns.toSeq == Seq("doc_id", "payload", "grp"))
    assert(df.where(col("doc_id") < 10).count() == 10L)
    // stats pruning still bites: the filter maps to the physical stats key
    val kept = M.prunedEntries(snap,
      Seq(org.apache.spark.sql.sources.LessThan("doc_id", 10L)))
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"renamed-column filter must still prune: ${kept.size}/${snap.files.size}")
    // format read (planner path) agrees, including pushdown
    val fmt = spark.read.format("graft-manifest").load(root)
    assert(fmt.where(col("doc_id") === 7L).select("payload").as[String]
      .collect().toSeq == Seq("p7"))
    // time travel replays the OLD name
    assert(M.readVersion(spark, root, before.version).columns.head == "id")
  }

  test("rename chain and rename-back normalize; appends keep working (physical names immutable)") {
    val root = freshRoot()
    M.append(spark, frame(0, 10), root)
    M.renameColumn(spark, root, "id", "key")
    M.renameColumn(spark, root, "key", "ident")
    assert(M.latestSnapshot(spark, root).get.colMap == Map("ident" -> "id"))
    // appends arrive LOGICAL and write the PHYSICAL name into new files
    M.append(spark,
      (10 until 20).map(i => (i.toLong, s"p$i", i % 4)).toDF("ident", "payload", "grp"),
      root)
    val df = M.read(spark, root)
    assert(df.where(col("ident") >= 10).count() == 10L)
    assert(df.select(sum("ident")).as[Long].head() == (0L until 20L).sum)
    // rename BACK to the physical name drops the mapping entry entirely
    M.renameColumn(spark, root, "ident", "id")
    assert(M.latestSnapshot(spark, root).get.colMap.isEmpty)
    assert(M.read(spark, root).select(sum("id")).as[Long].head() == (0L until 20L).sum)
  }

  test("drop is metadata-only; the retired physical name cannot be reused by widening") {
    val root = freshRoot()
    M.append(spark, frame(0, 12), root)
    val v0 = M.latestSnapshot(spark, root).get.version
    M.dropColumn(spark, root, "payload")
    val snap = M.latestSnapshot(spark, root).get
    assert(snap.op == "drop-column" && snap.droppedPhys == Seq("payload"))
    val df = M.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "grp"))
    assert(df.count() == 12L)
    // time travel still reads the dropped column at the old version
    assert(M.readVersion(spark, root, v0).columns.contains("payload"))
    // a widening append re-using the retired physical name refuses loudly
    val e = intercept[IllegalArgumentException] {
      M.append(spark, (12 until 15).map(i => (i.toLong, 0, s"x$i"))
        .toDF("id", "grp", "payload"), root)
    }
    assert(e.getMessage.contains("collide with a PHYSICAL"), e.getMessage)
    // a fresh name is fine (old files null-fill it)
    M.append(spark, (12 until 15).map(i => (i.toLong, 0, s"x$i"))
      .toDF("id", "grp", "body"), root)
    assert(M.read(spark, root).where(col("body").isNull).count() == 12L)
  }

  test("partition-column rename maps directory-keyed partition values and pruning") {
    val root = freshRoot()
    M.append(spark, frame(0, 40), root, partitionBy = Seq("grp"))
    M.renameColumn(spark, root, "grp", "bucket")
    val snap = M.latestSnapshot(spark, root).get
    assert(snap.partCols == Seq("bucket") && snap.colMap == Map("bucket" -> "grp"))
    val df = M.read(spark, root).where(col("bucket") === 2)
    assert(df.count() == 10L)
    assert(df.select("bucket").distinct().as[Int].collect().toSeq == Seq(2))
    // pruning on the renamed partition column
    val kept = M.prunedEntries(snap,
      Seq(org.apache.spark.sql.sources.EqualTo("bucket", 2)))
    assert(kept.forall(_.partition.exists(_.get("grp").flatten.contains("2"))))
    // appends under the new logical partitioning land in the OLD dirs' scheme
    M.append(spark, (40 until 44).map(i => (i.toLong, s"p$i", 1))
      .toDF("id", "payload", "bucket"), root, partitionBy = Seq("bucket"))
    assert(M.read(spark, root).where(col("bucket") === 1).count() == 14L)
  }

  test("MoR delete/upsert, compaction and the change feed survive a rename") {
    val root = freshRoot()
    M.append(spark, frame(0, 30).repartitionByRange(3, col("id")), root)
    M.renameColumn(spark, root, "id", "doc_id")
    val v1 = M.latestSnapshot(spark, root).get.version
    // MoR delete keyed on the renamed column: dv prunes + applies
    val (nDel, _, _) = M.deleteWhereMergeOnRead(spark, root,
      Seq(org.apache.spark.sql.sources.LessThan("doc_id", 5L)))
    assert(nDel == 5L)
    assert(M.read(spark, root).count() == 25L)
    // the change feed over the delete speaks the LOGICAL schema
    val (_, changes) = M.readChangesSince(spark, root, v1)
    assert(changes.columns.contains("doc_id"))
    assert(changes.where(col(M.ChangeTypeCol) === "delete").count() == 5L)
    // upsert by the renamed key
    val (replaced, _, _) = M.upsertByKeyMergeOnRead(spark, root,
      Seq((10L, "NEW", 9)).toDF("doc_id", "payload", "grp"), Seq("doc_id"))
    assert(replaced == 1L)
    assert(M.read(spark, root).where(col("doc_id") === 10L)
      .select("payload").as[String].head() == "NEW")
    // compaction rewrites files under the SAME physical names
    val (_, _, cv) = M.compact(spark, root)
    assert(cv > 0)
    val after = M.latestSnapshot(spark, root).get
    assert(after.colMap == Map("doc_id" -> "id"),
      "compaction preserves the mapping (physical names are immutable)")
    assert(M.read(spark, root).count() == 25L)
    assert(M.read(spark, root).where(col("doc_id") === 10L)
      .select("payload").as[String].head() == "NEW")
  }

  test("PLANNER file skipping survives the mapping: a renamed-column predicate opens fewer files") {
    val root = freshRoot()
    M.append(spark, (0 until 10000).map(i => (i.toLong, i * 2L))
      .toDF("id", "v").repartitionByRange(8, col("id"))
      .sortWithinPartitions("id"), root)
    M.renameColumn(spark, root, "id", "doc_id")
    val snap = M.latestSnapshot(spark, root).get
    val df = spark.read.format("graft-manifest").load(root)
      .where(col("doc_id") >= 9000)
    df.collect() // populate scan metrics on THIS queryExecution
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one file scan:\n${df.queryExecution.executedPlan}")
    val opened = scans.head.metrics("numFiles").value
    assert(opened > 0 && opened < snap.files.size,
      s"mapped planner skipping inert: opened $opened of ${snap.files.size}")
    assert(df.count() == 1000L)
    assert(df.agg(sum("v")).as[Long].head() ==
      (9000L until 10000L).map(_ * 2).sum)
  }

  test("DDL races appends: rename and append commit concurrently without losing either") {
    val root = freshRoot()
    M.append(spark, frame(0, 20), root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val rename = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = M.renameColumn(spark, root, "payload", "body")
      })
      val appends = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = (0 until 4).foreach { i =>
          // appends race the rename: whichever logical schema each commit
          // rebases onto, the PHYSICAL name is the same — both orders land
          val name = try { rename.get(0, java.util.concurrent.TimeUnit.MILLISECONDS); "body" }
                     catch { case _: java.util.concurrent.TimeoutException => "payload" }
          try M.append(spark, Seq((100L + i, s"x$i", 0))
            .toDF("id", name, "grp"), root)
          catch { case e: IllegalArgumentException
              if e.getMessage.contains("keep its type") ||
                e.getMessage.contains("collide") => () } // raced the rename: retry under the new name
        }
      })
      rename.get(); appends.get()
    } finally pool.shutdown()
    // whatever interleaving happened, the table is coherent and mapped
    val snap = M.latestSnapshot(spark, root).get
    assert(snap.colMap == Map("body" -> "payload"))
    val df = M.read(spark, root)
    assert(df.columns.contains("body"))
    assert(df.count() >= 20L)
    assert(df.where(col("id") < 20).count() == 20L,
      "the pre-race rows survive under the mapped read")
  }

  test("streaming: a mapped table tails and change-feeds under the LOGICAL schema") {
    val root = freshRoot()
    new java.io.File(root).delete()
    M.append(spark, frame(0, 10), root)
    M.renameColumn(spark, root, "id", "doc_id")
    M.append(spark, (10 until 15).map(i => (i.toLong, s"p$i", i % 4))
      .toDF("doc_id", "payload", "grp"), root)
    val out = java.nio.file.Files.createTempDirectory("graft-cm-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cm-ckpt").toString
    val q = spark.readStream.format("graft-manifest").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq.sorted == Seq("doc_id", "grp", "payload"))
    assert(got.count() == 15L)
    assert(got.agg(sum("doc_id")).as[Long].head() == (0L until 15L).sum)
  }

  test("DDL commits are O(manifest-lines), never O(files): byte-size pin on a wide table") {
    val root = freshRoot()
    M.append(spark, (0 until 4000).map(i => (i.toLong, s"p$i", i % 4))
      .toDF("id", "payload", "grp").repartition(200), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestBytes(v: Long): Long = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(
        s"$root/_manifests/v${"%020d".format(v)}.manifest")).getLen
    val checkpointBytes = manifestBytes(1L)
    assert(checkpointBytes > 20000L, s"200-file checkpoint should be wide: $checkpointBytes")
    val vRename = M.renameColumn(spark, root, "id", "doc_id")
    val vDrop = M.dropColumn(spark, root, "payload")
    val vAdd = M.addColumns(spark, root,
      Seq(org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val vRestore = M.restore(spark, root, vRename)
    for ((v, what) <- Seq((vRename, "rename"), (vDrop, "drop"), (vAdd, "add"))) {
      val b = manifestBytes(v)
      assert(b < 4096L,
        s"$what commit must be O(schema+colmap lines), got $b bytes " +
          s"(checkpoint is $checkpointBytes) — an O(files) DDL write regressed")
    }
    // restore re-lists nothing either: its file list is byte-identical to
    // the base's, so the delta encodes only the schema/colmap rollback
    assert(manifestBytes(vRestore) < 8192L,
      s"restore-to-neighbor commit should be delta-small: ${manifestBytes(vRestore)}")
    // the restore rolled the schema back to the post-rename state: payload
    // returns (its physical bytes never left), score goes
    assert(M.read(spark, root).columns.toSeq == Seq("doc_id", "payload", "grp"))
  }

  test("SQL: ALTER TABLE RENAME/DROP COLUMN sync the catalog; pre-r14 readers refuse format v3") {
    val root = freshRoot()
    new java.io.File(root).delete()
    M.append(spark, frame(0, 10), root)
    spark.sql("DROP TABLE IF EXISTS cm_t")
    spark.sql(s"CREATE TABLE cm_t USING `graft-manifest` OPTIONS (path '$root')")
    spark.sql("ALTER TABLE cm_t RENAME COLUMN id TO doc_id")
    assert(spark.sql("SELECT sum(doc_id) FROM cm_t").as[Long].head() == 45L)
    assert(spark.table("cm_t").columns.toSeq == Seq("doc_id", "payload", "grp"))
    spark.sql("ALTER TABLE cm_t DROP COLUMN payload")
    assert(spark.table("cm_t").columns.toSeq == Seq("doc_id", "grp"))
    // SQL DML keeps working on the renamed column
    assert(spark.sql("DELETE FROM cm_t WHERE doc_id < 3").as[Long].head() == 3L)
    assert(spark.sql("SELECT count(*) FROM cm_t").as[Long].head() == 7L)
    spark.sql("DROP TABLE IF EXISTS cm_t")
    // format protocol: a mapped table's manifests are v3 — readers capped
    // at v2 must refuse LOUDLY, never serve stale/misnamed columns
    val head = {
      val p = new org.apache.hadoop.fs.Path(
        s"$root/_manifests/v${"%020d".format(M.latestSnapshot(spark, root).get.version)}.manifest")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
      finally in.close()
    }
    assert(head == "graft-manifest v3", head)
  }

  test("mapping RESET survives cold resolution: rename-back parity, seeded vs delta-chain replay (ADVICE r15 #1)") {
    // a rename BACK to the physical name empties colMap; the reset delta
    // must still carry the v3 header so parseStrict honors its `colmap=`
    // reset line — under a v2 header the line is skipped by the unknown-
    // marker rule and every COLD chain resolution keeps the stale mapping
    val root = freshRoot()
    M.append(spark, frame(0, 10), root)
    M.renameColumn(spark, root, "id", "doc_id")
    M.renameColumn(spark, root, "doc_id", "id") // reset: colMap -> empty
    val seeded = M.latestSnapshot(spark, root).get
    assert(seeded.colMap.isEmpty, s"seeded colMap: ${seeded.colMap}")
    ManifestLog.clearCachesForTest()
    val cold = M.latestSnapshot(spark, root).get
    assert(cold.colMap == seeded.colMap && cold.colMap.isEmpty,
      s"cold delta-chain replay diverged from the committer-seeded snapshot: " +
        s"cold=${cold.colMap} seeded=${seeded.colMap}")
    assert(M.read(spark, root).columns.toSeq == Seq("id", "payload", "grp"))
    assert(M.read(spark, root).select(sum("id")).as[Long].head() == 45L)
    // a widening append may now re-introduce "doc_id" (the mapping is
    // GONE, so the name is free) — under the stale-mapping bug this would
    // map onto the live physical "id" column and serve wrong data
    M.append(spark, Seq((100L, "x", 0, 7L)).toDF("id", "payload", "grp", "doc_id"), root)
    val got = M.read(spark, root).where(col("id") === 100L)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(7L), s"re-added column read wrong data: $got")
  }

  test("mapping RESET survives cold resolution: restore to pre-DDL version (ADVICE r15 #1)") {
    val root = freshRoot()
    M.append(spark, frame(0, 10), root)
    val preDdl = M.latestSnapshot(spark, root).get.version
    M.renameColumn(spark, root, "id", "doc_id")
    M.dropColumn(spark, root, "payload")
    M.restore(spark, root, preDdl) // colMap AND droppedPhys -> empty
    val seeded = M.latestSnapshot(spark, root).get
    assert(seeded.colMap.isEmpty && seeded.droppedPhys.isEmpty)
    ManifestLog.clearCachesForTest()
    val cold = M.latestSnapshot(spark, root).get
    assert(cold.colMap.isEmpty && cold.droppedPhys.isEmpty,
      s"cold replay kept stale mapping state: colMap=${cold.colMap} " +
        s"dropped=${cold.droppedPhys}")
    assert(M.read(spark, root).columns.toSeq == Seq("id", "payload", "grp"))
    assert(M.read(spark, root).count() == 10L)
  }
}
