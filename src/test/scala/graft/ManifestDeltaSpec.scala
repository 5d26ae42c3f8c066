package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.{ManifestLog, ManifestStore}

/** Delta-encoded manifest commits (r13, VERDICT r12 #1): a commit writes
  * the CHANGED entries only (`base=` + `rm=` + entry lines) under the v2
  * header, with a self-contained checkpoint every `checkpointInterval`
  * versions — commit cost scales with the increment, not the table.
  * These pins cover: chain resolution and time travel across delta
  * boundaries, rewrite ops (delete/upsert/compact) through deltas,
  * vacuum keeping whole chains, v1 tables upgrading in place, the v2
  * forward-compat skip rule, and the loud refusal of newer formats.
  */
class ManifestDeltaSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-mdelta").toString

  private def batch(lo: Int, hi: Int) =
    (lo until hi).map(i => (i.toLong, s"row-$i")).toDF("id", "payload")

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq.sorted

  private def fs(root: String) = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestText(root: String, v: Long): String = {
    val p = new Path(s"$root/_manifests/v${"%020d".format(v)}.manifest")
    val in = fs(root).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def isDelta(root: String, v: Long): Boolean =
    manifestText(root, v).linesIterator.exists(_.startsWith("base="))

  test("a long append chain commits deltas with periodic checkpoints; " +
    "every version stays exactly replayable") {
    val root = freshRoot()
    val n = ManifestLog.checkpointInterval + 5
    for (i <- 0 until n)
      ManifestStore.append(spark, batch(i * 10, i * 10 + 10).coalesce(1), root)
    // v1 is a checkpoint (no base); most of the rest are deltas; at least
    // one later checkpoint exists (the cadence)
    assert(!isDelta(root, 1L))
    val kinds = (1L to n.toLong).map(v => isDelta(root, v))
    assert(kinds.count(_ == true) >= n - 3, "chain should be mostly deltas")
    assert(kinds.drop(1).contains(false),
      s"a chain of $n commits must contain a periodic checkpoint")
    // every version is exact — time travel across delta boundaries
    for (v <- Seq(1L, 2L, ManifestLog.checkpointInterval.toLong, n.toLong))
      assert(ids(ManifestStore.readVersion(spark, root, v)) ==
        (0L until v * 10), s"version $v")
    // delta bytes are increment-sized: a later delta is much smaller than
    // the head checkpoint would be
    val deltaV = (2L to n.toLong).find(isDelta(root, _)).get
    val full = manifestText(root, 1L).length
    assert(manifestText(root, deltaV).length < full * 2,
      "delta manifests must not scale with the accumulated table")
  }

  test("rewrite ops (CoW delete, MoR upsert, compact) encode as rm= deltas " +
    "and replay exactly") {
    val root = freshRoot()
    // range layout → tight id stats per file → the delete prunes to ONE
    // file and the commit is increment-sized (a spread-everywhere rewrite
    // legitimately checkpoints instead: the delta would be no smaller)
    ManifestStore.append(spark, batch(0, 100).repartitionByRange(4, col("id")), root)
    ManifestStore.append(spark, batch(100, 200).repartitionByRange(4, col("id")), root)
    val (del, _, v3) = ManifestStore.deleteWhere(spark, root,
      Seq(org.apache.spark.sql.sources.LessThan("id", 10L)))
    assert(del == 10L && v3 == 3L && isDelta(root, 3L))
    assert(manifestText(root, 3L).linesIterator.exists(_.startsWith("rm=")))
    val updates = Seq((150L, "UPDATED")).toDF("id", "payload")
    val (rep, _, v4) = ManifestStore.upsertByKeyMergeOnRead(spark, root,
      updates, Seq("id"))
    assert(rep == 1L && v4 == 4L && isDelta(root, 4L))
    val (_, _, v5) = ManifestStore.compact(spark, root)
    assert(v5 == 5L)
    assert(ids(ManifestStore.read(spark, root)) == (10L until 200L))
    assert(ManifestStore.read(spark, root).where(col("id") === 150L)
      .select("payload").as[String].head() == "UPDATED")
    // time travel back across the rewrites still replays each state
    assert(ids(ManifestStore.readVersion(spark, root, 2L)) == (0L until 200L))
    assert(ids(ManifestStore.readVersion(spark, root, 3L)) == (10L until 200L))
  }

  test("vacuum keeps the kept versions' whole delta chains replayable") {
    val root = freshRoot()
    for (i <- 0 until 8)
      ManifestStore.append(spark, batch(i * 10, i * 10 + 10).coalesce(1), root)
    ManifestStore.vacuum(spark, root, keepVersions = 2, minAgeMs = 0L)
    // v7 and v8 are kept; both are deltas whose chain anchors at v1 —
    // the whole chain must survive or the kept versions are unreadable
    assert(ids(ManifestStore.readVersion(spark, root, 8L)) == (0L until 80L))
    assert(ids(ManifestStore.readVersion(spark, root, 7L)) == (0L until 70L))
    // a fresh JVM-state read (cache-bypassing) also replays: the chain
    // files are physically present
    assert(ManifestStore.latestSnapshotUnhinted(spark, root).get.version == 8L)
  }

  test("a v1 table upgrades in place: new commits stack v2 deltas on the " +
    "v1 base and the union reads exactly") {
    val root = freshRoot()
    // hand-craft a v1 manifest over a real parquet batch in the r10–r12
    // shape: a schema line and per-file row counts
    batch(0, 20).coalesce(1).write.parquet(s"$root/data/batch-v1")
    val f = fs(root)
    val part = f.listStatus(new Path(s"$root/data/batch-v1"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val len = f.getFileStatus(part).getLen
    val schema = spark.read.parquet(part.toString).schema.json
    val body = s"graft-manifest v1\nversion=1\nschema=$schema\n" +
      s"${part.toString}\t$len\t{\"r\":20}\n"
    val sum = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      body.getBytes("UTF-8"))
    f.mkdirs(new Path(s"$root/_manifests"))
    val out = f.create(new Path(s"$root/_manifests/v${"%020d".format(1)}.manifest"), false)
    out.write((body + s"checksum=$sum\n").getBytes("UTF-8")); out.close()
    assert(ids(ManifestStore.read(spark, root)) == (0L until 20L))
    val v2 = ManifestStore.append(spark, batch(20, 30).coalesce(1), root)
    assert(v2 == 2L && isDelta(root, 2L),
      "a commit on a v1 base should still delta-encode")
    assert(ids(ManifestStore.read(spark, root)) == (0L until 30L))
    assert(ids(ManifestStore.readVersion(spark, root, 1L)) == (0L until 20L))
  }

  test("v2 forward compatibility: unknown marker lines are skipped, never " +
    "read as malformed file entries") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 10).coalesce(1), root)
    val text = manifestText(root, 1L)
    val bodyOld = text.substring(0, text.lastIndexOf("checksum="))
    // splice an unknown marker where a v1-style parser would tear
    val lines = bodyOld.linesIterator.toSeq
    val spliced = (lines.take(2) ++ Seq("future_marker=some-value") ++
      lines.drop(2)).mkString("", "\n", "\n")
    val sum = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      spliced.getBytes("UTF-8"))
    val p = new Path(s"$root/_manifests/v${"%020d".format(1)}.manifest")
    val f = fs(root)
    f.delete(p, false)
    val out = f.create(p, false)
    out.write((spliced + s"checksum=$sum\n").getBytes("UTF-8")); out.close()
    assert(ids(ManifestStore.latestSnapshotUnhinted(spark, root)
      .map(s => ManifestStore.readVersion(spark, root, s.version))
      .getOrElse(fail("manifest with unknown marker must stay readable")))
      == (0L until 10L))
  }

  test("a manifest from a NEWER format version refuses loudly instead of " +
    "silently serving the previous intact version") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 10).coalesce(1), root)
    val body = "graft-manifest v4\nversion=2\nshiny_new_thing=1\n"
    val sum = org.apache.commons.codec.digest.DigestUtils.md5Hex(
      body.getBytes("UTF-8"))
    val f = fs(root)
    val out = f.create(new Path(s"$root/_manifests/v${"%020d".format(2)}.manifest"), false)
    out.write((body + s"checksum=$sum\n").getBytes("UTF-8")); out.close()
    val e = intercept[ManifestStore.UnsupportedManifestVersionException] {
      ManifestStore.latestSnapshot(spark, root)
    }
    assert(e.getMessage.contains("v4") || e.getMessage.contains("newer"))
    // a v3 manifest with a DIFFERENT (or absent) checksum trailer must
    // refuse just as loudly — the version gate runs before trailer
    // validation, or the file would silently read as torn
    val f2 = fs(root)
    f2.delete(new Path(s"$root/_manifests/v${"%020d".format(2)}.manifest"), false)
    val out2 = f2.create(new Path(s"$root/_manifests/v${"%020d".format(2)}.manifest"), false)
    out2.write("graft-manifest v4\nversion=2\nsha256=abcdef\n".getBytes("UTF-8"))
    out2.close()
    intercept[ManifestStore.UnsupportedManifestVersionException] {
      ManifestStore.latestSnapshotUnhinted(spark, root)
    }
  }

  test("delta base skips torn slots: a crashed committer's slot does not " +
    "break the chain") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 10).coalesce(1), root)
    // a dead committer's torn slot at v2 (old mtime → past the grace)
    val torn = new Path(s"$root/_manifests/v${"%020d".format(2)}.manifest")
    val f = fs(root)
    val out = f.create(torn, false)
    out.write("graft-manifest v2\nversion=2\nhalf-a-lin".getBytes("UTF-8"))
    out.close()
    f.setTimes(torn, System.currentTimeMillis() - 3600 * 1000L, -1L)
    val v3 = ManifestStore.append(spark, batch(10, 20).coalesce(1), root)
    assert(v3 == 3L && isDelta(root, 3L))
    assert(manifestText(root, 3L).linesIterator
      .exists(_.trim == "base=1"), "the delta must anchor on the intact " +
      "base, never arithmetically on version-1")
    assert(ids(ManifestStore.read(spark, root)) == (0L until 20L))
  }

  test("shallow clone: zero-copy fork, fully independent evolution, " +
    "clone vacuum cannot touch source files (r13)") {
    val src = freshRoot(); val dst = freshRoot()
    ManifestStore.append(spark, batch(0, 60).repartitionByRange(3, col("id")), src)
    ManifestStore.deleteWhereMergeOnRead(spark, src,
      Seq(org.apache.spark.sql.sources.LessThan("id", 10L))) // dv travels too
    val v = ManifestStore.cloneShallow(spark, src, dst)
    assert(v == 1L)
    assert(ids(ManifestStore.read(spark, dst)) == (10L until 60L))
    val srcFiles = ManifestStore.latestSnapshot(spark, src).get.files.map(_.path).toSet
    assert(ManifestStore.latestSnapshot(spark, dst).get.files.map(_.path).toSet
      == srcFiles, "a shallow clone references the source's files in place")
    assert(ManifestStore.latestSnapshot(spark, dst).get.tableId !=
      ManifestStore.latestSnapshot(spark, src).get.tableId,
      "a clone is a different table")
    // independent evolution both ways
    ManifestStore.append(spark, batch(100, 110), dst)
    assert(ids(ManifestStore.read(spark, src)) == (10L until 60L),
      "appending to the clone must not touch the source")
    ManifestStore.deleteWhereMergeOnRead(spark, src,
      Seq(org.apache.spark.sql.sources.LessThan("id", 20L)))
    assert(ids(ManifestStore.read(spark, dst)) ==
      ((10L until 60L) ++ (100L until 110L)),
      "a later source delete must not reach the clone")
    // clone vacuum: aggressive retention cannot delete source-owned files
    ManifestStore.vacuum(spark, dst, keepVersions = 1, minAgeMs = 0L)
    val f = fs(src)
    assert(srcFiles.forall(p => f.exists(new Path(p))),
      "clone vacuum must never delete foreign batch directories")
    assert(ids(ManifestStore.read(spark, dst)) ==
      ((10L until 60L) ++ (100L until 110L)))
    // compacting the clone severs the share (its own copies)
    ManifestStore.compact(spark, dst)
    assert(ManifestStore.latestSnapshot(spark, dst).get.files
      .forall(e => !srcFiles(e.path)), "compaction copies rows into the clone")
    assert(ManifestStore.history(spark, dst).select("op")
      .as[String].collect().toSeq.lastOption.contains("clone"))
    // cloning onto an existing table refuses
    intercept[IllegalArgumentException] {
      ManifestStore.cloneShallow(spark, src, dst)
    }
  }

  test("history lists resolvable versions newest-first with ops, kinds and " +
    "live counts (r13)") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 30).coalesce(1), root)
    ManifestStore.append(spark, batch(30, 40).coalesce(1), root)
    ManifestStore.deleteWhereMergeOnRead(spark, root,
      Seq(org.apache.spark.sql.sources.LessThan("id", 5L)))
    val h = ManifestStore.history(spark, root)
      .select("version", "op", "is_checkpoint", "live_rows")
      .as[(Long, String, Boolean, Long)].collect().toSeq
    assert(h.map(_._1) == Seq(3L, 2L, 1L), "newest first")
    assert(h.map(_._2) == Seq("mor-delete", "append", "append"))
    assert(h.head._4 == 35L && h(1)._4 == 40L && h(2)._4 == 30L)
    assert(h.last._3, "v1 is a checkpoint")
    assert(!h.head._3, "the delete rides a delta")
    assert(ManifestStore.history(spark, root, limit = 1).count() == 1L)
  }

  test("concurrent committers race across checkpoint boundaries without " +
    "losing a commit (interval=3 stress)") {
    val root = freshRoot()
    val saved = ManifestLog.checkpointInterval
    ManifestLog.checkpointInterval = 3
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Long]] =
          (0 until 16).map(i => () =>
            ManifestStore.append(spark,
              batch(i * 100, i * 100 + 100).coalesce(1), root))
        val versions = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
        assert(versions.sorted == (1L to 16L),
          s"every commit must land its own version: $versions")
      } finally pool.shutdown()
      // the union survived every rebase, across multiple checkpoints
      assert(ids(ManifestStore.read(spark, root)) ==
        (0 until 16).flatMap(i => i * 100 until i * 100 + 100).map(_.toLong).sorted)
      // chain shape sane: version 1 is a checkpoint; checkpoints recur
      val kinds = (1L to 16L).map(v => isDelta(root, v))
      assert(!kinds.head && kinds.count(_ == false) >= 4,
        s"interval=3 must mint several checkpoints: $kinds")
      // every version still exactly replayable after the race
      for (v <- Seq(1L, 5L, 9L, 16L))
        assert(ManifestStore.readVersion(spark, root, v).count() == v * 100)
    } finally ManifestLog.checkpointInterval = saved
  }

  test("addbytes= marker records each version's added data bytes") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 50).coalesce(1), root)
    ManifestStore.append(spark, batch(50, 60).coalesce(1), root)
    val s1 = ManifestStore.snapshotAt(spark, root, 1L).get
    val s2 = ManifestStore.snapshotAt(spark, root, 2L).get
    assert(s1.addedBytes.contains(s1.files.map(_.bytes).sum))
    val added2 = s2.files.map(_.bytes).sum - s1.files.map(_.bytes).sum
    assert(s2.addedBytes.contains(added2))
  }
}
