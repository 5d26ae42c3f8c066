package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import graft.sources.{ManifestLog, ManifestStore}

/** Per-file Bloom sidecar point lookups (r15, VERDICT r14 #6): an
  * optional write-time index registered in the manifest, consulted after
  * stats pruning for EqualTo/In on indexed columns — the pruning tier
  * z-order can't give on non-clustered ids. Layout: keys are STRIPED
  * across files (every file's min/max straddles every key), so min/max
  * stats prune NOTHING and any observed skip is the Bloom tier's.
  */
class ManifestBloomSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-bloom").toString

  /** `files` stripes × `perFile` rows; key = stripe + i*files, so every
    * stripe spans [stripe, stripe + (perFile-1)*files] — full overlap.
    */
  private def striped(root: String, files: Int, perFile: Int): Unit =
    for (s <- 0 until files)
      ManifestStore.append(spark,
        (0 until perFile).map(i => ((s + i * files).toLong, s"name-${s + i * files}"))
          .toDF("id", "name").coalesce(1),
        root)

  test("point lookup: stats keep every striped file, the bloom tier keeps ~1") {
    val root = freshRoot()
    striped(root, files = 8, perFile = 200)
    val snap = ManifestStore.latestSnapshot(spark, root).get
    val probe = Seq(EqualTo("id", 42L))
    assert(ManifestStore.prunedEntries(snap, probe).size == 8,
      "the layout must defeat min/max stats, or this spec tests nothing")
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val after = ManifestStore.latestSnapshot(spark, root).get
    assert(after.op == "bloom" && after.bloomIdx.exists(_.columns == Seq("id")))
    val kept = ManifestStore.prunedEntriesBloom(spark, root, after, probe)
    assert(kept.size <= 2, s"bloom must prune to ~1 of 8 files: ${kept.size}")
    // the answer is exact either way
    assert(ManifestStore.readWhere(spark, root, probe).as[(Long, String)]
      .collect().toSeq == Seq((42L, "name-42")))
    // string column lookups work too, and a missing key prunes everything
    ManifestStore.buildBloomIndex(spark, root, Seq("id", "name"))
    val snap2 = ManifestStore.latestSnapshot(spark, root).get
    val byName = ManifestStore.prunedEntriesBloom(spark, root, snap2,
      Seq(EqualTo("name", "name-77")))
    assert(byName.size <= 2, s"string bloom: ${byName.size}")
    assert(ManifestStore.prunedEntriesBloom(spark, root, snap2,
      Seq(EqualTo("id", 999999L))).isEmpty
      || ManifestStore.readWhere(spark, root,
           Seq(EqualTo("id", 999999L))).count() == 0L)
  }

  test("In and same-column Or prune; cross-column Or and ranges stay conservative") {
    val root = freshRoot()
    striped(root, files = 8, perFile = 100)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val snap = ManifestStore.latestSnapshot(spark, root).get
    val in = ManifestStore.prunedEntriesBloom(spark, root, snap,
      Seq(In("id", Array(3L, 11L)))) // stripes 3 and 3 (11 % 8 = 3)... keys 3, 11
    assert(in.size <= 3, s"In must keep only files holding 3 or 11: ${in.size}")
    val or = ManifestStore.prunedEntriesBloom(spark, root, snap,
      Seq(Or(EqualTo("id", 5L), EqualTo("id", 6L))))
    assert(or.size <= 3, s"same-column Or: ${or.size}")
    // a cross-column Or constrains neither column for the BLOOM tier —
    // whatever stats keep (id=50 straddles every stripe's min/max; the
    // name side might still stats-prune) must stay un-bloom-pruned
    val crossOr = Seq(Or(EqualTo("id", 50L), EqualTo("name", "zz")))
    assert(ManifestStore.prunedEntriesBloom(spark, root, snap, crossOr) ==
      ManifestStore.prunedEntries(snap, crossOr))
    // ranges are the stats tier's job, not the bloom's — all kept
    assert(ManifestStore.prunedEntriesBloom(spark, root, snap,
      Seq(GreaterThan("id", 5L))).size == 8)
    // And: the equality side still prunes under a conjunct
    assert(ManifestStore.prunedEntriesBloom(spark, root, snap,
      Seq(And(EqualTo("id", 5L), GreaterThan("id", 0L)))).size <= 2)
  }

  test("false-positive law: at fpp=0.02 absent keys keep ~fpp of files, never lose a present key") {
    val root = freshRoot()
    val files = 16
    striped(root, files, perFile = 500)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"), fpp = 0.02)
    val snap = ManifestStore.latestSnapshot(spark, root).get
    val absent = (1000000L until 1000200L)
    val keptCounts = absent.map(k =>
      ManifestStore.prunedEntriesBloom(spark, root, snap,
        Seq(EqualTo("id", k))).size)
    val meanKept = keptCounts.sum.toDouble / absent.size
    // E[kept] = fpp × files = 0.32; allow generous slack for hash luck
    assert(meanKept <= 3 * 0.02 * files + 0.2,
      s"mean kept files for absent keys too high: $meanKept")
    // soundness: every present key's file is KEPT (no false negatives)
    for (k <- Seq(0L, 7L, 1234L, files * 500L - 1L)) {
      val hit = ManifestStore.readWhere(spark, root, Seq(EqualTo("id", k)))
      assert(hit.count() == 1L, s"present key $k must survive pruning")
    }
  }

  test("incremental build covers only new files; replace on different fpp; drop clears") {
    val root = freshRoot()
    striped(root, files = 4, perFile = 50)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val ix1 = ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get
    assert(ix1.dirs.size == 1)
    // fully-covered rebuild is a NO-OP: same version, no commit
    val vNoop = ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    assert(vNoop == ManifestStore.latestSnapshot(spark, root).get.version &&
      ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get == ix1)
    // append → only the new files are read; a second dir joins the ref
    ManifestStore.append(spark,
      Seq((100000L, "late")).toDF("id", "name").coalesce(1), root)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val ix2 = ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get
    assert(ix2.dirs.size == 2 && ix2.dirs.startsWith(ix1.dirs))
    val kept = ManifestStore.prunedEntriesBloom(spark, root,
      ManifestStore.latestSnapshot(spark, root).get, Seq(EqualTo("id", 100000L)))
    assert(kept.size <= 2 &&
      kept.exists(_.path.contains("batch-")), s"late key found: ${kept.size}")
    // different fpp REPLACES the ref (old dirs age out via vacuum)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"), fpp = 0.001)
    val ix3 = ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get
    assert(ix3.fpp == 0.001 && ix3.dirs.intersect(ix2.dirs).isEmpty)
    // drop clears the ref; a second drop is a version-stable no-op
    val vDrop = ManifestStore.dropBloomIndex(spark, root)
    assert(ManifestStore.latestSnapshot(spark, root).get.bloomIdx.isEmpty)
    assert(ManifestStore.dropBloomIndex(spark, root) == vDrop)
  }

  test("survives cold delta-chain resolution, RENAME COLUMN, int→long widening and MoR deletes") {
    val root = freshRoot()
    striped(root, files = 6, perFile = 100)
    // narrow the column first: blooms hash integrals canonically as LONG
    val rootW = freshRoot()
    for (s <- 0 until 6)
      ManifestStore.append(spark,
        (0 until 100).map(i => (s + i * 6, s"n-${s + i * 6}")).toDF("id", "name")
          .select(col("id").cast("int").as("id"), col("name")).coalesce(1),
        rootW)
    ManifestStore.buildBloomIndex(spark, rootW, Seq("id"))
    // cold resolution (fresh process state): the ref survives the chain
    ManifestLog.clearCachesForTest()
    val cold = ManifestStore.latestSnapshot(spark, rootW).get
    assert(cold.bloomIdx.exists(_.columns == Seq("id")),
      s"bloomidx must survive cold resolution: ${cold.bloomIdx}")
    // rename: lookups under the NEW logical name map to the physical bloom
    ManifestStore.renameColumn(spark, rootW, "id", "key")
    val renamed = ManifestStore.latestSnapshot(spark, rootW).get
    val keptR = ManifestStore.prunedEntriesBloom(spark, rootW, renamed,
      Seq(EqualTo("key", 42)))
    assert(keptR.size <= 2, s"rename must not break bloom pruning: ${keptR.size}")
    // widen int→long: the canonical-long hashing keeps old files' filters
    ManifestStore.alterColumnType(spark, rootW, "key",
      org.apache.spark.sql.types.LongType)
    val widened = ManifestStore.latestSnapshot(spark, rootW).get
    val keptW = ManifestStore.prunedEntriesBloom(spark, rootW, widened,
      Seq(EqualTo("key", 42L)))
    assert(keptW.size <= 2, s"widening must not break bloom pruning: ${keptW.size}")
    assert(ManifestStore.readWhere(spark, rootW, Seq(EqualTo("key", 42L)))
      .count() == 1L)
    // MoR delete: filters keep deleted keys as false positives (file kept)
    // but the ANSWER excludes them — conservative, never wrong
    val (nDel, _, _) = ManifestStore.deleteWhereMergeOnRead(spark, rootW,
      Seq(EqualTo("key", 42L)))
    assert(nDel == 1L)
    assert(ManifestStore.readWhere(spark, rootW, Seq(EqualTo("key", 42L)))
      .count() == 0L)
  }

  test("vacuum keeps referenced sidecars, reclaims replaced ones; restore brings the ref back") {
    val root = freshRoot()
    striped(root, files = 4, perFile = 50)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val ix1 = ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get
    val vIndexed = ManifestStore.latestSnapshot(spark, root).get.version
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirExists(n: String) = fs.exists(
      new org.apache.hadoop.fs.Path(s"$root/data/$n"))
    assert(ix1.dirs.forall(dirExists))
    // replace the index; the old dir is unreferenced once history ages out
    ManifestStore.buildBloomIndex(spark, root, Seq("id"), fpp = 0.001)
    val ix2 = ManifestStore.latestSnapshot(spark, root).get.bloomIdx.get
    // retention keeps BOTH refs while vIndexed's manifest is retained
    ManifestStore.vacuum(spark, root, keepVersions = 10, minAgeMs = 0L)
    assert(ix1.dirs.forall(dirExists) && ix2.dirs.forall(dirExists),
      "a retained manifest still references the old sidecar")
    // restore to the first index: its ref must come back exactly
    ManifestStore.restore(spark, root, vIndexed)
    assert(ManifestStore.latestSnapshot(spark, root).get.bloomIdx.contains(ix1))
    // roll the delta chain past a fresh checkpoint so the ix2-referencing
    // manifests leave the retained range (retention spans back to the
    // kept head's checkpoint, never less), then vacuum aggressively: the
    // replaced ix2 dirs are unreferenced and reclaimed, ix1 survives
    // (appends carry the restored ref forward)
    for (i <- 0 until 17)
      ManifestStore.append(spark,
        Seq((90000L + i, s"pad-$i")).toDF("id", "name").coalesce(1), root)
    ManifestStore.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
    assert(ix1.dirs.forall(dirExists),
      "the live index's sidecars must survive vacuum")
    assert(!ix2.dirs.forall(dirExists),
      "the replaced index's sidecars are vacuum food")
    // and the restored index still prunes
    val kept = ManifestStore.prunedEntriesBloom(spark, root,
      ManifestStore.latestSnapshot(spark, root).get, Seq(EqualTo("id", 7L)))
    assert(kept.size <= 2, s"post-vacuum pruning: ${kept.size}")
  }

  test("the idiomatic graft-manifest read opens only bloom-surviving files (numFiles metric)") {
    val root = freshRoot()
    striped(root, files = 8, perFile = 200)
    ManifestStore.buildBloomIndex(spark, root, Seq("id"))
    val df = spark.read.format("graft-manifest").load(root)
      .where(col("id") === 42L)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(42L))
    val opened = df.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.metrics("numFiles").value
    }.sum
    assert(opened >= 1 && opened <= 2,
      s"the executed scan must open ~1 of 8 files: $opened")
  }
}
