package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import graft.sources.ManifestStore

/** Opt-in SERIALIZABLE deletes (r15, VERDICT r14 #4). The store's default
  * isolation is WriteSerializable: a blind append rebases into a racing
  * delete's commit untouched, so its matching rows survive that delete.
  * [[ManifestStore.deleteWhereSerializable]] upgrades to
  * every-row-as-of-commit semantics by looping passes until one deletes
  * zero rows against a snapshot still at head when the pass ends.
  */
class ManifestSerializableDeleteSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-serdel").toString

  private def batch(lo: Int, hi: Int, grp: String) =
    (lo until hi).map(i => (i.toLong, grp)).toDF("id", "grp")

  private def grpCount(df: org.apache.spark.sql.DataFrame, grp: String): Long =
    df.where(col("grp") === grp).count()

  test("the WriteSerializable gap is real, and the serializable loop closes it") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 20, "erase"), root) // v1
    val stale = ManifestStore.latestSnapshot(spark, root).get
    // a blind append lands AFTER the delete captured its base snapshot
    ManifestStore.append(spark, batch(100, 110, "erase"), root) // v2
    // the stale-based MoR delete commits by REBASE: the racing append's
    // rows survive — the documented WriteSerializable posture
    val (n1, _, v1) = ManifestStore.deleteMorFrom(spark, root, stale,
      Seq(EqualTo("grp", "erase")))
    assert(n1 == 20L && v1 == 3L)
    assert(grpCount(ManifestStore.read(spark, root), "erase") == 10L,
      "under WriteSerializable the racing append's matching rows survive")
    // the serializable loop reaches zero-matching-rows-as-of-head
    val (n2, _, v2) = ManifestStore.deleteWhereSerializable(spark, root,
      Seq(EqualTo("grp", "erase")))
    assert(n2 == 10L, s"the survivors must die in the next pass: $n2")
    assert(grpCount(ManifestStore.readVersion(spark, root, v2), "erase") == 0L &&
      grpCount(ManifestStore.read(spark, root), "erase") == 0L,
      "zero matching rows at the quiescent version")
  }

  test("appends racing a serializable delete: the quiescent version reads zero matching rows, non-matching rows all survive") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 50, "erase"), root)
    ManifestStore.append(spark, batch(1000, 1050, "keep"), root)
    val appender = new Thread(() => {
      for (b <- 0 until 6) {
        ManifestStore.append(spark,
          batch(2000 + b * 100, 2000 + b * 100 + 10, "erase")
            .union(batch(3000 + b * 100, 3000 + b * 100 + 10, "keep")),
          root)
      }
    })
    appender.start()
    val (deleted, _, quiescentV) = try
      ManifestStore.deleteWhereSerializable(spark, root,
        Seq(EqualTo("grp", "erase")), maxPasses = 50)
    finally appender.join()
    // the contract: AT THE QUIESCENT VERSION no matching row exists —
    // even though up to 6 appends with matching rows raced the loop
    val asOf = ManifestStore.readVersion(spark, root, quiescentV)
    assert(grpCount(asOf, "erase") == 0L,
      s"quiescent v$quiescentV must hold zero matching rows")
    // nothing else was harmed: every keep-row appended BEFORE the
    // quiescent version is present at it, none were deleted anywhere
    assert(deleted >= 50L && deleted % 10 == 0,
      s"deleted counts whole erase-batches: $deleted")
    val keepAtHead = grpCount(ManifestStore.read(spark, root), "keep")
    assert(keepAtHead == 50L + 60L,
      s"all keep rows survive at head: $keepAtHead")
    // a final quiet pass confirms the erasure converged table-wide
    val (extra, _, _) = ManifestStore.deleteWhereSerializable(spark, root,
      Seq(EqualTo("grp", "erase")), maxPasses = 5)
    val missed = grpCount(ManifestStore.read(spark, root), "erase")
    assert(missed == 0L && extra + deleted == 110L,
      s"every erase row appended by anyone is gone: extra=$extra deleted=$deleted missed=$missed")
  }

  test("on a quiet table the loop is one delete pass + one stats-only quiescence probe; CoW mode works") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 30, "a"), root)
    val (n, files, v) = ManifestStore.deleteWhereSerializable(spark, root,
      Seq(GreaterThanOrEqual("id", 20L)), mergeOnRead = false)
    assert(n == 10L && files >= 1)
    // quiescent version is the head the zero-pass validated — the delete's
    // own commit (no further writers)
    assert(v == ManifestStore.latestSnapshot(spark, root).get.version)
    assert(ManifestStore.read(spark, root).count() == 20L)
    // MoR mode on the same table: nothing left to delete, version stable
    val (n2, f2, v2) = ManifestStore.deleteWhereSerializable(spark, root,
      Seq(GreaterThanOrEqual("id", 20L)))
    assert(n2 == 0L && f2 == 0 && v2 == v, s"no-op must not commit: $n2 $f2 $v2")
  }

  test("maxPasses exhaustion refuses loudly; abandoned passes retry within the bound") {
    val root = freshRoot()
    ManifestStore.append(spark, batch(0, 5, "x"), root)
    // a pass that always finds work never quiesces → bounded refusal
    val e = intercept[IllegalStateException] {
      ManifestStore.serializableDeleteLoop(spark, root, maxPasses = 3) { _ =>
        (1L, 1, 7L)
      }
    }
    assert(e.getMessage.contains("quiescent") && e.getMessage.contains("3"),
      e.getMessage)
    // abandonment (-1) consumes attempts but does not accumulate counts,
    // and a later quiescent pass ends the loop with the right totals
    var calls = 0
    val (d, f, v) = ManifestStore.serializableDeleteLoop(spark, root,
      maxPasses = 5) { head =>
      calls += 1
      calls match {
        case 1 => (9L, 2, head.version) // progress
        case 2 => (5L, 1, -1L) // abandoned: must NOT count
        case _ => (0L, 0, head.version) // quiescent
      }
    }
    assert(calls == 3 && d == 9L && f == 2 && v == 1L, s"$calls $d $f $v")
  }

  test("SQL: TBLPROPERTIES graft.isolation=serializable upgrades DELETE FROM; default stays single-pass") {
    val root = freshRoot()
    spark.sql("DROP TABLE IF EXISTS graft_serdel")
    batch(0, 40, "erase").union(batch(100, 140, "keep"))
      .createOrReplaceTempView("graft_serdel_seed")
    spark.sql(s"CREATE TABLE graft_serdel USING `graft-manifest` " +
      s"OPTIONS (path '$root') AS SELECT * FROM graft_serdel_seed")
    try {
      // default posture: plain single-pass MoR delete
      val n0 = spark.sql("DELETE FROM graft_serdel WHERE id >= 20 AND id < 40")
        .collect().head.getLong(0)
      assert(n0 == 20L)
      spark.sql("ALTER TABLE graft_serdel SET TBLPROPERTIES " +
        "('graft.isolation' = 'serializable')")
      val n1 = spark.sql("DELETE FROM graft_serdel WHERE grp = 'erase'")
        .collect().head.getLong(0)
      assert(n1 == 20L, s"remaining erase rows die under the property: $n1")
      assert(spark.sql("SELECT count(*) FROM graft_serdel WHERE grp = 'erase'")
        .collect().head.getLong(0) == 0L)
      assert(spark.sql("SELECT count(*) FROM graft_serdel")
        .collect().head.getLong(0) == 40L, "keep rows untouched")
    } finally spark.sql("DROP TABLE IF EXISTS graft_serdel")
  }
}
