package org.apache.spark

import java.nio.file.Files

import org.apache.spark.sql.sources.LessThan
import org.apache.spark.storage.BroadcastBlockId

import graft.sources.ManifestStore

/** The change feed's dv-growth predicate takes its broadcast from the dv
  * broadcast cache. Broadcasts are counted as the broadcast block ids the
  * driver's block manager holds; that API is package-private, hence this
  * file's package.
  */
class DvBroadcastSpec extends graft.SparkSpec {

  private def broadcastIds(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  test("re-reading a change-feed span over a dv-growth step broadcasts its dv diff once") {
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("graft-dv-bcast").toString
    ManifestStore.append(s, (0L until 20L).toDF("id").coalesce(1), root) // v1
    ManifestStore.deleteWhereMergeOnRead(s, root, Seq(LessThan("id", 5L))) // v2
    val before = broadcastIds()
    // the frames are held, so none of their broadcasts can be cleaned
    // before the count
    val frames = (1 to 20).map(_ => ManifestStore.readChangesSince(s, root, 1L)._2)
    val created = broadcastIds() -- before
    assert(created.size == 1,
      s"20 reads of one dv-growth span must broadcast once, got ${created.size}")
    assert(Seq(frames.head, frames.last).forall(
      _.where("_change_type = 'delete'").count() == 5L))
  }
}
