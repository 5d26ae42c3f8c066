package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}

import perfbench.Main.{Loop, Opts}

/** The `table_rw` workload: drives `ManifestStore` directly on a table
  * seeded from lineitem, replaying the seeded op log that perfbench/gen.py
  * wrote (`table_rw/ops.tsv`, one pass per block of lines). Pass 0 builds
  * up more history than vacuum keeps, with small appends and compactions;
  * it runs as an untimed warm-up pass. Writes are
  * appends, merge-on-read deletes and merge-on-read upserts; reads are
  * latest-snapshot `readWhere` point and range reads and `readVersion`
  * time-travel reads over the retained versions, each collected to the
  * driver as a client would; each pass ends with a `compact` and a
  * `vacuum(minAgeMs = 0)` that keeps more versions than the snapshot cache
  * holds. Each read's rows are fingerprinted after it is timed; the front
  * end checks the fingerprints, and the final table contents, against a
  * model of the op log.
  */
final class TableLoop(o: Opts) extends Loop(o) {
  private val M = graft.sources.ManifestStore
  private val dir = s"${o.data}/table_rw"
  private val KeepVersions = 60
  private val log: Map[Int, Seq[Array[String]]] =
    Files.readAllLines(Paths.get(s"$dir/ops.tsv")).asScala.toSeq.map(_.split("\t"))
      .groupBy(_(0).toInt)
  private var root: String = _
  private var baseVersion = 0L
  private var latest = 0L
  private var current: Array[Row] = _

  private def batch(spark: SparkSession, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name")

  def prepare(spark: SparkSession, rep: Int): Unit = {
    root = s"${o.work}/table_rw/t$rep"
    val base = batch(spark, "base.parquet")
    baseVersion = M.append(spark, base.repartitionByRange(8, col("k")), root)
    latest = baseVersion
  }

  private def range(lo: String, hi: String): Seq[Filter] =
    Seq(GreaterThanOrEqual("k", lo.toLong), LessThan("k", hi.toLong))

  private def timedRead(spark: SparkSession, filters: Seq[Filter],
                        read: => DataFrame): Map[String, Any] = {
    val traced = if (o.trace) {
      val t = System.nanoTime()
      val snap = M.latestSnapshot(spark, root).get
      val resolve = (System.nanoTime() - t) / 1e9
      Map("resolve_s" -> resolve, "files_live" -> snap.files.size,
        "files_read" -> M.prunedEntries(snap, filters).size)
    } else Map.empty[String, Any]
    val t0 = System.nanoTime()
    val df = read
    val t1 = System.nanoTime()
    current = df.collect()
    traced ++ Map("build_s" -> (t1 - t0) / 1e9, "exec_s" -> (System.nanoTime() - t1) / 1e9)
  }

  private def wrote(v: Long): Map[String, Any] = {
    if (v > latest) latest = v
    Map("version" -> latest)
  }

  def pass(spark: SparkSession, p: Int): Seq[(String, () => Map[String, Any])] =
    log.getOrElse(p, throw new IllegalStateException(s"op log has no pass $p")).map { a =>
      a(1) -> { () =>
        current = null
        a(1) match {
          case "append" =>
            wrote(M.append(spark, batch(spark, a(2)), root)) + ("batch" -> a(2))
          case "upsert" =>
            wrote(M.upsertByKeyMergeOnRead(spark, root, batch(spark, a(2)), Seq("k"))._3) +
              ("batch" -> a(2))
          case "delete" =>
            wrote(M.deleteWhereMergeOnRead(spark, root, range(a(2), a(3)))._3) +
              ("lo" -> a(2).toLong, "hi" -> a(3).toLong)
          case "read_point" =>
            val f = Seq(EqualTo("k", a(2).toLong))
            timedRead(spark, f, M.readWhere(spark, root, f)) ++
              Map("version" -> latest, "lo" -> a(2).toLong, "hi" -> (a(2).toLong + 1))
          case "read_range" =>
            val f = range(a(2), a(3))
            timedRead(spark, f, M.readWhere(spark, root, f)) ++
              Map("version" -> latest, "lo" -> a(2).toLong, "hi" -> a(3).toLong)
          case "read_version" =>
            val window = math.min(KeepVersions.toLong, latest - baseVersion + 1)
            val v = latest - (a(2).toDouble * window).toLong
            val f = range(a(3), a(4))
            timedRead(spark, f, M.readVersion(spark, root, v, f)) ++
              Map("version" -> v, "back" -> (latest - v), "lo" -> a(3).toLong, "hi" -> a(4).toLong)
          case "compact" =>
            wrote(M.compact(spark, root, targetFileBytes = 512L << 10)._3)
          case "vacuum" =>
            Map("dirs_removed" -> M.vacuum(spark, root, keepVersions = KeepVersions, minAgeMs = 0L))
        }
      }
    }

  /** (rows, sum of k, sum of whole quantities, sum of price in cents). */
  private def fingerprint(rows: Iterable[Row]): Seq[Long] = {
    val fp = Array(0L, 0L, 0L, 0L)
    rows.foreach { r =>
      fp(0) += 1
      fp(1) += r.getAs[Long]("k")
      fp(2) += r.getAs[Double]("l_quantity").toLong
      fp(3) += math.round(r.getAs[Double]("l_extendedprice") * 100)
    }
    fp.toSeq
  }

  override def after(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = {
    val t0 = System.nanoTime()
    if (current != null) rec("fingerprint") = fingerprint(current)
    current = null
    rec("check_s") = (System.nanoTime() - t0) / 1e9
  }

  private def treeBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  override def afterPass(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = {
    val snap = M.latestSnapshot(spark, root).get
    val mdir = new org.apache.hadoop.fs.Path(s"$root/_manifests")
    val fs = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rec ++= Seq("live_files" -> snap.files.size,
      "log_versions" -> fs.listStatus(mdir).count(_.getPath.getName.matches("v\\d{20}\\.manifest")))
  }

  override def summary(spark: SparkSession): Map[String, Any] = {
    val table = M.read(spark, root)
    val fresh = s"${o.work}/table_rw_fresh"
    table.coalesce(1).write.mode("overwrite").parquet(fresh)
    Map("base_version" -> baseVersion, "final_version" -> latest,
      "final_fingerprint" -> fingerprint(table.collect()),
      "table_bytes" -> treeBytes(spark, root), "fresh_bytes" -> treeBytes(spark, fresh))
  }
}
