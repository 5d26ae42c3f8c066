package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DvBitmap

/** Compressed deletion bitmaps (r12): the scan-side replacement for the
  * r11 (fkey, pos) anti-join. Pure-kernel tests here; the storage/read
  * integration lives in ManifestStoreSpec, the zero-exchange plan pin in
  * PlanSpec.
  */
class DvBitmapSpec extends SparkSpec {

  private def check(ps: Array[Long]): Unit = {
    val bm = DvBitmap.build(ps)
    val set = ps.toSet
    assert(bm.cardinality == set.size.toLong)
    for (p <- set) assert(bm.contains(p), s"missing $p")
    // absent positions around each present one
    for (p <- set.take(1000); q <- Seq(p - 1, p + 1) if !set(q) && q >= 0)
      assert(!bm.contains(q), s"false positive $q")
    assert(bm.positions.toSeq == set.toSeq.sorted)
    val back = DvBitmap.deserialize(bm.serialize)
    assert(back.cardinality == bm.cardinality)
    assert(back.positions.toSeq == bm.positions.toSeq)
  }

  test("sparse chunks (array containers) round-trip") {
    check(Array(0L, 1L, 65535L, 65536L, 131071L, 1000000L, (1L << 33) + 7L))
  }

  test("dense chunk crosses into a bitset container") {
    // 10k positions inside one 65536 chunk → bitset (array caps at 4096)
    val rnd = new scala.util.Random(7)
    check(Array.fill(10000)(rnd.nextInt(65536).toLong))
    // and a mixed bitmap: one dense + one sparse chunk
    check(Array.tabulate(5000)(i => (i * 13 % 65536).toLong) ++
      Array(70000L, 80000L, 1L << 20))
  }

  test("duplicates collapse; empty bitmap behaves") {
    val bm = DvBitmap.build(Array(5L, 5L, 5L, 9L))
    assert(bm.cardinality == 2L && bm.contains(5L) && !bm.contains(6L))
    val empty = DvBitmap.build(Array.empty[Long])
    assert(empty.cardinality == 0L && !empty.contains(0L))
    assert(DvBitmap.deserialize(empty.serialize).cardinality == 0L)
  }

  test("union merges disjoint and overlapping sets") {
    val a = DvBitmap.build(Array(1L, 3L, 70000L))
    val b = DvBitmap.build(Array(2L, 3L, 80000L, 1L << 22))
    val u = DvBitmap.union(a, b)
    assert(u.positions.toSeq == Seq(1L, 2L, 3L, 70000L, 80000L, 1L << 22))
  }

  test("randomized parity against a reference set (dense + sparse mix)") {
    val rnd = new scala.util.Random(42)
    val ps = Array.fill(50000)(math.abs(rnd.nextLong()) % 3000000L)
    check(ps)
    // split → union == whole
    val (l, r) = ps.splitAt(ps.length / 2)
    val u = DvBitmap.union(DvBitmap.build(l), DvBitmap.build(r))
    assert(u.positions.toSeq == ps.toSet.toSeq.sorted)
  }

  test("deleted() hook: per-file keying, absent files never deleted") {
    val m = Map(
      UTF8String.fromString("file:/a.parquet") -> DvBitmap.build(Array(7L)))
    assert(DvBitmap.deleted(m, UTF8String.fromString("file:/a.parquet"), 7L))
    assert(!DvBitmap.deleted(m, UTF8String.fromString("file:/a.parquet"), 8L))
    assert(!DvBitmap.deleted(m, UTF8String.fromString("file:/b.parquet"), 7L))
  }

  /** Three on-disk inputs of the same vectors must load identically, on
    * the driver, with no Spark job: the tree the r12-r16 Spark writer
    * left (`fk=` leaves, `_SUCCESS`, `.crc` side files), passed as files
    * and as its directory; files from the task-side [[DvBitmap.writeFile]];
    * and legacy (fkey, pos) rows. Fragments of one fkey union across
    * formats.
    */
  test("loadBitmaps reads both the bitmap format and the legacy (fkey,pos) rows") {
    import SharedSpark.spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-dvload").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(conf)
    val rnd = new scala.util.Random(11)
    val want: Map[String, Array[Long]] = Map(
      "k1" -> Array(3L, 9L, 100000L),
      "k2" -> Array(0L),
      // dense: one bitset container plus a sparse one
      "k3" -> (Array.fill(6000)(rnd.nextInt(65536).toLong) :+ (1L << 20)))
    val bms = want.map { case (k, ps) => k -> DvBitmap.build(ps) }
    // the Spark writer's tree: one fk= leaf per vector
    bms.toSeq.map { case (k, bm) => (k, bm.serialize, bm.cardinality) }
      .toDF("fkey", "bitmap", "n").withColumn("fk", col("fkey"))
      .repartition(col("fk")).write.option("maxRecordsPerFile", "0")
      .partitionBy("fk").parquet(s"$dir/spark")
    assert(fs.exists(new Path(s"$dir/spark/_SUCCESS")))
    val sparkFiles = bms.keys.toSeq.flatMap(k =>
      fs.listStatus(new Path(s"$dir/spark/fk=$k")).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")))
    // the checksum side files a checksummed local filesystem leaves beside
    // each part file (the shared SparkSession's filesystem writes none): not parquet,
    // so reading one would fail
    sparkFiles.foreach { f =>
      val crc = new Path(f.getParent, s".${f.getName}.crc")
      if (!fs.exists(crc)) { val o = fs.create(crc); o.write(Array[Byte](1, 2, 3)); o.close() }
    }
    // the task-side writer
    val taskFiles = bms.toSeq.map { case (k, bm) =>
      val f = new Path(s"$dir/task/fk=$k", "part-0.parquet")
      DvBitmap.writeFile(conf, f, k, bm)
      f.toString
    }
    // legacy interchange format: one row per position
    want.toSeq.flatMap { case (k, ps) => ps.map(k -> _) }.toDF("fkey", "pos")
      .coalesce(1).write.parquet(s"$dir/legacy")

    def loaded(paths: Seq[String]): Map[String, Seq[Long]] = {
      val (m, jobs) = org.apache.spark.JobsOf(spark.sparkContext)(
        DvBitmap.loadBitmaps(spark, paths))
      assert(jobs.isEmpty, s"loadBitmaps started ${jobs.size} Spark job(s) for $paths")
      m.map { case (k, bm) => k -> bm.positions.toSeq }
    }
    val expected = want.map { case (k, ps) => k -> ps.distinct.sorted.toSeq }
    assert(loaded(sparkFiles.map(_.toString)) == expected)
    assert(loaded(Seq(s"$dir/spark")) == expected)
    assert(loaded(taskFiles) == expected)
    assert(loaded(Seq(s"$dir/task")) == expected)
    assert(loaded(Seq(s"$dir/legacy")) == expected)
    assert(loaded(Seq.empty).isEmpty)
    // the task-side file keeps the Spark writer's columns and types
    assert(spark.read.parquet(taskFiles.head).schema ==
      spark.read.parquet(sparkFiles.head.toString).schema)
    // k1 fragments union across formats
    val extra = DvBitmap.build(Array(7L, 100000L))
    val extraFile = new Path(s"$dir/extra", "part-0.parquet")
    DvBitmap.writeFile(conf, extraFile, "k1", extra)
    assert(loaded(Seq(s"$dir/legacy", extraFile.toString))("k1") == Seq(3L, 7L, 9L, 100000L))
  }
}
