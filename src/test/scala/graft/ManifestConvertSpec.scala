package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import graft.sources.ManifestStore

/** CONVERT TO MANIFEST (r15 — the Delta CONVERT shape): adopt an
  * existing plain-parquet directory in place, zero data movement; from
  * the convert commit on it is a full manifest table (ACID appends,
  * pruning, DML, time travel).
  */
class ManifestConvertSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft-convert").toString

  test("flat directory: adopt in place, stats prune, then live as a normal table") {
    val dir = freshDir()
    (0 until 400).map(i => (i.toLong, s"p-$i")).toDF("id", "payload")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(dir)
    val originals = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val v = ManifestStore.convertParquet(spark, dir)
    assert(v == 1L)
    val snap = ManifestStore.latestSnapshot(spark, dir).get
    assert(snap.op == "convert" && snap.files.size == 4 &&
      snap.files.forall(_.rows == 100L))
    // parity with the plain read
    assert(ManifestStore.read(spark, dir).count() == 400L)
    assert(ManifestStore.read(spark, dir).agg(sum("id")).as[Long].head() ==
      (0L until 400L).sum)
    // zero bytes moved: same files, untouched mtimes
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == originals, "convert must not touch a data byte")
    // harvested stats actually prune (range-sorted layout → tight min/max)
    val kept = ManifestStore.prunedEntries(snap, Seq(GreaterThanOrEqual("id", 350L)))
    assert(kept.size == 1, s"footer stats must prune: ${kept.size} of 4")
    // the table LIVES: append, MoR delete, time travel
    ManifestStore.append(spark, Seq((1000L, "late")).toDF("id", "payload"), dir)
    val (nDel, _, _) = ManifestStore.deleteWhereMergeOnRead(spark, dir,
      Seq(EqualTo("id", 7L)))
    assert(nDel == 1L)
    assert(ManifestStore.read(spark, dir).count() == 400L)
    assert(ManifestStore.readVersion(spark, dir, 1L).count() == 400L,
      "v1 stays the as-converted state")
    // converting an already-converted table refuses
    val e = intercept[IllegalArgumentException] {
      ManifestStore.convertParquet(spark, dir)
    }
    assert(e.getMessage.contains("already holds"), e.getMessage)
  }

  /** Spark infers a parquet directory's schema from ONE footer by
    * default; convert unions every footer, or the committed schema would
    * hide the columns that live only in other files for good.
    */
  test("mixed footers: the committed schema is the union of every file's") {
    val dir = freshDir()
    // two files with DIFFERENT column sets: (id, a) and (id, b)
    Seq((1L, "a1")).toDF("id", "a").coalesce(1).write.mode("overwrite").parquet(dir)
    Seq((2L, "b2")).toDF("id", "b").coalesce(1).write.mode("append").parquet(dir)
    ManifestStore.convertParquet(spark, dir)
    val snap = ManifestStore.latestSnapshot(spark, dir).get
    assert(snap.schema.exists(s => s.fieldNames.contains("a") && s.fieldNames.contains("b")),
      s"convert committed a single-footer schema: ${snap.schema}")
    assert(ManifestStore.read(spark, dir).columns.toSet == Set("id", "a", "b"))
    assert(ManifestStore.read(spark, dir).where(col("id") === 2L)
      .select("b").as[String].collect().toSeq == Seq("b2"))
  }

  test("hive-partitioned directory: typed partition columns, exact partition pruning") {
    val dir = freshDir()
    (0 until 300).map(i => (i.toLong, i % 3, s"v-$i")).toDF("id", "bucket", "payload")
      .write.partitionBy("bucket").mode("overwrite").parquet(dir)
    ManifestStore.convertParquet(spark, dir)
    val snap = ManifestStore.latestSnapshot(spark, dir).get
    assert(snap.partCols == Seq("bucket"))
    assert(snap.schema.get("bucket").dataType ==
      org.apache.spark.sql.types.IntegerType, "inference keeps the typed column")
    assert(snap.files.forall(_.partition.isDefined))
    // partition pruning is exact
    val kept = ManifestStore.prunedEntries(snap, Seq(EqualTo("bucket", 1)))
    assert(kept.nonEmpty && kept.size < snap.files.size &&
      kept.forall(_.partition.exists(_.get("bucket").contains(Some("1")))))
    assert(ManifestStore.readWhere(spark, dir, Seq(EqualTo("bucket", 1)))
      .count() == 100L)
    // the idiomatic format read plans partition pruning too
    val df = spark.read.format("graft-manifest").load(dir)
      .where(col("bucket") === 2)
    assert(df.count() == 100L)
    // dynamic partition overwrite works on the adopted table
    val (replaced, _, _) = ManifestStore.overwriteDynamicPartitions(spark,
      Seq((9999L, "nv", 2)).toDF("id", "payload", "bucket"), dir)
    assert(replaced == 100L)
    assert(ManifestStore.read(spark, dir).where(col("bucket") === 2).count() == 1L)
  }

  test("vacuum reclaims adopted originals once compaction and retention forget them") {
    val dir = freshDir()
    (0 until 200).map(i => (i.toLong, s"p-$i")).toDF("id", "payload")
      .repartition(4).write.mode("overwrite").parquet(dir)
    ManifestStore.convertParquet(spark, dir)
    val adopted = ManifestStore.latestSnapshot(spark, dir).get.files.map(_.path)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def adoptedLeft() = adopted.count(p =>
      fs.exists(new org.apache.hadoop.fs.Path(p)))
    // compaction rewrites the content INTO data/ — originals become
    // history-only references
    ManifestStore.compact(spark, dir)
    assert(ManifestStore.latestSnapshot(spark, dir).get.files
      .forall(_.path.contains("/data/")), "compact migrates into data/")
    // still retained (the convert version resolves) → vacuum keeps them
    ManifestStore.vacuum(spark, dir, keepVersions = 10, minAgeMs = 0L)
    assert(adoptedLeft() == adopted.size,
      "retained history must keep the adopted originals readable")
    // roll past a checkpoint so the convert version leaves retention
    for (i <- 0 until 17)
      ManifestStore.append(spark,
        Seq((10000L + i, s"pad-$i")).toDF("id", "payload").coalesce(1), dir)
    val freed = ManifestStore.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(adoptedLeft() == 0,
      s"forgotten adopted originals must be reclaimed (freed=$freed)")
    // the table is intact
    assert(ManifestStore.read(spark, dir).count() == 200L + 17L)
  }

  test("SQL CONVERT TO MANIFEST; refusals: empty dir, non-hive layout") {
    val dir = freshDir()
    (0 until 50).map(i => (i.toLong, s"s-$i")).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val v = spark.sql(s"CONVERT TO MANIFEST '$dir'").collect().head.getLong(0)
    assert(v == 1L)
    assert(spark.sql(s"DESCRIBE DETAIL '$dir'").collect().head
      .getAs[Long]("num_rows") == 50L)
    // empty directory refuses
    val empty = freshDir()
    val e = intercept[Exception] { ManifestStore.convertParquet(spark, empty) }
    assert(e.getMessage.contains("nothing to convert") ||
      e.getMessage.contains("PATH_NOT_FOUND") ||
      e.getMessage.contains("UNABLE_TO_INFER_SCHEMA"), e.getMessage)
  }
}
