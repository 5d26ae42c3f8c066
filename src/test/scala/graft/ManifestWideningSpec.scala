package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{ManifestLog, ManifestStore}

/** `ALTER COLUMN ... TYPE` widening (r15, VERDICT r14 #2): one
  * metadata-only schema commit — old files keep their narrow physical
  * type and read under parquet's NATIVE type promotion (vectorized and
  * row-based, probed on Spark 4.1), new batches arrive wide, stats
  * pruning survives in the canonical stats domain, time travel replays
  * old versions under their own narrower schema, and narrowing refuses.
  */
class ManifestWideningSpec extends SparkSpec {

  import SharedSpark.spark.implicits._

  private val M = ManifestStore

  private def freshRoot() =
    java.nio.file.Files.createTempDirectory("graft-widen").toString

  test("int→long widen: old files read under promotion, wide appends land, time travel keeps the old type") {
    val root = freshRoot()
    M.append(spark, (0 until 100).map(i => (i.toLong, i * 2))
      .toDF("id", "v").repartitionByRange(4, col("id")), root)
    val v1 = M.latestSnapshot(spark, root).get
    assert(v1.schema.get("v").dataType == IntegerType)
    val v2 = M.alterColumnType(spark, root, "v", LongType)
    val snap = M.latestSnapshot(spark, root).get
    assert(v2 == 2L && snap.op == "widen-column")
    assert(snap.files == v1.files, "widen must be metadata-only")
    assert(snap.schema.get("v").dataType == LongType)
    // a narrow-typed append now refuses (cast first)
    intercept[IllegalArgumentException] {
      M.append(spark, Seq((200L, 1)).toDF("id", "v"), root)
    }
    // a wide append lands, with values past Int range
    M.append(spark, Seq((200L, 3000000000L), (201L, -3000000000L))
      .toDF("id", "v"), root)
    val df = M.read(spark, root)
    assert(df.schema("v").dataType == LongType)
    assert(df.count() == 102L)
    assert(df.where(col("id") < 100).agg(sum("v")).as[Long].head() ==
      (0L until 100L).map(_ * 2).sum, "old files must read exact under promotion")
    assert(df.where(col("v") > 2500000000L).select("id").as[Long]
      .collect().toSeq == Seq(200L))
    // time travel replays v1 under its OWN (int) schema
    val old = M.readVersion(spark, root, 1L)
    assert(old.schema("v").dataType == IntegerType && old.count() == 100L)
    // format read (planner path) agrees
    val fmt = spark.read.format("graft-manifest").load(root)
    assert(fmt.schema("v").dataType == LongType)
    assert(fmt.agg(sum("v")).as[Long].head() == df.agg(sum("v")).as[Long].head())
  }

  test("stats pruning still bites on the widened column (integral domain unchanged)") {
    val root = freshRoot()
    M.append(spark, (0 until 10000).map(i => (i.toLong, i))
      .toDF("id", "v").repartitionByRange(8, col("v"))
      .sortWithinPartitions("v"), root)
    M.alterColumnType(spark, root, "v", LongType)
    val snap = M.latestSnapshot(spark, root).get
    val kept = M.prunedEntries(snap,
      Seq(org.apache.spark.sql.sources.GreaterThan("v", 9000L)))
    assert(kept.nonEmpty && kept.size < snap.files.size,
      s"widened-column filter must still prune: ${kept.size}/${snap.files.size}")
    assert(M.readWhere(spark, root,
      Seq(org.apache.spark.sql.sources.GreaterThan("v", 9000L))).count() == 999L)
  }

  test("float→double widen; int→double crosses stats domains conservatively") {
    val root = freshRoot()
    M.append(spark, (0 until 50).map(i => (i.toLong, i.toFloat / 2, i))
      .toDF("id", "f", "n"), root)
    M.alterColumnType(spark, root, "f", DoubleType)
    M.alterColumnType(spark, root, "n", DoubleType)
    val df = M.read(spark, root)
    assert(df.schema("f").dataType == DoubleType)
    assert(df.schema("n").dataType == DoubleType)
    assert(df.agg(sum("f")).as[Double].head() == (0 until 50).map(_.toDouble / 2).sum)
    assert(df.agg(sum("n")).as[Double].head() == (0 until 50).sum.toDouble)
    // cross-domain stats (long-tagged file vs double literal) keep the
    // file rather than prune wrongly — the READ is still exact
    assert(df.where(col("n") > 48.5).count() == 1L)
  }

  test("refusals: narrowing, lossy long→double, decimal, partition column, unknown column") {
    val root = freshRoot()
    M.append(spark, (0 until 10).map(i => (i.toLong, i, s"g${i % 2}"))
      .toDF("id", "v", "grp"), root)
    def refuse(col: String, t: DataType, needle: String): Unit = {
      val e = intercept[Exception] { M.alterColumnType(spark, root, col, t) }
      assert(e.getMessage.contains(needle), s"$col->$t: ${e.getMessage}")
    }
    refuse("id", IntegerType, "lossless widenings")   // narrowing
    refuse("id", DoubleType, "lossless widenings")    // lossy past 2^53
    refuse("v", DecimalType(20, 2), "lossless widenings")
    refuse("grp", LongType, "lossless widenings")     // string→long
    refuse("nope", LongType, "no column 'nope'")
    val rootP = freshRoot(); new java.io.File(rootP).delete()
    M.append(spark, (0 until 10).map(i => (i.toLong, i))
      .toDF("id", "p"), rootP, partitionBy = Seq("p"))
    val e = intercept[Exception] { M.alterColumnType(spark, rootP, "p", LongType) }
    assert(e.getMessage.contains("partition column"), e.getMessage)
  }

  test("widen composes with column mapping and survives cold resolution; MoR DML works on the widened table") {
    val root = freshRoot()
    M.append(spark, (0 until 40).map(i => (i.toLong, i))
      .toDF("id", "v").repartitionByRange(4, col("id")), root)
    M.renameColumn(spark, root, "v", "val") // mapped: val -> v
    M.alterColumnType(spark, root, "val", LongType)
    ManifestLog.clearCachesForTest()
    val snap = M.latestSnapshot(spark, root).get
    assert(snap.schema.get("val").dataType == LongType,
      "the widened type must survive cold delta-chain resolution")
    assert(snap.colMap == Map("val" -> "v"))
    val df = M.read(spark, root)
    assert(df.schema("val").dataType == LongType)
    assert(df.agg(sum("val")).as[Long].head() == (0L until 40L).sum)
    // MoR update touches the widened, mapped column
    M.updateMorExpr(spark, root, M.latestSnapshot(spark, root).get,
      pruning = Seq.empty, cond = col("id") === 5L,
      set = Map("val" -> lit(5000000000L)))
    assert(M.read(spark, root).where(col("id") === 5L)
      .select("val").as[Long].head() == 5000000000L)
    // compaction MATERIALIZES the wide type into rewritten files
    M.compact(spark, root)
    val after = M.read(spark, root)
    assert(after.schema("val").dataType == LongType)
    assert(after.where(col("id") === 5L).select("val").as[Long].head() == 5000000000L)
  }

  test("SQL: ALTER COLUMN TYPE widens manifest AND catalog; non-manifest tables flow to Spark") {
    val root = freshRoot()
    new java.io.File(root).delete()
    M.append(spark, (0 until 20).map(i => (i.toLong, i)).toDF("id", "v"), root)
    spark.sql("DROP TABLE IF EXISTS widen_t")
    spark.sql(s"CREATE TABLE widen_t USING `graft-manifest` OPTIONS (path '$root')")
    spark.sql("ALTER TABLE widen_t ALTER COLUMN v TYPE BIGINT")
    assert(spark.table("widen_t").schema("v").dataType == LongType)
    assert(spark.sql("SELECT sum(v) FROM widen_t").as[Long].head() == (0 until 20).sum.toLong)
    spark.sql("INSERT INTO widen_t VALUES (100, 4000000000)")
    assert(spark.sql("SELECT count(*) FROM widen_t WHERE v > 3000000000").as[Long].head() == 1L)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE widen_t ALTER COLUMN v TYPE INT")
    }
    assert(e.getMessage.contains("lossless widenings"), e.getMessage)
    spark.sql("DROP TABLE IF EXISTS widen_t")
  }
}
