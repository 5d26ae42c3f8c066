package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** The distributed mechanics behind [[ManifestStore.buildBloomIndex]] /
  * bloom-consulting reads (r15, VERDICT r14 #6): per-file Bloom filters
  * as manifest-registered parquet sidecars, the point-lookup pruning
  * tier z-order layout can't provide on non-clustered ids.
  *
  * Scale posture, stated up front:
  *  - BUILD is one pass over the UNCOVERED files only (incremental —
  *    already-sidecar'd files are never re-read): each task folds its
  *    partition's rows into per-(file, column) filters, partial filters
  *    merge by OR (a shuffle of filter BYTES, never rows), and the
  *    sidecar lands as ordinary parquet under `data/` so vacuum's
  *    batch-directory walk governs its lifetime.
  *  - CONSULT is a distributed job over sidecar BYTES with the queried
  *    columns pushed down — executors deserialize each filter and test
  *    the literal values; only (file, column) EXCLUSION pairs return to
  *    the driver, bounded by the candidate file count (the same order as
  *    the Snapshot the driver already holds), never by filter bytes.
  *    Files without a covering sidecar row are kept — conservative.
  *  - Deleted (dv) rows stay in their file's filter: false positives
  *    only, never a wrongly-pruned file.
  */
private[sources] object ManifestBloom {

  /** Manifest entry paths are `Path.toString` ("file:/x"); the scan's
    * `_metadata.file_path` is a full URI ("file:///x") — compare
    * scheme/authority-stripped, the vacuum lesson.
    */
  def strip(p: String): String =
    Path.getPathWithoutSchemeAndAuthority(new Path(p)).toString

  private val sidecarSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("items", LongType, nullable = false),
    StructField("bits", BinaryType, nullable = false)))

  /** Column types a Bloom equality lookup makes sense for, with ONE
    * canonical hashed representation each so the filter survives type
    * widening (int→long files hash identically — the stats canonical-
    * domain discipline): integrals hash as Long, strings as String.
    */
  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private def canonicalValue(v: Any): Option[Either[Long, String]] = v match {
    case b: Byte => Some(Left(b.toLong))
    case s: Short => Some(Left(s.toLong))
    case i: Int => Some(Left(i.toLong))
    case l: Long => Some(Left(l))
    case s: String => Some(Right(s))
    case _ => None
  }

  /** Build filters for `entries` (all uncovered) over physical columns
    * `physCols` and write the sidecar parquet to `outDir`. `physSchema`
    * is the CURRENT physical data schema (old narrower files read under
    * parquet native promotion, matching the canonical Long hashing).
    */
  def buildSidecar(spark: SparkSession, entries: Seq[ManifestStore.ManifestEntry],
                   physSchema: StructType, physCols: Seq[String], fpp: Double,
                   outDir: String): Unit = {
    val m = physCols.size
    val readSchema = StructType(physCols.map(c => physSchema(c)))
    val isLong = physCols.map(c => physSchema(c).dataType != StringType)
    val df = spark.read.schema(readSchema).parquet(entries.map(_.path): _*)
      .select(col("_metadata.file_path").as("__f") +:
        physCols.zipWithIndex.map { case (c, i) =>
          val q = col(s"`$c`")
          (if (isLong(i)) q.cast(LongType) else q).as(s"__c$i")
        }: _*)
    val expect = spark.sparkContext.broadcast(
      entries.map(e => strip(e.path) -> math.max(1L, e.rows))
        .toMap)
    val partials = df.queryExecution.toRdd.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap.empty[String, Array[BloomFilter]]
      rows.foreach { r =>
        val f = strip(r.getUTF8String(0).toString)
        val bs = acc.getOrElseUpdate(f,
          Array.fill(m)(BloomFilter.create(expect.value(f), fpp)))
        var i = 0
        while (i < m) {
          if (!r.isNullAt(i + 1)) {
            if (isLong(i)) bs(i).putLong(r.getLong(i + 1))
            else bs(i).putString(r.getUTF8String(i + 1).toString)
          }
          i += 1
        }
      }
      acc.iterator
    }
    val colsB = spark.sparkContext.broadcast(physCols)
    val sidecarRows = partials
      .reduceByKey { (a, b) =>
        var i = 0
        while (i < a.length) { a(i).mergeInPlace(b(i)); i += 1 }
        a
      }
      .flatMap { case (f, bs) =>
        colsB.value.zipWithIndex.map { case (c, i) =>
          val bos = new java.io.ByteArrayOutputStream()
          bs(i).writeTo(bos)
          Row(f, c, expect.value(f), bos.toByteArray)
        }
      }
    spark.createDataFrame(sidecarRows, sidecarSchema)
      .write.mode(SaveMode.ErrorIfExists).parquet(outDir)
  }

  private def sidecar(spark: SparkSession, root: String,
                      dirs: Seq[String]): DataFrame =
    spark.read.schema(sidecarSchema)
      .parquet(dirs.map(d => s"$root/data/$d"): _*)

  /** The stripped file paths already covered by the sidecar dirs — one
    * column-pruned scan of sidecar metadata, rows proportional to
    * files × indexed columns.
    */
  def coveredFiles(spark: SparkSession, root: String,
                   dirs: Seq[String]): Set[String] =
    if (dirs.isEmpty) Set.empty
    else sidecar(spark, root, dirs).select("file").distinct()
      .collect().map(_.getString(0)).toSet

  /** Per-column equality value sets a conjunctive filter list implies —
    * the shapes a Bloom can refute. Only TOP-LEVEL conjuncts count (an
    * `Or` can only be used when BOTH sides constrain the same column):
    * a row matching the query must satisfy every returned (column →
    * one-of-values) constraint, so a file whose filter refutes every
    * value of any constrained column cannot hold a matching row.
    */
  def equalityValues(filters: Seq[Filter],
                     bloomCols: Set[String]): Map[String, Seq[Any]] = {
    def of(f: Filter): Seq[(String, Seq[Any])] = f match {
      case EqualTo(c, v) if bloomCols(c) && v != null => Seq(c -> Seq(v))
      case EqualNullSafe(c, v) if bloomCols(c) && v != null => Seq(c -> Seq(v))
      case In(c, vs) if bloomCols(c) && vs != null && vs.nonEmpty &&
          !vs.contains(null) => Seq(c -> vs.toSeq)
      case And(l, r) => of(l) ++ of(r)
      case Or(l, r) =>
        (of(l), of(r)) match { // both sides must constrain the same column
          case (Seq((cl, vl)), Seq((cr, vr))) if cl == cr =>
            Seq(cl -> (vl ++ vr).distinct)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    filters.flatMap(of)
      .groupBy(_._1)
      // two conjuncts on one column: a matching row satisfies BOTH, so the
      // file must might-contain a value of EACH set — keep the smaller set
      // (testing one set is sufficient for pruning soundness)
      .map { case (c, sets) => c -> sets.map(_._2).minBy(_.size) }
  }

  /** (strippedFile, column) pairs whose Bloom filter REFUTES every value
    * of that column's query set — the prune list. Distributed: filter
    * bytes never reach the driver. Values are canonicalized exactly as
    * [[buildSidecar]] hashed them; a value outside the canonical domain
    * keeps the file (conservative).
    */
  def excludedPairs(spark: SparkSession, root: String, dirs: Seq[String],
                    queried: Map[String, Seq[Any]]): Set[(String, String)] = {
    val canon: Map[String, Seq[Either[Long, String]]] =
      queried.flatMap { case (c, vs) =>
        val cs = vs.flatMap(canonicalValue)
        // any non-canonicalizable value makes the set unrefutable
        if (cs.size == vs.size) Some(c -> cs) else None
      }
    if (canon.isEmpty) return Set.empty
    val qB = spark.sparkContext.broadcast(canon)
    sidecar(spark, root, dirs)
      .where(col("column").isin(canon.keys.toSeq: _*))
      .select("file", "column", "bits")
      .rdd.mapPartitions { rows =>
        rows.flatMap { r =>
          val c = r.getString(1)
          qB.value.get(c).flatMap { vs =>
            val bf = BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](2)))
            val mightMatch = vs.exists {
              case Left(l) => bf.mightContainLong(l)
              case Right(s) => bf.mightContainString(s)
            }
            if (mightMatch) None else Some((r.getString(0), c))
          }
        }
      }.collect().toSet
  }
}
