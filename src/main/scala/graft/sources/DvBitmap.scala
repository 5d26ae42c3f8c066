package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Compressed per-file deletion bitmap (r12) — the scan-side answer to the
  * merge-on-read read-path broadcast cliff (VERDICT r11 #1).
  *
  * The r11 dv format stored one (fkey, pos) parquet ROW per deleted row
  * (~40 bytes each) and every read applied it as a `left_anti` join: past
  * `autoBroadcastJoinThreshold` (~250k accumulated deletes at default
  * config) that join silently became a full shuffle of the ENTIRE data
  * scan on a 32-char string key — the exact rewrite cost MoR exists to
  * avoid, paid on every read. This class stores the deleted POSITIONS of
  * one data file as a roaring-style bitmap (the public design: Chambi,
  * Kaser, Lemire et al., "Better bitmap performance with Roaring
  * bitmaps"): positions are split into 2^16-row chunks keyed on
  * `pos >>> 16`; a chunk holds either a sorted array of its low 16 bits
  * (2 bytes/position while sparse, < 4096 entries) or a packed 8 KiB
  * bitset (dense — the worst case is ~2 bits per ROW OF THE FILE, never
  * per deleted row). Reads broadcast `Map[file path → DvBitmap]` and
  * filter the scan with a native predicate on
  * (`_metadata.file_path`, `_metadata.row_index`) — see
  * [[graft.plans.DvDeleted]] — so a dv-carrying read plans ZERO extra
  * exchanges regardless of accumulated deletes.
  *
  * Instances are immutable and `Serializable` (primitive arrays only —
  * broadcast-friendly); [[serialize]]/[[DvBitmap.deserialize]] is the
  * explicit storage codec for the dv parquet's `bitmap` column;
  * [[DvBitmap.writeFile]] lands one `(fkey, bitmap, n)` file from an
  * executor task and [[DvBitmap.loadBitmaps]] reads files back on the
  * driver — neither starts a Spark job. The r11 (fkey, pos) row format
  * stays readable: r11 tables record a schema and per-file row counts,
  * so they are still supported, and their dv files use that format.
  */
final class DvBitmap private[sources] (
    private val keys: Array[Long],    // sorted chunk keys (pos >>> 16)
    private val kinds: Array[Byte],   // DvBitmap.KindArray | KindBitset
    private val offsets: Array[Int],  // payload start in `data` per chunk
    private val counts: Array[Int],   // positions per chunk
    private val data: Array[Byte]) extends Serializable {

  import DvBitmap._

  def cardinality: Long = {
    var s = 0L
    var i = 0
    while (i < counts.length) { s += counts(i); i += 1 }
    s
  }

  def contains(pos: Long): Boolean = {
    if (pos < 0) return false
    val key = pos >>> 16
    var lo = 0
    var hi = keys.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = keys(mid)
      if (k == key) return containsIn(mid, (pos & 0xFFFFL).toInt)
      else if (k < key) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  private def containsIn(chunk: Int, low: Int): Boolean = kinds(chunk) match {
    case KindBitset =>
      val off = offsets(chunk) + (low >>> 3)
      (data(off) & (1 << (low & 7))) != 0
    case _ => // sorted 2-byte low-16 values
      val base = offsets(chunk)
      var lo = 0
      var hi = counts(chunk) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val v = ((data(base + 2 * mid) & 0xFF) << 8) | (data(base + 2 * mid + 1) & 0xFF)
        if (v == low) return true
        else if (v < low) lo = mid + 1
        else hi = mid - 1
      }
      false
  }

  /** Ascending iterator over the deleted positions — the read-back path a
    * change feed uses to turn dv growth into exact deleted rows.
    */
  def positions: Iterator[Long] = (0 until keys.length).iterator.flatMap { c =>
    val hi = keys(c) << 16
    kinds(c) match {
      case KindBitset =>
        val base = offsets(c)
        (0 until 65536).iterator
          .filter(low => (data(base + (low >>> 3)) & (1 << (low & 7))) != 0)
          .map(low => hi | low)
      case _ =>
        val base = offsets(c)
        (0 until counts(c)).iterator.map { i =>
          hi | (((data(base + 2 * i) & 0xFF) << 8) | (data(base + 2 * i + 1) & 0xFF))
        }
    }
  }

  /** Storage codec: magic + version + container directory + payloads. */
  def serialize: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(16 + keys.length * 17 + data.length)
    val d = new java.io.DataOutputStream(out)
    d.writeInt(Magic)
    d.writeInt(keys.length)
    var i = 0
    while (i < keys.length) {
      d.writeLong(keys(i))
      d.writeByte(kinds(i))
      d.writeInt(counts(i))
      i += 1
    }
    d.write(data)
    d.flush()
    out.toByteArray
  }
}

object DvBitmap {

  private val Magic = 0x47445631 // "GDV1"
  private[sources] val KindArray: Byte = 0
  private[sources] val KindBitset: Byte = 1
  /** An array container past this many entries costs more than the 8 KiB
    * bitset (4096 * 2 bytes) — the roaring threshold.
    */
  private val ArrayMax = 4096

  /** Bitmap of `positions` (any order, duplicates collapse). */
  def build(positions: Array[Long]): DvBitmap = {
    val ps = positions.clone()
    java.util.Arrays.sort(ps)
    fromSorted(new Iterator[Long] {
      private var i = 0
      override def hasNext: Boolean = i < ps.length
      override def next(): Long = { val v = ps(i); i += 1; v }
    })
  }

  /** a ∪ b — merge-on-read deletes accrue by union (new positions are
    * computed over LIVE rows, so they are disjoint from old ones, but the
    * union is correct either way).
    */
  def union(a: DvBitmap, b: DvBitmap): DvBitmap = {
    val ai = a.positions.buffered
    val bi = b.positions.buffered
    fromSorted(new Iterator[Long] {
      override def hasNext: Boolean = ai.hasNext || bi.hasNext
      override def next(): Long =
        if (!bi.hasNext) ai.next()
        else if (!ai.hasNext) bi.next()
        else {
          val av = ai.head; val bv = bi.head
          if (av < bv) ai.next()
          else if (bv < av) bi.next()
          else { ai.next(); bi.next() }
        }
    })
  }

  /** a \ b — the positions deleted in `a` but not in `b`: the EXACT rows a
    * dv-growth step removed, which is what a change feed emits as deletes
    * (new vector minus old vector).
    */
  def diff(a: DvBitmap, b: DvBitmap): DvBitmap =
    fromSorted(a.positions.filterNot(b.contains))

  /** Build from an ASCENDING (possibly duplicated) position stream —
    * single pass, one container materialized at a time.
    */
  private def fromSorted(it: Iterator[Long]): DvBitmap = {
    val keys = Array.newBuilder[Long]
    val kinds = Array.newBuilder[Byte]
    val offsets = Array.newBuilder[Int]
    val counts = Array.newBuilder[Int]
    val data = new java.io.ByteArrayOutputStream()
    val lows = new Array[Int](65536)
    var nLow = 0
    var curKey = -1L
    var lastPos = -1L

    def flush(): Unit = if (curKey >= 0 && nLow > 0) {
      keys += curKey
      counts += nLow
      offsets += data.size()
      if (nLow <= ArrayMax) {
        kinds += KindArray
        var i = 0
        while (i < nLow) {
          data.write((lows(i) >>> 8) & 0xFF)
          data.write(lows(i) & 0xFF)
          i += 1
        }
      } else {
        kinds += KindBitset
        val bits = new Array[Byte](8192)
        var i = 0
        while (i < nLow) {
          val low = lows(i)
          bits(low >>> 3) = (bits(low >>> 3) | (1 << (low & 7))).toByte
          i += 1
        }
        data.write(bits)
      }
      nLow = 0
    }

    while (it.hasNext) {
      val pos = it.next()
      require(pos >= 0, s"negative row position: $pos")
      if (pos != lastPos) {
        lastPos = pos
        val key = pos >>> 16
        if (key != curKey) { flush(); curKey = key }
        lows(nLow) = (pos & 0xFFFFL).toInt
        nLow += 1
      }
    }
    flush()
    new DvBitmap(keys.result(), kinds.result(), offsets.result(),
      counts.result(), data.toByteArray)
  }

  def deserialize(bytes: Array[Byte]): DvBitmap = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    require(in.readInt() == Magic, "not a graft deletion-vector bitmap")
    val n = in.readInt()
    val keys = new Array[Long](n)
    val kinds = new Array[Byte](n)
    val offsets = new Array[Int](n)
    val counts = new Array[Int](n)
    var off = 0
    var i = 0
    while (i < n) {
      keys(i) = in.readLong()
      kinds(i) = in.readByte()
      counts(i) = in.readInt()
      offsets(i) = off
      off += (if (kinds(i) == KindBitset) 8192 else 2 * counts(i))
      i += 1
    }
    val data = new Array[Byte](off)
    in.readFully(data)
    new DvBitmap(keys, kinds, offsets, counts, data)
  }

  /** Codegen/eval hook of [[graft.plans.DvDeleted]]: is (file, pos) a
    * deleted row? Files without a vector are never deleted.
    */
  def deleted(bitmaps: Map[UTF8String, DvBitmap], file: UTF8String, pos: Long): Boolean =
    bitmaps.get(file) match {
      case Some(bm) => bm.contains(pos)
      case None => false
    }

  /** The dv file columns: `fkey` string, `bitmap` binary, `n` long — the
    * layout the r12 Spark writer produced, so every dv file reads alike.
    */
  private val FileSchema: MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
    Types.buildMessage()
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("fkey")
      .optional(BINARY).named("bitmap")
      .required(INT64).named("n")
      .named("spark_schema")
  }

  // parquet's example Group writer would do, but it stores its schema into
  // the Configuration it is given — here the session's shared one
  private final class FileWriteSupport extends WriteSupport[(String, DvBitmap)] {
    private var out: RecordConsumer = _
    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(FileSchema, java.util.Collections.emptyMap())
    override def prepareForWrite(rc: RecordConsumer): Unit = out = rc
    override def write(r: (String, DvBitmap)): Unit = {
      out.startMessage()
      out.startField("fkey", 0); out.addBinary(Binary.fromString(r._1)); out.endField("fkey", 0)
      out.startField("bitmap", 1)
      out.addBinary(Binary.fromConstantByteArray(r._2.serialize))
      out.endField("bitmap", 1)
      out.startField("n", 2); out.addLong(r._2.cardinality); out.endField("n", 2)
      out.endMessage()
    }
  }

  private final class FileWriterBuilder(file: OutputFile)
      extends ParquetWriter.Builder[(String, DvBitmap), FileWriterBuilder](file) {
    override def self(): FileWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[(String, DvBitmap)] =
      new FileWriteSupport
  }

  /** Write `bm` as the one-row dv file `(fkey, bitmap, n)` at `file` —
    * the executor side of a merge-on-read commit: each per-fkey task lands
    * its own kilobyte file, so no bitmap passes through the driver.
    * Refuses to overwrite an existing file.
    */
  def writeFile(conf: Configuration, file: Path, fkey: String, bm: DvBitmap): Unit = {
    val w = new FileWriterBuilder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withWriteMode(ParquetFileWriter.Mode.CREATE)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try w.write((fkey, bm)) finally w.close()
  }

  /** The per-FKEY bitmaps stored under the given dv parquet paths, read
    * on the DRIVER with parquet-hadoop through a bounded pool — dv files
    * are kilobytes and a commit references one per touched data file, so
    * a Spark job (schema merge + collect) would cost far more than the
    * reads. Accepts BOTH dv formats: r12 `(fkey, bitmap, n)` one row per
    * file and the r11 `(fkey, pos)` one row per position (streamed into
    * [[build]]) — r11 tables are still read, so their dv files are too. A directory argument reads every
    * data file beneath it, skipping hidden and `_`-prefixed names
    * (`_SUCCESS`, `.crc`) the way Spark's file index does; several
    * fragments per fkey union. The driver holds only compressed bitmap
    * bytes (~2 bits per deleted row worst-case, vs the ~40 bytes/row the
    * r11 anti-join shipped).
    */
  def loadBitmaps(spark: SparkSession, dvPaths: Seq[String]): Map[String, DvBitmap] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = dvPaths.distinct.flatMap { s =>
      val p = new Path(s)
      dataFiles(p.getFileSystem(conf), p)
    }
    if (files.isEmpty) return Map.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, files.size))
    val frags = try {
      import scala.jdk.CollectionConverters._
      val tasks: Seq[java.util.concurrent.Callable[Seq[(String, DvBitmap)]]] =
        files.map(f => () => readFile(conf, f))
      pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toSeq
    } finally pool.shutdown()
    frags.groupBy(_._1).map { case (fk, fs) => fk -> fs.map(_._2).reduce(union) }
  }

  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")

  /** `p` itself when it is a file, else every non-hidden file beneath it. */
  private def dataFiles(fs: FileSystem, p: Path): Seq[Path] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st.getPath)
    else fs.listStatus(p).toSeq.filterNot(c => hidden(c.getPath.getName))
      .flatMap(c => if (c.isFile) Seq(c.getPath) else dataFiles(fs, c.getPath))
  }

  /** One dv file's fragments: its bitmap rows, plus its `(fkey, pos)` rows
    * built into one bitmap per fkey.
    */
  private def readFile(conf: Configuration, file: Path): Seq[(String, DvBitmap)] = {
    val reader = ParquetReader.builder(new GroupReadSupport(), file).withConf(conf).build()
    val out = Seq.newBuilder[(String, DvBitmap)]
    val positions = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    try {
      var g: Group = reader.read()
      while (g != null) {
        val t = g.getType
        def has(c: String): Boolean = t.containsField(c) && g.getFieldRepetitionCount(c) > 0
        if (has("bitmap"))
          out += g.getString("fkey", 0) -> deserialize(g.getBinary("bitmap", 0).getBytes)
        if (has("pos"))
          positions.getOrElseUpdate(g.getString("fkey", 0),
            new scala.collection.mutable.ArrayBuilder.ofLong) += g.getLong("pos", 0)
        g = reader.read()
      }
    } finally reader.close()
    out ++= positions.map { case (fk, ps) => fk -> build(ps.result()) }
    out.result()
  }
}
