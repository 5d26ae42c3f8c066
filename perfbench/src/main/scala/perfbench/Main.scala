package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one closed-loop client, one JVM.
  *
  * Sets up (several times, so set-up time is a median), runs `--warmup`
  * untimed passes and then `--passes` timed passes over the workload's
  * operations, and writes one JSON file of raw per-operation records to
  * `--out`. With `--trace 1` it also records Spark's listener events (see
  * [[Trace]]).
  * The Python front end (perfbench/run.py) turns the records into metrics
  * and checks the outputs against independent models.
  *
  * Usage: perfbench.Main --workload <catalog|table_rw> --seed <n> --warmup <n>
  *   --passes <n> --trace <0|1> --data <dir> --out <dir> [--queries q1,q2,...]
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jit = ManagementFactory.getCompilationMXBean

  /** Process CPU time less the JIT compiler's time, in ns. The JIT keeps
    * compiling long after the warm-up pass, and how much of that lands in
    * a pass varies from run to run; the engine's own work does not.
    */
  def cpuNs(): Long = os.getProcessCpuTime - jit.getTotalCompilationTime * 1000000L

  def codegen(): (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** (bytes written, write ops, read ops) on the filesystem: bytes from
    * Hadoop's storage statistics, operations from [[CountingFs]].
    */
  def fsStats(): (Long, Long, Long) =
    (org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum,
      CountingFs.writes.get, CountingFs.reads.get)

  /** Used heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  final case class Opts(workload: String, seed: Long, warmup: Int, passes: Int, trace: Boolean,
                        data: String, out: String, queries: Seq[String]) {
    val work: String = s"$out/work"
  }

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("warmup").toInt, kv("passes").toInt,
      kv("trace") == "1",
      kv("data"), kv("out"), kv.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
    val cpus = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(o.work))
    val result = mutable.LinkedHashMap[String, Any]("workload" -> o.workload, "seed" -> o.seed,
      "cpus" -> cpus)
    val loop: Loop = if (o.workload == "table_rw") new TableLoop(o) else new CatalogLoop(o)

    // set-up, repeated: session start, fixture preparation, warm-up probe
    val setup = ArrayBuffer.empty[Double]
    val (cg0, _) = codegen()
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.GraftSession.builder(cpus)
        .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
        .config("spark.local.dir", s"${o.work}/local")
        .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
        .getOrCreate()
      spark = graft.GraftSession.getOrCreate(cpus)
      loop.prepare(spark, rep)
      spark.read.parquet(s"${o.data}/region.parquet").groupBy("r_regionkey").count().collect()
      setup += (System.nanoTime() - t0) / 1e9
    }
    val (cg1, _) = codegen()
    result("setup_s") = setup.toSeq
    result("setup_codegen_s") = (cg1 - cg0) / 1e9

    // Untimed warm-up passes fill the JIT, codegen and index caches; the
    // first captures each output for checking. A traced run then runs the
    // first half of its passes untraced, so that the difference of the
    // halves' pass times is the tracing overhead.
    val trace = if (o.trace) Some(new Trace) else None
    val untraced = if (o.trace) math.max(1, o.passes / 2) else o.passes
    loop.run(spark, o.warmup, traced = false, warmup = true)
    loop.run(spark, untraced, traced = false)
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t.sparkListener)
      spark.listenerManager.register(t.queryListener)
      spark.streams.addListener(t.streamingListener)
      loop.run(spark, math.max(1, o.passes - untraced), traced = true)
    }
    result("ops") = loop.ops.map(_.toMap).toSeq
    result("passes") = loop.passes.map(_.toMap).toSeq
    result ++= loop.summary(spark)
    trace.foreach { t =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      result("trace") = t.toMap
    }
    Files.writeString(Paths.get(s"${o.out}/raw.json"), new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).writeValueAsString(result))
    spark.stop()
  }

  /** One closed-loop workload: a fixed list of operations per pass, in a
    * seed-shuffled order, repeated a fixed number of times, so that every
    * run does the same work whatever the host's speed.
    */
  abstract class Loop(val o: Opts) {
    val ops = ArrayBuffer.empty[mutable.Map[String, Any]]
    val passes = ArrayBuffer.empty[mutable.Map[String, Any]]

    def prepare(spark: SparkSession, rep: Int): Unit
    def summary(spark: SparkSession): Map[String, Any] = Map.empty
    /** The operations of pass `p`, each a name and a body returning the
      * operation's record fields; the body times its own phases.
      */
    def pass(spark: SparkSession, p: Int): Seq[(String, () => Map[String, Any])]
    /** Untimed work after each operation (output capture, cache release). */
    def after(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = ()
    /** Untimed work after each pass. */
    def afterPass(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = ()

    private var p = 0

    /** Runs `n` passes, marking them `traced` and `warmup`. */
    def run(spark: SparkSession, n: Int, traced: Boolean, warmup: Boolean = false): Unit =
      (0 until n).foreach(_ => runPass(spark, traced, warmup))

    private def runPass(spark: SparkSession, traced: Boolean, warmup: Boolean): Unit = {
      val rec = mutable.LinkedHashMap[String, Any]("pass" -> p, "traced" -> traced,
        "warmup" -> warmup, "start_ms" -> System.currentTimeMillis())
      var wall = 0L
      var cpu = 0L
      for ((name, body) <- pass(spark, p)) {
        spark.sparkContext.setJobGroup(s"op-${ops.size}", name)
        val op = mutable.LinkedHashMap[String, Any]("id" -> ops.size, "pass" -> p, "name" -> name)
        val (g0, c0) = codegen()
        val (w0, wo0, ro0) = fsStats()
        op("start_ms") = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val cpu0 = cpuNs()
        try {
          op ++= body()
          op("ok") = true
        } catch {
          case e: Throwable =>
            op("ok") = false
            op("error") = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        }
        val cpu1 = cpuNs()
        val t1 = System.nanoTime()
        op("end_ms") = System.currentTimeMillis()
        val (g1, c1) = codegen()
        val (w1, wo1, ro1) = fsStats()
        op ++= Seq("wall_s" -> (t1 - t0) / 1e9, "cpu_s" -> (cpu1 - cpu0) / 1e9,
          "codegen_s" -> (g1 - g0) / 1e9, "codegen_classes" -> (c1 - c0),
          "fs_bytes_written" -> (w1 - w0), "fs_write_ops" -> (wo1 - wo0),
          "fs_read_ops" -> (ro1 - ro0))
        spark.sparkContext.clearJobGroup()
        wall += t1 - t0
        cpu += cpu1 - cpu0
        ops += op
        after(spark, op)
      }
      rec ++= Seq("end_ms" -> System.currentTimeMillis(), "wall_s" -> wall / 1e9, "cpu_s" -> cpu / 1e9)
      afterPass(spark, rec)
      rec("live_heap_mb") = liveHeapMb()
      passes += rec
      p += 1
    }
  }

  /** Catalog workloads: each operation is one catalog query, built through
    * `QueryDef.run` and fully materialised: to parquet in the first pass,
    * whose results the front end checks against the query's oracle, and
    * through the `noop` sink after that.
    */
  final class CatalogLoop(o: Opts) extends Loop(o) {
    private val defs = o.queries.map(graft.queries.Catalog.byName)

    /** Reads the schema of every input table (perfbench/gen.py's files). */
    def prepare(spark: SparkSession, rep: Int): Unit =
      new java.io.File(o.data).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => spark.read.parquet(f.getPath).schema)

    def pass(spark: SparkSession, p: Int): Seq[(String, () => Map[String, Any])] =
      new scala.util.Random(o.seed * 1000003L + p).shuffle(defs).map { q =>
        q.name -> { () =>
          val t0 = System.nanoTime()
          val df = q.run(spark, o.data)
          val t1 = System.nanoTime()
          if (p == 0) df.write.mode("overwrite").parquet(s"${o.out}/check/${q.name}")
          else df.write.format("noop").mode("overwrite").save()
          Map[String, Any]("build_s" -> (t1 - t0) / 1e9, "exec_s" -> (System.nanoTime() - t1) / 1e9)
        }
      }

    override def after(spark: SparkSession, rec: mutable.Map[String, Any]): Unit = {
      val t0 = System.nanoTime()
      graft.operators.Pinned.release()
      spark.catalog.clearCache()
      rec("check_s") = (System.nanoTime() - t0) / 1e9
    }

    override def summary(spark: SparkSession): Map[String, Any] = {
      val oracle = graft.SparkEntry.oracleSql
      val pinned = graft.queries.Catalog.all.filter(_.pinnedAtGateSf).map(_.name).toSet
      Map("oracle" -> o.queries.filter(q => oracle.contains(q) && !pinned(q)).map(q => q -> oracle(q)).toMap)
    }
  }
}
