package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Shared machinery for the native nets ([[ConvNet]], [[Lstm]]): init/softmax
  * numerics and the ONE parameter-averaging driver loop both models train
  * through — a single copy, so fixes to the averaging protocol (empty-input
  * handling, broadcast lifecycle, determinism ordering) cannot drift between
  * models.
  */
/** Flat-array parameter container: ONE copy of the clone/zero/axpy
  * plumbing all three nets' params ride through, so a numerics change to
  * the averaging arithmetic lands everywhere at once. Implementors provide
  * `arrays` (a stable ordering of every parameter array) and `rebuild`
  * (reconstruct from a same-shaped sequence).
  */
trait FlatParams[P <: FlatParams[P]] extends Serializable { self: P =>
  def arrays: Seq[Array[Double]]
  def rebuild(arrs: Seq[Array[Double]]): P
  final def copyOf: P = rebuild(arrays.map(_.clone()))
  final def zeroed: P = rebuild(arrays.map(a => new Array[Double](a.length)))
  /** this += o * s — the averaging axpy. Plain while-loops: the driver
    * runs this once per partition per epoch over every parameter (~430k
    * doubles for the default ConvNet), so boxed Range foreach + a
    * materialized zip Seq per call is real serial driver time (review r9).
    */
  final def addScaledInPlace(o: P, s: Double): P = {
    val as = arrays
    val bs = o.arrays
    var ai = 0
    while (ai < as.length) {
      val a = as(ai)
      val b = bs(ai)
      var i = 0
      while (i < a.length) { a(i) += b(i) * s; i += 1 }
      ai += 1
    }
    this
  }
}

private[graft] object NetOps {

  def xavier(rnd: scala.util.Random, n: Int, fanIn: Int, fanOut: Int): Array[Double] = {
    val limit = math.sqrt(6.0 / (fanIn + fanOut))
    Array.fill(n)((rnd.nextDouble() * 2 - 1) * limit)
  }

  def softmax(z: Array[Double]): Array[Double] = {
    val m = z.max
    val e = z.map(v => math.exp(v - m))
    val s = e.sum
    e.map(_ / s)
  }

  /** The per-epoch parameter-averaging loop (the reference's DL4J
    * ParameterAveragingTrainingMaster pattern; SparkNet, Moritz et al.
    * 2015): broadcast current weights, run `train` locally inside each
    * non-empty partition over a seeded shuffle of its rows, average the
    * partition results ON THE DRIVER IN PARTITION ORDER — float addition is
    * not associative, so a treeReduce (combine order = task completion
    * order) would make the fit run-to-run nondeterministic, while
    * partition-ordered summation makes it bit-deterministic under a fixed
    * seed + partitioning.
    *
    * The average is WEIGHTED BY PARTITION ROW COUNT (the standard
    * local-SGD/FedAvg rule, McMahan et al. 2017): an unweighted mean gives
    * a 10-row partition the same say as a 1,000,000-row one, dragging the
    * fit toward nearly-untrained local models whenever partition sizes
    * skew (review r9). With equal-size partitions — and for every
    * single-partition catalog fit — the weights are exactly 1/n and the
    * result is numerically the plain mean.
    *
    * MEMORY BOUND: each task materializes its whole partition (plus one
    * shuffled copy of the row references) to run the seeded local shuffle,
    * so per-task heap is O(partition bytes) — the standard local-SGD
    * trade (the reference's dl4j-spark ParameterAveragingTrainingMaster
    * fits each worker's split the same way). At 100 TB a partition of
    * decoded Double rows can be several GB, so the bound is ENFORCED: a
    * partition over `spark.graft.ml.maxRowsPerPartition` rows (default
    * 2,000,000 — ~1 GB of 64-double rows) fails fast with an error naming
    * `repartition`, instead of OOM-killing the executor mid-epoch. More
    * partitions also means more local models averaged per epoch, which is
    * the intended scale-out axis anyway.
    *
    * Per-epoch traffic is one weight vector per
    * partition, independent of corpus size. An entirely empty dataset
    * returns the initial weights unchanged (empty-input posture: quiet
    * no-op, never a crash). Caches the RDD only if the caller has not
    * already persisted it (no double-cache), and restores that state after.
    */
  def averageEpochs[R, P <: FlatParams[P]: scala.reflect.ClassTag](
                          data: Dataset[R], epochs: Int, seed: Long)
                         (initial: P)
                         (copy: P => P)
                         (train: (P, Vector[R]) => Unit): P = {
    val sc = data.sparkSession.sparkContext
    // read on the driver, captured by the task closure (no session on executors)
    val maxRows = data.sparkSession.conf
      .get("spark.graft.ml.maxRowsPerPartition", "2000000").toLong
    val rdd: RDD[R] = data.rdd
    // no double-cache: if the caller already persisted the Dataset, the
    // derived RDD re-reads its InMemoryRelation each epoch — cheap — and
    // caching it again would hold a second copy of every row
    val weCache = data.storageLevel == StorageLevel.NONE &&
      rdd.getStorageLevel == StorageLevel.NONE
    if (weCache) rdd.cache()
    var params = initial
    try {
      var epoch = 1
      var sawRows = true // an all-empty epoch proves every later one is too
      while (epoch <= epochs && sawRows) {
        val bc = sc.broadcast(params)
        try {
          val locals = rdd
            .mapPartitionsWithIndex { (pid, it) =>
              val buf = Vector.newBuilder[R]
              var n = 0L
              while (it.hasNext) {
                n += 1
                if (n > maxRows)
                  throw new IllegalStateException(
                    s"averageEpochs: partition $pid exceeds " +
                      s"spark.graft.ml.maxRowsPerPartition = $maxRows rows. " +
                      "Local-SGD training materializes each partition on the task " +
                      "heap for its seeded shuffle — repartition(...) the dataset " +
                      "into smaller partitions (more partitions = more local models " +
                      "averaged, the intended scale-out), or raise the limit if " +
                      "executor memory allows.")
                buf += it.next()
              }
              val rows = buf.result()
              if (rows.isEmpty) Iterator.empty
              else {
                val local = copy(bc.value)
                val shuffled = new scala.util.Random(seed + epoch * 1013L + pid).shuffle(rows)
                train(local, shuffled)
                Iterator.single((pid, local, rows.size.toLong))
              }
            }
            .collect().sortBy(_._1).toIndexedSeq
          if (locals.nonEmpty) {
            val total = locals.iterator.map(_._3).sum.toDouble
            val acc = locals.head._2.zeroed
            for ((_, p, w) <- locals) acc.addScaledInPlace(p, w / total)
            params = acc
          } else sawRows = false
        } finally bc.destroy()
        epoch += 1
      }
      params
    } finally if (weCache) rdd.unpersist()
  }

  /** Distributed mean of a per-row score under a broadcast model, with a
    * deterministically-destroyed broadcast; NaN on an empty dataset
    * (undefined, not a crash). The ONE copy of the
    * broadcast-score-fold-destroy lifecycle every model metric rides
    * through (accuracy, mean reconstruction error), so a lifecycle fix
    * cannot drift between them.
    */
  def meanOf[R, P: scala.reflect.ClassTag](data: Dataset[R], p: P)
            (score: (P, R) => Double): Double = {
    val bc = data.sparkSession.sparkContext.broadcast(p)
    try {
      val (sum, n) = data.rdd
        .map(r => (score(bc.value, r), 1L))
        .fold((0.0, 0L)) { case ((s1, n1), (s2, n2)) => (s1 + s2, n1 + n2) }
      if (n == 0) Double.NaN else sum / n
    } finally bc.destroy()
  }

  /** Distributed accuracy — [[meanOf]] over a 0/1 correctness score. */
  def accuracyOf[R, P: scala.reflect.ClassTag](data: Dataset[R], p: P)
                (correct: (P, R) => Boolean): Double =
    meanOf(data, p)((w, r) => if (correct(w, r)) 1.0 else 0.0)
}
