package graft.ml

import org.apache.spark.sql.Dataset

/** Dense autoencoder, from scratch on the JVM — the native twin of the
  * reference's M2 anomaly detector
  * (13486_Code/src/main/scala/chapter3/MNISTAnomalyDetector.java:91-110):
  * 784 -> 250 -> 10 -> 250 -> 784, ReLU activations, MSE loss, Xavier
  * init, L2 1e-4, AdaGrad 0.05. The reference sets RELU at the
  * NeuralNetConfiguration level and its OutputLayer has no per-layer
  * override (:96,:105-106), so its output head is ReLU+MSE — reproduce
  * that exactly with `reluOutput = true`. The library DEFAULT is an
  * identity output head (a deliberate divergence): the reference's inputs
  * are [0,1] MNIST pixels where a non-negative output loses nothing,
  * while this engine's embedding columns are signed, and a ReLU head can
  * never reconstruct a negative component. Layer sizes are a parameter
  * (defaults are the reference's), so tests and the catalog can run small
  * instances fast. Complements the engine's PCA-reconstruction capability
  * twin (m2_pca_anomaly): same scoring contract — per-example
  * reconstruction error, high = anomalous — but the reference's actual
  * model family.
  *
  * Trains through the shared [[NetOps.averageEpochs]] parameter-averaging
  * loop (bit-deterministic under fixed seed + partitioning; empty input
  * returns the seeded init). Gradients are exact backprop, pinned by
  * AutoencoderSpec's central-difference check.
  */
case class AeConfig(layers: Seq[Int] = Seq(784, 250, 10, 250, 784),
                    reluOutput: Boolean = false) {
  require(layers.length >= 3, s"need at least in -> hidden -> out: $layers")
  require(layers.forall(_ > 0),
    // a 0 layer silently trains a bias-only constant model; a negative one
    // crashes deep in init with no mention of the config (review r9)
    s"every layer size must be positive: $layers")
  require(layers.head == layers.last,
    s"autoencoder reconstructs its input: ${layers.head} != ${layers.last}")
}

/** One weight matrix + bias per layer transition (w(l): layers(l+1) x layers(l)). */
case class AeParams(ws: IndexedSeq[Array[Double]], bs: IndexedSeq[Array[Double]])
    extends FlatParams[AeParams] {

  def arrays: Seq[Array[Double]] = ws ++ bs

  def rebuild(a: Seq[Array[Double]]): AeParams =
    AeParams(a.take(ws.length).toIndexedSeq, a.drop(ws.length).toIndexedSeq)
}

object Autoencoder {

  /** A mismatched row would otherwise surface as a raw
    * ArrayIndexOutOfBoundsException deep in the dot-product loops (or,
    * worse, a silent truncation for a too-long row) — fail with the shape.
    */
  private def requireInputDim(cfg: AeConfig, x: Array[Double]): Unit =
    require(x.length == cfg.layers.head,
      s"input has ${x.length} components, config expects ${cfg.layers.head}")

  def init(cfg: AeConfig, seed: Long): AeParams = {
    val rnd = new scala.util.Random(seed)
    val ws = cfg.layers.sliding(2).map { case Seq(nIn, nOut) =>
      NetOps.xavier(rnd, nOut * nIn, nIn, nOut)
    }.toIndexedSeq
    val bs = cfg.layers.tail.map(n => new Array[Double](n)).toIndexedSeq
    AeParams(ws, bs)
  }

  /** Forward reconstruction of one example. */
  def reconstruct(cfg: AeConfig, p: AeParams, x: Array[Double]): Array[Double] = {
    requireInputDim(cfg, x)
    var a = x
    for (l <- p.ws.indices) {
      val nIn = cfg.layers(l)
      val nOut = cfg.layers(l + 1)
      val z = new Array[Double](nOut)
      var o = 0
      while (o < nOut) {
        var s = p.bs(l)(o)
        var i = 0
        while (i < nIn) { s += p.ws(l)(o * nIn + i) * a(i); i += 1 }
        // ReLU on hidden layers; output head per cfg.reluOutput (identity
        // default for signed inputs, ReLU = the reference's exact head)
        z(o) = if (l < p.ws.length - 1 || cfg.reluOutput) math.max(0.0, s) else s
        o += 1
      }
      a = z
    }
    a
  }

  /** Mean squared reconstruction error — the anomaly score (high = anomalous). */
  def score(cfg: AeConfig, p: AeParams, x: Array[Double]): Double = {
    val r = reconstruct(cfg, p, x)
    var s = 0.0
    var i = 0
    while (i < x.length) { val d = r(i) - x(i); s += d * d; i += 1 }
    s / x.length
  }

  /** Half-SSE loss of one example plus exact gradient ACCUMULATED into
    * `grad` (pinned by AutoencoderSpec's central-difference check).
    */
  def lossAndGrad(cfg: AeConfig, p: AeParams, x: Array[Double],
                  grad: AeParams): Double = {
    requireInputDim(cfg, x)
    val nLayers = p.ws.length
    // forward, keeping pre-activations per layer
    val acts = new Array[Array[Double]](nLayers + 1)
    val pre = new Array[Array[Double]](nLayers)
    acts(0) = x
    for (l <- 0 until nLayers) {
      val nIn = cfg.layers(l)
      val nOut = cfg.layers(l + 1)
      val z = new Array[Double](nOut)
      var o = 0
      while (o < nOut) {
        var s = p.bs(l)(o)
        var i = 0
        while (i < nIn) { s += p.ws(l)(o * nIn + i) * acts(l)(i); i += 1 }
        z(o) = s
        o += 1
      }
      pre(l) = z
      acts(l + 1) =
        if (l < nLayers - 1 || cfg.reluOutput) z.map(v => math.max(0.0, v)) else z
    }
    val out = acts(nLayers)
    var loss = 0.0
    var dOut = new Array[Double](out.length)
    var i = 0
    while (i < out.length) {
      val d = out(i) - x(i)
      loss += 0.5 * d * d
      dOut(i) = d
      i += 1
    }
    // backward through the dense stack
    for (l <- (nLayers - 1) to 0 by -1) {
      val nIn = cfg.layers(l)
      val nOut = cfg.layers(l + 1)
      if (l < nLayers - 1 || cfg.reluOutput) {
        var o = 0
        while (o < nOut) { if (pre(l)(o) <= 0.0) dOut(o) = 0.0; o += 1 }
      }
      val dIn = new Array[Double](nIn)
      var o = 0
      while (o < nOut) {
        val g = dOut(o)
        grad.bs(l)(o) += g
        var j = 0
        while (j < nIn) {
          grad.ws(l)(o * nIn + j) += g * acts(l)(j)
          dIn(j) += g * p.ws(l)(o * nIn + j)
          j += 1
        }
        o += 1
      }
      dOut = dIn
    }
    loss
  }

  /** AdaGrad accumulator state (the reference's updater). */
  final class AdaGradState(p: AeParams) {
    val g2: Seq[Array[Double]] = p.arrays.map(a => new Array[Double](a.length))
  }

  /** One local AdaGrad minibatch pass (mutates `p`); L2 on weights only. */
  def adaGradPass(cfg: AeConfig, p: AeParams, state: AdaGradState,
                  data: Seq[Array[Double]], lr: Double, batchSize: Int,
                  l2: Double = 1e-4, eps: Double = 1e-8): Double = {
    var total = 0.0
    val nW = p.ws.length // first nW arrays are weights, rest biases
    for (batch <- data.grouped(batchSize)) {
      val grad = p.zeroed
      for (x <- batch) total += lossAndGrad(cfg, p, x, grad)
      val scale = 1.0 / batch.size
      for (pos <- grad.arrays.indices) {
        val g = grad.arrays(pos); val w = p.arrays(pos); val acc = state.g2(pos)
        val decay = if (pos < nW) l2 else 0.0
        var i = 0
        while (i < g.length) {
          val gi = g(i) * scale + decay * w(i)
          acc(i) += gi * gi
          w(i) -= lr * gi / (math.sqrt(acc(i)) + eps)
          i += 1
        }
      }
    }
    total / math.max(1, data.size)
  }

  /** Distributed fit via the shared parameter-averaging loop; AdaGrad
    * accumulators restart each epoch (local state).
    */
  def fitParameterAveraging(data: Dataset[Array[Double]], cfg: AeConfig,
                            epochs: Int, lr: Double, batchSize: Int, seed: Long,
                            l2: Double = 1e-4): AeParams =
    NetOps.averageEpochs(data, epochs, seed)(init(cfg, seed))(_.copyOf)(
      (local, rows) => adaGradPass(cfg, local, new AdaGradState(local), rows, lr, batchSize, l2))
}
