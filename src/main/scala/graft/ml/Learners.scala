package graft.ml

/** Online learner surface mirroring the reference's learner catalog
  * (PipelineMap.scala:68 — PA, RegressorPA, ORR, SVM, MultiClassPA, K-means,
  * NN, HT). Each learner fits one point at a time on a partition-local model
  * replica; replicas merge per protocol round (see [[Protocols]]), replacing
  * the reference's parameter-server message exchange with per-batch model
  * aggregation (SURVEY §3.4(b)).
  *
  * Models are mutable within a partition (hot path) and deep-copied whenever
  * a replica forks from the shared global.
  */
trait ModelState extends Serializable {
  var n: Long = 0L          // points fitted
  var cumLoss: Double = 0.0 // prequential cumulative loss
  /** Global-model round this replica was seeded from (SSP staleness
    * accounting — see [[SSP]]); 0 for models outside a training round.
    */
  var seedRound: Long = 0L
  def deepCopy: ModelState
  def params: Array[Double] // flattened snapshot for QueryResponse
  /** Whether the full merge-relevant state has a flat wire form (so shipped
    * replicas can be split into maxMsgParams-bounded blocks, reference
    * DefaultJobParameters.scala:6). Structural models (HT) and buffer-holding
    * models (K-means) return false and ship whole — both are
    * SingleLearner-forced, so at most one replica ever ships.
    */
  def wireSupported: Boolean = true
  /** Flat wire payload for chunked shipping. Default = params; models whose
    * merge state is richer than their public params override (RLS ships its
    * information form, not just the solved weights).
    */
  def wireParams: Array[Double] = params
  /** Rebuild a same-shape model from a wire payload (inverse of
    * [[wireParams]]); called on a freshly init'd skeleton of the right shape.
    */
  def loadWire(ps: Array[Double]): ModelState =
    throw new UnsupportedOperationException(
      s"${getClass.getSimpleName} has no flat wire form")
  /** Input dimension this model was init'd with — rides the wire so the
    * receiver can rebuild a skeleton via `learner.init(dim)`. -1 when not
    * meaningful (whole-shipped models).
    */
  def wireDim: Int = -1
  protected def copyCountersFrom(o: ModelState): this.type = {
    n = o.n; cumLoss = o.cumLoss; seedRound = o.seedRound; this
  }
}

final class LinearModel(val w: Array[Double], var b: Double) extends ModelState {
  def deepCopy: ModelState = new LinearModel(w.clone(), b).copyCountersFrom(this)
  def params: Array[Double] = w :+ b
  override def loadWire(ps: Array[Double]): ModelState =
    new LinearModel(ps.init, ps.last)
  override def wireDim: Int = w.length
  def margin(x: Array[Double]): Double = La.dot(w, x) + b
}

final class MultiClassModel(val k: Int, val dim: Int, val w: Array[Double])
    extends ModelState {
  def deepCopy: ModelState = new MultiClassModel(k, dim, w.clone()).copyCountersFrom(this)
  def params: Array[Double] = w.clone()
  override def loadWire(ps: Array[Double]): ModelState =
    new MultiClassModel(k, dim, ps.clone())
  override def wireDim: Int = dim
  /** score of class r: w_r . x + b_r (bias stored at index dim). */
  def score(r: Int, x: Array[Double]): Double = {
    var s = w(r * (dim + 1) + dim); var i = 0
    while (i < dim) { s += w(r * (dim + 1) + i) * x(i); i += 1 }
    s
  }
  def argmax(x: Array[Double], skip: Int = -1): Int = {
    var best = -1; var bestS = Double.NegativeInfinity; var r = 0
    while (r < k) {
      if (r != skip) { val s = score(r, x); if (s > bestS) { bestS = s; best = r } }
      r += 1
    }
    best
  }
}

/** Recursive-least-squares state for online ridge regression: keeps both the
  * inverse (for O(d^2) per-point updates) and the information-form sums
  * A = lambda*I + sum(z z^T), bvec = sum(y z) — the information form merges
  * EXACTLY across workers, so N-partition training equals 1-partition
  * training bit-for-near-bit (golden test).
  */
final class RlsModel(val d: Int, val lambda: Double,
    val a: Array[Double], val bvec: Array[Double],
    val p: Array[Double], val w: Array[Double]) extends ModelState {
  def deepCopy: ModelState =
    new RlsModel(d, lambda, a.clone(), bvec.clone(), p.clone(), w.clone())
      .copyCountersFrom(this)
  def params: Array[Double] = w.clone()
  /** RLS must ship its information form (a, bvec) — the exact-merge state —
    * not just the solved weights; p rides along so the replica resumes O(d^2)
    * updates without re-inverting.
    */
  override def wireParams: Array[Double] =
    Array.concat(a, bvec, p, w)
  override def loadWire(ps: Array[Double]): ModelState = {
    val dd = d * d
    new RlsModel(d, lambda, ps.slice(0, dd), ps.slice(dd, dd + d),
      ps.slice(dd + d, 2 * dd + d), ps.slice(2 * dd + d, 2 * dd + 2 * d))
  }
  // ORR.init adds the bias slot (d = dim + 1); wireDim is the INPUT dim
  override def wireDim: Int = d - 1
}

final class KMeansState(val k: Int, val dim: Int, val centroids: Array[Double],
    val counts: Array[Long], var filled: Int) extends ModelState {
  /** Prefix buffer used for farthest-point initialization; null once seeded. */
  var buffer: scala.collection.mutable.ArrayBuffer[Array[Double]] =
    new scala.collection.mutable.ArrayBuffer[Array[Double]]()
  def deepCopy: ModelState = {
    val o = new KMeansState(k, dim, centroids.clone(), counts.clone(), filled)
      .copyCountersFrom(this).asInstanceOf[KMeansState]
    o.buffer = if (buffer == null) null else buffer.clone()
    o
  }
  def params: Array[Double] = centroids.clone()
  /** Flat wire form once the state is past seeding — the only shape a
    * MiniBatchKMeans replica ever ships (r11: the "at most one replica
    * ships" SingleLearner invariant no longer holds, so K-means state now
    * honors the maxMsgParams chunking contract like every other learner):
    * centroids ++ counts-as-doubles (counts are exact in a double to 2^53,
    * far past any corpus). A state still FILLING its farthest-first buffer
    * (filled < k or pending buffer rows) has no flat form and ships whole —
    * preserving the buffer across micro-batch boundaries for the
    * SingleLearner streaming path.
    */
  override def wireSupported: Boolean =
    filled == k && (buffer == null || buffer.isEmpty)
  override def wireParams: Array[Double] =
    Array.concat(centroids, counts.map(_.toDouble))
  override def loadWire(ps: Array[Double]): ModelState = {
    val m = new KMeansState(k, dim, ps.slice(0, k * dim),
      ps.slice(k * dim, k * dim + k).map(_.toLong), k)
    m.buffer = null
    m
  }
  override def wireDim: Int = dim
  def nearest(x: Array[Double]): Int = {
    var best = -1; var bestD = Double.MaxValue; var c = 0
    while (c < filled) {
      var s = 0.0; var i = 0
      while (i < dim) { val dd = centroids(c * dim + i) - x(i); s += dd * dd; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }
  def nearestDist(x: Array[Double]): Double = {
    val c = nearest(x)
    if (c < 0) 0.0 else La.sqdist(centroids.slice(c * dim, (c + 1) * dim), x)
  }
}

final class MlpModel(val dim: Int, val hidden: Int, val classes: Int,
    val w1: Array[Double], val w2: Array[Double]) extends ModelState {
  def deepCopy: ModelState =
    new MlpModel(dim, hidden, classes, w1.clone(), w2.clone()).copyCountersFrom(this)
  def params: Array[Double] = w1 ++ w2
  override def loadWire(ps: Array[Double]): ModelState =
    new MlpModel(dim, hidden, classes, ps.take(w1.length), ps.drop(w1.length))
  override def wireDim: Int = dim
}

trait OnlineLearner extends Serializable {
  def name: String
  def init(dim: Int): ModelState
  def fit(m: ModelState, x: Array[Double], y: Double): Unit
  def predict(m: ModelState, x: Array[Double]): Double
  /** Prequential loss of the current model on (x, y) without updating. */
  def loss(m: ModelState, x: Array[Double], y: Double): Double
  /** Weighted merge of replicas into a fresh model. `prev` is the global
    * the replicas forked from (None on the first round) — learners with an
    * additive information form (ORR) use it to subtract the shared prior and
    * stay exact across rounds. */
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState
  /** true when pairwise `merge(Seq(a, b))` folds are equivalent to one flat
    * `merge(replicas)` (weight-carrying averages are; ORR's information form
    * is NOT — its merge must see the replica count to de-duplicate the
    * shared prior). Enables the log-depth tree merge of [[RoundDriver]]. */
  def mergeIsAssociative: Boolean = true
  /** true when `predict` emits a class label (score = accuracy), false for
    * regression (score = -RMSE) / clustering (score = -distortion). */
  def isClassifier: Boolean
  /** Called once after a partition's points are exhausted (e.g. to flush
    * K-means' init buffer). Default: no-op. */
  def finish(m: ModelState): Unit = ()

  protected def mergeCounters(out: ModelState, ms: Seq[ModelState]): ModelState = {
    out.n = ms.map(_.n).sum
    out.cumLoss = ms.map(_.cumLoss).sum
    out
  }
  /** Weighted average of same-length weight arrays (weights = points seen). */
  protected def weightedAvg(arrs: Seq[(Array[Double], Long)]): Array[Double] = {
    val total = math.max(arrs.map(_._2).sum, 1L).toDouble
    val out = new Array[Double](arrs.head._1.length)
    arrs.foreach { case (a, cnt) =>
      val f = cnt.toDouble / total
      var i = 0
      while (i < a.length) { out(i) += f * a(i); i += 1 }
    }
    out
  }
}

/** The held-out scoring rule, shared by the batch Trainer's evaluation and
  * the spoke's Query answers (FlinkSpoke.scala:160-163). Per point it adds
  * the loss and either a hit (classifiers) or a squared error; [[result]]
  * turns the sums into (avg loss, score), where score is accuracy for
  * classifiers, -mean distortion for clustering and -RMSE otherwise.
  */
object HeldOut {
  /** (loss sum, hit or squared-error sum, count) over `points`, summed in
    * point order; a null model scores nothing. */
  def sums(learner: OnlineLearner, model: ModelState,
      points: Iterator[(Array[Double], Double)]): (Double, Double, Long) = {
    var ls = 0.0; var sc = 0.0; var n = 0L
    if (model != null) points.foreach { case (x, y) =>
      ls += learner.loss(model, x, y)
      if (learner.isClassifier) { if (learner.predict(model, x) == y) sc += 1.0 }
      else { val e = learner.predict(model, x) - y; sc += e * e }
      n += 1
    }
    (ls, sc, n)
  }

  /** (avg loss, score) from [[sums]] (added up across rings); (0, 0) when
    * nothing was scored. */
  def result(learner: OnlineLearner, sums: (Double, Double, Long))
      : (Double, Double) = {
    val (ls, sc, n) = sums
    if (n == 0) (0.0, 0.0)
    else {
      val avgLoss = ls / n
      // type test, not name test: MiniBatchKMeans scores as clustering too
      val score =
        if (learner.isClassifier) sc / n
        else if (learner.isInstanceOf[OnlineKMeans]) -avgLoss
        else -math.sqrt(sc / n)
      (avgLoss, score)
    }
  }
}

/** The 2-of-10 held-out split (FlinkSpoke.handleData:92-107), shared by the
  * spoke and both trainers. Of every ten labelled points, cycle
  * positions 8-9 enter a FIFO ring of at most `cap` points and the rest
  * train; once the ring is full, each new held-out point evicts the oldest
  * one back into training. A ring of cap 0 holds nothing out: every point
  * trains. `points` is the ring in slot order, `pos` the next slot to
  * evict and `cycle` the position of the next point (0-9).
  */
final class HeldOutRing[P](cap: Int, init: Seq[P] = Nil,
    var pos: Int = 0, var cycle: Int = 0) {
  require(cap >= 0, s"held-out ring cap must be >= 0, got $cap")
  val points: scala.collection.mutable.ArrayBuffer[P] =
    scala.collection.mutable.ArrayBuffer.from(init)

  /** Take one labelled point; returns the point to train on now, if any. */
  def offer(p: P): Option[P] = {
    val heldOut = cycle >= 8
    cycle = (cycle + 1) % 10
    if (!heldOut || cap == 0) Some(p)
    else if (points.length < cap) { points += p; None }
    else {
      val evicted = points(pos)
      points(pos) = p
      pos = (pos + 1) % cap
      Some(evicted)
    }
  }
}

/** Passive-Aggressive binary classifier, PA-II variant (Crammer et al.,
  * JMLR 2006). Labels in {-1, +1}.
  */
class PAClassifier(val c: Double) extends OnlineLearner {
  def name = "PA"
  def isClassifier = true
  def init(dim: Int): ModelState = new LinearModel(new Array[Double](dim), 0.0)
  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[LinearModel]
    val l = math.max(0.0, 1.0 - y * m.margin(x))
    m.cumLoss += l; m.n += 1
    if (l > 0) {
      val tau = l / (La.norm2sq(x) + 1.0 + 1.0 / (2.0 * c))
      La.axpy(tau * y, x, m.w); m.b += tau * y
    }
  }
  def predict(ms: ModelState, x: Array[Double]): Double =
    if (ms.asInstanceOf[LinearModel].margin(x) >= 0) 1.0 else -1.0
  def loss(ms: ModelState, x: Array[Double], y: Double): Double =
    math.max(0.0, 1.0 - y * ms.asInstanceOf[LinearModel].margin(x))
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val ls = ms.map(_.asInstanceOf[LinearModel])
    val w = weightedAvg(ls.map(l => (l.w, l.n)))
    val b = {
      val total = math.max(ls.map(_.n).sum, 1L).toDouble
      ls.map(l => l.b * (l.n.toDouble / total)).sum
    }
    mergeCounters(new LinearModel(w, b), ms)
  }
}

/** Passive-Aggressive regression (epsilon-insensitive, PA-II). */
class PARegressor(val c: Double, val eps: Double) extends OnlineLearner {
  def name = "RegressorPA"
  def isClassifier = false
  def init(dim: Int): ModelState = new LinearModel(new Array[Double](dim), 0.0)
  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[LinearModel]
    val e = m.margin(x) - y
    val l = math.max(0.0, math.abs(e) - eps)
    m.cumLoss += l; m.n += 1
    if (l > 0) {
      val tau = l / (La.norm2sq(x) + 1.0 + 1.0 / (2.0 * c))
      val s = if (e > 0) -1.0 else 1.0
      La.axpy(s * tau, x, m.w); m.b += s * tau
    }
  }
  def predict(ms: ModelState, x: Array[Double]): Double =
    ms.asInstanceOf[LinearModel].margin(x)
  def loss(ms: ModelState, x: Array[Double], y: Double): Double =
    math.max(0.0, math.abs(ms.asInstanceOf[LinearModel].margin(x) - y) - eps)
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val ls = ms.map(_.asInstanceOf[LinearModel])
    val total = math.max(ls.map(_.n).sum, 1L).toDouble
    val w = weightedAvg(ls.map(l => (l.w, l.n)))
    val b = ls.map(l => l.b * (l.n.toDouble / total)).sum
    mergeCounters(new LinearModel(w, b), ms)
  }
}

/** Online ridge regression via recursive least squares; exact-merge in
  * information form (see [[RlsModel]]).
  */
class ORR(val lambda: Double) extends OnlineLearner {
  def name = "ORR"
  def isClassifier = false
  override def mergeIsAssociative: Boolean = false // prior de-dup needs k
  def init(dim: Int): ModelState = {
    val d = dim + 1
    val a = new Array[Double](d * d); val p = new Array[Double](d * d)
    var i = 0
    while (i < d) { a(i * d + i) = lambda; p(i * d + i) = 1.0 / lambda; i += 1 }
    new RlsModel(d, lambda, a, new Array[Double](d), p, new Array[Double](d))
  }
  @inline private def z(x: Array[Double], i: Int, d: Int): Double =
    if (i < d - 1) (if (i < x.length) x(i) else 0.0) else 1.0
  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[RlsModel]; val d = m.d
    val e = y - predict(m, x)
    m.cumLoss += e * e; m.n += 1
    val pz = new Array[Double](d)
    var i = 0
    while (i < d) {
      var s = 0.0; var j = 0
      while (j < d) { s += m.p(i * d + j) * z(x, j, d); j += 1 }
      pz(i) = s; i += 1
    }
    var denom = 1.0
    i = 0
    while (i < d) { denom += z(x, i, d) * pz(i); i += 1 }
    // w += K e ; P -= K (Pz)^T ; A += z z^T ; bvec += y z
    i = 0
    while (i < d) {
      val ki = pz(i) / denom
      m.w(i) += ki * e
      var j = 0
      while (j < d) { m.p(i * d + j) -= ki * pz(j); j += 1 }
      j = 0
      while (j < d) { m.a(i * d + j) += z(x, i, d) * z(x, j, d); j += 1 }
      m.bvec(i) += y * z(x, i, d)
      i += 1
    }
  }
  def predict(ms: ModelState, x: Array[Double]): Double = {
    val m = ms.asInstanceOf[RlsModel]; val d = m.d
    var s = 0.0; var i = 0
    while (i < d) { s += m.w(i) * z(x, i, d); i += 1 }
    s
  }
  def loss(ms: ModelState, x: Array[Double], y: Double): Double = {
    val e = y - predict(ms, x); e * e
  }
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val rs = ms.map(_.asInstanceOf[RlsModel])
    val d = rs.head.d; val lambda = rs.head.lambda
    val a = new Array[Double](d * d); val bvec = new Array[Double](d)
    rs.foreach { r =>
      var i = 0
      while (i < d * d) { a(i) += r.a(i); i += 1 }
      i = 0
      while (i < d) { bvec(i) += r.bvec(i); i += 1 }
    }
    // Every replica forked from the same prior (previous global, or the
    // lambda*I prior on round one): keep exactly one copy of it, so the
    // information form stays exact across both partitions and rounds.
    prev match {
      case Some(pm: RlsModel) =>
        var i = 0
        while (i < d * d) { a(i) -= pm.a(i) * (rs.length - 1); i += 1 }
        i = 0
        while (i < d) { bvec(i) -= pm.bvec(i) * (rs.length - 1); i += 1 }
      case _ =>
        var i = 0
        while (i < d) { a(i * d + i) -= lambda * (rs.length - 1); i += 1 }
    }
    val p = La.inverse(a, d)
    val w = La.solve(a, bvec, d)
    mergeCounters(new RlsModel(d, lambda, a, bvec, p, w), ms)
  }
}

/** Online linear SVM via Pegasos SGD (Shalev-Shwartz et al., ICML 2007). */
class PegasosSVM(val lambda: Double) extends OnlineLearner {
  def name = "SVM"
  def isClassifier = true
  def init(dim: Int): ModelState = new LinearModel(new Array[Double](dim), 0.0)
  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[LinearModel]
    val l = math.max(0.0, 1.0 - y * m.margin(x))
    m.cumLoss += l; m.n += 1
    val t = m.n
    val eta = 1.0 / (lambda * t)
    La.scal(1.0 - eta * lambda, m.w)
    if (l > 0) { La.axpy(eta * y, x, m.w); m.b += eta * y }
  }
  def predict(ms: ModelState, x: Array[Double]): Double =
    if (ms.asInstanceOf[LinearModel].margin(x) >= 0) 1.0 else -1.0
  def loss(ms: ModelState, x: Array[Double], y: Double): Double =
    math.max(0.0, 1.0 - y * ms.asInstanceOf[LinearModel].margin(x))
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val ls = ms.map(_.asInstanceOf[LinearModel])
    val total = math.max(ls.map(_.n).sum, 1L).toDouble
    val w = weightedAvg(ls.map(l => (l.w, l.n)))
    val b = ls.map(l => l.b * (l.n.toDouble / total)).sum
    mergeCounters(new LinearModel(w, b), ms)
  }
}

/** Multiclass Passive-Aggressive (PA-II, max-score update). */
class MultiClassPA(val c: Double, val k: Int) extends OnlineLearner {
  def name = "MultiClassPA"
  def isClassifier = true
  def init(dim: Int): ModelState =
    new MultiClassModel(k, dim, new Array[Double](k * (dim + 1)))
  def fit(ms: ModelState, x: Array[Double], yIn: Double): Unit = {
    val m = ms.asInstanceOf[MultiClassModel]
    val y = yIn.toInt
    val r = m.argmax(x, skip = y)
    val l = if (r < 0) 0.0 else math.max(0.0, 1.0 - m.score(y, x) + m.score(r, x))
    m.cumLoss += l; m.n += 1
    if (l > 0 && r >= 0) {
      val tau = l / (2.0 * (La.norm2sq(x) + 1.0) + 1.0 / (2.0 * c))
      val d = m.dim
      var i = 0
      while (i < d) {
        m.w(y * (d + 1) + i) += tau * x(i)
        m.w(r * (d + 1) + i) -= tau * x(i)
        i += 1
      }
      m.w(y * (d + 1) + d) += tau
      m.w(r * (d + 1) + d) -= tau
    }
  }
  def predict(ms: ModelState, x: Array[Double]): Double =
    ms.asInstanceOf[MultiClassModel].argmax(x).toDouble
  def loss(ms: ModelState, x: Array[Double], yIn: Double): Double = {
    val m = ms.asInstanceOf[MultiClassModel]
    val y = yIn.toInt
    val r = m.argmax(x, skip = y)
    if (r < 0) 0.0 else math.max(0.0, 1.0 - m.score(y, x) + m.score(r, x))
  }
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val cs = ms.map(_.asInstanceOf[MultiClassModel])
    val w = weightedAvg(cs.map(m => (m.w, m.n)))
    mergeCounters(new MultiClassModel(cs.head.k, cs.head.dim, w), ms)
  }
}

/** Online (sequential/MacQueen) K-means with deterministic farthest-point
  * seeding over a buffered prefix — plain first-k seeding collapses when the
  * first points share a cluster. Runs under the SingleLearner protocol per
  * the reference (FlinkSpoke.scala:203-211 forces one global model for
  * K-means/HT).
  */
class OnlineKMeans(val k: Int) extends OnlineLearner {
  def name = "K-means"
  def isClassifier = false
  private def bufferTarget: Int = math.max(k, math.min(100, k * 8))
  def init(dim: Int): ModelState =
    new KMeansState(k, dim, new Array[Double](k * dim), new Array[Long](k), 0)

  private def seedFromBuffer(m: KMeansState): Unit = {
    val pts = m.buffer
    if (pts.isEmpty) { m.buffer = null; return }
    val chosen = scala.collection.mutable.ArrayBuffer[Int](0)
    while (chosen.length < math.min(m.k, pts.length)) {
      var bestI = -1; var bestD = -1.0
      var i = 0
      while (i < pts.length) {
        if (!chosen.contains(i)) {
          var dMin = Double.MaxValue
          chosen.foreach(c => dMin = math.min(dMin, La.sqdist(pts(c), pts(i))))
          if (dMin > bestD) { bestD = dMin; bestI = i }
        }
        i += 1
      }
      chosen += bestI
    }
    chosen.zipWithIndex.foreach { case (pi, ci) =>
      System.arraycopy(pts(pi), 0, m.centroids, ci * m.dim, m.dim)
      m.counts(ci) = 1L
    }
    m.filled = chosen.length
    // replay the non-seed buffered points through MacQueen assignment
    var i = 0
    while (i < pts.length) {
      if (!chosen.contains(i)) assign(m, pts(i))
      i += 1
    }
    m.buffer = null
  }

  private def assign(m: KMeansState, x: Array[Double]): Unit = {
    val cIdx = m.nearest(x)
    m.counts(cIdx) += 1
    val f = 1.0 / m.counts(cIdx)
    var i = 0
    while (i < m.dim) {
      val o = cIdx * m.dim + i
      m.centroids(o) += f * (x(i) - m.centroids(o))
      i += 1
    }
  }

  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[KMeansState]
    m.cumLoss += (if (m.filled > 0) m.nearestDist(x) else 0.0)
    m.n += 1
    if (m.filled == 0) {
      m.buffer += x.clone()
      if (m.buffer.length >= bufferTarget) seedFromBuffer(m)
    } else assign(m, x)
  }

  override def finish(ms: ModelState): Unit = {
    val m = ms.asInstanceOf[KMeansState]
    if (m.filled == 0 && m.buffer != null && m.buffer.nonEmpty) seedFromBuffer(m)
  }
  def predict(ms: ModelState, x: Array[Double]): Double =
    ms.asInstanceOf[KMeansState].nearest(x).toDouble
  def loss(ms: ModelState, x: Array[Double], y: Double): Double =
    ms.asInstanceOf[KMeansState].nearestDist(x)
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    if (ms.length == 1) return ms.head
    val ks = ms.map(_.asInstanceOf[KMeansState])
    val h = ks.head
    val out = new KMeansState(h.k, h.dim, new Array[Double](h.k * h.dim),
      new Array[Long](h.k), h.k)
    var c = 0
    while (c < h.k) {
      var tot = 0L
      ks.foreach(s => tot += s.counts(c))
      out.counts(c) = tot
      var i = 0
      while (i < h.dim) {
        var s = 0.0
        ks.foreach(st => s += st.centroids(c * h.dim + i) * st.counts(c))
        out.centroids(c * h.dim + i) = if (tot > 0) s / tot else 0.0
        i += 1
      }
      c += 1
    }
    out.filled = h.k
    mergeCounters(out, ms)
  }
}

/** One-hidden-layer MLP. classes == 1: linear output + squared loss;
  * classes > 1: softmax + cross-entropy. Deterministic LCG init so replica
  * averaging stays aligned across partitions.
  */
class MLP(val hidden: Int, val classes: Int, val seed: Long, val lr: Double)
    extends OnlineLearner {
  def name = "NN"
  def isClassifier = classes > 1
  def init(dim: Int): ModelState = {
    var s = seed
    def next(): Double = {
      s = (s * 6364136223846793005L + 1442695040888963407L)
      ((s >>> 11).toDouble / (1L << 53).toDouble - 0.5)
    }
    val w1 = Array.fill(hidden * (dim + 1))(next() * 0.2)
    val out = math.max(classes, 1)
    val w2 = Array.fill(out * (hidden + 1))(next() * 0.2)
    new MlpModel(dim, hidden, classes, w1, w2)
  }
  private def forward(m: MlpModel, x: Array[Double]): (Array[Double], Array[Double]) = {
    val h = new Array[Double](m.hidden)
    var j = 0
    while (j < m.hidden) {
      var s = m.w1(j * (m.dim + 1) + m.dim)
      var i = 0
      while (i < m.dim) { s += m.w1(j * (m.dim + 1) + i) * x(i); i += 1 }
      h(j) = math.tanh(s)
      j += 1
    }
    val out = math.max(m.classes, 1)
    val o = new Array[Double](out)
    var r = 0
    while (r < out) {
      var s = m.w2(r * (m.hidden + 1) + m.hidden)
      j = 0
      while (j < m.hidden) { s += m.w2(r * (m.hidden + 1) + j) * h(j); j += 1 }
      o(r) = s
      r += 1
    }
    (h, o)
  }
  private def softmax(o: Array[Double]): Array[Double] = {
    val mx = o.max
    val e = o.map(v => math.exp(v - mx))
    val z = e.sum
    e.map(_ / z)
  }
  def fit(ms: ModelState, x: Array[Double], y: Double): Unit = {
    val m = ms.asInstanceOf[MlpModel]
    val (h, o) = forward(m, x)
    m.n += 1
    val dOut = new Array[Double](o.length)
    if (m.classes > 1) {
      val p = softmax(o)
      val yi = y.toInt
      m.cumLoss += -math.log(math.max(p(math.min(yi, p.length - 1)), 1e-12))
      var r = 0
      while (r < o.length) { dOut(r) = p(r) - (if (r == yi) 1.0 else 0.0); r += 1 }
    } else {
      val e = o(0) - y
      m.cumLoss += e * e
      dOut(0) = 2.0 * e
    }
    // backprop
    val dH = new Array[Double](m.hidden)
    var r = 0
    while (r < o.length) {
      var j = 0
      while (j < m.hidden) {
        dH(j) += dOut(r) * m.w2(r * (m.hidden + 1) + j)
        m.w2(r * (m.hidden + 1) + j) -= lr * dOut(r) * h(j)
        j += 1
      }
      m.w2(r * (m.hidden + 1) + m.hidden) -= lr * dOut(r)
      r += 1
    }
    var j = 0
    while (j < m.hidden) {
      val g = dH(j) * (1.0 - h(j) * h(j))
      var i = 0
      while (i < m.dim) { m.w1(j * (m.dim + 1) + i) -= lr * g * x(i); i += 1 }
      m.w1(j * (m.dim + 1) + m.dim) -= lr * g
      j += 1
    }
  }
  def predict(ms: ModelState, x: Array[Double]): Double = {
    val m = ms.asInstanceOf[MlpModel]
    val (_, o) = forward(m, x)
    if (m.classes > 1) {
      var best = 0; var bs = o(0); var r = 1
      while (r < o.length) { if (o(r) > bs) { bs = o(r); best = r }; r += 1 }
      best.toDouble
    } else o(0)
  }
  def loss(ms: ModelState, x: Array[Double], y: Double): Double = {
    val m = ms.asInstanceOf[MlpModel]
    val (_, o) = forward(m, x)
    if (m.classes > 1) {
      val p = softmax(o)
      -math.log(math.max(p(math.min(y.toInt, p.length - 1)), 1e-12))
    } else { val e = o(0) - y; e * e }
  }
  def merge(ms: Seq[ModelState], prev: Option[ModelState] = None): ModelState = {
    val xs = ms.map(_.asInstanceOf[MlpModel])
    val w1 = weightedAvg(xs.map(m => (m.w1, m.n)))
    val w2 = weightedAvg(xs.map(m => (m.w2, m.n)))
    mergeCounters(new MlpModel(xs.head.dim, xs.head.hidden, xs.head.classes, w1, w2), ms)
  }
}

/** EXTENSION (not in the reference catalog — documented delta per SURVEY
  * §2.6): mini-batch K-means that is NOT SingleLearner-forced. Mechanics are
  * [[OnlineKMeans]]'s (same MacQueen update, same count-weighted merge); the
  * distinct NAME is what opts out of the reference's K-means→SingleLearner
  * resolution rule (FlinkSpoke.scala:203-211) so the learner can run W
  * parallel replicas under Synchronous — each round every partition
  * MacQueen-updates a replica seeded from the shared global centroids and
  * the hub folds them weighted by assignment counts. Semantic delta vs the
  * reference's K-means: parallel replicas see interleaved slices instead of
  * the single global point order, so trajectories differ BY DESIGN; the
  * ml32 gate checks cluster-quality parity (inertia within tolerance of the
  * sequential fit), not trajectory identity. Callers must hand Trainer.fit
  * a SHARED seed model (see ml32) — without one, round-1 replicas seed
  * their own buffers and cluster ids don't align across partitions.
  */
final class MiniBatchKMeans(k0: Int) extends OnlineKMeans(k0) {
  override def name = "MiniBatchKMeans"
}

object MiniBatchKMeans {
  /** The parallel-fit contract every [[RoundDriver]] round enforces: with
    * no shared seed, round-1 replicas farthest-first-seed independently and
    * the count-weighted merge averages MISALIGNED cluster ids — silently
    * wrong centroids. Fail loudly instead; [[sharedSeed]] builds the seed. */
  def requireSharedSeed(learner: OnlineLearner, partitions: Int,
      seeded: Boolean): Unit =
    require(!(learner.isInstanceOf[MiniBatchKMeans] && partitions > 1 &&
        !seeded),
      "MiniBatchKMeans under parallel training requires a shared seed model " +
        "(the trainer's init param) — see MiniBatchKMeans.sharedSeed")

  /** The shared centroid seed the parallel fit requires (see
    * [[requireSharedSeed]]): OnlineKMeans's own farthest-first rule applied
    * ONCE over a small deterministic point prefix (a bounded driver-side set),
    * counters zeroed so the Trainer's fitted/loss accounting starts clean.
    * ml32, its probe and its suite test all build the seed here.
    */
  def sharedSeed(pts: Seq[Array[Double]], k: Int): ModelState = {
    require(pts.nonEmpty, "sharedSeed needs at least one point")
    val seeder = new OnlineKMeans(k)
    val m = seeder.init(pts.head.length)
    pts.foreach(p => seeder.fit(m, p, 0.0))
    seeder.finish(m)
    m.n = 0L
    m.cumLoss = 0.0
    m
  }

  /** Distributed inertia (sum of squared distance to the nearest centroid)
    * of a fitted clustering — the quality metric the ml32 parity gate
    * compares across the parallel and sequential fits.
    */
  def inertia(spark: org.apache.spark.sql.SparkSession, m: ModelState,
      data: org.apache.spark.rdd.RDD[(Array[Double], Double)]): Double = {
    val bc = spark.sparkContext.broadcast(m.asInstanceOf[KMeansState])
    data.map { case (x, _) => bc.value.nearestDist(x) }.sum()
  }
}

object Learners {
  /** Learner catalog; names as validated by the reference
    * (PipelineMap.scala:66-69), plus the documented MiniBatchKMeans
    * extension (SURVEY §2.6 delta; see [[MiniBatchKMeans]]).
    */
  val names: Set[String] =
    Set("PA", "RegressorPA", "ORR", "SVM", "MultiClassPA", "K-means", "NN", "HT",
      "MiniBatchKMeans")

  def create(name: String, hp: Map[String, Double] = Map.empty): OnlineLearner =
    name match {
      case "PA" => new PAClassifier(hp.getOrElse("C", 0.01))
      case "RegressorPA" =>
        new PARegressor(hp.getOrElse("C", 0.01), hp.getOrElse("epsilon", 0.1))
      case "ORR" => new ORR(hp.getOrElse("lambda", 1.0))
      case "SVM" => new PegasosSVM(hp.getOrElse("lambda", 1e-4))
      case "MultiClassPA" =>
        new MultiClassPA(hp.getOrElse("C", 0.01), hp.getOrElse("classes", 10.0).toInt)
      case "K-means" => new OnlineKMeans(hp.getOrElse("k", 8.0).toInt)
      case "MiniBatchKMeans" => new MiniBatchKMeans(hp.getOrElse("k", 8.0).toInt)
      case "NN" => new MLP(hp.getOrElse("hidden", 16.0).toInt,
        hp.getOrElse("classes", 1.0).toInt, hp.getOrElse("seed", 42.0).toLong,
        hp.getOrElse("lr", 0.05))
      case "HT" => new HoeffdingTreeLearner(
        hp.getOrElse("delta", 0.05), hp.getOrElse("tau", 0.05),
        hp.getOrElse("grace", 50.0).toInt, hp.getOrElse("classes", 10.0).toInt)
      case other => throw new IllegalArgumentException(s"unknown learner: $other")
    }
}
