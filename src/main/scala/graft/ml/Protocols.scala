package graft.ml

import graft.pipeline.PipelineSpec
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Distributed-training protocols, mirroring the reference's catalog
  * (MLNodeGenerator.scala:26-64): CentralizedTraining, SingleLearner,
  * Asynchronous, Synchronous, SSP, EASGD, GM, FGM.
  *
  * The reference exchanges models continuously through a parameter server
  * over a Kafka feedback loop; on Spark's micro-batch execution model the
  * natural equivalent is per-round model aggregation (SURVEY §3.4(b)):
  * every round each partition trains a replica seeded from the global model,
  * then the protocol decides how replicas fold into the next global.
  * Semantic deltas vs the reference (documented, per SURVEY §2.6):
  * Asynchronous runs as FREE-RUNNING stale reads — the unbounded-staleness
  * limit of the SSP window, proven bit-identical to SSP(MaxValue) and
  * divergent from Synchronous (see [[Asynchronous]]); SSP keeps a REAL
  * staleness bound (workers read globals up to s rounds stale, over-stale
  * updates are skip-merged — see [[SSP]]); GM keeps its
  * communication-skipping semantics via the per-worker drift threshold
  * (replicas that moved less than the threshold don't ship); FGM is the
  * two-level FUNCTIONAL variant (see [[FGM]]) — scalar counter messages
  * between syncs, model vectors only on a confirmed global violation,
  * and then ALL workers sync (never GM's partial advance).
  */
/** `blocks` counts maxMsgParams-bounded parameter blocks shipped to the
  * merge (see [[ModelWire]]) — the reference's message count, not a round
  * count. `scalars` counts the 8-byte protocol heartbeats (FGM's drift
  * counters and exact-phi polls) separately, so the parameter-block metric
  * stays pure: a frozen FGM round moves k scalars and ZERO blocks.
  */
final case class ProtocolStats(
    var modelsShipped: Long = 0L,
    var bytesShipped: Long = 0L,
    var blocks: Long = 0L,
    var scalars: Long = 0L)

sealed trait Protocol extends Serializable {
  def name: String
  /** Number of training partitions this protocol allows (None = any). */
  def maxParallelism: Option[Int] = None
  /** Map-side ship decision: whether a trained replica is sent to the merge
    * at all. Default: always. DriftGated overrides — replicas inside the
    * drift threshold never leave their executor (the reference's
    * communication-skipping made actually communication-free; the driver
    * sees one boolean instead of O(params) per skipped replica).
    */
  def ships(replica: ModelState, prev: Option[ModelState]): Boolean = true
  /** Fold shipped replicas + previous global into the next global.
    * `totalReplicas` is the number of replicas trained this round (>=
    * `replicas.length` when the caller pre-filtered with [[ships]]); -1
    * means "no map-side filtering happened".
    */
  def aggregate(replicas: Seq[ModelState], prev: Option[ModelState],
      learner: OnlineLearner, stats: ProtocolStats,
      totalReplicas: Long = -1L): ModelState = {
    val merged = learner.merge(replicas, prev)
    Protocols.charge(stats, replicas)
    merged
  }
}

case object Synchronous extends Protocol { def name = "Synchronous" }

/** Free-running workers: the [[RoundDriver]] seeds partition pid from a
  * global pid rounds behind the frontier (the UNBOUNDED-staleness limit of
  * the SSP stale-read window) and the merge admits every update — the
  * reference's asynchronous interleave (MLNodeGenerator.scala:26-64), expressed at
  * round granularity. Equivalent by construction to SSP(Int.MaxValue);
  * the PipelineSparkSuite parity test pins the equivalence bit-for-bit.
  */
case object Asynchronous extends Protocol { def name = "Asynchronous" }

/** Stale-synchronous parallel with a REAL staleness bound s (reference
  * MLNodeGenerator.scala:26-64): workers may compute on a global model up
  * to s rounds behind the freshest view (the [[RoundDriver]] seeds
  * partition pid from the global of round r-1-(pid mod (s+1)) —
  * deterministic heterogeneity inside the bound), and the merge ADMITS ONLY replicas
  * within s rounds of the round frontier — an over-stale straggler's
  * update is skip-merged exactly like a non-drifted GM replica, because
  * the reference's SSP would have blocked that worker before it produced
  * one. s = 0 collapses to Synchronous (every worker reads the freshest
  * global, nothing can be stale); s = MaxValue is the asynchronous limit
  * (any staleness admitted).
  */
final case class SSP(s: Int) extends Protocol {
  require(s >= 0, s"SSP staleness must be >= 0, got $s")
  def name = "SSP"
  override def aggregate(replicas: Seq[ModelState], prev: Option[ModelState],
      learner: OnlineLearner, stats: ProtocolStats,
      totalReplicas: Long = -1L): ModelState = {
    val frontier = if (replicas.isEmpty) 0L else replicas.map(_.seedRound).max
    val admitted = replicas.filter(r => frontier - r.seedRound <= s.toLong)
    if (admitted.isEmpty) prev match {
      // all replicas over-stale: the global advances by zero
      case Some(pm) => Protocols.frozen(pm)
      case None => learner.merge(admitted, prev)
    } else {
      Protocols.charge(stats, admitted)
      learner.merge(admitted, prev)
    }
  }
}

case object CentralizedTraining extends Protocol {
  def name = "CentralizedTraining"
  override def maxParallelism: Option[Int] = Some(1)
}

/** One global model trained sequentially (reference forces this for HT and
  * K-means, FlinkSpoke.scala:203-211).
  */
case object SingleLearner extends Protocol {
  def name = "SingleLearner"
  override def maxParallelism: Option[Int] = Some(1)
}

/** Elastic averaging (Zhang et al., NIPS 2015): center absorbs a fraction
  * alpha of the replica average instead of being replaced by it.
  */
final case class EASGD(alpha: Double) extends Protocol {
  def name = "EASGD"
  override def aggregate(replicas: Seq[ModelState], prev: Option[ModelState],
      learner: OnlineLearner, stats: ProtocolStats,
      totalReplicas: Long = -1L): ModelState = {
    val avg = learner.merge(replicas, prev)
    Protocols.charge(stats, replicas)
    prev match {
      case Some(center: LinearModel) =>
        val a = avg.asInstanceOf[LinearModel]
        val w = center.w.clone()
        var i = 0
        while (i < w.length) { w(i) = (1 - alpha) * w(i) + alpha * a.w(i); i += 1 }
        val out = new LinearModel(w, (1 - alpha) * center.b + alpha * a.b)
        out.n = avg.n; out.cumLoss = avg.cumLoss
        out
      case _ => avg // non-linear models / first round: plain average
    }
  }
}

/** Classic geometric monitoring (the GM side of the reference's GM/FGM
  * pair — Samoladas & Garofalakis, EDBT 2018 lineage, see PAPERS.md):
  * replicas whose parameter drift from the previous global stays inside
  * the threshold don't ship, saving communication; the global advances
  * only on shipped replicas (a PARTIAL fold — contrast [[FGM]], whose
  * global condition syncs all-or-nothing).
  */
final case class DriftGated(override val name: String, threshold: Double)
    extends Protocol {
  override def ships(replica: ModelState, prev: Option[ModelState]): Boolean =
    prev match {
      case None => true // round one: everyone ships
      case Some(pm) => Protocols.driftNorm(replica.params, pm.params) > threshold
    }

  override def aggregate(replicas: Seq[ModelState], prev: Option[ModelState],
      learner: OnlineLearner, stats: ProtocolStats,
      totalReplicas: Long = -1L): ModelState = {
    // Input may or may not be pre-filtered map-side; re-applying the ship
    // predicate is idempotent either way.
    val shipped = replicas.filter(ships(_, prev))
    val total = if (totalReplicas >= 0) totalReplicas else replicas.length.toLong
    if (shipped.isEmpty) prev match {
      // nothing shipped: the hub's view advances by zero
      case Some(pm) => Protocols.frozen(pm)
      case None => learner.merge(replicas, prev)
    }
    else {
      Protocols.charge(stats, shipped)
      val base = prev.toSeq.filterNot(_ => shipped.length.toLong == total)
      learner.merge(base ++ shipped, prev)
    }
  }
}

/** Functional geometric monitoring (the FGM side of the reference's GM/FGM
  * pair, MLNodeGenerator.scala:33,62; Samoladas & Garofalakis EDBT-2018
  * lineage) — the TWO-LEVEL protocol, not GM's per-worker gate. The safe
  * function is phi_i = ||X_i - E|| - T; by convexity of the norm,
  * sum(phi_i) <= 0 soundly bounds the drift of the AVERAGE model
  * (||avg X_i - E|| <= avg||X_i - E|| <= T), which per-worker thresholds
  * alone cannot (one big drifter can hide under k-1 workers' slack, and
  * conversely k near-threshold workers can each stay silent under GM while
  * their average drifts). Between syncs, workers ship 8-BYTE COUNTERS
  * c_i = floor(drift_i / theta) — theta the quantum, T/2 after a sync.
  * When sum(c_i) > k the hub polls the exact phi values (k more scalars):
  * psi >= 0 is a confirmed violation — ALL workers ship their models and
  * the global advances to their count-weighted average (never GM's
  * partial fold); psi < 0 is a false alarm — a new subround begins with
  * the rebalanced quantum theta' = -psi/(2k) and the global advances by
  * ZERO. T = 0 degenerates to Synchronous (every round a violation).
  *
  * The decision is GLOBAL (a sum over workers), so unlike GM it cannot be
  * a map-side [[ships]] predicate: [[Protocols.round]], the one round step
  * both trainers call, runs a real scalar phase first (frozen rounds move
  * k*8 bytes, never parameter vectors) and calls [[decide]]; a confirmed
  * violation then ships every replica through the same chunked path as
  * every other protocol, and the inherited [[aggregate]] folds them
  * (exactly the Synchronous merge). The quantum is driver-held mutable state
  * (like SSP's recent-globals window) — one double; FGM is deliberately a
  * PLAIN class, not a case class, so copy/equality can never silently
  * fork or discard that subround state (r9 advisor note).
  */
final class FGM(val threshold: Double) extends Protocol {
  def name = "FGM"

  /** Current quantum; reset to T/2 by every sync, rebalanced on a safe
    * poll. Driver-side state — [[decide]] only ever runs on the driver's
    * original instance; serialized executor copies never read it (their
    * [[ships]] is the default always-true). */
  private var thetaV: Double = threshold / 2.0
  def theta: Double = thetaV

  /** Worker-side counter: how many quanta of drift this replica has
    * accumulated since the last sync. */
  def counterOf(driftNorm: Double): Long =
    if (thetaV > 0) math.floor(driftNorm / thetaV).toLong else Long.MaxValue

  /** Hub decision from the per-worker drift norms (the scalar phase):
    * true = confirmed violation, sync everyone; false = global advances by
    * zero this round (counter sum under k, or a false alarm that
    * rebalanced the quantum). Charges the scalar traffic into
    * `bytesShipped` + `scalars` — never `blocks`, which stays a pure
    * parameter-block count (r9 advisor note). */
  def decide(drifts: Seq[Double], stats: ProtocolStats): Boolean = {
    val k = drifts.length
    stats.bytesShipped += k.toLong * 8L // counter messages
    stats.scalars += k.toLong
    val trigger = thetaV <= 0 ||
      drifts.foldLeft(0L)((a, dv) => a + counterOf(dv)) > k.toLong
    if (!trigger) false
    else {
      stats.bytesShipped += k.toLong * 8L // exact-phi poll
      stats.scalars += k.toLong
      val psi = drifts.foldLeft(0.0)((a, dv) => a + (dv - threshold))
      if (psi >= 0) { thetaV = threshold / 2.0; true }
      else { thetaV = -psi / (2.0 * k); false }
    }
  }
}

object Protocols {
  val names: Set[String] = Set("CentralizedTraining", "SingleLearner",
    "Asynchronous", "Synchronous", "SSP", "EASGD", "GM", "FGM")

  /** One protocol round: the hub's ship/merge step of every
    * [[RoundDriver]] round that does not fold in a tree. `replicas` holds
    * this round's trained replicas (at most one per partition), and
    * `window` the round's broadcast stale-read window, whose head is the
    * previous global; returns the next global, or None when no replica
    * trained.
    *
    * FGM with a global first runs its scalar phase: one drift norm per
    * worker leaves the executors, and [[FGM.decide]] either freezes the
    * round (zero parameter blocks move) or lets every replica ship. Every
    * other round ships through the map-side [[Protocol.ships]] gate —
    * replicas that stay home send a 1-row marker instead of O(params) —
    * as <=maxMsgParams-double [[ParamBlock]]s, which are collected,
    * reassembled in partition order and folded by [[Protocol.aggregate]].
    * The caller destroys `window` once `round` returns.
    */
  def round(replicas: RDD[ModelState],
      window: Broadcast[IndexedSeq[Option[ModelState]]], protocol: Protocol,
      learner: OnlineLearner, maxMsgParams: Int,
      stats: ProtocolStats): Option[ModelState] = {
    val global = window.value.head
    def ship(repl: RDD[ModelState]): Option[ModelState] = {
      val collected = repl.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        it.flatMap { m =>
          if (protocol.ships(m, window.value.head))
            ModelWire.chunk(m, maxMsgParams, pid).iterator.map(Option(_))
          else Iterator.single(Option.empty[ParamBlock])
        }
      }.collect()
      val blocks = collected.flatten.toSeq
      val shipped = ModelWire.reassemble(blocks,
        (dim, ps) => learner.init(dim).loadWire(ps))
      stats.blocks += blocks.length
      if (collected.isEmpty) None
      else Some(protocol.aggregate(shipped, global, learner, stats,
        totalReplicas =
          collected.count(_.isEmpty).toLong + blocks.count(_.idx == 0)))
    }
    (protocol, global) match {
      case (fgm: FGM, Some(g)) =>
        val repl = replicas.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val drifts = repl
            .map(m => driftNorm(m.params, window.value.head.get.params))
            .collect()
          if (drifts.isEmpty) None
          else if (!fgm.decide(drifts.toSeq, stats)) Some(frozen(g))
          else ship(repl)
        } finally repl.unpersist(blocking = false)
      case _ => ship(replicas)
    }
  }

  /** Zero-advance round: a copy of the previous global with ZERO per-round
    * counters. Returning prev itself would feed its RUNNING totals back
    * into [[RoundDriver]]'s `totalFitted += merged.n` accumulation,
    * double-counting fitted points on every consecutive zero-advance round
    * (the reference's hub only counts statistics that actually arrive). */
  def frozen(prev: ModelState): ModelState = {
    val keep = prev.deepCopy
    keep.n = 0L
    keep.cumLoss = 0.0
    keep
  }

  /** Charge shipped replicas to the ledger: one model and 8 bytes per
    * parameter each. */
  def charge(stats: ProtocolStats, shipped: Seq[ModelState]): Unit = {
    stats.modelsShipped += shipped.length
    stats.bytesShipped += shipped.map(_.params.length.toLong * 8L).sum
  }

  /** The l2 parameter drift shared by GM's ship gate, FGM's safe function,
    * and their oracles: ascending-index left-associated sum seeded 0.0
    * over the common prefix, then sqrt — the exact summation order the
    * ml29/ml30 DuckDB replays reproduce. */
  def driftNorm(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    math.sqrt(s)
  }

  def create(name: String, hp: Map[String, Double] = Map.empty): Protocol = name match {
    case "Synchronous" => Synchronous
    case "Asynchronous" => Asynchronous
    case "SSP" => SSP(hp.getOrElse("staleness", 1.0).toInt)
    case "CentralizedTraining" => CentralizedTraining
    case "SingleLearner" => SingleLearner
    case "EASGD" => EASGD(hp.getOrElse("alpha", 0.5))
    case "GM" => DriftGated("GM", hp.getOrElse("threshold", 0.0))
    case "FGM" => new FGM(hp.getOrElse("threshold", 0.01))
    case other => throw new IllegalArgumentException(s"unknown protocol: $other")
  }

  /** Reference protocol-resolution rules: HT / K-means force SingleLearner
    * (FlinkSpoke.scala:203-211); parallelism 1 forces CentralizedTraining
    * (FlinkSpoke.scala:214). A name, not an instance: [[RoundDriver]]
    * caches one instance per resolved name, so that FGM's quantum survives
    * between rounds. */
  def resolveName(requested: String, learnerName: String,
      parallelism: Int): String = {
    if (learnerName == "HT" || learnerName == "K-means") "SingleLearner"
    else if (parallelism <= 1) "CentralizedTraining"
    else requested
  }
}

/** The hub's driver side for one run of rounds, shared by both trainers:
  * the batch [[graft.pipeline.Trainer]] runs every round over the same
  * persisted data, [[graft.streaming.StreamingTrainer]] one round per
  * micro-batch. It holds the global with its running totals, the
  * [[ProtocolStats]] ledger, one protocol instance per resolved name and
  * the stale-read window.
  *
  * The instance cache is keyed by resolved NAME, not partition count: the
  * resolution rules still apply per [[resolve]] (a 1-partition batch
  * forces CentralizedTraining), but a stateful protocol (FGM's quantum)
  * keeps its subround state across rounds, and varying batch partitioning
  * cannot fork it.
  *
  * The stale-read window holds recent(k) = the global after round r-1-k,
  * newest first, and partition pid reads lag pid mod (s+1): SSP's bounded
  * stale reads (see [[SSP]]), with [[Asynchronous]] as the s = MaxValue
  * limit and every other protocol at s = 0. It costs min(s, W-1)+1 models
  * of driver memory — the price of simulating stale reads on a round
  * engine; production s is small.
  */
final class RoundDriver(spec: PipelineSpec, init: Option[ModelState]) {
  val learner: OnlineLearner = Learners.create(spec.learner, spec.learnerHp)
  val stats = ProtocolStats()
  private var protocols = Map.empty[String, Protocol]
  private var current: Option[Protocol] = None
  private val recent = mutable.ArrayDeque[Option[ModelState]](init)
  private var roundsRun = 0L
  private var totalFitted = 0L
  private var totalCumLoss = 0.0

  /** The global after the last round: counters are the running totals. */
  def global: Option[ModelState] = recent.head

  /** The protocol the last [[resolve]] picked. */
  def protocol: Option[Protocol] = current

  def protocolName: String = current.fold(spec.protocol)(_.name)

  /** Resolve the protocol on `data`'s partition count (before any
    * coalesce, so a requested SingleLearner keeps its name) and coalesce
    * `data` to the protocol's maxParallelism. The next [[round]]s run this
    * protocol. */
  def resolve[T](data: RDD[T]): RDD[T] = {
    val name = Protocols.resolveName(spec.protocol, learner.name,
      data.getNumPartitions)
    val p = protocols.getOrElse(name, Protocols.create(name, spec.protocolHp))
    protocols += name -> p
    current = Some(p)
    p.maxParallelism match {
      case Some(m) if data.getNumPartitions > m => data.coalesce(m)
      case _ => data
    }
  }

  /** One round over `data`, already [[resolve]]d. Partition pid trains a
    * replica seeded from the window at its lag, or init'd from its first
    * row when that global is None, on the rows its `HeldOutRing(testCap)`
    * lets through; an empty partition trains none. The replicas fold
    * through [[Protocols.round]], or [[treeMerge]] for a plain average over
    * more than `treeMergeThreshold` partitions. Returns the next global,
    * counters set to the running totals, or None when no partition had a
    * row. */
  def round(data: RDD[(Array[Double], Double)],
      testCap: Int): Option[ModelState] = {
    val protocol = current.get
    val numParts = data.getNumPartitions
    MiniBatchKMeans.requireSharedSeed(learner, numParts, global.isDefined)
    val s = protocol match {
      case SSP(bound) => bound
      case Asynchronous => Int.MaxValue
      case _ => 0
    }
    val l = learner
    val fresh = roundsRun // round of the freshest global in the window
    val bcSeeds = data.sparkContext.broadcast(recent.toIndexedSeq)
    val replicas = data.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val seeds = bcSeeds.value
      // pid < numParts, so s >= numParts-1 (incl. MaxValue) means the
      // modulus never bites — skip it to dodge s+1 overflow
      val lag = math.min(if (s >= numParts - 1) pid else pid % (s + 1),
        seeds.length - 1)
      var m = seeds(lag).map(_.deepCopy).orNull
      if (m != null) { m.n = 0L; m.cumLoss = 0.0 } // totals live on the driver
      val ring = new HeldOutRing[(Array[Double], Double)](testCap)
      var rows = 0L
      it.foreach { p =>
        if (m == null) m = l.init(p._1.length) // dims from the data
        ring.offer(p).foreach { case (x, y) => l.fit(m, x, y) }
        rows += 1
      }
      if (rows == 0) Iterator.empty
      else {
        m.seedRound = fresh - lag
        l.finish(m)
        Iterator.single(m)
      }
    }
    // SSP qualifies for the tree: its merge is the same average, and no
    // replica can exceed the staleness bound (seeding clamps lag to s), so
    // the admit-all fold coincides with SSP.aggregate
    val tree =
      Set("Synchronous", "Asynchronous", "SSP").contains(protocol.name) &&
        learner.mergeIsAssociative && numParts > spec.treeMergeThreshold
    val merged =
      try {
        if (tree) treeMerge(replicas)
        else Protocols.round(replicas, bcSeeds, protocol, learner,
          spec.maxMsgParams, stats)
      } finally bcSeeds.destroy()
    merged.foreach { m =>
      totalFitted += m.n
      totalCumLoss += m.cumLoss
      m.n = totalFitted
      m.cumLoss = totalCumLoss
    }
    // the window advances on a no-merge round too, so that recent(k) stays
    // "the global after round r-k"
    recent.prepend(merged.orElse(global))
    val window = math.min(s.toLong, numParts - 1L) + 1
    while (recent.length > window) recent.removeLast()
    roundsRun += 1
    merged
  }

  /** The log-depth merge of a plain average: pairwise merges in a
    * `treeAggregate`, so the driver never holds W replicas at once
    * (SCALE.md). Charges the ledger as [[Protocols.round]] would: one
    * model and its bytes per replica, which enters the tree once as
    * ceil(payload / maxMsgParams) transport blocks. */
  private def treeMerge(replicas: RDD[ModelState]): Option[ModelState] = {
    type Part = Option[(ModelState, Long, Long)]
    val l = learner
    val add: (Part, Part) => Part = {
      case (Some((ma, ka, ba)), Some((mb, kb, bb))) =>
        Some((l.merge(Seq(ma, mb)), ka + kb, ba + bb))
      case (a, b) => a.orElse(b)
    }
    replicas.map(r => Option((r, 1L, r.params.length.toLong * 8L)))
      .treeAggregate(Option.empty[(ModelState, Long, Long)])(add, add)
      .map { case (m, k, bytes) =>
        stats.modelsShipped += k
        stats.bytesShipped += bytes
        stats.blocks += k *
          ((m.wireParams.length.toLong + spec.maxMsgParams - 1) /
            spec.maxMsgParams).max(1L)
        m
      }
  }
}
