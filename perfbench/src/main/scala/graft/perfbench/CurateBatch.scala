package graft.perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

final case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)
final case class VecRow(vec_id: Long, embedding: Array[Float], label: Int)

/** Seeded `documents` / `embeddings` tables in the fixture schema with
  * planted duplicates. Ids below half the table are always originals; an
  * id above may copy one of them — exactly (documents), with token edits
  * (near-duplicate documents) or with a small perturbation (near-duplicate
  * vectors; every vector with id < 16, the similarity ops' queries, gets
  * one). Vectors sit around `labels` cluster centres, one per label.
  */
final class Corpus(seed: Long, a: Args, docs: Long, vecs: Long) extends Serializable {
  private val vocab = a.int("vocab")
  private val minTok = a.int("min_tokens")
  private val maxTok = a.int("max_tokens")
  private val exactShare = a.dbl("exact_dup_share")
  private val nearShare = a.dbl("near_dup_share")
  private val vecShare = a.dbl("vec_dup_share")
  private val edits = a.int("edits")
  private val labels = a.int("labels")
  private val dim = 64
  private val langs = Array("en", "en", "de", "fr", "es", "zh")
  private val centres = {
    val r = new java.util.SplittableRandom(seed * 977L + 1L)
    Array.fill(labels * dim)(r.nextGaussian())
  }

  private def rng(stream: Long, i: Long) =
    new java.util.SplittableRandom(Mix.hash(seed, stream, i))

  private def baseTokens(j: Long): Array[String] = {
    val r = rng(10L, j)
    Array.fill(minTok + r.nextInt(maxTok - minTok + 1)) {
      val u = r.nextDouble()
      "w" + (u * u * vocab).toInt
    }
  }

  /** Kind of document i ("base", "exact" or "near") and the original it
    * copies (itself for a base document).
    */
  def docKind(i: Long): (String, Long) =
    if (i < docs / 2) ("base", i)
    else {
      val r = rng(11L, i)
      val u = r.nextDouble()
      val j = java.lang.Math.floorMod(r.nextLong(), docs / 2)
      if (u < exactShare) ("exact", j)
      else if (u < exactShare + nearShare) ("near", j)
      else ("base", i)
    }

  def doc(i: Long): DocRow = {
    val (kind, j) = docKind(i)
    val toks = baseTokens(j)
    if (kind == "near") {
      val r = rng(12L, i)
      (1 to edits).foreach { _ =>
        val p = r.nextInt(toks.length)
        toks(p) = "x" + r.nextInt(vocab)
      }
    }
    val text = toks.mkString(" ")
    val r = rng(13L, i)
    DocRow(i, text, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}", text.length.toLong)
  }

  /** Original copied by vector i (itself when it is not a copy). */
  def vecOrigin(i: Long): Long =
    if (i < vecs / 2) i
    else if (i - vecs / 2 < 16) i - vecs / 2
    else {
      val r = rng(21L, i)
      if (r.nextDouble() < vecShare) java.lang.Math.floorMod(r.nextLong(), vecs / 2) else i
    }

  private def baseVec(j: Long): (Array[Double], Int) = {
    val r = rng(22L, j)
    val label = r.nextInt(labels)
    (Array.tabulate(dim)(d => centres(label * dim + d) + 0.35 * r.nextGaussian()), label)
  }

  def vec(i: Long): VecRow = {
    val j = vecOrigin(i)
    val (v, label) = baseVec(j)
    if (j != i) {
      val r = rng(23L, i)
      v.indices.foreach(d => v(d) += 0.02 * r.nextGaussian())
    }
    VecRow(i, v.map(_.toFloat), label)
  }

  /** Planted clusters: original -> every document that copies it. */
  def docClusters: Map[Long, Seq[(Long, String)]] =
    (docs / 2 until docs).map(i => i -> docKind(i)).collect {
      case (i, (k, j)) if k != "base" => j -> (i, k)
    }.groupBy(_._1).map { case (j, v) => j -> v.map(_._2) }
}

/** `curate_batch`: a closed loop over a fixed operator list on seeded
  * tables — dedup, similarity search and the composed curation pipeline
  * through SparkEntry.queries. Each op writes its result as parquet;
  * session caches are cleared between ops, outside the timed calls.
  */
object CurateBatch extends Workload {
  final case class Prepared(tables: Path, corpus: Corpus, docs: Long, vecs: Long)

  private def ops(a: Args): Seq[String] = a.params("ops").split(",").toSeq

  private def runOp(spark: SparkSession, tables: Path, out: Path, op: String): Unit =
    SparkEntry.queries(op)(spark, tables.toString).write.mode("overwrite")
      .parquet(out.resolve(op).toString)

  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }

  /** Write one table as a single parquet file `<dir>/<name>.parquet`. */
  private def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_$name")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Fs.dataFiles(tmp).filter(_.toString.endsWith(".parquet"))
    require(part.length == 1, s"$name staged as ${part.length} files")
    Files.move(part.head, dir.resolve(s"$name.parquet"))
    Fs.rmrf(tmp)
  }

  def setup(spark: SparkSession, a: Args, dir: Path): Prepared = {
    import spark.implicits._
    val docs = a.params("docs").toLong
    val vecs = a.params("vecs").toLong
    val tables = Fs.mkdirs(dir.resolve("tables"))
    val corpus = new Corpus(a.seed, a, docs, vecs)
    writeTable(spark.range(0L, docs, 1L, a.cpus).as[Long].map(corpus.doc).toDF(), tables, "documents")
    writeTable(spark.range(0L, vecs, 1L, a.cpus).as[Long].map(corpus.vec).toDF(), tables, "embeddings")
    // the shared IVF quantizer is a built-once artifact, as in graft.Bench
    Similarity.warmSharedArtifacts(spark, tables.toString)
    // warm-up: the first pass in a fresh JVM pays class loading, code
    // generation and JIT; its ops run concurrently (twice as fast as in
    // turn), as only their warming matters
    val w0 = System.nanoTime()
    ops(a).map(op => scala.concurrent.Future(runOp(spark, tables, dir.resolve("warm_out"), op))(
      scala.concurrent.ExecutionContext.global))
      .foreach(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(120, "s")))
    cleanup(spark)
    System.err.println(f"[perfbench] curate_batch: warm-up pass ${(System.nanoTime() - w0) / 1e9}%.1f s")
    Prepared(tables, corpus, docs, vecs)
  }

  def measure(spark: SparkSession, a: Args, p: Prepared, probes: Probes): PassResult = {
    val opMs = ArrayBuffer[(String, Double)]()
    val passMs = ArrayBuffer[Double]()
    val out = p.tables.getParent.resolve(s"out_${System.nanoTime()}")
    // closed loop: a fixed number of whole passes over the op list; each op
    // writes its result as parquet, and the last pass's results are checked
    // afterwards
    probes.tasks.settle()
    val jobs0 = probes.tasks.snapshot()
    val passes = a.int("passes")
    // each op's output is ready when its call ends: its latency is the time
    // from the pass start to then
    val readyMs = ArrayBuffer[Double]()
    (1 to passes).foreach { _ =>
      var pass = 0.0
      Trace.span("curate_batch.pass") {
        ops(a).foreach { op =>
          val t0 = System.nanoTime()
          Trace.span(s"operators.$op")(runOp(spark, p.tables, out, op))
          val ms = (System.nanoTime() - t0) / 1e6
          opMs += op -> ms; pass += ms; readyMs += pass
          cleanup(spark)
        }
      }
      passMs += pass
    }
    val busyMs = passMs.sum
    probes.tasks.settle()
    val jobs1 = probes.tasks.snapshot()
    System.err.println(s"[perfbench] curate_batch: ${passMs.length} passes, ms: " +
      passMs.map(_.round).mkString(" ") + "; per op: " +
      opMs.groupBy(_._1).map { case (k, v) => s"$k=${Stats.median(v.map(_._2).toSeq).round}" }.mkString(" "))

    // ---- correctness, outside the timed window
    val results = ops(a).map(op => op -> spark.read.parquet(out.resolve(op).toString)).toMap
    val clusters = p.corpus.docClusters
    val origin: Map[Long, Long] = clusters.toSeq.flatMap { case (j, cs) =>
      (j -> j) +: cs.map(_._1 -> j) }.toMap
    val checks = ArrayBuffer[Check]()
    val planted = clusters.toSeq.flatMap { case (j, cs) =>
      cs.collect { case (i, "near") => (j, i) } }.toSet
    var recall = Double.NaN
    results.foreach { case (op, df) =>
      op match {
        case "d01_exact_dedup" =>
          val got = df.filter(col("n_copies") > 1)
            .select("keep_doc_id", "n_copies").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
          val want = clusters.toSeq.map { case (j, cs) =>
            j -> (1L + cs.count(_._2 == "exact")) }.filter(_._2 > 1).toSet
          checks += Check(s"planted.$op", want.size.max(1), (got diff want).size + (want diff got).size,
            s"groups=${got.size} planted=${want.size}")
        case "d03_minhash_lsh" =>
          val got = df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
          val stray = got.count { case (x, y) => origin.get(x).isEmpty || origin.get(x) != origin.get(y) }
          val found = got.count { case (x, y) => planted.contains((x, y)) }
          recall = found.toDouble / planted.size
          checks += Check(s"planted.$op", got.length.max(1), stray,
            s"pairs=${got.length} outside planted clusters=$stray recall=$recall")
        case "s01_topk_bruteforce" =>
          val top1 = df.filter(col("rk") === 1).select("q_id", "vec_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1))
          val bad = top1.count { case (q, v) => p.corpus.vecOrigin(v) != q }
          checks += Check(s"planted.$op", 16, bad + (16 - top1.length), s"queries=${top1.length}")
        case _ => ()
      }
    }
    val oracle = ops(a).flatMap(op => SparkEntry.oracleSql.get(op).map(sql =>
      (op, out.resolve(op).toString, sql)))

    val docsDone = p.docs * passMs.length
    val e2e = Seq(
      Metric("rows_per_s", docsDone / (busyMs / 1000.0), "1/s"),
      // a batch here is one pass of the op list over the corpus
      Metric("batch_ms.p50", Stats.median(passMs.toSeq), "ms"),
      Metric("latency_ms.p50", Stats.median(readyMs.toSeq), "ms"),
      Metric("latency_ms.p99", Stats.pct(readyMs.toSeq, 99), "ms"),
      Metric("quality", recall, "ratio"))

    val layers = if (!Trace.on) Nil else {
      val ss = Trace.all
      val n = passMs.length
      ops(a).map(op => Metric(s"operators.$op.ms",
        Trace.selfMs(ss, s"operators.$op") / n, "ms")) ++ Seq(
        Metric("operators.shuffle_bytes", (jobs1.shuffleBytes - jobs0.shuffleBytes).toDouble / n, "bytes"),
        Metric("operators.jobs", (jobs1.jobs - jobs0.jobs).toDouble / n, "count"),
        Metric("operators.parallel_fraction", (jobs1.taskMs - jobs0.taskMs) / busyMs, "ratio"))
    }
    PassResult(e2e, layers, checks.toSeq, oracle, p.tables.toString)
  }
}
