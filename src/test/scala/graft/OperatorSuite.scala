package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level golden tests beyond the DuckDB oracle gate. */
class OperatorSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  test("connected components converges past any fixed iteration budget") {
    import spark.implicits._
    // A 40-edge path (diameter 40) plus a disjoint triangle and a singleton
    // pair: the kernel must run to the true fixpoint, not a fixed round
    // budget.
    val path = (0L until 40L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pair = Seq((200L, 201L))
    val edges = (path ++ tri ++ pair).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 40L).forall(labels(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(labels(_) == 100L))
    assert(Seq(200L, 201L).forall(labels(_) == 200L))
  }

  test("large-star/small-star CC agrees with a driver-side union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(424242)
    for (trial <- 1 to 4) {
      val n = 60 + trial * 25
      val edges = (0 until n).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (x, y) => x != y }
      // reference: union-find over the same edges, label = component min
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
      val uf = parent.keys.toSeq.map(x => x -> find(x)).toMap
      val ls = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ls == uf, s"trial $trial: star-contraction disagrees")
    }
  }

  test("star-contraction CC handles a celebrity node (degree 5000)") {
    import spark.implicits._
    // one hub connected to everyone + a disjoint pair; the join-based star
    // steps never materialize the hub's neighborhood as a single array
    val edges = (1L to 5000L).map(i => (0L, i)) ++ Seq((900001L, 900002L))
    val labels = Dedup.connectedComponents(
      edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 5003)
    assert((0L to 5000L).forall(labels(_) == 0L))
    assert(labels(900001L) == 900001L && labels(900002L) == 900001L)
  }

  test("bench short ids are unique and parse-safe for the full inventory") {
    // every query's short id, the prefix before its first underscore
    // (`q01`, `st08`), names it alone across the whole inventory
    val names = SparkEntry.queries.keys.toSeq
    val clashes = names.groupBy(_.takeWhile(_ != '_')).filter(_._2.sizeIs > 1)
    assert(clashes.isEmpty, s"short-id collision: $clashes")
  }

  test("every query has either an oracle or a documented rows-only check") {
    val qs = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(oracles.subsetOf(qs))
    // no rows-only residue: every query — including the streaming
    // lifecycles and training curves — is hash-gated, either directly or
    // through oracle-reproducible invariants
    val rowsOnly = qs -- oracles
    assert(rowsOnly.isEmpty,
      s"query without an oracle: ${rowsOnly.mkString(",")}")
  }

  test("md5-prefix idiom is strength-reduced to the native expression") {
    // spark.range (not a LocalRelation — ConvertToLocalRelation would
    // evaluate a literal projection before user rules are inspected)
    val df = spark.range(3).selectExpr("concat('doc_', id) AS s")
      .selectExpr("s", "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint) AS h")
    assert(df.queryExecution.optimizedPlan.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.Md5Prefix32])),
      "optimizer rule did not fire")
    df.collect().foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(r.getString(0).getBytes("UTF-8"))
      val expect = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      assert(r.getLong(1) == expect)
    }
  }

  test("shingle DF cap is a no-op on the fixture but bounds a hot-shingle corpus") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // (a) fixture invariance: no fixture shingle exceeds the cap, so the
    // capped set is identical and d02/d03/d08 results are unchanged.
    val docs = T.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .withColumn("p", explode(expr("sequence(1, size(t) - 4)")))
      .select(col("doc_id"), expr("concat_ws(' ', slice(t, p, 5))").as("sh"))
      .distinct().cache()
    val n = docs.count()
    assert(Dedup.capShingleDf(docs, Dedup.ShingleDfCap).count() == n,
      "cap dropped fixture shingles — d02/d03/d08 results would change")
    // (b) hot-shingle corpus: 200 docs sharing one boilerplate shingle.
    // Uncapped, that single key contributes 200*199/2 candidate pairs; the
    // cap removes it entirely, leaving zero candidates.
    val hot = (0L until 200L).map(i => (i, "the same five word header"))
    val uniq = (0L until 200L).flatMap(i => (0 until 3).map(j => (i, s"unique $i $j shingle body")))
    val sh = (hot ++ uniq).toDF("doc_id", "sh").cache()
    def candidates(x: org.apache.spark.sql.DataFrame): Long =
      x.as("a").join(x.as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .count()
    assert(candidates(sh) == 200L * 199L / 2)
    assert(candidates(Dedup.capShingleDf(sh, Dedup.ShingleDfCap)) == 0L,
      "hot shingle survived the DF cap")
  }

  test("decontamination flags only corpus docs and never the benchmark slice") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d11_decontamination")(spark, "/root/testdata/sf0.001")
      .cache()
    val benchIds = T.documents(spark, "/root/testdata/sf0.001")
      .filter(col("source") === "src19").select("doc_id")
    assert(out.join(benchIds, "doc_id").count() == 0,
      "a benchmark doc flagged itself")
    val bad = out.filter(col("contamination") <= 0.0 || col("contamination") > 1.0)
    assert(bad.count() == 0, "contamination ratio outside (0, 1]")
  }

  test("keep-best-per-cluster keeps a member with the cluster's max quality") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("d12_keep_best_per_cluster")(spark, "/root/testdata/sf0.001")
      .cache()
    val docs = T.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("n_chars"))
    // the keeper exists, has exactly the reported quality, and it is the max
    val joined = out.join(docs, out("keep_doc_id") === docs("doc_id"))
    assert(joined.count() == out.count(), "keeper not found in documents")
    assert(joined.filter(col("n_chars") =!= col("keep_n_chars")).count() == 0)
    assert(out.filter(col("size") =!= col("n_dropped") + 1).count() == 0)
  }

  test("PII mask leaves no digit and collapses names to one masked form") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("t13_pii_mask")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    for (r <- out) {
      assert(r.getAs[Boolean]("no_digit_survives"))
      assert(r.getAs[Long]("masked_forms") == 1L,
        "customer names should collapse to a single masked pattern")
      // Customer#%09d — exactly 9 digits redacted per row
      assert(r.getAs[Long]("digits_redacted") == 9L * r.getAs[Long]("n"))
    }
  }

  test("nearest_centroids selection matches a full sort, ties to lower index") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    val dim = 4
    for (trial <- 1 to 20) {
      val k = 1 + rnd.nextInt(12)
      val cents = Array.fill(k * dim)(math.floor(rnd.nextDouble() * 4) / 2.0)
      val v = Array.fill(dim)(math.floor(rnd.nextDouble() * 4) / 2.0)
      val nprobe = 1 + rnd.nextInt(4)
      val got = graft.functions.VectorOps.nearestCentroids(
        new GenericArrayData(v), new GenericArrayData(cents), dim, nprobe)
        .toIntArray().toSeq
      val expect = (0 until k).map { c =>
        var s = 0.0
        for (i <- 0 until dim) { val d = cents(c * dim + i) - v(i); s += d * d }
        (s, c)
      }.sortBy(identity).take(math.min(nprobe, k)).map(_._2)
      assert(got == expect, s"trial $trial k=$k nprobe=$nprobe: $got vs $expect")
    }
  }

  test("HLL partial-sketch union is shard-layout independent and within bounds") {
    import org.apache.spark.sql.functions._
    val li = T.lineitem(spark, "/root/testdata/sf0.001")
    def merged(shards: Int): Long =
      li.groupBy((col("l_orderkey") % shards).as("shard"))
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head().getLong(0)
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val est = Seq(2, 8, 16, 32).map(merged)
    // the union depends only on the data, not the shard layout ...
    assert(est.distinct.length == 1, s"layout-dependent union: $est")
    // ... and stays inside the HLL error bound of the exact count
    assert(math.abs(est.head - exact).toDouble / exact < 0.05,
      s"sketch ${est.head} vs exact $exact")
  }

  test("approximate sketches stay within error bounds of exact answers") {
    val rows = SparkEntry.queries("q37_approx_sketches")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("approx_within_rsd"), r.toString)
      assert(r.getAs[Boolean]("p50_within_gk_bound"), r.toString)
      assert(r.getAs[Boolean]("p99_within_gk_bound"), r.toString)
      assert(r.getAs[Long]("exact_parts") > 0)
    }
    // Tight 1-sigma (5% rsd) expectation on the SHIPPED fixtures only — the
    // oracle-hashed boolean gates at 3 sigma (0.15) because rsd is a standard
    // deviation, not a bound; this non-gating check is where the tight
    // expectation lives, validated per-fixture.
    import org.apache.spark.sql.functions._
    val tight = T.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("e"))
      .collect()
    tight.foreach { r =>
      val a = r.getAs[Long]("a").toDouble; val e = r.getAs[Long]("e").toDouble
      assert(math.abs(a - e) / e <= 0.05, s"1-sigma drift on shipped fixture: $r")
    }
  }

  test("sequence packing matches a sequential brute-force per source") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = T.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").split(" ", -1).length.toLong))
    // brute force: concatenate per source in doc_id order, chunk at 128
    val expected = docs.groupBy(_._2).flatMap { case (src, ds) =>
      var off = 0L
      ds.sortBy(_._1).map { case (_, _, n) =>
        val seq = off / 128; val endSeq = (off + n - 1) / 128
        off += n
        (src, seq, n, endSeq > seq)
      }.groupBy { case (_, seq, _, _) => seq }
        .map { case (seq, rows) =>
          (src, seq) -> (rows.size.toLong, rows.map(_._3).sum,
            rows.count(_._4).toLong)
        }
    }.toMap
    val got = SparkEntry.queries("t14_sequence_pack")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_spanning"))).toMap
    assert(got == expected)
  }

  test("hashed classifier score matches a local md5 reimplementation") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    def w(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % 1001L) - 500L
    }
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val out = SparkEntry.queries("t15_hashed_classifier")(spark, sf).collect()
    assert(out.length == docs.size)
    for (r <- out) {
      val toks = docs(r.getAs[Long]("doc_id")).split(" ", -1)
      val num = toks.map(w).sum
      assert(r.getAs[Long]("score_num") == num)
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(r.getAs[Boolean]("keep") == (num > 0))
      assert(math.abs(r.getAs[Double]("score")) <= 0.5)
    }
  }

  test("boilerplate coverage matches a brute-force top-K gram scrub") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val grams = docs.flatMap { case (id, ts) =>
      (0 to ts.length - 3).map(i => (id, i, ts.slice(i, i + 3).mkString(" ")))
    }
    val topK = grams.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size)
      .toSeq.sortBy { case (g, df) => (-df, g) }.take(150).map(_._1).toSet
    val expected = docs.map { case (id, ts) =>
      val covered = grams.filter(g => g._1 == id && topK(g._3))
        .flatMap(g => g._2 to g._2 + 2).distinct.size.toLong
      id -> (ts.length.toLong, covered)
    }.toMap
    val got = SparkEntry.queries("d13_boilerplate_coverage")(spark, sf).collect()
    assert(got.length == expected.size)
    for (r <- got) {
      val (n, cov) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Long]("covered") == cov)
      assert(r.getAs[Double]("coverage_frac") == cov.toDouble / n.toDouble)
    }
  }

  test("token rarity matches a sequential local fold bit-for-bit") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" ", -1))
    val counts = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong)
    val total = counts.values.sum.toDouble
    val expected = docs.map { case (id, ts) =>
      var acc = 0.0
      ts.foreach(t => acc += total / counts(t).toDouble)
      id -> acc / ts.length.toDouble
    }.toMap
    val got = SparkEntry.queries("t16_token_rarity")(spark, sf).collect()
    assert(got.length == expected.size)
    for (r <- got)
      assert(r.getAs[Double]("rarity") == expected(r.getAs[Long]("doc_id")),
        s"doc ${r.getAs[Long]("doc_id")}: fold order must be position order")
  }

  test("corpus curation pipeline matches a sequential five-stage brute force") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    def w(tok: String): Long =
      (java.lang.Long.parseLong(md5hex(tok).substring(0, 8), 16) % 1001L) - 500L
    val docs = T.documents(spark, sf)
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("lang"), r.getAs[String]("text")))
    def shingles(text: String): Set[String] = {
      val ts = text.split(" ", -1)
      if (ts.length < 5) Set.empty
      else (0 to ts.length - 5).map(i => ts.slice(i, i + 5).mkString(" ")).toSet
    }
    // 1. lang + classifier keep; 2. exact dedup (min doc_id per md5(text))
    val surv1 = docs.filter(d => d._3 == "en" && d._4.split(" ", -1).map(w).sum > 0)
    val dedup = surv1.groupBy(d => md5hex(d._4)).values.map(_.minBy(_._1)).toSeq
    // 3. decontamination vs all src19 shingles, >=5% overlap dropped
    val bench = docs.filter(_._2 == "src19").flatMap(d => shingles(d._4)).toSet
    val clean = dedup.filter(_._2 != "src19").filter { d =>
      val sh = shingles(d._4)
      sh.isEmpty || sh.count(bench).toDouble / sh.size < 0.05
    }
    // 4. quota 20 per source by (md5(doc_id), doc_id); 5. pack at 128
    val expected = clean.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.sortBy(d => (md5hex(d._1.toString), d._1)).take(20)
        .sortBy(_._1)
      var off = 0L
      val seqs = kept.map { d =>
        val n = d._4.split(" ", -1).length.toLong
        val seq = off / 128; off += n; (seq, n)
      }
      src -> (kept.size.toLong, seqs.map(_._1).distinct.size.toLong,
        seqs.map(_._2).sum)
    }
    val got = SparkEntry.queries("p01_corpus_curation")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("docs_in"), r.getAs[Long]("docs_kept"),
          r.getAs[Long]("n_sequences"), r.getAs[Long]("n_tokens"))).toMap
    val docsIn = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(got.keySet == docsIn.keySet)
    for ((src, (in, kept, nseq, ntok)) <- got) {
      assert(in == docsIn(src))
      val (ekept, eseq, etok) = expected.getOrElse(src, (0L, 0L, 0L))
      assert((kept, nseq, ntok) == (ekept, eseq, etok),
        s"$src: got ($kept,$nseq,$ntok) expected ($ekept,$eseq,$etok)")
    }
  }

  test("streaming curation equals the batch filter+dedup, run to run") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val batch = T.documents(spark, sf)
      .filter(col("lang") === "en")
      .withColumn("score_num", expr(
        "aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, t) -> " +
          "acc + (CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1001) - 500)"))
      .filter(col("score_num") > 0L)
      .groupBy("source")
      .agg(countDistinct(md5(col("text").cast("binary"))).as("docs_kept"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("docs_kept"))
      .toMap
    def run() = SparkEntry.queries("st20_stream_curation")(spark, sf).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("docs_kept")).toMap
    val first = run()
    assert(first == batch)
    // second run reuses the memoized staging with a fresh checkpoint —
    // a stale-offset resume would emit nothing
    assert(run() == batch)
  }

  test("hash split matches a local md5 bucket recompute and is disjoint") {
    val sf = "/root/testdata/sf0.001"
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100L
    }
    def splitOf(b: Long): String =
      if (b < 90) "train" else if (b < 95) "val" else "test"
    val docs = T.documents(spark, sf).select("doc_id", "source", "n_chars")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars")))
    val expected = docs.groupBy(d => (d._2, splitOf(bucket(d._1))))
      .map { case (k, ds) => k -> (ds.length.toLong, ds.map(_._3).sum) }
    val totals = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("t18_hash_split")(spark, sf).collect()
    assert(got.length == expected.size)
    for (r <- got) {
      val k = (r.getAs[String]("source"), r.getAs[String]("split"))
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_chars")) == expected(k))
      assert(r.getAs[Long]("n_total") == totals(k._1))
      assert(r.getAs[Boolean]("buckets_disjoint"))
    }
    // disjoint & exhaustive: per-source split sizes sum to the source total
    for ((src, tot) <- totals)
      assert(got.filter(_.getAs[String]("source") == src)
        .map(_.getAs[Long]("n_docs")).sum == tot)
  }

  test("domain mixture weights match a sequential sorted-source fold bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val docs = T.documents(spark, sf).select("source", "text").collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[String]("text").split(" ", -1).length.toLong)
    val counts = docs.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val total = counts.values.sum
    val sorted = counts.toSeq.sortBy(_._1)
    var z = 0.0
    sorted.foreach { case (_, c) => z += math.sqrt(c.toDouble / total.toDouble) }
    val got = SparkEntry.queries("t19_domain_mixture")(spark, sf).collect()
    assert(got.length == counts.size)
    var wsum = 0.0
    for (r <- got) {
      val src = r.getAs[String]("source")
      val p = counts(src).toDouble / total.toDouble
      assert(r.getAs[Long]("n_tokens") == counts(src))
      assert(r.getAs[Double]("p") == p, s"$src: p not bit-exact")
      assert(r.getAs[Double]("w") == math.sqrt(p) / z, s"$src: w not bit-exact")
      wsum += r.getAs[Double]("w")
    }
    assert(math.abs(wsum - 1.0) < 1e-12, "mixture weights must sum to ~1")
  }

  test("chunk windows tile every document with stride 16 and no gaps") {
    val sf = "/root/testdata/sf0.001"
    val lens = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ", -1).length.toLong).toMap
    val got = SparkEntry.queries("t20_chunk_windows")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"),
        r.getAs[Long]("start"), r.getAs[Long]("chunk_len"),
        r.getAs[Boolean]("is_full")))
    val byDoc = got.groupBy(_._1)
    assert(byDoc.keySet == lens.keySet)
    for ((id, rows) <- byDoc) {
      val n = lens(id)
      val expStarts = (1L to n by 16L).toSeq
      assert(rows.map(_._3).sorted.toSeq == expStarts, s"doc $id: starts")
      for ((_, idx, start, len, full) <- rows) {
        assert(idx == (start - 1) / 16)
        assert(len == math.min(32L, n - start + 1))
        assert(full == (len == 32L))
      }
      // coverage: the union of windows is exactly [1, n]
      val covered = rows.flatMap(r => r._3 until (r._3 + r._4)).toSet
      assert(covered == (1L to n).toSet, s"doc $id: coverage gap")
    }
  }

  test("int8 quantization codes and error bounds match a local recompute") {
    val sf = "/root/testdata/sf0.001"
    val vecs = T.embeddings(spark, sf).select("vec_id", "label", "embedding")
      .collect()
      .map(r => (r.getAs[Int]("label"),
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray))
    val perLabel = vecs.groupBy(_._1).map { case (lbl, vs) =>
      var qmin = Long.MaxValue; var qmax = Long.MinValue
      var errOk = true; var nonzero = true
      vs.foreach { case (_, xs) =>
        val maxabs = xs.foldLeft(0.0)((a, x) => math.max(a, math.abs(x)))
        if (maxabs <= 0.0) nonzero = false
        val q = xs.map(x => math.floor(x * 127.0 / maxabs).toLong)
        qmin = math.min(qmin, q.min); qmax = math.max(qmax, q.max)
        val errmax = xs.zip(q).map { case (x, v) =>
          math.abs(x - v.toDouble * maxabs / 127.0)
        }.max
        if (errmax * 127.0 > maxabs * 1.000001) errOk = false
      }
      lbl -> (vs.length.toLong, qmin, qmax, errOk, nonzero)
    }
    val got = SparkEntry.queries("s05_embed_quantize")(spark, sf).collect()
    assert(got.length == perLabel.size)
    for (r <- got) {
      val (n, qmin, qmax, errOk, nonzero) = perLabel(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_vecs") == n)
      assert(r.getAs[Long]("q_min") == qmin && r.getAs[Long]("q_max") == qmax)
      assert(r.getAs[Boolean]("all_in_range"))
      assert(r.getAs[Boolean]("err_bounded") == errOk && errOk)
      assert(r.getAs[Boolean]("all_nonzero") == nonzero && nonzero)
    }
  }

  test("fuzzy decontamination matches a local minhash-band recompute") {
    val sf = "/root/testdata/sf0.001"
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }
    val docs = T.documents(spark, sf).select("doc_id", "source", "text")
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    def shingles(text: String): Set[String] = {
      val ts = text.split(" ", -1)
      if (ts.length < 5) Set.empty
      else (0 to ts.length - 5).map(i => ts.slice(i, i + 5).mkString(" ")).toSet
    }
    val shAll = docs.map(d => d._1 -> shingles(d._3)).toMap
    // DF cap (64): count docs per shingle, drop hot ones (fixture: no-op)
    val dfCount = shAll.values.flatten.groupBy(identity).view.mapValues(_.size)
    val sh = shAll.view.mapValues(_.filter(s => dfCount(s) <= 64)).toMap
    def sig(ss: Set[String]): Option[Seq[Long]] =
      if (ss.isEmpty) None
      else Some((0 until 16).map { i =>
        ss.map { s =>
          val h = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16)
          ((100003L + 7919L * i) * h + 12345L + 104729L * i) % 2147483647L
        }.min
      })
    val sigs = sh.flatMap { case (id, ss) => sig(ss).map(id -> _) }
    def bandKeys(s: Seq[Long]): Seq[(Int, String)] =
      (0 until 4).map(b => b -> (4 * b until 4 * b + 4).map(s).mkString(","))
    val bench = docs.filter(_._2 == "src19").map(_._1)
      .filter(sigs.contains).map(id => id -> bandKeys(sigs(id)).toSet).toMap
    val expected = docs.filter(_._2 != "src19").groupBy(_._2)
      .map { case (src, ds) =>
        var contaminated = 0L; var maxJ = Option.empty[Double]
        ds.foreach { case (id, _, _) =>
          if (sigs.contains(id)) {
            val keys = bandKeys(sigs(id)).toSet
            val js = bench.collect {
              case (bid, bkeys) if keys.exists(bkeys) =>
                val a = sh(id); val b = sh(bid)
                val inter = a.count(b)
                inter.toDouble / (a.size + b.size - inter)
            }.filter(_ >= 0.2)
            if (js.nonEmpty) {
              contaminated += 1
              val m = js.max
              maxJ = Some(maxJ.fold(m)(math.max(m, _)))
            }
          }
        }
        src -> (ds.length.toLong, contaminated, maxJ)
      }
    val got = SparkEntry.queries("d14_fuzzy_decontam")(spark, sf).collect()
    assert(got.length == expected.size)
    for (r <- got) {
      val (n, cont, maxJ) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_contaminated") == cont,
        s"${r.getAs[String]("source")}: contaminated count")
      val gotJ = Option(r.getAs[java.lang.Double]("max_jaccard")).map(_.doubleValue)
      assert(gotJ == maxJ, s"${r.getAs[String]("source")}: max jaccard")
    }
  }

  test("fuzzy decontamination detects injected paraphrased benchmark leaks") {
    import spark.implicits._
    // the fixture has no cross-source near-dups of the benchmark slice (max
    // jaccard ~0.01), so detection is proven on a synthetic corpus: bench
    // docs, one verbatim leak, one light paraphrase (shares most 5-grams),
    // and clean docs that must NOT flag
    val benchText = (1 to 40).map(i => s"bench$i").mkString(" ")
    val paraphrase = ((1 to 35).map(i => s"bench$i") ++
      (1 to 5).map(i => s"edit$i")).mkString(" ")
    val clean = (1 to 40).map(i => s"clean$i").mkString(" ")
    val docs = Seq(
      (1L, "bench", benchText),
      (2L, "bench", (1 to 40).map(i => s"other$i").mkString(" ")),
      (10L, "crawlA", benchText),     // verbatim leak
      (11L, "crawlA", paraphrase),    // fuzzy leak (J ~ 31/45)
      (12L, "crawlA", clean),
      (20L, "crawlB", clean + " tail words here padding")
    ).toDF("doc_id", "source", "text")
    val out = operators.Dedup.fuzzyDecontam(docs, "bench", 0.2)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated"),
          Option(r.getAs[java.lang.Double]("max_jaccard")))).toMap
    assert(out("crawlA")._1 == 3 && out("crawlA")._2 == 2,
      s"expected verbatim + paraphrase flagged: $out")
    assert(out("crawlA")._3.exists(_.doubleValue == 1.0), "verbatim leak must score J=1")
    assert(out("crawlB") == ((1L, 0L, None)), s"clean source flagged: $out")
  }

  test("stream split sink lands each split in its own partition directory") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val (dataPath, _) = operators.StreamOps.streamSplitSink(spark, sf)
    // physical layout: one subdirectory per split value
    val subdirs = new java.io.File(dataPath).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("split="))
    assert(subdirs.toSet == Set("split=train", "split=val", "split=test"),
      subdirs.mkString(","))
    // a single-split read is partition-pruned: the trainer never scans
    // holdout bytes
    val df = spark.read.parquet(dataPath).filter(col("split") === "train")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") && plan.contains("split"),
      plan.linesIterator.filter(_.contains("Partition")).mkString("\n"))
    // routing agrees with the batch t18 assignment, nothing lost or duped
    val streamed = spark.read.parquet(dataPath)
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("split") -> r.getAs[Long]("n")).toMap
    val batch = SparkEntry.queries("t18_hash_split")(spark, sf).collect()
      .groupBy(_.getAs[String]("split")).view
      .mapValues(_.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(streamed == batch)
  }

  test("foreachBatch upsert equals the batch aggregate over events") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st19_foreachbatch_upsert")(spark, sf)
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_milli"))).toMap
    val exp = T.events(spark, sf)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000).cast("long")).as("sum_milli"))
      .collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_milli"))).toMap
    assert(got == exp)
  }

  test("sign random projection matches a local fixed-point recompute bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    def sign(i: Int, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"${i}_${j}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
    }
    val vecs = T.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray)
    val got = SparkEntry.queries("s06_random_projection")(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dim")) ->
        r.getAs[Double]("value")).toMap
    assert(got.size == vecs.length * 16)
    for ((id, xs) <- vecs; j <- 0 until 16) {
      val nq = xs.map(x => math.floor(x.toDouble * 1048576.0).toLong)
      val y = (0 until 64).foldLeft(0L)((a, i) => a + nq(i) * sign(i, j))
      val expected = y.toDouble / 4194304.0
      assert(got((id, j.toLong)) == expected,
        s"vec $id dim $j: ${got((id, j.toLong))} != $expected")
    }
  }

  test("gopher rule battery matches a local tokenizer recompute") {
    val sf = "/root/testdata/sf0.001"
    val stopAll = Set(
      "the", "a", "and", "of", "to", "in", "is", "for",
      "der", "die", "das", "und", "ist", "mit", "von", "zu",
      "le", "la", "les", "et", "est", "pour", "dans", "que",
      "el", "los", "y", "es", "para", "con", "por", "una")
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text"))
    val got = SparkEntry.queries("t21_gopher_rules")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got.size == docs.length)
    var kept = 0
    for ((id, text) <- docs) {
      val toks = text.split(" ", -1)
      val n = toks.length.toLong
      val sumLen = toks.foldLeft(0L)((a, t) => a + t.length)
      val alpha = toks.count(t =>
        java.util.regex.Pattern.compile("[a-zA-Z]").matcher(t).find()).toLong
      val sym = toks.count(_.matches("[^a-zA-Z0-9]+")).toLong
      val stopHits = toks.count(stopAll.contains).toLong
      val r = got(id)
      assert(r.getAs[Long]("n_tokens") == n)
      assert(r.getAs[Double]("mean_tok_len") == sumLen.toDouble / n)
      assert(r.getAs[Double]("alpha_ratio") == alpha.toDouble / n)
      assert(r.getAs[Double]("sym_ratio") == sym.toDouble / n)
      assert(r.getAs[Long]("stop_hits") == stopHits)
      val keep = (n >= 15 && n <= 500) &&
        (sumLen.toDouble / n >= 3.0 && sumLen.toDouble / n <= 10.0) &&
        (alpha.toDouble / n >= 0.8) && (sym.toDouble / n < 0.1) &&
        stopHits >= 2
      assert(r.getAs[Boolean]("keep") == keep)
      if (keep) kept += 1
    }
    assert(kept > 0, "rule battery rejected the whole fixture corpus")
  }

  test("incremental dedup reports only true jaccards on a randomized corpus") {
    import spark.implicits._
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100L
    }
    val corpusIds = (1L to 2000L).filter(bucket(_) < 90)
    val newIds = (1L to 2000L).filter(bucket(_) >= 90)
    val rnd = new scala.util.Random(42)
    val words = (1 to 200).map(i => s"w$i")
    def mkDoc(): String =
      Seq.fill(25)(words(rnd.nextInt(words.length))).mkString(" ")
    val bases = corpusIds.take(40).map(id => id -> mkDoc())
    // near-copies of random bases, landing in the new batch, 0-3 tokens edited
    val copies = newIds.take(12).map { id =>
      val toks = bases(rnd.nextInt(bases.length))._2.split(" ")
      val k = rnd.nextInt(4)
      id -> toks.zipWithIndex.map { case (w, i) =>
        if (i < k) words(rnd.nextInt(words.length)) else w
      }.mkString(" ")
    }
    val fresh = newIds.slice(12, 18).map(id => id -> mkDoc())
    val all = (bases ++ copies ++ fresh).toMap
    val out = Dedup.incrementalDedup(
      all.toSeq.toDF("doc_id", "text"), 0.3).collect()
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length < 5) Set.empty
      else (0 to toks.length - 5).map(i => toks.slice(i, i + 5).mkString(" ")).toSet
    }
    val corpusShingles = bases.map { case (id, t) => id -> shingleSet(t) }
    var rejected = 0
    for (r <- out) {
      val id = r.getAs[Long]("doc_id")
      val bj = Option(r.getAs[java.lang.Double]("best_j")).map(_.doubleValue)
      assert(r.getAs[Boolean]("admit") == bj.isEmpty)
      bj.foreach { j =>
        rejected += 1
        assert(j >= 0.3, s"doc $id rejected below threshold: $j")
        // the reported similarity must be a TRUE jaccard against some
        // corpus member, not an artifact of the banding
        val me = shingleSet(all(id))
        val truths = corpusShingles.map { case (_, o) =>
          if ((me | o).isEmpty) 0.0
          else (me & o).size.toDouble / (me | o).size
        }
        assert(truths.exists(_ == j), s"doc $id: best_j $j matches no corpus doc")
      }
    }
    assert(rejected >= 8, s"expected most near-copies rejected, got $rejected")
  }

  test("semantic dedup drops only vectors with a genuine global near-dup") {
    val sf = "/root/testdata/sf0.001"
    val tau = 0.4
    val dropped = Dedup.semanticDedupDropped(spark, sf, 16, tau).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("dup_cos")).toMap
    assert(dropped.nonEmpty, "fixture contains near-dups; none were found")
    val vecs = T.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dp / math.sqrt(na * nb)
    }
    for ((id, dupCos) <- dropped) {
      assert(dupCos >= tau)
      // cluster-blocked drops must be justified by a GLOBAL near-dup pair
      // with a smaller-id partner at >= the reported similarity (brute force)
      val me = vecs(id)
      val best = vecs.collect { case (o, v) if o < id => cos(me, v) }.max
      assert(best >= dupCos - 1e-9,
        s"vec $id dropped at $dupCos but global best with smaller id is $best")
    }
  }

  test("streaming admission agrees with batch incremental dedup on the fixture") {
    // fixture shingle df max is far below the DF cap, so the capped (d15)
    // and uncapped (st23) pipelines must produce identical verdicts here
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect().map(r =>
        (r.getAs[Long]("doc_id"),
          Option(r.getAs[java.lang.Double]("best_j")).map(_.doubleValue),
          r.getAs[Boolean]("admit"))).toSet
    val streamed = rows("st23_stream_admission")
    val batch = rows("d15_incremental_dedup")
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "per-trigger band probe must reproduce the batch admission verdicts")
  }

  test("batch sessionization agrees with streaming session windows row-for-row") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("q47_sessionize")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value"))).toSet
    val streamed = SparkEntry.queries("st03_session_window")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    assert(batch.nonEmpty)
    assert(batch == streamed,
      "gaps-and-islands must reproduce session_window's sessions exactly")
  }

  test("per-query top-k kernel: a tie goes to the lower vec_id, a zero-norm " +
    "vector's NaN cosine is dropped, and fewer than k candidates give those " +
    "that exist") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val q = Array(1f, 0f)
    // query 1: vecs 5 and 3 tie at cos 1, vec 6 scores 0 and vec 4 is
    // zero-norm (cos 0/0 = NaN), so k = 4 leaves room for the NaN row;
    // query 2 has one candidate
    val scored = Seq(
        (1L, 5L, q, Array(2f, 0f)), (1L, 3L, q, Array(1f, 0f)),
        (1L, 4L, q, Array(0f, 0f)), (1L, 6L, q, Array(0f, 1f)),
        (2L, 7L, q, Array(1f, 1f)))
      .toDF("q_id", "vec_id", "q_emb", "embedding")
      .select(col("q_id"), col("vec_id"),
        graft.functions.F.cosineSim(col("q_emb"), col("embedding")).as("cos"))
    assert(scored.filter(col("vec_id") === 4L).head().getDouble(2).isNaN)
    val got = graft.operators.Similarity.topK(scored, "cos", 4).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("cos"))).sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 1, 3L), (1L, 2, 5L), (1L, 3, 6L), (2L, 1, 7L)), got.mkString(", "))
    assert(got.take(2).forall(_._4 == 1.0) && got(2)._4 == 0.0)
  }

  test("IVF index append: no vectors lost, probe covers both generations") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("s08_ivf_index_append")(spark, sf).collect().head
    assert(r.getAs[Long]("n_base") + r.getAs[Long]("n_new") == 500L)
    assert(r.getAs[Long]("n_new") > 0L, "hash split produced no ingest batch")
    assert(r.getAs[Boolean]("append_complete"))
    assert(r.getAs[Boolean]("probe_equals_bruteforce"))
  }

  test("IVF recall curve: monotone in nprobe, full probe equals brute force") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("s07_ivf_recall_curve")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 4L, 16L))
    for (r <- got) {
      assert(r.getAs[Long]("n_queries") == 16L)
      assert(r.getAs[Boolean]("recall_monotone"),
        s"recall dropped at nprobe ${r.getAs[Long]("nprobe")}")
      assert(r.getAs[Boolean]("exact_at_full_probe"))
    }
  }

  test("streaming ANN serve equals the batch LSH ANN bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    def rows(name: String) =
      SparkEntry.queries(name)(spark, sf).collect().map(r =>
        (r.getAs[Long]("q_id"), r.getAs[Int]("rk"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("bucket"), r.getAs[Double]("cos"))).toSeq
    val streamed = rows("st22_stream_ann_serve")
    val batch = rows("s02_ann_lsh")
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      "per-trigger stream-static probe must reproduce the batch ANN exactly")
  }

  test("incremental dedup rejects an injected duplicate and admits fresh docs") {
    import spark.implicits._
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 100L
    }
    val corpusIds = (1L to 1000L).filter(bucket(_) < 90)
    val newIds = (1L to 1000L).filter(bucket(_) >= 90)
    val dupText = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val freshText = (1 to 30).map(i => s"beta$i").mkString(" ")
    val noise = corpusIds.drop(1).take(5).zipWithIndex.map { case (id, k) =>
      (id, (1 to 30).map(i => s"noise${k}x$i").mkString(" "))
    }
    val docs = (Seq(
      corpusIds.head -> dupText, // corpus original
      newIds.head -> dupText, // exact duplicate arriving in the new batch
      newIds(1) -> freshText // genuinely new content
    ) ++ noise).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(docs, 0.3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("admit"), Option(r.getAs[java.lang.Double]("best_j"))))
      .toMap
    assert(got.keySet == Set(newIds.head, newIds(1)),
      "output must be exactly the new batch")
    val (dupAdmit, dupJ) = got(newIds.head)
    assert(!dupAdmit && dupJ.exists(_.doubleValue == 1.0),
      s"identical doc must be rejected with jaccard 1.0, got $dupJ")
    val (freshAdmit, freshJ) = got(newIds(1))
    assert(freshAdmit && freshJ.isEmpty, "fresh doc must be admitted")
  }

  test("k-fold CV folds match a local md5 recompute and every fold trains fully") {
    val sf = "/root/testdata/sf0.001"
    def fold(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 5L
    }
    val ids = T.embeddings(spark, sf).select("vec_id").collect()
      .map(_.getAs[Long]("vec_id"))
    val sizes = ids.groupBy(fold).view.mapValues(_.length.toLong).toMap
    val total = ids.length.toLong
    val got = SparkEntry.queries("ml14_kfold_cv")(spark, sf).collect()
    assert(got.length == sizes.size)
    for (r <- got) {
      val f = r.getAs[Long]("fold")
      assert(r.getAs[Long]("n_test") == sizes(f))
      assert(r.getAs[Long]("n_train") == total - sizes(f))
      assert(r.getAs[Boolean]("fit_bounded"), s"fold $f fit count out of bounds")
      assert(r.getAs[Boolean]("acc_in_range"))
    }
    // folds partition the corpus: test sizes sum to the total
    assert(got.map(_.getAs[Long]("n_test")).sum == total)
  }

  test("range-clustered layout: disjoint file ranges, result equals raw-table aggregate") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q46_range_layout")(spark, sf).collect()
    assert(got.nonEmpty)
    for (r <- got) {
      assert(r.getAs[Boolean]("bounded_files"), "more files than range partitions")
      assert(r.getAs[Boolean]("files_disjoint"), "file shipdate ranges overlap")
    }
    val exp = T.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_items"))
      .collect().map(r => r.getAs[String]("month") -> r.getAs[Long]("n_items"))
      .toMap
    assert(got.map(r => r.getAs[String]("month") -> r.getAs[Long]("n_items"))
      .toMap == exp)
  }

  test("ml16 CUSUM alarms match a sequential local recompute") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ml16_cusum_drift")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4)))
      .toMap
    // sequential fold per event_type in (ts, event_id) order with BigDecimal
    // arithmetic — the definitionally-correct single-threaded CUSUM
    val rows = T.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) AS tsu", "event_id", "value")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1)
    val mu = BigDecimal("55.00"); val lam = BigDecimal("500.00")
    rows.foreach { case (et, rs) =>
      var cs = BigDecimal(0); var mn = BigDecimal(0); var maxPh = BigDecimal(0)
      var alarms = 0L
      rs.sortBy(r => (r._2, r._3)).foreach { r =>
        cs += BigDecimal(r._4).setScale(2) - mu
        if (cs < mn) mn = cs
        val ph = cs - mn
        if (ph > maxPh) maxPh = ph
        if (ph > lam) alarms += 1
      }
      val (n, gotAlarms, gotMax) = got(et)
      assert(n == rs.size && gotAlarms == alarms &&
        gotMax == maxPh.toDouble, s"$et: got $gotAlarms/$gotMax want $alarms/$maxPh")
    }
  }

  test("d17 paragraph-dedup survivors match a naive first-seen recompute") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d17_paragraph_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val seen = scala.collection.mutable.Map[String, (Long, Long)]()
    val chunks = docs.flatMap { case (id, text) =>
      // -1 keeps trailing empty tokens — Spark's split and DuckDB's
      // string_split both do; Java's default drops them
      val t = text.split(" ", -1)
      t.grouped(20).zipWithIndex.map { case (g, i) =>
        (id, i.toLong * 20 + 1, g.mkString(" "))
      }
    }
    chunks.sortBy(c => (c._1, c._2)).foreach { case (id, st, s) =>
      if (!seen.contains(s)) seen(s) = (id, st)
    }
    val kept = chunks.groupBy(_._1).map { case (id, cs) =>
      id -> (cs.length.toLong,
        cs.count(c => seen(c._3) == ((c._1, c._2))).toLong)
    }
    kept.foreach { case (id, (nChunks, nKept)) =>
      assert(got(id) == ((nChunks, nKept)),
        s"doc $id: got ${got(id)} want ($nChunks, $nKept)")
    }
  }

  test("bloom bitset membership never rejects an inserted key (pure kernel)") {
    val m = 4096
    def md5pos(key: String, seed: Int): Int = {
      val dg = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:$seed".getBytes("UTF-8"))
      val v = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
        ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
      (v % m).toInt
    }
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 5) {
      val keys = Seq.fill(300)(rnd.nextLong().toString)
      val bits = new Array[Long](m / 64)
      for (k <- keys; s <- 0 until 3) {
        val p = md5pos(k, s)
        bits(p / 64) |= 1L << (p % 64)
      }
      assert(keys.forall(k => (0 until 3).forall { s =>
        val p = md5pos(k, s)
        (bits(p / 64) & (1L << (p % 64))) != 0
      }), "false negative — bloom construction broken")
    }
  }

  test("fixed-point PageRank matches a sequential recompute on random graphs") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(5150)
    for (trial <- 1 to 3) {
      val nNodes = 12 + trial * 6
      // symmetric random edges so every node has in- and out-degree
      val base = (0 until nNodes * 3).map(_ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (x, y) => x != y }.distinct
      val edges = (base ++ base.map(_.swap)).distinct
      val got = Graph.pagerankFp(edges.toDF("a", "b"), 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // sequential reference: identical integer recurrence
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      val n = deg.size
      val base0 = Graph.Scale / n
      var r = deg.keys.map(_ -> base0).toMap
      for (_ <- 1 to 4) {
        val in = scala.collection.mutable.Map[Long, Long]()
        edges.foreach { case (a, b) =>
          in.update(b, in.getOrElse(b, 0L) + r(a) / deg(a)) }
        r = in.map { case (node, sum) =>
          node -> (15L * base0 / 100L + 85L * sum / 100L)
        }.toMap
      }
      assert(got == r, s"trial $trial: distributed != sequential PageRank")
    }
  }

  test("co-partitioned PageRank is bit-identical to the broadcast path") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(917)
    val nNodes = 40
    val half = (0 until nNodes * 4).map(_ =>
      (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
      .filter { case (x, y) => x != y }.distinct
    val df = (half ++ half.map(_.swap)).distinct.toDF("a", "b")
    val bcast = Graph.pagerankFp(df, 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val deg = df.groupBy("a").count().withColumnRenamed("count", "deg")
    val copart = Graph.pagerankFpCoPartitioned(df, deg, deg.count(), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(copart == bcast,
      "co-partitioned plan drifted from the broadcast recurrence")
  }

  test("oriented triangle count matches brute force on random graphs") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(6021)
    for (trial <- 1 to 3) {
      val nNodes = 10 + trial * 5
      val und = (0 until nNodes * 2).map { _ =>
        val x = rnd.nextInt(nNodes).toLong; val y = rnd.nextInt(nNodes).toLong
        (math.min(x, y), math.max(x, y))
      }.filter { case (x, y) => x != y }.distinct
      val row = Graph.orientedTriangles(und.toDF("a", "b")).head()
      val edgeSet = und.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      var triangles = 0L
      for {
        i <- nodes.indices; j <- (i + 1) until nodes.size
        k <- (j + 1) until nodes.size
        if edgeSet((nodes(i), nodes(j))) && edgeSet((nodes(j), nodes(k))) &&
          edgeSet((nodes(i), nodes(k)))
      } triangles += 1
      assert(row.getLong(0) == und.size.toLong)
      assert(row.getLong(2) == triangles,
        s"trial $trial: oriented count ${row.getLong(2)} != brute $triangles")
    }
  }

  test("s09 residual-PQ output is identical across repeated runs") {
    val sf = "/root/testdata/sf0.001"
    val a = SparkEntry.queries("s09_pq_adc")(spark, sf).collect().toSeq
    val b = SparkEntry.queries("s09_pq_adc")(spark, sf).collect().toSeq
    assert(a == b, "non-deterministic codebook training or ranking")
    assert(a.head.getBoolean(1) && a.head.getBoolean(2) &&
      a.head.getBoolean(3) && a.head.getBoolean(4))
  }

  test("q57 interval islands match a sequential per-user sweep") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q57_interval_merge")(spark, sf)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val span = 300000000L
    val evs = T.events(spark, sf)
      .selectExpr("user_id", "event_id", "unix_micros(ts) AS st").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = evs.groupBy(_._1).map { case (u, rows) =>
      // constant span => interval ends are monotone in start, so the
      // running-max-end sweep reduces to comparing against the head island
      var islands = List.empty[(Long, Long, Long)] // (st, en, n_events)
      rows.sortBy(r => (r._3, r._2)).foreach { case (_, _, st) =>
        islands = islands match {
          case (ist, ien, n) :: rest if st <= ien =>
            (ist, math.max(ien, st + span), n + 1) :: rest
          case _ => (st, st + span, 1L) :: islands
        }
      }
      u -> ((islands.length.toLong,
        islands.map(i => i._2 - i._1).sum,
        islands.map(i => i._2 - i._1).max,
        islands.map(_._3).max))
    }
    assert(got.keySet == want.keySet)
    want.foreach { case (u, w) =>
      assert(got(u) == w, s"user $u: got ${got(u)} want $w")
    }
  }

  test("d19 prefix-filtered pair list equals the unfiltered exact Jaccard join") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d19_allpairs_prefix")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force WITHOUT prefix filtering: the completeness proof that
    // the filter loses no qualifying pair (and admits no extra)
    val sets = T.documents(spark, sf).select("doc_id", "text").collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        r.getLong(0) -> tk.sliding(5).filter(_.length == 5)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val ids = sets.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      inter = sets(i).intersect(sets(j)).size if inter > 0
      if inter.toDouble / (sets(i).size + sets(j).size - inter) >= 0.5
    } yield (i, j)).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("t24 learned merges and compression match a sequential BPE recompute") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("t24_bpe_apply")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    var corpus = T.documents(spark, sf).select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toVector))
    val before = corpus.groupBy(_._1).map { case (src, rs) =>
      src -> ((rs.length.toLong, rs.map(_._2.size.toLong).sum))
    }
    for (_ <- 1 to 3) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      corpus.foreach { case (_, tk) =>
        tk.iterator.zip(tk.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
      val (pa, pb) = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.head._1
      corpus = corpus.map { case (src, tk) =>
        val buf = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < tk.length) {
          if (i + 1 < tk.length && tk(i) == pa && tk(i + 1) == pb) {
            buf += pa + "\u001e" + pb; i += 2
          } else { buf += tk(i); i += 1 }
        }
        (src, buf.toVector)
      }
    }
    val after = corpus.groupBy(_._1).map { case (src, rs) =>
      src -> rs.map(_._2.size.toLong).sum
    }
    before.foreach { case (src, (docs, tb)) =>
      val ta = after(src)
      assert(got(src) == ((docs, tb, ta, tb - ta)),
        s"$src: got ${got(src)} want ($docs, $tb, $ta, ${tb - ta})")
    }
  }

  test("BFS layers match a sequential BFS on random graphs") {
    import spark.implicits._
    import graft.operators.Graph
    val rnd = new scala.util.Random(60931)
    for (trial <- 1 to 3) {
      val nNodes = 30 + trial * 10
      val edges = (0 until nNodes * 2).map(_ =>
        (rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (x, y) => x != y }.distinct
      val src = edges.map(_._1).min
      val got = Graph.bfsLayers(edges.toDF("a", "b"), src, 4)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      // sequential BFS to depth 4
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val dist = scala.collection.mutable.Map(src -> 0)
      var frontier = Set(src)
      for (k <- 1 to 4) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Nil))
          .filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k)
      }
      assert(got == dist.toMap, s"trial $trial: distributed != sequential BFS")
    }
  }

  test("w10 binaryFile roundtrip recovers byte-exact content for every staged doc") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w10_binaryfile_source")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val want = T.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") < 40)
      .selectExpr("doc_id",
        "CAST(octet_length(encode(text, 'UTF-8')) AS BIGINT)",
        "md5(encode(text, 'UTF-8'))")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(want.nonEmpty && got == want)
  }

  test("s11 kNN graph matches a sequential cohort-blocked brute force") {
    val sf = "/root/testdata/sf0.001"
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val got = SparkEntry.queries("s11_knn_graph")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), bits(r.getDouble(3))))
      .sortBy(r => (r._1, r._2)).toSeq
    val vecs = T.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planes =
      (0 until 32).map(p => graft.operators.Similarity.planeVec(p).toArray)
    def bkey(v: Array[Float], band: Int): Long =
      (0 until 8).map { bit =>
        val p = band * 8 + bit
        var dp = 0.0; var i = 0
        while (i < v.length) { dp += v(i).toDouble * planes(p)(i); i += 1 }
        if (dp > 0) 1L << bit else 0L
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / math.sqrt(na * nb)
    }
    val ids = vecs.keys.toSeq.sorted
    val keys = ids.map(id =>
      id -> (0 until 4).map(b => (b, bkey(vecs(id), b))).toSet).toMap
    val want = ids.flatMap { v =>
      val cands = ids.filter(u => u != v && keys(v).exists(keys(u).contains))
      cands.map(u => (u, cos(vecs(v), vecs(u))))
        .sortWith { case ((u1, c1), (u2, c2)) =>
          val cmp = java.lang.Double.compare(c2, c1) // NaN greatest, desc
          if (cmp != 0) cmp < 0 else u1 < u2
        }
        .take(3).zipWithIndex
        .map { case ((u, c), i) => (v, (i + 1).toLong, u, bits(c)) }
    }.sortBy(r => (r._1, r._2))
    assert(want.nonEmpty && got == want,
      s"sizes got=${got.size} want=${want.size}")
  }

  test("mm07 banded pHash pairs equal the unfiltered brute-force hamming join") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("mm07_phash_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // sequential stripe-energy pHash + all-pairs hamming — proves the
    // 8x8-bit banding loses no pair at threshold 7 (pigeonhole) and the
    // engine's fold matches a direct recompute
    val hashes = T.documents(spark, sf).select("doc_id", "text").collect()
      .map { r => r.getLong(0) -> r.getString(1) }
      .filter(_._2.length >= 64)
      .map { case (id, t) =>
        val en = Array.fill(64)(0L)
        var p = 0
        while (p < t.length) { en(p % 64) += t.charAt(p).toLong; p += 1 }
        val tot = en.sum
        var h = 0L
        for (i <- 0 until 64) if (en(i) * 64 > tot) h |= (1L << i)
        id -> h
      }
    val want = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      hm = java.lang.Long.bitCount(ha ^ hb).toLong if hm <= 7
    } yield (a, b, hm)).toSet
    assert(want.nonEmpty && got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("p03 multimodal report matches a sequential within-modality dedup") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("p03_multimodal_pipeline")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def modality(id: Long) = Seq("image", "audio", "video")((id % 3).toInt)
    def phash(t: String): Long = {
      val en = Array.fill(64)(0L)
      var p = 0
      while (p < t.length) { en(p % 64) += t.charAt(p).toLong; p += 1 }
      val tot = en.sum
      var h = 0L
      for (i <- 0 until 64) if (en(i) * 64 > tot) h |= (1L << i)
      h
    }
    val hashes = docs.filter(_._2.length >= 64)
      .map { case (id, t) => (id, modality(id), phash(t)) }
    val removed = (for {
      (a, ma, ha) <- hashes; (b, mb, hb) <- hashes
      if a < b && ma == mb && java.lang.Long.bitCount(ha ^ hb) <= 7
    } yield b).toSet
    val byMod = docs.groupBy(d => modality(d._1))
    byMod.foreach { case (m, ds) =>
      val rm = ds.count(d => removed(d._1)).toLong
      val kept = ds.filterNot(d => removed(d._1))
      val want = (ds.length.toLong, rm, kept.length.toLong,
        kept.map(_._2.getBytes("UTF-8").length.toLong).sum)
      assert(got(m) == want, s"$m: got ${got(m)} want $want")
    }
  }

  test("q58 funnel stages match a sequential per-user event sweep") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("q58_funnel")(spark, sf).collect().head
    val evs = T.events(spark, sf)
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS t").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
    val byUser = evs.groupBy(_._1)
    def firstAfter(es: Array[(Long, String, Long)], tpe: String, after: Long) = {
      val c = es.filter(e => e._2 == tpe && e._3 > after)
      if (c.isEmpty) None else Some(c.map(_._3).min)
    }
    val chains = byUser.map { case (u, es) =>
      val t1 = firstAfter(es, "signup", Long.MinValue)
      val t2 = t1.flatMap(firstAfter(es, "view", _))
      val t3 = t2.flatMap(firstAfter(es, "purchase", _))
      (u, t1, t2, t3)
    }.toSeq
    val full = chains.collect { case (_, Some(t1), _, Some(t3)) => t3 - t1 }
    assert(r.getLong(0) == byUser.size.toLong)
    assert(r.getLong(1) == chains.count(_._2.isDefined).toLong)
    assert(r.getLong(2) == chains.count(_._3.isDefined).toLong)
    assert(r.getLong(3) == chains.count(_._4.isDefined).toLong)
    assert(r.getLong(5) == full.sum && r.getLong(6) == full.max)
  }

  test("st28 streaming funnel state machine reproduces the q58 batch funnel") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("st28_stream_funnel")(spark, sf)
      .collect().head
    val batch = SparkEntry.queries("q58_funnel")(spark, sf).collect().head
    for (i <- 0 until stream.length)
      assert(stream.get(i) == batch.get(i),
        s"col $i: stream=${stream.get(i)} batch=${batch.get(i)}")
  }

  test("q59 retention matrix matches a sequential cohort recompute") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q59_retention")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val evs = T.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) div 604800000000 AS w").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cohort = evs.groupBy(_._1).map { case (u, es) => u -> es.map(_._2).min }
    val want = evs.map { case (u, w) => (cohort(u), w - cohort(u), u) }
      .distinct.groupBy(e => (e._1, e._2)).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
  }

  test("g05 three-round relaxation matches a sequential Bellman-Ford") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g05_shortest_path")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val we = graft.operators.Graph.coPurchaseEdges(spark, sf)
      .selectExpr("a", "b", "1000000 DIV w AS cost").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val src = we.map(_._1).min
    var dist = Map(src -> 0L)
    for (_ <- 1 to 3) {
      val relaxed = we.flatMap { case (a, b, c) =>
        dist.get(a).map(da => b -> (da + c))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, v) => n -> v.map(_._2).min }
    }
    val want = dist.toSeq.sortBy { case (n, d2) => (d2, n) }.take(20)
    assert(got == want, s"got=${got.take(5)} want=${want.take(5)}")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("g08 edge table matches a sequential bipartite projection") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g08_copurchase_table")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val li = T.lineitem(spark, sf).select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = li.toSeq.groupBy(_._1).values.toSeq.flatMap { basket =>
      val ps = basket.map(_._2)
      for (a <- ps; b <- ps if a < b) yield (a, b)
    }.groupBy(identity).map { case ((a, b), xs) => (a, b, xs.size.toLong) }
      .toSeq.sortBy { case (a, b, w) => (-w, a, b) }.take(50)
    assert(got == want)
  }

  test("g06 star-contraction histogram matches a sequential union-find") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("g06_connected_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val edges = graft.operators.Graph.coPurchaseEdges(spark, sf)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < b && md5hex(s"$a:$b").startsWith("00") }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = parent.keys.toSeq.groupBy(find).map { case (root, ns) =>
      (root, ns.size.toLong)
    }
    val want = comps.groupBy(_._2).map { case (sz, cs) =>
      (sz, cs.size.toLong, cs.map(_._1).sum)
    }.toSeq.sortBy(_._1)
    assert(got.nonEmpty && got == want, s"got=$got want=$want")
  }

  private def lev(a: String, b: String): Long = {
    val dp = Array.tabulate(b.length + 1)(_.toLong)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i.toLong
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  test("d20 edit-distance verify agrees with a sequential Levenshtein and " +
      "covers every d03 near-dup pair within the distance cap") {
    val sf = "/root/testdata/sf0.001"
    val texts = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).take(240)).toMap
    val got = SparkEntry.queries("d20_editdist_verify")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    got.foreach { case (a, b, l) =>
      assert(l == lev(texts(a), texts(b)), s"pair ($a,$b)")
      assert(l <= 120)
    }
    // shared candidate set: every d03 band-collision pair that ALSO passes
    // the distance cap must be present (d03's Jaccard filter only shrinks
    // the same candidate pool d20 scores)
    val d03 = SparkEntry.queries("d03_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => lev(texts(a), texts(b)) <= 120 }
    val gotPairs = got.map(r => (r._1, r._2)).toSet
    d03.foreach(p => assert(gotPairs.contains(p), s"missing d03 pair $p"))
  }

  test("s12 multi-probe range search matches a sequential Hamming<=1 sweep") {
    val sf = "/root/testdata/sf0.001"
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    val got = SparkEntry.queries("s12_range_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), bits(r.getDouble(2)))).toSeq
    val vecs = T.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planes = (0 until 6).map(p => graft.operators.Similarity.planeVec(p).toArray)
    def bucket(v: Array[Float]): Long =
      (0 until 6).map { p =>
        var dp = 0.0; var i = 0
        while (i < v.length) { dp += v(i).toDouble * planes(p)(i); i += 1 }
        if (dp > 0) 1L << p else 0L
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        d += x * y; na += x * x; nb += y * y; i += 1
      }
      d / math.sqrt(na * nb)
    }
    val bk = vecs.map { case (id, v) => id -> bucket(v) }
    val probes = 0L +: (0 until 6).map(1L << _)
    val want = vecs.keys.toSeq.filter(_ < 16).flatMap { qid =>
      val targets = probes.map(bk(qid) ^ _).toSet
      vecs.keys.toSeq
        .filter(v => v != qid && targets.contains(bk(v)))
        .map(v => (qid, v, cos(vecs(qid), vecs(v))))
        .filter(_._3 >= 0.3)
        .map { case (q, v, c) => (q, v, bits(c)) }
    }.sortBy(r => (r._1, r._2))
    assert(want.nonEmpty && got == want,
      s"sizes got=${got.size} want=${want.size}")
  }

  test("q60 snapshot diff classifies added/removed/changed like a sequential replay") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q60_snapshot_diff")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val os = T.orders(spark, sf).select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val a = os.filter(_._1 % 7 != 0).toMap
    val b = os.filter(_._1 % 13 != 0)
      .map { case (k, p) => k -> (if (k % 11 == 0) p * 1.1 else p) }.toMap
    val classed = (a.keySet ++ b.keySet).toSeq.map { k =>
      val cls =
        if (!a.contains(k)) "added"
        else if (!b.contains(k)) "removed"
        else if (a(k) != b(k)) "changed"
        else "unchanged"
      k -> cls
    }
    // all four classes must actually occur — a silent class collapse is
    // exactly the audit failure this op exists to catch
    assert(classed.map(_._2).toSet ==
      Set("added", "removed", "changed", "unchanged"))
    val want = classed.groupBy(_._2).map { case (cls, ks) =>
      cls -> (ks.size.toLong, ks.map(_._1).sum)
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("q61 count-min estimates never undercount and stay inside the eps bound") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q61_countmin_freq")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    assert(got.length == 10)
    val freq = T.lineitem(spark, sf).select("l_partkey").collect()
      .map(_.getLong(0)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val wantTop = freq.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(got.map(r => (r._1, r._2)).toSeq == wantTop)
    got.foreach { case (k, _, ge, within) =>
      assert(ge && within, s"key $k gates ($ge, $within)")
    }
  }

  test("q65 binned proximity join finds every close pair exactly once") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q65_proximity_join")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val evs = T.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts)")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = evs.toSeq.groupBy(_._2).values.toSeq.flatMap { es =>
      for {
        a <- es; b <- es
        if a._1 < b._1 && math.abs(a._4 - b._4) <= 300000000L
      } yield ((a._3, b._3), math.abs(a._4 - b._4))
    }.groupBy(_._1).map { case (k, vs) =>
      k -> (vs.size.toLong, vs.map(_._2).sum)
    }
    assert(got == want, s"sizes got=${got.size} want=${want.size}")
    assert(got.nonEmpty)
  }

  test("q64 market share matches a sequential join replay") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q64_market_share")(spark, sf).collect()
      .map(r => (r.getInt(0), BigDecimal(r.getDouble(1)).setScale(2,
        BigDecimal.RoundingMode.HALF_UP),
        BigDecimal(r.getDouble(2)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .toSeq
    val n = T.nation(spark, sf).collect()
      .map(r => r.getInt(0).toLong -> (r.getString(1), r.getInt(2).toLong)).toMap
    val asiaKey = T.region(spark, sf).collect()
      .find(_.getString(1) == "ASIA").get.getInt(0).toLong
    val cust = T.customer(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    val supp = T.supplier(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    val econParts = T.part(spark, sf).collect()
      .filter(_.getString(3) == "ECONOMY").map(_.getLong(0)).toSet
    val ordYear = T.orders(spark, sf)
      .selectExpr("o_orderkey", "o_custkey", "year(o_orderdate)").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val acc = scala.collection.mutable.Map[Int, (BigDecimal, BigDecimal)]()
    T.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount").collect()
      .foreach { r =>
        val (ck, yr) = ordYear(r.getLong(0))
        val custRegion = n(cust(ck))._2
        if (custRegion == asiaKey && econParts.contains(r.getLong(1))) {
          val vol = BigDecimal(r.getDouble(3)).setScale(2,
            BigDecimal.RoundingMode.HALF_UP) *
            (BigDecimal(1) - BigDecimal(r.getDouble(4)).setScale(2,
              BigDecimal.RoundingMode.HALF_UP))
          val isTarget = n(supp(r.getLong(2)))._1 == "NATION_7"
          val (a, b) = acc.getOrElse(yr, (BigDecimal(0), BigDecimal(0)))
          acc(yr) = (a + (if (isTarget) vol else BigDecimal(0)), b + vol)
        }
      }
    val want = acc.toSeq.sortBy(_._1).map { case (yr, (a, b)) =>
      (yr, a.setScale(2, BigDecimal.RoundingMode.HALF_UP),
        b.setScale(2, BigDecimal.RoundingMode.HALF_UP)) }
    assert(got == want, s"got=$got want=$want")
  }

  test("s13 filtered ANN holds completeness and the filtered-recall floor") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("s13_filtered_ann")(spark, sf).collect().head
    assert(r.getLong(0) == 16L)
    assert(r.getBoolean(1), "a filtered top-3 came back incomplete")
    assert(r.getBoolean(2), "filtered recall fell below the 0.90 floor")
  }

  test("st29 streaming SCD2 merge lands on the sequentially-derived dimension") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("st29_stream_scd2")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    val os = T.orders(spark, sf).select("o_orderkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // sequential SCD2: every key opens v0 at eff=0; keys ≡ 0 mod 5 close
    // v0 at eff=1 and open a repriced v1
    case class V(k: Long, cents: Long, vf: Long, open: Boolean)
    val dim = os.map { case (k, p) =>
      V(k, math.floor(p * 100).toLong, 0L, k % 5 != 0)
    } ++ os.filter(_._1 % 5 == 0).map { case (k, p) =>
      V(k, math.floor(p * 1.1 * 100).toLong, 1L, open = true)
    }
    val want = dim.groupBy(_.vf).map { case (vf, vs) =>
      (vf, vs.size.toLong, vs.count(_.open).toLong, vs.count(!_.open).toLong,
        vs.map(_.k).sum, vs.map(_.cents).sum)
    }.toSeq.sortBy(_._1)
    assert(got == want, s"got=$got want=$want")
  }

  test("mm08 A/V alignment falls back across dropped audio windows") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("mm08_av_align")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = docs.flatMap { case (id, text) =>
      val maxf = text.length.toLong / 100
      val audioIdx = (0L to math.max(0L, (text.length - 1).toLong / 100))
        .filter(a => a % 7 != 0 && text.nonEmpty)
      (0L to maxf by 2).map { v =>
        val aligned = audioIdx.filter(_ <= v).sorted.lastOption.getOrElse(-1L)
        (id, v, aligned)
      }
    }.sortBy(r => (r._1, r._2)).toSeq
    assert(got.nonEmpty && got == want,
      s"sizes got=${got.size} want=${want.size}")
    // frame 0 can never align (window 0 is always a dropped packet)
    assert(got.filter(_._2 == 0).forall(_._3 == -1L))
  }

  /** d21's boundary rule, sequentially: (start, len, text) chunk spans. */
  private def cdcChunks(tk: Array[String]): Seq[(Long, Long, String)] = {
    val n = tk.length.toLong
    def h32(s: String): Long =
      java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val vb = (4L to n).filter { i =>
      h32(tk.slice(i.toInt - 4, i.toInt).mkString(" ")) % 16 == 0 && i < n
    }
    val starts = 1L +: vb.map(_ + 1)
    val ends = vb :+ n
    starts.zip(ends).map { case (s, e) =>
      (s, e - s + 1, tk.slice(s.toInt - 1, e.toInt).mkString(" "))
    }
  }

  test("d21 content-defined chunking matches a sequential replay and " +
      "re-synchronizes across an insertion") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d21_content_chunks")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val docs = T.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // sequential replay with the same first-(doc_id, position)-wins dedup
    val all = docs.sortBy(_._1).flatMap { case (id, text) =>
      cdcChunks(text.split(" ")).map { case (start, len, c) =>
        (id, start, len, md5hex(c))
      }
    }
    val firstByHash = all.groupBy(_._4)
      .map { case (h, cs) => h -> cs.map(c => (c._1, c._2)).min }
    val want = all.groupBy(_._1).map { case (id, cs) =>
      val kept = cs.filter(c => firstByHash(c._4) == ((c._1, c._2)))
      (id, cs.size.toLong, kept.size.toLong, (cs.size - kept.size).toLong,
        kept.map(_._3).sum)
    }.toSeq.sortBy(_._1)
    assert(got == want, s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // insertion robustness: splice a sentence into the middle of a doc —
    // chunking must RE-SYNCHRONIZE, i.e. the tail chunks (past the edit
    // region) are shared between original and edited doc. d17's fixed grid
    // loses every chunk after the insertion point.
    val tk = docs.maxBy(_._2.length)._2.split(" ")
    val mid = tk.length / 2
    val edited = tk.take(mid) ++ Array("xq1", "xq2", "xq3") ++ tk.drop(mid)
    val a = cdcChunks(tk).map(_._3).toSet
    val b = cdcChunks(edited).map(_._3).toSet
    val sharedTail = a.intersect(b)
    assert(sharedTail.nonEmpty,
      s"no chunk survived the insertion (|a|=${a.size}, |b|=${b.size})")
  }

  test("st30 streaming point-in-time enrichment equals the one-shot batch as-of") {
    val sf = "/root/testdata/sf0.001"
    val stream = SparkEntry.queries("st30_stream_pit_enrich")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    import org.apache.spark.sql.functions._
    val batch = graft.operators.AsOf.asofJoin(
        T.events(spark, sf).select("event_id", "user_id", "ts", "event_type"),
        T.orders(spark, sf), "user_id", "o_custkey",
        col("ts"), col("o_orderdate"),
        Seq("o_orderkey", "o_totalprice"), "o_orderkey")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(coalesce(col("o_orderkey"), lit(0L))).as("sum_orderkey"),
        sum(coalesce(floor(col("o_totalprice") * 100).cast("long"), lit(0L)))
          .as("sum_price_cents"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(stream == batch,
      s"stream/batch divergence: ${stream.zip(batch).find(p => p._1 != p._2)}")
  }

  test("t25 code-switching rollup is consistent with t02's hit counts") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("t25_code_switching")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    // t02 emits the same per-doc stopword hit counts — replay the mixing
    // rule from its verified output
    val t02 = SparkEntry.queries("t02_lang_id")(spark, sf).collect()
      .map(r => (r.getString(1),
        Seq(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    val want = t02.groupBy(_._1).map { case (lang, ds) =>
      val rows = ds.map(_._2)
      lang -> (
        rows.size.toLong,
        rows.count { h =>
          val s = h.sorted.reverse; s(1) > 0 && s(1) * 4 >= s(0)
        }.toLong,
        rows.count(_.forall(_ == 0)).toLong,
        rows.map(_.count(_ > 0).toLong).sum)
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("d22 threshold curve is consistent with d03's verified pair scores") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("d22_threshold_curve")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(0.2, 0.4, 0.6, 0.8), "curve incomplete")
    // d03 emits exactly the candidate pairs with j >= 0.2, so every curve
    // point is a rollup of its output
    val d03 = SparkEntry.queries("d03_minhash_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    got.foreach { case (thr, nPairs, nDocs) =>
      val sel = d03.filter(_._3 >= thr)
      assert(nPairs == sel.length, s"thr=$thr pairs")
      assert(nDocs == sel.map(_._2).distinct.length, s"thr=$thr docs")
    }
    assert(got.head._2 > 0, "fixture has no near-dups at 0.2 — curve vacuous")
  }

  test("q62 windowed attribution matches a sequential last-touch replay") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q62_attribution")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val evs = T.events(spark, sf)
      .selectExpr("event_id", "user_id", "event_type", "unix_micros(ts) AS t",
        "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
    val touchesByUser = evs
      .filter(e => Set("view", "click", "signup")(e._3))
      .groupBy(_._2)
    val want = evs.filter(_._3 == "purchase").map { case (_, u, _, t, v) =>
      val tc = touchesByUser.getOrElse(u, Array.empty)
        .filter(_._4 <= t)
        .sortBy(e => (e._4, e._1)).lastOption // latest ts, then greatest id
      val touch = tc match {
        case Some(e) if t - e._4 <= 86400000000L => e._3
        case _ => "none"
      }
      (touch, math.floor(v * 1000).toLong)
    }.groupBy(_._1).map { case (k, vs) =>
      k -> (vs.length.toLong, vs.map(_._2).sum)
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("g07 rational modularity matches a sequential union-find computation") {
    val sf = "/root/testdata/sf0.001"
    val r = SparkEntry.queries("g07_modularity")(spark, sf).collect().head
    val got = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val edges = graft.operators.Graph.coPurchaseEdges(spark, sf)
      .select("a", "b").collect().map(x => (x.getLong(0), x.getLong(1)))
      .filter { case (a, b) => a < b && md5hex(s"$a:$b").startsWith("00") }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val rt = find(p); parent(x) = rt; rt }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val m = edges.length.toLong
    // CC labels: every edge is intra-community by construction
    val sumE = m
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.length.toLong }
    val degByComm = deg.groupBy { case (n, _) => find(n) }
      .map { case (_, ds) => ds.values.sum }
    val sumD2 = degByComm.map(d2 => d2 * d2).sum
    val nComm = parent.keys.map(find).toSet.size.toLong
    val want = (m, nComm, 4L * m * sumE - sumD2, 4L * m * m)
    assert(got == want, s"got=$got want=$want")
    // sanity: Q in (0, 1) for a fragmented sample — intra-edges dominate
    assert(got._3 > 0 && got._3 < got._4)
  }

  test("w11 text roundtrip is lossless per language (xor checksum survives " +
      "file order)") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("w11_text_source")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val docs = T.documents(spark, sf).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = docs.groupBy(_._1).map { case (lang, ds) =>
      val xor = ds.map(d => java.lang.Long.parseLong(
        md5hex(d._2).take(8), 16)).foldLeft(0L)(_ ^ _)
      lang -> (ds.length.toLong, ds.map(_._2.length.toLong).sum, xor)
    }
    assert(got == want, s"got=$got want=$want")
  }

  test("q63 variant extraction agrees with a sequential JSON parse; missing " +
      "paths are NULL") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q63_variant_shred")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val evs = T.events(spark, sf).select("event_type", "props").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val kRe = """"k"\s*:\s*(-?\d+)""".r
    val want = evs.groupBy(_._1).map { case (t, es) =>
      val ks = es.map(e => kRe.findFirstMatchIn(e._2).get.group(1).toLong)
      t -> (es.length.toLong, ks.sum, ks.min, ks.max, es.length.toLong)
    }
    assert(got == want, s"got=$got want=$want")
  }
}
