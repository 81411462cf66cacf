package graft.operators

import graft.{Op, T}
import graft.streaming.Streaming
import graft.streaming.Streaming.Sink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The flagship end-to-end corpus-curation pipeline: the individual
  * training-data operators (quality filter → exact dedup → benchmark
  * decontamination → source quota → sequence packing) composed as ONE
  * declarative plan, the way a real corpus job runs them. Each stage
  * reuses the exact parity-proven semantics of its standalone operator
  * (t15 classifier keep, d01 min-id content dedup, d11 5-gram
  * contamination vs the src19 benchmark slice, t12 md5-pick quota, t14
  * concatenate-and-chunk packing), so the whole chain stays
  * DuckDB-hash-gateable as a single CTE pipeline.
  *
  * Scale shape: every stage is shuffle-bounded the same way its
  * standalone op is — the classifier is scan-cost, dedup shuffles on the
  * 16-byte content hash, the benchmark shingle set broadcasts, quota and
  * packing window WITHIN a source shard only. Composing them adds no new
  * wide dependency, and Catalyst pipelines adjacent narrow stages into
  * shared scans.
  */
object Curation {

  val ops: Seq[Op] = Seq(
    Op(
      "p01_corpus_curation",
      (s, d) => {
        val docs = T.documents(s, d)
        // 1. quality filter: language + hashed-classifier keep (t15)
        val surv1 = docs.filter(col("lang") === "en")
          .withColumn("score_num", expr(
            "aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, t) -> " +
              "acc + (CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1001) - 500)"))
          .filter(col("score_num") > 0L)
          .select("doc_id", "source", "text")
        // 2. exact dedup: min doc_id per content hash (d01). The keeper
        // set is a groupBy with map-side partial min — boilerplate content
        // repeated 10^9x collapses on the map side instead of landing as
        // one window partition's single-task sort — then a semi-join on
        // the unique doc_id brings the surviving rows back.
        val keep1 = surv1
          .groupBy(md5(col("text")).as("h"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val dedup = surv1.join(keep1, Seq("doc_id"), "left_semi")
        // 3. decontamination vs the src19 benchmark slice (d11): the
        // benchmark shingle set is fixed (all src19 docs), broadcast to
        // the survivor shingles; contaminated >= 5% overlap is dropped,
        // and benchmark-source docs never enter the training corpus.
        val bench = Dedup.shingleRows(docs.filter(col("source") === "src19"))
          .select("sh").distinct()
        val corpus = dedup.filter(col("source") =!= "src19")
        val csh = Dedup.shingleRows(corpus)
        val sz = csh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val ov = csh.join(broadcast(bench), "sh")
          .groupBy("doc_id").agg(count(lit(1)).as("n_ov"))
        val contaminated = sz.join(ov, "doc_id")
          .filter(col("n_ov").cast(DoubleType) / col("n_sh") >= 0.05)
          .select("doc_id")
        val clean = corpus.join(contaminated, Seq("doc_id"), "left_anti")
        // 4. per-source quota, cap 20, deterministic md5 pick order (t12)
        val w2 = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast(StringType).cast(BinaryType)),
            col("doc_id"))
        val quota = clean.withColumn("rk", row_number().over(w2))
          .filter(col("rk") <= 20).drop("rk")
        // 5. concatenate-and-chunk 128-token sequence packing (t14)
        val w3 = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val toks = quota.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"))
        val packed = toks
          .withColumn("off", coalesce(sum("n_tok").over(w3), lit(0L)))
          .select(col("source"), col("n_tok"), expr("off DIV 128").as("seq_id"))
          .groupBy("source", "seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        val perSource = packed.groupBy("source").agg(
          sum("n_docs").as("docs_kept"),
          count(lit(1)).as("n_sequences"),
          sum("n_tokens").as("n_tokens"))
        val tot = docs.groupBy("source").agg(count(lit(1)).as("docs_in"))
        tot.join(perSource, Seq("source"), "left")
          .select(col("source"), col("docs_in"),
            coalesce(col("docs_kept"), lit(0L)).as("docs_kept"),
            coalesce(col("n_sequences"), lit(0L)).as("n_sequences"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
          .orderBy("source")
      },
      Some("""WITH surv1 AS (
        |  SELECT doc_id, source, text FROM documents
        |  WHERE lang = 'en' AND
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        t -> (('0x' || substr(md5(t), 1, 8))::BIGINT % 1001) - 500)),
        |      (a, b) -> a + b) > 0),
        |dedup AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
        |      ORDER BY doc_id) AS rk FROM surv1)
        |  WHERE rk = 1),
        |benchsh AS (
        |  SELECT DISTINCT array_to_string(t[p:p+4], ' ') AS sh FROM (
        |    SELECT t, unnest(generate_series(1, len(t) - 4)) AS p FROM (
        |      SELECT string_split(text, ' ') AS t FROM documents
        |      WHERE source = 'src19')
        |    WHERE len(t) >= 5)),
        |corpsh AS (
        |  SELECT DISTINCT doc_id, array_to_string(t[p:p+4], ' ') AS sh FROM (
        |    SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS p FROM (
        |      SELECT doc_id, string_split(text, ' ') AS t FROM dedup
        |      WHERE source <> 'src19')
        |    WHERE len(t) >= 5)),
        |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM corpsh GROUP BY 1),
        |ov AS (SELECT doc_id, COUNT(*) AS n_ov FROM corpsh
        |       JOIN benchsh USING (sh) GROUP BY 1),
        |contaminated AS (
        |  SELECT sz.doc_id FROM sz JOIN ov USING (doc_id)
        |  WHERE CAST(n_ov AS DOUBLE) / n_sh >= 0.05),
        |clean AS (
        |  SELECT * FROM dedup WHERE source <> 'src19'
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |quota AS (
        |  SELECT doc_id, source, text FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM clean)
        |  WHERE rk <= 20),
        |toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM quota),
        |o AS (
        |  SELECT source, doc_id, n_tok,
        |    COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM toks),
        |packed AS (
        |  SELECT source, CAST(off // 128 AS BIGINT) AS seq_id,
        |    COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM o GROUP BY 1, 2),
        |per_source AS (
        |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS docs_kept,
        |    CAST(COUNT(*) AS BIGINT) AS n_sequences,
        |    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |  FROM packed GROUP BY 1),
        |tot AS (SELECT source, COUNT(*) AS docs_in FROM documents GROUP BY 1)
        |SELECT t.source, t.docs_in,
        |  COALESCE(k.docs_kept, 0) AS docs_kept,
        |  COALESCE(k.n_sequences, 0) AS n_sequences,
        |  COALESCE(k.n_tokens, 0) AS n_tokens
        |FROM tot t LEFT JOIN per_source k ON k.source = t.source
        |ORDER BY t.source""".stripMargin)),
    // ------------------------------------------------------------------
    // The EMBEDDING-side flagship: p01's counterpart for the vector
    // pipeline — near-dup removal (d10's deterministic 32-hyperplane LSH,
    // exact-cosine verify >= 0.4, greedy min-id survivors) → int8
    // quantization (s05's scheme, gated in-range) → LSH-bucketed index
    // layout (band-0 key = the s04 partitioning analog, but derived, so
    // the oracle reproduces it) — composed as one declarative plan with a
    // single-row audit report. Survivor rule: a vector is removed iff it
    // has a near-duplicate with a smaller id — deterministic, one
    // anti-join, no iterative CC needed for reporting.
    // Scale shape: candidates come from band-equi joins (never all-pairs,
    // bucket size bounded by bits-per-band), removal is one broadcast
    // anti-join of the (small) removed set, quantization is scan-cost,
    // and the bucket histogram is one aggregation on an 8-bit key.
    Op(
      "p02_embedding_pipeline",
      (s, d) => {
        val e = T.embeddings(s, d)
        val bands = Dedup.embedBandsOf(s, e).persist()
        val removed = Dedup.embedNeardupPairs(e, bands)
          .select(col("vec_b").as("vec_id"))
          .distinct()
        val kept = e.join(broadcast(removed), Seq("vec_id"), "left_anti")
        // s16's int8 quantization kernel over survivors, in-range gate.
        // The kernel, NOT the declarative hoist (maxabs column + transform):
        // the hoist is not planner-proof — CollapseProject inlines the
        // maxabs alias back into the transform lambda, re-running the O(d)
        // fold per ELEMENT, O(d^2) per row at runtime (the r12 HOF
        // hot-loop guard caught it in the OPTIMIZED plan). Degenerate rows
        // (all-zero / NaN embeddings) yield EMPTY codes per the kernel's
        // defined semantics (R11OpsSuite); the range gate's fold inits
        // (127 / -128) leave the verdict unchanged for empty arrays.
        val quant = kept
          .withColumn("q", graft.functions.F.i8Codes(col("embedding")))
          .withColumn("qmin", expr(
            "aggregate(q, CAST(127 AS BIGINT), (a, v) -> least(a, v))"))
          .withColumn("qmax", expr(
            "aggregate(q, CAST(-128 AS BIGINT), (a, v) -> greatest(a, v))"))
          .withColumn("q_has_null", expr("exists(q, v -> v IS NULL)"))
        // index layout: band-0 bucket key per survivor
        // persist a NARROW projection (bucket + the three gate booleans):
        // layout is consumed by two separate aggregates (bucket census +
        // final gate), and uncached each re-ran the i8Codes kernel and the
        // anti-join over every survivor (r12, guide §5 — 4 narrow columns,
        // not the embedding payload). Lifecycle (ADVICE r12): both consumers
        // live in the returned lazy plan, so no in-body unpersist is
        // possible; callers own post-action release (Bench/Verify
        // clearCache() between queries).
        val layout = quant
          .join(bands.filter(col("band") === 0)
            .select(col("vec_id"), col("bkey").as("bucket")), "vec_id")
          .select("bucket", "qmin", "qmax", "q_has_null")
          .persist()
        val buckets = layout.groupBy("bucket").agg(count(lit(1)).as("bn"))
        layout.agg(
          count(lit(1)).as("n_kept"),
          (min(col("qmin")) >= -128L && max(col("qmax")) <= 127L &&
            max(col("q_has_null").cast(IntegerType)) === 0)
            .as("codes_in_range"))
          .crossJoin(broadcast(e.agg(count(lit(1)).as("n_in"))))
          .crossJoin(broadcast(removed.agg(count(lit(1)).as("n_removed"))))
          .crossJoin(broadcast(buckets.agg(
            count(lit(1)).as("n_buckets"), max("bn").as("max_bucket"))))
          .select(col("n_in"), col("n_removed"), col("n_kept"),
            (col("n_kept") === col("n_in") - col("n_removed")).as("counts_consistent"),
            col("codes_in_range"), col("n_buckets"), col("max_bucket"))
      },
      Some(s"""WITH ${Dedup.embedLshSqlCtes},
        |rm AS (SELECT DISTINCT vec_b AS vec_id
        |       FROM cand JOIN embeddings a ON a.vec_id = vec_a
        |       JOIN embeddings b ON b.vec_id = vec_b
        |       WHERE ${VecSql.cos("a.embedding", "b.embedding")} >= 0.4),
        |kept AS (SELECT * FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM rm)),
        |bkt AS (SELECT bd.bkey AS bucket, COUNT(*) AS bn
        |        FROM kept k JOIN bd ON bd.vec_id = k.vec_id AND bd.band = 0
        |        GROUP BY bd.bkey)
        |SELECT (SELECT COUNT(*) FROM embeddings) AS n_in,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM rm) AS n_removed,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept,
        |  true AS counts_consistent, true AS codes_in_range,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bkt) AS n_buckets,
        |  (SELECT CAST(MAX(bn) AS BIGINT) FROM bkt) AS max_bucket""".stripMargin)),
    // ------------------------------------------------------------------
    // The MULTIMODAL flagship: p01/p02's counterpart for binary media —
    // ingest (payload + modality + byte metadata, the mm01/mm06
    // derivations) → WITHIN-MODALITY perceptual-hash near-dup removal
    // (mm07's stripe-energy signature, lossless 8x8-bit banding at
    // hamming <= 7; images dedup only against images — cross-modality
    // collisions are meaningless and would shuffle pointlessly) →
    // per-modality curation report (kept/removed counts, surviving bytes,
    // dup rate). Survivor rule is p02's: a doc is removed iff it has a
    // near-dup with a smaller id — one distinct + one broadcast
    // anti-join, no iterative CC. Scale shape: signatures are one O(n)
    // per-row fold (payloads never shuffle); the band join key is
    // (modality, band, bits) so each modality's cohort blocks
    // independently; the report is two map-side-combinable aggregates.
    Op(
      "p03_multimodal_pipeline",
      (s, d) => {
        val docs = T.documents(s, d).select(
          col("doc_id"), col("text"),
          length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
          expr("element_at(array('image','audio','video'), cast(doc_id % 3 as int) + 1)")
            .as("modality"))
        val ph = Multimodal.phashOf(docs)
          .join(docs.select("doc_id", "modality"), "doc_id")
          .persist()
        val bands = Multimodal.phashBands(ph.select("doc_id", "phash"))
          .join(ph.select("doc_id", "modality"), "doc_id")
        val removed = Multimodal.phashNeardupPairs(bands, Seq("modality"))
          .select(col("doc_b").as("doc_id"))
          .distinct()
        val kept = docs.join(broadcast(removed), Seq("doc_id"), "left_anti")
        val tot = docs.groupBy("modality").agg(
          count(lit(1)).as("n_total"), sum("n_bytes").as("total_bytes"))
        val rm = removed.join(docs.select("doc_id", "modality"), "doc_id")
          .groupBy("modality").agg(count(lit(1)).as("n_removed"))
        val kp = kept.groupBy("modality").agg(
          count(lit(1)).as("n_kept"), sum("n_bytes").as("kept_bytes"))
        tot.join(rm, Seq("modality"), "left").join(kp, Seq("modality"), "left")
          .na.fill(0L, Seq("n_removed"))
          .withColumn("dup_rate",
            (col("n_removed").cast(DoubleType) / col("n_total"))
              .cast(DoubleType))
          .select("modality", "n_total", "n_removed", "n_kept",
            "kept_bytes", "dup_rate")
          .orderBy("modality")
      },
      Some(s"""WITH md AS (
        |  SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |      WHEN 1 THEN 'audio' ELSE 'video' END AS modality
        |  FROM documents),
        |${Multimodal.sqlPhashCtes},
        |rmv AS (
        |  SELECT DISTINCT b.doc_id
        |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |  JOIN md ma ON ma.doc_id = a.doc_id
        |  JOIN md mb ON mb.doc_id = b.doc_id
        |  WHERE ma.modality = mb.modality
        |    AND bit_count(xor(a.phash, b.phash)) <= 7),
        |mt AS (SELECT modality, COUNT(*) AS n_total,
        |       SUM(n_bytes) AS total_bytes FROM md GROUP BY modality),
        |rm AS (SELECT md.modality, COUNT(*) AS n_removed
        |       FROM rmv JOIN md ON md.doc_id = rmv.doc_id GROUP BY md.modality),
        |kp AS (SELECT modality, COUNT(*) AS n_kept,
        |       CAST(SUM(n_bytes) AS BIGINT) AS kept_bytes
        |       FROM md WHERE doc_id NOT IN (SELECT doc_id FROM rmv)
        |       GROUP BY modality)
        |SELECT t.modality, t.n_total,
        |  CAST(COALESCE(rm.n_removed, 0) AS BIGINT) AS n_removed,
        |  kp.n_kept, kp.kept_bytes,
        |  CAST(CAST(COALESCE(rm.n_removed, 0) AS DOUBLE) / t.n_total AS DOUBLE)
        |    AS dup_rate
        |FROM mt t LEFT JOIN rm ON rm.modality = t.modality
        |JOIN kp ON kp.modality = t.modality
        |ORDER BY t.modality""".stripMargin)),
    // ------------------------------------------------------------------
    // DATASET CARD — the per-(source, lang) summary table every corpus
    // release publishes (HuggingFace dataset cards, Dolma/RedPajama
    // reports): volumes (docs/tokens/bytes), exact-duplicate exposure,
    // short-doc prevalence (the Gopher length floor), and the holdout
    // split mass, with exact-rational rates. One corpus scan projects
    // every per-doc measure; the only extra pass is the corpus-wide
    // md5 duplicate-group aggregate joined back on the hash (partial agg
    // + equi-join, no skew); the final rollup is map-side partial on the
    // low-cardinality (source, lang) key. All counts int64, rates exact
    // int/int divisions — hash-stable at any partitioning and scale.
    Op(
      "p04_data_card",
      (s, d) => {
        val docs = T.documents(s, d).select(col("source"), col("lang"),
          col("doc_id"), col("n_chars"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          md5(col("text")).as("h"))
        val dupGroups = docs.groupBy("h").agg(count(lit(1)).as("nh"))
          .filter(col("nh") >= 2).select(col("h"), lit(1).as("isdup"))
        docs.join(dupGroups, Seq("h"), "left")
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tok").as("n_tokens"),
            sum("n_chars").cast(LongType).as("n_chars"),
            sum(when(col("isdup").isNotNull, 1L).otherwise(0L))
              .as("n_exact_dup"),
            sum(when(col("n_tok") < 20L, 1L).otherwise(0L)).as("n_short"),
            sum(when(col("doc_id") % 10 >= 8, 1L).otherwise(0L))
              .as("n_held"))
          .withColumn("dup_rate",
            col("n_exact_dup").cast(DoubleType) / col("n_docs"))
          .withColumn("mean_doc_tokens",
            col("n_tokens").cast(DoubleType) / col("n_docs"))
          .orderBy("source", "lang")
      },
      Some(dataCardOracle)),
    // ------------------------------------------------------------------
    // TRAINING MANIFEST — the mixture made actionable: quality-filter the
    // corpus (Gopher-lite length gates), compute the α=0.5 temperature
    // mixture OVER THE SURVIVORS (t27's exact arithmetic, shared helper),
    // convert it to per-language QUOTAS against a half-corpus token
    // budget, then SELECT the quota deterministically (md5 rank within
    // language, doc_id tiebreak — t12's pick idiom) and emit the
    // per-(lang, source) manifest a downstream trainer consumes. Every
    // stage is the parity-proven standalone semantics; the composition
    // stays one CTE chain for the oracle. Scale shape: the mixture is
    // O(languages); selection is one window rank per language partition
    // (at 100 TB: quota via the q54 quantile sketch on the md5 rank key
    // instead of a full per-language sort); the manifest is
    // O(langs x sources).
    Op(
      "p05_training_manifest",
      (s, d) => {
        val surv = T.documents(s, d)
          .withColumn("n_tok", size(split(col("text"), " ")).cast(LongType))
          .filter(col("n_tok") >= 20L && col("n_chars") >= 100L)
        val mix = TextAnalysis.temperatureMix(
          surv.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")))
          .select(col("lang"), col("q"))
        val budget = surv.agg(floor(count(lit(1)) / lit(2L))
          .cast(LongType).as("budget"))
        val quota = mix.crossJoin(broadcast(budget))
          .select(col("lang"),
            floor(col("budget").cast(DoubleType) * col("q") + lit(0.5))
              .cast(LongType).as("quota"))
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("text")), col("doc_id"))
        surv.withColumn("rk", row_number().over(w).cast(LongType))
          .join(broadcast(quota), Seq("lang"))
          .filter(col("rk") <= col("quota"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_sel"), sum("n_tok").as("n_sel_tokens"))
          .orderBy("lang", "source")
      },
      Some("""WITH surv AS (
        |  SELECT doc_id, lang, source, text, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |  WHERE CAST(len(string_split(text, ' ')) AS BIGINT) >= 20
        |    AND n_chars >= 100),
        |c AS (SELECT lang, COUNT(*) AS n_docs FROM surv GROUP BY lang),
        |t AS (SELECT SUM(n_docs) AS n_tot FROM c),
        |sx AS (
        |  SELECT lang,
        |    SQRT(CAST(n_docs AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS sq
        |  FROM c, t),
        |z AS (
        |  SELECT CAST(SUM(CAST(FLOOR(sq * 1e12 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 1e12 AS z
        |  FROM sx),
        |b AS (SELECT CAST(FLOOR(COUNT(*) / 2) AS BIGINT) AS budget
        |      FROM surv),
        |quota AS (
        |  SELECT lang,
        |    CAST(FLOOR(CAST(budget AS DOUBLE) * (sq / z) + 0.5) AS BIGINT)
        |      AS quota
        |  FROM sx, z, b),
        |ranked AS (
        |  SELECT surv.*, ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(text), doc_id) AS rk
        |  FROM surv)
        |SELECT r.lang, r.source, COUNT(*) AS n_sel,
        |  CAST(SUM(r.n_tok) AS BIGINT) AS n_sel_tokens
        |FROM ranked r JOIN quota ON quota.lang = r.lang
        |WHERE r.rk <= quota.quota
        |GROUP BY r.lang, r.source
        |ORDER BY r.lang, r.source""".stripMargin)),
    // ------------------------------------------------------------------
    // RETRIEVAL-GUIDED CURATION — the round-9 flagship composing the r9
    // additions as one declarative plan: (1) the t32 stopword-band cut
    // (keep docs whose integer stopword decile <= 1 — the in-band quality
    // gate); (2) t34's BM25 against the benchmark query-term profile,
    // dropping the global top-20 most-benchmark-like docs (targeted
    // decontamination by RANK, complementing d11's exact-overlap cut —
    // same decimal-quantized scores, deterministic doc_id tie-break);
    // (3) d27's 2-of-3 ensemble consensus near-dup removal with the p02
    // greedy min-id survivor rule (doc b removed iff some consensus pair
    // (a, b), a < b, has a surviving stage-2 doc a). The report is
    // per-source exact integers at every stage boundary, so the whole
    // chain hash-gates. Scale shape: each stage keeps its standalone
    // shuffle bound — the band cut is scan-cost, BM25's postings shuffle
    // carries only the 7 broadcast profile terms and the drop set is a
    // 20-row TakeOrdered broadcast anti-join, and the consensus merge is
    // d27's O(candidate-pairs) stage over already-blocked signals.
    Op(
      "p06_retrieval_curation",
      (s, d) => {
        val docs = T.documents(s, d)
        val band = docs
          .withColumn("t", split(col("text"), " "))
          .withColumn("n_tok", expr("cast(size(t) as bigint)"))
          .withColumn("n_stop", expr("cast(size(filter(t, x -> x IN " +
            "('the','a','of','and','to','in','is','it'))) as bigint)"))
          .filter(expr("least((10 * n_stop) DIV n_tok, 9)") <= 1)
          .select("doc_id", "source", "text", "n_tok")
        val toks = band
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
        val dlT = band.select(col("doc_id"),
          expr("cast(size(filter(split(text, ' '), x -> x <> '')) as bigint)")
            .as("dl"))
        val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val st = dlT.agg(count(lit(1)).as("nd"), sum("dl").as("sdl"))
        import s.implicits._
        val qt = Seq("spark", "join", "window", "sort", "merge", "stream",
          "batch").toDF("term")
        val sc = tf
          .join(broadcast(qt), "term")
          .join(broadcast(dfT.join(broadcast(qt), "term")), "term")
          .join(dlT, "doc_id")
          .crossJoin(broadcast(st))
          .withColumn("s6", expr(
            "CAST(ROUND(" +
              "ln(1.0 + (CAST(nd - df AS DOUBLE) + 0.5)" +
              " / (CAST(df AS DOUBLE) + 0.5))" +
              " * (CAST(tf AS DOUBLE) * 2.2)" +
              " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *" +
              " (CAST(dl AS DOUBLE)" +
              " / (CAST(sdl AS DOUBLE) / CAST(nd AS DOUBLE)))))" +
              ", 6) AS DECIMAL(18,6))"))
        val drop20 = sc.groupBy("doc_id").agg(sum(col("s6")).as("sd"))
          .orderBy(col("sd").desc, col("doc_id")).limit(20)
          .select("doc_id")
        val clean = band.join(broadcast(drop20), Seq("doc_id"), "left_anti")
        val removed = Dedup.consensusPairs(s, d)
          .select(col("doc_a"), col("doc_b"))
          .join(clean.select(col("doc_id").as("doc_a")), Seq("doc_a"),
            "left_semi")
          .select(col("doc_b").as("doc_id")).distinct()
        val kept = clean.join(removed, Seq("doc_id"), "left_anti")
        val src = docs.groupBy("source").agg(count(lit(1)).as("docs_in"))
        val bnd = band.groupBy("source").agg(count(lit(1)).as("in_band"))
        val drp = band.join(broadcast(drop20), Seq("doc_id"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("bm25_dropped"))
        val rmv = clean.join(removed, Seq("doc_id"), "left_semi")
          .groupBy("source").agg(count(lit(1)).as("dedup_removed"))
        val kp = kept.groupBy("source")
          .agg(count(lit(1)).as("kept"), sum("n_tok").as("tokens_kept"))
        src.join(bnd, Seq("source"), "left")
          .join(drp, Seq("source"), "left")
          .join(rmv, Seq("source"), "left")
          .join(kp, Seq("source"), "left")
          .select(col("source"), col("docs_in"),
            coalesce(col("in_band"), lit(0L)).as("in_band"),
            coalesce(col("bm25_dropped"), lit(0L)).as("bm25_dropped"),
            coalesce(col("dedup_removed"), lit(0L)).as("dedup_removed"),
            coalesce(col("kept"), lit(0L)).as("kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy("source")
      },
      Some(s"""WITH ${Dedup.sqlConsensusCtes},
        |band AS (
        |  SELECT doc_id, source, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |  WHERE LEAST((10 * CAST(len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to','in','is','it')))
        |      AS BIGINT))
        |    // CAST(len(string_split(text, ' ')) AS BIGINT), 9) <= 1),
        |btok AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM band)
        |  WHERE term <> ''),
        |btf AS (SELECT doc_id, term, COUNT(*) AS tf FROM btok GROUP BY 1, 2),
        |bdf AS (SELECT term, COUNT(*) AS df FROM btf GROUP BY 1),
        |bdl AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
        |      AS BIGINT) AS dl
        |  FROM band),
        |bst AS (SELECT COUNT(*) AS nd, SUM(dl) AS sdl FROM bdl),
        |q(term) AS (VALUES ('spark'), ('join'), ('window'), ('sort'),
        |  ('merge'), ('stream'), ('batch')),
        |bsc AS (
        |  SELECT btf.doc_id,
        |    CAST(ROUND(
        |      ln(1.0 + (CAST(bst.nd - bdf.df AS DOUBLE) + 0.5)
        |        / (CAST(bdf.df AS DOUBLE) + 0.5))
        |      * (CAST(btf.tf AS DOUBLE) * 2.2)
        |      / (CAST(btf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |        (CAST(bdl.dl AS DOUBLE)
        |         / (CAST(bst.sdl AS DOUBLE) / CAST(bst.nd AS DOUBLE)))))
        |      , 6) AS DECIMAL(18,6)) AS s6
        |  FROM btf JOIN q ON q.term = btf.term
        |  JOIN bdf ON bdf.term = btf.term
        |  JOIN bdl ON bdl.doc_id = btf.doc_id, bst),
        |drop20 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, SUM(s6) AS sd FROM bsc GROUP BY 1)
        |  ORDER BY sd DESC, doc_id LIMIT 20),
        |clean AS (
        |  SELECT * FROM band
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop20)),
        |cons AS (
        |  SELECT doc_a, doc_b FROM merged WHERE vj + vs + vp >= 2),
        |removed AS (
        |  SELECT DISTINCT doc_b AS doc_id FROM cons
        |  WHERE doc_a IN (SELECT doc_id FROM clean)),
        |kept AS (
        |  SELECT * FROM clean
        |  WHERE doc_id NOT IN (SELECT doc_id FROM removed)),
        |srcs AS (SELECT source, COUNT(*) AS docs_in FROM documents
        |         GROUP BY 1),
        |bnd AS (SELECT source, COUNT(*) AS in_band FROM band GROUP BY 1),
        |drp AS (SELECT b.source, COUNT(*) AS bm25_dropped
        |        FROM band b JOIN drop20 USING (doc_id) GROUP BY 1),
        |rmv AS (SELECT c.source, COUNT(*) AS dedup_removed
        |        FROM clean c JOIN removed USING (doc_id) GROUP BY 1),
        |kp AS (SELECT source, COUNT(*) AS kept,
        |         CAST(SUM(n_tok) AS BIGINT) AS tokens_kept
        |       FROM kept GROUP BY 1)
        |SELECT s.source, s.docs_in,
        |  COALESCE(b.in_band, 0) AS in_band,
        |  COALESCE(d.bm25_dropped, 0) AS bm25_dropped,
        |  COALESCE(r.dedup_removed, 0) AS dedup_removed,
        |  COALESCE(k.kept, 0) AS kept,
        |  COALESCE(k.tokens_kept, 0) AS tokens_kept
        |FROM srcs s
        |LEFT JOIN bnd b ON b.source = s.source
        |LEFT JOIN drp d ON d.source = s.source
        |LEFT JOIN rmv r ON r.source = s.source
        |LEFT JOIN kp k ON k.source = s.source
        |ORDER BY s.source""".stripMargin)),
    // ------------------------------------------------------------------
    // LIVE CURATION — the STREAMING composition capstone: one continuous
    // ingest pass maintains BOTH retrieval-tier artifacts (st41's BM25
    // postings/doc-length partials and st42's shingle ledger) in a single
    // foreachBatch, and the read path composes them the way a live corpus
    // service answers queries: run the d03 LSH near-dup pipeline over the
    // ledger, drop each duplicate pair's doc_b (the d01/d12 min-id-wins
    // convention), rebuild the BM25 statistics over the CLEAN index
    // (df/N/avgdl shift when duplicates leave — dedup-then-index, the
    // principled order), and serve t34's ranking arithmetic verbatim.
    // The oracle is the two standalone oracles COMPOSED: the d03 CTE
    // chain derives the dup set, and bm25CtesOver ranks the NOT-IN-dup
    // corpus with the identical scoring text. At 100 TB: ingest touches
    // raw text once per doc (both artifact extractions are row-local);
    // re-serving after new arrivals reads two compacted ledgers, never
    // the corpus; and every stage keeps its standalone op's shuffle
    // bounds (banding, broadcast query terms, bounded heaps).
    Op(
      "p07_live_curation",
      (s, d) => {
        val docs = T.documents(s, d).select("doc_id", "text")
        val schema = docs.schema
        val dir = Streaming.stagedDir("livecur", d)(Streaming.stage(s, _,
          docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1)))
        val out = Streaming.output("graft_livecur_")
        Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
          val b = batch.persist()
          // ONE tokenize pass per trigger (r12 optimization, guide
          // §1.2 "don't compute things you throw away"): dl(doc) ==
          // SUM(tf) over the doc's terms — both exclude empty tokens —
          // so the doc-length partial derives from the tf partial
          // instead of re-splitting every text. The left join from the
          // batch's doc_ids keeps the dl=0 row for an all-separator
          // text (the shape the old filter(split(..)) form emitted),
          // so both ledgers are bit-identical to the two-pass form —
          // GIVEN the invariant that doc_id is unique within a trigger
          // batch (ADVICE r12: tf groups across duplicate doc_ids, so
          // a dupe would get the cross-row total once per input row
          // instead of its own length; the staged fixture assigns each
          // doc to exactly one file slice, so the invariant holds).
          val tfb = b.select(col("doc_id"),
              explode(split(col("text"), " ")).as("term"))
            .filter(col("term") =!= "")
            .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
            .persist()
          w.write("tf", tfb)
          w.write("dl", b.select("doc_id")
            .join(tfb.groupBy("doc_id").agg(sum("tf").as("dl")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl")))
          val shb = Dedup.shingleRows(b).persist()
          w.write("sh", shb)
          // incremental banded candidate-pair ledger (r13): band THIS
          // batch's docs and write the pair delta, so the serve no
          // longer re-bands and band-self-joins the accumulated corpus
          // (Dedup.pairLedgerAppend — equivalence argument there)
          Dedup.pairLedgerAppend(shb, w)
          shb.unpersist()
          tfb.unpersist()
          b.unpersist()
        })(identity)
        // Cache the dup set and the CLEAN index tables (the d27 plan
        // rule): tf/dl are each consumed twice inside bm25Rank (postings
        // + df; lengths + corpus stats), and uncached each probe re-plans
        // the whole d03 pipeline under its anti-join — the plan audit
        // showed the shingle scan replicated under 4 SortMergeJoin
        // LeftAnti probes. Cached, d03 runs once and the clean index is
        // exactly the artifact a live serving system persists.
        // r13: the d03-over-ledger report now reads the maintained pair
        // ledger (pair-delta scan + one df-cap aggregate over the shingle
        // ledger) instead of re-running cap + minhash + band-self-join over
        // the whole corpus at every serve — result identical by the
        // pairLedgerServe equivalence argument, pinned in R13OpsSuite
        val losers = Dedup.d03Report(Dedup.pairLedgerServe(s, out))
          .select(col("doc_b").as("doc_id")).distinct().cache()
        val tf = out.read(s, "tf")
          .groupBy("doc_id", "term").agg(sum("tf").as("tf"))
          .join(losers, Seq("doc_id"), "left_anti").cache()
        val dlT = out.read(s, "dl")
          .groupBy("doc_id").agg(sum("dl").as("dl"))
          .join(losers, Seq("doc_id"), "left_anti").cache()
        TextAnalysis.bm25Rank(s, tf, dlT)
      },
      Some(s"""WITH ${Dedup.sqlCappedCtes},
        |${Dedup.sqlCandCtes},
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |iv AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
        |       FROM cand c JOIN sh a ON a.doc_id = c.doc_a
        |       JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
        |       GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT iv.doc_b AS doc_id
        |        FROM iv JOIN sz sa ON sa.doc_id = iv.doc_a
        |        JOIN sz sb ON sb.doc_id = iv.doc_b
        |        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
        |docs2 AS (SELECT * FROM documents
        |          WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
        |${TextAnalysis.bm25CtesOver("docs2")}
        |${TextAnalysis.bm25FinalSelect}""".stripMargin)),
  )

  /** p04's card SQL — also the gate for st33's incrementally-maintained
    * card (lazy: referenced from the `ops` val above, which inits first). */
  private[operators] lazy val dataCardOracle: String =
    """WITH docs AS (
        |  SELECT source, lang, doc_id, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5(text) AS h
        |  FROM documents),
        |dup AS (SELECT h FROM docs GROUP BY h HAVING COUNT(*) >= 2)
        |SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |  CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dup,
        |  CAST(SUM(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short,
        |  CAST(SUM(CASE WHEN doc_id % 10 >= 8 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_held,
        |  CAST(CAST(SUM(CASE WHEN dup.h IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS DOUBLE) AS dup_rate,
        |  CAST(CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS DOUBLE)
        |    AS mean_doc_tokens
        |FROM docs LEFT JOIN dup ON docs.h = dup.h
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin
}
