package graft.operators

import graft.{Op, T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with a typed metadata struct, and decode / feature-extraction as
  * batched partition-local kernels.
  *
  * The decode step is a STUB — deterministic features derived from the raw
  * bytes (md5 prefix, byte length, first byte) stand in for pixel/audio
  * decoding because no media libraries exist in this container. Everything
  * around the stub is real and oracle-checked: the binary column, the typed
  * metadata schema, the mapPartitions batching (64-element batches, the
  * `mapInPandas`-style shape), and the feature schema. Swapping the stub for
  * a real decoder changes ONE function.
  *
  * Payloads here are the documents' UTF-8 bytes, so the DuckDB oracle can
  * reproduce byte-level results with encode()/md5().
  */
object Multimodal {

  /** The stubbed decoded-feature record. */
  case class MMFeatures(
      doc_id: Long,
      n_bytes: Long,
      first_byte: Long,
      h32: Long,
      n_frames: Long,
      feat0: Double)

  /** STUB decoder: deterministic byte-derived features. A real implementation
    * would decode the media payload here (per 64-row batch).
    */
  private def decodeStub(id: Long, bytes: Array[Byte]): MMFeatures = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(bytes)
    val h32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    MMFeatures(
      doc_id = id,
      n_bytes = bytes.length.toLong,
      first_byte = if (bytes.isEmpty) -1L else bytes(0) & 0xffL,
      h32 = h32,
      n_frames = bytes.length.toLong / 100L + 1L,
      feat0 = (h32 % 1000L).toDouble / 1000.0)
  }

  val ops: Seq[Op] = Seq(
    // ------------------------------------------------------------------
    // Ingest: binary payload + typed metadata struct, all computed with
    // Catalyst expressions (schema-first, codegen'd, no UDF).
    Op("mm01_ingest_meta", (s, d) => {
      val h = expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
      T.documents(s, d)
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          struct(
            lit("text/plain").as("format"),
            length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
            (lit(64L) + h % 1024L).as("width"),
            (lit(64L) + expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint) div 1024") % 1024L).as("height")
          ).as("meta"))
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.n_bytes").as("n_bytes"), col("meta.width").as("width"),
          col("meta.height").as("height"), md5(col("payload")).as("payload_md5"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, 'text/plain' AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  64 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 1024) AS width,
        |  64 + ((('0x' || substr(md5(text), 1, 8))::BIGINT // 1024) % 1024) AS height,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Decode + feature extraction over the binary column: batched
    // mapPartitions kernel (the Spark-side plumbing a real decoder needs).
    Op("mm02_decode_features", (s, d) => {
      import s.implicits._
      val mm = T.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .as[(Long, Array[Byte])]
      mm.mapPartitions(it =>
        // 64-row batches: the mapInPandas-style batch shape a real
        // vectorized decoder would consume
        it.grouped(64).flatMap(batch => batch.iterator.map {
          case (id, bytes) => decodeStub(id, bytes)
        }))
        .toDF()
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(text) AS BIGINT) AS first_byte,
        |  ('0x' || substr(md5(text), 1, 8))::BIGINT AS h32,
        |  CAST(octet_length(encode(text)) // 100 + 1 AS BIGINT) AS n_frames,
        |  CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1000 AS DOUBLE) / 1000.0 AS feat0
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Frame sampling over a media payload: treat every 100-char slice as a
    // "frame" and keep every 2nd frame (the video frame-sample pattern:
    // explode frame index, slice, fingerprint). The slice+hash stands in for
    // a frame decode; the explode/slice plumbing is the real operator and is
    // fully parallel per document.
    Op("mm03_frame_sample", (s, d) => {
      // frame_md5s kernel: one byte walk hashes every frame's UTF-8 span
      // (R12OpsSuite pins parity with the md5(substring) form incl. the
      // empty trailing frame; measured ~parity at 20k-char docs — this is
      // a convention/uniformity kernelization, unlike mm05/mm10's
      // interpreted-HOF rescues). Stride-2 selection happens on the small
      // frames array (pos % 2), cost O(frames).
      T.documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.F.frameMd5s(col("text")))
            .as(Seq("pos", "m")))
        .filter(col("pos") % 2 === 0)
        .select(col("doc_id"), col("pos").cast(LongType).as("frame_idx"),
          col("m").as("frame_md5"))
        .orderBy("doc_id", "frame_idx")
    },
      Some("""SELECT doc_id, f AS frame_idx,
        |  md5(substring(text, CAST(f * 100 + 1 AS INT), 100)) AS frame_md5
        |FROM documents,
        |  LATERAL (SELECT unnest(generate_series(0, CAST(length(text) // 100 AS BIGINT), 2)) AS f)
        |ORDER BY doc_id, frame_idx""".stripMargin)),
    // ------------------------------------------------------------------
    // Resize: deterministic 4:1 stride subsample of the payload (the 1-D
    // stand-in for image downscaling — a real kernel would swap in here);
    // output checksummed. Pure per-row expressions, shuffle-free.
    Op("mm04_resize", (s, d) => {
      // stride_sample kernel: one byte walk — ~2x over the
      // transform(sequence)/substring form at 20k-char docs (per-position
      // interpreted lambda + one-char allocations removed), and it defines
      // the empty-text case the sequence form crashes on. R12OpsSuite pins
      // parity incl. astral chars.
      T.documents(s, d)
        .select(col("doc_id"),
          graft.functions.F.strideSample(col("text"), 4).as("resized"))
        .select(col("doc_id"), md5(col("resized")).as("resized_md5"),
          length(col("resized")).cast(LongType).as("n_px"))
        .orderBy("doc_id")
    },
      Some("""SELECT doc_id, md5(string_agg(text[p:p], '' ORDER BY p)) AS resized_md5,
        |  CAST(count(*) AS BIGINT) AS n_px
        |FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text), 4)) AS p)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Audio-style frame energy: per 100-unit frame, the sum of sample
    // values (code points as the deterministic stand-in for PCM samples).
    // The per-frame fold runs inside the row — no per-sample explode.
    Op("mm05_audio_energy", (s, d) => {
      // frame_energies kernel (mm10's): one codepoint pass computes every
      // frame's sum — the per-frame aggregate(sequence, ascii(substring))
      // it replaces ran every position through interpreted lambda
      // evaluation (HOFs never enter codegen): measured 63.2 s -> 0.18 s
      // at 500 docs x 20k chars (351x), explode-shaped so the HOF guard
      // couldn't see it.
      T.documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.F.frameEnergies(col("text")))
            .as(Seq("pos", "energy")))
        .select(col("doc_id"), col("pos").cast(LongType).as("frame"),
          col("energy"))
        .orderBy("doc_id", "frame")
    },
      Some("""SELECT doc_id, (p - 1) // 100 AS frame,
        |  CAST(SUM(unicode(text[p:p])) AS BIGINT) AS energy
        |FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text))) AS p)
        |GROUP BY 1, 2 ORDER BY doc_id, frame""".stripMargin)),
    // ------------------------------------------------------------------
    // Modality-partitioned layout: the multimodal corpus written
    // partitionBy(modality), so a single-modality pipeline stage reads ONLY
    // its partition (`PartitionFilters: [modality = 'audio']`, guarded by
    // PlanSuite) — at 100 TB an audio featurizer never touches image bytes.
    // Modality here is a deterministic doc_id derivation so the oracle
    // reproduces the partition contents exactly.
    Op("mm06_modality_pruned", (s, d) => {
      val dir = graft.streaming.Streaming.scratchDir("graft_mod_")
      T.documents(s, d)
        .select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"),
          expr("element_at(array('image','audio','video'), cast(doc_id % 3 as int) + 1)")
            .as("modality"))
        .write.partitionBy("modality").mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .filter(col("modality") === "audio")
        .groupBy("modality")
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("sum_bytes"),
          sum(expr("cast(conv(substring(md5(cast(payload as string)), 1, 8), 16, 10) as bigint)"))
            .as("content_sum"))
        .orderBy("modality")
    },
      Some("""SELECT 'audio' AS modality, COUNT(*) AS n,
        |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
        |  CAST(SUM(('0x' || substr(md5(text), 1, 8))::BIGINT) AS BIGINT) AS content_sum
        |FROM documents WHERE doc_id % 3 = 1
        |GROUP BY 1 ORDER BY modality""".stripMargin)),
    // ------------------------------------------------------------------
    // Perceptual-hash near-duplicate detection — the image-dedup on-ramp
    // (LAION-style corpora dedup on pHash, not byte equality, because
    // re-encodes/resizes change bytes but not content). The decode→DCT
    // step of a real pHash is stubbed the mm02 way: a 64-bit signature of
    // the payload's STRIPE-ENERGY structure (bit i = stripe i's sample-sum
    // exceeds the per-stripe mean, compared in exact integer arithmetic
    // as e*64 > total — no division), which is decode-shaped (robust to
    // local edits, position-structured) yet engine-exact. Near-dups =
    // hamming <= 7, found by 8x8-bit band blocking: by pigeonhole any
    // pair within 7 bit-flips shares >= 1 intact band, so banding is
    // LOSSLESS at this threshold and the oracle verifies with an
    // unfiltered self-join. Scale shape: the signature is one per-row
    // O(n) fold (no per-sample explode); the self-join only meets
    // band-colliding rows; hamming re-checks exactly (bit_count ^). At
    // 100 TB the band join shuffles O(corpus) signature rows — 16 bytes
    // each — never payloads.
    Op("mm07_phash_neardup", (s, d) => {
      // localCheckpoint, not cache(): one documents scan feeds both sides
      // of the band self-join, and the blocks are ContextCleaner-freed when
      // the plan is GC'd — a .cache() here lived in the CacheManager until
      // an explicit unpersist that no non-bench driver issued (r11 advisor)
      val ph = phashOf(T.documents(s, d)).localCheckpoint()
      phashNeardupPairs(phashBands(ph))
        .orderBy("doc_a", "doc_b")
    },
      Some(s"""WITH $sqlPhashCtes
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 7
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // ------------------------------------------------------------------
    // Audio-visual ALIGNMENT — the multimodal join every A/V pipeline
    // needs before any fused featurization: attach to each sampled video
    // frame (mm03's stride-2 sampling) the latest audio window at or
    // before it. The audio track has DROPPED packets (windows ≡ 0 mod 7
    // are missing), so the alignment is a genuine per-asset AS-OF join
    // (the q17 operator over derived multimodal features), not an index
    // equality — a frame whose ideal window was dropped must fall back to
    // the previous surviving one, and the leading frame aligns to NULL
    // when nothing precedes it. Scale shape: both modality streams derive
    // per-row from the payload (scan-cost), and the as-of core is ONE
    // partition-by-asset sort — co-partitioned by doc_id, no cross-asset
    // traffic, the same plan that aligns a billion-asset corpus.
    Op("mm08_av_align", (s, d) => {
      // both modality streams now derive from one-pass kernels (mm03's
      // frame_md5s, mm05's frame_energies — the audio side's replaced
      // per-frame interpreted aggregate measured 351x slower at 20k-char
      // payloads; see mm05)
      val base = T.documents(s, d).select(col("doc_id"), col("text"))
      val frames = base
        .select(col("doc_id"),
          posexplode(graft.functions.F.frameMd5s(col("text")))
            .as(Seq("pos", "m")))
        .filter(col("pos") % 2 === 0)
        .select(col("doc_id"), col("pos").cast(LongType).as("v"),
          col("m").as("frame_md5"))
      val audio = base
        .select(col("doc_id"),
          posexplode(graft.functions.F.frameEnergies(col("text")))
            .as(Seq("pos", "energy")))
        .filter(col("pos") % 7 =!= 0)
        .select(col("doc_id"), col("pos").cast(LongType).as("a"),
          col("energy"))
      AsOf.asofJoin(frames, audio, "doc_id", "doc_id", col("v"), col("a"),
          Seq("a", "energy"), "a")
        .select(col("doc_id"), col("v").as("frame_idx"), col("frame_md5"),
          col("a").as("audio_idx"), col("energy"))
        .orderBy("doc_id", "frame_idx")
    },
      Some("""WITH f AS (
        |  SELECT doc_id, v,
        |    md5(substring(text, CAST(v * 100 + 1 AS INT), 100)) AS frame_md5
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0, length(text) // 100, 2)) AS v)),
        |a AS (
        |  SELECT doc_id, a,
        |    CAST(SUM(unicode(text[p:p])) AS BIGINT) AS energy
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0, (length(text) - 1) // 100)) AS a),
        |    LATERAL (SELECT unnest(generate_series(CAST(a * 100 + 1 AS BIGINT),
        |      LEAST(CAST(length(text) AS BIGINT), (a + 1) * 100))) AS p)
        |  WHERE a % 7 <> 0 GROUP BY doc_id, a),
        |al AS (
        |  SELECT f.doc_id, f.v, f.frame_md5,
        |    (SELECT MAX(a.a) FROM a
        |     WHERE a.doc_id = f.doc_id AND a.a <= f.v) AS aa
        |  FROM f)
        |SELECT al.doc_id AS doc_id, al.v AS frame_idx, al.frame_md5,
        |  al.aa AS audio_idx, a.energy
        |FROM al LEFT JOIN a ON a.doc_id = al.doc_id AND a.a = al.aa
        |ORDER BY al.doc_id, frame_idx""".stripMargin)),
    // ------------------------------------------------------------------
    // ASPECT-RATIO BUCKETING — the image-generation training staple
    // (variable-resolution batch packing): every image maps to the
    // NEAREST of 7 standard aspect buckets so a batch can share one
    // shape. Nearness of w/h to p/q is decided in EXACT INTEGERS:
    // |w*q - h*p| / (h*q) comparisons share the factor h, so the score
    // |w*q - h*p| * (144/q) (144 = lcm of the bucket denominators) ranks
    // identically — no division, no float, ties -> smallest bucket id.
    // Width/height come from mm01's metadata derivation. Scale shape:
    // the 7-bucket table is a broadcast literal; scoring is a codegen'd
    // projection (7 rows per image pre-aggregation, map-side combined),
    // and the output is O(buckets). The per-bucket MEAN aspect ratio is
    // pico-unit-quantized so its sum is partition-order free.
    Op("mm09_aspect_buckets", (s, d) => {
      import s.implicits._
      val h = "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"
      val imgs = T.documents(s, d).select(col("doc_id"),
        (lit(64L) + expr(h) % 1024L).as("w"),
        (lit(64L) + expr(s"$h div 1024") % 1024L).as("hh"))
      val buckets = MM_BUCKETS.toDF("bucket_id", "p", "q")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score"), col("bucket_id"))
      imgs.crossJoin(broadcast(buckets))
        .withColumn("score",
          abs(col("w") * col("q") - col("hh") * col("p")) *
            (lit(144L) / col("q")).cast(LongType))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy("bucket_id", "p", "q")
        .agg(count(lit(1)).as("n_images"),
          sum(col("w") * col("hh")).as("sum_pixels"),
          (sum(floor((col("w").cast(DoubleType) / col("hh").cast(DoubleType))
              * lit(1.0e12) + lit(0.5)).cast(LongType)).cast(DoubleType) /
            lit(1.0e12) / count(lit(1)).cast(DoubleType)).as("mean_ar"))
        .orderBy("bucket_id")
    }, Some("""WITH imgs AS (
      |  SELECT doc_id,
      |    64 + (('0x' || substr(md5(text), 1, 8))::BIGINT % 1024) AS w,
      |    64 + ((('0x' || substr(md5(text), 1, 8))::BIGINT // 1024) % 1024)
      |      AS h
      |  FROM documents),
      |buckets(bucket_id, p, q) AS (VALUES
      |  (CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
      |  (1, 4, 3), (2, 3, 4), (3, 16, 9), (4, 9, 16), (5, 3, 2), (6, 2, 3)),
      |scored AS (
      |  SELECT doc_id, w, h, bucket_id, p, q,
      |    abs(w * q - h * p) * (144 // q) AS score
      |  FROM imgs CROSS JOIN buckets),
      |best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score, bucket_id) AS rk
      |  FROM scored)
      |SELECT bucket_id, p, q, COUNT(*) AS n_images,
      |  CAST(SUM(w * h) AS BIGINT) AS sum_pixels,
      |  CAST(SUM(CAST(FLOOR((CAST(w AS DOUBLE) / CAST(h AS DOUBLE))
      |      * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 / COUNT(*)
      |    AS mean_ar
      |FROM best WHERE rk = 1
      |GROUP BY bucket_id, p, q ORDER BY bucket_id""".stripMargin)),
    // ------------------------------------------------------------------
    // SHOT-BOUNDARY DETECTION — the video-curation segmentation pass:
    // per-frame signatures (mm05's 100-unit frame energies as the
    // deterministic stand-in for decoded frame histograms), a boundary
    // wherever the inter-frame delta exceeds the threshold, shots = cuts
    // + 1. A real decoder swaps into the signature step; the Spark-side
    // shape is what matters and is real: the ENTIRE per-document pipeline
    // (frame fold → delta → threshold → shot census) runs in the array
    // domain inside one codegen'd projection — no per-frame explode, no
    // shuffle, scan-cost at 100 TB like the winnowing family. All outputs
    // are exact integers (energies are code-point sums; the two-arg
    // transform gives 1-based boundary indexes), so the gate is
    // value-level. Single-frame payloads take the slice()-empty path (no
    // descending-sequence hazard) and report one shot.
    Op("mm10_shot_boundaries", (s, d) => {
      T.documents(s, d)
        .select(col("doc_id"), col("text"))
        // frame_energies: the codegen'd one-pass kernel — value-identical
        // to the transform(sequence)/aggregate(sequence) chain it replaced
        // (R12OpsSuite pins parity incl. empty text). The nested HOF form
        // ran every position through interpreted lambda evaluation with a
        // materialized sequence per frame: measured 245.9 s -> 0.27 s at
        // 2,000 docs x 20k chars (907x) — the r11 pHash lesson repeating;
        // caught by the r12 HOF guard, which flags exactly this
        // HOF-inside-a-lambda shape.
        .withColumn("e", graft.functions.F.frameEnergies(col("text")))
        .withColumn("dl", expr(
          "zip_with(slice(e, 2, size(e) - 1), slice(e, 1, size(e) - 1), " +
            "(a, b) -> abs(a - b))"))
        .select(col("doc_id"),
          expr("cast(size(e) as bigint)").as("n_frames"),
          expr("cast(1 + size(filter(dl, x -> x > 150)) as bigint)")
            .as("n_shots"),
          expr("aggregate(transform(dl, (x, i) -> IF(x > 150, " +
            "CAST(i + 1 AS BIGINT), CAST(0 AS BIGINT))), " +
            "CAST(0 AS BIGINT), (a, b) -> a + b)").as("boundary_sum"),
          expr("aggregate(dl, CAST(0 AS BIGINT), (a, b) -> greatest(a, b))")
            .as("max_delta"))
        .orderBy("doc_id")
    }, Some("""WITH en AS (
      |  SELECT doc_id,
      |    -- greatest(n,1) (both engines): empty text otherwise splits the
      |    -- engines — Spark's div truncates (0-1) div 100 to 0 (1 frame)
      |    -- while DuckDB's // floors to -1 (0 frames). Guarded, an empty
      |    -- doc is one zero-energy frame / one shot in both.
      |    list_transform(generate_series(0, (greatest(length(text), 1) - 1) // 100),
      |      f -> list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(
      |          generate_series(f * 100 + 1,
      |            least(length(text), (f + 1) * 100)),
      |          p -> CAST(unicode(text[p:p]) AS BIGINT))),
      |        (a, b) -> a + b)) AS e
      |  FROM documents),
      |dl AS (
      |  SELECT doc_id, len(e) AS n_frames,
      |    list_transform(generate_series(1, len(e) - 1),
      |      i -> abs(e[i + 1] - e[i])) AS d
      |  FROM en)
      |SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(1 + len(list_filter(d, x -> x > 150)) AS BIGINT) AS n_shots,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(generate_series(1, len(d)),
      |      i -> CASE WHEN d[i] > 150 THEN CAST(i AS BIGINT)
      |           ELSE 0 END)), (a, b) -> a + b) AS BIGINT) AS boundary_sum,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), d),
      |    (a, b) -> greatest(a, b)) AS BIGINT) AS max_delta
      |FROM dl ORDER BY doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // CLUSTER-VALUED pHash dedup — the production shape of mm07 (r10
    // verdict #2): the mm07 100x probe proved pair emission is quadratic
    // in clique size BY CONTRACT (a 100-member clique is 4,950 pairs;
    // 131M pairs at 100x), so the shape a deployment runs is
    // cluster-valued — band buckets -> hamming-verified pairs ->
    // star-contraction connected components (Dedup.connectedComponents,
    // O(log n) rounds) -> ONE row per cluster: representative (the min member,
    // which IS the CC label), member count, and the max hamming radius
    // to the representative (members' phashes joined back once). Output
    // is O(clusters); the only O(pairs) stage is the banded candidate
    // join mm07 already bounds. The oracle recomputes the transitive
    // closure of the unfiltered hamming<=7 pair graph with a recursive
    // CTE — proving both the lossless banding AND the contraction.
    Op("mm11_phash_clusters", (s, d) => {
      // localCheckpoint (not cache) — see mm07: four consumers (band
      // self-join x2, members, reps) read one materialized scan, and no
      // CacheManager entry outlives the query (r11 advisor note).
      val ph = phashOf(T.documents(s, d)).localCheckpoint()
      val pairs = phashNeardupPairs(phashBands(ph)).select("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val members = labels.join(ph, col("node") === col("doc_id"))
        .select(col("label"), col("node"), col("phash"))
      // the CC label is the component's min node = the representative;
      // its phash re-enters by one O(clusters)-row self-equi-join
      val reps = members.filter(col("node") === col("label"))
        .select(col("label"), col("phash").as("rep_phash"))
      members.join(reps, "label")
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("size"),
          max(expr("bit_count(phash ^ rep_phash)")).cast(LongType)
            .as("max_ham_to_rep"))
        .orderBy("cluster_id")
    },
      Some(s"""WITH RECURSIVE $sqlPhashCtes,
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |          FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.phash, b.phash)) <= 7),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS node FROM edges),
        |reach(node, label) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.s, r.label FROM edges e JOIN reach r ON r.node = e.t),
        |lab AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
        |mem AS (SELECT lab.node, lab.label, ph.phash
        |        FROM lab JOIN ph ON ph.doc_id = lab.node),
        |repp AS (SELECT label, phash AS rep_phash FROM mem WHERE node = label)
        |SELECT m.label AS cluster_id, COUNT(*) AS size,
        |  CAST(MAX(bit_count(xor(m.phash, r.rep_phash))) AS BIGINT) AS max_ham_to_rep
        |FROM mem m JOIN repp r ON r.label = m.label
        |GROUP BY 1 ORDER BY cluster_id""".stripMargin)),
    // ------------------------------------------------------------------
    // CAPPED-BUCKET cluster dedup — the bounding knob mm11 documents
    // (r11 verdict #1, the d20 doc-frequency analog): mm11's only
    // super-linear stage is the band-bucket pair join, O(sum of width^2)
    // — a degenerate hot bucket (boilerplate corpus, adversarial dup
    // farm) makes it quadratic no matter how the closure is computed
    // (the r11 100x synthetic-clique probe: 131M pairs, 1062 s). mm12
    // caps every (band, bits) bucket at width W=16, keeping the W
    // SMALLEST doc_ids (deterministic, engine-independent), so pair
    // emission is bounded by 8 * buckets * W^2 — linear in corpus size —
    // at the cost of possibly splitting clusters whose only co-located
    // band bucket overflowed (two docs stay joined if ANY shared band
    // survives; at the hamming<=7 threshold near-dups share >=1 of 8
    // bands, so a split needs all their shared bands hot). The trade is
    // EXACT over the capped graph: the oracle applies the identical cap
    // in its CTE and recomputes the transitive closure, so the gate
    // still proves banding + contraction — recall loss shows up ONLY as
    // a different (verified) cluster set, never as unchecked output.
    // The dropped-pair count is reported by the 100x probe (SCALE.md),
    // making the recall trade visible rather than silent.
    Op("mm12_phash_clusters_capped", (s, d) => {
      val W = 16
      val ph = phashOf(T.documents(s, d)).localCheckpoint()
      // per-bucket top-W by doc_id: a sort-based window over the
      // (band, bits) shuffle — the hot bucket costs O(width log width)
      // here instead of O(width^2) in the join it is being fenced from
      val capped = phashBands(ph)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("band", "bits").orderBy("doc_id")))
        .filter(col("rn") <= W).drop("rn")
      val pairs = phashNeardupPairs(capped).select("doc_a", "doc_b")
      val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      val members = labels.join(ph, col("node") === col("doc_id"))
        .select(col("label"), col("node"), col("phash"))
      val reps = members.filter(col("node") === col("label"))
        .select(col("label"), col("phash").as("rep_phash"))
      members.join(reps, "label")
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("size"),
          max(expr("bit_count(phash ^ rep_phash)")).cast(LongType)
            .as("max_ham_to_rep"))
        .orderBy("cluster_id")
    },
      Some(s"""WITH RECURSIVE $sqlPhashCtes,
        |bands AS (
        |  SELECT doc_id, phash, band, (phash >> (band * 8)) & 255 AS bits
        |  FROM ph, (SELECT unnest(generate_series(0, 7)) AS band) b),
        |capped AS (
        |  SELECT doc_id, phash, band, bits FROM (
        |    SELECT doc_id, phash, band, bits,
        |      ROW_NUMBER() OVER (PARTITION BY band, bits ORDER BY doc_id) AS rn
        |    FROM bands) WHERE rn <= 16),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 7),
        |edges AS (SELECT doc_a AS s, doc_b AS t FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS node FROM edges),
        |reach(node, label) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT e.s, r.label FROM edges e JOIN reach r ON r.node = e.t),
        |lab AS (SELECT node, min(label) AS label FROM reach GROUP BY node),
        |mem AS (SELECT lab.node, lab.label, ph.phash
        |        FROM lab JOIN ph ON ph.doc_id = lab.node),
        |repp AS (SELECT label, phash AS rep_phash FROM mem WHERE node = label)
        |SELECT m.label AS cluster_id, COUNT(*) AS size,
        |  CAST(MAX(bit_count(xor(m.phash, r.rep_phash))) AS BIGINT) AS max_ham_to_rep
        |FROM mem m JOIN repp r ON r.label = m.label
        |GROUP BY 1 ORDER BY cluster_id""".stripMargin)),
  )

  /** (bucket_id, p, q) standard aspect buckets; q divides 144. */
  private lazy val MM_BUCKETS: Seq[(Long, Long, Long)] = Seq(
    (0L, 1L, 1L), (1L, 4L, 3L), (2L, 3L, 4L), (3L, 16L, 9L),
    (4L, 9L, 16L), (5L, 3L, 2L), (6L, 2L, 3L))

  /** The mm07 stripe-energy perceptual hash: (doc_id, phash) for every doc
    * with >= 64 payload units. Shared with the p03 pipeline.
    */
  private[graft] def phashOf(docs: DataFrame): DataFrame = docs
    .filter(length(col("text")) >= 64)
    // the codegen'd one-pass kernel — value-identical to the declarative
    // transform/aggregate stripe chain it replaced (exact integer sums,
    // same 1<<63 sign-bit wrap), O(n) per doc instead of O(64·n): the HOF
    // form cost ~30 min to index 2.5M docs at the r11 100x probe
    // (R11OpsSuite pins bit-parity against the HOF form; the DuckDB
    // oracle CTEs are unchanged)
    .select(col("doc_id"), graft.functions.F.phash64(col("text")).as("phash"))

  /** 8 bands x 8 bits of a (doc_id, phash) frame — the lossless blocking
    * for hamming <= 7 (pigeonhole: <= 7 flips leave >= 1 band intact).
    */
  private[graft] def phashBands(ph: DataFrame): DataFrame = ph
    .select(col("doc_id"), col("phash"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("phash"), b * 8).bitwiseAND(lit(255L)).as("bits"))): _*))
        .as("bb"))
    .select(col("doc_id"), col("phash"), col("bb.band"), col("bb.bits"))

  /** Band-colliding candidate pairs hamming-verified <= 7 — the one place
    * the threshold + re-check live (mm07 and p03 both consume it). The
    * hamming filter runs BEFORE distinct so the dedup shuffle only carries
    * true near-dups, never the dominant far-pair collision population.
    * `extraKeys` adds equality columns to the band join (p03: modality, so
    * cohorts block within modality only).
    */
  private[graft] def phashNeardupPairs(
      bands: DataFrame, extraKeys: Seq[String] = Nil): DataFrame = {
    val cond = (Seq("band", "bits") ++ extraKeys)
      .map(k => col(s"x.$k") === col(s"y.$k"))
      .reduce(_ && _) && col("x.doc_id") < col("y.doc_id")
    bands.as("x").join(bands.as("y"), cond)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.phash ^ y.phash)").cast(LongType).as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
  }

  /** Oracle mirror of [[phashOf]]: base/en/tot/ph CTE chain (splice after
    * WITH). def, not val — spliced across objects during their init (the
    * embedLshSqlCtes lesson).
    */
  private[operators] def sqlPhashCtes: String =
    """base AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE length(text) >= 64),
      |en AS (
      |  SELECT doc_id, (p - 1) % 64 AS stripe, SUM(unicode(text[p:p])) AS e
      |  FROM base, LATERAL (SELECT unnest(generate_series(1, n)) AS p)
      |  GROUP BY doc_id, (p - 1) % 64),
      |tot AS (SELECT doc_id, SUM(e) AS tot FROM en GROUP BY doc_id),
      |ph AS (
      |  SELECT en.doc_id,
      |    -- stripe 63 spelled as int64-min: DuckDB raises on 1<<63 where
      |    -- Spark's shiftleft wraps to the sign bit
      |    CAST(SUM(CASE WHEN e * 64 > tot
      |      THEN CASE WHEN stripe = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |           ELSE CAST(1 AS BIGINT) << CAST(stripe AS INT) END
      |      ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
      |  FROM en JOIN tot ON tot.doc_id = en.doc_id GROUP BY en.doc_id)""".stripMargin
}
