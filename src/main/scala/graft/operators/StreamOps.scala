package graft.operators

import graft.{Num, Op, T}
import graft.Num.{dsum, sqlDsum}
import graft.functions.F
import graft.streaming._
import graft.streaming.Streaming.Sink
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming surface: real Structured-Streaming queries (event-time windows,
  * watermarks, session windows, keyed state) executed to completion over the
  * staged `events` fixture, hash-matched against batch-SQL oracles. The
  * streaming engine genuinely runs multiple triggers ([[Streaming.drain]])
  * with the watermark advancing between them — results come from append-mode
  * watermark progress, not from a final flush.
  */
object StreamOps {

  private val WinIdxBuckets = 32

  /** Build-or-reuse a hash-bucketed standing-artifact table (the
    * coPurchaseEdges shared-artifact pattern; production maintains it
    * incrementally at ingest) and return the table name. Bucketing is the
    * scale decision (r12, forced by the st48 100x probe): a per-trigger
    * probe left-semi-joins arrival rows against a corpus-sized index, and
    * with a plain parquet index BOTH join sides exchange — ~2 GiB of
    * standing index re-shuffled and re-sorted EVERY trigger at 100x (4.1
    * GiB shuffle over two triggers, 350 MiB spill, 115 s wall, measured).
    * A bucketed table scan reports HashPartitioning(bucketCol, buckets),
    * so EnsureRequirements exchanges only the arrival side.
    *
    * The files live in the [[Streaming.stagedDir]] of (`prefix`,
    * `cacheKey`), so `build` runs once per JVM. A session whose catalog
    * lacks the table (a fresh SparkContext: sessions over one context
    * share the external catalog) re-registers the same files through DDL;
    * `schemaDdl` must match what `build` emits.
    */
  private[graft] def bucketedArtifact(s: org.apache.spark.sql.SparkSession,
      cacheKey: String, prefix: String, bucketCol: String, schemaDdl: String)(
      build: => org.apache.spark.sql.DataFrame): String = {
    // 128-bit digest, not String.hashCode: a 32-bit collision between two
    // live cache keys would silently repoint the shared table name at the
    // other artifact's data (review r12)
    val tbl = s"graft_${prefix}_" + java.security.MessageDigest
      .getInstance("MD5").digest(cacheKey.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val path = Streaming.stagedDir(prefix, cacheKey) { p =>
      // pre-partition on the bucket key: each task holds exactly one
      // bucket (repartition and bucketBy share murmur3 partitioning), so
      // the write emits one file per bucket instead of tasks x buckets
      build.repartition(WinIdxBuckets, col(bucketCol))
        .write.mode("overwrite")
        .bucketBy(WinIdxBuckets, bucketCol).sortBy(bucketCol)
        .option("path", p).saveAsTable(tbl)
    }
    if (!s.catalog.tableExists(tbl))
      s.sql(s"CREATE TABLE $tbl ($schemaDdl) USING PARQUET " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
        s"INTO $WinIdxBuckets BUCKETS LOCATION '$path'")
    tbl
  }

  /** The st46/st48/st49 standing corpus window index (16-byte md5 per
    * 40-char window of the non-arriving slice) as a bucketed table on `h`. */
  private[graft] def standingWinIndex(s: org.apache.spark.sql.SparkSession,
      d: String, docs: org.apache.spark.sql.DataFrame): String =
    bucketedArtifact(s, s"winidx@v1#$d", "st46_idx", "h", "h BINARY") {
      docs.filter(col("doc_id") % 5 =!= 3 && col("n_chars") >= 40)
        .select(col("text"),
          explode(expr("sequence(1, cast(n_chars as int) - 39)")).as("pos"))
        .select(expr("unhex(md5(substring(text, pos, 40)))").as("h"))
    }

  /** The st47/st48 standing pHash band index (doc_id, phash, band, bits
    * of the non-arriving corpus slice): a parquet dir, since its probe is
    * a band equi-join against the small arrival side. */
  private def standingPhashIndex(s: org.apache.spark.sql.SparkSession,
      d: String, docs: org.apache.spark.sql.DataFrame): String =
    Streaming.stagedDir("st47_idx", d) { p =>
      Multimodal.phashBands(
          Multimodal.phashOf(docs.filter(col("doc_id") % 5 =!= 3)))
        .write.mode("overwrite").parquet(p)
    }

  /** The st46/st47/st48 arrival stream: the doc_id % 5 == 3 slice in two
    * triggers, split at doc_id 2500. */
  private def stagedArrivals(s: org.apache.spark.sql.SparkSession,
      d: String, arriving: org.apache.spark.sql.DataFrame): String =
    Streaming.stagedDir("admit_arr", d)(Streaming.stage(s, _,
      arriving.filter(col("doc_id") < 2500),
      arriving.filter(col("doc_id") >= 2500)))

  /** The st05/st16/st43 training stream: the embeddings as
    * [[StreamingTrainer.RoutedSchema]] rows with pid = seq = vec_id, in 4
    * equal-width vec_id ranges staged in vec_id order, so range k is
    * trigger k and training partition p of k folds the ids = p mod k in
    * id order. */
  private def stagedTrainStream(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Streaming.stagedDir("train", d) { dir =>
      val rows = T.embeddings(s, d).select(
          col("vec_id").cast(LongType).as("pid"),
          col("vec_id").cast(LongType).as("seq"),
          col("embedding").cast(ArrayType(DoubleType)).as("features"),
          when(col("label") >= 5, 1.0).otherwise(-1.0).as("target"))
      val ids = rows.agg(min("pid"), max("pid")).head()
      val (lo, step) = (ids.getLong(0), (ids.getLong(1) - ids.getLong(0)) / 4 + 1)
      Streaming.stage(s, dir, (0 until 4).map(k =>
        rows.filter(col("pid") >= lo + k * step && col("pid") < lo + (k + 1) * step)): _*)
    }

  private def uniq(prefix: String): String =
    s"${prefix}_${java.util.UUID.randomUUID().toString.replace("-", "")}"


  /** Stage the st04/st31 lifecycle envelopes (shared artifact): batch 1 is
    * 100 pre-Create training rows + the Create (exercising the pre-Create
    * buffer, SpokeLogic.scala:28-35); batch 2 is the remaining training
    * rows, 50 forecasting rows and a Query. Data envelopes are staged with
    * distributed writes keyed on the contiguous vec_id (0..n-1) — only the
    * 2 control envelopes are driver-built.
    */
  private def stageSpokeLifecycle(s: org.apache.spark.sql.SparkSession, d: String): String =
    Streaming.stagedDir("spoke", d) { dir =>
      import s.implicits._
      val feats = T.embeddings(s, d)
      val n = feats.count()
      def env(rows: org.apache.spark.sql.DataFrame, idOff: Long, op: String) =
        rows.select(
          (col("vec_id") + idOff).as("seq"),
          lit(1).as("pipelineId"),
          lit("data").as("kind"), lit("").as("reqType"), lit("").as("learner"),
          lit(-1L).as("requestId"), (col("vec_id") + idOff).as("id"),
          col("embedding").cast(ArrayType(DoubleType)).as("features"),
          (if (op == "training")
            when(col("label").cast(DoubleType) >= 5.0, 1.0).otherwise(-1.0)
          else lit(null).cast(DoubleType)).as("target"),
          lit(op).as("operation"))
          .as[Envelope](org.apache.spark.sql.Encoders.product[Envelope])
      val batch1 = env(feats.filter(col("vec_id") < 100), 0L, "training")
        .unionByName(Seq(
          Envelope(100000L, 1, "control", "Create", "PA", 1L, -1, Nil, None, "")).toDS())
      val batch2 = env(
          feats.filter(col("vec_id") >= 100 && col("vec_id") < n - 50),
          200000L, "training")
        .unionByName(env(feats.filter(col("vec_id") >= n - 50), 300000L, "forecasting"))
        .unionByName(Seq(
          Envelope(400000L, 1, "control", "Query", "", 9L, -1, Nil, None, "")).toDS())
      Streaming.stage(s, dir, batch1, batch2)
    }

  /** Hash-gated lifecycle rollup of st04/st31: the oracle pins the exact
    * per-kind traffic the staged lifecycle implies — ONE drain log (its
    * value = the 100 pre-Create buffered rows), exactly 50 predictions over
    * the contiguous forecasting id range, ONE Query response whose
    * fitted+ring accounting covers every training row. A spoke that loses
    * buffered rows on Create, predicts before a model exists, mis-keys an
    * envelope, or double-emits a response moves a count or flips a boolean.
    */
  private def spokeLifecycleGate(raw: org.apache.spark.sql.DataFrame,
      nEmb: Long): org.apache.spark.sql.DataFrame =
    raw
      .withColumn("fitted", // non-response rows extract "" -> NULL, not 0
        nullif(regexp_extract(col("info"), "fitted=(\\d+)", 1), lit(""))
          .cast(LongType))
      .withColumn("testn",
        nullif(regexp_extract(col("info"), "testn=(\\d+)", 1), lit(""))
          .cast(LongType))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("id").as("n_ids"),
        min("id").as("min_id"), max("id").as("max_id"),
        min("requestId").as("min_req"), max("requestId").as("max_req"),
        sum(when(col("value").isNull || isnan(col("value")), 1L)
          .otherwise(0L)).as("bad_vals"),
        sum("value").as("sum_value"),
        sum("fitted").as("sum_fitted"), sum("testn").as("sum_testn"))
      .select(col("kind"), col("n_rows"),
        when(col("kind") === "prediction",
          col("min_req") === -1L && col("max_req") === -1L)
          .when(col("kind") === "log",
            col("min_req") === 1L && col("max_req") === 1L)
          .otherwise(col("min_req") === 9L && col("max_req") === 9L)
          .as("req_ids_ok"),
        when(col("kind") === "prediction",
          col("n_ids") === 50L &&
            col("min_id") === lit(300000L + nEmb - 50L) &&
            col("max_id") === lit(300000L + nEmb - 1L))
          .otherwise(col("min_id") === -1L && col("max_id") === -1L)
          .as("ids_exact"),
        when(col("kind") === "log", col("sum_value") === 100.0)
          .when(col("kind") === "response",
            col("sum_fitted") + col("sum_testn") === lit(nEmb - 50L) &&
              col("bad_vals") === 0L)
          .otherwise(col("bad_vals") === 0L)
          .as("payload_ok"))
      .orderBy("kind")

  private val spokeLifecycleOracle: String =
    """SELECT * FROM (VALUES
      |  ('log', CAST(1 AS BIGINT), true, true, true),
      |  ('prediction', CAST(50 AS BIGINT), true, true, true),
      |  ('response', CAST(1 AS BIGINT), true, true, true))
      |  AS t(kind, n_rows, req_ids_ok, ids_exact, payload_ok)
      |ORDER BY kind""".stripMargin

  /** Drain a staged envelope dir through [[TwsSpoke]] on RocksDB, one file
    * per trigger; returns the spoke's events.
    */
  private def runSpoke(s: org.apache.spark.sql.SparkSession, dir: String,
      prefix: String, testMode: Boolean = false): org.apache.spark.sql.DataFrame = {
    val name = uniq(prefix)
    Streaming.drain(Streaming.stateSession(s), dir,
      org.apache.spark.sql.Encoders.product[Envelope].schema,
      Sink.Memory(name))(src => TwsSpoke.run(
        src.as[Envelope](org.apache.spark.sql.Encoders.product[Envelope]),
        testMode).toDF())
  }

  private val spokeLifecycle: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, d) =>
    spokeLifecycleGate(runSpoke(s, stageSpokeLifecycle(s, d), "spoke"),
      T.embeddings(s, d).count())

  val ops: Seq[Op] = Seq(
    // ------------------------------------------------------------------
    Op("st01_tumbling_window", (s, d) => {
      val (dir, schema, maxTs) = Streaming.stageEventsCached(s, d)
      val name = uniq("st01")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "35 days")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value")))
      res.filter(col("window_start_us") <= maxTs)
        .orderBy("window_start_us", "event_type")
    },
      Some(s"""SELECT epoch_us(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP))) AS window_start_us,
        |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin)),
    // ------------------------------------------------------------------
    Op("st02_sliding_window", (s, d) => {
      val (dir, schema, maxTs) = Streaming.stageEventsCached(s, d)
      val name = uniq("st02")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "35 days")
          .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value")))
      res.filter(col("window_start_us") <= maxTs)
        .orderBy("window_start_us", "event_type")
    },
      // every event falls in exactly two 6h/3h windows: the 3h-bucket it sits
      // in and the one 3h earlier
      Some(s"""WITH ex AS (
        |  SELECT unnest([epoch_us(time_bucket(INTERVAL 3 HOUR, CAST(ts AS TIMESTAMP))),
        |                 epoch_us(time_bucket(INTERVAL 3 HOUR, CAST(ts AS TIMESTAMP)) - INTERVAL 3 HOUR)])
        |           AS window_start_us,
        |         event_type, value
        |  FROM events)
        |SELECT window_start_us, event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM ex GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin)),
    // ------------------------------------------------------------------
    Op("st03_session_window", (s, d) => {
      val (dir, schema, maxTs) = Streaming.stageEventsCached(s, d)
      val name = uniq("st03")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "35 days")
          .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
            unix_micros(col("w.end")).as("session_end_us"), col("n"), col("sum_value")))
      res.filter(col("session_start_us") <= maxTs && col("user_id") >= 0)
        .orderBy("user_id", "session_start_us")
    },
      Some(s"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |o AS (SELECT user_id, ts, value,
        |      CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
        |  COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin)),
    // ------------------------------------------------------------------
    // Continuous training: 4 staged files = 4 micro-batches = 4 protocol
    // rounds on one routed training partition, each seeded from the
    // running global (the reference's continuous PS exchange, SURVEY
    // §3.2/§3.4(b)). Output: the per-batch learning curve + shipping stats.
    Op("st05_streaming_train", (s, d) => {
      import s.implicits._
      val fit = StreamingTrainer.fitStream(s, stagedTrainStream(s, d),
        StreamingTrainer.RoutedSchema,
        graft.pipeline.PipelineSpec(11, "PA", Map("C" -> 0.01), Nil, "Synchronous"))
      // hash-gated curve invariants (the ml01-08 trainOp pattern applied to
      // the STREAMING curve): batch ids are exactly 0..3 (four staged
      // range-files, one per trigger), cumulative fitted/loss never
      // regress, the final fitted total sits inside the held-out-ring
      // window, and every curve point's byte counter equals
      // modelsShipped x (d+1) x 8 — the PA wire-size law. A dropped
      // trigger, a double-counted replica, or a wire-format change each
      // flip a hashed boolean.
      val c = fit.curve.sortBy(_.batch)
      val dim = T.embeddings(s, d)
        .agg(max(size(col("embedding")))).head().getInt(0)
      val n = T.embeddings(s, d).count()
      val batchesExact = c.map(_.batch) == (0L until c.size.toLong)
      val fittedMono = c.map(_.fitted).sliding(2)
        .forall(w => w.size < 2 || w(0) <= w(1))
      val lossMono = c.map(_.cumLoss).sliding(2)
        .forall(w => w.size < 2 || w(0) <= w(1))
      val fittedFinal = c.last.fitted
      val fittedOk = fittedFinal >= math.max(1L, n - 4L * 256L) && fittedFinal <= n
      val lossOk = c.forall(p => !p.cumLoss.isNaN && !p.cumLoss.isInfinite &&
        p.cumLoss >= 0.0)
      val bytesLaw = c.forall(p =>
        p.bytesShipped == p.modelsShipped * (dim + 1).toLong * 8L)
      Seq((c.size, batchesExact, fittedMono, lossMono, fittedOk, lossOk, bytesLaw))
        .toDF("n_batches", "batches_exact", "fitted_monotone", "loss_monotone",
          "fitted_in_bounds", "loss_valid", "bytes_law_holds")
    },
      Some("""SELECT CAST(4 AS INTEGER) AS n_batches, true AS batches_exact,
        |  true AS fitted_monotone, true AS loss_monotone,
        |  true AS fitted_in_bounds, true AS loss_valid,
        |  true AS bytes_law_holds
        |FROM (SELECT 1)""".stripMargin)),
    // ------------------------------------------------------------------
    // Drift-gated continuous training (GM over the stream): with the drift
    // threshold set high, only the first micro-batch ships replicas; later
    // batches train locally and skip the merge entirely — the reference's
    // communication-skipping geometry, visible in the curve: modelsShipped
    // and fitted totals stay FLAT after batch 0 (the hub's view advances
    // only on shipped statistics — guarded against counter inflation by
    // MlSuite/PipelineSparkSuite).
    Op("st16_drift_stream_train", (s, d) => {
      import s.implicits._
      // same staged stream as st05, routed by vec_id % 4 (the drift gate
      // lives in the protocol, not the data)
      val fit = StreamingTrainer.fitStream(s, stagedTrainStream(s, d),
        StreamingTrainer.RoutedSchema,
        graft.pipeline.PipelineSpec(16, "PA", Map("C" -> 0.01), Nil, "GM",
          protocolHp = Map("threshold" -> 1e12)),
        partitionsPerBatch = 4)
      // hash-gated drift-geometry invariants: batch 0 must ship (round 1
      // has no previous model to drift against), and with the threshold at
      // 1e12 every later batch trains locally and ships NOTHING — the
      // hub's cumulative shipped/fitted counters stay FLAT after batch 0.
      // Counter inflation (the all-skipped double-count bug class) or a
      // drift gate that leaks a merge each flip a hashed boolean.
      val c = fit.curve.sortBy(_.batch)
      val batchesExact = c.map(_.batch) == (0L until c.size.toLong)
      val firstShips = c.head.modelsShipped > 0L && c.head.fitted > 0L
      val shippedFlat = c.forall(_.modelsShipped == c.head.modelsShipped)
      val fittedFlat = c.forall(_.fitted == c.head.fitted)
      val bytesFlat = c.forall(_.bytesShipped == c.head.bytesShipped)
      val lossOk = c.forall(p => !p.cumLoss.isNaN && !p.cumLoss.isInfinite &&
        p.cumLoss >= 0.0)
      Seq((c.size, batchesExact, firstShips, shippedFlat, fittedFlat,
        bytesFlat, lossOk))
        .toDF("n_batches", "batches_exact", "first_batch_ships",
          "shipped_flat_after_first", "fitted_flat_after_first",
          "bytes_flat_after_first", "loss_valid")
    },
      Some("""SELECT CAST(4 AS INTEGER) AS n_batches, true AS batches_exact,
        |  true AS first_batch_ships, true AS shipped_flat_after_first,
        |  true AS fitted_flat_after_first, true AS bytes_flat_after_first,
        |  true AS loss_valid
        |FROM (SELECT 1)""".stripMargin)),
    // ------------------------------------------------------------------
    // Typed Aggregator statistics merge (SURVEY §4's custom Aggregator):
    // per-pipeline totals with map-side partials, oracle-checked.
    Op("st06_stats_aggregate", (s, d) => {
      import s.implicits._
      val evts = T.orders(s, d).select(
        (col("o_custkey") % 4).cast(IntegerType).as("pipelineId"),
        (col("o_orderkey") % 7).as("modelsShipped"),
        (col("o_orderkey") % 1000).as("bytesShipped"),
        lit(1L).as("blocks"),
        (col("o_orderkey") % 13).as("fitted"),
        (col("o_totalprice") / 1000000.0).as("score"),
        unix_millis(col("o_orderdate").cast(TimestampType)).as("eventTimeMs"))
        .as[StatEvent]
      evts.groupByKey(_.pipelineId)
        .agg(graft.functions.StatsMergeAggregator.toColumn.name("st"))
        .select(col("key").as("pipeline_id"),
          col("st.modelsShipped").as("models_shipped"),
          col("st.bytesShipped").as("bytes_shipped"),
          col("st.blocks").as("blocks"),
          col("st.fitted").as("fitted"),
          col("st.score").as("score"),
          col("st.firstTsMs").as("first_ts_ms"),
          col("st.lastTsMs").as("last_ts_ms"))
        .orderBy("pipeline_id")
    },
      Some("""SELECT CAST(o_custkey % 4 AS INTEGER) AS pipeline_id,
        |  CAST(SUM(o_orderkey % 7) AS BIGINT) AS models_shipped,
        |  CAST(SUM(o_orderkey % 1000) AS BIGINT) AS bytes_shipped,
        |  COUNT(*) AS blocks,
        |  CAST(SUM(o_orderkey % 13) AS BIGINT) AS fitted,
        |  MAX(o_totalprice / 1000000.0) AS score,
        |  epoch_ms(min(o_orderdate)) AS first_ts_ms,
        |  epoch_ms(max(o_orderdate)) AS last_ts_ms
        |FROM orders
        |GROUP BY 1 ORDER BY pipeline_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Stream-stream inner join with a time-range condition: purchases
    // joined to the same user's signups within the following 7 days. Both
    // sides watermarked; the range condition bounds the join state.
    Op("st08_stream_stream_join", (s, d) => {
      // 2 data files (3 triggers with the sentinel): the join runs BOTH
      // sides' file sources per trigger, so trigger count is twice as
      // expensive here as in the single-source window queries.
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      def side(name: String, tsAlias: String, idAlias: String) =
        Streaming.source(s, dir, schema)
          .filter(col("event_type") === name)
          .select(col("user_id"), col("ts").as(tsAlias), col("event_id").as(idAlias))
          .withWatermark(tsAlias, "35 days")
      val signups = side("signup", "s_ts", "signup_event")
      val purchases = side("purchase", "p_ts", "purchase_event")
      val joined = signups.join(purchases,
        signups("user_id") === purchases("user_id") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"))
        .select(signups("user_id"), col("signup_event"), col("purchase_event"),
          (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("delay_us"))
      // each join side reads its own file-per-trigger source
      val name = uniq("st08")
      Streaming.drain(s, dir, schema, Sink.Memory(name))(
        _ => joined).orderBy("user_id", "signup_event", "purchase_event")
    },
      Some("""SELECT s.user_id, s.event_id AS signup_event, p.event_id AS purchase_event,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(s.ts AS TIMESTAMP)) AS delay_us
        |FROM events s JOIN events p
        |  ON p.user_id = s.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |ORDER BY s.user_id, signup_event, purchase_event""".stripMargin)),
    // ------------------------------------------------------------------
    // Late-data handling: on-time data arrives as two time-ordered files
    // (days 6..mid, mid..30); the third file carries days 0-6 and arrives
    // after the watermark has long passed them — entirely late, entirely
    // dropped. The oracle aggregates only the on-time rows. Two on-time
    // files are needed because Spark filters late records with the PREVIOUS
    // batch's watermark (SPARK-40925 chained-stateful-operator semantics):
    // the filter lags eviction by one trigger. This is the §2.7 capability
    // the reference lacks (ingestion-time only) and Spark watermarks provide.
    Op("st10_late_data", (s, d) => {
      // schema + maxTs come from the shared staged-events cache (same
      // source table); the late-arrival file layout is memoized separately
      val (_, schema, maxTs) = Streaming.stageEventsCached(s, d)
      val dir = Streaming.stagedDir("late", d) { dir =>
        val ev = T.events(s, d)
        val minTs = ev.agg(min(unix_micros(col("ts")))).head().getLong(0)
        val cutoff = minTs + 6L * 86400L * 1000000L
        val mid = (cutoff + maxTs) / 2
        Streaming.stage(s, dir,
          ev.filter(unix_micros(col("ts")) >= cutoff && unix_micros(col("ts")) < mid),
          ev.filter(unix_micros(col("ts")) >= mid),
          ev.filter(unix_micros(col("ts")) < cutoff),
          Streaming.eventsSentinel(ev, maxTs + 40L * 86400L * 1000000L))
      }
      val name = uniq("st10")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value")))
      res.filter(col("window_start_us") <= maxTs)
        .orderBy("window_start_us", "event_type")
    },
      Some(s"""WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |c AS (SELECT min(ts) + INTERVAL 6 DAY AS cutoff FROM e)
        |SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS window_start_us,
        |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM e, c WHERE ts >= cutoff
        |GROUP BY 1, 2
        |ORDER BY window_start_us, event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // Stream-stream LEFT OUTER join: same key + time-range condition as
    // st08, but unmatched signups must ALSO emit (null-extended) — and they
    // can only do so once the watermark proves no matching purchase can
    // still arrive. This is a different state-eviction path than the inner
    // join: null rows are produced by watermark progress, not by matches;
    // the far-future sentinel flushes the tail. The reference has no
    // watermark machinery at all (§2.7) — this is the Spark-native surface.
    Op("st15_stream_outer_join", (s, d) => {
      // Null-extended rows flush only when watermark > s_ts + 7d, so the
      // shared +120-day sentinel must clear maxTs + 35d (delay) + 7d
      // (range) — it does. The sentinel must also reach the watermark node
      // on BOTH sides — a pre-watermark event_type filter would drop it
      // (and the optimizer pushes post-watermark filters down anyway), so
      // each side keeps its own events PLUS the sentinel (user_id -1,
      // removed from the output).
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      def side(name: String, tsAlias: String, idAlias: String) =
        Streaming.source(s, dir, schema)
          .filter(col("event_type") === name || col("event_type") === "sentinel")
          .select(col("user_id"), col("ts").as(tsAlias), col("event_id").as(idAlias))
          .withWatermark(tsAlias, "35 days")
      val signups = side("signup", "s_ts", "signup_event")
      val purchases = side("purchase", "p_ts", "purchase_event")
      val joined = signups.join(purchases,
        signups("user_id") === purchases("user_id") &&
          col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 7 DAYS"),
        "leftOuter")
        .select(signups("user_id"), col("signup_event"), col("purchase_event"),
          (unix_micros(col("p_ts")) - unix_micros(col("s_ts"))).as("delay_us"))
      val name = uniq("st15")
      Streaming.drain(s, dir, schema, Sink.Memory(name))(
        _ => joined).filter(col("user_id") >= 0)
        .orderBy("user_id", "signup_event", "purchase_event")
    },
      Some("""SELECT s.user_id, s.event_id AS signup_event, p.event_id AS purchase_event,
        |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(s.ts AS TIMESTAMP)) AS delay_us
        |FROM events s LEFT JOIN events p
        |  ON p.user_id = s.user_id
        | AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
        |WHERE s.event_type = 'signup'
        |ORDER BY s.user_id, signup_event, purchase_event""".stripMargin)),
    // ------------------------------------------------------------------
    // Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark):
    // unlike st09's dropDuplicates — whose key state grows forever — this
    // keeps a key's state only until the watermark passes it, which is the
    // only dedup that survives an unbounded 100 TB stream. Key includes the
    // event day (at-most-one-event-per-user/type/day ingestion dedup).
    Op("st14_dedup_within_watermark", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val name = uniq("st14")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "35 days")
          .select(col("user_id"), col("event_type"),
            date_trunc("DAY", col("ts")).as("day"), col("ts"))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "day")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("day")).as("day_us")))
      res.filter(col("user_id") >= 0)
        .orderBy("user_id", "event_type", "day_us")
    },
      Some("""SELECT DISTINCT user_id, event_type,
        |  epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_us
        |FROM events
        |ORDER BY user_id, event_type, day_us""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming deduplication: distinct (user_id, event_type) keys over the
    // stream (dropDuplicates keyed state).
    Op("st09_stream_distinct", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val name = uniq("st09")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.select(col("user_id"), col("event_type")).dropDuplicates())
      res.filter(col("user_id") >= 0)
        .orderBy("user_id", "event_type")
    },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // Stream-static join: the streaming enrichment pattern — events stream
    // joined per micro-batch against a static broadcast dimension
    // (customer). Stateless (no join state, no watermark needed): each
    // trigger probes the broadcast table, so at scale this costs exactly one
    // broadcast + per-batch probe.
    Op("st11_stream_static_join", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val cust = broadcast(T.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
      val name = uniq("st11")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.join(cust, col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("c_mktsegment"),
            col("c_nationkey"), col("value")))
      res.orderBy("event_id")
    },
      Some("""SELECT event_id, user_id, c_mktsegment, c_nationkey, value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Complete output mode: an unwindowed running aggregation re-emitted in
    // full every trigger; the final emission equals the batch aggregate.
    // (Append mode + watermark is the scale path — complete mode keeps all
    // groups in state and re-emits them, right only for small cardinality.)
    Op("st12_complete_agg", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val name = uniq("st12")
      Streaming.drain(s, dir, schema, Sink.Memory(name, "complete"))(
        _.filter(col("event_type") =!= "sentinel")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value")))
        .orderBy("event_type")
    },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // Exactly-once streaming file sink (the O1-O4 analog for files): events
    // projected per-trigger into a parquet directory whose _spark_metadata
    // transaction log makes the write exactly-once; the batch read-back
    // honors the log, and the aggregate hash-matches the fixture oracle.
    Op("st13_file_sink", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val out = Streaming.output("graft_sink_")
      Streaming.drain(s, dir, schema, Sink.Files(out))(
        _.filter(col("event_type") =!= "sentinel")
          .select(col("event_id"), col("event_type"), col("value")))
      s.read.parquet(out.data)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min("event_id").as("min_event"), max("event_id").as("max_event"))
        .orderBy("event_type")
    },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
        |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // K5 ResponseConstructor (ResponseConstructor.scala:13-69) redesigned as
    // a proper aggregation (SURVEY §7 hard-part (c)): W worker-sharded
    // spokes (control requests broadcast to every shard — the C2
    // hub-broadcast expansion), each answering a Query with a partial
    // response; partials merge by requestId with a count==W gate,
    // dataFitted summed, losses averaged.
    Op("st07_response_merge", (s, d) => {
      import s.implicits._
      val workers = 4
      val nPoints = T.embeddings(s, d).count()
      // composite key pipelineId*1024 + worker; Create/Query broadcast to all.
      // Data envelopes are staged with a distributed write — only the O(W)
      // control envelopes are driver-built (no collect of the data path).
      val dir = Streaming.stagedDir("rc", d) { dir =>
        def key(w: Int) = 1 * 1024 + w
        val points = T.embeddings(s, d).select(
          (col("vec_id") + 100L).as("seq"),
          (lit(1 * 1024) + (col("vec_id") % workers).cast(IntegerType)).as("pipelineId"),
          lit("data").as("kind"), lit("").as("reqType"), lit("").as("learner"),
          lit(-1L).as("requestId"), col("vec_id").as("id"),
          col("embedding").cast(ArrayType(DoubleType)).as("features"),
          when(col("label") >= 5, 1.0).otherwise(-1.0).as("target"),
          lit("training").as("operation")).as[Envelope]
        val creates = (0 until workers).map(w =>
          Envelope(w.toLong, key(w), "control", "Create", "PA", 1L, -1, Nil, None, ""))
        val queries = (0 until workers).map(w =>
          Envelope(1000000L + w, key(w), "control", "Query", "", 9L, -1, Nil, None, ""))
        Streaming.stage(s, dir, (creates ++ queries).toDS().unionByName(points))
      }
      // the K5 step (the reference's exactly-p barrier) over each request's
      // worker responses; a worker's loss is its avg held-out-ring loss
      JobTopology.respProjection(runSpoke(s, dir, "st07")).as[WorkerResponse]
        .groupByKey(r => (r.pipe, r.requestId))
        .flatMapGroups((k, rows) => ResponseMerge.step(workers)(k, rows, None)._1)
        .select(col("requestId"), col("parts").cast(LongType).as("parts"),
          col("fitted").as("data_fitted"), col("testn").as("test_points"),
          col("avgLoss").as("avg_test_loss"))
        // hash-gated barrier invariants: the oracle pins the request id and
        // the exactly-p part count; fitted + held-out must account for
        // every point (the ring holds what training skipped), the ring is
        // non-empty yet bounded by workers x 256, and the merged held-out
        // loss is a finite non-negative average. A worker that never
        // responds, double-responds, or loses its shard breaks `parts` or
        // the accounting identity and fails the hash.
        .select(col("requestId").as("request_id"), col("parts"),
          (col("data_fitted") + col("test_points") === lit(nPoints))
            .as("accounting_exact"),
          (col("test_points") > 0L &&
            col("test_points") <= lit(workers.toLong * 256L))
            .as("ring_bounded"),
          (col("avg_test_loss").isNotNull &&
            !isnan(col("avg_test_loss")) && col("avg_test_loss") >= 0.0)
            .as("loss_valid"))
        .orderBy("request_id")
    },
      Some("""SELECT CAST(9 AS BIGINT) AS request_id,
        |  CAST(4 AS BIGINT) AS parts, true AS accounting_exact,
        |  true AS ring_bounded, true AS loss_valid
        |FROM (SELECT 1)""".stripMargin)),
    // ------------------------------------------------------------------
    // Test-mode polling learning curve (FlinkSpoke.scala:83-89): every 100
    // data records the spoke emits a curve point scored against its held-out
    // 2-of-10 test ring (FlinkSpoke.scala:92-107). The curve itself is
    // model-internal, so the hash gate checks its INVARIANTS as booleans the
    // oracle can reproduce: exactly floor(N/100) polls, fitted counts
    // monotone, classifier score inside [0,1], ring bounded by 256.
    Op("st17_poll_curve", (s, d) => {
      import s.implicits._
      val dir = Streaming.stagedDir("poll", d) { dir =>
        val points = T.embeddings(s, d).select(
          (col("vec_id") + 100L).as("seq"),
          lit(17).as("pipelineId"),
          lit("data").as("kind"), lit("").as("reqType"), lit("").as("learner"),
          lit(-1L).as("requestId"), col("vec_id").as("id"),
          col("embedding").cast(ArrayType(DoubleType)).as("features"),
          when(col("label") >= 5, 1.0).otherwise(-1.0).as("target"),
          lit("training").as("operation")).as[Envelope]
        Streaming.stage(s, dir,
          Seq(Envelope(0L, 17, "control", "Create", "PA", 1L, -1, Nil, None, ""))
            .toDS().unionByName(points))
      }
      val w = org.apache.spark.sql.expressions.Window.orderBy("fitted")
      runSpoke(s, dir, "st17", testMode = true)
        .filter(col("kind") === "curve")
        .select(col("id").as("fitted"), col("value").as("score"),
          regexp_extract(col("info"), "testn=(\\d+)", 1).cast(LongType).as("testn"))
        .withColumn("poll_idx", row_number().over(w))
        .select(col("poll_idx"),
          (col("fitted") > coalesce(lag("fitted", 1).over(w), lit(-1L)))
            .as("fitted_monotone"),
          (col("score") >= 0.0 && col("score") <= 1.0).as("score_in_unit"),
          (col("testn") <= graft.streaming.SpokeCore.TestCap).as("ring_bounded"))
        .orderBy("poll_idx")
    },
      Some("""SELECT CAST(gs AS INTEGER) AS poll_idx, true AS fitted_monotone,
        |  true AS score_in_unit, true AS ring_bounded
        |FROM (SELECT unnest(generate_series(1,
        |  (SELECT CAST(COUNT(*) / 100 AS BIGINT) FROM embeddings))) AS gs)
        |ORDER BY poll_idx""".stripMargin)),
    // ------------------------------------------------------------------
    // Job-statistics Terminate barrier, end-to-end over a real stream
    // (StatisticsOperator.scala:93-131): batch 1 carries ongoing per-hub
    // stats for 2 pipelines x 2 workers (fitted counts derived from orders
    // key classes), batch 2 three of the four Terminate partials (nothing
    // may emit), batch 3 the last partial — only then does the operator
    // release one final record per pipeline, with fitted = the summed
    // ongoing counts, score = scoreSum/(workers x testSetSize), and
    // makespan = endTs - startTs. Every output value is derived from the
    // orders table, so the oracle recomputes them; an early (broken-barrier)
    // emission would change fitted/score/partials and mismatch the hash.
    Op("st18_job_stats", (s, d) => {
      val dir = Streaming.stagedDir("jobstats", d) { dir =>
        val counts = T.orders(s, d)
          .groupBy((col("o_orderkey") % 4).cast(IntegerType).as("k"))
          .agg(count(lit(1)).as("cnt"))
          .crossJoin(T.orders(s, d).agg(count(lit(1)).cast(DoubleType).as("total")))
        def partial(tag: String, tsExpr: org.apache.spark.sql.Column,
            fitted: org.apache.spark.sql.Column, score: org.apache.spark.sql.Column) =
          counts.select(
            lit(tag).as("tag"),
            ((col("k") / 2).cast(IntegerType) + 1).as("pipelineId"),
            (col("k") % 2).cast(IntegerType).as("worker"),
            (col("cnt") % 100).as("modelsShipped"),
            (col("cnt") * 8).as("bytesShipped"),
            fitted.as("fitted"),
            lit(2.0).as("meanBufferSize"),
            score.as("score"),
            tsExpr.as("eventTimeMs"))
        val stats = partial("stats", (col("k") + 1) * 1000L, col("cnt"), lit(0.0))
        val term = partial("Terminate", col("k") * 1000L + 10000L, lit(0L),
          col("cnt").cast(DoubleType) / col("total"))
        // 3 staged batches: stats, 3 partials, then the barrier-completing 4th
        Streaming.stage(s, dir, stats,
          term.filter(col("worker") =!= 1 || col("pipelineId") =!= 2),
          term.filter(col("worker") === 1 && col("pipelineId") === 2))
      }
      import s.implicits._
      val name = uniq("st18")
      Streaming.drain(Streaming.stateSession(s), dir,
        implicitly[org.apache.spark.sql.Encoder[StatPartial]].schema,
        Sink.Memory(name))(src =>
        JobStatsOperator.run(src.as[StatPartial], workers = 2,
          timeoutMs = 600000L).toDF())
        .filter(col("kind") === "job_statistics_final")
        .select(col("pipelineId").as("pipeline_id"),
          col("value").as("score"),
          regexp_extract(col("info"), "makespan=(\\d+)", 1).cast(LongType).as("makespan"),
          regexp_extract(col("info"), "fitted=(\\d+)", 1).cast(LongType).as("fitted"),
          regexp_extract(col("info"), "partials=(\\d+)", 1).cast(LongType).as("partials"))
        .orderBy("pipeline_id")
    },
      Some("""WITH c AS (SELECT CAST(o_orderkey % 4 AS INTEGER) AS k, COUNT(*) AS cnt
        |        FROM orders GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM orders)
        |SELECT pp.p AS pipeline_id,
        |  ((CAST(c0.cnt AS DOUBLE) / t.total) * 256 +
        |   (CAST(c1.cnt AS DOUBLE) / t.total) * 256) / 512.0 AS score,
        |  CAST(3000 AS BIGINT) AS makespan,
        |  CAST(c0.cnt + c1.cnt AS BIGINT) AS fitted,
        |  CAST(2 AS BIGINT) AS partials
        |FROM (SELECT unnest(generate_series(1, 2)) AS p) pp
        |JOIN c c0 ON c0.k = 2 * (pp.p - 1)
        |JOIN c c1 ON c1.k = 2 * pp.p - 1
        |CROSS JOIN t
        |ORDER BY pipeline_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Keyed stateful spoke over a staged envelope stream: batch 1 delivers
    // 100 data points BEFORE the Create (exercising the pre-Create buffer,
    // SpokeLogic.scala:28-35) plus the Create; batch 2 delivers the rest,
    // forecasting points, and a Query. Output: predictions + response + logs.
    // st04 and st31 run one body: the correctness ledger keys on both names.
    Op("st04_spoke_lifecycle", spokeLifecycle, Some(spokeLifecycleOracle)),
    Op("st31_tws_spoke_lifecycle", spokeLifecycle, Some(spokeLifecycleOracle)),
    // ------------------------------------------------------------------
    // STREAMING LM QUALITY SCORING (the serving path of t26's CCNet-style
    // filter): held-out documents arrive over multiple triggers; each
    // trigger explodes the batch to bigrams (stateless), scores them
    // against the STATIC batch-trained bigram LM via stream-static left
    // joins, and appends per-bigram quantized NLLs — the shape of scoring
    // a live crawl against yesterday's LM. The post-drain rollup (per-doc
    // mean + tercile bucket) is presentation, and the gate is the EXACT
    // t26 oracle: streaming scoring must reproduce batch scoring
    // bit-for-bit (the DECIMAL(24,9) per-bigram quantization makes the
    // per-doc sum indifferent to trigger boundaries). At 100 TB the LM is
    // min-count-pruned and broadcast (see lmArtifacts), so each trigger is
    // a shuffle-free map-side join; state here is zero — the stream is
    // append-only projections and joins.
    Op("st32_stream_lm_score", (s, d) => {
      val (c12, c1, voc) = TextAnalysis.lmArtifacts(s, d)
      val held = T.documents(s, d).filter(col("doc_id") % 10 >= 8)
        .select("doc_id", "lang", "text")
      val schema = held.schema
      val dir = Streaming.stagedDir("lmscore", d)(Streaming.stage(s, _,
        held.filter(col("doc_id") % 20 < 10), held.filter(col("doc_id") % 20 >= 10)))
      val name = uniq("st32")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        TextAnalysis.lmBigrams(src)
          .transform(TextAnalysis.lmScore(c12, c1, voc)))
      TextAnalysis.lmBucket(res.groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("nllq")).cast(DoubleType) / count(lit(1)), 6)
            .as("nll")))
    }, Some(TextAnalysis.lmOracleSql)),
    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED DATASET CARD (streaming p04): documents
    // arrive over two triggers; each micro-batch appends two tiny partial
    // logs — the additive (source, lang) volume counters and the
    // (hash, source, lang) occurrence ledger that makes CORPUS-WIDE
    // exact-duplicate detection incremental (a doc is dup-exposed iff its
    // hash's summed count across all triggers is >= 2, so late arrivals
    // retroactively flip earlier docs — which per-trigger counting alone
    // cannot see). The read path compacts both logs and must hash-match
    // p04's batch oracle verbatim. All counters int64-additive: trigger
    // boundaries cannot move a bit. At 100 TB the hash ledger is the
    // dedup index (hash-partitioned, O(corpus) like any dedup state);
    // the volume log stays O(sources x langs x triggers).
    Op("st33_stream_data_card", (s, d) => {
      val docsDf = T.documents(s, d)
        .select("doc_id", "source", "lang", "text", "n_chars")
      val schema = docsDf.schema
      val dir = Streaming.stagedDir("datacard", d)(Streaming.stage(s, _,
        docsDf.filter(col("doc_id") % 2 === 0), docsDf.filter(col("doc_id") % 2 === 1)))
      val out = Streaming.output("graft_card_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        val m = batch.select(col("source"), col("lang"), col("doc_id"),
          col("n_chars"),
          size(split(col("text"), " ")).cast(LongType).as("n_tok"),
          md5(col("text")).as("h"))
        w.write("card", m.groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
            sum("n_chars").cast(LongType).as("n_chars"),
            sum(when(col("n_tok") < 20L, 1L).otherwise(0L))
              .as("n_short"),
            sum(when(col("doc_id") % 10 >= 8, 1L).otherwise(0L))
              .as("n_held")))
        w.write("hashes", m.groupBy("h", "source", "lang").agg(count(lit(1)).as("c")))
      })(identity)
      val card = out.read(s, "card").groupBy("source", "lang")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
          sum("n_chars").as("n_chars"), sum("n_short").as("n_short"),
          sum("n_held").as("n_held"))
      val hp = out.read(s, "hashes")
      val dupHashes = hp.groupBy("h").agg(sum("c").as("tot"))
        .filter(col("tot") >= 2).select("h")
      val dups = hp.join(dupHashes, Seq("h"))
        .groupBy("source", "lang").agg(sum("c").as("n_exact_dup"))
      card.join(dups, Seq("source", "lang"), "left")
        .withColumn("n_exact_dup", coalesce(col("n_exact_dup"), lit(0L)))
        .withColumn("dup_rate",
          col("n_exact_dup").cast(DoubleType) / col("n_docs"))
        .withColumn("mean_doc_tokens",
          col("n_tokens").cast(DoubleType) / col("n_docs"))
        .select("source", "lang", "n_docs", "n_tokens", "n_chars",
          "n_exact_dup", "n_short", "n_held", "dup_rate",
          "mean_doc_tokens")
        .orderBy("source", "lang")
    }, Some(Curation.dataCardOracle)),
    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED TEMPERATURE MIXTURE (streaming t27): the
    // sampling plan a live multilingual ingest keeps current. Documents
    // arrive over two triggers; each micro-batch appends one tiny
    // per-language count partial (int64-additive — trigger boundaries
    // cannot move a bit), and the read path compacts the partial log and
    // applies t27's EXACT mixture arithmetic: the gate is the identical
    // batch oracle, so the stream-maintained plan must equal the
    // batch-computed plan bit-for-bit. At 100 TB the partial log is
    // O(languages x triggers) regardless of ingest volume — recomputing
    // the mixture after each trigger costs a constant-size fold, never a
    // corpus rescan.
    Op("st34_stream_temperature_mix", (s, d) => {
      val docsDf = T.documents(s, d).select("doc_id", "lang")
      val schema = docsDf.schema
      val dir = Streaming.stagedDir("tempmix", d)(Streaming.stage(s, _,
        docsDf.filter(col("doc_id") % 2 === 0), docsDf.filter(col("doc_id") % 2 === 1)))
      val out = Streaming.output("graft_tmix_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("counts", batch.groupBy("lang").agg(count(lit(1)).as("n")))
      })(identity)
      TextAnalysis.temperatureMix(
        out.read(s, "counts")
          .groupBy("lang").agg(sum("n").as("n_docs")))
    }, Some(TextAnalysis.temperatureMixOracle)),
    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED CO-PURCHASE EDGES (streaming g08): the
    // graph artifact every g-query reads, maintained by DELTA SELF-JOIN
    // instead of nightly recomputation. Items arrive over two triggers
    // SPLIT WITHIN ORDERS (partkey parity), so co-purchase pairs span
    // trigger boundaries — the case per-trigger self-joins alone cannot
    // see. Each micro-batch emits batch x batch pairs (strict pk order)
    // PLUS batch x prior-ledger pairs (min/max normalized), appends the
    // weight partials, then appends itself to the ledger; every unordered
    // row pair lands in exactly one category, so the compacted weights
    // equal the batch self-join's — the gate is g08's VERBATIM top-50
    // oracle. Scale shape: the delta join is |batch| x O(basket) via the
    // order-key equi-join (the ledger is hash-partitioned by order key at
    // 100 TB, so each trigger shuffles only the batch); the pair log is
    // int64-additive and compaction folds into any read.
    Op("st35_stream_edge_maintenance", (s, d) => {
      val li = T.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val schema = li.schema
      val dir = Streaming.stagedDir("edgemaint", d)(Streaming.stage(s, _,
        li.filter(col("pk") % 2 === 0), li.filter(col("pk") % 2 === 1)))
      val out = Streaming.output("graft_edgeinc_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        val b = batch.persist()
        val prior = out.read(s, "ledger", below = w.id, schema = schema)
        val pairs = b.as("x").join(b.as("y"),
            col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
          .select(col("x.pk").as("a"), col("y.pk").as("b"))
          .unionByName(b.as("x").join(prior.as("y"),
              col("x.ok") === col("y.ok") && col("x.pk") =!= col("y.pk"))
            .select(least(col("x.pk"), col("y.pk")).as("a"),
              greatest(col("x.pk"), col("y.pk")).as("b")))
        w.write("pairs", pairs.groupBy("a", "b").agg(count(lit(1)).as("w")))
        w.write("ledger", b)
        b.unpersist()
      })(identity)
      out.read(s, "pairs")
        .groupBy("a", "b").agg(sum("w").as("w"))
        .orderBy(col("w").desc, col("a"), col("b"))
        .limit(50)
    }, Some(Graph.copurchaseTop50Oracle)),
    // ------------------------------------------------------------------
    // STREAMING DISTRIBUTION-DRIFT MONITOR (incremental t28): the
    // (source, token) count ledger is int64-additive, so per-trigger
    // partials compact to EXACTLY the batch counts and the KL arithmetic
    // (one rounded transcendental per term, decimal-summed) reproduces
    // the batch report bit-for-bit — the gate is t28's verbatim oracle.
    // The live shape: each trigger folds O(batch vocab) partials into the
    // ledger; recomputing the drift report after a trigger reads the
    // compacted O(sources x vocab) aggregate, never the raw corpus.
    Op("st36_stream_kl_drift", (s, d) => {
      val (dir, schema) = stagedDocsTwoFiles(s, d)
      val out = Streaming.output("graft_kl_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("counts", batch.select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("n")))
      })(identity)
      TextAnalysis.sourceKl(
        out.read(s, "counts")
          .groupBy("source", "w").agg(sum("n").as("c_sw")))
    }, Some(TextAnalysis.sourceKlOracle)),
    // ------------------------------------------------------------------
    // Incremental materialized aggregate via foreachBatch (the lambda-free
    // upsert pattern): each micro-batch appends its tiny per-key partial
    // aggregate (one row per key per trigger); the read path compacts the
    // partials with a bounded groupBy. The stream never rewrites history —
    // at 100 TB the partial log stays O(keys × triggers) regardless of
    // input volume, and compaction can fold into the same read. Sums stay
    // integer (floor(value*1000)) so partial-merge order cannot move a bit.
    Op("st19_foreachbatch_upsert", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val out = Streaming.output("graft_upsert_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("partials", batch.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000).cast(LongType)).as("sum_milli"))
          .withColumn("batch_id", lit(w.id)))
      })(_.filter(col("event_type") =!= "sentinel"))
      out.read(s, "partials")
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("sum_milli").as("sum_milli"))
        .select(col("event_type"), col("n"), col("sum_milli"),
          (col("sum_milli").cast(DoubleType) / 1000.0).as("approx_sum"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS DOUBLE) / 1000.0
        |    AS approx_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming corpus curation: p01's ingest stages (language +
    // hashed-classifier quality filter, exact content dedup) running
    // INCREMENTALLY on a document stream — the same declarative operators,
    // only readStream changes. Dedup keys on (source, content-hash), so
    // the kept-count per source is arrival-order independent and the batch
    // oracle reproduces it exactly; the rollup after the stream is
    // presentation. Dedup state is one 16-byte hash per kept doc — at
    // 100 TB bound it with dropDuplicatesWithinWatermark (st14) when the
    // stream carries event time.
    Op("st20_stream_curation", (s, d) => {
      val docsDf = T.documents(s, d).select("doc_id", "source", "lang", "text")
      val schema = docsDf.schema
      val dir = Streaming.stagedDir("curation", d)(Streaming.stage(s, _,
        docsDf.filter(col("doc_id") % 2 === 0), docsDf.filter(col("doc_id") % 2 === 1)))
      val name = uniq("st20")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.filter(col("lang") === "en")
          .withColumn("score_num", expr(
            "aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, t) -> " +
              "acc + (CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % 1001) - 500)"))
          .filter(col("score_num") > 0L)
          .select(col("source"), md5(col("text").cast(BinaryType)).as("h"))
          .dropDuplicates("source", "h"))
      res.groupBy("source").agg(count(lit(1)).as("docs_kept"))
        .orderBy("source")
    },
      Some("""SELECT source, COUNT(DISTINCT md5(text)) AS docs_kept
        |FROM documents
        |WHERE lang = 'en' AND
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      t -> (('0x' || substr(md5(t), 1, 8))::BIGINT % 1001) - 500)),
        |    (a, b) -> a + b) > 0
        |GROUP BY source ORDER BY source""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming ingest with deterministic split ROUTING (t18's hash split
    // applied on the wire): documents stream in over multiple triggers and
    // land in a split-PARTITIONED streaming parquet sink, so train/val/test
    // are physically separate directories the moment data arrives — a
    // downstream trainer reads its split partition-pruned, never scanning
    // holdout bytes. Membership is the same pure projection as t18
    // (exactly-once via the sink checkpoint), and the rollup over the sink
    // hash-matches the batch oracle — proof the streaming route dropped and
    // duplicated nothing.
    Op("st21_stream_split_sink", (s, d) => {
      val (outData, _) = streamSplitSink(s, d)
      s.read.parquet(outData)
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast(LongType).as("n_chars"))
        .orderBy("source", "split")
    },
      Some("""WITH b AS (
        |  SELECT source, n_chars,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |      AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |FROM b GROUP BY 1, 2
        |ORDER BY source, split""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming ANN serving: a stream of query vectors probes the STATIC
    // LSH-bucketed index (s02's exact bucket derivation) via a stateless
    // stream-static join — each trigger probes the index with that batch's
    // queries, the serving-path shape of a vector search endpoint. The gate
    // proves streaming serve == batch ANN: the drained stream's top-3 per
    // query hash-matches s02's oracle exactly. At 100 TB the static side is
    // not broadcast but laid out bucket-partitioned (s04), so each probe
    // reads only its bucket's inverted list; the stream-static join shape
    // is unchanged.
    Op("st22_stream_ann_serve", (s, d) => {
      import s.implicits._
      // The serving index (corpus + LSH bucket per vector) is a PERSISTED
      // bucketed table, not a live DataFrame: a stream-static join
      // re-executes the static side's plan EVERY trigger, so the original
      // in-session `eb` re-ran the corpus-wide bucket groupBy per trigger —
      // 1,034 MiB of shuffle for 48 result rows at 2M vectors (measured,
      // r12). Bucketed on the join key, per-trigger cost is the probe
      // side's exchange plus a pruned index scan; production maintains
      // this table incrementally at ingest (the d15 amortization story).
      val ebTbl = bucketedArtifact(s,
        s"annserve@v1#$d",
        "st22_idx", "bucket",
        "vec_id BIGINT, embedding ARRAY<FLOAT>, bucket BIGINT") {
        val e = T.embeddings(s, d)
        val planes =
          (0 until 6).map(p => (p, Similarity.planeVec(p))).toDF("p", "r")
        val buckets = e.crossJoin(broadcast(planes))
          .withColumn("dp", F.dotFD(col("embedding"), col("r")))
          .withColumn("bit",
            when(col("dp") > 0, expr("shiftleft(cast(1 as bigint), p)"))
              .otherwise(0L))
          .groupBy("vec_id").agg(sum("bit").as("bucket"))
        e.join(buckets, "vec_id").select("vec_id", "embedding", "bucket")
      }
      val eb = s.table(ebTbl)
      val q = eb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("bucket"))
      // query stream staged as 2 files -> 2 genuine probe triggers
      val dir = Streaming.scratchDir("graft_st22_")
      q.repartition(2).write.mode("overwrite").parquet(dir)
      val schema = q.schema
      val name = uniq("st22")
      val scoredAll = Streaming.drain(s, dir, schema, Sink.Memory(name))(
        _.join(eb, Seq("bucket"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cos", F.cosineSim(col("q_emb"), col("embedding")))
          .select("q_id", "vec_id", "bucket", "cos"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      scoredAll.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("q_id", "rk", "vec_id", "bucket", "cos")
        .orderBy("q_id", "rk")
    },
      Some(s"""WITH pl AS (${Similarity.sqlPlanesUpTo(5)}),
        |dt AS (SELECT e.vec_id, pl.p,
        |       list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |         list_transform(generate_series(1, len(e.embedding)),
        |           i -> CAST(e.embedding[i] AS DOUBLE) * pl.r[i])), (x, y) -> x + y) AS dp
        |       FROM embeddings e CROSS JOIN pl),
        |bk AS (SELECT vec_id,
        |       CAST(SUM(CASE WHEN dp > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
        |       FROM dt GROUP BY vec_id),
        |eb AS (SELECT e.vec_id, e.embedding, bk.bucket FROM embeddings e JOIN bk USING (vec_id)),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb, bucket FROM eb WHERE vec_id < 16),
        |sc AS (SELECT q.q_id, eb.vec_id, eb.bucket, ${VecSql.cos("q.q_emb", "eb.embedding")} AS cos
        |       FROM eb JOIN q USING (bucket) WHERE eb.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, bucket, cos,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sc)
        |SELECT q_id, rk, vec_id, bucket, cos FROM r WHERE rk <= 3
        |ORDER BY q_id, rk""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming ingest admission (d15's serve path): arriving docs compute
    // their MinHash band signatures ROW-LOCALLY (array-domain shingling +
    // 16 perm folds in one projection — no explode→groupBy aggregation, so
    // the streaming path is stateless) and band-probe the static corpus
    // index per trigger. Candidates drain to a sink; the admission verdict
    // (exact-Jaccard verify + per-doc admit/reject) is the batch post-pass
    // over drained candidates. Signatures here are UNCAPPED by design: the
    // DF cap is a corpus-self-join bound a row-local wire signature cannot
    // see, and single-doc admission work is bounded by the doc itself; the
    // oracle mirrors the uncapped pipeline end-to-end. At 100 TB the
    // corpus band table is the persisted index (d15), and each trigger
    // costs its own batch's bands x index probe — no state store growth.
    Op("st23_stream_admission", (s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val withBucket = docs.withColumn("bucket", Dedup.bucketCol)
      // the corpus band index and shingle table are PERSISTED, not rebuilt
      // per arriving batch — exactly the d15 amortization story: index
      // build is maintenance, admission pays only the probe
      val shDir = Streaming.stagedDir("admit_sh", d) { dir =>
        Dedup.rawShinglesOf(docs).write.mode("overwrite").parquet(dir)
      }
      val shRaw = s.read.parquet(shDir)
      val idxDir = Streaming.stagedDir("admit_idx", d) { dir =>
        Dedup.bandsOf(s.read.parquet(shDir))
          .join(withBucket.filter(col("bucket") < 90).select("doc_id"), "doc_id")
          .select(col("doc_id").as("corp_id"), col("band"), col("sig"))
          .write.mode("overwrite").parquet(dir)
      }
      val corpusBands = s.read.parquet(idxDir)
      // stage the arriving batch as 2 files -> 2 probe triggers
      val dir = Streaming.stagedDir("admit", d) { dir =>
        val nb = withBucket.filter(col("bucket") >= 90).select("doc_id", "text")
        Streaming.stage(s, dir, nb.filter(col("doc_id") % 2 === 0),
          nb.filter(col("doc_id") % 2 === 1))
      }
      val name = uniq("st23")
      val candTable = Streaming.drain(s, dir,
        StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))),
        Sink.Memory(name)) { src =>
        val banded = src
          // r13: the distinct-shingle array in one codegen'd byte pass
          // (word_shingles5) instead of the split + interpreted
          // array_distinct(transform(sequence...)) HOF chain — same
          // first-occurrence order, byte-exact equivalence at
          // graft.functions.VectorOps.wordShingles5. Short docs (<5
          // tokens) yield an empty array and must still be dropped BEFORE
          // the mh fold: aggregate over an empty hs would emit the init
          // value as a signature where the old filter(size(toks) >= 5)
          // emitted no row at all.
          .withColumn("shd", F.wordShingles5(col("text")))
          .filter(size(col("shd")) > 0)
          .withColumn("hs", expr(
            "transform(shd, x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"))
          .withColumn("mh", expr(
            "transform(sequence(0, 15), i -> aggregate(hs, cast(2147483647 as bigint), " +
              "(acc, h) -> least(acc, ((100003 + 7919*i)*h + (12345 + 104729*i)) % 2147483647)))"))
          .select(col("doc_id").as("new_id"), explode(expr(
            "transform(sequence(0, 3), b -> struct(b as band, " +
              "array_join(transform(slice(mh, 4*b + 1, 4), v -> CAST(v AS STRING)), ',') as sig))"))
            .as("bs"))
          .select(col("new_id"), col("bs.band").cast(IntegerType).as("band"),
            col("bs.sig").as("sig"))
        banded.join(corpusBands, Seq("band", "sig")).select("new_id", "corp_id")
      }
      val cand = candTable.distinct()
      val inter = cand
        .join(shRaw.as("sa"), col("new_id") === col("sa.doc_id"))
        .join(shRaw.as("sb"), col("corp_id") === col("sb.doc_id") &&
          col("sa.sh") === col("sb.sh"))
        .groupBy("new_id", "corp_id").agg(count(lit(1)).as("inter"))
      val sz = shRaw.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val best = inter
        .join(sz.select(col("doc_id").as("new_id"), col("n").as("na")), "new_id")
        .join(sz.select(col("doc_id").as("corp_id"), col("n").as("nb")), "corp_id")
        .withColumn("jaccard",
          (col("inter").cast(DoubleType) /
            (col("na") + col("nb") - col("inter"))).cast(DoubleType))
        .filter(col("jaccard") >= 0.3)
        .groupBy("new_id").agg(max("jaccard").as("best_j"))
      withBucket.filter(col("bucket") >= 90).select(col("doc_id"))
        .join(best, col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), col("best_j"), col("best_j").isNull.as("admit"))
        .orderBy("doc_id")
    },
      Some(s"""WITH sh0 AS (${Dedup.sqlShingles}),
        |bk AS (SELECT doc_id,
        |       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
        |         AS bucket FROM documents),
        |hs AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh0),
        |pm AS (SELECT i, 100003 + 7919*i AS a, 12345 + 104729*i AS b
        |       FROM (SELECT unnest(generate_series(0, 15)) AS i)),
        |mh AS (SELECT doc_id, i, min((a*h + b) % 2147483647) AS mh
        |       FROM hs CROSS JOIN pm GROUP BY doc_id, i),
        |bands AS (SELECT m.doc_id, k.bucket, i // 4 AS band,
        |          string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
        |          FROM mh m JOIN bk k ON k.doc_id = m.doc_id
        |          GROUP BY m.doc_id, k.bucket, i // 4),
        |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corp_id
        |         FROM bands n JOIN bands c
        |           ON n.band = c.band AND n.sig = c.sig
        |         WHERE n.bucket >= 90 AND c.bucket < 90),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
        |iv AS (SELECT c.new_id, c.corp_id, count(*) AS inter
        |       FROM cand c JOIN sh0 a ON a.doc_id = c.new_id
        |       JOIN sh0 b ON b.doc_id = c.corp_id AND b.sh = a.sh
        |       GROUP BY 1, 2),
        |best AS (SELECT iv.new_id, MAX(CAST(inter AS DOUBLE)
        |           / (sa.n + sb.n - inter)) AS best_j
        |         FROM iv JOIN sz sa ON sa.doc_id = iv.new_id
        |         JOIN sz sb ON sb.doc_id = iv.corp_id
        |         WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
        |         GROUP BY 1)
        |SELECT k.doc_id, best_j, best_j IS NULL AS admit
        |FROM bk k LEFT JOIN best ON best.new_id = k.doc_id
        |WHERE k.bucket >= 90 ORDER BY k.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Incremental processing with checkpoint RESUME — the nightly-ingest
    // pattern at 100 TB: day N's run must process only day N's files, not
    // re-scan the lake. Run 1 streams the first staged file through a
    // foreachBatch decimal-partial sink and stops; a second file lands; a
    // NEW query starts against the SAME checkpoint and processes ONLY the
    // delta (the file-source offset log skips everything already
    // committed). Gates: the merged partials equal the batch aggregate
    // over all data (decimal-exact, so the hash match is bit-for-bit), and
    // `resumed_delta_only` asserts run 2's processed row count equals the
    // second file's rows — a checkpoint regression (reprocessing file 1)
    // flips it.
    Op("st24_incremental_resume", (s, d) => {
      val ev = T.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val evA = ev.filter(col("event_id") % 3 =!= 0)
      val evB = ev.filter(col("event_id") % 3 === 0)
      val dir = Streaming.scratchDir("graft_incr_src_")
      val out = Streaming.output("graft_incr_out_")
      val schema = ev.schema
      def runOnce(run: Int): Unit =
        Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
          w.write("partials", b.groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(Num.dec2(col("value"))).as("sv"))
            .withColumn("run", lit(run)))
        })(identity)
      Streaming.stage(s, dir, evA)
      runOnce(1)
      Streaming.stage(s, dir, evB)
      runOnce(2)
      val partials = out.read(s, "partials")
      val run2Rows = partials.filter(col("run") === 2)
        .agg(coalesce(sum("n"), lit(0L))).head().getLong(0)
      val deltaOnly = run2Rows == evB.count()
      partials.groupBy("event_type")
        .agg(sum("n").as("n"), sum("sv").cast(DoubleType).as("sum_value"))
        .withColumn("resumed_delta_only", lit(deltaOnly))
        .select(col("event_type"), col("n"), col("sum_value"),
          col("resumed_delta_only"))
        .orderBy("event_type")
    },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
        |  true AS resumed_delta_only
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming -> RDBMS serving store: per-trigger aggregates MERGEd into
    // an embedded-Derby table by key (the "stream keeps a warehouse table
    // fresh" pattern). Each micro-batch pre-aggregates per event_type (4
    // partial rows, not 30k events, cross the JDBC boundary), then
    // foreachPartition executes MERGE INTO ... WHEN MATCHED UPDATE SET
    // n = n + ?, sv = sv + ? — an ACCUMULATING upsert, so the final table
    // state is independent of trigger count, batch boundaries, and
    // partition order (long + DECIMAL addition commutes). foreachBatch is
    // only at-least-once, so each partition's applies run in ONE Derby
    // transaction that FIRST inserts (batch_id, partition_id) into an
    // applied-ledger with a primary key: a replayed task hits the
    // duplicate-key error and skips its applies — the additive MERGE
    // becomes idempotent per (batch, partition), which together with the
    // source checkpoint makes the sink effectively-once. The result is
    // read BACK through the JDBC source and hash-matched against the batch
    // aggregate over all events — any double-count, lost batch, or decimal
    // drift through the JDBC type boundary breaks the gate.
    Op("st25_stream_jdbc_upsert", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val dbDir = Streaming.scratchDir("graft_derbysink_")
      val url = s"jdbc:derby:$dbDir/db;create=true"
      // create the target table once, driver-side
      val c0 = java.sql.DriverManager.getConnection(url)
      c0.createStatement().execute(
        "CREATE TABLE stats (et VARCHAR(32) PRIMARY KEY, " +
          "n BIGINT, sv DECIMAL(18,2))")
      c0.createStatement().execute(
        "CREATE TABLE applied (batch_id BIGINT, part_id INT, " +
          "PRIMARY KEY (batch_id, part_id))")
      c0.close()
      Streaming.drain(s, dir, schema, Sink.Batches { (b, batchId) =>
        b.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(Num.dec2(col("value"))).as("sv"))
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            if (rows.nonEmpty) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val c = java.sql.DriverManager.getConnection(url)
              try {
                c.setAutoCommit(false)
                val claimed = try {
                  c.prepareStatement(
                    s"INSERT INTO applied VALUES ($batchId, $pid)")
                    .executeUpdate()
                  true
                } catch {
                  // duplicate key = this (batch, partition) already
                  // applied by an earlier attempt — replay is a no-op
                  case _: java.sql.SQLIntegrityConstraintViolationException =>
                    c.rollback(); false
                }
                if (claimed) {
                  val st = c.prepareStatement(
                    "MERGE INTO stats t USING SYSIBM.SYSDUMMY1 " +
                      "ON t.et = ? " +
                      "WHEN MATCHED THEN UPDATE SET n = t.n + ?, sv = t.sv + ? " +
                      "WHEN NOT MATCHED THEN INSERT (et, n, sv) VALUES (?, ?, ?)")
                  rows.foreach { r =>
                    val et = r.getString(0); val n = r.getLong(1)
                    val sv = r.getDecimal(2)
                    st.setString(1, et); st.setLong(2, n); st.setBigDecimal(3, sv)
                    st.setString(4, et); st.setLong(5, n); st.setBigDecimal(6, sv)
                    st.executeUpdate()
                  }
                  c.commit()
                }
              } finally c.close()
            }
          }
      })(_.filter(col("event_type") =!= "sentinel"))
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      s.read.jdbc(url, "stats", props)
        .select(col("et").as("event_type"), col("n"),
          col("sv").cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    },
      Some(s"""SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ------------------------------------------------------------------
    // Windowed approximate-distinct UNDER THE STREAMING ENGINE: HLL++
    // partials merge inside a watermarked event-time window aggregation —
    // the property that lets a 100 TB/day stream keep per-window unique
    // users in constant memory (an exact distinct would hold every key in
    // the state store). Gated the q37 way (the r3 advice lesson): the
    // sketch estimate must sit within 3x rsd (15%) of the exact count,
    // asserted engine-side against a batch-exact join, and the exact
    // per-window row counts hash-match the oracle directly.
    Op("st27_stream_hll", (s, d) => {
      val (dir, schema, maxTs) = Streaming.stageEventsCached(s, d)
      val name = uniq("st27")
      val res = Streaming.drain(s, dir, schema, Sink.Memory(name))(src =>
        src.withWatermark("ts", "35 days")
          .groupBy(window(col("ts"), "1 day").as("w"))
          .agg(count(lit(1)).as("n"),
            approx_count_distinct(col("user_id"), 0.05).as("est"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("n"), col("est")))
      val exact = T.events(s, d)
        .groupBy(window(col("ts"), "1 day").as("w"))
        .agg(countDistinct("user_id").as("exact_users"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("exact_users"))
      res.filter(col("window_start_us") <= maxTs)
        .join(exact, "window_start_us")
        .select(col("window_start_us"), col("n"),
          (abs(col("est") - col("exact_users")).cast(DoubleType) /
            col("exact_users") <= 0.15).as("est_within_3rsd"))
        .orderBy("window_start_us")
    },
      Some("""SELECT epoch_us(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP)))
        |    AS window_start_us,
        |  COUNT(*) AS n, true AS est_within_3rsd
        |FROM events GROUP BY 1 ORDER BY window_start_us""".stripMargin)),
    // ------------------------------------------------------------------
    // CONTINUOUS drift detection: ml16's Page CUSUM run as a stream with
    // DURABLE state across checkpoint-resumed runs. The event stream is
    // staged in event-time order (first half by ts, then the rest lands
    // between runs, st24-style). Each micro-batch repartitions by
    // event_type, sorts WITHIN partitions by (key, ts, event_id), and runs
    // a constant-memory iterator fold per partition (cusumFold) — a task
    // never materializes its group, so a skewed event_type that dominates
    // a batch streams through the fold instead of OOMing a toSeq. The
    // prior per-key state (a 5-row table) is carried through a parquet
    // state store versioned by the GLOBAL batch id; the resume read picks
    // the newest snapshot below the current batch (never assuming which
    // ids ran), and the final state bit-matches the
    // BATCH CUSUM oracle: same decimal arithmetic, same alarm positions,
    // same max excursion. This is the deployment shape of ml16 at 100 TB:
    // per-key sequential folds shard across the cluster, sorted spill
    // handles any skew, state is O(keys), and a restart resumes mid-stream
    // from the checkpoint + state-store pair without recounting a row.
    Op("st26_stream_cusum", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), Num.dec2(col("value")).as("v"))
      val midTs = ev.agg(((min("tsu") + max("tsu")) / 2).cast(LongType))
        .head().getLong(0)
      val dir = Streaming.scratchDir("graft_cusum_src_")
      val out = Streaming.output("graft_cusum_out_")
      val schema = ev.schema
      val stateSchema = org.apache.spark.sql.Encoders.product[CusumState].schema
      def runOnce(): Unit =
        Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
          // prior state is O(keys) rows, shipped in the task closures: the
          // newest snapshot below this batch, robust to no-data batches
          val prior = out.read(s, "state", below = w.id, latest = true,
              schema = stateSchema).as[CusumState]
            .collect().map(st => st.event_type -> st).toMap
          val next = b.repartition(col("event_type"))
            .sortWithinPartitions("event_type", "tsu", "event_id")
            .as[(String, Long, Long, java.math.BigDecimal)]
            .mapPartitions(rows => cusumFold(prior, rows))(
              org.apache.spark.sql.Encoders.product[CusumState])
            .collect() // O(keys): the detector state, never the data
          // keys absent from this batch carry forward unchanged
          val merged = (prior ++ next.map(st => st.event_type -> st)).values
          w.write("state", b.sparkSession.createDataset(merged.toSeq)(
            org.apache.spark.sql.Encoders.product[CusumState]).coalesce(1).toDF())
        })(identity)
      Streaming.stage(s, dir, ev.filter(col("tsu") <= midTs))
      runOnce() // batch 0: first half, in event-time order
      Streaming.stage(s, dir, ev.filter(col("tsu") > midTs))
      runOnce() // batch 1: resumes from the checkpoint, only the delta
      out.read(s, "state", latest = true).as[CusumState].collect().toSeq.sortBy(_.event_type)
        .map(st => (st.event_type, st.nPts, st.nAlarms,
          if (st.firstAlarm >= 0) Some(st.firstAlarm) else None,
          BigDecimal(st.maxPh).toDouble))
        .toDF("event_type", "n_points", "n_alarms", "first_alarm_pos",
          "max_ph")
    },
      // same oracle as ml16 — the stream must reproduce the batch CUSUM
      Some("""WITH s AS (
        |  SELECT event_type, event_id,
        |    ROW_NUMBER() OVER w AS rn,
        |    SUM(CAST(value AS DECIMAL(18,2)) - CAST(55.00 AS DECIMAL(18,2)))
        |      OVER w AS cs
        |  FROM events
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |m AS (
        |  SELECT event_type, rn, cs,
        |    MIN(cs) OVER (PARTITION BY event_type ORDER BY rn
        |                  ROWS UNBOUNDED PRECEDING) AS mn
        |  FROM s),
        |p AS (
        |  SELECT event_type, rn,
        |    cs - (CASE WHEN mn < CAST(0.00 AS DECIMAL(38,2)) THEN mn
        |               ELSE CAST(0.00 AS DECIMAL(38,2)) END) AS ph
        |  FROM m)
        |SELECT event_type, COUNT(*) AS n_points,
        |  CAST(SUM(CASE WHEN ph > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
        |  CAST(MIN(CASE WHEN ph > 500 THEN rn END) AS BIGINT) AS first_alarm_pos,
        |  CAST(MAX(ph) AS DOUBLE) AS max_ph
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // STREAMING funnel (CEP-lite): q58's signup → view → purchase chain
    // run as a live per-user state machine on Spark's NATIVE keyed-state
    // API (flatMapGroupsWithState, update mode) — the "conversion tracking
    // on the ingest stream" shape, where the funnel position of every user
    // is queryable mid-stream instead of recomputed in batch. Events are
    // staged as two time-ranged files written sequentially (distinct
    // mtimes ⇒ FileStreamSource processes them oldest-first), so state
    // transitions see time-ordered batches; within a batch each user's
    // group is sorted by (ts, event_id). State is 4 longs per user —
    // O(users), the canonical keyed-state budget — and per-user per-batch
    // groups are bounded by that user's event rate (thousands of keys
    // share a batch; unlike a low-cardinality key there is no whole-batch
    // single-task skew). The final report must equal the BATCH funnel
    // (q58's oracle chain) exactly — the same stream-equals-batch contract
    // st26 pins for CUSUM.
    Op("st28_stream_funnel", (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val ev = T.events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsu"), col("event_id"))
      val schema = ev.schema
      // memoized staging (scaffolding, not operator cost — the stagedDir
      // contract); the stager's ordered mtimes feed the state machine its
      // first half first
      val dir = Streaming.stagedDir("funnel", d) { dir =>
        val midTs = ev.agg(((min("tsu") + max("tsu")) / 2).cast(LongType))
          .head().getLong(0)
        Streaming.stage(s, dir, ev.filter(col("tsu") <= midTs),
          ev.filter(col("tsu") > midTs))
      }
      val name = uniq("st28")
      // the memory sink keeps every per-batch update row; the final state
      // per user is the one with the highest event count (n is strictly
      // increasing and a key is only re-emitted with new data)
      val fin = Streaming.drain(s, dir, schema, Sink.Memory(name, "update")) { src =>
        src.as[(Long, String, Long, Long)]
          .groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (uid: Long, it: Iterator[(Long, String, Long, Long)],
                state: GroupState[FunnelState]) =>
              var st = state.getOption.getOrElse(FunnelState(0L, -1L, -1L, -1L))
              it.toIndexedSeq.sortBy(e => (e._3, e._4)).foreach {
                case (_, tpe, t, _) =>
                  if (tpe == "signup" && st.t1 < 0) st = st.copy(t1 = t)
                  else if (tpe == "view" && st.t1 >= 0 && st.t2 < 0 && t > st.t1)
                    st = st.copy(t2 = t)
                  else if (tpe == "purchase" && st.t2 >= 0 && st.t3 < 0 && t > st.t2)
                    st = st.copy(t3 = t)
                  st = st.copy(n = st.n + 1)
              }
              state.update(st)
              Iterator.single((uid, st.n, st.t1, st.t2, st.t3))
          }
          .toDF("user_id", "n_events", "t1", "t2", "t3")
      }.groupBy("user_id")
        .agg(max(struct(col("n_events"), col("t1"), col("t2"), col("t3"))).as("m"))
        .select(col("user_id"), col("m.t1").as("t1"), col("m.t2").as("t2"),
          col("m.t3").as("t3"))
      fin.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t1") >= 0, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("t2") >= 0, 1L).otherwise(0L)).as("n_signup_view"),
        sum(when(col("t3") >= 0, 1L).otherwise(0L)).as("n_full_funnel"),
        sum(when(col("t3") >= 0, col("t3") - col("t1"))).as("sum_convert_us"),
        max(when(col("t3") >= 0, col("t3") - col("t1"))).as("max_convert_us"))
        .withColumn("conversion",
          (col("n_full_funnel").cast(DoubleType) / col("n_signup"))
            .cast(DoubleType))
        .select("n_users", "n_signup", "n_signup_view", "n_full_funnel",
          "conversion", "sum_convert_us", "max_convert_us")
    },
      // the BATCH funnel oracle, shared with q58 — stream must reproduce
      // it exactly
      Some(Relational2.funnelOracleSql)),
    // ------------------------------------------------------------------
    // Streaming CDC apply maintaining an SCD2 dimension — q56's batch
    // merge running INCREMENTALLY: every micro-batch of change rows closes
    // the open version of each changed key (valid_to = the change's
    // effective time) and opens a new version, exactly what a Delta/
    // Iceberg MERGE executes per trigger. The parquet stand-in rewrites
    // the dimension into a batchId-keyed version directory (overwrite →
    // replay-idempotent, the st24/st25 lesson; latest version discovered
    // by listing, the st26 lesson — never hardcoded). Scale shape: the
    // per-batch plan is ONE left join of the dimension against the
    // O(batch) change set — broadcast the changes at 100 TB, or let a
    // row-level-ops table format turn it into a MERGE that touches only
    // matching files; dimension size stays O(keys + total changes), which
    // is the SCD2 contract. The stream is genuine CDC order: the
    // snapshot file then the update file, in the stager's mtime order.
    // Prices become integer cents at staging via
    // floor(price * 100) — the st19 scheme: floor of the same IEEE
    // product is bit-identical in both engines (a DECIMAL(18,2) cast is
    // NOT, because o_totalprice carries more than 2 decimal digits and
    // Spark rounds the shortest decimal string where DuckDB rounds the
    // binary value) — so every sum is exact and the final rollup
    // hash-matches the ideal batch-derived SCD2 table bit-for-bit.
    Op("st29_stream_scd2", (s, d) => {
      val o = T.orders(s, d)
      val snap = o.select(col("o_orderkey").as("k"),
        floor(col("o_totalprice") * 100).cast(LongType).as("price_cents"),
        lit(0L).as("eff"))
      val upd = o.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey").as("k"),
          floor(col("o_totalprice") * lit(1.1) * 100).cast(LongType)
            .as("price_cents"),
          lit(1L).as("eff"))
      val schema = snap.schema
      val dir = Streaming.stagedDir("scd2", d)(Streaming.stage(s, _, snap, upd))
      val out = Streaming.output("graft_scd2_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        val prev = out.read(s, "dim", below = w.id, latest = true, schema =
          StructType.fromDDL("k BIGINT, price_cents BIGINT, valid_from BIGINT, valid_to BIGINT"))
        val ch = batch.select(col("k"), col("price_cents"), col("eff"))
        // close the open version of every changed key; newer batches
        // only ever touch open rows, so closed history is immutable
        val closedOrKept = prev
          .join(broadcast(ch.select(col("k"), col("eff").as("ch_eff"))),
            Seq("k"), "left")
          .withColumn("valid_to",
            when(col("ch_eff").isNotNull && col("valid_to").isNull,
              col("ch_eff")).otherwise(col("valid_to")))
          .drop("ch_eff")
        val opened = ch.select(col("k"), col("price_cents"),
          col("eff").as("valid_from"),
          lit(null).cast(LongType).as("valid_to"))
        w.write("dim", closedOrKept.unionByName(opened))
      })(identity)
      val dim = out.read(s, "dim", latest = true)
      dim.groupBy("valid_from")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_open"),
          sum(when(col("valid_to").isNotNull, 1L).otherwise(0L)).as("n_closed"),
          sum("k").as("sum_key"),
          sum("price_cents").as("sum_price_cents"))
        .orderBy("valid_from")
    },
      Some("""WITH dim AS (
        |  SELECT o_orderkey AS k,
        |    CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS p,
        |    0 AS vf,
        |    CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE NULL END AS vt
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey,
        |    CAST(FLOOR(o_totalprice * 1.1 * 100) AS BIGINT), 1, NULL
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT CAST(vf AS BIGINT) AS valid_from, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN vt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(SUM(CASE WHEN vt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_closed,
        |  CAST(SUM(k) AS BIGINT) AS sum_key,
        |  CAST(SUM(p) AS BIGINT) AS sum_price_cents
        |FROM dim GROUP BY vf ORDER BY vf""".stripMargin)),
    // ------------------------------------------------------------------
    // Streaming POINT-IN-TIME enrichment — the feature-store join done
    // right: every micro-batch of events enriches against the orders
    // dimension AS OF each event's own timestamp (the native
    // AsOfMergeJoin running inside foreachBatch), so a model trained on
    // the enriched stream never sees a feature from the future. Batch
    // slicing cannot change any row's winner (the as-of result is
    // per-left-row), so the compacted rollup must equal the one-shot
    // batch as-of bit-for-bit — the stream-equals-batch contract, here
    // proving temporal-leakage-freedom incrementally. Partials land in
    // batchId-keyed directories (overwrite -> replay-idempotent, the
    // st24/st29 rule). Scale shape: per trigger, the as-of costs exactly
    // a sort-merge join of the O(batch) slice against the dimension —
    // with the dimension bucketed by customer the exchanges vanish, and
    // the partial log stays O(event types x triggers).
    Op("st30_stream_pit_enrich", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      // r13 (verdict #3; guide §3/§6 — the st22/st46 standing-artifact
      // rule): the per-trigger as-of merge requires
      // ClusteredDistribution(o_custkey) + a (key, time, tie) sort on the
      // static side, and with a plain parquet read EnsureRequirements
      // exchanged and re-sorted the WHOLE orders dimension EVERY trigger —
      // the same defect class st22 measured at 1 GiB/trigger. A standing
      // hash-bucketed table on o_custkey reports HashPartitioning through
      // the as-of projection (the key stays a direct alias after the r13
      // AsOf.nonNullRowGuard change), so only the O(batch) arrival side
      // exchanges per trigger. Projected to the 4 columns the enrichment
      // reads (§2.3); o_orderdate pre-cast to TIMESTAMP is exactly the
      // cast the as-of operator applied per trigger anyway.
      val ordersTbl = bucketedArtifact(s,
        s"pitorders@v1#$d",
        "st30_orders", "o_custkey",
        "o_custkey BIGINT, o_orderdate TIMESTAMP, o_orderkey BIGINT, " +
          "o_totalprice DOUBLE") {
        T.orders(s, d).select(col("o_custkey"),
          col("o_orderdate").cast(TimestampType).as("o_orderdate"),
          col("o_orderkey"), col("o_totalprice"))
      }
      val orders = s.table(ordersTbl)
      val out = Streaming.output("graft_pit_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("p", AsOf.asofJoin(
            batch.select("event_id", "user_id", "ts", "event_type"),
            orders, "user_id", "o_custkey",
            col("ts"), col("o_orderdate"),
            Seq("o_orderkey", "o_totalprice"), "o_orderkey")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderkey").isNotNull, 1L).otherwise(0L))
              .as("n_matched"),
            sum(coalesce(col("o_orderkey"), lit(0L))).as("sum_orderkey"),
            sum(coalesce(floor(col("o_totalprice") * 100).cast(LongType),
              lit(0L))).as("sum_price_cents")))
      })(_.filter(col("event_type") =!= "sentinel"))
      out.read(s, "p")
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("n_matched").as("n_matched"),
          sum("sum_orderkey").as("sum_orderkey"),
          sum("sum_price_cents").as("sum_price_cents"))
        .orderBy("event_type")
    },
      // all fixture orders predate all events (the q17 oracle's documented
      // degeneration), so "latest order <= ts" is "latest order per
      // customer" — the engine still evaluates full as-of semantics
      Some("""WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |j AS (
        |  SELECT e.event_type, o.o_orderkey, o.o_totalprice
        |  FROM events e LEFT JOIN o
        |    ON o.o_custkey = e.user_id AND o.rn = 1)
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_matched,
        |  CAST(SUM(COALESCE(o_orderkey, 0)) AS BIGINT) AS sum_orderkey,
        |  CAST(SUM(COALESCE(CAST(FLOOR(o_totalprice * 100) AS BIGINT), 0))
        |    AS BIGINT) AS sum_price_cents
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED HEAVY HITTERS — the streaming twin of
    // t10's top-terms question, upgraded to a VALUE-level gate: each
    // micro-batch appends its per-term partial counts (the st19 partials-
    // log pattern — O(batch vocab) rows per trigger, no history rewrite),
    // and the read path compacts the log and serves the exact top-20 with
    // counts. Integer counts merge order-independently, so the stream's
    // answer is bit-identical to the batch oracle no matter how the file
    // triggers split the corpus. At 100 TB the partial log is
    // O(vocab × triggers) and compaction folds into the serving read (or
    // a background job); the top-k itself is a TakeOrdered, never a full
    // sort.
    Op("st37_stream_heavy_hitters", (s, d) => {
      val (dir, schema) = stagedDocsTwoFiles(s, d)
      val out = Streaming.output("graft_hh_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("counts", batch.select(explode(split(col("text"), " ")).as("term"))
          .filter(col("term") =!= "")
          .groupBy("term").agg(count(lit(1)).as("n")))
      })(identity)
      val w = Window.orderBy(col("n").desc, col("term"))
      out.read(s, "counts")
        .groupBy("term").agg(sum("n").as("n"))
        .orderBy(col("n").desc, col("term")).limit(20)
        .withColumn("rk", row_number().over(w).cast(LongType))
        .select("rk", "term", "n")
        .orderBy("rk")
    }, Some("""WITH tok AS (
      |  SELECT term FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      |  WHERE term <> ''),
      |cnt AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS BIGINT)
      |    AS rk, term, n
      |FROM cnt ORDER BY n DESC, term LIMIT 20""".stripMargin)),
    // ------------------------------------------------------------------
    // STREAMING Z-SCORE SCORING against maintained statistics — the
    // deploy shape of q51: a first stream maintains the per-key moment
    // state (n, Σv, Σv² in the exact cent-integer domain — O(keys) state,
    // order-independent merge), then the scoring stream evaluates each
    // arriving event against the FINAL broadcast statistics and logs
    // per-batch outlier partials (the st22 "probe a maintained artifact"
    // posture). Every per-event z is one double expression on
    // bit-identical operands, so counts and the max |z| hash-match q51's
    // batch oracle exactly regardless of trigger boundaries. At 100 TB
    // the moment state is O(event types), the scoring pass is stateless
    // scan-cost, and the partials log is O(types × triggers).
    Op("st38_stream_zscore", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      val (moments, scores) = (Streaming.output("graft_zsc_m_"),
        Streaming.output("graft_zsc_s_"))
      val v100: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
        _.filter(col("event_type") =!= "sentinel")
          .withColumn("v100", (Num.dec2(col("value")) * 100).cast(LongType))
      Streaming.drain(s, dir, schema, Sink.Writes(moments) { (batch, w) =>
        w.write("moments", batch.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("v100").as("s1"),
            sum(col("v100") * col("v100")).as("s2")))
      })(v100)
      val mm = moments.read(s, "moments")
        .groupBy("event_type")
        .agg(sum("n").as("n"), sum("s1").as("s1"), sum("s2").as("s2"))
        .withColumn("mean",
          (col("s1").cast(DoubleType) / col("n")).cast(DoubleType))
        .withColumn("variance",
          (col("s2").cast(DoubleType) / col("n") -
            col("mean") * col("mean")).cast(DoubleType))
        .select("event_type", "mean", "variance")
      Streaming.drain(s, dir, schema, Sink.Writes(scores) { (batch, w) =>
        w.write("scores", batch.join(broadcast(mm), "event_type")
          .withColumn("z",
            (col("v100").cast(DoubleType) - col("mean")) /
              sqrt(col("variance")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(abs(col("z")) > 3.0, 1L).otherwise(0L))
              .as("n_outliers"),
            max(abs(col("z"))).as("max_abs_z")))
      })(v100)
      scores.read(s, "scores")
        .groupBy("event_type")
        .agg(sum("n_events").as("n_events"),
          sum("n_outliers").as("n_outliers"),
          max("max_abs_z").as("max_abs_z"))
        .orderBy("event_type")
    }, Some("""WITH v AS (
      |  SELECT event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100
      |  FROM events),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    SUM(v100) AS s1, SUM(v100 * v100) AS s2
      |  FROM v GROUP BY event_type),
      |mm AS (
      |  SELECT event_type, n,
      |    CAST(CAST(s1 AS DOUBLE) / n AS DOUBLE) AS mean,
      |    CAST(CAST(s2 AS DOUBLE) / n -
      |      (CAST(CAST(s1 AS DOUBLE) / n AS DOUBLE) *
      |       CAST(CAST(s1 AS DOUBLE) / n AS DOUBLE)) AS DOUBLE) AS variance
      |  FROM m)
      |SELECT v.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN abs((CAST(v100 AS DOUBLE) - mean)
      |      / sqrt(variance)) > 3.0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers,
      |  MAX(abs((CAST(v100 AS DOUBLE) - mean) / sqrt(variance)))
      |    AS max_abs_z
      |FROM v JOIN mm ON v.event_type = mm.event_type
      |GROUP BY v.event_type ORDER BY v.event_type""".stripMargin)),
    // ------------------------------------------------------------------
    // QUIESCENCE REPORTS ON REGISTERED transformWithState TIMERS — the
    // r8 gate for the one Tws path st31 left suite-only: the statistics
    // operator's timer lifecycle (register on every record batch, slide
    // by delete+re-register, FIRE via watermark progress into the step's
    // onTimer, which emits the report and clears state —
    // the reference's StatisticsOperator.scala:91,135-142 timer API) on
    // the RocksDB store. Fixture: per-pipeline stats records derived
    // from orders arrive in two TIME-SPLIT batches (split at 1998-01-01,
    // so no record falls behind the watermark and the late-data guard
    // never bites), then two watermark-pusher sentinels (pipeline 99)
    // arrive 30s+ past every data timestamp — the second pusher batch
    // executes with the watermark beyond every pipeline's lastTs+timeout,
    // so all four quiescence timers fire ON EVENT TIME during a real
    // batch (no reliance on a no-data batch). Every report field —
    // makespan, sums, count, and the newest-by-event-time score (score is
    // a pure function of the timestamp, so watermark-order ties cannot
    // make it nondeterministic) — is recomputed by the oracle from
    // orders. Scale: O(pipelines) state, O(1) timers per key, reports
    // are O(pipelines) rows.
    Op("st39_tws_timer_quiescence", (s, d) => {
      import s.implicits._
      val splitMs = 883612800000L // 1998-01-01 UTC
      val dir = Streaming.stagedDir("twsstats", d) { dir =>
        val evts = T.orders(s, d).select(
          (col("o_custkey") % 4).cast(IntegerType).as("pipelineId"),
          (col("o_orderkey") % 7).as("modelsShipped"),
          (col("o_orderkey") % 1000).as("bytesShipped"),
          lit(1L).as("blocks"),
          (col("o_orderkey") % 13).as("fitted"),
          ((unix_millis(col("o_orderdate").cast(TimestampType)) % 1000000L)
            .cast(DoubleType) / 1000000.0).as("score"),
          unix_millis(col("o_orderdate").cast(TimestampType)).as("eventTimeMs"))
        val sentinel = (ts: Long) =>
          Seq((99, 0L, 0L, 0L, 0L, 0.0, ts))
            .toDF("pipelineId", "modelsShipped", "bytesShipped", "blocks",
              "fitted", "score", "eventTimeMs")
        Streaming.stage(s, dir, evts.filter(col("eventTimeMs") < splitMs),
          evts.filter(col("eventTimeMs") >= splitMs),
          sentinel(1100000000000L), sentinel(1100000100000L))
      }
      val name = uniq("st39")
      Streaming.drain(Streaming.stateSession(s), dir,
          implicitly[org.apache.spark.sql.Encoder[StatEvent]].schema,
          Sink.Memory(name))(
          src => TwsStatsOperator.run(src.as[StatEvent]).toDF())
        .filter(col("kind") === "job_statistics" && col("pipelineId") < 4)
        .select(col("pipelineId").as("pipeline_id"),
          col("value").as("score"),
          regexp_extract(col("info"), "makespan=(\\d+)", 1)
            .cast(LongType).as("makespan"),
          regexp_extract(col("info"), "models=(\\d+)", 1)
            .cast(LongType).as("models_shipped"),
          regexp_extract(col("info"), "bytes=(\\d+)", 1)
            .cast(LongType).as("bytes_shipped"),
          regexp_extract(col("info"), "blocks=(\\d+)", 1)
            .cast(LongType).as("blocks"),
          regexp_extract(col("info"), "fitted=(\\d+)", 1)
            .cast(LongType).as("fitted"))
        .orderBy("pipeline_id")
    }, Some("""SELECT CAST(o_custkey % 4 AS INTEGER) AS pipeline_id,
      |  CAST(epoch_ms(MAX(o_orderdate)) % 1000000 AS DOUBLE) / 1000000.0
      |    AS score,
      |  CAST(epoch_ms(MAX(o_orderdate)) - epoch_ms(MIN(o_orderdate))
      |    AS BIGINT) AS makespan,
      |  CAST(SUM(o_orderkey % 7) AS BIGINT) AS models_shipped,
      |  CAST(SUM(o_orderkey % 1000) AS BIGINT) AS bytes_shipped,
      |  COUNT(*) AS blocks,
      |  CAST(SUM(o_orderkey % 13) AS BIGINT) AS fitted
      |FROM orders GROUP BY 1 ORDER BY pipeline_id""".stripMargin)),
    // ------------------------------------------------------------------
    // CRASH-MID-TRIGGER RECOVERY (exactly-once across a kill) — st24
    // proves resume after a CLEAN stop; st40 proves the harder contract:
    // a query killed BETWEEN commits (offsets WAL written for batch N,
    // sink metadata and commit log not yet — the crash point simulated by
    // deleting `commits/N` and the sink's `_spark_metadata/N` after a
    // clean run, leaving batch N's data files behind as orphan crash
    // debris) must, on restart, RE-EXECUTE batch N from the WAL against
    // the pre-N state-store version and emit exactly the missing results.
    // The fixture makes batch N carry 100% of the output (35-day
    // watermark > data span, so every real window closes only when the
    // +120d sentinel arrives) — maximal dupe/gap sensitivity: a skipped
    // re-execution loses ALL rows, a non-idempotent sink doubles them,
    // and a metadata-unaware read would see the orphan files. Run twice —
    // HDFS-backed and RocksDB state stores — and gate both against the
    // one batch oracle. `recovered_commit` pins that the deleted WAL/sink
    // entries were re-written; `reexecuted` pins that new output files
    // appeared (the orphans alone would not change the count).
    Op("st40_crash_recovery", (s, d) => {
      val (dir, schema, _) = Streaming.stageEventsCached(s, d)
      // The two provider runs are fully independent (own child sessions, own
      // scratch/checkpoint/sink dirs) but each is a long chain of tiny
      // single-trigger jobs with commit-protocol gaps between them — run
      // them CONCURRENTLY so one run's triggers back-fill the other's idle
      // gaps (guide §2.6 overlap-independent-jobs). Each run's computation
      // and its crash/restart protocol are untouched, so the unioned output
      // is unchanged.
      val Seq(hdfsRun, rocksRun) = graft.Subjobs.runAll(s,
        Seq("hdfs", "rocksdb").map(p => () => crashRecoveryRun(s, dir, schema, p)))
      hdfsRun.unionByName(rocksRun)
        .select(col("provider"), col("event_type"), col("day_us"), col("n"),
          col("sum_value"), col("recovered_commit"), col("reexecuted"))
        .orderBy("provider", "event_type", "day_us")
    }, Some(s"""WITH agg AS (
      |  SELECT event_type,
      |    epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) AS day_us,
      |    COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT p.provider, a.event_type, a.day_us, a.n, a.sum_value,
      |  true AS recovered_commit, true AS reexecuted
      |FROM agg a, (VALUES ('hdfs'), ('rocksdb')) p(provider)
      |ORDER BY provider, event_type, day_us""".stripMargin)),
    // ------------------------------------------------------------------
    // INCREMENTALLY-MAINTAINED BM25 INDEX (streaming t34): the live
    // retrieval index a continuously-ingesting corpus keeps current.
    // Documents arrive over two triggers; each micro-batch appends its
    // O(batch-tokens) postings partial (doc_id, term, tf) and doc-length
    // partial (doc_id, dl) — both int64-additive, so trigger boundaries
    // cannot move a bit — and the read path compacts the partial logs and
    // runs t34's VERBATIM scoring arithmetic (shared bm25Rank: df/N/avgdl
    // derive from the compacted index, per-term 6-dp decimal quantization,
    // deterministic top-10). Gate = t34's identical batch oracle: the
    // stream-maintained index must reproduce the batch ranking
    // bit-for-bit. At 100 TB each trigger costs O(batch tokens) — the
    // postings ledger is never rescanned at ingest, and re-serving a
    // query after a trigger reads the O(docs-matching-terms) compacted
    // postings, never the raw corpus.
    Op("st41_stream_bm25_index", (s, d) => {
      val docs = T.documents(s, d).select("doc_id", "text")
      val schema = docs.schema
      val dir = Streaming.stagedDir("bm25idx", d)(Streaming.stage(s, _,
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1)))
      val out = Streaming.output("graft_bm25idx_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        // ONE tokenize pass per trigger (r12 optimization, same change
        // as p07): dl(doc) == SUM(tf) — both exclude empty tokens — so
        // the doc-length partial derives from the tf partial instead of
        // re-splitting every text; the batch-doc_id left join keeps the
        // dl=0 row for an all-separator text. INVARIANT (ADVICE r12):
        // bit-identity with the two-pass form requires doc_id UNIQUE
        // within a trigger batch — tf groups across duplicate doc_ids,
        // so a duplicated doc_id would get the cross-row total written
        // once per input row instead of each row's own length. The
        // staged fixture splits each doc into exactly one file slice
        // (no doc spans or repeats across batches), and the downstream
        // serve re-aggregates by doc_id anyway, but a new source must
        // re-check this invariant before reusing the derivation.
        val b = batch.persist()
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
        tfb.unpersist()
        b.unpersist()
      })(identity)
      val tf = out.read(s, "tf")
        .groupBy("doc_id", "term").agg(sum("tf").as("tf"))
      val dlT = out.read(s, "dl")
        .groupBy("doc_id").agg(sum("dl").as("dl"))
      TextAnalysis.bm25Rank(s, tf, dlT)
    }, Some(TextAnalysis.bm25Oracle)),
    // ------------------------------------------------------------------
    // STREAM-ASSEMBLED LSH NEAR-DUP (streaming d03): continuous ingest
    // feeding the near-dup detector. Each trigger runs the EXPENSIVE text
    // pass — tokenize, 5-gram shingle, per-doc distinct — on its batch
    // alone (row-local per doc; docs arrive whole) and appends the
    // (doc_id, shingle) rows to a ledger; the read path then runs the
    // batch LSH pipeline VERBATIM over the compacted ledger: global
    // DF-cap, 16-permutation minhash, 4x4 banding, band-collision
    // candidates, exact-Jaccard verify (shared
    // scoredCandidatePairsFromShingles). Gate = d03's identical oracle:
    // trigger boundaries must not move a single candidate or score —
    // which they can't, since the union of per-trigger shingle sets IS
    // the batch table and everything downstream is order-free. Fixture
    // shape carries raw shingle strings for exact-oracle parity; the
    // 100 TB deployment shape stores the 8-byte shingle hash + per-doc
    // signature ledger instead (signatures are 16 ints/doc) and fetches
    // text only in the bounded verify stage — the per-trigger win is the
    // same either way: raw text is scanned once per document at ingest,
    // and re-running dedup after new arrivals reads the compacted
    // ledger, never the corpus.
    Op("st42_stream_lsh_neardup", (s, d) => {
      val docs = T.documents(s, d).select("doc_id", "text")
      val schema = docs.schema
      val dir = Streaming.stagedDir("lshdedup", d)(Streaming.stage(s, _,
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1)))
      val out = Streaming.output("graft_lshdedup_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("sh", Dedup.shingleRows(batch))
      })(identity)
      val ledger = out.read(s, "sh")
      Dedup.d03Report(Dedup.scoredCandidatePairsFromShingles(
        Dedup.capShingleDf(ledger, Dedup.ShingleDfCap)))
    }, Some(Dedup.d03Oracle)),
    // ------------------------------------------------------------------
    // FGM continuous training — the two-level protocol's SIGNATURE over
    // the stream, distinguishable from st16's GM in the byte ledger:
    // with the threshold unreachable, GM's frozen batches cost NOTHING
    // (the map-side gate keeps replicas on their executors) while FGM's
    // frozen batches each cost EXACTLY k 8-byte counter messages — the
    // scalar heartbeat that lets the hub soundly bound the AVERAGE
    // model's drift, which per-worker gates cannot. Gate: batch 0
    // bootstraps (models ship once), every later batch adds 4*8 = 32
    // bytes and ZERO models/fitted — counter inflation, a leaked merge,
    // or a quantum reset shipping vectors each flip a hashed boolean.
    Op("st43_fgm_stream_train", (s, d) => {
      import s.implicits._
      // same staged stream as st05/st16, routed by vec_id % 4 (the
      // protocol is the variable)
      val fit = StreamingTrainer.fitStream(s, stagedTrainStream(s, d),
        StreamingTrainer.RoutedSchema,
        graft.pipeline.PipelineSpec(43, "PA", Map("C" -> 0.01), Nil, "FGM",
          protocolHp = Map("threshold" -> 1e12)),
        partitionsPerBatch = 4)
      val c = fit.curve.sortBy(_.batch)
      val batchesExact = c.map(_.batch) == (0L until c.size.toLong)
      val firstShips = c.head.modelsShipped > 0L && c.head.fitted > 0L
      val shippedFlat = c.forall(_.modelsShipped == c.head.modelsShipped)
      val fittedFlat = c.forall(_.fitted == c.head.fitted)
      // the FGM heartbeat: batch i's cumulative bytes = bootstrap vectors
      // + i * (4 workers * 8-byte counter)
      val heartbeat = c.forall(p =>
        p.bytesShipped == c.head.bytesShipped + p.batch * 4L * 8L)
      val lossOk = c.forall(p => !p.cumLoss.isNaN && !p.cumLoss.isInfinite &&
        p.cumLoss >= 0.0)
      Seq((c.size, batchesExact, firstShips, shippedFlat, fittedFlat,
        heartbeat, lossOk))
        .toDF("n_batches", "batches_exact", "first_batch_ships",
          "shipped_flat_after_first", "fitted_flat_after_first",
          "counter_heartbeat_exact", "loss_valid")
    },
      Some("""SELECT CAST(4 AS INTEGER) AS n_batches, true AS batches_exact,
        |  true AS first_batch_ships, true AS shipped_flat_after_first,
        |  true AS fitted_flat_after_first, true AS counter_heartbeat_exact,
        |  true AS loss_valid
        |FROM (SELECT 1)""".stripMargin)),
    // ------------------------------------------------------------------
    // STREAMING QUANTIZED-RERANK SERVING (streaming s18): query vectors
    // arrive as a stream; each trigger runs ONLY the cheap int8 coarse
    // scan for its batch's queries — the codegen'd i8_codes/dot_ll
    // kernels against the static code table — and appends the C=40
    // bounded-heap survivors per query to a candidate ledger; the exact
    // float rerank then reads the accumulated |Q|xC ledger once after
    // the drain. Per-trigger serving cost is the quantized scan, never
    // a float corpus pass. Gate = s18's IDENTICAL exact oracle: trigger
    // boundaries cannot move a candidate or a score, because each query
    // arrives whole in one trigger and its bounded heap ignores the rest
    // of the batch — streaming serve == batch rerank, value for value.
    // At 100 TB the static side is the IVF-partitioned code table (s04)
    // so each trigger's scan prunes to probed lists; the foreachBatch
    // ledger shape is unchanged.
    Op("st44_stream_rerank_serve", (s, d) => {
      val e = T.embeddings(s, d)
      val codes = Similarity.int8Codes(e)
      val qs = Similarity.int8Queries(codes)
      val schema = qs.schema
      val dir = Streaming.scratchDir("graft_st44q_")
      // two genuine probe triggers, queries disjoint across them
      Streaming.stage(s, dir, qs.filter(col("q_id") < 8), qs.filter(col("q_id") >= 8))
      val out = Streaming.output("graft_st44c_")
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (batch, w) =>
        w.write("cand", Similarity.int8TopK(batch.withColumn("k", lit(1))
          .join(codes.withColumn("k", lit(1)), "k"), 40)
          .select("q_id", "vec_id"))
      })(identity)
      Similarity.rerank(e, out.read(s, "cand"), 5)
        .select(col("q_id"), col("rk").cast(LongType).as("rk"), col("vec_id"), col("cos"))
        .orderBy("q_id", "rk")
    }, Some(Similarity.rerankOracle)),
    // ------------------------------------------------------------------
    // STREAMING DRIFT-GATED RETRAIN (streaming p09): the model-refresh
    // loop LIVE — st26's incremental CUSUM detector extended so the same
    // durable O(keys) state also carries the last two values (the AR(2)
    // features of the NEXT row) and per-segment ridge normal-equation
    // partials, all exact decimal strings. Each trigger folds only its
    // delta; the alarm row opens the segment-1 accumulators at exactly
    // p09's split; after the drain the accumulated sums convert to
    // doubles through the SAME decimal->double path Spark's cast uses
    // and solve through p09's shared in-plan Cramer stage. Gate = p09's
    // IDENTICAL oracle: the incremental fold must land on the batch
    // weights bit for bit — detection, segmentation AND refit are
    // streaming == batch, value for value. At 100 TB: state is
    // O(event_types x ~20 decimals), per-trigger cost is the delta
    // fold, and a refit after new arrivals reads NO history — the
    // information-form accumulators are the whole memory of the past.
    Op("st45_stream_drift_retrain", (s, d) => {
      import s.implicits._
      val ev = T.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("tsu"),
          col("event_id"), Num.dec2(col("value")).as("v"))
      val midTs = ev.agg(((min("tsu") + max("tsu")) / 2).cast(LongType))
        .head().getLong(0)
      val dir = Streaming.scratchDir("graft_retrain_src_")
      val out = Streaming.output("graft_retrain_out_")
      val schema = ev.schema
      val stateSchema = org.apache.spark.sql.Encoders.product[RetrainState].schema
      def runOnce(): Unit =
        Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
          val prior = out.read(s, "state", below = w.id, latest = true,
              schema = stateSchema).as[RetrainState]
            .collect().map(st => st.event_type -> st).toMap
          val next = b.repartition(col("event_type"))
            .sortWithinPartitions("event_type", "tsu", "event_id")
            .as[(String, Long, Long, java.math.BigDecimal)]
            .mapPartitions(rows => retrainFold(prior, rows))(
              org.apache.spark.sql.Encoders.product[RetrainState])
            .collect() // O(keys): detector + information-form state only
          val merged = (prior ++ next.map(st => st.event_type -> st)).values
          w.write("state", b.sparkSession.createDataset(merged.toSeq)(
            org.apache.spark.sql.Encoders.product[RetrainState]).coalesce(1).toDF())
        })(identity)
      Streaming.stage(s, dir, ev.filter(col("tsu") <= midTs))
      runOnce() // batch 0: first half, in event-time order
      Streaming.stage(s, dir, ev.filter(col("tsu") > midTs))
      runOnce() // batch 1: resumes from the checkpoint, only the delta
      val fin = out.read(s, "state", latest = true).as[RetrainState].collect().toSeq
      val recs = fin.flatMap { st =>
        val drift =
          if (st.firstAlarm >= 0) Some(st.firstAlarm) else Option.empty[Long]
        def row(segId: Long, n: Long, acc: Seq[String]) = {
          def d(i: Int) = new java.math.BigDecimal(acc(i)).doubleValue
          (st.event_type, segId, n, drift,
            d(0), d(1), d(2), d(3), d(4), d(5), d(6), d(7))
        }
        (if (st.n0 > 0) Seq(row(0L, st.n0, st.seg0)) else Nil) ++
          (if (st.n1 > 0) Seq(row(1L, st.n1, st.seg1)) else Nil)
      }
      MLOps.ridgeSolve3(recs.toDF("event_type", "segment", "n_fit",
          "drift_at", "s11", "s12", "s1", "s22", "s2", "b0", "b1", "b2"))
        .select(col("event_type"), col("segment"), col("n_fit"),
          col("drift_at"), col("w_lag1"), col("w_lag2"), col("w_bias"))
        .orderBy("event_type", "segment")
    }, Some(MLOps.driftRetrainOracle)),
    // ------------------------------------------------------------------
    // STREAMING ADMISSION SCRUB (d28 at the ingest boundary): arriving
    // documents (the deterministic doc_id % 5 == 3 slice, two triggers)
    // are checked against the STATIC corpus's 40-char window index —
    // any window already present in the existing corpus is a duplicated
    // span at admission — and the covered spans are cut out BEFORE the
    // doc enters the store: detect, coalesce to maximal islands, stitch
    // the survivors (d28's shared positionsToSpans/stitchKept), all
    // inside foreachBatch per trigger. Gate: the batch SQL replay of
    // the same split must reproduce every kept-text digest — trigger
    // boundaries cannot move a cut because each doc arrives whole. The
    // fixture index carries exact window md5s for oracle parity; the
    // 100 TB shape prefilters with the 8-byte rolling hash and bands
    // the index (d23's candidate trick) so the per-trigger probe is a
    // semi-join against a bounded bucket slice, never the raw corpus.
    Op("st46_stream_admission_scrub", (s, d) => {
      val docs = T.documents(s, d)
      // static side: the existing corpus's window index — 16-byte binary
      // md5 per 40-char window, built once per fixture and shared across
      // invocations (in production this is the store's standing dedup
      // index, maintained incrementally, not rebuilt per query)
      val idxTbl = standingWinIndex(s, d, docs)
      val arriving = docs.filter(col("doc_id") % 5 === 3)
      val dir = stagedArrivals(s, d, arriving)
      val out = Streaming.output("graft_st46_out_")
      val schema = arriving.schema
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
        val ss = b.sparkSession
        val idx = ss.table(idxTbl)
        val dp = b.filter(col("n_chars") >= 40)
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(1, cast(n_chars as int) - 39)"))
              .as("pos"))
          .select(col("doc_id"), col("pos"),
            expr("unhex(md5(substring(text, pos, 40)))").as("h"))
          .join(idx, Seq("h"), "left_semi")
          .select("doc_id", "pos")
        val kept = Dedup.stitchKept(Dedup.positionsToSpans(dp), b)
        w.write("adm", b.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("kept_text"), col("text")).as("kept"),
            col("n_chars")))
      })(identity)
      out.read(s, "adm")
        .select(col("doc_id"), col("n_spans"),
          length(col("kept")).cast(LongType).as("kept_chars"),
          (col("n_chars") - length(col("kept"))).cast(LongType)
            .as("removed_chars"),
          expr("cast(conv(substring(md5(kept), 1, 8), 16, 10) as bigint)")
            .as("kept_md5p"))
        .orderBy("doc_id")
    }, Some("""WITH idx AS (
      |  SELECT DISTINCT md5(substr(text, pos, 40)) AS h
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE doc_id % 5 <> 3 AND n_chars >= 40),
      |arr AS (SELECT doc_id, text, n_chars FROM documents
      |        WHERE doc_id % 5 = 3),
      |g AS (
      |  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h
      |  FROM arr,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE n_chars >= 40),
      |dp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM idx)),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER
      |      (PARTITION BY doc_id ORDER BY pos) > 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM dp),
      |isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |sp AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
      |  FROM isl GROUP BY doc_id, island),
      |ordered AS (
      |  SELECT doc_id, s,
      |    COALESCE(LAG(e + 39) OVER (PARTITION BY doc_id ORDER BY s), 0)
      |      AS prev_end
      |  FROM sp),
      |tails AS (SELECT doc_id, MAX(e + 39) AS last_end FROM sp GROUP BY doc_id),
      |keptt AS (
      |  SELECT o.doc_id, COUNT(*) AS n_spans,
      |    STRING_AGG(substr(a.text, CAST(o.prev_end + 1 AS INT),
      |      CAST(o.s - o.prev_end - 1 AS INT)), '' ORDER BY o.s)
      |    || substr(a.text, CAST(t.last_end + 1 AS INT)) AS kept
      |  FROM ordered o JOIN arr a ON a.doc_id = o.doc_id
      |  JOIN tails t ON t.doc_id = o.doc_id
      |  GROUP BY o.doc_id, a.text, t.last_end)
      |SELECT a.doc_id,
      |  CAST(COALESCE(k.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(length(COALESCE(k.kept, a.text)) AS BIGINT) AS kept_chars,
      |  CAST(a.n_chars - length(COALESCE(k.kept, a.text)) AS BIGINT)
      |    AS removed_chars,
      |  ('0x' || substr(md5(COALESCE(k.kept, a.text)), 1, 8))::BIGINT
      |    AS kept_md5p
      |FROM arr a LEFT JOIN keptt k ON k.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // STREAMING pHASH ADMISSION (mm11 at the ingest boundary — the
    // multimodal twin of st46): arriving assets (the doc_id % 5 == 3
    // slice, two triggers) are perceptual-hashed and checked against the
    // STANDING corpus's pHash band index; an arrival within hamming 7 of
    // any standing asset is a near-duplicate and gets ASSIGNED to that
    // asset's cluster (rep = argmin by (hamming, standing id) — the
    // deterministic tie rule shared with the oracle's window), otherwise
    // it is admitted as new. All integer arithmetic — no float hazard
    // anywhere. Trigger boundaries cannot move a decision (each asset
    // scores against the static index only). Scale shape: the index is
    // the store's standing artifact (maintained incrementally at ingest,
    // like st46's window index); the per-trigger probe is a band-bucket
    // equi-join — candidates only where >= 1 of 8 bands collides, which
    // the pigeonhole makes LOSSLESS at hamming <= 7 (the oracle proves it
    // with an unbanded full join) — and ONE map-side-combinable argmin
    // per arrival; nothing corpus-sized shuffles per trigger.
    Op("st47_stream_phash_admission", (s, d) => {
      val docs = T.documents(s, d)
      val idxDir = standingPhashIndex(s, d, docs)
      val arriving = docs.filter(col("doc_id") % 5 === 3)
      val dir = stagedArrivals(s, d, arriving)
      val out = Streaming.output("graft_st47_out_")
      val schema = arriving.schema
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
        val ss = b.sparkSession
        val idx = ss.read.parquet(idxDir)
        // min(struct) is duplicate-insensitive, so band-collision
        // multiplicity needs no distinct — one shuffle, the argmin's
        val best = Multimodal.phashBands(Multimodal.phashOf(b)).as("x")
          .join(idx.as("y"),
            col("x.band") === col("y.band") &&
              col("x.bits") === col("y.bits"))
          .select(col("x.doc_id").as("doc_id"),
            col("y.doc_id").as("rep_doc"),
            expr("bit_count(x.phash ^ y.phash)").cast(LongType)
              .as("hamming"))
          .filter(col("hamming") <= 7)
          .groupBy("doc_id")
          .agg(min(struct(col("hamming"), col("rep_doc"))).as("m"))
          .select(col("doc_id"), col("m.rep_doc").as("rep_doc"),
            col("m.hamming").as("hamming"))
        w.write("adm", b.select("doc_id").join(best, Seq("doc_id"), "left")
          .select(col("doc_id"), col("rep_doc").isNull.as("admitted"),
            col("rep_doc"), col("hamming")))
      })(identity)
      out.read(s, "adm").orderBy("doc_id")
    }, Some(s"""WITH ${Multimodal.sqlPhashCtes},
      |arr AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 = 3),
      |std AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 <> 3),
      |mm AS (SELECT a.doc_id, s.doc_id AS rep_doc,
      |  CAST(bit_count(xor(a.phash, s.phash)) AS BIGINT) AS hamming,
      |  ROW_NUMBER() OVER (PARTITION BY a.doc_id
      |    ORDER BY bit_count(xor(a.phash, s.phash)), s.doc_id) AS rk
      |  FROM arr a JOIN std s ON bit_count(xor(a.phash, s.phash)) <= 7),
      |best AS (SELECT doc_id, rep_doc, hamming FROM mm WHERE rk = 1)
      |SELECT d.doc_id, best.rep_doc IS NULL AS admitted,
      |  best.rep_doc, best.hamming
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 3) d
      |LEFT JOIN best ON best.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // ADMISSION + SCRUB COMPOSED (r11 verdict #6) — the two halves of a
    // production ingest scrub, st47 and the d28/st46 span surgery, run in
    // the SAME trigger: every arrival is pHash-checked against the
    // standing band index (st47's admission), and an arrival REJECTED as
    // a near-dup is not dropped — its exactly-duplicated 40-char spans
    // (vs the standing corpus's window index) are cut out and the novel
    // remainder stitched and emitted, so rejected docs contribute their
    // new content in the same trigger that rejected them. Admitted docs
    // pass through whole (n_spans = 0, kept = full text). Both standing
    // indexes are the SAME shared artifacts st46/st47 maintain (one
    // store, many consumers — the production shape); per trigger the
    // pHash probe is O(arrivals) band lookups and the scrub probe runs
    // over the REJECTED SUBSET only — strictly less than st46's bill.
    // Nothing corpus-sized shuffles per trigger, and trigger boundaries
    // cannot move a decision (both probes hit static indexes).
    Op("st48_stream_admit_scrub_composed", (s, d) => {
      val docs = T.documents(s, d)
      val phIdxDir = standingPhashIndex(s, d, docs)
      val winIdxTbl = standingWinIndex(s, d, docs)
      val arriving = docs.filter(col("doc_id") % 5 === 3)
      val dir = stagedArrivals(s, d, arriving)
      val out = Streaming.output("graft_st48_out_")
      val schema = arriving.schema
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
        val ss = b.sparkSession
        val phIdx = ss.read.parquet(phIdxDir)
        val winIdx = ss.table(winIdxTbl)
        val best = Multimodal.phashBands(Multimodal.phashOf(b)).as("x")
          .join(phIdx.as("y"),
            col("x.band") === col("y.band") &&
              col("x.bits") === col("y.bits"))
          .select(col("x.doc_id").as("doc_id"),
            col("y.doc_id").as("rep_doc"),
            expr("bit_count(x.phash ^ y.phash)").cast(LongType)
              .as("hamming"))
          .filter(col("hamming") <= 7)
          .groupBy("doc_id")
          .agg(min(struct(col("hamming"), col("rep_doc"))).as("m"))
          .select(col("doc_id"), col("m.rep_doc").as("rep_doc"),
            col("m.hamming").as("hamming"))
        // adm feeds three branches of the single write plan, but its
        // expensive subtree (the band-join argmin) ends in an exchange
        // and ReuseExchange shares identical exchanges within one plan —
        // persisting adm was A/B'd at 100x (40.1 vs 39.1 s): no win,
        // so no cache. Contrast st49, where the duplicated subtree is a
        // pure projection spanning SEPARATE actions (no reuse possible)
        // and the per-batch persist halved the probe.
        val adm = b.join(best, Seq("doc_id"), "left")
        // span surgery over the rejected subset ONLY — admitted docs
        // never pay the window probe
        val rejected = adm.filter(col("rep_doc").isNotNull)
        val dp = rejected.filter(col("n_chars") >= 40)
          .select(col("doc_id"), col("text"),
            explode(expr("sequence(1, cast(n_chars as int) - 39)"))
              .as("pos"))
          .select(col("doc_id"), col("pos"),
            expr("unhex(md5(substring(text, pos, 40)))").as("h"))
          .join(winIdx, Seq("h"), "left_semi")
          .select("doc_id", "pos")
        val kept = Dedup.stitchKept(Dedup.positionsToSpans(dp), rejected)
        w.write("adm", adm.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"), col("rep_doc").isNull.as("admitted"),
            col("rep_doc"), col("hamming"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("kept_text"), col("text")).as("kept"),
            col("n_chars")))
      })(identity)
      out.read(s, "adm")
        .select(col("doc_id"), col("admitted"), col("rep_doc"), col("hamming"),
          col("n_spans"),
          length(col("kept")).cast(LongType).as("kept_chars"),
          (col("n_chars") - length(col("kept"))).cast(LongType)
            .as("removed_chars"),
          expr("cast(conv(substring(md5(kept), 1, 8), 16, 10) as bigint)")
            .as("kept_md5p"))
        .orderBy("doc_id")
    }, Some(s"""WITH ${Multimodal.sqlPhashCtes},
      |arrp AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 = 3),
      |stdp AS (SELECT doc_id, phash FROM ph WHERE doc_id % 5 <> 3),
      |mm AS (SELECT a.doc_id, s.doc_id AS rep_doc,
      |  CAST(bit_count(xor(a.phash, s.phash)) AS BIGINT) AS hamming,
      |  ROW_NUMBER() OVER (PARTITION BY a.doc_id
      |    ORDER BY bit_count(xor(a.phash, s.phash)), s.doc_id) AS rk
      |  FROM arrp a JOIN stdp s ON bit_count(xor(a.phash, s.phash)) <= 7),
      |best AS (SELECT doc_id, rep_doc, hamming FROM mm WHERE rk = 1),
      |arr AS (SELECT doc_id, text, n_chars FROM documents
      |        WHERE doc_id % 5 = 3),
      |adm AS (SELECT a.doc_id, a.text, a.n_chars, best.rep_doc, best.hamming
      |        FROM arr a LEFT JOIN best ON best.doc_id = a.doc_id),
      |rej AS (SELECT doc_id, text, n_chars FROM adm
      |        WHERE rep_doc IS NOT NULL),
      |idx AS (
      |  SELECT DISTINCT md5(substr(text, pos, 40)) AS h
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE doc_id % 5 <> 3 AND n_chars >= 40),
      |g AS (
      |  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h
      |  FROM rej,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE n_chars >= 40),
      |dp AS (SELECT doc_id, pos FROM g WHERE h IN (SELECT h FROM idx)),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER
      |      (PARTITION BY doc_id ORDER BY pos) > 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM dp),
      |isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |sp AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
      |  FROM isl GROUP BY doc_id, island),
      |ordered AS (
      |  SELECT doc_id, s,
      |    COALESCE(LAG(e + 39) OVER (PARTITION BY doc_id ORDER BY s), 0)
      |      AS prev_end
      |  FROM sp),
      |tails AS (SELECT doc_id, MAX(e + 39) AS last_end FROM sp GROUP BY doc_id),
      |keptt AS (
      |  SELECT o.doc_id, COUNT(*) AS n_spans,
      |    STRING_AGG(substr(r.text, CAST(o.prev_end + 1 AS INT),
      |      CAST(o.s - o.prev_end - 1 AS INT)), '' ORDER BY o.s)
      |    || substr(r.text, CAST(t.last_end + 1 AS INT)) AS kept
      |  FROM ordered o JOIN rej r ON r.doc_id = o.doc_id
      |  JOIN tails t ON t.doc_id = o.doc_id
      |  GROUP BY o.doc_id, r.text, t.last_end)
      |SELECT adm.doc_id, adm.rep_doc IS NULL AS admitted,
      |  adm.rep_doc, adm.hamming,
      |  CAST(COALESCE(k.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(length(COALESCE(k.kept, adm.text)) AS BIGINT) AS kept_chars,
      |  CAST(adm.n_chars - length(COALESCE(k.kept, adm.text)) AS BIGINT)
      |    AS removed_chars,
      |  ('0x' || substr(md5(COALESCE(k.kept, adm.text)), 1, 8))::BIGINT
      |    AS kept_md5p
      |FROM adm LEFT JOIN keptt k ON k.doc_id = adm.doc_id
      |ORDER BY adm.doc_id""".stripMargin)),
    // ------------------------------------------------------------------
    // INCREMENTAL INDEX MAINTENANCE (r12): the st22/st46/st48 Scaladocs
    // all claim "production maintains this index incrementally at
    // ingest" — this op EXERCISES that claim instead of asserting it.
    // Per trigger, arrivals are span-scrubbed against corpus-index ∪
    // delta (the windows of every EARLIER arrival batch), then append
    // their own windows to the delta — so batch 2's duplicates of
    // batch-1 text are cut even though batch 1 was never in the standing
    // corpus. Plan shape: the standing side stays the bucketed table
    // (probed separately, no corpus exchange); the delta side is
    // O(arrivals-so-far) and joins as its own small probe; matched
    // positions union+distinct before span coalescing. Trigger order is
    // pinned by the stager's ordered mtimes. The scrub decision is
    // order-DEPENDENT by design (batch 1 scrubs only against the corpus;
    // batch 2 also against batch 1), which is exactly what the oracle
    // replays with its two-index union.
    Op("st49_stream_incremental_scrub", (s, d) => {
      val docs = T.documents(s, d)
      val idxTbl = standingWinIndex(s, d, docs)
      val arriving = docs.filter(col("doc_id") % 5 === 3)
      val dir = Streaming.scratchDir("graft_st49_src_")
      Streaming.stage(s, dir, arriving.filter(col("doc_id") % 10 === 3),
        arriving.filter(col("doc_id") % 10 === 8))
      val out = Streaming.output("graft_st49_out_")
      val schema = arriving.schema
      Streaming.drain(s, dir, schema, Sink.Writes(out) { (b, w) =>
        val ss = b.sparkSession
        def winsOf(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("n_chars") >= 40)
            .select(col("doc_id"), col("text"),
              explode(expr("sequence(1, cast(n_chars as int) - 39)"))
                .as("pos"))
            .select(col("doc_id"), col("pos"),
              expr("unhex(md5(substring(text, pos, 40)))").as("h"))
        // persist: wins feeds three actions (two semi-join branches +
        // the delta write) and Spark re-executes the explode+md5
        // subtree per action otherwise (review r12)
        val wins = winsOf(b).persist()
        // two separate probes: the corpus side keeps its bucketed
        // zero-exchange scan (a union would erase the partitioning
        // and re-shuffle the corpus), the delta side (the windows of
        // every earlier batch) broadcasts
        val dp = wins.join(ss.table(idxTbl), Seq("h"), "left_semi")
          .unionByName(wins.join(out.read(ss, "delta", below = w.id,
              schema = StructType.fromDDL("h BINARY")), Seq("h"), "left_semi"))
          .select("doc_id", "pos").distinct()
        val kept = Dedup.stitchKept(Dedup.positionsToSpans(dp), b)
        w.write("adm", b.join(kept, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("kept_text"), col("text")).as("kept"),
            col("n_chars")))
        // maintenance: THIS batch's windows join the index for later
        // triggers (written only after the scrub above materialized)
        w.write("delta", wins.select("h"))
        wins.unpersist()
      })(identity)
      out.read(s, "adm")
        .select(col("doc_id"), col("n_spans"),
          length(col("kept")).cast(LongType).as("kept_chars"),
          (col("n_chars") - length(col("kept"))).cast(LongType)
            .as("removed_chars"),
          expr("cast(conv(substring(md5(kept), 1, 8), 16, 10) as bigint)")
            .as("kept_md5p"))
        .orderBy("doc_id")
    }, Some("""WITH idx0 AS (
      |  SELECT DISTINCT md5(substr(text, pos, 40)) AS h
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE doc_id % 5 <> 3 AND n_chars >= 40),
      |idx1 AS (
      |  SELECT DISTINCT md5(substr(text, pos, 40)) AS h
      |  FROM documents,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE doc_id % 10 = 3 AND n_chars >= 40),
      |arr AS (SELECT doc_id, text, n_chars FROM documents
      |        WHERE doc_id % 5 = 3),
      |g AS (
      |  SELECT doc_id, pos, md5(substr(text, pos, 40)) AS h
      |  FROM arr,
      |    LATERAL (SELECT unnest(generate_series(1,
      |      CAST(n_chars AS INT) - 39)) AS pos)
      |  WHERE n_chars >= 40),
      |dp AS (SELECT doc_id, pos FROM g
      |       WHERE h IN (SELECT h FROM idx0)
      |          OR (doc_id % 10 = 8 AND h IN (SELECT h FROM idx1))),
      |brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER
      |      (PARTITION BY doc_id ORDER BY pos) > 40
      |      THEN 1 ELSE 0 END AS b
      |  FROM dp),
      |isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk),
      |sp AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) AS e
      |  FROM isl GROUP BY doc_id, island),
      |ordered AS (
      |  SELECT doc_id, s,
      |    COALESCE(LAG(e + 39) OVER (PARTITION BY doc_id ORDER BY s), 0)
      |      AS prev_end
      |  FROM sp),
      |tails AS (SELECT doc_id, MAX(e + 39) AS last_end FROM sp GROUP BY doc_id),
      |keptt AS (
      |  SELECT o.doc_id, COUNT(*) AS n_spans,
      |    STRING_AGG(substr(a.text, CAST(o.prev_end + 1 AS INT),
      |      CAST(o.s - o.prev_end - 1 AS INT)), '' ORDER BY o.s)
      |    || substr(a.text, CAST(t.last_end + 1 AS INT)) AS kept
      |  FROM ordered o JOIN arr a ON a.doc_id = o.doc_id
      |  JOIN tails t ON t.doc_id = o.doc_id
      |  GROUP BY o.doc_id, a.text, t.last_end)
      |SELECT a.doc_id,
      |  CAST(COALESCE(k.n_spans, 0) AS BIGINT) AS n_spans,
      |  CAST(length(COALESCE(k.kept, a.text)) AS BIGINT) AS kept_chars,
      |  CAST(a.n_chars - length(COALESCE(k.kept, a.text)) AS BIGINT)
      |    AS removed_chars,
      |  ('0x' || substr(md5(COALESCE(k.kept, a.text)), 1, 8))::BIGINT
      |    AS kept_md5p
      |FROM arr a LEFT JOIN keptt k ON k.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin)),
  )

  /** st40's engine, shared with StreamingSuite: run the windowed-aggregate
    * file-sink query to completion, simulate a crash between the WAL write
    * and the sink commit of the LAST batch (delete `commits/N` + sink
    * `_spark_metadata/N`, keep the orphan data files), restart against the
    * same checkpoint, and return the metadata-aware read of the sink with
    * the recovery booleans attached.
    */
  private[graft] def crashRecoveryRun(s: org.apache.spark.sql.SparkSession,
      dir: String, schema: org.apache.spark.sql.types.StructType,
      provider: String): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    val s2 = if (provider == "rocksdb") Streaming.stateSession(s) else s.newSession()
    val out = Streaming.output(s"graft_crash_${provider}_")
    def runToQuiescence(): Unit =
      Streaming.drain(s2, dir, schema, Sink.Files(out))(
        _.withWatermark("ts", "35 days")
          .groupBy(col("event_type"), window(col("ts"), "1 day"))
          .agg(count(lit(1)).as("n"), sum(Num.dec2(col("value"))).as("sv"))
          .select(col("event_type"),
            unix_micros(col("window.start")).as("day_us"), col("n"), col("sv")))
    def nDataFiles(): Long = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(out.data))
      try walk.iterator().asScala
        .count(f => f.getFileName.toString.startsWith("part-")).toLong
      finally walk.close()
    }
    runToQuiescence()
    val filesBefore = nDataFiles()
    val last = dropLastCommit(out)
    val sinkMeta =
      java.nio.file.Paths.get(out.data, "_spark_metadata", last.toString)
    rmWithCrc(sinkMeta)
    runToQuiescence()
    val recovered = java.nio.file.Files.exists(
        java.nio.file.Paths.get(out.checkpoint, "commits", last.toString)) &&
      java.nio.file.Files.exists(sinkMeta)
    val reexecuted = nDataFiles() > filesBefore
    s.read.parquet(out.data)
      .withColumn("provider", lit(provider))
      .withColumn("sum_value", col("sv").cast(DoubleType))
      .withColumn("recovered_commit", lit(recovered))
      .withColumn("reexecuted", lit(reexecuted))
  }

  /** Delete `p` AND its ChecksumFileSystem .crc shadow — a real crash
    * would have written neither, and a leftover .crc blocks the re-commit's
    * rename on the local fs. */
  private def rmWithCrc(p: java.nio.file.Path): Unit = {
    java.nio.file.Files.delete(p)
    java.nio.file.Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
  }

  /** The crash point between a batch's output and its commit: delete the
    * last entry of `out`'s commit log, so the next drain into `out`
    * re-executes that batch; returns its id. */
  private[graft] def dropLastCommit(out: Streaming.Output): Long = {
    import scala.jdk.CollectionConverters._
    val commits = java.nio.file.Paths.get(out.checkpoint, "commits")
    val ls = java.nio.file.Files.list(commits)
    val last = try ls.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
    finally ls.close()
    rmWithCrc(commits.resolve(last.toString))
    last
  }

  /** The two-file parity-split documents staging shared by st36/st37 (one
    * trigger per half). */
  private def stagedDocsTwoFiles(s: org.apache.spark.sql.SparkSession,
      d: String): (String, org.apache.spark.sql.types.StructType) = {
    val docsDf = T.documents(s, d).select("doc_id", "source", "text")
    val dir = Streaming.stagedDir("kldrift", d)(Streaming.stage(s, _,
      docsDf.filter(col("doc_id") % 2 === 0), docsDf.filter(col("doc_id") % 2 === 1)))
    (dir, docsDf.schema)
  }

  /** st21 core, shared with tests: stream the documents fixture through the
    * hash-split projection into a split-partitioned parquet sink. Returns
    * (data path, sink root) so tests can assert the physical layout and a
    * partition-pruned read of one split.
    */
  def streamSplitSink(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val docsDf = T.documents(s, d).select("doc_id", "source", "n_chars")
    val schema = docsDf.schema
    val dir = Streaming.stagedDir("split", d)(Streaming.stage(s, _,
      docsDf.filter(col("doc_id") % 2 === 0), docsDf.filter(col("doc_id") % 2 === 1)))
    val out = Streaming.output("graft_split_")
    Streaming.drain(s, dir, schema, Sink.Files(out, partitionBy = Seq("split")))(
      _.withColumn("bucket", expr(
          "CAST(conv(substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 100"))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val").otherwise("test"))
        .select("doc_id", "source", "n_chars", "split"))
    (out.data, out.root)
  }

  /** st26's per-partition CUSUM fold. Expects rows grouped by event_type
    * and (ts, event_id)-ordered within each key — the contract
    * repartition(key) + sortWithinPartitions(key, ts, id) provides — and
    * advances each key's detector in ONE sequential pass holding only the
    * current key's state: a batch where one event_type dominates streams
    * through instead of materializing as a toSeq. Exposed for the skew
    * unit test.
    */
  /** st45's per-key incremental fold: the cusumFold recursion extended
    * with the AR(2) feature lags and the two segments' ridge
    * normal-equation partials — BigDecimal string arithmetic throughout,
    * so the accumulated sums are EXACTLY the decimals p09's batch
    * aggregation produces (products at scale 4, sums exact) and the
    * final decimal->double conversion is the single rounding Spark's own
    * decimal cast performs. The alarm row itself opens segment 1
    * (rn >= firstAlarm), matching p09's `rn >= alarm_rn` split; rows
    * before the second lag exists (rn <= 2) accumulate nothing, matching
    * the batch `l2 IS NOT NULL` filter.
    */
  private[graft] def retrainFold(
      prior: Map[String, RetrainState],
      rows: Iterator[(String, Long, Long, java.math.BigDecimal)])
      : Iterator[RetrainState] = {
    val zero = Seq.fill(8)("0")
    def step(st: RetrainState, v: java.math.BigDecimal): RetrainState = {
      val rn = st.nPts + 1
      val cs = BigDecimal(st.cs) + BigDecimal(v) - BigDecimal("55.00")
      val mn = BigDecimal(st.mn).min(cs)
      val ph = cs - mn
      val firstAlarm =
        if (st.firstAlarm >= 0) st.firstAlarm
        else if (ph > BigDecimal("500.00")) rn
        else -1L
      val inSeg1 = firstAlarm >= 0 && rn >= firstAlarm
      val (n0, seg0, n1, seg1) =
        if (st.prev2.isEmpty) (st.n0, st.seg0, st.n1, st.seg1)
        else {
          val z1 = BigDecimal(st.prev1); val z2 = BigDecimal(st.prev2)
          val y = BigDecimal(v)
          val add = Seq(z1 * z1, z1 * z2, z1, z2 * z2, z2, y * z1, y * z2, y)
          def upd(acc: Seq[String]): Seq[String] =
            acc.zip(add).map { case (a, x) => (BigDecimal(a) + x).toString }
          if (inSeg1) (st.n0, st.seg0, st.n1 + 1, upd(st.seg1))
          else (st.n0 + 1, upd(st.seg0), st.n1, st.seg1)
        }
      RetrainState(st.event_type, cs.toString, mn.toString, rn, firstAlarm,
        v.toString, st.prev1, n0, seg0, n1, seg1)
    }
    new Iterator[RetrainState] {
      private var pending: RetrainState = advance()
      private var cur: (String, Long, Long, java.math.BigDecimal) = _
      private def advance(): RetrainState = {
        if (cur == null) { if (!rows.hasNext) return null; cur = rows.next() }
        val key = cur._1
        var st = prior.getOrElse(key,
          RetrainState(key, "0.00", "0.00", 0L, -1L, "", "", 0L, zero, 0L, zero))
        while (cur != null && cur._1 == key) {
          st = step(st, cur._4)
          cur = if (rows.hasNext) rows.next() else null
        }
        st
      }
      def hasNext: Boolean = pending != null
      def next(): RetrainState = {
        val out = pending; pending = advance(); out
      }
    }
  }

  private[graft] def cusumFold(
      prior: Map[String, CusumState],
      rows: Iterator[(String, Long, Long, java.math.BigDecimal)])
      : Iterator[CusumState] = {
    def step(st: CusumState, v: java.math.BigDecimal): CusumState = {
      val cs = BigDecimal(st.cs) + BigDecimal(v) - BigDecimal("55.00")
      val mn = BigDecimal(st.mn).min(cs)
      val ph = cs - mn
      CusumState(st.event_type, cs.toString, mn.toString,
        BigDecimal(st.maxPh).max(ph).toString,
        st.nPts + 1,
        st.nAlarms + (if (ph > BigDecimal("500.00")) 1 else 0),
        if (st.firstAlarm >= 0) st.firstAlarm
        else if (ph > BigDecimal("500.00")) st.nPts + 1
        else -1L)
    }
    new Iterator[CusumState] {
      private var pending: CusumState = advance()
      private var cur: (String, Long, Long, java.math.BigDecimal) = _
      private def advance(): CusumState = {
        if (cur == null) { if (!rows.hasNext) return null; cur = rows.next() }
        val key = cur._1
        var st = prior.getOrElse(key,
          CusumState(key, "0.00", "0.00", "0.00", 0L, 0L, -1L))
        while (cur != null && cur._1 == key) {
          st = step(st, cur._4)
          cur = if (rows.hasNext) rows.next() else null
        }
        st
      }
      def hasNext: Boolean = pending != null
      def next(): CusumState = {
        val out = pending; pending = advance(); out
      }
    }
  }
}

/** Durable per-key CUSUM detector state (st26): decimals as strings so
  * the parquet state schema stays exact across resumes.
  */
case class CusumState(event_type: String, cs: String, mn: String,
    maxPh: String, nPts: Long, nAlarms: Long, firstAlarm: Long)

/** Durable drift-gated-retrain state (st45): the st26 detector plus the
  * last two values (next row's AR(2) features) and each segment's ridge
  * normal-equation partials in s11/s12/s1/s22/s2/b0/b1/b2 order —
  * decimals as strings, exact across resumes. Empty prev strings mean
  * the lag does not exist yet.
  */
case class RetrainState(event_type: String, cs: String, mn: String,
    nPts: Long, firstAlarm: Long, prev1: String, prev2: String,
    n0: Long, seg0: Seq[String], n1: Long, seg1: Seq[String])

/** Per-user funnel position (st28): event count + the three stage
  * timestamps in epoch micros (-1 = stage not reached).
  */
case class FunnelState(n: Long, t1: Long, t2: Long, t3: Long)
