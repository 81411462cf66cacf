package graft.operators

import graft.{Num, Op, T}
import graft.core._
import graft.pipeline._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ML pipeline surface: one query per reference learner (SURVEY §2.6), plus
  * wire-format parsing and the PipelineMap request lifecycle. Training
  * queries are rows-only checked by the driver (iterative SGD is not
  * SQL-expressible); learner correctness is covered by the ScalaTest golden
  * tests (separability, 1-vs-N equivalence for ORR, protocol semantics).
  *
  * Inputs are deterministically range-partitioned into 8 slices sorted by id
  * so results are reproducible regardless of the session's core count.
  */
object MLOps {

  /** embeddings -> (id, features double[], target) rows, deterministic layout. */
  private def features(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d)
      .select(col("vec_id").as("id"),
        col("embedding").cast(ArrayType(DoubleType)).as("features"),
        col("label").cast(DoubleType).as("target"))
      .repartitionByRange(8, col("id"))
      .sortWithinPartitions("id")

  private def toRdd(df: DataFrame): RDD[(Array[Double], Double)] =
    df.select("features", "target").rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))

  private def binary(df: DataFrame): DataFrame =
    df.withColumn("target", when(col("target") >= 5.0, 1.0).otherwise(-1.0))

  /** Train one pipeline and emit its chunked QueryResponses as HASH-GATED
    * rows (the ml12/d18 boolean-invariant pattern): chunk layout, pipeline
    * identity, protocol resolution, and exact parameter counts are
    * oracle-reproduced from the data's dimensionality alone, and the
    * floating outputs are gated — the fitted count must sit inside the
    * exact window the per-partition 2-of-10 held-out ring implies, the
    * cumulative loss must be finite and non-negative, and the score must be
    * a valid probability (classifiers) / non-positive finite (regressors,
    * clustering). A broken merge, a dropped replica, a mis-resolved
    * protocol, or a wrong preprocessor output dimension each flip a column
    * the driver hashes.
    */
  private def trainOp(name: String, spec: PipelineSpec,
      prep: DataFrame => DataFrame = identity,
      oracle: Option[String] = None): Op =
    Op(name, (s, d) => {
      val df = prep(features(s, d))
      val fitted = Trainer.fit(s, spec, toRdd(df))
      val n = df.count()
      val parts =
        if (Set("SingleLearner", "CentralizedTraining")(fitted.protocolName)) 1
        else 8
      // every round fits at most all n rows; the held-out ring parks at
      // most 256 rows per partition, and round 1 always ships (no prev to
      // drift against), so the total can never fall below n - parts*256
      val fittedOk = fitted.model.n >= math.max(1L, n - parts.toLong * 256L) &&
        fitted.model.n <= spec.rounds.toLong * n
      val cl = fitted.model.cumLoss
      val lossOk = !cl.isNaN && !cl.isInfinite && cl >= 0.0
      val sc = fitted.score
      val scoreOk =
        if (fitted.learner.isClassifier) sc >= 0.0 && sc <= 1.0
        else !sc.isNaN && !sc.isInfinite && sc <= 0.0
      import s.implicits._
      fitted.responses(requestId = 1L).toDF()
        .select(col("id").as("chunk_id"), col("mlpId").as("pipeline_id"),
          col("learner"), col("protocol"),
          col("paramsCount").cast(LongType).as("params_count"))
        .withColumn("n_points", lit(n))
        .withColumn("fitted_in_bounds", lit(fittedOk))
        .withColumn("loss_valid", lit(lossOk))
        .withColumn("score_valid", lit(scoreOk))
        .orderBy("chunk_id")
    }, oracle)

  /** Oracle for a single-chunk [[trainOp]]: every column derived from the
    * embeddings table's dimensionality (`paramsOfD` is a SQL expression in
    * `d`, the feature dim) — the engine's training result must land on
    * exactly this identity row or the hash gate fails.
    */
  private def trainOracle(pipelineId: Int, learner: String, protocol: String,
      paramsOfD: String): String =
    s"""WITH p AS (SELECT MAX(len(embedding)) AS d, COUNT(*) AS n FROM embeddings)
       |SELECT CAST(0 AS INTEGER) AS chunk_id,
       |  CAST($pipelineId AS INTEGER) AS pipeline_id,
       |  '$learner' AS learner, '$protocol' AS protocol,
       |  CAST($paramsOfD AS BIGINT) AS params_count,
       |  CAST(n AS BIGINT) AS n_points, true AS fitted_in_bounds,
       |  true AS loss_valid, true AS score_valid
       |FROM p""".stripMargin

  val ops: Seq[Op] = Seq(
    trainOp("ml01_pa_train",
      PipelineSpec(1, "PA", Map("C" -> 0.01), Seq("StandardScaler"), "Synchronous"),
      binary,
      Some(trainOracle(1, "PA", "Synchronous", "d + 1"))),
    trainOp("ml02_regressorpa_train",
      PipelineSpec(2, "RegressorPA", Map("C" -> 0.01, "epsilon" -> 0.1),
        Seq("MinMaxScaler"), "EASGD"),
      oracle = Some(trainOracle(2, "RegressorPA", "EASGD", "d + 1"))),
    trainOp("ml03_orr_train",
      PipelineSpec(3, "ORR", Map("lambda" -> 1.0), Nil, "Synchronous"),
      oracle = Some(trainOracle(3, "ORR", "Synchronous", "d + 1"))),
    trainOp("ml04_svm_train",
      PipelineSpec(4, "SVM", Map("lambda" -> 1e-4), Seq("StandardScaler"), "FGM"),
      binary,
      Some(trainOracle(4, "SVM", "FGM", "d + 1"))),
    // PolynomialFeatures blows 64 dims to 2144 (+bias per class); k=10
    // classes => 21450 params, exercising the 10k-entry QueryResponse
    // chunking (FlinkNetwork.scala:50) — the oracle reproduces the exact
    // 10000/10000/1450 chunk layout from the data's dimensionality.
    trainOp("ml05_multiclasspa_train",
      PipelineSpec(5, "MultiClassPA", Map("C" -> 0.01, "classes" -> 10.0),
        Seq("PolynomialFeatures"), "Asynchronous"),
      oracle = Some(
        """WITH p AS (SELECT MAX(len(embedding)) AS d, COUNT(*) AS n FROM embeddings),
          |t AS (SELECT (2*d + d*(d-1)/2 + 1) * 10 AS tot, n FROM p),
          |c AS (SELECT UNNEST(range(0, CAST(CEIL(tot / 10000.0) AS INTEGER))) AS cid,
          |        tot, n FROM t)
          |SELECT CAST(cid AS INTEGER) AS chunk_id,
          |  CAST(5 AS INTEGER) AS pipeline_id,
          |  'MultiClassPA' AS learner, 'Asynchronous' AS protocol,
          |  CAST(CASE WHEN (cid+1)*10000 <= tot THEN 10000
          |            ELSE tot - cid*10000 END AS BIGINT) AS params_count,
          |  CAST(n AS BIGINT) AS n_points, true AS fitted_in_bounds,
          |  true AS loss_valid, true AS score_valid
          |FROM c ORDER BY chunk_id""".stripMargin)),
    // K-means is SingleLearner-FORCED (reference FlinkSpoke.scala:203-211):
    // the oracle pins the resolved protocol, not the requested one.
    trainOp("ml06_kmeans_train",
      PipelineSpec(6, "K-means", Map("k" -> 8.0), Nil, "Asynchronous"),
      oracle = Some(trainOracle(6, "K-means", "SingleLearner", "8 * d"))),
    trainOp("ml07_nn_train",
      PipelineSpec(7, "NN", Map("hidden" -> 16.0, "classes" -> 10.0, "lr" -> 0.05),
        Seq("StandardScaler"), "SSP"),
      oracle = Some(trainOracle(7, "NN", "SSP", "(d + 1) * 16 + 17 * 10"))),
    // HT's params snapshot is the grown tree — structural state, not a
    // function of the input dimensionality — so the chunk LAYOUT is not
    // oracle-derivable like the linear learners'. The gate therefore rolls
    // the chunks up into layout-free invariants the oracle CAN pin: the
    // identity row, a non-empty contiguous chunk sequence, strictly
    // positive parameter mass, and the same fitted/loss/score bounds as
    // every trainOp. A dropped chunk (gap in ids), an empty tree, or a
    // training-health regression each flip a hashed column. HT is
    // SingleLearner-FORCED (reference FlinkSpoke.scala:203-211), so the
    // oracle pins the RESOLVED protocol, not the requested one — same as
    // ml06's K-means rule.
    Op("ml08_ht_train", (s, d) => {
      val spec = PipelineSpec(8, "HT", Map("classes" -> 10.0, "grace" -> 50.0),
        Nil, "Asynchronous")
      val df = features(s, d)
      val fitted = Trainer.fit(s, spec, toRdd(df))
      val n = df.count()
      val fittedOk = fitted.model.n >= math.max(1L, n - 8L * 256L) &&
        fitted.model.n <= spec.rounds.toLong * n
      val cl = fitted.model.cumLoss
      val lossOk = !cl.isNaN && !cl.isInfinite && cl >= 0.0
      val scoreOk = fitted.score >= 0.0 && fitted.score <= 1.0
      val rs = fitted.responses(requestId = 1L)
      val chunkIds = rs.map(_.id).sorted
      val chunksContiguous = chunkIds.nonEmpty &&
        chunkIds == (0 until chunkIds.size)
      val paramsPositive = rs.map(_.paramsCount.toLong).sum > 0L
      import s.implicits._
      Seq((8, "HT", fitted.protocolName, chunksContiguous, paramsPositive,
        n, fittedOk, lossOk, scoreOk))
        .toDF("pipeline_id", "learner", "protocol", "chunks_contiguous",
          "params_positive", "n_points", "fitted_in_bounds", "loss_valid",
          "score_valid")
    },
      Some("""SELECT CAST(8 AS INTEGER) AS pipeline_id, 'HT' AS learner,
        |  'SingleLearner' AS protocol, true AS chunks_contiguous,
        |  true AS params_positive, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  true AS fitted_in_bounds, true AS loss_valid, true AS score_valid
        |FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // Training at the largest fixture volume (600k lineitem rows at sf0.1):
    // demonstrates the ingest+train path at scale, not learner quality.
    // Hash-gated like the trainOps: identity/layout exact from lineitem's
    // row count and the 4 engineered features, floats gated.
    Op("ml11_volume_train", (s, d) => {
      import s.implicits._
      val df = T.lineitem(s, d).select(
        array(col("l_quantity"), col("l_extendedprice") / lit(1000.0),
          col("l_discount") * lit(10.0), col("l_tax") * lit(10.0)).as("features"),
        when(col("l_returnflag") === "R", 1.0).otherwise(-1.0).as("target"))
      val rdd = df.rdd.map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
      val fitted = Trainer.fit(s,
        PipelineSpec(12, "PA", Map("C" -> 0.01), Seq("StandardScaler"), "Synchronous",
          rounds = 2),
        rdd)
      val n = df.count()
      val parts = rdd.getNumPartitions.toLong // file-split-derived, engine-side
      val fittedOk = fitted.model.n >= math.max(1L, n - parts * 256L) &&
        fitted.model.n <= 2L * n
      val cl = fitted.model.cumLoss
      val lossOk = !cl.isNaN && !cl.isInfinite && cl >= 0.0
      val scoreOk = fitted.score >= 0.0 && fitted.score <= 1.0
      // the resolved protocol depends on the scan's split count (one
      // parquet split forces CentralizedTraining, reference rule) — gate
      // it as "a legal resolution of Synchronous" instead of pinning one
      val protocolOk = Set("Synchronous", "CentralizedTraining")(
        fitted.protocolName)
      fitted.responses(requestId = 2L).toDF()
        .select(col("id").as("chunk_id"), col("mlpId").as("pipeline_id"),
          col("learner"),
          col("paramsCount").cast(LongType).as("params_count"))
        .withColumn("protocol_valid", lit(protocolOk))
        .withColumn("n_points", lit(n))
        .withColumn("fitted_in_bounds", lit(fittedOk))
        .withColumn("loss_valid", lit(lossOk))
        .withColumn("score_valid", lit(scoreOk))
        .orderBy("chunk_id")
    },
      Some("""SELECT CAST(0 AS INTEGER) AS chunk_id,
        |  CAST(12 AS INTEGER) AS pipeline_id, 'PA' AS learner,
        |  CAST(5 AS BIGINT) AS params_count, true AS protocol_valid,
        |  CAST(COUNT(*) AS BIGINT) AS n_points, true AS fitted_in_bounds,
        |  true AS loss_valid, true AS score_valid
        |FROM lineitem""".stripMargin)),
    // ------------------------------------------------------------------
    // Prediction serving, hash-gated: the fitted values themselves are
    // training-path floats no SQL oracle can derive, so each scored row
    // carries the invariants that PROVE the serving path (the ml12/ml13
    // pattern): the prediction is in the classifier's domain {-1, +1},
    // the model is not a constant predictor (both classes appear — the
    // degenerate-scaler failure, which scores exactly the majority share
    // and no accuracy threshold can separate from a weak fit), and
    // training accuracy strictly beats coin-flip. The gate was 0.60
    // until a full sf0.1 check exposed it as fixture-tuned: the
    // synthetic labels are only weakly learnable there (PA reads 0.5385
    // vs a 0.502 majority share, while sf0.01 reads 0.626), so the
    // margin gate traded robustness-across-fixtures for nothing — the
    // regressions it aimed at (NaN params, broken preprocessor, wrong
    // sign convention) are each caught by a dedicated boolean instead.
    Op("ml09_predictions", (s, d) => {
      val df = binary(features(s, d))
      val fitted = Trainer.fit(s,
        PipelineSpec(1, "PA", Map("C" -> 0.01), Seq("StandardScaler"), "Synchronous"),
        toRdd(df))
      val scored = fitted.predict(s, df)
        .join(df.select(col("id"), col("target")), "id")
      // The baseline is the label distribution's majority share measured
      // in-plan (a constant-predictor scores exactly this), not an absolute
      // 0.50 — so the gate is "beats the majority baseline" on every fixture
      // rather than a constant tuned to one (ADVICE r10).
      val Array(acc, nClasses, majority) = scored
        .agg(avg(when(col("prediction") === col("target"), 1.0).otherwise(0.0)),
          countDistinct(col("prediction")).cast(DoubleType),
          greatest(avg(when(col("target") === 1.0, 1.0).otherwise(0.0)),
            avg(when(col("target") === -1.0, 1.0).otherwise(0.0))))
        .head().toSeq.map(_.asInstanceOf[Double]).toArray
      scored.select(col("id"),
        col("prediction").isin(-1.0, 1.0).as("pred_in_domain"),
        lit(nClasses == 2.0).as("predicts_both_classes"),
        lit(acc > majority).as("acc_beats_majority"))
        .orderBy("id")
    },
      Some("""SELECT vec_id AS id, true AS pred_in_domain,
        |  true AS predicts_both_classes, true AS acc_beats_majority
        |FROM embeddings ORDER BY id""".stripMargin)),
    // ------------------------------------------------------------------
    // Hash-gated hub statistics: every communication counter is EXACTLY
    // reproduced by the oracle from the data's dimensionality alone —
    // Synchronous ships all 8 replicas for all 3 rounds (24 models,
    // 24·(d+1)·8 bytes, 24 one-block payloads); GM-over-ORR also ships 24
    // (an RLS replica that saw data always drifts past threshold 0), but
    // its wire form is the information state (2(d+1)² + 2(d+1) doubles),
    // so the oracle derives the 5-blocks-per-replica chunk count the
    // maxMsgParams cap implies. A protocol that over- or under-ships, a
    // wire format that grows or shrinks, or a chunker regression all land
    // on different integers and fail the hash.
    Op("ml10_job_statistics", (s, d) => {
      import s.implicits._
      val df = features(s, d)
      val p1 = Trainer.fit(s,
        PipelineSpec(1, "PA", Map("C" -> 0.01), Nil, "Synchronous"), toRdd(binary(df)))
      val p2 = Trainer.fit(s,
        PipelineSpec(2, "ORR", Map("lambda" -> 1.0), Nil, "GM"), toRdd(df))
      val n = df.count()
      def gates(f: FittedPipeline, classifier: Boolean): (Boolean, Boolean) = {
        val fittedOk = f.model.n >= math.max(1L, n - 8L * 256L) &&
          f.model.n <= 3L * n
        val scoreOk =
          if (classifier) f.score >= 0.0 && f.score <= 1.0
          else !f.score.isNaN && !f.score.isInfinite && f.score <= 0.0
        (fittedOk, scoreOk)
      }
      val (f1, s1) = gates(p1, classifier = true)
      val (f2, s2) = gates(p2, classifier = false)
      Seq((p1.statistics, f1, s1), (p2.statistics, f2, s2))
        .map { case (st, fOk, sOk) =>
          (st.pipelineId, st.protocol, st.modelsShipped, st.bytesShipped,
            st.blocks, st.learningCurve.size, fOk, sOk)
        }
        .toDF("pipeline_id", "protocol", "models_shipped", "bytes_shipped",
          "blocks", "curve_len", "fitted_in_bounds", "score_valid")
        .orderBy("pipeline_id")
    },
      Some("""WITH p AS (SELECT MAX(len(embedding)) AS d FROM embeddings),
        |x AS (SELECT d + 1 AS dp, 2*(d+1)*(d+1) + 2*(d+1) AS wire FROM p)
        |SELECT * FROM (
        |  SELECT CAST(1 AS INTEGER) AS pipeline_id, 'Synchronous' AS protocol,
        |    CAST(24 AS BIGINT) AS models_shipped,
        |    CAST(24 * dp * 8 AS BIGINT) AS bytes_shipped,
        |    CAST(24 AS BIGINT) AS blocks, CAST(3 AS INTEGER) AS curve_len,
        |    true AS fitted_in_bounds, true AS score_valid FROM x
        |  UNION ALL
        |  SELECT CAST(2 AS INTEGER), 'GM', CAST(24 AS BIGINT),
        |    CAST(24 * dp * 8 AS BIGINT),
        |    CAST(24 * CAST(CEIL(wire / 2000.0) AS BIGINT) AS BIGINT),
        |    CAST(3 AS INTEGER), true, true FROM x)
        |ORDER BY pipeline_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Hash-gated K-means invariants (the q42/t10 boolean pattern on the
    // iterative surface): the oracle reproduces the exact point count; the
    // engine PROVES structural training health — exactly k centroids, every
    // centroid inside the data's per-dimension bounding box (MacQueen
    // updates are convex combinations of points, so a correct trainer can
    // never leave it), and cluster counts that sum to the fitted total. A
    // broken merge/update flips a boolean and fails the hash gate.
    Op("ml12_kmeans_gate", (s, d) => {
      val df = features(s, d)
      val fitted = Trainer.fit(s,
        PipelineSpec(6, "K-means", Map("k" -> 8.0), Nil, "Asynchronous"),
        toRdd(df))
      val m = fitted.model.asInstanceOf[graft.ml.KMeansState]
      val bounds = df.select(posexplode(col("features")))
        .groupBy("pos").agg(min("col").as("lo"), max("col").as("hi"))
        .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      val inBounds = (0 until m.k).forall { c =>
        (0 until m.dim).forall { i =>
          val v = m.centroids(c * m.dim + i)
          val (lo, hi) = bounds(i)
          v >= lo - 1e-9 && v <= hi + 1e-9
        }
      }
      val countsOk = m.counts.sum == m.n
      df.agg(count(lit(1)).as("n_points"))
        .select(col("n_points"), lit(m.k.toLong).as("k"),
          lit(inBounds).as("centroids_in_bounds"),
          lit(countsOk).as("counts_consistent"))
    },
      Some("""SELECT COUNT(*) AS n_points, CAST(8 AS BIGINT) AS k,
        |  true AS centroids_in_bounds, true AS counts_consistent
        |FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // Hash-gated serving-path invariants: one prediction per input id and
    // every classifier output in the {-1, +1} domain — the contract a
    // broken model broadcast or preprocessor chain violates first.
    Op("ml13_prediction_gate", (s, d) => {
      val df = binary(features(s, d))
      val fitted = Trainer.fit(s,
        PipelineSpec(1, "PA", Map("C" -> 0.01), Seq("StandardScaler"), "Synchronous"),
        toRdd(df))
      fitted.predict(s, df).agg(
        count(lit(1)).as("n"),
        (sum(when(abs(col("prediction")) === 1.0, 0L).otherwise(1L)) === 0L)
          .as("preds_in_domain"),
        (countDistinct(col("id")) === count(lit(1))).as("ids_unique"))
    },
      Some("""SELECT COUNT(*) AS n, true AS preds_in_domain,
        |  true AS ids_unique FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // Deterministic k-fold cross-validation (the model-selection loop a
    // training pipeline runs before committing a config): fold membership
    // is an md5 bucket of the stable id — a pure projection, identical
    // under any partitioning, so the oracle derives the EXACT per-fold
    // train/test counts (not just booleans). Per fold the engine trains on
    // the other 4 buckets and scores the held-out bucket; the gated
    // booleans assert each fold's fit count stays inside the exact bounds
    // the trainer's per-partition 2-of-10 held-out ring implies (a sweep
    // whose arms share state overshoots the upper bound first) and the
    // held-out accuracy is a valid probability. 5 sequential distributed fits —
    // at 100 TB each fit is the same one-pass protocol round as ml01, and
    // fold filtering is a pushed-down scan predicate, never a shuffle.
    Op("ml14_kfold_cv", (s, d) => {
      import s.implicits._
      val df = binary(features(s, d))
        .withColumn("fold", expr(
          "CAST(conv(substring(md5(CAST(CAST(id AS STRING) AS BINARY)), 1, 8), 16, 10) AS BIGINT) % 5"))
        .cache()
      // fold sizes in ONE aggregation pass (was train.count + test.count per
      // fold = 10 jobs over the cached table); values identical by definition
      val foldN: Map[Long, Long] = df.groupBy("fold").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val total = foldN.values.sum
      // the 5 folds are fully independent (disjoint specs, own RDD lineage):
      // fit/score them concurrently so each fold's stage tail back-fills the
      // others' idle cores (guide §2.6 overlap-independent-jobs); per-fold
      // results are computed exactly as before, so the output is unchanged
      val rows = graft.Subjobs.runAll(s, (0 until 5).map { f =>
        () => {
          val train = df.filter(col("fold") =!= f.toLong)
          val test = df.filter(col("fold") === f.toLong)
          val fitted = Trainer.fit(s,
            PipelineSpec(100 + f, "PA", Map("C" -> 0.01),
              Seq("StandardScaler"), "Synchronous", rounds = 1), toRdd(train))
          val nTest = foldN.getOrElse(f.toLong, 0L)
          val nTrain = total - nTest
          // the trainer parks ≤256 ring slots per partition (8 partitions)
          val fitOk = fitted.model.n <= nTrain &&
            fitted.model.n >= math.max(0L, nTrain - 8L * 256L)
          val acc = fitted.predict(s, test)
            .join(test.select(col("id"), col("target")), "id")
            .agg(avg(when(col("prediction") === col("target"), 1.0)
              .otherwise(0.0)).as("acc"))
            .head().getDouble(0)
          (f.toLong, nTrain, nTest, fitOk, acc >= 0.0 && acc <= 1.0)
        }
      })
      rows.toDF("fold", "n_train", "n_test", "fit_bounded", "acc_in_range")
        .orderBy("fold")
    },
      Some("""WITH b AS (SELECT
        |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT % 5
        |      AS fold
        |  FROM embeddings),
        |c AS (SELECT fold, COUNT(*) AS cnt FROM b GROUP BY fold),
        |t AS (SELECT COUNT(*) AS total FROM b)
        |SELECT fold, CAST(total - cnt AS BIGINT) AS n_train,
        |  CAST(cnt AS BIGINT) AS n_test,
        |  true AS fit_bounded, true AS acc_in_range
        |FROM c, t ORDER BY fold""".stripMargin)),
    // ------------------------------------------------------------------
    // Model-wire roundtrip, hash-gated (K4: the reference's maxMsgParams
    // chunked model shipping): a trained model is split into capped
    // ParamBlocks, reassembled into a fresh skeleton, and must serve
    // EXACTLY the same predictions as the original — params bit-equal,
    // chunk count exactly ceil(params/cap), predictions pairwise equal
    // over the whole corpus. Everything but the exact point count is an
    // engine-verified boolean the oracle expects true; a chunking or
    // reassembly regression (lost block, reordered payload, dropped bias)
    // flips one of them.
    Op("ml15_model_roundtrip", (s, d) => {
      val df = binary(features(s, d))
      val fitted = Trainer.fit(s,
        PipelineSpec(101, "PA", Map("C" -> 0.01),
          Seq("StandardScaler"), "Synchronous", rounds = 1), toRdd(df))
      val cap = 16 // far below the param count so chunking genuinely splits
      val blocks = graft.ml.ModelWire.chunk(fitted.model, cap, replica = 0)
      val learner = fitted.learner
      val back = graft.ml.ModelWire.reassemble(blocks,
        (dim, ps) => learner.init(dim).loadWire(ps)).head
      val nParams = fitted.model.wireParams.length
      val chunksExact = blocks.length == (nParams + cap - 1) / cap
      val paramsEqual = back.wireParams.sameElements(fitted.model.wireParams)
      val refitted = new FittedPipeline(fitted.spec, fitted.chain, back,
        learner, fitted.protocolName, fitted.stats, fitted.curve,
        fitted.testLoss, fitted.score)
      val p1 = fitted.predict(s, df).withColumnRenamed("prediction", "p_orig")
      val p2 = refitted.predict(s, df).withColumnRenamed("prediction", "p_back")
      p1.join(p2, "id").agg(
        count(lit(1)).as("n_points"),
        (sum(when(col("p_orig") === col("p_back"), 0L).otherwise(1L)) === 0L)
          .as("preds_equal"))
        .select(col("n_points"),
          lit(chunksExact).as("chunks_exact"),
          lit(paramsEqual).as("params_equal"),
          col("preds_equal"))
    },
      Some("""SELECT COUNT(*) AS n_points, true AS chunks_exact,
        |  true AS params_equal, true AS preds_equal
        |FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // Concept-drift detection: a CUSUM change detector (Page's cumulative
    // sum, the reference-value form; the same family the reference's
    // protocol drift gates monitor, cf. OMLDM's GM/FGM violation counters)
    // over each event_type's value stream in event-time order.
    //   s_t  = Σ_{i≤t} (x_i − μ0 − δ)  (μ0=50 target, δ=5 slack)
    //   ph_t = s_t − min_{u≤t} s_u     (alarm when ph_t > λ=500)
    // Everything stays in DECIMAL(18,2): the cumulative sum and running min
    // are exact and addition-order independent, so the per-type alarm
    // positions hash-match the oracle bit-for-bit — no float window sums.
    // Scale shape: two window passes over the SAME (event_type, ts,
    // event_id) sort order — one sort shuffle, the second window reuses the
    // partitioning+ordering — then a per-type aggregation. Sequential-scan
    // cost per key, constant state; no self-joins.
    Op("ml16_cusum_drift", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dev = Num.dec2(col("value")) -
        lit(new java.math.BigDecimal("55.00")) // μ0 + δ
      val lam = lit(new java.math.BigDecimal("500.00"))
      T.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"), dev.as("dev"))
        .withColumn("rn", row_number().over(ord))
        .withColumn("cs", sum(col("dev")).over(run))
        // standard Page CUSUM: the running min includes the implicit
        // s_0 = 0 baseline, so an immediate positive drift alarms from the
        // first samples instead of waiting for the sum to dip below zero
        .withColumn("ph",
          col("cs") - least(min(col("cs")).over(run),
            lit(new java.math.BigDecimal("0.00"))))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n_points"),
          sum(when(col("ph") > lam, 1L).otherwise(0L)).as("n_alarms"),
          min(when(col("ph") > lam, col("rn"))).cast(LongType)
            .as("first_alarm_pos"),
          max(col("ph")).cast(DoubleType).as("max_ph"))
        .orderBy("event_type")
    },
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
        |-- CASE, not LEAST: DuckDB's LEAST demotes DECIMAL(38,2) to DOUBLE
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
    // Wire-format roundtrip: build DataInstance JSON (ints only, so string
    // formatting is engine-independent), parse via Wire.parseInstances
    // (from_json PERMISSIVE + validity filter + EOS skip), lower to points.
    // The oracle computes the expected output directly from the generator
    // expressions — the parse path itself is what's under test.
    Op("w01_parse_instances", (s, d) => {
      val json = T.embeddings(s, d).select(concat(
        lit("{\"id\": "), col("vec_id").cast(StringType),
        lit(", \"operation\": \""),
        when(col("vec_id") % 4 === 0, "forecasting").otherwise("training"),
        lit("\", \"discreteFeatures\": ["), col("label").cast(StringType),
        lit(","), (col("vec_id") % 7).cast(StringType),
        lit("], \"target\": "), col("label").cast(StringType), lit("}")).as("value"))
      import s.implicits._
      val noise = Seq("EOS", "{not json", """{"id": 1}""").toDF("value")
      val all = json.unionByName(noise)
      Wire.toPoints(Wire.parseInstances(all, "value"))
        .select(col("id"), col("operation"),
          size(col("features")).cast(LongType).as("n_features"),
          element_at(col("features"), 1).as("f0"),
          element_at(col("features"), 2).as("f1"),
          col("target"))
        .orderBy("id")
    },
      Some("""SELECT vec_id AS id,
        |  CASE WHEN vec_id % 4 = 0 THEN 'forecasting' ELSE 'training' END AS operation,
        |  CAST(2 AS BIGINT) AS n_features,
        |  CAST(label AS DOUBLE) AS f0,
        |  CAST(vec_id % 7 AS DOUBLE) AS f1,
        |  CAST(label AS DOUBLE) AS target
        |FROM embeddings ORDER BY id""".stripMargin)),
    // ------------------------------------------------------------------
    // PipelineMap lifecycle (PipelineMap.scala:31-47): Create/Update/Query/
    // Delete sequence incl. validation rejections, driven through the JSON
    // request parser. Deterministic -> literal-VALUES oracle.
    Op("w02_request_lifecycle", (s, d) => {
      import s.implicits._
      val reqJson = Seq(
        """{"id": 1, "request": "Create", "learner": {"name": "PA", "hyperParameters": {"C": 0.01}}, "preProcessors": [{"name": "StandardScaler"}], "trainingConfiguration": {"protocol": "Asynchronous"}}""",
        """{"id": 1, "request": "Create", "learner": {"name": "SVM"}}""",
        """{"id": 2, "request": "Create", "learner": {"name": "DeepForest"}}""",
        """{"id": 1, "request": "Update", "learner": {"name": "SVM"}, "trainingConfiguration": {"protocol": "EASGD"}}""",
        """{"id": 1, "request": "Query", "requestId": 9}""",
        """{"id": 2, "request": "Delete"}""",
        """{"id": 1, "request": "Delete"}""",
        """{"id": 1, "request": "Query", "requestId": 10}""",
        """{"id": 3, "request": "Create", "learner": {"name": "HT"}, "preProcessors": [{"name": "MinMaxScaler"}], "trainingConfiguration": {"protocol": "GM"}}""",
        """not a request""")
      val parsed = Wire.parseRequests(reqJson.toDF("value"), "value")
      val catalog = new PipelineCatalog
      val requests = parsed.collect().map { r =>
        val lrIdx = r.fieldIndex("learner")
        val learner =
          if (r.isNullAt(lrIdx)) None
          else Some(LearnerSpec(r.getStruct(lrIdx).getString(0)))
        val ppIdx = r.fieldIndex("preProcessors")
        val pre =
          if (r.isNullAt(ppIdx)) None
          else Some(r.getSeq[org.apache.spark.sql.Row](ppIdx)
            .map(p => PreprocessorSpec(p.getString(0))))
        val tcIdx = r.fieldIndex("trainingConfiguration")
        val tc =
          if (r.isNullAt(tcIdx)) None
          else Some(r.getMap[String, String](tcIdx).toMap)
        val ridIdx = r.fieldIndex("requestId")
        Request(r.getInt(0), r.getString(1),
          if (r.isNullAt(ridIdx)) None else Some(r.getLong(ridIdx)),
          learner, pre, tc)
      }
      requests.foreach(catalog.apply)
      catalog.events.zipWithIndex
        .map { case ((id, op, outcome), i) => (i.toLong, id, op, outcome) }
        .toSeq.toDF("seq", "pipeline_id", "request", "outcome")
    },
      Some("""SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 1, 'Create', 'created'),
        |  (CAST(1 AS BIGINT), 1, 'Create', 'rejected: exists'),
        |  (CAST(2 AS BIGINT), 2, 'Create', 'rejected: invalid learner: DeepForest'),
        |  (CAST(3 AS BIGINT), 1, 'Update', 'updated'),
        |  (CAST(4 AS BIGINT), 1, 'Query', 'queried'),
        |  (CAST(5 AS BIGINT), 2, 'Delete', 'rejected: missing'),
        |  (CAST(6 AS BIGINT), 1, 'Delete', 'deleted'),
        |  (CAST(7 AS BIGINT), 1, 'Query', 'rejected: missing'),
        |  (CAST(8 AS BIGINT), 3, 'Create', 'created')
        |) t(seq, pipeline_id, request, outcome)
        |ORDER BY seq""".stripMargin)),
    // ------------------------------------------------------------------
    // VALUE-LEVEL cross-engine training parity — the upgrade the invariant
    // rollups (ml01-ml08) cannot give: ORR's information form
    // A = lambda*I + sum(z z^T), b = sum(y z), w = solve(A, b) is
    // addition-order independent up to fp noise, so DuckDB can recompute
    // the SOLVED WEIGHTS from the normal equations and the driver
    // hash-compares actual learned values across engines. Feature dim is
    // held at 3 (+bias => 4x4 system) so the oracle solves in closed form
    // (Cramer via generated Leibniz expansions). The fitted SET is exactly
    // reproducible too: partitions are id % 8 sorted by id (explicit
    // partitioner — not sampled ranges), and the 2-of-10 held-out ring
    // keeps only the LAST <=256 test points per partition out of training
    // (earlier ring slots are evicted back into the fit), which the oracle
    // replays with two window functions. Weights quantized to 6 decimals
    // absorb the engines' different summation orders (~1e-12 apart).
    Op("ml17_orr_value_parity", (s, d) => {
      val base = T.embeddings(s, d).select(col("vec_id").as("id"),
        expr("transform(slice(embedding, 1, 3), x -> CAST(x AS DOUBLE))")
          .as("features"),
        col("label").cast(DoubleType).as("target"))
      val keyed = base.rdd
        .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
      val byMod = new org.apache.spark.Partitioner {
        def numPartitions: Int = 8
        def getPartition(key: Any): Int = (key.asInstanceOf[Long] % 8L).toInt
      }
      val rdd = keyed.repartitionAndSortWithinPartitions(byMod).map(_._2)
      val fitted = Trainer.fit(s,
        PipelineSpec(17, "ORR", Map("lambda" -> 1.0), Nil, "Synchronous",
          rounds = 1), rdd)
      val w = fitted.model.asInstanceOf[graft.ml.RlsModel].w
      import s.implicits._
      w.toSeq.zipWithIndex
        .map { case (wi, i) => (i.toLong, wi, fitted.model.n) }
        .toDF("dim", "w_raw", "n_fitted")
        .select(col("dim"), round(col("w_raw"), 6).as("weight"),
          col("n_fitted"))
        .orderBy("dim")
    }, Some(orrParityOracle)),
    // ------------------------------------------------------------------
    // BATCH LLOYD REFINEMENT, VALUE-LEVEL PARITY (the r6 verdict's "tighten
    // where a value-level cross-engine check is derivable"): unlike the
    // online/MacQueen pass (ml06, order-dependent by nature), full-batch
    // Lloyd sweeps are partitioning-independent — each iteration is one
    // exact aggregate — so the oracle can recompute the ENTIRE training
    // trajectory. Features quantize to micro-unit integers via
    // floor(x*1e6+0.5) (IEEE multiply/add/floor — bit-identical in both
    // engines), cluster sums are exact integer aggregates, each centroid is
    // one exact double division, and assignment argmins tie-break to the
    // smallest cluster id. Init = the 3 smallest vec_ids; 2 sweeps; output
    // carries raw doubles with NO rounding anywhere — full bit parity.
    // Scale shape: see graft.ml.LloydRefine (one scan + one k-row partial
    // agg per sweep, centroids as literals, collect is O(k*d) model state).
    Op("ml18_lloyd_refine_parity", (s, d) => {
      val (_, cent, n) = lloydFit(s, d)
      import s.implicits._
      (0 until 3).map(c => (c.toLong, n(c),
          cent(c)(0) / 1000000.0, cent(c)(1) / 1000000.0,
          cent(c)(2) / 1000000.0, cent(c)(3) / 1000000.0))
        .toDF("cluster", "n_points", "mu0", "mu1", "mu2", "mu3")
        .orderBy("cluster")
    }, Some(lloydOracle)),
    // ------------------------------------------------------------------
    // PA-II SEQUENTIAL TRAJECTORY, VALUE-LEVEL PARITY: the strongest gate
    // an ORDER-DEPENDENT online learner admits. The stream is pinned to ONE
    // sorted partition (the SingleLearner shape the reference forces for
    // global models, FlinkSpoke.scala:203-211), so the fit is a single
    // deterministic sequence of IEEE double ops — hinge, tau, axpy — with
    // no transcendentals; a DuckDB RECURSIVE CTE replays every update
    // bit-for-bit, INCLUDING the Trainer's test-ring diversion (every
    // cnt%10>=8 point parks in the 256-slot FIFO ring and trains only when
    // evicted by the 256-th later ring point — Pipeline.scala:166-178,
    // mirroring FlinkSpoke.scala:92-107). Output is raw unrounded doubles:
    // w, b, and the cumulative hinge loss. At sf0.01 the ring never fills
    // (100 ring points < 256) — the sf0.1 self-check drives the eviction
    // path too. This is a PARITY gate, not a scale shape: production PA
    // runs the partitioned protocols (ml01); one sorted partition is the
    // price of a replayable trajectory.
    Op("ml19_pa_value_parity",
      (s, d) => seqParityFit(s, d, 19, "PA", Map("C" -> 1.0)),
      Some(paParityOracle)),
    // ------------------------------------------------------------------
    // Same trajectory-replay gate for the SECOND order-dependent learner:
    // Pegasos SVM (ml04's invariant rollup stays the distributed gate;
    // this pins the sequential update rule itself). Unlike PA, Pegasos
    // mutates w on EVERY step (the (1 - eta*lambda) decay), so the replay
    // also proves the decay/learning-rate schedule — eta = 1/(lambda*t)
    // with t the ring-aware fit index — not just the hinge-active updates.
    // lambda = 0.0625 = 2^-4 keeps the constants float-exact.
    Op("ml20_svm_value_parity",
      (s, d) => seqParityFit(s, d, 20, "SVM", Map("lambda" -> 0.0625)),
      Some(svmParityOracle)),
    // ------------------------------------------------------------------
    // Third trajectory gate: epsilon-insensitive PA-II REGRESSION, on the
    // raw integer labels (0-9) as targets — exercises the two-sided
    // residual sign logic (s = -sign(e)) the classifiers never touch.
    // epsilon = 0.125 = 2^-3, C = 1.0: all constants float-exact.
    Op("ml21_regressorpa_value_parity",
      (s, d) => seqParityFit(s, d, 21, "RegressorPA",
        Map("C" -> 1.0, "epsilon" -> 0.125),
        target = col("label").cast(DoubleType)),
      Some(regParityOracle)),
    // ------------------------------------------------------------------
    // ONLINE K-MEANS (MacQueen) TRAJECTORY PARITY — the ml06 code path
    // itself, not the batch variant: the oracle replays the learner's
    // full stateful life, in order — 32 buffered fit calls, farthest-point
    // seeding over that buffer (3 unrolled argmax-of-min selections with
    // the strict-> first-index tie rule), the non-seed buffer replayed
    // through MacQueen assignment, then every later point charged
    // nearestDist to cumLoss and folded in with the 1/n count-weighted
    // centroid drift — all through the Trainer's ring diversion, all in
    // one DuckDB recursive CTE over 22 state columns. Raw unrounded
    // centroids and loss; k=4 over 4 dims (bufferTarget = 32).
    Op("ml22_kmeans_value_parity", (s, d) => {
      val fitted = Trainer.fit(s,
        PipelineSpec(22, "K-means", Map("k" -> 4.0), Nil, "Synchronous",
          rounds = 1), seqRdd(s, d, lit(0.0)))
      val m = fitted.model.asInstanceOf[graft.ml.KMeansState]
      import s.implicits._
      (0 until 4).map(c => (c.toLong, m.counts(c),
          m.centroids(c * 4), m.centroids(c * 4 + 1),
          m.centroids(c * 4 + 2), m.centroids(c * 4 + 3),
          fitted.model.n, fitted.model.cumLoss))
        .toDF("cluster", "n_assigned", "mu0", "mu1", "mu2", "mu3",
          "n_fitted", "cum_loss")
        .orderBy("cluster")
    }, Some(kmParityOracle)),
    // ------------------------------------------------------------------
    // MULTICLASS PA TRAJECTORY PARITY (7th learner; only NN and HT remain
    // invariant-gated — tanh is not cross-engine bit-stable and tree
    // growth is structural). The replay covers the max-score rival pick
    // (argmax over r != y, strict-> smallest-index ties), the two-sided
    // hinge l = 1 - s_y + s_r, the PA-II multiclass tau, and the paired
    // +/- row updates incl. biases — 3 classes x 5 weights = 15 state
    // columns, scores seeded at the BIAS term exactly as
    // MultiClassModel.score computes them.
    Op("ml23_multiclasspa_value_parity", (s, d) => {
      val fitted = Trainer.fit(s,
        PipelineSpec(23, "MultiClassPA", Map("C" -> 1.0, "classes" -> 3.0),
          Nil, "Synchronous", rounds = 1),
        seqRdd(s, d, (col("label") % 3).cast(DoubleType)))
      val m = fitted.model.asInstanceOf[graft.ml.MultiClassModel]
      import s.implicits._
      (for { r <- 0 until 3; j <- 0 to 4 } yield
        (r.toLong, j.toLong, m.w(r * 5 + j), fitted.model.n,
          fitted.model.cumLoss))
        .toDF("clazz", "dim", "weight", "n_fitted", "cum_loss")
        .orderBy("clazz", "dim")
    }, Some(mcParityOracle)),
    // ------------------------------------------------------------------
    // HOEFFDING TREE TRAJECTORY PARITY (8th and last learner; closes the
    // r7 verdict's "finish the set"). The VFDT trajectory decomposes into
    // (a) exact IEEE arithmetic — per-leaf Welford observers (add/sub/
    // mul/div), candidate thresholds lo + ((hi-lo)*t)/9 from mean±2sd
    // (sqrt is IEEE-exact), class counts, majority votes, 0/1 loss — all
    // bit-replayable cross-engine, and (b) the split DECISION, whose
    // info-gains run through exp/ln (Gaussian CDF + entropy) that the two
    // engines round differently in the last ulp. The gate therefore pins
    // a fixture where every decision margin dwarfs float noise (target =
    // sign of attr 0, so attr 0's gain is ~0.52 vs attr 1's ~0.01 and
    // vs eps = 0.153 — a 1-ulp exp/ln wobble cannot flip attr, threshold
    // slot, or the split-now verdict), then hash-compares ONLY class-(a)
    // values: the split attr/threshold, both children's raw Welford
    // state, counts, and cumulative loss. Sequence: vec_id < 155 on one
    // sorted partition through the Trainer ring (31 diverted points never
    // fill the 256 ring, so fitted = the 125 cnt%10<8 points); grace=64
    // puts the one split exactly at fitted step 64 and leaves each child
    // < 64 points — no second boundary, so the replay needs exactly one
    // decision. The oracle replays root then children as two recursive
    // CTEs and recomputes the decision inline; if its decision differed,
    // the children CTE goes empty and the gate fails loudly.
    Op("ml24_ht_value_parity", (s, d) => {
      val base = T.embeddings(s, d).filter(col("vec_id") < 155)
        .select(col("vec_id").as("id"),
          expr("transform(slice(embedding, 1, 2), x -> CAST(x AS DOUBLE))")
            .as("features"),
          when(element_at(col("embedding"), 1) > 0, 1.0).otherwise(0.0)
            .as("target"))
      val keyed = base.rdd
        .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
      val one = new org.apache.spark.Partitioner {
        def numPartitions: Int = 1
        def getPartition(key: Any): Int = 0
      }
      val rdd = keyed.repartitionAndSortWithinPartitions(one).map(_._2)
      val fitted = Trainer.fit(s,
        PipelineSpec(24, "HT", Map("delta" -> 0.05, "tau" -> 0.05,
          "grace" -> 64.0, "classes" -> 2.0), Nil, "Synchronous", rounds = 1),
        rdd)
      val root = fitted.model.asInstanceOf[graft.ml.HTModel].root
      require(!root.isLeaf && root.left.isLeaf && root.right.isLeaf,
        s"ml24 expects exactly one root split; tree has ${root.countNodes} nodes")
      import s.implicits._
      (for {
        (node, leaf) <- Seq((0, root.left), (1, root.right))
        attr <- 0 until 2; clazz <- 0 until 2
      } yield {
        val o = attr * 2 + clazz
        (node.toLong, attr.toLong, clazz.toLong,
          leaf.obsN(o), leaf.obsMean(o), leaf.obsM2(o),
          leaf.seen, leaf.classCounts(0), leaf.classCounts(1),
          root.splitAttr.toLong, root.splitVal,
          fitted.model.n, fitted.model.cumLoss)
      })
        .toDF("node", "attr", "clazz", "obs_n", "obs_mean", "obs_m2",
          "leaf_seen", "leaf_c0", "leaf_c1", "split_attr", "split_val",
          "n_fitted", "cum_loss")
        .orderBy("node", "attr", "clazz")
    }, Some(htParityOracle)),
    // ------------------------------------------------------------------
    // MLP TRAJECTORY PARITY (completes the value-level set begun in r7:
    // all 8 learners now trajectory-gated). Regression mode (classes=1)
    // keeps the update chain free of softmax/log — the lone
    // transcendental is tanh, whose engines differ by ~1 ulp per call.
    // Over a SHORT replay (32 steps, 2 hidden units, lr=0.05, bounded
    // targets so the map stays contractive rather than chaotic) that
    // noise accumulates to ~1e-12 absolute, which the same 6-decimal
    // quantization ml17 uses absorbs with 5 orders of headroom. What the
    // gate pins value-level: the seeded LCG init (s*6364136223846793005
    // + 1442695040888963407 wrapping int64, draw = (s>>>11)/2^53 - 0.5,
    // x0.2 — replayed in HUGEINT mod 2^64), the exact forward order
    // (bias-seeded ascending dot, tanh, linear output), squared-error
    // loss, and the full backprop update order (dH from PRE-update w2,
    // then w2 -= lr*dOut*h, then g = dH*(1-h^2) into w1). Sequence:
    // vec_id < 40 through the Trainer ring (8 diverted, no evictions) =
    // 32 fitted points; target = x0, so errors stay O(0.4).
    Op("ml25_nn_value_parity", (s, d) => {
      val base = T.embeddings(s, d).filter(col("vec_id") < 40)
        .select(col("vec_id").as("id"),
          expr("transform(slice(embedding, 1, 2), x -> CAST(x AS DOUBLE))")
            .as("features"),
          element_at(col("embedding"), 1).cast(DoubleType).as("target"))
      val keyed = base.rdd
        .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
      val one = new org.apache.spark.Partitioner {
        def numPartitions: Int = 1
        def getPartition(key: Any): Int = 0
      }
      val rdd = keyed.repartitionAndSortWithinPartitions(one).map(_._2)
      val fitted = Trainer.fit(s,
        PipelineSpec(25, "NN", Map("hidden" -> 2.0, "classes" -> 1.0,
          "seed" -> 42.0, "lr" -> 0.05), Nil, "Synchronous", rounds = 1),
        rdd)
      val m = fitted.model.asInstanceOf[graft.ml.MlpModel]
      import s.implicits._
      ((m.w1.toSeq.zipWithIndex.map { case (w, i) => (1L, i.toLong, w) } ++
          m.w2.toSeq.zipWithIndex.map { case (w, i) => (2L, i.toLong, w) })
        .map { case (l, i, w) =>
          (l, i, w, fitted.model.n, fitted.model.cumLoss)
        })
        .toDF("layer", "idx", "w_raw", "n_fitted", "loss_raw")
        .select(col("layer"), col("idx"), round(col("w_raw"), 6).as("weight"),
          col("n_fitted"), round(col("loss_raw"), 6).as("cum_loss"))
        .orderBy("layer", "idx")
    }, Some(nnParityOracle)),
    // ------------------------------------------------------------------
    // DISTRIBUTED-PROTOCOL TRAJECTORY PARITY — the r8 step beyond per-
    // learner gates (ml17-ml25 pin single sequences): replay an ENTIRE
    // 2-worker x 2-round Synchronous fit cross-engine, merges included.
    // Why this is bit-exact with no quantization anywhere: each worker's
    // round is a PA chain (ml19's replayable hinge/tau/axpy sequence) on
    // its own vec_id%2 partition; the count-weighted merge of exactly two
    // replicas is IEEE-commutative (out starts 0.0, so 0+fa*wa+fb*wb is
    // independent of which task finished first); and round 2 re-runs both
    // chains seeded from the merged global. The oracle is four chained
    // recursive CTEs with two one-row merge CTEs between them — the
    // Trainer's collect->reassemble->merge path (ModelWire chunking
    // included) must reproduce every double or the hash fails. Raw
    // unrounded weights; n/cumLoss accumulate across rounds exactly as
    // RoundDriver's totalFitted/totalCumLoss do.
    Op("ml26_sync_protocol_parity", (s, d) =>
      twoWorkerProtocolFit(s, d, 26, "Synchronous", Map.empty, rounds = 2),
      Some(syncProtocolOracle)),
    // ------------------------------------------------------------------
    // SSP STALE-READ TRAJECTORY PARITY (r8 verdict task 4) — ml26 pinned
    // the Synchronous protocol; ml27 replays SSP(1)'s bounded-stale READ
    // machinery itself: 2 workers x 3 rounds where worker 1 (pid 1, lag =
    // pid mod (s+1) = 1) is the FORCED-STALE worker — each round it seeds
    // from the global one round behind the frontier, including the round-2
    // edge where "one round behind" is the PRE-TRAINING None and the
    // worker re-seeds from zero. The oracle chains SIX PA trajectories
    // (2 workers x 3 rounds) whose seeds follow exactly that window:
    // round 1 (0,0), round 2 (g1, ZERO), round 3 (g2, g1) — any drift in
    // the Trainer's recent-globals deque, the lag clamp, or the admission
    // fold breaks the raw-double hash. Both replicas stay within s of the
    // frontier (seeding clamps lag <= s), so admission keeps both — the
    // admission CUT (dropping an over-stale replica) can only trigger on
    // out-of-band replicas and is suite-gated instead (PipelineSparkSuite).
    Op("ml27_ssp_protocol_parity", (s, d) =>
      twoWorkerProtocolFit(s, d, 27, "SSP", Map("staleness" -> 1.0),
        rounds = 3),
      Some(sspProtocolOracle)),
    // ------------------------------------------------------------------
    // EASGD ELASTIC-FOLD TRAJECTORY PARITY — the center absorbs a fraction
    // alpha of the replica average instead of being replaced by it (Zhang
    // et al., NIPS 2015): round 1 has no center, so g1 is the plain
    // count-weighted average; round 2's fold is w = (1-alpha)*g1 +
    // alpha*avg2 elementwise, replayed with the same literal expression
    // shape. alpha = 0.5 makes (1-alpha) binary-exact, so the gate is
    // bit-level on raw doubles — any reordering of the elastic fold or a
    // center/average swap breaks the hash.
    Op("ml28_easgd_protocol_parity", (s, d) =>
      twoWorkerProtocolFit(s, d, 28, "EASGD", Map("alpha" -> 0.5),
        rounds = 2),
      Some(easgdProtocolOracle)),
    // ------------------------------------------------------------------
    // GM DRIFT-GATE TRAJECTORY PARITY — the geometric-monitoring family is
    // the reference's specialty (communication-skipping PS, EDBT 2018
    // lineage): a replica whose l2 parameter drift from the previous
    // global stays inside the threshold NEVER SHIPS, and the hub folds
    // the shipped replicas against the RUNNING global (count-weighted by
    // its accumulated n). The oracle replays the whole decision: round 1
    // (no previous global) ships both and merges like Synchronous; round
    // 2 recomputes each worker's drift sqrt(sum((w-g1)^2)) with the exact
    // ascending-param summation order and applies the SAME > 1.0 cut, so
    // whichever of the four ship patterns the data produces at a given SF
    // (at sf0.01 exactly one worker skips: drifts 1.34 vs 0.93), the
    // merge — base-inclusion, count weights from running totals, the
    // totalFitted fold of a partial ship — must match bit-for-bit.
    // Asynchronous at 2 workers is trajectory-identical to ml27's SSP(1)
    // stale-read window and is pinned by the AsyncEqualsUnboundedSSP
    // suite gate instead; FGM is a DIFFERENT protocol (two-level counter
    // machinery, all-or-nothing sync) and gets its own gate — ml30.
    Op("ml29_gm_protocol_parity", (s, d) =>
      twoWorkerProtocolFit(s, d, 29, "GM", Map("threshold" -> 1.0),
        rounds = 2),
      Some(gmProtocolOracle)),
    // ------------------------------------------------------------------
    // FGM TWO-LEVEL TRAJECTORY PARITY — functional geometric monitoring
    // is the reference's flagship protocol (FGMWorker/FGMParameterServer,
    // MLNodeGenerator.scala:33,62; internals from the public Samoladas &
    // Garofalakis EDBT-2018 design, not the closed mlAPI jar). Unlike
    // GM's per-worker gate, the decision is a SUM over workers — the
    // safe function phi_i = ||w_i - g1|| - T, sound for the AVERAGE
    // model by norm convexity — so the oracle replays the full two-level
    // flow: counters floor(drift_i/theta) with the post-sync quantum
    // theta = T/2, the > k trigger, the exact-phi poll psi = (d0-T) +
    // (d1-T), and the all-or-nothing outcome — a confirmed violation
    // (psi >= 0) syncs BOTH replicas into the count-weighted average; a
    // false alarm or a quiet counter round advances the global by ZERO
    // (never GM's partial fold). T = 1.2 sits between the sf0.01 round-2
    // drifts (1.34, 0.93): counters fire (2 + 1 > 2) but psi = -0.13 —
    // the sum-slack masking case where GM(1.2) WOULD advance on worker 0
    // alone and FGM provably freezes; the CASE covers both outcomes so
    // the gate stays data-honest at every SF.
    Op("ml30_fgm_protocol_parity", (s, d) =>
      twoWorkerProtocolFit(s, d, 30, "FGM", Map("threshold" -> 1.2),
        rounds = fgmParityRounds),
      Some(fgmProtocolOracle)),
    // ------------------------------------------------------------------
    // FGM FALSE-ALARM / REBALANCE TRAJECTORY PARITY (r9 verdict task 3) —
    // ml30 replays the confirmed-violation path; this gate replays the
    // OTHER branch (Protocols.FGM.decide's psi < 0 arm): counters trigger
    // the exact-phi poll, the poll reveals slack (psi < 0), the global
    // FREEZES, and a new subround begins under the rebalanced quantum
    // theta' = -psi/2k. Batch training can never reach a post-false-alarm
    // sync (frozen global + static data = identical drifts forever), so
    // the vehicle is the STREAMING trainer — three deterministic
    // micro-batches of FRESH data through pid-routed worker partitions
    // (the reference's continuous ingestion, FlinkLearning.scala:70-87):
    // batch 0 bootstrap-syncs, batch 1 false-alarms at T = 1.2 (counters
    // 2+1 > 2, psi < 0) and rebalances, batch 2's larger drift then
    // confirms a violation UNDER theta' and syncs. The oracle replays all
    // of it in DuckDB — six PA chains, both decisions as data-honest
    // CASEs, and the quantum ARITHMETIC itself: dims 6 and 7 are the
    // post-decision quanta (theta' = -psi/4 after the false alarm, T/2
    // after the sync), hash-gated as raw doubles.
    Op("ml31_fgm_false_alarm_replay", (s, d) => fgmFalseAlarmFit(s, d),
      Some(fgmFalseAlarmOracle)),
    // ------------------------------------------------------------------
    // DRIFT-GATED RETRAINING PIPELINE — the model-refresh loop every
    // production scorer runs (detect drift, refit on the post-drift
    // window, keep the version ledger): ml16's exact decimal Page-CUSUM
    // finds each event type's drift point, rows split into pre/post
    // segments at the first alarm, and ONE aggregation pass per segment
    // builds the ridge normal equations A = lambda*I + sum(z z^T),
    // b = sum(y z) over autoregressive features z = (lag1, lag2, 1) —
    // exactly the engine's ORR information form (ml/Learners.scala
    // RlsEstimator; reference ORR.scala's A/b accumulators) — solved
    // IN-PLAN by a 3x3 Cramer expansion. Fully declarative: no driver
    // loop, no collect; detection, segmentation, featurization, and the
    // solve are one DataFrame. Exactness: values carry 2 decimals, so
    // every CUSUM sum and every normal-equation entry is exact DECIMAL
    // arithmetic cast to double ONCE; the Cramer expansion is the SAME
    // generated expression string in both engines (identical fp op
    // order); weights quantize at 6 dp. Scale shape: two window passes
    // over one (event_type, ts, event_id) sort order — a single sort
    // shuffle — then an O(segments)-row aggregate; the solve is O(1)
    // per segment in the projection. At 100 TB the only data-volume
    // stage is the windowed scan; model state never exceeds d^2 doubles
    // per segment.
    Op("p09_drift_retrain", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val dev = Num.dec2(col("value")) -
        lit(new java.math.BigDecimal("55.00")) // mu0 + delta, as ml16
      val lam = lit(new java.math.BigDecimal("500.00"))
      val base = T.events(s, d)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("rn", row_number().over(ord))
        .withColumn("l1", lag(col("value"), 1).over(ord))
        .withColumn("l2", lag(col("value"), 2).over(ord))
        .withColumn("cs", sum(dev).over(run))
        .withColumn("ph",
          col("cs") - least(min(col("cs")).over(run),
            lit(new java.math.BigDecimal("0.00"))))
        .withColumn("alarm_rn",
          min(when(col("ph") > lam, col("rn")))
            .over(Window.partitionBy(col("event_type"))))
      val sums = base
        .filter(col("l2").isNotNull)
        .select(col("event_type"),
          when(col("alarm_rn").isNotNull && col("rn") >= col("alarm_rn"), 1L)
            .otherwise(0L).as("segment"),
          col("alarm_rn"),
          Num.dec2(col("l1")).as("z1"), Num.dec2(col("l2")).as("z2"),
          Num.dec2(col("value")).as("y"))
        .groupBy("event_type", "segment")
        .agg(
          count(lit(1)).as("n_fit"),
          max(col("alarm_rn")).cast(LongType).as("drift_at"),
          sum(col("z1") * col("z1")).cast(DoubleType).as("s11"),
          sum(col("z1") * col("z2")).cast(DoubleType).as("s12"),
          sum(col("z1")).cast(DoubleType).as("s1"),
          sum(col("z2") * col("z2")).cast(DoubleType).as("s22"),
          sum(col("z2")).cast(DoubleType).as("s2"),
          sum(col("y") * col("z1")).cast(DoubleType).as("b0"),
          sum(col("y") * col("z2")).cast(DoubleType).as("b1"),
          sum(col("y")).cast(DoubleType).as("b2"))
      ridgeSolve3(sums)
        .select(col("event_type"), col("segment"), col("n_fit"),
          col("drift_at"), col("w_lag1"), col("w_lag2"), col("w_bias"))
        .orderBy("event_type", "segment")
    }, Some(driftRetrainOracle)),
    // ------------------------------------------------------------------
    // PARALLEL MINI-BATCH K-MEANS (r10 verdict #7) — the documented-delta
    // EXTENSION the 100 TB story needs: ml06 is faithful to the
    // reference's K-means→SingleLearner forcing (FlinkSpoke.scala:203-211)
    // and therefore sequential by contract (40x at 1000x points, SCALE.md
    // r10). ml32 runs the SAME MacQueen mechanics as W=8 Synchronous
    // replicas: one global farthest-first seed (the alignment that makes
    // the count-weighted centroid merge meaningful), then per round every
    // partition updates a replica of the shared centroids and the hub
    // folds them — per-round cost is one data pass + W model ships, so
    // wall-time scales with points/W, near-linear at 1000x. The gate is
    // CLUSTER-QUALITY PARITY, not trajectory identity (the semantic delta,
    // documented at MiniBatchKMeans per SURVEY §2.6): the parallel fit's
    // inertia must be within 1.5x of the sequential ml06-path fit's on
    // the same points (measured: 1.0203 / 1.0036 / 1.0006 at
    // sf0.001/0.01/0.1 — Ml32Probe; 1.5 leaves real margin without
    // admitting a broken merge, which misaligned ids push past 2x; cf.
    // the ml09 fixture-tuned-constant lesson). Wire accounting is exact and
    // oracle-derived: 8 replicas x 3 rounds ship whole models = 24
    // ships/blocks, 24*k*d*8 bytes.
    Op("ml32_minibatch_kmeans", (s, d) => {
      import s.implicits._
      val df = features(s, d)
      val k = 8
      // shared deterministic seed: OnlineKMeans's farthest-first rule
      // applied ONCE over the first 64 points by id (bounded O(64) driver
      // set), instead of once per partition — the alignment the
      // count-weighted merge needs (Trainer.fit enforces it)
      val seedPts = df.orderBy("id").limit(64)
        .select("features").collect().map(_.getSeq[Double](0).toArray)
      val seedModel = graft.ml.MiniBatchKMeans.sharedSeed(seedPts.toSeq, k)
      val fitted = Trainer.fit(s,
        PipelineSpec(32, "MiniBatchKMeans", Map("k" -> k.toDouble), Nil,
          "Synchronous"),
        toRdd(df), Some(seedModel))
      // sequential baseline: the ml06 path (SingleLearner-forced K-means)
      val seqFit = Trainer.fit(s,
        PipelineSpec(6, "K-means", Map("k" -> k.toDouble), Nil, "Asynchronous"),
        toRdd(df))
      val iPar = graft.ml.MiniBatchKMeans.inertia(s, fitted.model, toRdd(df))
      val iSeq = graft.ml.MiniBatchKMeans.inertia(s, seqFit.model, toRdd(df))
      val m = fitted.model.asInstanceOf[graft.ml.KMeansState]
      val n = df.count()
      val st = fitted.statistics
      val fittedOk = fitted.model.n >= math.max(1L, 3L * (n - 8L * 256L)) &&
        fitted.model.n <= 3L * n
      val cl = fitted.model.cumLoss
      val lossOk = !cl.isNaN && !cl.isInfinite && cl >= 0.0
      val scoreOk = !fitted.score.isNaN && fitted.score <= 0.0
      Seq((32, "MiniBatchKMeans", fitted.protocolName, k,
        n, st.modelsShipped, st.bytesShipped, st.blocks,
        m.filled == k && m.counts.forall(_ > 0L),
        iPar <= 1.5 * iSeq,
        fittedOk, lossOk, scoreOk))
        .toDF("pipeline_id", "learner", "protocol", "k", "n_points",
          "models_shipped", "bytes_shipped", "blocks", "clusters_nonempty",
          "inertia_parity", "fitted_in_bounds", "loss_valid", "score_valid")
    },
      Some("""SELECT CAST(32 AS INTEGER) AS pipeline_id,
        |  'MiniBatchKMeans' AS learner, 'Synchronous' AS protocol,
        |  CAST(8 AS INTEGER) AS k, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(24 AS BIGINT) AS models_shipped,
        |  CAST(24 * 8 * MAX(len(embedding)) * 8 AS BIGINT) AS bytes_shipped,
        |  -- blocks per ship = ceil(wire form / maxMsgParams): the KMeansState
        |  -- wire form is k*d+k doubles (centroids ++ counts), so any
        |  -- embedding dim >= 249 splits each of the 24 ships into 2+ blocks
        |  -- — derived, not hardcoded (r11 advisor note)
        |  CAST(24 * CEIL((8 * MAX(len(embedding)) + 8) / 2000.0) AS BIGINT)
        |    AS blocks, true AS clusters_nonempty,
        |  true AS inertia_parity, true AS fitted_in_bounds,
        |  true AS loss_valid, true AS score_valid
        |FROM embeddings""".stripMargin)),
    // ------------------------------------------------------------------
    // ml32 UNDER A SECOND PROTOCOL (r11 verdict #5): the parallel
    // mini-batch K-means extension is protocol-generic by construction —
    // the count-weighted merge doesn't care whether replicas arrive
    // synchronously or boundedly stale — so the same inertia-parity gate
    // must hold under SSP(staleness=2). Staleness mechanics are REAL
    // here, not vacuous: with 8 partitions and s=2 the Trainer seeds
    // partition pid from the global of round r-1-(pid mod 3), so rounds
    // 2-3 train two-thirds of the replicas on stale centroids (round 2's
    // lag-2 workers re-read the ORIGINAL shared seed), yet every replica
    // stays inside the bound (lag <= 2 = s), every update is admitted,
    // and the merged centroids must still land within the same 1.5x
    // inertia envelope of the sequential ml06-path fit. Ship accounting
    // is identical to ml32 (24 admitted ships, derived block count) —
    // the SSP skip-merge path stays cold by design, which IS the
    // documented-delta claim: bounded staleness changes the trajectory,
    // not the quality tier or the wire bill.
    Op("ml33_minibatch_kmeans_ssp", (s, d) => {
      import s.implicits._
      val df = features(s, d)
      val k = 8
      val seedPts = df.orderBy("id").limit(64)
        .select("features").collect().map(_.getSeq[Double](0).toArray)
      val seedModel = graft.ml.MiniBatchKMeans.sharedSeed(seedPts.toSeq, k)
      val fitted = Trainer.fit(s,
        PipelineSpec(33, "MiniBatchKMeans", Map("k" -> k.toDouble), Nil,
          "SSP", protocolHp = Map("staleness" -> 2.0)),
        toRdd(df), Some(seedModel))
      val seqFit = Trainer.fit(s,
        PipelineSpec(6, "K-means", Map("k" -> k.toDouble), Nil, "Asynchronous"),
        toRdd(df))
      val iPar = graft.ml.MiniBatchKMeans.inertia(s, fitted.model, toRdd(df))
      val iSeq = graft.ml.MiniBatchKMeans.inertia(s, seqFit.model, toRdd(df))
      val m = fitted.model.asInstanceOf[graft.ml.KMeansState]
      val n = df.count()
      val st = fitted.statistics
      val fittedOk = fitted.model.n >= math.max(1L, 3L * (n - 8L * 256L)) &&
        fitted.model.n <= 3L * n
      val cl = fitted.model.cumLoss
      val lossOk = !cl.isNaN && !cl.isInfinite && cl >= 0.0
      val scoreOk = !fitted.score.isNaN && fitted.score <= 0.0
      Seq((33, "MiniBatchKMeans", fitted.protocolName, k,
        n, st.modelsShipped, st.bytesShipped, st.blocks,
        m.filled == k && m.counts.forall(_ > 0L),
        iPar <= 1.5 * iSeq,
        fittedOk, lossOk, scoreOk))
        .toDF("pipeline_id", "learner", "protocol", "k", "n_points",
          "models_shipped", "bytes_shipped", "blocks", "clusters_nonempty",
          "inertia_parity", "fitted_in_bounds", "loss_valid", "score_valid")
    },
      Some("""SELECT CAST(33 AS INTEGER) AS pipeline_id,
        |  'MiniBatchKMeans' AS learner, 'SSP' AS protocol,
        |  CAST(8 AS INTEGER) AS k, CAST(COUNT(*) AS BIGINT) AS n_points,
        |  CAST(24 AS BIGINT) AS models_shipped,
        |  CAST(24 * 8 * MAX(len(embedding)) * 8 AS BIGINT) AS bytes_shipped,
        |  CAST(24 * CEIL((8 * MAX(len(embedding)) + 8) / 2000.0) AS BIGINT)
        |    AS blocks, true AS clusters_nonempty,
        |  true AS inertia_parity, true AS fitted_in_bounds,
        |  true AS loss_valid, true AS score_valid
        |FROM embeddings""".stripMargin)),
  )

  /** p09's in-plan ridge solve, shared with the streaming twin (st45): the
    * input carries the exact-decimal-cast-to-double normal-equation sums
    * (s11 s12 s1 s22 s2 b0 b1 b2) plus n_fit; lambda = 1 lands on the
    * diagonal here, and the Cramer expansions are the shared generated
    * strings, so batch and streaming weights are the SAME IEEE op
    * sequence.
    */
  private[graft] def ridgeSolve3(sums: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    sums
      .withColumn("a00", col("s11") + lit(1.0))
      .withColumn("a01", col("s12"))
      .withColumn("a02", col("s1"))
      .withColumn("a11", col("s22") + lit(1.0))
      .withColumn("a12", col("s2"))
      .withColumn("a22", col("n_fit").cast(DoubleType) + lit(1.0))
      .withColumn("det", expr(cramer3Det))
      .withColumn("w_lag1", round(expr(cramer3Num(0)) / col("det"), 6))
      .withColumn("w_lag2", round(expr(cramer3Num(1)) / col("det"), 6))
      .withColumn("w_bias", round(expr(cramer3Num(2)) / col("det"), 6))

  /** p09's oracle — shared verbatim with st45, whose incremental state fold
    * must land on the identical weights (streaming == batch).
    */
  private[graft] def driftRetrainOracle: String = s"""WITH e AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER w AS rn,
      |    LAG(value, 1) OVER w AS l1,
      |    LAG(value, 2) OVER w AS l2,
      |    SUM(CAST(value AS DECIMAL(18,2)) - CAST(55.00 AS DECIMAL(18,2)))
      |      OVER w AS cs
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |               ROWS UNBOUNDED PRECEDING)),
      |m AS (
      |  SELECT event_type, value, rn, l1, l2, cs,
      |    MIN(cs) OVER (PARTITION BY event_type ORDER BY rn
      |                  ROWS UNBOUNDED PRECEDING) AS mn
      |  FROM e),
      |-- CASE, not LEAST: DuckDB's LEAST demotes DECIMAL(38,2) to DOUBLE
      |p AS (
      |  SELECT event_type, value, rn, l1, l2,
      |    cs - (CASE WHEN mn < CAST(0.00 AS DECIMAL(38,2)) THEN mn
      |               ELSE CAST(0.00 AS DECIMAL(38,2)) END) AS ph
      |  FROM m),
      |al AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN ph > 500 THEN rn END) AS alarm_rn
      |  FROM p GROUP BY event_type),
      |seg AS (
      |  SELECT p.event_type,
      |    CASE WHEN al.alarm_rn IS NOT NULL AND p.rn >= al.alarm_rn
      |         THEN 1 ELSE 0 END AS segment,
      |    al.alarm_rn,
      |    CAST(p.l1 AS DECIMAL(18,2)) AS z1,
      |    CAST(p.l2 AS DECIMAL(18,2)) AS z2,
      |    CAST(p.value AS DECIMAL(18,2)) AS y
      |  FROM p JOIN al ON al.event_type = p.event_type
      |  WHERE p.l2 IS NOT NULL),
      |sums AS (
      |  SELECT event_type, segment,
      |    COUNT(*) AS n_fit,
      |    CAST(MAX(alarm_rn) AS BIGINT) AS drift_at,
      |    CAST(SUM(z1 * z1) AS DOUBLE) AS s11,
      |    CAST(SUM(z1 * z2) AS DOUBLE) AS s12,
      |    CAST(SUM(z1) AS DOUBLE) AS s1,
      |    CAST(SUM(z2 * z2) AS DOUBLE) AS s22,
      |    CAST(SUM(z2) AS DOUBLE) AS s2,
      |    CAST(SUM(y * z1) AS DOUBLE) AS b0,
      |    CAST(SUM(y * z2) AS DOUBLE) AS b1,
      |    CAST(SUM(y) AS DOUBLE) AS b2
      |  FROM seg GROUP BY event_type, segment),
      |aa AS (
      |  SELECT event_type, segment, n_fit, drift_at, b0, b1, b2,
      |    s11 + CAST(1.0 AS DOUBLE) AS a00, s12 AS a01, s1 AS a02,
      |    s22 + CAST(1.0 AS DOUBLE) AS a11, s2 AS a12,
      |    CAST(n_fit AS DOUBLE) + CAST(1.0 AS DOUBLE) AS a22
      |  FROM sums),
      |sol AS (
      |  SELECT event_type, segment, n_fit, drift_at,
      |    ($cramer3Det) AS det,
      |    (${cramer3Num(0)}) AS d0, (${cramer3Num(1)}) AS d1,
      |    (${cramer3Num(2)}) AS d2
      |  FROM aa)
      |SELECT event_type, CAST(segment AS BIGINT) AS segment,
      |  CAST(n_fit AS BIGINT) AS n_fit, drift_at,
      |  ROUND(d0 / det, 6) AS w_lag1, ROUND(d1 / det, 6) AS w_lag2,
      |  ROUND(d2 / det, 6) AS w_bias
      |FROM sol ORDER BY event_type, segment""".stripMargin

  /** Leibniz expansion of the symmetric 3x3 system's determinants as ONE
    * shared expression string per determinant — Spark `expr` and the DuckDB
    * oracle evaluate the identical token sequence, so the IEEE op order (and
    * therefore every low bit) matches across engines. `a(r,c)` folds to the
    * upper-triangle column name (the matrix is symmetric by construction).
    */
  private def det3Expansion(e: (Int, Int) => String): String = {
    def minor(c1: Int, c2: Int) =
      s"(${e(1, c1)} * ${e(2, c2)} - ${e(1, c2)} * ${e(2, c1)})"
    s"${e(0, 0)} * ${minor(1, 2)} - ${e(0, 1)} * ${minor(0, 2)} + ${e(0, 2)} * ${minor(0, 1)}"
  }
  private def symA(r: Int, c: Int): String =
    if (r <= c) s"a$r$c" else s"a$c$r"
  private[operators] def cramer3Det: String = det3Expansion(symA)
  private[operators] def cramer3Num(i: Int): String =
    det3Expansion((r, c) => if (c == i) s"b$r" else symA(r, c))

  // defs, not vals: referenced during the `ops` val's own initialization
  /** ml30 runs exactly this many rounds; its oracle's theta = T/2 binding
    * is only valid at 2 (see fgmProtocolOracle). */
  private def fgmParityRounds = 2

  /** ml31's batch slices: [0,160) bootstraps, [160,240) false-alarms at
    * T = 1.2, [240,480) syncs under the rebalanced quantum (measured at
    * sf0.01 and sf0.1; the oracle's CASE logic stays correct on any
    * branch, so other SFs remain data-honest). All inside vec_id < 480 —
    * present at every staged SF. */
  private def fgmBatchRanges = Seq((0L, 160L), (160L, 240L), (240L, 480L))
  private def fgmFalseAlarmThreshold = 1.2

  /** Engine side of ml31: stage the three batch slices as three
    * triggers, run the STREAMING trainer in routed mode — row (pid, seq)
    * lands on worker pid and trains in seq order, the reference's
    * partitionCustom assignment — and emit the raw final model plus the
    * post-decision quanta of batches 1 and 2. */
  private def fgmFalseAlarmFit(s: SparkSession, d: String): DataFrame = {
    val dir = graft.streaming.Streaming.stagedDir("fgm31", d)(
      graft.streaming.Streaming.stage(s, _, fgmBatchRanges.map { case (lo, hi) =>
        T.embeddings(s, d)
          .filter(col("vec_id") >= lo && col("vec_id") < hi)
          .select((col("vec_id") % 2).as("pid"), col("vec_id").as("seq"),
            expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
              .as("features"),
            when(col("label") % 2 === 1, 1.0).otherwise(-1.0).as("target"))
      }: _*))
    val schema = StructType(Seq(
      StructField("pid", LongType), StructField("seq", LongType),
      StructField("features", ArrayType(DoubleType)),
      StructField("target", DoubleType)))
    val fit = graft.streaming.StreamingTrainer.fitStream(s, dir, schema,
      PipelineSpec(31, "PA", Map("C" -> 1.0), Nil, "FGM",
        protocolHp = Map("threshold" -> fgmFalseAlarmThreshold)),
      partitionsPerBatch = 2, routed = true)
    val m = fit.model.asInstanceOf[graft.ml.LinearModel]
    val c = fit.curve.sortBy(_.batch)
    require(c.size == 3, s"fgm31 expected 3 micro-batches, got ${c.size}")
    import s.implicits._
    ((m.w.toSeq.zipWithIndex.map { case (wi, i) => (i.toLong, wi) } :+
        ((4L, m.b)) :+ ((5L, fit.model.cumLoss)) :+
        ((6L, c(1).theta)) :+ ((7L, c(2).theta)))
      .map { case (i, v) => (i, v, fit.model.n) })
      .toDF("dim", "weight", "n_fitted")
      .orderBy("dim")
  }

  /** ml31's DuckDB replay: six PA chains (3 batches x 2 pid-routed
    * workers, NO ring split — the streaming trainer fits every row), both
    * FGM decisions as data-honest CASEs over the replayed drift norms, and
    * the quantum arithmetic (theta' = -psi/2k on a false alarm, T/2 on a
    * sync, unchanged otherwise) emitted as dims 6-7. */
  private def fgmFalseAlarmOracle: String = {
    val thr = s"CAST($fgmFalseAlarmThreshold AS DOUBLE)"
    val half = s"($thr / CAST(2 AS DOUBLE))"
    def drift(r: String, g: String): String = {
      val terms = protoDims.map(j =>
        s"($r.w$j - $g.w$j) * ($r.w$j - $g.w$j)") :+
        s"($r.b - $g.b) * ($r.b - $g.b)"
      "sqrt(" +
        terms.foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + ")"
    }
    // one pts CTE per (batch, worker): every row, vec_id order
    def pts(name: String, lo: Long, hi: Long, part: Int): String =
      s"""$name AS (SELECT x0, x1, x2, x3, y,
         |  ROW_NUMBER() OVER (ORDER BY vec_id) AS i
         |  FROM raw31 WHERE part = $part AND vec_id >= $lo AND vec_id < $hi)"""
        .stripMargin
    // decision CTE: trig / psi / sync / post-decision theta, from a drift
    // CTE `d` (columns d0, d1) and the incoming quantum expression
    def dec(name: String, dCte: String, thetaIn: String): String =
      s"""$name AS (
         |  SELECT trig, psi, sync,
         |    CASE WHEN sync = 1 THEN $half
         |         WHEN trig = 1 THEN (CAST(0 AS DOUBLE) - psi)
         |           / CAST(4 AS DOUBLE)
         |         ELSE $thetaIn END AS theta
         |  FROM (
         |    SELECT trig, psi,
         |      CASE WHEN trig = 1 AND psi >= CAST(0 AS DOUBLE) THEN 1
         |           ELSE 0 END AS sync
         |    FROM (
         |      SELECT
         |        CASE WHEN (floor(d0 / ($thetaIn)) + floor(d1 / ($thetaIn)))
         |               > CAST(2 AS DOUBLE) THEN 1 ELSE 0 END AS trig,
         |        ((CAST(0 AS DOUBLE) + (d0 - $thr)) + (d1 - $thr)) AS psi
         |      FROM $dCte)))""".stripMargin
    // frozen-or-synced global: picks the merged average on sync, else the
    // previous global with ZEROED per-round counters
    def gPick(name: String, avg: String, prevG: String, decCte: String)
        : String =
      s"""$name AS (
         |  SELECT
         |    ${protoDims.map(j =>
              s"CASE WHEN t.sync = 1 THEN a.w$j ELSE g.w$j END AS w$j")
             .mkString(",\n|    ")},
         |    CASE WHEN t.sync = 1 THEN a.b ELSE g.b END AS b,
         |    CASE WHEN t.sync = 1 THEN a.cumv ELSE CAST(0 AS DOUBLE) END
         |      AS cumv,
         |    CASE WHEN t.sync = 1 THEN a.nv ELSE CAST(0 AS BIGINT) END AS nv
         |  FROM $avg a, $prevG g, $decCte t)""".stripMargin
    val Seq((l1, h1), (l2, h2), (l3, h3)) = fgmBatchRanges
    s"""WITH RECURSIVE raw31 AS (
       |  SELECT vec_id,
       |    ${protoDims.map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) AS x$j")
            .mkString(", ")},
       |    CASE WHEN label % 2 = 1 THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(-1 AS DOUBLE) END AS y,
       |    vec_id % 2 AS part
       |  FROM embeddings WHERE vec_id < $h3),
       |${pts("p10", l1, h1, 0)},
       |${pts("p11", l1, h1, 1)},
       |${pts("p20", l2, h2, 0)},
       |${pts("p21", l2, h2, 1)},
       |${pts("p30", l3, h3, 0)},
       |${pts("p31", l3, h3, 1)},
       |${paChain("c10", "p10", protoZeroSeed)},
       |${paChain("c11", "p11", protoZeroSeed)},
       |${protoFin("f10", "c10")},
       |${protoFin("f11", "c11")},
       |${protoMergeCte("g1", "f10", "f11")},
       |${paChain("c20", "p20", protoSeedFrom("g1"))},
       |${paChain("c21", "p21", protoSeedFrom("g1"))},
       |${protoFin("f20", "c20")},
       |${protoFin("f21", "c21")},
       |d2 AS (SELECT ${drift("a", "g")} AS d0, ${drift("b", "g")} AS d1
       |       FROM f20 a, f21 b, g1 g),
       |${dec("t2", "d2", half)},
       |${protoMergeCte("a2", "f20", "f21")},
       |${gPick("g2", "a2", "g1", "t2")},
       |${paChain("c30", "p30", protoSeedFrom("g2"))},
       |${paChain("c31", "p31", protoSeedFrom("g2"))},
       |${protoFin("f30", "c30")},
       |${protoFin("f31", "c31")},
       |d3 AS (SELECT ${drift("a", "g")} AS d0, ${drift("b", "g")} AS d1
       |       FROM f30 a, f31 b, g2 g),
       |${dec("t3", "d3", "(SELECT theta FROM t2)")},
       |${protoMergeCte("a3", "f30", "f31")},
       |${gPick("g3", "a3", "g2", "t3")}
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN g3.w0 WHEN 1 THEN g3.w1 WHEN 2 THEN g3.w2
       |       WHEN 3 THEN g3.w3 WHEN 4 THEN g3.b
       |       WHEN 5 THEN g1.cumv + g2.cumv + g3.cumv
       |       WHEN 6 THEN t2.theta
       |       ELSE t3.theta END AS weight,
       |  g1.nv + g2.nv + g3.nv AS n_fitted
       |FROM g1, g2, g3, t2, t3,
       |  (VALUES (0), (1), (2), (3), (4), (5), (6), (7)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** Shared engine side of ml26/ml27/ml28: a 2-partition (vec_id % 2)
    * deterministic PA fit through the full Trainer machinery (ring split,
    * ModelWire chunking, protocol aggregate), emitting the raw unrounded
    * final global — w per dim, b as dim 4, cumulative loss as dim 5.
    */
  private def twoWorkerProtocolFit(s: SparkSession, d: String, id: Int,
      protocol: String, protocolHp: Map[String, Double],
      rounds: Int): DataFrame = {
    val base = T.embeddings(s, d).filter(col("vec_id") < 320)
      .select(col("vec_id").as("id"),
        expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
          .as("features"),
        when(col("label") % 2 === 1, 1.0).otherwise(-1.0).as("target"))
    val keyed = base.rdd
      .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
    val byMod = new org.apache.spark.Partitioner {
      def numPartitions: Int = 2
      def getPartition(key: Any): Int = (key.asInstanceOf[Long] % 2L).toInt
    }
    val rdd = keyed.repartitionAndSortWithinPartitions(byMod).map(_._2)
    val fitted = Trainer.fit(s,
      PipelineSpec(id, "PA", Map("C" -> 1.0), Nil, protocol,
        protocolHp = protocolHp, rounds = rounds), rdd)
    val m = fitted.model.asInstanceOf[graft.ml.LinearModel]
    import s.implicits._
    ((m.w.toSeq.zipWithIndex.map { case (wi, i) => (i.toLong, wi) } :+
        ((4L, m.b)) :+ ((5L, fitted.model.cumLoss)))
      .map { case (i, v) => (i, v, fitted.model.n) })
      .toDF("dim", "weight", "n_fitted")
      .orderBy("dim")
  }

  /** Engine side of ml19/ml20: pin the stream to ONE vec_id-sorted
    * partition (SingleLearner shape), fit one round through Trainer (ring
    * diversion and all), and emit the raw unrounded model — w per dim,
    * b as dim 4, cumulative loss as dim 5. */
  /** One vec_id-sorted partition of (4-dim features, target) — the
    * replayable-sequence input shared by the ml19-ml22 trajectory gates. */
  private def seqRdd(s: SparkSession, d: String,
      target: org.apache.spark.sql.Column)
      : org.apache.spark.rdd.RDD[(Array[Double], Double)] = {
    val base = T.embeddings(s, d).select(col("vec_id").as("id"),
      expr("transform(slice(embedding, 1, 4), x -> CAST(x AS DOUBLE))")
        .as("features"),
      target.as("target"))
    val keyed = base.rdd
      .map(r => (r.getLong(0), (r.getSeq[Double](1).toArray, r.getDouble(2))))
    val one = new org.apache.spark.Partitioner {
      def numPartitions: Int = 1
      def getPartition(key: Any): Int = 0
    }
    keyed.repartitionAndSortWithinPartitions(one).map(_._2)
  }

  private def seqParityFit(s: SparkSession, d: String, id: Int,
      learner: String, hp: Map[String, Double],
      target: org.apache.spark.sql.Column =
        when(col("label") % 2 === 1, 1.0).otherwise(-1.0)): DataFrame = {
    val fitted = Trainer.fit(s,
      PipelineSpec(id, learner, hp, Nil, "Synchronous", rounds = 1),
      seqRdd(s, d, target))
    val m = fitted.model.asInstanceOf[graft.ml.LinearModel]
    import s.implicits._
    ((m.w.toSeq.zipWithIndex.map { case (wi, i) => (i.toLong, wi) } :+
        ((4L, m.b)) :+ ((5L, fitted.model.cumLoss)))
      .map { case (i, v) => (i, v, fitted.model.n) })
      .toDF("dim", "weight", "n_fitted")
      .orderBy("dim")
  }

  /** Recursive-CTE replay of ml19's PA-II trajectory: rebuild the exact
    * training SEQUENCE (direct points interleaved with 256-slot FIFO ring
    * evictions — ring point k trains at the push of ring point k+256), then
    * step the recursion through margin/hinge/tau/axpy with every double
    * expression shaped exactly as La.dot/PAClassifier.fit compute it
    * (ascending-dim left-associated sums seeded at 0.0). C = 1.0, so the
    * PA-II denominator constant 1/(2C) = 0.5 is float-exact.
    */
  /** Shared ml19/ml20 CTE prefix: rebuild the exact one-partition training
    * SEQUENCE — vec_id order, with the Trainer's 256-slot FIFO test-ring
    * diversion (ring point k trains at the push of ring point k+256) —
    * ending at `pts` = (x0..x3, y, i) with i the 1-based fit index. */
  private def ringSeqCtes(
      ySql: String = "CASE WHEN label % 2 = 1 THEN CAST(1 AS DOUBLE) " +
        "ELSE CAST(-1 AS DOUBLE) END"): String = {
    val dims = 0 until 4
    s"""raw AS (
       |  SELECT vec_id,
       |    ${dims.map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) AS x$j")
              .mkString(", ")},
       |    $ySql AS y,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cnt
       |  FROM embeddings),
       |rng AS (
       |  SELECT *, ROW_NUMBER() OVER (ORDER BY cnt) - 1 AS rk
       |  FROM raw WHERE cnt % 10 >= 8),
       |ev AS (
       |  SELECT a.x0, a.x1, a.x2, a.x3, a.y, b.cnt AS ttime
       |  FROM rng a JOIN rng b ON b.rk = a.rk + 256),
       |seq AS (
       |  SELECT x0, x1, x2, x3, y, cnt AS ttime FROM raw WHERE cnt % 10 < 8
       |  UNION ALL
       |  SELECT x0, x1, x2, x3, y, ttime FROM ev),
       |pts AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ttime) AS i FROM seq)"""
      .stripMargin
  }

  /** The engines' shared pre-update hinge loss: margin = dot(w,x)+b with
    * the ascending-dim left-associated sum seeded at 0.0. */
  private def hingeSql: String = {
    val margin = (0 until 4).map(j => s"s.w$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + " + s.b"
    s"""greatest(CAST(0 AS DOUBLE),
       |          CAST(1 AS DOUBLE) - p.y * ($margin))""".stripMargin
  }

  private def paParityOracle: String = {
    val dims = 0 until 4
    val nsq = dims.map(j => s"p.x$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    s"""WITH RECURSIVE ${ringSeqCtes()},
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS i,
       |    ${dims.map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ")},
       |    CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.i,
       |    ${dims.map(j =>
              s"CASE WHEN t.l > 0 THEN t.w$j + t.a * t.x$j ELSE t.w$j END")
             .mkString(",\n|    ")},
       |    CASE WHEN t.l > 0 THEN t.b + t.a ELSE t.b END,
       |    t.cum + t.l
       |  FROM (
       |    SELECT u.*,
       |      CASE WHEN u.l > 0
       |        THEN (u.l / (u.nsq + CAST(1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |          * u.y
       |        ELSE CAST(0 AS DOUBLE) END AS a
       |    FROM (
       |      SELECT s.i + 1 AS i,
       |        ${dims.map(j => s"s.w$j").mkString(", ")}, s.b, s.cum,
       |        ${dims.map(j => s"p.x$j").mkString(", ")}, p.y,
       |        $hingeSql AS l,
       |        $nsq AS nsq
       |      FROM step s JOIN pts p ON p.i = s.i + 1) u) t),
       |fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2
       |       WHEN 3 THEN w3 WHEN 4 THEN b ELSE cum END AS weight,
       |  fin.i AS n_fitted
       |FROM fin, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml21: epsilon-insensitive PA-II regression replay (PARegressor.fit):
    * e = margin - y, l = max(0, |e| - eps), hinge-active steps add
    * s*tau*x (w) and s*tau (b) with s = -sign-ish(e) (e > 0 -> -1 else
    * +1) and the same PA-II tau denominator. y = raw label. */
  private def regParityOracle: String = {
    val dims = 0 until 4
    val margin = dims.map(j => s"s.w$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + " + s.b"
    val nsq = dims.map(j => s"p.x$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    s"""WITH RECURSIVE ${ringSeqCtes("CAST(label AS DOUBLE)")},
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS i,
       |    ${dims.map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ")},
       |    CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.i,
       |    ${dims.map(j =>
              s"CASE WHEN t.l > 0 THEN t.w$j + t.a * t.x$j ELSE t.w$j END")
             .mkString(",\n|    ")},
       |    CASE WHEN t.l > 0 THEN t.b + t.a ELSE t.b END,
       |    t.cum + t.l
       |  FROM (
       |    SELECT u.*,
       |      CASE WHEN u.l > 0
       |        THEN (CASE WHEN u.e > 0 THEN CAST(-1 AS DOUBLE)
       |                   ELSE CAST(1 AS DOUBLE) END)
       |          * (u.l / (u.nsq + CAST(1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |        ELSE CAST(0 AS DOUBLE) END AS a
       |    FROM (
       |      SELECT s.i + 1 AS i,
       |        ${dims.map(j => s"s.w$j").mkString(", ")}, s.b, s.cum,
       |        ${dims.map(j => s"p.x$j").mkString(", ")}, p.y,
       |        ($margin) - p.y AS e,
       |        greatest(CAST(0 AS DOUBLE),
       |          abs(($margin) - p.y) - CAST(0.125 AS DOUBLE)) AS l,
       |        $nsq AS nsq
       |      FROM step s JOIN pts p ON p.i = s.i + 1) u) t),
       |fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2
       |       WHEN 3 THEN w3 WHEN 4 THEN b ELSE cum END AS weight,
       |  fin.i AS n_fitted
       |FROM fin, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml23: MultiClassPA replay (MultiClassPA.fit + MultiClassModel.score/
    * argmax step for step). Scores seed at the bias and fold dims
    * ascending; the rival is the max-score class != y with strict->
    * first-index ties; hinge-active steps apply the paired +/- updates. */
  private def mcParityOracle: String = {
    val dims = 0 until 4
    val ks = 0 until 3
    def sc(r: Int) =
      dims.foldLeft(s"s.w${r}_4")((e, j) => s"($e + s.w${r}_$j * p.x$j)")
    val nsq = dims.map(j => s"p.x$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    val state = ks.flatMap(r => (0 to 4).map(j => s"s.w${r}_$j"))
      .mkString(", ")
    val anchor = ks.flatMap(r => (0 to 4).map(j =>
      s"CAST(0 AS DOUBLE) AS w${r}_$j")).mkString(", ")
    val rv =
      "CASE u.y WHEN 0 THEN (CASE WHEN u.s1 >= u.s2 THEN 1 ELSE 2 END) " +
        "WHEN 1 THEN (CASE WHEN u.s0 >= u.s2 THEN 0 ELSE 2 END) " +
        "ELSE (CASE WHEN u.s0 >= u.s1 THEN 0 ELSE 1 END) END"
    val sy = "CASE u.y WHEN 0 THEN u.s0 WHEN 1 THEN u.s1 ELSE u.s2 END"
    val sr = "CASE w.rv WHEN 0 THEN w.s0 WHEN 1 THEN w.s1 ELSE w.s2 END"
    val upd = ks.flatMap(r => (0 to 4).map { j =>
      val xj = if (j < 4) s"t.x$j" else "CAST(1 AS DOUBLE)"
      s"CASE WHEN t.l > 0 AND t.y = $r THEN t.w${r}_$j + t.tau * $xj " +
        s"WHEN t.l > 0 AND t.rv = $r THEN t.w${r}_$j - t.tau * $xj " +
        s"ELSE t.w${r}_$j END"
    }).mkString(",\n|    ")
    val wSel = "CASE v.rj " + (for { r <- ks; j <- 0 to 4 }
      yield s"WHEN ${r * 5 + j} THEN w${r}_$j").mkString(" ") + " END"
    s"""WITH RECURSIVE ${ringSeqCtes("CAST(label % 3 AS INTEGER)")},
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS i, $anchor, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.i,
       |    $upd,
       |    t.cum + t.l
       |  FROM (
       |    SELECT v.*, CASE WHEN v.l > 0
       |        THEN v.l / (CAST(2 AS DOUBLE) * (v.nsq + CAST(1 AS DOUBLE))
       |          + CAST(0.5 AS DOUBLE))
       |        ELSE CAST(0 AS DOUBLE) END AS tau
       |    FROM (
       |      SELECT w.*, greatest(CAST(0 AS DOUBLE),
       |          (CAST(1 AS DOUBLE) - w.sy) + ($sr)) AS l
       |      FROM (
       |        SELECT u.*, $rv AS rv, $sy AS sy
       |        FROM (
       |          SELECT s.i + 1 AS i, $state, s.cum,
       |            p.x0, p.x1, p.x2, p.x3, p.y,
       |            ${sc(0)} AS s0, ${sc(1)} AS s1, ${sc(2)} AS s2,
       |            $nsq AS nsq
       |          FROM step s JOIN pts p ON p.i = s.i + 1) u) w) v) t),
       |fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
       |SELECT CAST(v.rj // 5 AS BIGINT) AS clazz,
       |  CAST(v.rj % 5 AS BIGINT) AS dim,
       |  $wSel AS weight,
       |  fin.i AS n_fitted, fin.cum AS cum_loss
       |FROM fin, (VALUES ${(0 until 15).map(i => s"($i)").mkString(", ")})
       |  v(rj)
       |ORDER BY clazz, dim""".stripMargin
  }

  /** ml22: MacQueen K-means replay (OnlineKMeans.fit + seedFromBuffer +
    * KMeansState.nearest, step for step). Sequence CTEs: the ring-diverted
    * fit order; `buf` = the first 32 fit calls; c1p..c4p = the farthest-
    * point seeds (argmax of min-distance-to-chosen, strict-> first-index
    * ties == ORDER BY dmin DESC, i); `evo` = the MacQueen assignment
    * sequence (non-seed buffer replays first, loss-free, then the live
    * tail charging nearestDist); `step` folds it with the 1/n drift.
    * Distances are (centroid - x) squared, ascending dims, 0.0-seeded —
    * KMeansState.nearest's exact shape. */
  private def kmParityOracle: String = {
    val dims = 0 until 4
    val cs = 0 until 4
    def dist(pa: String, pb: String) = dims.map(j =>
      s"($pa.x$j - $pb.x$j) * ($pa.x$j - $pb.x$j)").mkString(" + ")
    def cdist(c: Int) = dims.map(j =>
      s"(s.c${c}_$j - p.x$j) * (s.c${c}_$j - p.x$j)").mkString(" + ")
    val sel =
      s"""buf AS (SELECT * FROM pts WHERE i <= 32),
         |c1p AS (SELECT * FROM buf WHERE i = 1),
         |s2 AS (SELECT b.i, (${dist("a", "b")}) AS dmin
         |       FROM buf b, c1p a WHERE b.i <> a.i),
         |c2p AS (SELECT * FROM buf WHERE i =
         |  (SELECT i FROM s2 ORDER BY dmin DESC, i LIMIT 1)),
         |s3 AS (SELECT b.i, least((${dist("a", "b")}), (${dist("c", "b")}))
         |         AS dmin
         |       FROM buf b, c1p a, c2p c WHERE b.i NOT IN (a.i, c.i)),
         |c3p AS (SELECT * FROM buf WHERE i =
         |  (SELECT i FROM s3 ORDER BY dmin DESC, i LIMIT 1)),
         |s4 AS (SELECT b.i, least(least((${dist("a", "b")}),
         |         (${dist("c", "b")})), (${dist("d", "b")})) AS dmin
         |       FROM buf b, c1p a, c2p c, c3p d
         |       WHERE b.i NOT IN (a.i, c.i, d.i)),
         |c4p AS (SELECT * FROM buf WHERE i =
         |  (SELECT i FROM s4 ORDER BY dmin DESC, i LIMIT 1))""".stripMargin
    val evs =
      s"""evs AS (
         |  SELECT x0, x1, x2, x3, 0 AS addloss, 0 AS ph, i FROM buf
         |  WHERE i NOT IN ((SELECT i FROM c1p), (SELECT i FROM c2p),
         |                  (SELECT i FROM c3p), (SELECT i FROM c4p))
         |  UNION ALL
         |  SELECT x0, x1, x2, x3, 1, 1, i FROM pts WHERE i > 32),
         |evo AS (SELECT *, ROW_NUMBER() OVER (ORDER BY ph, i) AS j
         |        FROM evs)""".stripMargin
    val anchor = (cs.flatMap(c => dims.map(j =>
        s"(SELECT x$j FROM c${c + 1}p) AS c${c}_$j")) ++
      cs.map(c => s"CAST(1 AS BIGINT) AS n$c")).mkString(", ")
    val newCent = cs.flatMap(c => dims.map(j =>
      s"CASE WHEN t.bc = $c THEN t.c${c}_$j + t.f * (t.x$j - t.c${c}_$j) " +
        s"ELSE t.c${c}_$j END")).mkString(",\n|    ")
    val newN = cs.map(c =>
      s"t.n$c + CASE WHEN t.bc = $c THEN 1 ELSE 0 END").mkString(", ")
    val dcols = cs.map(c => s"(${cdist(c)}) AS d$c").mkString(",\n|          ")
    val stateCols = (cs.flatMap(c => dims.map(j => s"s.c${c}_$j")) ++
      cs.map(c => s"s.n$c")).mkString(", ")
    val lst = "least(u.d0, u.d1, u.d2, u.d3)"
    val fSel = cs.init.map(c =>
      s"WHEN $c THEN CAST(1 AS DOUBLE)/CAST(v.n$c + 1 AS DOUBLE)")
      .mkString(" ") + s" ELSE CAST(1 AS DOUBLE)/CAST(v.n${cs.last} + 1 AS DOUBLE)"
    val muSel = dims.map(j =>
      "CASE v.c " + cs.init.map(c => s"WHEN $c THEN c${c}_$j").mkString(" ") +
        s" ELSE c${cs.last}_$j END AS mu$j").mkString(",\n|  ")
    s"""WITH RECURSIVE ${ringSeqCtes("CAST(0 AS DOUBLE)")},
       |$sel,
       |$evs,
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS j, $anchor, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.j,
       |    $newCent,
       |    $newN,
       |    t.cum + CASE WHEN t.addloss = 1 THEN t.bd
       |                 ELSE CAST(0 AS DOUBLE) END
       |  FROM (
       |    SELECT v.*, CASE v.bc $fSel END AS f
       |    FROM (
       |      SELECT u.*, $lst AS bd,
       |        CASE WHEN u.d0 = $lst THEN 0
       |             WHEN u.d1 = $lst THEN 1
       |             WHEN u.d2 = $lst THEN 2 ELSE 3 END AS bc
       |      FROM (
       |        SELECT s.j + 1 AS j, $stateCols, s.cum,
       |          p.x0, p.x1, p.x2, p.x3, p.addloss,
       |          $dcols
       |        FROM step s JOIN evo p ON p.j = s.j + 1) u) v) t),
       |fin AS (SELECT * FROM step ORDER BY j DESC LIMIT 1)
       |SELECT CAST(v.c AS BIGINT) AS cluster,
       |  CASE v.c WHEN 0 THEN n0 WHEN 1 THEN n1 WHEN 2 THEN n2
       |       ELSE n3 END AS n_assigned,
       |  $muSel,
       |  (SELECT COUNT(*) FROM pts) AS n_fitted, fin.cum AS cum_loss
       |FROM fin, (VALUES (0), (1), (2), (3)) v(c) ORDER BY cluster""".stripMargin
  }

  /** ml20: Pegasos SVM trajectory replay (PegasosSVM.fit step for step):
    * t = the 1-based fit index, eta = 1/(lambda*t), every w component
    * decays by (1 - eta*lambda) each step, the hinge-active steps then add
    * eta*y*x (w) and eta*y (b — never decayed). lambda = 0.0625 (2^-4,
    * float-exact). Same ring-diverted sequence and output shape as ml19. */
  private def svmParityOracle: String = {
    val dims = 0 until 4
    val lam = "CAST(0.0625 AS DOUBLE)"
    s"""WITH RECURSIVE ${ringSeqCtes()},
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS i,
       |    ${dims.map(j => s"CAST(0 AS DOUBLE) AS w$j").mkString(", ")},
       |    CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.i,
       |    ${dims.map(j =>
              s"CASE WHEN t.l > 0 THEN t.w$j * t.f + t.a * t.x$j " +
                s"ELSE t.w$j * t.f END").mkString(",\n|    ")},
       |    CASE WHEN t.l > 0 THEN t.b + t.a ELSE t.b END,
       |    t.cum + t.l
       |  FROM (
       |    SELECT u.*,
       |      CAST(1 AS DOUBLE) - u.eta * $lam AS f,
       |      u.eta * u.y AS a
       |    FROM (
       |      SELECT s.i + 1 AS i,
       |        ${dims.map(j => s"s.w$j").mkString(", ")}, s.b, s.cum,
       |        ${dims.map(j => s"p.x$j").mkString(", ")}, p.y,
       |        $hingeSql AS l,
       |        CAST(1 AS DOUBLE) / ($lam * CAST(s.i + 1 AS DOUBLE)) AS eta
       |      FROM step s JOIN pts p ON p.i = s.i + 1) u) t),
       |fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN w0 WHEN 1 THEN w1 WHEN 2 THEN w2
       |       WHEN 3 THEN w3 WHEN 4 THEN b ELSE cum END AS weight,
       |  fin.i AS n_fitted
       |FROM fin, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** Unrolled 2-sweep / k=3 / d=4 Lloyd trajectory for ml18: quantize,
    * seed from the 3 smallest vec_ids, then assignment (ROW_NUMBER over
    * dist with cluster-id tiebreak ≡ the engine's first-match CASE) and
    * exact integer-sum update, twice. Mirrors LloydRefine step for step.
    */
  /** ml18/d24 shared engine-side fit: micro-unit 4-dim features, init from
    * the 3 smallest vec_ids, 2 Lloyd sweeps. Returns (feature frame with
    * x0..x3, final centroids in micro-units, final counts). */
  private[operators] def lloydFit(s: SparkSession, d: String, k: Int = 3)
      : (org.apache.spark.sql.DataFrame, Array[Array[Double]], Array[Long]) = {
    val pts = T.embeddings(s, d).select(
      col("vec_id") +: (0 until 4).map(j =>
        floor(element_at(col("embedding"), j + 1).cast(DoubleType) *
          lit(1000000.0) + lit(0.5)).cast(LongType).as(s"x$j")): _*)
    val init = pts.orderBy("vec_id").limit(k).collect()
      .map(r => (0 until 4).map(j => r.getLong(1 + j).toDouble).toArray)
    val (cent, n) = graft.ml.LloydRefine.refine(
      pts, (0 until 4).map(j => s"x$j"), init, iters = 2)
    (pts, cent, n)
  }

  private def lloydDims = 0 until 4

  /** The squared-distance expression between point alias `p` and centroid
    * alias `c` — left-associated ascending-dim, the engines' shared form. */
  private def lloydDistSql: String =
    lloydDims.map(j =>
      s"(CAST(p.x$j AS DOUBLE) - c.m$j) * (CAST(p.x$j AS DOUBLE) - c.m$j)")
      .mkString(" + ")

  /** CTE chain (everything after WITH) rebuilding the 2-sweep Lloyd
    * trajectory for k centroids; ends at `c2` = (cl, n, m0..m3). Shared by
    * ml18, d24 (k=3) and s14 (k=4). */
  private[operators] def lloydCtes(k: Int = 3): String = {
    val dims = lloydDims
    def xs = dims.map(j =>
      s"CAST(floor(CAST(embedding[${j + 1}] AS DOUBLE) * 1000000 + 0.5) " +
        s"AS BIGINT) AS x$j").mkString(", ")
    def assign(name: String, cents: String) =
      s"""$name AS (
         |  SELECT p.vec_id, ${dims.map(j => s"p.x$j").mkString(", ")}, c.cl,
         |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
         |      ORDER BY $lloydDistSql, c.cl) AS rk
         |  FROM pts p CROSS JOIN $cents c)"""
    def update(name: String, a: String) =
      s"""$name AS (
         |  SELECT cl, COUNT(*) AS n,
         |    ${dims.map(j => s"SUM(x$j) AS s$j").mkString(", ")}
         |  FROM $a WHERE rk = 1 GROUP BY cl)"""
    def centroid(name: String, prev: String, u: String) =
      s"""$name AS (
         |  SELECT $prev.cl, COALESCE(u.n, 0) AS n,
         |    ${dims.map(j =>
              s"COALESCE(CAST(u.s$j AS DOUBLE) / u.n, $prev.m$j) AS m$j")
             .mkString(", ")}
         |  FROM $prev LEFT JOIN $u u ON $prev.cl = u.cl)"""
    s"""pts AS (SELECT vec_id, $xs FROM embeddings),
       |init AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl,
       |    ${dims.map(j => s"CAST(x$j AS DOUBLE) AS m$j").mkString(", ")}
       |  FROM (SELECT * FROM pts ORDER BY vec_id LIMIT $k)),
       |${assign("a1", "init")},
       |${update("u1", "a1")},
       |${centroid("c1", "init", "u1")},
       |${assign("a2", "c1")},
       |${update("u2", "a2")},
       |${centroid("c2", "c1", "u2")}""".stripMargin
  }

  private def lloydOracle: String =
    s"""WITH ${lloydCtes()}
       |SELECT CAST(cl AS BIGINT) AS cluster, CAST(n AS BIGINT) AS n_points,
       |  ${lloydDims.map(j => s"m$j / 1000000 AS mu$j").mkString(", ")}
       |FROM c2 ORDER BY cluster""".stripMargin

  /** d24: assign every point to its final (post-2-sweep) centroid, rank
    * within cluster by distance DESC (vec_id tiebreak), keep the farthest
    * decile (rk*10 <= n — pure integer arithmetic, no float threshold). */
  private[operators] def d24OracleSql: String =
    s"""WITH ${lloydCtes()},
       |a3 AS (
       |  SELECT p.vec_id, c.cl, ($lloydDistSql) AS dist2,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY $lloydDistSql, c.cl) AS rk
       |  FROM pts p CROSS JOIN c2 c),
       |asg AS (SELECT vec_id, cl, dist2 FROM a3 WHERE rk = 1),
       |rnk AS (
       |  SELECT vec_id, cl, dist2,
       |    ROW_NUMBER() OVER (PARTITION BY cl
       |      ORDER BY dist2 DESC, vec_id) AS rk,
       |    COUNT(*) OVER (PARTITION BY cl) AS n_c
       |  FROM asg)
       |SELECT vec_id, CAST(cl AS BIGINT) AS cluster, dist2,
       |  CAST(rk AS BIGINT) AS rk
       |FROM rnk WHERE rk * 10 <= n_c ORDER BY vec_id""".stripMargin

  /** s14: the full IVF search replayed value-exactly — k=4 Lloyd coarse
    * quantizer (same trajectory CTEs), inverted-list assignment, nprobe=2
    * probe selection per query, exact top-3 rerank over the probed lists.
    * Every float is an exact double from integer micro-features. */
  private[operators] def s14OracleSql: String = {
    val dims = lloydDims
    val qdist = dims.map(j =>
      s"(CAST(q.qx$j AS DOUBLE) - c.m$j) * (CAST(q.qx$j AS DOUBLE) - c.m$j)")
      .mkString(" + ")
    val cdist = dims.map(j =>
      s"(CAST(cd.qx$j AS DOUBLE) - CAST(pp.x$j AS DOUBLE)) * " +
        s"(CAST(cd.qx$j AS DOUBLE) - CAST(pp.x$j AS DOUBLE))")
      .mkString(" + ")
    s"""WITH ${lloydCtes(4)},
       |a3 AS (
       |  SELECT p.vec_id, c.cl,
       |    ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |      ORDER BY $lloydDistSql, c.cl) AS rk
       |  FROM pts p CROSS JOIN c2 c),
       |asg AS (SELECT vec_id, cl FROM a3 WHERE rk = 1),
       |q AS (
       |  SELECT vec_id AS qid,
       |    ${dims.map(j => s"x$j AS qx$j").mkString(", ")}
       |  FROM pts WHERE vec_id % 100 = 0),
       |pr AS (
       |  SELECT q.qid, ${dims.map(j => s"q.qx$j").mkString(", ")}, c.cl,
       |    ROW_NUMBER() OVER (PARTITION BY q.qid
       |      ORDER BY $qdist, c.cl) AS prk
       |  FROM q CROSS JOIN c2 c),
       |cd AS (
       |  SELECT pr.qid, ${dims.map(j => s"pr.qx$j").mkString(", ")}, a.vec_id
       |  FROM pr JOIN asg a ON a.cl = pr.cl AND a.vec_id <> pr.qid
       |  WHERE pr.prk <= 2),
       |sc AS (
       |  SELECT cd.qid, cd.vec_id, ($cdist) AS dist2
       |  FROM cd JOIN pts pp ON pp.vec_id = cd.vec_id),
       |rnk AS (
       |  SELECT qid, vec_id, dist2,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY dist2, vec_id) AS rk
       |  FROM sc)
       |SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, dist2
       |FROM rnk WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  }

  /** Leibniz expansion of a 4x4 determinant as a SQL expression; `e(r, c)`
    * names the matrix entry. 24 terms, canonical permutation order.
    */
  private def det4Sql(e: (Int, Int) => String): String = {
    val perms = Seq(0, 1, 2, 3).permutations.toSeq
    def sgn(p: Seq[Int]): Int = {
      var inv = 0
      for (i <- 0 until 4; j <- i + 1 until 4) if (p(i) > p(j)) inv += 1
      if (inv % 2 == 0) 1 else -1
    }
    perms.map(p => (if (sgn(p) > 0) " + " else " - ") +
      (0 until 4).map(r => e(r, p(r))).mkString("(", " * ", ")")).mkString
  }

  /** Normal-equations oracle for ml17: rebuild A and b over exactly the
    * fitted set (train points + evicted ring slots), solve by Cramer.
    */
  private def orrParityOracle: String = {
    def x(i: Int) = s"CAST(embedding[${i + 1}] AS DOUBLE)"
    val z = (0 until 4).map(i => if (i < 3) x(i) else "1.0")
    val sums = (for (r <- 0 until 4; c <- 0 until 4) yield {
      val lam = if (r == c) "1.0 + " else ""
      s"$lam SUM(${z(r)} * ${z(c)}) AS a$r$c"
    }) ++ (0 until 4).map(r =>
      s"SUM(CAST(label AS DOUBLE) * ${z(r)}) AS b$r") :+ "COUNT(*) AS nf"
    val detA = det4Sql((r, c) => s"a$r$c")
    val dets = (0 until 4).map(i =>
      det4Sql((r, c) => if (c == i) s"b$r" else s"a$r$c"))
    s"""WITH pts AS (
       |  SELECT vec_id, embedding, label, vec_id % 8 AS part,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id % 8 ORDER BY vec_id) - 1 AS cnt
       |  FROM embeddings),
       |held AS (
       |  SELECT vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY part ORDER BY cnt DESC) AS rk
       |  FROM pts WHERE cnt % 10 >= 8),
       |fitted AS (
       |  SELECT * FROM pts WHERE vec_id NOT IN
       |    (SELECT vec_id FROM held WHERE rk <= 256)),
       |sums AS (SELECT ${sums.mkString(", ")} FROM fitted),
       |sol AS (SELECT ($detA) AS det,
       |  ${dets.zipWithIndex.map { case (e, i) => s"($e) AS d$i" }.mkString(", ")},
       |  nf FROM sums)
       |SELECT CAST(t.i AS BIGINT) AS dim,
       |  ROUND(CASE t.i WHEN 0 THEN d0/det WHEN 1 THEN d1/det
       |    WHEN 2 THEN d2/det ELSE d3/det END, 6) AS weight,
       |  CAST(nf AS BIGINT) AS n_fitted
       |FROM sol, (VALUES (0), (1), (2), (3)) t(i)
       |ORDER BY dim""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ml24 oracle: full VFDT trajectory replay. Two recursive CTEs (root to
  // the grace boundary, then both children over the remainder) carry the
  // Welford observer state verbatim; the single split decision is
  // recomputed inline between them from the boundary state. Generated
  // programmatically like g11's unrolled iterations — the expressions
  // mirror HoeffdingTree.scala's evaluation order op for op.

  /** A&S 7.1.26 erf-based normal CDF, exactly as La.normCdf evaluates it
    * (the lone transcendental is exp; decision margins absorb engine ulps).
    */
  private def normCdfSql(x: String, mu: String, sd: String): String = {
    val z = s"(($x - $mu) / ($sd * sqrt(2.0)))"
    val za = s"abs($z)"
    val tt = s"(1.0 / (1.0 + 0.3275911 * $za))"
    val poly = s"((((1.061405429 * $tt - 1.453152027) * $tt + 1.421413741)" +
      s" * $tt - 0.284496736) * $tt + 0.254829592)"
    val yv = s"(1.0 - $poly * $tt * exp(-($za * $za)))"
    val erf = s"((CASE WHEN $z < 0 THEN -1.0 ELSE 1.0 END) * $yv)"
    s"(CASE WHEN $sd <= 0.0 THEN (CASE WHEN $x >= $mu THEN 1.0 ELSE 0.0 END)" +
      s" ELSE 0.5 * (1.0 + $erf) END)"
  }

  /** Binary entropy accumulated class-ascending, exactly as
    * HoeffdingTreeLearner.entropy folds it (skip zero counts). */
  private def entSql(c0: String, c1: String): String = {
    val tot = s"($c0 + $c1)"
    s"(0.0 - (CASE WHEN $c0 > 0 THEN (($c0 / $tot) * ln($c0 / $tot)) / ln(2.0)" +
      s" ELSE 0.0 END) - (CASE WHEN $c1 > 0 THEN (($c1 / $tot) * ln($c1 / $tot))" +
      s" / ln(2.0) ELSE 0.0 END))"
  }

  /** One PA-II trajectory chain CTE (named `name`, consuming `pts`, seeded
    * by `seedSql` — six aliased columns w0..w3, b) — ml19's replay step,
    * parameterized so ml26 can chain four of them across rounds/workers.
    */
  private def paChain(name: String, pts: String, seedSql: String): String = {
    val dims = 0 until 4
    val margin = dims.map(j => s"s.w$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + " + s.b"
    val hinge =
      s"greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE) - p.y * ($margin))"
    val nsq = dims.map(j => s"p.x$j * p.x$j")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    s"""$name AS (
       |  SELECT CAST(0 AS BIGINT) AS i, $seedSql, CAST(0 AS DOUBLE) AS cum
       |  UNION ALL
       |  SELECT t.i,
       |    ${dims.map(j =>
            s"CASE WHEN t.l > 0 THEN t.w$j + t.a * t.x$j ELSE t.w$j END")
           .mkString(",\n|    ")},
       |    CASE WHEN t.l > 0 THEN t.b + t.a ELSE t.b END,
       |    t.cum + t.l
       |  FROM (
       |    SELECT u.*,
       |      CASE WHEN u.l > 0
       |        THEN (u.l / (u.nsq + CAST(1 AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |          * u.y
       |        ELSE CAST(0 AS DOUBLE) END AS a
       |    FROM (
       |      SELECT s.i + 1 AS i,
       |        ${dims.map(j => s"s.w$j").mkString(", ")}, s.b, s.cum,
       |        ${dims.map(j => s"p.x$j").mkString(", ")}, p.y,
       |        $hinge AS l,
       |        $nsq AS nsq
       |      FROM $name s JOIN $pts p ON p.i = s.i + 1) u) t)"""
      .stripMargin
  }

  // def, not val: referenced during the `ops` val's own initialization
  private def protoDims = 0 until 4

  /** Zero-model seed (round-1 workers, and SSP's None-window re-seed). */
  private def protoZeroSeed: String =
    (protoDims.map(j => s"CAST(0 AS DOUBLE) AS w$j") :+
      "CAST(0 AS DOUBLE) AS b").mkString(", ")

  /** Seed a chain from a previously-merged one-row global CTE. */
  private def protoSeedFrom(g: String): String =
    (protoDims.map(j => s"(SELECT w$j FROM $g) AS w$j") :+
      s"(SELECT b FROM $g) AS b").mkString(", ")

  /** Count-weighted 2-replica merge: fa = n_a/total, out = fa*wa + fb*wb
    * (out starts 0.0, so the sum order is commutative-safe bitwise) —
    * PAClassifier.merge's weightedAvg shape verbatim.
    */
  private def protoMergeCte(name: String, fa: String, fb: String): String = {
    val f0 = s"(CAST(a.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
    val f1 = s"(CAST(b.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
    s"""$name AS (
       |  SELECT
       |    ${protoDims.map(j => s"($f0 * a.w$j) + ($f1 * b.w$j) AS w$j")
            .mkString(",\n|    ")},
       |    (a.b * $f0) + (b.b * $f1) AS b,
       |    a.cum + b.cum AS cumv, a.i + b.i AS nv
       |  FROM $fa a, $fb b)""".stripMargin
  }

  /** The ml26/ml27/ml28 fixture: vec_id < 320 split by vec_id % 2 into two
    * worker point sequences (ring points cnt%10>=8 are diverted and — at
    * 32 < testCap per partition — never evicted, so training is the
    * cnt%10<8 subsequence in vec_id order).
    */
  private def twoWorkerPtsCtes: String = {
    s"""raw AS (
       |  SELECT vec_id,
       |    ${protoDims.map(j => s"CAST(embedding[${j + 1}] AS DOUBLE) AS x$j")
            .mkString(", ")},
       |    CASE WHEN label % 2 = 1 THEN CAST(1 AS DOUBLE)
       |         ELSE CAST(-1 AS DOUBLE) END AS y,
       |    vec_id % 2 AS part,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id % 2 ORDER BY vec_id) - 1
       |      AS cnt
       |  FROM embeddings WHERE vec_id < 320),
       |pts0 AS (SELECT x0, x1, x2, x3, y, ROW_NUMBER() OVER (ORDER BY cnt)
       |         AS i FROM raw WHERE part = 0 AND cnt % 10 < 8),
       |pts1 AS (SELECT x0, x1, x2, x3, y, ROW_NUMBER() OVER (ORDER BY cnt)
       |         AS i FROM raw WHERE part = 1 AND cnt % 10 < 8)"""
      .stripMargin
  }

  /** Final-row extractor for a chain CTE. */
  private def protoFin(name: String, chain: String): String =
    s"$name AS (SELECT * FROM $chain ORDER BY i DESC LIMIT 1)"

  private def syncProtocolOracle: String = {
    s"""WITH RECURSIVE $twoWorkerPtsCtes,
       |${paChain("c0r1", "pts0", protoZeroSeed)},
       |${paChain("c1r1", "pts1", protoZeroSeed)},
       |${protoFin("f01", "c0r1")},
       |${protoFin("f11", "c1r1")},
       |${protoMergeCte("g1", "f01", "f11")},
       |${paChain("c0r2", "pts0", protoSeedFrom("g1"))},
       |${paChain("c1r2", "pts1", protoSeedFrom("g1"))},
       |${protoFin("f02", "c0r2")},
       |${protoFin("f12", "c1r2")},
       |${protoMergeCte("g2", "f02", "f12")}
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN g2.w0 WHEN 1 THEN g2.w1 WHEN 2 THEN g2.w2
       |       WHEN 3 THEN g2.w3 WHEN 4 THEN g2.b
       |       ELSE g1.cumv + g2.cumv END AS weight,
       |  g1.nv + g2.nv AS n_fitted
       |FROM g1, g2, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml27: six chained PA trajectories following SSP(1)'s stale-read
    * window — worker 0 reads the frontier global each round, worker 1
    * (lag 1) reads one round behind: round 1 (zero, zero), round 2
    * (g1, ZERO — one round behind the frontier is the pre-training None),
    * round 3 (g2, g1). Both replicas are within the staleness bound, so
    * every merge admits both (the Trainer's seeding clamps lag <= s).
    */
  private def sspProtocolOracle: String = {
    s"""WITH RECURSIVE $twoWorkerPtsCtes,
       |${paChain("c0r1", "pts0", protoZeroSeed)},
       |${paChain("c1r1", "pts1", protoZeroSeed)},
       |${protoFin("f01", "c0r1")},
       |${protoFin("f11", "c1r1")},
       |${protoMergeCte("g1", "f01", "f11")},
       |${paChain("c0r2", "pts0", protoSeedFrom("g1"))},
       |${paChain("c1r2", "pts1", protoZeroSeed)},
       |${protoFin("f02", "c0r2")},
       |${protoFin("f12", "c1r2")},
       |${protoMergeCte("g2", "f02", "f12")},
       |${paChain("c0r3", "pts0", protoSeedFrom("g2"))},
       |${paChain("c1r3", "pts1", protoSeedFrom("g1"))},
       |${protoFin("f03", "c0r3")},
       |${protoFin("f13", "c1r3")},
       |${protoMergeCte("g3", "f03", "f13")}
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN g3.w0 WHEN 1 THEN g3.w1 WHEN 2 THEN g3.w2
       |       WHEN 3 THEN g3.w3 WHEN 4 THEN g3.b
       |       ELSE g1.cumv + g2.cumv + g3.cumv END AS weight,
       |  g1.nv + g2.nv + g3.nv AS n_fitted
       |FROM g1, g2, g3, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml28: EASGD(0.5) — round 1 merges to the plain count-weighted average
    * (no center yet); round 2 computes the replica average a2 and the
    * elastic fold w = (1-alpha)*g1 + alpha*a2, replayed with the literal
    * Scala expression shape ((1 - alpha) * w(i) + alpha * a.w(i)).
    */
  private def easgdProtocolOracle: String = {
    val oneMinusA = "(CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))"
    val a = "CAST(0.5 AS DOUBLE)"
    s"""WITH RECURSIVE $twoWorkerPtsCtes,
       |${paChain("c0r1", "pts0", protoZeroSeed)},
       |${paChain("c1r1", "pts1", protoZeroSeed)},
       |${protoFin("f01", "c0r1")},
       |${protoFin("f11", "c1r1")},
       |${protoMergeCte("g1", "f01", "f11")},
       |${paChain("c0r2", "pts0", protoSeedFrom("g1"))},
       |${paChain("c1r2", "pts1", protoSeedFrom("g1"))},
       |${protoFin("f02", "c0r2")},
       |${protoFin("f12", "c1r2")},
       |${protoMergeCte("a2", "f02", "f12")},
       |e2 AS (
       |  SELECT
       |    ${protoDims.map(j =>
            s"($oneMinusA * g1.w$j) + ($a * a2.w$j) AS w$j")
           .mkString(",\n|    ")},
       |    ($oneMinusA * g1.b) + ($a * a2.b) AS b,
       |    a2.cumv AS cumv, a2.nv AS nv
       |  FROM g1, a2)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN e2.w0 WHEN 1 THEN e2.w1 WHEN 2 THEN e2.w2
       |       WHEN 3 THEN e2.w3 WHEN 4 THEN e2.b
       |       ELSE g1.cumv + e2.cumv END AS weight,
       |  g1.nv + e2.nv AS n_fitted
       |FROM g1, e2, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml29: GM(1.0) drift-gated fold. Round 1 = Synchronous merge (no
    * previous global, everyone ships). Round 2 replays DriftGated end to
    * end: per-worker l2 drift over params (w0..w3 then b, ascending
    * left-associated sum seeded 0.0), the > threshold ship cut, and the
    * aggregate for every ship pattern — both ship → count-weighted replica
    * average; one ships → merge(base=[running global] ++ [replica]) with
    * weights (g.nv, replica.i); none ship → global advances by zero with
    * zeroed per-round counters. Totals accumulate exactly as RoundDriver's
    * totalFitted/totalCumLoss do (a partial ship folds the running totals
    * back in — merged.n = g.nv + replica.i).
    */
  private def gmProtocolOracle: String = {
    val thr = "CAST(1.0 AS DOUBLE)"
    def drift(r: String): String = {
      val terms = protoDims.map(j =>
        s"($r.w$j - g.w$j) * ($r.w$j - g.w$j)") :+
        s"($r.b - g.b) * ($r.b - g.b)"
      "sqrt(" +
        terms.foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + ")"
    }
    def bothW(j: String): String = {
      val f0 = "(CAST(a.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
      val f1 = "(CAST(b.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
      if (j == "b") s"((a.b * $f0) + (b.b * $f1))"
      else s"(($f0 * a.w$j) + ($f1 * b.w$j))"
    }
    def oneW(r: String, j: String): String = {
      val fg = s"(CAST(g.nv AS DOUBLE) / CAST(g.nv + $r.i AS DOUBLE))"
      val fr = s"(CAST($r.i AS DOUBLE) / CAST(g.nv + $r.i AS DOUBLE))"
      if (j == "b") s"((g.b * $fg) + ($r.b * $fr))"
      else s"(($fg * g.w$j) + ($fr * $r.w$j))"
    }
    def pick(j: String): String =
      s"""CASE WHEN s.s0 = 1 AND s.s1 = 1 THEN ${bothW(j)}
         |         WHEN s.s0 = 1 THEN ${oneW("a", j)}
         |         WHEN s.s1 = 1 THEN ${oneW("b", j)}
         |         ELSE g.${if (j == "b") "b" else s"w$j"} END"""
        .stripMargin
    s"""WITH RECURSIVE $twoWorkerPtsCtes,
       |${paChain("c0r1", "pts0", protoZeroSeed)},
       |${paChain("c1r1", "pts1", protoZeroSeed)},
       |${protoFin("f01", "c0r1")},
       |${protoFin("f11", "c1r1")},
       |${protoMergeCte("g1", "f01", "f11")},
       |${paChain("c0r2", "pts0", protoSeedFrom("g1"))},
       |${paChain("c1r2", "pts1", protoSeedFrom("g1"))},
       |${protoFin("f02", "c0r2")},
       |${protoFin("f12", "c1r2")},
       |sh AS (
       |  SELECT CASE WHEN ${drift("a")} > $thr THEN 1 ELSE 0 END AS s0,
       |         CASE WHEN ${drift("b")} > $thr THEN 1 ELSE 0 END AS s1
       |  FROM f02 a, f12 b, g1 g),
       |g2 AS (
       |  SELECT
       |    ${protoDims.map(j => s"${pick(j.toString)} AS w$j")
            .mkString(",\n|    ")},
       |    ${pick("b")} AS b,
       |    CASE WHEN s.s0 = 1 AND s.s1 = 1 THEN a.cum + b.cum
       |         WHEN s.s0 = 1 THEN g.cumv + a.cum
       |         WHEN s.s1 = 1 THEN g.cumv + b.cum
       |         ELSE CAST(0 AS DOUBLE) END AS cumv,
       |    CASE WHEN s.s0 = 1 AND s.s1 = 1 THEN a.i + b.i
       |         WHEN s.s0 = 1 THEN g.nv + a.i
       |         WHEN s.s1 = 1 THEN g.nv + b.i
       |         ELSE 0 END AS nv
       |  FROM f02 a, f12 b, g1 g, sh s)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN g2.w0 WHEN 1 THEN g2.w1 WHEN 2 THEN g2.w2
       |       WHEN 3 THEN g2.w3 WHEN 4 THEN g2.b
       |       ELSE g1.cumv + g2.cumv END AS weight,
       |  g1.nv + g2.nv AS n_fitted
       |FROM g1, g2, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  /** ml30: FGM(1.2) two-level fold. Round 1 = Synchronous merge (no
    * previous global, bootstrap sync). Round 2 replays the whole counter
    * machinery: per-worker drift (the ml29 summation order), counters
    * floor(drift/theta) with theta = T/2, the sum > k trigger, the exact
    * poll psi = (d0-T) + (d1-T) in collect order, and the all-or-nothing
    * outcome — sync = count-weighted average of BOTH replicas with fresh
    * per-round totals; anything else = g1 verbatim with ZEROED per-round
    * counters. A partial advance in the engine (the GM shape) breaks the
    * hash by construction.
    */
  private def fgmProtocolOracle: String = {
    val thr = "CAST(1.2 AS DOUBLE)"
    // COUPLING: theta = T/2 is the POST-SYNC quantum and is correct here
    // ONLY because ml30 runs exactly 2 rounds — round 1 is the bootstrap
    // sync, so no false-alarm rebalance (theta' = -psi/2k) can precede the
    // round-2 decision this oracle replays. Bumping `rounds` in
    // ml30_fgm_protocol_parity without deriving the per-round quantum here
    // would silently hash-diverge; ml31's oracle below derives the
    // rebalanced quantum explicitly for the 3-round false-alarm trajectory.
    require(fgmParityRounds == 2,
      "fgmProtocolOracle hard-codes theta = T/2; rederive it if rounds change")
    val theta = s"($thr / CAST(2 AS DOUBLE))"
    def drift(r: String): String = {
      val terms = protoDims.map(j =>
        s"($r.w$j - g.w$j) * ($r.w$j - g.w$j)") :+
        s"($r.b - g.b) * ($r.b - g.b)"
      "sqrt(" +
        terms.foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)") + ")"
    }
    def bothW(j: String): String = {
      val f0 = "(CAST(a.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
      val f1 = "(CAST(b.i AS DOUBLE) / CAST(a.i + b.i AS DOUBLE))"
      if (j == "b") s"((a.b * $f0) + (b.b * $f1))"
      else s"(($f0 * a.w$j) + ($f1 * b.w$j))"
    }
    def pick(j: String): String =
      s"""CASE WHEN s.sync = 1 THEN ${bothW(j)}
         |         ELSE g.${if (j == "b") "b" else s"w$j"} END""".stripMargin
    s"""WITH RECURSIVE $twoWorkerPtsCtes,
       |${paChain("c0r1", "pts0", protoZeroSeed)},
       |${paChain("c1r1", "pts1", protoZeroSeed)},
       |${protoFin("f01", "c0r1")},
       |${protoFin("f11", "c1r1")},
       |${protoMergeCte("g1", "f01", "f11")},
       |${paChain("c0r2", "pts0", protoSeedFrom("g1"))},
       |${paChain("c1r2", "pts1", protoSeedFrom("g1"))},
       |${protoFin("f02", "c0r2")},
       |${protoFin("f12", "c1r2")},
       |ph AS (
       |  SELECT ${drift("a")} AS d0, ${drift("b")} AS d1
       |  FROM f02 a, f12 b, g1 g),
       |sh AS (
       |  SELECT CASE WHEN (floor(d0 / $theta) + floor(d1 / $theta))
       |                   > CAST(2 AS DOUBLE)
       |              AND ((d0 - $thr) + (d1 - $thr)) >= CAST(0 AS DOUBLE)
       |         THEN 1 ELSE 0 END AS sync
       |  FROM ph),
       |g2 AS (
       |  SELECT
       |    ${protoDims.map(j => s"${pick(j.toString)} AS w$j")
            .mkString(",\n|    ")},
       |    ${pick("b")} AS b,
       |    CASE WHEN s.sync = 1 THEN a.cum + b.cum
       |         ELSE CAST(0 AS DOUBLE) END AS cumv,
       |    CASE WHEN s.sync = 1 THEN a.i + b.i ELSE 0 END AS nv
       |  FROM f02 a, f12 b, g1 g, sh s)
       |SELECT CAST(v.dim AS BIGINT) AS dim,
       |  CASE v.dim WHEN 0 THEN g2.w0 WHEN 1 THEN g2.w1 WHEN 2 THEN g2.w2
       |       WHEN 3 THEN g2.w3 WHEN 4 THEN g2.b
       |       ELSE g1.cumv + g2.cumv END AS weight,
       |  g1.nv + g2.nv AS n_fitted
       |FROM g1, g2, (VALUES (0), (1), (2), (3), (4), (5)) v(dim)
       |ORDER BY dim""".stripMargin
  }

  private def htParityOracle: String = {
    // per-(attr, class) Welford triple: d = x - mean; mean += d/n'; m2 +=
    // d * (x - mean'). `guard` is the update condition (class match, and
    // for children, the routing side).
    def welford(pfx: String, a: Int, c: Int, guard: String): Seq[String] = {
      val n = s"u.${pfx}n$a$c"; val mu = s"u.${pfx}mu$a$c"
      val m2 = s"u.${pfx}m2$a$c"; val x = s"u.x$a"
      val newMu = s"($mu + ($x - $mu) / CAST($n + 1 AS DOUBLE))"
      Seq(
        s"$n + (CASE WHEN $guard THEN 1 ELSE 0 END)",
        s"CASE WHEN $guard THEN $newMu ELSE $mu END",
        s"CASE WHEN $guard THEN $m2 + ($x - $mu) * ($x - $newMu) ELSE $m2 END")
    }
    def zeroTriples(pfx: String): String =
      (for (a <- 0 until 2; c <- 0 until 2) yield
        s"CAST(0 AS BIGINT) AS ${pfx}n$a$c, CAST(0 AS DOUBLE) AS ${pfx}mu$a$c," +
          s" CAST(0 AS DOUBLE) AS ${pfx}m2$a$c").mkString(", ")
    // 0/1 loss with the PRE-update majority (ties -> class 0) and seen
    def lossTerm(seen: String, c0: String, c1: String): String =
      s"CASE WHEN $seen > 0 AND (CASE WHEN $c1 > $c0 THEN 1 ELSE 0 END) = u.y" +
        s" THEN 0.0 ELSE 1.0 END"

    val rootUpd = (for (a <- 0 until 2; c <- 0 until 2)
      yield welford("", a, c, s"u.y = $c")).flatten.mkString(",\n|    ")
    def kidUpd(p: String, side: String): String =
      (for (a <- 0 until 2; c <- 0 until 2)
        yield welford(p, a, c, s"$side AND u.y = $c"))
        .flatten.mkString(",\n|    ")
    val lUpd = kidUpd("l", "u.goleft")
    val rUpd = kidUpd("r", "NOT u.goleft")
    val base = entSql("CAST(f.c0 AS DOUBLE)", "CAST(f.c1 AS DOUBLE)")
    val gainNl = "(g.l0 + g.l1)"; val gainNr = "(g.r0 + g.r1)"
    val gainTot = s"($gainNl + $gainNr)"
    val gainExpr = s"g.base - ($gainNl / $gainTot) * ${entSql("g.l0", "g.l1")}" +
      s" - ($gainNr / $gainTot) * ${entSql("g.r0", "g.r1")}"
    val outRows = (for ((node, p) <- Seq(0 -> "l", 1 -> "r");
        a <- 0 until 2; c <- 0 until 2) yield
      s"""SELECT CAST($node AS BIGINT) AS node, CAST($a AS BIGINT) AS attr,
         |  CAST($c AS BIGINT) AS clazz, ${p}n$a$c AS obs_n,
         |  ${p}mu$a$c AS obs_mean, ${p}m2$a$c AS obs_m2,
         |  ${p}seen AS leaf_seen, ${p}c0 AS leaf_c0, ${p}c1 AS leaf_c1,
         |  CAST(a1 AS BIGINT) AS split_attr, thr1 AS split_val,
         |  CAST(i AS BIGINT) AS n_fitted, loss AS cum_loss FROM kfin"""
        .stripMargin).mkString("\n|UNION ALL\n|")

    s"""WITH RECURSIVE raw AS (
       |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x0,
       |    CAST(embedding[2] AS DOUBLE) AS x1,
       |    CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS y,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cnt
       |  FROM embeddings WHERE vec_id < 155),
       |pts AS (SELECT x0, x1, y, ROW_NUMBER() OVER (ORDER BY cnt) AS i
       |        FROM raw WHERE cnt % 10 < 8),
       |root AS (
       |  SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS seen,
       |    CAST(0 AS BIGINT) AS c0, CAST(0 AS BIGINT) AS c1,
       |    CAST(0 AS DOUBLE) AS loss, ${zeroTriples("")}
       |  UNION ALL
       |  SELECT u.i + 1, u.seen + 1,
       |    u.c0 + (CASE WHEN u.y = 0 THEN 1 ELSE 0 END),
       |    u.c1 + (CASE WHEN u.y = 1 THEN 1 ELSE 0 END),
       |    u.loss + ${lossTerm("u.seen", "u.c0", "u.c1")},
       |    $rootUpd
       |  FROM (SELECT s.*, p.x0, p.x1, p.y
       |        FROM root s JOIN pts p ON p.i = s.i + 1 WHERE s.i < 64) u),
       |rootf AS (SELECT * FROM root WHERE i = 64),
       |astats AS (
       |  SELECT 0 AS a, n00 AS na, mu00 AS mua, m200 AS m2a,
       |         n01 AS nb, mu01 AS mub, m201 AS m2b FROM rootf
       |  UNION ALL
       |  SELECT 1, n10, mu10, m210, n11, mu11, m211 FROM rootf),
       |ab AS (
       |  SELECT a, na, mua, nb, mub,
       |    CASE WHEN na > 1 THEN sqrt(m2a / CAST(na - 1 AS DOUBLE))
       |         ELSE 0.0 END AS sda,
       |    CASE WHEN nb > 1 THEN sqrt(m2b / CAST(nb - 1 AS DOUBLE))
       |         ELSE 0.0 END AS sdb
       |  FROM astats),
       |ab2 AS (
       |  SELECT *, least(mua - 2.0 * sda, mub - 2.0 * sdb) AS lo,
       |    greatest(mua + 2.0 * sda, mub + 2.0 * sdb) AS hi
       |  FROM ab),
       |cand AS (
       |  SELECT b.*, t.t,
       |    b.lo + ((b.hi - b.lo) * CAST(t.t AS DOUBLE)) / 9.0 AS thr
       |  FROM ab2 b CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS t) t),
       |scored AS (
       |  SELECT a, t, thr,
       |    CAST(na AS DOUBLE) * ${normCdfSql("thr", "mua", "sda")} AS pl0,
       |    CAST(nb AS DOUBLE) * ${normCdfSql("thr", "mub", "sdb")} AS pl1,
       |    CAST(na AS DOUBLE) * (1.0 - ${normCdfSql("thr", "mua", "sda")}) AS pr0,
       |    CAST(nb AS DOUBLE) * (1.0 - ${normCdfSql("thr", "mub", "sdb")}) AS pr1
       |  FROM cand),
       |gains AS (
       |  SELECT g.a, g.t, g.thr,
       |    CASE WHEN $gainNl > 0 AND $gainNr > 0 THEN $gainExpr
       |         ELSE -1.0 END AS gain
       |  FROM (SELECT s.a, s.t, s.thr, s.pl0 AS l0, s.pl1 AS l1,
       |          s.pr0 AS r0, s.pr1 AS r1, $base AS base
       |        FROM scored s, rootf f) g),
       |attr_best AS (
       |  SELECT a,
       |    CASE WHEN gain > 0 THEN gain ELSE 0.0 END AS g,
       |    CASE WHEN gain > 0 THEN thr ELSE 0.0 END AS thr
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a
       |          ORDER BY gain DESC, t ASC) AS rk FROM gains)
       |  WHERE rk = 1),
       |ranked AS (SELECT *, ROW_NUMBER() OVER (ORDER BY g DESC, a ASC) AS rk
       |           FROM attr_best),
       |decv AS (
       |  SELECT r1.a AS a1, r1.thr AS thr1
       |  FROM (SELECT * FROM ranked WHERE rk = 1) r1,
       |       (SELECT * FROM ranked WHERE rk = 2) r2, rootf f
       |  WHERE r1.g > 0
       |    AND (r1.g - r2.g >
       |           sqrt(ln(1.0 / 0.05) / (2.0 * CAST(f.seen AS DOUBLE)))
       |         OR sqrt(ln(1.0 / 0.05) / (2.0 * CAST(f.seen AS DOUBLE)))
       |            < 0.05)),
       |kids AS (
       |  SELECT f.i, CAST(d.a1 AS BIGINT) AS a1, d.thr1 AS thr1, f.loss,
       |    CAST(0 AS BIGINT) AS lseen, CAST(0 AS BIGINT) AS lc0,
       |    CAST(0 AS BIGINT) AS lc1, ${zeroTriples("l")},
       |    CAST(0 AS BIGINT) AS rseen, CAST(0 AS BIGINT) AS rc0,
       |    CAST(0 AS BIGINT) AS rc1, ${zeroTriples("r")}
       |  FROM decv d, rootf f
       |  UNION ALL
       |  SELECT u.i + 1, u.a1, u.thr1,
       |    u.loss + (CASE WHEN u.goleft
       |      THEN ${lossTerm("u.lseen", "u.lc0", "u.lc1")}
       |      ELSE ${lossTerm("u.rseen", "u.rc0", "u.rc1")} END),
       |    u.lseen + (CASE WHEN u.goleft THEN 1 ELSE 0 END),
       |    u.lc0 + (CASE WHEN u.goleft AND u.y = 0 THEN 1 ELSE 0 END),
       |    u.lc1 + (CASE WHEN u.goleft AND u.y = 1 THEN 1 ELSE 0 END),
       |    $lUpd,
       |    u.rseen + (CASE WHEN NOT u.goleft THEN 1 ELSE 0 END),
       |    u.rc0 + (CASE WHEN NOT u.goleft AND u.y = 0 THEN 1 ELSE 0 END),
       |    u.rc1 + (CASE WHEN NOT u.goleft AND u.y = 1 THEN 1 ELSE 0 END),
       |    $rUpd
       |  FROM (SELECT s.*, p.x0, p.x1, p.y,
       |          (CASE WHEN s.a1 = 0 THEN p.x0 ELSE p.x1 END) <= s.thr1
       |            AS goleft
       |        FROM kids s JOIN pts p ON p.i = s.i + 1) u),
       |kfin AS (SELECT * FROM kids ORDER BY i DESC LIMIT 1)
       |$outRows
       |ORDER BY node, attr, clazz""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ml25 oracle: MLP trajectory replay. CTE 1 replays the 9 seeded LCG
  // draws in HUGEINT mod 2^64 (the unsigned representation makes s>>>11 a
  // plain integer division); CTE 2 steps the 9-weight state through the
  // exact forward/backprop order of MLP.fit via lateral column aliases.
  private def nnParityOracle: String = {
    val two64 = "CAST('18446744073709551616' AS HUGEINT)"
    // DuckDB has no tanh(); the overflow-stable identity 1 - 2/(e^2x + 1)
    // (saturates to +-1 at both infinities, no inf/inf) differs from
    // Math.tanh by a few ulps per call — inside the 6-decimal quantization
    // budget by ~5 orders of magnitude over the 32-step replay.
    def tanhSql(x: String): String =
      s"(1.0 - 2.0 / (exp(2.0 * $x) + 1.0))"
    // weight init slots in PRNG draw order: w1[0..5] then w2[0..2]
    def rndv(k: Int): String = s"(SELECT v FROM rnd WHERE k = $k)"
    val initW = Seq("w100" -> 1, "w101" -> 2, "b10" -> 3, "w110" -> 4,
      "w111" -> 5, "b11" -> 6, "v0" -> 7, "v1" -> 8, "b2" -> 9)
      .map { case (n, k) => s"${rndv(k)} AS $n" }.mkString(", ")
    s"""WITH RECURSIVE raw AS (
       |  SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x0,
       |    CAST(embedding[2] AS DOUBLE) AS x1,
       |    CAST(embedding[1] AS DOUBLE) AS y,
       |    ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cnt
       |  FROM embeddings WHERE vec_id < 40),
       |pts AS (SELECT x0, x1, y, ROW_NUMBER() OVER (ORDER BY cnt) AS i
       |        FROM raw WHERE cnt % 10 < 8),
       |rnd AS (
       |  SELECT 0 AS k, CAST(42 AS HUGEINT) AS u, CAST(0 AS DOUBLE) AS v
       |  UNION ALL
       |  SELECT k + 1, nu,
       |    (CAST(nu // 2048 AS DOUBLE) / 9007199254740992.0 - 0.5) * 0.2
       |  FROM (SELECT k, (u * CAST(6364136223846793005 AS HUGEINT)
       |          + CAST(1442695040888963407 AS HUGEINT)) % $two64 AS nu
       |        FROM rnd WHERE k < 9)),
       |step AS (
       |  SELECT CAST(0 AS BIGINT) AS i, $initW, CAST(0 AS DOUBLE) AS loss
       |  UNION ALL
       |  SELECT u.i + 1,
       |    u.w100 - (0.05 * u.g0) * u.x0,
       |    u.w101 - (0.05 * u.g0) * u.x1,
       |    u.b10 - 0.05 * u.g0,
       |    u.w110 - (0.05 * u.g1) * u.x0,
       |    u.w111 - (0.05 * u.g1) * u.x1,
       |    u.b11 - 0.05 * u.g1,
       |    u.v0 - (0.05 * u.dout) * u.h0,
       |    u.v1 - (0.05 * u.dout) * u.h1,
       |    u.b2 - 0.05 * u.dout,
       |    u.loss + u.e * u.e
       |  FROM (
       |    SELECT s.*, p.x0, p.x1, p.y,
       |      ${tanhSql("((s.b10 + s.w100 * p.x0) + s.w101 * p.x1)")} AS h0,
       |      ${tanhSql("((s.b11 + s.w110 * p.x0) + s.w111 * p.x1)")} AS h1,
       |      ((s.b2 + s.v0 * h0) + s.v1 * h1) - p.y AS e,
       |      2.0 * e AS dout,
       |      dout * s.v0 AS dh0, dout * s.v1 AS dh1,
       |      dh0 * (1.0 - h0 * h0) AS g0, dh1 * (1.0 - h1 * h1) AS g1
       |    FROM step s JOIN pts p ON p.i = s.i + 1) u),
       |fin AS (SELECT * FROM step ORDER BY i DESC LIMIT 1)
       |SELECT CAST(t.layer AS BIGINT) AS layer, CAST(t.idx AS BIGINT) AS idx,
       |  ROUND(CASE t.layer * 10 + t.idx
       |    WHEN 10 THEN w100 WHEN 11 THEN w101 WHEN 12 THEN b10
       |    WHEN 13 THEN w110 WHEN 14 THEN w111 WHEN 15 THEN b11
       |    WHEN 20 THEN v0 WHEN 21 THEN v1 ELSE b2 END, 6) AS weight,
       |  CAST(i AS BIGINT) AS n_fitted, ROUND(loss, 6) AS cum_loss
       |FROM fin, (VALUES (1, 0), (1, 1), (1, 2), (1, 3), (1, 4), (1, 5),
       |  (2, 0), (2, 1), (2, 2)) t(layer, idx)
       |ORDER BY layer, idx""".stripMargin
  }
}

