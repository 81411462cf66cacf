package graft.operators

import graft.{Num, Op, T}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** As-of (most-recent-event) join — an operator Spark lacks natively.
  *
  * Two plans behind one contract, picked by what the session can run (see
  * `dispatch`): the native single-pass merge join
  * ([[graft.plans.AsOfJoinNode]]) wherever [[graft.GraftExtensions]] is
  * installed, else a composition of built-ins: tag and union both sides,
  * then a single partition-by-key sort and `last(_, ignoreNulls)` window
  * carries the latest right-hand row forward onto each left-hand row. One
  * shuffle + one sort, no join explosion, no per-key collect — cheaper than
  * the join+filter+row_number alternative (which materializes every
  * candidate pair before pruning). The right payload rides in a single
  * struct column so all attached fields always come from the same right row.
  */
object AsOf {

  /** Non-null contract, enforced (not just documented): the native merge
    * compares keys/times through interpreted orderings that NPE on null,
    * while the window encoding would silently group null keys / sort null
    * times first — the two plans would diverge on the same input. Both
    * plans therefore run their key/time columns through this guard, which
    * raises a clear error on the first null row (codegen'd null-check per
    * row; `raise_error` only evaluates on the null branch).
    */
  private def nonNullGuard(c: Column, what: String): Column =
    when(c.isNull, raise_error(lit(
      s"as-of join: null $what — as-of keys and times must be non-null")))
      .otherwise(c)

  /** Row-level form of [[nonNullGuard]] for the native path's KEY columns
    * (r13): wrapping the key in the CASE expression made `__asof_rk` a
    * computed column, which breaks alias-aware partitioning propagation —
    * a static side pre-bucketed on the raw key (st30's standing orders
    * table) could never satisfy the merge's ClusteredDistribution and was
    * re-shuffled every trigger. A guard FILTER raises the identical error
    * on the first null row while the key column itself stays a direct
    * alias, so HashPartitioning(raw key) propagates through to the node.
    */
  private def nonNullRowGuard(df: DataFrame, c: Column, what: String): DataFrame =
    df.filter(when(c.isNull, raise_error(lit(
      s"as-of join: null $what — as-of keys and times must be non-null")))
      .otherwise(lit(true)))

  /** Left as-of join: for each left row, attach the right row with the
    * greatest `rightTime <= leftTime` within the same key; ties on
    * `rightTime` resolved by the greatest `tieBreak` column.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: Column, rightTime: Column,
      rightCols: Seq[String],
      tieBreak: String): DataFrame =
    dispatch(left, right, leftKey, rightKey, leftTime, rightTime, rightCols,
      tieBreak, forward = false)

  /** Forward as-of join: for each left row, attach the right row with the
    * SMALLEST `rightTime >= leftTime` within the same key; ties on
    * `rightTime` resolved by the smallest `tieBreak` column. Same
    * single-sort carry as the backward join, iterated in descending time.
    */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: Column, rightTime: Column,
      rightCols: Seq[String],
      tieBreak: String): DataFrame =
    dispatch(left, right, leftKey, rightKey, leftTime, rightTime, rightCols,
      tieBreak, forward = true)

  /** The one plan choice, made from what the session can run: the native
    * merge join (plans/AsOfPlan.scala) wherever the planner has its
    * strategy, else the union+window encoding [[asofWindow]].
    */
  private def dispatch(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: Column, rightTime: Column,
      rightCols: Seq[String], tieBreak: String, forward: Boolean): DataFrame =
    if (nativeUsable(left))
      asofNative(left, right, leftKey, rightKey, leftTime, rightTime,
        rightCols, tieBreak, forward)
    else
      asofWindow(left, right, leftKey, rightKey, leftTime, rightTime,
        rightCols, tieBreak, forward)

  /** The custom strategy only exists in sessions that installed
    * GraftExtensions (every engine entry point does; an ad-hoc downstream
    * session might not). Checked against the planner's actual registered
    * strategies, so programmatic installs (builder.withExtensions) are
    * recognized too — not by sniffing the spark.sql.extensions conf.
    */
  private def nativeUsable(df: DataFrame): Boolean =
    org.apache.spark.sql.graftshims.GraftSqlShims
      .hasStrategy(df.sparkSession, graft.plans.AsOfStrategy)

  /** Build the [[graft.plans.AsOfJoinNode]] from resolved child plans. Time
    * expressions materialize into hidden columns so the node only ever sees
    * attributes; the hidden column drops from the result.
    */
  private def asofNative(
      left: DataFrame,
      right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: Column, rightTime: Column,
      rightCols: Seq[String],
      tieBreak: String,
      forward: Boolean): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    val spark = left.sparkSession
    // cast both times to one comparable type (the window path's contract;
    // order-preserving, so semantics coincide). Keys and times run through
    // the non-null guard so this path fails identically to the window
    // encoding on null input instead of NPE-ing inside the interpreted
    // ordering.
    val lDf = nonNullRowGuard(left, col(leftKey), s"left key $leftKey")
      .withColumn("__asof_lt",
        nonNullGuard(leftTime.cast(TimestampType), "left time"))
      .withColumn("__asof_lk", col(leftKey))
    val rDf = nonNullRowGuard(right, col(rightKey), s"right key $rightKey")
      .withColumn("__asof_rt",
        nonNullGuard(rightTime.cast(TimestampType), "right time"))
      .withColumn("__asof_rk", col(rightKey))
    val lp = lDf.queryExecution.analyzed
    // self-joins (both sides derived from one table) share exprIds across
    // children; the analyzer's relation dedup would then rewrite the right
    // subtree underneath this node's captured attributes. Realias the
    // right output with FRESH exprIds so the children are disjoint by
    // construction.
    val rp = Project(
      rDf.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      rDf.queryExecution.analyzed)
    // resolve through the session's analyzer resolver (honors
    // spark.sql.caseSensitive) so this path binds the same column the
    // window encoding's df.col(...) resolution would; ambiguity fails loudly
    // instead of first-match-wins
    val resolver = spark.sessionState.analyzer.resolver
    def attr(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
        name: String) = out.filter(a => resolver(a.name, name)) match {
      case Seq(a) => a
      case Seq() =>
        throw new IllegalArgumentException(s"as-of column $name not found")
      case many => throw new IllegalArgumentException(
        s"as-of column $name is ambiguous (${many.size} matches)")
    }
    val node = graft.plans.AsOfJoinNode(
      lp, rp,
      attr(lp.output, "__asof_lk"), attr(rp.output, "__asof_rk"),
      attr(lp.output, "__asof_lt"), attr(rp.output, "__asof_rt"),
      rightCols.map(attr(rp.output, _)),
      attr(rp.output, tieBreak), forward)
    org.apache.spark.sql.graftshims.GraftSqlShims.ofRows(spark, node)
      .drop("__asof_lt").drop("__asof_lk")
  }

  /** The union+window encoding: the plan of sessions built without
    * [[graft.GraftExtensions]], and the reference the parity tests hold the
    * native merge join to.
    */
  private[graft] def asofWindow(
      left: DataFrame,
      right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: Column, rightTime: Column,
      rightCols: Seq[String],
      tieBreak: String,
      forward: Boolean): DataFrame = {
    val payloadType = StructType(rightCols.map(c => right.schema(c).copy(name = c)))
    val lTagged = left
      .withColumn("__k", nonNullGuard(col(leftKey), s"left key $leftKey"))
      .withColumn("__t", nonNullGuard(leftTime.cast(TimestampType), "left time"))
      .withColumn("__isLeft", lit(1))
      .withColumn("__r", lit(null).cast(payloadType))
    val rTagged = right
      .withColumn("__k", nonNullGuard(col(rightKey), s"right key $rightKey"))
      .withColumn("__t", nonNullGuard(rightTime.cast(TimestampType), "right time"))
      .withColumn("__isLeft", lit(0))
      .withColumn("__r", struct(rightCols.map(col): _*))
      .select((Seq("__k", "__t", "__isLeft", "__r").map(col) ++
        left.columns.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val unioned = lTagged.select(rTagged.columns.toIndexedSeq.map(col): _*).unionByName(rTagged)
    // Right rows sort before left rows at equal time (inclusive semantics
    // both directions); among equal-time right rows the winning tieBreak
    // (greatest for backward, smallest for forward) lands nearest the left
    // row, so `last(ignoreNulls)` picks it. Backward iterates ascending time
    // (latest right <= t carried forward); forward iterates DESCENDING time,
    // so the most recently seen right row is the smallest time >= t. Left
    // rows carry a null tie-break and sort within their (time, side) slot,
    // which is irrelevant since sides differ.
    val tie = col("__r").getField(tieBreak)
    val w = Window.partitionBy(col("__k"))
      .orderBy(
        (if (forward) col("__t").desc else col("__t").asc),
        col("__isLeft"),
        (if (forward) tie.desc_nulls_first else tie.asc_nulls_first))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = unioned.withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
    carried.filter(col("__isLeft") === 1)
      .select(left.columns.toIndexedSeq.map(col) ++
        rightCols.map(c => col("__match").getField(c).as(c)): _*)
  }

  val ops: Seq[Op] = Seq(
    Op(
      "q17_asof_join",
      (s, d) => {
        // The raw fixtures are time-disjoint (all orders 1995-2001, all
        // events Jan 2024), under which "latest order <= ts" would collapse
        // to "latest order per customer" and the oracle could not
        // discriminate time semantics. A deterministic modulo shift folds
        // each order date into the events' 30-day window (pure integer
        // constants, identical in both engines), so the as-of cut varies
        // per event: different orders win for the same customer at
        // different ts, and events before a customer's earliest shifted
        // order get a null match. base1995/base2024 are the UTC epochs of
        // 1995-01-01 / 2024-01-01; win is 30 days of microseconds.
        val base1995 = 788918400000000L
        val base2024 = 1704067200000000L
        val win = 30L * 86400L * 1000000L
        val e = T.events(s, d)
        val o = T.orders(s, d).withColumn("o_shifted",
          timestamp_micros(lit(base2024) +
            ((unix_micros(col("o_orderdate").cast(TimestampType)) -
              lit(base1995)) % lit(win))))
        asofJoin(
          left = e.select("event_id", "user_id", "ts"),
          right = o,
          leftKey = "user_id", rightKey = "o_custkey",
          leftTime = col("ts"),
          rightTime = col("o_shifted"),
          rightCols = Seq("o_orderkey", "o_shifted"),
          tieBreak = "o_orderkey")
          .select(col("event_id"), col("user_id"), col("o_orderkey"),
            unix_micros(col("o_shifted")).as("order_ts_us"))
          .orderBy("event_id")
      },
      // Per-event LATERAL top-1 with the same modulo shift — the oracle now
      // has to honor the time cut, not just the per-customer max.
      Some("""SELECT e.event_id, e.user_id, x.o_orderkey, x.order_ts_us
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o.o_orderkey,
        |    1704067200000000 + ((epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |      - 788918400000000) % 2592000000000) AS order_ts_us
        |  FROM orders o
        |  WHERE o.o_custkey = e.user_id
        |    AND 1704067200000000 + ((epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
        |      - 788918400000000) % 2592000000000)
        |        <= epoch_us(CAST(e.ts AS TIMESTAMP))
        |  ORDER BY order_ts_us DESC, o.o_orderkey DESC LIMIT 1) x ON TRUE
        |ORDER BY e.event_id""".stripMargin)),
    // ------------------------------------------------------------------
    // Forward as-of: each order joined to the customer's FIRST event
    // at-or-after the order date ("next touch after purchase") — the
    // mirror-image carry, same one-shuffle/one-sort plan, no candidate-pair
    // materialization. Oracle is a per-row LATERAL top-1.
    Op(
      "q45_asof_forward",
      (s, d) => {
        val o = T.orders(s, d)
        val e = T.events(s, d)
        asofJoinForward(
          left = o.select("o_orderkey", "o_custkey", "o_orderdate"),
          right = e,
          leftKey = "o_custkey", rightKey = "user_id",
          leftTime = col("o_orderdate"),
          rightTime = col("ts"),
          rightCols = Seq("event_id", "ts"),
          tieBreak = "event_id")
          .select(col("o_orderkey"), col("o_custkey"),
            col("event_id").as("next_event"),
            unix_micros(col("ts")).as("next_ts_us"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o.o_orderkey, o.o_custkey, x.event_id AS next_event,
        |  epoch_us(CAST(x.ts AS TIMESTAMP)) AS next_ts_us
        |FROM orders o LEFT JOIN LATERAL (
        |  SELECT e.event_id, e.ts FROM events e
        |  WHERE e.user_id = o.o_custkey
        |    AND CAST(e.ts AS TIMESTAMP) >= CAST(o.o_orderdate AS TIMESTAMP)
        |  ORDER BY e.ts, e.event_id LIMIT 1) x ON TRUE
        |ORDER BY o.o_orderkey""".stripMargin)),
    // ------------------------------------------------------------------
    // Batch sessionization (gaps-and-islands): the batch counterpart of
    // st03's streaming session windows — a new session starts after a
    // >=30-minute silence (exactly `session_window`'s gap rule, so batch
    // and streaming sessionization agree row-for-row — asserted in
    // OperatorSuite), session ids are running sums of the gap marker.
    // Two windows over ONE (user_id, ts) sort order, so Catalyst plans a
    // single exchange + sort reused by both; the session rollup then
    // shuffles on (user_id, session_idx). Deterministic tie-break on
    // event_id makes the island assignment engine-independent.
    Op(
      "q47_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        T.events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_micros(col("ts")) - unix_micros(col("prev_ts")) >=
                30L * 60L * 1000000L, 1L).otherwise(0L))
          .withColumn("session_idx", sum("new_sess").over(w))
          .groupBy("user_id", "session_idx")
          .agg(count(lit(1)).as("n_events"),
            unix_micros(min(col("ts"))).as("start_us"),
            unix_micros(max(col("ts"))).as("end_us"),
            Num.dsum(col("value")).as("sum_value"))
          .orderBy("user_id", "session_idx")
      },
      Some(s"""WITH g AS (
        |  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP), 1) OVER w IS NULL
        |      OR epoch_us(CAST(ts AS TIMESTAMP))
        |         - epoch_us(lag(CAST(ts AS TIMESTAMP), 1) OVER w)
        |         >= 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
        |sess AS (
        |  SELECT user_id, event_id, value, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS session_idx
        |  FROM g)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events,
        |  epoch_us(MIN(ts)) AS start_us, epoch_us(MAX(ts)) AS end_us,
        |  ${Num.sqlDsum("value")} AS sum_value
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin)),
  )
}
