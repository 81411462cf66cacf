package graft.operators

import graft.TestSession
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r13: the incremental banded candidate-pair ledger behind p07's serve
  * path (Dedup.pairLedgerAppend / pairLedgerServe) must reproduce the
  * batch d03 pipeline — `scoredCandidatePairsFromShingles(capShingleDf(sh))`
  * — bit-for-bit, on BOTH serve branches:
  *   - fast branch: no shingle exceeds the DF cap (the fixture shape);
  *   - general branch: a shingle crosses the cap only once the triggers
  *     are unioned, so stored signatures of the affected docs are stale
  *     and must be recomputed over the capped sets, including the doc
  *     that drops out entirely and the kept pair that must survive.
  */
class R13OpsSuite extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Drive the ingest exactly as p07's foreachBatch does: write batch k's
    * shingles to the sh ledger, then its bands + pair delta.
    */
  private def ingest(batches: Seq[DataFrame]): Streaming.Output = {
    val out = Streaming.output("graft_r13_pairs_")
    batches.zipWithIndex.foreach { case (b, k) =>
      val w = new Streaming.Writer(out, k.toLong)
      val shb = Dedup.shingleRows(b).persist()
      w.write("sh", shb)
      Dedup.pairLedgerAppend(shb, w)
      shb.unpersist()
    }
    out
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(col("doc_a"), col("doc_b"), col("inter"), col("na"),
        col("nb"), col("jaccard"))
      .collect().map(_.toString).sorted.toSeq

  private def batchRef(out: Streaming.Output): Seq[String] = rowsOf(
    Dedup.scoredCandidatePairsFromShingles(
      Dedup.capShingleDf(out.read(spark, "sh"), Dedup.ShingleDfCap)))

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("pair ledger == batch d03 pipeline, fast branch (no hot shingles): " +
    "cross-trigger, same-trigger, and no-overlap docs") {
    // identical texts guarantee identical shingle sets, hence identical
    // minhash signatures and a band collision in every band (near-dup
    // tails only collide probabilistically at 16 perms — fine for the
    // set-equality check, not for the nonEmpty precondition)
    val phraseA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val phraseB = "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val t1 = docsDf(Seq(
      1L -> s"$phraseA same tail",
      2L -> s"$phraseA same tail",          // dup of 1 (same trigger)
      3L -> s"$phraseB near other tail",
      4L -> "too short here"))              // <5 tokens: no shingles
    val t2 = docsDf(Seq(
      5L -> s"$phraseA same tail",          // dup of 1/2 (cross-trigger)
      6L -> s"$phraseB near other tail",    // dup of 3 (cross-trigger)
      7L -> "totally unrelated words list of seven tokens here"))
    val out = ingest(Seq(t1, t2))
    val served = rowsOf(Dedup.pairLedgerServe(spark, out))
    val ref = batchRef(out)
    assert(ref.nonEmpty, "fixture must produce candidate pairs")
    assert(served == ref)
    // the same ledger named by a file: URI: its probes go through the
    // path's FileSystem, so it serves the same rows
    assert(rowsOf(Dedup.pairLedgerServe(spark,
      Streaming.Output(s"file:${out.root}"))) == served)
    spark.catalog.clearCache()
  }

  test("pair ledger == batch d03 pipeline, general branch: shingle crosses " +
    "the DF cap only after union of triggers") {
    val hot = "h1 h2 h3 h4 h5" // the shingle that will exceed the cap (72 docs)
    val q = "q1 q2 q3 q4 q5 q6"
    val r = "r1 r2 r3 r4 r5 r6"
    def filler(i: Long) = s"f${i}a f${i}b f${i}c f${i}d f${i}e"
    // 68 hot-carrier docs split across triggers (cap = 64 crossed only
    // after the union), plus:
    //  - 200/201: identical hot carriers (cross-trigger) — their stored
    //    pair is dropped as affected and must be re-derived over CAPPED
    //    sets, where they remain identical (jaccard 1.0 survives)
    //  - 300: only the hot shingle — drops out of the capped corpus
    //  - 400/401: identical unaffected pair whose stored row must be KEPT
    //    (its score over raw sets must equal the capped score)
    val t1 = docsDf(
      (100L until 134L).map(i => i -> s"$hot ${filler(i)}") ++ Seq(
        200L -> s"$hot $q same suffix",
        300L -> hot,
        400L -> s"$r keep tail"))
    val t2 = docsDf(
      (134L until 168L).map(i => i -> s"$hot ${filler(i)}") ++ Seq(
        201L -> s"$hot $q same suffix",
        401L -> s"$r keep tail"))
    val out = ingest(Seq(t1, t2))
    // precondition: the hot shingle really exceeds the cap ledger-wide
    val dfHot = out.read(spark, "sh")
      .filter(col("sh") === hot).count()
    assert(dfHot > Dedup.ShingleDfCap, s"hot shingle df=$dfHot must exceed cap")
    val served = rowsOf(Dedup.pairLedgerServe(spark, out))
    val ref = batchRef(out)
    assert(served == ref)
    // the recomputed pair (200, 201) and the kept pair (400, 401) must be
    // present; 300 (all shingles hot) absent anywhere
    assert(served.exists(s => s.startsWith("[200,201,")))
    assert(served.exists(s => s.startsWith("[400,401,")))
    assert(!served.exists(s => s.contains("[300,") || s.contains(",300,")))
    spark.catalog.clearCache()
  }

  test("wordShingles5 shingleRows == the split/explode/concat_ws/distinct " +
    "pipeline on adversarial texts") {
    // the shapes that distinguish the byte-slice kernel from a naive
    // whitespace tokenizer: consecutive/leading/trailing spaces (split
    // keeps the empty runs, concat_ws keeps empty strings, so shingles
    // reproduce the original spacing), exactly-5 and <5 token edges,
    // repeated shingles (distinct), multi-byte UTF-8, and the empty text
    val docs = docsDf(Seq(
      1L -> "a b c d e f g",
      2L -> "a  b c d e",                    // double space -> empty token
      3L -> " a b c d",                      // leading space: 5 tokens
      4L -> "a b c d ",                      // trailing space: 5 tokens
      5L -> "a b c d",                       // 4 tokens: no shingles
      6L -> "",                              // split("") = [""]: 1 token
      7L -> "x y x y x y x y x y",           // repeated shingles collapse
      8L -> "ä β 语 d e f",                  // multi-byte codepoints
      9L -> "  a   b  ",                     // empty-token soup: 7 tokens
      10L -> "a b c d e"))                   // exactly 5 tokens: 1 shingle
    val legacy = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .withColumn("p", explode(expr("sequence(1, size(t) - 4)")))
      .select(col("doc_id"), expr("concat_ws(' ', slice(t, p, 5))").as("sh"))
      .distinct()
      .collect().map(_.toString).sorted.toSeq
    val kernel = Dedup.shingleRows(docs)
      .collect().map(_.toString).sorted.toSeq
    assert(kernel == legacy)
    // sanity on the known edges
    assert(!kernel.exists(_.startsWith("[5,")))
    assert(!kernel.exists(_.startsWith("[6,")))
    assert(kernel.count(_.startsWith("[7,")) == 2) // "x y x y x" / "y x y x y"
    assert(kernel.count(_.startsWith("[10,")) == 1)
  }

  test("pair ledger serve is empty-safe when no candidates ever appear") {
    val t1 = docsDf(Seq(
      10L -> "one two three four five six",
      11L -> "seven eight nine ten eleven twelve"))
    val out = ingest(Seq(t1))
    assert(Dedup.pairLedgerServe(spark, out).count() == 0L)
    assert(batchRef(out).isEmpty)
    spark.catalog.clearCache()
  }
}
