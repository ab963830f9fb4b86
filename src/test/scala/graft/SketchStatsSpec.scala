package graft

import org.apache.spark.sql.functions._
import graft.stats.SketchStats

/** graft.stats.SketchStats: stored-sketch optimizer statistics. The
  * estimates must track truth on real testdata, the decisions must flip
  * at the threshold, and a hint made from a stored profile must change
  * the EXECUTED plan (BroadcastHashJoin where stock planning sort-merges
  * under a tight threshold) — the end-to-end claim behind the measured
  * 1.6× wall / 2.1× shuffle-byte win (README "Measured rounds 9–10").
  */
class SketchStatsSpec extends SparkSpec {
  import spark.implicits._

  private def tokens = Tables.documents(spark, Sf001)
    .select(col("doc_id"), explode(text.TextFns.tokens(col("text"))).as("t"))
    .filter(length(col("t")) > 0)

  test("profile estimates track exact distinct counts on the token stream") {
    val prof = SketchStats.profile(tokens, Map(
      "tok" -> col("t"),
      "doc_tok" -> concat_ws(" ", col("doc_id"), col("t"))))
    val dec = SketchStats.decide(prof, Seq("tok", "doc_tok"))
    val truth = tokens.agg(
      count_distinct(col("t")).as("c1"),
      count_distinct(col("doc_id"), col("t")).as("c2")).head()
    // lgK=14 HLL is near-exact at these cardinalities (<2% rel error).
    assert(math.abs(dec("tok").estRows - truth.getLong(0)).toDouble /
      truth.getLong(0) < 0.02, s"${dec("tok")} vs ${truth.getLong(0)}")
    assert(math.abs(dec("doc_tok").estRows - truth.getLong(1)).toDouble /
      truth.getLong(1) < 0.02, s"${dec("doc_tok")} vs ${truth.getLong(1)}")
    // Composite-key width ≥ single-key width; both positive.
    assert(dec("doc_tok").estBytes > dec("tok").estBytes)
  }

  test("decisions flip at the threshold and err toward not broadcasting") {
    val prof = SketchStats.profile(tokens, Map("tok" -> col("t")))
    val open = SketchStats.decide(prof, Seq("tok"), thresholdBytes = 10L << 20)
    val tight = SketchStats.decide(prof, Seq("tok"), thresholdBytes = 1L)
    assert(open("tok").broadcast)
    assert(!tight("tok").broadcast)
    // The overhead term makes estBytes strictly exceed est rows x width.
    assert(open("tok").estBytes > open("tok").estRows)
  }

  test("a stored-profile hint flips the executed join to broadcast-hash") {
    // Emulate the production regime at test scale: a threshold so small
    // that stock planning cannot broadcast (the child-sized static
    // estimate always exceeds it), while the sketch knows the true
    // aggregate is tiny. spark.conf is session-wide; restore after.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val counts = tokens.groupBy(col("t")).agg(count(lit(1)).as("n"))
      def planOf(hintIt: Boolean): String = {
        val prof = SketchStats.profile(tokens, Map("tok" -> col("t")))
        val dec = SketchStats.decide(prof, Seq("tok"),
          thresholdBytes = 10L << 20)("tok")
        val rel = if (hintIt) SketchStats.hinted(counts, dec) else counts
        tokens.join(rel, "t").groupBy(col("doc_id"))
          .agg(sum(col("n")).as("s"))
          .queryExecution.executedPlan.toString
      }
      assert(!planOf(false).contains("BroadcastHashJoin"))
      assert(planOf(true).contains("BroadcastHashJoin"))
    } finally spark.conf.set(key, prev)
  }

  test("t13b: the shipped query broadcasts both count joins from its profile, even when stock planning cannot") {
    // Under autoBroadcastJoinThreshold=1 stock Catalyst can never
    // broadcast (every static estimate exceeds 1 byte), so BHJs in the
    // executed plan can ONLY come from the stored-profile hints — this
    // is the production regime (child-sized static estimates ≫
    // threshold ≫ true aggregate size) reproduced at test scale.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "1")
      val stock = SparkEntry.queries("t13_bigram_surprisal")(spark, Sf001)
      val hinted = SparkEntry.queries("t13b_surprisal_hinted")(spark, Sf001)
      val a = stock.collect()
      val b = hinted.collect()
      assert(a.sameElements(b), "t13b diverged from t13")
      assert(!stock.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val plan = hinted.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    } finally spark.conf.set(key, prev)
  }

  test("merge(profile(half1), profile(half2)) tracks profile(full) and truth") {
    val keys = Seq("tok", "doc_tok")
    def prof(df: org.apache.spark.sql.DataFrame) = SketchStats.profile(df,
      Map("tok" -> col("t"), "doc_tok" -> concat_ws(" ", col("doc_id"), col("t"))))
    val full = prof(tokens)
    val merged = SketchStats.merge(
      prof(tokens.filter(col("doc_id") < 250)),
      prof(tokens.filter(col("doc_id") >= 250)), keys)
    val df = SketchStats.decide(full, keys)
    val dm = SketchStats.decide(merged, keys)
    val truth = tokens.agg(
      count_distinct(col("t")).as("c1"),
      count_distinct(col("doc_id"), col("t")).as("c2")).head()
    val truthOf = Map("tok" -> truth.getLong(0), "doc_tok" -> truth.getLong(1))
    keys.foreach { k =>
      // DataSketches' union gadget is not bit-identical to a directly
      // built sketch; both must sit within the lgK=14 error bound of
      // each other AND of the exact count (measured divergence 0.2%).
      assert(math.abs(dm(k).estRows - df(k).estRows).toDouble /
        df(k).estRows < 0.01, s"$k: ${dm(k)} vs ${df(k)}")
      assert(math.abs(dm(k).estRows - truthOf(k)).toDouble /
        truthOf(k) < 0.02, s"$k: ${dm(k)} vs truth ${truthOf(k)}")
      assert(dm(k).broadcast == df(k).broadcast)
    }
    // Row count and width-weighting are exact arithmetic, not sketches.
    val rows = merged.select(col("stream_rows")).head().getLong(0)
    assert(rows == tokens.count())
    keys.foreach { k =>
      val wFull = full.select(col(s"${k}_width")).head().getDouble(0)
      val wMerged = merged.select(col(s"${k}_width")).head().getDouble(0)
      assert(math.abs(wFull - wMerged) < 1e-9, s"$k width: $wMerged vs $wFull")
    }
  }
}
