package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Optimizer statistics from STORED sketches — the warehouse pattern the
  * sketch family (a22/a24) supports, packaged as a first-class API and
  * measured on a fresh JVM at 64× amplification (README "Measured
  * rounds 9–10": 1.6× wall / 2.1× shuffle bytes on the t13 join shape).
  *
  * The problem it solves: Catalyst's static size estimate for an
  * aggregate is its CHILD's size, so `stream.groupBy(k).count()` looks
  * corpus-sized at plan time and a join against it sort-merges —
  * shuffling the corpus-sized stream — even when the true aggregate is
  * kilobytes. AQE's runtime SMJ→BHJ conversion only fires after the big
  * side's shuffle files are written, so the stream shuffle is still
  * paid. A stored profile (one amortized offline pass: HLL per key +
  * average key width + row count) answers "how big will this aggregate
  * be?" from kilobytes of sketch state at planning time, and a hint
  * decision made from it removes the stream shuffle entirely.
  *
  * Scale shape: [[profile]] is one map-side-combinable pass over the
  * stream (HLL buffers merge associatively); everything else reads the
  * one-row profile relation. Nothing here ever collects corpus-sized
  * data — [[decide]] collects exactly one row of sketch estimates.
  */
object SketchStats {

  /** One distributed pass over `df`: for each named key expression, an
    * HLL sketch of the key and its average serialized width, plus the
    * stream row count. Store the result next to the corpus (parquet) and
    * refresh it with the corpus — every later plan reads only this row.
    * Key expressions must be string-typed (concat_ws composite keys —
    * the same bytes the join would hash).
    */
  def profile(df: DataFrame, keys: Map[String, Column], lgK: Int = 14): DataFrame = {
    require(keys.nonEmpty, "at least one key expression")
    val aggs = keys.toSeq.flatMap { case (name, expr) =>
      Seq(
        hll_sketch_agg(expr, lit(lgK)).as(s"${name}_sk"),
        avg(length(expr)).as(s"${name}_width"))
    } :+ count(lit(1)).as("stream_rows")
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Per-key broadcast decision from a stored profile: estimated
    * distinct count, estimated hash-relation bytes (key width + 8 B
    * count + `rowOverhead` B object/offset overhead — deliberately
    * generous so the decision errs toward NOT broadcasting), and
    * whether that clears `thresholdBytes`. Reads ONLY the profile
    * relation — one row, no corpus scan.
    */
  case class Decision(key: String, estRows: Long, estBytes: Long, broadcast: Boolean)

  def decide(
      profileDf: DataFrame,
      keys: Seq[String],
      thresholdBytes: Long = 10L << 20,
      rowOverhead: Int = 32): Map[String, Decision] = {
    val cols = keys.flatMap { k =>
      Seq(hll_sketch_estimate(col(s"${k}_sk")).as(s"${k}_est"),
        col(s"${k}_width"))
    }
    val row: Row = profileDf.select(cols: _*).head()
    keys.zipWithIndex.map { case (k, i) =>
      // A profile built over an EMPTY stream (stream_rows = 0) has null
      // sketch and width columns: its aggregate is empty, which is the
      // most broadcastable relation there is — answer estRows = 0 rather
      // than tripping an opaque NPE on getLong (same for an all-null key
      // expression, whose aggregate is one group).
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1))
        k -> Decision(k, 0L, 0L, broadcast = true)
      else {
        val est = row.getLong(2 * i)
        val width = row.getDouble(2 * i + 1)
        val bytes = (est * (width + rowOverhead)).toLong
        k -> Decision(k, est, bytes, bytes < thresholdBytes)
      }
    }.toMap
  }

  /** The hint itself: `rel` wrapped in `broadcast()` iff the stored
    * profile says its aggregate on `key` fits the threshold; unchanged
    * (Catalyst/AQE decide) otherwise.
    */
  def hinted(rel: DataFrame, decision: Decision): DataFrame =
    if (decision.broadcast) broadcast(rel) else rel

  /** Merge two stored profiles — corpus profile + delta-batch profile —
    * WITHOUT rescanning either corpus: HLL sketches union within the
    * sketch's own error bound (DataSketches' union gadget is not
    * bit-identical to a directly built sketch — the spec measured 0.2%
    * divergence at lgK=14 — but both sit inside the ~0.8% HLL RSE, so a
    * merged profile answers the broadcast question exactly as well as a
    * fresh full-corpus profile); widths combine as row-count-weighted
    * means (the exact combined average). This is the
    * [[graft.dedup.DedupStore]] append story for planner statistics:
    * one O(batch) profile pass per increment, O(1) merge, never an
    * O(corpus) refresh.
    */
  def merge(a: DataFrame, b: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one key")
    val bb = b.select(b.columns.map(c => col(c).as(s"${c}_b")): _*)
    val j = a.crossJoin(bb) // two one-row relations
    val cols = keys.flatMap { k =>
      Seq(
        hll_union(col(s"${k}_sk"), col(s"${k}_sk_b")).as(s"${k}_sk"),
        ((col(s"${k}_width") * col("stream_rows")
          + col(s"${k}_width_b") * col("stream_rows_b"))
          / (col("stream_rows") + col("stream_rows_b"))).as(s"${k}_width"))
    } :+ (col("stream_rows") + col("stream_rows_b")).as("stream_rows")
    j.select(cols: _*)
  }
}
