package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint

/** Strongly connected components of a DIRECTED graph — the directed
  * counterpart of [[ConnectedComponents]] (whose min-label propagation is
  * blind to edge direction). Algorithm: iterative forward-min coloring +
  * color-restricted backward reachability (the coloring SCC of Orzan 2004,
  * the shape graph systems use where Tarjan's stack is unavailable):
  *
  *   1. color(v) = min vertex id with a forward path to v (label
  *      propagation to fixpoint — bounded, driver-checked);
  *   2. every color c is rooted at c itself (anything reaching c reaches
  *      all of c's class, so the class minimum is its own color); the
  *      vertices that reach BACK to their root within their color class
  *      are exactly SCC(root) — a path between two SCC members never
  *      leaves the component, hence never leaves the color;
  *   3. emit all roots' components (every color processed in the same
  *      round — the backward BFS carries (vertex, color) pairs), remove
  *      them, repeat on the remainder.
  *
  * Returns (id, scc_id) with scc_id = the component's minimum vertex id —
  * the same representative convention as [[ConnectedComponents]], so the
  * two are directly comparable on a symmetrized graph.
  *
  * Scale shape: each coloring step is one edge join + one min-combinable
  * aggregation; the backward BFS joins a frontier that starts at
  * |roots| and is bounded by the round's output. Everything is keyed on
  * vertex id. The coloring and the backward sweep run through
  * [[Fixpoint.iterate]]. The outer rounds advance two relations at once
  * (the remaining vertices and edges) and keep every round's components
  * for the result, so they stay a plain loop over eager checkpoints.
  * Outer rounds are bounded and FAIL FAST when exceeded (the
  * [[ShortestPaths]] contract — a silent partial answer is worse than an
  * error): rounds needed = nesting depth of min-reachability, small for
  * real graphs.
  */
object Scc {

  def run(edges: DataFrame, maxRounds: Int = 12, maxProp: Int = 40): DataFrame = {
    require(maxRounds >= 1 && maxProp >= 1)
    val spark = edges.sparkSession
    var e = edges
      .select(col(edges.columns(0)).as("src"), col(edges.columns(1)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    Fixpoint.withLoopConf(spark, Fixpoint.loopPartitions(spark, e.count())) {
    var verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct()
      .localCheckpoint(true)
    var result: DataFrame = null
    var remaining = verts.count()
    var round = 0
    while (remaining > 0 && round < maxRounds) {
      round += 1
      // -- 1. forward min-label coloring to fixpoint ---------------------
      // A step's scalar is how many colors it changed (round 0: all).
      val (color, _, _) = Fixpoint.iterate(
        Fixpoint.Round(verts.select(col("id"), col("id").as("c")), (c: DataFrame) => c.count()),
        maxProp, "SCC coloring") { (color, changed, _) =>
        if (changed == 0) None
        else {
          val msgs = e.join(color, col("src") === col("id"))
            .select(col("dst").as("id"), col("c"))
          Some(Fixpoint.Round(
            color.unionAll(msgs).groupBy(col("id")).agg(min(col("c")).as("c")),
            (next: DataFrame) => next
              .join(color.select(col("id"), col("c").as("c0")), "id")
              .filter(col("c") =!= col("c0")).count()))
        }
      }
      // -- 2. backward reachability to the root, within each color -------
      // Reversed, color-restricted edge list: walk dst→src where both
      // endpoints share a color.
      val ec = e
        .join(color.select(col("id").as("src"), col("c").as("cs")), "src")
        .join(color.select(col("id").as("dst"), col("c").as("cd")), "dst")
        .filter(col("cs") === col("cd"))
        .select(col("dst").as("from"), col("src").as("to"), col("cs").as("c"))
        .localCheckpoint(true)
      // Sweep state: every member found so far, `fresh` marking the last
      // step's frontier; a step's scalar is the frontier size.
      val (members, _, _) = Fixpoint.iterate(
        Fixpoint.Round(
          color.filter(col("id") === col("c")).withColumn("fresh", lit(true)),
          (m: DataFrame) => m.count()),
        maxProp, "SCC backward sweep") { (members, grew, _) =>
        if (grew == 0) None
        else {
          val next = ec
            .join(members.filter(col("fresh")).select(col("id").as("from"), col("c")),
              Seq("from", "c"))
            .select(col("to").as("id"), col("c"))
            .distinct()
            .join(members, Seq("id", "c"), "left_anti")
          Some(Fixpoint.Round(
            members.select(col("id"), col("c"), lit(false).as("fresh"))
              .unionAll(next.withColumn("fresh", lit(true))),
            (m: DataFrame) => m.filter(col("fresh")).count()))
        }
      }
      val found = members.select(col("id"), col("c").as("scc_id"))
        .localCheckpoint(true)
      freeLocalCheckpoint(members)
      freeLocalCheckpoint(ec)
      result = if (result == null) found else result.unionAll(found)
      // -- 3. remove the emitted components, iterate on the rest ---------
      val nextVerts = verts
        .join(found.select(col("id")), Seq("id"), "left_anti")
        .localCheckpoint(true)
      val nextE = e
        .join(found.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(found.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(true)
      freeLocalCheckpoint(verts)
      freeLocalCheckpoint(e)
      freeLocalCheckpoint(color)
      verts = nextVerts
      e = nextE
      remaining = verts.count()
    }
    require(remaining == 0,
      s"SCC did not finish within $maxRounds rounds; $remaining vertices left")
    if (result == null) {
      // No edges → no vertices (the graph is defined by its edge list):
      // an empty (id, scc_id) relation, backed by the empty checkpoints.
      result = verts.select(col("id"), col("id").as("scc_id"))
    } else {
      freeLocalCheckpoint(verts)
      freeLocalCheckpoint(e)
    }
    result
    } // withLoopConf
  }
}
