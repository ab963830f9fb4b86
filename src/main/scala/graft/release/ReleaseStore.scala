package graft.release

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DedupStore, SpanStore}
import graft.graph.ConnectedComponents
import graft.ml.{ClassifierStore, LinearClassifier}
import graft.text.TextFns

/** Parameters of the curation release chain — the p20 configuration
  * (classifier gate → near-dup drop → span excision → leakage-safe
  * split) as explicit knobs so the incremental store and the batch
  * reference run the same chain.
  */
final case class ReleaseParams(
    dims: Int = 32, iters: Int = 32,
    n: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
    threshold: Double = 0.3, minTokens: Int = 6,
    // The optional SEMANTIC dedup stage (SemDeDup over an embedding
    // column, the d18/IndexStore configuration): sign-cell dims and the
    // duplicate cosine threshold. Only consulted when a vecs relation
    // is passed to init/increment/batchRelease.
    vecDims: Int = 6, vecEps: Double = 0.95)

/** The INCREMENTAL curation release — p20's per-crawl-batch shape, and
  * the composition the four stores exist for. `p20_release_pipeline`
  * recomputes the whole gate → near-dup → span → split chain per run:
  * O(corpus) work per arriving batch. A production crawl pipeline
  * instead keeps the chain's state persisted and pays O(batch) per
  * increment:
  *
  *   `<path>/classifier` — [[ClassifierStore]]: additive integer
  *       Gram/moment partials of EVERY arriving doc (the batch trains
  *       on all docs, then gates), so [[ClassifierStore.trainStored]]
  *       after an append is BIT-IDENTICAL to a batch train on the
  *       union;
  *   `<path>/neardup`    — [[DedupStore]]: MinHash bands + shingles of
  *       every classifier-KEPT doc (near-dup-dropped duplicates
  *       included — a batch run clusters over all kept docs, and LSH
  *       is not transitive, so a new doc can reach a cluster only
  *       through a dropped member);
  *   `<path>/clusters`   — (member_id, rep_id, n_tok, gen): the
  *       near-dup cluster membership of every kept doc (singletons
  *       rep = self), generation-stamped so rep reassignments (a new
  *       doc BRIDGING two stored clusters merges them — the batch CC
  *       would relabel) stay append-only: readers take the max-gen row
  *       per member;
  *   `<path>/spans`      — [[SpanStore]]: anchor grams of the RELEASED
  *       (survivor) docs' original texts — the span stage's corpus;
  *   `<path>/released`   — (doc_id, rep_id, split, text_dedup): the
  *       accumulated release;
  *   `<path>/maxid`      — (gen, max_id): one row per init/increment,
  *       the max doc id EVER seen (gate-rejected arrivals included) —
  *       the monotone-id guard's source, and the increment's replay
  *       refusal (the row is appended before any other store mutation,
  *       so a retried batch is refused loudly instead of silently
  *       double-counting classifier statistics);
  *   `<path>/ivf`        — OPTIONAL ([[graft.sim.IndexStore]] layout),
  *       present when [[init]] was given an embedding relation
  *       (doc_id, v ARRAY<DOUBLE>): the accepted docs' vectors. With
  *       it, a SEMANTIC dedup stage (SemDeDup — the d18 configuration)
  *       runs between the text near-dup drop and the span stage:
  *       survivors probe the store with
  *       [[graft.sim.IndexStore.dedupNewIvfStatic]] (greedy-by-id,
  *       vecEps cosine within the sign cell) and flagged docs drop.
  *       Docs without a vector pass and are not indexed; the store
  *       holds ACCEPTED vectors only, so a dropped doc never blocks a
  *       future arrival (spec-pinned).
  *
  * [[increment]] composes the per-store probes into the batch-run
  * semantics: retrain-and-gate (exact: statistics additivity), probe
  * near-dups against the kept corpus, reconstruct only the TOUCHED
  * clusters (new pairs ∪ stored star edges member→rep — never a stored
  * self-join), re-elect each touched cluster's canonical (longest
  * tokenization, min id — stored lengths come from the clusters
  * relation, never a corpus rescan), drop batch docs that lose,
  * span-excise the batch survivors against the released corpus, draw
  * splits on the cluster rep, and append everything. ReleaseStoreSpec
  * pins [[increment]]'s output EQUAL to the batch chain run on
  * (stored ∪ batch) restricted to the new docs — including the
  * split-inheritance contract: a new doc joining an existing near-dup
  * cluster inherits that cluster's split, because the rep it draws on
  * is the same id the stored members drew on.
  *
  * The frozen-history contract (where incremental ≠ batch, by design):
  * a shipped release is never silently retracted. (1) If retraining on
  * the grown corpus flips a STORED doc's gate decision, the stored
  * decision stands (the spec's batch equality holds exactly when the
  * stored gate decisions are retrain-stable — asserted as a fixture
  * guard, and true for any batch small relative to the corpus that
  * doesn't shift the decision boundary). (2) If a new doc DETHRONES a
  * stored canonical (longer tokenization), the batch run would drop
  * the stored doc; incrementally the new doc is released, the stored
  * doc stays released until [[reconcile]] — the operator-run
  * retirement policy — retires it, and the dethroned doc's spans are
  * EXCLUDED from the batch's span probe so the new docs' excisions
  * still match the batch run exactly.
  * (3) The OPTIONAL semantic stage is ARRIVAL-ORDER semantics by
  * construction (greedy-by-id against the accepted store, like every
  * greedy dedup): a batch replay of the union cannot reproduce it,
  * because the replay would let docs that were themselves dropped
  * block later arrivals. The batch-equality pins therefore cover the
  * TEXT chain; the semantic stage is pinned pointwise per increment
  * (cross-increment flags, survivors-only population, takedown purge —
  * ReleaseStoreSpec) on top of IndexStoreSpec's union-restricted
  * equality for the primitive itself.
  *
  * Takedown ([[remove]]) composes the four per-store removes plus the
  * clusters/released rewrites. Splits are takedown-STABLE by design:
  * surviving members keep their rep_id as an opaque draw key even when
  * the rep doc itself is removed (an id is not content), so a takedown
  * never reshuffles survivors' splits and future joiners still inherit
  * the cluster's split — the one documented divergence from a
  * never-saw-the-docs pipeline, whose re-drawn rep would reassign the
  * whole cluster's splits (ReleaseStoreSpec pins both: content
  * equality with the never-saw store, split stability against it).
  *
  * Near-dup blocking uses the store's production xxhash64 MinHash
  * family ([[Dedup.minhashLshPairs]]). p20 and p21 ARE this batch chain
  * ([[batchChain]]) with the portable md5 pair family swapped in, so
  * their end-to-end hash oracles pin every other stage of it (the
  * d3/d3b precedent: production path vs oracle-able twin).
  *
  * Scale shape per increment, at 100 TB corpus / crawl-batch arrivals:
  * one pass over the batch for features + shingles + grams; the
  * classifier retrain reads dims²-bounded partials; the near-dup and
  * span probes stream the stored relations through one side of an
  * equi-join each (plan-pinned in the store specs); cluster
  * reconstruction touches only
  * batch-hit clusters (broadcast-sized); no stage self-joins or
  * re-shuffles the stored corpus. Measured for the whole composition:
  * near-flat increment wall (13.7/12.3/11.2 s at 16x/64x/256x) vs the
  * linearly growing batch re-run.
  */
object ReleaseStore {

  private def norm(docs: DataFrame, idCol: String, textCol: String) =
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))

  /** The 80/10/10 train/val/test draw on md5("split:" ‖ key): p17 and
    * the chain draw it on the near-dup cluster rep, p19 and the
    * streaming front door on the doc id.
    */
  private[graft] def splitOf(rep: Column): Column = {
    val bucket = pmod(graft.ops.Portable.md5Long(
      concat(lit("split:"), rep.cast("string"))), lit(10L))
    when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test")
  }

  private def nTok(text: Column): Column =
    size(TextFns.tokens(text)).cast("long")

  private def free(df: DataFrame): Unit =
    org.apache.spark.sql.graft.GraftInternals.freeLocalCheckpoint(df)

  /** Latest-generation row per cluster member (max-gen wins) — the
    * append-only clusters relation's read view, shared by [[increment]]
    * (touched-cluster reconstruction) and [[reconcile]] (canonical
    * re-election over the whole store).
    */
  private def latest(rows: DataFrame): DataFrame = rows
    .groupBy(col("member_id"))
    .agg(max(struct(col("gen"), col("rep_id"), col("n_tok"))).as("m"))
    .select(col("member_id"), col("m.rep_id").as("rep_id"),
      col("m.n_tok").as("n_tok"))

  private[graft] case class Chain(
      keptDocs: DataFrame, members: DataFrame, ntokKept: DataFrame,
      withRep: DataFrame, released: DataFrame,
      survVecs: Option[DataFrame])

  private def normVecs(v0: DataFrame): DataFrame =
    v0.select(col(v0.columns(0)).cast("long").as("vec_id"),
      col(v0.columns(1)).as("v"))

  private case class Stages(feat: DataFrame, lab: DataFrame, chain: Chain)

  /** The batch release chain (p20's stages 1–4, parameterized), shared
    * by [[batchRelease]], [[init]] and p20/p21 ([[batchChain]]) so the
    * store's generation-zero state IS a batch run's state.
    */
  private def batchStages(
      docs: DataFrame, p: ReleaseParams, portablePairs: Boolean,
      vecs: Option[DataFrame]): Stages = {
    val (feat, lab, w) = LinearClassifier.fit(docs, p.dims, p.iters)
    val kept = LinearClassifier.score(feat, lab, w)
      .filter(col("margin") > 0).select(col("doc_id"))
    val keptDocs = docs.join(kept, "doc_id")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    Stages(feat, lab, releaseKept(keptDocs, p, portablePairs, vecs))
  }

  /** The POST-GATE chain (near-dup drop → span excision → split) on an
    * already-gated kept set — batchStages minus the classifier. Exposed
    * private[graft] so ReleaseStoreSpec can build the FROZEN-GATE batch
    * reference (the chain on the union of each batch's historical kept
    * set), which [[increment]] equals unconditionally — no
    * retrain-stability precondition, because the gate decisions are the
    * store's own by construction.
    */
  private[graft] def releaseKept(
      keptDocs: DataFrame, p: ReleaseParams, portablePairs: Boolean,
      vecs: Option[DataFrame] = None): Chain = {
    val pairs = (if (portablePairs)
        Dedup.minhashLshPairsPortable(keptDocs, "doc_id", "text",
          p.n, p.bands, p.rowsPerBand, p.threshold)
      else
        Dedup.minhashLshPairs(keptDocs, "doc_id", "text",
          p.n, p.bands, p.rowsPerBand, p.threshold))
      .select(col("doc_a"), col("doc_b"))
    val cl = ConnectedComponents.run(pairs).localCheckpoint(true)
    free(pairs) // cl materialized behind its own checkpoint (p20 idiom)
    val ntokKept = keptDocs.select(col("doc_id").as("member_id"),
      nTok(col("text")).as("n_tok"))
    val canon = Dedup.canonical(cl.join(ntokKept, "member_id"))
      .select(col("canon_id").as("doc_id"), col("rep_id"))
    val drops = cl.join(canon, cl("member_id") === canon("doc_id"), "left_anti")
      .select(col("member_id"))
    // drops (all near-dup losers) and canon (one row per cluster) are
    // corpus-proportional on a dup-heavy init corpus — size-gated hints,
    // never forced (the incremental path's hints are likewise gated: its
    // relations are batch/touched-cluster-bounded by construction, but a
    // dup-heavy crawl can merge corpus-scale components).
    val survivors = keptDocs
      .join(graft.ops.Hints.broadcastIfSmall(drops),
        col("doc_id") === col("member_id"), "left_anti")
    val withRep0 = survivors
      .join(graft.ops.Hints.broadcastIfSmall(canon), Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .localCheckpoint(true)
    // Optional SEMANTIC stage (SemDeDup, d18's greedy-by-id rule over
    // the input itself — a first batch against an empty store): a
    // survivor is dropped when a SMALLER-id survivor in its sign cell
    // reaches vecEps cosine. Docs without a vector pass and are not
    // indexed. The incremental edition probes the persisted IVF store
    // instead ([[increment]]); both apply the same arrival-greedy rule.
    val (withRep, survVecs) = vecs match {
      case None => (withRep0, None)
      case Some(v0) =>
        val sv = normVecs(v0)
          .join(withRep0.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          .localCheckpoint(true)
        val asg = sv.select(col("vec_id"), col("v"),
          graft.sim.IndexStore.cellOf(col("v"), p.vecDims).as("cell"))
        val flagged = asg
          .join(asg.select(col("cell").as("cell_b"), col("vec_id").as("nbr"),
            col("v").as("nv")),
            col("cell") === col("cell_b") && col("nbr") < col("vec_id"))
          .filter(graft.sim.Similarity.cosine(col("v"), col("nv")) >= p.vecEps)
          .select(col("vec_id").as("doc_id")).distinct()
        val kept = withRep0.join(flagged, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        (kept, Some(sv.join(kept.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")))
    }
    val deduped = Dedup.spanDedupApply(
      withRep.select(col("doc_id"), col("text")), "doc_id", "text", p.minTokens)
    val released = deduped
      .join(withRep.select(col("doc_id"), col("rep_id")), "doc_id")
      .select(col("doc_id"), col("rep_id"),
        splitOf(col("rep_id")).as("split"), col("text_dedup"))
    Chain(keptDocs, cl, ntokKept, withRep, released, survVecs)
  }

  /** The batch chain on (doc_id, text) `docs`, then a sweep of every
    * intermediate that the relation `use` builds from it does not read.
    * p20 and p21 run it with `portablePairs = true` on the p20
    * configuration; the store runs it with the production family.
    */
  private[graft] def batchChain(
      docs: DataFrame, p: ReleaseParams, portablePairs: Boolean,
      vecs: Option[DataFrame])(use: Chain => DataFrame): DataFrame = {
    val before = graft.RddScope.persisted(docs.sparkSession)
    val out = use(batchStages(docs, p, portablePairs, vecs).chain)
    graft.RddScope.sweepExcept(docs.sparkSession, before, out)
    out
  }

  /** One-shot batch release: (doc_id, rep_id, split, text_dedup) — the
    * reference [[increment]] is pinned against. Caller frees the
    * returned checkpoint.
    */
  def batchRelease(
      docs0: DataFrame, idCol: String, textCol: String, p: ReleaseParams,
      vecs: Option[DataFrame] = None): DataFrame =
    batchChain(norm(docs0, idCol, textCol), p, portablePairs = false, vecs)(
      _.released.localCheckpoint(true))

  /** Generation zero: run the batch chain on the initial corpus and
    * persist every store the increments probe. Returns the released
    * relation (also written to `<path>/released`); caller frees it.
    */
  def init(
      s: SparkSession, docs0: DataFrame, idCol: String, textCol: String,
      p: ReleaseParams, path: String,
      vecs: Option[DataFrame] = None): DataFrame = {
    val before = graft.RddScope.persisted(s)
    val docs = norm(docs0, idCol, textCol).localCheckpoint(true)
    val st = batchStages(docs, p, portablePairs = false, vecs)
    ClassifierStore.save(st.feat, st.lab, s"$path/classifier")
    DedupStore.save(st.chain.keptDocs, "doc_id", "text",
      p.n, p.bands, p.rowsPerBand, s"$path/neardup")
    // Membership for EVERY kept doc: CC rep for pair-involved members,
    // self for singletons; n_tok persisted so no future increment
    // rescans stored text for canonical election.
    st.chain.ntokKept
      .join(st.chain.members, Seq("member_id"), "left")
      .select(col("member_id"),
        coalesce(col("rep_id"), col("member_id")).as("rep_id"),
        col("n_tok"), lit(0L).as("gen"))
      .write.mode("overwrite").parquet(s"$path/clusters")
    SpanStore.save(st.chain.withRep.select(col("doc_id"), col("text")),
      "doc_id", "text", p.minTokens, s"$path/spans")
    // Embedding-aware store: persist the accepted (released) docs'
    // vectors in the IVF layout. A store initialized WITHOUT vecs stays
    // text-only — a later increment may not introduce embeddings.
    st.chain.survVecs.foreach(v =>
      graft.sim.IndexStore.saveIvfStatic(v, p.vecDims, s"$path/ivf"))
    // Seed the max-seen-id ledger (one row per init/increment) — the
    // monotone-id guard's source, covering EVERY arriving id including
    // gate-rejected ones.
    docs.agg(max(col("doc_id")).as("max_id")).filter(col("max_id").isNotNull)
      .select(lit(0L).as("gen"), col("max_id"))
      .write.mode("overwrite").parquet(s"$path/maxid")
    val released = st.chain.released.localCheckpoint(true)
    released.write.mode("overwrite").parquet(s"$path/released")
    graft.RddScope.sweepExcept(s, before, released)
    released
  }

  /** Release one arriving crawl batch against the stored corpus —
    * O(batch) work (plus the stores' streamed one-sided scans), output
    * EQUAL to the batch chain on (stored ∪ batch) restricted to the new
    * docs (ReleaseStoreSpec). Ids must be globally unique and
    * monotonically increasing across batches (the crawl contract; the
    * stores already require uniqueness — monotonicity is what keeps a
    * merged cluster's min-id rep equal to the STORED rep, so stored
    * splits stay frozen while new docs still draw batch-equal splits).
    * Appends to every store; returns the batch's released rows
    * (doc_id, rep_id, split, text_dedup); caller frees the checkpoint.
    */
  def increment(
      s: SparkSession, newDocs0: DataFrame, idCol: String, textCol: String,
      p: ReleaseParams, path: String,
      vecs: Option[DataFrame] = None): DataFrame = {
    val before = graft.RddScope.persisted(s)
    // LAZY checkpoints throughout this method (graph.Fixpoint's round idiom):
    // each one's FIRST consumer is itself an action (an aggregate, a store
    // append's write, or a downstream eager materialization), so that
    // action both computes the stage and materializes the checkpoint —
    // the eager form paid a separate driver job per checkpoint (~10 extra
    // jobs per increment, pure fixed cost on a batch-sized relation).
    // Results are identical; the backing still truncates lineage and the
    // end-of-increment sweep frees everything unreachable.
    val docs = norm(newDocs0, idCol, textCol).localCheckpoint(false)
    val hconf = s.sparkContext.hadoopConfiguration

    // (0a) Input validation BEFORE any store mutation: an embedding
    // relation against a text-only store is a caller error — rejecting
    // it after the classifier/index appends (as the old step-5b check
    // did) left the natural retry double-counting the batch.
    if (vecs.isDefined) {
      val ivf = new org.apache.hadoop.fs.Path(s"$path/ivf")
      require(ivf.getFileSystem(hconf).exists(ivf),
        "increment got an embedding relation but the store was " +
          "initialized without one (init with vecs to enable the " +
          "semantic stage)")
    }

    // (0b) Monotone-id guard, BEFORE anything is appended. The max-seen
    // id comes from the `maxid` ledger (one row per init/increment —
    // EVERY arriving id counts, gate-rejected included; a batch reusing
    // a rejected stored id would silently corrupt the classifier
    // statistics additivity). The three store-metadata scalars
    // (clusters gen-max, max-seen id, batch id range) are FOLDED into
    // one driver job (r18 verdict #5): three one-row aggregates
    // cross-joined, so their source scans run as parallel stages of a
    // single job instead of three sequential driver round-trips — and
    // the same job materializes the `docs` checkpoint the batch-range
    // aggregate reads. Values identical (the fold only changes how many
    // jobs carry them).
    val meta = s.read.parquet(s"$path/clusters")
      .agg(coalesce(max(col("gen")), lit(0L)).as("g"))
      .crossJoin(s.read.parquet(s"$path/maxid").agg(max(col("max_id")).as("sm")))
      .crossJoin(docs.agg(min(col("doc_id")).as("bmin"),
        max(col("doc_id")).as("bmax")))
      .first()
    val gen = meta.getLong(0) + 1L
    val seenMax: Option[Long] =
      if (meta.isNullAt(1)) None else Some(meta.getLong(1))
    val batchMin: Option[Long] =
      if (meta.isNullAt(2)) None else Some(meta.getLong(2))
    val batchMax: Option[Long] =
      if (meta.isNullAt(3)) None else Some(meta.getLong(3))
    for (sm <- seenMax; bm <- batchMin)
      require(bm > sm,
        s"increment ids must be monotone across batches: batch min id " +
          s"$bm <= max id ever seen $sm")
    // Ledger FIRST (the ClassifierStore.remove idiom): once this row
    // lands, a replay of the same batch — e.g. retrying after a crash
    // mid-increment — is REFUSED by the guard above instead of silently
    // double-counting the batch's classifier statistics and duplicating
    // its index rows. An interrupted increment surfaces as an error to
    // reconcile, never as corrupted sums.
    for (bm <- batchMax)
      s.range(1).select(lit(gen).as("gen"), lit(bm).as("max_id"))
        .write.mode("append").parquet(s"$path/maxid")

    // (1) Gate: append the batch's statistics, retrain on everything
    // (bit-identical to a union batch train), score the batch.
    val feat = LinearClassifier.features(docs, "doc_id", "text", p.dims)
      .localCheckpoint(false) // materialized by the append's write
    val lab = LinearClassifier.weakLabels(docs, "doc_id", "text")
    ClassifierStore.append(feat, lab, s"$path/classifier")
    val w = ClassifierStore.trainStored(s, s"$path/classifier", p.dims, p.iters)
    val kept = LinearClassifier.score(feat, lab, w)
      .filter(col("margin") > 0).select(col("doc_id"))
    val keptDocs = docs.join(kept, "doc_id")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(false) // materialized by the fused near-dup probe
    val newIds = keptDocs.select(col("doc_id"))

    // (2) Near-dup candidates: batch vs the stored KEPT corpus plus
    // within-batch — the stored corpus streams through one join side.
    // The fused probe+append writes the batch's shingle/band relations
    // right after the probe materializes (the index holds ALL kept
    // docs, so nothing downstream gates the append) — one tokenize +
    // shingle + minhash pass over the batch instead of two.
    // (The fused result is already checkpoint-backed; the projection
    // below re-reads that checkpoint per consumer, and the existing
    // free(pairs) after the CC run releases it.)
    val pairs = DedupStore.searchNewAndAppend(s, s"$path/neardup", keptDocs,
        "doc_id", "text", p.n, p.bands, p.rowsPerBand, p.threshold)
      .select(col("doc_a"), col("doc_b"))

    // (3) Reconstruct ONLY the touched clusters: latest-generation rows
    // of every member of every cluster a pair endpoint belongs to.
    val clusters = s.read.parquet(s"$path/clusters")
    val endpoints = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val touchedStored = endpoints.join(newIds, Seq("doc_id"), "left_anti")
    val touchedReps = latest(clusters.join(touchedStored,
        clusters("member_id") === touchedStored("doc_id"), "left_semi"))
      .select(col("rep_id")).distinct()
    // Two passes so stale generations can't smuggle members in: candidate
    // rows by rep, then latest-per-member, then keep only true members.
    val candMembers = clusters.join(touchedReps, Seq("rep_id"), "left_semi")
      .select(col("member_id")).distinct()
    val coRows = latest(clusters.join(candMembers, Seq("member_id"), "left_semi"))
      .join(touchedReps, Seq("rep_id"), "left_semi")
      .localCheckpoint(false) // materialized by the CC run's edge persist

    // (4) Components of (new pairs ∪ stored star edges): exactly the
    // batch CC's touched components — a stored cluster enters whole
    // through its member→rep edges, and a bridging new doc merges
    // clusters just as the batch run would.
    val cc = ConnectedComponents.run(pairs.unionAll(
        coRows.select(col("member_id").as("doc_a"), col("rep_id").as("doc_b"))))
      .localCheckpoint(true)
    free(pairs)

    // (5) Canonical election per merged component (longest tokenization,
    // min id). Stored weights come from the clusters relation; a
    // REMOVED rep id can appear as a dangling CC vertex (it is still
    // the cluster's draw key) but never as a canonical candidate — the
    // inner join drops it.
    val ntokNew = keptDocs.select(col("doc_id").as("member_id"),
      nTok(col("text")).as("n_tok"))
    val membersW = cc.join(
      coRows.select(col("member_id"), col("n_tok")).unionAll(ntokNew),
      "member_id")
    val canon = Dedup.canonical(membersW)
    val losers = cc.join(canon, "rep_id")
      .filter(col("member_id") =!= col("canon_id"))
      .select(col("member_id").as("doc_id"))
      // consumed by dropsB and dethroned; materialized through withRep0
      .localCheckpoint(false)
    val dropsB = losers.join(newIds, Seq("doc_id"), "left_semi")
    // dropsB is batch-bounded but cc is touched-COMPONENT-bounded — on a
    // dup-heavy crawl the merged components can grow with the corpus, so
    // both hints are size-gated (AQE still broadcasts at runtime when the
    // actual shuffle is small; past the gate it degrades to a shuffled
    // join instead of an executor OOM).
    val withRep0 = keptDocs
      .join(graft.ops.Hints.broadcastIfSmall(dropsB), Seq("doc_id"), "left_anti")
      .join(graft.ops.Hints.broadcastIfSmall(
          cc.select(col("member_id").as("doc_id"), col("rep_id"))),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("rep_id"), col("doc_id")).as("rep_id"))
      .localCheckpoint(false) // materialized by the span probe / sem stage

    // (5b) Optional SEMANTIC stage: near-dup survivors probe the
    // persisted IVF store ([[graft.sim.IndexStore.dedupNewIvfStatic]] —
    // flagged when a stored accepted vector, or a smaller-id batch
    // peer, reaches vecEps cosine in the same sign cell). Docs without
    // a vector pass and are not indexed. The store holds ACCEPTED
    // vectors only (a dropped doc's near-match does not block future
    // arrivals — spec-pinned), mirroring the span store's
    // survivors-only population.
    val (withRep, survVecs) = vecs match {
      case None => (withRep0, None)
      case Some(v0) =>
        // (Existence of the ivf store was validated at step 0a, before
        // any append could land.)
        val sv = normVecs(v0)
          .join(withRep0.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
          .localCheckpoint(true)
        val res = graft.sim.IndexStore.dedupNewIvfStatic(
          s, s"$path/ivf", sv, p.vecDims, p.vecEps)
        val flagged = res.filter(col("is_dup"))
          .select(col("vec_id").as("doc_id")).localCheckpoint(true)
        free(res)
        val keptSem = withRep0.join(flagged, Seq("doc_id"), "left_anti")
          .localCheckpoint(true)
        (keptSem, Some(sv.join(keptSem.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")))
    }

    // (6) Dethroned stored docs: RELEASED members that just lost their
    // canonical seat to the batch. The union batch run's survivor set
    // excludes them, so their spans must not excise the new docs.
    // ORDER PIN (r18 ADVICE): `releasedB` below is a LAZY checkpoint
    // materialized by its own append to $path/released — so this read of
    // $path/released executes INSIDE the job that appends to it. That is
    // correct only because DataFrameReader.parquet() snapshots the file
    // listing (InMemoryFileIndex) EAGERLY here, before the append adds
    // files; a refactor that moves this read later, or defers/refreshes
    // the listing, would make the increment read its own appended rows.
    val released = s.read.parquet(s"$path/released")
    val dethroned = losers.join(newIds, Seq("doc_id"), "left_anti")
      .join(released.select(col("doc_id")), Seq("doc_id"), "left_semi")
      // consumed by two anti-joins; materialized through releasedB
      .localCheckpoint(false)

    // (7) Span excision: new-touching spans vs the released corpus's
    // original texts; only the batch (larger-id) side is excised, the
    // spanDedupApply earliest-survives rule. Fused probe+append: the
    // span index holds exactly the survivors being probed, so their
    // gram relation is written once, not recomputed for an append.
    val spansNew = SpanStore.searchNewAndAppend(s, s"$path/spans",
        withRep.select(col("doc_id"), col("text")), "doc_id", "text",
        p.minTokens)
      .join(dethroned.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(dethroned.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
    val ranges = spansNew
      .join(newIds.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(col("doc_b").as("id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e"))
      .distinct()
    val releasedB = Dedup.spanExciseByRanges(
        withRep.select(col("doc_id"), col("text")), "doc_id", "text", ranges)
      .join(withRep.select(col("doc_id"), col("rep_id")), "doc_id")
      .select(col("doc_id"), col("rep_id"),
        splitOf(col("rep_id")).as("split"), col("text_dedup"))
      .localCheckpoint(false) // materialized by the released append below

    // (8) Persist the rest of the increment (the near-dup and span
    // indexes were appended by their fused probes above): accepted
    // vectors, membership rows (+ rep reassignments from bridging
    // merges, as a new generation), the released rows.
    survVecs.foreach(v =>
      graft.sim.IndexStore.appendIvfStatic(v, p.vecDims, s"$path/ivf"))
    val newRows = ntokNew
      .join(cc, Seq("member_id"), "left")
      .select(col("member_id"),
        coalesce(col("rep_id"), col("member_id")).as("rep_id"),
        col("n_tok"), lit(gen).as("gen"))
    val repChanged = coRows
      .select(col("member_id"), col("rep_id").as("old_rep"), col("n_tok"))
      .join(cc, Seq("member_id"))
      .filter(col("rep_id") =!= col("old_rep"))
      .select(col("member_id"), col("rep_id"), col("n_tok"),
        lit(gen).as("gen"))
    newRows.unionAll(repChanged).write.mode("append").parquet(s"$path/clusters")
    releasedB.write.mode("append").parquet(s"$path/released")
    graft.RddScope.sweepExcept(s, before, releasedB)
    releasedB
  }

  /** [[DedupStore.recoverRelations]] over this store's own swapped
    * relations (clusters, released) — the per-store sub-stores have
    * their own `recover` (DedupStore.recover, SpanStore.recover). After
    * a crash inside [[remove]], recover each store, then re-run the
    * same remove (resume-safe per its contract; ReleaseStoreSpec
    * drives every rename kill point of all three swaps).
    */
  def recover(s: SparkSession, path: String): Unit =
    DedupStore.recoverRelations(s, path, Seq("clusters", "released"))

  /** Maintenance: compact every sub-store and this store's own
    * relations — the composed edition of the per-store compacts, run on
    * the same schedule. Beyond the file-splatter rewrite
    * ([[DedupStore.compact]] / [[SpanStore.compact]] fix the probes'
    * scan tax), the clusters relation FOLDS to its latest generation:
    * one row per member (max-gen row wins — exactly what `latest()`
    * computes per increment), so superseded rep rows from bridging
    * merges stop being rescanned; the surviving rows keep their gen
    * values, so the increment's gen sequence continues unbroken.
    * The classifier store needs no compaction (its partials are
    * dims²-bounded per increment; trainStored's sum absorbs them).
    * Increment results are unchanged across the rewrite (spec-pinned);
    * crash safety is the shared per-relation rename-aside swap.
    */
  def compact(s: SparkSession, path: String, files: Int = 8): Unit = {
    DedupStore.compact(s, s"$path/neardup")
    SpanStore.compact(s, s"$path/spans", files)
    val ivfP = new org.apache.hadoop.fs.Path(s"$path/ivf")
    if (ivfP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(ivfP))
      graft.sim.IndexStore.compact(s, s"$path/ivf")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path, ".compact.tmp")
    fs.delete(tmp, true)
    s.read.parquet(s"$path/clusters")
      .groupBy(col("member_id"))
      .agg(max(struct(col("gen"), col("rep_id"), col("n_tok"))).as("m"))
      .select(col("member_id"), col("m.rep_id").as("rep_id"),
        col("m.n_tok").as("n_tok"), col("m.gen").as("gen"))
      .repartitionByRange(files, col("member_id"))
      .sortWithinPartitions(col("member_id"))
      .write.parquet(s"$tmp/clusters")
    s.read.parquet(s"$path/released")
      .repartitionByRange(files, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.parquet(s"$tmp/released")
    DedupStore.swapRelations(fs, root, tmp, Seq("clusters", "released"))
  }

  /** Maintenance: RETIRE dethroned released docs — the operator-run
    * compaction policy the frozen-history contract's divergence (2)
    * defers to. [[increment]] never retracts a shipped release, so a
    * stored canonical that loses its seat to a longer batch arrival
    * stays in `released` and its anchor grams stay in the span store;
    * from that point the store diverges from the union batch run in two
    * observable ways: the dethroned doc is released where the batch run
    * drops it, and a FUTURE arrival carrying one of its spans is excised
    * where the batch run (whose survivor set no longer holds the doc)
    * would not be. `reconcile` closes both, out of band: re-elect each
    * cluster's canonical from the latest-generation membership rows
    * (exactly the batch rule — longest tokenization, min id; persisted
    * `n_tok`, never a corpus rescan), retire every RELEASED member that
    * is no longer its cluster's canonical (rewrite `released`, remove
    * its span grams, drop its vector from the optional IVF store), and
    * leave everything else alone: memberships stay (a retired doc is a
    * near-dup loser, and the batch run clusters over all kept docs),
    * the near-dup index stays (same reason), the classifier statistics
    * stay (the batch run trains on every arrival, losers included).
    * ReleaseStoreSpec pins init → increments → reconcile EQUAL to the
    * batch chain on the union — full released-row equality plus the
    * span-store behavioral pin (a post-reconcile arrival carrying a
    * retired doc's span is released uncut, exactly as the batch run).
    *
    * One shipped-history caveat survives by construction: a doc whose
    * text was ALREADY excised against a span source that was dethroned
    * later keeps its shipped `text_dedup` (an excision cannot be
    * undone — the store holds decisions, not raw pre-excision texts).
    * Between the dethroning increment and the next reconcile, new
    * arrivals are protected by [[increment]]'s own per-batch dethroned
    * filter only for same-batch dethronings; reconcile is the policy
    * that closes the cross-increment window.
    *
    * CADENCE (operator guidance, measured in AB-RELEASEINC-RECONCILE):
    * reconcile is a MAINTENANCE job, not a per-increment stage. The
    * re-election itself is one pass over the clusters relation (cheap —
    * persisted n_tok, no corpus rescan), and any non-empty retired set
    * pays relation-sized rewrites: a span-store grams rewrite
    * ([[graft.dedup.SpanStore.remove]]), the optional IVF remove, and a
    * full `released` rewrite — sized by the STORE, not the retired
    * count. Measured at 16×/64× sf0.01 corpora: 4.0/3.9 s retiring
    * 75/255 docs (~0.3× the same store's 12.3 s compact — the rewrites
    * parallelize and the span remove needs no pos-level df rescan), and
    * the idempotent no-op pass (retired empty — a scheduled run that
    * finds nothing) is 0.6 s. So: pair the retiring runs with
    * [[compact]]'s per-N-increments window (both are store-sized
    * asymptotically), but the no-op check is cheap enough to schedule
    * eagerly, and a dethroning spike (a dup-heavy crawl batch) can be
    * closed immediately without waiting for the compact window. Between
    * runs the store is correct under the frozen-history contract — the
    * cadence choice trades how long dethroned docs stay released (and
    * keep excising future arrivals) against maintenance cost, not
    * correctness. `clusterIds` (below) is the cheap middle ground: an
    * increment-triggered scoped reconcile re-elects only the touched
    * clusters, keeping the election pass batch-sized — though the
    * rewrites stay store-sized when anything retires. Measured
    * (AB-RELEASEINC-RECONCILE-SCOPED, 64-doc dethroning batch at
    * 16×/64× sf0.01): increment + scoped reconcile 15.2/22.3 s vs the
    * bare increment's 12.8/19.5 s — the same-window maintenance adds
    * +2.4/+2.8 s, FLAT in corpus, while the full-store sweep on the
    * same stores grows 2.5 → 4.4 s; so the eager schedule is
    * increment → scoped reconcile per batch, full sweep with compact.
    *
    * `clusterIds` scopes the re-election to the named clusters' rep ids
    * (first column, castable to long) — the out-of-band "reconcile what
    * the last increment touched" shape; `None` sweeps the whole store.
    * Crash-safe and idempotent: the span/IVF removes and the `released`
    * rewrite each go through the shared rename-aside swap, the rewrite
    * lands LAST, and a re-run after [[recover]] recomputes the same
    * retired set from the untouched clusters relation (removes of
    * already-absent ids are no-ops). Returns the retired ids
    * (doc_id LONG), checkpoint-backed — caller frees.
    */
  def reconcile(
      s: SparkSession, path: String,
      clusterIds: Option[DataFrame] = None): DataFrame = {
    val before = graft.RddScope.persisted(s)
    val scoped = clusterIds match {
      case None => latest(s.read.parquet(s"$path/clusters"))
      case Some(ids0) =>
        val reps = ids0
          .select(col(ids0.columns.head).cast("long").as("rep_id")).distinct()
        latest(s.read.parquet(s"$path/clusters"))
          .join(reps, Seq("rep_id"), "left_semi")
    }
    val canon = Dedup.canonical(scoped)
    // Retired = released members that lost the re-election. The current
    // canonical is always already released (increment pins the election
    // against the batch run per arrival), so this is exactly the set the
    // union batch run would not have released.
    val retired = scoped.join(canon, "rep_id")
      .filter(col("member_id") =!= col("canon_id"))
      .select(col("member_id").as("doc_id"))
      .join(s.read.parquet(s"$path/released").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    if (retired.isEmpty) {
      graft.RddScope.sweepExcept(s, before, retired)
      return retired
    }
    val hconf = s.sparkContext.hadoopConfiguration
    SpanStore.remove(s, s"$path/spans", retired)
    val ivfP = new org.apache.hadoop.fs.Path(s"$path/ivf")
    if (ivfP.getFileSystem(hconf).exists(ivfP))
      graft.sim.IndexStore.remove(s, s"$path/ivf", retired)
    // The released rewrite is the commit point — last, so a crash-retry
    // still sees the retired docs in `released` and re-runs the
    // (idempotent) span/IVF removes before committing.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(path, ".reconcile.tmp")
    fs.delete(tmp, true)
    s.read.parquet(s"$path/released")
      .join(retired, Seq("doc_id"), "left_anti")
      .write.parquet(s"$tmp/released")
    DedupStore.swapRelations(fs, root, tmp, Seq("released"))
    graft.RddScope.sweepExcept(s, before, retired)
    retired
  }

  /** Composed takedown across every store relation — remove the docs'
    * statistics, index rows, vectors, memberships, and released rows,
    * so every FUTURE probe behaves as if they had never arrived (the
    * per-store remove contracts, composed), with two deliberate,
    * documented divergences from a literal never-saw pipeline:
    *
    *   - splits are takedown-STABLE: surviving members keep their
    *     rep_id draw key even when the rep doc itself is removed (an
    *     id is not content), so no survivor's split reshuffles and
    *     future cluster joiners still inherit the cluster's split;
    *   - historical drops are not resurrected: if the removed doc was
    *     a cluster's released canonical, its dropped near-dups stay
    *     dropped (the store holds decisions, not raw texts — a
    *     resurrection pass would re-run the batch release on the
    *     affected cluster's raw docs, out of band).
    *
    * Callers pass the removed docs' CONTENT (a takedown names it), from
    * which the exact negated classifier partials are recomputed.
    * Resume-safe: if a prior remove of exactly these ids already landed
    * in the classifier's takedown ledger, the subtraction is skipped —
    * SAFELY, because the ledger append is [[ClassifierStore.remove]]'s
    * commit point and a committed token's staged negated partials are
    * live store state by construction (there is no window where the
    * ledger says removed but the sums still carry the docs) — and the
    * (idempotent) index/membership rewrites re-run; a PARTIAL ledger
    * overlap is ambiguous and refused.
    */
  def remove(
      s: SparkSession, removedDocs0: DataFrame, idCol: String, textCol: String,
      p: ReleaseParams, path: String): Unit = {
    val before = graft.RddScope.persisted(s)
    val docs = norm(removedDocs0, idCol, textCol).localCheckpoint(true)
    val ids = docs.select(col("doc_id"))
    val feat = LinearClassifier.features(docs, "doc_id", "text", p.dims)
      .localCheckpoint(true)
    val lab = LinearClassifier.weakLabels(docs, "doc_id", "text")
    val ledger = new org.apache.hadoop.fs.Path(s"$path/classifier/removed")
    val fs = ledger.getFileSystem(s.sparkContext.hadoopConfiguration)
    val alreadyRemoved =
      if (fs.exists(ledger))
        ids.join(s.read.parquet(ledger.toString), Seq("doc_id"), "left_semi").count()
      else 0L
    val total = ids.count()
    if (alreadyRemoved == 0L)
      ClassifierStore.remove(feat, lab, s"$path/classifier")
    else require(alreadyRemoved == total,
      s"ReleaseStore.remove: $alreadyRemoved of $total ids already in the " +
        "takedown ledger — a partial overlap is neither a fresh takedown " +
        "nor a resume; split the request")
    DedupStore.remove(s, s"$path/neardup", ids)
    SpanStore.remove(s, s"$path/spans", ids)
    val ivfP = new org.apache.hadoop.fs.Path(s"$path/ivf")
    if (ivfP.getFileSystem(s.sparkContext.hadoopConfiguration).exists(ivfP))
      graft.sim.IndexStore.remove(s, s"$path/ivf", ids)
    val root = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path, ".remove.tmp")
    fs.delete(tmp, true)
    s.read.parquet(s"$path/clusters")
      .join(ids.select(col("doc_id").as("member_id")),
        Seq("member_id"), "left_anti")
      .write.parquet(s"$tmp/clusters")
    s.read.parquet(s"$path/released")
      .join(ids, Seq("doc_id"), "left_anti")
      .write.parquet(s"$tmp/released")
    DedupStore.swapRelations(fs, root, tmp, Seq("clusters", "released"))
    free(feat); free(docs)
    graft.RddScope.sweepExcept(s, before,
      s.emptyDataFrame) // nothing survives the call
  }
}
