package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextFns

/** Document deduplication for training-data pipelines, scale-first:
  *
  *  - exact:   hash-groupBy on content digest — one shuffle, fully
  *             map-side-combinable;
  *  - n-gram Jaccard: exact pairwise similarity via a shingle-inverted
  *             index (explode → equi-join on shingle → count), which only
  *             pairs documents SHARING a shingle — never a cartesian;
  *  - MinHash+LSH: signature → bands → bucket equi-join, the sub-quadratic
  *             scale path, verified against exact Jaccard;
  *  - SimHash: 64-bit near-dup fingerprint via per-bit majority vote,
  *             composed entirely from codegen'd builtins.
  */
object Dedup {

  /** Exact dedup report: one row per distinct content hash with the
    * representative (minimum) id and the duplicate count.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy(col("h"))

  /** Edit-distance near-dup pairs: documents whose lowercase `prefixLen`-
    * char prefixes are within Levenshtein distance `maxDist` (k).
    *
    * Candidate generation is PassJoin-style SEGMENT blocking (Li, Deng,
    * Feng — EDBT'11; public algorithm): each indexed prefix of length
    * n ≥ k+1 is split into k+1 contiguous segments; k edits can touch at
    * most k of them, so any string within distance k contains at least one
    * segment VERBATIM, position-shifted by at most k. The probe side
    * therefore emits, for every candidate partner length l ∈ [m−k, m+k]
    * and segment index, the substrings at the ±k shift window, and
    * candidates fall out of an equi-join on (length, segment index,
    * content) — complete by pigeonhole, never a cartesian. Both-short
    * strings (length ≤ k, where empty segments void the pigeonhole) go
    * through a tiny residual all-pairs bucket. The refine is the
    * threshold-bounded `levenshtein(a, b, k)` builtin (banded O(k·n),
    * early-exit above k).
    *
    * Why not plain length banding (|Δlen| ≤ k is also lossless): real
    * corpora pile up at len == prefixLen, collapsing length bands into one
    * O(n²) bucket — measured 29.7 s at sf0.1 vs ~2 s for this form (the
    * banded twin is kept package-private as the equivalence baseline).
    * Distance on prefixes is the standard cheap screen for long-document
    * corpora; pair it with a shingle/minhash pass for whole-document
    * claims.
    */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      prefixLen: Int = 40,
      maxDist: Int = 5): DataFrame = {
    val k = maxDist
    val segs = k + 1
    val base = docs.select(
      col(idCol).as("id"),
      substring(lower(col(textCol)), 1, prefixLen).as("s"))
      .withColumn("ln", length(col("s")))

    // Index: k+1 segments per doc of length ≥ k+1. With n = b·segs + r,
    // the first r segments get b+1 chars — start_i = i·b + min(i, r).
    val idx = base.filter(col("ln") >= segs)
      .select(col("id").as("rid"), col("s"), col("ln").as("n"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("b", expr(s"n div $segs"))
      .withColumn("r", col("n") % segs)
      .withColumn("len", col("b") + when(col("i") < col("r"), 1).otherwise(0))
      .withColumn("st", col("i") * col("b") + least(col("i"), col("r")))
      .select(col("rid"), col("n"), col("i"),
        expr("substring(s, st + 1, len)").as("seg"))

    // Probe: for each partner length l and segment i, the content at every
    // admissible shift, using PassJoin's multi-match-aware substring
    // selection (EDBT'11, Lemma on substring bounds): with Δ = m − l and
    // 0-based segment i, a match of the FIRST/LAST matching segment under
    // an optimal ≤k-edit alignment must start in
    //   [max(0, st − i, st + Δ − (k − i)), min(m − len, st + i, st + Δ + (k − i))]
    // — the left budget is i (segments before it each consume an edit),
    // the right budget k − i. Window width ≤ min(2i, 2(k−i)) + 1 + |Δ|
    // correction, vs the loose ±k shift's constant 2k+1: ~3× fewer probe
    // rows at k=5. Completeness is re-asserted against the naive
    // length-banded baseline in OpsPropertySpec.
    val probe = base
      .select(col("id").as("sid"), col("s"), col("ln").as("m"),
        explode(sequence(col("ln") - k, col("ln") + k)).as("l"))
      .filter(col("l") >= segs)
      .select(col("sid"), col("s"), col("m"), col("l"),
        explode(sequence(lit(0), lit(k))).as("i"))
      .withColumn("b", expr(s"l div $segs"))
      .withColumn("r", col("l") % segs)
      .withColumn("len", col("b") + when(col("i") < col("r"), 1).otherwise(0))
      .withColumn("st", col("i") * col("b") + least(col("i"), col("r")))
      .withColumn("delta", col("m") - col("l"))
      .withColumn("plo",
        greatest(lit(0L), col("st") - col("i"), col("st") + col("delta") - (lit(k) - col("i"))))
      .withColumn("phi",
        least(col("m") - col("len"), col("st") + col("i"),
          col("st") + col("delta") + (lit(k) - col("i"))))
      // sequence(lo, hi) DESCENDS when lo > hi — emit nothing instead.
      .filter(col("plo") <= col("phi"))
      .select(col("sid"), col("s"), col("m"), col("l"), col("i"), col("len"),
        explode(sequence(col("plo"), col("phi"))).as("p"))
      .select(col("sid"), col("l"), col("i"),
        expr("substring(s, p + 1, len)").as("seg"))

    val blocked = probe.join(idx,
      probe("l") === idx("n") && probe("i") === idx("i") &&
        probe("seg") === idx("seg") && probe("sid") =!= idx("rid"))
      .select(
        least(col("sid"), col("rid")).as("id_a"),
        greatest(col("sid"), col("rid")).as("id_b"))

    // Residual: both strings ≤ k chars — any of their pairs may evade the
    // segment pigeonhole; the bucket is tiny by construction.
    val short = base.filter(col("ln") <= k)
    val shortPairs = short.select(col("id").as("id_a"))
      .join(short.select(col("id").as("id_b")), col("id_a") < col("id_b"))

    val cands = blocked.unionAll(shortPairs).distinct()
    cands
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), k))
      .filter(col("dist") >= 0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Length-banded twin of [[editDistancePairs]] — same output by
    * construction (|Δlen| ≤ k banding is also lossless), O(band²) work:
    * kept as the equivalence/test baseline the PassJoin form is asserted
    * against.
    */
  private[graft] def editDistancePairsBanded(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      prefixLen: Int = 40,
      maxDist: Int = 5): DataFrame = {
    val band = maxDist + 1
    val base = docs.select(
      col(idCol).as("id"),
      substring(lower(col(textCol)), 1, prefixLen).as("s"))
      .withColumn("ln", length(col("s")))
      .withColumn("bkt", expr(s"ln div $band"))
    val left = base
      .withColumn("jb", explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)))
      .select(col("id").as("id_a"), col("s").as("s_a"), col("ln").as("ln_a"), col("jb"))
    val right = base
      .select(col("id").as("id_b"), col("s").as("s_b"), col("ln").as("ln_b"), col("bkt"))
    left.join(right, col("jb") === col("bkt") && col("id_a") < col("id_b"))
      .filter(abs(col("ln_a") - col("ln_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-document distinct word-n-gram shingle relation: (id, s) — exactly
    * the shingle set of `TextFns.shingles`, assembled by posexplode → per-doc
    * window `lead`, so every operator is whole-stage-codegen'd at the cost of
    * one shuffle+sort of the exploded token relation. Measured at sf0.1
    * (local[32], min of 3) against exploding `TextFns.shingles` per row, it
    * wins every shingle consumer by 2.9–5.2× (d2 1.48 s vs 4.79, d3 2.15 vs
    * 4.18, d3b 2.70 vs 13.0, d6 0.65 vs 3.34): that form's `transform` +
    * `slice` lambdas are CodegenFallback, interpreted per row, a cost that
    * grows linearly with the corpus. The streaming twins still explode
    * `TextFns.shingles`, because window functions are unsupported on
    * streams.
    */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleIndexFromTokens(
      docs.select(
        col(idCol).as("id"),
        posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "tok"))),
      n)

  /** Window-`lead` shingle assembly over a PRE-BUILT token relation
    * (id, pos, tok) — lets a pipeline that already tokenized for another
    * consumer (p7's quality gate) reuse that relation instead of
    * re-exploding the corpus.
    */
  private[graft] def shingleIndexFromTokens(toks: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = (0 until n).map(j => if (j == 0) col("tok") else lead(col("tok"), j).over(w))
    toks
      .select(col("id"), concat_ws(" ", parts: _*).as("s"),
        lead(col("tok"), n - 1).over(w).isNotNull.as("complete"))
      .filter(col("complete"))
      .select(col("id"), col("s"))
      .distinct()
  }

  /** Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b, j ≥ threshold).
    * jaccard = |A∩B| / (|A|+|B|−|A∩B|) — pure integer arithmetic until the
    * final division, so results are bit-identical across engines.
    */
  def jaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.select(col("id").as("doc_a"), col("s"))
      .join(sh.select(col("id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("id"), col("n_sh").as("na")), col("doc_a") === col("id"))
      .drop("id")
      .join(counts.select(col("id"), col("n_sh").as("nb")), col("doc_b") === col("id"))
      .drop("id")
      .withColumn("j_raw",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("j_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j_raw"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[jaccardPairs]] with PREFIX FILTERING (AllPairs / PPJoin candidate
    * pruning, Bayardo et al. WWW'07; Xiao et al. WWW'08): order every
    * document's shingles by a single global total order (document
    * frequency ascending, shingle string as tie-break) and index only the
    * first `|s| − ⌈t·|s|⌉ + 1` shingles of each document. Any pair with
    * jaccard ≥ t must share at least one shingle inside BOTH prefixes
    * under a common order, so candidate generation over the prefix index
    * is EXACT — same output as [[jaccardPairs]], asserted in DedupSimSpec
    * — while the inverted index shrinks by ≈t and, because the global
    * order puts the RAREST shingles in the prefix, the per-shingle
    * candidate fan-out collapses (frequent boilerplate shingles fall out
    * of every prefix instead of being hard-capped by document frequency).
    * A size filter (t·|a| ≤ |b| ≤ |a|/t, a necessary condition for
    * j ≥ t) prunes cross-length candidates before the refine. Float
    * guard: both ⌈t·n⌉ sites subtract 1e-9 before `ceil` so binary
    * rounding of t·n can only lengthen a prefix / admit a borderline
    * candidate (safe direction); the exact refine restores precision.
    *
    * Regime (measured, fresh-JVM A/B): the prefix keeps
    * `n − ⌈t·n⌉ + 1 ≈ (1−t)·n` shingles, so pruning power scales with t.
    * At t = 0.8 on a 20k-doc corpus with a shared footer on half the
    * docs this wins 4.7× over the plain inverted index (7.4 s vs 35.0 s)
    * and 16× over a document-frequency-capped index (119.8 s) — while
    * staying exact, which the cap is not (it silently dropped 4 of 34k
    * pairs in the t = 0.3 leg of the same probe). At t = 0.3 it LOSES
    * (~70% of the index survives the prefix and the DF-join + rank
    * windows cost more than they save: QBench sf0.1 6.3 s vs d2's
    * 1.6 s). So: use this for high-threshold near-dup joins at crawl
    * scale; use [[jaccardPairs]] for low-threshold similarity mining on
    * bounded corpora.
    */
  def jaccardPairsPrefix(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("df_s"))
    val byRarity = Window.partitionBy(col("id")).orderBy(col("df_s"), col("s"))
    val prefixLen =
      col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1
    val prefix = sh.join(dfs, "s")
      .select(col("id"), col("s"),
        row_number().over(byRarity).as("rk"),
        count(lit(1)).over(Window.partitionBy(col("id"))).as("n_sh"))
      .filter(col("rk") <= prefixLen)
      .select(col("id"), col("s"), col("n_sh"))
    val candidates = prefix
      .select(col("id").as("doc_a"), col("s"), col("n_sh").as("na"))
      .join(prefix.select(col("id").as("doc_b"), col("s"), col("n_sh").as("nb")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("nb") >= lit(threshold) * col("na") - lit(1e-9) &&
        col("na") >= lit(threshold) * col("nb") - lit(1e-9))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    refineJaccard(candidates, sh, threshold)
  }

  /** Exact-Jaccard refine over a candidate pair relation `(doc_a, doc_b)`:
    * expand each candidate by doc_a's shingles, probe doc_b's shingle set,
    * keep pairs with j ≥ threshold. Work is Σ_cand |shingles(doc_a)| —
    * candidates only, never the all-co-shingled-pairs join. Shared by every
    * blocked dedup path (MinHash bands, portable bands, DF-capped index).
    */
  private[dedup] def refineJaccard(
      candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    refineJaccardCounted(candidates, sh,
      sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh")), threshold)

  /** [[refineJaccard]] with the per-doc shingle counts supplied by the
    * caller — the incremental path ([[DedupStore.searchNew]]) reads them
    * from the store instead of re-aggregating the corpus-sized shingle
    * relation per probe.
    */
  private[dedup] def refineJaccardCounted(
      candidates: DataFrame, sh: DataFrame, counts: DataFrame,
      threshold: Double): DataFrame = {
    val common = candidates
      .join(sh.select(col("id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col("id"), col("n_sh").as("na")), col("doc_a") === col("id"))
      .drop("id")
      .join(counts.select(col("id"), col("n_sh").as("nb")), col("doc_b") === col("id"))
      .drop("id")
      .withColumn("j_raw",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("j_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j_raw"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash-LSH candidate pairs refined by exact Jaccard.
    * bands·rowsPerBand = signature length. Banding: a pair lands in a
    * bucket iff one band of the signature matches exactly; the bucket join
    * replaces the all-pairs comparison. The exact-Jaccard refine step makes
    * the OUTPUT deterministic (a subset of [[jaccardPairs]]); recall is
    * asserted in ScalaTest.
    */
  /** The banding stage of [[minhashLshPairs]], factored so the persisted
    * index ([[DedupStore]]) shares it bit-for-bit: (id, band, bucket),
    * one row per document per band. The hash family (xxhash64 of the
    * shingle, seeded by k; bucket = xxhash64 of the band's minima in k
    * order) is deterministic across BATCHES — a document hashes to the
    * same buckets whenever it is indexed, which is what makes an
    * incremental probe against stored bands equal to re-running the
    * batch operator on the union.
    */
  def minhashBanded(
      sh: DataFrame, // (id, s) shingle relation
      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // Fully relational AND single-pass: ONE hash aggregation computes all
    // `numHashes` signature minima as combinable agg columns — no
    // ×numHashes row explosion, no second shuffle, no collect_list (the
    // same shape as Similarity's hyperplane buckets; the array
    // higher-order formulation would be CodegenFallback, the exploded one
    // multiplies shuffled rows by the signature length).
    val minCols = (0 until numHashes).map(k =>
      min(xxhash64(col("s"), lit(k))).as(s"m$k"))
    val sig = sh.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    // Per-band bucket key: hash of the band's minima in k order — a pure
    // projection over the one-row-per-doc signature.
    val bandCols = (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => col(s"m$k")): _*).as(s"b$b")
    }
    sig.select((col("id") +: bandCols): _*)
      .select(col("id"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"), col(s"b$b").as("bucket"))): _*)).as("e"))
      .select(col("id"), col("e.band").as("band"), col("e.bucket").as("bucket"))
  }

  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    // Materialized ONCE (eager localCheckpoint): both sides of the bucket
    // self-join read the banded relation, and each lazy read re-ran the
    // numHashes-way signature aggregation over the shingles. Reachable
    // from the result through `candidates`, so the standard sweep frees it.
    val banded = minhashBanded(sh, bands, rowsPerBand).localCheckpoint(true)
    val candidates = banded.select(col("band"), col("bucket"), col("id").as("doc_a"))
      .join(banded.select(col("band").as("band_b"), col("bucket").as("bucket_b"),
        col("id").as("doc_b")),
        col("band") === col("band_b") && col("bucket") === col("bucket_b") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // Exact refine restricted to CANDIDATE pairs from the start (see
    // [[refineJaccard]]) — never re-doing the O(pairs) work LSH avoids.
    refineJaccard(candidates, sh, threshold)
  }

  /** Portable (engine-independent) MinHash-LSH: hash family is
    * `int(md5(seed ':' shingle)[0:15])` — reproducible in any engine with
    * md5 — and banding is expressed relationally: a pair is a candidate
    * iff its per-hash minima agree on EVERY row of some band. No arrays,
    * no engine-specific hash; the whole pipeline (including the exact-
    * Jaccard refine) has an exact SQL oracle (see PipelineQueries).
    * The xxhash64 variant ([[minhashLshPairs]]) stays the fast production
    * path; this one exists to make the approximate family hash-checkable.
    */
  def minhashLshPairsPortable(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    // (id, k, m): minimum of the k-th hash over the doc's shingles.
    val sig = sh
      .select(col("id"), col("s"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("k"))
      .select(col("id"), col("k"),
        graft.ops.Portable.md5Long(
          concat(col("k").cast("string"), lit(":"), col("s"))).as("h"))
      .groupBy(col("id"), col("k"))
      .agg(min(col("h")).as("m"))
    // candidate pair iff all rowsPerBand minima of some band agree.
    val matches = sig.select(col("id").as("doc_a"), col("k"), col("m"))
      .join(sig.select(col("id").as("doc_b"), col("k").as("k2"), col("m").as("m2")),
        col("k") === col("k2") && col("m") === col("m2") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"),
        floor(col("k") / rowsPerBand).cast("int").as("band"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === rowsPerBand)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // exact-Jaccard refine restricted to candidates ([[refineJaccard]]).
    refineJaccard(matches, sh, threshold)
  }

  /** MinHash-LSH BANDING design table — the third member of the tuning
    * trilogy next to the dedup-τ sweep (d20) and the ANN probe sweep
    * (n14): which (bands, rowsPerBand) split of a fixed signature budget
    * should a dedup run use? For every config r ∈ {1, 2, 4, …,
    * numHashes/2} with b = numHashes / r, the empirical candidate-pair
    * count, the true-pair hits (exact n-gram Jaccard ≥ threshold — the
    * same ground truth the LSH approximates), precision, recall, and the
    * theoretical S-curve catch probability 1 − (1 − τ^r)^b at the design
    * threshold (Leskovec/Rajaraman/Ullman MMDS §3.4.2 — the curve whose
    * empirical columns this table IS).
    *
    * Computed WITHOUT re-running LSH per config: the numHashes portable
    * md5 minima are computed ONCE (the d3b signature shape), the per-seed
    * match relation (doc_a, doc_b, k) once (one equi-join on (k, min) —
    * the same join every portable banding makes), then a bounded
    * |configs|× broadcast fan regroups the SAME match rows under each
    * config's band width (a band fires iff all r of its seeds match —
    * count == r). Ground truth is one exact-Jaccard pass over the shared
    * shingle relation — the design-time fixture cost, same as d20's. All
    * counts exact integers; three rounded divisions + one rounded
    * pow-of-exact-inputs → full DuckDB hash oracle.
    */
  def lshBandSweep(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, threshold: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    val sig = sh
      .select(col("id"), col("s"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("k"))
      .select(col("id"), col("k"),
        graft.ops.Portable.md5Long(
          concat(col("k").cast("string"), lit(":"), col("s"))).as("h"))
      .groupBy(col("id"), col("k"))
      .agg(min(col("h")).as("m"))
    val matches = sig.select(col("id").as("doc_a"), col("k"), col("m"))
      .join(sig.select(col("id").as("doc_b"), col("k").as("k2"), col("m").as("m2")),
        col("k") === col("k2") && col("m") === col("m2") &&
          col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("k"))
    val rs = Iterator.iterate(1L)(_ * 2).takeWhile(_ <= numHashes / 2).toSeq
    val confs = rs.map(r => (r, numHashes / r)).toDF("rows_per_band", "bands")
    // One bounded fan of the shared match rows across configs; a band of
    // width r fires iff all r of its seeds matched for the pair.
    val cand = matches.crossJoin(broadcast(confs))
      .groupBy(col("doc_a"), col("doc_b"), col("rows_per_band"),
        expr("k div rows_per_band").as("band"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") === col("rows_per_band"))
      .select(col("doc_a"), col("doc_b"), col("rows_per_band"))
      .distinct()
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val truth = sh.select(col("id").as("doc_a"), col("s"))
      .join(sh.select(col("id").as("doc_b"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(counts.select(col("id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(counts.select(col("id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .filter(col("common").cast("double") /
        (col("na") + col("nb") - col("common")) >= threshold)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("is_true"))
    val nTrue = truth.agg(count(lit(1)).as("n_true_pairs"))
    val perConf = cand.join(truth, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("rows_per_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(coalesce(col("is_true"), lit(0L))).as("n_hits"))
    // Right-join back onto the config list so a config with ZERO
    // candidates still gets its row (the design table must show it).
    confs.join(perConf, Seq("rows_per_band"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true_pairs"),
        coalesce(round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          nullif(col("n_candidates"), lit(0L)), 6), lit(0.0)).as("precision"),
        coalesce(round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          nullif(col("n_true_pairs"), lit(0L)), 6), lit(0.0)).as("recall"),
        round(lit(1.0) - pow(lit(1.0) - pow(lit(threshold),
          col("rows_per_band").cast("double")), col("bands").cast("double")), 6)
          .as("catch_prob_at_tau"))
      .orderBy(col("rows_per_band"))
  }

  /** MinHash as an ESTIMATOR, with its error published — the dedup
    * family's approx-vs-exact accuracy table (the same contract the
    * sketch warehouse ships for HLL/CMS/KLL): for every pair sharing at
    * least one of the `numHashes` portable minima, the MinHash estimate
    * ĵ = (matching minima)/numHashes next to the exact n-gram Jaccard
    * and the absolute error. ĵ is an unbiased estimator with
    * Var = j(1−j)/k (each minimum matches independently with probability
    * exactly j — Broder 1997), so at k = 32 the error column should
    * concentrate under ~2·√(j(1−j)/32) ≈ 0.18 — DedupSimSpec pins the
    * mean error well under that bound. Everything is deterministic
    * (integer match counts, one exact division each) → full hash oracle.
    *
    * Scale shape: the signature is one md5 aggregation (the d3b shape);
    * candidate pairs come from the per-seed match equi-join (bounded by
    * min-collisions — the r=1 end of the d21 ladder, the loosest
    * candidate set the banding family ever produces); the exact refine is
    * computed ONLY on those candidates (never all-pairs).
    */
  def minhashEstimate(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int): DataFrame = {
    val sh = shingleIndex(docs, idCol, textCol, n).localCheckpoint(true)
    val sig = sh
      .select(col("id"), col("s"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("k"))
      .select(col("id"), col("k"),
        graft.ops.Portable.md5Long(
          concat(col("k").cast("string"), lit(":"), col("s"))).as("h"))
      .groupBy(col("id"), col("k"))
      .agg(min(col("h")).as("m"))
    val matchCounts = sig.select(col("id").as("doc_a"), col("k"), col("m"))
      .join(sig.select(col("id").as("doc_b"), col("k").as("k2"), col("m").as("m2")),
        col("k") === col("k2") && col("m") === col("m2") &&
          col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_match"))
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    // Exact counts restricted to the CANDIDATE pairs from the start (the
    // refineJaccard discipline): candidates drive both shingle probes.
    val common = matchCounts.select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("id").as("doc_a"), col("s")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    val exactJ = col("common").cast("double") /
      (col("na") + col("nb") - col("common"))
    val estJ = col("n_match").cast("double") / numHashes
    matchCounts
      .join(common, Seq("doc_a", "doc_b"), "left") // equal minima ⇒ ≥1 shared shingle, but keep the guard
      .join(counts.select(col("id").as("doc_a"), col("n_sh").as("na")), "doc_a")
      .join(counts.select(col("id").as("doc_b"), col("n_sh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        round(estJ, 6).as("est_jaccard"),
        round(coalesce(exactJ, lit(0.0)), 6).as("jaccard"),
        round(abs(estJ - coalesce(exactJ, lit(0.0))), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Portable 16-bit SimHash over md5-derived token hashes — same
    * engine-independence rationale as [[minhashLshPairsPortable]]; the
    * 64-bit xxhash64 variant ([[simhash64]]) is the production path.
    */
  def simhash16Portable(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("id"),
      explode(TextFns.tokens(col(textCol))).as("t"))
    val h = graft.ops.Portable.md5Long(col("t"))
    val votes = (0 until 16).map { j =>
      sum(when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, 1).otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until 16).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id").as("doc_id"), fp.as("simhash16"))
      .orderBy(col("doc_id"))
  }

  /** Production 64-bit SimHash per document, relational codegen shape
    * (same discipline as [[simhash16Portable]]): explode tokens →
    * codegen'd xxhash64 → 64 conditional ±1 vote sums in ONE hash
    * aggregation → bit assembly. The earlier array higher-order
    * formulation (`transform`/`aggregate` lambdas) was CodegenFallback —
    * interpreted per row per bit; this shape stays inside whole-stage
    * codegen and its 64 sums are map-side combinable. Token multiplicity
    * is preserved (explode, no distinct), so fingerprints are identical
    * to the lambda form's; a document with a null token array keeps its
    * row (explode_outer) with the all-zero-vote fingerprint 0.
    */
  def simhash64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      explode_outer(TextFns.tokens(col(textCol))).as("t"))
    val h = xxhash64(col("t"))
    val votes = (0 until 64).map { j =>
      sum(when(col("t").isNull, 0)
        .when(shiftright(h, j).bitwiseAND(lit(1L)) === 1, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val fp = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-duplicate PAIRS within Hamming radius `r` — production
    * simhash dedup shape: band the 16-bit portable fingerprint into 4
    * nibbles; by pigeonhole any pair with ≤3 differing bits agrees exactly
    * on at least one nibble, so the band equi-join candidate set is
    * COMPLETE for r ≤ 3 (never a cartesian — same blocking idea as
    * MinHash-LSH banding but with a completeness guarantee); refine is
    * popcount(xor) ≤ r. Fully oracle-checkable (see d4c).
    */
  def simhashPairsPortable(
      docs: DataFrame, idCol: String, textCol: String, radius: Int = 3): DataFrame = {
    val fps = simhash16Portable(docs, idCol, textCol)
      .select(col("doc_id").as("id"), col("simhash16").as("fp"))
    hamming16Pairs(fps, radius, "doc_a", "doc_b")
  }

  /** Banded Hamming-radius pair join over ANY 16-bit fingerprint relation
    * `(id, fp)` — the blocking core shared by text SimHash (d4c) and the
    * multimodal perceptual-hash dedup (m4). 4 nibble bands; complete for
    * r ≤ 3 by pigeonhole (see [[simhashPairsPortable]]).
    */
  private[graft] def hamming16Pairs(
      fps: DataFrame, radius: Int, outA: String, outB: String): DataFrame = {
    require(radius >= 0 && radius <= 3, "4-band blocking is complete only for r <= 3")
    hamming16Candidates(fps, outA, outB)
      .filter(col("hamming") <= radius)
      .select(col(outA), col(outB), col("hamming"))
      .orderBy(col(outA), col(outB))
  }

  /** The banded candidate set WITHOUT the radius refine — every pair
    * agreeing on ≥1 of the 4 nibble bands, with its exact Hamming
    * distance: (outA, outB, hamming). [[hamming16Pairs]] filters it to a
    * radius; d24's sweep reads it raw to measure where the blocking's
    * pigeonhole completeness (r ≤ 3) ends.
    */
  private[graft] def hamming16Candidates(
      fps: DataFrame, outA: String, outB: String): DataFrame = {
    val banded = fps
      .select(col("id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("shiftright(fp, band * 4) & 15"))
    val candidates = banded.select(col("band"), col("bkey"), col("id").as(outA))
      .join(banded.select(col("band").as("band_b"), col("bkey").as("bkey_b"),
          col("id").as(outB)),
        col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
          col(outA) < col(outB))
      .select(col(outA), col(outB))
      .dropDuplicates(outA, outB)
    candidates
      .join(fps.select(col("id").as(outA), col("fp").as("fp_a")), outA)
      .join(fps.select(col("id").as(outB), col("fp").as("fp_b")), outB)
      .withColumn("hamming", expr("cast(bit_count(fp_a ^ fp_b) as bigint)"))
  }

  /** Benchmark-decontamination report: which training documents share at
    * least one word n-gram with a held-out benchmark document (the
    * standard test-set-leakage check run before LLM training). Output:
    * (train_id, bench_id, n_shared) for every contaminated pair.
    *
    * Scale shape: the BENCHMARK side is tiny relative to a 100 TB corpus
    * (a benchmark suite is ~10⁶ shingles), so its shingle index is
    * broadcast — the corpus streams through a broadcast hash join with
    * ZERO shuffle of training data; work ∝ co-occurring shingles, never
    * |train|×|bench|.
    */
  def contamination(
      train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    contaminationOnShingles(
      shingleIndex(train, idCol, textCol, n).select(col("id").as("train_id"), col("s")),
      shingleIndex(bench, idCol, textCol, n).select(col("id").as("bench_id"), col("s")))

  /** [[contamination]]'s join core over pre-built shingle relations
    * (train_id, s) / (bench_id, s) — entry point for pipelines that share
    * a token relation across stages (p7). The bench side is still
    * broadcast: the corpus never shuffles.
    */
  def contaminationOnShingles(trainSh: DataFrame, benchSh: DataFrame): DataFrame =
    trainSh
      .join(broadcast(benchSh), "s")
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("train_id"), col("bench_id"))

  /** Exact repeated-SPAN report: maximal cross-document token spans of
    * length ≥ `minTokens` — the ExactSubstr primitive of Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" (public),
    * re-expressed relationally instead of via their suffix array:
    *
    *  1. anchor grams: every `minTokens`-token window of every document
    *     (position-keyed, NOT deduped — window-`lead` assembly, the same
    *     codegen shape as the shingle index);
    *  2. seeds: equi-join on gram content, doc_a < doc_b — a repeated
    *     span of length s contains s − L + 1 consecutive anchor matches
    *     on ONE diagonal (pa − pb constant);
    *  3. merge: gaps-and-islands per (pair, diagonal) — island id =
    *     pa − row_number() — then min/max per island reconstructs each
    *     maximal span exactly once.
    *
    * Output: (doc_a, doc_b, start_a, start_b, span_len), 0-based token
    * offsets, span_len ≥ minTokens, ordered. Fully deterministic → fully
    * oracle-checkable.
    *
    * Scale shape: the anchor join is inverted-index (only documents
    * sharing a gram ever pair — never a cartesian); the merge window
    * partitions by (pair, diagonal), which is seed-count-sized. The skew
    * risk is a boilerplate gram shared by many documents (quadratic in
    * its df) — same profile as the shingle index; at corpus scale cap or
    * drop stop-grams by document frequency first (`maxDf`, via
    * `capGramsByDf`) and let AQE skew-split the residue.
    */
  def spanDedup(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val grams = capGramsByDf(anchorGrams(docs, idCol, textCol, minTokens), maxDf)
    val seeds = grams.select(col("id").as("doc_a"), col("pos").as("pa"), col("g"))
      .join(grams.select(col("id").as("doc_b"), col("pos").as("pb"), col("g")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"))
    spansFromSeeds(seeds, minTokens)
  }

  /** The stop-gram guard for the span family ([[spanDedup]]'s `maxDf`):
    * drop anchor grams occurring in MORE than `maxDf` distinct documents
    * before the seed equi-join — the standard ExactSubstr skew practice
    * (a boilerplate gram shared by d documents seeds d² pairs; capping
    * bounds the join's per-key fanout at maxDf² and excises the
    * quadratic hot keys entirely instead of asking AQE to split them).
    * Identity when maxDf = MaxValue (the default — plans of the oracled
    * d10/d11/d19/d23 entries are untouched). Semantics under a cap,
    * pinned by a DedupProperties property: a maximal span LOSES only
    * the positions of its capped anchors — it survives (possibly split
    * into shorter maximal runs, each still ≥ L) wherever any anchor
    * stays under the cap, and vanishes entirely only when EVERY anchor
    * window inside it is capped. The heavy-gram list is df-bounded
    * (≤ total-grams / maxDf entries) and the cap is applied as an
    * anti-join AQE can broadcast.
    */
  private[dedup] def capGramsByDf(grams: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) grams
    else {
      require(maxDf >= 1, s"maxDf must be >= 1; got $maxDf")
      val heavy = grams.select(col("g"), col("id")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select(col("g"))
      grams.join(heavy, Seq("g"), "left_anti")
    }

  /** [[spanDedup]]'s stage 1 as a reusable relation: every COMPLETE
    * `L`-token anchor window of every document, position-keyed —
    * (id, pos, g). Shared by the one-shot operator and the persisted
    * [[SpanStore]] (whose stored state IS this relation).
    */
  private[dedup] def anchorGrams(
      docs: DataFrame, idCol: String, textCol: String, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(L >= 2, s"span anchors need at least 2 tokens; got $L")
    val toks = docs.select(
      col(idCol).as("id"),
      posexplode(TextFns.tokens(col(textCol))).as(Seq("pos", "tok")))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = (0 until L).map(j => if (j == 0) col("tok") else lead(col("tok"), j).over(w))
    toks
      .select(col("id"), col("pos"), concat_ws(" ", parts: _*).as("g"),
        lead(col("tok"), L - 1).over(w).isNotNull.as("complete"))
      .filter(col("complete"))
      .select(col("id"), col("pos"), col("g"))
  }

  /** [[spanDedup]]'s stages 2b+3 from an already-joined seed relation
    * (doc_a, doc_b, pa, pb): per-(pair, diagonal) gaps-and-islands merge
    * into maximal spans. Factored so [[SpanStore.searchNew]]'s
    * new-touching seed arms reuse the exact merge.
    */
  private[dedup] def spansFromSeeds(seeds: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window
      .partitionBy(col("doc_a"), col("doc_b"), col("pa") - col("pb"))
      .orderBy(col("pa"))
    seeds
      .withColumn("isl", col("pa") - row_number().over(wd))
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pa") - col("pb")).as("diag"), col("isl"))
      .agg(
        min(col("pa")).as("sa"),
        min(col("pb")).as("sb"),
        (max(col("pa")) - min(col("pa")) + L).as("sl"))
      .select(
        col("doc_a"), col("doc_b"),
        col("sa").cast("long").as("start_a"),
        col("sb").cast("long").as("start_b"),
        col("sl").cast("long").as("span_len"))
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }

  /** Per-document repeated-span COVERAGE: the fraction of each document's
    * tokens lying inside some cross-document repeated span of length ≥
    * `minTokens` — the corpus-duplication diagnostic of Lee et al. 2022
    * (how much of the corpus is boilerplate/copied text), composed from
    * [[spanDedup]]'s span report:
    *
    *  1. project each span onto BOTH endpoint documents as a token range
    *     [start, start + len);
    *  2. merge overlapping/adjacent ranges per document — relational
    *     interval union via the running-max-of-end islands trick (a new
    *     island starts where a range begins past everything seen before);
    *  3. covered = Σ island lengths; coverage = covered / n_tokens.
    *
    * Output: (doc_id, n_tokens, covered, coverage) for every document
    * (0.0 when nothing repeats), coverage rounded to 6. Scale shape: the
    * span report dominates (see [[spanDedup]]); the merge is two windows
    * over span-count-sized data, partitioned by document.
    */
  def spanCoverage(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      maxDf: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = spanDedup(docs, idCol, textCol, minTokens, maxDf)
    val ranges = spans
      .select(col("doc_a").as("id"), col("start_a").as("s"),
        (col("start_a") + col("span_len")).as("e"))
      .unionAll(spans.select(col("doc_b").as("id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e")))
    val wOrd = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
    // Running max of `e` over STRICTLY PRECEDING ranges; a range whose
    // start clears it opens a new island. unboundedPreceding..(-1) makes
    // the first range of each doc see NULL (→ new island).
    val prevMax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val islanded = ranges
      .withColumn("brk", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(wOrd))
    val covered = islanded
      .groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("is"), max(col("e")).as("ie"))
      .groupBy(col("id"))
      .agg(sum(col("ie") - col("is")).as("covered"))
    val nTok = docs.select(
      col(idCol).as("id"),
      TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    nTok.join(covered, Seq("id"), "left")
      .select(
        col("id").as("doc_id"),
        col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(
          when(col("n_tokens") === 0, 0.0)
            .otherwise(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens")),
          6).as("coverage"))
      .orderBy(col("doc_id"))
  }

  /** APPLY stage of cross-document span dedup — the artifact Lee et
    * al. 2022's ExactSubstr dedup actually emits (§2.2: when a long
    * substring occurs in several places, "all but one" occurrence is
    * removed): every repeated span is EXCISED from a document unless an
    * EARLIER (smaller-id) document carries the same span, so exactly
    * the earliest occurrence in doc-id order survives corpus-wide (the
    * paper leaves which copy survives arbitrary; pinning earliest-doc
    * makes the output deterministic and oracle-able). Within-document
    * self-repeats are out of scope, as in [[spanDedup]] (its pair
    * report is doc_a < doc_b). Operates on the normalized token stream
    * (the lower/whitespace normal form every text operator here
    * shares); surviving tokens rejoin with single spaces. Returns
    * (doc_id, n_tokens, n_removed, text_dedup) — one row per document,
    * untouched documents included with n_removed = 0.
    *
    * Scale shape, on top of [[spanDedup]]'s anchor-gram equi-join +
    * diagonal islanding: the removal ranges are interval-merged per
    * document with the [[spanCoverage]] window (one (id | s, e) sort of
    * the SPAN relation — tiny vs the corpus); the excision join keys on
    * the document id (ranges-per-doc is bounded), and the rebuild is
    * one per-document aggregation — no stage touches more than the
    * token relation once.
    */
  def spanDedupApply(
      docs: DataFrame, idCol: String, textCol: String, minTokens: Int,
      maxDf: Int = Int.MaxValue): DataFrame = {
    val spans = spanDedup(docs, idCol, textCol, minTokens, maxDf)
    // Removal side only: the larger-doc occurrence of each pair span
    // (set-distinct — a doc repeating a span against several earlier
    // partners yields identical ranges, and dedup makes the islanding
    // window's ORDER BY a strict total order, the d11 lesson).
    val ranges = spans
      .select(col("doc_b").as("id"), col("start_b").as("s"),
        (col("start_b") + col("span_len")).as("e"))
      .distinct()
    spanExciseByRanges(docs, idCol, textCol, ranges)
  }

  /** [[spanDedupApply]]'s excision tail from an already-computed removal
    * relation `ranges` = (id, s, e) token intervals, set-distinct —
    * factored so the incremental release ([[graft.release.ReleaseStore]])
    * can excise an arriving batch from the new-touching spans a
    * [[SpanStore]] probe returns, with the exact interval-merge +
    * anti-join + rebuild the batch operator runs.
    */
  private[graft] def spanExciseByRanges(
      docs: DataFrame, idCol: String, textCol: String,
      ranges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy(col("id")).orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
    val merged = ranges
      .withColumn("brk", when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
      .withColumn("isl", sum(col("brk")).over(wOrd))
      .groupBy(col("id"), col("isl"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
    val removedCnt = merged.groupBy(col("id"))
      .agg(sum(col("re") - col("rs")).cast("long").as("n_removed"))
    val toks = docs.select(col(idCol).as("id"),
      posexplode(graft.text.TextFns.tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = toks.join(
      merged.select(col("id").as("rid"), col("rs"), col("re")),
      col("id") === col("rid") &&
        col("pos") >= col("rs") && col("pos") < col("re"),
      "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(pos, tok))), p -> p.tok)"),
        " ").as("text_dedup"))
    val nTok = docs.select(col(idCol).as("id"),
      graft.text.TextFns.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    nTok
      .join(rebuilt, Seq("id"), "left")
      .join(removedCnt, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
      .orderBy(col("doc_id"))
  }

  /** Near-duplicate CLUSTERS from a pair relation — the step that turns
    * "these documents are similar" into "keep this one, drop those":
    * connected components over the undirected pair graph, each member
    * labeled with its component's minimum id (the canonical
    * representative). Runs on GraphX Pregel (`connectedComponents`), the
    * same scale path as the PageRank flagship — label propagation in
    * O(diameter) supersteps over partitioned edges, no driver-side
    * union-find (which would need the whole pair set in one heap).
    * Deterministic: GraphX's component label IS the minimum vertex id.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val c = pairs.columns
    val edgeRdd = pairs
      .select(col(c(0)).cast("long"), col(c(1)).cast("long"))
      .rdd.map(r => org.apache.spark.graphx.Edge(r.getLong(0), r.getLong(1), ()))
    val persistedBefore = graft.RddScope.persisted(spark)
    val g = org.apache.spark.graphx.Graph.fromEdges(edgeRdd, ())
    val cc = g.connectedComponents()
    // Materialize the labels OFF the GraphX lineage, then sweep every RDD
    // the call cached: `connectedComponents` returns a Pregel-cached graph
    // (and `fromEdges` caches the input) that no Dataset-level cache API
    // can reach, and Pregel's internal per-superstep view RDDs have no
    // public handle at all (see [[graft.RddScope]]) — without the sweep
    // each call leaks the pair graph for the session's lifetime. The
    // component relation is cluster-count-sized (≪ corpus), so the eager
    // checkpoint is cheap at any scale; callers that want the blocks back
    // free them via `GraftInternals.freeLocalCheckpoint` (the Verify/Bench
    // drivers sweep between queries).
    val out = cc.vertices
      .map { case (id, comp) => (id, comp) }
      .toDF("member_id", "rep_id")
      .orderBy(col("member_id"))
      .localCheckpoint(true)
    graft.RddScope.sweepExcept(spark, persistedBefore, out)
    out
  }

  /** The canonical member of each near-dup cluster — longest
    * tokenization, min id on ties — from (member_id, rep_id, n_tok) rows:
    * (rep_id, canon_id), one row per cluster. d13 and the release
    * chain's batch run, increment and reconcile all elect by this rule.
    */
  def canonical(members: DataFrame): DataFrame = members
    .groupBy(col("rep_id"))
    .agg(max(struct(col("n_tok"), (-col("member_id")).as("neg"))).as("b"))
    .select(col("rep_id"), (-col("b.neg")).as("canon_id"))
}
