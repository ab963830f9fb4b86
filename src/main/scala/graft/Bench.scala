package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.GraftInternals

/** Headline benchmark (driver-run per round → BENCH_r{N}.json).
  *
  * Prints ONE JSON line with per-query wall seconds on
  * `SPARK_GRAFT_SF_DIR`. The set covers each operator family once
  * (scan, join chain, agg, top-k, window, analytics window, cube,
  * sessionize, resample, dedup exact/LSH/embedding, ANN, text quality,
  * iterative PageRank) plus `pagerank_wikidata` — the reference-parity
  * flagship on the reference's own dataset, directly comparable to
  * BASELINE.md's 6.35 s single-node total — and `pagerank_scaled`, a
  * deterministic 2M-edge power-law graph that measures the DataFrame-loop
  * vs GraphX crossover beyond toy |V|.
  *
  * Reporting: per query BOTH the min and the mean of two timed runs.
  * `queries` (the driver-compared map) carries the min — steady-state
  * latency, cold-JIT run excluded, matching how the reference baseline was
  * taken — while `queries_mean` keeps regressions visible that best-of-N
  * would mask. The long scaled-graph entries run once (the JVM is warm by
  * then); their min and mean coincide.
  *
  * SELF-DIAGNOSIS — the artifact must be able to distinguish "plan
  * regressed" from "machine was busy" (a contended driver run once
  * recorded heavy queries 4–6× inflated and cost a round of perf signal):
  *  - `diag.<q>.cpu_s`: executor CPU seconds of the min-wall run, summed
  *    over its stages by a listener. External CPU starvation inflates wall
  *    but NOT cpu (same work, fewer cycles/sec available) — so
  *    wall ≫ cpu/cores with cpu flat across rounds proves interference,
  *    while a real regression moves wall AND cpu together.
  *  - `diag.<q>.load1`: max 1-min loadavg observed around the query's
  *    runs. A loaded box (load1 ≫ cores busy with Spark alone) is named
  *    directly in the artifact.
  *  - `diag.<q>.gc_ms` / `diag.<q>.rss_mb`: executor JVM-GC millis of
  *    the min-wall run (summed task metrics) and the driver RSS at its
  *    end. GC thrash moves wall AND gc_ms together; CPU steal moves
  *    wall alone — so an inflated wall with flat gc_ms and sane rss is
  *    contention EVIDENCE, not inference from load1 (r17 verdict #7).
  *  - `diag.<q>.leaked_rdds`: persistent RDDs left behind by the query
  *    EXCLUDING checkpoint backings of its own result (those are the
  *    result by design — QueriesSpec enforces the same contract), all
  *    swept (unpersisted) before the next query starts. Non-zero here is
  *    a genuine stray persist; the r9 bar is zeros across the board.
  *  - `diag.<q>.error`: the exception class and message of the leg's
  *    first failed run. A failed run is caught, so one bad leg cannot
  *    stop the run, and its wall reads -1 when no run succeeded; this
  *    field says why.
  *  - top-level `cores`, `load1_start`/`load1_end`: session-wide context.
  *  - `floor_watch`: every leg whose min wall moved > 1.3x against the
  *    previous round's floors at the same sf and core count, both sides
  *    >= 0.25 s. Bench measures and lists; it does not adjudicate. A
  *    listed leg is re-measured on a fresh JVM by hand with [[QBench]].
  *
  * Output contract: the FINAL stdout line is the compact driver-parsed JSON
  * (min-wall per query only — it must fit the driver's 2000-char stdout
  * tail); the full diagnosis payload is printed earlier as `BENCH_DIAG {...}`
  * and written to `bench_diag.json` for the round snapshot.
  *
  * A kill costs the tail, never the run: each completed leg immediately
  * rewrites `bench_partial.json` (atomic rename — survives SIGKILL), and a
  * shutdown hook prints the one-line result from whatever legs completed,
  * marked `"partial":true` while legs are still outstanding.
  */
object Bench {

  private val Headline: Seq[String] = Seq(
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_share",
    "q17_small_quantity",
    "q18_large_orders",
    "q13_order_histogram",
    "q21_waiting_supplier",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q20_promotable_parts",
    "s1_scan_project",
    "j3_join_chain",
    "a4_keyed_sum",
    "a6_renormalize",
    "a13_cube",
    "o4_topk",
    "w1_rank_window",
    "w2_analytics_window",
    "w4_topn_per_group",
    "e2_sessionize",
    "e23_session_window",
    "e9_asof_join",
    "e10_range_join",
    "e13_overlap_sessions",
    "e19_funnel_latency",
    "e11_resample_locf",
    "t2_quality_score",
    "t9_quality_gopher",
    "d1_dedup_exact",
    "d6_decontaminate",
    "p7_curate",
    "d9_editdist_pairs",
    "d10_span_dedup",
    "p8_pack_chunks",
    "p15_corpus_build",
    "p12_winsorize",
    "t11_tfidf",
    "t13_bigram_surprisal",
    "t13b_surprisal_hinted",
    "t16_repetition",
    "t20_nb_langid",
    "t21_ccnet_buckets",
    "t22_classifier_train",
    "t23_classifier_score",
    "t24_classifier_calibration",
    "t25_ridge_sweep",
    "t26_classifier_threshold",
    "p19_classifier_release",
    "p20_release_pipeline",
    "p21_release_funnel",
    "p16_dsir_resample",
    "p18_temperature_sweep",
    "d17_ngram_boilerplate",
    "p17_leakage_safe_split",
    "d19_span_dedup_apply",
    "d20_threshold_sweep",
    "d21_lsh_band_sweep",
    "d23_span_length_sweep",
    "d24_simhash_radius_sweep",
    "d22_minhash_estimate",
    "d18_semdedup",
    "d18b_semdedup_portable",
    "e14_zscore_outliers",
    "e16_scd2",
    "e17_hopping_window",
    "e18_rolling_range",
    "d12_bloom_decontaminate",
    "d2_jaccard_pairs",
    "d16_jaccard_prefix",
    "d3_minhash_lsh",
    "d4_simhash",
    "d5_embedding_pairs",
    "d7b_clusters_df",
    "d13_fuzzy_dedup_apply",
    "d15_dup_matrix",
    "n1_ann_brute",
    "n2_ann_lsh",
    "n5_sq_encode",
    "n8_ann_pq",
    "n11_ann_ivf_multiprobe",
    "n13_ann_ivf_tuned",
    "n13b_ann_tuned_portable",
    "n14_probe_sweep",
    "g3_triangles",
    "g4_khop",
    "g6_sssp",
    "g7_kcore",
    "g8_label_prop",
    "g9_assortativity",
    "g11_link_prediction",
    "g13_scc",
    "g14_path_load",
    "g15_random_walks",
    "g16_biased_walks",
    "g17_walk_skipgrams",
    "g18_negative_sampling",
    "g19_walk_pmi",
    "g20_modularity",
    "g21_conductance",
    "a20_theta_ops",
    "a21_cms",
    "a22_hll_rollup",
    "a23_kll_rollup",
    "a24_cms_selfjoin_est",
    "m4_phash_pairs",
    "m5_image_decode",
    "m7_audio_decode",
    "m8_phash_audio",
    // m9_phash_video_frames is correctness-gated only, like m6: the
    // deterministic mod-256 still formula is fingerprint-degenerate by
    // design (it is what makes the oracle closed-form), so at sf0.1's
    // 40k frames the 64 nibble buckets each hold ~2.5k rows and the
    // candidate join is quadratic-in-bucket — a fixture artifact, not
    // an operator property (real pHashes spread over 2^16 like m4's).
    "e21_mad_outliers",
    "t19_bpe_tokens",
    "i4_personalized",
    "i5_hits",
    "i1_pagerank_fixed",
    "i6_weighted_pagerank",
    "pr_renorm",
    "pr_graphx")

  /** Previous ROUND's per-query min walls — the floor-watch baseline.
    *
    * Primary source: the highest-numbered `BENCH_r{N}.json` driver
    * artifact, which is written exactly once per round at judging time.
    * The r10 detector instead read the working-dir `bench_diag.json`,
    * which this harness OVERWRITES on every run — so after the first
    * in-round bench, the comparator was diffing against an interim
    * same-round floor and a genuine 8.01 → 29.59 s mover
    * (pagerank_scaled_graphx, r10) sailed through unflagged. Round
    * artifacts can't be overwritten mid-round, so they are the floors
    * that make "moved vs last round" mean what it says.
    *
    * The artifact alone is NOT a complete floor set: when the bench line
    * overflows the driver's 2000-char tail, the emitted queries map is a
    * slowest-legs subset marked `"_dropped_fastest": N` (inside `queries`
    * in the committed artifacts, top-level in newer lines; r11 dropped 39
    * legs that way), so a fast leg regressing would have no floor and
    * sail through — the same failure mode the artifact move was meant to
    * eliminate. And the artifact records single-run session walls taken
    * under whatever load that round ran at, where the sidecar stores
    * per-query MIN walls. So: merge BOTH sources — the `_dropped_fastest`
    * marker is skipped, keys present in only one source use that source,
    * and keys present in both take the per-query min (an inflated noisy-
    * round artifact wall can't mask a mover the sidecar floor would
    * catch). The sidecar can be a mid-round overwrite for keys the
    * artifact also has — min() is immune to that (a slow mid-round value
    * loses to the artifact; a fast one only lowers the floor, which flags
    * MORE, never less). Residual exposure is only the dropped-fastest
    * keys, whose floors come from the sidecar alone — annotated in the
    * source name so the notes say what set the floors.
    *
    * Every source must match this run's sf AND core count (`"cpus"` in
    * `BENCH_rN.json`, `"cores"` in the floors snapshot and the sidecar):
    * the 8-core r19 run's d13 floor was 18.74 s against 6.29 s at 32
    * cores, so a floor from another core count loosens or tightens the
    * floor watch by accident. A source that records no core count is not
    * used, and of the round files the newest matching one is read. With
    * no matching source the map is empty and the name reads
    * `no baseline at N cores`. Returns (floors, sourceName).
    */
  private[graft] def previousMinWalls(
      dir: java.io.File, sfDir: String, cores: Int): (Map[String, Double], String) = {
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
    def sameSfNum(txt: String): Boolean =
      "\"sf\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(txt)
        .map(_.group(1).toDouble) == sfNum
    def sameSfDir(txt: String): Boolean = sfDirOf(txt).contains(sfDir)
    // (floors, file text) when `f` is a usable source for this run.
    def accept(f: java.io.File, coresKey: String, queriesKey: String,
        sameSf: String => Boolean): Option[(Map[String, Double], String)] =
      try {
        if (!f.isFile) None
        else {
          val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          val qs = parseQueriesMap(txt, queriesKey)
          if (qs.nonEmpty && sameSf(txt) && intKey(txt, coresKey).contains(cores))
            Some((qs, txt))
          else None
        }
      } catch { case _: Throwable => None }
    // The newest round file named BENCH_r{N}`suffix` that `use` accepts.
    def newestRound(suffix: String)(
        use: java.io.File => Option[(Map[String, Double], String)])
        : Option[(Map[String, Double], String, java.io.File)] =
      roundFiles(dir, suffix).sortBy(-_._1).iterator
        .flatMap { case (_, f) => use(f).map { case (qs, txt) => (qs, txt, f) } }
        .nextOption()
    val artifact = newestRound("\\.json")(accept(_, "cpus", "queries", sameSfNum))
      .map { case (qs, txt, f) =>
        val truncated = txt.contains("_dropped_fastest")
        (qs, if (truncated) s"${f.getName} (truncated slowest-legs subset)" else f.getName)
      }
    // Immutable per-round floor snapshots (r12 judge ask #3): the driver
    // artifact can be a truncated slowest-legs subset and the sidecar is
    // a mutable per-run overwrite, so neither alone gives every leg a
    // committed baseline. BENCH_r{N}_floors.json is the FULL queries_min
    // map written by the round's final bench run and committed with the
    // round snapshot — the untruncated floor source for the legs the
    // driver tail dropped. Older snapshots carry no core count in the
    // name (BENCH_r{N}_floors.json); their "cores" field picks them.
    val floors = newestRound("(_c\\d+)?_floors\\.json")(
      accept(_, "cores", "queries_min", sameSfDir))
      .map { case (qs, _, f) => (qs, f.getName) }
    val sidecar = accept(new java.io.File(dir, "bench_diag.json"), "cores",
      "queries_min", sameSfDir).map { case (qs, _) => (qs, "bench_diag.json queries_min") }
    val sources = Seq(artifact, floors, sidecar).flatten
    if (sources.isEmpty) (Map.empty[String, Double], s"no baseline at $cores cores")
    else {
      val merged = sources.flatMap(_._1.keySet).distinct.map { k =>
        k -> sources.flatMap(_._1.get(k)).min
      }.toMap
      val name =
        if (sources.size == 1) sources.head._2 + " (sole floor source)"
        else sources.map(_._2).mkString("min(", ", ", ")")
      (merged, name)
    }
  }

  /** The `key` map of a bench artifact, "_"-prefixed markers dropped
    * ("_dropped_fastest" is a count, not a leg). The last occurrence wins:
    * BENCH_r's raw-tail echo precedes its `parsed` copy.
    */
  private def parseQueriesMap(txt: String, key: String): Map[String, Double] =
    ("\"" + key + "\"\\s*:\\s*\\{([^}]*)\\}").r.findAllMatchIn(txt).toSeq
      .lastOption match {
        case None => Map.empty
        case Some(m) =>
          "\"([^\"\\\\]+)\"\\s*:\\s*(-?[0-9.]+)".r.findAllMatchIn(m.group(1))
            .map(g => g.group(1) -> g.group(2).toDouble).toMap
            .filterNot(_._1.startsWith("_"))
      }

  private def sfDirOf(txt: String): Option[String] =
    "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))

  private def intKey(txt: String, key: String): Option[Int] =
    ("\"" + key + "\"\\s*:\\s*([0-9]+)").r.findFirstMatchIn(txt).map(_.group(1).toInt)

  /** BENCH_r{N}`suffix` files in `dir`, with their round number N. */
  private def roundFiles(dir: java.io.File, suffix: String): Seq[(Int, java.io.File)] =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap { f =>
      ("^BENCH_r(\\d+)" + suffix + "$").r.findFirstMatchIn(f.getName)
        .map(m => (m.group(1).toInt, f))
    }

  private def fmt(d: Double): String = if (d < 0) "-1" else f"$d%.3f"

  /** Immutable floor snapshot for NEXT round's floor watch: the full
    * (untruncated) queries_min map under the current round's number —
    * max(N of BENCH_rN.json)+1, since the driver writes BENCH_r{N}.json
    * at judging time AFTER this run. MERGED with any existing snapshot
    * taking per-query min (monotone within a round) — an unconditional
    * overwrite let a later same-round run clobber the committed
    * min-merge with one run's warm-JVM minima and reintroduce the
    * warm-floor false-flag class the r13 g7/g4 bisect adjudicated
    * (r13 judge "what's wrong" #1). The file is named by round AND core
    * count (`BENCH_r{N}_c{cores}_floors.json`), so a run on one box
    * shape never replaces another's floors; it records its sf and cores
    * and merges only with a snapshot of the same sf AND cores, any
    * mismatch replacing the file (an sf0.01 dev run must not pollute
    * the sf0.1 floors).
    */
  private[graft] def writeFloorSnapshot(dir: java.io.File, sfDir: String,
      cores: Int, current: Map[String, Double]): Unit = try {
    val prevN = roundFiles(dir, "\\.json").map(_._1).foldLeft(0)(math.max)
    val floorPath =
      new java.io.File(dir, f"BENCH_r${prevN + 1}%02d_c${cores}_floors.json").toPath
    val existing: Map[String, Double] =
      if (java.nio.file.Files.exists(floorPath)) {
        val txt = new String(java.nio.file.Files.readAllBytes(floorPath), "UTF-8")
        if (sfDirOf(txt).contains(sfDir) && intKey(txt, "cores").contains(cores))
          parseQueriesMap(txt, "queries_min")
        else Map.empty
      } else Map.empty
    val merged = (existing.keySet ++ current.keySet).toSeq.sorted.map { k =>
      val vals = Seq(existing.get(k), current.get(k)).flatten.filter(_ >= 0)
      k -> (if (vals.isEmpty) -1.0 else vals.min)
    }
    val mergedJson = merged
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    java.nio.file.Files.write(floorPath,
      s"""{"queries_min":$mergedJson,"sf":"$sfDir","cores":$cores}""".getBytes("UTF-8"))
    ()
  } catch { case _: Throwable => () } // floor snapshot is best-effort

  /** 1-minute loadavg (first field of /proc/loadavg); -1 if unreadable. */
  private def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Current resident set of THIS JVM in MB (VmRSS of /proc/self/status);
    * -1 if unreadable. Sampled at the end of each leg's min-wall run so
    * the diag can separate GC/memory pressure from CPU steal when a wall
    * is inflated (r17: adjudication rested on load1-only inference).
    */
  private def rssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try {
        src.getLines().collectFirst {
          case l if l.startsWith("VmRSS:") =>
            l.split("\\s+")(1).toDouble / 1024.0
        }.getOrElse(-1.0)
      } finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Per-query measurement: wall seconds, executor CPU seconds, executor
    * JVM-GC milliseconds (summed task metrics — GC thrash inflates wall
    * AND gc_ms while CPU steal inflates wall alone), peak load1, end-of-
    * run driver RSS (MB), and the persistent-RDD count the query left
    * behind. A failed run also carries its exception class and message.
    */
  private[graft] final case class Sample(wall: Double, cpuS: Double, gcMs: Long,
      load: Double, rss: Double, leaked: Int, error: Option[String] = None)

  /** The core count every main runs Spark at: `SPARK_GRAFT_CPUS`, else
    * this machine's available processors. Bench floors are keyed by it,
    * so an unset variable must name the box the run is on.
    */
  private[graft] def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session [[Bench]] and [[QBench]] both measure on. One builder,
    * because a QBench re-measure is read against Bench floors: the two
    * sides must run under the same confs.
    */
  private[graft] def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Many-group ObjectHashAggregate stages (every ANN rank via
      // TopKPairsAgg: one tiny k-entry buffer per query) fall back to
      // SORT-BASED partial aggregation after 128 groups per task at the
      // Spark default, silently re-introducing a per-partition pair sort
      // (measured 1.6x cpu on the 2x64M-pair rank probe, r10). 64k
      // groups of the engine's largest grouped buffers (KB-scale
      // sketches) stay under ~1 GB/task; corpus-scale group counts
      // beyond that SHOULD fall back - that is the threshold's job.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      .getOrCreate()
    // ERROR: the iterative queries' lineage-truncation emits a benign WARN
    // per unpersist that would otherwise swamp the output stream.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Executor CPU time and JVM-GC time, summed over completed stages
    * (task metrics at stage-completion granularity). The listener bus is
    * asynchronous, so both `reset` and `read` drain it first: a stage
    * that finished before the reset cannot land in the next sample, and
    * one that finished before the read is always counted.
    */
  private[graft] final class StageMeter(spark: SparkSession) {
    private val cpuNs = new AtomicLong(0L)
    private val gcMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(done: SparkListenerStageCompleted): Unit = {
        val m = done.stageInfo.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          ()
        }
      }
    })

    def reset(): Unit = {
      GraftInternals.drainListenerBus(spark)
      cpuNs.set(0L)
      gcMs.set(0L)
    }

    /** (executor CPU seconds, GC milliseconds) since the last reset. */
    def read(): (Double, Long) = {
      GraftInternals.drainListenerBus(spark)
      (cpuNs.get() / 1e9, gcMs.get())
    }
  }

  /** Unpersist EVERYTHING between queries/runs: cache-manager entries
    * and raw persistent RDDs (GraphX graphs, checkpoint backings —
    * invisible to `clearCache`). Returns how many of them were LEAKS —
    * persisted RDDs that are NOT checkpoint backings of the leg's own
    * result. Iterative results are checkpoint-backed BY DESIGN (the
    * backing IS the result; QueriesSpec enforces the same contract per
    * query at sf0.001), so counting those as "leaked" buried the
    * signal: r8's diag showed 28 legs leaking 1-4 RDDs, all but a
    * handful of which were result backings. With `keep` excluded, a
    * non-zero count here is a genuine stray persist.
    */
  private[graft] def sweep(spark: SparkSession, keep: Set[Int] = Set.empty): Int = {
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs
    val leaked = persisted.values.count(r => !keep(r.id))
    persisted.values.foreach(_.unpersist(blocking = false))
    leaked
  }

  /** One timed run of a leg, the loop both [[Bench]] and [[QBench]]
    * measure with. `body` returns the leg's result DataFrame when it has
    * one (query legs) so its checkpoint backings can be excluded from the
    * leak count; sink/flagship legs release their own state and return
    * None. A throw is caught, so one bad leg cannot stop the run: the
    * sample's wall and cpu read -1 and its error names the exception.
    */
  private[graft] def timeOnce(spark: SparkSession, meter: StageMeter)(
      body: => Option[DataFrame]): Sample = {
    val l0 = load1()
    meter.reset()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case t: Throwable => Left(t) }
    val wall = (System.nanoTime() - t0) / 1e9
    val (cpu, gc) = meter.read()
    val l1 = math.max(l0, load1())
    val rss = rssMb()
    val keep = res.toOption.flatten.map(GraftInternals.checkpointRddIds)
      .getOrElse(Set.empty[Int])
    val leaked = sweep(spark, keep)
    res match {
      case Right(_) => Sample(wall, cpu, gc, l1, rss, leaked)
      case Left(t) =>
        val msg = Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
        Sample(-1.0, -1.0, gc, l1, rss, leaked, Some(s"${t.getClass.getName}: $msg"))
    }
  }

  /** One leg of [[main]]'s loop, guarded against a kill. Once JVM
    * shutdown begins (`stopping`, set first thing by main's hook),
    * Spark's own hook stops the SparkContext, and every leg run after it
    * fails on the stopped context within milliseconds. So a leg is not
    * measured once `stopping` is set, nor recorded if it was set while
    * the leg ran; either way the throw ends the loop, and the hook's
    * partial line reports the legs recorded before it.
    */
  private[graft] def guardedLeg(stopping: java.util.concurrent.atomic.AtomicBoolean,
      name: String)(measure: => (Sample, Double))(record: ((Sample, Double)) => Unit): Unit = {
    def stop() = throw new IllegalStateException(
      s"JVM shutdown began: leg $name and the legs after it are not recorded")
    if (stopping.get) stop()
    val r = measure
    if (stopping.get) stop()
    record(r)
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped — a tab or CR in an oracle's SQL or an
    * exception message would otherwise break the reader's `json.load`.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The one-line JSON result Bench prints on stdout: per-leg walls (`walls`,
    * wall < 0 = the leg failed), their total over the legs that ran,
    * and the names of the failed legs under a top-level `"failed"` key.
    * Walls are at 2-decimal precision: the 3-decimal map crossed the
    * 1800-char guard once the surface hit ~70 legs (observed 1803 →
    * total-only fallback, which loses the round's per-query record);
    * 10 ms resolution is ample for the min-wall comparison, and
    * bench_diag.json keeps the 3-decimal history. A line that still
    * overflows keeps the SLOWEST legs that fit (they carry the perf
    * signal), counts the rest under a top-level `"_dropped_fastest"`,
    * and names the committed sidecar holding every leg under `"full"`.
    * Neither key sits inside `queries`, where a reader would take the
    * count for a leg's wall, and the `"failed"` list is never truncated,
    * so a failed leg cannot vanish from the line at the cut.
    */
  private[graft] def buildDriverLine(
      walls: Seq[(String, Double)], sfNum: String, partial: Boolean): String = {
    def entry(k: String, w: Double): String =
      "\"" + k + "\":" + (if (w < 0) "-1" else f"$w%.2f")
    val totalS = f"${walls.map(_._2).filter(_ >= 0).sum}%.3f"
    val failed = walls.collect { case (k, w) if w < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val tail = s""","failed":$failed,"sf":$sfNum""" +
      (if (partial) ""","partial":true""" else "")
    def line(queries: Seq[String], extra: String): String =
      s"""{"metric":"total","value":$totalS,"unit":"sec","queries":""" +
        queries.mkString("{", ",", "}") + extra + tail + "}"
    val full = line(walls.map { case (k, w) => entry(k, w) }, "")
    if (full.length <= 1800) full
    else {
      val ran = walls.filter(_._2 >= 0).sortBy(-_._2).map { case (k, w) => entry(k, w) }
      def extra(dropped: Int): String =
        s""","_dropped_fastest":$dropped,"full":"bench_partial.json""""
      var room = 1800 - line(Nil, extra(ran.size)).length
      val kept = scala.collection.mutable.ListBuffer[String]()
      ran.foreach { e => if (e.length + 1 <= room) { kept += e; room -= e.length + 1 } }
      val dropped = ran.size - kept.size
      System.err.println(
        s"bench line ${full.length} chars overflows the driver's 2000-char tail; emitting slowest-legs subset ($dropped fastest legs dropped; full map in bench_partial.json)")
      line(kept.toSeq, extra(dropped))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = cpus
    val here = new java.io.File(".")
    // Read before this run overwrites the sidecar at the end (and
    // preferentially from the per-round BENCH_r artifact — see scaladoc).
    val (prevMin, prevSource) = previousMinWalls(here, sfDir, cores)

    // A kill costs the tail, never the run: every completed leg
    // immediately rewrites the bench_partial.json sidecar (atomic rename;
    // survives SIGKILL) and logs a BENCH_LEG stderr line, and a JVM
    // shutdown hook (SIGTERM runs these) prints a parseable result line
    // from whatever legs completed.
    val runStartNs = System.nanoTime()
    def elapsedS(): Double = (System.nanoTime() - runStartNs) / 1e9
    val resultsBuf =
      scala.collection.mutable.ArrayBuffer.empty[(String, (Sample, Double))]
    def snapshot(): Seq[(String, (Sample, Double))] =
      resultsBuf.synchronized { resultsBuf.toList }
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1))
      .filter(s => scala.util.Try(s.toDouble).isSuccess)
      .getOrElse("\"" + sfDir + "\"")
    def driverLine(rs: Seq[(String, (Sample, Double))], partial: Boolean): String =
      buildDriverLine(rs.map { case (k, (smp, _)) => k -> smp.wall }, sfNum, partial)
    // Per-leg sidecar: whole-file rewrite through a rename (readable
    // mid-run, never half-written, survives any kill).
    def writePartialSidecar(): Unit =
      try {
        val rs = snapshot()
        val qs = rs.map { case (k, (s, _)) =>
          "\"" + k + "\":" + (if (s.wall < 0) "-1" else f"${s.wall}%.3f")
        }.mkString("{", ",", "}")
        val body =
          s"""{"queries_min":$qs,"legs_done":${rs.size},"elapsed_s":${f"${elapsedS()}%.1f"},"sf":"$sfDir"}"""
        val tmpP = java.nio.file.Paths.get(".bench_partial.json.tmp")
        java.nio.file.Files.write(tmpP, body.getBytes("UTF-8"))
        java.nio.file.Files.move(tmpP,
          java.nio.file.Paths.get("bench_partial.json"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      } catch { case _: Throwable => () } // sidecar is best-effort
    val normalExit = new java.util.concurrent.atomic.AtomicBoolean(false)
    // legsAllDone: every measured leg is in (set the moment the last leg
    // lands, BEFORE the recall and output tail) — the hook labels its
    // line partial by THIS, not by mere exit state: a kill in that tail
    // has a complete measurement set and must say so (the r17 ADVICE
    // mislabel; an sf0.001 kill drill then caught the same mislabel in
    // the recall window).
    val legsAllDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stopping = new java.util.concurrent.atomic.AtomicBoolean(false)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      stopping.set(true)
      if (!normalExit.get) {
        val rs = snapshot()
        if (rs.nonEmpty) {
          println(driverLine(rs, partial = !legsAllDone.get))
          Console.out.flush()
        }
      }
    }))
    val spark = session(cores)
    val meter = new StageMeter(spark)

    // min/mean over `runs` executions; diagnostics ride with the min-wall
    // run (the number rounds compare), the error with the first
    // failed run. The first run of each query absorbs whole-stage-codegen
    // compilation and JIT warm-up (measured 3-8x inflation on a cold
    // JVM); the reference's 6.35 s baseline likewise excludes interpreter
    // start-up.
    def time(runs: Int)(body: => Option[DataFrame]): (Sample, Double) = {
      val all = (1 to runs).map(_ => timeOnce(spark, meter)(body))
      val ss = all.filter(_.error.isEmpty)
      val error = all.flatMap(_.error).headOption
      if (ss.isEmpty) (Sample(-1.0, -1.0, -1L, -1.0, -1.0, 0, error), -1.0)
      else (ss.minBy(_.wall).copy(
        load = ss.map(_.load).max,
        leaked = ss.map(_.leaked).max,
        error = error),
        ss.map(_.wall).sum / ss.size)
    }

    val loadStart = load1()
    // Warm the session once so the first measured query does not absorb
    // SparkContext/scan start-up.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // The export path under the bench: trainingShards (shuffle + sorted
    // runs + manifest read-back) and the Hive-partitioned sink, written to
    // a throwaway local dir. Tracked so the end-of-pipeline sink has a
    // perf number like every query-shaped operator.
    def sinksDir(): java.nio.file.Path =
      java.nio.file.Files.createTempDirectory("graft_bench_sinks")
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }

    // p22: prebuild the release store ONCE, untimed — the store is the
    // amortized state an incremental pipeline carries. Each timed run
    // copies the template and releases one arriving batch against it,
    // so the leg measures the INCREMENT (gate retrain + near-dup probe
    // + touched-cluster CC + span probe + appends) plus a store-sized
    // constant file copy.
    val p22Params = graft.release.ReleaseParams()
    val p22Template = sinksDir()
    locally {
      val stored = Tables.documents(spark, sfDir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .filter(org.apache.spark.sql.functions.col("doc_id") < 400)
      GraftInternals.freeLocalCheckpoint(graft.release.ReleaseStore.init(
        spark, stored, "doc_id", "text", p22Params,
        p22Template.resolve("st").toString))
      sweep(spark)
      ()
    }
    // Shared-stage release materialization (r16 verdict #7): p20, p21
    // and the sinks leg all recompute the same gate + near-dup chain by
    // design (each shipped query stands alone), which taxed the BENCH
    // ~3x the chain's cost per run. The chain is now materialized ONCE,
    // untimed, to a parquet template; p20 keeps timing the full shipped
    // chain (it IS the chain leg) and p21 keeps timing the funnel's own
    // per-stage plan, but sinks_release_pipeline times exactly the SINK
    // — read-back + shard shuffle + sorted write + manifest — of an
    // already-released corpus, which is what that leg exists to price.
    val relTemplate = sinksDir()
    locally {
      val rel = api.PipelineQueries.releasedCorpus(spark, sfDir)
      rel.write.mode("overwrite")
        .parquet(relTemplate.resolve("released").toString)
      GraftInternals.freeLocalCheckpoint(rel)
      sweep(spark)
      ()
    }

    // Each leg lands in the buffer (and the partial sidecar) the moment
    // it completes — see the kill note at the top of main.
    def leg(name: String, runs: Int)(body: => Option[DataFrame]): Unit =
      guardedLeg(stopping, name)(time(runs)(body)) { r =>
        resultsBuf.synchronized { resultsBuf += name -> r }
        System.err.println(
          f"BENCH_LEG $name min=${r._1.wall}%.3f mean=${r._2}%.3f " +
            f"(${resultsBuf.size} legs, ${elapsedS()}%.0f s elapsed)" +
            r._1.error.fold("")(" error=" + _))
        writePartialSidecar()
      }
    // A leg QBench can also run by name: one body for both mains.
    def namedLeg(name: String, runs: Int): Unit =
      leg(name, runs)(QBench.legs(name)(spark, sfDir))

    Headline.foreach(namedLeg(_, 2))
    leg("sinks_training_shards", 2) {
      val dir = sinksDir()
      try {
        val docs = Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))
        val manifest = graft.io.Sinks.trainingShards(
          docs, dir.resolve("shards").toString, "doc_id", shards = 8)
        require(manifest.count() == 8L)
        None
      } finally rmTree(dir)
    }
    leg("sinks_release_pipeline", 2) {
      // The released corpus driven INTO its sink — the tail of the "raw
      // corpus → sharded training parquet + manifest" path a data team
      // ships. The release chain itself is materialized once in the
      // shared template above (p20 already times the full chain); this
      // leg times the SINK: read-back + shard shuffle + sorted write +
      // manifest.
      val dir = sinksDir()
      try {
        val released = spark.read
          .parquet(relTemplate.resolve("released").toString)
          .filter(org.apache.spark.sql.functions.col("split") === "train")
        val manifest = graft.io.Sinks.trainingShards(
          released, dir.resolve("release").toString, "doc_id", shards = 8)
        require(manifest.count() == 8L)
        None
      } finally rmTree(dir)
    }
    leg("sinks_partitioned", 2) {
      val dir = sinksDir()
      try {
        graft.io.Sinks.writePartitioned(
          Tables.documents(spark, sfDir), dir.resolve("bylang").toString, "lang")
        val en = graft.io.Sinks.readPruned(spark, dir.resolve("bylang").toString,
          "lang", "en").count()
        require(en > 0L)
        None
      } finally rmTree(dir)
    }
    leg("p22_release_increment", 2) {
      val dir = sinksDir()
      try {
        copyTree(p22Template.resolve("st"), dir.resolve("st"))
        val batch = Tables.documents(spark, sfDir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text"))
          .filter(org.apache.spark.sql.functions.col("doc_id") >= 400)
        val rel = graft.release.ReleaseStore.increment(
          spark, batch, "doc_id", "text", p22Params,
          dir.resolve("st").toString)
        require(rel.count() > 0L)
        GraftInternals.freeLocalCheckpoint(rel)
        None
      } finally rmTree(dir)
    }
    // pagerank_wikidata gets 3 runs: it is THE baseline-bar artifact
    // (<= 2x of BASELINE.md 6.35 s), and one extra run keeps a single
    // noisy sample from deciding the round. Its GraphX twin has identical
    // semantics/iterations (GraphXSpec asserts 1e-9 L1 parity); the
    // scaled pair is long enough that one run on the warm JVM suffices.
    namedLeg("pagerank_wikidata", 3)
    namedLeg("pagerank_wikidata_graphx", 2)
    namedLeg("pagerank_scaled", 1)
    namedLeg("pagerank_scaled_graphx", 1)
    legsAllDone.set(true) // recall/output-tail kills now carry a complete set
    val results: Seq[(String, (Sample, Double))] = snapshot()

    // ANN recall for the TRAINED approximate paths — their centroids are
    // engine-specific, so the correctness gate grades them rows-only and
    // no artifact carried a recall figure (r7 verdict ask). Published
    // per-round here: recall@10 of n9 trained-PQ under the exact n1
    // protocol, recall@5 of n4 KMeans-IVF vs an exact all-pairs top-5
    // under n4's own protocol (every vector queries, self excluded).
    val recalls: Seq[(String, Double)] = try {
      def pairSet(df: DataFrame): Set[(Long, Long)] =
        df.select("query_id", "cand_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactN1 = pairSet(SparkEntry.queries("n1_ann_brute")(spark, sfDir))
      val gotN9 = pairSet(SparkEntry.queries("n9_pq_trained")(spark, sfDir))
      sweep(spark)
      val v = Tables.embeddings(spark, sfDir).select(
        org.apache.spark.sql.functions.col("vec_id"),
        graft.sim.Similarity.asDouble(
          org.apache.spark.sql.functions.col("embedding")).as("v"))
      val exactAll = pairSet(graft.sim.Similarity.annBruteAll(v, k = 5))
      val gotN4 = pairSet(SparkEntry.queries("n4_ann_ivf")(spark, sfDir))
      sweep(spark)
      val gotN11 = pairSet(SparkEntry.queries("n11_ann_ivf_multiprobe")(spark, sfDir))
      sweep(spark)
      val gotN13 = pairSet(SparkEntry.queries("n13_ann_ivf_tuned")(spark, sfDir))
      sweep(spark)
      def r(got: Set[(Long, Long)], exact: Set[(Long, Long)]): Double =
        if (exact.isEmpty) -1.0
        else got.intersect(exact).size.toDouble / exact.size
      // n4 -> n11 -> n13 is the published recall-vs-probe-effort curve:
      // nprobe=1 (0.33) -> nprobe=3 (0.66) -> nCells=32 x 8 probes x
      // 3-way candidate assignment (>=0.9, the shipped default).
      Seq("n9_pq_trained@10" -> r(gotN9, exactN1),
        "n4_ann_ivf@5" -> r(gotN4, exactAll),
        "n11_ann_ivf_multiprobe@5" -> r(gotN11, exactAll),
        "n13_ann_ivf_tuned@5" -> r(gotN13, exactAll))
    } catch {
      case t: Throwable =>
        System.err.println(s"recall stage failed: ${t.getClass.getSimpleName}: ${t.getMessage}")
        sweep(spark); Seq.empty
    }

    val loadEnd = load1()
    rmTree(p22Template)
    rmTree(relTemplate)
    spark.stop()

    writeFloorSnapshot(here, sfDir, cores,
      results.map { case (k, (s, _)) => k -> s.wall }.toMap)
    def fmtN(d: Double): String = if (d < 0) "-1" else f"$d%.2f"
    val qs = results.map { case (k, (s, _)) => "\"" + k + "\":" + fmt(s.wall) }
      .mkString("{", ",", "}")
    val qsMean = results.map { case (k, (_, avg)) => "\"" + k + "\":" + fmt(avg) }
      .mkString("{", ",", "}")
    val diag = results.map { case (k, (s, _)) =>
      "\"" + k + "\":{\"cpu_s\":" + fmt(s.cpuS) +
        ",\"gc_ms\":" + s.gcMs +
        ",\"rss_mb\":" + (if (s.rss < 0) "-1" else f"${s.rss}%.0f") +
        ",\"load1\":" + fmt(s.load) +
        ",\"leaked_rdds\":" + s.leaked +
        s.error.fold("")(e => ",\"error\":" + jsonStr(e)) + "}"
    }.mkString("{", ",", "}")
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // JSON line found there (r04's line, grown by the diag/mean maps, started
    // before that window — the round lost its perf record). So: the final
    // line carries ONLY the driver-compared minimum-wall map and must stay
    // well under the window net of sbt's trailing "[success]" line; the full
    // self-diagnosis payload goes to bench_diag.json (committed with the
    // round snapshot) and to an EARLIER stdout line for log readers.
    // Standing context (pinned rounds 4-6, adjudicated by isolated A/Bs):
    // in-session cpu_s for codegen/JIT-heavy queries (n2_ann_lsh, the
    // PageRank loop family, GraphX probes) is JIT-position-dependent and
    // NOT a cross-round signal on its own; walls swing ±30% with box state.
    val standingNote = jsonStr("in-session cpu_s for codegen/JIT-heavy queries (n2, PR loop family, GraphX) is JIT-position-dependent; walls swing ±30% with box state")
    // Round-over-round floor watch (r17 verdict #5): the ratio report the
    // round comparison reads, with a noise floor on BOTH sides of 0.25 s.
    // Sub-noise legs (r17 flagged a22/a23/a24 at 1.3-1.6x on 0.14-0.25 s
    // floors — below any meaningful signal on a 32-thread box) are
    // counted, never listed, so the floors comparison stops manufacturing
    // noise-band flags. Bench lists; a listed leg is re-measured by hand.
    val floorWatch = results.collect {
      case (k, (s, _))
          if s.wall >= 0.25 &&
            prevMin.get(k).exists(p => p >= 0.25 && s.wall > 1.3 * p) =>
        (k, prevMin(k), s.wall)
    }.sortBy { case (_, p, w) => -(w / p) }
    val noiseExcluded = results.count { case (k, (s, _)) =>
      s.wall >= 0 && prevMin.get(k).exists(p =>
        (p < 0.25 || s.wall < 0.25) && s.wall > 1.3 * p)
    }
    val floorWatchJson = floorWatch.map { case (k, p, w) =>
      "\"" + k + "\":{\"prev\":" + fmtN(p) + ",\"wall\":" + fmtN(w) +
        ",\"ratio\":" + f"${w / p}%.2f" + "}"
    }.mkString("{", ",", "}")
    val floorWatchNote = jsonStr(
      s"floor watch against $prevSource: legs with wall > 1.3x prev floor AND both sides >= 0.25 s; " +
        s"$noiseExcluded sub-0.25s mover(s) excluded as noise-band this run; re-measure a listed " +
        "leg on a fresh JVM with sbt \"runMain graft.QBench <leg>\" before believing it")
    val recallNotes = recalls.map { case (k, r) =>
      "\"recall " + k + " vs exact baseline: " + fmtN(r) + "\""
    }
    val recallJson = recalls
      .map { case (k, r) => "\"" + k + "\":" + fmtN(r) }
      .mkString("{", ",", "}")
    val notes = ((standingNote +: recallNotes) :+ floorWatchNote).mkString(",")
    // The sidecar carries the FULL wall history (min + mean + cpu) so a
    // truncated stdout tail can never lose a round's perf record again.
    val diagJson =
      s"""{"queries_min":$qs,"queries_mean":$qsMean,"diag":$diag,"floor_watch":$floorWatchJson,"recall":$recallJson,"notes":[$notes],"cores":$cores,"load1_start":${fmt(loadStart)},"load1_end":${fmt(loadEnd)},"sf":"$sfDir"}"""
    println(s"BENCH_DIAG $diagJson")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_diag.json"),
        diagJson.getBytes("UTF-8"))
    } catch { case _: Throwable => () } // diag file is best-effort
    // The TRUE last stdout line: the result is parsed from the tail, and
    // BENCH_DIAG above must not be it.
    println(driverLine(results, partial = false))
    normalExit.set(true)
  }
}
