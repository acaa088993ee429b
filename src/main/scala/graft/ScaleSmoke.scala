package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: synthesizes an N-fold copy of the sf0.1 fixtures (fact
  * tables key-offset per copy, dimensions shared) under /tmp, then times a
  * representative query subset against it. Purpose: observe the SCALING
  * SHAPE of the heavy operators — map-heavy queries should scale
  * ~linearly; the LSH pipelines run against deliberately duplicate-heavy
  * data (every document gains N-1 exact copies), which is exactly the
  * degenerate-bucket regime the lshBucketCap bounds. Not a correctness
  * gate (the oracles stay on the driver fixtures) — a perf validation
  * harness for the 100 TB design claims.
  *
  * Usage ([[Usage]]; any other word exits 2 with the usage line):
  *   sbt 'runMain graft.ScaleSmoke [mult] [skew] [organic] [only=q1,q2,...]'
  *   sbt 'runMain graft.ScaleSmoke gate [rN]'
  * `mult` defaults to 16 on the uniform fixture. With `skew`, ~20% of
  * all events are reassigned to ONE hot user (deterministically,
  * event_id % 5 == 0 -> user 7) and the user-keyed query subset runs
  * instead — measuring that the documented skew remedies (a2b salting,
  * AQE skew-join in q_salted_join, bounded per-key frames in a12)
  * actually engage: the salted/bounded shapes should degrade gently vs
  * their unsalted duals, not serialize into one straggler task.
  * `organic` and `only=` are described at [[ensureFixture]] and
  * [[runSubset]]; `gate` at [[runGate]].
  */
object ScaleSmoke {

  private def replicate(df: DataFrame, mult: Int, offsets: Map[String, Long]): DataFrame =
    (0 until mult).map { i =>
      offsets.foldLeft(df) { case (d, (c, base)) =>
        d.withColumn(c, col(c) + lit(base * i))
      }
    }.reduce(_ unionByName _)

  /** Organic-fixture subset — ALSO the standing scale gate's pinned
    * query list (round-9 verdict task 1): the shuffle-heaviest families
    * whose dup-heavy-100x receipts were flagged as flattered (dedup) or
    * understressed (distinct-heavy aggregates), plus each round's new
    * operators. Append new queries; don't remove — removals hide
    * regressions. */
  val organicSubset: Seq[String] = Seq(
    "q_count_distinct", "q_hll_sketch", "q_percentiles", "q_dd_quantiles",
    "q1_pricing_summary", "q5_region_revenue", "q9_product_profit",
    "q18_large_volume", "a2_running_sum", "w3_session_window",
    "d_dedup_groups", "d_minhash_lsh_pairs", "d_curate_corpus",
    "e_knn_brute", "x6_cep_times_range", "x7_cep_one_or_more",
    "t_bpe_merges", "t_bpe_tokenize", "q_dd_quantiles_param",
    // round-10 additions
    "x8_cep_skip_past", "w2b_sliding_dd_pane", "w2c_sliding_hll_pane",
    "w2d_sliding_topk_pane", "q_hll_set_algebra", "q_dd_quantiles_w",
    // round-11 additions
    "x9_cep_skip_to_next", "w2e_sliding_cms_topk", "x10_cep_skip_to_last",
    // round-12 addition: the layout-maintenance lifecycle (z-order write
    // -> manifest -> append -> reconcile -> compact -> pruned scan) —
    // write-dominated, so its ratio prices the one intentionally linear
    // stage (the clustering write) plus the fixed maintenance overhead
    "q_layout_lifecycle",
    // round-13 additions: the IVF+PQ composition (cell-equi candidate
    // join + integer ADC — the production ANN scan shape), the CDC
    // snapshot fold (single keyed agg, no window sort), and last-touch
    // attribution (per-user sequence window, the per-key-sort family)
    "e_knn_ivfpq", "q_cdc_apply", "a21_last_touch",
    // round-14 additions: trained residual IVF-PQ — e_knn_ivfpq's scan
    // shape plus two Lloyd training scans (subspace-exploded corpus vs
    // broadcast 128-row codebook); the ratio prices that training stays
    // scan-bounded, never pairwise. DSIR scoring — one exploded-gram
    // model agg + a broadcast 1024-row scoring join; the ratio prices
    // that the model side never grows past the bucket domain.
    "e_knn_ivfpq_trained", "t_dsir_score",
    // ABTT: two power-iteration scans + bounded 64-row collects
    "e_abtt_project",
    // round-15 additions: binary-Hamming ANN — the pack pass is the
    // family's "cheapest prefilter at 100 TB" claim, now codegen'd
    // (graft_sign_pack); the ratio prices one full-corpus pack + the
    // broadcast XOR/POPCNT candidate scan. Persisted-index ANN — the
    // first pass per fixture pays build (training scans + manifested
    // publish), the second reuses; min-of-two prices the query-many
    // path: one manifest-pruned coded scan + broadcast probe.
    "e_knn_hamming", "e_knn_ivfpq_indexed",
    // per-source KL: one exploded-gram shuffle (the t_dsir_score class),
    // then model-sized math — the ratio prices that the divergence
    // frame never grows past #sources x 1024
    "t_source_kl",
    // round-16 additions: OPQ rotation ahead of trained PQ (three
    // calibration scans + the e_knn_pq_trained shape; the rotation is a
    // pure map) and its PERSISTED composition (the e_knn_ivfpq_indexed
    // build-once/query-many protocol one rotation earlier). Duplicated-
    // span coverage — one exploded-gram shuffle (the t_dsir_score
    // class) + a co-partitioned join-back + one doc_id window; the
    // ratio prices that nothing outgrows the gram count. IVF balance —
    // one assignment scan into a 16-row frame.
    "e_knn_opq", "e_knn_opq_indexed", "d_dup_span_coverage",
    "e_ivf_balance",
    // span-granular dedup rewrite: the coverage op's gram shuffle plus
    // a gh-window (count + first-occurrence rank) and the narrow text
    // rejoin — the ratio prices that the rewrite stays gram-bounded
    "d_dup_span_rewrite",
    // round-17 additions: the rank-3 deflated OPQ chain (e_knn_opq's
    // calibration + two extra pinned-frame power-iteration scans; every
    // rotation is a pure map), OPQ-by-residual (the trained-IVF-PQ
    // shape + one residual power-iteration pass), and its PERSISTED
    // form (the build-once/query-many protocol: min-of-two prices one
    // manifest-pruned coded scan + a rotated broadcast probe)
    "e_knn_opq3", "e_knn_opq_residual", "e_knn_opqres_indexed",
    // spectrum-decay diagnostic: the opq3 chain + one 64-row variance agg
    "e_spectrum_decay",
    // semantic eval decontamination: one documents-to-embeddings equi
    // join + a broadcast-model scoring map — the ratio prices that the
    // model side never grows with the corpus
    "d_embed_decontaminate",
    // round-18 additions: perceptual media near-dup — one fingerprint
    // scan (codegen'd sign-pack) + the capped pigeonhole-band pair
    // shuffle (the d_simhash_neardup shape on the media fingerprint);
    // filtered persisted-index ANN — the e_knn_ivfpq_indexed
    // build-once/query-many protocol plus a candidate-side predicate
    // (min-of-two prices one manifest-pruned, overfetched coded scan)
    "m_media_neardup", "e_knn_ivfpq_filtered",
    // round-19 addition (verdict task 4): the COMPOSED media keeper
    // election — pair stage + pointer-doubling components + keeper
    // join-back. Its parts were both gated (m_media_neardup above,
    // d_dedup_groups' component loop), but compositions have surprised
    // this repo before (d_curate_corpus round 3: a pinned frame
    // re-evaluated under composition), so the composed plan gets its
    // own row rather than an exemption-by-argument.
    "m_media_dedup_groups")

  /** Cost class of each gated query (round-17 verdict task 6): the gate
    * verdict stays per-query, but the artifact also rolls ratios up per
    * family so creep inside a class — the exploded-gram family keeps
    * gaining members — is visible mechanically against the prior
    * round's artifact instead of by reading 45 rows. Classes follow the
    * BASELINE.md cost-class vocabulary; queries under the 2 s exemption
    * floor at x100 are excluded from a family's max (their ratios
    * measure host noise, not scaling shape — same rule as the gate). */
  val costFamily: Map[String, String] = Map(
    // one exploded grams-per-token/doc shuffle dominates
    "t_bpe_merges" -> "exploded_gram", "t_bpe_tokenize" -> "exploded_gram",
    "t_dsir_score" -> "exploded_gram", "t_source_kl" -> "exploded_gram",
    "d_dup_span_coverage" -> "exploded_gram",
    "d_dup_span_rewrite" -> "exploded_gram",
    // the intentionally write-dominated layout-maintenance lifecycle
    "q_layout_lifecycle" -> "write_lifecycle",
    // exact (non-sketch) percentiles: the documented full-sort class
    "q_percentiles" -> "exact_percentile",
    // embedding-corpus scans: ANN probes, PQ/coarse training, power
    // iterations — all scan-plus-broadcast-model shapes
    "e_knn_brute" -> "embedding", "e_knn_ivfpq" -> "embedding",
    "e_knn_ivfpq_trained" -> "embedding", "e_knn_ivfpq_indexed" -> "embedding",
    "e_knn_hamming" -> "embedding", "e_abtt_project" -> "embedding",
    "e_knn_opq" -> "embedding", "e_knn_opq_indexed" -> "embedding",
    "e_knn_opq3" -> "embedding", "e_knn_opq_residual" -> "embedding",
    "e_knn_opqres_indexed" -> "embedding", "e_spectrum_decay" -> "embedding",
    "d_embed_decontaminate" -> "embedding",
    "e_ivf_balance" -> "embedding",
    // mergeable-sketch family (HLL / DDSketch / CMS + pane decomposition)
    "q_count_distinct" -> "sketch", "q_hll_sketch" -> "sketch",
    "q_dd_quantiles" -> "sketch", "q_dd_quantiles_param" -> "sketch",
    "q_dd_quantiles_w" -> "sketch", "q_hll_set_algebra" -> "sketch",
    "w2b_sliding_dd_pane" -> "sketch", "w2c_sliding_hll_pane" -> "sketch",
    "w2d_sliding_topk_pane" -> "sketch", "w2e_sliding_cms_topk" -> "sketch",
    // per-key ordered-sequence state (CEP + attribution)
    "x6_cep_times_range" -> "cep", "x7_cep_one_or_more" -> "cep",
    "x8_cep_skip_past" -> "cep", "x9_cep_skip_to_next" -> "cep",
    "x10_cep_skip_to_last" -> "cep", "a21_last_touch" -> "cep",
    // banded/blocked text dedup shuffles
    "d_dedup_groups" -> "dedup", "d_minhash_lsh_pairs" -> "dedup",
    "d_curate_corpus" -> "dedup",
    // the media fingerprint rides the same capped banded-pair shuffle
    "m_media_neardup" -> "dedup", "m_media_dedup_groups" -> "dedup",
    "e_knn_ivfpq_filtered" -> "embedding"
  ).withDefaultValue("relational")

  /** Two timed passes (cold scan + warm plan), min. */
  private def timeAb(tag: String, label: String)(mk: => DataFrame): Double = {
    val ts = (1 to 2).map(_ => Measure.noopSec(mk))
    val m = ts.min
    println("[%s] %-28s %8s s  (passes: %s)".format(tag, label,
      "%.2f".formatLocal(java.util.Locale.ROOT, m),
      ts.map(d => "%.2f".formatLocal(java.util.Locale.ROOT, d)).mkString("/")))
    m
  }

  /** Standing scale gate (`runMain graft.ScaleSmoke gate r10`): builds
    * the x4 and x100 ORGANIC fixtures, times the pinned
    * [[organicSubset]] on both (two passes, min), and FAILS (exit 1) if
    * any query's x100/x4 ratio breaches the sub-linearity threshold.
    * Emits SCALE_r{N}.json in the repo root — the per-round artifact
    * the round ledger records.
    *
    * Threshold: data grows 25× between the fixtures (100/4), so a
    * linear operator scores ratio ≈ 25. The gate demands ratio ≤ 20
    * (0.8× linear — every operator here does sub-linear work per added
    * row: caps, sketches, broadcast probes; the round-9 worst case was
    * q9 at 12.3). Queries finishing under 2 s at x100 are exempt from
    * the ratio check: at sub-second scales the ratio measures host
    * noise and fixed costs, not scaling shape — but their absolute
    * time still lands in the artifact, so a regression into the tens
    * of seconds can't hide. A query that CRASHES at either scale fails
    * the gate outright. */
  private def runGate(spark: SparkSession, tag: String): Unit = {
    val ratioMax = 20.0
    val absFloorSec = 2.0
    val multLo = 4
    val multHi = 100
    def timings(mult: Int): Map[String, Option[Double]] = {
      val dst = ensureFixture(spark, mult, skewed = false, organic = true)
      organicSubset.map { name =>
        name -> (try Some(timeAb(s"gate x$mult", name)(
          SparkEntry.queries(name)(spark, dst)))
        catch { case e: Throwable =>
          System.err.println(s"[gate] $name FAILED at x$mult: ${e.getMessage}")
          None
        })
      }.toMap
    }
    val lo = timings(multLo)
    val hi = timings(multHi)
    def n(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val rows = organicSubset.map { name =>
      (lo(name), hi(name)) match {
        case (Some(tl), Some(th)) =>
          val ratio = th / math.max(tl, 0.05)
          val pass = th <= absFloorSec || ratio <= ratioMax
          (name, s"""{"t_lo":${n(tl)},"t_hi":${n(th)},"ratio":${n(ratio)},"pass":$pass}""", pass)
        case (tl, th) =>
          val f = (v: Option[Double]) => v.map(n).getOrElse("null")
          (name, s"""{"t_lo":${f(tl)},"t_hi":${f(th)},"ratio":null,"pass":false}""", false)
      }
    }
    val failed = rows.collect { case (name, _, false) => name }
    // --- per-family roll-up (round-17 verdict task 6): max ratio per
    // cost class over the NON-exempt queries (x100 time above the
    // floor), plus the prior round's max re-derived from its artifact
    // under the same rule, so class creep is one diff, not 45 rows.
    val famRows = organicSubset.flatMap { name =>
      (lo(name), hi(name)) match {
        case (Some(tl), Some(th)) if th > absFloorSec =>
          Some((costFamily(name), name, th / math.max(tl, 0.05), th))
        case _ => None
      }
    }.groupBy(_._1)
    val prevRatios: Map[String, (Double, Double)] = scala.util.Try {
      val prevTag = "r%d".formatLocal(java.util.Locale.ROOT,
        tag.drop(1).toInt - 1)
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"SCALE_$prevTag.json")),
        java.nio.charset.StandardCharsets.UTF_8)
      val re = """"([a-z0-9_]+)":\{"t_lo":[0-9.]+,"t_hi":([0-9.]+),"ratio":([0-9.]+)""".r
      re.findAllMatchIn(txt)
        .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble))
        .collect { case (q, th, r) if th > absFloorSec => q -> (r, th) }.toMap
    }.getOrElse(Map.empty)
    // The roll-up carries BOTH the ratio trend and the worst member's
    // ABSOLUTE x100 time (round-18, the w2d lesson): a ratio whose
    // denominator is a ~1.3 s x4 cell swings +-30% on denominator
    // jitter alone (r17 measured 5.13 and 6.8 for the same code in one
    // round), while t_hi is the stable signal a real scaling change
    // must move — trend-read max_ratio THROUGH worst_t_hi.
    val famJson = famRows.toSeq.sortBy(_._1).map { case (fam, qs) =>
      val (_, worst, maxR, worstHi) = qs.maxBy(_._3)
      // prev_* is the prior round's max-RATIO family member — and
      // prev_max_t_hi is THAT member's own t_hi, not the family max
      // over all members (ADVICE r18: mixing them compared absolutes
      // of different queries, e.g. e_spectrum_decay's ratio beside
      // e_knn_opq's 18.7 s, reading as a phantom trend). prev_worst
      // names the member so a cross-query comparison is visible.
      val prevPairs = organicSubset.filter(q => costFamily(q) == fam)
        .flatMap(q => prevRatios.get(q).map(q -> _))
      val (prevStr, prevHiStr, prevWorst) =
        if (prevPairs.isEmpty) ("null", "null", "null")
        else {
          val (q, (r, th)) = prevPairs.maxBy(_._2._1)
          (n(r), n(th), s""""$q"""")
        }
      s""""$fam":{"n":${qs.size},"max_ratio":${n(maxR)},"worst":"$worst","worst_t_hi":${n(worstHi)},"prev_max_ratio":$prevStr,"prev_max_t_hi":$prevHiStr,"prev_worst":$prevWorst}"""
    }.mkString(",")
    val json = s"""{"mode":"scale_gate","fixture":"organic","mult_lo":$multLo,"mult_hi":$multHi,""" +
      s""""ratio_max":$ratioMax,"abs_floor_sec":$absFloorSec,""" +
      s""""queries":{${rows.map { case (k, v, _) => s""""$k":$v""" }.mkString(",")}},""" +
      s""""families":{$famJson},""" +
      s""""failed":[${failed.map(f => s""""$f"""").mkString(",")}],"pass":${failed.isEmpty}}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"SCALE_$tag.json"), json + "\n")
    println(json)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Build (or reuse) the x`mult` fixture set for the given mode flags;
    * returns the fixture directory. Factored out of main so the `gate`
    * mode can build BOTH comparison points (x4 and x100 organic) in one
    * run.
    *
    * `organic`: unique-id/content regeneration per replica. The default
    * replication is deliberately dup-heavy (every doc gains mult-1 exact
    * copies; dimension keys shared), which exercises the degenerate LSH
    * regime but FLATTERS dedup and understresses distinct-heavy
    * aggregates (count-distinct cardinalities stay constant as the
    * corpus multiplies). Organic mode salts the replica index into
    * every key family (dims replicated with offset keys, fact FKs
    * re-pointed at the copy-local dims), regenerates document
    * vocabulary per copy (token-prefix rewrite -> cross-copy Jaccard
    * 0, only the fixture's own ~10% dup rate remains), and perturbs
    * embedding coordinates — so distinct counts, group counts, and
    * join build sides all scale WITH the data, the way a real corpus
    * grows. */
  def ensureFixture(spark: SparkSession, mult: Int, skewed: Boolean,
      organic: Boolean): String = {
    val src = "/root/testdata/sf0.1"
    val dst = s"/tmp/graft_sfbig_x$mult" +
      (if (skewed) "_skew" else if (organic) "_organic" else "")

    val big = Map(
      "events" -> Map("event_id" -> 100000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L),
      "lineitem" -> Map("l_orderkey" -> 100000000L),
      "orders" -> Map("o_orderkey" -> 100000000L))
    // Organic offsets: EVERY key family advances per replica (all well
    // past the sf0.1 max of each key), so dims multiply and fact FKs
    // land on the copy-local dim rows. region/nation stay shared — 5/25
    // rows is their real-world cardinality at any scale.
    val organicBig = Map(
      "customer" -> Map("c_custkey" -> 10000000L),
      "orders" -> Map("o_orderkey" -> 100000000L, "o_custkey" -> 10000000L),
      "supplier" -> Map("s_suppkey" -> 1000000L),
      "part" -> Map("p_partkey" -> 10000000L),
      "lineitem" -> Map("l_orderkey" -> 100000000L,
        "l_partkey" -> 10000000L, "l_suppkey" -> 1000000L),
      "events" -> Map("event_id" -> 100000000L, "user_id" -> 10000000L),
      "documents" -> Map("doc_id" -> 10000000L),
      "embeddings" -> Map("vec_id" -> 10000000L))
    // reuse sentinel = _SUCCESS marker written AFTER the last table — a
    // run killed mid-generation must regenerate, not silently reuse a
    // half-built fixture set. Organic fixtures carry a GENERATION tag:
    // v2 = offset-less dims stay single-copy (round-10 fix) — a fixture
    // built by the earlier dim-duplicating code must regenerate.
    val done = new java.io.File(if (organic) s"$dst/_SUCCESS_v2" else s"$dst/_SUCCESS")
    if (!done.exists()) {
      Tables.all.foreach { t =>
        val base = Tables.t(spark, src, t)
        val rep =
          if (organic) {
            // Offset-less tables (region, nation) stay a SINGLE copy —
            // replicating them without key offsets would union mult
            // identical frames, giving the dims duplicate primary keys
            // that fan out every nation/region join by ~mult per hop.
            // 5/25 rows is their real-world cardinality at any scale.
            if (!organicBig.contains(t)) base
            else {
            val offs = organicBig(t)
            (0 until mult).map { i =>
              val keyed = offs.foldLeft(base) { case (d, (c, off)) =>
                d.withColumn(c, col(c) + lit(off * i))
              }
              if (i == 0) keyed
              else if (t == "documents")
                // per-copy vocabulary: token-prefix rewrite makes
                // cross-copy shingle sets disjoint (Jaccard 0), so only
                // the fixture's native dup structure survives replication
                keyed
                  .withColumn("text",
                    regexp_replace(col("text"), "([a-z0-9]+)", s"r${i}_$$1"))
                  .withColumn("n_chars", length(col("text")))
              else if (t == "embeddings")
                // deterministic per-copy perturbation: breaks the
                // 99-identical-points geometry without moving vectors far
                keyed.withColumn("embedding", expr(
                  "transform(embedding, (x, j) -> cast(x + 0.001d * sin(vec_id * (j + 1)) AS float))"))
              else keyed
            }.reduce(_ unionByName _)
            }
          } else big.get(t).map(off => replicate(base, mult, off)).getOrElse(base)
        val out = if (skewed && t == "events")
          rep.withColumn("user_id",
            when(pmod(col("event_id"), lit(5)) === 0, lit(7L)).otherwise(col("user_id")))
        else rep
        out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      }
      done.createNewFile()
      println(s"[scale] wrote x$mult fixtures to $dst")
    } else println(s"[scale] reusing fixtures in $dst")
    dst
  }

  /** Hot-key subset: every query keyed on user_id, paired where possible
    * with its skew remedy (a2 unsalted vs a2b salted is the headline
    * before/after; q_salted_join carries its own salt). */
  private val skewSubset = Seq(
    "a2_running_sum", "a2b_running_sum_salted", "a4_user_action_window",
    "a12_ewma_smooth", "a13_transition_matrix", "q_salted_join",
    "a8_retention_cohort", "a11_peak_concurrency", "a16_inter_event_gap")
  private val uniformSubset = Seq(
    "q1_pricing_summary", "q5_region_revenue", "q_percentiles",
    "q_hll_sketch", "q_count_distinct", "a1_window_count_5m",
    "a2b_running_sum_salted", "w3_session_window", "j3_interval_join",
    "t_simhash", "d_minhash_sig", "d_minhash_lsh_pairs",
    "d_dedup_groups", "d_curate_corpus", "e_knn_brute", "e_knn_lsh",
    "a8_retention_cohort", "a9_funnel", "a10_zscore_outliers",
    "t_lm_score", "t_repetition", "e_knn_rerank", "q_mode_quantity",
    "q_cms_topk", "q_bloom_semi", "d_weighted_sample", "t_tfidf",
    "a11_peak_concurrency", "q_salted_join", "q_unpivot",
    "d_decontaminate", "d_pack_sequences", "d_ingest_neardup",
    "t_vocab_coverage", "a14_rolling_dau")

  /** What one ScaleSmoke invocation does. */
  sealed trait Mode
  /** The standing scale gate; `tag` names its SCALE_{tag}.json artifact. */
  final case class Gate(tag: String) extends Mode
  /** Time a query subset on the x`mult` fixture. */
  final case class Run(mult: Int, skew: Boolean, organic: Boolean,
      only: Option[Seq[String]]) extends Mode

  val Usage =
    "usage: ScaleSmoke [mult] [skew] [organic] [only=q1,q2,...] | ScaleSmoke gate [rN]"

  /** Parses the six argument forms — `gate`, `rN`, `[mult]`, `skew`,
    * `organic`, `only=` — or says which word is not one of them. `rN`
    * tags the gate's artifact and is only valid with `gate`, which takes
    * nothing else. */
  def parseArgs(args: Seq[String]): Either[String, Mode] = {
    val (gateWords, runWords) = args.partition(w => w == "gate" || w.matches("r\\d+"))
    if (gateWords.contains("gate")) {
      if (runWords.nonEmpty) Left(s"gate takes only rN, not '${runWords.mkString(" ")}'")
      else Right(Gate(gateWords.filter(_ != "gate").lastOption.getOrElse("rX")))
    } else if (gateWords.nonEmpty) Left(s"'${gateWords.head}' is a gate tag; use it with gate")
    else runWords.foldLeft[Either[String, Run]](Right(Run(16, skew = false, organic = false, None))) {
      case (Left(e), _) => Left(e)
      case (Right(r), "skew") => Right(r.copy(skew = true))
      case (Right(r), "organic") => Right(r.copy(organic = true))
      case (Right(r), w) if w.forall(_.isDigit) && w.toIntOption.exists(_ > 0) =>
        Right(r.copy(mult = w.toInt))
      case (Right(r), w) if w.startsWith("only=") && w.length > 5 =>
        Right(r.copy(only = Some(w.drop(5).split(',').toSeq)))
      case (Right(_), w) => Left(s"unknown argument '$w'")
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = parseArgs(args.toSeq) match {
      case Right(m) => m
      case Left(err) =>
        System.err.println(s"ScaleSmoke: $err\n$Usage")
        sys.exit(2)
    }
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-scale-smoke")
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case Gate(tag) => runGate(spark, tag)
      case r: Run => runSubset(spark, r)
    }
  }

  /** Times the subset on the fixture — `only=a,b,c` profiles an
    * arbitrary query list (two passes each, so cold-scan cost and warm
    * plan cost separate); otherwise the skew, organic or uniform subset
    * runs once. Exits 1 if any query fails. */
  private def runSubset(spark: SparkSession, r: Run): Unit = {
    val dst = ensureFixture(spark, r.mult, r.skew, r.organic)
    val subset = r.only.getOrElse(
      if (r.skew) skewSubset else if (r.organic) organicSubset else uniformSubset)
    val passes = if (r.only.isDefined) 2 else 1
    def n(d: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, d)
    val times: Seq[(String, Option[Double])] = subset.map { name =>
      val ts = (1 to passes).map { _ =>
        try Some(Measure.noopSec(SparkEntry.queries(name)(spark, dst)))
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name FAILED: ${e.getMessage}"); None }
      }
      val ok = ts.forall(_.isDefined)
      println("[scale] %-28s %8s s%s".format(name,
        ts.map(_.fold("-")(n)).mkString("/"), if (ok) "" else "  FAILED"))
      name -> (if (ok) Some(ts.flatten.min) else None) // a crash is not a timing
    }
    println("{" + times.map { case (k, v) => "\"" + k + "\":" + v.map(n).getOrElse("null") }
      .mkString(",") + s""","mult":${r.mult},"skew":${r.skew}}""")
    spark.stop()
    if (times.exists(_._2.isEmpty)) sys.exit(1)
  }
}
