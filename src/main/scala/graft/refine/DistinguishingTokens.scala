package graft.refine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Second pass: adjust pairwise match weights using tokens that distinguish
  * candidates within each candidate group (reference:
  * post_linkage/identify_distinguishing_tokens.py:4-476, semantics traced
  * in SURVEY.md §3.3 step 3).
  *
  * Convention (as in the reference): the _r side is the "messy" record
  * whose candidate group we analyse; the _l side are its candidates.
  * In SELF-dedup mode (Pipeline.run feeds pairs oriented conv_id_l <
  * conv_id_r) a record's candidate group as _r therefore contains only
  * co-blocked partners with SMALLER ids — the adjustment each pair gets is
  * computed against that id-ordered subset, not the record's full
  * neighbourhood. This mirrors the reference's one-sided messy-vs-canonical
  * analysis and keeps refine single-pass; mirroring every pair into both
  * orientations would double the refine shuffle for a second-order effect
  * on scores that the F1 gates have never needed.
  *
  * adjustment = REWARD * sum(1/cnt^2 over tokens shared by this l and r)
  *            - PUNISH * |tokens present elsewhere in the block but not in this l|
  *            - MISSING_PENALTY * |tokens of this l absent from r|
  *            + bigram analogues (bigrams keyed "tok1 tok2"; reference keys
  *              maps by token arrays — string keys are the Spark remodel,
  *              SURVEY.md §1.4).
  *
  * Scale shape: one window (top-N per messy id) + one groupBy over the
  * messy id + two equi-joins back — all shuffles are on the messy-record
  * key, bounded by top_n_matches (block size <= N, reference caps at 5).
  */
object DistinguishingTokens {

  // The reference's fixed multipliers (identify_distinguishing_tokens.py);
  // the adjustment formula is in the object doc.
  private val RewardMultiplier = 3.0
  private val PunishmentMultiplier = 1.5
  private val BigramRewardMultiplier = 3.0
  private val BigramPunishmentMultiplier = 1.5
  private val MissingTokenPenalty = 0.1

  final case class Params(
      matchWeightThreshold: Double = -20,
      topNMatches: Int = 5,
      /** tokens stripped (up to twice) from each side's tail before the
        * analysis — the reference's remove_common_end_tokens step
        * (identify_distinguishing_tokens.py:58-113; the double list_filter
        * removes at most two trailing common tokens).
        */
      commonEndTokens: Seq[String] = Nil)

  // Per-pair overlap/elsewhere sets are computed with array_intersect /
  // array_except (codegen'd, hash-based O(n+m)) over the SORTED pool-hist
  // key arrays, with counts looked up in the pool map only where a formula
  // needs them — NOT with map_filter(m, (k,_) => array_contains(keys, k)):
  // higher-order functions are CodegenFallback, so that form is an
  // interpreted O(|m|·|keys|) scan per map per pair (~300 us/row measured;
  // the refine section was 115 s at 100k convs AND anti-scaled 3.5x from
  // local[8] to local[32] on allocation contention — VERDICT r3 #4).
  // array_intersect preserves first-argument order, so reward sums run in
  // the exact sorted-key order the map_values fold used: bit-identical
  // doubles (RefineSpec hand-computed values unchanged).

  /** improve predictions. `pairs` must contain: conv_id_l, conv_id_r,
    * match_weight plus sig_text_l / sig_text_r (normalised record texts).
    */
  def improve(pairs: DataFrame, params: Params = Params()): DataFrame = {
    // Step 1-2: threshold + top-N per messy record with the reference's
    // exact tie-break (ORDER BY match_weight DESC, unique_id_l DESC)
    // (identify_distinguishing_tokens.py:40-56).
    val good = pairs.filter(col("match_weight") > params.matchWeightThreshold)
    val w = Window.partitionBy(col("conv_id_r"))
      .orderBy(col("match_weight").desc, col("conv_id_l").desc)
    val topN = good.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= params.topNMatches).drop("__rn")

    // Step 3-4: tokenise both sides. sig_text is already in normal form
    // (uppercase, punctuation-free — it is a concat_ws of normText outputs,
    // and normText is idempotent, property-tested), so a whitespace split
    // is EXACTLY GraftFunctions.tokens here at none of its regex cost —
    // the full normalisation chain ran per pair and dominated refine CPU.
    // Trailing common end tokens stripped up to twice per side (reference
    // applies its tail filter twice — identify_distinguishing_tokens.py:93-94).
    // "" entries filtered like Signatures.tokens: sig_text keeps the empty
    // element a punctuation-only turn leaves behind (a leading space), and
    // split would emit a "" token into the block pool / overlap rewards
    def fastToks(c: Column): Column =
      when(length(c) === 0, array().cast("array<string>"))
        .otherwise(filter(split(c, "\\s+"), t => length(t) > 0))
    def stripCommonTail(toks: Column): Column =
      if (params.commonEndTokens.isEmpty) toks
      else {
        def stripOnce(c: Column): Column =
          when(try_element_at(c, lit(-1)).isin(params.commonEndTokens: _*),
            slice(c, lit(1), size(c) - 1)).otherwise(c)
        stripOnce(stripOnce(toks))
      }
    // NOTE (r5 + r6 measured NEGATIVE results): materialising tokenised
    // here does NOT pay. r5 measured a CacheManager .persist() as neutral;
    // r6 measured a lazy localCheckpoint barrier at 55-67 s for the refine
    // stage vs ~7 s without (30k convs) — the barrier's UnknownPartitioning
    // forces every downstream consumer (pool explode groupBys, tokens_r
    // aggregate, final join) to re-shuffle what exchange reuse otherwise
    // shares, and the materialised row (all carry columns + both token
    // arrays) is far fatter than the pruned per-consumer projections.
    // Keep tokenised as a plain subplan.
    val tokenised = topN
      .withColumn("tokens_l", stripCommonTail(fastToks(col("sig_text_l"))))
      .withColumn("tokens_r", stripCommonTail(fastToks(col("sig_text_r"))))

    // Step 5: per-messy-record block pool histograms, computed RELATIONALLY
    // (explode -> map-side-combinable groupBy count -> sorted
    // map_from_entries) instead of a per-row fold over the flattened pool:
    // the fold form was an interpreted O(distinct^2) giant-array HOF that
    // dominated refine wall and anti-scaled with cores
    // (identify_distinguishing_tokens.py:130-201).
    // Token and bigram pools are counted in ONE pass: the elements are
    // tagged (kind 0 = token, 1 = bigram) before a single explode, counted
    // under (conv_id_r, kind, e), and split back into the two maps by a
    // null-skipping collect_list(when(kind...)) — one explode shuffle +
    // one pool groupBy chain instead of two of each, and one fewer
    // recompute of the windowed `tokenised` subtree (the r5 stage-cut;
    // map contents and entry order are unchanged: same per-kind entries,
    // same array_sort).
    val pooled = tokenised
      .select(col("conv_id_r"), explode(concat(
        transform(col("tokens_l"), t => struct(lit(0).as("kind"), t.as("e"))),
        transform(wordNgrams(col("tokens_l"), 2),
          b => struct(lit(1).as("kind"), b.as("e"))))).as("ke"))
      .select(col("conv_id_r"), col("ke.kind").as("kind"), col("ke.e").as("e"))
      .groupBy(col("conv_id_r"), col("kind"), col("e"))
      .agg(count(lit(1)).cast("int").as("cnt"))
      .groupBy(col("conv_id_r"))
      // sort entries so downstream map_values folds are order-deterministic
      .agg(
        map_from_entries(array_sort(collect_list(
          when(col("kind") === 0, struct(col("e"), col("cnt"))))))
          .as("hist_all_tokens_in_block_l"),
        map_from_entries(array_sort(collect_list(
          when(col("kind") === 1, struct(col("e"), col("cnt"))))))
          .as("hist_all_bigrams_in_block_l"))
    val emptyHist = map_from_arrays(
      array().cast("array<string>"), array().cast("array<int>"))

    // NB: the reference's bigram pool zips the *flattened* candidate list,
    // creating spurious cross-record bigrams at list boundaries whose
    // identity depends on the candidate ordering of a Python list
    // (identify_distinguishing_tokens.py:164-171). A distributed
    // collect_list order is not deterministic, so reproducing that quirk
    // faithfully is impossible; we count within-candidate bigrams only —
    // deterministic, and a strict subset of the reference's pool.
    val blockAgg = tokenised
      .groupBy(col("conv_id_r"))
      .agg(first(col("tokens_r")).as("g_tokens_r"))
      .join(pooled, Seq("conv_id_r"), "left")
      .withColumn("hist_all_tokens_in_block_l",
        coalesce(col("hist_all_tokens_in_block_l"), emptyHist))
      .withColumn("hist_all_bigrams_in_block_l",
        coalesce(col("hist_all_bigrams_in_block_l"), emptyHist))
      // pool keys (sorted) restricted to the messy record — ARRAYS; counts
      // stay in the hist_all maps (restriction never changes a count)
      .withColumn("pool_tokens_r",
        array_intersect(map_keys(col("hist_all_tokens_in_block_l")), col("g_tokens_r")))
      .withColumn("bigrams_r", wordNgrams(col("g_tokens_r"), 2))
      .withColumn("pool_bigrams_r",
        array_intersect(map_keys(col("hist_all_bigrams_in_block_l")), col("bigrams_r")))
      .select("conv_id_r", "hist_all_tokens_in_block_l", "pool_tokens_r",
        "hist_all_bigrams_in_block_l", "pool_bigrams_r", "bigrams_r")

    // Step 6: per-pair overlap/elsewhere sets
    // (identify_distinguishing_tokens.py:204-301). tokens_r \ tokens_l is
    // array_except (distinct) — it is only ever intersected with the
    // (distinct) pool key set, so dedup cannot change any result.
    // missing_tokens keeps the multiplicity-preserving filter: its SIZE
    // counts duplicate missing tokens, as the reference does.
    val joined = tokenised.join(blockAgg, Seq("conv_id_r"), "left")
      .withColumn("overlap_tokens",
        array_intersect(col("pool_tokens_r"), col("tokens_l")))
      .withColumn("missing_tokens",
        filter(col("tokens_l"), t => not(array_contains(col("tokens_r"), t))))
      .withColumn("bigrams_l", wordNgrams(col("tokens_l"), 2))
      .withColumn("overlap_bigrams",
        array_intersect(col("pool_bigrams_r"), col("bigrams_l")))
      .withColumn("tokens_elsewhere",
        array_intersect(map_keys(col("hist_all_tokens_in_block_l")),
          array_except(col("tokens_r"), col("tokens_l"))))
      .withColumn("bigrams_elsewhere",
        array_intersect(map_keys(col("hist_all_bigrams_in_block_l")),
          array_except(col("bigrams_r"), col("bigrams_l"))))

    // Step 7: bigram unigram-cover filter
    // (identify_distinguishing_tokens.py:359-392): drop a bigram iff BOTH
    // of its unigrams are in the unigram set with pool count <= the
    // bigram's pool count. Lambdas reference only attributes + cheap
    // lookups; FALSE && NULL = FALSE covers the not-in-set case.
    def coverFiltered(bigramsArr: Column, unigramArr: Column): Column =
      filter(bigramsArr, bg => {
        val parts = split(bg, " ")
        val t1 = try_element_at(parts, lit(1))
        val t2 = try_element_at(parts, lit(2))
        val v = try_element_at(col("hist_all_bigrams_in_block_l"), bg)
        val covered1 = array_contains(unigramArr, t1) &&
          try_element_at(col("hist_all_tokens_in_block_l"), t1) <= v
        val covered2 = array_contains(unigramArr, t2) &&
          try_element_at(col("hist_all_tokens_in_block_l"), t2) <= v
        not(covered1 && covered2)
      })
    val windowed = joined
      .withColumn("overlap_bigrams_filtered",
        coverFiltered(col("overlap_bigrams"), col("overlap_tokens")))
      .withColumn("bigrams_elsewhere_filtered",
        coverFiltered(col("bigrams_elsewhere"), col("tokens_elsewhere")))

    // Final: mw adjustment (identify_distinguishing_tokens.py:407-445).
    // Reward sums fold the sorted overlap arrays — the same order the old
    // sorted-map map_values fold used, so doubles are bit-identical.
    def rewardSum(arr: Column, hist: Column): Column =
      coalesce(aggregate(arr, lit(0.0), (acc, k) => {
        val v = try_element_at(hist, k).cast("double")
        acc + lit(1.0) / (v * v)
      }), lit(0.0))
    def punishCount(arr: Column): Column = coalesce(size(arr).cast("double"), lit(0.0))

    val tokenAdj =
      rewardSum(col("overlap_tokens"), col("hist_all_tokens_in_block_l")) * RewardMultiplier -
        punishCount(col("tokens_elsewhere")) * PunishmentMultiplier -
        size(col("missing_tokens")).cast("double") * MissingTokenPenalty
    val bigramAdj =
      rewardSum(col("overlap_bigrams_filtered"), col("hist_all_bigrams_in_block_l")) *
        BigramRewardMultiplier -
        punishCount(col("bigrams_elsewhere_filtered")) * BigramPunishmentMultiplier

    windowed
      .withColumn("mw_adjustment", tokenAdj + bigramAdj)
      .withColumn("match_weight_original", col("match_weight"))
      .withColumn("match_weight", col("match_weight_original") + col("mw_adjustment"))
  }
}
