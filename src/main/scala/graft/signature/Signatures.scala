package graft.signature

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Per-conversation signature derivation — the transcript analogue of the
  * reference's cleaning pipeline (reference: cleaning/pipelines.py:35-63,
  * term_frequencies.py), re-expressed as one declarative Spark plan.
  *
  * Input: one row per turn (conv_id, turn_idx, role, text, tool, ts).
  * Output: one row per conversation:
  *   - sig_text: normalised concatenation of turn texts in stable
  *     (turn_idx) order — the ROW INVARIANT hinges on the explicit
  *     array_sort over collect_list(struct(turn_idx, ...)), because
  *     collect_list order is not deterministic under shuffle
  *     (SURVEY.md §7.4 risk 2).
  *   - turn_texts: per-turn normalised text array (turn-aligned scoring).
  *   - role_seq: compact role string, e.g. "UAUAT" (postcode analogue).
  *   - tokens, token TF features, salient (rarest) tokens 1..3
  *     (numeric_token_1..3 analogue, reference tokenisation.py:22-36).
  *   - minhash signature + LSH band keys (north_star blocking keys).
  */
object Signatures {

  val MinhashK = 16
  val Bands = 4
  val RowsPerBand = 4

  /** TF-attach miss default (reference: term_frequencies.py:104-111). */
  val DefaultRelFreq = 5e-5

  /** Aggregate turns into ordered per-conversation rows. */
  def conversations(turns: DataFrame): DataFrame = {
    val collected = turns
      .select(col("conv_id"), struct(col("turn_idx"), col("role"), col("text"), col("ts")).as("t"))
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(col("t"))).as("ts_sorted"))
    collected.select(
      col("conv_id"),
      size(col("ts_sorted")).as("n_turns"),
      transform(col("ts_sorted"), t => normText(t.getField("text"))).as("turn_texts"),
      concat_ws("", transform(col("ts_sorted"),
        t => upper(substring(t.getField("role"), 1, 1)))).as("role_seq"))
  }

  /** Full signature table from raw turns. */
  def signatures(turns: DataFrame): DataFrame = {
    val conv = conversations(turns)
    val withText = conv
      .withColumn("sig_text", concat_ws(" ", col("turn_texts")))
      // "" elements are filtered out of tokens: a punctuation-only turn
      // normalises to "", concat_ws keeps the empty element, and split
      // would emit a "" token that then poisons TF/rarity (a rare ""
      // becomes salient_token_1 of every such conversation and co-blocks
      // unrelated records). sig_text itself is left byte-identical — it is
      // the exact-match / length surface, not the token surface.
      .withColumn("tokens",
        when(length(col("sig_text")) === 0, array().cast("array<string>"))
          .otherwise(filter(split(col("sig_text"), " "), t => length(t) > 0)))
    // positional numeric tokens (reference: numeric_token_1..3,
    // cleaning/steps/tokenisation.py:22-36) — document-order, so filler
    // text cannot displace them the way it can displace rarity-ranked
    // salient tokens
    // all-digits test as a translate-to-empty check, not a regex — at none
    // of the per-token regex cost. The explicit length(t) > 0 guard matches
    // rlike("^[0-9]+$")'s one-or-more: "" tokens ARE reachable (a
    // punctuation-only turn normalises to "", concat_ws keeps empty
    // elements, split emits ""), and without the guard two unrelated
    // conversations would "match" on numeric_token_1 = ""
    val numericToks = filter(col("tokens"),
      t => length(t) > 0 && length(translate(t, "0123456789", "")) === 0)
    val base = withText
      .withColumn("numeric_token_1", try_element_at(numericToks, lit(1)))
      .withColumn("numeric_token_2", try_element_at(numericToks, lit(2)))
      .withColumn("numeric_token_3", try_element_at(numericToks, lit(3)))
      .withColumn("len_band", floor(log2(greatest(length(col("sig_text")), lit(1)))).cast("int"))
      .withColumn("bk_role_len", concat_ws("#", col("role_seq"), col("len_band")))
    // MinHash over word-3-gram shingles (not unigram tokens): unrelated
    // records sharing a vocabulary still have near-disjoint shingle sets,
    // so LSH bands stay selective (candidate-pair count is THE scale
    // driver; shingle->minhash->band is the standard near-dup design).
    // Computed via explode+groupBy-min — the Column-expression form
    // re-inlines the shingle pipeline once per hash seed (see
    // GraftFunctions.minhashAggregate).
    //
    // base is MATERIALISED once (lazy localCheckpoint) before the minhash
    // branch: base and mh are two instances of the same subplan joined
    // together, so without the barrier the post-aggregate projection (the
    // per-turn normText chain + tokenise + shingle) is computed once per
    // instance, and the explode inside minhashAggregate additionally
    // re-inlines the shingle chain into its inferred size(__sh) > 0
    // filter (guide §1.2; measured 11.9 s -> ~5 s for the signatures
    // stage at 30k convs). Fresh RDD per call — no cross-run caching.
    val baseSh = base
      .withColumn("__sh", array_distinct(wordNgrams(col("tokens"), 3)))
      .localCheckpoint(false)
    val mh = minhashAggregate(
      baseSh.select(col("conv_id"), col("__sh")),
      "conv_id", col("__sh"), MinhashK)
    baseSh.drop("__sh").join(mh, Seq("conv_id"), "left")
      // band keys from the RAW (nullable) signature: a conversation with
      // <3 tokens has no shingles, hence no minhash — its band keys must
      // be NULL (the un-blockable convention every other feature follows;
      // blocking filters null keys before the shuffle) rather than a
      // shared sentinel that would glue every short conversation in the
      // corpus into one giant block per band (explicit when(): concat_ws
      // inside minhashBandKeys skips nulls, so it would NOT null-propagate)
      .withColumn("minhash_bands",
        when(col("minhash_sig").isNull, lit(null).cast("array<string>"))
          .otherwise(minhashBandKeys(col("minhash_sig"), Bands, RowsPerBand)))
    // minhash_sig stays NULL for shingle-less (<3-token) conversations —
    // the un-blockable convention minhash_bands follows. The old
    // Long.MaxValue sentinel fill had no in-pipeline consumer and two
    // shingle-less records carried IDENTICAL sentinel signatures, so any
    // future consumer comparing minhash_sig directly would silently
    // re-introduce the glue-everything bug (ADVICE r5).
  }

  /** Corpus-level common END tokens: tokens that terminate more than
    * `minShare` of all records (reference: common_end_tokens resource +
    * trailing-token analysis, cleaning/steps/term_frequencies.py:147-212).
    * Result is vocabulary-sized — collected to the driver for use as a
    * literal filter in the second pass.
    */
  def commonEndTokens(sigs: DataFrame, minShare: Double = 0.05): Seq[String] = {
    val lastTok = sigs
      .select(try_element_at(col("tokens"), lit(-1)).as("tok"))
      .filter(col("tok").isNotNull)
    val total = lastTok.count().max(1L)
    lastTok.groupBy(col("tok")).count()
      .filter(col("count") > total * minShare)
      .orderBy(col("count").desc, col("tok"))
      .select("tok").collect().map(_.getString(0)).toSeq
  }

  /** On-the-fly token relative-frequency table (reference mode
    * `clean_data_on_the_fly`, cleaning/pipelines.py:108-129):
    * rel_freq = occurrences / total occurrences.
    */
  def tokenFrequencies(signatures: DataFrame): DataFrame = {
    val tok = signatures.select(explode(col("tokens")).as("token"))
    val counted = tok.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    // scalar total via broadcast cross join — NOT an empty-spec window,
    // which would funnel the whole vocabulary through one partition
    val total = counted.agg(sum(col("cnt")).as("__total"))
    counted.crossJoin(broadcast(total))
      .select(col("token"), (col("cnt") / col("__total")).as("rel_freq"))
  }

  /** Upper rel_freq bounds of the two unusual-token bands the score model
    * reads (reference: term_frequencies.py:264-307 bands at
    * 1e-4 / 5e-5 / 1e-7, retuned for a corpus-relative rel_freq).
    */
  private val VeryUnusualMax = 1e-4
  private val ExtremelyUnusualMax = 1e-5

  /** Attach TF features: token->rel_freq map, salient (rarest) tokens 1..3,
    * and the very / extremely unusual-token arrays.
    *
    * The TF table is always broadcast: it is vocabulary-sized (reference
    * TF ~300k rows), not corpus-sized.
    */
  def attachTf(sigs: DataFrame, tf: DataFrame): DataFrame = {
    // Aggregate at (conv, token) level first: counts are map-side
    // combinable and the downstream per-conversation array is one entry per
    // DISTINCT token — every derived feature (hist map, rarity bands,
    // salient tokens) needs exactly that granularity. The reference builds
    // a per-occurrence array and histograms it later
    // (term_frequencies.py:49-61, 354-355); aggregating first is the
    // shuffle-light equivalent.
    val perToken = sigs
      .select(col("conv_id"), explode(col("tokens")).as("token"))
      .join(broadcast(tf), Seq("token"), "left")
      .withColumn("rel_freq", coalesce(col("rel_freq"), lit(DefaultRelFreq)))
      .groupBy(col("conv_id"), col("token"))
      .agg(count(lit(1)).cast("int").as("cnt"), first(col("rel_freq")).as("rel_freq"))

    // one collect per conversation; array_sort on the struct's natural
    // field order (rel_freq asc, token asc) replaces comparator lambdas —
    // far smaller generated code, same rarity ordering as the reference's
    // list_grade_up (term_frequencies.py:272-305)
    val perConv = perToken
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(
        struct(col("rel_freq"), col("token"), col("cnt")))).as("tf_arr"))

    def bandTokens(lo: Double, hi: Double): Column =
      transform(
        filter(col("tf_arr"), x => x.getField("rel_freq") < hi && x.getField("rel_freq") >= lo),
        x => x.getField("token"))

    val withBands = perConv
      .withColumn("token_freq_hist",
        map_from_entries(transform(col("tf_arr"), x =>
          struct(x.getField("token").as("key"),
            struct(x.getField("cnt").as("cnt"),
              x.getField("rel_freq").as("rel_freq")).as("value")))))
      .withColumn("very_unusual_tokens", bandTokens(ExtremelyUnusualMax, VeryUnusualMax))
      .withColumn("extremely_unusual_tokens", bandTokens(0.0, ExtremelyUnusualMax))
      // salient tokens = 3 rarest distinct tokens (numeric_token_1..3 analogue)
      .withColumn("salient_token_1",
        try_element_at(col("tf_arr"), lit(1)).getField("token"))
      .withColumn("salient_token_2",
        try_element_at(col("tf_arr"), lit(2)).getField("token"))
      .withColumn("salient_token_3",
        try_element_at(col("tf_arr"), lit(3)).getField("token"))
      .drop("tf_arr")

    sigs.join(withBands, Seq("conv_id"), "left")
  }
}
