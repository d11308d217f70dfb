package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.blocking.{Blocking, RuleTierStats}
import graft.evaluate.Evaluate
import graft.ingest.TranscriptGen
import graft.model.{Label, Turn}
import graft.refine.DistinguishingTokens
import graft.resolve.{ConnectedComponents, ExactCascade}
import graft.runtime.{Checkpoints, SchemaValidation}
import graft.signature.Signatures

/** Generated input: cached turn tables (the messy batch and the canonical
  * corpus in link mode) and the generator's labels.
  */
final case class Input(turns: DataFrame, canonical: Option[DataFrame], labels: DataFrame) {
  def release(): Unit = { turns.unpersist(true); canonical.foreach(_.unpersist(true)) }
}

/** Labels on the driver: record -> true canonical, and the canonical ids
  * a link batch can be matched to. Every record a rep resolves is labelled
  * (the corpus for dedup, the messy batch for link).
  */
final case class Truth(of: Map[String, String], canonicalIds: Set[String])

final case class Quality(precision: Double, recall: Double) {
  def f1: Double = if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
}

/** A materialised pipeline output and how to drop what the run persisted. */
final case class Output(result: DataFrame, release: () => Unit)

/** The traced composition's output plus its domain counters, which are
  * computed on demand, after the traced rep has been timed.
  */
final case class Traced(output: Output, counters: () => Map[String, Double])

sealed trait Workload {
  def name: String
  /** true: the deployable configuration, every stage committed to parquet */
  def checkpointed: Boolean
  def generate(spark: SparkSession, seed: Long, cores: Int): Input
  def truth(in: Input): Truth
  /** one untraced rep through the public API, ended when the output is final */
  def run(spark: SparkSession, in: Input, ckpt: Option[String]): Output
  /** the same work, layer by layer, in `Pipeline`'s order, one span per call */
  def traced(spark: SparkSession, in: Input, ckpt: Option[String], t: Tracer): Traced
  /** the output as sorted text rows: what the output hash covers */
  def rows(result: DataFrame): Array[String]
  def quality(rows: Array[String], t: Truth): Quality
}

object Workloads {
  val all: Seq[Workload] = Seq(new Dedup("dedup_uniform", Gen.uniform),
    new Dedup("dedup_hotblock", Gen.hotblock), Link)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  private[perfbench] val cfg = Pipeline.Config()

  /** Same fingerprint `Pipeline.run` keys its checkpoint stages with. */
  private[perfbench] def fingerprint(c: Pipeline.Config): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(c.copy(checkpointDir = None).toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Same sidecar `Pipeline.run` commits next to the pairs stage. */
  private[perfbench] def tierStatsJson(stats: Seq[RuleTierStats]): String =
    stats.map(t =>
      s"""{"rule":${t.rule},"n_salt_keys":${t.nSaltKeys},"n_ultra_keys":${t.nUltraKeys},""" +
        s""""n_one_sided_hot_keys":${t.nOneSidedHotKeys}}""")
      .mkString("[", ",", "]")

  private[perfbench] def skew(c: Pipeline.Config) =
    Blocking.SkewConfig(c.maxBlockRows, c.maxSaltFactor, c.snmWindow, snmSortCol = Some("sig_text"))

  private[perfbench] def refineParams(c: Pipeline.Config) =
    DistinguishingTokens.Params(matchWeightThreshold = c.improveThreshold, topNMatches = c.topN)

  private[perfbench] val scoredCols = Seq("conv_id_l", "conv_id_r", "match_key", "match_weight",
    "match_probability", "sig_text_l", "sig_text_r").map(col)

  private[perfbench] def withBlockKey(df: DataFrame): DataFrame =
    df.withColumn("block_key", col("bk_role_len"))

  private[perfbench] def cached(df: DataFrame, cores: Int): DataFrame = {
    val c = df.repartition(cores).cache()
    c.count()
    c
  }

  /** sum over groups of n*(n-1)/2: the unordered pairs inside each group */
  private[perfbench] def pairsWithin(counts: DataFrame): Long =
    counts.agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0)).cast("long"))
      .head().getLong(0)

  private[perfbench] def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
}

import Workloads._

/** Self-dedup through `Pipeline.run` with a checkpoint dir, as
  * `PipelineMain` deploys it: the rep ends when the cluster assignment is
  * committed.
  */
final class Dedup(val name: String, gen: (SparkSession, Long) => (DataFrame, DataFrame))
    extends Workload {
  val checkpointed = true

  def generate(spark: SparkSession, seed: Long, cores: Int): Input = {
    val (turns, labels) = gen(spark, seed)
    Input(cached(turns, cores), None, labels)
  }

  def truth(in: Input): Truth =
    Truth(in.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap, Set.empty)

  def run(spark: SparkSession, in: Input, ckpt: Option[String]): Output = {
    val res = Pipeline.run(spark, in.turns, cfg.copy(checkpointDir = ckpt))
    Output(res.clusters, () => res.signatures.unpersist(true))
  }

  def rows(result: DataFrame): Array[String] =
    result.select("conv_id", "cluster_id").collect()
      .map(r => r.getString(0) + "\t" + r.getString(1)).sorted

  /** Pairwise precision / recall over all labelled pairs, the definition of
    * `Evaluate.pairwiseF1AllLabelPairs`, counted from group sizes.
    */
  def quality(rows: Array[String], t: Truth): Quality = {
    val assigned = rows.map(_.split("\t")).map(a => (a(0), a(1)))
    def pairs[K](keys: Iterable[K]): Long =
      keys.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    val predicted = pairs(assigned.map(_._2))
    val truePairs = pairs(t.of.values)
    val tp = pairs(assigned.map { case (id, c) => (c, t.of(id)) })
    Quality(if (predicted == 0) 1.0 else tp.toDouble / predicted,
      if (truePairs == 0) 1.0 else tp.toDouble / truePairs)
  }

  def traced(spark: SparkSession, in: Input, ckpt: Option[String], t: Tracer): Traced = {
    val c = cfg.copy(checkpointDir = ckpt)
    val turns = SchemaValidation.validateOrThrow(in.turns, SchemaValidation.turnsSchema, "turns")
    val ck = new Checkpoints(spark, ckpt.get)
    val fp = fingerprint(c)
    // the layer's output is already materialised, so this span is the
    // commit's write and reread alone
    def commit(stage: String, df: DataFrame): DataFrame = {
      val committed = t.span("runtime.checkpoint")(t.counted(ck.stage(stage, fp)(df)))
      df.unpersist()
      committed
    }

    val s0 = t.span("signature.build")(t.checkpointed(Signatures.signatures(turns)))
    val tf = t.span("signature.tf")(t.checkpointed(Signatures.tokenFrequencies(s0)))
    val sigs = t.span("signature.attach")(
      commit("signatures", t.persisted(withBlockKey(Signatures.attachTf(s0, tf))))).persist()
    val cascade = t.span("resolve.cascade")(commit("cascade", t.persisted(
      ExactCascade.selfExactLinks(sigs.select(col("conv_id"), col("sig_text"), col("block_key"))))))
    val rules = Blocking.defaultRules(Signatures.Bands)
    val (pairs, tierStats) = t.span("blocking") {
      val res = Blocking.candidatePairsSelfWithStats(sigs, "conv_id", rules, skew(c))
      val p = commit("pairs", t.persisted(res.pairs))
      if (res.tierStats.nonEmpty) ck.writeInfo("pairs", tierStatsJson(res.tierStats))
      (p, res.tierStats)
    }
    val scored = t.span("score")(commit("scored", t.persisted(
      Pipeline.scorePairs(sigs, sigs, pairs, c.prior)
        .filter(col("match_weight") > c.predictThreshold).select(scoredCols: _*))))
    t.span("refine")(commit("refined", t.persisted(
      DistinguishingTokens.improve(scored, refineParams(c))
        .select("conv_id_l", "conv_id_r", "match_weight", "match_weight_original",
          "mw_adjustment"))))
    val edges = scored.filter(col("match_weight") > c.edgeThreshold)
      .select(col("conv_id_l"), col("conv_id_r"))
      .unionByName(cascade.select(
        col("conv_id").as("conv_id_l"), col("resolved_canonical_id").as("conv_id_r")))
    val clusters = t.span("resolve.cc")(commit("clusters", t.persisted(
      ConnectedComponents.assignAll(spark, sigs.select("conv_id"), edges,
        checkpointDir = c.checkpointDir.map(_ + "/cc"),
        driverFinishMaxEdges = c.ccDriverFinishMaxEdges))))

    Traced(Output(clusters, () => sigs.unpersist(true)), () => {
      val node = sigs.select("conv_id")
        .join(cascade.select(col("conv_id"), col("resolved_canonical_id").as("root")),
          Seq("conv_id"), "left")
        .withColumn("root", coalesce(col("root"), col("conv_id")))
        .join(in.labels, Seq("conv_id"))
      def side(s: String) = node.select(col("conv_id").as(s"conv_id_$s"),
        col("root").as(s"root_$s"), col("correct_conv_id").as(s"truth_$s"))
      val sameTruth = col("truth_l") === col("truth_r")
      val agg = pairs.join(side("l"), Seq("conv_id_l")).join(side("r"), Seq("conv_id_r"))
        .agg(count(lit(1)), sum(when(sameTruth, 1L).otherwise(0L)),
          sum(when(sameTruth && col("root_l") === col("root_r"), 1L).otherwise(0L)))
        .head()
      val nPairs = agg.getLong(0).toDouble
      val blockedTrue = Option(agg.get(1)).fold(0L)(_.asInstanceOf[Long])
      val blockedAndCascaded = Option(agg.get(2)).fold(0L)(_.asInstanceOf[Long])
      val cascadeTrue = pairsWithin(node.groupBy("correct_conv_id", "root").count())
      val truePairs = pairsWithin(node.groupBy("correct_conv_id").count())
      val nScored = scored.count().toDouble
      val canonicalEdges = edges.filter(col("conv_id_l") =!= col("conv_id_r"))
        .select(least(col("conv_id_l"), col("conv_id_r")), greatest(col("conv_id_l"), col("conv_id_r")))
        .distinct().count()
      Map(
        "blocking.pairs" -> nPairs,
        "blocking.salted_keys" -> tierStats.map(_.nSaltKeys).sum.toDouble,
        "blocking.ultra_keys" -> tierStats.map(_.nUltraKeys).sum.toDouble,
        "blocking.salvage_pairs" -> pairs.filter(col("match_key") >= rules.length).count().toDouble,
        "blocking.recall" -> ratio(blockedTrue + cascadeTrue - blockedAndCascaded, truePairs),
        "blocking.pair_yield" -> ratio(blockedTrue, nPairs),
        "resolve.cascade.links" -> cascade.count().toDouble,
        "score.kept_ratio" -> ratio(nScored, nPairs),
        "score.edge_ratio" ->
          ratio(scored.filter(col("match_weight") > c.edgeThreshold).count(), nScored),
        "resolve.cc.edges" -> canonicalEdges.toDouble,
        "resolve.cc.max_cluster" ->
          clusters.groupBy("cluster_id").count().agg(max("count")).head().getLong(0).toDouble)
    })
  }
}

/** `Pipeline.runLink` of a messy batch against a canonical corpus, with the
  * lazy localCheckpoint barriers (no checkpoint dir): the rep ends when
  * `merged` is materialised.
  */
object Link extends Workload {
  val name = "link_batch"
  val checkpointed = false

  def generate(spark: SparkSession, seed: Long, cores: Int): Input = {
    val (messy, canonical, labels) = Gen.link(spark, seed)
    Input(cached(messy, cores), Some(cached(canonical, cores)), labels)
  }

  def truth(in: Input): Truth = Truth(
    in.labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap,
    in.canonical.get.select("conv_id").distinct().collect().map(_.getString(0)).toSet)

  def run(spark: SparkSession, in: Input, ckpt: Option[String]): Output = {
    val res = Pipeline.runLink(spark, in.turns, in.canonical.get, cfg)
    res.merged.count()
    Output(res.merged, () => {
      res.messySignatures.unpersist(true)
      res.canonicalSignatures.unpersist(true)
    })
  }

  def rows(result: DataFrame): Array[String] =
    result.select("conv_id_r", "conv_id_l", "match_reason", "match_weight").collect()
      .map(r => Seq(r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) "null" else "%.9f".formatLocal(java.util.Locale.ROOT, r.getDouble(3)))
        .mkString("\t"))
      .sorted

  /** Over (messy, canonical) assignments: precision over the assignments
    * made, recall over the messy records whose canonical is present.
    */
  def quality(rows: Array[String], t: Truth): Quality = {
    val assigned = rows.map(_.split("\t")).map(a => a(0) -> a(1))
    val correct = assigned.count { case (m, c) => t.of.get(m).contains(c) }
    val matchable = t.of.values.count(t.canonicalIds)
    Quality(if (assigned.isEmpty) 1.0 else correct.toDouble / assigned.length,
      if (matchable == 0) 1.0 else correct.toDouble / matchable)
  }

  def traced(spark: SparkSession, in: Input, ckpt: Option[String], t: Tracer): Traced = {
    val messyTurns = SchemaValidation.validateOrThrow(
      in.turns, SchemaValidation.turnsSchema, "messy turns")
    val canonicalTurns = SchemaValidation.validateOrThrow(
      in.canonical.get, SchemaValidation.turnsSchema, "canonical turns")
    def signatures(turns: DataFrame, tfFrom: Option[DataFrame]): DataFrame = {
      val s0 = t.span("signature.build")(t.checkpointed(Signatures.signatures(turns)))
      val tf = t.span("signature.tf")(
        t.checkpointed(Signatures.tokenFrequencies(tfFrom.getOrElse(s0))))
      t.span("signature.attach")(t.checkpointed(withBlockKey(Signatures.attachTf(s0, tf))))
        .persist()
    }
    val canonSigs = signatures(canonicalTurns, None)
    // one TF table, from the canonical corpus, for both sides
    val messySigs = signatures(messyTurns, Some(canonSigs))
    val det = t.span("resolve.cascade")(t.checkpointed(ExactCascade.run(
      messySigs.select(col("conv_id"), col("sig_text"), col("block_key")),
      canonSigs.select(col("conv_id"), col("sig_text"), col("block_key")),
      useSuffixStage = cfg.useSuffixStage)))
    val rules = Blocking.defaultRules(Signatures.Bands)
    val (pairs, tierStats) = t.span("blocking") {
      val remaining = messySigs.join(det.select("conv_id"), Seq("conv_id"), "left_anti")
      val res = Blocking.candidatePairsLinkWithStats(canonSigs, remaining, "conv_id", rules,
        skew(cfg))
      (t.checkpointed(res.pairs), res.tierStats)
    }
    val scored = t.span("score")(t.checkpointed(
      Pipeline.scorePairs(canonSigs, messySigs, pairs, cfg.prior)
        .filter(col("match_weight") > cfg.predictThreshold).select(scoredCols: _*)))
    val refined = t.span("refine")(t.checkpointed(
      DistinguishingTokens.improve(scored, refineParams(cfg))
        .select("conv_id_l", "conv_id_r", "match_weight")))
    val best = t.span("evaluate.best")(t.checkpointed(Evaluate.bestMatches(refined)))
    val merged = t.span("evaluate.merge")(t.checkpointed(Evaluate.mergeMatches(det, best)))

    Traced(Output(merged, () => { messySigs.unpersist(true); canonSigs.unpersist(true) }), () => {
      val label = in.labels.select(col("conv_id").as("conv_id_r"),
        col("correct_conv_id").as("conv_id_l"))
      val blocked = pairs.join(label, Seq("conv_id_r", "conv_id_l"), "left_semi")
      val cascaded = det.join(label.withColumnRenamed("conv_id_r", "conv_id"), Seq("conv_id"))
        .filter(col("resolved_canonical_id") === col("conv_id_l"))
      val found = blocked.select(col("conv_id_r").as("conv_id"))
        .union(cascaded.select("conv_id")).distinct().count()
      val matchable = label.join(canonSigs.select(col("conv_id").as("conv_id_l")),
        Seq("conv_id_l"), "left_semi").count()
      val nPairs = pairs.count().toDouble
      val nScored = scored.count().toDouble
      Map(
        "blocking.pairs" -> nPairs,
        "blocking.salted_keys" -> tierStats.map(_.nSaltKeys).sum.toDouble,
        "blocking.ultra_keys" -> tierStats.map(_.nUltraKeys).sum.toDouble,
        "blocking.salvage_pairs" -> pairs.filter(col("match_key") >= rules.length).count().toDouble,
        "blocking.recall" -> ratio(found, matchable),
        "blocking.pair_yield" -> ratio(blocked.count(), nPairs),
        "resolve.cascade.links" -> det.count().toDouble,
        "score.kept_ratio" -> ratio(nScored, nPairs),
        "score.edge_ratio" ->
          ratio(scored.filter(col("match_weight") > cfg.edgeThreshold).count(), nScored))
    })
  }
}

/** Input generators. Each is a pure function of the workload seed. */
object Gen {
  /** corpus size of `dedup_uniform`, in TranscriptGen id slots */
  val UniformSlots = 1000L
  /** `dedup_hotblock`: a TranscriptGen corpus plus template copies */
  val HotBaseSlots = 1000L
  /** copies per salted template: just above maxBlockRows = 200 */
  val SaltedCopies = Seq(210)
  /** the ultra-hot template: above 200 x 8 = 1600 rows, so its keys take
    * the sorted-neighbourhood salvage; most copies differ only in casing,
    * punctuation and spacing, and two small groups lose or swap one word
    */
  val UltraNoiseCopies = 1610
  val UltraEditedCopies = 30
  /** templates are the shortest of this many canonical conversations:
    * every copy pair is scored, so short templates keep the rep small
    */
  val TemplateCandidates = 24
  /** `link_batch`: canonical = variant 0 of these slots; the messy batch is
    * variants 1-3 of them plus of `LinkAbsentSlots` more whose canonical is
    * left out
    */
  val LinkSlots = 2000L
  val LinkAbsentSlots = 400L

  def uniform(spark: SparkSession, seed: Long): (DataFrame, DataFrame) =
    (TranscriptGen.turnsDF(spark, UniformSlots, seed),
      TranscriptGen.labels(spark, UniformSlots, seed).toDF())

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(n: Int, parts: Long*): Int =
    java.lang.Math.floorMod(parts.foldLeft(0x7e3aL)((a, b) => mix(a ^ mix(b))), n.toLong).toInt

  /** the most frequent words of the generator's vocabulary: editing them
    * leaves a conversation's rare (salient) tokens as they were
    */
  private val Shared = Vector("the", "a", "to", "of", "and")

  /** kind 0: casing, punctuation and spacing noise, which the signature
    * normalisation removes; 1: drop the first shared word of turn j;
    * 2: swap it for the next shared word
    */
  private def edit(conv: Vector[Turn], kind: Int, j: Int, key: Long*): Vector[Turn] =
    if (kind == 0) conv.zipWithIndex.map { case (tu, i) =>
      val words = tu.text.split(" ").zipWithIndex.map { case (w, wi) =>
        pick(4, key :+ i.toLong :+ wi.toLong: _*) match {
          case 0 => w.capitalize
          case 1 => w + ","
          case _ => w
        }
      }
      tu.copy(text = words.mkString(if (pick(2, key :+ i.toLong: _*) == 0) "  " else " ") + ".")
    }
    else {
      val tu = conv(j)
      val words = tu.text.split(" ")
      val at = words.indexWhere(Shared.contains)
      if (at < 0) conv
      else {
        val edited =
          if (kind == 1) words.patch(at, Nil, 1)
          else words.updated(at, Shared((Shared.indexOf(words(at)) + 1) % Shared.length))
        conv.updated(j, tu.copy(text = edited.mkString(" ")))
      }
    }

  private def copyId(t: Int, k: Int): String = f"h$t%02d-$k%05d"

  def hotblock(spark: SparkSession, seed: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val copies = SaltedCopies :+ (UltraNoiseCopies + 2 * UltraEditedCopies)
    // templates are canonical conversations from bases past the base
    // corpus, so no base record shares their rare tokens
    val firstBase = HotBaseSlots / 4
    val candidateIds = (0 until TemplateCandidates).map(i => TranscriptGen.convId(4L * (firstBase + i)))
    val templates = TranscriptGen.turns(spark, 4L * (firstBase + TemplateCandidates), seed)
      .filter(col("conv_id").isin(candidateIds: _*)).collect()
      .groupBy(_.conv_id).values.map(_.sortBy(_.turn_idx).toVector).toSeq
      .sortBy(c => (c.map(_.text.length).sum, c.head.conv_id))
      .take(copies.length)
    val copyTurns = for {
      t <- copies.indices
      k <- 0 until copies(t)
      template = templates(t)
      (kind, j) =
        if (t < SaltedCopies.length) (pick(3, seed, t, k, 1), pick(template.length, seed, t, k, 2))
        else if (k < UltraNoiseCopies) (0, 0)
        else if (k < UltraNoiseCopies + UltraEditedCopies) (1, 0)
        else (2, 1)
      turn <- edit(template, kind, j, seed, t, k)
    } yield turn.copy(conv_id = copyId(t, k))
    val copyLabels = for (t <- copies.indices; k <- 0 until copies(t))
      yield Label(copyId(t, k), copyId(t, 0))
    (TranscriptGen.turns(spark, HotBaseSlots, seed).union(copyTurns.toDS()).toDF(),
      TranscriptGen.labels(spark, HotBaseSlots, seed).union(copyLabels.toDS()).toDF())
  }

  /** (messy turns, canonical turns, labels of the messy records) */
  def link(spark: SparkSession, seed: Long): (DataFrame, DataFrame, DataFrame) = {
    val slots = LinkSlots + LinkAbsentSlots
    val slot: Column = substring(col("conv_id"), 2, 10).cast("long")
    val turns = TranscriptGen.turnsDF(spark, slots, seed)
    (turns.filter(slot % 4 =!= 0),
      turns.filter(slot % 4 === 0 && slot < LinkSlots),
      TranscriptGen.labels(spark, slots, seed).toDF().filter(slot % 4 =!= 0))
  }
}
