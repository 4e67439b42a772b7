package graft.operators

import graft.functions.{LmProbe, LmTables, WordNgrams}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * Count-based language-model scoring — the CCNet selection loop (Wenzek et
 * al. 2020: train an LM on a reference corpus, score every candidate
 * document, select by score bucket), re-expressed with engine-portable
 * exact arithmetic.
 *
 * Honesty note: CCNet proper scores with a 5-gram KenLM perplexity. A
 * perplexity needs `log`/`exp`, whose last-ulp behavior differs across
 * engines — a hash-checked oracle would be flaky by construction. This
 * operator keeps the ARCHITECTURE (train counts once → broadcast/plan-
 * literal model → score at scan speed → bucket by thresholds) and scores
 * with rational statistics instead, each a SINGLE division of exact
 * integer sums so any engine reproduces the doubles bit-for-bit:
 *  - `lm_score`: mean add-one token probability under the trained unigram
 *    model, `(Σ_tok c(tok) + n) / (n · (N + V))`;
 *  - `lm_oov_frac`: fraction of tokens outside the (possibly capped)
 *    vocabulary, `oov / n`;
 *  - `lm_bigram_hit_frac`: fraction of adjacent token pairs attested in
 *    the trained bigram table, `hits / (n - 1)` — the higher-order signal
 *    as exact membership rather than a smoothed conditional.
 *
 * 100 TB shape: training is one map-side-combined count aggregation per
 * order (bigrams from the native [[graft.functions.WordNgrams]], linear
 * per document). Scoring is one path for every model size: the model is
 * collected once, ships as one Spark `Broadcast`, and
 * [[graft.functions.LmProbe]] computes every statistic of a document in
 * one pass over its bytes — zero exchanges on the corpus, text never
 * shuffles. (The driver holds the model either way: a broadcast join
 * would collect the same tables.) Bucketing compares against FIXED
 * boundaries (CCNet derives them from a profiled sample) — pure codegen,
 * no global sort, no single-partition window.
 */
object CountLm {

  /** Trained model: capped term/bigram count tables plus the totals the
   *  smoothing denominator needs. `totalTokens`/`vocabSize` describe the
   *  CAPPED vocabulary (self-consistent with `terms`). */
  final case class Model(
      terms: DataFrame,   // (term: string, cnt: long)
      bigrams: DataFrame, // (bg: string, cnt: long)
      totalTokens: Long,
      vocabSize: Long)

  private def toks(text: Column): Column = split(text, " ")

  /**
   * Distributed top-`k` of a `(key, cnt)` count table by
   * `(cnt desc, key asc)` — the vocabulary head cut.
   *
   * A bare `row_number().over(Window.orderBy(...))` has no partition key:
   * Spark moves EVERY distinct term — billions of bigrams at web scale —
   * into ONE partition to rank it. This delegates to
   * [[Sampling.topKByOrder]] instead (TakeOrderedAndProject for
   * broadcast-scale `k`, plan-gated in PlanQualitySpec; two-pass
   * range-exchange cut past the engine's top-K threshold) — never a
   * single-partition sort.
   */
  def capTopK(counts: DataFrame, key: String, k: Int): DataFrame =
    Sampling.topKByOrder(counts, k, Seq(col("cnt").desc, col(key).asc))

  /** Train unigram + bigram counts from `corpus.textCol` (space-tokenized,
   *  the engine-wide convention). `maxVocab > 0` keeps the top terms and
   *  bigrams by `(count desc, value asc)` — the head-truncation every real
   *  LM applies, with a deterministic tie-break — via the distributed
   *  [[capTopK]] (never a single-partition global window). Two jobs: the
   *  totals ride the term table's materialization as observed metrics. */
  def train(corpus: DataFrame, textCol: String, maxVocab: Int = 0): Model = {
    // the two explode+count passes below are heavy per-row work over the
    // whole corpus: fan a starved single-file scan out first (guide §2.5;
    // operator-local per the round-19 verdict, q151 2x driver evidence)
    val c = Fanout.widen(corpus, Seq(col(textCol)))
    def cap(df: DataFrame, key: String): DataFrame =
      if (maxVocab <= 0) df else capTopK(df, key, maxVocab)
    val totals = Observation()
    val terms = cap(
      c.select(explode(toks(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt")), "term")
      .observe(totals, coalesce(sum(col("cnt")), lit(0L)).as("n"), count(lit(1)).as("v"))
      .localCheckpoint(eager = true)
    val bigrams = cap(
      c.select(explode(WordNgrams(col(textCol), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cnt")), "bg")
      .localCheckpoint(eager = true)
    val m = totals.get
    Model(terms, bigrams, m("n").asInstanceOf[Long], m("v").asInstanceOf[Long])
  }

  /** The model's tables as one broadcast for [[LmProbe]]; `withBigrams =
   *  false` ships an empty bigram set (unigram statistics only). */
  private def probeTables(model: Model, withBigrams: Boolean): Broadcast[LmTables] = {
    val terms = model.terms.collect().map(r => r.getString(0) -> r.getLong(1))
    val bigrams =
      if (withBigrams) model.bigrams.collect().map(_.getString(0)) else Array.empty[String]
    model.terms.sparkSession.sparkContext.broadcast(LmTables(terms, bigrams))
  }

  /** `lm_score` from a probe struct: mean add-one token probability,
   *  `(sum_c + n) / (n · (N + V))`, 0 on an empty (or null) document. */
  private def scoreOf(p: Column, model: Model): Column = {
    val n = p.getField("n")
    when(n === 0, lit(0.0)).otherwise(
      (p.getField("sum_c") + n).cast("double") /
        (n * lit(model.totalTokens + model.vocabSize)).cast("double"))
  }

  /**
   * Score every document under `model`, appending `lm_score`,
   * `lm_oov_frac`, `lm_bigram_hit_frac` — one [[LmProbe]] pass per row
   * against the broadcast model, zero exchanges on the corpus for every
   * model size (plan-gated). Null text scores 0.0 on all three, the same
   * as a document with no tokens.
   */
  def score(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: Model): DataFrame = {
    // the per-row probe below is heavy: fan a starved scan out first
    // (guide §2.5; operator-local, round-19 q157 evidence)
    val dfw = Fanout.widen(df, Seq(col(idCol)))
    val p = col("__graft_lm")
    val n = p.getField("n")
    dfw.withColumn("__graft_lm", LmProbe(col(textCol), probeTables(model, withBigrams = true)))
      .withColumn("lm_score", scoreOf(p, model))
      .withColumn("lm_oov_frac",
        when(n === 0, lit(0.0)).otherwise(p.getField("oov").cast("double") / n.cast("double")))
      .withColumn("lm_bigram_hit_frac",
        when(n < 2, lit(0.0)).otherwise(
          p.getField("hits").cast("double") / (n - 1).cast("double")))
      .drop("__graft_lm")
  }

  /**
   * DSIR-style importance weighting (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): score every candidate
   * under a TARGET-domain model and a RAW-pool model and weight by the
   * ratio — documents that look more like the target than like the pool
   * rank up. DSIR proper builds hashed-bigram multinomials and resamples
   * with Gumbel noise on the log-ratio; this keeps the architecture (two
   * count models trained once on their corpora, candidates scored at scan
   * speed) with the engine's rational statistics: `weight =
   * lm_score_target / lm_score_raw`, one IEEE division of two
   * already-exact scores, so any engine reproduces the doubles
   * bit-for-bit. (The noisy resampling variant is one Gumbel column away;
   * left out so selection stays an exact-oracle ranking.) Both term tables
   * ride as broadcasts into two [[LmProbe]] passes — zero exchanges on the
   * candidate corpus for every model size (plan-gated).
   */
  def importanceWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      target: Model,
      raw: Model,
      outCol: String = "dsir_weight"): DataFrame = {
    def probe(m: Model): Column = LmProbe(col(textCol), probeTables(m, withBigrams = false))
    val st = scoreOf(col("__graft_dsir_t"), target)
    val sr = scoreOf(col("__graft_dsir_r"), raw)
    Fanout.widen(df, Seq(col(idCol)))
      .withColumn("__graft_dsir_t", probe(target))
      .withColumn("__graft_dsir_r", probe(raw))
      .withColumn(outCol, when(sr === 0.0, lit(0.0)).otherwise(st / sr))
      .drop("__graft_dsir_t", "__graft_dsir_r")
  }

  /** DSIR selection: the `k` most target-like candidates by
   *  `(dsir_weight desc, id asc)` — [[Sampling.topKByOrder]], so the scored
   *  corpus is never globally sorted into one partition. */
  def selectByImportance(
      df: DataFrame,
      idCol: String,
      textCol: String,
      target: Model,
      raw: Model,
      k: Int): DataFrame =
    Sampling.topKByOrder(
      importanceWeights(df, idCol, textCol, target, raw),
      k, Seq(col("dsir_weight").desc, col(idCol).asc))

  /**
   * Derived statistics for interpolated Kneser-Ney scoring, computed
   * entirely from the trained bigram table (self-consistent under a
   * capped vocabulary — marginals of the CAPPED table, not raw corpus
   * counts):
   *  - `contexts`: per left word w1, `ctot` = Σ c(w1 ·) and `ncont` =
   *    N1+(w1 ·) (distinct continuations);
   *  - `rights`: per right word w2, `nleft` = N1+(· w2) (distinct left
   *    contexts) — the Kneser-Ney continuation count;
   *  - `bigramTypes` / `rightTypes`: distinct bigram / right-word type
   *    totals, the continuation-distribution denominators.
   */
  final case class KnModel(
      bigrams: DataFrame,  // (bg: string, cnt: long)
      contexts: DataFrame, // (w1: string, ctot: long, ncont: long)
      rights: DataFrame,   // (w2: string, nleft: long)
      bigramTypes: Long,
      rightTypes: Long)

  /** One aggregation pass over the (already counted, possibly capped)
   *  bigram table — never over the corpus. */
  def deriveKn(model: Model): KnModel = {
    val parts = model.bigrams.select(col("bg"), col("cnt"),
      split(col("bg"), " ").as("w"))
      .select(col("bg"), col("cnt"),
        element_at(col("w"), 1).as("w1"), element_at(col("w"), 2).as("w2"))
    val contexts = parts.groupBy(col("w1")).agg(
      sum(col("cnt")).as("ctot"), count(lit(1)).as("ncont"))
      .localCheckpoint(eager = true)
    val rights = parts.groupBy(col("w2")).agg(count(lit(1)).as("nleft"))
      .localCheckpoint(eager = true)
    val totals = parts.agg(count(lit(1)).as("b"),
      count_distinct(col("w2")).as("r")).head()
    KnModel(model.bigrams, contexts, rights, totals.getLong(0), totals.getLong(1))
  }

  /**
   * Interpolated Kneser-Ney bigram log-probability per document — the
   * ACTUAL CCNet/KenLM scoring shape (Kneser & Ney 1995; CCNet scores
   * with a KN-smoothed KenLM), engine-reproducible despite the `ln`:
   *
   *   P(w2|w1) = (max(c(w1w2) − D, 0) + D · N1+(w1·) · Pc(w2)) / c(w1·)
   *   unseen w1 → Pc(w2);   Pc(w2) = (N1+(·w2) + 1) / (B + R)   (add-one)
   *
   * with D = 0.75. Appended: `kn_logprob` = Σ ln P over adjacent bigrams
   * and `kn_bigrams` = the bigram count. Each per-bigram ln is a double
   * in a FIXED expression order, rounded to DECIMAL(22,7) BEFORE the sum
   * — the q142/BM25 discipline: the rounding absorbs any last-ulp
   * cross-engine `ln` wobble, and the decimal sum is exact and
   * order-independent, so the total is bit-reproducible from the counts
   * alone.
   *
   * Physical shape: models at or under `maxBroadcastTerms` ride as plan
   * literals and the whole score is one per-row array fold over the
   * document's adjacent pairs — ZERO corpus exchanges; larger models take
   * [[scoreKnJoin]] (exploded narrow rows, broadcast joins, decimal
   * partial sums — text never shuffles). Paths are bit-identical
   * (spec-gated).
   */
  def scoreKn(
      df: DataFrame,
      idCol: String,
      textCol: String,
      kn: KnModel,
      maxBroadcastTerms: Int = 100000): DataFrame = {
    val dfw = Fanout.widen(df, Seq(col(idCol)))
    val nBg = kn.bigrams.count()
    val nCtx = kn.contexts.count()
    if (nBg <= maxBroadcastTerms && nCtx <= maxBroadcastTerms) {
      val bgMap = typedLit(
        kn.bigrams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      val ctxMap = typedLit(kn.contexts.collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
      val rightMap = typedLit(
        kn.rights.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      val n = size(toks(col(textCol))).cast("long")
      def termAt(p: Column): Column = {
        val w1 = p.getField("0")
        val w2 = p.getField("1")
        val bg = concat_ws(" ", w1, w2)
        knTerm(element_at(bgMap, bg),
          element_at(ctxMap, w1).getField("_1"),
          element_at(ctxMap, w1).getField("_2"),
          element_at(rightMap, w2),
          kn.bigramTypes, kn.rightTypes)
      }
      val total = when(n >= 2,
          aggregate(adjacentPairs(col(textCol)),
            lit(java.math.BigDecimal.ZERO).cast("decimal(22,7)"),
            (acc, p) => (acc + termAt(p)).cast("decimal(22,7)")))
        .otherwise(lit(java.math.BigDecimal.ZERO).cast("decimal(22,7)"))
      dfw.withColumn("kn_logprob", total.cast("double"))
        .withColumn("kn_bigrams", greatest(n - 1, lit(0L)))
    } else scoreKnJoin(dfw, idCol, textCol, kn)
  }

  /** Adjacent token pairs of `text` as `array<struct<0: w1, 1: w2>>`,
   *  zipped from two slices of ONE `split` — built once per row, never
   *  re-split inside a lambda. Empty for fewer than two tokens. */
  private def adjacentPairs(text: Column): Column = {
    val t = toks(text)
    arrays_zip(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1))
  }

  /** The per-bigram DECIMAL(22,7) ln-probability term, shared verbatim by
   *  both physical paths (and replayed by the q157 oracle): every input
   *  is a nullable count column, D = 0.75, add-one continuation floor. */
  private def knTerm(
      c: Column, ctot: Column, ncont: Column, nleft: Column,
      bigramTypes: Long, rightTypes: Long): Column = {
    val pcont = (coalesce(nleft, lit(0L)) + lit(1L)).cast("double") /
      lit(bigramTypes + rightTypes).cast("double")
    val p = when(ctot.isNull, pcont).otherwise(
      (greatest(coalesce(c, lit(0L)).cast("double") - lit(0.75), lit(0.0)) +
        lit(0.75) * ncont.cast("double") * pcont) / ctot.cast("double"))
    log(p).cast("decimal(22,7)")
  }

  /** Join-strategy Kneser-Ney for models past the plan-literal threshold:
   *  (id, w1, w2) rows broadcast-join the three stat tables, the decimal
   *  terms partial-sum per document (exact, order-free), and the corpus
   *  rejoins by id — every exchanged row is narrow, text never shuffles. */
  def scoreKnJoin(
      df: DataFrame,
      idCol: String,
      textCol: String,
      kn: KnModel): DataFrame = {
    val pairs = df.select(col(idCol).as("__graft_kn_id"),
        explode(adjacentPairs(col(textCol))).as("p"))
      .select(col("__graft_kn_id"), col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val scored = pairs
      .join(broadcast(kn.bigrams
        .select(split(col("bg"), " ").as("w"), col("cnt"))
        .select(element_at(col("w"), 1).as("w1"),
          element_at(col("w"), 2).as("w2"), col("cnt"))), Seq("w1", "w2"), "left")
      .join(broadcast(kn.contexts), Seq("w1"), "left")
      .join(broadcast(kn.rights), Seq("w2"), "left")
      .select(col("__graft_kn_id"),
        knTerm(col("cnt"), col("ctot"), col("ncont"), col("nleft"),
          kn.bigramTypes, kn.rightTypes).as("term"))
      .groupBy(col("__graft_kn_id"))
      .agg(sum(col("term")).cast("decimal(22,7)").as("kn_sum"),
        count(lit(1)).as("kn_n"))
    df.join(scored, df(idCol) === scored("__graft_kn_id"), "left")
      .withColumn("kn_logprob",
        coalesce(col("kn_sum").cast("double"), lit(0.0)))
      .withColumn("kn_bigrams", coalesce(col("kn_n"), lit(0L)))
      .drop("__graft_kn_id", "kn_sum", "kn_n")
  }

  /** CCNet-style selection: assign each row a bucket label by comparing
   *  `scoreCol` against ascending `boundaries` (score < b₀ → labels(0),
   *  < b₁ → labels(1), …, else labels.last). Fixed thresholds — derived
   *  from a profiled sample upstream, the way CCNet cuts head/middle/tail
   *  — so the assignment is pure codegen with no global sort. */
  def withScoreBuckets(
      df: DataFrame,
      scoreCol: String,
      boundaries: Seq[Double],
      labels: Seq[String],
      outCol: String = "lm_bucket"): DataFrame = {
    require(labels.size == boundaries.size + 1,
      s"need ${boundaries.size + 1} labels for ${boundaries.size} boundaries")
    require(boundaries == boundaries.sorted, "boundaries must ascend")
    val expr = boundaries.zip(labels).foldRight(lit(labels.last)) {
      case ((b, l), acc) => when(col(scoreCol) < b, lit(l)).otherwise(acc)
    }
    df.withColumn(outCol, expr)
  }
}
