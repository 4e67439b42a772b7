package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayAggregate, ArrayTransform, Expression, Literal}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import scala.jdk.CollectionConverters._

class CountLmSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the cat sat"),
    (2L, "the dog sat"),
    (3L, "the cat ran"))
    .toDF("doc_id", "text")

  /** Documents of random tokens from a 1000-word vocabulary: ~150k
   *  adjacent pairs, so the trained model holds more than 100k bigrams. */
  private lazy val bigTexts: Seq[String] = {
    val rnd = new scala.util.Random(100003L)
    Seq.fill(300)(Seq.fill(500)(s"w${rnd.nextInt(1000)}").mkString(" "))
  }
  private lazy val bigModel = CountLm.train(bigTexts.toDF("text"), "text")

  /** Candidates from a range source: a local Seq would be folded into one
   *  LocalTableScan, and a plan gate over it would check nothing. */
  private def rangeCorpus: DataFrame = spark.range(60L).select(col("id").as("doc_id"),
    concat(lit("the w"), (col("id") % 7).cast("string"), lit(" cat")).as("text"))

  private def scored(df: DataFrame): Map[Long, (Double, Double, Double)] =
    df.select("doc_id", "lm_score", "lm_oov_frac", "lm_bigram_hit_frac")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private def exprs(plan: SparkPlan): Seq[Expression] =
    plan.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })

  private def lambdaFolds(plan: SparkPlan): Seq[Expression] =
    exprs(plan).filter(e => e.isInstanceOf[ArrayTransform] || e.isInstanceOf[ArrayAggregate])

  test("train: counts, totals, deterministic vocab cap") {
    val m = CountLm.train(corpus, "text")
    val terms = m.terms.as[(String, Long)].collect().toMap
    // the×3, cat×2, sat×2, dog×1, ran×1
    assert(terms === Map("the" -> 3L, "cat" -> 2L, "sat" -> 2L,
      "dog" -> 1L, "ran" -> 1L))
    assert(m.totalTokens === 9L && m.vocabSize === 5L)
    val bgs = m.bigrams.as[(String, Long)].collect().toMap
    assert(bgs === Map("the cat" -> 2L, "the dog" -> 1L, "cat sat" -> 1L,
      "dog sat" -> 1L, "cat ran" -> 1L))
    // cap keeps top-k by (cnt desc, value asc): k=2 → the, cat
    val capped = CountLm.train(corpus, "text", maxVocab = 2)
    assert(capped.terms.as[(String, Long)].collect().toMap ===
      Map("the" -> 3L, "cat" -> 2L))
    assert(capped.totalTokens === 5L && capped.vocabSize === 2L)
  }

  test("score: hand-computed mean add-one probability, oov, bigram hits") {
    val m = CountLm.train(corpus, "text") // N=9, V=5 → denom base 14
    val docs = Seq(
      (10L, "the cat sat"),   // sumC=3+2+2=7, n=3 → (7+3)/(3·14)=10/42
      (11L, "zebra the"),     // sumC=0+3=3, n=2, oov=1 → (3+2)/(2·14)=5/28
      (12L, "zebra"))         // all-oov single token → (0+1)/(1·14)
      .toDF("doc_id", "text")
    val got = CountLm.score(docs, "doc_id", "text", m)
      .select("doc_id", "lm_score", "lm_oov_frac", "lm_bigram_hit_frac")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(10L) === ((10.0 / 42, 0.0, 1.0)))   // both bigrams attested
    assert(got(11L) === ((5.0 / 28, 1.0 / 2, 0.0))) // "zebra the" unattested
    assert(got(12L) === ((1.0 / 14, 1.0, 0.0)))     // n<2 → bigram frac 0
  }

  test("score matches the reference model on the former path-identity inputs") {
    val m = CountLm.train(corpus, "text")
    val texts = Seq("the cat sat", "zebra the", "zebra", "the dog sat the dog sat")
    val docs = texts.zipWithIndex.map { case (t, i) => (10L + i, t) }.toDF("doc_id", "text")
    val ref = RefLm.train(corpus.as[(Long, String)].collect().map(_._2).toSeq)
    assert(scored(CountLm.score(docs, "doc_id", "text", m)) ===
      texts.zipWithIndex.map { case (t, i) => (10L + i) -> ref.score(t) }.toMap)
  }

  test("withScoreBuckets: boundary comparisons, head/middle/tail") {
    val df = Seq((1L, 0.1), (2L, 0.5), (3L, 0.9)).toDF("doc_id", "s")
    val got = CountLm.withScoreBuckets(df, "s", Seq(0.3, 0.7),
        Seq("tail", "middle", "head"))
      .select("doc_id", "lm_bucket").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "tail", 2L -> "middle", 3L -> "head"))
  }

  test("capTopK: both paths agree with a local sort, incl. past the top-K threshold") {
    // 200 keys, zipf-ish counts with heavy ties so the (cnt desc, key asc)
    // tie-break is actually exercised at the cut boundary
    val counts = (0 until 200).map(i => (f"t$i%03d", (i % 7).toLong + 1L))
      .toDF("term", "cnt").repartition(8)
    val expected = counts.collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (k, c) => (-c, k) }
    def got(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().sortBy { case (k, c) => (-c, k) }.toSeq
    for (k <- Seq(1, 13, 50, 200, 500)) {
      assert(got(CountLm.capTopK(counts, "term", k)) ===
        expected.take(k).toSeq, s"TakeOrdered path, k=$k")
    }
    // force the large-k path (range-exchange two-pass) by shrinking the
    // engine threshold — scoped, restored in finally
    val conf = "spark.sql.execution.topKSortFallbackThreshold"
    val prev = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "10")
      for (k <- Seq(13, 50, 200))
        assert(got(CountLm.capTopK(counts, "term", k)) ===
          expected.take(k).toSeq, s"two-pass path, k=$k")
    } finally spark.conf.set(conf, prev)
  }

  test("importanceWeights: hand-computed target/raw ratio, equal to the reference model") {
    val target = CountLm.train(Seq((1L, "the cat sat")).toDF("doc_id", "text"), "text")
    val raw = CountLm.train(corpus, "text") // N=9, V=5 → base 14
    val cands = Seq((10L, "the cat ran"), (11L, "zebra"), (12L, ""))
      .toDF("doc_id", "text")
    val got = CountLm.importanceWeights(cands, "doc_id", "text", target, raw)
      .select("doc_id", "dsir_weight").as[(Long, Double)].collect().toMap
    // target: N=3, V=3 → base 6; "the cat ran": sumC_T=1+1+0=2, n=3 → 5/18
    // raw: sumC_R=3+2+1=6 → 9/42; weight computed the code's way
    assert(got(10L) === (5.0 / 18.0) / (9.0 / 42.0))
    // all-oov single token: T → 1/6, R → 1/14
    assert(got(11L) === (1.0 / 6.0) / (1.0 / 14.0))
    // "" tokenizes to ONE empty token (the engine-wide split convention,
    // identical to score()) — an all-OOV singleton, same weight as zebra
    assert(got(12L) === got(11L))
    // the plain-Scala reference model gives the same doubles bit-for-bit
    val refT = RefLm.train(Seq("the cat sat"))
    val refR = RefLm.train(Seq("the cat sat", "the dog sat", "the cat ran"))
    assert(got === Map(10L -> "the cat ran", 11L -> "zebra", 12L -> "")
      .map { case (id, t) => id -> RefLm.weight(refT, refR, t) })
  }

  test("selectByImportance: deterministic top-k by (weight desc, id asc)") {
    val target = CountLm.train(Seq((1L, "the cat sat")).toDF("doc_id", "text"), "text")
    val raw = CountLm.train(corpus, "text")
    // hand-ranked: zebra (all-OOV singleton, add-one smoothing under the
    // tiny target vocab inflates it) 14/6·… = 2.33 > "the cat sat" twins
    // (6/18)/(10/42) = 1.4 > "the cat ran" (5/18)/(9/42) ≈ 1.296
    val cands = Seq((10L, "the cat sat"), (11L, "the cat ran"),
      (12L, "zebra"), (13L, "the cat sat"))
      .toDF("doc_id", "text")
    val top3 = CountLm.selectByImportance(cands, "doc_id", "text", target, raw, k = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(top3 == Seq(10L, 12L, 13L)) // 11 is the one excluded
    // the 1.4-weight tie between 10 and 13 breaks by id asc at k = 2
    val top2 = CountLm.selectByImportance(cands, "doc_id", "text", target, raw, k = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(top2 == Seq(10L, 12L))
  }

  test("literal-map scoring is zero-exchange on the corpus (plan gate)") {
    // kept under its original name: scoring has one path now, and it is
    // zero-exchange for the tiny model here and for one past 100k bigrams
    for (m <- Seq(CountLm.train(corpus, "text"), bigModel)) {
      val plan = CountLm.score(rangeCorpus, "doc_id", "text", m)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange") && plan.contains("lm_probe"),
        s"LM scoring must run at scan speed:\n$plan")
    }
  }

  test("score and importanceWeights past 100k bigrams: no exchange, no map literal, no lambda fold") {
    assert(bigModel.bigrams.count() > 100000L)
    val small = CountLm.train(corpus, "text")
    for (df <- Seq(CountLm.score(rangeCorpus, "doc_id", "text", bigModel),
        CountLm.importanceWeights(rangeCorpus, "doc_id", "text", small, bigModel))) {
      val plan = df.queryExecution.executedPlan
      assert(plan.toString.contains("lm_probe"), s"expected the native probe:\n$plan")
      assert(!plan.toString.contains("Exchange"), s"scoring must not shuffle:\n$plan")
      assert(exprs(plan).collect { case l: Literal if l.dataType.isInstanceOf[MapType] => l }
        .isEmpty, s"scoring plan holds a map literal:\n$plan")
      assert(lambdaFolds(plan).isEmpty, s"scoring plan folds a lambda over the text:\n$plan")
    }
  }

  test("train plans: bigrams are native, no lambda fold over the text column") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      CountLm.train(corpus, "text")
      eventually(timeout(Span(30, Seconds))) {
        assert(plans.asScala.count(_.toString.contains("word_ngrams")) >= 1)
      }
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.foreach(p =>
      assert(lambdaFolds(p).isEmpty, s"train folds a lambda over the text:\n$p"))
  }

  test("null text scores 0.0 on every statistic, like a zero-token document") {
    val m = CountLm.train(corpus, "text")
    val docs = Seq((1L, null: String), (2L, "the cat")).toDF("doc_id", "text")
    val got = scored(CountLm.score(docs, "doc_id", "text", m))
    assert(got(1L) === ((0.0, 0.0, 0.0)))
    assert(got(2L) === RefLm.train(corpus.as[(Long, String)].collect().map(_._2).toSeq)
      .score("the cat"))
    val w = CountLm.importanceWeights(docs, "doc_id", "text", m, m)
      .select("doc_id", "dsir_weight").as[(Long, Double)].collect().toMap
    assert(w(1L) === 0.0)
  }

  test("score and importanceWeights equal a plain-Scala reference model (randomized)") {
    val rnd = new scala.util.Random(20261018L)
    val vocab = Seq("the", "cat", "sat", "dog", "ran", "é", "日本", "naïve", "zebra",
      "x", "", "a.b", "Ünïcødé", "q")
    def randomText(): String = rnd.nextInt(10) match {
      case 0 => ""
      case 1 => vocab(rnd.nextInt(vocab.size))            // single token
      case 2 => " " * (1 + rnd.nextInt(3))                // only spaces
      case _ =>
        val k = 1 + rnd.nextInt(12)
        val body = Seq.fill(k)(vocab(rnd.nextInt(vocab.size)))
          .mkString(if (rnd.nextBoolean()) " " else "  ")
        if (rnd.nextInt(4) == 0) body + " " else body       // trailing space
    }
    val trainTexts = Seq.fill(40)(randomText())
    val target = CountLm.train(trainTexts.take(10).toDF("text"), "text")
    val raw = CountLm.train(trainTexts.toDF("text"), "text")
    val refT = RefLm.train(trainTexts.take(10))
    val refR = RefLm.train(trainTexts)
    assert(raw.terms.as[(String, Long)].collect().toMap === refR.terms)
    assert(raw.bigrams.as[(String, Long)].collect().toMap === refR.bigrams)
    assert((raw.totalTokens, raw.vocabSize) === ((refR.n, refR.v)))
    val texts: Seq[String] = Seq.fill(300)(randomText()) :+ null
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def expected(f: String => Any) =
      texts.zipWithIndex.map { case (t, i) => i.toLong -> f(t) }.toMap
    assert(scored(CountLm.score(docs, "doc_id", "text", raw)) === expected(refR.score))
    assert(CountLm.importanceWeights(docs, "doc_id", "text", target, raw)
      .select("doc_id", "dsir_weight").as[(Long, Double)].collect().toMap ===
      expected(RefLm.weight(refT, refR, _)))
    // the same documents under a model past 100k bigrams (the size that
    // used to switch to the broadcast-join path)
    val refBig = RefLm.train(bigTexts)
    assert(scored(CountLm.score(docs, "doc_id", "text", bigModel)) === expected(refBig.score))
    val bigDocs = bigTexts.take(50).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    assert(scored(CountLm.score(bigDocs.toDF("doc_id", "text"), "doc_id", "text", bigModel)) ===
      bigDocs.map { case (i, t) => i -> refBig.score(t) }.toMap)
  }

  test("WordNgrams equals split + slice + array_join on random strings") {
    val rnd = new scala.util.Random(7L)
    val alphabet = Seq("a", "b", "é", "日", " ", " ", "  ", "xyz")
    val texts = Seq("", " ", "a  b ", " a", "a") ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(30))(alphabet(rnd.nextInt(alphabet.size))).mkString)
    val df = (texts.map(Option(_)) :+ None).toDF("text")
    for (n <- 1 to 3) {
      val t = split($"text", " ")
      val viaSlices = when(size(t) >= n,
          transform(sequence(lit(1), size(t) - (n - 1)), i => array_join(slice(t, i, lit(n)), " ")))
        .otherwise(when($"text".isNotNull, array().cast("array<string>")))
      val rows = df.select(graft.functions.WordNgrams($"text", n).as("got"), viaSlices.as("want"))
        .as[(Option[Seq[String]], Option[Seq[String]])].collect()
      rows.foreach { case (got, want) => assert(got === want, s"n=$n") }
    }
    // the documented example: empty tokens are kept, exactly as split keeps them
    assert(Seq("a  b ").toDF("text").select(graft.functions.WordNgrams($"text", 1))
      .as[Seq[String]].head() === Seq("a", "", "b", ""))
  }

  test("deriveKn: marginals of the capped bigram table, hand-checked") {
    // corpus "a b a" twice → bigrams: "a b"×2, "b a"×2
    val c = Seq((1L, "a b a"), (2L, "a b a")).toDF("doc_id", "text")
    val kn = CountLm.deriveKn(CountLm.train(c, "text"))
    val ctx = kn.contexts.as[(String, Long, Long)].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    assert(ctx === Map("a" -> ((2L, 1L)), "b" -> ((2L, 1L))))
    assert(kn.rights.as[(String, Long)].collect().toMap ===
      Map("a" -> 1L, "b" -> 1L))
    assert(kn.bigramTypes === 2L && kn.rightTypes === 2L)
  }

  test("scoreKn: hand-computed interpolated KN log-probability") {
    // model: "a b a" → bigrams "a b"×1, "b a"×1; ctx a→(1,1), b→(1,1);
    // rights a→1, b→1; B=2, R=2 → B+R=4
    val kn = CountLm.deriveKn(CountLm.train(
      Seq((1L, "a b a")).toDF("doc_id", "text"), "text"))
    val scored = CountLm.scoreKn(
      Seq((1L, "a b c"), (2L, "x"), (3L, "z q")).toDF("doc_id", "text"),
      "doc_id", "text", kn)
      .select($"doc_id", $"kn_logprob", $"kn_bigrams")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    // doc 1: (a,b) seen: pcont(b)=(1+1)/4=0.5, p=(0.25+0.75·1·0.5)/1=0.625
    //        (b,c) ctx seen, bigram unseen: pcont(c)=(0+1)/4=0.25,
    //              p=(0+0.75·1·0.25)/1=0.1875
    val expect1 = BigDecimal(math.log(0.625)).setScale(7, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(math.log(0.1875)).setScale(7, BigDecimal.RoundingMode.HALF_UP)
    assert(scored(0)._2 === expect1.toDouble && scored(0)._3 === 2L)
    // doc 2: no bigrams → 0.0
    assert(scored(1)._2 === 0.0 && scored(1)._3 === 0L)
    // doc 3: (z,q) unseen ctx → backoff pcont(q)=(0+1)/4=0.25
    val expect3 = BigDecimal(math.log(0.25)).setScale(7, BigDecimal.RoundingMode.HALF_UP)
    assert(scored(2)._2 === expect3.toDouble && scored(2)._3 === 1L)
  }

  test("scoreKnJoin is bit-identical to the literal path; literal path zero-exchange") {
    // a range source, not a local Seq: a LocalRelation would be folded into
    // one LocalTableScan and leave nothing to gate
    def mod(m: Int) = (col("id") % m).cast("string")
    val c = spark.range(60L).select(col("id").as("doc_id"),
      concat(lit("w"), mod(7), lit(" w"), mod(5), lit(" w"), mod(3),
        lit(" common end"), mod(2)).as("text"))
    val kn = CountLm.deriveKn(CountLm.train(c.filter($"doc_id" < 20L), "text"))
    def collectOf(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"kn_logprob", $"kn_bigrams")
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
    val literal = CountLm.scoreKn(c, "doc_id", "text", kn)
    val join = CountLm.scoreKnJoin(c, "doc_id", "text", kn)
    assert(collectOf(literal) == collectOf(join))
    val plan = literal.queryExecution.executedPlan.toString
    assert(plan.contains("Range"), s"expected the range source in the plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"plan-literal KN must score at scan speed:\n$plan")
  }
}

/** Plain-Scala count LM: the same tokenization (`split(" ", -1)` keeps
 *  empty tokens) and the same single-division doubles as [[CountLm]]. */
private object RefLm {
  final case class Model(terms: Map[String, Long], bigrams: Map[String, Long]) {
    val n: Long = terms.values.sum
    val v: Long = terms.size.toLong

    /** `(n, sum_c, oov, hits)` of one document; null has no tokens. */
    def stats(text: String): (Long, Long, Long, Long) =
      if (text == null) (0L, 0L, 0L, 0L)
      else {
        val t = text.split(" ", -1)
        val pairs = t.sliding(2).filter(_.length == 2).map(_.mkString(" "))
        (t.length.toLong, t.flatMap(terms.get).sum, t.count(w => !terms.contains(w)).toLong,
          pairs.count(bigrams.contains).toLong)
      }

    def unigram(text: String): Double = {
      val (k, sumC, _, _) = stats(text)
      if (k == 0) 0.0 else (sumC + k).toDouble / (k * (n + v)).toDouble
    }

    def score(text: String): (Double, Double, Double) = {
      val (k, _, oov, hits) = stats(text)
      (unigram(text),
        if (k == 0) 0.0 else oov.toDouble / k.toDouble,
        if (k < 2) 0.0 else hits.toDouble / (k - 1).toDouble)
    }
  }

  def train(texts: Seq[String]): Model = {
    val toks = texts.filter(_ != null).map(_.split(" ", -1))
    def counts(xs: Seq[String]) = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    Model(counts(toks.flatten),
      counts(toks.flatMap(_.sliding(2).filter(_.length == 2).map(_.mkString(" ")))))
  }

  def weight(target: Model, raw: Model, text: String): Double = {
    val sr = raw.unigram(text)
    if (sr == 0.0) 0.0 else target.unigram(text) / sr
  }
}
