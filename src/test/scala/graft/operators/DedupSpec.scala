package graft.operators
// (line-level dedup cases at the bottom of this file)

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about spark engines and parquet files"),
    (5L, "another unrelated document mentioning cassandra analytics bulk reads"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps min id") {
    val got = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash signature identical for identical text, length = numPerms") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingleHashes(col("text"), 3), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L).length === 32)
    assert(sigs(1L) !== sigs(4L))
  }

  test("minhashPairs finds exact and near duplicates with high est jaccard") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 3,
      numPerms = 32, bands = 16)
      .as[(Long, Long, Double)].collect().map(p => ((p._1, p._2), p._3)).toMap
    assert(pairs(( 1L, 2L)) === 1.0) // identical
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup found
    assert(!pairs.contains((4L, 5L))) // unrelated never collide fully
  }

  test("minhashAssignments maps dups to the cluster minimum, uniques to self") {
    val got = Dedup.minhashAssignments(docs, "doc_id", "text", shingleN = 3,
      numPerms = 32, bands = 16, minEstJaccard = 0.9)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) === 1L && got(2L) === 1L)
    assert(got(4L) === 4L && got(5L) === 5L)
  }

  test("dropNearDuplicates keeps one canonical doc per cluster plus all singletons") {
    val survivors = Dedup.dropNearDuplicates(docs, "doc_id", "text",
      shingleN = 3, numPerms = 32, bands = 16, minEstJaccard = 0.9)
      .select("doc_id").as[Long].collect().toSet
    // 1-2 are exact dups (keep 1); 3 may or may not cluster with them at the
    // 0.9 threshold; 4 and 5 are singletons and must always survive
    assert(survivors.contains(1L) && !survivors.contains(2L))
    assert(survivors.contains(4L) && survivors.contains(5L))
    // survivors are a subset of the corpus with full rows intact
    val full = Dedup.dropNearDuplicates(docs, "doc_id", "text",
      shingleN = 3, numPerms = 32, bands = 16, minEstJaccard = 0.9)
    assert(full.columns.toSeq == docs.columns.toSeq)
  }

  test("dropNearDuplicates keepBy: the cluster keeps the BEST doc, not the min id") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", 10L),
      (2L, "alpha beta gamma delta epsilon zeta", 99L), // best quality, higher id
      (3L, "alpha beta gamma delta epsilon zeta", 99L), // quality tie → lower id wins
      (9L, "unrelated words entirely different text here", 1L))
      .toDF("doc_id", "text", "quality")
    val best = Dedup.dropNearDuplicates(corpus, "doc_id", "text",
        numPerms = 32, bands = 16, minEstJaccard = 0.9,
        keepBy = Seq($"quality".desc))
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(2L, 9L)) // 2 beats 3 on id tie-break, 1 on quality
    // default contract unchanged: min id survives
    val dflt = Dedup.dropNearDuplicates(corpus, "doc_id", "text",
        numPerms = 32, bands = 16, minEstJaccard = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(dflt == Set(1L, 9L))
  }

  test("simhash: identical text equal, near-dup within small hamming distance") {
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hs = Dedup.withSimhash(docs, "text").select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    assert(hs(1L) === hs(2L))
    assert(hamming(hs(1L), hs(3L)) <= 16, s"near-dup hamming ${hamming(hs(1L), hs(3L))}")
    assert(hamming(hs(1L), hs(4L)) > 16, s"unrelated hamming ${hamming(hs(1L), hs(4L))}")
  }

  test("ngramJaccardPairs computes exact jaccard on candidates") {
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleN = 3,
      numPerms = 32, bands = 16)
      .as[(Long, Long, Double)].collect().map(p => ((p._1, p._2), p._3)).toMap
    assert(got((1L, 2L)) === 1.0)
    // fox/cat docs share 5 of 9 distinct 3-shingles → jaccard 5/11... compute: texts of 9 words
    // have 7 shingles each; 6 shared prefix shingles minus the 2 differing tails.
    got.get((1L, 3L)).foreach(j => assert(j > 0.4 && j < 1.0))
  }

  test("simhashPairs: exact dups at hamming 0, brute-force parity for candidates") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // exact duplicate pair must collide at distance 0
    assert(pairs.get((1L, 2L)).contains(0))
    // every reported pair verified against a direct signature comparison
    val sigs = Dedup.withSimhash(docs, "text").select("doc_id", "simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case ((a, b), d) =>
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == d)
      assert(d <= 3)
    }
  }

  test("dropBySimhash keeps min-id per exact-dup group plus all singletons") {
    val survivors = Dedup.dropBySimhash(docs, "doc_id", "text", maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    // 1-2 are exact dups (hamming 0 → always paired → keep 1)
    assert(survivors.contains(1L) && !survivors.contains(2L))
    // unrelated docs must always survive
    assert(survivors.contains(4L) && survivors.contains(5L))
    // schema passes through intact
    assert(Dedup.dropBySimhash(docs, "doc_id", "text").columns.toSeq == docs.columns.toSeq)
  }

  test("containmentPairs: fragment fully contained, asymmetry, stop-shingle cut") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),          // 8 distinct 3-shingles
      (2L, "a b c d e"),                    // prefix of 1 → C(2→1)=1, |S|=3
      (3L, "x y z w v"),                    // unrelated
      (4L, "x y z w v")                     // exact dup of 3 → mutual C=1
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleN = 3, minContainment = 0.8)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("size_a"), r.getAs[Long]("size_b"),
         r.getAs[Double]("containment"))).toMap
    assert(pairs((2L, 1L)) == ((3L, 3L, 8L, 1.0)))   // fragment → source
    assert(!pairs.contains((1L, 2L)))                // source → fragment: 3/8 < 0.8
    assert(pairs((3L, 4L)) == ((3L, 3L, 3L, 1.0)))   // exact dups both ways
    assert(pairs((4L, 3L))._4 == 1.0)
    assert(!pairs.keys.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })

    // stop-shingle cut: capping df at 1 removes every shared shingle, so
    // no containment evidence survives
    val cut = Dedup.containmentPairs(corpus, "doc_id", "text",
      shingleN = 3, minContainment = 0.1, maxShingleDf = 1)
    assert(cut.count() == 0L)
  }

  test("containment stop-shingle cut: boilerplate excluded from numerator AND |S(A)|") {
    // every doc carries the boilerplate 3-gram "common tail here" (df=5);
    // docs 1/2 additionally share genuine content (1 is a prefix of 2)
    val corpus = Seq(
      (1L, "a1 a2 common tail here"),            // S = {a1a2c, a2ct, cth}
      (2L, "a1 a2 common tail here b1 b2 b3"),   // superset of 1's shingles
      (3L, "c1 c2 common tail here"),
      (4L, "d1 d2 common tail here"),
      (5L, "e1 e2 common tail here")
    ).toDF("doc_id", "text")
    val cut = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleN = 3, minContainment = 0.1, maxShingleDf = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Long]("size_a"),
         r.getAs[Double]("containment"))).toMap
    // the cut must hit numerator and denominator CONSISTENTLY: doc 1 keeps
    // 2 of its 3 shingles, both found in 2 → C(1→2) stays exactly 1.0
    assert(cut((1L, 2L)) == ((2L, 2L, 1.0)))
    // docs 3/4/5 share ONLY the boilerplate shingle — with it cut they have
    // no containment evidence at all, even at a 0.1 threshold
    assert(!cut.keys.exists { case (a, b) => a >= 3L && b >= 3L })

    // explicit opt-out restores the uncut quadratic measure: 3→4 scores 1/3
    val uncut = Dedup.containmentPairs(corpus, "doc_id", "text",
        shingleN = 3, minContainment = 0.1, maxShingleDf = Int.MaxValue)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(math.abs(uncut((3L, 4L)) - 1.0 / 3.0) < 1e-15)
  }

  test("dropContained: containee dies, container survives, equal sets keep min id") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e"),          // contained in 1 (larger) → dropped
      (3L, "x y z w v"),
      (4L, "x y z w v"),          // equal set as 3 → min id 3 survives
      (5L, "p q r s t")           // singleton
    ).toDF("doc_id", "text")
    val kept = Dedup.dropContained(corpus, "doc_id", "text",
        shingleN = 3, minContainment = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 5L))
  }

  test("connectedComponents finds transitive clusters the one-hop pass misses") {
    import spark.implicits._
    // chain 1-2-3 (transitive), pair 10-11, isolated 20
    val vertices = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L)
    // both adaptive branches must produce the identical fixpoint
    val local = Dedup.connectedComponents(vertices, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = Dedup.connectedComponents(vertices, pairs, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == want)
    assert(distributed == want)
  }

  test("connectedComponents converges on a long path within maxIter") {
    import spark.implicits._
    // path 0-1-2-...-8: min-label propagation needs several rounds
    val n = 9L
    val vertices = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(vertices, pairs, maxIter = 10, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(1)).distinct
    assert(out.toSeq == Seq(0L))
    val outLocal = Dedup.connectedComponents(vertices, pairs, maxIter = 10)
      .collect().map(r => r.getLong(1)).distinct
    assert(outLocal.toSeq == Seq(0L))
  }

  test("connectedComponents refuses to return an unconverged fixpoint") {
    import spark.implicits._
    val n = 12L
    val vertices = (0L until n).toDF("id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(vertices, pairs, maxIter = 3, localEdgeThreshold = 0L)
        .collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("exact dedup: multi-column fingerprints are boundary-unambiguous") {
    import spark.implicits._
    val df = Seq(
      (1L, "x y", "z"), (2L, "x", "y z"), // same separator-joined text, DIFFERENT rows
      (3L, null, "x"), (4L, "x", null), // null placement matters
      (5L, "x y", "z")) // true duplicate of 1
      .toDF("doc_id", "a", "b")
    val out = Dedup.exact(df, "doc_id", Seq("a", "b"))
    assert(out.count() == 4, "only the true duplicate pair may collapse")
    assert(out.filter(col("n_copies") === 2).count() == 1)
  }

  test("connected components: string document ids work on the local branch") {
    import spark.implicits._
    val vertices = Seq("url-a", "url-b", "url-c", "url-d").toDF("id")
    val pairs = Seq(("url-a", "url-b"), ("url-b", "url-c")).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(vertices, pairs)
      .as[(String, String)].collect().toMap
    assert(got == Map("url-a" -> "url-a", "url-b" -> "url-a",
      "url-c" -> "url-a", "url-d" -> "url-d"))
  }

  test("minhashPairs rejects bands that do not divide numPerms") {
    import spark.implicits._
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairs(df, "doc_id", "text", numPerms = 100, bands = 16)
    }
    assert(e.getMessage.contains("divide"))
  }

  test("dropFrequentLines: boilerplate across >= minDocs docs removed, order kept") {
    import spark.implicits._
    val docs = (1L to 10L).map { i =>
      val body = s"unique body line $i"
      val rare = if (i <= 2) "\nrare pair line" else ""
      (i, s"COMMON HEADER\n$body\nCOMMON FOOTER$rare")
    }.toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(docs, "doc_id", "text", minDocs = 3L)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    // header+footer hit all 10 docs -> gone; body and the 2-doc rare line stay
    assert(out(1L) == "unique body line 1\nrare pair line")
    assert(out(5L) == "unique body line 5")
    // a doc that is ALL boilerplate collapses to the empty string
    val allBp = docs.unionByName(
      Seq((99L, "COMMON HEADER\nCOMMON FOOTER")).toDF("doc_id", "text"))
    val collapsed = Dedup.dropFrequentLines(allBp, "doc_id", "text", minDocs = 3L)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(collapsed(99L) == "")
  }

  test("dropFrequentLines guard: oversized frequent set takes the join path, same result") {
    import spark.implicits._
    val docs = (1L to 10L).map { i =>
      val body = s"unique body line $i"
      val rare = if (i <= 2) "\nrare pair line" else ""
      (i, s"COMMON HEADER\n$body\nCOMMON FOOTER$rare")
    }.toDF("doc_id", "text")
    // maxBroadcastLines = 0 forces every run through the guard branch
    val guarded = Dedup.dropFrequentLines(
      docs, "doc_id", "text", minDocs = 3L, maxBroadcastLines = 0L)
    // identical semantics to the broadcast path
    val out = guarded.select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(out(1L) == "unique body line 1\nrare pair line")
    assert(out(5L) == "unique body line 5")
    assert(out.size == 10)
    // and the plan really is the membership join, not the single-row array
    val plan = guarded.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_freq_lines"),
      s"guard branch must not build the single-row broadcast array:\n$plan")
    assert(plan.contains("__graft_doc_freq"),
      s"guard branch must carry per-document hit arrays:\n$plan")
  }

  test("dropFrequentLines: a 200k-hash frequent set gives the array_contains rewrite's output") {
    import spark.implicits._
    val boiler = (0 until 200000).map(i => s"boiler $i")
    val rnd = new scala.util.Random(5L)
    val probes: Seq[(Long, String)] = (1L to 40L).map { i =>
      val lines = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(4) match {
        case 0 => boiler(rnd.nextInt(boiler.size))
        case 1 => s"unique $i ${rnd.nextInt()}"
        case 2 => ""
        case _ => "é boiler"
      })
      (i, lines.mkString("\n") + (if (i % 5 == 0) "\n" else ""))
    } :+ ((41L, null: String))
    // two carrier documents make all 200k boiler lines frequent
    val carrier = boiler.mkString("\n")
    val docs = (Seq((100L, carrier), (101L, carrier)) ++ probes).toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(docs, "doc_id", "text", minDocs = 2L)
      .select("doc_id", "text_clean").as[(Long, Option[String])].collect().toMap
    // reference: the frequent-hash list as one broadcast row and an
    // array_contains scan per line, over the probe documents only
    val lineArr = split($"text", java.util.regex.Pattern.quote("\n"))
    val frequent = docs
      .select(explode(array_distinct(transform(lineArr, l => xxhash64(l)))).as("lh"))
      .groupBy($"lh").count().filter($"count" >= 2L)
      .agg(collect_list($"lh").as("freq"))
    assert(frequent.select(size($"freq")).as[Int].head() >= 200000)
    val want = probes.toDF("doc_id", "text").crossJoin(broadcast(frequent))
      .select($"doc_id", array_join(
        filter(lineArr, l => !array_contains($"freq", xxhash64(l))), "\n"))
      .as[(Long, Option[String])].collect().toMap
    assert(out -- Seq(100L, 101L) === want)
    assert(out(100L) === Some("") && out(101L) === Some(""))
  }

  test("dropExactAgainstCorpus drops only content already in the corpus") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // exact corpus dup
      (101L, "a genuinely novel document about distributed joins"),
      (102L, "a genuinely novel document about distributed joins")) // in-batch dup: kept
      .toDF("doc_id", "text")
    val got = Dedup.dropExactAgainstCorpus(fresh, corpus, Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    // only vs-corpus dups drop; in-batch dedup is a separate pass by contract
    assert(got === Set(101L, 102L))
  }

  test("dropExactAgainstCorpusBloom matches the exact path on a hostile mix") {
    import spark.implicits._
    // 200-doc corpus; batch = 50 corpus dups + 150 novel docs, so the
    // sketch must clear most rows and the anti-join must catch every dup
    val corpus = (0L until 200L).map(i => (i, s"corpus document number $i body"))
      .toDF("doc_id", "text")
    val batch = ((0L until 50L).map(i => (1000L + i, s"corpus document number ${i * 3} body")) ++
      (0L until 150L).map(i => (2000L + i, s"novel batch document $i payload")))
      .toDF("doc_id", "text")
    val exact = Dedup.dropExactAgainstCorpus(batch, corpus, Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.dropExactAgainstCorpusBloom(batch, corpus, Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(bloom === exact)
    // every batch dup targets i*3 < 200, so all 50 drop; 150 novel survive
    assert(exact === (0L until 150L).map(2000L + _).toSet)
  }

  test("bloom sketch has no false negatives over its aggregated keys") {
    import spark.implicits._
    val keys = (0L until 500L).map(i => Tuple1(s"key-$i")).toDF("k")
    val sketch = Bloom.build(keys, col("k"), expectedItems = 500L)
    val probed = keys.filter(Bloom.mightContain(sketch, col("k"))).count()
    assert(probed === 500L) // every aggregated key must probe true
  }

  test("removeDuplicateSpans cuts shared spans, keeps the unique remainder") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta one two"),
      (2L, "alpha beta gamma delta nine ten"),
      (3L, "totally unrelated words here"))
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    // frequent 3-grams: "alpha beta gamma", "beta gamma delta" -> starts
    // {1,2} cover tokens 1..4 in both docs; doc 3 has no repeated gram
    assert(got(1L) === "one two")
    assert(got(2L) === "nine ten")
    assert(got(3L) === "totally unrelated words here")
  }

  test("removeDuplicateSpans: intra-document repetition counts toward minCount") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y x y x y"),                // self-overlapping grams repeat
      (2L, "a b c d e f"))                // all grams unique
      .toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(got(1L) === "") // every window start repeats -> whole doc covered
    assert(got(2L) === "a b c d e f")
  }

  test("removeDuplicateSpans: short docs pass through, minCount is honored") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny doc"),                   // < k tokens: span-invisible
      (2L, "tiny doc"),                   // exact twin, still untouched
      (3L, "p q r s t"),
      (4L, "p q r s t"))                  // twins: grams occur twice only
      .toDF("doc_id", "text")
    val twice = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 3)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(twice(1L) === "tiny doc" && twice(2L) === "tiny doc")
    assert(twice(3L) === "" && twice(4L) === "")
    val thrice = Dedup.removeDuplicateSpans(docs, "doc_id", "text",
        k = 3, minCount = 3L)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(thrice(3L) === "p q r s t" && thrice(4L) === "p q r s t")
  }

  test("removeDuplicateSpans: bloomPrefilter path is output-identical " +
    "(no-false-negative contract) and short-circuits a unique corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val boiler = "all rights reserved contact us for details about licensing terms"
    val docs = (1L to 60L).map { i =>
      val words = Seq.fill(12)(s"w${rnd.nextInt(500)}-$i").mkString(" ")
      (i, if (i % 3 == 0) s"$words $boiler" else words)
    }.toDF("doc_id", "text")
    val plain = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 4)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    val bloomed = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 4,
        bloomPrefilter = true)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert(bloomed === plain)
    // spans actually got cut (the test isn't vacuous)
    assert((1L to 60L).filter(_ % 3 == 0).forall(i => !plain(i).contains("reserved")))
    // fully-unique corpus: the prefilter branch short-circuits pass-through
    val unique = (1L to 20L).map(i =>
      (i, Seq.tabulate(10)(j => s"u$i-$j").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(unique, "doc_id", "text", k = 4,
        bloomPrefilter = true)
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    assert((1L to 20L).forall(i => out(i) === Seq.tabulate(10)(j => s"u$i-$j").mkString(" ")))
  }

  test("dropAgainstCorpus drops near-dups of corpus docs, keeps novel docs") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"), // exact dup of 10
      (101L, "the quick brown fox jumps over the lazy cat"), // near dup of 10
      (102L, "entirely unrelated text mentioning cassandra analytics bulk reads"),
      (103L, "entirely unrelated text mentioning cassandra analytics bulk reads"))
      .toDF("doc_id", "text")
    val got = Dedup.dropAgainstCorpus(fresh, corpus, "doc_id", "text",
      shingleN = 3, numPerms = 32, bands = 16, minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(!got.contains(100L)) // exact dup always caught (est jaccard 1.0)
    assert(got.contains(102L) && got.contains(103L)) // novel + in-batch dup survive
    // corpus is never modified: the operator returns rows of `fresh` only
    val cols = Dedup.dropAgainstCorpus(fresh, corpus, "doc_id", "text",
      numPerms = 32, bands = 16).columns.toSeq
    assert(cols === fresh.columns.toSeq)
  }

  test("dropAgainstSignatures: persisted signature table gives identical results") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely different content about spark engines and parquet files"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "a genuinely novel document about distributed joins"))
      .toDF("doc_id", "text")
    // round-trip the signature table through parquet, the deployment shape
    val dir = java.nio.file.Files.createTempDirectory("graft_sigs_").toString
    Dedup.corpusSignatures(corpus, "doc_id", "text", shingleN = 3, numPerms = 32)
      .write.mode("overwrite").parquet(dir)
    val viaSigs = Dedup.dropAgainstSignatures(fresh,
        spark.read.parquet(dir), "doc_id", "text",
        shingleN = 3, numPerms = 32, bands = 16)
      .select("doc_id").as[Long].collect().toSet
    val direct = Dedup.dropAgainstCorpus(fresh, corpus, "doc_id", "text",
        shingleN = 3, numPerms = 32, bands = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(viaSigs === direct && viaSigs === Set(101L))
  }

  test("dropAgainstCorpus threshold: disjoint-word twins never match") {
    import spark.implicits._
    // md5-word construction (the battery's twinCopy): same doc rebuilt from
    // permutation sets {0..7} (corpus) and {8..15} (fresh) shares zero words
    val base = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    def twin(off: Long, ks: Seq[Int]) = base.select(
      (col("doc_id") + off).as("doc_id"),
      concat_ws(" ", ks.map(k => md5(concat_ws("#", col("text"), lit(k)))): _*).as("text"))
    val corpus = twin(0L, 0 until 8)
    val fresh = twin(100L, 0 until 8).unionByName(twin(200L, 8 until 16))
    val got = Dedup.dropAgainstCorpus(fresh, corpus, "doc_id", "text",
      shingleN = 1, numPerms = 32, bands = 16, minEstJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(201L, 202L)) // identical twins drop, disjoint twins stay
  }

  test("winnowingOverlapPairs: containment catches contained passages Jaccard dilutes") {
    import spark.implicits._
    val passage = "this exact shared passage is long enough to survive the windowing pass"
    val corpus = Seq(
      (1L, passage), // the short doc IS the passage
      (2L, s"a very long surrounding document that quotes $passage verbatim and then " +
        "continues with a great deal of entirely unrelated material about other topics"),
      (3L, "completely disjoint prose with no quoted passage anywhere in it at all"))
      .toDF("doc_id", "text")
    val got = Dedup.winnowingOverlapPairs(corpus, "doc_id", "text",
      k = 8, w = 4, minContainment = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // doc 1 contained in doc 2: containment of the smaller fingerprint is high
    assert(got.contains((1L, 2L)) && got((1L, 2L)) >= 0.5)
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("dropFrequentLines: regex-special separators are treated literally") {
    import spark.implicits._
    val docs = (1L to 4L).map(i => (i, s"AD. body $i. AD")).toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(docs, "doc_id", "text", minDocs = 3L, sep = ". ")
      .select("doc_id", "text_clean").as[(Long, String)].collect().toMap
    // "AD" opens every doc and "AD" also ends it (same line content after
    // split: 'AD', 'body i', 'AD') -> both dropped, body kept
    assert(out(2L) == "body 2")
  }

  // ------------- Hamming LSH skew guard (round-16 rewrite) ---------------

  /** Mixed signature corpus: identical-hash groups (the mass-collision
   *  regime), constructed near pairs at hamming 1-3, and far-apart rest. */
  private def mixedSigs: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    val base = rnd.nextLong()
    Seq(
      (1L, base), (2L, base), (3L, base), // identical triple
      (4L, base ^ 1L), // hamming 1 from the triple
      (5L, base ^ ((1L << 5) | (1L << 40) | (1L << 63))), // hamming 3
      (6L, base ^ 0xffL), // hamming 8 — never a pair
      (7L, 0L), (8L, 0L) // second identical group, far from base
    ) ++ (9L to 40L).map(i => (i, rnd.nextLong()))
  }

  private def brutePairs(sigs: Seq[(Long, Long)], d: Int): Set[(Long, Long, Int)] =
    (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= d
    } yield (a, b, h)).toSet

  test("hammingPairs: exact brute-force parity, identical groups emit the clique") {
    val sigs = mixedSigs.toDF("id", "sh")
    val got = Dedup.hammingPairs(sigs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brutePairs(mixedSigs, 3))
    // the identical triple's full clique is present at hamming 0
    assert(got.contains((1L, 2L, 0)) && got.contains((1L, 3L, 0)) &&
      got.contains((2L, 3L, 0)))
    // no duplicate pair rows
    val rows = Dedup.hammingPairs(sigs, maxHamming = 3).collect()
    assert(rows.length == rows.map(r => (r.get(0), r.get(1))).distinct.length)
  }

  test("hammingPairs: string ids order lexicographically like the old id<id contract") {
    val sigs = Seq(("b", 7L), ("a", 7L), ("c", 7L ^ 3L)).toDF("id", "sh")
    val got = Dedup.hammingPairs(sigs, maxHamming = 3)
      .as[(String, String, Int)].collect().toSet
    assert(got === Set(("a", "b", 0), ("a", "c", 2), ("b", "c", 2)))
  }

  test("hammingEdges: components match hammingPairs'; degenerate corpus stays O(n)") {
    val sigs = mixedSigs.toDF("id", "sh")
    def components(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val touched = pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id"))).distinct()
      Dedup.connectedComponents(touched, pairs)
        .as[(Long, Long)].collect().toMap
    }
    val viaCliques = components(Dedup.hammingPairs(sigs, 3).select("id_a", "id_b"))
    val viaEdges = components(Dedup.hammingEdges(sigs, 3))
    assert(viaEdges === viaCliques)
    // 10^4 images all hashing to the SAME value (every blank thumbnail
    // does): the clique formulation owes C(10^4,2) ~ 5*10^7 pairs; the
    // star edge set is exactly n-1 rows, all anchored at the min id
    val blanks = (1L to 10000L).map(i => (i, 0L)).toDF("id", "sh")
    val star = Dedup.hammingEdges(blanks, 3).as[(Long, Long)].collect()
    assert(star.length == 9999)
    assert(star.forall(_._1 == 1L))
    assert(star.map(_._2).toSet == (2L to 10000L).toSet)
  }

  test("hamming bucket cap cuts hot near-dup buckets but never hamming-0 twins") {
    // 8 distinct hashes sharing the top 48 bits: blocks 1..3 (of the
    // maxHamming=3 cover) are each one bucket holding all 8 values, block
    // 0 values are pairwise distinct -> with maxBucket=3 every shared
    // bucket is cut and NO near pair survives; the exact twin pair rides
    // on the equi-join and must remain.
    val near = (0 until 8).map(i => ((i + 1).toLong, (1L << i))) // hamming 2 apart
    val sigs = (near ++ Seq((100L, 1L << 62), (101L, 1L << 62))).toDF("id", "sh")
    val capped = Dedup.hammingPairs(sigs, maxHamming = 3, maxBucket = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(capped === Set((100L, 101L, 0))) // twins survive, near mining cut
    val uncut = Dedup.hammingPairs(sigs, maxHamming = 3, maxBucket = Int.MaxValue)
      .as[(Long, Long, Int)].collect().toSet
    assert(uncut.size > 1 && uncut.contains((100L, 101L, 0)))
    assert(uncut === brutePairs(near ++ Seq((100L, 1L << 62), (101L, 1L << 62)), 3))
  }

  test("Released miners: identical pairs, and NO cached RDDs left behind") {
    val sc = spark.sparkContext
    def cached: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = cached
    // the SIGNATURE caches (what the lazy miners hold until session end)
    // must be gone the moment the call returns; the one storage the
    // released variant may hold is the materialized RESULT's own
    // localCheckpoint block, which dies with the frame — release it here
    // to keep the ledger exact for the next phase
    def assertOnlyResultStorage(label: String): Unit = {
      val leaked = cached -- before
      assert(leaked.size <= 1, s"$label leaked signature caches: $leaked")
      leaked.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
    }
    val sigs = mixedSigs.toDF("id", "sh")
    // the released symmetric miner: same pairs as the lazy one...
    val rel = Dedup.hammingPairsReleased(sigs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(rel === brutePairs(mixedSigs, 3))
    assertOnlyResultStorage("hammingPairsReleased")
    // bipartite twin
    val corpus = mixedSigs.map { case (id, sh) => (id + 1000L, sh) }
    val relB = Dedup.hammingPairsAgainstReleased(
        sigs, corpus.toDF("id", "sh"), maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (a, sa) <- mixedSigs; (b, sb) <- corpus
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(relB === want)
    assertOnlyResultStorage("hammingPairsAgainstReleased")
    // the droppers already release: prove it stays true
    val txt = mixedSigs.toDF("id", "sh").withColumn("text",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("doc body "),
        org.apache.spark.sql.functions.col("id")))
    Dedup.dropBySimhash(txt, "id", "text", maxHamming = 3).collect()
    // same ledger: edge/signature/group caches are gone; at most the
    // materialized LABEL frame's own checkpoint block (result-lifetime,
    // GC-cleaned with the frame) may remain
    assertOnlyResultStorage("dropBySimhash")
  }

  test("signature table lifecycle: increments, replay, compaction, crash recovery") {
    val root = java.nio.file.Files.createTempDirectory("graft_sigtab_").toString
    val dir = root + "/sigs"
    def ingest(rows: Seq[(Long, Long)], batchId: Long, compactEvery: Int = 0) =
      Dedup.ingestWithSignatureTable(rows.toDF("id", "sh"), "id", col("sh"),
        dir, batchId, maxHamming = 3, compactEvery = compactEvery)
        .as[(Long, Long)].collect().map(_._1).toSet
    def table() = spark.read.parquet(dir)
      .as[(Long, Long, Long)].collect().toSet // (id, sh, batch_id)
    // batch 0 into an empty table: everything survives and is recorded
    assert(ingest(Seq((1L, 10L), (2L, 0xff00ff00L)), 0L) == Set(1L, 2L))
    assert(table() == Set((1L, 10L, 0L), (2L, 0xff00ff00L, 0L)))
    // batch 1: hamming 0 and 1 of id 1 drop, a far hash survives
    assert(ingest(Seq((3L, 10L), (4L, 10L ^ 2L), (5L, 0x0f0f0f0f0fL)), 1L) == Set(5L))
    assert(table().map(_._1) == Set(1L, 2L, 5L))
    // REPLAYED batch 1 (at-least-once driver retried after a crash
    // between the sig append and persisting survivors): the corpus is
    // scoped to batch_id < 1, so the survivor does NOT self-match the
    // rows its failed attempt appended — the replay returns the SAME
    // survivors (no data loss) and its re-append only duplicates rows
    assert(ingest(Seq((3L, 10L), (4L, 10L ^ 2L), (5L, 0x0f0f0f0f0fL)), 1L) == Set(5L))
    assert(spark.read.parquet(dir).count() == 4) // replay dup row present
    // batch 2 with compactEvery=2: ingests, then rewrites (id, sh)-deduped
    assert(ingest(Seq((7L, 0xf0f0f0f0f0L)), 2L, compactEvery = 2) == Set(7L))
    assert(table().map(_._1) == Set(1L, 2L, 5L, 7L))
    assert(spark.read.parquet(dir).count() == 4,
      "compaction left duplicate rows") // replay dup folded
    // crash recovery: an INCOMPLETE tmp is discarded...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(dir + ".compact.tmp")
    fs.mkdirs(tmp)
    assert(ingest(Seq((8L, 0xffffffL)), 3L) == Set(8L))
    assert(!fs.exists(tmp) && table().map(_._1) == Set(1L, 2L, 5L, 7L, 8L))
    // ...a COMPLETE tmp (with _SUCCESS) supersedes the live table
    Seq((99L, 42L, 0L)).toDF("id", "sh", "batch_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    assert(ingest(Seq((9L, 0xff000000L)), 4L) == Set(9L))
    assert(table().map(_._1) == Set(99L, 9L))
  }

  test("signature table: an all-null first increment must not wedge later ingests") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sigtab0_")
      .toString + "/sigs"
    // batch 0 contributes NO signature rows (every sh null — the
    // all-undecodable-blobs case); everything still survives
    val nulls = Seq(1L, 2L).toDF("id")
      .withColumn("sh", org.apache.spark.sql.functions.lit(null).cast("long"))
    val s0 = Dedup.ingestWithSignatureTable(nulls, "id", col("sh"), dir, 0L)
      .select("id").as[Long].collect().toSet
    assert(s0 == Set(1L, 2L))
    // batch 1 against the row-less table: no NPE, no schema failure,
    // everything survives and seeds the table
    val s1 = Dedup.ingestWithSignatureTable(
        Seq((3L, 77L)).toDF("id", "sh"), "id", col("sh"), dir, 1L)
      .select("id").as[Long].collect().toSet
    assert(s1 == Set(3L))
    assert(spark.read.parquet(dir).as[(Long, Long, Long)].collect().toSet ==
      Set((3L, 77L, 1L)))
  }

  test("hammingPairsAgainst: bipartite brute parity incl. equal-hash matches") {
    val rnd = new scala.util.Random(7)
    val base = rnd.nextLong()
    val corpus = Seq((100L, base), (101L, base), (102L, base ^ 0xf0f0L)) ++
      (103L to 120L).map(i => (i, rnd.nextLong()))
    val incoming = Seq((1L, base), (2L, base ^ 1L), (3L, base ^ 0x7L),
      (4L, base ^ 0xffL)) ++ (5L to 20L).map(i => (i, rnd.nextLong()))
    val got = Dedup.hammingPairsAgainst(
        incoming.toDF("id", "sh"), corpus.toDF("id", "sh"), maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (a, sa) <- incoming; (b, sb) <- corpus
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got === want)
    // the equal-hash matches came through (hamming 0, both corpus twins)
    assert(got.contains((1L, 100L, 0)) && got.contains((1L, 101L, 0)))
  }
}
