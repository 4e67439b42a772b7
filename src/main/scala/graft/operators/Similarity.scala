package graft.operators

import graft.functions.{dot_f32, norm_f32}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Approximate-nearest-neighbor search and near-duplicate mining over an
 * embedding column (`array<float>`).
 *
 * Paths, same contract (top-k neighbors per query / top-N pairs):
 *  - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set,
 *    score every row with the codegen'd [[graft.functions.DotProductF32]]
 *    inner loop, per-query top-k. At 100 TB this is one full scan with zero
 *    shuffle of the corpus (queries broadcast); only (query, id, score)
 *    tuples reach the top-k.
 *  - [[lshTopK]] — scale path: random-hyperplane (sign) LSH buckets both
 *    sides, joins on bucket key, exact-rescoring only within buckets. The
 *    corpus shuffle drops from all-rows to bucket-collision rows. (IVF with
 *    learned centroids would slot in the same shape: assign → join on
 *    centroid id → rescore.)
 *  - [[nearDupPairs]] — exact top-N most-similar pairs (O(n²) pair space,
 *    per-pair cost is one codegen'd dot product; norms precomputed per row,
 *    not per pair). [[lshNearDupPairs]] is the linear-shuffle threshold
 *    variant for corpus-scale dedup.
 *
 * Determinism: per-pair scores are double arithmetic in fixed left-to-right
 * order (IEEE-deterministic, engine-independent); every ranking carries a
 * total id tie-break. Exact DECIMAL helpers ([[dotExact]]) remain for
 * callers needing bit-identical *aggregated* accumulation.
 */
object Similarity {

  /** Exact dot product of two float-array columns with decimal accumulation
   *  (order-independent, engine-independent). Reference-grade exactness for
   *  tie-sensitive comparisons; ~100× slower than [[graft.functions.dot_f32]]. */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("decimal(18,9)") * y.cast("decimal(18,9)")),
      lit(java.math.BigDecimal.ZERO).cast("decimal(38,18)"),
      // re-pin the accumulator type: decimal(38,18)+decimal(37,18) widens to
      // decimal(38,17) under Spark's promotion rules, which the aggregate()
      // contract rejects; the cast is exact for our |v| ≤ 64 range
      (acc, v) => (acc + v).cast("decimal(38,18)"))

  /** Cosine similarity as double — codegen'd dot, norms computed inline.
   *  Prefer precomputing norms per side before a join (see nearDupPairs). */
  def cosine(a: Column, b: Column): Column =
    dot_f32(a, b) / (norm_f32(a) * norm_f32(b))

  /** Ranking-safe cosine: a zero-norm vector scores -Inf (ranks LAST under
   *  desc ordering) instead of NaN — Spark orders NaN GREATER than any
   *  double, so a single all-zero embedding would otherwise rank as the #1
   *  neighbor of every query in every top-k path. */
  private def safeCosine(dot: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(Double.NegativeInfinity))
      .otherwise(dot / (na * nb))

  /**
   * Exact top-k neighbors for each query vector.
   *
   * @param corpus  (idCol, vecCol) rows — the big side, never shuffled in
   *                full: only (queryId, corpusId, score) tuples move.
   * @param queries (idCol, vecCol) rows — must be broadcast-small.
   */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm_f32(col(vecCol)).as("qnrm")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm_f32(col(vecCol)).as("cnrm"))
    val scored = c.join(q, if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot_f32(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Sign-LSH bucket key: `planes` hyperplanes with deterministic
   *  pseudo-random components from xxhash64(plane, dim); bucket = the sign
   *  bit pattern. Native expression with a JVM-cached component table
   *  ([[graft.functions.SignBucketExpr]], bit-identical to the
   *  builtin-composed formulation it replaced). */
  def signBucket(vec: Column, planes: Int): Column =
    graft.functions.SignBucketExpr(vec, planes)

  /**
   * LSH-bucketed ANN with MULTI-PROBE: candidates = corpus rows whose bucket
   * is within Hamming distance `probeHamming` (0 or 1) of the query's
   * bucket. A near neighbor disagreeing with the query on a single
   * hyperplane lands one bit-flip away — probing those `planes` extra
   * buckets recovers exactly the neighbors single-probe loses most often,
   * at zero extra corpus cost: the probe keys are exploded on the BROADCAST
   * query side (queries × (planes+1) keys), the corpus still computes one
   * bucket per row and never shuffles. A corpus row matches at most one
   * probe key per query (keys are distinct values), so no dedup is needed.
   * Exact cosine rescoring within candidates; per-query top-k. Recall < 1.0
   * by construction — [[bruteForceTopK]] is the oracle, and the spec bounds
   * recall ≥ 0.9 on a tight-cluster fixture.
   */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 8,
      probeHamming: Int = 1): DataFrame = {
    require(probeHamming == 0 || probeHamming == 1, "probeHamming must be 0 or 1")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      norm_f32(col(vecCol)).as("cnrm"), signBucket(col(vecCol), planes).as("bucket"))
    val probes: Seq[Column] = col("bucket0") +:
      (if (probeHamming == 1) (0 until planes).map(i => col("bucket0").bitwiseXOR(lit(1L << i)))
       else Nil)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      norm_f32(col(vecCol)).as("qnrm"), signBucket(col(vecCol), planes).as("bucket0"))
      .select(col("query_id"), col("qvec"), col("qnrm"), explode(array(probes: _*)).as("bucket")))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot_f32(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Symmetric int8 scalar quantization: per-vector scale = max|x|/127,
   * components rounded to `array<tinyint>`. Reconstructed dot of two
   * quantized vectors = `dot_i8 · scaleA · scaleB` — within ~1% of the
   * float dot for unit-ish embeddings, at 1/4 the bytes.
   */
  def quantized(df: DataFrame, vecCol: String): DataFrame = {
    val scale = (array_max(transform(col(vecCol), x => abs(x))) / lit(127.0f)).cast("float")
    df.withColumn("__q_scale", scale)
      .withColumn("__q_vec",
        when(col("__q_scale") > 0f,
          transform(col(vecCol), x => round(x / col("__q_scale")).cast("byte")))
          .otherwise(transform(col(vecCol), _ => lit(0).cast("byte"))))
  }

  /**
   * Quantized ANN: the candidate pass scores int8 vectors with the native
   * `dot_i8` loop (4× less memory traffic than floats — at 100 TB the
   * corpus scan is memory-bandwidth-bound, so this is the lever), keeps
   * `k·rescoreFactor` per query, then rescores ONLY those exactly in float
   * and returns the true top-k of the candidates. Same broadcast-queries /
   * corpus-never-shuffles shape as [[bruteForceTopK]]; recall < 1.0 only
   * when quantization error reorders candidates across the cut boundary —
   * the spec bounds recall against brute force on the fixture.
   */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rescoreFactor: Int = 4): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val q = broadcast(quantized(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm_f32(col(vecCol)).as("qnrm")), "qvec")
      .withColumnRenamed("__q_vec", "q_q").withColumnRenamed("__q_scale", "q_s"))
    val c = quantized(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
        norm_f32(col(vecCol)).as("cnrm")), "cvec")
      .withColumnRenamed("__q_vec", "c_q").withColumnRenamed("__q_scale", "c_s")
    // candidate pass: approximate cosine from the int8 dot
    val approx = c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("qvec"), col("cvec"),
        col("qnrm"), col("cnrm"),
        (graft.functions.DotProductI8(col("q_q"), col("c_q")).cast("double")
          * col("q_s") * col("c_s") / (col("qnrm") * col("cnrm"))).as("ascore"))
    val wa = Window.partitionBy(col("query_id")).orderBy(col("ascore").desc, col("neighbor_id").asc)
    val candidates = approx.withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rescoreFactor)
    // exact rescore of the survivors only
    val rescored = candidates.select(col("query_id"), col("neighbor_id"),
      safeCosine(dot_f32(col("qvec"), col("cvec")), col("qnrm"), col("cnrm")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Embedding near-duplicate pairs: top-N most similar distinct pairs by
   *  cosine. Exact over the O(n²) pair space — per-pair cost is a single
   *  codegen'd dot product (norms precomputed per row); the small side is
   *  broadcast so the pair space never shuffles, and `orderBy.limit`
   *  compiles to TakeOrderedAndProject (per-partition heaps, no global
   *  sort). For corpus-scale threshold mining use [[lshNearDupPairs]]. */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String, topN: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm_f32(col(vecCol)).as("nrm"))
    val a = v.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        safeCosine(dot_f32(col("vec_a"), col("vec_b")), col("nrm_a"), col("nrm_b")).as("score"))
      .orderBy(col("score").desc, col("id_a").asc, col("id_b").asc)
      .limit(topN)
  }

  /**
   * Deterministic IVF centroid training, Lloyd's algorithm expressed as
   * DataFrame ops: seeds = the k corpus vectors with smallest
   * `xxhash64(id)` (a deterministic pseudo-random sample); each iteration
   * assigns every vector to its nearest centroid (broadcast k×d model,
   * codegen'd dots) and recomputes means via posexplode + groupBy. The
   * model (k×d floats) is collected to the driver — it IS driver-state, a
   * few KB, like any trained index. At 100 TB train on a sampled fraction.
   */
  def trainIvfCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 2): Array[(Int, Array[Float])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    var centroids: Array[(Int, Array[Float])] = v
      .orderBy(xxhash64(col("id")).asc, col("id").asc).limit(k)
      .select(col("vec")).collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0).toArray) }
    var it = 0
    while (it < iters) {
      val cDf = broadcast(centroids.toSeq.toDF("cid", "cvec"))
      val assigned = assignToCentroid(v, cDf)
      centroids = assigned
        .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "component")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("component")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat))
        }
        .toArray.sortBy(_._1)
      it += 1
    }
    centroids
  }

  /** Nearest centroid per vector (cosine): broadcast nested-loop over the
   *  tiny centroid table, ranking window on (id). */
  private def assignToCentroid(
      v: DataFrame, centroids: DataFrame): DataFrame = {
    val scored = v.join(centroids,
        lit(true))
      .select(col("id"), col("vec"), col("cid"),
        (dot_f32(col("vec"), col("cvec")) /
          (norm_f32(col("vec")) * norm_f32(col("cvec")))).as("cscore"))
    val w = Window.partitionBy(col("id")).orderBy(col("cscore").desc, col("cid").asc)
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("id"), col("vec"), col("cid"))
  }

  /**
   * IVF ANN (SURVEY-anticipated scale path: "assign → join on centroid id →
   * rescore"): corpus vectors are bucketed by nearest centroid; each query
   * probes its `nprobe` nearest centroid buckets; exact cosine rescoring
   * within probed buckets; per-query top-k. Shuffle = corpus assignment
   * (one pass) + candidate join on the centroid id — never all-pairs.
   */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: Array[(Int, Array[Float])],
      nprobe: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cDf = broadcast(centroids.toSeq.toDF("cid", "cvec"))
    val c = assignToCentroid(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")), cDf)
      .select(col("id").as("neighbor_id"), col("vec").as("cvec2"), col("cid"),
        norm_f32(col("vec")).as("cnrm"))
    // query → its nprobe nearest centroids
    val qScored = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .join(cDf, lit(true))
      .select(col("query_id"), col("qvec"), col("cid"),
        (dot_f32(col("qvec"), col("cvec")) /
          (norm_f32(col("qvec")) * norm_f32(col("cvec")))).as("cscore"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cscore").desc, col("cid").asc)
    val q = broadcast(qScored.withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qvec"), norm_f32(col("qvec")).as("qnrm"), col("cid")))
    val scored = c.join(q, Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot_f32(col("qvec"), col("cvec2")), col("qnrm"), col("cnrm")).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   * web-scale through semantic deduplication"): semantic near-duplicate
   * removal by k-means clustering + within-cluster cosine pruning. Where
   * [[dropNearDupVectors]] mines candidates with sign-LSH (recall bounded
   * by bit-pattern collisions), SemDeDup makes the candidate set EXACT
   * within each cluster: every pair sharing a centroid is scored, so
   * recall inside a cluster is 1.0 and the probabilistic step moves
   * entirely into the clustering granularity (two near-dups only escape
   * if k-means separates them — exact twins never are: identical vectors
   * score identically against every centroid and share the
   * deterministic tie-break).
   *
   * Drop rule (deterministic, oracle-replayable): a vector is dropped iff
   * some SAME-CLUSTER vector with a SMALLER id has cosine ≥ `minCosine`
   * to it — the "keep the earliest representative" greedy of the paper's
   * per-cluster sweep, without the ε-ball chaining ambiguity.
   *
   * 100 TB shape: the centroid model is driver-state (k×d floats, like
   * every trained index here — train on a sample via `centroids`);
   * assignment is a broadcast nested-loop + rank (vectors never shuffle
   * for assignment); the ONLY corpus shuffle is the within-cluster
   * self-join keyed by cid. Pairwise work is Σ|cluster|² — pick k so
   * clusters stay 10³-10⁴ (the paper's regime); skew in cluster sizes is
   * the knob to watch, not corpus size.
   */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCosine: Double,
      iters: Int = 2,
      centroids: Option[Array[(Int, Array[Float])]] = None): DataFrame = {
    require(minCosine > 0.0 && minCosine <= 1.0,
      s"minCosine must be in (0, 1], got $minCosine")
    val spark = df.sparkSession
    import spark.implicits._
    val model = centroids.getOrElse(trainIvfCentroids(df, idCol, vecCol, k, iters))
    val cDf = broadcast(model.toSeq.toDF("cid", "cvec"))
    val assigned = assignToCentroid(
        df.select(col(idCol).as("id"), col(vecCol).as("vec")), cDf)
      .select(col("id"), col("vec"), col("cid"), norm_f32(col("vec")).as("nrm"))
    val a = assigned.select(col("cid"), col("id").as("id_a"),
      col("vec").as("vec_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vec_b"), col("nrm").as("nrm_b"))
    val losers = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(safeCosine(dot_f32(col("vec_a"), col("vec_b")),
        col("nrm_a"), col("nrm_b")) >= minCosine)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Embedding-space near-duplicate REMOVAL, the vector twin of
   *  [[Dedup.dropNearDuplicates]]: [[lshNearDupPairs]] mines exact-rescored
   *  pairs ≥ `minCosine`, and the shared [[Dedup.dropByPairs]] collapse
   *  clusters the edge-touched ids (driver union-find when the edges fit)
   *  and moves the corpus once through an anti-join against the losers. */
  def dropNearDupVectors(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      planes: Int = 8,
      tables: Int = 4): DataFrame =
    Dedup.dropByPairs(df, idCol,
      lshNearDupPairs(df, idCol, vecCol, minCosine, planes, tables))

  /**
   * The persisted-artifact side of incremental embedding dedup: (id, vec,
   * nrm, bits) with the multi-table sign-LSH bit pattern of each corpus
   * vector. Like [[Dedup.corpusSignatures]] for text: computed once when
   * the snapshot lands, persisted next to it (parquet), appended to as
   * increments are accepted, and handed to every subsequent
   * [[dropVectorsAgainstSignatures]] call — per-batch dedup cost then
   * scales with the increment, not with corpus recompute. The (planes,
   * tables) used to build and to probe must match; both ends live here.
   */
  def vectorSignatures(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 8,
      tables: Int = 4): DataFrame = {
    require(planes * tables <= 63, "planes*tables must fit in a long bit pattern")
    corpus.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm_f32(col(vecCol)).as("nrm"),
      signBucket(col(vecCol), planes * tables).as("bits"))
  }

  /**
   * Incremental embedding near-dup dedup: drop rows of `newVecs` whose
   * vector has cosine ≥ `minCosine` with ANY already-ingested corpus
   * vector, WITHOUT re-clustering the corpus — the vector twin of
   * [[Dedup.dropAgainstSignatures]], sharing its scale shape:
   *
   *  - the corpus contributes only its signature table ((id, vec, nrm,
   *    bits) — [[vectorSignatures]], persistable so corpus vectors are
   *    never re-normed or re-bucketed per batch);
   *  - the band probe is increment-buckets ⋈ corpus-buckets per LSH table
   *    (16 B/exploded row each side); the small side is the increment, so
   *    Spark broadcasts it and the corpus streams through unshuffled;
   *  - candidates `distinct()` on (new id, corpus id) BEFORE the exact
   *    cosine rescore (the [[Dedup.candidatePairs]] collision-collapse
   *    discipline); matched new ids — bounded by |increment| — are
   *    materialized eagerly so both signature caches release at return,
   *    then drive one broadcast-friendly anti-join.
   *
   * An EXACT duplicate (identical vector) is always caught: identical
   * vectors share every bucket in every table, so recall loss applies only
   * to near-dups below cosine 1.0 — raise `tables` to close that gap.
   * Corpus rows are never dropped, moved, or re-labeled.
   */
  def dropVectorsAgainstSignatures(
      newVecs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      planes: Int = 8,
      tables: Int = 4): DataFrame = {
    require(planes * tables <= 63, "planes*tables must fit in a long bit pattern")
    val sigsNew = vectorSignatures(newVecs, idCol, vecCol, planes, tables)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigsOld = corpusSigs.select(col("id"), col("vec"), col("nrm"), col("bits"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def keyed(sigs: DataFrame): DataFrame = sigs.select(col("id"),
      explode(transform(sequence(lit(0), lit(tables - 1)), t =>
        struct(t.as("t"),
          call_function("shiftright", col("bits"), (t * planes).cast("int"))
            .bitwiseAND(lit((1L << planes) - 1)).as("bucket")))).as("bk"))
      .select(col("id"), col("bk.t").as("t"), col("bk.bucket").as("bucket"))
    val cand = keyed(sigsNew).as("n")
      .join(keyed(sigsOld).as("c"),
        col("n.t") === col("c.t") && col("n.bucket") === col("c.bucket"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
    val matched = cand
      .join(sigsNew.select(col("id").as("new_id"), col("vec").as("vn"), col("nrm").as("nn")), "new_id")
      .join(sigsOld.select(col("id").as("corpus_id"), col("vec").as("vc"), col("nrm").as("nc")), "corpus_id")
      .filter(safeCosine(dot_f32(col("vn"), col("vc")), col("nn"), col("nc")) >= minCosine)
      .select(col("new_id")).distinct()
      .localCheckpoint(eager = true)
    sigsNew.unpersist(blocking = false)
    sigsOld.unpersist(blocking = false)
    newVecs.join(matched.withColumnRenamed("new_id", idCol), Seq(idCol), "left_anti")
  }

  /** [[dropVectorsAgainstSignatures]] deriving the corpus signatures on the
   *  fly — the one-shot convenience twin of [[Dedup.dropAgainstCorpus]]. */
  def dropVectorsAgainstCorpus(
      newVecs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      planes: Int = 8,
      tables: Int = 4): DataFrame =
    dropVectorsAgainstSignatures(newVecs,
      vectorSignatures(corpus, idCol, vecCol, planes, tables),
      idCol, vecCol, minCosine, planes, tables)

  /**
   * Threshold near-dup pairs at corpus scale: sign-LSH over `tables`
   * independent bucketings (each `planes` hyperplanes, salted by table id),
   * self-join per bucket on ids only, exact cosine rescore of distinct
   * candidates, keep pairs ≥ `minCosine`. Shuffle volume is
   * O(n·tables·8 bytes) + collisions, never O(n²). Recall rises with
   * `tables` (union of bucketings); precision is exact (rescored).
   */
  def lshNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      planes: Int = 8,
      tables: Int = 4): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
      norm_f32(col(vecCol)).as("nrm"))
    require(planes * tables <= 63, "planes*tables must fit in a long bit pattern")
    // one bit pattern of planes*tables hyperplanes per row; table t's bucket
    // is the bit slice [t*planes, (t+1)*planes) — tables are independent
    // because every hyperplane is independent
    val bucketed = v.select(col("id"), signBucket(col("vec"), planes * tables).as("bits"))
    val keyed = bucketed.select(col("id"),
      explode(transform(sequence(lit(0), lit(tables - 1)), t =>
        struct(t.as("t"),
          call_function("shiftright", col("bits"), (t * planes).cast("int"))
            .bitwiseAND(lit((1L << planes) - 1)).as("bucket")))).as("bk"))
      .select(col("id"), col("bk.t").as("t"), col("bk.bucket").as("bucket"))
    val cand = keyed.as("x").join(keyed.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(v.select(col("id").as("id_a"), col("vec").as("va"), col("nrm").as("na")), "id_a")
      .join(v.select(col("id").as("id_b"), col("vec").as("vb"), col("nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (dot_f32(col("va"), col("vb")) / (col("na") * col("nb"))).as("score"))
      .filter(col("score") >= minCosine)
  }

  // ---- product quantization ------------------------------------------

  /**
   * Train PQ codebooks: the vector splits into `m` subvectors of `d/m`
   * dims; each subspace gets its own `ksub`-centroid codebook via Lloyd
   * iterations — all `m` subspaces train in ONE distributed job per
   * iteration (rows explode to (sub, id, subvec) once). Seeds are the
   * `ksub` corpus vectors with smallest `xxhash64(id)` (the
   * [[trainIvfCentroids]] discipline), split subspace-wise. Assignment
   * maximizes the INNER PRODUCT (not min-L2): that makes the encoded
   * reconstruction the argmax of its own vector's ADC score — the
   * self-consistency property [[pqTopK]]'s recall guarantee for exact
   * twins (and the q127 oracle) rides on. An emptied cluster keeps its
   * previous centroid. The model is m × ksub × (d/m) floats of driver
   * state — e.g. 8×16×8 = 4 KB; at 100 TB train on a sampled fraction.
   */
  def trainPqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      ksub: Int = 16,
      iters: Int = 2): Array[Array[Array[Float]]] = {
    require(m >= 1 && ksub >= 2 && ksub <= 256, s"need 1 <= m, 2 <= ksub <= 256: m=$m ksub=$ksub")
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(vecCol))).head().getInt(0)
    require(d % m == 0, s"vector dim $d must divide into m=$m subspaces")
    val dsub = d / m
    def subSlices(vec: Column): Column =
      transform(sequence(lit(0), lit(m - 1)), s =>
        struct(s.as("sub"), slice(vec, s * dsub + 1, lit(dsub)).as("svec")))
    val subs = df.select(col(idCol).as("id"), explode(subSlices(col(vecCol))).as("x"))
      .select(col("x.sub").as("sub"), col("id"), col("x.svec").as("svec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var codebooks: Array[Array[Array[Float]]] = df
      .orderBy(xxhash64(col(idCol)).asc, col(idCol).asc).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
      .map(v => Array.tabulate(m)(s => v.slice(s * dsub, (s + 1) * dsub)))
      .transpose // ksub × m → m × ksub
      .map(_.toArray)
    var it = 0
    while (it < iters) {
      val cbDf = broadcast(codebooks.zipWithIndex.flatMap { case (cs, s) =>
        cs.zipWithIndex.map { case (c, cid) => (s, cid, c) }
      }.toSeq.toDF("sub", "cid", "cvec"))
      val w = Window.partitionBy(col("sub"), col("id"))
        .orderBy(col("cscore").desc, col("cid").asc)
      val assigned = subs.join(cbDf, "sub")
        .select(col("sub"), col("id"), col("svec"), col("cid"),
          dot_f32(col("svec"), col("cvec")).as("cscore"))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
      val means = assigned
        .select(col("sub"), col("cid"),
          posexplode(col("svec")).as(Seq("pos", "component")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(avg(col("component")).as("mu"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case ((s, cid), rows) =>
          (s, cid, rows.sortBy(_.getInt(2)).map(_.getDouble(3).toFloat)) }
      val next = codebooks.map(_.map(identity)) // empty clusters keep position
      means.foreach { case (s, cid, c) => next(s)(cid) = c }
      codebooks = next
      it += 1
    }
    subs.unpersist(blocking = false)
    codebooks
  }

  private def cbLit(codebooks: Array[Array[Array[Float]]]): Column =
    typedLit(codebooks.map(_.map(_.toSeq).toSeq).toSeq)

  /** Sub-dot as one codegen'd fold (float, fixed left-to-right order — the
   *  SAME expression encodes corpus rows and builds query LUTs, so scores
   *  compare exactly and assignment ties break identically). */
  private def subDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0f), (acc, x) => acc + x)

  /**
   * PQ-encode: each vector becomes `m` bytes (stored offset-128 so
   * ksub ≤ 256 fits a signed byte) — a 64-dim float row shrinks 256 B →
   * 8 B, the artifact a 100 TB ANN scan actually reads. Pure codegen,
   * zero shuffle; the codebook rides the plan as one `typedLit`.
   */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Array[Array[Array[Float]]],
      outCol: String = "pq_codes"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val cb = cbLit(codebooks)
    df.withColumn(outCol,
      transform(sequence(lit(0), lit(m - 1)), s => {
        val scores = transform(element_at(cb, s + 1),
          c => subDot(slice(col(vecCol), s * dsub + 1, lit(dsub)), c))
        (array_position(scores, array_max(scores)) - 1 - 128).cast("byte")
      }))
  }

  /**
   * PQ ANN (asymmetric distance computation): the corpus is scanned as
   * (id, m-byte codes) ONLY — each query carries a precomputed
   * `m × ksub` lookup table of sub-dots, so the approximate score per
   * row is `m` array lookups, no float vectors in the hot scan at all.
   * Top `k·rescoreFactor` per query by ADC score, then candidates —
   * bounded by #queries · k · rescoreFactor — broadcast back against
   * the full-vector corpus for the exact-cosine rescore: the corpus is
   * never shuffled; the only exchange carries narrow (query, id, score)
   * tuples. Exact-twin recall is 1.0 by the [[trainPqCodebooks]]
   * self-consistency property; general recall is bounded in the spec
   * against brute force.
   */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: Array[Array[Array[Float]]],
      rescoreFactor: Int = 4): DataFrame = {
    require(rescoreFactor >= 1, "rescoreFactor must be >= 1")
    val m = codebooks.length
    val ksub = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val cb = cbLit(codebooks)
    val lut = flatten(transform(sequence(lit(0), lit(m - 1)), s =>
      transform(element_at(cb, s + 1),
        c => subDot(slice(col("qvec"), s * dsub + 1, lit(dsub)), c))))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
          norm_f32(col(vecCol)).as("qnrm"))
        .withColumn("lut", lut))
    val codes = pqEncode(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec")),
      "nvec", codebooks).drop("nvec")
    val ascore = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0f),
      (acc, s) => acc + element_at(col("lut"),
        s * ksub + element_at(col("pq_codes"), s + 1).cast("int") + lit(128) + 1))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("ascore").desc, col("neighbor_id").asc)
    val candidates = codes.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), ascore.as("ascore"))
      .withColumn("arank", row_number().over(wa))
      .filter(col("arank") <= k * rescoreFactor)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
        norm_f32(col(vecCol)).as("nnrm"))
      .join(broadcast(candidates), "neighbor_id")
      .join(q.select(col("query_id"), col("qvec"), col("qnrm")), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        safeCosine(dot_f32(col("qvec"), col("nvec")), col("qnrm"), col("nnrm")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    rescored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Element-wise mean of an `array<float>` column per group — centroid
   * computation (label centroids, chunk→document embedding pooling,
   * cluster summaries). Spark has no array-wise aggregate builtin, and a
   * naive `collect_list` + driver fold would centralize every vector;
   * this stays distributed AND engine-exact:
   *
   *   explode to (key, pos, value) → one hash aggregation on (key, pos)
   *   with DECIMAL(22,7) sums (the engine-wide discipline: components
   *   round at 1e-7, TEN decimal digits above a double's own granularity,
   *   so engines never disagree on the rounding — a finer scale like
   *   (28,12) was measured to hit cross-engine half-way rounding
   *   disagreements — and the decimal sum then has ONE value regardless
   *   of partitioning or order)
   *   → one final per-key fold packs positions back into an array.
   *
   * Mean = decimal sum / count computed in DOUBLE (one IEEE division per
   * component). Output column `mean_vec`: `array<double>` of `dim`.
   * Rows whose vector is null or shorter than `dim` are rejected up
   * front (a silent partial mean is the one unacceptable outcome).
   *
   * 100 TB shape: the only exchange carries (key, pos, decimal) — 16-24
   * bytes/component, map-side combined; no vector ever moves whole, no
   * driver collect. Groups scale to any count; `dim` multiplies the
   * exploded row count, so a 768-dim corpus shuffles 768 narrow rows per
   * vector ONCE.
   */
  def meanVectors(
      df: DataFrame,
      keyCols: Seq[String],
      vecCol: String,
      dim: Int): DataFrame = {
    require(keyCols.nonEmpty && dim > 0, "need at least one key and dim > 0")
    val keyCs = keyCols.map(col)
    // validation rides INSIDE the one aggregation pass (raise_error at the
    // offending row), not as an up-front filter().isEmpty probe — that
    // probe is a second full scan of the input, 2x IO at corpus scale
    val checked = when(col(vecCol).isNull || size(col(vecCol)) < dim,
        raise_error(concat(
          lit(s"meanVectors: null or shorter-than-$dim '$vecCol' row at key ("),
          concat_ws(", ", keyCs.map(_.cast("string")): _*), lit(")"))))
      .otherwise(slice(col(vecCol), 1, dim))
    df.select(keyCs :+ posexplode(checked): _*)
      .select(keyCs ++ Seq(col("pos"),
        col("col").cast("double").cast("decimal(22,7)").as("v")): _*)
      .groupBy(keyCs :+ col("pos"): _*)
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .groupBy(keyCs: _*)
      .agg(array_sort(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n").cast("double")).as("m")))).as("pm"))
      .select(keyCs :+ transform(col("pm"), e => e.getField("m")).as("mean_vec"): _*)
  }

  /**
   * Deterministic ±1/√k sign matrix for [[randomProject]]: component
   * (j, i) is +1 when the high nibble of md5("j:i") is < 8, else −1 — a
   * Rademacher Johnson-Lindenstrauss projection (Achlioptas 2003: ±1
   * entries preserve pairwise distances with the same guarantee as
   * Gaussian ones). md5-derived so an external engine can replay the
   * exact matrix from the seed strings alone (no RNG state to ship).
   */
  def projectionSigns(outDim: Int, inDim: Int): Array[Array[Double]] =
    Array.tabulate(outDim, inDim) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }

  /**
   * Johnson-Lindenstrauss random projection: `array<float>` of `inDim`
   * down to `array<double>` of `outDim`, projected[j] =
   * (Σᵢ sign(j,i)·vec[i]) / √outDim with the deterministic
   * [[projectionSigns]] matrix.
   *
   * THE scale lever for every embedding operator here: sign-LSH bucketing,
   * IVF/k-means assignment and SemDeDup all pay O(d) per dot product, so
   * projecting 768-dim web-corpus embeddings to 64 first cuts that work
   * 12× while JL keeps relative distances within ε ≈ √(8·ln n / k). The
   * projection itself is a narrow map — the matrix is a plan literal,
   * nothing shuffles, nothing is collected.
   *
   * Two physical paths, bit-identical results (spec-pinned): output dims
   * up to `unrollMaxTerms` total terms are UNROLLED into a codegen'd
   * left-to-right sum chain; larger matrices switch to a higher-order
   * `aggregate` over the same literal matrix (same 0.0-seeded left fold,
   * so the same IEEE result). The threshold is deliberately low: past a
   * few hundred terms the unrolled chain overflows janino's method-size
   * limit and Spark drops the WHOLE stage to interpreted mode — the HOF
   * loop is slower per element but keeps the surrounding stage codegen'd.
   * Float components widen to double exactly; ±1 multiplication is exact;
   * summation order is fixed — an external engine replaying the same
   * order reproduces the doubles bit-for-bit (the q155 oracle does
   * exactly that).
   */
  def randomProject(
      df: DataFrame,
      vecCol: String,
      inDim: Int,
      outDim: Int,
      unrollMaxTerms: Int = 256): DataFrame = {
    require(inDim > 0 && outDim > 0, "dims must be positive")
    val signs = projectionSigns(outDim, inDim)
    val scale = math.sqrt(outDim.toDouble)
    val v = col(vecCol)
    val proj: Column =
      if (outDim * inDim <= unrollMaxTerms) {
        array((0 until outDim).map { j =>
          val sum = (0 until inDim).foldLeft(lit(0.0)) { (acc, i) =>
            acc + element_at(v, i + 1).cast("double") * lit(signs(j)(i))
          }
          (sum / lit(scale)).as(s"p$j")
        }: _*)
      } else {
        val m = typedLit(signs.map(_.toSeq).toSeq)
        array((0 until outDim).map { j =>
          val row = element_at(m, j + 1)
          val sum = aggregate(sequence(lit(0), lit(inDim - 1)), lit(0.0),
            (acc, i) => acc + element_at(v, i + 1).cast("double") *
              element_at(row, i + 1))
          (sum / lit(scale)).as(s"p$j")
        }: _*)
      }
    df.withColumn("projected", proj)
  }
}
