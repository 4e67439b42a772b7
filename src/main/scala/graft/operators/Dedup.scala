package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard near-dup detection.
 *
 * Architecture for 100 TB:
 *  - Signature computation (shingling, minhash, simhash) is PER-ROW Column
 *    expression work — whole-stage codegen, zero shuffle, scales linearly
 *    with executors. No UDFs.
 *  - Candidate generation is the only shuffle: explode LSH band keys
 *    (docs × bands rows, band key is 8 bytes + doc id) and self-join on the
 *    band key. The joined width is tiny (ids + 8-byte keys), never the
 *    document text. Skewed buckets (giant near-dup clusters) are handled by
 *    AQE skew-join splitting.
 *  - Verification (exact Jaccard / signature agreement) happens only on
 *    candidate pairs — the classic LSH contract: O(n·bands) shuffle instead
 *    of O(n²) compare.
 *  - Small results finish on the driver. The near-dup droppers read their
 *    edge list once, with a bounded collect, and cluster it with a driver
 *    union-find when it fits; [[dropFrequentLines]] reads its frequent-hash
 *    set once the same way. Either result goes back to the corpus pass as a
 *    broadcast local relation, so no job re-materializes what the driver
 *    already holds. Only above the thresholds do the distributed branches
 *    (label propagation, the membership join) run.
 */
object Dedup {

  // ---------- exact ----------

  /**
   * Exact dedup on a fingerprint of `cols`: one surviving representative
   * (min of `idCol`) per distinct content. Single hash aggregation — one
   * shuffle on the 16-byte md5, with map-side partial aggregation.
   */
  def exact(df: DataFrame, idCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "exact dedup needs at least one content column")
    df.withColumn("fp", contentFingerprint(cols))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
  }

  // ---------- shingling ----------

  /** Array of `n`-word shingles (space-joined) of a text column. Pure
   *  Column expression: split + sequence + transform. */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Distinct 64-bit shingle hashes — fused one-pass native expression
   *  ([[graft.functions.WordShingleHashes]]), bit-identical to
   *  `array_distinct(transform(shingles(text, n), xxhash64))`. */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.WordShingleHashes(text, n)

  // ---------- MinHash + LSH ----------

  /**
   * MinHash signature: for permutation j, min over shingle hashes of
   * `xxhash64(j, h)` — an independent hash family keyed by the permutation
   * index (equivalent to the classic `a·h+b mod p` family, but overflow-free).
   * O(perms × shingles) per row, no shuffle. Implemented as the native
   * codegen expression [[graft.functions.MinHashSignature]] (the
   * higher-order-function formulation evaluates interpreted and was the
   * round-1 q27 bottleneck: 97 s → ~0.2 s at sf0.1).
   */
  def minhashSignature(shingleHashCol: Column, numPerms: Int): Column =
    graft.functions.MinHashSignature(shingleHashCol, numPerms)

  /** Signature table: (id, sig) with the MinHash signature computed once. */
  private def signatures(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int, numPerms: Int): DataFrame =
    df.select(col(idCol).as("id"),
      minhashSignature(shingleHashes(col(textCol), shingleN), numPerms).as("sig"))

  /**
   * LSH candidate pairs: distinct (id_a, id_b) with id_a < id_b that share at
   * least one band bucket.
   *
   * Shuffle discipline (the thing that decides 100 TB viability): the band
   * explode and self-join carry ONLY (id, band, band_hash) — 24 bytes/row —
   * never the signature or the text. Duplicate candidates (pairs colliding
   * in several bands, and every pair inside a near-dup cluster collides in
   * ~all bands) are collapsed by `distinct()` on the two ids BEFORE any
   * signature/text payload is joined back or any per-pair scoring runs.
   * Round-1 bench data: scoring pre-distinct at sf0.1 cost 207 s (q27);
   * distinct-first is >20× cheaper because clusters of m docs emit
   * m²·bands/2 collisions but only m²/2 unique pairs.
   */
  def candidatePairs(
      sigs: DataFrame,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val keyed = sigs
      .select(col("id"),
        posexplode(graft.functions.BandHashes(col("sig"), bands, rowsPerBand))
          .as(Seq("band", "band_hash")))
    keyed.as("a").join(keyed.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /**
   * MinHash/LSH candidate pairs with estimated Jaccard (fraction of agreeing
   * signature positions). Returns (idA, idB, est_jaccard) with idA < idB.
   * Signatures are joined back to the (deduplicated) candidate list, so the
   * per-pair signature comparison runs once per unique pair.
   */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.0): DataFrame = {
    checkBands(numPerms, bands)
    minhashPairsOn(signatures(df, idCol, textCol, shingleN, numPerms),
      numPerms, bands, minEstJaccard)
  }

  /** [[minhashPairs]] over signatures MATERIALIZED once, plus a cleanup
   *  hook that drops them — the MinHash twin of [[hammingEdgesInternal]].
   *  Both sides of the band self-join and both signature join-backs read
   *  one MinHash pass instead of computing it in two separate map stages.
   *  An eager localCheckpoint, not `persist`: AQE reads a persisted frame
   *  through one table-cache stage, one Spark job, per reference (four
   *  here), while checkpointed blocks are a plain RDD scan. The droppers
   *  release the blocks through [[dropByPairs]]' `afterLabels` hook. */
  private def minhashEdgesInternal(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int, numPerms: Int,
      bands: Int, minEstJaccard: Double): (DataFrame, () => Unit) = {
    checkBands(numPerms, bands)
    val sigs = signatures(df, idCol, textCol, shingleN, numPerms).localCheckpoint(eager = true)
    (minhashPairsOn(sigs, numPerms, bands, minEstJaccard), () => {
      // the checkpointed frame is a scan of the materialized RDD
      sigs.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      }
      ()
    })
  }

  private def checkBands(numPerms: Int, bands: Int): Unit =
    require(numPerms % bands == 0,
      s"bands ($bands) must divide numPerms ($numPerms) — trailing permutations " +
        "would otherwise never influence candidate generation")

  private def minhashPairsOn(
      sigs: DataFrame, numPerms: Int, bands: Int, minEstJaccard: Double): DataFrame =
    candidatePairs(sigs, bands, numPerms / bands)
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numPerms).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)

  /**
   * Dedup assignment from LSH pairs: every doc maps to the smallest id it
   * shares a bucket with (itself if unique). One-hop union — the standard
   * single-pass approximation of connected components; iterate to a fixpoint
   * for full transitive clusters (large-scale pipelines usually accept
   * one/two hops).
   */
  def minhashAssignments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, shingleN, numPerms, bands, minEstJaccard)
    val bestPartner = pairs
      .groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("partner"))
    df.select(col(idCol).as("id"))
      .join(bestPartner, Seq("id"), "left")
      .select(col("id").as(idCol), least(col("id"), coalesce(col("partner"), col("id"))).as("dup_of"))
  }

  /**
   * Transitive dedup clusters: connected components over a candidate-pair
   * edge list. ADAPTIVE, like AQE picks a join strategy by measured size:
   *
   *  - edge list ≤ `localEdgeThreshold`: ONE bounded action reads at most
   *    `localEdgeThreshold + 1` edges (a limit collect, no separate count);
   *    when they all fit, a driver UNION-FIND clusters them — O(E α(E)) in
   *    one pass, replacing N rounds of join+agg+checkpoint jobs. A million
   *    16-byte edges is a few MB of legitimate driver state, the same class
   *    as the IVF centroid model; at real-world dup rates this is the
   *    overwhelmingly common case.
   *  - larger: iterative min-label propagation (each vertex adopts the
   *    smallest label among itself and its neighbors until fixpoint) —
   *    every round one join + one aggregation on the edge list, documents
   *    never move, `localCheckpoint` truncates lineage; near-dup clusters
   *    have tiny diameter so 1-3 rounds converge, `maxIter` bounds it.
   *
   * Both branches return the identical fixpoint: (id, cluster) with
   * cluster = min doc id of the component.
   */
  def connectedComponents(
      vertices: DataFrame, // single column "id"
      pairs: DataFrame, // (id_a, id_b) undirected edges
      maxIter: Int = 10,
      localEdgeThreshold: Long = LocalEdgeThreshold): DataFrame = {
    // Persist before the size probe: the bounded collect and the iterative
    // joins read the materialized edges instead of re-running the mining
    // that produced them. Unpersisted before returning — both branches end
    // with MATERIALIZED labels (checkpointed), so the cache entry would
    // otherwise live in the CacheManager until session end, leaking one
    // entry per mining call.
    val edgeList = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels = edgesUpTo(edgeList, localEdgeThreshold) match {
      case Some(edges) =>
        connectedComponentsLocal(vertices, edges, edgeList.schema.head.dataType)
      case None => propagateLabels(vertices, edgeList, maxIter)
    }
    edgeList.unpersist(blocking = false)
    labels
  }

  /** Edge budget of the driver branches of [[connectedComponents]] and
   *  [[dropByPairs]]. */
  private[operators] val LocalEdgeThreshold = 1000000L

  /** The edge budget [[dropByPairs]] uses. A test seam only (a spec binds 0
   *  to force the distributed branch on the same inputs), not an option. */
  private[operators] val dropEdgeThreshold =
    new scala.util.DynamicVariable[Long](LocalEdgeThreshold)

  /** All rows of `df` in ONE bounded action when it holds at most `max`
   *  of them; `None` (after collecting at most `max + 1`) when it does not. */
  private def collectUpTo(df: DataFrame, max: Long): Option[Array[org.apache.spark.sql.Row]] = {
    val head = df.limit((math.min(math.max(max, -1L), Int.MaxValue - 1L) + 1L).toInt).collect()
    if (head.length <= max) Some(head) else None
  }

  /** The (src, dst) edges of a two-column edge list, when at most
   *  `threshold` of them exist ([[collectUpTo]]). */
  private def edgesUpTo(edgeList: DataFrame, threshold: Long): Option[Array[(Any, Any)]] =
    collectUpTo(edgeList, threshold).map(_.map(r => (r.get(0), r.get(1))))

  /** Driver union-find over collected edges: path halving + union by MIN,
   *  so every root IS its component's min id. Maps every vertex of the
   *  edges (roots included) to its root. Id-type-generic (long, int,
   *  string, …): ids are the external values Spark collects, ordered by
   *  the natural ordering of their runtime type — "min label" must mean
   *  the same thing the distributed branch's min() computes. */
  private def unionFind(edges: Array[(Any, Any)]): Array[(Any, Any)] = {
    val lt: (Any, Any) => Boolean = {
      case (x: java.lang.Long, y: java.lang.Long) => x < y
      case (x: java.lang.Integer, y: java.lang.Integer) => x < y
      case (x: String, y: String) => x < y
      case (a, b) => a.toString < b.toString
    }
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) {
        val p = parent(r)
        parent(r) = parent(p) // path halving
        r = p
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN so the final root is the component minimum
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toArray.map(v => (v, find(v)))
  }

  /** (id, cluster) for every vertex of the collected edges, as a local
   *  relation typed like the edge ids — built on the driver, no job. */
  private def localLabels(
      spark: org.apache.spark.sql.SparkSession, edges: Array[(Any, Any)],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    val rows = unionFind(edges).map { case (v, root) => org.apache.spark.sql.Row(v, root) }
    spark.createDataFrame(rows.toSeq.asJava,
      StructType(Seq(StructField("id", idType), StructField("cluster", idType))))
  }

  /** Driver branch of [[connectedComponents]]: union-find labels joined
   *  back onto `vertices`; non-edge vertices label themselves via the left
   *  join + coalesce. */
  private def connectedComponentsLocal(
      vertices: DataFrame, edges: Array[(Any, Any)],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val labels = localLabels(vertices.sparkSession, edges, idType)
      .select(col("id"), col("cluster").as("__cc_cluster"))
    vertices.select(col("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cc_cluster"), col("id")).as("cluster"))
      // materialize: the result otherwise keeps referencing `vertices`
      // (usually derived from the mined edges), and the caller unpersists
      // those right after this returns — a lazy result would silently
      // re-run the whole mining pass on every downstream action
      .localCheckpoint(eager = true)
  }

  /** Distributed branch of [[connectedComponents]]: iterative min-label
   *  propagation over the (src, dst) edge list, checkpointed per round. */
  private def propagateLabels(
      vertices: DataFrame, edgeList: DataFrame, maxIter: Int): DataFrame = {
    val edges = edgeList
      .union(edgeList.select(col("dst").as("src"), col("src").as("dst")))
    var labels = vertices.select(col("id"), col("id").as("cluster"))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val neighborMin = edges.join(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("cluster", "n_cluster"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("n_cluster")).as("n_min"))
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("n_min"), col("cluster"))).as("cluster"))
        .localCheckpoint(eager = true) // truncate the growing iterative lineage
      val changed = updated.alias("u")
        .join(labels.alias("l"), Seq("id"))
        .filter(col("u.cluster") =!= col("l.cluster")).count()
      converged = changed == 0
      labels = updated
      it += 1
    }
    // A silently-unconverged fixpoint would hand back WRONG clusters (labels
    // mid-propagation). Near-dup components have tiny diameter so this never
    // fires in practice; a genuinely huge-diameter graph must raise maxIter,
    // not receive an approximate answer unannounced.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations; " +
        "raise maxIter (component diameter exceeds the bound)")
    labels
  }

  /**
   * End-to-end near-duplicate REMOVAL — the last step of the dedup
   * pipeline: keep one canonical document (smallest id) per transitive
   * near-dup cluster, drop the rest, return the surviving full rows.
   *
   * Scale shape: [[minhashPairs]]' mining (over signatures computed once
   * and cached for the call) produces the edge list with a linear shuffle;
   * [[dropByPairs]] clusters ONLY edge-touched vertices (documents with no
   * near-dup edge never enter it — at real-world dup rates that shrinks the
   * clustering input by 10-100×); the corpus itself moves once, through a
   * single anti-join against the loser id set (a broadcast local relation
   * when the edges fit the driver, as dup sets usually do).
   */
  def dropNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5,
      keepBy: Seq[Column] = Nil): DataFrame = {
    val (edges, cleanup) = minhashEdgesInternal(
      df, idCol, textCol, shingleN, numPerms, bands, minEstJaccard)
    dropByPairs(df, idCol, edges, keepBy, cleanup)
  }

  /**
   * Near-dup removal with SimHash candidate mining instead of MinHash —
   * same cluster-then-anti-join shape as [[dropNearDuplicates]], with
   * [[simhashPairs]] (pigeonhole block LSH + exact Hamming verify) as the
   * edge miner. Keeps the min-id document of every connected component.
   */
  def dropBySimhash(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val (edges, cleanup) = hammingEdgesInternal(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh")),
      maxHamming, HammingBucketCap)
    dropByPairs(df, idCol, edges, Nil, cleanup)
  }

  // ---------- image near-dup (perceptual hash + Hamming LSH) -----------

  /** 64-bit average hash of an image blob (REAL PNG/BMP pixel decode —
   *  [[graft.functions.ImagePixels]]); null for undecodable bytes. */
  def imageAHash(blob: Column): Column = graft.functions.ImageAHash(blob)

  /** 64-bit difference hash (horizontal gradient sign) of an image blob. */
  def imageDHash(blob: Column): Column = graft.functions.ImageDHash(blob)

  /**
   * Image near-dup pairs: decode pixels (real PNG/BMP decode), hash to 64
   * bits (aHash by default, dHash optionally), then the same pigeonhole
   * Hamming LSH as [[simhashPairs]]. Byte-different re-encodes of the same
   * pixels (filter choice, IDAT chunking, PNG↔BMP, row order) collapse at
   * Hamming 0; small edits land within a few bits.
   *
   * Scale shape: the blob column is touched exactly once, in the map-side
   * hash projection — everything downstream (explode, self-join, verify)
   * moves only (id, 8-byte hash). Undecodable blobs drop out of the pair
   * mining (null hash), they are data, not errors.
   */
  def imageHashPairs(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      maxHamming: Int = 3,
      useDHash: Boolean = false,
      maxBucket: Int = HammingBucketCap): DataFrame = {
    val h = if (useDHash) imageDHash(col(blobCol)) else imageAHash(col(blobCol))
    hammingPairs(df.select(col(idCol).as("id"), h.as("sh")), maxHamming, maxBucket)
  }

  /**
   * Image near-dup REMOVAL: keep the min-id image of every transitive
   * perceptual-hash cluster, same cluster-then-anti-join shape as
   * [[dropNearDuplicates]]. Undecodable blobs always survive (no hash ⇒
   * no edges). Edges come from [[hammingEdges]] (star per identical-hash
   * group + one edge per close hash pair), so a corpus where most
   * duplicates are pixel-identical — the common case — feeds connected
   * components O(n) edges, never a clique.
   */
  def dropNearDuplicateImages(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      maxHamming: Int = 3): DataFrame = {
    val (edges, cleanup) = hammingEdgesInternal(
      df.select(col(idCol).as("id"), imageAHash(col(blobCol)).as("sh")),
      maxHamming, HammingBucketCap)
    dropByPairs(df, idCol, edges, Nil, cleanup)
  }

  // ---------- containment (asymmetric doc-in-doc) ----------------------

  /**
   * Exact shingle containment C(A→B) = |S(A) ∩ S(B)| / |S(A)| over the
   * distinct word-`shingleN`-shingle sets S — the asymmetric complement of
   * Jaccard resemblance (Broder's resemblance-vs-containment distinction):
   * a short document quoted wholesale inside a much larger one scores
   * C ≈ 1 while its Jaccard stays near |S(A)|/|S(B)| ≈ 0, so
   * resemblance-based near-dup passes ([[minhashPairs]]) never see it.
   *
   * Shape: inverted-index self-join on the 8-byte shingle hash — only
   * (id, hash) pairs shuffle, never text. Join output per shingle is df²,
   * so frequent boilerplate shingles dominate cost at scale;
   * `maxShingleDf` cuts shingles appearing in more than that many
   * documents BEFORE the join (the standard stop-shingle cut: a shingle
   * shared by thousands of documents is boilerplate and carries no
   * containment signal). The cut is DEFAULT-ON at 10⁴ — one boilerplate
   * shingle shared by 10⁶ documents would otherwise emit 10¹² join rows,
   * and no realistic containment signal rides on a shingle that common.
   * Callers who truly want the uncut quadratic measure must say so with
   * an explicit `Int.MaxValue`. The cut applies to BOTH the numerator and
   * |S(A)|, keeping the ratio's meaning "fraction of A's distinctive
   * content found in B"; documents whose every shingle is cut emit no
   * pairs.
   *
   * Returns (id_a, id_b, inter, size_a, size_b, containment): A's content
   * found in B, both directions present (the measure is asymmetric),
   * filtered to containment >= minContainment. The division is a single
   * IEEE double op of two exact counts — engine-portable.
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minContainment: Double = 0.8,
      maxShingleDf: Int = 10000): DataFrame = {
    require(maxShingleDf >= 1, s"maxShingleDf must be >= 1, got $maxShingleDf")
    // shingling is the heavy per-row pass: fan a starved scan out before it
    // (guide §2.5; operator-local per the round-19 verdict, q144 evidence)
    val dfw = Fanout.widen(df, Seq(col(idCol)))
    val sh0 = dfw.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), shingleN)).as("h"))
    val sh = if (maxShingleDf == Int.MaxValue) sh0 else {
      val frequent = sh0.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxShingleDf).select(col("h"))
      sh0.join(frequent, Seq("h"), "left_anti")
    }
    // the distinct-shingle table feeds THREE subtrees (sizes + both sides
    // of the self-join), each of which would otherwise re-shingle the whole
    // corpus text; persist the narrow (id, hash) rows — 16 B/pair, tiny
    // next to text — compute the two aggregates, materialize them
    // (localCheckpoint: sizes is O(docs), inter is the pair set the
    // operator returns anyway), then release the cache so nothing leaks
    // past the call (the removeDuplicateSpans discipline).
    //
    // Executor-loss story (deliberate trade, round-19/20 audit):
    // localCheckpoint blocks are executor-local and NON-fault-tolerant —
    // at cluster scale a lost executor fails the query, and the caller
    // re-runs it from the parquet inputs (correctness preserved, latency
    // hit); in local mode executor loss is process death, so nothing is
    // lost that a persist would have kept. The alternatives are strictly
    // worse on another axis: persist-only materialization cannot be
    // unpersisted after this function returns, so the FULL pre-filter pair
    // set would sit in the CacheManager (never GC-reclaimed) until session
    // end, while localCheckpoint blocks are ContextCleaner-tracked and
    // freed when the result frame is dropped; a reliable checkpoint writes
    // the pair set to the checkpoint dir and Spark only deletes those
    // files under cleanCheckpoints + GC, leaking disk instead. Query-level
    // retry is the recovery path, as it is for every lineage-truncating
    // materialization in this engine.
    val shP = sh.persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = shP.groupBy(col("id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(eager = true)
    val inter = shP.as("a").join(shP.as("b"),
        col("a.h") === col("b.h") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .localCheckpoint(eager = true)
    shP.unpersist(blocking = false)
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("size_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("size_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("size_a"), col("size_b"),
        (col("inter").cast("double") / col("size_a").cast("double")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /**
   * Drop documents mostly contained in a LARGER document: for each
   * containment pair A→B with C(A→B) >= minContainment, A is dropped iff
   * B is strictly greater under the (distinct-shingle-count, id desc)
   * total order. Orienting every drop along a strict total order makes
   * the relation acyclic, so the order-maximal member of any
   * mutual-containment family always survives (equal shingle sets keep
   * the min id — consistent with the near-dup survivors elsewhere).
   */
  def dropContained(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      minContainment: Double = 0.9,
      maxShingleDf: Int = 10000): DataFrame = {
    val losers =
      containmentPairs(df, idCol, textCol, shingleN, minContainment, maxShingleDf)
        .filter(col("size_b") > col("size_a") ||
          (col("size_b") === col("size_a") && col("id_b") < col("id_a")))
        .select(col("id_a").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster-then-anti-join collapse shared by every near-dup dropper.
   *
   *  The edge list is persisted and read ONCE by a bounded collect (at most
   *  the edge budget + 1 edges reach the driver). When it fits, one driver
   *  union-find labels every touched vertex with its component's min id,
   *  and those labels go to the final anti-join as a broadcast local
   *  relation — no touched-vertex distinct, no label checkpoint, no further
   *  job over the edges. Above the budget, min-label propagation runs over
   *  the touched vertices exactly as in [[connectedComponents]]. Either
   *  way the edge cache — and, via `afterLabels`, any upstream signature
   *  caches the miner registered — is dropped once the labels exist, since
   *  nothing downstream reads them again.
   *
   *  Survivor selection: with `keepBy` empty, each connected component
   *  keeps its MIN-id document (the historical contract every closed-form
   *  oracle relies on). A non-empty `keepBy` ranks each component by
   *  those expressions (evaluated against `df`'s columns) with the id as
   *  the final tie-break — the RefinedWeb-style "keep the best version"
   *  policy (longest, highest quality score, preferred source) instead of
   *  an arbitrary id accident. The ranking window partitions by cluster
   *  label — per-component work, never a global sort; only (id, cluster,
   *  ordering-attrs) rows move, never text. */
  private[operators] def dropByPairs(
      df: DataFrame, idCol: String, pairsDf: DataFrame,
      keepBy: Seq[Column] = Nil,
      afterLabels: () => Unit = () => ()): DataFrame = {
    // MEMORY_AND_DISK keeps lineage for executor-loss recovery (edge lists
    // are tiny next to the corpus — a few bytes per near-dup pair); the
    // cache only pays off on the distributed branch, which reads the edges
    // once per propagation round
    val pairs = pairsDf.select(col("id_a"), col("id_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val labels = edgesUpTo(pairs, dropEdgeThreshold.value) match {
      case Some(edges) =>
        broadcast(localLabels(df.sparkSession, edges, pairs.schema.head.dataType))
      case None =>
        val touched = pairs.select(col("id_a").as("id"))
          .union(pairs.select(col("id_b").as("id"))).distinct()
        propagateLabels(touched,
          pairs.select(col("id_a").as("src"), col("id_b").as("dst")), maxIter = 10)
    }
    pairs.unpersist(blocking = false)
    afterLabels()
    val losers =
      if (keepBy.isEmpty)
        labels.filter(col("cluster") =!= col("id")).select(col("id").as(idCol))
      else {
        // internal names: `df` may itself hold an `id` or `cluster` column
        val named = labels.select(col("id").as("__graft_dd_id"), col("cluster").as("__graft_dd_cluster"))
        val ranked = df.join(named, df(idCol) === col("__graft_dd_id"))
          .withColumn("__graft_dd_rank", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__graft_dd_cluster"))
              .orderBy(keepBy :+ col("__graft_dd_id").asc: _*)))
        ranked.filter(col("__graft_dd_rank") > 1).select(col("__graft_dd_id").as(idCol))
      }
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---------- incremental dedup against an existing corpus --------------

  /**
   * Exact incremental dedup: drop new rows whose content fingerprint already
   * exists in an ingested corpus. The corpus side collapses to its DISTINCT
   * fingerprint set (16 B/row, map-side combined) before the anti-join, so
   * corpus text is read once and never shuffled; the new batch moves through
   * one anti-join that broadcasts whenever the corpus fingerprint set fits
   * (typical when deduping a daily increment against a snapshot digest).
   */
  def dropExactAgainstCorpus(
      newDocs: DataFrame,
      corpus: DataFrame,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "incremental exact dedup needs at least one content column")
    val fp = contentFingerprint(cols)
    newDocs
      .join(corpus.select(fp.as("__graft_fp")).distinct(),
        fp === col("__graft_fp"), "left_anti")
  }

  /**
   * [[dropExactAgainstCorpus]] with a Bloom-filter prefilter — the
   * steady-state shape when the corpus fingerprint set is too large to
   * broadcast and the batch is small: most batch rows are genuinely new,
   * and proving that should not cost a shuffle against a billion-row set.
   *
   *  1. the corpus fingerprints aggregate into ONE compact sketch
   *     ([[Bloom.build]] — map-side combined, ~1 B/doc at the default
   *     10 bits/item, collected once to the driver);
   *  2. batch rows the sketch clears (`mightContain = false` — NO false
   *     negatives) are exactly new and skip the join entirely;
   *  3. only the "might" rows — true matches plus the ≈0.9% false
   *     positives — take the exact fingerprint anti-join, so the join's
   *     probe side shrinks from |batch| to |dupes| + ε.
   *
   * Results are EXACTLY [[dropExactAgainstCorpus]]'s (the q132 oracle is
   * the q113 oracle); the sketch only re-routes work. `expectedCorpusRows`
   * sizes the sketch — pass the known corpus cardinality in production
   * (a count is one extra corpus action otherwise).
   */
  def dropExactAgainstCorpusBloom(
      newDocs: DataFrame,
      corpus: DataFrame,
      cols: Seq[String],
      expectedCorpusRows: Long = -1L,
      bitsPerItem: Int = 10): DataFrame = {
    require(cols.nonEmpty, "incremental exact dedup needs at least one content column")
    val fp = contentFingerprint(cols)
    val items = if (expectedCorpusRows > 0) expectedCorpusRows
      else math.max(corpus.count(), 1L)
    val sketch = Bloom.build(corpus.toDF(), fp, items, bitsPerItem)
    val mc = Bloom.mightContain(sketch, fp)
    newDocs.filter(!mc)
      .unionByName(dropExactAgainstCorpus(newDocs.filter(mc), corpus, cols))
  }

  /** Length-prefixed content fingerprint shared by [[exact]] and the
   *  incremental variants — ONE definition so the two paths can never
   *  diverge on what counts as "the same content". Single column:
   *  fingerprint the raw value. Multi-column: length-prefix each value so
   *  column boundaries are unambiguous — a separator-joined concat would
   *  merge ("x y","z") with ("x","y z"), silently deleting distinct rows
   *  as duplicates; nulls get an explicit -1 length marker. */
  private def contentFingerprint(cols: Seq[String]): Column =
    if (cols.size == 1) md5(col(cols.head).cast("string"))
    else md5(concat(cols.flatMap { c =>
      val v = col(c).cast("string")
      Seq(coalesce(length(v), lit(-1)).cast("string"), lit(":"),
        coalesce(v, lit("")), lit(";"))
    }: _*))

  /**
   * Incremental NEAR-dup dedup: drop rows of `newDocs` that near-duplicate
   * any document of an already-ingested `corpus`, WITHOUT re-clustering the
   * corpus — the daily-increment shape of every production training-data
   * pipeline (the snapshot was deduped when it was built; only new-vs-old
   * collisions matter, and new-vs-new dedup is a separate
   * [[dropNearDuplicates]] pass over the much smaller batch).
   *
   * Scale shape, in corpus-size-dominated terms:
   *  - The corpus contributes ONLY (id, band, band_hash) rows — 24 B × bands
   *    per document, computed in one codegen pass over the text. In a real
   *    deployment this signature table is persisted next to the snapshot and
   *    maintained incrementally, making the per-batch cost independent of
   *    corpus text size; here it is derived on the fly from the same
   *    expressions, so the contract (band keys, hash family, permutation
   *    count) is pinned by this method either way.
   *  - The band join is new-bands ⋈ corpus-bands on (band, band_hash): the
   *    small side is the increment, so Spark broadcasts it when it fits and
   *    the corpus band table streams through without a shuffle; candidates
   *    `distinct()` on (new id, corpus id) BEFORE any signature rejoin, the
   *    same collision-collapse discipline as [[candidatePairs]].
   *  - Verification joins signatures back to the distinct candidate list
   *    only; the matched-new-id set is bounded by |increment| and drives one
   *    broadcast anti-join. Corpus rows are never dropped, moved, or
   *    re-labeled.
   */
  def dropAgainstCorpus(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame =
    dropAgainstSignatures(newDocs,
      corpusSignatures(corpus, idCol, textCol, shingleN, numPerms),
      idCol, textCol, shingleN, numPerms, bands, minEstJaccard)

  /**
   * The corpus signature table for [[dropAgainstSignatures]]: (id, sig)
   * with the MinHash signature of each document. In a real incremental
   * deployment this is computed once when the snapshot is built, persisted
   * next to it (parquet — a few hundred bytes/doc), appended to as
   * increments land, and handed to every subsequent [[dropAgainstSignatures]]
   * call — making per-batch dedup cost independent of corpus TEXT size.
   * The (shingleN, numPerms) used to build and to probe must match; both
   * ends of the contract live in this file.
   */
  def corpusSignatures(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64): DataFrame =
    signatures(corpus, idCol, textCol, shingleN, numPerms)

  /** [[dropAgainstCorpus]] against a precomputed (persisted) corpus
   *  signature table — the steady-state incremental path. */
  def dropAgainstSignatures(
      newDocs: DataFrame,
      corpusSigs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    require(numPerms % bands == 0,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val rowsPerBand = numPerms / bands
    // both signature tables feed TWO subtrees (band explode + verification
    // rejoin); persist them so the text is scanned and the O(perms×shingles)
    // minhash computed ONCE per side — the signature table (id + sig,
    // ~25× smaller than text) is exactly the artifact a production
    // deployment keeps on disk anyway (see corpusSignatures)
    val sigsNew = signatures(newDocs, idCol, textCol, shingleN, numPerms)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigsOld = corpusSigs.select(col("id"), col("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def banded(sigs: DataFrame): DataFrame = sigs.select(col("id"),
      posexplode(graft.functions.BandHashes(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "band_hash")))
    val cand = banded(sigsNew).as("n")
      .join(banded(sigsOld).as("c"),
        col("n.band") === col("c.band") && col("n.band_hash") === col("c.band_hash"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
    // matched ids are bounded by |increment|: materialize them NOW
    // (eager localCheckpoint) so both signature caches — the corpus one
    // scales with the snapshot — release at return instead of staying
    // pinned for the session (same discipline as takeByBudget)
    val matched = cand
      .join(sigsNew.select(col("id").as("new_id"), col("sig").as("sig_n")), "new_id")
      .join(sigsOld.select(col("id").as("corpus_id"), col("sig").as("sig_c")), "corpus_id")
      .filter(
        aggregate(zip_with(col("sig_n"), col("sig_c"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numPerms >= minEstJaccard)
      .select(col("new_id").as(idCol)).distinct()
      .localCheckpoint(eager = true)
    sigsNew.unpersist(blocking = false)
    sigsOld.unpersist(blocking = false)
    newDocs.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * Substring-overlap pairs via winnowing fingerprints
   * ([[TextAnalysis.winnowingFingerprint]]): candidates share at least one
   * selected window-minimum hash (the winnowing coverage guarantee: any
   * sufficiently long shared substring forces a shared selection), scored
   * by CONTAINMENT — |A∩B| / min(|A|,|B|) — so a short document quoted
   * wholesale inside a long one scores ~1.0 where symmetric Jaccard
   * (MinHash, [[minhashPairs]]) would dilute it toward 0. The
   * contained-passage detector of curation pipelines.
   *
   * Same shuffle discipline as [[candidatePairs]]: the explode carries
   * (id, 8-byte hash) only, candidates `distinct()` before the
   * fingerprint rejoin, and the pair list — output-bounded — is
   * materialized so the fingerprint cache releases at return.
   *
   * `minFingerprint` excludes documents whose fingerprint has fewer
   * selected hashes (very short docs collapse to ONE hash, so a single
   * chance 32-bit collision would score containment exactly 1.0 — at
   * crawl scale that manufactures thousands of perfect-score false
   * pairs). Containment over a tiny hash set is not evidence of a shared
   * passage; route short docs through exact/MinHash dedup instead.
   */
  def winnowingOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minContainment: Double = 0.5,
      minFingerprint: Int = 2): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      TextAnalysis.winnowingFingerprint(col(textCol), k, w).as("fp"))
      .filter(size(col("fp")) >= minFingerprint)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keyed = fps.select(col("id"), explode(col("fp")).as("wh"))
    val cand = keyed.as("a").join(keyed.as("b"),
        col("a.wh") === col("b.wh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val pairs = cand
      .join(fps.select(col("id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("fp_a"), col("fp_b"))).cast("double") /
          least(size(col("fp_a")), size(col("fp_b")))).as("containment"))
      .filter(col("containment") >= minContainment)
      .localCheckpoint(eager = true)
    fps.unpersist(blocking = false)
    pairs
  }

  // ---------- line-level corpus dedup (C4-style boilerplate removal) ----

  /**
   * Global line-frequency pruning — the C4/RefinedWeb "remove lines that
   * repeat across the corpus" pass: any line occurring in at least `minDocs`
   * DISTINCT documents (navigation chrome, cookie banners, boilerplate
   * headers/footers) is deleted from every document; remaining lines keep
   * their original order and separator.
   *
   * 100 TB shape — the corpus text never shuffles and never re-groups on
   * the common path:
   *  1. the document-frequency aggregation carries ONLY xxhash64(line)
   *     (8 B/row after an in-row `array_distinct`, map-side combined);
   *     the frequent set is read ONCE by a bounded collect — at most
   *     `maxBroadcastLines + 1` hashes reach the driver — before any plan
   *     touches the corpus;
   *  2. at or below `maxBroadcastLines` (the common case — boilerplate is
   *     bounded by totalLines/minDocs and small by definition) the
   *     collected hashes become ONE broadcast row of a local relation, and
   *     the rewrite is one per-row [[graft.functions.DropHashedLines]]
   *     pass that probes a hash set built once per task from that row —
   *     zero exchanges on the corpus, order preserved for free because
   *     documents are never exploded;
   *  3. ABOVE the threshold (adversarial data / very low `minDocs`, where
   *     the single-row array would be a multi-GB driver+executor bomb)
   *     the frequent set is materialized (localCheckpoint) and the guard
   *     switches to a distributed membership join: each
   *     document's DISTINCT line hashes (8 B/row, never the text) join
   *     the frequent set, regroup to a per-document hit array — bounded
   *     by that document's own line count — and rejoin the corpus by id.
   *     Costs one corpus shuffle; survives a frequent set of any size.
   *
   * Membership is by 64-bit hash: a non-boilerplate line is misdropped only
   * on an xxhash64 collision with a frequent line (P ≈ |frequent| · 2⁻⁶⁴ per
   * distinct line — the same accepted-risk class as the MinHash family).
   */
  def dropFrequentLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long,
      sep: String = "\n",
      maxBroadcastLines: Long = 10L * 1000 * 1000): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(maxBroadcastLines >= 0,
      s"maxBroadcastLines must be non-negative, got $maxBroadcastLines")
    val lineArr = split(col(textCol), java.util.regex.Pattern.quote(sep))
    // hashes only — 8 B/row
    val frequentHashes = df
      .select(explode(array_distinct(transform(lineArr, l => xxhash64(l)))).as("lh"))
      .groupBy(col("lh")).agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") >= minDocs)
      .select(col("lh"))
    collectUpTo(frequentHashes, maxBroadcastLines) match {
      case Some(hashes) =>
        import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
        val frequent = df.sparkSession.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(hashes.map(_.getLong(0)))),
          StructType(Seq(StructField("__graft_freq_lines", ArrayType(LongType, containsNull = false)))))
        df.crossJoin(broadcast(frequent))
          .withColumn(s"${textCol}_clean",
            graft.functions.DropHashedLines(col(textCol), col("__graft_freq_lines"), sep))
          .drop("__graft_freq_lines")
      case None =>
        // localCheckpoint cuts lineage so the membership plan reads one
        // materialization of the (large) frequent set
        val freq = frequentHashes.localCheckpoint(eager = true)
        val hits = df
          .select(col(idCol).as("__graft_fl_id"),
            explode(array_distinct(transform(lineArr, l => xxhash64(l)))).as("lh"))
          .join(freq, "lh")
          .groupBy(col("__graft_fl_id"))
          .agg(collect_set(col("lh")).as("__graft_doc_freq"))
        df.join(hits, df(idCol) === hits("__graft_fl_id"), "left")
          .withColumn(s"${textCol}_clean",
            when(col("__graft_doc_freq").isNull, col(textCol))
              .otherwise(array_join(
                filter(lineArr,
                  l => !array_contains(col("__graft_doc_freq"), xxhash64(l))),
                sep)))
          .drop("__graft_fl_id", "__graft_doc_freq")
    }
  }

  // ---------- duplicated-span removal (exact-substring dedup) -----------

  /**
   * Exact duplicated-SPAN removal — the "deduplicate inside documents"
   * family (Lee et al. 2022, "Deduplicating Training Data Makes Language
   * Models Better"): any run of `k` consecutive word tokens whose k-gram
   * occurs at least `minCount` times ACROSS THE WHOLE CORPUS (counting
   * every occurrence, intra-document repeats included) is deleted from
   * every document; uncovered tokens keep their order and single-space
   * joining. Document-level dedup ([[exact]], [[dropNearDuplicates]])
   * cannot touch this case: two long distinct articles quoting the same
   * boilerplate paragraph both survive, but the paragraph itself should
   * appear in the training set once per genuinely novel context, not
   * thousands of times.
   *
   * Distributed shape — the suffix-array construction of the paper is
   * replaced by hash counting, the same trade [[dropFrequentLines]] makes
   * for lines:
   *  1. each document emits its k-gram XXHASH64 values with positions
   *     (12 B/row, never gram text) — one codegen pass over the corpus;
   *  2. one hash aggregation counts occurrences (map-side combined);
   *     frequent hashes (`count >= minCount`) survive — a set bounded by
   *     corpus repetition, not corpus size;
   *  3. gram rows rejoin the frequent set (broadcast when it fits) and
   *     regroup per document into a start-position array — bounded by the
   *     document's own length. With `bloomPrefilter` set (the 100 TB
   *     mostly-unique-corpus regime, where the frequent set outgrows a
   *     broadcast and the rejoin would sort-merge-shuffle EVERY gram row):
   *     the frequent set is materialized and counted first — empty
   *     short-circuits to a pass-through rewrite — and a Bloom sketch of
   *     it ([[Bloom]], no-false-negative contract) clears non-frequent
   *     gram rows map-side on the cached gram table before the join
   *     shuffle; false positives are removed by the exact join, so output
   *     is hash-identical (spec-gated). Off by default: when the frequent
   *     set broadcasts anyway, the sketch's extra actions only add
   *     latency;
   *  4. the rewrite is a per-row expression over (tokens, starts): covered
   *     indices expand as `[s, s+k-1]` intervals, kept tokens re-join.
   *     The corpus text itself shuffles ONCE (the id-rejoin of step 4);
   *     at 100 TB pre-bucketing the corpus by id makes that a local join.
   *
   * Membership is by 64-bit hash: a span is misdropped only on an xxhash64
   * collision with a frequent gram (P ≈ |frequent| · 2⁻⁶⁴ per distinct
   * gram — the accepted-risk class of the MinHash family). Documents
   * shorter than `k` tokens pass through untouched.
   */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 10,
      minCount: Long = 2L,
      sep: String = " ",
      outCol: String = "text_clean",
      bloomPrefilter: Boolean = false): DataFrame = {
    require(k >= 2, s"span gram size k must be >= 2, got $k")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    // heavy per-row work (gram explode + the covered-token rewrite) on a
    // possibly single-row-group scan: fan out here, at the operator whose
    // cost justifies the exchange (guide §2.5; round-19 driver evidence
    // q133 4.2x) — never at the shared corpus accessor
    val dfw = Fanout.widen(df, Seq(col(idCol)))
    val toks = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val n = size(toks)
    val gramStructs = when(n >= k,
      transform(sequence(lit(1), n - (k - 1)),
        i => struct(i.as("pos"),
          xxhash64(array_join(slice(toks, i, lit(k)), sep)).as("gh"))))
      .otherwise(array().cast("array<struct<pos:int,gh:bigint>>"))
    // the gram table feeds TWO subtrees (the count and the rejoin): persist
    // so the corpus gram pass runs once, then materialize the hit list —
    // bounded by documents-with-covered-spans, id + int positions only —
    // eagerly so the cache releases before the corpus-wide rewrite runs
    val grams = dfw.select(col(idCol).as("__graft_sp_id"),
        explode(gramStructs).as("g"))
      .select(col("__graft_sp_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val frequent0 = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount)
      .select(col("gh"))
    val probed =
      if (!bloomPrefilter) grams.join(frequent0, "gh")
      else {
        val frequent = frequent0.localCheckpoint(eager = true)
        val nFrequent = frequent.count()
        if (nFrequent == 0L) {
          // fully-unique corpus: nothing to remove, and no reason to touch
          // the gram table again
          grams.unpersist(blocking = false)
          return df.withColumn(outCol, col(textCol))
        }
        // 10 bits/item ≈ 0.9% FP; Spark's maxNumBits conf clamps extreme
        // sets — a clamp only raises FP, the exact join keeps semantics
        val sketch = Bloom.build(frequent, col("gh"), nFrequent)
        grams.filter(Bloom.mightContain(sketch, col("gh"))).join(frequent, "gh")
      }
    val hits = probed
      .groupBy(col("__graft_sp_id"))
      .agg(collect_set(col("pos")).as("__graft_sp_starts"))
      .localCheckpoint(eager = true)
    grams.unpersist(blocking = false)
    val joined = dfw.join(hits, dfw(idCol) === hits("__graft_sp_id"), "left")
    val covered = array_distinct(flatten(
      transform(col("__graft_sp_starts"), s => sequence(s, s + (k - 1)))))
    val kept = transform(
      filter(sequence(lit(1), n), i => !array_contains(covered, i)),
      i => element_at(toks, i))
    joined
      .withColumn(outCol,
        when(col("__graft_sp_starts").isNull, col(textCol))
          .otherwise(array_join(kept, sep)))
      .drop("__graft_sp_id", "__graft_sp_starts")
  }

  // ---------- SimHash ----------

  /**
   * 64-bit SimHash over word tokens: bit j of the signature is the sign of
   * Σ_tokens (±1 depending on bit j of the token hash). Near-dups differ in
   * few bits (Hamming distance). Native one-pass codegen expression
   * ([[graft.functions.SimHash64]], bit-identical to the higher-order
   * formulation it replaced — q55 at sf0.1: 8.4 s → sub-second).
   */
  def simhash64(text: Column): Column = graft.functions.SimHash64(text)

  def withSimhash(df: DataFrame, textCol: String, outCol: String = "simhash"): DataFrame =
    df.withColumn(outCol, simhash64(col(textCol)))

  /**
   * SimHash near-dup pairs by the pigeonhole trick: a pair within Hamming
   * distance d must agree EXACTLY on at least one of d+1 disjoint bit
   * blocks — so block b of the 64-bit signature is the LSH bucket key,
   * candidates collide on (block index, block value), and the exact
   * `bit_count(XOR) ≤ maxHamming` check runs only on distinct candidates.
   * Same shuffle discipline as [[candidatePairs]]: 16 bytes/exploded row,
   * distinct before verification.
   */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = HammingBucketCap): DataFrame =
    hammingPairs(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh")),
      maxHamming, maxBucket)

  /**
   * Generic 64-bit-signature Hamming-LSH pair miner over a prepared
   * (id, sh: long) frame — the pigeonhole core shared by [[simhashPairs]]
   * (text) and [[imageHashPairs]] (perceptual image hashes). The block
   * cover guarantees every pair within `maxHamming` collides on at least
   * one bucket and the `bit_count(XOR)` verify is precise, so results are
   * exact up to the [[HammingBucketCap]] stop-bucket cut (disable with
   * `maxBucket = Int.MaxValue` for the uncut guarantee).
   */
  /** The d+1 disjoint pigeonhole block keys of a 64-bit signature: the
   *  last block absorbs the remainder bits so the blocks cover all 64
   *  (otherwise a differing uncovered bit voids the pigeonhole
   *  guarantee). The ONE spelling both Hamming miners share — the cover
   *  rule is correctness-critical and must not diverge. */
  private def hammingBlockKeys(sh: Column, maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 1 && maxHamming <= 31, s"maxHamming out of range: $maxHamming")
    val blocks = maxHamming + 1
    val bits = 64 / blocks
    (0 until blocks).map { b =>
      val width = if (b == blocks - 1) 64 - b * bits else bits
      val shifted = call_function("shiftrightunsigned", sh, lit(b * bits))
      if (width >= 64) shifted else shifted.bitwiseAND(lit((1L << width) - 1))
    }
  }

  /**
   * Default cap on DISTINCT signature values per pigeonhole bucket. The
   * mining self-join emits up to k²/2 candidates for a bucket holding k
   * distinct hash values, so one overstuffed bucket (a block value shared
   * by a huge swath of the hash space) can dominate the whole mining pass.
   * Buckets above the cap are dropped from NEAR-dup mining — like
   * [[containmentPairs]]' default-on `maxShingleDf` stop-shingle cut —
   * costing recall only for hash values colliding inside a bucket that
   * common. Hamming-0 duplicates (the overwhelmingly common image-dup
   * case: every blank thumbnail hashes to the SAME value) NEVER pass
   * through mining — identical values pre-group before the bucket join —
   * so the cap cannot lose an exact-signature twin. `Int.MaxValue`
   * disables the cap.
   */
  val HammingBucketCap: Int = 10000

  /** Close DISTINCT-hash pairs (sh_a < sh_b signed, 1 ≤ hamming ≤
   *  maxHamming): the pigeonhole bucket join runs over distinct signature
   *  VALUES only — duplicate multiplicity never amplifies the mining
   *  join — with the [[HammingBucketCap]] frequency cut applied first.
   *  The verify reads the sh columns carried through the join (no
   *  re-join against the source, so an expensive signature projection
   *  upstream is never re-evaluated here). */
  /** The ONE spelling of the stop-bucket cut (symmetric and bipartite
   *  miners must not diverge): drop (block, block_val) buckets holding
   *  more than `maxBucket` distinct hashes from `keyed`. */
  private def capBuckets(keyed: DataFrame, maxBucket: Int): DataFrame = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    if (maxBucket == Int.MaxValue) keyed else {
      val hot = keyed.groupBy(col("block"), col("block_val"))
        .agg(count(lit(1)).as("__bf")).filter(col("__bf") > maxBucket)
        .select(col("block"), col("block_val"))
      keyed.join(hot, Seq("block", "block_val"), "left_anti")
    }
  }

  private def closeHashPairs(
      hashes: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val mined = capBuckets(hashes.select(col("sh"),
      posexplode(array(hammingBlockKeys(col("sh"), maxHamming): _*))
        .as(Seq("block", "block_val"))), maxBucket)
    mined.as("a").join(mined.as("b"),
        col("a.block") === col("b.block") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.sh") < col("b.sh"))
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .select(col("sh_a"), col("sh_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** (id, sh) projection of a caller-shaped signature frame, persisted so
   *  the signature expression (often a full blob decode) evaluates ONCE
   *  no matter how many joins reference it downstream. 16 bytes/row —
   *  negligible next to the corpus; MEMORY_AND_DISK like the edge-list
   *  persists in [[dropByPairs]]/[[connectedComponents]]. The droppers
   *  unpersist these once their labels materialize; the raw pair miners
   *  ([[hammingPairs]]/[[hammingPairsAgainst]]) return lazy frames whose
   *  cache lives until the caller unpersists or the session ends — use
   *  [[hammingPairsReleased]]/[[hammingPairsAgainstReleased]] for
   *  deterministic release in long-lived sessions. */
  private def persistedSigs(sigsIn: DataFrame): DataFrame =
    sigsIn.select(col("id"), col("sh")).filter(col("sh").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)

  def hammingPairs(sigsIn: DataFrame, maxHamming: Int,
      maxBucket: Int = HammingBucketCap): DataFrame =
    hammingPairsOn(persistedSigs(sigsIn), maxHamming, maxBucket)

  /** [[hammingPairs]] with DETERMINISTIC cache release: the pair list is
   *  materialized (eager localCheckpoint — blocks are GC-cleaned with
   *  the returned frame) and the signature cache unpersisted before
   *  returning. The lazy [[hammingPairs]] necessarily holds its cache
   *  until the session ends or the caller unpersists; a long-lived
   *  session mining many corpora should use this variant so 16-byte/row
   *  signature caches don't accumulate in the CacheManager. */
  def hammingPairsReleased(sigsIn: DataFrame, maxHamming: Int,
      maxBucket: Int = HammingBucketCap): DataFrame = {
    val sigs = persistedSigs(sigsIn)
    try hammingPairsOn(sigs, maxHamming, maxBucket).localCheckpoint(eager = true)
    finally sigs.unpersist(blocking = false)
  }

  private def hammingPairsOn(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int): DataFrame = {
    // Identical signatures pre-group: only distinct hash VALUES enter the
    // pigeonhole mining join, so a degenerate value held by n documents
    // (n blank images) contributes ONE mining row, not n·(d+1) exploded
    // rows and C(n,2) candidate pairs. The Hamming-0 clique those twins
    // owe the pair contract comes from a plain equi-self-join on sh —
    // exactly the output rows, zero block-key amplification, no distinct.
    val close = closeHashPairs(sigs.select(col("sh")).distinct(), maxHamming, maxBucket)
    val cross = close
      .join(sigs.select(col("id").as("__ida"), col("sh").as("sh_a")), "sh_a")
      .join(sigs.select(col("id").as("__idb"), col("sh").as("sh_b")), "sh_b")
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("hamming"))
    val twins = sigs.as("a").join(sigs.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        lit(0).cast("int").as("hamming"))
    twins.unionByName(cross)
  }

  /**
   * Connectivity-equivalent edge set for the Hamming DROPPERS
   * ([[dropBySimhash]], [[dropNearDuplicateImages]]): each group of
   * IDENTICAL signatures contributes a STAR (min-id representative →
   * member) instead of its C(n,2) clique, and each close distinct-hash
   * pair contributes ONE representative-to-representative edge. Connected
   * components — hence survivors — are identical to running
   * [[connectedComponents]] over [[hammingPairs]]' full pair list, but
   * the edge count is O(n + close hash pairs) instead of quadratic in
   * duplicate multiplicity: a crawl with 10⁶ blank thumbnails emits 10⁶−1
   * star edges, not 5·10¹¹ pairs.
   */
  private[operators] def hammingEdges(sigsIn: DataFrame, maxHamming: Int,
      maxBucket: Int = HammingBucketCap): DataFrame =
    hammingEdgesInternal(sigsIn, maxHamming, maxBucket)._1

  /** [[hammingEdges]] plus a cleanup hook that unpersists the signature
   *  and group caches — for callers ([[dropByPairs]]) that materialize
   *  the edges and can prove the caches are dead. */
  private def hammingEdgesInternal(sigsIn: DataFrame, maxHamming: Int,
      maxBucket: Int): (DataFrame, () => Unit) = {
    val sigs = persistedSigs(sigsIn)
    val groups = sigs.groupBy(col("sh")).agg(min(col("id")).as("rep"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val close = closeHashPairs(groups.select(col("sh")), maxHamming, maxBucket)
    val crossReps = close
      .join(groups.select(col("sh").as("sh_a"), col("rep").as("__ra")), "sh_a")
      .join(groups.select(col("sh").as("sh_b"), col("rep").as("__rb")), "sh_b")
      .select(least(col("__ra"), col("__rb")).as("id_a"),
        greatest(col("__ra"), col("__rb")).as("id_b"))
    val star = sigs.join(groups, Seq("sh"))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    (star.unionByName(crossReps), () => {
      groups.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
      ()
    })
  }

  /**
   * BIPARTITE Hamming-LSH pairs: (new id, corpus id) within `maxHamming`,
   * mined by the same pigeonhole block buckets but joined ACROSS the two
   * frames — the incremental-ingest shape ([[dropAgainstSignatures]] for
   * 64-bit perceptual/simhash signatures): the corpus side can be a
   * PERSISTED signature table, so a day's increment dedups against 100 TB
   * of history by shuffling only (id, 8-byte hash) pairs of both sides,
   * never any payload, and never the corpus×corpus self-join.
   */
  def hammingPairsAgainst(
      newSigs: DataFrame, corpusSigs: DataFrame, maxHamming: Int,
      maxBucket: Int = HammingBucketCap): DataFrame =
    hammingPairsAgainstOn(persistedSigs(newSigs), persistedSigs(corpusSigs),
      maxHamming, maxBucket)

  /** [[hammingPairsAgainst]] with DETERMINISTIC cache release — the
   *  bipartite twin of [[hammingPairsReleased]]: both signature caches
   *  unpersist once the pair list materializes. The per-ingest-batch
   *  shape ([[dropAgainstSignatures]]' discipline) for raw pair mining. */
  def hammingPairsAgainstReleased(
      newSigs: DataFrame, corpusSigs: DataFrame, maxHamming: Int,
      maxBucket: Int = HammingBucketCap): DataFrame = {
    val a = persistedSigs(newSigs)
    val b = persistedSigs(corpusSigs)
    try hammingPairsAgainstOn(a, b, maxHamming, maxBucket)
      .localCheckpoint(eager = true)
    finally {
      a.unpersist(blocking = false)
      b.unpersist(blocking = false)
    }
  }

  private def hammingPairsAgainstOn(
      a: DataFrame, b: DataFrame, maxHamming: Int, maxBucket: Int): DataFrame = {
    val closeH = closeHashesAgainst(
      a.select(col("sh")).distinct(), b.select(col("sh")).distinct(),
      maxHamming, maxBucket)
    closeH
      .join(a.select(col("id").as("id_a"), col("sh").as("sh_a")), "sh_a")
      .join(b.select(col("id").as("id_b"), col("sh").as("sh_b")), "sh_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Bipartite close DISTINCT-hash pairs (sh_a from the new side, sh_b
   *  from the corpus side, 0 ≤ hamming ≤ maxHamming): equal values match
   *  by a plain equi-join (hamming 0, never through the bucket join);
   *  near values mine through the pigeonhole buckets over distinct
   *  hashes, each SIDE's bucket population capped at `maxBucket` (bucket
   *  cost ≤ maxBucket² instead of |A|·|B| for a degenerate block value). */
  private def closeHashesAgainst(
      newHashes: DataFrame, corpusHashes: DataFrame,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    def keyed(hashes: DataFrame): DataFrame =
      capBuckets(hashes.select(col("sh"),
        posexplode(array(hammingBlockKeys(col("sh"), maxHamming): _*))
          .as(Seq("block", "block_val"))), maxBucket)
    val exact = newHashes.join(corpusHashes.select(col("sh")), Seq("sh"), "left_semi")
      .select(col("sh").as("sh_a"), col("sh").as("sh_b"),
        lit(0).cast("int").as("hamming"))
    val near = keyed(newHashes).as("a").join(keyed(corpusHashes).as("b"),
        col("a.block") === col("b.block") &&
          col("a.block_val") === col("b.block_val") &&
          col("a.sh") =!= col("b.sh"))
      .select(col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .select(col("sh_a"), col("sh_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    exact.unionByName(near)
  }

  /**
   * Incremental IMAGE near-dup: drop incoming images whose perceptual
   * hash lands within `maxHamming` of any corpus signature. `corpusSigs`
   * is an (id, sh) frame — typically `withColumn("sh", imageAHash(blob))`
   * persisted once and appended per ingest, so re-ingests never re-decode
   * history. Survivors return with their full rows; undecodable incoming
   * blobs always survive (null hash ⇒ no candidates).
   */
  def dropImagesAgainstSignatures(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      corpusSigs: DataFrame,
      maxHamming: Int = 3,
      useDHash: Boolean = false): DataFrame = {
    // BOTH ends of the signature contract are pinned here: probe with the
    // SAME hash family the corpus was persisted with (`useDHash` mirrors
    // [[imageHashPairs]]) — distances across families are meaningless and
    // would drop/keep at random
    val h = if (useDHash) imageDHash(col(blobCol)) else imageAHash(col(blobCol))
    dropAgainstSignatures64(df, idCol, h, corpusSigs, maxHamming)
  }

  /**
   * Incremental AUDIO near-dup: drop incoming audio whose energy-envelope
   * fingerprint ([[graft.functions.AudioAHash]]) lands within
   * `maxHamming` of any corpus signature — the audio twin of
   * [[dropImagesAgainstSignatures]], sharing the same bipartite
   * distinct-hash mining. `corpusSigs` is the persisted (id, sh) frame of
   * ingested history (`withColumn("sh", audioAHash(blob))` persisted
   * once), so re-ingests never re-decode PCM. Undecodable incoming blobs
   * always survive (null fingerprint ⇒ no candidates).
   */
  def dropAudioAgainstSignatures(
      df: DataFrame,
      idCol: String,
      blobCol: String,
      corpusSigs: DataFrame,
      maxHamming: Int = 3): DataFrame =
    dropAgainstSignatures64(df, idCol,
      graft.functions.AudioAHash(col(blobCol)), corpusSigs, maxHamming)

  /**
   * MAINTAINED 64-bit signature table: the persisted artifact behind the
   * incremental image/audio droppers, given the same lifecycle as the
   * MinHash signature state in
   * [[graft.streaming.EventStreams.dedupIngestStream]] — per-increment
   * append, replay tail-scoping, and an id-deduped compaction rewrite
   * via a crash-safe two-phase swap (write `<sigDir>.compact.tmp` with
   * its `_SUCCESS` marker, delete, rename; an interrupted swap is
   * completed or discarded at the next ingest). One blob decode per
   * increment: signatures are computed once into a cache that backs both
   * the drop decision and the append, then released.
   *
   * Returns the increment's survivors (rows whose signature lands within
   * `maxHamming` of any EARLIER batch's persisted signature are dropped —
   * the [[dropImagesAgainstSignatures]] contract); survivors' signatures
   * are appended under `batchId` before returning. Undecodable blobs
   * survive and contribute no signature row.
   *
   * Replay-safe under at-least-once drivers: the corpus is scoped to
   * `batch_id < batchId`, so a RETRIED increment (same `batchId`) never
   * matches the rows its failed attempt appended — it returns the SAME
   * survivors and its re-append only adds exact-duplicate rows, which the
   * next compaction folds. `batchId` must be strictly increasing across
   * DISTINCT increments (reusing an id means "replay"). Compaction keeps
   * distinct `(id, sh)` rows — an id legitimately re-ingested with new
   * content keeps BOTH signatures, so compaction never changes which
   * future documents drop.
   */
  def ingestWithSignatureTable(
      df: DataFrame,
      idCol: String,
      sig: Column,
      sigDir: String,
      batchId: Long,
      maxHamming: Int = 3,
      compactEvery: Int = 0): DataFrame = {
    require(compactEvery >= 0, s"compactEvery must be >= 0, got $compactEvery")
    val spark = df.sparkSession
    val sigPath = new org.apache.hadoop.fs.Path(sigDir)
    val tmpPath = new org.apache.hadoop.fs.Path(sigDir + ".compact.tmp")
    val fs = sigPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SignatureTableSwap.recover(fs, sigPath, tmpPath)
    val newSigs = persistedSigs(df.select(col(idCol).as("id"), sig.as("sh")))
    try {
      // an all-undecodable or empty first increment appends ZERO rows:
      // the dir then exists but holds no parquet parts (schema inference
      // would fail) — treat it as an empty corpus, don't wedge the table
      val hasState = fs.exists(sigPath) &&
        fs.listStatus(sigPath).exists(_.getPath.getName.startsWith("part-"))
      val doomedIds = (
        if (!hasState) df.select(col(idCol)).limit(0)
        else {
          // hash-level doom only needs the distinct corpus hash VALUES,
          // so duplicate state rows (replays) cost nothing here; rows of
          // this batchId itself are EXCLUDED so a replayed increment
          // can't self-match the signatures its failed attempt appended
          val corpusHashes = spark.read.parquet(sigDir)
            .filter(col("batch_id") < batchId)
            .select(col("sh")).filter(col("sh").isNotNull).distinct()
          newSigs.join(doomedHashes64(newSigs, corpusHashes, maxHamming),
              Seq("sh"), "left_semi")
            .select(col("id").as(idCol))
        }
      ).localCheckpoint(eager = true)
      // append survivors' signatures from the SAME cached (id, sh) frame
      // — the one decode of this increment
      newSigs
        .join(doomedIds.select(col(idCol).as("id")), Seq("id"), "left_anti")
        .filter(col("sh").isNotNull)
        .withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).parquet(sigDir)
      if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
        SignatureTableSwap.compact(spark, fs, sigDir, sigPath, tmpPath,
          Seq("id", "sh"))
      df.join(doomedIds, Seq(idCol), "left_anti")
    } finally newSigs.unpersist(blocking = false)
  }

  /** [[ingestWithSignatureTable]] with the IMAGE perceptual hash —
   *  the maintained-table lifecycle for [[dropImagesAgainstSignatures]]'
   *  signature artifact. */
  def ingestImagesIncremental(
      df: DataFrame, idCol: String, blobCol: String, sigDir: String,
      batchId: Long, maxHamming: Int = 3, useDHash: Boolean = false,
      compactEvery: Int = 0): DataFrame = {
    val h = if (useDHash) imageDHash(col(blobCol)) else imageAHash(col(blobCol))
    ingestWithSignatureTable(df, idCol, h, sigDir, batchId, maxHamming, compactEvery)
  }

  /** The ONE spelling of the 64-bit hash-level doom decision, shared by
   *  [[dropAgainstSignatures64]] and [[ingestWithSignatureTable]]: the
   *  distinct incoming hashes within `maxHamming` of any corpus hash.
   *  `corpusHashes` must already be a distinct, non-null `sh` frame. */
  private def doomedHashes64(
      newSigs: DataFrame, corpusHashes: DataFrame, maxHamming: Int): DataFrame =
    closeHashesAgainst(
      newSigs.select(col("sh")).distinct(), corpusHashes,
      maxHamming, HammingBucketCap)
      .select(col("sh_a").as("sh")).distinct()

  /** Shared 64-bit-signature against-corpus dropper: both hash-family
   *  ends pinned by the caller — distances across families are
   *  meaningless and would drop/keep at random. */
  private def dropAgainstSignatures64(
      df: DataFrame,
      idCol: String,
      sig: Column,
      corpusSigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val newSigs = persistedSigs(df.select(col(idCol).as("id"), sig.as("sh")))
    // Doom at the HASH level, not the pair level: the drop only needs "is
    // this hash within maxHamming of ANY corpus hash", so the decision is
    // a distinct-hash × distinct-hash mining pass plus one semi-join —
    // 10⁶ incoming blanks against 10⁶ corpus blanks cost one hash match,
    // not the 10¹² bipartite pair expansion the pair contract would owe.
    // Materialize the doomed id set NOW (tiny: ids of this increment's
    // drops) so the signature cache can be released immediately — the
    // incremental droppers run once per ingest batch, and a persist left
    // registered per batch would grow the CacheManager for the life of
    // the session. localCheckpoint blocks are GC-cleaned with the frame.
    val doomed =
      try newSigs.join(
          doomedHashes64(newSigs,
            corpusSigs.select(col("sh")).filter(col("sh").isNotNull).distinct(),
            maxHamming),
          Seq("sh"), "left_semi")
        .select(col("id").as(idCol))
        .localCheckpoint(eager = true)
      finally newSigs.unpersist(blocking = false)
    df.join(doomed, Seq(idCol), "left_anti")
  }

  // ---------- exact n-gram Jaccard on candidates ----------

  /**
   * Exact n-gram Jaccard similarity for LSH candidate pairs: re-join the
   * (small) pair list to the shingle sets and compute
   * |A∩B| / |A∪B| exactly. Integer set sizes ⇒ bit-identical across engines.
   *
   * `candidateShingleN` (default: same as `shingleN`) lets candidate mining
   * run on COARSER shingles than the rescore — word-level blocking with
   * n-gram verification, the classic recall lever: two docs built from the
   * same word set always share every band bucket (the MinHash signature is a
   * function of the shingle SET alone), so reorderings are guaranteed
   * candidates while the n-gram Jaccard still scores the ordering.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.0,
      candidateShingleN: Int = 0): DataFrame = {
    require(numPerms % bands == 0,
      s"bands ($bands) must divide numPerms ($numPerms)")
    val candN = if (candidateShingleN > 0) candidateShingleN else shingleN
    val sigs = signatures(df, idCol, textCol, candN, numPerms)
    val pairs = candidatePairs(sigs, bands, numPerms / bands)
    // sorted distinct sets: pay the sort once per DOC so the per-PAIR compare
    // is a zero-allocation codegen'd merge-walk (JaccardSorted)
    val sets = df.select(col(idCol).as("sid"),
      array_sort(shingleHashes(col(textCol), shingleN)).as("sset"))
    pairs
      .join(sets.withColumnRenamed("sid", "id_a").withColumnRenamed("sset", "set_a"), "id_a")
      .join(sets.withColumnRenamed("sid", "id_b").withColumnRenamed("sset", "set_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.JaccardSorted(col("set_a"), col("set_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
