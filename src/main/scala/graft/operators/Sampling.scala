package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic, reproducible sampling and dataset-split assignment — the
 * curation primitives of a training-data pipeline (train/val/test splits,
 * corpus down-sampling, per-source mixing weights).
 *
 * Everything here keys on `md5(concat_ws("|", keys…))` rather than
 * `rand()`: the assignment of a row is a pure function of its key, so
 *
 *  - re-runs, task retries and cluster re-sizes produce the IDENTICAL
 *    sample (rand()-based sampling changes under retry — poison for
 *    reproducible training sets);
 *  - the same row lands in the same split across pipelines and engines
 *    (any system with md5 agrees — the battery oracle recomputes the
 *    assignment in DuckDB and hash-matches);
 *  - no coordination, no state: a codegen'd scalar expression, zero
 *    shuffles, linear scan at any scale.
 *
 * Selection compares the first 8 hex chars of the digest against a
 * fraction-derived hex threshold LEXICOGRAPHICALLY — both Spark and every
 * SQL engine render md5 as lowercase hex, so the comparison is portable
 * (no big-int hex parsing anywhere).
 */
object Sampling {

  /** First 8 hex chars of md5 over the pipe-joined key columns — uniform on
   *  [0x00000000, 0xffffffff] and identical in any md5-bearing engine. */
  def hashHex(keys: Seq[Column]): Column =
    substring(md5(concat_ws("|", keys.map(_.cast("string")): _*)), 1, 8)

  /** Hex threshold such that P[hashHex < threshold] = fraction. For
   *  fraction >= 1 returns "g" (lexicographically above every hex digit,
   *  so the filter keeps everything, including hash "ffffffff"). */
  def thresholdHex(fraction: Double): String = {
    require(fraction >= 0, s"fraction must be >= 0, got $fraction")
    if (fraction >= 1.0) "g"
    else f"${math.floor(fraction * 4294967296.0).toLong}%08x"
  }

  /** Keep a deterministic `fraction` of rows, keyed by `keys`. */
  def hashSample(df: DataFrame, keys: Seq[String], fraction: Double): DataFrame =
    df.filter(hashHex(keys.map(col)) < lit(thresholdHex(fraction)))

  /**
   * Assign every row to one of the named splits with the given weights
   * (normalized; e.g. `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)`),
   * as a new column. The split is a pure function of the key: stable under
   * re-runs, engine-portable, and disjoint-and-exhaustive by construction
   * (the last split takes the residual hash range, so float rounding can
   * never drop a row).
   */
  def deterministicSplit(
      df: DataFrame,
      keys: Seq[String],
      splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0) && splits.map(_._2).sum > 0, "weights must be >= 0, sum > 0")
    val total = splits.map(_._2).sum
    val h = hashHex(keys.map(col))
    val cumulative = splits.init.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }.tail
    val assigned = splits.init.zip(cumulative).foldLeft(Option.empty[Column]) {
      case (acc, ((name, _), cum)) =>
        val cond = h < lit(thresholdHex(cum))
        Some(acc.fold(when(cond, lit(name)))(_.when(cond, lit(name))))
    }
    val expr = assigned.fold(lit(splits.head._1))(_.otherwise(lit(splits.last._1)))
    df.withColumn(outCol, expr)
  }

  /**
   * Deterministic per-group cap: keep at most `n` rows per group (the
   * anti-domination step — cap documents per domain/source so no single
   * origin overwhelms the mixture). Selection order is the md5 hash of the
   * key columns, so WHICH rows survive is a pure function of the data:
   * stable under retries, engine-portable (the battery oracle replays the
   * same window in SQL), and unbiased within each group. One shuffle on
   * the group columns.
   */
  def capPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      keys: Seq[String],
      n: Int): DataFrame = {
    require(n > 0, "cap must be positive")
    require(groupCols.nonEmpty, "need at least one group column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy((hashHex(keys.map(col)).asc +: keys.map(col(_).asc)): _*)
    df.withColumn("__graft_cap_rn", row_number().over(w))
      .filter(col("__graft_cap_rn") <= n)
      .drop("__graft_cap_rn")
  }

  /**
   * Leakage-safe dataset split: assign train/val/test by NEAR-DUP CLUSTER,
   * not by document. A plain [[deterministicSplit]] on doc id puts a
   * training document's near-twin into the eval split with probability
   * `1 − w_train` — exactly the test-set contamination Lee et al. 2022
   * measure as inflating eval scores. Here every document first gets a
   * MinHash+LSH connected-component label ([[Dedup.minhashPairs]] →
   * [[Dedup.connectedComponents]], cluster = min member id), and the md5
   * split hash is keyed on the CLUSTER label — so a whole near-dup family
   * lands on one side of the split by construction, and documents with no
   * near-dup (cluster = own id) split exactly as [[deterministicSplit]]
   * would.
   *
   * Same scale shape as the dedup it reuses: 24 B/row band join for pair
   * mining, adaptive CC (driver union-find below the edge threshold), and
   * the final assignment is one narrow (id, cluster) join + a pure hash
   * expression — the corpus text shuffles nowhere.
   */
  def splitLeakageSafe(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Double)],
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5,
      outCol: String = "split"): DataFrame = {
    val pairs = Dedup.minhashPairs(df, idCol, textCol,
        shingleN, numPerms, bands, minEstJaccard)
      .select(col("id_a"), col("id_b"))
    val labels = Dedup.connectedComponents(df.select(col(idCol).as("id")), pairs)
      .select(col("id"), col("cluster").as("__graft_ls_cluster"))
    val keyed = df.join(labels, df(idCol) === labels("id")).drop("id")
    deterministicSplit(keyed, Seq("__graft_ls_cluster"), splits, outCol)
      .drop("__graft_ls_cluster")
  }

  /**
   * EXACT stratified sampling: keep `ceil(fraction × |stratum|)` rows per
   * stratum, chosen by deterministic md5 rank. [[hashSample]] hits the
   * fraction only in expectation — a small stratum can lose every row to
   * hash luck, which is precisely what stratification must not do; this
   * variant guarantees every non-empty stratum keeps at least one row and
   * the per-stratum proportions are exact, at the cost of one window
   * exchange (same shuffle shape and same md5-rank tie-break discipline as
   * [[capPerGroup]]; a pathologically giant stratum sorts on one partition
   * — the capPerGroup caveat applies unchanged).
   *
   * Cross-engine exactness: `fraction × count` is one IEEE multiply and
   * `ceil` of it is engine-independent, so the oracle replays the boundary
   * row for row.
   */
  def sampleFractionPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      keys: Seq[String],
      fraction: Double): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"fraction must be in (0, 1], got $fraction")
    require(groupCols.nonEmpty, "need at least one group column")
    val part = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val ordered = part
      .orderBy((hashHex(keys.map(col)).asc +: keys.map(col(_).asc)): _*)
    df.withColumn("__graft_sf_rn", row_number().over(ordered))
      .withColumn("__graft_sf_cnt", count(lit(1)).over(part))
      .filter(col("__graft_sf_rn") <=
        ceil(lit(fraction) * col("__graft_sf_cnt")))
      .drop("__graft_sf_rn", "__graft_sf_cnt")
  }

  /** 0-15 value of the `i`-th (1-based) hex digit of `hexCol`, via ascii()
   *  arithmetic — portable (DuckDB/Spark/any SQL engine with ascii();
   *  no engine-specific hex parsing). */
  private def hexDigit(hexCol: Column, i: Int): Column = {
    val a = ascii(substring(hexCol, i, 1))
    when(a >= 97, a - 87).otherwise(a - 48)
  }

  /**
   * Reproducible global shuffle: assign every row a (shard, pos) ordering
   * that is a pure function of its key — the corpus-order randomization
   * step of training-data assembly (training wants a fixed, re-creatable
   * random order; `orderBy(rand())` changes under retry and a true global
   * sort by hash is one giant range exchange).
   *
   * Two-level: `shard = first two md5 hex digits` (256-way, hash-uniform),
   * `pos = rank of the full digest within the shard`. Shards are written /
   * consumed in shard order, rows within a shard in pos order — a total
   * order identical on every engine and every run. The sort is
   * PER-SHARD (one hash exchange + within-partition sort), never global.
   */
  def shuffleOrder(
      df: DataFrame,
      keys: Seq[String],
      shardCol: String = "shard",
      posCol: String = "pos"): DataFrame = {
    val digest = md5(concat_ws("|", keys.map(col(_).cast("string")): _*))
    val withShard = df.withColumn("__graft_digest", digest)
      .withColumn(shardCol, (hexDigit(col("__graft_digest"), 1) * 16 +
        hexDigit(col("__graft_digest"), 2)).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol))
      .orderBy((col("__graft_digest").asc +: keys.map(col(_).asc)): _*)
    withShard.withColumn(posCol, row_number().over(w))
      .drop("__graft_digest")
  }

  /**
   * Weighted source mixing with UPsampling: weight `w` for a source means
   * every row of it appears `floor(w)` times plus one more with
   * probability `frac(w)` — the "repeat high-quality sources for several
   * epochs" step of corpus assembly (e.g. books ×2.5, web ×0.3), which
   * [[mixSources]] (fractions ≤ 1) cannot express. Rows from sources with
   * no weight entry are dropped (explicit mixture only).
   *
   * Adds `epochCol` (0-based copy index) so downstream shuffle/packing can
   * interleave copies instead of emitting them back to back. Deterministic
   * like everything here: the fractional extra copy keys on
   * `md5(keys…|epoch|floor(w))`, so retries, re-runs and other engines
   * agree row by row. One codegen'd filter+explode over a bounded literal
   * sequence — zero shuffles, no rand(), linear at any scale.
   */
  def upsampleSources(
      df: DataFrame,
      sourceCol: String,
      keys: Seq[String],
      weights: Map[String, Double],
      epochCol: String = "epoch"): DataFrame = {
    require(weights.nonEmpty, "need at least one source weight")
    require(weights.values.forall(_ >= 0), s"weights must be >= 0: $weights")
    val maxEpochs = weights.values.map(w => math.ceil(w).toInt).max max 1
    def perSource(f: Double => Column): Column =
      weights.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
        case (acc, (s, w)) =>
          val c = col(sourceCol) === lit(s)
          Some(acc.fold(when(c, f(w)))(_.when(c, f(w))))
      }.get
    val full = perSource(w => lit(math.floor(w).toInt)).otherwise(lit(0))
    // fractional-part threshold per source; whole weights get the empty
    // range so no extra copy fires
    val th = perSource(w => lit(thresholdHex(w - math.floor(w))))
      .otherwise(lit("00000000"))
    val extra =
      (hashHex(keys.map(col) ++ Seq(lit("epoch"), full)) < th).cast("int")
    val copies = full + extra
    // bounded literal sequence + filter (NOT sequence(0, n-1): Spark infers
    // a negative step when n-1 < 0 instead of yielding an empty array)
    val epochs = filter(sequence(lit(0), lit(maxEpochs - 1)), i => i < copies)
    df.withColumn(epochCol, explode(epochs))
  }

  /**
   * Temperature-based mixture weights — the standard multi-source
   * training-mix knob: source `s` with `c_s` rows gets expected share
   * ∝ `c_s^alpha` of `targetRows`, i.e. per-row weight
   * `w_s = targetRows * c_s^(alpha-1) / Σ_s' c_s'^alpha`. `alpha = 1`
   * keeps natural proportions (uniform downsample), `alpha = 0` gives
   * every source an equal budget, between rebalances smoothly (the
   * "temperature" of the mixture). Counts come from one tiny aggregate
   * collected to the driver — #sources entries, the same
   * adjudicated-small-state class as the IVF centroids.
   *
   * Exactness: `alpha = 0` and `alpha = 1` use closed forms built ONLY
   * from correctly-rounded IEEE divisions, so any engine reproduces the
   * weights bit-identically (q126's oracle recomputes them in SQL).
   * Generic `alpha` goes through `pow`, which libms only guarantee to
   * ~1 ulp — fine for real mixing, not for a hash-gated oracle.
   */
  def temperatureWeights(
      df: DataFrame,
      sourceCol: String,
      alpha: Double,
      targetRows: Long): Map[String, Double] = {
    require(targetRows > 0, s"targetRows must be positive, got $targetRows")
    val counts: Map[String, Long] = df.groupBy(col(sourceCol))
      .count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    require(counts.nonEmpty, s"no rows to mix (empty $sourceCol aggregate)")
    if (alpha == 0.0) {
      val m = targetRows.toDouble / counts.size
      counts.map { case (s, c) => s -> m / c }
    } else if (alpha == 1.0) {
      val w = targetRows.toDouble / counts.values.sum
      counts.map { case (s, _) => s -> w }
    } else {
      val z = counts.values.toSeq.sorted.map(c => math.pow(c.toDouble, alpha)).sum
      counts.map { case (s, c) =>
        s -> targetRows * math.pow(c.toDouble, alpha - 1.0) / z }
    }
  }

  /** [[upsampleSources]] driven by [[temperatureWeights]]: resample every
   *  source to its `count^alpha` share of `targetRows` in one pass —
   *  deterministic md5-keyed copies, zero shuffle beyond the one tiny
   *  count aggregate. */
  def mixByTemperature(
      df: DataFrame,
      sourceCol: String,
      keys: Seq[String],
      alpha: Double,
      targetRows: Long,
      epochCol: String = "epoch"): DataFrame =
    upsampleSources(df, sourceCol, keys,
      temperatureWeights(df, sourceCol, alpha, targetRows), epochCol)

  /**
   * Global budgeted selection: keep rows in priority order until a cost
   * budget is exhausted — "take the best documents until the token budget
   * is full", the final selection step of corpus assembly. Appends the
   * global running cost as `outCol` and keeps exactly the rows whose
   * inclusive running cost is ≤ `budget`.
   *
   * The naive formulation — `sum(cost) over (order by priority)` — is a
   * GLOBAL window: Spark plans it as a sort into ONE partition, the
   * classic 100 TB driver-side bottleneck. This implementation is the
   * distributed two-pass prefix sum instead:
   *
   *  1. one range exchange on the priority order (the same machinery as a
   *     distributed sort — fully parallel, skew handled by range
   *     sampling), rows sorted within partitions;
   *  2. per-partition cost totals — numPartitions longs — collected to the
   *     driver (KB-scale, the same adjudicated-small-state class as the
   *     IVF centroids) and scanned into per-partition START offsets;
   *  3. one partition-local pass adds offset + running cost and emits
   *     rows while ≤ budget. Partitions whose offset already exceeds the
   *     budget emit NOTHING without reading a row — at 100 TB with a
   *     budget that selects 1%, ~99% of partitions short-circuit.
   *
   * The per-partition pass is genuine imperative per-partition logic (a
   * running accumulator with early exit), i.e. the documented
   * `mapPartitions` case. Costs must be non-null and non-negative (throws
   * otherwise — a negative cost would invalidate both the early exit and
   * selection monotonicity, and a silent null→0 would let null-cost rows
   * ride along for free instead of surfacing the data problem). `orderCols` must be a TOTAL order (append a unique id
   * as the last key): cross-partition ties would otherwise make the
   * boundary content nondeterministic.
   */
  def takeByBudget(
      df: DataFrame,
      costCol: String,
      budget: Long,
      orderCols: Seq[Column],
      outCol: String = "cum_cost"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    require(budget >= 0, s"budget must be non-negative, got $budget")
    require(!df.columns.contains(outCol),
      s"input already has a '$outCol' column — pass a different outCol")
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    // persist the ranged+sorted layout: the totals job and the prefix job
    // must see the IDENTICAL partitioning (and the shuffle runs once);
    // released below once the budget-bounded result is materialized
    val ranged = df.repartitionByRange(nParts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val costIdx = ranged.schema.fieldIndex(costCol)
    def costOf(r: org.apache.spark.sql.Row): Long = {
      if (r.isNullAt(costIdx))
        throw new IllegalArgumentException(
          s"takeByBudget needs non-null costs: found a null '$costCol' — " +
            "coalesce or filter null-cost rows explicitly before selection")
      else {
        val c = r.get(costIdx) match {
          case l: java.lang.Long => l.longValue()
          case i: java.lang.Integer => i.longValue()
          case s: java.lang.Short => s.longValue()
          case b: java.lang.Byte => b.longValue()
          case other => throw new IllegalArgumentException(
            s"takeByBudget needs an integral cost column, got value $other")
        }
        if (c < 0) throw new IllegalArgumentException(
          s"takeByBudget needs non-negative costs, got $c")
        c
      }
    }
    val partials = ranged.toDF().rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L; it.foreach(r => s += costOf(r)); Iterator((pid, s))
      }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] =
      partials.map(_._1).zip(partials.scanLeft(0L)(_ + _._2)).toMap
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = ranged.schema.add(outCol,
      org.apache.spark.sql.types.LongType, nullable = false)
    val b = budget
    // mapPartitionsWithIndex (NOT TaskContext.getPartitionId): a downstream
    // coalesce merges several parent partitions into one task, where the
    // task-context id would be the merged id for all of them — the with-index
    // variant bakes the true parent index into each closure.
    val prefixed = ranged.toDF().rdd.mapPartitionsWithIndex { (pid, it) =>
      var cum = bOffsets.value.getOrElse(pid, 0L)
      if (cum > b) Iterator.empty
      else new Iterator[org.apache.spark.sql.Row] {
        private var nextRow: org.apache.spark.sql.Row = null
        private var done = false // costs non-negative: once over budget, stay over
        private def advance(): Unit =
          while (!done && nextRow == null) {
            if (!it.hasNext) done = true
            else {
              val r = it.next()
              cum += costOf(r)
              if (cum <= b) nextRow = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ cum)
              else done = true
            }
          }
        override def hasNext: Boolean = { advance(); nextRow != null }
        override def next(): org.apache.spark.sql.Row = {
          advance(); val r = nextRow; nextRow = null; r
        }
      }
    }
    // materialize the budget-bounded selection NOW (localCheckpoint: one
    // extra job over rows that are ≤ budget by construction), so the full
    // ranged corpus — the dominant dataset — can be released immediately
    // instead of staying pinned in the cache for the session's lifetime
    val out = spark.createDataFrame(prefixed, outSchema)
      .localCheckpoint(eager = true)
    ranged.unpersist(blocking = false)
    out
  }

  /**
   * Distributed top-k under an arbitrary TOTAL order — "the k best rows"
   * without ever sorting the table into one partition (the scale trap of a
   * bare `orderBy().limit()` materialized through a global Window).
   *
   *  - `k` at or under the engine's top-K threshold (the common case)
   *    plans as `TakeOrderedAndProject`: each partition keeps a k-bounded
   *    priority queue and the driver streams the per-partition queues into
   *    one merged queue — no exchange at all;
   *  - larger `k` reuses [[takeByBudget]]'s two-pass range-exchange prefix
   *    sum with unit cost: one range shuffle on the order, per-partition
   *    counts broadcast as start offsets, partitions past `k`
   *    short-circuit.
   *
   * `orderCols` must be a TOTAL order (append a unique id as the last
   * key): cross-partition ties would otherwise make the boundary content
   * nondeterministic.
   */
  def topKByOrder(df: DataFrame, k: Int, orderCols: Seq[Column]): DataFrame = {
    require(k > 0, s"topKByOrder needs a positive k, got $k")
    require(orderCols.nonEmpty, "need at least one ordering column")
    // STRICT: SparkStrategies plans TakeOrderedAndProject only for
    // `limit < topKSortFallbackThreshold`; at equality the sort+limit
    // formulation degrades to a global Sort + single-partition limit —
    // exactly the plan this function exists to avoid
    if (k < df.sparkSession.sessionState.conf.topKSortFallbackThreshold)
      df.sort(orderCols: _*).limit(k)
    else {
      require(!df.columns.contains("__graft_topk_one"),
        "input already has a '__graft_topk_one' column")
      takeByBudget(df.withColumn("__graft_topk_one", lit(1L)),
        "__graft_topk_one", k.toLong, orderCols, outCol = "__graft_topk_cum")
        .drop("__graft_topk_one", "__graft_topk_cum")
    }
  }

  /**
   * Per-source mixing: keep a different deterministic fraction of each
   * source (the "dataset mixture weights" step of corpus assembly — e.g.
   * keep 100% of books, 10% of web). Rows whose source has no entry are
   * DROPPED (explicit mixture only). One codegen'd filter, zero shuffles.
   */
  def mixSources(
      df: DataFrame,
      sourceCol: String,
      keys: Seq[String],
      fractions: Map[String, Double]): DataFrame = {
    require(fractions.nonEmpty, "need at least one source fraction")
    val h = hashHex(keys.map(col))
    // threshold looked up per row from the source column; unknown → "0…0"
    // (empty range, row dropped)
    val th = fractions.toSeq.sortBy(_._1).foldLeft(Option.empty[Column]) {
      case (acc, (s, f)) =>
        val c = col(sourceCol) === lit(s)
        Some(acc.fold(when(c, lit(thresholdHex(f))))(_.when(c, lit(thresholdHex(f)))))
    }.get.otherwise(lit("00000000"))
    df.filter(h < th)
  }

  /**
   * Contrastive (anchor, positive, negative) triplet mining — the
   * training-data assembly step for embedding/retrieval models
   * (sentence-transformers-style weak supervision): positives are
   * near-duplicates, negatives are deterministic pseudo-random picks.
   *
   *  - POSITIVE: the anchor's smallest-id near-dup cluster-mate
   *    ([[graft.operators.Dedup.minhashPairs]] edges → connected
   *    components). Only documents with at least one near-dup anchor a
   *    triplet — singletons have no positive and emit nothing.
   *  - NEGATIVE: the NEXT document on the [[shuffleOrder]] ring (md5
   *    shard + in-shard position, wrapping within the shard) — a
   *    reproducible uniform pick with no `rand()`, no global sort and no
   *    cross join; engines replay it from the md5 alone. A negative that
   *    lands inside the anchor's own cluster (astronomically rare unless
   *    the corpus is tiny) is dropped rather than silently kept — a
   *    false negative poisons a contrastive batch.
   *
   * For HARD negatives, compose with ANN instead: take
   * [[graft.operators.Similarity.lshTopK]] neighbors and exclude the
   * near-dup cluster — same shapes, corpus never moves whole.
   *
   * 100 TB: LSH mining dominates (the same cost as dedup itself); the
   * ring adds one narrow (shard-keyed) window and two id-only joins.
   */
  def mineContrastiveTriplets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numPerms: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    val pairs = graft.operators.Dedup
      .minhashPairs(df, idCol, textCol, shingleN, numPerms, bands, minEstJaccard)
      .select(col("id_a"), col("id_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val labels = graft.operators.Dedup.connectedComponents(touched, pairs)
    pairs.unpersist(blocking = false) // labels are materialized
    // positive = min cluster-mate ≠ anchor: cluster label for everyone but
    // the label-holder, who pairs with the cluster's second-smallest id
    val second = labels.filter(col("id") =!= col("cluster"))
      .groupBy(col("cluster")).agg(min(col("id")).as("second_id"))
    val positives = labels.join(second, Seq("cluster"))
      .select(col("id").as("anchor_id"),
        when(col("id") === col("cluster"), col("second_id"))
          .otherwise(col("cluster")).as("positive_id"),
        col("cluster").as("__graft_ct_cluster"))
    // negative = ring-next within the md5 shard (wrap at the shard end)
    val ring = shuffleOrder(df.select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("__graft_ct_id"), col("shard"), col("pos"))
    val withMax = ring.withColumn("__graft_ct_max", max(col("pos")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))))
    val nexts = withMax.select(col("__graft_ct_id").as("negative_id"),
      col("shard").as("__graft_ct_nshard"), col("pos").as("__graft_ct_npos"))
    val trip = withMax
      .withColumn("__graft_ct_want",
        when(col("pos") === col("__graft_ct_max"), lit(1)).otherwise(col("pos") + 1))
      .join(nexts, col("shard") === col("__graft_ct_nshard") &&
        col("__graft_ct_want") === col("__graft_ct_npos"))
      .select(col("__graft_ct_id").as("anchor_id"), col("negative_id"))
      .join(positives, Seq("anchor_id"))
    // drop self-negatives (single-row shards) and in-cluster negatives
    val negLabel = labels.select(col("id").as("negative_id"),
      col("cluster").as("__graft_ct_ncluster"))
    trip.join(negLabel, Seq("negative_id"), "left")
      .filter(col("negative_id") =!= col("anchor_id"))
      .filter(col("__graft_ct_ncluster").isNull ||
        col("__graft_ct_ncluster") =!= col("__graft_ct_cluster"))
      .select(col("anchor_id"), col("positive_id"), col("negative_id"))
  }
}
