package graft.queries

import graft.model.CqlSchema
import graft.operators.{CountLm, Dedup, Multimodal, Normalize, Sampling, Similarity, TextAnalysis, Urls}
import graft.tables.Tables
import graft.write.TokenSortedWriter
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The t2 query battery: one entry per operator of SURVEY §2.14 plus the
 * training-data-pipeline operators (dedup / similarity / text analysis /
 * multimodal). Each query has an exact ANSI-SQL twin in [[Battery.oracles]]
 * run by the driver against DuckDB over the same parquet.
 *
 * Cross-engine determinism rules used throughout (so hash-compare passes):
 *  - no raw nanosecond timestamps in outputs (cast to DATE or compare only);
 *  - no float aggregation in arbitrary order: doubles are cast to DECIMAL
 *    before SUM (exact, order-independent), then the result cast back to
 *    DOUBLE (same nearest-double in every engine);
 *  - per-row double arithmetic is fine (IEEE-deterministic);
 *  - every top-k / window ordering carries a total tie-break;
 *  - aggregate/computed columns aliased identically on both sides.
 */
object Battery {

  /** Shared WebDataset shard fixture (q242/q246/q247): plants the ONE
   *  member math their DuckDB oracles replay — sample j of doc id gets a
   *  jpg of j*3+5 bytes and a txt of j*2+1, plus a 4-byte json on even
   *  docs when enabled — packed into tar shards under `dir` (optionally
   *  gzip/zstd by shard). Kept as one helper so the three fixtures can
   *  never desynchronize from the shared closed form. */
  /** Land a fixture file ATOMICALLY: write to a dot-temp (hidden names
   *  are never admitted) and rename — a live arrival stream must not
   *  list a half-written shard and freeze its partial length (the
   *  [[graft.sources.ArrivalLedgerStream]] landing convention). */
  private def landFile(dir: String, name: String, bytes: Array[Byte]): Unit = {
    val tmp = java.nio.file.Paths.get(dir, "." + name + ".tmp")
    java.nio.file.Files.write(tmp, bytes)
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def writeWdsShards(s: SparkSession, d: String, dir: String,
      docFilter: Long => Boolean, shardOf: Long => Long,
      fileName: Long => String, withJson: Boolean,
      compression: Long => String): Unit = {
    import s.implicits._
    import graft.functions.ArchiveCodec
    val members = docs(s, d).select(col("doc_id")).as[Long]
      .filter(docFilter)
      .flatMap { id =>
        val ns = (id % 4 + 1).toInt
        (1 to ns).flatMap { j =>
          val key = f"d$id%d/$j%06d"
          Seq(
            (shardOf(id), s"$key.jpg",
              Array.tabulate[Byte]((j * 3 + 5))(k => (k + j).toByte)),
            (shardOf(id), s"$key.txt",
              Array.tabulate[Byte]((j * 2 + 1))(k => k.toByte))) ++
            (if (withJson && id % 2 == 0)
              Seq((shardOf(id), s"$key.json", Array.fill[Byte](4)('x')))
             else Nil)
        }
      }
    members.groupByKey(_._1).mapGroups { (sid, it) =>
      val ms = it.toSeq.sortBy(_._2).map(m => (m._2, m._3))
      val tar = ArchiveCodec.tar(ms)
      val (ext, bytes) = compression(sid) match {
        case "tar" => ("tar", tar)
        case "tar.gz" => ("tar.gz", ArchiveCodec.gzip(tar))
        case other => (other, ArchiveCodec.zstd(tar))
      }
      landFile(dir, s"${fileName(sid)}.$ext", bytes)
      sid
    }.count()
    ()
  }

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  // docs stays UN-widened at the accessor (round-19 verdict: a blanket
  // Fanout.widen here taxed ~150 light consumers with a full hash exchange
  // of the corpus to buy wins for ~5 heavy ones — battery geomean 0.82).
  // The fan-out now lives INSIDE the operators whose per-row work is
  // genuinely heavy (removeDuplicateSpans, CountLm train/score, tf-idf,
  // containment shingling), exactly where the round-19 driver evidence
  // showed wins (q133 4.2x, q151 2.0x, q96, q144).
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  // embeddings stays un-widened: 2000 rows of vector math gain nothing from
  // a fan-out, and the widen Repartition under q158's self-union trips a
  // Catalyst constraint-propagation bug (NoSuchElementException in
  // UnionBase.rewriteConstraints) during explain-initiated optimization
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Twin corpus for the deterministic LSH-family oracles (q25/q27/q55/q58/
   *  q69) — the q72 trick generalized to text. Each copy rebuilds a doc's
   *  text as 8 md5 words derived from the ORIGINAL text (word order given by
   *  `perm`), shifted into its own id space. Consequences, valid under ANY
   *  hash family: (a) docs with distinct original texts get DISJOINT word /
   *  shingle sets, so no near-dup edge can form between them; (b) docs with
   *  EQUAL original texts (incl. the unioned twin copies) get identical
   *  sets, so their MinHash/SimHash signatures are identical and they share
   *  every LSH bucket — those edges are ALWAYS found. Pair / cluster /
   *  survivor sets thus reduce to exact text equality, which DuckDB can
   *  replay in closed form. */
  private val TwinOff = 1000000L
  private def twinCopy(s: SparkSession, d: String, copyIdx: Int,
      perm: Seq[Int] = 0 until 8): DataFrame =
    docs(s, d).select(
      (col("doc_id") + lit(copyIdx * TwinOff)).as("doc_id"),
      col("source"), col("n_chars"),
      concat_ws(" ", perm.map(k => md5(concat_ws("#", col("text"), lit(k)))): _*).as("text"))

  /** exact decimal sum of a double expression, emitted as double */
  private def dsum(c: Column, scale: Int = 6): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Corpus for the containment queries (q143/q144): every document plus a
   *  fragment twin holding its first max(⌊tokens/2⌋, 3) words. The
   *  fragment's distinct shingle set is a SUBSET of its source's, so
   *  fragment→source containment is exactly 1 in both engines (a source
   *  shorter than the floor just yields an identical twin — mutual
   *  containment, handled by the equal-set tie-break). */
  private def containmentCorpus(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d)
    val toks = split(col("text"), " ")
    val frag = concat_ws(" ",
      slice(toks, lit(1), greatest(floor(size(toks) / lit(2)).cast("int"), lit(3))))
    t.select(col("doc_id"), col("text"))
      .unionByName(t.select((col("doc_id") + lit(TwinOff)).as("doc_id"), frag.as("text")))
  }

  /** Fixed-width big-/little-endian bytes of an int column, from hex
   *  built-ins only, so the DuckDB oracle rebuilds the same blob headers
   *  (q35, q105, q106). */
  private def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))
  private def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))
  private def le16(c: Column): Column = {
    val hx = lpad(hex(c), 4, "0")
    unhex(concat(substring(hx, 3, 2), substring(hx, 1, 2)))
  }
  private def le32(c: Column): Column = {
    val hx = lpad(hex(c), 8, "0")
    unhex(concat(substring(hx, 7, 2), substring(hx, 5, 2),
      substring(hx, 3, 2), substring(hx, 1, 2)))
  }

  // =====================================================================
  // queries
  // =====================================================================

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S1-S4/P1: full scan + projection -----------------------------
    "q01_scan_projection" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))),

    // ---- P2/P3: partition-key =/IN pushdown ---------------------------
    "q02_pk_filter" -> ((s, d) =>
      li(s, d).filter(col("l_orderkey") === 1L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),
    "q03_pk_in_filter" -> ((s, d) =>
      li(s, d).filter(col("l_orderkey").isin(1L, 7L, 42L, 4096L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // ---- S5/§2.5: last-write-wins dedup -------------------------------
    "q04_lww_latest" -> ((s, d) =>
      Normalize.latestWriteWinsAgg(
        li(s, d),
        primaryKey = Seq("l_orderkey", "l_linenumber"),
        orderCols = Seq("l_shipdate", "l_extendedprice", "l_quantity", "l_discount",
          "l_tax", "l_returnflag", "l_linestatus", "l_partkey", "l_suppkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))),

    // ---- §2.8: delete anti-join ---------------------------------------
    "q05_delete_anti" -> ((s, d) => {
      val deletes = ord(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("l_orderkey"))
      Normalize.applyDeletes(li(s, d), deletes, Seq("l_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // ---- §2.8: TTL expiry at fixed now --------------------------------
    "q06_ttl_expiry" -> ((s, d) =>
      Normalize.ttlFilter(ev(s, d), col("ts"), lit("2024-01-15 00:00:00").cast("timestamp"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))),

    // ---- §2.3: joins ---------------------------------------------------
    "q07_join_inner" -> ((s, d) =>
      li(s, d).join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("c_custkey"),
          col("c_mktsegment"), col("o_orderstatus"))),
    "q08_join_left" -> ((s, d) => {
      val richCust = cust(s, d).filter(col("c_acctbal") > 5000.0)
      ord(s, d).join(richCust, col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"), col("c_custkey"), col("c_mktsegment"))
    }),
    "q09_join_semi" -> ((s, d) =>
      ord(s, d).join(
          li(s, d).filter(col("l_quantity") > 45.0), col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderstatus"))),
    "q10_join_anti" -> ((s, d) =>
      cust(s, d).join(ord(s, d).filter(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // ---- §2.4: aggregations -------------------------------------------
    "q11_agg_groupby" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        dsum(col("l_quantity"), 2).as("sum_qty"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_revenue"),
        (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        count(lit(1)).as("count_order"))),
    // HLL++ estimates are engine-specific (DuckDB's sketch differs), so the
    // oracle checks the PROPERTY instead of the estimate: the exact count
    // (replayable) plus a tolerance witness — |approx-exact| <= 5%·exact,
    // the default-rsd guarantee. A broken sketch flips the boolean and
    // fails the hash compare; the estimate itself stays in the plan.
    "q12_approx_distinct" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag")).agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.05).as("within_5pct"))),

    // ---- S8: partition-size style -------------------------------------
    "q13_partition_size" -> ((s, d) =>
      docs(s, d).groupBy(col("source")).agg(
        sum(col("n_chars")).as("uncompressed"),
        count(lit(1)).as("n_docs"))),

    // ---- §2.6: top-k ---------------------------------------------------
    "q14_topk" -> ((s, d) =>
      ord(s, d).orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // ---- §2.7: set operations -----------------------------------------
    "q15_union_all" -> ((s, d) =>
      cust(s, d).select(col("c_nationkey").as("nk"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))),
    "q16_intersect" -> ((s, d) =>
      cust(s, d).select(col("c_nationkey").as("nk"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nk")))),
    "q17_except" -> ((s, d) =>
      Tables.nation(s, d).select(col("n_nationkey").as("nk"))
        .except(Tables.supplier(s, d).filter(col("s_suppkey") < 50L)
          .select(col("s_nationkey").as("nk")))),

    // ---- §2.11: scalar batteries --------------------------------------
    "q18_scalar_string" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name8"),
        concat(col("p_brand"), lit("_"), col("p_type")).as("brandtype"),
        length(col("p_name")).as("name_len"),
        replace(lower(col("p_type")), lit(" "), lit("_")).as("type_slug"))),
    "q19_scalar_date" -> ((s, d) =>
      ord(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(lit("1998-01-01").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("days_to_98"),
        date_format(trunc(col("o_orderdate").cast("date"), "month"), "yyyy-MM-dd")
          .as("month_start"))),
    "q20_scalar_math" -> ((s, d) =>
      li(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_disc"),
        floor(col("l_extendedprice")).cast("long").as("floor_price"),
        ceil(col("l_extendedprice")).cast("long").as("ceil_price"),
        (col("l_orderkey") % 7).as("key_mod7"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        (floor(col("l_extendedprice") * col("l_quantity") * 100) / 100).as("amount_2dp"))),
    "q21_scalar_array" -> ((s, d) => {
      val arr = split(col("p_type"), " ")
      Tables.part(s, d).select(
        col("p_partkey"),
        size(arr).cast("long").as("n_words"),
        element_at(arr, 1).as("first_word"),
        array_contains(arr, "BRUSHED").as("has_brushed"))
    }),
    "q22_scalar_json" -> ((s, d) =>
      ev(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast("long").as("k_num"))),

    // ---- W2-W4/W9: write path round-trip ------------------------------
    "q23_write_roundtrip" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft_wr_").toString + "/lineitem"
      TokenSortedWriter.write(li(s, d), schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 8))
      TokenSortedWriter.read(s, schema, out)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
          col("l_returnflag"), col("l_linestatus"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
    }),

    // ---- dedup ---------------------------------------------------------
    "q24_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", Seq("text"))
        .select(col("fp"), col("doc_id"), col("n_copies"))),
    // twin-corpus (see twinCopy) — the one-hop assignment must map every
    // member of an exact-text group (and its id-shifted twin) to the group
    // min; DuckDB replays that from text equality alone
    "q25_dedup_minhash" -> ((s, d) =>
      Dedup.minhashAssignments(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        shingleN = 3, numPerms = 64, bands = 16, minEstJaccard = 0.5)),
    // simhash end-to-end REMOVAL on the twin corpus (same construction that
    // oracled q25/q55/q69): identical texts → hamming 0 → guaranteed pair;
    // disjoint md5-word sets keep cross-group pairs far above maxHamming, so
    // survivors are exactly the min-id doc of each exact-text group. The raw
    // signature path (withSimhash) stays spec-covered in DedupSpec.
    "q26_dedup_simhash" -> ((s, d) =>
      Dedup.dropBySimhash(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        maxHamming = 3)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    // incremental dedup: corpus = copy-0 twins; the fresh batch is copy-1
    // (identical texts -> est jaccard 1 -> dropped) plus copy-2 built from
    // the DISJOINT permutation set {8..15} (zero shared words -> jaccard 0
    // -> kept, including its in-batch exact-text dups, which by contract
    // survive a vs-corpus-only pass). Survivors are exactly copy-2.
    "q108_incremental_dedup" -> ((s, d) =>
      Dedup.dropAgainstCorpus(
        twinCopy(s, d, 1).unionByName(twinCopy(s, d, 2, perm = 8 until 16)),
        twinCopy(s, d, 0),
        "doc_id", "text", shingleN = 3, numPerms = 64, bands = 16,
        minEstJaccard = 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // URL canonicalization over a constructed corpus that exercises every
    // rule: mixed-case scheme/host, www + default/non-default ports,
    // utm_* params, trailing slash, fragments, sub-domains. The oracle
    // replays the EXPECTED canonical form in closed arithmetic (not regex),
    // so the normalization contract itself is what's hash-checked.
    "q109_url_normalize" -> ((s, d) => {
      val id = col("doc_id")
      val k = (id % 50).cast("string")
      val host0 = concat(lit("Example"), k, lit(".COM"))
      val hostC = when(id % 3 === 0, concat(lit("WWW."), host0))
        .when(id % 3 === 1, concat(lit("Sub."), host0))
        .otherwise(host0)
      val port = when(id % 4 === 0, lit(":443"))
        .when(id % 4 === 2, lit(":8443"))
        .otherwise(lit(""))
      val tail = when(id % 5 === 0, lit("/"))
        .otherwise(concat(lit("?utm_source=news&utm_id=7&id="), id.cast("string")))
      val frag = when(id % 7 === 0, lit("#Section-2")).otherwise(lit(""))
      val url = concat(lit("HTTPS://"), hostC, port,
        lit("/Docs/"), id.cast("string"), tail, frag)
      Urls.withUrlParts(docs(s, d).withColumn("url", url), "url")
        .select(id, col("url_norm"), col("url_host"), col("url_domain"),
          col("url_scheme"))
    }),

    // HTML stripping over deterministically constructed pages wrapping the
    // corpus text: script/style with literal < > inside, comments hiding
    // tags, every decoded entity class, attribute tags. The oracle rebuilds
    // the expected plain text in closed form (corpus text is pre-verified
    // whitespace-normal), so the strip contract itself is hash-checked.
    "q110_html_strip" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><style type=\"text/css\">p > a { color: red; }</style>"),
        lit("<script>if (x < 2 && y > 3) { z(); }</script></head>"),
        lit("<body><!-- nav <b>chrome</b> --><h1 class=\"t\">Title "), id,
        lit("</h1>\n<p>"), col("text"),
        lit("</p>&nbsp;<b>Bold&amp;Co</b> &lt;tag&gt; &quot;q&#39;</body></html>"))
      TextAnalysis.withStrippedHtml(
          docs(s, d).withColumn("html", html), "html")
        .select(col("doc_id"), col("text_plain"))
    }),

    // raw-crawl extraction: a WARC response payload (HTTP status line +
    // headers + CRLFCRLF + HTML body) split at the FIRST separator, body
    // stripped to plain text — the Common Crawl response-record chain,
    // oracled closed-form like q110. The body contains its own CRLF pair
    // to prove only the first separator splits.
    // BM25 retrieval: four fixed keyword queries against the corpus, top-10
    // docs each. Per-term contributions are decimal(22,7)-rounded before the
    // sum (order-independent, 1-ulp ln skew far inside the grid), so score,
    // rank, and the exact count columns all hash-match the DuckDB replay.
    "q142_bm25" -> ((s, d) => {
      import s.implicits._
      val qs = Seq(
        (0L, "spark join filter"), (1L, "merge sort row"),
        (2L, "stream window agg"), (3L, "customer query the data"))
        .toDF("query_id", "qtext")
      graft.operators.Vocab.bm25TopK(
        docs(s, d), "doc_id", "text", qs, "query_id", "qtext", k = 10)
    }),

    // shingle containment (asymmetric doc-in-doc): every doc paired with a
    // fragment twin carrying its first half — fragment→source containment
    // is exactly 1 (subset shingle sets), source→fragment stays under the
    // threshold. The oracle replays the distinct 3-shingle string sets and
    // the inverted-index intersection in closed SQL form.
    "q143_containment" -> ((s, d) =>
      graft.operators.Dedup.containmentPairs(
        containmentCorpus(s, d), "doc_id", "text",
        shingleN = 3, minContainment = 0.8)),

    // containment-driven drop: fragments die (their container is strictly
    // larger), equal-set families keep the min id; survivors replayed by
    // the oracle via the same (size, id) orientation rule
    "q144_drop_contained" -> ((s, d) =>
      graft.operators.Dedup.dropContained(
        containmentCorpus(s, d), "doc_id", "text",
        shingleN = 3, minContainment = 0.9)
        .select(col("doc_id"))),

    // snapshot (time-travel) read: corpus committed as snapshot v1, an
    // id-shifted increment committed as v2 — the v1 pin must return EXACTLY
    // the original corpus (identity oracle), proving the pinned scan plans
    // only v1's files while the live dir holds both batches
    "q145_snapshot_read" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_snapq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)
      s.read.format("graft").option("path", out).option("pk", "doc_id")
        .option("snapshotVersion", "1").load()
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    }),

    // snapshot change feed: rows appended between v1 and v2, read from
    // EXACTLY the files v2 added (incremental consumption — IO proportional
    // to the increment, no rescan, no updated_at predicate); the oracle is
    // the increment itself in closed form
    "q147_change_feed" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_cf_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)
      graft.write.Snapshots.readChanges(s, out, 1L, 2L)
        .select(col("doc_id"), col("text"), col("source"))
    }),

    // incremental aggregate maintenance over the change feed: stored v1
    // aggregate + aggregate of the v1→v2 delta must EQUAL the direct
    // aggregate over v2 — the exactness of file-level change capture,
    // checked end-to-end (the oracle aggregates the doubled corpus)
    "q148_incremental_agg" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_ia_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)
      def agg(df: DataFrame) = df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      val stored = agg(s.read.format("graft").option("path", out)
        .option("pk", "doc_id").option("snapshotVersion", "1").load())
      val delta = agg(graft.write.Snapshots.readChanges(s, out, 1L, 2L))
      stored.unionByName(delta).groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_chars")).as("total_chars"))
    }),

    // DSIR importance selection (Xie et al. 2023): target model = the
    // src0-2 slice, raw model = the whole pool; candidates scored at scan
    // speed by two plan-literal count models, weight = one IEEE division
    // of two exact add-one unigram scores, selection = distributed top-k
    // (TakeOrderedAndProject / two-pass range cut — never a global
    // single-partition sort). The oracle retrains both count models and
    // replays the three divisions verbatim.
    "q151_dsir_select" -> ((s, d) => {
      val corpus = docs(s, d)
      val target = CountLm.train(
        corpus.filter(col("source").isin("src0", "src1", "src2")), "text")
      val raw = CountLm.train(corpus, "text")
      CountLm.selectByImportance(corpus, "doc_id", "text", target, raw, k = 150)
        .select(col("doc_id"), col("dsir_weight"))
    }),

    // Z-order over a STRING dimension: sampled-quantile rank normalization
    // (common-prefix strip + byte-image + approxQuantile cuts) clusters the
    // string axis so string predicates prune files via footer string stats
    // (ZOrderSpec measures the pruning; this is the round-trip oracle —
    // note byte-wise string order: 'src12' sorts between 'src1' and 'src2')
    "q150_zorder_string_band" -> ((s, d) => {
      val schema = CqlSchema("documents", Seq("doc_id"))
      val out = java.nio.file.Files.createTempDirectory("graft_zos_")
        .toString + "/documents"
      TokenSortedWriter.write(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 8,
          zorderBy = Seq("source", "n_chars")))
      TokenSortedWriter.read(s, schema, out)
        .filter(col("source") >= "src0" && col("source") <= "src12" &&
          col("n_chars") <= 300L)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // change-feed STREAM: the snapshot log as the micro-batch offset ledger
    // (version = offset) — a real streaming query (AvailableNow) consumes
    // two committed increments as exact per-version batches, skipping the
    // v1 history via startingVersion; the oracle is both increments in
    // closed form (EventStreamsSpec proves the rewrite barrier and the
    // batch-twin equality)
    "q149_change_feed_stream" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_cfsq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("text"), col("source"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf) // v1
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)                             // v2
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(2L * TwinOff)),
        schema, out, SaveMode.Append, conf)                             // v3
      val qname = "graft_cf_q149_" +
        java.util.UUID.randomUUID().toString.replace("-", "").take(8)
      val q = s.readStream.format("graft")
        .option("path", out).option("pk", "doc_id")
        .option("changeFeed", "true").option("startingVersion", "1").load()
        .writeStream.format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      s.table(qname).select(col("doc_id"), col("text"), col("source"))
    }),

    // in-place compaction through the snapshot log: two LWW generations plus
    // a partition tombstone fold into one fresh generation INSIDE the table
    // dir (commitRewrite + vacuum), and the post-compaction clustered read
    // aggregates with no LWW re-shuffle — the oracle replays version
    // precedence and the tombstone in SQL (q71's twin, without the dst-dir
    // move)
    // incremental-merge read: the rows an increment touched, as the table
    // resolves them NOW — feed keys (v1→v2) left-semi join the normalized
    // (LWW) read, so a downstream mirror refreshes only the touched keys
    // with IO proportional to the increment; the oracle states the winning
    // versions closed-form (every touched row's quantity carries the +100)
    "q152_incremental_merge" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val dir = java.nio.file.Files.createTempDirectory("graft_icm_")
        .toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L), snapshot = true))
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L), snapshot = true))
      TokenSortedWriter.readChangesMerged(s, schema, dir, 1L, 2L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_returnflag"))
    }),

    "q146_compact_inplace" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val dir = java.nio.file.Files.createTempDirectory("graft_cmpip_")
        .toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L)))
      TokenSortedWriter.writeDeletes(
        base.filter(col("l_orderkey") % 7 === 3).select(col("l_orderkey")),
        schema, dir, writetimeMicros = Some(3000L))
      TokenSortedWriter.compactInPlace(s, schema, dir,
        TokenSortedWriter.WriteConf(numPartitions = 4))
      s.read.format("graft")
        .option("path", dir).option("pk", "l_orderkey").option("ck", "l_linenumber")
        .option("clustered", "true").load()
        .groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 2).as("sum_qty"))
    }),

    // Z-order layout round trip: events written under the bit-interleaved
    // (user_id, event_id) clustering key, read back through the graft
    // source with a band filter on EACH dimension — results must equal the
    // plain SQL filter (file pruning on both axes is gated in ZOrderSpec;
    // this pins that the layout never changes answers)
    "q141_zorder_band" -> ((s, d) => {
      val schema = Tables.schemas("events")
      val out = java.nio.file.Files.createTempDirectory("graft_zorder_")
        .toString + "/events"
      TokenSortedWriter.write(ev(s, d), schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 8,
          zorderBy = Seq("user_id", "event_id")))
      TokenSortedWriter.read(s, schema, out)
        .filter(col("user_id") <= 200L && col("event_id") <= 5000L)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // leakage-safe split over the twin corpus: clusters are the exact-text
    // groups (disjoint md5-word sets keep cross-group Jaccard at 0), so
    // the oracle recomputes cluster = min original doc_id per text group
    // and replays the identical md5 hash + hex thresholds — every near-dup
    // family provably lands on one side of train/val/test
    "q140_leakage_safe_split" -> ((s, d) =>
      Sampling.splitLeakageSafe(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("source"), col("split"))),

    // CCNet selection loop with exact-rational LM scoring: train unigram +
    // bigram counts on the documents, score a VARIANT corpus (every third
    // doc gains one unseen token, so OOV and score shifts are exercised),
    // bucket against fixed thresholds. Every emitted double is a single
    // division of integer sums — the oracle retrains the same counts in
    // SQL and reproduces the values bit-for-bit.
    "q139_ccnet_lm_buckets" -> ((s, d) => {
      val corpus = docs(s, d)
      val model = CountLm.train(corpus, "text")
      val variant = corpus.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"), lit(" xqz"), col("doc_id").cast("string")))
          .otherwise(col("text")).as("t"))
      CountLm.withScoreBuckets(
          CountLm.score(variant, "doc_id", "t", model),
          "lm_score", Seq(0.0333, 0.0334), Seq("tail", "middle", "head"))
        .select(col("doc_id"), col("lm_score"), col("lm_oov_frac"),
          col("lm_bigram_hit_frac"), col("lm_bucket"))
    }),

    // PSL wildcard/exception registrable-domain extraction: six URL tiers
    // synthesized by doc_id cover wildcard-1 (*.ck), the jp-city exception
    // (!city.kobe.jp), wildcard-2 (*.kobe.jp), the www-strip bare-TLD
    // guard (www.ck), the private-section wildcard-3
    // (*.compute.amazonaws.com), and a literal registry (co.uk). The
    // oracle states each tier's registrable domain CLOSED-FORM from the
    // construction, so the when/InSet chain is checked against intent,
    // not against a replay of itself.
    "q137_psl_wildcards" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val m6 = pmod(col("doc_id"), lit(6))
      val url = when(m6 === 0, concat(lit("https://sub.a"), id, lit(".b"), id, lit(".ck/p")))
        .when(m6 === 1, lit("https://x.city.kobe.jp/p"))
        .when(m6 === 2, concat(lit("https://a.ward"), id, lit(".kobe.jp/p")))
        .when(m6 === 3, lit("https://www.ck/p"))
        .when(m6 === 4, concat(lit("https://vm"), id, lit(".zone.compute.amazonaws.com/p")))
        .otherwise(concat(lit("https://www.shop.example"), id, lit(".co.uk/p")))
      docs(s, d).select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), Urls.host(col("url")).as("url_host"),
          Urls.domain(col("url")).as("url_domain"))
    }),

    // Gopher repetition battery (Rae et al. A1.1): line/paragraph structure
    // and repetition spam are synthesized deterministically by doc_id — dup
    // lines (%4=0), dup paragraphs (%4=1), a looping 2-gram (%4=2), raw
    // (%4=3) — and every metric is replayed flag-by-flag in the oracle as
    // single divisions of integer counts, so the doubles hash-match.
    "q136_gopher_repetition" -> ((s, d) => {
      val m4 = pmod(col("doc_id"), lit(4))
      val variant = when(m4 === 0,
          concat(col("text"),
            lit("\nsign up today\nsign up today\nsign up today")))
        .when(m4 === 1,
          concat(col("text"),
            lit("\n\nlimited time promotional offer block" +
              "\n\nlimited time promotional offer block")))
        .when(m4 === 2,
          concat(col("text"), lit(" buy now buy now buy now buy now")))
        .otherwise(col("text"))
      TextAnalysis.withRepetitionFlags(
          docs(s, d).select(col("doc_id"), variant.as("t")), "t",
          topNs = Seq(2 -> 0.20, 3 -> 0.18), dupNs = Seq(5 -> 0.15))
        .select(col("doc_id"), col("dup_line_frac"), col("dup_line_char_frac"),
          col("dup_para_frac"), col("dup_para_char_frac"),
          col("top_2gram_char_frac"), col("top_3gram_char_frac"),
          col("dup_5gram_char_frac"), col("rep_pass"))
    }),

    // chunked transfer-encoding round trip: each document is re-encoded as
    // a chunked HTTP response (64-char chunks, hex byte-count size lines)
    // entirely in builtin column functions, then httpBody reassembles it —
    // the identity oracle proves the de-chunk walk is exact, including the
    // byte-vs-char size accounting on multi-byte text (octet_length drives
    // the size lines; the walk counts raw bytes).
    "q135_http_chunked" -> ((s, d) => {
      val text = col("text")
      val n = greatest(ceil(length(text) / 64.0).cast("int"), lit(1))
      val chunks = transform(sequence(lit(1), n), i =>
        text.substr((i - lit(1)) * lit(64) + lit(1), lit(64)))
      val encoded = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"),
        array_join(transform(chunks, c =>
          concat(lower(hex(octet_length(c))), lit("\r\n"), c, lit("\r\n"))), ""),
        lit("0\r\n\r\n"))
      docs(s, d).select(col("doc_id"),
        graft.sources.Warc.httpBody(encoded.cast("binary")).as("text_plain"))
    }),

    "q129_http_extract" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val payload = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n"),
        lit("X-Crawl: graft\r\n\r\n"),
        lit("<html><body><h1>Doc "), id, lit("</h1>\r\n\r\n<p>"), col("text"),
        lit("</p></body></html>"))
      docs(s, d).select(col("doc_id"),
        TextAnalysis.stripHtml(
          graft.sources.Warc.httpBody(payload.cast("binary"))).as("text_plain"))
    }),

    // global token-budget selection: biggest documents first until the
    // budget fills. The Spark side is the DISTRIBUTED two-pass prefix sum
    // (range exchange + broadcast offsets — no single-partition window);
    // the oracle is the naive global cumulative window, so the hash match
    // proves the distributed decomposition computes the identical prefix.
    "q111_budget_select" -> ((s, d) =>
      Sampling.takeByBudget(
        TextAnalysis.withTokenCounts(docs(s, d), "text"),
        "est_bpe_tokens", 15000L,
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("n_chars"), col("est_bpe_tokens"),
          col("cum_cost"))),

    // epoch-weighted source upsampling: src0 x3 exactly, src1 x1.5 (every
    // row once + deterministic md5-keyed half), src2 x0.5, the rest
    // dropped. The oracle replays copies via generate_series and the
    // identical md5 threshold, so the mixture contract is hash-checked.
    "q112_upsample_mix" -> ((s, d) =>
      Sampling.upsampleSources(docs(s, d), "source", Seq("doc_id"),
        Map("src0" -> 3.0, "src1" -> 1.5, "src2" -> 0.5))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("epoch").cast("long").as("epoch"))),

    // temperature mixing at alpha = 0 (equal budget per source): weights
    // derive from the data's own lang counts through IEEE-exact divisions
    // only, so the oracle recomputes count -> weight -> md5 threshold ->
    // copies entirely in SQL and the whole knob is hash-checked
    "q126_temperature_mix" -> ((s, d) =>
      Sampling.mixByTemperature(docs(s, d), "lang", Seq("doc_id"),
          alpha = 0.0, targetRows = 1000L)
        .select(col("doc_id"), col("lang"),
          col("epoch").cast("long").as("epoch"))),

    // the EXACT incremental path over the same twin construction as q108:
    // the fingerprint anti-join must drop copy-1 (texts already in the
    // corpus) and keep all of copy-2 (disjoint word sets)
    "q113_incremental_exact" -> ((s, d) =>
      Dedup.dropExactAgainstCorpus(
        twinCopy(s, d, 1).unionByName(twinCopy(s, d, 2, perm = 8 until 16)),
        twinCopy(s, d, 0), Seq("text"))
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // the Bloom-prefiltered incremental path must produce EXACTLY the q113
    // survivor set (no false negatives; false positives only re-route rows
    // through the exact anti-join) — same twin construction, same oracle
    "q132_incremental_exact_bloom" -> ((s, d) =>
      Dedup.dropExactAgainstCorpusBloom(
        twinCopy(s, d, 1).unionByName(twinCopy(s, d, 2, perm = 8 until 16)),
        twinCopy(s, d, 0), Seq("text"))
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // URL ops feeding curation: canonical domain (closed-form constructible)
    // -> deterministic per-domain cap -> per-domain aggregate
    "q114_domain_cap" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("HTTPS://WWW.Example"), (id % 50).cast("string"),
        lit(".COM/Docs/"), id.cast("string"))
      val parts = Urls.withUrlParts(docs(s, d).withColumn("url", url), "url")
      Sampling.capPerGroup(parts, Seq("url_domain"), Seq("doc_id"), n = 5)
        .groupBy(col("url_domain")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))
    }),

    // one-pass corpus profile (rows/nulls/exact distincts/native-order
    // min-max per column) — the oracle recomputes every cell per column
    "q115_profile" -> ((s, d) =>
      graft.operators.Profiling.summarize(
        docs(s, d), Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // composed WEB-CURATION pipeline over the round-7 operators: raw
    // crawled page (constructed) -> stripHtml -> URL canonicalize + domain
    // -> per-domain cap -> token estimate on the CLEANED text -> global
    // token-budget selection. The oracle replays every stage in closed
    // form — the same whole-chain contract as q87/q104.
    "q116_web_pipeline" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), id,
        lit("</title><script>if (x < 2) { y(); }</script></head><body>"),
        lit("<!-- chrome --><h1>Title "), id, lit("</h1>\n<p>"), col("text"),
        lit("</p>&nbsp;<b>Bold&amp;Co</b></body></html>"))
      val url = concat(lit("HTTPS://WWW.Example"), (col("doc_id") % 40).cast("string"),
        lit(".COM/Docs/"), id, lit("?utm_source=x&id="), id)
      val page = docs(s, d).withColumn("html", html).withColumn("url", url)
      val cleaned = Urls.withUrlParts(
        TextAnalysis.withStrippedHtml(page, "html"), "url")
      val capped = Sampling.capPerGroup(cleaned, Seq("url_domain"), Seq("doc_id"), n = 8)
        .withColumn("est_tokens",
          ceil(length(col("text_plain")) / 4.0).cast("long"))
      Sampling.takeByBudget(capped, "est_tokens", 8000L,
        Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("url_domain"), col("est_tokens"),
          col("cum_cost"))
    }),

    // winnowing (MOSS rolling-hash) fingerprint: the DuckDB oracle replays
    // gram hashing (32-bit md5 prefix) and the sliding-window minima
    // selection list-for-list; output string-joined (the comparer cannot
    // sort raw list cells, the q35 bytearray lesson)
    "q117_winnowing" -> ((s, d) =>
      TextAnalysis.withWinnowing(docs(s, d), "text", k = 8, w = 4)
        .select(col("doc_id"),
          array_join(transform(col("winnow_fp"), v => v.cast("string")), ",")
            .as("winnow_fp"))),

    // winnowing-overlap pairs on the twin corpus: identical texts share the
    // whole fingerprint (containment exactly 1.0); distinct md5-word texts
    // can only chance-share a handful of 32-bit grams, far below the 0.5
    // containment gate — so the surviving pairs reduce to text equality
    "q118_winnow_overlap" -> ((s, d) =>
      Dedup.winnowingOverlapPairs(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        k = 8, w = 4, minContainment = 0.5)),

    // JSONL ingestion round-trip (explicit schema, FAILFAST): the corpus
    // dumped to JSON lines and read back through Ingest must be
    // byte-identical to the parquet original — string escaping, unicode,
    // and numeric fidelity all ride on this identity oracle
    "q119_jsonl_ingest" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_")
        .toString + "/docs"
      docs(s, d).write.json(dir)
      graft.sources.Ingest.jsonl(s, dir, docs(s, d).schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
    }),

    // CSV ingestion round-trip (explicit schema, FAILFAST, splittable):
    // the corpus plus a constructed column full of CSV landmines —
    // embedded delimiters, double quotes, unicode — dumped to CSV and
    // read back through Ingest must reproduce the source exactly. The
    // closed-form oracle recomputes the tricky column in DuckDB, so the
    // whole quote-escape round trip rides on the hash gate. Embedded
    // NEWLINES are deliberately absent: they are out of contract for the
    // splittable reader (Ingest.csv docs).
    "q121_csv_ingest" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_csv_")
        .toString + "/docs"
      val adversarial = docs(s, d).withColumn("tricky",
        concat(lit("a,b \"qu\"oted\" — ünïcodé ✓ "), col("lang"),
          lit(", t,,railing\"")))
      adversarial.write.option("header", true).csv(dir)
      graft.sources.Ingest.csv(s, dir, adversarial.schema)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"), col("tricky"))
    }),

    // model-based quality filter (CCNet/fastText-style linear scorer):
    // exact-binary-grid weights make the double sum order-independent, so
    // the logit hash-matches the DuckDB recompute exactly; the oracle IS
    // the model spelled out in SQL
    "q125_linear_quality" -> ((s, d) =>
      TextAnalysis.scoreLinear(docs(s, d), "text",
          weights = Map("the" -> 2.0, "scan" -> -1.0, "join" -> 1.5,
            "hash" -> 0.5, "window" -> -0.25, "spark" -> 3.0),
          bias = 0.25)
        .select(col("doc_id"), col("lin_score"))),

    // Gopher rule-filter flags (Rae et al. appendix A1.1) over constructed
    // variants: a bullets-heavy doc, a symbol/ellipsis-heavy doc, and a
    // too-short doc exercise the failing branches the whitespace-normal
    // fixture cannot reach; the oracle replays the construction AND every
    // flag comparison with DuckDB list lambdas
    "q130_gopher_quality" -> ((s, d) => {
      val v = col("doc_id") % 5
      val text2 = when(v === 0, concat(col("text"), lit(
          "\n- one\n- two\n- three\n- four\n- five\n- six\n- seven\n- eight\n- nine\n- ten")))
        .when(v === 1, concat(lit("# # # # # # # # # # # # "), col("text"),
          lit(" more words ...")))
        .when(v === 2, lit("tiny doc ..."))
        .otherwise(col("text"))
      TextAnalysis.withGopherFlags(
          docs(s, d).withColumn("text", text2), "text",
          minWords = 20, minStopwordHits = 1)
        .select(col("doc_id"), col("n_words"), col("flag_words"),
          col("flag_word_len"), col("flag_symbol"), col("flag_bullet"),
          col("flag_ellipsis"), col("flag_alpha"), col("flag_stop"),
          col("gopher_pass"))
    }),

    // exact duplicated-SPAN removal (Lee et al.): a 12-token boilerplate
    // suffix shared by half the corpus and a per-doc TRIPLED 5-token phrase
    // (self-overlapping 10-grams) must both vanish; raw docs pass through.
    // The oracle replays the WHOLE computation — gram counting, coverage
    // expansion, token rewrite — in DuckDB, so even coincidental fixture
    // 10-gram repeats stay in agreement.
    "q133_span_dedup" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val boiler = lit("subscribe to our newsletter for updates and follow us on social media")
      val phrase = concat_ws(" ", (1 to 5).map(j => concat(lit(s"p${j}x"), id)): _*)
      val m = col("doc_id") % 4
      val text2 = when(m === 0 || m === 1, concat_ws(" ", col("text"), boiler))
        .when(m === 2, concat_ws(" ", col("text"), phrase, phrase, phrase))
        .otherwise(col("text"))
      Dedup.removeDuplicateSpans(docs(s, d).withColumn("text", text2),
          "doc_id", "text", k = 10, minCount = 2L)
        .select(col("doc_id"), col("text_clean"))
    }),

    // exact stratified sampling: ceil(0.3 · |lang stratum|) docs per
    // language by md5 rank — the window replay is the oracle
    "q134_stratified_sample" -> ((s, d) =>
      Sampling.sampleFractionPerGroup(docs(s, d), Seq("lang"), Seq("doc_id"), 0.3)
        .select(col("doc_id"), col("lang"))),

    // UT1-style domain blocklist: listed registrable domains block the
    // whole site (bare + subdomain hosts), a listed full host blocks only
    // itself — both membership keys replayed closed-form in the oracle
    "q131_blocklist" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 3 === 1, lit("sub.")).otherwise(lit("")),
        lit("example"), (id % 50).cast("string"), lit(".com/page/"),
        id.cast("string"))
      val pages = docs(s, d).withColumn("url", url)
      Urls.dropBlockedDomains(pages, "url",
          Seq("example7.com", "example13.com", "sub.example4.com"))
        .select(id, Urls.host(col("url")).as("url_host"),
          Urls.domain(col("url")).as("url_domain"))
    }),

    // WET (Common Crawl extracted-text) round trip: the corpus exported as
    // multi-member-gzip WET through the distributed writer and read back
    // through the streaming record parser must reproduce every document
    // exactly — Content-Length byte framing, multi-byte UTF-8, embedded
    // newlines and empty documents all ride on this identity oracle
    "q124_wet_ingest" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_wet_")
        .toString + "/wet"
      val src = docs(s, d).select(
        concat(lit("http://corpus.local/doc/"),
          col("doc_id").cast("string")).as("uri"),
        col("text"))
      graft.sources.Warc.writeWet(src, "uri", "text", dir, gzip = true)
      graft.sources.Warc.readWet(s, dir)
        .select(col("target_uri"), col("text"))
    }),

    // composed WET pipeline — the RefinedWeb-style loop end-to-end on the
    // round-8 surface: export the corpus as multi-member-gzip WET, ingest
    // it back, score with the linear quality model, threshold, then fill a
    // global token budget best-first. The oracle replays every stage
    // closed-form (identity ingest + the q125 model + the naive cumulative
    // window), so the whole chain is hash-gated.
    "q128_wet_pipeline" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_wetpipe_")
        .toString + "/wet"
      val src = docs(s, d).select(
        concat(lit("http://corpus.local/doc/"),
          col("doc_id").cast("string")).as("uri"),
        col("text"))
      graft.sources.Warc.writeWet(src, "uri", "text", dir, gzip = true)
      val ing = graft.sources.Warc.readWet(s, dir)
        .select(col("target_uri"), col("text"))
      val scored = TextAnalysis.scoreLinear(ing, "text",
          weights = Map("the" -> 2.0, "scan" -> -1.0, "join" -> 1.5,
            "hash" -> 0.5, "window" -> -0.25, "spark" -> 3.0),
          bias = 0.25)
        .filter(col("lin_score") > 4.0)
        .withColumn("est_tokens",
          ceil(length(col("text")).cast("double") / 4.0).cast("long"))
      Sampling.takeByBudget(scored, "est_tokens", 8000L,
          Seq(col("lin_score").desc, col("target_uri").asc))
        .select(col("target_uri"), col("lin_score"), col("est_tokens"),
          col("cum_cost"))
    }),

    // Markdown stripping over constructed pages exercising every rule:
    // headers, blockquotes, fences (content kept), links, images, inline
    // code, emphasis, hr. Closed-form oracle like q110.
    "q120_markdown_strip" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val md = concat(
        lit("# Doc "), id, lit("\n\n> intro quote\n\n**Summary** of *item* "),
        id, lit(": see [ref "), id, lit("](http://example"), id,
        lit(".com/x) and ![fig "), id, lit("](img.png)\n\n---\n\n```\n"),
        col("text"), lit("\n```\n\n`tail_code` ~~old~~ end"))
      TextAnalysis.withStrippedMarkdown(
          docs(s, d).withColumn("md", md), "md")
        .select(col("doc_id"), col("text_plain"))
    }),

    // full transitive dedup clusters over THREE twin copies: every exact-text
    // group forms one component whose min label must propagate through the
    // connected-components fixpoint
    "q58_dedup_clusters" -> ((s, d) => {
      val corpus = twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1))
        .unionByName(twinCopy(s, d, 2))
      val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleN = 3, numPerms = 64, bands = 16, minEstJaccard = 0.5)
      Dedup.connectedComponents(
        corpus.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("cluster").as("dup_of"))
    }),
    // twin-corpus simhash: identical texts hash identically (hamming 0) and
    // the pigeonhole LSH must surface every within-group pair; disjoint word
    // sets keep all other pairs far above maxHamming
    "q55_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        maxHamming = 3)),
    // end-to-end near-dup REMOVAL on the twin corpus: survivors are exactly
    // the min-id doc of each exact-text group (DedupSpec pins the real-corpus
    // semantics; ProfileOne keeps the old real-corpus workload measurable)
    "q69_dedup_drop" -> ((s, d) =>
      Dedup.dropNearDuplicates(
        twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1)), "doc_id", "text",
        shingleN = 3, numPerms = 64, bands = 16, minEstJaccard = 0.5)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    // the embedding-space twin — oracled: union an id-shifted copy of the
    // corpus (every vector gains an identical twin; identical vectors share
    // every LSH bucket regardless of hash family, so the pair is ALWAYS
    // found and rescored to cosine 1.0) → survivors are exactly the
    // original ids
    "q72_embed_dedup_drop" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val twins = e.withColumn("vec_id", col("vec_id") + 100000L)
      // fine buckets (2^12 per table) keep the candidate space tiny; exact
      // twins share every bucket at ANY plane count, so recall of the
      // oracle-relevant pairs is unaffected
      Similarity.dropNearDupVectors(e.unionByName(twins), "vec_id", "embedding",
        minCosine = 0.98, planes = 12, tables = 2)
        .select(col("vec_id"))
    }),
    // word-level blocking (candidateShingleN=1: signatures depend only on
    // the word SET, so the three perm-variants of a text are guaranteed
    // candidates) + exact 3-gram rescore; the perms are chosen so the exact
    // Jaccards are closed-form: same perm → 1.0, identity↔swap-last-two →
    // 4/8 = 0.5, reversed↔anything → 0.0 — all exact binary fractions
    "q27_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        twinCopy(s, d, 0)
          .unionByName(twinCopy(s, d, 1, perm = Seq(0, 1, 2, 3, 4, 5, 7, 6)))
          .unionByName(twinCopy(s, d, 2, perm = 7 to 0 by -1)),
        "doc_id", "text", shingleN = 3,
        numPerms = 64, bands = 16, candidateShingleN = 1)
        .select(col("id_a"), col("id_b"),
          (floor(col("jaccard") * 10000) / 10000).as("jaccard_4dp"))),
    "q28_embed_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(emb(s, d), "vec_id", "embedding", topN = 50)
        .select(col("id_a"), col("id_b"))),
    // C4-style line-level boilerplate removal: inject a corpus-wide header
    // (always frequent), a promo line on even docs (frequent at any sf) and
    // a per-source footer (rare at sf0.01) — the operator must drop exactly
    // the >= minDocs lines and preserve order; the oracle replays the
    // construction and the frequency threshold with exact strings
    "q102_line_dedup" -> ((s, d) => {
      val nl = lit("\n")
      val decorated = docs(s, d).select(col("doc_id"),
        concat(lit("START COMMON HEADER"), nl, col("text"), nl,
          when(col("doc_id") % 2 === 0, lit("PROMO LINE"))
            .otherwise(concat(lit("FOOTER "), col("source")))).as("text"))
      Dedup.dropFrequentLines(decorated, "doc_id", "text", minDocs = 50L)
        .select(col("doc_id"), col("text_clean"))
    }),

    // the SAME construction through the guard branch (maxBroadcastLines=0
    // forces the distributed membership join that replaces the single-row
    // broadcast array on adversarial frequent sets) — identical semantics,
    // identical oracle, so the fallback path carries its own hash gate
    "q122_line_dedup_guarded" -> ((s, d) => {
      val nl = lit("\n")
      val decorated = docs(s, d).select(col("doc_id"),
        concat(lit("START COMMON HEADER"), nl, col("text"), nl,
          when(col("doc_id") % 2 === 0, lit("PROMO LINE"))
            .otherwise(concat(lit("FOOTER "), col("source")))).as("text"))
      Dedup.dropFrequentLines(decorated, "doc_id", "text", minDocs = 50L,
          maxBroadcastLines = 0L)
        .select(col("doc_id"), col("text_clean"))
    }),

    // ---- similarity search --------------------------------------------
    // incremental EMBEDDING dedup against an ingested corpus — the vector
    // twin of q108/q113: the increment is exact twins of every corpus
    // vector (cosine 1.0; identical vectors share every LSH bucket, so
    // recall is guaranteed, not probabilistic) plus REVERSED vectors
    // (max reversed-vs-corpus cosine over the testdata is 0.62 at every
    // sf — measured, far under the 0.9 threshold). Survivors must be
    // exactly the reversed half; the oracle is closed-form.
    "q123_incremental_vec_dedup" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"), col("label"))
      val newVecs =
        e.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
          .unionByName(e.select((col("vec_id") + 2000000L).as("vec_id"),
            reverse(col("embedding")).as("embedding"), col("label")))
      Similarity.dropVectorsAgainstCorpus(newVecs, e, "vec_id", "embedding",
          minCosine = 0.9)
        .select(col("vec_id"), col("label"))
    }),
    "q29_ann_brute_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(
          emb(s, d), emb(s, d).filter(col("vec_id") < 3L), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))),
    // SemDeDup with the twin oracle: exact twins (id + 1000000) of vectors
    // with vec_id % 5 == 0 assign to their original's cluster by
    // construction (identical vectors share every centroid score and the
    // tie-break) and score cosine 1.0 >= 0.99 against an earlier id, so
    // every twin is dropped; the corpus itself has no 0.99-cosine pair
    // (measured max 0.513 at sf0.01), so all originals survive. The
    // survivors are therefore closed-form: exactly the original corpus.
    "q138_semdedup" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"), col("label"))
      val twins = e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"),
          col("label"))
      Similarity.semDedup(e.unionByName(twins), "vec_id", "embedding",
          k = 8, minCosine = 0.99, iters = 1)
        .select(col("vec_id"), col("label"))
    }),
    // LSH top-k, oracled by the twin construction (the embedding-space
    // analog of q25/q26's text twins): 10 exact copies of each query vector
    // join the corpus at id offsets j*100000. Identical vectors share every
    // sign bucket (recall guaranteed at ANY plane count/seed) and their
    // cosine — bit-identical across the 10 twins — beats every original by
    // >= 0.02 (the corpus has no >= 0.98-cosine pair, per q72's oracle), so
    // ranks 1..10 are exactly the twins in id order. Real-corpus recall
    // stays bounded in SimilaritySpec.
    "q30_ann_lsh_topk" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3L)
      val twins = qs.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(10L))).as("j"))
        .select((col("vec_id") + col("j") * 100000L).as("vec_id"), col("embedding"))
      Similarity.lshTopK(e.unionByName(twins), qs, "vec_id", "embedding",
          k = 10, planes = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),
    // int8-quantized candidate pass + exact float rescore, oracled by the
    // same twin construction as q30: identical twins quantize identically,
    // tie at the max approximate score (max query-corpus cosine in the
    // testdata is ~0.41, far below any quantization error band), so all 10
    // survive the k*rescoreFactor cut and rescore to the exact float
    // maximum. Real-corpus recall stays bounded in SimilaritySpec.
    "q92_ann_quantized" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3L)
      val twins = qs.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(10L))).as("j"))
        .select((col("vec_id") + col("j") * 100000L).as("vec_id"), col("embedding"))
      Similarity.quantizedTopK(e.unionByName(twins), qs, "vec_id", "embedding",
          k = 10, rescoreFactor = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // PQ ANN with the twin oracle: a twin encodes to the query's own codes
    // (identical bytes through the same argmax), and max-inner-product
    // sub-assignment makes the twin's ADC self-score the per-query maximum,
    // so all 10 twins are guaranteed candidates; the exact rescore then
    // ranks them 1..10 by id (cosine 1.0 vs < 1). rescoreFactor 8 leaves
    // room for corpus vectors that TIE the maximal ADC score (coarse codes
    // quantize many vectors onto few score values).
    "q127_ann_pq" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3L)
      val twins = qs.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(10L))).as("j"))
        .select((col("vec_id") + col("j") * 100000L).as("vec_id"), col("embedding"))
      val cb = Similarity.trainPqCodebooks(e, "vec_id", "embedding",
        m = 8, ksub = 16, iters = 1)
      Similarity.pqTopK(e.unionByName(twins), qs, "vec_id", "embedding",
          k = 10, cb, rescoreFactor = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // IVF ANN with the twin oracle: a twin is assigned to the centroid
    // nearest the query vector (identical bytes → identical argmin), and the
    // query always probes that cell first (nprobe >= 1), so the 10 twins are
    // guaranteed candidates and outrank every original (cosine 1.0 vs
    // <= 0.41). Centroid training stays on the deterministic path.
    "q53_ann_ivf_topk" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3L)
      val twins = qs.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(10L))).as("j"))
        .select((col("vec_id") + col("j") * 100000L).as("vec_id"), col("embedding"))
      val corpus = e.unionByName(twins)
      val cents = Similarity.trainIvfCentroids(e, "vec_id", "embedding", k = 8, iters = 1)
      Similarity.ivfTopK(corpus, qs, "vec_id", "embedding",
          k = 10, cents, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ---- S8 per-key variant: partition sizes from a data scan ----------
    "q54_partition_size_keys" -> ((s, d) =>
      graft.operators.PartitionSizes.estimate(li(s, d), Seq("l_orderkey"))),

    // ---- as-of join (time-series point-in-time lookup) -----------------
    // for each purchase, the latest preceding click by the same user;
    // oracle = DuckDB's native ASOF LEFT JOIN
    "q56_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      graft.operators.AsOf.joinBackward(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
          col("click_id"))
    }),

    // ---- interval join: clicks within 1h after an error, same user -----
    "q57_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("click_us"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
          unix_micros(col("ts")).as("err_start"),
          (unix_micros(col("ts")) + 3600000000L).as("err_end"))
      graft.operators.AsOf.intervalJoin(clicks, errors, Seq("user_id"),
          "click_us", "err_start", "err_end", bucketWidth = 3600000000L)
        .select(col("user_id"), col("click_id"), col("error_id"))
    }),

    // ---- §2.5: last-modified-timestamp feature column ------------------
    "q52_last_modified" -> ((s, d) =>
      Normalize.withLastModifiedTimestamp(li(s, d), Seq("l_orderkey"), col("l_shipdate"))
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("last_modified_timestamp"), "yyyy-MM-dd").as("last_modified"))),

    // ---- text analysis -------------------------------------------------
    "q31_langid" -> ((s, d) =>
      TextAnalysis.withLangId(docs(s, d), "text")
        .select(col("doc_id"), col("lang_pred"), col("lang_pred_score"))),
    "q32_text_quality" -> ((s, d) =>
      TextAnalysis.withQuality(docs(s, d), "text")
        .select(col("doc_id"), col("n_words"), col("n_punct"), col("n_stopwords"),
          col("mean_word_len"), col("quality_score"))),
    "q33_token_count" -> ((s, d) =>
      TextAnalysis.withTokenCounts(docs(s, d), "text")
        .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("est_bpe_tokens"))),
    "q34_fingerprint" -> ((s, d) =>
      TextAnalysis.withFingerprint(docs(s, d), "text")
        .select(col("doc_id"), col("fingerprint"))),

    // ---- multimodal plumbing ------------------------------------------
    // REAL multimodal metadata: blobs carry genuine PNG/GIF/JPEG headers
    // (constructed from doc data via hex built-ins, so DuckDB can rebuild
    // the identical bytes), and the engine PARSES dimensions/channels back
    // out of the bytes headers-only (ImageHeaders — no codec library);
    // the oracle replays the dims arithmetically
    "q35_blob_metadata" -> ((s, d) => {
      val w = (col("doc_id") % 1024 + 1).cast("int")
      val h = (col("doc_id") % 768 + 1).cast("int")
      val txt = col("text").cast("binary")
      // PNG: signature + IHDR(len,type) + w + h + bitdepth 8, rgba(6)
      val png = concat(unhex(lit("89504E470D0A1A0A0000000D49484452")),
        be32(w), be32(h), unhex(lit("0806000000")), txt)
      // GIF89a logical screen descriptor: LE u16 dims, palette (1 channel)
      val gif = concat(unhex(lit("474946383961")), le16(w), le16(h), txt)
      // JPEG: SOI + APP0(JFIF) + SOF0 (precision 8, 3 components)
      val jpg = concat(
        unhex(lit("FFD8FFE000104A46494600010100000100010000FFC0001108")),
        be16(h), be16(w), unhex(lit("03011100021101031101")), txt)
      // WEBP VP8L: RIFF sizes are the real payload sizes, dims+alpha packed
      // into the lossless bitstream header LE32 (version bits 0)
      val alpha = when(col("doc_id") % 8 === 3, 1).otherwise(0)
      val bits = (w - 1) + (h - 1) * lit(16384) + alpha * lit(268435456)
      val blen = octet_length(col("text"))
      val webp = concat(unhex(lit("52494646")), le32(blen + 17),
        unhex(lit("57454250")), unhex(lit("5650384C")), le32(blen + 5),
        unhex(lit("2F")), le32(bits), txt)
      val m4 = col("doc_id") % 4
      val blob = when(m4 === 0, png).when(m4 === 1, gif)
        .when(m4 === 2, jpg).otherwise(webp)
      Multimodal.withImageDims(
          Multimodal.withBlobMetadata(docs(s, d).withColumn("blob", blob), "blob"),
          "blob")
        // the blob is in the output hex-encoded: the oracle rebuilds the
        // exact bytes, so hash-compare proves byte-identical construction
        // (raw binary would crash the comparer's pandas sort on bytearray)
        .select(col("doc_id"), col("byte_len"), hex(col("blob")).as("blob_hex"),
          col("container"),
          col("width"), col("height"), col("channels"), col("img_format"))
    }),

    // REAL audio metadata: blobs carry genuine RIFF/WAVE headers built from
    // doc data; the engine walks the chunks back out (AudioHeaders) and the
    // oracle replays channels/rate/frames/duration arithmetically
    "q105_audio_meta" -> ((s, d) => {
      val ch = (col("doc_id") % 2 + 1).cast("int")
      val rate = when(col("doc_id") % 3 === 0, 8000)
        .when(col("doc_id") % 3 === 1, 16000).otherwise(44100).cast("int")
      val txt = col("text").cast("binary")
      val dataSize = length(txt).cast("int")
      val wav = concat(
        unhex(lit("52494646")), le32(dataSize + 36), unhex(lit("57415645")),
        unhex(lit("666D7420")), le32(lit(16)), le16(lit(1)), le16(ch),
        le32(rate), le32(rate * ch * 2), le16(ch * 2), le16(lit(16)),
        unhex(lit("64617461")), le32(dataSize), txt)
      Multimodal.withAudioMeta(
          docs(s, d).withColumn("blob", wav).select(col("doc_id"), col("blob")), "blob")
        .select(col("doc_id"), col("channels"), col("sample_rate"), col("bits"),
          col("n_frames"), col("duration_ms"))
    }),

    // REAL video metadata: blobs carry a genuine ISO BMFF prefix (ftyp +
    // moov holding mvhd v0 AND a trak/tkhd v0 with 16.16 fixed-point
    // dimensions) built from doc data; the engine walks the boxes back out
    // (Mp4Headers) and the oracle replays the metadata arithmetically
    "q106_video_meta" -> ((s, d) => {
      val ts = when(col("doc_id") % 3 === 0, 600)
        .when(col("doc_id") % 3 === 1, 1000).otherwise(90000).cast("int")
      val dur = (col("n_chars") * 100).cast("int")
      val w = (col("doc_id") % 1280 + 1).cast("int")
      val h = (col("doc_id") % 720 + 1).cast("int")
      val tkhd = concat(
        unhex(lit("0000005C746B6864 00000003 00000000 00000000 00000001 00000000"
          .replaceAll(" ", ""))), // size 92, v0, flags, times, track 1, resv
        be32(dur),
        unhex(lit("00" * 16)), // reserved + layer/alternate/volume/reserved
        unhex(lit(("00010000 00000000 00000000 00000000 00010000 00000000 " +
          "00000000 00000000 40000000").replaceAll(" ", ""))), // unity matrix
        be32(w * 65536), be32(h * 65536)) // 16.16 fixed point
      val mp4 = concat(
        unhex(lit("0000001066747970 69736F6D 00000000".replaceAll(" ", ""))),
        unhex(lit("000000D86D6F6F76")), // moov, size 8 + 108 + 100
        unhex(lit("0000006C6D766864 00000000 00000000 00000000".replaceAll(" ", ""))),
        be32(ts), be32(dur),
        unhex(lit("00" * 80)), // rate/volume/reserved/matrix/next-track zeros
        unhex(lit("000000647472616B")), // trak, size 8 + 92
        tkhd,
        col("text").cast("binary")) // mdat-less tail; walk must not care
      Multimodal.withVideoMeta(
          docs(s, d).withColumn("blob", mp4).select(col("doc_id"), col("blob")), "blob")
        .select(col("doc_id"), col("vbrand"), col("vtimescale"),
          col("vduration"), col("vduration_ms"), col("vwidth"), col("vheight"))
    }),

    // ---- S1-S4/P2-P6/S10: DSv2 source + DSv1 sink end-to-end ----------
    // write lineitem through the graft sink (token-sorted, token column
    // kept), read back through the graft DSv2 source with pk pushdown —
    // the full reference read/write surface in one query
    "q38_dsv2_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_dsv2_").toString + "/lineitem"
      li(s, d).write.format("graft")
        .option("path", out).option("pk", "l_orderkey").option("ck", "l_linenumber")
        .option("partitions", "8")
        .mode(SaveMode.Append).save()
      s.read.format("graft")
        .option("path", out).option("pk", "l_orderkey").option("ck", "l_linenumber")
        .load()
        .filter(col("l_orderkey").isin(1L, 7L, 42L, 4096L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),
    // metadata-only scan (S8): row counts from parquet footers must equal
    // the data row count — the Index.db-not-Data.db read path
    "q39_meta_rowcount" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_meta_").toString + "/orders"
      ord(s, d).write.format("graft")
        .option("path", out).option("pk", "o_orderkey").option("partitions", "4")
        .mode(SaveMode.Append).save()
      s.read.format("graft-metadata").option("path", out).load()
        .agg(sum(col("rows")).as("total_rows"))
    }),

    // ---- window functions ----------------------------------------------
    "q36_window_running" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, d).select(
        col("event_id"), col("user_id"),
        row_number().over(w).as("rn"),
        sum(col("value").cast("decimal(18,6)")).over(wf).cast("double").as("run_sum"),
        lag(col("value"), 1).over(w).as("prev_value"))
    }),

    // ---- S5/§2.8/W9 end-to-end: upsert + tombstone + LWW normalized read
    // three writes (base @t1, quantity-bumped subset @t2, partition deletes
    // @t3) through the token-sorted sink, then the reference's full read
    // semantics (LWW collapse, time-aware tombstone purge) via readNormalized
    "q51_upsert_delete_read" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft_norm_").toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L)))
      TokenSortedWriter.writeDeletes(
        base.filter(col("l_orderkey") % 97 === 0).select(col("l_orderkey")),
        schema, out, Some(3000L))
      TokenSortedWriter.readNormalized(s, schema, out)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // row-level tombstones (pk + ck) coexisting with partition tombstones:
    // delete ONE row of selected partitions, then whole other partitions
    "q70_row_deletes" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft_rowdel_").toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      TokenSortedWriter.writeDeletes(
        base.filter(col("l_linenumber") === 1 && col("l_orderkey") % 3 === 0)
          .select(col("l_orderkey"), col("l_linenumber")),
        schema, out, Some(2000L), rowLevel = true)
      TokenSortedWriter.writeDeletes(
        base.filter(col("l_orderkey") % 97 === 0).select(col("l_orderkey")),
        schema, out, Some(3000L))
      TokenSortedWriter.readNormalized(s, schema, out)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // compaction: overlapping upsert generations folded into one disjoint
    // generation; the clustered no-shuffle aggregation then applies to the
    // COMPACTED table (the 100 TB maintenance loop, end-to-end + oracled)
    "q71_compact_clustered" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val src = java.nio.file.Files.createTempDirectory("graft_cmp_src_").toString + "/lineitem"
      val dst = java.nio.file.Files.createTempDirectory("graft_cmp_dst_").toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, src, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        schema, src, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L)))
      TokenSortedWriter.compact(s, schema, src, dst,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      s.read.format("graft")
        .option("path", dst).option("pk", "l_orderkey").option("ck", "l_linenumber")
        .option("clustered", "true").load()
        .groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 2).as("sum_qty"))
    }),

    // multimodal frame sampling: metadata-only frame fan-out (stride +
    // per-blob cap) — the explode itself is the operator under test, so the
    // oracle recomputes the same fan-out from byte lengths
    "q76_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(
        docs(s, d).select(col("doc_id"), repeat(col("text"), 50).cast("binary").as("blob")),
        "blob", stride = 4, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"))),

    // co-located join: both sides written on the SAME exact ring splits, so
    // the join zips aligned partitions — zero shuffle of either table
    // (operators/Colocated.scala; the 100 TB "pre-partition to co-locate")
    "q75_colocated_join" -> ((s, d) => {
      val dirA = java.nio.file.Files.createTempDirectory("graft_colA_").toString + "/orders"
      val dirB = java.nio.file.Files.createTempDirectory("graft_colB_").toString + "/lagg"
      val skA = CqlSchema("orders_rs", Seq("o_orderkey"))
      val skB = CqlSchema("lineagg_rs", Seq("l_orderkey"))
      TokenSortedWriter.write(
        ord(s, d).select(col("o_orderkey"), col("o_totalprice")),
        skA, dirA, SaveMode.Append,
        TokenSortedWriter.WriteConf(ringSplits = 4, keepTokenColumn = true))
      TokenSortedWriter.write(
        li(s, d).groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_lines"), dsum(col("l_quantity"), 2).as("sum_qty")),
        skB, dirB, SaveMode.Append,
        TokenSortedWriter.WriteConf(ringSplits = 4, keepTokenColumn = true))
      graft.operators.Colocated.join(s, dirA, skA, dirB, skB)
    }),

    // salted skew join: per-row salt on the fact side, dim replicated x8,
    // join key becomes (key, salt) — result is row-for-row identical to the
    // plain join (each fact row meets exactly one replica), so the oracle is
    // simply the unsalted SQL join; the aggregation pins the comparison
    "q77_salted_join" -> ((s, d) => {
      val dim = ord(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li(s, d), dim, Seq("l_orderkey"), salt = 8)
        .groupBy(col("o_orderpriority")).agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 2).as("sum_qty"))
    }),

    // ---- §2.12 extension: streaming semantics in batch ------------------
    // identical code path to the streaming operators (EventStreamsSpec
    // proves stream == batch); the oracle checks the batch side
    "q40_window_hourly" -> ((s, d) =>
      graft.streaming.EventStreams.windowedTypeCounts(ev(s, d), "1 hour")),
    "q41_sessionize" -> ((s, d) =>
      graft.streaming.EventStreams.sessionizeBatch(ev(s, d), gapSeconds = 1800)),
    // stream-static enrichment (batch twin; EventStreamsSpec proves the same
    // call over a MemoryStream matches): firehose never shuffles, only the
    // broadcast dimension moves
    "q78_stream_enrich" -> ((s, d) =>
      graft.streaming.EventStreams.enrichWithDim(
          ev(s, d),
          cust(s, d).select(col("c_custkey").as("user_id"), col("c_mktsegment")),
          Seq("user_id"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))),
    // stream-stream event-time correlation (batch twin): purchases within an
    // hour after a click by the same user — the band in the join condition is
    // what bounds streaming join state
    "q79_stream_correlate" -> ((s, d) => {
      val e = ev(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
      graft.streaming.EventStreams.correlateStreams(
          clicks, buys, "user_id", withinSeconds = 3600L, "click_ts", "buy_ts")
        .select(col("user_id"), col("click_id"), col("buy_id"))
    }),

    // ---- §2.11/§2.4 Layer-B widening -----------------------------------
    // pivot: one column per order status, counted per order-year
    "q42_pivot" -> ((s, d) =>
      ord(s, d).withColumn("y", year(col("o_orderdate")))
        .groupBy(col("y")).pivot("o_orderstatus", Seq("F", "O", "P")).count()
        .select(col("y"), coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"), coalesce(col("P"), lit(0L)).as("P"))),
    // cube over two dims with grouping flags
    "q43_cube" -> ((s, d) =>
      ord(s, d).join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .cube(col("c_mktsegment"), col("o_orderpriority")).agg(
          count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("revenue"),
          grouping(col("c_mktsegment")).cast("long").as("g_seg"),
          grouping(col("o_orderpriority")).cast("long").as("g_pri"))),
    // exact percentiles (linear interpolation — same contract as DuckDB
    // quantile_cont)
    "q44_percentile" -> ((s, d) =>
      li(s, d).groupBy(col("l_returnflag")).agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_quantity, 0.99)").as("p99"))),
    // explode/unnest
    "q45_explode" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"), explode(split(col("p_type"), " ")).as("word"))),
    // ordered string aggregation via sorted collect_list
    "q46_string_agg" -> ((s, d) =>
      Tables.supplier(s, d).groupBy(col("s_nationkey")).agg(
        concat_ws(",", array_sort(collect_list(col("s_name")))).as("names"),
        count(lit(1)).as("n_sup"))),
    // conditional aggregation (FILTER/count_if analog)
    "q47_conditional_agg" -> ((s, d) =>
      li(s, d).groupBy(col("l_linestatus")).agg(
        count(when(col("l_discount") > 0.05, 1)).as("n_discounted"),
        dsum(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(lit(0.0)))
          .as("returned_value"),
        count(when(col("l_quantity") >= 25.0, 1)).as("n_bulk"))),
    // regexp battery
    "q48_regexp" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_brand"), "[0-9]+", "#").as("brand_masked"),
        col("p_name").rlike("red|blue").as("has_color"))),
    // SQL-layer subqueries (EXISTS / scalar subquery via spark.sql)
    "q49_sql_subquery" -> ((s, d) => {
      ord(s, d).createOrReplaceTempView("orders_v")
      li(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders_v o
        WHERE EXISTS (SELECT 1 FROM lineitem_v l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders_v)
      """)
    }),
    // null-handling scalar battery
    "q50_null_fns" -> ((s, d) =>
      ord(s, d).join(cust(s, d).filter(col("c_acctbal") > 5000.0),
          col("o_custkey") === col("c_custkey"), "left")
        .select(
          col("o_orderkey"),
          coalesce(col("c_mktsegment"), lit("NONE")).as("seg"),
          col("c_custkey").isNull.as("no_rich_cust"),
          when(col("c_acctbal") > 7500.0, col("c_acctbal")).as("very_rich_bal"),
          nvl2(col("c_custkey"), lit("rich"), lit("other")).as("richness"))),

    // ---- further §2.11/§2.5 oracle coverage ----------------------------
    // distinct-set aggregation with deterministic ordering
    "q59_array_agg" -> ((s, d) =>
      ord(s, d).groupBy(col("o_orderpriority")).agg(
        concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
        concat_ws("|", array_sort(collect_set(year(col("o_orderdate")).cast("string"))))
          .as("years"))),
    // window-function battery: dense_rank, ntile, first/last over frames
    "q60_window_battery" -> ((s, d) => {
      val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      cust(s, d).select(
        col("c_custkey"), col("c_mktsegment"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        first(col("c_custkey")).over(w).as("richest_cust"),
        (col("c_acctbal") - max(col("c_acctbal")).over(
          Window.partitionBy(col("c_mktsegment")))).as("gap_to_max"))
    }),
    // date arithmetic battery
    "q61_date_arith" -> ((s, d) =>
      ord(s, d).select(
        col("o_orderkey"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        ((lit(1998) - year(col("o_orderdate"))) * 12 + (lit(1) - month(col("o_orderdate"))))
          .cast("long").as("months_to_98"),
        dayofweek(col("o_orderdate")).cast("int").as("dow"),
        weekofyear(col("o_orderdate")).cast("int").as("woy"))),
    // string-function battery
    "q62_string_fns" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        lpad(col("p_brand"), 12, "_").as("brand_pad"),
        translate(col("p_type"), "aeiou", "AEIOU").as("type_vowels"),
        repeat(col("p_brand"), 2).as("brand2"),
        element_at(split(col("p_type"), " "), -1).as("last_word"),
        reverse(col("p_brand")).as("brand_rev"))),

    // higher-order array functions (transform/filter/aggregate/zip_with),
    // all codegen-friendly builtins, oracled against DuckDB list lambdas
    "q73_higher_order" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        array_join(transform(split(col("p_name"), " "), x => upper(x)), ",").as("upper_tags"),
        size(filter(split(col("p_name"), " "), x => length(x) > 4)).cast("long").as("n_long"),
        aggregate(sequence(lit(1), col("p_size")), lit(0L), (a, x) => a + x).as("tri"),
        array_join(zip_with(split(col("p_name"), " "), split(col("p_name"), " "),
          (a, b) => concat(a, lit("-"), b)), ",").as("zipped"))),
    // explicit GROUPING SETS with grouping flags (beyond rollup/cube)
    "q74_grouping_sets" -> ((s, d) => {
      ord(s, d).join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .createOrReplaceTempView("ord_cust")
      s.sql("""
        SELECT c_mktsegment, o_orderpriority,
               COUNT(*) AS n,
               CAST(grouping(c_mktsegment) AS BIGINT) AS g_seg,
               CAST(grouping(o_orderpriority) AS BIGINT) AS g_pri
        FROM ord_cust
        GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())""")
    }),

    // ---- rollup ---------------------------------------------------------
    "q37_rollup" -> ((s, d) =>
      ord(s, d).join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("n_name")).agg(
          dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"),
          grouping(col("n_name")).cast("long").as("grp"))),

    // ---- complex-type round-trip battery -------------------------------
    // The reference's largest test surface (EndToEndTests.java:988 nested
    // map/set, :1614 deep-nested UDT, spark-converter module): composite
    // columns written through the graft sink and read back through the DSv2
    // source, then projected to flat scalars the DuckDB oracle recomputes
    // from `part` directly. The round-trip is the unit under test — any
    // storage-layer corruption of array order, map entries, struct fields,
    // decimal scale, or date/timestamp precision breaks the hash match.
    "q63_typed_roundtrip" -> ((s, d) => {
      val rt = typedRoundTrip(s, d)
      rt.select(
        col("p_partkey"),
        size(col("tags")).cast("long").as("n_tags"),
        element_at(col("tags"), 1).as("first_tag"),
        // set-as-array re-dedup: duplicates introduced before the write
        // must still dedup away after the round-trip
        array_join(array_sort(array_distinct(col("tag_set"))), ",").as("distinct_tags"),
        element_at(col("attrs"), "size").as("size_attr"),
        col("brand_info.brand").as("brand"),
        col("brand_info.price").cast("double").as("price"),
        date_format(col("d"), "yyyy-MM-dd").as("d_iso"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_iso"),
        col("note"))
    }),
    // map explode: every (key, value) entry must survive the round-trip
    "q64_typed_map_explode" -> ((s, d) =>
      typedRoundTrip(s, d)
        .select(col("p_partkey"), explode(col("attrs")).as(Seq("k", "v")))),
    // nested array<struct> positional explode: order and both struct fields
    "q65_typed_nested_explode" -> ((s, d) =>
      typedRoundTrip(s, d)
        .select(col("p_partkey"), posexplode(col("words")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos"), col("word.w").as("w"), col("word.len").as("len"))),

    // range tombstones (§2.8, reference testRangeTombstoneInt:682): per
    // partition, rows with clustering key in [5000, 12000] are range-
    // deleted @2000; a subset [5000, 8000] is reinserted @3000 with a
    // bumped price and must survive the older tombstone (time rule)
    "q107_range_tombstones" -> ((s, d) => {
      val schema = CqlSchema("orders_rt", Seq("o_custkey"), Seq("o_orderkey"))
      val out = java.nio.file.Files.createTempDirectory("graft_rt_").toString + "/orders"
      val base = ord(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      TokenSortedWriter.write(base, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      TokenSortedWriter.writeRangeDeletes(
        base.filter(col("o_custkey") % 10 === 0)
          .select(col("o_custkey"),
            lit(5000L).as("ck_min"), lit(12000L).as("ck_max")),
        schema, out, writetimeMicros = Some(2000L))
      TokenSortedWriter.write(
        base.filter(col("o_custkey") % 10 === 0 &&
            col("o_orderkey") >= 5000L && col("o_orderkey") <= 8000L)
          .withColumn("o_totalprice", col("o_totalprice") + 5000.0),
        schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(3000L)))
      TokenSortedWriter.readNormalized(s, schema, out)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("totalprice"))
    }),

    // exotic CQL type semantics (reference SparkSqlTypeConverter.java:33-139,
    // CqlField.java:57): uuid/timeuuid surface as strings but COMPARE as
    // java.util.UUID (signed msb/lsb — neither lexicographic string order
    // nor DuckDB's unsigned UUID order), varint → decimal(38,0), inet →
    // 4-byte binary. The fixture round-trips through the token-sorted sink
    // and graft source with a pushed pk range filter, then materializes the
    // UUID comparison as rank columns so hash-compare verifies the ORDER.
    // (The global rank window is test-scale only; at 100 TB a rank over the
    // whole table would be a sort — the semantics live in Uuid.sortKey,
    // which is shuffle-free.)
    "q100_exotic_types" -> ((s, d) => {
      val schema = CqlSchema("exotic", Seq("o_orderkey"))
      val df = ord(s, d).filter(col("o_orderkey") <= 8000L).select(
        col("o_orderkey"),
        graft.functions.Uuid.format(md5(concat(lit("u"), col("o_orderkey")))).as("u"),
        graft.functions.Uuid.format(md5(concat(lit("t"), col("o_orderkey")))).as("tu"),
        unhex(lpad(hex(lit(167772160L) + col("o_orderkey") % 16581375L), 8, "0")).as("inet"),
        concat(col("o_orderkey").cast("string"), lit("00000000000000000000123"))
          .cast("decimal(38,0)").as("varint"))
      val out = java.nio.file.Files.createTempDirectory("graft_exotic_").toString + "/exotic"
      TokenSortedWriter.write(df, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4))
      val back = s.read.format("graft").option("path", out)
        .option("pk", "o_orderkey").option("table", "exotic")
        .option("cqlTypes", "u:uuid,tu:timeuuid,inet:inet,varint:varint")
        .load()
        .filter(col("o_orderkey") <= 4000L)
      import graft.functions.Uuid
      back.select(
        col("o_orderkey"), col("u"), col("tu"),
        // hex at the output edge only — the inet column is genuine 4-byte
        // binary through the whole pipeline; raw bytes crash the comparer
        hex(col("inet")).as("inet_hex"),
        // decimal(38,0) through the whole pipeline; string only at the output
        // edge (24-digit decimals fall out of int64 and hash as floats in the
        // comparer otherwise)
        col("varint").cast("string").as("varint"),
        Uuid.msb(col("u")).as("u_msb"), Uuid.lsb(col("u")).as("u_lsb"),
        row_number().over(Window.orderBy(Uuid.msb(col("u")), Uuid.lsb(col("u"))))
          .cast("long").as("rank_u"),
        row_number().over(Window.orderBy(Uuid.msb(col("tu")), Uuid.lsb(col("tu"))))
          .cast("long").as("rank_tu"))
    }),

    // RandomPartitioner ring (reference CassandraTypesImplementation.java
    // exposes both partitioners; RandomPartitionerTest): identical write
    // pipeline on md5 abs-BigInteger tokens carried as 16-byte binary.
    // Content round-trip is the oracle; token vectors + sorted-run/ring
    // invariants are pinned in RandomTokenSpec / TokenSortedWriterSpec.
    "q101_random_ring" -> ((s, d) => {
      val schema = CqlSchema("orders_rr", Seq("o_orderkey"))
      val df = ord(s, d).filter(col("o_orderkey") <= 8000L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val out = java.nio.file.Files.createTempDirectory("graft_rring_").toString + "/orders"
      TokenSortedWriter.write(df, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, partitioner = "random",
          keepTokenColumn = true))
      TokenSortedWriter.read(s, schema, out)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    }),

    // writer digests surfaced through the metadata source (W4 digest
    // parity): every file of a fresh 4-partition write must carry a
    // manifest-recorded xxhash64, countable without touching data pages
    "q103_meta_digests" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_dig_").toString + "/orders"
      ord(s, d).write.format("graft")
        .option("path", out).option("pk", "o_orderkey").option("partitions", "4")
        .mode(SaveMode.Append).save()
      s.read.format("graft-metadata").option("path", out).load()
        .agg(
          countDistinct(col("file")).as("n_files"),
          countDistinct(when(col("digest").isNotNull, col("file"))).as("n_digested"))
    }),

    // ---- static-column semantics (SURVEY §7.4 hard-part) ----------------
    // orders as a multi-row-per-partition table (pk=o_custkey,
    // ck=o_orderkey, static=cust_note). Three writes: base rows with null
    // static @1000; the static cell on ONE row per partition (min orderkey)
    // @2000; then NEWER versions of some rows @3000 WITHOUT the static.
    // Correct semantics: the @2000 static must surface on EVERY row of its
    // partition even though the latest row versions carry null.
    "q66_static_columns" -> ((s, d) => {
      val schema = CqlSchema("orders_static",
        Seq("o_custkey"), Seq("o_orderkey"), Seq("cust_note"))
      val out = java.nio.file.Files.createTempDirectory("graft_static_").toString + "/orders"
      val base = ord(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lit(null).cast("string").as("cust_note"))
      TokenSortedWriter.write(base, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L)))
      val statics = base.groupBy(col("o_custkey")).agg(
          min(col("o_orderkey")).as("o_orderkey"),
          min_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
        .filter(col("o_custkey") % 5 === 0)
        .withColumn("cust_note", concat(lit("S"), col("o_custkey").cast("string")))
      TokenSortedWriter.write(statics.select(base.columns.toIndexedSeq.map(col): _*), schema, out,
        SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L)))
      val bumps = base.filter(col("o_custkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      TokenSortedWriter.write(bumps, schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(3000L)))
      TokenSortedWriter.readNormalized(s, schema, out)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").as("totalprice"), col("cust_note"))
    }),

    // ---- quoted/exotic identifiers + null battery ----------------------
    // (reference `EndToEndTests.java:2408-2625`): spaces, dots, reserved
    // words, mixed case and hyphens in column names — through the DSv1 sink
    // (tokenize/sort by a quoted pk), the DSv2 source, a pushed filter on
    // the quoted pk, and an all-null column round-trip
    "q67_quoted_nulls" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_quoted_").toString + "/t"
      ord(s, d).select(
          col("o_custkey").as("user id"),
          col("o_orderkey").as("Order.Key"),
          col("o_totalprice").as("select"),
          lit(null).cast("string").as("all null"),
          col("o_orderstatus").as("Mixed-Case"))
        .write.format("graft")
        .option("path", out).option("pk", "user id").option("ck", "Order.Key")
        .option("partitions", "4")
        .mode(SaveMode.Append).save()
      s.read.format("graft")
        .option("path", out).option("pk", "user id").option("ck", "Order.Key")
        .load()
        .filter(col("`user id`") <= 100L)
        .select(col("`user id`"), col("`Order.Key`"), col("`select`"),
          col("`all null`"), col("`Mixed-Case`"))
    }),

    // ---- S2 reported partitioning under the correctness gate -----------
    // single write -> pairwise-disjoint token files -> the clustered scan
    // claims pk co-location and the groupBy(pk) aggregation runs with ZERO
    // exchanges (PlanQualitySpec gates the plan; this gates the values)
    "q68_clustered_agg" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_clusagg_").toString + "/lineitem"
      TokenSortedWriter.write(li(s, d), Tables.schemas("lineitem"), out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 8, keepTokenColumn = true))
      s.read.format("graft")
        .option("path", out).option("pk", "l_orderkey").option("ck", "l_linenumber")
        .option("clustered", "true").load()
        .groupBy(col("l_orderkey")).agg(
          count(lit(1)).as("n_lines"),
          dsum(col("l_quantity"), 2).as("sum_qty"),
          max(col("l_linenumber")).as("max_line"))
    }),

    // ---- directory-partitioned layout (WriteConf.partitionBy) -----------
    // a pruning axis the token ring cannot express: events written under
    // graft_p_event_type=<v> dirs (data column stays in-file), read back
    // with a pushed IN filter that prunes whole directories BEFORE any
    // manifest/footer work, then aggregated per type
    "q80_dir_partitioned" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_dirpart_").toString + "/events"
      TokenSortedWriter.write(
        ev(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        CqlSchema("events_dp", Seq("event_id")), out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          partitionBy = Seq("event_type")))
      s.read.format("graft")
        .option("path", out).option("pk", "event_id").load()
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("total_value"))
    }),

    // ---- training-data curation: reproducible splits / mixing / packing --
    // md5-keyed (NOT rand()): the assignment is a pure function of the key,
    // so retries/re-runs/engines agree — which is exactly why the DuckDB
    // oracle can recompute it and hash-match
    "q81_hash_split" -> ((s, d) =>
      graft.operators.Sampling.deterministicSplit(
          docs(s, d), Seq("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"))),
    "q93_cap_per_group" -> ((s, d) =>
      graft.operators.Sampling.capPerGroup(
          docs(s, d), Seq("source"), Seq("doc_id"), n = 10)
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"))),
    "q82_mix_sources" -> ((s, d) =>
      graft.operators.Sampling.mixSources(
          docs(s, d), "source", Seq("doc_id"),
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"))),
    "q83_pack_bins" -> ((s, d) =>
      graft.operators.Packing.binStats(
        docs(s, d).withColumn("shard", col("doc_id") % 8),
        Seq("shard"), Seq("doc_id"), "n_chars", budget = 16384L)),

    // deep-nested UDT analog (struct<struct<struct<..>, array, ..>, ..>)
    // through the graft sink + DSv2 source — every projected leaf crosses
    // all three nesting levels (EndToEndTests.testDeepNestedUDT parity)
    "q84_deep_nested" -> ((s, d) =>
      typedRoundTrip(s, d).select(
        col("p_partkey"),
        col("deep.level1.level2.leaf").as("leaf"),
        col("deep.level1.level2.n").as("n"),
        array_join(col("deep.level1.codes"), ",").as("codes"),
        col("deep.level1.sib").as("sib"),
        col("deep.top").as("top"))),

    // the spark.sql workflow end-to-end: CREATE TABLE … USING graft over a
    // token-sorted dir, INSERT INTO through the V1 write fallback (rows flow
    // through the tokenizer), then a plain SQL aggregate over the result
    "q85_sql_table" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_sqlbat_").toString + "/orders"
      TokenSortedWriter.write(
        ord(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        CqlSchema("orders_sql", Seq("o_orderkey")), out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      s.sql("DROP TABLE IF EXISTS graft_battery_sql")
      s.sql(s"CREATE TABLE graft_battery_sql USING graft " +
        s"OPTIONS (path '$out', pk 'o_orderkey')")
      s.sql("INSERT INTO graft_battery_sql VALUES " +
        "(-1, -1, 100.0), (-2, -2, 200.0)")
      s.sql("""SELECT COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
               |FROM graft_battery_sql""".stripMargin)
    }),

    // benchmark decontamination: corpus docs sharing any verbatim 8-gram
    // with the probe slice are leaked and must be identified — md5-prefix
    // gram keys make the check engine-portable (oracle recomputes in DuckDB)
    "q86_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      graft.operators.Decontaminate.contaminatedIds(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 8)
    }),

    // the whole curation pipeline composed end-to-end: language filter →
    // quality gate → exact dedup by normalized fingerprint (keep lowest id)
    // → reproducible train/val/test assignment → per-split accounting.
    // Every stage is deterministic, so the ORACLE REPLAYS THE FULL PIPELINE
    // in SQL and the final hash must match — the integration guarantee on
    // top of the per-operator queries (q31, q32, q34, q81)
    // intra-document repetition (Gopher-style repeated-n-gram quality
    // signal): fraction of duplicated word 3-grams per document
    "q90_repetition" -> ((s, d) =>
      TextAnalysis.withRepetition(docs(s, d), "text", n = 3)
        .select(col("doc_id"), col("rep_ratio"))),

    // dir partitioning × upsert semantics: an event log partitioned by type
    // receives a second bumped generation; the normalized read resolves LWW
    // per key while the type filter still dir-prunes — the day-partitioned-
    // table-with-upserts shape a real 100 TB event store has
    "q91_dir_upsert" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_dirups_").toString + "/events"
      val schema = CqlSchema("events_du", Seq("event_id"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        partitionBy = Seq("event_type"))
      val base = ev(s, d).select(col("event_id"), col("event_type"), col("value"))
      TokenSortedWriter.write(base, schema, out, SaveMode.Append,
        conf.copy(writetimeMicros = Some(1000L)))
      TokenSortedWriter.write(
        base.filter(col("event_id") % 10 === 0)
          .withColumn("value", col("value") + 1000.0),
        schema, out, SaveMode.Append, conf.copy(writetimeMicros = Some(2000L)))
      TokenSortedWriter.readNormalized(s, schema, out)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("value"))
    }),

    // metadata-only aggregate pushdown under the correctness gate: the
    // count/min/max come from manifest stats (GraftStatsScan, zero data
    // reads — PlanQualitySpec gates the plan; this gates the VALUES)
    "q89_stats_pushdown" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_stats_").toString + "/lineitem"
      TokenSortedWriter.write(
        li(s, d).select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey")),
        CqlSchema("li_stats", Seq("l_orderkey"), Seq("l_linenumber")), out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      s.read.format("graft")
        .option("path", out).option("pk", "l_orderkey").option("ck", "l_linenumber").load()
        .agg(
          count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"),
          max(col("l_orderkey")).as("max_ok"),
          max(col("l_suppkey")).as("max_sk"))
    }),

    // TEMPORAL partition key end-to-end: a timestamp pk is tokenized via
    // Cassandra's marshal encoding (epoch-millis bytes, not Spark micros) at
    // write AND at pushdown — the IN filter's key tokens prune files, the
    // values come back exact (CqlTypedTokenSpec unit-checks the encoding)
    "q88_temporal_pk" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_tspk_").toString + "/orders"
      TokenSortedWriter.write(
        ord(s, d).select(col("o_orderdate"), col("o_orderkey"), col("o_totalprice")),
        CqlSchema("orders_ts", Seq("o_orderdate"), Seq("o_orderkey")), out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      def utc(sdt: String) = java.sql.Timestamp.from(
        java.time.LocalDateTime.parse(sdt).toInstant(java.time.ZoneOffset.UTC))
      s.read.format("graft")
        .option("path", out).option("pk", "o_orderdate").option("ck", "o_orderkey").load()
        .filter(col("o_orderdate").isin(
          utc("1995-06-19T00:00:00"), utc("2000-02-03T00:00:00"), utc("2001-04-25T00:00:00")))
        .select(
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od"),
          col("o_orderkey"), col("o_totalprice"))
    }),

    "q87_curation_pipeline" -> ((s, d) => {
      val lang = TextAnalysis.withLangId(docs(s, d), "text")
      val qual = TextAnalysis.withQuality(lang, "text")
      val kept = qual.filter(col("lang_pred") === "en" && col("quality_score") >= 0.75)
      val deduped = TextAnalysis.withFingerprint(kept, "text")
        .groupBy(col("fingerprint")).agg(
          min(col("doc_id")).as("doc_id"),
          min_by(col("n_chars"), col("doc_id")).as("n_chars"))
      graft.operators.Sampling.deterministicSplit(
          deduped, Seq("doc_id"),
          Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy(col("split")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"))
    }),

    // composed curation v2 — the round-6 operators chained end-to-end:
    // inject boilerplate lines → corpus line-frequency removal → inject PII
    // → sequential redaction → per-source accounting. The oracle replays
    // the WHOLE chain (frequency threshold, order-preserving reassembly,
    // all four masking rules) in SQL and hash-matches the aggregates.
    "q104_curation_v2" -> ((s, d) => {
      val nl = lit("\n")
      val decorated = docs(s, d).select(col("doc_id"), col("source"),
        concat(lit("START COMMON HEADER"), nl, col("text"), nl,
          concat(lit("FOOTER "), col("source"))).as("text"))
      val cleaned = Dedup.dropFrequentLines(decorated, "doc_id", "text", minDocs = 50L)
      val dirty = cleaned.withColumn("dirty",
        concat(col("text_clean"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com")))
      graft.operators.Pii.redact(dirty, "dirty")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(length(col("dirty_clean"))).as("clean_chars"),
          sum(col("n_email")).cast("long").as("n_emails"))
    }),

    // ---- PII scrubbing (compliance pass). The corpus is synthetic word
    // soup, so the dirt is injected deterministically from doc_id — the
    // oracle replays both the injection and the masking, and md5(clean)
    // pins the exact masked text ---------------------------------------
    "q94_pii_redact" -> ((s, d) => {
      val dirty = docs(s, d).withColumn("dirty",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" ip "), (col("doc_id") % 256).cast("string"),
          lit(".0.0.1 acct "),
          lpad(col("doc_id").cast("string"), 9, "0")))
      graft.operators.Pii.redact(dirty, "dirty")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), md5(col("dirty_clean")).as("clean_md5"),
          col("n_email"), col("n_ipv4"), col("n_phone"), col("n_digits"))
    }),

    // ---- vocabulary heavy hitters (map-side partial agg + TakeOrdered) --
    "q95_vocab_topk" -> ((s, d) =>
      graft.operators.Vocab.topTerms(docs(s, d), "doc_id", "text", 20)),

    // ---- TF-IDF: best-scoring term per document. The RANKING is portable
    // (equal (tf_count, df) pairs produce bit-equal scores in any engine;
    // distinct pairs differ by far more than the 1-ulp ln() skew between
    // Java StrictMath.log and glibc log), but the raw idf/score doubles are
    // NOT hash-comparable across engines — so the checked output carries
    // the exact-arithmetic columns only (counts + tf division) -----------
    "q96_tfidf" -> ((s, d) => {
      val scored = graft.operators.Vocab.tfIdf(docs(s, d), "doc_id", "text")
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word").asc)
      scored.filter(col("doc_id") < 20)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("word"), col("tf_count"), col("df"), col("tf"))
    }),

    // ---- context-length chunking (codegen array exprs, zero shuffle) ----
    "q97_chunking" -> ((s, d) =>
      graft.operators.Chunking.chunk(
        docs(s, d).filter(col("doc_id") < 10),
        Seq("doc_id"), "text", size = 64, overlap = 16)),

    // ---- reproducible corpus shuffle: (shard, pos) total order ----------
    "q98_shuffle_order" -> ((s, d) =>
      graft.operators.Sampling.shuffleOrder(docs(s, d), Seq("doc_id"))
        .select(col("doc_id"), col("shard"), col("pos"))),

    // ---- fuzzy (edit-distance) self-join, prefix-blocked: every document's
    // 32-char text prefix paired with its last-char-deleted variant at
    // distance 1 (part names are 64 near-constant values here — a fuzzy join
    // on them degenerates to the quadratic duplicate blowup by design of the
    // data, not of the operator; doc prefixes are ~95% distinct and keep the
    // candidate volume linear in the corpus) ------------------------------
    "q99_fuzzy_join" -> ((s, d) => {
      val t = docs(s, d)
      val base = t.select((col("doc_id") * 2).as("id"),
        substring(col("text"), 1, 32).as("name"))
      val variants = t.select((col("doc_id") * 2 + 1).as("id"),
        substring(col("text"), 1, 31).as("name"))
      graft.operators.Fuzzy.selfJoinByEditDistance(
        base.unionByName(variants), "id", "name", maxDist = 1, blockPrefix = 8)
    }),

    // snapshot restore (rollback): v1 = corpus, v2 = a bad twin append,
    // restore(1) commits v3 whose live set is exactly v1's — the UNPINNED
    // read (which plans from the latest snapshot) must return the original
    // corpus, proving rollback is one metadata commit, never a data rewrite
    "q153_snapshot_restore" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_restore_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(
        col("doc_id"), col("text"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf) // v1
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)                             // v2 (bad batch)
      graft.write.Snapshots.restore(s, out, 1L)                         // v3 = v1
      s.read.format("graft").option("path", out).option("pk", "doc_id").load()
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    }),

    // schema evolution across append batches: batch 1 predates the
    // `n_chars` column, batch 2 carries it — the read resolves the UNION
    // schema (mergeSchema), old rows null-fill the new column, and the
    // snapshot log versions both batches (a 100 TB table's schema evolves;
    // re-writing history to add a column is not an option)
    "q154_schema_evolution" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_schevo_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d)
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(
        base.select(col("doc_id"), col("text"), col("source")),
        schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.select((col("doc_id") + lit(TwinOff)).as("doc_id"),
          col("text"), col("source"), col("n_chars")),
        schema, out, SaveMode.Append, conf)
      s.read.format("graft").option("path", out).option("pk", "doc_id").load()
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    }),

    // Johnson-Lindenstrauss projection 64→16 with the md5-derived ±1/√k
    // matrix: a narrow plan-literal map (zero shuffle, zero collect) whose
    // doubles the oracle reproduces BIT-FOR-BIT by replaying the same
    // signs and the same left-to-right summation order (exploded to
    // (vec_id, dim, pval) scalar rows — the battery never hashes raw
    // array columns)
    "q155_random_projection" -> ((s, d) =>
      Similarity.randomProject(
          emb(s, d).filter(col("vec_id") < 200L), "embedding",
          inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim", "pval")))),

    // incremental novelty: the increment's grams probe the PERSISTED
    // corpus frequency table (no corpus rescan). Exact-copy docs score
    // 0.0 (every gram seen) unless too short to gram; md5-word twins
    // carry exactly one 8-gram the corpus cannot contain → 1.0 — both
    // closed-form from the construction
    // Conserving PageRank: sources 0..39 only, so vertices 40..49 DANGLE —
    // conserveDanglingMass redistributes each step's dangling total
    // uniformly on the same integer grid. The oracle replays BOTH
    // iterations including the dangling aggregate bit-for-bit.
    "q183_pagerank_dangling" -> ((s, d) => {
      val e = docs(s, d).select(
        (col("doc_id") % 40).as("src"),
        ((col("doc_id") * 3 + 1) % 50).as("dst"))
      graft.operators.Graphs.pageRank(e, "src", "dst", iters = 2,
        conserveDanglingMass = true)
    }),

    // Merge-on-read DML: the same UPDATE algebra as q166 plus a DELETE,
    // executed as deletion vectors + re-insert generations (zero base-file
    // rewrites — the query ASSERTS the file set survived both statements).
    // The oracle states the final table closed-form.
    "q184_mor_dml" -> ((s, d) => {
      val cat = "gmor" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_morq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q184_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q184_docs")
      val dir = s"$base/db/docs"
      val v0 = graft.write.Snapshots.latestVersion(s, dir).get
      val before = graft.write.Snapshots.files(s, dir, v0).toSet
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 11 = 5")
      // merge-on-read contract: both DMLs kept every original base file
      val now = graft.write.Snapshots.snapshot(s, dir, None)
      val after = now.files.map(_.path).toSet
      require(before.subsetOf(after),
        s"merge-on-read DML rewrote base files: ${(before -- after).take(3)}")
      require(now.dvs.nonEmpty,
        "merge-on-read DML produced no deletion vectors")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Deletion-vector fold: merge-on-read DELETEs leave DVs on the small
    // multi-append files, then OPTIMIZE bin-packs them — the packed bytes
    // must materialize the deletions, the bindings must drop, and the
    // commit stays layout-only (change capture rides across). The query
    // asserts the structural facts; the oracle states the surviving rows.
    "q185_dv_optimize" -> ((s, d) => {
      val cat = "gdvo" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_dvoq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q185_docs")
      // four small appends → bin-packable generations
      (0 until 4).foreach(b => s.sql(
        s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars " +
          s"FROM q185_docs WHERE doc_id % 4 = $b"))
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 9 = 2")
      val dir = s"$base/db/docs"
      val schema = CqlSchema("docs", Seq("doc_id"))
      TokenSortedWriter.optimizeSmallFiles(s, schema, dir,
        smallBytes = 64L << 20, targetBytes = 64L << 20)
      val v = graft.write.Snapshots.latestVersion(s, dir).get
      require(graft.write.Snapshots.deletionVectors(s, dir, v).isEmpty,
        "OPTIMIZE must fold deletion vectors away")
      s.read.format("graft").option("path", dir).option("pk", "doc_id").load()
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // DESCRIBE DETAIL analog: current-state dashboard row (snapshot head,
    // live files/rows, merge-on-read debt) after an insert + MoR DELETE —
    // every emitted column is deterministic from the construction and the
    // oracle states them closed-form (file/byte-level fields excluded).
    "q188_table_detail" -> ((s, d) => {
      val cat = "gdet" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_detq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q188_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q188_docs")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 6 = 1")
      graft.write.Snapshots.tableDetail(s, s"$base/db/docs")
        .select(col("version"), col("n_files"), col("n_rows"),
          (col("n_dvs") > 0).as("has_dvs"), col("deleted_rows"))
    }),

    // Row-level change-data feed over merge-on-read DML: insert (v1) +
    // UPDATE (v2, DV + re-insert generation) + DELETE (v3, DV-only) —
    // readChangesWithDeletes delivers every row-level event tagged with
    // _change_type/_commit_version: the UPDATE as its delete-preimage +
    // insert-postimage pair, the DELETE's preimage reflecting the v2
    // update. The oracle replays all four event classes closed-form.
    "q189_change_data_feed" -> ((s, d) => {
      val cat = "gcdf" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_cdfq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q189_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q189_docs")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 11 = 5")
      val dir = s"$base/db/docs"
      val head = graft.write.Snapshots.latestVersion(s, dir).get
      require(head == 3L, s"expected insert/update/delete = v1/v2/v3, head is v$head")
      // the append-capture feed must REFUSE the UPDATE's delta commit —
      // re-inserts delivered as appends would be a duplicate-producing feed
      val refused =
        try { graft.write.Snapshots.readChanges(s, dir, 1L, 2L).count(); false }
        catch { case e: IllegalStateException =>
          e.getMessage.contains("readChangesWithDeletes") }
      require(refused, "readChanges must refuse a MoR UPDATE commit")
      graft.write.Snapshots.readChangesWithDeletes(s, dir, 0L, head)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
    }),

    // The DSv2 CDC table mode (`changeFeedMode=rows`) over the same
    // insert/UPDATE/DELETE construction as q189: the whole feed planned
    // as tagged partitions — inserts from added files, delete preimages
    // as whole-file positioned reads of the DV deltas (O(1)-byte tasks,
    // DV paths not positions) — batch and streaming share the planner.
    // Same closed-form oracle as the library twin.
    "q190_cdf_source" -> ((s, d) => {
      val cat = "gcds" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_cdsq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q190_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q190_docs")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 11 = 5")
      s.read.format("graft").option("path", s"$base/db/docs")
        .option("changeFeedMode", "rows").load()
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
    }),

    // SQL maintenance procedures (DSv2 ProcedureCatalog): the q185
    // lifecycle driven entirely by CALL statements — tag the pre-OPTIMIZE
    // head, bin-pack + fold DVs, vacuum to the head with the tag
    // retained. In-query requires pin the structural facts; the oracle
    // states the surviving rows.
    "q191_sql_maintenance" -> ((s, d) => {
      val cat = "gprc" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_prcq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q191_docs")
      (0 until 4).foreach(b => s.sql(
        s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars " +
          s"FROM q191_docs WHERE doc_id % 4 = $b"))
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 9 = 2")
      val dir = s"$base/db/docs"
      s.sql(s"CALL $cat.system.create_tag(table => 'db.docs', name => 'pre-opt')")
      val opt = s.sql(s"CALL $cat.system.optimize(table => 'db.docs')").collect().head
      require(opt.getLong(0) > 0L, "optimize must pack the small appends")
      val v = graft.write.Snapshots.latestVersion(s, dir).get
      require(graft.write.Snapshots.deletionVectors(s, dir, v).isEmpty,
        "optimize must fold deletion vectors away")
      s.sql(s"CALL $cat.system.vacuum(table => 'db.docs', keep_last => 1)")
      // the tag survives vacuum and still resolves the pre-OPTIMIZE pin
      require(s.read.format("graft").option("path", dir).option("pk", "doc_id")
        .option("snapshotVersion", "tag:pre-opt").load().count() ==
        s.table(s"$cat.db.docs").count(), "tagged pin must ride across OPTIMIZE")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Copy-on-write CDC (changeFeedCow): the q189 event algebra on a
    // COPY-ON-WRITE table — the DML rewrites whole file groups, and the
    // recorded _graft_cdc sidecars (committed atomically with each
    // rewrite) let the row-level feed ride across where a CDC-less CoW
    // table must refuse. Identical closed-form oracle to q189: the two
    // DML engines produce the same row-level events.
    // Row tracking (_graft_row_id — the Delta baseRowId design): stable
    // per-row ids allocated at commit from a log-carried high-water mark,
    // MATERIALIZED into every rewrite (CoW UPDATE, OPTIMIZE pack) so they
    // survive DML and maintenance. The query captures ids before a
    // CoW UPDATE + CALL optimize + DELETE lifecycle and emits, per
    // surviving row, whether its id held — the oracle states TRUE for
    // every survivor closed-form, so one moved id fails the hash.
    "q197_row_tracking" -> ((s, d) => {
      val cat = "grid" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_ridq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true', " +
        "rowTracking 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q197_docs")
      // two insert waves → small files for OPTIMIZE to pack
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars " +
        "FROM q197_docs WHERE doc_id % 2 = 0")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars " +
        "FROM q197_docs WHERE doc_id % 2 = 1")
      // capture MATERIALIZED (a lazy view would re-resolve the scan
      // AFTER the lifecycle below, making id_stable vacuously true)
      locally {
        val rows = s.sql(s"SELECT doc_id, _graft_row_id AS rid0 FROM $cat.db.docs")
          .collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rid0",
              org.apache.spark.sql.types.LongType))))
          .createOrReplaceTempView("q197_ids0")
      }
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 7 WHERE doc_id % 3 = 1")
      s.sql(s"CALL $cat.system.optimize(table => 'db.docs')")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 10 = 4")
      s.sql(s"""SELECT t.doc_id, t.source, t.n_chars,
        | t._graft_row_id = i.rid0 AS id_stable
        |FROM $cat.db.docs t JOIN q197_ids0 i ON t.doc_id = i.doc_id""".stripMargin)
    }),

    // CDC replication (the APPLY CHANGES INTO pattern): the q190 source
    // lifecycle's row-level feed consumed in two MONOTONE version ranges
    // into a second graft table — each call collapses its increment to
    // the latest event per key (one shuffle of the FEED, never the
    // target) and lands one group-filtered MERGE. Exercises all three
    // branches: range 1 inserts into empty, range 2 updates matched rows
    // and deletes (including update-then-delete keys where the delete
    // must win). The downstream replica's final state must equal the
    // source's statement algebra — the q184 closed form.
    "q198_apply_changes" -> ((s, d) => {
      val cat = "gapc" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_apcq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.src (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      s.sql(s"CREATE TABLE $cat.db.tgt (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q198_docs")
      s.sql(s"INSERT INTO $cat.db.src SELECT doc_id, source, n_chars FROM q198_docs")
      s.sql(s"UPDATE $cat.db.src SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.src WHERE doc_id % 11 = 5")
      val dir = s"$base/db/src"
      val head = graft.write.Snapshots.latestVersion(s, dir).get
      graft.operators.Cdc.applyChanges(s, s"$cat.db.tgt",
        graft.write.Snapshots.readChangesWithDeletes(s, dir, 0L, 1L), Seq("doc_id"))
      graft.operators.Cdc.applyChanges(s, s"$cat.db.tgt",
        graft.write.Snapshots.readChangesWithDeletes(s, dir, 1L, head), Seq("doc_id"))
      s.table(s"$cat.db.tgt").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // The four-type change feed (update_preimage/update_postimage — the
    // Delta CDF vocabulary): on a ROW-TRACKED merge-on-read table, a MoR
    // UPDATE's delete+insert pair shares the row's stable id, so
    // withRowIds + Cdc.pairUpdates retags the pair exactly — by row
    // IDENTITY, not key heuristics. Pure deletes stay 'delete', the
    // initial load stays 'insert'; the oracle states all four classes
    // closed-form, so one mispaired event fails the hash.
    "q199_cdf_typed" -> ((s, d) => {
      val cat = "gtyp" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_typq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read', rowTracking 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q199_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q199_docs")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 11 = 5")
      val dir = s"$base/db/docs"
      val head = graft.write.Snapshots.latestVersion(s, dir).get
      val feed = graft.write.Snapshots.readChangesWithDeletes(
        s, dir, 0L, head, withRowIds = true)
      graft.operators.Cdc.pairUpdates(
          feed, Seq(graft.sources.GraftDataSource.RowIdCol))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
    }),

    // SYNC IDENTITY (CALL … sync_identity): the repair after GENERATED
    // BY DEFAULT explicit inserts outran the allocation mark — one raw
    // aggregate over the live files re-seats the mark PAST every stored
    // value (forward-only in step direction, race-guarded commit), and
    // the next null-cell wave allocates from there. In-query requires
    // pin the re-seated mark and the dense continuation; the oracle
    // states payload + id_ok TRUE.
    // REPLACE TABLE / CREATE OR REPLACE … AS SELECT (RTAS): the full
    // swap-in-place lifecycle — a populated table is replaced wholesale
    // by a new definition + content in one statement (the overwrite of
    // the freshly-created EMPTY table is an append; non-empty log-less
    // dirs keep the reference sink's Overwrite rejection). The oracle
    // restates the final replacement closed-form.
    // SHALLOW CLONE of a DIR-PARTITIONED source (round-14 refusal lifted):
    // partition values ride inside the absolute foreign paths
    // (graft_p_source=… segments), so the clone prunes on the partition
    // axis exactly like the source — gated in-query via
    // TokenPruner.prune over the foreign metas — while still moving ZERO
    // data files. Divergent DML on both sides, oracle replays the fork.
    "q213_partitioned_clone" -> ((s, d) => {
      val cat = "gpcl" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_pclq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.src (doc_id BIGINT, source STRING, " +
        "n_chars BIGINT) USING graft PARTITIONED BY (source) " +
        "OPTIONS (pk 'doc_id', partitions '2', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q213_docs")
      s.sql(s"INSERT INTO $cat.db.src SELECT doc_id, source, n_chars FROM q213_docs")
      s.sql(s"CALL $cat.system.clone(source => 'db.src', target => 'db.fork')")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sessionState.newHadoopConf())
      require(graft.sources.TokenPruner.listDataFiles(fs,
        fs.makeQualified(new org.apache.hadoop.fs.Path(s"$base/db/fork"))).isEmpty,
        "shallow clone must move ZERO data files")
      // partition-axis pruning over the FOREIGN references
      val foreign = graft.sources.TokenPruner
        .listFiles(s, s"$base/db/src").map(_.path).toSeq
      val metas = graft.sources.TokenPruner
        .foreignMetas(s, s"$base/db/fork", foreign)
      val pruned = graft.sources.TokenPruner.prune(s, metas.toArray,
        Array(org.apache.spark.sql.sources.EqualTo("source", "src1")),
        graft.model.CqlSchema("fork", Seq("doc_id")))
      require(pruned.nonEmpty && pruned.length < metas.length,
        s"partition pruning must drop whole foreign dirs: " +
          s"${pruned.length}/${metas.length}")
      s.sql(s"UPDATE $cat.db.src SET n_chars = 0 WHERE doc_id % 2 = 0")
      s.sql(s"UPDATE $cat.db.fork SET n_chars = n_chars + 7000 " +
        "WHERE source = 'src1'")
      s.sql(s"DELETE FROM $cat.db.fork WHERE doc_id % 13 = 4")
      require(s.sql(s"SELECT count(*) FROM $cat.db.fork " +
        "WHERE doc_id % 2 = 0 AND source <> 'src1' AND n_chars = 0")
        .head().getLong(0) == 0L,
        "the source's post-clone UPDATE leaked into the fork")
      s.table(s"$cat.db.fork").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // DEEP CLONE (CALL system.clone(deep => true)): distributed digest-
    // verified copy of the pinned version's files into the clone root —
    // total independence bought with one data pass. The in-query gate
    // vacuums the SOURCE past the pin (the shallow-breaking event) and the
    // deep clone must still read and accept DML.
    "q214_deep_clone" -> ((s, d) => {
      val cat = "gdcl" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_dclq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.src (doc_id BIGINT, source STRING, " +
        "n_chars BIGINT) USING graft " +
        "OPTIONS (pk 'doc_id', partitions '3', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q214_docs")
      s.sql(s"INSERT INTO $cat.db.src SELECT doc_id, source, n_chars FROM q214_docs")
      s.sql(s"CALL $cat.system.clone(source => 'db.src', target => 'db.fork', " +
        "deep => true)")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sessionState.newHadoopConf())
      require(graft.sources.TokenPruner.listDataFiles(fs,
        fs.makeQualified(new org.apache.hadoop.fs.Path(s"$base/db/fork"))).nonEmpty,
        "deep clone must copy data files into the clone root")
      // break every shallow reference: rewrite + vacuum the source
      s.sql(s"CALL $cat.system.compact(table => 'db.src')")
      graft.write.Snapshots.vacuum(s, s"$base/db/src", keepLast = 1)
      s.sql(s"UPDATE $cat.db.fork SET n_chars = n_chars + 11 WHERE doc_id % 5 = 0")
      s.table(s"$cat.db.fork").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // REAL image pixel decode + perceptual near-dup (ImagePixels +
    // Dedup.imageHashPairs): every document becomes an 8×8 grayscale image
    // whose pixels plant the closed-form 64-bit pattern
    // P = (doc_id%64)·0x0101010101010101 (docs with (doc_id div 7)%5 = 0
    // additionally flip one pixel), encoded SEVEN byte-different ways —
    // PNG filters None/Sub/Up/Average/Paeth (half with split IDAT) plus
    // BMP bottom-up and top-down. The aHash must equal P EXACTLY (gating
    // inflate, all five filter reconstructions, and both BMP row walks),
    // and the Hamming-LSH near-dup mining must match the oracle's exact
    // O(n²) bit_count self-join.
    "q210_image_neardup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val g = (id % 64).toInt
        val p0 = g.toLong * 0x0101010101010101L
        val p = if ((id / 7) % 5 == 0) p0 ^ (1L << (id % 63).toInt) else p0
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        val bytes = (id % 7).toInt match {
          case 5 => ImageCodec.encodeBmpGray(8, 8, px)
          case 6 => ImageCodec.encodeBmpGray(8, 8, px, topDown = true)
          case f => ImageCodec.encodePng(8, 8, 1, px, filterType = f,
            idatChunks = if (id % 2 == 0) 2 else 1)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      val dups = Dedup.imageHashPairs(blobs, "doc_id", "blob", maxHamming = 3)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("dup", lit(1))
      blobs
        .withColumn("__l", graft.functions.ImageLuma(col("blob")))
        .withColumn("ahash", Dedup.imageAHash(col("blob")))
        .join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("__l.width").as("img_w"),
          col("__l.height").as("img_h"), col("ahash"),
          coalesce(col("dup"), lit(0)).as("is_dup"))
    }),

    // dHash over 9×8 images: column 8 dark, columns 0–7 plant P — the
    // horizontal-gradient hash then has the closed form
    // (P & ~(P<<1) & ~M) | (P & M) with M = 0x0101010101010101 (row-end
    // bits compare against the dark column), which the oracle computes
    // with pure bit algebra. Same seven encoding variants as q210.
    "q211_image_dhash" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val p = (id % 64) * 0x0101010101010101L
        val px = new Array[Byte](72)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            px(y * 9 + x) =
              if (((p >>> (63 - (y * 8 + x))) & 1L) == 1L) 255.toByte else 0
            x += 1
          }
          y += 1
        }
        val bytes = (id % 7).toInt match {
          case 5 => ImageCodec.encodeBmpGray(9, 8, px)
          case 6 => ImageCodec.encodeBmpGray(9, 8, px, topDown = true)
          case f => ImageCodec.encodePng(9, 8, 1, px, filterType = f)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"), Dedup.imageDHash(col("blob")).as("dhash"))
    }),

    // INCREMENTAL image dedup against a persisted signature corpus
    // (Dedup.dropImagesAgainstSignatures — bipartite Hamming LSH): even
    // doc_ids form the corpus (decoded ONCE into an (id, sh) signature
    // frame, the thing a real pipeline persists), odd doc_ids are the
    // incoming increment; an incoming image within Hamming ≤ 3 of ANY
    // corpus signature drops. The oracle replays the exact bipartite
    // bit_count predicate over the same closed-form patterns.
    "q217_image_corpus_dedup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      // (2k, 2k+1) share a group, so every incoming (odd) image has a
      // corpus twin; odd docs then diverge by doc_id%3 — 0: one flipped
      // pixel (Hamming 1, drops), 1: the 5-bit spread mask M5 (Hamming 5
      // from the twin and provably ≥7 from every other group — survives),
      // 2: identical pixels re-encoded (Hamming 0, drops). A real
      // drop/survive mix, exactly replayed by the oracle.
      val m5 = (1L << 1) | (1L << 10) | (1L << 19) | (1L << 28) | (1L << 37)
      def imgs(rows: org.apache.spark.sql.Dataset[Long]) = rows.map { id =>
        val g = ((id / 2) % 64).toInt
        val p0 = g.toLong * 0x0101010101010101L
        val p =
          if (id % 2 == 0) p0
          else if (id % 3 == 0) p0 ^ (1L << (id % 63).toInt)
          else if (id % 3 == 1) p0 ^ m5
          else p0
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        val bytes = (id % 7).toInt match {
          case 5 => ImageCodec.encodeBmpGray(8, 8, px)
          case 6 => ImageCodec.encodeBmpGray(8, 8, px, topDown = true)
          case f => ImageCodec.encodePng(8, 8, 1, px, filterType = f)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      val ids = docs(s, d).select(col("doc_id")).as[Long]
      val corpus = imgs(ids.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id").as("id"), Dedup.imageAHash(col("blob")).as("sh"))
      val incoming = imgs(ids.filter(col("doc_id") % 2 === 1))
      Dedup.dropImagesAgainstSignatures(incoming, "doc_id", "blob", corpus, 3)
        .select(col("doc_id"))
    }),

    // AUDIO near-dup fingerprint (AudioFingerprint.ahash64): PCM16 whose
    // 64-window energy envelope plants the same closed-form P — windows
    // with |s| = A vs silence; twins differ in LENGTH (n = 64·(doc_id%4+2)
    // samples) and AMPLITUDE (A = doc_id%30000+1000) yet hash identically
    // because the envelope threshold is relative. is_dup mined by the
    // shared Hamming LSH, oracle replays the exact bit_count self-join.
    "q218_audio_neardup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val g = (id % 64).toInt
        val p0 = g.toLong * 0x0101010101010101L
        val p = if ((id / 7) % 5 == 0) p0 ^ (1L << (id % 63).toInt) else p0
        val m = (id % 4 + 2).toInt // samples per window
        val amp = (id % 30000 + 1000).toInt
        val samples = Array.tabulate(64 * m) { k =>
          val bit = ((p >>> (63 - k / m)) & 1L) == 1L
          if (bit) { if (k % 2 == 0) amp else -amp } else 0
        }
        (id, AudioCodec.encodeWavPcm16(16000, 1, samples))
      }.toDF("doc_id", "blob")
      val sigs = blobs.select(col("doc_id").as("id"),
        graft.functions.AudioAHash(col("blob")).as("sh"))
      val dups = Dedup.hammingPairs(sigs, maxHamming = 3)
        .select(col("id_b").as("doc_id")).distinct().withColumn("dup", lit(1))
      sigs.select(col("id").as("doc_id"), col("sh").as("ahash"))
        .join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ahash"),
          coalesce(col("dup"), lit(0)).as("is_dup"))
    }),

    // REAL image RESIZE (ImageResize — decode → integer box-average →
    // re-encode PNG): 16×16 images built from 2×2-constant blocks, so the
    // 8×8 thumbnail's pixels are EXACTLY the block values and its aHash is
    // the same closed-form P — gating decode, the resampler's box
    // arithmetic, the re-encode, and the second decode in one hash.
    "q215_image_thumb" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val p = (id % 64) * 0x0101010101010101L
        val px = Array.tabulate[Byte](256) { i =>
          val bx = (i % 16) / 2; val by = (i / 16) / 2
          if (((p >>> (63 - (by * 8 + bx))) & 1L) == 1L) 255.toByte else 0
        }
        (id, ImageCodec.encodePng(16, 16, 1, px, filterType = (id % 5).toInt))
      }.toDF("doc_id", "blob")
      blobs
        .withColumn("thumb", graft.functions.ImageResize(col("blob"), 8, 8))
        .withColumn("__d", graft.functions.ImageDims(col("thumb")))
        .select(col("doc_id"), col("__d.width").as("img_w"),
          col("__d.height").as("img_h"),
          graft.functions.ImageAHash(col("thumb")).as("ahash"))
    }),

    // REAL MP4 frame-sample planning (Mp4Frames / sampleFramesMp4): blobs
    // carry full ISO-BMFF sample tables (moov/trak/mdia/hdlr(vide)/minf/
    // stbl/stsz) built by Mp4Codec; the fan-out plans from the stsz sample
    // COUNT the container records — the real frame indexes, not a byte-
    // length guess. Every third doc is a WAV (no video track) and must
    // contribute zero rows. VideoMeta fields ride along re-parsed from the
    // same bytes.
    "q216_mp4_frames" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{AudioCodec, Mp4Codec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val blob =
          if (id % 3 == 2) AudioCodec.encodeWavPcm16(8000, 1, Array(1, 2, 3))
          else Mp4Codec.encode(
            timescale = 1000, durationTicks = (id % 50 + 1) * 1000,
            width = (id % 640 + 1).toInt, height = (id % 480 + 1).toInt,
            nFrames = id % 97 + 1,
            tail = ("x" * (id % 7 + 1).toInt).getBytes)
        (id, blob)
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleFramesMp4(blobs, "blob",
          stride = 5, maxFrames = 12)
        .withColumn("__vm", graft.functions.VideoMeta(col("blob")))
        .select(col("doc_id"), col("frame_idx"),
          col("__vm.duration_ms").as("vdur_ms"), col("__vm.width").as("vw"))
    }),

    // KEYFRAME planning from the stss sync-sample table
    // (Multimodal.sampleKeyframesMp4): sync samples are every k-th frame,
    // or stss is ABSENT for doc_id%6=0 — ISO 14496-12's every-sample-is-
    // sync rule; frame times come from the single stts run. WAV docs
    // (doc_id%6=5) contribute zero rows. The real "thumbnail per shot"
    // plan: a decoder can only start at these samples.
    "q223_mp4_keyframes" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{AudioCodec, Mp4Codec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val blob =
          if (id % 6 == 5) AudioCodec.encodeWavPcm16(8000, 1, Array(4, 5, 6))
          else {
            val n = id % 50 + 4
            val delta = id % 9 + 1
            val k = id % 5 + 2
            val sync: Seq[Long] = if (id % 6 == 0) Nil else (1L to n by k)
            Mp4Codec.encode(timescale = 1000, durationTicks = n * delta,
              width = 32, height = 32, nFrames = n,
              tables = Mp4Codec.SampleTables(
                mediaTimescale = 1000,
                sttsRuns = Seq((n, delta)),
                constSampleSize = 7,
                syncSamples = sync))
          }
        (id, blob)
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleKeyframesMp4(blobs, "blob", maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"), col("t_ms"))
    }),

    // COMPRESSED-audio metadata (mp3_meta / flac_meta): the two dominant
    // crawled audio formats, parsed headers-only from the public layouts —
    // MP3 CBR frame math, Xing VBR frame counts, ID3v2 syncsafe skips;
    // FLAC STREAMINFO 20+3+5+36-bit packing — unified with WAV under one
    // coalesced schema. Every field has a closed form the oracle replays.
    "q224_audio_formats" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{AudioCodec, CodedAudioCodec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = id / 3
        val blob = (id % 3).toInt match {
          case 0 =>
            CodedAudioCodec.encodeMp3(10, 3,
              bitrateIdx = (m % 3 + 7).toInt, srIdx = (m % 2).toInt,
              mono = m % 4 == 0, nFrames = (m % 20 + 2).toInt,
              id3PadBytes = if (m % 7 == 0) (m % 300).toInt else -1,
              xingFrames = if (m % 5 == 0) m % 997 + 5 else -1L)
          case 1 =>
            CodedAudioCodec.encodeFlac(
              sampleRate = Array(44100, 48000, 22050, 16000)((m % 4).toInt),
              channels = (m % 2 + 1).toInt, bits = (16 + (m % 2) * 8).toInt,
              totalSamples = m % 100000 + 1000)
          case _ =>
            AudioCodec.encodeWavPcm16(8000, 1,
              Array.tabulate((m % 50 + 10).toInt)(j => (j * 3) % 1000))
        }
        (id, blob)
      }.toDF("doc_id", "blob")
      blobs
        .withColumn("__m3", graft.functions.Mp3MetaExpr(col("blob")))
        .withColumn("__fl", graft.functions.FlacMetaExpr(col("blob")))
        .withColumn("__wv", graft.functions.AudioMeta(col("blob")))
        .select(col("doc_id"),
          when(col("__m3").isNotNull, lit("mp3"))
            .when(col("__fl").isNotNull, lit("flac"))
            .otherwise(lit("wav")).as("fmt"),
          coalesce(col("__m3.channels"), col("__fl.channels"),
            col("__wv.channels")).as("channels"),
          coalesce(col("__m3.sample_rate"), col("__fl.sample_rate"),
            col("__wv.sample_rate")).as("sample_rate"),
          coalesce(col("__m3.duration_ms"), col("__fl.duration_ms"),
            col("__wv.duration_ms")).as("duration_ms"),
          col("__m3.bitrate_kbps").as("bitrate_kbps"),
          when(col("__m3").isNotNull, col("__m3.vbr").cast("int")).as("vbr"))
    }),

    // SPECTRAL dominant-bin fingerprint (audio_shash): PCM16 of 16 windows
    // x 64 samples, window w planting a square wave at (doc_id+w)%4 ->
    // {silence,1,2,4} cycles/window; square-wave harmonics fall off as
    // 1/k^2 so the Goertzel argmax is exact and the packed hash has a
    // closed form. Amplitude varies per doc and must wash out (the pitch
    // constellation, not the envelope). is_dup mined by the shared
    // Hamming LSH over the 4 identical-hash classes — the degenerate
    // regime the skew guard grew for, here oracle-checked end to end.
    "q225_audio_spectral" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val amp = (id % 15000 + 1000).toInt
        val samples = Array.tabulate(16 * 64) { k =>
          val w = k / 64
          val f = ((id + w) % 4).toInt match {
            case 0 => 0
            case 1 => 1
            case 2 => 2
            case _ => 4
          }
          if (f == 0) 0
          else {
            val p = 64 / f
            if (k % 64 % p < p / 2) amp else -amp
          }
        }
        (id, AudioCodec.encodeWavPcm16(16000, 1, samples))
      }.toDF("doc_id", "blob")
      val sigs = blobs.select(col("doc_id").as("id"),
        graft.functions.AudioSHash(col("blob")).as("sh"))
      val dups = Dedup.hammingPairs(sigs, maxHamming = 3)
        .select(col("id_b").as("doc_id")).distinct().withColumn("dup", lit(1))
      sigs.select(col("id").as("doc_id"), col("sh").as("shash"))
        .join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"), col("shash"),
          coalesce(col("dup"), lit(0)).as("is_dup"))
    }),

    // SUBTITLE cue extraction (subtitle_cues): WebVTT for even docs (with
    // header, dot stamps, cue identifiers), SRT for odd (counter lines,
    // comma stamps) — one shared parser, requireVtt=false accepts both.
    // Cue boundaries and payloads are closed-form in doc_id.
    "q226_subtitle_cues" -> ((s, d) => {
      import s.implicits._
      val subs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 5 + 1).toInt
        def stamp(ms: Long, sep: Char): String = {
          val h = ms / 3600000; val m = ms / 60000 % 60
          val sec = ms / 1000 % 60; val frac = ms % 1000
          f"$h%02d:$m%02d:$sec%02d$sep$frac%03d"
        }
        val cues = (0 until n).map { i =>
          val start = i * 2000L + (id % 7) * 10
          val end = start + 1000 + (id % 3) * 100
          if (id % 2 == 0)
            s"cue-ident-$i\n${stamp(start, '.')} --> ${stamp(end, '.')} align:start\ncue $id $i"
          else
            s"${i + 1}\n${stamp(start, ',')} --> ${stamp(end, ',')}\ncue $id $i"
        }
        val body = cues.mkString("\n\n")
        (id, if (id % 2 == 0) "WEBVTT\n\n" + body else body)
      }.toDF("doc_id", "sub")
      subs.select(col("doc_id"),
          explode(graft.functions.SubtitleCuesExpr(col("sub"), false)).as("c"))
        .select(col("doc_id"), col("c.start_ms"), col("c.end_ms"),
          col("c.text").as("cue_text"))
    }),

    // FRAME-CAPTION alignment — the composed VLM training-data op:
    // stss keyframes (q223's planning) joined to WebVTT cues (q226's
    // parser) on media time, producing (frame, caption) pairs without
    // decoding a single video frame. Equi-join on doc_id with the time
    // residual — co-partitioned, zero extra shuffle beyond the join.
    "q227_frame_caption_align" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Mp4Codec
      val rows = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = id % 40 + 10
        val delta = id % 9 + 1
        val k = id % 5 + 2
        val blob = Mp4Codec.encode(timescale = 1000, durationTicks = n * delta,
          width = 16, height = 16, nFrames = n,
          tables = Mp4Codec.SampleTables(
            mediaTimescale = 1000,
            sttsRuns = Seq((n, delta)),
            constSampleSize = 5,
            syncSamples = 1L to n by k))
        val nc = (id % 5 + 1).toInt
        def stamp(ms: Long): String = {
          val h = ms / 3600000; val m = ms / 60000 % 60
          val sec = ms / 1000 % 60; val frac = ms % 1000
          f"$h%02d:$m%02d:$sec%02d.$frac%03d"
        }
        val cues = (0 until nc).map { i =>
          val start = i * 2000L + (id % 7) * 10
          val end = start + 1000 + (id % 3) * 100
          s"${stamp(start)} --> ${stamp(end)}\ncue $id $i"
        }
        (id, blob, "WEBVTT\n\n" + cues.mkString("\n\n"))
      }.toDF("doc_id", "blob", "sub")
      val kf = graft.operators.Multimodal
        .sampleKeyframesMp4(rows.select(col("doc_id"), col("blob")), "blob", 8)
        .select(col("doc_id"), col("frame_idx"), col("t_ms"))
      val cues = rows.select(col("doc_id"),
          explode(graft.functions.SubtitleCuesExpr(col("sub"), true)).as("c"))
        .select(col("doc_id"), col("c.start_ms").as("cue_start"),
          col("c.end_ms").as("cue_end"), col("c.text").as("cue_text"))
      kf.join(cues, Seq("doc_id"))
        .filter(col("t_ms") >= col("cue_start") && col("t_ms") < col("cue_end"))
        .select(col("doc_id"), col("frame_idx"), col("t_ms"),
          col("cue_start"), col("cue_text"))
    }),

    // OGG container metadata (ogg_meta): Vorbis ident headers for even
    // docs, OpusHead for odd; duration from the LAST page's granule —
    // PCM samples for Vorbis, 48 kHz minus pre-skip for Opus (RFC 7845).
    "q228_ogg_meta" -> ((s, d) => {
      import s.implicits._
      import graft.functions.OggCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = id / 2
        val blob =
          if (id % 2 == 0)
            OggCodec.encodeVorbis(
              channels = (m % 2 + 1).toInt,
              sampleRate = Array(8000, 16000, 44100, 48000)((m % 4).toInt),
              granule = m % 90000 + 1000,
              dataPages = (m % 3 + 1).toInt)
          else
            OggCodec.encodeOpus(
              channels = (m % 8 + 1).toInt,
              preskip = (m % 500).toInt,
              granule = m % 90000 + 1000,
              dataPages = (m % 3 + 1).toInt)
        (id, blob)
      }.toDF("doc_id", "blob")
      blobs.withColumn("__o", graft.functions.OggMetaExpr(col("blob")))
        .select(col("doc_id"), col("__o.codec").as("codec"),
          col("__o.channels").as("channels"),
          col("__o.sample_rate").as("sample_rate"),
          col("__o.duration_ms").as("duration_ms"))
    }),

    // MATROSKA/WebM metadata (mkv_meta): EBML varint walk — float
    // Duration under TimestampScale, video dims, audio channels/rate;
    // id%4 rotates video-only / audio-only / both / both-with-unknown-
    // size-Segment (the streamed-file layout). Absent sides stay null.
    "q229_mkv_meta" -> ((s, d) => {
      import s.implicits._
      import graft.functions.MkvCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val dur = (id % 50000 + 500).toDouble
        val video = Some(((id % 1920 + 16).toInt, (id % 1080 + 16).toInt))
        val audio = Some(((id % 8 + 1).toInt, (id % 48000 + 4000).toDouble))
        val blob = (id % 4).toInt match {
          case 0 => MkvCodec.encode(dur, video = video)
          case 1 => MkvCodec.encode(dur, audio = audio)
          case 2 => MkvCodec.encode(dur, video = video, audio = audio)
          case _ => MkvCodec.encode(dur, video = video, audio = audio,
            unknownSizeSegment = true)
        }
        (id, blob)
      }.toDF("doc_id", "blob")
      blobs.withColumn("__m", graft.functions.MkvMetaExpr(col("blob")))
        .select(col("doc_id"), col("__m.duration_ms").as("duration_ms"),
          col("__m.width").as("vid_w"), col("__m.height").as("vid_h"),
          col("__m.channels").as("channels"),
          col("__m.sample_rate").as("sample_rate"))
    }),

    // SILENCE-based audio segmentation (Multimodal.segmentAudio, VAD-lite):
    // each doc plants nseg voiced spans — two bursts bridged by a 10 ms
    // pause (below the 30 ms gate: must NOT split) — separated by
    // >= 30 ms silences (must split), behind a leading-silence prefix
    // (must trim). All sample counts are multiples of 8 so the 8 kHz ->
    // ms conversion is exact and the oracle replays pure arithmetic.
    "q230_audio_segments" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val amp = (id % 5000 + 1000).toInt
        val g0 = ((id % 7) * 16).toInt
        val v1 = (80 * (id % 5 + 1)).toInt
        val gap = (240 + 160 * (id % 3)).toInt
        val nseg = (id % 4 + 1).toInt
        val segPattern = Array.fill(v1)(amp) ++ Array.fill(80)(0) ++
          Array.fill(80)(-amp)
        val samples = Array.fill(g0)(0) ++
          (0 until nseg).flatMap(_ => segPattern ++ Array.fill(gap)(0))
        (id, AudioCodec.encodeWavPcm16(8000, 1, samples))
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.segmentAudio(blobs, "blob",
          silenceBelow = 100, minSilenceMs = 30, maxSegments = 8)
        .select(col("doc_id"), col("seg_idx"), col("start_ms"), col("end_ms"))
    }),

    // ID3v2 tag extraction (id3_tags): v2.3/v2.4 rotated per doc, frame
    // encodings rotated per doc too (values are ASCII so every encoding
    // round-trips to the same oracle string), tags sit in FRONT of a real
    // MP3 stream. Exploded to (doc_id, tag, tag_value) rows.
    "q231_id3_tags" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{CodedAudioCodec, Id3Codec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val enc = (id % 4).toInt
        val tag = Id3Codec.encode(if (id % 2 == 0) 3 else 4, Seq(
          ("TIT2", s"title $id", enc),
          ("TPE1", s"artist ${id % 50}", (enc + 1) % 4),
          ("TDRC", f"20${id % 30}%02d", (enc + 2) % 4)))
        (id, tag ++ CodedAudioCodec.encodeMp3(10, 3, 9, 0,
          mono = true, nFrames = 2))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          explode(graft.functions.Id3TagsExpr(col("blob"))).as(Seq("tag", "tag_value")))
        .select(col("doc_id"), col("tag"), col("tag_value"))
    }),

    // NumPy shard metadata (npy_meta): v1/v2 headers, 0-d/1-d/2-d shapes,
    // all four dtype spellings, exact payload-byte accounting — the
    // validate-before-decode step for embedding shards.
    "q232_npy_meta" -> ((s, d) => {
      import s.implicits._
      import graft.functions.NpyCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val descrs = Array("<f4", "<f8", "<i8", "|u1")
        val descr = descrs((id % 4).toInt)
        val width = Array(4, 8, 8, 1)((id % 4).toInt)
        val shape: Seq[Long] = (id % 5) match {
          case 0 => Nil
          case 1 => Seq(id % 13 + 1)
          case _ => Seq(id % 7 + 1, id % 11 + 1)
        }
        val n = shape.product max 1L
        (id, NpyCodec.encode(descr, fortran = id % 3 == 0, shape,
          dataBytes = (n * width).toInt, v2 = id % 2 == 1))
      }.toDF("doc_id", "blob")
      blobs.withColumn("__n", graft.functions.NpyMetaExpr(col("blob")))
        .select(col("doc_id"), col("__n.dtype").as("dtype"),
          col("__n.fortran_order").cast("int").as("fortran"),
          size(col("__n.shape")).as("n_dims"),
          col("__n.n_elems").as("n_elems"),
          col("__n.data_bytes").as("data_bytes"))
    }),

    // Integer-exact image quality stats (image_stats): the q210 planted
    // row-replicated pattern makes every field a bit-arithmetic closed
    // form — mean from the popcount, distinct 1 or 2, edge fraction from
    // adjacent-bit transitions — through PNG filters and both BMP row
    // orders (format independence rides along).
    "q233_image_stats" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val p = (id % 64) * 0x0101010101010101L
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        val bytes = (id % 7).toInt match {
          case 5 => ImageCodec.encodeBmpGray(8, 8, px)
          case 6 => ImageCodec.encodeBmpGray(8, 8, px, topDown = true)
          case f => ImageCodec.encodePng(8, 8, 1, px, filterType = f)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      blobs.withColumn("__s", graft.functions.ImageStatsExpr(col("blob")))
        .select(col("doc_id"),
          col("__s.mean_luma").as("mean_luma"),
          col("__s.min_luma").as("min_luma"),
          col("__s.max_luma").as("max_luma"),
          col("__s.n_distinct").as("n_distinct"),
          col("__s.edge_frac_milli").as("edge_frac_milli"))
    }),

    // WEBDATASET shard inventory (tar_entries / Multimodal.
    // webdatasetSamples): tar member walk + the first-dot sample-key
    // grouping rule, aggregated to per-sample member counts, byte totals
    // and extension sets — the shard-completeness validation a WebDataset
    // lake runs BEFORE decoding anything.
    "q234_webdataset" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ArchiveCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val ns = (id % 4 + 1).toInt
        val members = (1 to ns).flatMap { j =>
          val key = f"$j%06d"
          Seq(
            (s"$key.jpg", Array.tabulate[Byte]((j * 3 + 5))(k => (k + j).toByte)),
            (s"$key.txt", Array.tabulate[Byte]((j * 2 + 1))(k => k.toByte))) ++
            (if (id % 2 == 0) Seq((s"$key.json", Array.fill[Byte](4)('x')))
             else Nil)
        }
        (id, ArchiveCodec.tar(members))
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.webdatasetSamples(blobs, "blob")
        .groupBy(col("doc_id"), col("sample_key"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          array_join(sort_array(collect_list(col("member_ext"))), ",").as("exts"))
    }),

    // NPZ bundles (zip_entries + zip_stored_member -> npy_meta): NumPy's
    // savez layout is a stored-member zip of npy files; the composition
    // validates tensor shards without decompressing anything.
    "q235_npz_meta" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ArchiveCodec, NpyCodec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n0 = Seq(id % 6 + 1, id % 3 + 1)
        val n1 = Seq(id % 5 + 1)
        (id, ArchiveCodec.zipStored(Seq(
          ("arr_0.npy", NpyCodec.encode("<f8", fortran = false, n0,
            dataBytes = (n0.product * 8).toInt)),
          ("arr_1.npy", NpyCodec.encode("<i8", fortran = id % 2 == 0, n1,
            dataBytes = (n1.product * 8).toInt)),
          ("readme.txt", "npz fixture".getBytes))))
      }.toDF("doc_id", "blob")
      blobs
        .withColumn("__m0", graft.functions.NpyMetaExpr(
          graft.functions.ZipStoredMemberExpr(col("blob"), lit("arr_0.npy"))))
        .withColumn("__m1", graft.functions.NpyMetaExpr(
          graft.functions.ZipStoredMemberExpr(col("blob"), lit("arr_1.npy"))))
        .select(col("doc_id"),
          size(graft.functions.ZipEntriesExpr(col("blob"))).as("n_members"),
          col("__m0.dtype").as("dtype0"),
          col("__m0.n_elems").as("n_elems0"),
          col("__m0.data_bytes").as("bytes0"),
          col("__m1.fortran_order").cast("int").as("fortran1"),
          col("__m1.n_elems").as("n_elems1"))
    }),

    // TAR.GZ shards (gunzip -> tar_entries): the bounded inflate feeds
    // the header walk; names, sizes AND byte offsets replay closed-form
    // (each sub-512 B member consumes exactly header + one block).
    "q236_targz_entries" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ArchiveCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = (id % 5 + 1).toInt
        val members = (1 to m).map { k =>
          (s"f$k.bin", Array.fill[Byte]((k * 7 + id % 13).toInt)((k % 100).toByte))
        }
        (id, ArchiveCodec.gzip(ArchiveCodec.tar(members)))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          explode(graft.functions.TarEntriesExpr(
            graft.functions.GunzipExpr(col("blob"), 1 << 24))).as("e"))
        .select(col("doc_id"), col("e.name").as("member_name"),
          col("e.size").as("member_size"), col("e.offset").as("byte_off"))
    }),

    // SAFETENSORS shard inventory (safetensors_tensors): the HF-native
    // tensor format's header JSON, read by the restricted-grammar
    // scanner — names, dtypes, shapes, element counts, byte extents all
    // closed-form; __metadata__ blocks (every third doc) are skipped.
    "q237_safetensors" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TensorShardCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val dts = Array("F32", "F16", "I64", "U8")
        val tensors = (0 until (id % 4 + 1).toInt).map { t =>
          (s"t$t", dts(((id + t) % 4).toInt),
            Seq(id % 5 + 1, t + 1L))
        }
        (id, TensorShardCodec.safetensors(tensors, withMetadata = id % 3 == 0))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          explode(graft.functions.SafetensorsExpr(col("blob"))).as("t"))
        .select(col("doc_id"), col("t.name").as("tname"),
          col("t.dtype").as("dtype"), col("t.n_elems").as("n_elems"),
          col("t.data_bytes").as("data_bytes"))
    }),

    // TFRECORD framing (tfrecord_entries): length-CRC-validated record
    // walk; offsets and sizes replay in closed form (record k's payload
    // sits at 12 + sum of earlier 16+size frames).
    "q238_tfrecord" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TensorShardCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = (id % 6 + 1).toInt
        val c = (id % 9 + 1).toInt
        val payloads = (0 until m).map(k =>
          Array.fill[Byte](k * 5 + c)((k + 1).toByte))
        (id, TensorShardCodec.tfrecord(payloads))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          posexplode(graft.functions.TfRecordEntriesExpr(col("blob")))
            .as(Seq("rec_idx", "r")))
        .select(col("doc_id"), col("rec_idx"),
          col("r.offset").as("byte_off"), col("r.size").as("rec_size"))
    }),

    // WEBDATASET member decode (tar_member -> npy_meta): slice one
    // member's payload out of the shard and validate it as a tensor —
    // no unpacking, no shuffle, the shard read once.
    "q239_tar_member" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ArchiveCodec, NpyCodec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = id % 7 + 1
        (id, ArchiveCodec.tar(Seq(
          ("e.npy", NpyCodec.encode("<i8", fortran = false, Seq(n),
            dataBytes = (n * 8).toInt)),
          ("e.txt", Array.fill[Byte]((id % 20 + 1).toInt)('t')))))
      }.toDF("doc_id", "blob")
      blobs
        .withColumn("__m", graft.functions.NpyMetaExpr(
          graft.functions.TarMemberExpr(col("blob"), lit("e.npy"))))
        .select(col("doc_id"),
          size(graft.functions.TarEntriesExpr(col("blob"))).as("n_members"),
          col("__m.dtype").as("dtype"),
          col("__m.n_elems").as("n_elems"),
          col("__m.data_bytes").as("data_bytes"))
    }),

    // .TAR.ZST shard inventory (tar_entries ∘ zunstd): the zstd twin of
    // q236 — modern WebDataset / text-corpus shards ship zstd-compressed
    // (zstd-jni is already on the Spark classpath); names, sizes and
    // offsets replay closed-form through the bounded inflate.
    "q240_tarzst_entries" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ArchiveCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = (id % 4 + 1).toInt
        val members = (1 to m).map { k =>
          (s"m$k.bin", Array.fill[Byte]((k * 9 + id % 11).toInt)((k % 100).toByte))
        }
        (id, ArchiveCodec.zstd(ArchiveCodec.tar(members)))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          explode(graft.functions.TarEntriesExpr(
            graft.functions.ZunstdExpr(col("blob"), 1 << 24))).as("e"))
        .select(col("doc_id"), col("e.name").as("member_name"),
          col("e.size").as("member_size"), col("e.offset").as("byte_off"))
    }),

    // TFRECORD payload extraction (tfrecord_member): slice ONE record's
    // payload out of the shard with its masked CRC32C verified on
    // extraction — the inventory (q238) stays CRC-free, ingestion
    // validates exactly the bytes it consumes. Planted single-letter
    // payloads replay closed-form.
    "q241_tfrecord_member" -> ((s, d) => {
      import s.implicits._
      import graft.functions.TensorShardCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val m = (id % 5 + 2).toInt
        val payloads = (0 until m).map { k =>
          Array.fill[Byte]((k * 3 + id % 7 + 1).toInt)(('a' + k).toByte)
        }
        (id, (id % m).toInt, TensorShardCodec.tfrecord(payloads))
      }.toDF("doc_id", "pick", "blob")
      blobs
        .withColumn("__p",
          graft.functions.TfRecordMemberExpr(col("blob"), col("pick")))
        .select(col("doc_id"), col("pick").as("rec_idx"),
          length(col("__p")).cast("long").as("rec_size"),
          decode(col("__p"), "UTF-8").as("payload"))
    }),

    // STREAMING WebDataset shard source (TarShards.readWebDataset): the
    // q234 shards written as real FILES (plain tar / tar.gz / tar.zst by
    // doc_id%3) and read back by the streaming source — file-level
    // parallelism, O(member) memory, never a whole-shard blob. The
    // aggregation replays q234's closed form AND pins the streamed
    // payload bytes (sum(length(payload)) == header sizes), proving the
    // stream path delivers the same members the blob walk lists.
    "q242_webdataset_stream" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_wds_").toString
      // the REAL WebDataset layout: 64 shards each packing many samples
      // (docs keyed into shards by id; directories keep the sample keys
      // distinct across docs per the base_plus_ext rule) — not one tiny
      // file per doc, whose 5000-file listing/open overhead measured 112 s
      writeWdsShards(s, d, dir, _ => true, _ % 64, sid => f"shard-$sid%05d",
        withJson = true,
        sid => (sid % 3).toInt match {
          case 0 => "tar"; case 1 => "tar.gz"; case _ => "tar.zst" })
      graft.sources.TarShards.readWebDataset(s, dir + "/shard-*")
        .withColumn("doc_id",
          regexp_extract(col("sample_key"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("jkey", regexp_extract(col("sample_key"), "/(\\d+)$", 1))
        .groupBy(col("doc_id"), col("jkey").as("sample_key"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          sum(length(col("payload"))).cast("long").as("payload_bytes"),
          array_join(sort_array(collect_list(col("member_ext"))), ",").as("exts"))
    }),

    // FLAC sample decode (flac_pcm): planted PCM through the REAL FLAC
    // encoder — Rice coding, fixed/LPC predictors (mode by doc_id%4),
    // stereo decorrelation (mid/side / left/side on even docs), 32-sample
    // frames so every doc chains multiple frames — decodes back to
    // samples whose integer-exact stats replay the WAV twin's closed
    // form bit-for-bit.
    "q243_flac_decode" -> ((s, d) => {
      import s.implicits._
      import graft.functions.FlacCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 50 + 20).toInt
        val amp = (id % 3000 + 100).toInt
        val channels = if (id % 2 == 0) 2 else 1
        val samples = Array.tabulate(n * channels) { k =>
          val j = k / channels
          if (j % 3 == 0) amp else if (j % 3 == 1) -amp else 0
        }
        val mode = (id % 4).toInt match {
          case 0 => "fixed2"
          case 1 => "fixed1"
          case 2 => "verbatim"
          case _ => "lpc1"
        }
        val stereo =
          if (channels == 2) { if (id % 3 == 0) "midside" else "leftside" }
          else "independent"
        (id, FlacCodec.encodePcm16(16000, channels, samples,
          blockSize = 32, mode = mode, stereo = stereo))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          graft.functions.AudioStats(
            graft.functions.FlacPcmExpr(col("blob")), 50).as("st"))
        .select(col("doc_id"),
          col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.sum_sq").as("sum_sq"),
          col("st.n_silent").as("n_silent"))
    }),

    // SIGNATURE-TABLE MAINTENANCE (Dedup.ingestImagesIncremental): the
    // q217 image corpus run through the PERSISTED-artifact lifecycle —
    // batch 0 seeds an empty table with the corpus (even doc_ids, all
    // survive), batch 1 ingests the increment (odd doc_ids; hamming ≤ 3
    // of any persisted signature drops) with compactEvery = 1 so the
    // cycle ends in an id-deduped two-phase-swap rewrite. The FINAL
    // table is the output: even ids at batch 0, surviving odd ids at
    // batch 1, each with its planted perceptual hash — so drops,
    // appends AND the compaction rewrite are all oracle-checked.
    "q245_signature_table" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val m5 = (1L << 1) | (1L << 10) | (1L << 19) | (1L << 28) | (1L << 37)
      def imgs(rows: org.apache.spark.sql.Dataset[Long]) = rows.map { id =>
        val g = ((id / 2) % 64).toInt
        val p0 = g.toLong * 0x0101010101010101L
        val p =
          if (id % 2 == 0) p0
          else if (id % 3 == 0) p0 ^ (1L << (id % 63).toInt)
          else if (id % 3 == 1) p0 ^ m5
          else p0
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        val bytes = (id % 7).toInt match {
          case 5 => ImageCodec.encodeBmpGray(8, 8, px)
          case 6 => ImageCodec.encodeBmpGray(8, 8, px, topDown = true)
          case f => ImageCodec.encodePng(8, 8, 1, px, filterType = f)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      val sigDir = java.nio.file.Files.createTempDirectory("graft_sigtab_")
        .toString + "/sigs"
      val ids = docs(s, d).select(col("doc_id")).as[Long]
      Dedup.ingestImagesIncremental(
        imgs(ids.filter(col("doc_id") % 2 === 0)), "doc_id", "blob",
        sigDir, batchId = 0L)
      Dedup.ingestImagesIncremental(
        imgs(ids.filter(col("doc_id") % 2 === 1)), "doc_id", "blob",
        sigDir, batchId = 1L, compactEvery = 1)
      s.read.parquet(sigDir)
        .select(col("id").as("doc_id"), col("sh").as("ahash"), col("batch_id"))
    }),

    // STREAMING shard INGEST (TarShards.readWebDatasetStream): shards
    // arrive in two waves (even docs' shards land, a micro-batch parses
    // them, then odd docs' shards); the binaryFile source's exactly-once
    // file tracking means the union of batches is exactly one pass over
    // every member — the q242 closed form re-derived through continuous
    // ingest, payload bytes pinned per sample.
    // STREAMING EXPORT LEG (writeShardsStream): the continuous curation
    // loop closes — shards ARRIVE over two waves, each micro-batch
    // re-exports its samples as zstd shards into batch=<id> subdirs
    // (replay-idempotent deterministic names, spec-proven), and the
    // exported lake read back replays the q247 member math exactly with
    // every sample in exactly one output shard.
    "q261_wds_stream_export" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_wsex_").toString
      val in = root + "/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val out = root + "/out"
      def writeWave(wave: Int): Unit =
        writeWdsShards(s, d, in, id => id % 2 == wave, id => (id / 2) % 32,
          sid => f"w$wave%d-$sid%05d", withJson = false, _ => "tar")
      val q = graft.sources.TarShards.writeShardsStream(
        graft.sources.TarShards.readWebDatasetStream(s, in)
          .select(col("sample_key"), col("member_name"), col("payload")),
        out, root + "/ckpt", targetShardBytes = 1 << 20,
        shardPartitions = 8, compression = "zstd")
      try {
        writeWave(0)
        q.processAllAvailable()
        writeWave(1)
        q.processAllAvailable()
      } finally q.stop()
      graft.sources.TarShards.readWebDataset(s, out + "/batch=*/*")
        .withColumn("doc_id",
          regexp_extract(col("sample_key"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("sample_key"), "/0*(\\d+)$", 1).cast("long"))
        .groupBy(col("doc_id"), col("j"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          countDistinct(col("shard")).as("n_shards"))
    }),

    // NPZ EXPORT LEG (ZipShards.writeBundles): curated tensors write
    // back as size-capped DEFLATED bundles (savez_compressed layout,
    // one shuffle, streaming zip writer), and the q250 closed form
    // replays over OUR OWN output: SQL inventory of the exported lake →
    // fetchStored inflate → npy_meta gives back the planted shapes.
    "q262_npz_export" -> ((s, d) => {
      import s.implicits._
      import graft.functions.NpyCodec
      val dir = java.nio.file.Files.createTempDirectory("graft_npzw_")
        .toString + "/lake"
      val members = docs(s, d).select(col("doc_id")).as[Long].flatMap { id =>
        val n = id % 7 + 1
        Seq((f"d$id%06d", f"d$id%06d.npy",
            NpyCodec.encode("<i8", fortran = false, Seq(n), (n * 8).toInt)),
          (f"d$id%06d", f"d$id%06d.txt",
            Array.fill[Byte]((id % 20 + 1).toInt)('t')))
      }.toDF("sample_key", "member_name", "payload")
      graft.sources.ZipShards.writeBundles(members, dir,
        targetBundleBytes = 1 << 20, bundlePartitions = 8,
        method = "deflated").count()
      val inv = s.read.format("graft-zip").load(dir)
      graft.sources.ZipShards.fetchStored(
          inv.filter(col("member_name").endsWith(".npy")))
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d0*(\\d+)\\.npy$", 1).cast("long"))
        .withColumn("__m", graft.functions.NpyMetaExpr(col("payload")))
        .select(col("doc_id"), col("method"),
          col("__m.n_elems").as("n_elems"),
          col("__m.data_bytes").as("data_bytes"))
    }),

    // MEMBER-PREDICATE PUSHDOWN on the SQL shard surface: `WHERE
    // member_name LIKE '%.txt'` evaluates per HEADER inside the walk, so
    // only txt bytes are ever materialized (jpg payloads are seeked
    // over) — and the pushed answer hash-matches the unpushed RDD twin
    // row for row (the strict-subset-of-bytes proof, via-tagged like
    // q250). PlanQualitySpec pins the filters in the scan description.
    "q260_tar_member_pushdown" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_tpush_")
        .toString + "/lake"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      writeWdsShards(s, d, dir, _ => true, id => (id / 2) % 32,
        sid => f"s$sid%05d", withJson = false, _ => "tar")
      def shape(df: org.apache.spark.sql.DataFrame, via: String) = df
        .filter(col("member_name").endsWith(".txt") &&
          col("member_type") === "file")
        .select(col("member_name"), lit(via).as("via"),
          col("member_size"), length(col("payload")).cast("long").as("payload_len"))
      shape(s.read.format("graft-tar").load(dir + "/*"), "pushed")
        .unionByName(shape(graft.sources.TarShards.read(s, dir + "/*"), "rdd"))
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("member_name"), "/0*(\\d+)\\.txt$", 1).cast("long"))
        .select(col("doc_id"), col("j"), col("via"),
          col("member_size"), col("payload_len"))
    }),

    // DATED-LAYOUT continuous ingest with a BOUNDED ledger: producers
    // land shards under date= subdirectories (no consumer globs), the
    // arrival walk recurses, and the run drives admissions past a small
    // ledgerCompactInterval so the committed history folds into compact
    // segments while maxFileAge bounds the seen-set — the q247 closed
    // form re-derived through the perpetual-ingest configuration, with
    // the dated dir itself pinned per row (wave parity = date).
    "q259_wds_dated_ingest" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_wdsd_").toString
      val in = root + "/in"
      val dates = Seq("2026-08-15", "2026-08-16")
      dates.foreach(dt => java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(in, s"date=$dt")))
      def writeWave(wave: Int): Unit =
        writeWdsShards(s, d, in + s"/date=${dates(wave)}",
          id => id % 2 == wave, id => (id / 2) % 32,
          sid => f"w$wave%d-$sid%05d", withJson = true, _ => "tar")
      val out = root + "/out"
      val q = graft.sources.TarShards.readWebDatasetStream(s, in,
          options = Map("maxFilesPerTrigger" -> "8",
            "ledgerCompactInterval" -> "2", "maxFileAge" -> "7d"))
        .select(col("shard"), col("sample_key"), col("member_ext"),
          col("member_size"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", root + "/ckpt")
        .start()
      try {
        writeWave(0)
        q.processAllAvailable()
        writeWave(1)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(out)
        .withColumn("doc_id",
          regexp_extract(col("sample_key"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("jkey", regexp_extract(col("sample_key"), "/(\\d+)$", 1))
        .groupBy(col("doc_id"), col("jkey").as("sample_key"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          max(regexp_extract(col("shard"), "date=([0-9-]+)/", 1)).as("shard_date"),
          array_join(sort_array(collect_list(col("member_ext"))), ",").as("exts"))
    }),

    "q247_wds_stream_ingest" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_wdst_").toString
      val in = root + "/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeWave(wave: Int): Unit =
        writeWdsShards(s, d, in, id => id % 2 == wave, id => (id / 2) % 32,
          sid => f"w$wave%d-$sid%05d", withJson = true, _ => "tar")
      val out = root + "/out"
      val q = graft.sources.TarShards.readWebDatasetStream(s, in)
        .select(col("sample_key"), col("member_ext"), col("member_size"),
          length(col("payload")).cast("long").as("payload_len"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", root + "/ckpt")
        .start()
      try {
        writeWave(0)
        q.processAllAvailable()
        writeWave(1)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(out)
        .withColumn("doc_id",
          regexp_extract(col("sample_key"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("jkey", regexp_extract(col("sample_key"), "/(\\d+)$", 1))
        .groupBy(col("doc_id"), col("jkey").as("sample_key"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          sum(col("payload_len")).as("payload_bytes"),
          array_join(sort_array(collect_list(col("member_ext"))), ",").as("exts"))
    }),

    // NPZ LAKE inventory → fetch (ZipShards): 64 npz bundles packing all
    // docs' tensors; the SEEKABLE inventory (two positioned reads per
    // bundle — EOCD tail + central directory, zero payload bytes) lists
    // every member, the npy members fetch through their local headers,
    // and npy_meta of the FETCHED bytes replays the planted shapes —
    // proving the positioned reads returned the actual members.
    "q249_npz_lake" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ArchiveCodec, NpyCodec}
      val dir = java.nio.file.Files.createTempDirectory("graft_npz_").toString
      val members = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = id % 7 + 1
        (id % 64, id,
          NpyCodec.encode("<i8", fortran = false, Seq(n), (n * 8).toInt),
          Array.fill[Byte]((id % 20 + 1).toInt)('t'))
      }
      members.groupByKey(_._1).mapGroups { (sid, it) =>
        val ms = it.toSeq.sortBy(_._2).flatMap { case (_, id, npy, txt) =>
          Seq((s"d$id.npy", npy), (s"d$id.txt", txt))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"bundle-$sid%05d.npz"),
          ArchiveCodec.zipStored(ms))
        sid
      }.count()
      val inv = graft.sources.ZipShards.inventory(s, dir + "/*.npz")
      graft.sources.ZipShards.fetchStored(
          inv.filter(col("member_name").endsWith(".npy")))
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)\\.npy$", 1).cast("long"))
        .withColumn("__m", graft.functions.NpyMetaExpr(col("payload")))
        .select(col("doc_id"), col("__m.n_elems").as("n_elems"),
          col("__m.data_bytes").as("data_bytes"))
    }),

    // DEFLATED NPZ LAKE (zip_member + fetchStored method-8 inflate):
    // numpy.savez_compressed deflates every npy member, so a
    // compressed-npz lake must inventory at positioned-read cost AND
    // read through the bounded raw-deflate path. Both surfaces — the
    // whole-blob zip_member expression and the seekable fetch — inflate
    // the same members; npy_meta of the INFLATED bytes replays the
    // planted shapes, proving real inflation on both.
    "q250_npz_deflated" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ArchiveCodec, NpyCodec}
      val dir = java.nio.file.Files.createTempDirectory("graft_npzd_").toString
      val members = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = id % 7 + 1
        (id % 64, id,
          NpyCodec.encode("<i8", fortran = false, Seq(n), (n * 8).toInt),
          Array.fill[Byte]((id % 20 + 1).toInt)('t'))
      }
      members.groupByKey(_._1).mapGroups { (sid, it) =>
        val ms = it.toSeq.sortBy(_._2).flatMap { case (_, id, npy, txt) =>
          Seq((s"d$id.npy", npy, 8), (s"d$id.txt", txt, 0))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, f"bundle-$sid%05d.npz"),
          ArchiveCodec.zipMixed(ms))
        sid
      }.count()
      val inv = graft.sources.ZipShards.inventory(s, dir + "/*.npz")
      val viaFetch = graft.sources.ZipShards.fetchStored(
          inv.filter(col("member_name").endsWith(".npy")))
        .select(col("member_name"), lit("fetch").as("via"),
          graft.functions.NpyMetaExpr(col("payload")).as("__m"))
      val viaBlob = s.read.format("binaryFile").load(dir + "/*.npz")
        .select(explode(graft.functions.ZipEntriesExpr(col("content"))).as("e"),
          col("content"))
        .filter(col("e.name").endsWith(".npy"))
        .select(col("e.name").as("member_name"), lit("blob").as("via"),
          graft.functions.NpyMetaExpr(graft.functions.ZipMemberExpr(
            col("content"), col("e.name"), 1L << 24)).as("__m"))
      viaFetch.unionByName(viaBlob)
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)\\.npy$", 1).cast("long"))
        .select(col("doc_id"), col("via"),
          col("__m.n_elems").as("n_elems"),
          col("__m.data_bytes").as("data_bytes"))
    }),

    // CURATION ROUND TRIP (ingest-shaped rows → exact dedup → EXPORT →
    // ingest): the full loop a training-data pipeline runs, composed
    // end-to-end. Payloads collide by class (doc_id % 64 share identical
    // bytes); exact dedup by payload hash keeps the smallest doc per
    // class; the survivors export as compressed shards; reading the
    // exported lake back yields exactly one member per class with the
    // planted size — the closed form of the whole loop.
    "q257_curation_loop" -> ((s, d) => {
      import s.implicits._
      val out = java.nio.file.Files.createTempDirectory("graft_cur_")
        .toString + "/kept"
      val members = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val c = (id % 64).toInt
        (f"d$id%06d", f"d$id%06d.txt",
          Array.tabulate[Byte](c * 3 + 8)(k => ((k + c) % 251).toByte))
      }.toDF("sample_key", "member_name", "payload")
      val kept = members
        .withColumn("__h", xxhash64(col("payload")))
        .withColumn("__rk", row_number().over(
          Window.partitionBy(col("__h")).orderBy(col("sample_key"))))
        .filter(col("__rk") === 1)
        .drop("__h", "__rk")
      graft.sources.TarShards.writeShards(kept, out,
        targetShardBytes = 1 << 20, shardPartitions = 8,
        compression = "zstd").count()
      graft.sources.TarShards.readWebDataset(s, out + "/*")
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d0*(\\d+)\\.txt$", 1).cast("long"))
        .select(col("doc_id"), col("member_size"))
    }),

    // WEBDATASET EXPORT (TarShards.writeShards): the WRITE leg of the
    // curation loop — member rows become size-capped tar shards with
    // sample integrity (one shuffle by sample key, bins roll only at
    // sample boundaries), and reading the written lake back replays the
    // planted member math exactly: export → ingest is the identity, and
    // n_shards = 1 per sample pins the no-split rule.
    "q256_wds_export" -> ((s, d) => {
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_wdsw_")
        .toString + "/out"
      val members = docs(s, d).select(col("doc_id")).as[Long].flatMap { id =>
        (1 to (id % 4 + 1).toInt).flatMap { j =>
          val key = f"d$id%d/$j%06d"
          Seq((key, s"$key.jpg",
            Array.tabulate[Byte](j * 3 + 5)(k => (k + j).toByte)),
            (key, s"$key.txt", Array.tabulate[Byte](j * 2 + 1)(k => k.toByte)))
        }
      }.toDF("sample_key", "member_name", "payload")
      // 1 MB target: pack many samples per shard — binaryFiles floors
      // split cost at openCostInBytes, so a tiny-shard fixture would
      // measure listing overhead, not the export (the q242 lesson)
      graft.sources.TarShards.writeShards(members, dir,
        targetShardBytes = 1 << 20, shardPartitions = 16).count()
      graft.sources.TarShards.readWebDataset(s, dir + "/*")
        .withColumn("doc_id",
          regexp_extract(col("sample_key"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("sample_key"), "/0*(\\d+)$", 1).cast("long"))
        .groupBy(col("doc_id"), col("j"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          countDistinct(col("shard")).as("n_shards"))
    }),

    // STREAMING NPZ-LAKE inventory (graft-zip arrival-ledger source):
    // bundles land in two waves — wave 0 stored, wave 1 DEFLATED — and
    // each micro-batch inventories only the new arrivals (two positioned
    // reads per bundle, zero payload bytes on the stream). The
    // accumulated inventory then drives fetchStored (slicing stored
    // members, inflating deflated ones) and npy_meta replays the planted
    // shapes: the q249 closed form re-derived through continuous ingest.
    "q255_npz_stream_inventory" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{ArchiveCodec, NpyCodec}
      val root = java.nio.file.Files.createTempDirectory("graft_npzs_").toString
      val in = root + "/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeWave(wave: Int): Unit = {
        val members = docs(s, d).select(col("doc_id")).as[Long]
          .filter(col("doc_id") % 2 === wave)
          .map { id =>
            val n = id % 7 + 1
            ((id / 2) % 32, id,
              NpyCodec.encode("<i8", fortran = false, Seq(n), (n * 8).toInt),
              Array.fill[Byte]((id % 20 + 1).toInt)('t'))
          }
        members.groupByKey(_._1).mapGroups { (sid, it) =>
          val ms = it.toSeq.sortBy(_._2).flatMap { case (_, id, npy, txt) =>
            Seq((s"d$id.npy", npy, if (wave == 1) 8 else 0),
              (s"d$id.txt", txt, 0))
          }
          landFile(in, f"w$wave%d-$sid%05d.npz", ArchiveCodec.zipMixed(ms))
          sid
        }.count()
        ()
      }
      val out = root + "/out"
      val q = graft.sources.ZipShards.inventoryStream(s, in)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", root + "/ckpt").start()
      try {
        writeWave(0)
        q.processAllAvailable()
        writeWave(1)
        q.processAllAvailable()
      } finally q.stop()
      val inv = s.read.parquet(out)
      graft.sources.ZipShards.fetchStored(
          inv.filter(col("member_name").endsWith(".npy")))
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)\\.npy$", 1).cast("long"))
        .withColumn("__m", graft.functions.NpyMetaExpr(col("payload")))
        .select(col("doc_id"), col("method"),
          col("__m.n_elems").as("n_elems"),
          col("__m.data_bytes").as("data_bytes"))
    }),

    // SQL shard surface (spark.read.format("graft-tar")): the WebDataset
    // lake as a pure-SQL table — and because the query never selects
    // `payload`, column pruning pushes the HEADER-ONLY walk into the
    // scan (withPayload=false: 512 B reads, nothing allocated), so this
    // aggregation over a shard lake is an inventory-cost query.
    "q251_tar_sql_lake" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_wdssql_").toString
      writeWdsShards(s, d, dir, _ => true, _ % 64, sid => f"shard-$sid%05d",
        withJson = false, _ => "tar")
      s.read.format("graft-tar").load(dir + "/shard-*")
        .filter(col("member_type") === "file")
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("member_name"), "/0*(\\d+)\\.", 1).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("member_size")).as("total_bytes"),
          max(col("j")).as("max_j"))
    }),

    // PERMISSIVE streaming shard ingest (the graft-tar arrival-ledger
    // source + quarantine): a lake wave with one corrupt shard — member
    // 2's header checksum lies — must not poison the stream. The corrupt
    // shard keeps exactly its pre-corruption prefix (member 1), every
    // good shard lands whole, and the stream advances past the
    // quarantined file instead of replaying it forever.
    "q252_stream_quarantine" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_wdsq_").toString
      val in = root + "/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      writeWdsShards(s, d, in, id => id % 2 == 0, id => (id / 2) % 32,
        sid => f"good-$sid%05d", withJson = false, _ => "tar")
      val bad = graft.functions.ArchiveCodec.tar(Seq(
        ("x/000001.txt", Array[Byte](1, 2, 3)),
        ("x/000002.txt", Array.fill[Byte](5)(9))))
      bad(1024 + 148) = (bad(1024 + 148) ^ 1).toByte
      java.nio.file.Files.write(java.nio.file.Paths.get(in, "poison.tar"), bad)
      val out = root + "/out"
      val q = graft.sources.TarShards.readWebDatasetStream(s, in, permissive = true)
        .select(col("member_name"), col("member_size"))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", root + "/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(out)
        .withColumn("doc_id", when(col("member_name").rlike("^d\\d+/"),
          regexp_extract(col("member_name"), "^d(\\d+)/", 1).cast("long"))
          .otherwise(lit(-1L)))
        .withColumn("j", when(col("member_name").rlike("^d\\d+/"),
          regexp_extract(col("member_name"), "/0*(\\d+)\\.", 1).cast("long"))
          .otherwise(lit(1L)))
        .withColumn("member_ext",
          regexp_extract(col("member_name"), "\\.([a-z]+)$", 1))
        .select(col("doc_id"), col("j"), col("member_ext"), col("member_size"))
    }),

    // FRAGMENTED MP4 keyframe planning (moof/traf/trun): DASH/CMAF
    // segments keep moov's sample tables EMPTY and carry samples in
    // movie fragments — these planned zero rows before. Two fragments
    // per doc (tfdt bases f*100000), per-sample trun tables; the plan
    // replays tfdt + cumulative-duration times and sync-flag selection
    // closed-form, and the intra-fragment byte_off step between
    // consecutive keyframes replays the cumulative size math
    // (base-is-moof + data_offset + sizes).
    // MP4 EDIT LISTS (trak/edts/elst): DASH packagers shift sample times
    // by the first non-empty edit's media_time — keyframe times must
    // come back in PRESENTATION time for moov-resident AND fragmented
    // layouts (per-doc parity picks the layout; the closed form is the
    // same either way). Half the docs carry an empty-edit prefix
    // (media_time -1) that must be skipped, and shifts put some first
    // keyframes at negative (pre-roll) times on purpose.
    "q263_mp4_editlist" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Mp4Codec
      import graft.functions.Mp4Codec.{FragSampleFx, SampleTables}
      val NonSync = 0x10000L
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 5 + 2).toInt
        val shift = (id % 4) * 25L
        val elst =
          if (id % 2 == 0) Seq((500L, -1L), (0L, shift))
          else Seq((0L, shift))
        val layout = if (id % 3 == 0) "frag" else "moov"
        val bytes =
          if (layout == "moov")
            Mp4Codec.encode(1000, n * 50L, 64, 48, nFrames = n,
              tables = SampleTables(1000, Seq((n.toLong, 50L)),
                constSampleSize = 60, samplesPerChunk = n,
                chunkOffsets = Seq(1000L),
                syncSamples = (1 to n by 2).map(_.toLong)),
              elst = elst, elstV1 = id % 5 == 0)
          else {
            val head = Mp4Codec.encode(1000, 0L, 64, 48, nFrames = 0,
              trex = (0L, 0L, NonSync), elst = elst, elstV1 = id % 5 == 0)
            head ++ Mp4Codec.fragment(1, 1, 0L,
              (0 until n).map(j => FragSampleFx(50, 60,
                if (j % 2 == 0) 0L else NonSync)))
          }
        (id, layout, bytes)
      }.toDF("doc_id", "layout", "blob")
      graft.operators.Multimodal.sampleKeyframesMp4(blobs, "blob", maxFrames = 8)
        .select(col("doc_id"), col("layout"), col("frame_idx"), col("t_ms"))
    }),

    // OGG GRANULE SEEK PLANNING (ogg_pagepoints): ogg has no seek table,
    // so the page walk IS the index — every point (granule, byte_off)
    // means "samples past granule start at byte_off" (the next page
    // boundary), the Vorbis/Opus twin of the FLAC SEEKTABLE plan. The
    // planted page layout replays closed-form: BOS point at the 58-byte
    // header boundary, then one point per 44-byte data page.
    "q264_ogg_pagepoints" -> ((s, d) => {
      import s.implicits._
      import graft.functions.OggCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val k = (id % 5 + 2).toInt
        val g = id % 900 + 100
        (id, OggCodec.vorbisPaged(2, 44100, (1 to k).map(_ * g)))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          explode(graft.functions.OggPagepointsExpr(col("blob"), 64)).as("p"))
        .select(col("doc_id"), col("p.granule").as("granule"),
          col("p.byte_off").as("byte_off"))
    }),

    "q253_fmp4_keyframes" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Mp4Codec
      import graft.functions.Mp4Codec.FragSampleFx
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val nS = (id % 4 + 2).toInt
        val dur = 40 + (id % 3) * 10
        val head = Mp4Codec.encode(1000, 0L, 64, 48, nFrames = 0,
          trex = (0L, 0L, 0x10000L))
        val frags = (0 until 2).map { f =>
          Mp4Codec.fragment(f + 1, 1, f * 100000L,
            (0 until nS).map(j => FragSampleFx(dur, 100 + 10L * j + id % 7,
              if (j % 3 == 0) 0L else 0x10000L)))
        }
        (id, head ++ frags(0) ++ frags(1))
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleKeyframesMp4(blobs, "blob", maxFrames = 8)
        .withColumn("frag", floor(col("t_ms") / 100000L))
        .withColumn("off_step", col("byte_off") - lag("byte_off", 1).over(
          Window.partitionBy(col("doc_id"), col("frag"))
            .orderBy(col("frame_idx"))))
        .select(col("doc_id"), col("frame_idx"), col("t_ms"), col("off_step"))
    }),

    // FRAGMENTED MP4 stride planning (the traf twin of the q216 media-
    // time plan): two fragments per doc with a MEDIA-TIME GAP between
    // them (tfdt 0 and 100020), 40-tick samples, 80 ms stride. Fragment
    // 0 boundaries land on even samples; the gap jump re-anchors the
    // boundary cursor at 100080, which falls INSIDE sample 1 of fragment
    // 1 — so fragment 1 picks odd samples. Both legs replay closed-form.
    "q258_fmp4_stride" -> ((s, d) => {
      import s.implicits._
      import graft.functions.Mp4Codec
      import graft.functions.Mp4Codec.FragSampleFx
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val nS = (id % 4 + 2).toInt
        def frag(seq: Int, base: Long) = Mp4Codec.fragment(seq, 1, base,
          (0 until nS).map(j => FragSampleFx(40, 50 + j, 0L)))
        val head = Mp4Codec.encode(1000, 0L, 64, 48, nFrames = 0,
          trex = (0L, 0L, 0x10000L))
        (id, head ++ frag(1, 0L) ++ frag(2, 100020L))
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleFramesMp4ByTime(blobs, "blob",
          strideMs = 80, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"), col("t_ms"))
    }),

    // FLAC SEEKTABLE planning + offset-aware decode (flac_seekpoints +
    // flac_pcm_from): sampling the tail of a long stream must not cost a
    // full-prefix decode — plan the seekpoints (metadata-only), seek to
    // the LAST one, decode only [sample_off, total). The planted q248
    // amp/-amp/0 pattern replays closed-form over exactly the tail
    // segment, and the point count replays the frame math.
    "q254_flac_seektable" -> ((s, d) => {
      import s.implicits._
      import graft.functions.FlacCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 40 + 10).toInt
        val amp = (id % 3000 + 100).toInt
        val samples = Array.tabulate(n)(j =>
          if (j % 3 == 0) amp else if (j % 3 == 1) -amp else 0)
        (id, FlacCodec.encodePcm16(16000, 1, samples, blockSize = 16,
          seekEvery = 2))
      }.toDF("doc_id", "blob")
      blobs
        .withColumn("pts", graft.functions.FlacSeekpointsExpr(col("blob"), 64))
        .withColumn("last", element_at(col("pts"), -1))
        .select(col("doc_id"), size(col("pts")).as("n_points"),
          graft.functions.AudioStats(graft.functions.FlacPcmFromExpr(
            col("blob"), col("last.sample_off"), col("last.byte_off"),
            1 << 20), 50).as("st"))
        .select(col("doc_id"), col("n_points"),
          col("st.n_samples").as("n_samples"), col("st.peak").as("peak"),
          col("st.sum_sq").as("sum_sq"), col("st.n_silent").as("n_silent"))
    }),

    // INVENTORY → SELECT → FETCH (TarShards.inventory + fetchMembers):
    // the 100 TB access pattern — list every member of every shard
    // reading ONLY headers (payloads skipped, nothing allocated), select
    // samples (odd-j jpgs here), then seek-read exactly the survivors
    // with positioned FS reads. Fetched payload lengths replay the
    // planted member math closed-form.
    "q246_inventory_fetch" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft_wdsi_").toString
      writeWdsShards(s, d, dir, _ => true, _ % 64, sid => f"shard-$sid%05d",
        withJson = false, _ => "tar") // fetch needs uncompressed shards
      val inv = graft.sources.TarShards.inventory(s, dir + "/shard-*")
      val picked = inv
        .filter(col("member_name").rlike("\\.jpg$")) // before any ANSI cast
        .withColumn("doc_id",
          regexp_extract(col("member_name"), "^d(\\d+)/", 1).cast("long"))
        .withColumn("j",
          regexp_extract(col("member_name"), "/0*(\\d+)\\.jpg$", 1).cast("long"))
        .filter(col("j") % 2 === 1)
      graft.sources.TarShards.fetchMembers(picked)
        .select(col("doc_id"), col("j"), col("member_size"),
          length(col("payload")).cast("long").as("payload_len"))
    }),

    // MKV CUES keyframe planning (mkv_cues): the Matroska twin of the
    // MP4 stss plan (q223) — CuePoint times x TimestampScale and cluster
    // byte offsets replay closed-form; docs without a Cues index
    // (doc_id%10 = 7) contribute zero rows; the planning cap (4) trims
    // the 5-cue docs.
    "q244_mkv_cues" -> ((s, d) => {
      import s.implicits._
      import graft.functions.MkvCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val cues =
          if (id % 10 == 7) Seq.empty[(Long, Long)]
          else (0 until (id % 5 + 1).toInt).map { j =>
            (j.toLong * (id % 7 + 2) * 10, 1000L + j * (id % 9 + 3) * 100)
          }
        (id, MkvCodec.encode(50000.0,
          timestampScale = if (id % 2 == 0) 2000000L else 1000000L,
          video = Some((64, 48)), cues = cues))
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleKeyframesMkv(blobs, "blob", 4)
        .select(col("doc_id"), col("t_ms"), col("cluster_off"))
    }),

    // FLAC bit-depth normalization (flac_pcm over 8- and 24-bit
    // sources): even docs carry 24-bit streams whose LOW byte is noise —
    // the q222 16-bit-PNG discipline applied to audio, the high bits
    // must survive and the noise must not matter — odd docs carry 8-bit
    // streams that scale UP by 256; both normalize to PCM16 whose
    // integer-exact stats replay closed-form.
    "q248_flac_depths" -> ((s, d) => {
      import s.implicits._
      import graft.functions.FlacCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 40 + 10).toInt
        val blob =
          if (id % 2 == 0) {
            val amp = (id % 3000 + 100).toInt
            val samples = Array.tabulate(n) { j =>
              val s16 = if (j % 3 == 0) amp else if (j % 3 == 1) -amp else 0
              s16 * 256 + ((id + j) % 251).toInt // noise in the dropped byte
            }
            FlacCodec.encodePcm16(16000, 1, samples, blockSize = 32, bits = 24)
          } else {
            val amp8 = (id % 120 + 5).toInt
            val samples = Array.tabulate(n)(j =>
              if (j % 3 == 0) amp8 else if (j % 3 == 1) -amp8 else 0)
            FlacCodec.encodePcm16(16000, 1, samples, blockSize = 32, bits = 8)
          }
        (id, blob)
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          graft.functions.AudioStats(
            graft.functions.FlacPcmExpr(col("blob")), 50).as("st"))
        .select(col("doc_id"),
          col("st.n_samples").as("n_samples"),
          col("st.peak").as("peak"),
          col("st.sum_sq").as("sum_sq"),
          col("st.n_silent").as("n_silent"))
    }),

    // PNG corner coverage (Adam7 interlace + 16-bit depth): the q210
    // planted pattern re-encoded through the corner layouts — interlaced
    // 8-bit, plain 16-bit (noise in the ignored low bytes), 16-bit AND
    // interlaced, and a plain Paeth-filtered control. aHash == P gates the
    // 7-pass de-interlace scatter and the high-byte sample reduction.
    "q222_png_corners" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val p = (id % 64) * 0x0101010101010101L
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        val px16 = new Array[Byte](128)
        var i = 0
        while (i < 64) {
          px16(2 * i) = px(i)
          px16(2 * i + 1) = ((id + i) % 251).toByte // low bytes must not matter
          i += 1
        }
        val bytes = (id % 4).toInt match {
          case 0 => ImageCodec.encodePng(8, 8, 1, px, filterType = (id % 5).toInt,
            interlaced = true)
          case 1 => ImageCodec.encodePng(8, 8, 1, px16, bitDepth = 16)
          case 2 => ImageCodec.encodePng(8, 8, 1, px16, filterType = 4,
            bitDepth = 16, interlaced = true)
          case _ => ImageCodec.encodePng(8, 8, 1, px, filterType = 4)
        }
        (id, bytes)
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"), Dedup.imageAHash(col("blob")).as("ahash"))
    }),

    // INCREMENTAL audio dedup against a persisted signature corpus
    // (Dedup.dropAudioAgainstSignatures — the audio twin of q217): even
    // doc_ids form the corpus (PCM decoded ONCE into (id, envelope-hash)
    // signatures), odd doc_ids are the increment. Same provable mix as
    // q217 — Hamming 0/1 twins drop, the 5-bit spread mask survives —
    // but the hamming-0 twins here differ in BOTH length (window width m)
    // and amplitude from their corpus partner, proving the drop rides the
    // envelope fingerprint, not the bytes.
    "q221_audio_corpus_dedup" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioCodec
      val m5 = (1L << 1) | (1L << 10) | (1L << 19) | (1L << 28) | (1L << 37)
      def wavs(rows: org.apache.spark.sql.Dataset[Long]) = rows.map { id =>
        val g = ((id / 2) % 64).toInt
        val p0 = g.toLong * 0x0101010101010101L
        val p =
          if (id % 2 == 0) p0
          else if (id % 3 == 0) p0 ^ (1L << (id % 63).toInt)
          else if (id % 3 == 1) p0 ^ m5
          else p0
        val m = (id % 4 + 2).toInt // samples per window — varies per doc
        val amp = (id % 30000 + 1000).toInt
        val samples = Array.tabulate(64 * m) { k =>
          val bit = ((p >>> (63 - k / m)) & 1L) == 1L
          if (bit) { if (k % 2 == 0) amp else -amp } else 0
        }
        (id, AudioCodec.encodeWavPcm16(16000, 1, samples))
      }.toDF("doc_id", "blob")
      val ids = docs(s, d).select(col("doc_id")).as[Long]
      val corpus = wavs(ids.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id").as("id"),
          graft.functions.AudioAHash(col("blob")).as("sh"))
      val incoming = wavs(ids.filter(col("doc_id") % 2 === 1))
      Dedup.dropAudioAgainstSignatures(incoming, "doc_id", "blob", corpus, 3)
        .select(col("doc_id"))
    }),

    // REAL media-TIME frame planning (VideoSamplePlan): blobs carry full
    // sample tables — two-run stts (run lengths/deltas from doc_id), mdhd
    // timescale 1000, sizes as const-stsz (even docs) or packed 8-bit
    // stz2 (odd docs), chunks of 4 via stsc with stco or co64 (doc_id%3=0)
    // offsets. The plan picks the sample PLAYING at each 4 ms boundary,
    // dedups, caps at 8, and resolves each frame's byte offset; the
    // oracle replays boundary→sample→offset with pure integer arithmetic.
    // WAV docs (doc_id%10 = 7) contribute zero rows.
    "q220_mp4_timeplan" -> ((s, d) => {
      import s.implicits._
      import graft.functions.{AudioCodec, Mp4Codec}
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val blob =
          if (id % 10 == 7) AudioCodec.encodeWavPcm16(8000, 1, Array(3, 2, 1))
          else {
            val c1 = id % 5 + 2; val d1 = id % 7 + 2
            val c2 = id % 4 + 1; val d2 = id % 9 + 1
            val n = (c1 + c2).toInt
            Mp4Codec.encode(
              timescale = 1000, durationTicks = c1 * d1 + c2 * d2,
              width = 64, height = 48, nFrames = n,
              tables = Mp4Codec.SampleTables(
                mediaTimescale = 1000,
                sttsRuns = Seq((c1, d1), (c2, d2)),
                constSampleSize = if (id % 2 == 0) id % 11 + 1 else 0,
                sampleSizes =
                  if (id % 2 == 0) Nil else (0 until n).map(j => (j % 5 + 1).toLong),
                stz2FieldSize = if (id % 2 == 0) 0 else 8,
                samplesPerChunk = 4,
                chunkOffsets = (0 until 3).map(m => 4096 + id % 100 + m * 1000L),
                co64 = id % 3 == 0))
          }
        (id, blob)
      }.toDF("doc_id", "blob")
      graft.operators.Multimodal.sampleFramesMp4ByTime(blobs, "blob",
          strideMs = 4, maxFrames = 8)
        .select(col("doc_id"), col("frame_idx"), col("t_ms"), col("byte_off"))
    }),

    // REAL GIF pixel decode (hand-rolled LZW, q210's closed-form oracle
    // construction): every document becomes an 8×8 GIF planting
    // P = (doc_id%64)·0x0101010101010101, interlaced for doc_id%2 = 1 —
    // the aHash must equal P exactly, gating the LZW expansion, palette
    // mapping, and the 4-pass de-interlace in one hash. A BMP twin of the
    // same pixels proves cross-format collapse (xformat_hamming = 0).
    "q219_image_gif" -> ((s, d) => {
      import s.implicits._
      import graft.functions.ImageCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val p = (id % 64) * 0x0101010101010101L
        val px = Array.tabulate[Byte](64)(i =>
          if (((p >>> (63 - i)) & 1L) == 1L) 255.toByte else 0)
        (id, ImageCodec.encodeGif(8, 8, px, interlaced = id % 2 == 1),
          ImageCodec.encodeBmpGray(8, 8, px))
      }.toDF("doc_id", "gif", "bmp")
      blobs
        .withColumn("__l", graft.functions.ImageLuma(col("gif")))
        .select(col("doc_id"),
          col("__l.width").as("img_w"), col("__l.height").as("img_h"),
          Dedup.imageAHash(col("gif")).as("ahash"),
          bit_count(Dedup.imageAHash(col("gif"))
            .bitwiseXOR(Dedup.imageAHash(col("bmp"))))
            .cast("int").as("xformat_hamming"))
    }),

    // REAL PCM sample decode (AudioStats): WAV blobs carry 16-bit PCM whose
    // samples are the closed form ((doc_id·31 + k·17) mod 65536) − 32768;
    // the engine folds peak / exact Σs² / clipped / silent counts out of
    // the bytes, the oracle replays the identical fold per doc via
    // generate_series.
    "q212_wav_stats" -> ((s, d) => {
      import s.implicits._
      import graft.functions.AudioCodec
      val blobs = docs(s, d).select(col("doc_id")).as[Long].map { id =>
        val n = (id % 100 + 40).toInt
        val samples = Array.tabulate(n)(k => (((id * 31 + k * 17) % 65536) - 32768).toInt)
        (id, AudioCodec.encodeWavPcm16(16000, 1, samples))
      }.toDF("doc_id", "blob")
      blobs.select(col("doc_id"),
          graft.functions.AudioStats(col("blob"), 1000).as("__st"))
        .select(col("doc_id"), col("__st.n_samples").as("n_samples"),
          col("__st.peak").as("peak"), col("__st.sum_sq").as("sum_sq"),
          col("__st.n_clipped").as("n_clipped"), col("__st.n_silent").as("n_silent"))
    }),

    "q209_replace_table" -> ((s, d) => {
      val cat = "grpl" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_rplq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q209_docs")
      s.sql(s"CREATE TABLE $cat.db.docs USING graft " +
        "OPTIONS (pk 'doc_id', partitions '2', snapshot 'true') " +
        "AS SELECT doc_id, source FROM q209_docs WHERE doc_id % 4 = 0")
      val before = s.table(s"$cat.db.docs").count()
      s.sql(s"""CREATE OR REPLACE TABLE $cat.db.docs USING graft
        |OPTIONS (pk 'doc_id', partitions '3', snapshot 'true')
        |AS SELECT doc_id, source, n_chars FROM q209_docs
        |WHERE doc_id % 2 = 1""".stripMargin)
      require(s.table(s"$cat.db.docs").columns.length == 3 &&
        s.table(s"$cat.db.docs").count() != before,
        "REPLACE must swap both schema and content")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // SHALLOW CLONE (CALL system.clone — Delta's CLONE as a procedure):
    // a metadata-only fork whose v1 references the source's files by
    // absolute path; zero data movement at ANY size (the in-query gate
    // requires the clone dir holds no data files). Both sides then
    // diverge through independent DML: the source's update must not leak
    // into the fork, the fork's rewrites materialize clone-local. The
    // oracle restates the fork's algebra closed-form.
    "q208_shallow_clone" -> ((s, d) => {
      val cat = "gcln" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_clnq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.src (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '3', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q208_docs")
      s.sql(s"INSERT INTO $cat.db.src SELECT doc_id, source, n_chars FROM q208_docs")
      s.sql(s"CALL $cat.system.clone(source => 'db.src', target => 'db.fork')")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sessionState.newHadoopConf())
      require(graft.sources.TokenPruner.listDataFiles(fs,
        fs.makeQualified(new org.apache.hadoop.fs.Path(s"$base/db/fork"))).isEmpty,
        "shallow clone must move ZERO data files")
      // diverge: source-side DML invisible to the fork, fork-side local
      s.sql(s"UPDATE $cat.db.src SET n_chars = 0 WHERE doc_id % 2 = 0")
      s.sql(s"UPDATE $cat.db.fork SET n_chars = n_chars + 5000 WHERE doc_id % 3 = 0")
      s.sql(s"DELETE FROM $cat.db.fork WHERE doc_id % 11 = 7")
      require(s.sql(s"SELECT count(*) FROM $cat.db.fork " +
        "WHERE doc_id % 2 = 0 AND doc_id % 3 <> 0 AND n_chars = 0").head().getLong(0)
        == 0L, "the source's post-clone UPDATE leaked into the fork")
      s.table(s"$cat.db.fork").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // STREAMING sessionization (Sessions.sessionStatsStream): the graft
    // change-feed stream drives Spark's session_window aggregate — state
    // bounded by the watermark, each closed session emitted exactly once
    // in Append mode. A far-future sentinel wave closes the fixture's
    // sessions deterministically; the oracle replays the identical
    // gap algebra (strict > splits — session_window merges at exactly
    // the gap, SessionsSpec pins the boundary) in SQL.
    "q207_session_stream" -> ((s, d) => {
      val cat = "gsst" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_sstq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, user_id BIGINT, " +
        "ts TIMESTAMP) USING graft " +
        "OPTIONS (pk 'event_id', partitions '4', snapshot 'true')")
      ev(s, d).select(col("event_id"), col("user_id"), col("ts"))
        .createOrReplaceTempView("q207_ev")
      s.sql(s"INSERT INTO $cat.db.ev SELECT event_id, user_id, ts FROM q207_ev")
      val sink = "q207_sessions_" + java.util.UUID.randomUUID().toString.take(8)
      val q = graft.operators.Sessions.sessionStatsStream(
        s.readStream.format("graft").option("path", s"$base/db/ev")
          .option("pk", "event_id").load()
          .select(col("user_id"), col("ts")),
        "user_id", "ts", 1800L)
        .writeStream.format("memory").queryName(sink)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try {
        q.processAllAvailable()
        // sentinel waves push the watermark past every fixture session's
        // end; the no-data flush batches then emit the tail exactly once
        s.sql(s"INSERT INTO $cat.db.ev VALUES " +
          "(1000000001, -1, TIMESTAMP'2031-01-01 00:00:00')")
        q.processAllAvailable()
        s.sql(s"INSERT INTO $cat.db.ev VALUES " +
          "(1000000002, -1, TIMESTAMP'2032-01-01 00:00:00')")
        q.processAllAvailable()
      } finally q.stop()
      s.table(sink).filter(col("user_id") >= 0L)
        .select(col("user_id"), col("session_us"), col("n_events"), col("dur_us"))
    }),

    // ADD COLUMNS … DEFAULT (exists-defaults — the Iceberg initial-default
    // / Delta ADD COLUMN DEFAULT semantic): rows in files written BEFORE
    // the add read the folded default at scan time, PER FILE, inside
    // Spark's own parquet readers; post-add writes land explicit values;
    // the fill survives OPTIMIZE packing (materialized) and a CoW DML
    // rewrite. The oracle restates both waves closed-form.
    "q206_exists_defaults" -> ((s, d) => {
      val cat = "gexd" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_exdq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"))
        .createOrReplaceTempView("q206_docs")
      // wave A lands BEFORE the columns exist
      s.sql(s"INSERT INTO $cat.db.docs " +
        "SELECT doc_id, source FROM q206_docs WHERE doc_id % 2 = 0")
      s.sql(s"ALTER TABLE $cat.db.docs ADD COLUMNS (" +
        "lang STRING DEFAULT 'und', score BIGINT DEFAULT 7)")
      // wave B writes explicit values through the evolved schema
      s.sql(s"INSERT INTO $cat.db.docs " +
        "SELECT doc_id, source, 'en', doc_id FROM q206_docs WHERE doc_id % 2 = 1")
      // the fill must survive packing (materialization) and a CoW rewrite
      s.sql(s"CALL $cat.system.optimize(table => 'db.docs')")
      s.sql(s"UPDATE $cat.db.docs SET score = score + 1 WHERE doc_id % 10 = 4")
      s.table(s"$cat.db.docs")
        .select(col("doc_id"), col("source"), col("lang"), col("score"))
    }),

    "q205_sync_identity" -> ((s, d) => {
      val cat = "gsyi" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_syiq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (" +
        "id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 1 INCREMENT BY 1), " +
        "orig_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'id', partitions '3', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q205_docs")
      // wave A: EXPLICIT ids far past the mark
      s.sql(s"INSERT INTO $cat.db.docs (id, orig_id, source, n_chars) " +
        "SELECT doc_id + 1000000, doc_id, source, n_chars " +
        "FROM q205_docs WHERE doc_id % 2 = 0")
      val sync = s.sql(s"CALL $cat.system.sync_identity(table => 'db.docs')")
        .collect().head
      val maxA = s.sql(s"SELECT max(id) FROM $cat.db.docs").head().getLong(0)
      require(sync.getLong(2) == maxA + 1,
        s"sync must re-seat to max+1 (${maxA + 1}), got ${sync.getLong(2)}")
      // wave B: null cells allocate densely FROM the re-seated mark
      // (1000499…), i.e. ABOVE the explicit band — no collision possible
      s.sql(s"INSERT INTO $cat.db.docs (orig_id, source, n_chars) " +
        "SELECT doc_id, source, n_chars FROM q205_docs WHERE doc_id % 2 = 1")
      val b = s.sql(s"SELECT min(id), max(id), count(DISTINCT id), count(*) " +
        s"FROM $cat.db.docs WHERE orig_id % 2 = 1").head()
      val nB = b.getLong(3)
      require(b.getLong(0) == maxA + 1 &&
        b.getLong(1) == maxA + nB && b.getLong(2) == nB,
        s"wave B must be dense from ${maxA + 1}: $b")
      s.sql(s"""SELECT orig_id, source, n_chars,
        | CASE WHEN orig_id % 2 = 0 THEN id = orig_id + 1000000
        |      ELSE id BETWEEN ${maxA + 1} AND ${maxA + nB} END AS id_ok
        |FROM $cat.db.docs""".stripMargin)
    }),

    // Streaming APPLY CHANGES (Cdc.applyChangesStream): the q198 source
    // lifecycle replicated CONTINUOUSLY — the row-level CDC stream
    // (version-ledger offsets, O(1)) feeds foreachBatch applyChanges;
    // a replayed batch is idempotent through the MERGE, so at-least-once
    // delivery converges (effectively exactly-once). Two
    // processAllAvailable rounds: initial load, then the UPDATE+DELETE
    // increment — the replica must equal the source's statement algebra.
    "q204_apply_changes_stream" -> ((s, d) => {
      val cat = "gacs" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_acsq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.src (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "dmlMode 'merge-on-read')")
      s.sql(s"CREATE TABLE $cat.db.tgt (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q204_docs")
      s.sql(s"INSERT INTO $cat.db.src SELECT doc_id, source, n_chars FROM q204_docs")
      val ckpt = java.nio.file.Files.createTempDirectory("graft_acsq_ckpt_").toString
      val q = graft.operators.Cdc.applyChangesStream(
        s, s"$base/db/src", s"$cat.db.tgt", Seq("doc_id"), ckpt)
      try {
        q.processAllAvailable()
        require(s.table(s"$cat.db.tgt").count() == s.table("q204_docs").count(),
          "initial load must replicate every row")
        s.sql(s"UPDATE $cat.db.src SET n_chars = n_chars + 100000 " +
          "WHERE source = 'src3' OR doc_id % 7 = 0")
        s.sql(s"DELETE FROM $cat.db.src WHERE doc_id % 11 = 5")
        q.processAllAvailable()
      } finally q.stop()
      s.table(s"$cat.db.tgt").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Predicate-scoped OPTIMIZE (CALL … optimize(predicate => '…')): the
    // maintenance scope compiles through parse → resolve-against-
    // descriptor → source-filter translation → generated-column widening,
    // so a pure TIMESTAMP predicate packs exactly the matching generated
    // day directories — at 100 TB you compact the partition that just
    // ingested, never the table. In-query requires: matching day dirs
    // pack to one file, non-matching dirs keep both generations; the
    // commit is layout-only so the full table stays the closed form.
    "q203_scoped_optimize" -> ((s, d) => {
      val cat = "gsop" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_sopq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, user_id BIGINT, " +
        "ts TIMESTAMP, value DOUBLE, " +
        "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
        "USING graft PARTITIONED BY (day) " +
        "OPTIONS (pk 'event_id', partitions '1', snapshot 'true')")
      ev(s, d).select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .createOrReplaceTempView("q203_events")
      s.sql(s"INSERT INTO $cat.db.ev (event_id, user_id, ts, value) " +
        "SELECT event_id, user_id, ts, value FROM q203_events")
      s.sql(s"INSERT INTO $cat.db.ev (event_id, user_id, ts, value) " +
        "SELECT event_id + 10000000, user_id, ts, value FROM q203_events")
      // upper-eighth band (the q200 cutoff) as the maintenance scope
      val b = s.table("q203_events")
        .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).head()
      val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 7L / 8L
      val cutSql = java.time.Instant.ofEpochSecond(
        cutoff / 1000000L, (cutoff % 1000000L) * 1000L)
        .atZone(java.time.ZoneId.of(
          s.conf.get("spark.sql.session.timeZone"))).toLocalDateTime.toString
        .replace('T', ' ')
      val dir = s"$base/db/ev"
      val packed = s.sql(s"CALL $cat.system.optimize(table => 'db.ev', " +
        s"predicate => \"ts >= TIMESTAMP'$cutSql'\")").collect().head.getLong(0)
      require(packed >= 2, s"the matching day dirs must pack, packed=$packed")
      val head = graft.write.Snapshots.latestVersion(s, dir).get
      val byDay = graft.write.Snapshots.files(s, dir, head)
        .groupBy(f => graft.sources.TokenPruner.dirValues(f).get("day").flatten)
        .map { case (k, v) => k -> v.length }
      val cutDay = java.sql.Date.valueOf(java.time.Instant.ofEpochSecond(
        cutoff / 1000000L, (cutoff % 1000000L) * 1000L)
        .atZone(java.time.ZoneId.of(
          s.conf.get("spark.sql.session.timeZone"))).toLocalDate).toString
      require(byDay.filter(_._1.exists(_ > cutDay)).values.forall(_ == 1),
        s"every day dir strictly past the cutoff must be packed: $byDay")
      require(byDay.filter(_._1.exists(_ < cutDay)).values.forall(_ == 2),
        s"every day dir before the cutoff must keep both generations: $byDay")
      s.table(s"$cat.db.ev")
        .select(col("event_id"), col("user_id"),
          col("day").cast("string").as("day"), col("value"))
    }),

    // Sessionization (graft.operators.Sessions): per-user inactivity-gap
    // session split — ONE exchange on the user key, two codegen'd window
    // passes (lag → strict-gap flag on epoch micros → running sum), then
    // a per-session rollup the same partitioning already satisfies
    // (SessionsSpec gates the one-exchange plan). Ties on ts break by
    // event_id, so session indexes are a pure function of the data and
    // the oracle replays the identical window algebra.
    "q202_sessionization" -> ((s, d) => {
      graft.operators.Sessions.sessionStats(
        ev(s, d).select(col("user_id"), col("event_id"), col("ts")),
        "user_id", "ts", "event_id", 1800L)
    }),

    // IDENTITY columns (GENERATED ALWAYS AS IDENTITY — the Delta identity
    // design): values allocated at write from the log-carried `idhwm`
    // mark, dense per commit, two narrow jobs over the increment only.
    // Values map to rows by physical partition order (not SQL-expressible),
    // so the oracle pins the payload plus an `id_ok` boolean while
    // in-query requires pin uniqueness + parity + bounds + count — which
    // together force the exact dense id set, including the second wave
    // continuing from the first wave's mark.
    "q201_identity_columns" -> ((s, d) => {
      val cat = "gidq" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_idq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (" +
        "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2), " +
        "orig_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'id', partitions '3', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q201_docs")
      s.sql(s"INSERT INTO $cat.db.docs (orig_id, source, n_chars) " +
        "SELECT doc_id, source, n_chars FROM q201_docs WHERE doc_id % 2 = 0")
      val n1 = s.table(s"$cat.db.docs").count()
      val w1 = s.sql(s"SELECT min(id), max(id), count(DISTINCT id) FROM $cat.db.docs").head()
      require(w1.getLong(0) == 10L && w1.getLong(1) == 10L + 2L * (n1 - 1) &&
        w1.getLong(2) == n1, s"wave 1 must allocate dense ids 10..${10 + 2 * (n1 - 1)}")
      s.sql(s"INSERT INTO $cat.db.docs (orig_id, source, n_chars) " +
        "SELECT doc_id, source, n_chars FROM q201_docs WHERE doc_id % 2 = 1")
      val n = s.table(s"$cat.db.docs").count()
      val w2 = s.sql(s"SELECT min(id), max(id), count(DISTINCT id) FROM $cat.db.docs").head()
      require(w2.getLong(0) == 10L && w2.getLong(1) == 10L + 2L * (n - 1) &&
        w2.getLong(2) == n,
        "wave 2 must continue from wave 1's mark with no gaps or reuse")
      s.sql(s"""SELECT orig_id, source, n_chars,
        | (id - 10) % 2 = 0 AND id >= 10 AND id <= 10 + 2 * (${n} - 1) AS id_ok
        |FROM $cat.db.docs""".stripMargin)
    }),

    // GENERATED ALWAYS AS columns (the Delta generated-column design):
    // `day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))` + PARTITIONED BY
    // (day) — INSERT computes the omitted column, and the scan DERIVES
    // day-directory pruning from the query's TIMESTAMP range (monotone
    // shape inference, [[graft.sources.GeneratedColumns.derive]]) without
    // the query ever naming day. In-query gate: the derived conjunct
    // prunes to ≤ half the files (the band keeps ~4 of 30 day dirs). At
    // 100 TB this is scanning a week instead of the table when queries
    // filter on the raw timestamp.
    "q200_generated_columns" -> ((s, d) => {
      val cat = "ggen" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_genq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.ev (event_id BIGINT, user_id BIGINT, " +
        "ts TIMESTAMP, value DOUBLE, " +
        "day DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) " +
        "USING graft PARTITIONED BY (day) " +
        "OPTIONS (pk 'event_id', partitions '2', snapshot 'true')")
      ev(s, d).select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .createOrReplaceTempView("q200_events")
      s.sql(s"INSERT INTO $cat.db.ev (event_id, user_id, ts, value) " +
        "SELECT event_id, user_id, ts, value FROM q200_events")
      // scale-free upper-eighth band; the oracle derives the same cutoff
      val b = s.table("q200_events")
        .agg(unix_micros(min(col("ts"))), unix_micros(max(col("ts")))).head()
      val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 7L / 8L
      val cutTs = new java.sql.Timestamp(cutoff / 1000L)
      cutTs.setNanos((cutoff % 1000000L).toInt * 1000)
      val dir = s"$base/db/ev"
      val files = graft.sources.TokenPruner.listFiles(s, dir)
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/${graft.sources.GraftCatalog.MetaFile}")))
      val schema = org.apache.spark.sql.types.DataType
        .fromJson(meta.linesIterator.next())
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.GreaterThanOrEqual("ts", cutTs))
      val derived = graft.sources.GeneratedColumns.derive(pushed, schema,
        java.time.ZoneId.of(s.conf.get("spark.sql.session.timeZone")))
      require(derived.nonEmpty, "the ts filter must derive a day conjunct")
      val kept = graft.sources.TokenPruner.prune(s, files, pushed ++ derived,
        graft.model.CqlSchema("ev", Seq("event_id"))).length
      require(kept <= files.length / 2,
        s"generated-column pruning kept $kept of ${files.length} files")
      s.table(s"$cat.db.ev")
        .filter(col("ts") >= timestamp_micros(lit(cutoff)))
        .select(col("event_id"), col("user_id"),
          col("day").cast("string").as("day"), col("value"))
    }),

    // SQL CLUSTER BY (the q141 Z-order layout declared in DDL): INSERTs
    // into the clustered catalog table land Z-ordered files, the band
    // query prunes on both axes (gated: a band on either clustering
    // column must plan under half the files), and the result matches the
    // plain closed-form SELECT.
    "q196_sql_cluster_by" -> ((s, d) => {
      val cat = "gcly" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_clyq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.ev (user_id BIGINT, event_id BIGINT, " +
        "event_type STRING, value DOUBLE) " +
        "USING graft CLUSTER BY (user_id, event_id) " +
        "OPTIONS (pk 'event_id', partitions '16', snapshot 'true')")
      ev(s, d).select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .createOrReplaceTempView("q196_events")
      s.sql(s"INSERT INTO $cat.db.ev SELECT * FROM q196_events")
      val dir = s"$base/db/ev"
      // eighth-of-range bands on each axis — scale-free selectivity, and
      // the oracle derives the identical cutoffs from the same min/max
      val b = s.table("q196_events").agg(
        min(col("user_id")), max(col("user_id")),
        min(col("event_id")), max(col("event_id"))).head()
      val uHi = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 8
      val eHi = b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 8
      val files = graft.sources.TokenPruner.listFiles(s, dir)
      val sch = graft.model.CqlSchema("ev", Seq("event_id"))
      def kept(c: String, hi: Long) = graft.sources.TokenPruner.prune(s, files,
        Array(org.apache.spark.sql.sources.LessThanOrEqual(c, hi)), sch).length
      require(kept("user_id", uHi) <= files.length / 2 &&
        kept("event_id", eHi) <= files.length / 2,
        s"CLUSTER BY must prune on both axes " +
          s"(${kept("user_id", uHi)}/${kept("event_id", eHi)} of ${files.length})")
      s.table(s"$cat.db.ev")
        .filter(col("user_id") <= uHi && col("event_id") <= eHi)
        .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    }),

    // Column DEFAULT values (SUPPORT_COLUMN_DEFAULT_VALUE): declared in
    // CREATE TABLE, changed mid-stream with ALTER COLUMN SET DEFAULT —
    // stock ResolveDefaultColumns fills the omitted columns at write
    // time, so the two insert waves land different defaults. The oracle
    // restates both waves closed-form.
    "q195_column_defaults" -> ((s, d) => {
      val cat = "gdef" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_defq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING DEFAULT 'unknown', " +
        "score BIGINT DEFAULT 0) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"))
        .createOrReplaceTempView("q195_docs")
      s.sql(s"INSERT INTO $cat.db.docs (doc_id, source) " +
        "SELECT doc_id, source FROM q195_docs WHERE doc_id % 2 = 0")
      s.sql(s"ALTER TABLE $cat.db.docs ALTER COLUMN score SET DEFAULT 100")
      s.sql(s"INSERT INTO $cat.db.docs (doc_id) " +
        "SELECT doc_id FROM q195_docs WHERE doc_id % 2 = 1")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("score"))
    }),

    // Table constraints (DSv2 SUPPORT_TABLE_CONSTRAINT): an inline CHECK
    // admits the conforming corpus and refuses a violating INSERT before
    // anything commits; ADD CONSTRAINT validation-scans existing data
    // (an impossible constraint refuses, persisting nothing); the CHECK
    // guards the DML rewrite too. The oracle states the surviving table
    // closed-form — only the admitted writes ever landed.
    "q194_check_constraints" -> ((s, d) => {
      val cat = "gcns" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_cnsq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT, " +
        "CONSTRAINT chars_pos CHECK (n_chars > 0)) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q194_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q194_docs")
      val n = s.table(s"$cat.db.docs").count()
      val refusedInsert =
        try { s.sql(s"INSERT INTO $cat.db.docs VALUES (-1, 'bad', 0)"); false }
        catch { case e: Exception => e.getMessage.contains("chars_pos") }
      require(refusedInsert, "a violating INSERT must fail naming the CHECK")
      require(s.table(s"$cat.db.docs").count() == n,
        "a refused INSERT must not commit rows")
      // validation scan over existing data: a satisfiable CHECK admits…
      s.sql(s"ALTER TABLE $cat.db.docs ADD CONSTRAINT src_known " +
        "CHECK (source IS NOT NULL)")
      // …an impossible one refuses and persists nothing
      val refusedAdd =
        try { s.sql(s"ALTER TABLE $cat.db.docs ADD CONSTRAINT impossible " +
          "CHECK (n_chars > 100000000)"); false }
        catch { case _: Exception => true }
      require(refusedAdd, "ADD CONSTRAINT must validate existing data")
      // the CHECK rides the CoW rewrite: a violating UPDATE refuses whole
      val refusedUpdate =
        try { s.sql(s"UPDATE $cat.db.docs SET n_chars = -n_chars " +
          "WHERE doc_id % 5 = 0"); false }
        catch { case e: Exception => e.getMessage.contains("chars_pos") }
      require(refusedUpdate, "a violating UPDATE must fail naming the CHECK")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 1 WHERE doc_id % 5 = 0")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    "q193_cdf_cow" -> ((s, d) => {
      val cat = "gcow" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_cowq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true', " +
        "changeFeedCow 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q193_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q193_docs")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.sql(s"DELETE FROM $cat.db.docs WHERE doc_id % 11 = 5")
      val dir = s"$base/db/docs"
      val head = graft.write.Snapshots.latestVersion(s, dir).get
      require(head == 3L, s"expected insert/update/delete = v1/v2/v3, head is v$head")
      require(graft.write.Snapshots.changeDataFiles(s, dir, 2L).nonEmpty &&
        graft.write.Snapshots.changeDataFiles(s, dir, 3L).nonEmpty,
        "each CoW DML must record its change-data sidecar")
      graft.write.Snapshots.readChangesWithDeletes(s, dir, 0L, head)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("_change_type"), col("_commit_version"))
    }),

    // Native streaming sink: a graft→graft streaming pipeline — the
    // change-feed stream (version-ledger offsets) feeds
    // writeStream.format("graft"), each micro-batch landing through the
    // bulk pipeline with an exactly-once txn marker committed atomically
    // with its snapshot version. Two source commits → the sink table
    // equals the source; the oracle states the full content.
    "q192_stream_sink" -> ((s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_ssnk_").toString
      val src = s"$base/src"; val dst = s"$base/dst"; val cp = s"$base/cp"
      val schema = graft.model.CqlSchema("src", Seq("doc_id"))
      val conf = graft.write.TokenSortedWriter.WriteConf(
        numPartitions = 2, snapshot = true)
      val cols = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      graft.write.TokenSortedWriter.write(cols.filter(col("doc_id") % 2 === 0),
        schema, src, SaveMode.Append, conf)
      graft.write.TokenSortedWriter.write(cols.filter(col("doc_id") % 2 === 1),
        schema, src, SaveMode.Append, conf)
      val q = s.readStream.format("graft")
        .option("path", src).option("pk", "doc_id").option("changeFeed", "true").load()
        .writeStream.format("graft")
        .option("path", dst).option("pk", "doc_id")
        .option("snapshot", "true").option("partitions", "2")
        .option("checkpointLocation", cp)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append).start()
      try q.processAllAvailable() finally q.stop()
      require(graft.write.Snapshots.streamTxn(s, dst, cp).nonEmpty,
        "the sink must record its txn progress marker")
      s.read.format("graft").option("path", dst).option("pk", "doc_id").load()
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // MERGE WITH SCHEMA EVOLUTION: the source carries a column the target
    // lacks — one statement adds it (catalog alterTable, nullable append)
    // AND runs the 2-action merge against the evolved schema. Oracle
    // replays the row algebra with the evolved column closed-form.
    "q187_merge_evolve" -> ((s, d) => {
      val cat = "gmse" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_mseq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q187_target")
      docs(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + lit(7L)).as("nc"),
          concat(lit("f"), (col("doc_id") % 4).cast("string")).as("flag"))
        .createOrReplaceTempView("q187_src")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q187_target")
      s.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO $cat.db.docs t
           |USING q187_src s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET n_chars = s.nc, flag = s.flag
           |WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars, flag)
           |  VALUES (s.doc_id, 'merged', s.nc, s.flag)""".stripMargin)
      s.table(s"$cat.db.docs")
        .select(col("doc_id"), col("source"), col("n_chars"), col("flag"))
    }),

    // SQL RENAME COLUMN via name mapping: the physical parquet name never
    // moves — a pre-rename generation and a post-rename insert read back
    // through the SAME logical column (metadata-only evolution, zero
    // rewrites). The oracle states the union closed-form.
    "q186_rename_column" -> ((s, d) => {
      val cat = "gren" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_renq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q186_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q186_docs")
      s.sql(s"ALTER TABLE $cat.db.docs RENAME COLUMN n_chars TO chars")
      s.sql(s"INSERT INTO $cat.db.docs " +
        "SELECT doc_id + 1000000, source, n_chars + 5 FROM q186_docs")
      // filter pushdown on the renamed column must translate (and prune
      // nothing away wrongly): count both generations through it
      require(s.table(s"$cat.db.docs").filter(col("chars") >= 0).count() ==
        2 * docs(s, d).count(), "renamed-column filter lost rows")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("chars"))
    }),

    // DESCRIBE HISTORY surface: two appends, an OPTIMIZE repack, another
    // append — the history DataFrame must carry the exact lineage
    // (versions, parents, file counts, rewrite vs layout-only flags),
    // stated closed-form by the oracle (commit timestamps excluded — the
    // one non-deterministic column).
    "q182_history" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_histq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 2, snapshot = true)
      TokenSortedWriter.write(base.filter(col("doc_id") % 2 === 0),
        schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(base.filter(col("doc_id") % 2 === 1),
        schema, out, SaveMode.Append, conf)
      TokenSortedWriter.optimizeSmallFiles(s, schema, out,
        smallBytes = 64L << 20, targetBytes = 64L << 20)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)
      graft.write.Snapshots.historyDf(s, out)
        .select(col("version"), col("parent"), col("n_files"),
          col("rewrite"), col("layout_only"))
    }),

    // Canonical-URL dedup: five docs per canonical page, each fetched
    // through different noise (scheme/host case, www, :443, utm params,
    // fragments) — normalization collapses them and the lowest id
    // survives. The oracle replays the canonical form and the survivor
    // rule closed-form.
    "q181_url_dedup" -> ((s, d) => {
      val id = col("doc_id")
      val k = (id % 100).cast("string")
      val url = concat(
        when(id % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
        when(id % 2 === 1, lit("WWW.")).otherwise(lit("")),
        lit("Site"), k, lit(".COM"),
        when(id % 7 === 0, lit(":443")).otherwise(lit("")),
        lit("/p/"), k,
        when(id % 3 === 0, lit("?utm_source=x&utm_id=9")).otherwise(lit("")),
        when(id % 5 === 0, lit("#frag")).otherwise(lit("")))
      Urls.dropDuplicateUrls(
          docs(s, d).withColumn("url", url), "doc_id", "url")
        .select(col("doc_id"), col("url_norm"))
    }),

    // Integer-grid PageRank (2 iterations, 85/100 damping) over a
    // deterministic multi-edge link graph derived from doc ids — the
    // domain-authority signal for seed ranking / corpus weighting. Exact
    // integer mass, floor-division shares: the oracle replays BOTH
    // iterations bit-for-bit, like the k-means loop.
    "q180_pagerank" -> ((s, d) => {
      val e = docs(s, d).select(
        (col("doc_id") % 50).as("src"),
        ((col("doc_id") * 7 + 3) % 50).as("dst"))
      graft.operators.Graphs.pageRank(e, "src", "dst", iters = 2)
    }),

    // SQL INSERT OVERWRITE: full corpus committed, then atomically
    // replaced by a derived slice through ONE guarded snapshot cutover —
    // the final table IS the overwrite query (closed-form oracle), and
    // the pre-overwrite version stays pinnable (spec-gated).
    "q179_insert_overwrite" -> ((s, d) => {
      val cat = "gow" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_owq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q179_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q179_docs")
      s.sql(s"INSERT OVERWRITE $cat.db.docs " +
        "SELECT doc_id, source, n_chars + 1000 FROM q179_docs WHERE doc_id % 3 = 0")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Streaming backfill under admission control: the corpus lands as four
    // files, a maxFilesPerTrigger=1 AvailableNow stream drains it in four
    // bounded micro-batches into a memory sink — the union of the batches
    // must be EXACTLY the corpus (identity oracle); StreamAdmissionSpec
    // separately pins batch counts and the pinned-backlog contract.
    "q178_stream_backfill" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_admq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      (0 until 4).foreach(b => TokenSortedWriter.write(
        base.filter(col("doc_id") % 4 === b), schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 1)))
      val sink = "q178_sink_" + java.util.UUID.randomUUID().toString.take(8)
      val q = s.readStream.format("graft")
        .option("path", out).option("pk", "doc_id")
        .option("maxFilesPerTrigger", "1").load()
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      s.table(sink).select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Named snapshot tag: v1 tagged "baseline", an increment committed as
    // v2, a vacuum run that would reclaim v1 by count — the tag protects
    // it, and the `tag:` pin must read EXACTLY the original corpus
    // (identity oracle) while the live head holds both batches.
    "q177_snapshot_tag" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_tagq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, out, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, out, SaveMode.Append, conf)
      graft.write.Snapshots.tag(s, out, "baseline", 1L)
      graft.write.Snapshots.vacuum(s, out, keepLast = 1)
      s.read.format("graft").option("path", out).option("pk", "doc_id")
        .option("snapshotVersion", "tag:baseline").load()
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // SQL schema evolution: ADD COLUMNS mid-life — rows inserted before
    // the alter read null for the new column, rows after carry values;
    // the oracle states the split closed-form. (Catalog-level twin of the
    // source-level evolution already pinned by q154.)
    "q176_sql_add_column" -> ((s, d) => {
      val cat = "gevo" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_evoq_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '2')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q176_docs")
      s.sql(s"INSERT INTO $cat.db.docs " +
        "SELECT doc_id, source FROM q176_docs WHERE doc_id % 2 = 0")
      s.sql(s"ALTER TABLE $cat.db.docs ADD COLUMNS (n_chars BIGINT)")
      s.sql(s"INSERT INTO $cat.db.docs " +
        "SELECT doc_id, source, n_chars FROM q176_docs WHERE doc_id % 2 = 1")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Cluster-balanced corpus sampling: topic clusters from the integer-
    // grid k-means (q170) capped to 50 docs each by the reproducible
    // md5-rank cap (q114's operator) — the anti-domination selection that
    // keeps one mega-topic from swamping a training mix. The oracle
    // retrains the clustering AND replays the cap ranking.
    "q175_cluster_balanced" -> ((s, d) => {
      val assigned = graft.operators.Clustering.kMeansAssign(
        emb(s, d), "vec_id", "embedding", k = 4, iters = 2)
      Sampling.capPerGroup(assigned.select(col("vec_id"), col("cluster")),
        groupCols = Seq("cluster"), keys = Seq("vec_id"), n = 50)
    }),

    // `_graft_token` as a DSv2 metadata column: hidden from SELECT *, and
    // when selected it must equal the recomputed murmur3 ring token for
    // EVERY row — the query keeps only consistent rows, so any metadata
    // plumbing fault drops rows and breaks the identity oracle.
    "q174_metadata_token" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_metaq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      TokenSortedWriter.write(
        docs(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        schema, out, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      graft.functions.registerAll(s)
      s.read.format("graft").option("path", out).option("pk", "doc_id").load()
        .filter(col("_graft_token") === expr("graft_token(doc_id)"))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // Unicode normalization: every doc decorated with a decomposed accent,
    // curly quotes, a combining diaeresis, NBSP, an em dash, and a BEL —
    // the engine normalizes (NFC + space/quote/dash folds + control strip
    // + collapse) and accent-folds; the oracle replays with DuckDB's own
    // unicode primitives (nfc_normalize / strip_accents / RE2 classes),
    // so the hash match is a genuine cross-engine UAX #15 agreement.
    "q173_unicode_normalize" -> ((s, d) => {
      val deco = concat(
        lit("Cafe\u0301 \u201Cnai\u0308ve\u201D\u00A0\u2014\u0007 "), col("text"))
      val raw = docs(s, d).select(col("doc_id"), deco.as("raw"))
      val norm = graft.operators.TextAnalysis.normalizeUnicode(col("raw"))
      raw.select(col("doc_id"), norm.as("norm"),
        graft.operators.TextAnalysis.stripAccents(norm).as("folded"))
    }),

    // OPTIMIZE small-file bin-packing: eight micro-batch appends (one tiny
    // file each) packed into one file by the layout-only rewrite through a
    // guarded snapshot commit — rows must come back verbatim (identity
    // oracle); OptimizeSpec separately gates file counts, disjointness,
    // and the clustered no-shuffle property.
    "q172_optimize_small_files" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_optq_")
        .toString + "/documents"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 1, snapshot = true)
      (0 until 8).foreach(b => TokenSortedWriter.write(
        base.filter(col("doc_id") % 8 === b), schema, out, SaveMode.Append, conf))
      TokenSortedWriter.optimizeSmallFiles(s, schema, out,
        smallBytes = 64L << 20, targetBytes = 64L << 20)
      s.read.format("graft").option("path", out).option("pk", "doc_id").load()
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    }),

    // robots.txt (RFC 9309) admission: per-source hosts each publish a
    // two-group policy; URLs fan over five path shapes by doc_id % 5. The
    // engine PARSES the bodies and MATCHES the rules (groups, longest
    // match, Allow-beats-Disallow, * and $ patterns, exact-vs-star agent
    // selection); the oracle states the admissible outcomes closed-form.
    "q171_robots" -> ((s, d) => {
      val policy = "User-agent: graftbot\nDisallow: /private\nAllow: /private/pub\n\n" +
        "User-agent: *\nDisallow: /*.json$\nDisallow: /tmp\n"
      val hosts = docs(s, d).select(col("source")).distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          lit(policy).as("body"))
      val rules = graft.operators.Robots.parseRules(hosts, "host", "body")
      val urls = docs(s, d).select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com"),
          when(col("doc_id") % 5 === 0, lit("/private/x"))
            .when(col("doc_id") % 5 === 1, lit("/private/pub/y"))
            .when(col("doc_id") % 5 === 2,
              concat(lit("/data/"), col("doc_id"), lit(".json")))
            .when(col("doc_id") % 5 === 3, lit("/tmp/z"))
            .otherwise(lit("/ok/page"))).as("url"))
      val named = graft.operators.Robots.evaluate(urls, "url", rules, "graftbot")
        .select(col("doc_id"), col("allowed").as("allowed_named"))
      val star = graft.operators.Robots.evaluate(urls, "url", rules, "otherbot")
        .select(col("doc_id").as("__d"), col("allowed").as("allowed_star"))
      named.join(star, col("doc_id") === col("__d"))
        .select(col("doc_id"), col("allowed_named"), col("allowed_star"))
    }),

    // Integer-grid k-means (Lloyd, 2 iterations, k=4, seeds = 4 lowest
    // ids): quantization, exact integer distances, floor-division centroid
    // updates, and argmin tie-breaks are all engine-portable — the oracle
    // RETRAINS the whole loop in SQL and matches assignments and exact
    // integer distances bit-for-bit (no twin construction needed).
    "q170_kmeans" -> ((s, d) =>
      graft.operators.Clustering.kMeansAssign(
        emb(s, d), "vec_id", "embedding", k = 4, iters = 2)),

    // Hybrid retrieval: BM25 (q142's operator) and exact cosine (q29's)
    // both fetched to depth 20, fused by reciprocal rank fusion and cut to
    // 10. The oracle replays both rankings and the fixed-order rrf sum —
    // 1/(60+r) terms are integer-derived IEEE divisions, bit-identical in
    // any engine; ranks tie-break by doc id throughout.
    "q169_hybrid_rrf" -> ((s, d) => {
      val corpus = docs(s, d).select(col("doc_id"), col("text"))
        .join(emb(s, d).select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      val queries = corpus.filter(col("doc_id") < 4L)
        .select(col("doc_id").as("query_id"), col("text").as("qtext"), col("embedding"))
      graft.operators.Retrieval.hybridTopK(corpus, queries,
        "doc_id", "text", "embedding", "query_id", "qtext", k = 10, depth = 20)
    }),

    // Top-k planning pushdown (SupportsPushDownTopN): three appended
    // batches with disjoint id windows (the log-table shape), then
    // `ORDER BY pk DESC LIMIT 20` — per-file min/max stats prune the plan
    // to the newest batch's files (PlanQualitySpec gates the file count;
    // this query oracles the VALUES). The layout is invisible to results.
    "q168_topk_pushdown" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_topk_").toString + "/t"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val base = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true)
      (0 until 3).foreach { b =>
        TokenSortedWriter.write(
          base.filter(col("doc_id") % 3 === b)
            .withColumn("doc_id", col("doc_id") + lit(b * TwinOff)),
          schema, out, SaveMode.Append, conf)
      }
      s.read.format("graft").option("path", out).option("pk", "doc_id").load()
        .orderBy(col("doc_id").desc).limit(20)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // SQL UPDATE through the group-based copy-on-write row-level operation
    // (SupportsRowLevelOperations → RewriteUpdateTable → ReplaceData):
    // build a snapshotted catalog table from documents, UPDATE a
    // predicate slice, read the committed result back through the catalog.
    // The oracle replays the final state closed-form over the source.
    "q166_sql_update" -> ((s, d) => {
      val cat = "gdml" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_dml_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q166_docs")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q166_docs")
      s.sql(s"UPDATE $cat.db.docs SET n_chars = n_chars + 100000 " +
        "WHERE source = 'src3' OR doc_id % 7 = 0")
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // SQL MERGE INTO with all three action kinds (matched-delete,
    // matched-update, not-matched-insert) in ONE atomic commit — the
    // lakehouse upsert loop. Target = even docs, source = every third doc
    // with a shifted length; the oracle replays the row algebra in SQL.
    "q167_sql_merge" -> ((s, d) => {
      val cat = "gdml" + java.util.UUID.randomUUID().toString.take(8)
      val base = java.nio.file.Files.createTempDirectory("graft_dml_").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.base", base)
      s.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, source STRING, n_chars BIGINT) " +
        "USING graft OPTIONS (pk 'doc_id', partitions '4', snapshot 'true')")
      docs(s, d).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("q167_target")
      docs(s, d).filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + lit(7L)).as("nc"))
        .createOrReplaceTempView("q167_src")
      s.sql(s"INSERT INTO $cat.db.docs SELECT doc_id, source, n_chars FROM q167_target")
      s.sql(
        s"""MERGE INTO $cat.db.docs AS t USING q167_src AS s ON t.doc_id = s.doc_id
           |WHEN MATCHED AND s.nc % 10 = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET n_chars = s.nc
           |WHEN NOT MATCHED THEN INSERT (doc_id, source, n_chars)
           |  VALUES (s.doc_id, 'merged', s.nc)""".stripMargin)
      s.table(s"$cat.db.docs").select(col("doc_id"), col("source"), col("n_chars"))
    }),

    "q165_incremental_novelty" -> ((s, d) => {
      val base = docs(s, d)
      val freqs = graft.operators.Decontaminate.gramFrequencies(
        base, "doc_id", "text", n = 8)
      val copies = base.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + lit(3L * TwinOff)).as("doc_id"), col("text"))
      val twins = twinCopy(s, d, 4).filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("text"))
      graft.operators.Decontaminate.noveltyAgainstFrequencies(
        copies.unionByName(twins), freqs, "doc_id", "text", n = 8)
    }),

    // n-gram novelty profile (memorization-risk metric): exact duplicates
    // of the %5 slice drive those docs' (and their originals') shared
    // grams to document-frequency 2 — novelty collapses for them, stays
    // high elsewhere; the oracle replays the md5 grams, the DISTINCT
    // document frequencies, and the per-doc occurrence fold verbatim
    "q164_ngram_novelty" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + lit(TwinOff)).as("doc_id"), col("text")))
      graft.operators.Decontaminate.noveltyScores(corpus, "doc_id", "text", n = 8)
    }),

    // contrastive triplet mining for embedding-model training data:
    // positives = near-dup cluster mates (twin construction → exact text
    // groups), negatives = the reproducible md5-ring next pick; the
    // oracle replays cluster mates, the q98 shard/pos ring, the wrap,
    // and both exclusion rules in closed SQL
    "q163_triplet_mining" -> ((s, d) => {
      val u = twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1))
      Sampling.mineContrastiveTriplets(u, "doc_id", "text")
        .select(col("anchor_id"), col("positive_id"), col("negative_id"))
    }),

    // quality-aware dedup survivor selection (RefinedWeb's "keep the best
    // version", not the min-id accident): twin corpus clusters = exact
    // text-equality groups; keepBy ranks each cluster by (quality desc,
    // id asc) with quality = doc_id % 7 — the oracle replays the ranking
    // closed-form over the same construction
    "q162_dedup_keep_best" -> ((s, d) => {
      val u = twinCopy(s, d, 0).unionByName(twinCopy(s, d, 1))
        .withColumn("q", col("doc_id") % 7)
      Dedup.dropNearDuplicates(u, "doc_id", "text",
          keepBy = Seq(col("q").desc))
        .select(col("doc_id"), col("q"))
    }),

    // distributed per-group centroids: element-wise mean over the
    // embedding column via (key, pos, DECIMAL) explode — exact order-free
    // sums, one narrow exchange, no vector ever moves whole; the oracle
    // replays the same decimal accumulation and the one IEEE division
    "q161_mean_vectors" -> ((s, d) =>
      Similarity.meanVectors(emb(s, d), Seq("label"), "embedding", dim = 64)
        .select(col("label"), posexplode(col("mean_vec")).as(Seq("dim", "mval")))),

    // continuous downstream rollup: three committed source versions stream
    // through the change feed into an LWW-maintained aggregate table
    // (writetime = version offset, replay-proof fold) — the final
    // normalized read must equal the direct aggregate over all three
    // increments, which IS the closed-form oracle
    "q160_stream_agg_maintain" -> ((s, d) => {
      val root = java.nio.file.Files.createTempDirectory("graft_sagg_").toString
      val src = root + "/documents"
      val down = root + "/agg"
      val schema = CqlSchema("documents", Seq("doc_id"))
      val aggSchema = CqlSchema("agg", Seq("source"))
      val base = docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      val conf = TokenSortedWriter.WriteConf(numPartitions = 4, snapshot = true)
      TokenSortedWriter.write(base, schema, src, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(TwinOff)),
        schema, src, SaveMode.Append, conf)
      TokenSortedWriter.write(
        base.withColumn("doc_id", col("doc_id") + lit(2L * TwinOff)),
        schema, src, SaveMode.Append, conf)
      val feed = s.readStream.format("graft")
        .option("path", src).option("pk", "doc_id")
        .option("changeFeed", "true").option("startingVersion", "0").load()
      val q = graft.streaming.EventStreams.maintainAggStream(
        feed, Seq("source"), Seq("n_chars"), aggSchema, down, root + "/ckpt",
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      try q.awaitTermination() finally q.stop()
      TokenSortedWriter.readNormalized(s, aggSchema, down)
        .select(col("source"), col("n_rows"), col("sum_n_chars"))
    }),

    // rewrite-crossing CDC: base (wt 1000) + updates/inserts (wt 2000) +
    // deletes (wt 3000), then compactInPlace — a rewrite commit that
    // file-level readChanges must REFUSE; diffRows compares the resolved
    // pinned states instead, with the tombstone horizon at the consumer's
    // sync point so the deletes SURFACE as ops rather than retro-erasing
    // from both sides. Oracle replays both resolutions and the full outer
    // classification in SQL.
    "q159_snapshot_diff" -> ((s, d) => {
      val schema = Tables.schemas("lineitem")
      val dir = java.nio.file.Files.createTempDirectory("graft_sdiff_")
        .toString + "/lineitem"
      val base = li(s, d)
      TokenSortedWriter.write(base, schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
          writetimeMicros = Some(1000L), snapshot = true))              // v1
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_quantity", col("l_quantity") + 100.0),
        schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L), snapshot = true))              // v2
      TokenSortedWriter.write(
        base.filter(col("l_orderkey") % 10 === 5)
          .withColumn("l_orderkey", col("l_orderkey") + 30000000L),
        schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(2000L), snapshot = true))              // v3
      TokenSortedWriter.writeDeletes(
        base.filter(col("l_orderkey") % 7 === 3).select(col("l_orderkey")),
        schema, dir, writetimeMicros = Some(3000L))
      val latest = TokenSortedWriter.compactInPlace(s, schema, dir,
        TokenSortedWriter.WriteConf(numPartitions = 4), vacuumRetain = 10)
      TokenSortedWriter.diffRows(s, schema, dir, 1L, latest,
          fromTombstoneHorizonMicros = Some(1500L))
        .select(col("l_orderkey"), col("l_linenumber"), col("op"),
          col("l_quantity"), col("l_returnflag"))
    }),

    // the JL scale path composed end-to-end: 64→16 projection feeding
    // sign-LSH ANN. Exact twins project to IDENTICAL vectors (same plan
    // literal, same fold), so they share the query's bucket at any plane
    // count and tie at cosine 1.0 — ranks 1..10 are the twins in id
    // order, the q30 closed form, now at a quarter of the per-vector
    // dot-product cost
    "q158_ann_projected" -> ((s, d) => {
      val e = emb(s, d).select(col("vec_id"), col("embedding"))
      val qs = e.filter(col("vec_id") < 3L)
      val twins = qs.select(col("vec_id"), col("embedding"),
          explode(sequence(lit(1L), lit(10L))).as("j"))
        .select((col("vec_id") + col("j") * 100000L).as("vec_id"), col("embedding"))
      def proj(df: DataFrame): DataFrame =
        Similarity.randomProject(df, "embedding", inDim = 64, outDim = 16)
          .select(col("vec_id"), col("projected").cast("array<float>").as("embedding"))
      Similarity.lshTopK(proj(e.unionByName(twins)), proj(qs),
          "vec_id", "embedding", k = 10, planes = 6)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // interpolated Kneser-Ney bigram scoring (the real CCNet/KenLM shape):
    // model = the src0-2 slice's bigram table and its KN marginals, every
    // doc scored by Σ ln P_kn over adjacent bigrams — per-bigram doubles
    // in fixed order, DECIMAL(22,7)-rounded BEFORE the exact sum (the
    // q142 discipline), so DuckDB retrains the counts and replays the
    // logs bit-for-bit
    "q157_kneser_ney" -> ((s, d) => {
      val corpus = docs(s, d)
      val kn = CountLm.deriveKn(CountLm.train(
        corpus.filter(col("source").isin("src0", "src1", "src2")), "text"))
      CountLm.scoreKn(corpus, "doc_id", "text", kn)
        .select(col("doc_id"), col("kn_logprob"), col("kn_bigrams"))
    }),

    // ORC interchange round trip: corpus → zstd ORC → explicit-schema read
    // back (splittable, schema-pinned) — results must be the identity
    "q156_orc_roundtrip" -> ((s, d) => {
      val out = java.nio.file.Files.createTempDirectory("graft_orc_")
        .toString + "/documents_orc"
      val base = docs(s, d).select(
        col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      graft.sources.Ingest.writeOrc(base, out)
      graft.sources.Ingest.orc(s, out, base.schema)
    })
  )

  /** Write the [[graft.tables.TypedTable]] fixture through the graft sink and
   *  read it back through the DSv2 source — shared prefix of q63-q65/q84.
   *  The write is memoized per (session, sfDir): the queries test the
   *  round-trip, not write idempotence, so one write + N independent reads
   *  exercises the same surface without re-paying the sink per query. */
  private val typedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def typedRoundTrip(s: SparkSession, d: String): DataFrame = {
    val out = typedDirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_typed_").toString + "/typed"
      TokenSortedWriter.write(
        graft.tables.TypedTable.fromPart(Tables.part(s, d)),
        graft.tables.TypedTable.schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
      dir
    })
    s.read.format("graft").option("path", out).option("pk", "p_partkey").load()
  }

  // =====================================================================
  // oracle SQL (DuckDB dialect, run by the driver on the same parquet)
  // =====================================================================

  /** language-ID oracle generated from the SAME marker lists as the Spark
   *  implementation, so they cannot drift. */
  private def langIdSql: String = {
    def occSql(m: String) =
      s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}"
    val scores = TextAnalysis.langMarkers.map { case (lang, ms) =>
      lang -> ms.map(occSql).mkString(" + ")
    }
    val scoreDefs = scores.map { case (l, e) => s"($e) AS s_$l" }.mkString(", ")
    val greatest = s"GREATEST(${scores.map("s_" + _._1).mkString(", ")})"
    val caseChain = scores.map { case (l, _) => s"WHEN s_$l >= $greatest THEN '$l'" }.mkString(" ")
    s"""SELECT doc_id,
       |  CASE WHEN $greatest <= 0 THEN 'unknown' $caseChain ELSE 'unknown' END AS lang_pred,
       |  CAST($greatest AS BIGINT) AS lang_pred_score
       |FROM (SELECT doc_id, $scoreDefs
       |      FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))""".stripMargin
  }

  /** PII oracle generated from the SAME rule list as the Spark operator
   *  ([[graft.operators.Pii.Rules]]), so patterns cannot drift. DuckDB's
   *  regexp_replace needs the explicit 'g' flag (Spark replaces all matches
   *  by default) and has no regexp_count — len(regexp_extract_all) instead. */
  private def piiOracleSql: String = {
    val dirt = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
      "'@mail.example.com or 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || " +
      "' ip ' || CAST(doc_id % 256 AS VARCHAR) || '.0.0.1 acct ' || " +
      "lpad(CAST(doc_id AS VARCHAR), 9, '0')"
    val masked = graft.operators.Pii.Rules.foldLeft("t") {
      case (acc, (_, re, repl)) => s"regexp_replace($acc, '$re', '$repl', 'g')"
    }
    val counts = graft.operators.Pii.Rules.map {
      case (name, re, _) => s"len(regexp_extract_all(t, '$re')) AS n_$name"
    }.mkString(", ")
    s"""SELECT doc_id, md5($masked) AS clean_md5, $counts
       |FROM (SELECT doc_id, $dirt AS t FROM documents)
       |WHERE doc_id < 50""".stripMargin
  }

  private def curationV2Sql: String = {
    val masked = graft.operators.Pii.Rules.foldLeft("dirty") {
      case (acc, (_, re, repl)) => s"regexp_replace($acc, '$re', '$repl', 'g')"
    }
    val emailRe = graft.operators.Pii.Rules.head._2
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    'START COMMON HEADER' || chr(10) || text || chr(10) || ('FOOTER ' || source) AS t
       |  FROM documents),
       |lines AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
       |freq AS (SELECT line FROM (
       |    SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY 1) WHERE c >= 50),
       |fset AS (SELECT coalesce(list(line), []) AS fl FROM freq),
       |dirty AS (
       |  SELECT doc_id, source,
       |    array_to_string(list_filter(string_split(t, chr(10)),
       |      x -> NOT list_contains(fl, x)), chr(10)) ||
       |    ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' AS dirty
       |  FROM d, fset)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(length($masked)) AS BIGINT) AS clean_chars,
       |  CAST(SUM(len(regexp_extract_all(dirty, '$emailRe'))) AS BIGINT) AS n_emails
       |FROM dirty GROUP BY source""".stripMargin
  }

  private def qualitySql: String = {
    val stops = TextAnalysis.langMarkers.flatMap(_._2).distinct
    val stopExpr = stops.map(m =>
      s"(length(p) - length(replace(p, '$m', ''))) / ${m.length}").mkString(" + ")
    s"""SELECT doc_id,
       |  CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_punct AS BIGINT) AS n_punct,
       |  CAST(stops AS BIGINT) AS n_stopwords,
       |  floor(100 * CAST(n_chars_m AS DOUBLE) / CAST(n_words AS DOUBLE)) / 100 AS mean_word_len,
       |  CAST(CASE WHEN n_words >= 10 THEN 1 ELSE 0 END
       |     + CASE WHEN stops > 0 THEN 1 ELSE 0 END
       |     + CASE WHEN n_punct <= n_chars_m // 10 THEN 1 ELSE 0 END
       |     + CASE WHEN n_chars_m >= 50 THEN 1 ELSE 0 END AS DOUBLE) / 4.0 AS quality_score
       |FROM (SELECT doc_id,
       |        len(string_split(text, ' ')) AS n_words,
       |        length(text) AS n_chars_m,
       |        length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
       |        ($stopExpr) AS stops
       |      FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS p FROM documents))""".stripMargin
  }

  /** lineitem physical schema (parquet), for oracle generation from the same
   *  width table as the Spark expression (PartitionSizes.rowBytesSql). */
  private val lineitemStruct: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType)))
  }

  val oracles: Map[String, String] = Map(
    "q54_partition_size_keys" ->
      s"""SELECT l_orderkey,
         |  CAST(SUM(${graft.operators.PartitionSizes.rowBytesSql(lineitemStruct)}) AS BIGINT)
         |    AS uncompressed,
         |  COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q01_scan_projection" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
    "q02_pk_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey = 1",
    "q03_pk_in_filter" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN (1, 7, 42, 4096)",
    "q04_lww_latest" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |        ORDER BY l_shipdate DESC, l_extendedprice DESC, l_quantity DESC, l_discount DESC,
        |                 l_tax DESC, l_returnflag DESC, l_linestatus DESC, l_partkey DESC, l_suppkey DESC) AS rn
        |      FROM lineitem) WHERE rn = 1""".stripMargin,
    "q05_delete_anti" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,
    "q06_ttl_expiry" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00'""".stripMargin,
    "q07_join_inner" ->
      """SELECT l_orderkey, l_linenumber, c_custkey, c_mktsegment, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q08_join_left" ->
      """SELECT o_orderkey, c_custkey, c_mktsegment FROM orders
        |LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c ON o_custkey = c_custkey""".stripMargin,
    "q09_join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)""".stripMargin,
    "q10_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin,
    "q11_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price,
        |  COUNT(DISTINCT l_partkey) AS distinct_parts,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    // the tolerance-witness oracle: exact count replayed, witness constant-
    // true (the engine's HLL++ at default rsd is well inside 5% here)
    "q12_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  true AS within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q13_partition_size" ->
      """SELECT source, CAST(SUM(n_chars) AS BIGINT) AS uncompressed, COUNT(*) AS n_docs
        |FROM documents GROUP BY source""".stripMargin,
    "q14_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q15_union_all" ->
      "SELECT c_nationkey AS nk FROM customer UNION ALL SELECT s_nationkey AS nk FROM supplier",
    "q16_intersect" ->
      "SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey AS nk FROM supplier",
    "q17_except" ->
      """SELECT n_nationkey AS nk FROM nation
        |EXCEPT SELECT s_nationkey AS nk FROM supplier WHERE s_suppkey < 50""".stripMargin,
    "q18_scalar_string" ->
      """SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 8)) AS name8,
        |  p_brand || '_' || p_type AS brandtype,
        |  LENGTH(p_name) AS name_len,
        |  REPLACE(LOWER(p_type), ' ', '_') AS type_slug FROM part""".stripMargin,
    "q19_scalar_date" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS BIGINT) AS days_to_98,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
        |FROM orders""".stripMargin,
    "q20_scalar_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS abs_disc,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
        |  l_orderkey % 7 AS key_mod7,
        |  sqrt(l_quantity) AS sqrt_qty,
        |  floor(l_extendedprice * l_quantity * 100) / 100 AS amount_2dp
        |FROM lineitem""".stripMargin,
    "q21_scalar_array" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n_words,
        |  string_split(p_type, ' ')[1] AS first_word,
        |  list_contains(string_split(p_type, ' '), 'BRUSHED') AS has_brushed
        |FROM part""".stripMargin,
    "q22_scalar_json" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
        |FROM events""".stripMargin,
    "q23_write_roundtrip" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |  l_discount, l_tax, l_returnflag, l_linestatus, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem""".stripMargin,
    "q24_dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,
    // twin-corpus LSH oracles: the constructions in the Spark queries reduce
    // every pair/cluster/survivor decision to exact text equality (see
    // twinCopy), which these replay in closed form
    "q25_dedup_minhash" ->
      """WITH m AS (SELECT text, MIN(doc_id) AS mn FROM documents GROUP BY text)
        |SELECT d.doc_id + k.o AS doc_id, m.mn AS dup_of
        |FROM documents d JOIN m ON d.text = m.text,
        |     (VALUES (0), (1000000)) k(o)""".stripMargin,
    "q58_dedup_clusters" ->
      """WITH m AS (SELECT text, MIN(doc_id) AS mn FROM documents GROUP BY text)
        |SELECT d.doc_id + k.o AS doc_id, m.mn AS dup_of
        |FROM documents d JOIN m ON d.text = m.text,
        |     (VALUES (0), (1000000), (2000000)) k(o)""".stripMargin,
    "q55_simhash_pairs" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS INT) AS hamming
        |FROM ids a JOIN ids b ON a.text = b.text AND a.id < b.id""".stripMargin,
    "q69_dedup_drop" ->
      """SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id = (SELECT MIN(d2.doc_id) FROM documents d2
        |                  WHERE d2.text = d.text)""".stripMargin,
    // simhash survivor set over the two-copy twin union: exact-text groups
    // collapse to their min id (copy-0), replayed from text equality alone
    "q26_dedup_simhash" ->
      """WITH ids AS (
        |  SELECT doc_id, source, n_chars, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, source, n_chars, text FROM documents)
        |SELECT i.doc_id, i.source, i.n_chars FROM ids i
        |WHERE i.doc_id = (SELECT MIN(i2.doc_id) FROM ids i2
        |                  WHERE i2.text = i.text)""".stripMargin,
    // incremental dedup on the twin corpus: only the disjoint-word copy-2
    // batch survives the vs-corpus pass (see the Spark-side construction)
    "q108_incremental_dedup" ->
      """SELECT doc_id + 2000000 AS doc_id, source, n_chars FROM documents""",
    // closed-form expected canonicalization (see the Spark-side construction)
    "q109_url_normalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 THEN 'sub.' ELSE '' END
        |      || 'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS h,
        |    CASE WHEN doc_id % 4 = 2 THEN ':8443' ELSE '' END AS p
        |  FROM documents)
        |SELECT doc_id,
        |  'https://' || h || p || '/Docs/' || CAST(doc_id AS VARCHAR)
        |    || CASE WHEN doc_id % 5 = 0 THEN ''
        |            ELSE '?id=' || CAST(doc_id AS VARCHAR) END AS url_norm,
        |  h AS url_host,
        |  'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS url_domain,
        |  'https' AS url_scheme
        |FROM u""".stripMargin,
    // closed-form expected plain text (corpus text is whitespace-normal:
    // no <>&, no doubled/leading/trailing whitespace — verified fixture)
    "q110_html_strip" ->
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' Title ' || CAST(doc_id AS VARCHAR)
        |    || ' ' || text || ' Bold&Co <tag> "q''' AS text_plain
        |FROM documents""".stripMargin,
    // closed form: headers dropped at the first CRLFCRLF, HTML stripped,
    // the body's own CRLF pair collapses to whitespace
    // containment replay: distinct 3-shingle STRING sets stand in for the
    // engine's 64-bit shingle hashes (injective up to xxhash64 collisions —
    // negligible at battery scale); fragment construction mirrors
    // containmentCorpus (DuckDB // = Spark floor-div; list_slice caps at
    // list end exactly like Spark slice)
    "q143_containment" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) // 2, 3)), ' ')
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS s
        |  FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 3
        |  UNION
        |  SELECT doc_id, array_to_string(w, ' ') FROM tok WHERE len(w) < 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
        |  CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
        |FROM inter i
        |JOIN sizes sa ON sa.doc_id = i.id_a
        |JOIN sizes sb ON sb.doc_id = i.id_b
        |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.8""".stripMargin,
    // survivors under the same (size, id desc) drop orientation
    "q144_drop_contained" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_slice(string_split(text, ' '), 1,
        |      greatest(len(string_split(text, ' ')) // 2, 3)), ' ')
        |  FROM documents),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(list_slice(w, CAST(i AS INT), CAST(i AS INT) + 2), ' ') AS s
        |  FROM tok, UNNEST(range(1, len(w) - 1)) AS t(i)
        |  WHERE len(w) >= 3
        |  UNION
        |  SELECT doc_id, array_to_string(w, ' ') FROM tok WHERE len(w) < 3),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT p.id_a
        |  FROM pairs p
        |  JOIN sizes sa ON sa.doc_id = p.id_a
        |  JOIN sizes sb ON sb.doc_id = p.id_b
        |  WHERE CAST(p.inter AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.9
        |    AND (sb.sz > sa.sz OR (sb.sz = sa.sz AND p.id_b < p.id_a)))
        |SELECT b.doc_id FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.id_a = b.doc_id)""".stripMargin,
    // BM25 replay: same per-term decimal(22,7) rounding before the sum;
    // COUNT/SUM cast back to BIGINT (DuckDB SUM(BIGINT) → HUGEINT → float64
    // would kind-clash the driver hash)
    "q142_bm25" ->
      """WITH q(query_id, qtext) AS (VALUES
        |    (CAST(0 AS BIGINT), 'spark join filter'),
        |    (CAST(1 AS BIGINT), 'merge sort row'),
        |    (CAST(2 AS BIGINT), 'stream window agg'),
        |    (CAST(3 AS BIGINT), 'customer query the data')),
        |t AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0),
        |perdoc AS (SELECT doc_id, word, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM perdoc GROUP BY 1),
        |dfreq AS (SELECT word, COUNT(*) AS df FROM perdoc GROUP BY 1),
        |stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
        |                 (SELECT AVG(CAST(dl AS DOUBLE)) FROM dlen) AS avgdl),
        |qt AS (SELECT DISTINCT query_id, word FROM (
        |    SELECT query_id, unnest(string_split(qtext, ' ')) AS word FROM q)),
        |contrib AS (
        |  SELECT qt.query_id, p.doc_id, p.tf,
        |    CAST(ln(1 + (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
        |               / (CAST(f.df AS DOUBLE) + 0.5))
        |      * (CAST(p.tf AS DOUBLE) * 2.2)
        |      / (CAST(p.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
        |      AS DECIMAL(22,7)) AS c
        |  FROM perdoc p
        |  JOIN qt USING (word) JOIN dfreq f USING (word)
        |  JOIN dlen l USING (doc_id) CROSS JOIN stats s),
        |sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score,
        |         COUNT(*) AS n_matched, CAST(SUM(tf) AS BIGINT) AS tf_sum
        |       FROM contrib GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM sc)
        |SELECT query_id, doc_id, rank, score, n_matched, tf_sum
        |FROM rk WHERE rank <= 10""".stripMargin,
    // the v1→v2 delta IS the shifted increment
    "q147_change_feed" ->
      """SELECT doc_id + 1000000 AS doc_id, text, source FROM documents""",
    "q150_zorder_string_band" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE source >= 'src0' AND source <= 'src12' AND n_chars <= 300""".stripMargin,
    // q146's LWW replay restricted to the touched keys: every surviving
    // row is a writetime-2000 (+100) version, and duplicate (ok, ln) pairs
    // in the synthetic data collapse by the same deterministic tie-break
    "q152_incremental_merge" ->
      """WITH versions AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 1000 AS wt
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |               l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |               l_linestatus DESC, l_shipdate DESC) AS rn
        |    FROM versions) WHERE rn = 1)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM latest WHERE l_orderkey % 10 = 0""".stripMargin,
    // retrain both unigram models, replay the exact three-division weight
    "q151_dsir_select" ->
      """WITH tt AS (SELECT unnest(string_split(text, ' ')) AS term
        |            FROM documents WHERE source IN ('src0','src1','src2')),
        |ttc AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
        |ttot AS (SELECT sum(cnt) AS n, count(*) AS v FROM ttc),
        |rt AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |rtc AS (SELECT term, count(*) AS cnt FROM rt GROUP BY term),
        |rtot AS (SELECT sum(cnt) AS n, count(*) AS v FROM rtc),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |sc AS (SELECT tok.doc_id, count(*) AS n,
        |         sum(COALESCE(ttc.cnt, 0)) AS sumt,
        |         sum(COALESCE(rtc.cnt, 0)) AS sumr
        |       FROM tok LEFT JOIN ttc USING (term) LEFT JOIN rtc USING (term)
        |       GROUP BY tok.doc_id),
        |w AS (SELECT sc.doc_id,
        |        (CAST(sc.sumt + sc.n AS DOUBLE) /
        |           CAST(sc.n * (ttot.n + ttot.v) AS DOUBLE)) /
        |        (CAST(sc.sumr + sc.n AS DOUBLE) /
        |           CAST(sc.n * (rtot.n + rtot.v) AS DOUBLE)) AS dsir_weight
        |      FROM sc CROSS JOIN ttot CROSS JOIN rtot)
        |SELECT doc_id, dsir_weight FROM w
        |ORDER BY dsir_weight DESC, doc_id ASC LIMIT 150""".stripMargin,
    // the v2 and v3 increments, exactly once each
    "q149_change_feed_stream" ->
      """SELECT doc_id + 1000000 AS doc_id, text, source FROM documents
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, text, source FROM documents""".stripMargin,
    // stored + delta = direct aggregate over the doubled corpus
    "q148_incremental_agg" ->
      """SELECT source, CAST(2 * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(2 * SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,
    // q71's replay plus the tombstone: keys ≡ 3 (mod 7) deleted outright
    "q146_compact_inplace" ->
      """WITH versions AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 1000 AS wt
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |               l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |               l_linestatus DESC, l_shipdate DESC) AS rn
        |    FROM versions) WHERE rn = 1),
        |alive AS (SELECT * FROM latest WHERE l_orderkey % 7 <> 3)
        |SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM alive GROUP BY l_orderkey""".stripMargin,
    // the v1 pin IS the original corpus
    "q145_snapshot_read" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // layout is invisible to results: the plain filter is the oracle
    "q141_zorder_band" ->
      """SELECT user_id, event_id, event_type, value
        |FROM events
        |WHERE user_id <= 200 AND event_id <= 5000""".stripMargin,
    // cluster = min original doc_id per text group; thresholds are
    // Sampling.thresholdHex(0.8) = cccccccc and thresholdHex(0.9) = e6666666
    "q140_leakage_safe_split" ->
      """WITH m AS (SELECT text, MIN(doc_id) AS mn FROM documents GROUP BY text),
        |u AS (SELECT d.doc_id + k.o AS doc_id, d.source, m.mn
        |      FROM documents d JOIN m ON d.text = m.text,
        |           (VALUES (0), (1000000)) k(o))
        |SELECT doc_id, source,
        |  CASE WHEN substring(md5(CAST(mn AS VARCHAR)), 1, 8) < 'cccccccc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(mn AS VARCHAR)), 1, 8) < 'e6666666'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u""".stripMargin,
    // retrain the counts in SQL; every double is one division of integers
    "q139_ccnet_lm_buckets" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE WHEN CAST(doc_id % 3 AS INTEGER) = 0
        |      THEN text || ' xqz' || CAST(doc_id AS VARCHAR)
        |      ELSE text END AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents),
        |tc AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |tot AS (SELECT sum(cnt) AS n, count(*) AS v FROM tc),
        |bg0 AS (SELECT doc_id, wl, unnest(range(1, len(wl))) AS i FROM
        |  (SELECT doc_id, string_split(text, ' ') AS wl FROM documents)),
        |bgt AS (SELECT wl[i] || ' ' || wl[i+1] AS bg, count(*) AS cnt
        |        FROM bg0 GROUP BY 1),
        |st AS (SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM v),
        |sa AS (SELECT st.doc_id, count(*) AS n,
        |              sum(COALESCE(tc.cnt, 0)) AS sumc,
        |              sum(CASE WHEN tc.cnt IS NULL THEN 1 ELSE 0 END) AS oov
        |       FROM st LEFT JOIN tc USING (term) GROUP BY st.doc_id),
        |sb0 AS (SELECT doc_id, wl, unnest(range(1, len(wl))) AS i FROM
        |  (SELECT doc_id, string_split(t, ' ') AS wl FROM v)),
        |sb AS (SELECT sb0.doc_id,
        |         sum(CASE WHEN bgt.bg IS NOT NULL THEN 1 ELSE 0 END) AS hits
        |       FROM sb0 LEFT JOIN bgt
        |         ON bgt.bg = sb0.wl[i] || ' ' || sb0.wl[i+1]
        |       GROUP BY sb0.doc_id),
        |m AS (SELECT sa.doc_id,
        |  CAST(sa.sumc + sa.n AS DOUBLE) /
        |    CAST(sa.n * (tot.n + tot.v) AS DOUBLE) AS lm_score,
        |  CAST(sa.oov AS DOUBLE) / CAST(sa.n AS DOUBLE) AS lm_oov_frac,
        |  CASE WHEN sa.n < 2 THEN 0.0
        |       ELSE CAST(COALESCE(sb.hits, 0) AS DOUBLE) /
        |            CAST(sa.n - 1 AS DOUBLE) END AS lm_bigram_hit_frac
        |  FROM sa CROSS JOIN tot LEFT JOIN sb ON sb.doc_id = sa.doc_id)
        |SELECT doc_id, lm_score, lm_oov_frac, lm_bigram_hit_frac,
        |  CASE WHEN lm_score < 0.0333 THEN 'tail'
        |       WHEN lm_score < 0.0334 THEN 'middle'
        |       ELSE 'head' END AS lm_bucket
        |FROM m""".stripMargin,
    // twins dropped, originals survive — closed-form
    "q138_semdedup" ->
      """SELECT vec_id, label FROM embeddings""",
    // closed-form expected host+domain per construction tier
    "q137_psl_wildcards" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |    WHEN 0 THEN 'sub.a' || CAST(doc_id AS VARCHAR) || '.b' ||
        |                CAST(doc_id AS VARCHAR) || '.ck'
        |    WHEN 1 THEN 'x.city.kobe.jp'
        |    WHEN 2 THEN 'a.ward' || CAST(doc_id AS VARCHAR) || '.kobe.jp'
        |    WHEN 3 THEN 'www.ck'
        |    WHEN 4 THEN 'vm' || CAST(doc_id AS VARCHAR) ||
        |                '.zone.compute.amazonaws.com'
        |    ELSE 'shop.example' || CAST(doc_id AS VARCHAR) || '.co.uk'
        |  END AS url_host,
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |    WHEN 0 THEN 'a' || CAST(doc_id AS VARCHAR) || '.b' ||
        |                CAST(doc_id AS VARCHAR) || '.ck'
        |    WHEN 1 THEN 'city.kobe.jp'
        |    WHEN 2 THEN 'a.ward' || CAST(doc_id AS VARCHAR) || '.kobe.jp'
        |    WHEN 3 THEN 'www.ck'
        |    WHEN 4 THEN 'vm' || CAST(doc_id AS VARCHAR) ||
        |                '.zone.compute.amazonaws.com'
        |    ELSE 'example' || CAST(doc_id AS VARCHAR) || '.co.uk'
        |  END AS url_domain
        |FROM documents""".stripMargin,
    // every repetition metric as a single division of integer counts; the
    // top-gram pick replays the (count, char-product) tie-break via window
    "q136_gopher_repetition" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN text || chr(10) || 'sign up today' || chr(10) ||
        |                  'sign up today' || chr(10) || 'sign up today'
        |      WHEN 1 THEN text || chr(10) || chr(10) ||
        |                  'limited time promotional offer block' ||
        |                  chr(10) || chr(10) ||
        |                  'limited time promotional offer block'
        |      WHEN 2 THEN text || ' buy now buy now buy now buy now'
        |      ELSE text END AS t
        |  FROM documents),
        |ln AS (SELECT doc_id, l FROM
        |  (SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM v)
        |  WHERE l <> ''),
        |la AS (SELECT doc_id, count(*) AS n, count(DISTINCT l) AS nd,
        |              sum(length(l)) AS ch FROM ln GROUP BY doc_id),
        |ld AS (SELECT doc_id, sum(length(l)) AS chd FROM
        |  (SELECT DISTINCT doc_id, l FROM ln) GROUP BY doc_id),
        |pa AS (SELECT doc_id, p FROM
        |  (SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS p FROM v)
        |  WHERE p <> ''),
        |paa AS (SELECT doc_id, count(*) AS n, count(DISTINCT p) AS nd,
        |               sum(length(p)) AS ch FROM pa GROUP BY doc_id),
        |pad AS (SELECT doc_id, sum(length(p)) AS chd FROM
        |  (SELECT DISTINCT doc_id, p FROM pa) GROUP BY doc_id),
        |w AS (SELECT doc_id, length(t) AS tc, string_split(t, ' ') AS wl FROM v),
        |g2 AS (SELECT doc_id, array_to_string(wl[i:i+1], ' ') AS g FROM
        |  (SELECT doc_id, wl, unnest(range(1, len(wl))) AS i FROM w)),
        |c2 AS (SELECT doc_id, count(*) AS cnt, count(*) * length(g) AS chars
        |       FROM g2 GROUP BY doc_id, g),
        |t2 AS (SELECT doc_id, cnt, chars, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY cnt DESC, chars DESC) AS rn FROM c2),
        |g3 AS (SELECT doc_id, array_to_string(wl[i:i+2], ' ') AS g FROM
        |  (SELECT doc_id, wl, unnest(range(1, len(wl) - 1)) AS i FROM w)),
        |c3 AS (SELECT doc_id, count(*) AS cnt, count(*) * length(g) AS chars
        |       FROM g3 GROUP BY doc_id, g),
        |t3 AS (SELECT doc_id, cnt, chars, row_number() OVER
        |  (PARTITION BY doc_id ORDER BY cnt DESC, chars DESC) AS rn FROM c3),
        |g5 AS (SELECT doc_id, array_to_string(wl[i:i+4], ' ') AS g FROM
        |  (SELECT doc_id, wl, unnest(range(1, len(wl) - 3)) AS i FROM w)),
        |a5 AS (SELECT doc_id, sum(length(g)) AS tot FROM g5 GROUP BY doc_id),
        |d5 AS (SELECT doc_id, sum(length(g)) AS dis FROM
        |  (SELECT DISTINCT doc_id, g FROM g5) GROUP BY doc_id),
        |m AS (SELECT w.doc_id,
        |  CAST(la.n - la.nd AS DOUBLE) / CAST(la.n AS DOUBLE) AS dup_line_frac,
        |  least(1.0, CAST(la.ch - ld.chd AS DOUBLE) / CAST(la.ch AS DOUBLE))
        |    AS dup_line_char_frac,
        |  CAST(paa.n - paa.nd AS DOUBLE) / CAST(paa.n AS DOUBLE) AS dup_para_frac,
        |  least(1.0, CAST(paa.ch - pad.chd AS DOUBLE) / CAST(paa.ch AS DOUBLE))
        |    AS dup_para_char_frac,
        |  CASE WHEN t2.cnt >= 2 THEN
        |    least(1.0, CAST(t2.chars AS DOUBLE) / CAST(w.tc AS DOUBLE))
        |    ELSE 0.0 END AS top_2gram_char_frac,
        |  CASE WHEN t3.cnt >= 2 THEN
        |    least(1.0, CAST(t3.chars AS DOUBLE) / CAST(w.tc AS DOUBLE))
        |    ELSE 0.0 END AS top_3gram_char_frac,
        |  COALESCE(least(1.0,
        |    CAST(a5.tot - d5.dis AS DOUBLE) / CAST(w.tc AS DOUBLE)), 0.0)
        |    AS dup_5gram_char_frac
        |  FROM w
        |  JOIN la USING (doc_id) JOIN ld USING (doc_id)
        |  JOIN paa USING (doc_id) JOIN pad USING (doc_id)
        |  LEFT JOIN t2 ON t2.doc_id = w.doc_id AND t2.rn = 1
        |  LEFT JOIN t3 ON t3.doc_id = w.doc_id AND t3.rn = 1
        |  LEFT JOIN a5 ON a5.doc_id = w.doc_id
        |  LEFT JOIN d5 ON d5.doc_id = w.doc_id)
        |SELECT doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
        |  dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
        |  dup_5gram_char_frac,
        |  CASE WHEN dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
        |        AND dup_para_frac <= 0.30 AND dup_para_char_frac <= 0.20
        |        AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
        |        AND dup_5gram_char_frac <= 0.15
        |       THEN 1 ELSE 0 END AS rep_pass
        |FROM m""".stripMargin,
    // identity: the chunk-encode is lossless by construction, so de-chunk
    // must reproduce the text byte-for-byte
    "q135_http_chunked" ->
      """SELECT doc_id, text AS text_plain
        |FROM documents""".stripMargin,
    "q129_http_extract" ->
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text AS text_plain
        |FROM documents""".stripMargin,
    // the naive global-window formulation the distributed prefix sum must match
    "q111_budget_select" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_chars, est_bpe_tokens,
        |    SUM(est_bpe_tokens) OVER (ORDER BY n_chars DESC, doc_id) AS cum
        |  FROM t)
        |SELECT doc_id, n_chars, est_bpe_tokens, CAST(cum AS BIGINT) AS cum_cost
        |FROM c WHERE cum <= 15000""".stripMargin,
    // copies replayed via generate_series + the identical md5 threshold
    // (thresholdHex(0.5) = 80000000; whole weights get the empty range)
    "q112_upsample_mix" ->
      """WITH w AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 1 ELSE 0 END AS fl,
        |    CASE source WHEN 'src0' THEN '00000000' ELSE '80000000' END AS th
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |x AS (
        |  SELECT doc_id, source, n_chars,
        |    fl + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|epoch|'
        |                             || CAST(fl AS VARCHAR)), 1, 8) < th
        |              THEN 1 ELSE 0 END AS n
        |  FROM w)
        |SELECT doc_id, source, n_chars, unnest(range(0, n)) AS epoch
        |FROM x""".stripMargin,
    // count -> alpha=0 weight (two exact divisions) -> md5 threshold ->
    // copies: the full temperature-mix path replayed in SQL
    "q126_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang AS l, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |j AS (
        |  SELECT d.doc_id, d.lang,
        |    (CAST(1000 AS DOUBLE) / (SELECT COUNT(*) FROM c)) / c.n AS wt
        |  FROM documents d JOIN c ON d.lang = c.l),
        |t AS (
        |  SELECT doc_id, lang, CAST(FLOOR(wt) AS BIGINT) AS fl,
        |    printf('%08x', CAST(FLOOR((wt - FLOOR(wt)) * 4294967296.0) AS BIGINT)) AS th
        |  FROM j),
        |x AS (
        |  SELECT doc_id, lang,
        |    fl + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|epoch|'
        |                             || CAST(fl AS VARCHAR)), 1, 8) < th
        |              THEN 1 ELSE 0 END AS nn
        |  FROM t)
        |SELECT doc_id, lang, unnest(range(0, nn)) AS epoch FROM x""".stripMargin,
    // the Gopher rule battery replayed flag by flag: same construction,
    // same integer cross-multiplications, same list-lambda counts
    "q130_gopher_quality" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 5 AS INTEGER)
        |      WHEN 0 THEN text || chr(10) || '- one' || chr(10) || '- two'
        |        || chr(10) || '- three' || chr(10) || '- four' || chr(10) || '- five'
        |        || chr(10) || '- six' || chr(10) || '- seven' || chr(10) || '- eight'
        |        || chr(10) || '- nine' || chr(10) || '- ten'
        |      WHEN 1 THEN '# # # # # # # # # # # # ' || text || ' more words ...'
        |      WHEN 2 THEN 'tiny doc ...'
        |      ELSE text END AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    string_split(t, ' ') AS toks,
        |    string_split(t, chr(10)) AS lns,
        |    (length(t) - length(replace(t, '#', ''))) / 1
        |      + (length(t) - length(replace(t, '...', ''))) / 3 AS symbols,
        |    ' ' || lower(t) || ' ' AS p
        |  FROM v),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CASE WHEN len(toks) >= 20 AND len(toks) <= 100000
        |         THEN 1 ELSE 0 END AS flag_words,
        |    CASE WHEN list_sum(list_transform(toks, x -> length(x))) >= 3 * len(toks)
        |          AND list_sum(list_transform(toks, x -> length(x))) <= 10 * len(toks)
        |         THEN 1 ELSE 0 END AS flag_word_len,
        |    CASE WHEN symbols <= 0.1 * len(toks) THEN 1 ELSE 0 END AS flag_symbol,
        |    CASE WHEN len(list_filter(lns,
        |           x -> x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')) <= 0.9 * len(lns)
        |         THEN 1 ELSE 0 END AS flag_bullet,
        |    CASE WHEN len(list_filter(lns, x -> x LIKE '%...')) <= 0.3 * len(lns)
        |         THEN 1 ELSE 0 END AS flag_ellipsis,
        |    CASE WHEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |           >= 0.8 * len(toks)
        |         THEN 1 ELSE 0 END AS flag_alpha,
        |    CASE WHEN (CASE WHEN length(p) > length(replace(p, ' the ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' be ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' to ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' of ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' and ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' that ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' have ', '')) THEN 1 ELSE 0 END
        |       + CASE WHEN length(p) > length(replace(p, ' with ', '')) THEN 1 ELSE 0 END) >= 1
        |         THEN 1 ELSE 0 END AS flag_stop
        |  FROM f)
        |SELECT doc_id, n_words, flag_words, flag_word_len, flag_symbol,
        |  flag_bullet, flag_ellipsis, flag_alpha, flag_stop,
        |  flag_words * flag_word_len * flag_symbol * flag_bullet
        |    * flag_ellipsis * flag_alpha * flag_stop AS gopher_pass
        |FROM g""".stripMargin,
    // full replay of span dedup: construct, emit positioned 10-grams,
    // count, cover [s, s+9] intervals, rewrite surviving tokens in order
    "q133_span_dedup" ->
      """WITH ph AS (
        |  SELECT doc_id,
        |    'p1x' || CAST(doc_id AS VARCHAR) || ' p2x' || CAST(doc_id AS VARCHAR)
        |      || ' p3x' || CAST(doc_id AS VARCHAR) || ' p4x' || CAST(doc_id AS VARCHAR)
        |      || ' p5x' || CAST(doc_id AS VARCHAR) AS p5
        |  FROM documents),
        |v AS (
        |  SELECT d.doc_id,
        |    CASE CAST(d.doc_id % 4 AS INTEGER)
        |      WHEN 0 THEN d.text || ' subscribe to our newsletter for updates and follow us on social media'
        |      WHEN 1 THEN d.text || ' subscribe to our newsletter for updates and follow us on social media'
        |      WHEN 2 THEN d.text || ' ' || ph.p5 || ' ' || ph.p5 || ' ' || ph.p5
        |      ELSE d.text END AS t
        |  FROM documents d JOIN ph USING (doc_id)),
        |d2 AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM v),
        |g0 AS (
        |  SELECT doc_id, toks,
        |    unnest(range(1, len(toks) - 10 + 2)) AS pos
        |  FROM d2),
        |g AS (
        |  SELECT doc_id, pos,
        |    array_to_string(toks[pos:pos+9], ' ') AS gram
        |  FROM g0),
        |f AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |hit AS (SELECT DISTINCT g.doc_id, g.pos FROM g JOIN f USING (gram)),
        |covx AS (SELECT doc_id, unnest(range(pos, pos + 10)) AS ci FROM hit),
        |cov AS (SELECT doc_id, list(DISTINCT ci) AS cover FROM covx GROUP BY doc_id)
        |SELECT d2.doc_id,
        |  CASE WHEN cov.cover IS NULL THEN d2.t
        |       ELSE COALESCE(array_to_string(
        |         list_transform(
        |           list_filter(range(1, len(d2.toks) + 1),
        |             i -> NOT list_contains(cov.cover, i)),
        |           i -> d2.toks[i]), ' '), '')
        |  END AS text_clean
        |FROM d2 LEFT JOIN cov ON d2.doc_id = cov.doc_id""".stripMargin,
    // md5-rank window replay with the identical ceil boundary
    "q134_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) ASC,
        |               doc_id ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |WHERE rn <= ceil(0.3 * cnt)""".stripMargin,
    // blocklist membership replayed on both keys: host NOT IN and
    // registrable domain NOT IN the same three-entry list
    "q131_blocklist" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 1 THEN 'sub.' ELSE '' END
        |      || 'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS url_host,
        |    'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS url_domain
        |  FROM documents)
        |SELECT doc_id, url_host, url_domain FROM u
        |WHERE url_host NOT IN ('example7.com', 'example13.com', 'sub.example4.com')
        |  AND url_domain NOT IN ('example7.com', 'example13.com', 'sub.example4.com')""".stripMargin,
    // exact-fingerprint variant of the q108 construction: same survivor set
    "q113_incremental_exact" ->
      """SELECT doc_id + 2000000 AS doc_id, source, n_chars FROM documents""",
    // Bloom prefilter is exact end-to-end: identical survivor set to q113
    "q132_incremental_exact_bloom" ->
      """SELECT doc_id + 2000000 AS doc_id, source, n_chars FROM documents""",
    // domain in closed form + the capPerGroup md5-rank replay (q93 pattern)
    "q114_domain_cap" ->
      """SELECT url_domain, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM (
        |  SELECT 'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS url_domain,
        |    doc_id, row_number() OVER (
        |      PARTITION BY doc_id % 50
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)),1,8) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 5 GROUP BY url_domain""".stripMargin,
    // per-column profile replayed cell by cell (documents has no nulls;
    // the null-count arithmetic is the same COUNT(*)-COUNT(col) form)
    "q115_profile" ->
      """SELECT 'doc_id' AS "column", COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls,
        |  COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_str, CAST(MAX(doc_id) AS VARCHAR) AS max_str
        |FROM documents
        |UNION ALL
        |SELECT 'text', COUNT(*), COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |  MIN(text), MAX(text) FROM documents
        |UNION ALL
        |SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |  MIN(lang), MAX(lang) FROM documents
        |UNION ALL
        |SELECT 'source', COUNT(*), COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |  MIN(source), MAX(source) FROM documents
        |UNION ALL
        |SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |  CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents""".stripMargin,
    // whole-chain replay: strip result in closed form, domain arithmetic,
    // md5-rank cap, token estimate, global cumulative budget
    "q116_web_pipeline" ->
      """WITH p AS (
        |  SELECT doc_id, n_chars,
        |    'example' || CAST(doc_id % 40 AS VARCHAR) || '.com' AS url_domain,
        |    CAST(ceil(length('Doc ' || CAST(doc_id AS VARCHAR) || ' Title ' ||
        |      CAST(doc_id AS VARCHAR) || ' ' || text || ' Bold&Co') / 4.0) AS BIGINT)
        |      AS est_tokens,
        |    row_number() OVER (PARTITION BY doc_id % 40
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)),1,8) ASC, doc_id ASC) AS rn
        |  FROM documents),
        |surv AS (SELECT * FROM p WHERE rn <= 8),
        |c AS (
        |  SELECT doc_id, url_domain, est_tokens,
        |    SUM(est_tokens) OVER (ORDER BY n_chars DESC, doc_id) AS cum
        |  FROM surv)
        |SELECT doc_id, url_domain, est_tokens, CAST(cum AS BIGINT) AS cum_cost
        |FROM c WHERE cum <= 8000""".stripMargin,
    // gram hashes + window minima replayed with DuckDB list functions
    "q117_winnowing" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 8
        |      THEN list_transform(range(1, length(text) - 8 + 2),
        |             i -> CAST('0x' || substr(md5(substr(text, CAST(i AS INT), 8)), 1, 8) AS BIGINT))
        |      ELSE [CAST('0x' || substr(md5(text), 1, 8) AS BIGINT)] END AS h
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) >= 4
        |      THEN list_transform(range(1, len(h) - 4 + 2),
        |             j -> list_min(h[CAST(j AS INT):CAST(j + 3 AS INT)]))
        |      ELSE [list_min(h)] END AS mins
        |  FROM g)
        |SELECT doc_id,
        |  array_to_string(list_sort(list_distinct(mins)), ',') AS winnow_fp
        |FROM m""".stripMargin,
    // identical twin texts -> containment exactly 1.0; nothing else survives
    "q118_winnow_overlap" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b, CAST(1.0 AS DOUBLE) AS containment
        |FROM ids a JOIN ids b ON a.text = b.text AND a.id < b.id""".stripMargin,
    // identity: the JSONL round-trip must reproduce the source table
    "q119_jsonl_ingest" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents""",
    // the linear model spelled out in SQL; every weight on an exact binary
    // grid so the sum is order-independent and bit-identical across engines
    "q125_linear_quality" ->
      """SELECT doc_id,
        |  0.25 + coalesce(list_sum(list_transform(string_split(lower(text), ' '),
        |    w -> (CASE w WHEN 'the' THEN 2.0 WHEN 'scan' THEN -1.0
        |                 WHEN 'join' THEN 1.5 WHEN 'hash' THEN 0.5
        |                 WHEN 'window' THEN -0.25 WHEN 'spark' THEN 3.0
        |                 ELSE 0.0 END)::DOUBLE)), 0.0) AS lin_score
        |FROM documents""".stripMargin,
    // every stage replayed closed-form: identity ingest, the q125 model,
    // the threshold, and the naive global cumulative window
    "q128_wet_pipeline" ->
      """WITH w AS (
        |  SELECT 'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |    text,
        |    0.25 + coalesce(list_sum(list_transform(string_split(lower(text), ' '),
        |      tk -> (CASE tk WHEN 'the' THEN 2.0 WHEN 'scan' THEN -1.0
        |                     WHEN 'join' THEN 1.5 WHEN 'hash' THEN 0.5
        |                     WHEN 'window' THEN -0.25 WHEN 'spark' THEN 3.0
        |                     ELSE 0.0 END)::DOUBLE)), 0.0) AS lin_score
        |  FROM documents),
        |f AS (SELECT * FROM w WHERE lin_score > 4.0),
        |c AS (
        |  SELECT target_uri, lin_score,
        |    CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens,
        |    SUM(CAST(ceil(length(text) / 4.0) AS BIGINT))
        |      OVER (ORDER BY lin_score DESC, target_uri) AS cum
        |  FROM f)
        |SELECT target_uri, lin_score, est_tokens, CAST(cum AS BIGINT) AS cum_cost
        |FROM c WHERE cum <= 8000""".stripMargin,
    // identity: the WET export/ingest round trip must reproduce the corpus
    "q124_wet_ingest" ->
      """SELECT 'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |       text
        |FROM documents""".stripMargin,
    // identity + closed-form tricky column: the CSV quote-escape round
    // trip must reproduce embedded delimiters, quotes and unicode exactly
    "q121_csv_ingest" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |  'a,b "qu"oted" — ünïcodé ✓ ' || lang || ', t,,railing"' AS tricky
        |FROM documents""".stripMargin,
    // closed-form expected plain text for the constructed markdown page
    "q120_markdown_strip" ->
      """SELECT doc_id,
        |  'Doc ' || CAST(doc_id AS VARCHAR)
        |    || ' intro quote Summary of item ' || CAST(doc_id AS VARCHAR)
        |    || ': see ref ' || CAST(doc_id AS VARCHAR)
        |    || ' and fig ' || CAST(doc_id AS VARCHAR) || ' '
        |    || text || ' tail_code old end' AS text_plain
        |FROM documents""".stripMargin,
    "q27_ngram_jaccard" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, text, 0 AS v FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text, 1 FROM documents
        |  UNION ALL SELECT doc_id + 2000000, text, 2 FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(CASE WHEN a.v = b.v THEN 1.0
        |            WHEN a.v + b.v = 1 THEN 0.5
        |            ELSE 0.0 END AS DOUBLE) AS jaccard_4dp
        |FROM ids a JOIN ids b ON a.text = b.text AND a.id < b.id""".stripMargin,
    "q28_embed_neardup" ->
      """SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         row_number() OVER (ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
        |                            a.vec_id, b.vec_id) AS rn
        |  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id
        |) WHERE rn <= 50""".stripMargin,
    "q31_langid" -> langIdSql,
    "q32_text_quality" -> qualitySql,
    "q33_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents""".stripMargin,
    "q34_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint
        |FROM documents""".stripMargin,
    "q35_blob_metadata" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(1 + doc_id % 1024 AS INT) AS w,
        |    CAST(1 + doc_id % 768 AS INT) AS h, doc_id % 4 AS m,
        |    CASE WHEN doc_id % 8 = 3 THEN 1 ELSE 0 END AS alpha,
        |    octet_length(CAST(text AS BLOB)) AS blen, text
        |  FROM documents),
        |bits AS (
        |  SELECT *, (w - 1) + (h - 1) * 16384 + alpha * 268435456 AS vp8l
        |  FROM b),
        |blob AS (
        |  SELECT doc_id, w, h, m, alpha,
        |    CASE WHEN m = 0 THEN
        |      from_hex('89504E470D0A1A0A0000000D49484452') ||
        |      from_hex(lpad(to_hex(w),8,'0')) || from_hex(lpad(to_hex(h),8,'0')) ||
        |      from_hex('0806000000') || CAST(text AS BLOB)
        |    WHEN m = 1 THEN
        |      from_hex('474946383961') ||
        |      from_hex(substr(lpad(to_hex(w),4,'0'),3,2) || substr(lpad(to_hex(w),4,'0'),1,2)) ||
        |      from_hex(substr(lpad(to_hex(h),4,'0'),3,2) || substr(lpad(to_hex(h),4,'0'),1,2)) ||
        |      CAST(text AS BLOB)
        |    WHEN m = 2 THEN
        |      from_hex('FFD8FFE000104A46494600010100000100010000FFC0001108') ||
        |      from_hex(lpad(to_hex(h),4,'0')) || from_hex(lpad(to_hex(w),4,'0')) ||
        |      from_hex('03011100021101031101') || CAST(text AS BLOB)
        |    ELSE
        |      from_hex('52494646') ||
        |      from_hex(substr(lpad(to_hex(blen + 17),8,'0'),7,2) || substr(lpad(to_hex(blen + 17),8,'0'),5,2) ||
        |               substr(lpad(to_hex(blen + 17),8,'0'),3,2) || substr(lpad(to_hex(blen + 17),8,'0'),1,2)) ||
        |      from_hex('57454250') || from_hex('5650384C') ||
        |      from_hex(substr(lpad(to_hex(blen + 5),8,'0'),7,2) || substr(lpad(to_hex(blen + 5),8,'0'),5,2) ||
        |               substr(lpad(to_hex(blen + 5),8,'0'),3,2) || substr(lpad(to_hex(blen + 5),8,'0'),1,2)) ||
        |      from_hex('2F') ||
        |      from_hex(substr(lpad(to_hex(vp8l),8,'0'),7,2) || substr(lpad(to_hex(vp8l),8,'0'),5,2) ||
        |               substr(lpad(to_hex(vp8l),8,'0'),3,2) || substr(lpad(to_hex(vp8l),8,'0'),1,2)) ||
        |      CAST(text AS BLOB)
        |    END AS blob
        |  FROM bits)
        |SELECT doc_id,
        |  CAST(octet_length(blob) AS BIGINT) AS byte_len,
        |  hex(blob) AS blob_hex,
        |  CASE WHEN m = 0 THEN 'png' WHEN m = 1 THEN 'gif'
        |       WHEN m = 2 THEN 'jpeg' ELSE 'webp' END AS container,
        |  w AS width, h AS height,
        |  CAST(CASE WHEN m = 0 THEN 4 WHEN m = 1 THEN 1
        |            WHEN m = 2 THEN 3 ELSE 3 + alpha END AS INT) AS channels,
        |  CASE WHEN m = 0 THEN 'png' WHEN m = 1 THEN 'gif'
        |       WHEN m = 2 THEN 'jpeg' ELSE 'webp' END AS img_format
        |FROM blob""".stripMargin,
    "q38_dsv2_roundtrip" ->
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey IN (1, 7, 42, 4096)",
    "q39_meta_rowcount" ->
      "SELECT COUNT(*) AS total_rows FROM orders",
    "q36_window_running" ->
      """SELECT event_id, user_id,
        |  row_number() OVER w AS rn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        |  lag(value) OVER w AS prev_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)""".stripMargin,
    "q51_upsert_delete_read" ->
      """WITH versions AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 1000 AS wt
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |             l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |             l_linestatus DESC, l_shipdate DESC) AS rn
        |  FROM versions)
        |WHERE rn = 1 AND l_orderkey % 97 <> 0""".stripMargin,
    "q71_compact_clustered" ->
      """WITH versions AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 1000 AS wt
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |               l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |               l_linestatus DESC, l_shipdate DESC) AS rn
        |    FROM versions) WHERE rn = 1)
        |SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM latest GROUP BY l_orderkey""".stripMargin,
    "q70_row_deletes" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM (
        |  SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |    ORDER BY l_partkey DESC, l_suppkey DESC, l_quantity DESC, l_extendedprice DESC,
        |             l_discount DESC, l_tax DESC, l_returnflag DESC, l_linestatus DESC,
        |             l_shipdate DESC) AS rn
        |  FROM lineitem)
        |WHERE rn = 1 AND NOT (l_linenumber = 1 AND l_orderkey % 3 = 0)
        |  AND l_orderkey % 97 <> 0""".stripMargin,
    "q56_asof_join" ->
      """SELECT p.user_id, p.event_id,
        |  strftime(CAST(p.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS pts,
        |  c.event_id AS click_id
        |FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)""".stripMargin,
    "q57_interval_join" ->
      """SELECT c.user_id, c.click_id, e.error_id
        |FROM (SELECT user_id, event_id AS click_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, event_id AS error_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |      FROM events WHERE event_type = 'error') e
        |  ON c.user_id = e.user_id AND c.us BETWEEN e.us AND e.us + 3600000000""".stripMargin,
    "q52_last_modified" ->
      """SELECT l_orderkey, l_linenumber,
        |  strftime(MAX(l_shipdate) OVER (PARTITION BY l_orderkey), '%Y-%m-%d') AS last_modified
        |FROM lineitem""".stripMargin,
    "q42_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        |  COUNT(*) FILTER (o_orderstatus = 'F') AS F,
        |  COUNT(*) FILTER (o_orderstatus = 'O') AS O,
        |  COUNT(*) FILTER (o_orderstatus = 'P') AS P
        |FROM orders GROUP BY 1""".stripMargin,
    "q43_cube" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)""".stripMargin,
    "q44_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q45_explode" ->
      """SELECT p_partkey, unnest(string_split(p_type, ' ')) AS word FROM part""",
    "q46_string_agg" ->
      """SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names,
        |  COUNT(*) AS n_sup
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    "q47_conditional_agg" ->
      """SELECT l_linestatus,
        |  COUNT(*) FILTER (l_discount > 0.05) AS n_discounted,
        |  CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END
        |      AS DECIMAL(18,6))) AS DOUBLE) AS returned_value,
        |  COUNT(*) FILTER (l_quantity >= 25) AS n_bulk
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,
    "q48_regexp" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked,
        |  regexp_matches(p_name, 'red|blue') AS has_color
        |FROM part""".stripMargin,
    "q49_sql_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND o_totalprice > (SELECT AVG(o_totalprice) FROM orders)""".stripMargin,
    "q50_null_fns" ->
      """SELECT o_orderkey,
        |  COALESCE(c_mktsegment, 'NONE') AS seg,
        |  c_custkey IS NULL AS no_rich_cust,
        |  CASE WHEN c_acctbal > 7500 THEN c_acctbal END AS very_rich_bal,
        |  CASE WHEN c_custkey IS NOT NULL THEN 'rich' ELSE 'other' END AS richness
        |FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
        |  ON o_custkey = c_custkey""".stripMargin,
    "q40_window_hourly" ->
      """SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q41_sessionize" ->
      """SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  strftime(MIN(t), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(MAX(t), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT user_id, t, value,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                      ROWS UNBOUNDED PRECEDING) AS session_no
        |  FROM (
        |    SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS t,
        |      CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
        |        OR epoch_us(CAST(ts AS TIMESTAMP)) - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER (
        |               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)) > 1800000000
        |        THEN 1 ELSE 0 END AS is_new
        |    FROM events))
        |GROUP BY user_id, session_no""".stripMargin,
    "q59_array_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
        |  array_to_string(list_sort(list_distinct(list(CAST(year(o_orderdate) AS VARCHAR)))), '|') AS years
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q60_window_battery" ->
      """SELECT c_custkey, c_mktsegment,
        |  dense_rank() OVER w AS drnk,
        |  ntile(4) OVER w AS quartile,
        |  first_value(c_custkey) OVER w AS richest_cust,
        |  c_acctbal - max(c_acctbal) OVER (PARTITION BY c_mktsegment) AS gap_to_max
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,
    "q61_date_arith" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
        |  strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
        |  CAST((1998 - year(o_orderdate)) * 12 + (1 - month(o_orderdate)) AS BIGINT)
        |    AS months_to_98,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS woy
        |FROM orders""".stripMargin,
    "q62_string_fns" ->
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '_') AS brand_pad,
        |  translate(p_type, 'aeiou', 'AEIOU') AS type_vowels,
        |  repeat(p_brand, 2) AS brand2,
        |  string_split(p_type, ' ')[-1] AS last_word,
        |  reverse(p_brand) AS brand_rev
        |FROM part""".stripMargin,
    "q37_rollup" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  CAST(GROUPING(n_name) AS BIGINT) AS grp
        |FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name)""".stripMargin,
    "q29_ann_brute_topk" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |         row_number() OVER (PARTITION BY q.vec_id
        |           ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
        |) WHERE rank <= 10""".stripMargin,
    // twin construction: ranks 1..10 of each query are its 10 exact-copy
    // twins in ascending id order (cosine 1.0 >> any original)
    "q30_ann_lsh_topk" ->
      """SELECT q.vec_id AS query_id,
        |       q.vec_id + 100000 * t.j AS neighbor_id,
        |       t.j AS rank
        |FROM embeddings q, range(1, 11) t(j)
        |WHERE q.vec_id < 3""".stripMargin,
    "q92_ann_quantized" ->
      """SELECT q.vec_id AS query_id,
        |       q.vec_id + 100000 * t.j AS neighbor_id,
        |       t.j AS rank
        |FROM embeddings q, range(1, 11) t(j)
        |WHERE q.vec_id < 3""".stripMargin,
    // same twin closed form as q92: ten exact twins sweep ranks 1..10
    "q127_ann_pq" ->
      """SELECT q.vec_id AS query_id,
        |       q.vec_id + 100000 * t.j AS neighbor_id,
        |       t.j AS rank
        |FROM embeddings q, range(1, 11) t(j)
        |WHERE q.vec_id < 3""".stripMargin,
    "q53_ann_ivf_topk" ->
      """SELECT q.vec_id AS query_id,
        |       q.vec_id + 100000 * t.j AS neighbor_id,
        |       t.j AS rank
        |FROM embeddings q, range(1, 11) t(j)
        |WHERE q.vec_id < 3""".stripMargin,
    // complex-type round-trip oracles recompute the flat projections from
    // `part` directly (the typed table is derived 1:1 from part, TypedTable)
    "q63_typed_roundtrip" ->
      """SELECT p_partkey,
        |  CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tags,
        |  string_split(p_name, ' ')[1] AS first_tag,
        |  array_to_string(list_sort(list_distinct(list_concat(
        |    list_concat(string_split(p_name, ' '), string_split(p_name, ' ')),
        |    [p_type]))), ',') AS distinct_tags,
        |  CAST(p_size AS BIGINT) AS size_attr,
        |  p_brand AS brand,
        |  CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |  strftime(DATE '1992-01-01' + p_size, '%Y-%m-%d') AS d_iso,
        |  strftime(make_timestamp(p_partkey * 1000001 + 123456), '%Y-%m-%d %H:%M:%S.%f') AS ts_iso,
        |  CASE WHEN p_partkey % 7 = 0 THEN NULL ELSE p_brand END AS note
        |FROM part""".stripMargin,
    "q64_typed_map_explode" ->
      """SELECT p_partkey, 'size' AS k, CAST(p_size AS BIGINT) AS v FROM part
        |UNION ALL
        |SELECT p_partkey, 'retail_cents' AS k, CAST(floor(p_retailprice * 100) AS BIGINT) AS v
        |FROM part""".stripMargin,
    "q65_typed_nested_explode" ->
      """SELECT p_partkey, CAST(r AS INT) AS pos,
        |  string_split(p_name, ' ')[CAST(r AS INT) + 1] AS w,
        |  CAST(length(string_split(p_name, ' ')[CAST(r AS INT) + 1]) AS BIGINT) AS len
        |FROM part, range(0, 8) t(r)
        |WHERE r < len(string_split(p_name, ' '))""".stripMargin,
    // static semantics by construction: every row of a %5 partition gets the
    // partition's static note; %10 rows additionally took the newer (static-
    // less) totalprice update — static must survive that newer version
    "q66_static_columns" ->
      """SELECT o_custkey, o_orderkey,
        |  CASE WHEN o_custkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_custkey % 5 = 0 THEN 'S' || CAST(o_custkey AS VARCHAR) END AS cust_note
        |FROM orders""".stripMargin,
    "q101_random_ring" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey <= 8000""".stripMargin,
    "q103_meta_digests" ->
      "SELECT CAST(4 AS BIGINT) AS n_files, CAST(4 AS BIGINT) AS n_digested",
    "q106_video_meta" ->
      """SELECT doc_id, 'isom' AS vbrand,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 600
        |            WHEN doc_id % 3 = 1 THEN 1000 ELSE 90000 END AS BIGINT) AS vtimescale,
        |  CAST(n_chars * 100 AS BIGINT) AS vduration,
        |  CAST((n_chars * 100) * 1000 // (CASE WHEN doc_id % 3 = 0 THEN 600
        |       WHEN doc_id % 3 = 1 THEN 1000 ELSE 90000 END) AS BIGINT) AS vduration_ms,
        |  CAST(1 + doc_id % 1280 AS INT) AS vwidth,
        |  CAST(1 + doc_id % 720 AS INT) AS vheight
        |FROM documents""".stripMargin,
    "q105_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 2 + 1 AS INT) AS channels,
        |    CAST(CASE WHEN doc_id % 3 = 0 THEN 8000
        |              WHEN doc_id % 3 = 1 THEN 16000 ELSE 44100 END AS INT) AS sample_rate,
        |    octet_length(CAST(text AS BLOB)) AS ds
        |  FROM documents)
        |SELECT doc_id, channels, sample_rate, CAST(16 AS INT) AS bits,
        |  CAST(ds // (channels * 2) AS BIGINT) AS n_frames,
        |  CAST((ds // (channels * 2)) * 1000 // sample_rate AS BIGINT) AS duration_ms
        |FROM p""".stripMargin,
    "q102_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, 'START COMMON HEADER' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'PROMO LINE' ELSE 'FOOTER ' || source END) AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
        |freq AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY 1)
        |  WHERE c >= 50),
        |fset AS (SELECT coalesce(list(line), []) AS fl FROM freq)
        |SELECT doc_id,
        |  array_to_string(list_filter(string_split(t, chr(10)),
        |    x -> NOT list_contains(fl, x)), chr(10)) AS text_clean
        |FROM d, fset""".stripMargin,
    // closed-form: exact twins are dropped, reversed vectors survive
    "q123_incremental_vec_dedup" ->
      """SELECT vec_id + 2000000 AS vec_id, label FROM embeddings""",
    // same oracle as q102: the guard branch must be semantically invisible
    "q122_line_dedup_guarded" ->
      """WITH d AS (
        |  SELECT doc_id, 'START COMMON HEADER' || chr(10) || text || chr(10) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN 'PROMO LINE' ELSE 'FOOTER ' || source END) AS t
        |  FROM documents),
        |lines AS (
        |  SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM d),
        |freq AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS c FROM lines GROUP BY 1)
        |  WHERE c >= 50),
        |fset AS (SELECT coalesce(list(line), []) AS fl FROM freq)
        |SELECT doc_id,
        |  array_to_string(list_filter(string_split(t, chr(10)),
        |    x -> NOT list_contains(fl, x)), chr(10)) AS text_clean
        |FROM d, fset""".stripMargin,
    "q107_range_tombstones" ->
      """SELECT o_custkey, o_orderkey,
        |  CASE WHEN o_custkey % 10 = 0 AND o_orderkey BETWEEN 5000 AND 8000
        |       THEN o_totalprice + 5000 ELSE o_totalprice END AS totalprice
        |FROM orders
        |WHERE NOT (o_custkey % 10 = 0 AND o_orderkey > 8000 AND o_orderkey <= 12000)""".stripMargin,
    // uuid comparison replayed in closed form: DuckDB's native UUID type
    // orders unsigned/bytewise, so the oracle rebuilds Java's SIGNED
    // msb/lsb from the hex halves (32-bit parses keep BIGINT exact)
    "q100_exotic_types" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    md5('u' || CAST(o_orderkey AS VARCHAR)) AS hu,
        |    md5('t' || CAST(o_orderkey AS VARCHAR)) AS ht
        |  FROM orders WHERE o_orderkey <= 4000),
        |cnv AS (
        |  SELECT o_orderkey, hu, ht,
        |    (CASE WHEN CAST('0x' || substr(hu,1,8) AS BIGINT) >= 2147483648
        |          THEN CAST('0x' || substr(hu,1,8) AS BIGINT) - 4294967296
        |          ELSE CAST('0x' || substr(hu,1,8) AS BIGINT) END) * 4294967296
        |      + CAST('0x' || substr(hu,9,8) AS BIGINT) AS u_msb,
        |    (CASE WHEN CAST('0x' || substr(hu,17,8) AS BIGINT) >= 2147483648
        |          THEN CAST('0x' || substr(hu,17,8) AS BIGINT) - 4294967296
        |          ELSE CAST('0x' || substr(hu,17,8) AS BIGINT) END) * 4294967296
        |      + CAST('0x' || substr(hu,25,8) AS BIGINT) AS u_lsb,
        |    (CASE WHEN CAST('0x' || substr(ht,1,8) AS BIGINT) >= 2147483648
        |          THEN CAST('0x' || substr(ht,1,8) AS BIGINT) - 4294967296
        |          ELSE CAST('0x' || substr(ht,1,8) AS BIGINT) END) * 4294967296
        |      + CAST('0x' || substr(ht,9,8) AS BIGINT) AS tu_msb,
        |    (CASE WHEN CAST('0x' || substr(ht,17,8) AS BIGINT) >= 2147483648
        |          THEN CAST('0x' || substr(ht,17,8) AS BIGINT) - 4294967296
        |          ELSE CAST('0x' || substr(ht,17,8) AS BIGINT) END) * 4294967296
        |      + CAST('0x' || substr(ht,25,8) AS BIGINT) AS tu_lsb
        |  FROM base)
        |SELECT o_orderkey,
        |  substr(hu,1,8)||'-'||substr(hu,9,4)||'-'||substr(hu,13,4)||'-'||
        |    substr(hu,17,4)||'-'||substr(hu,21,12) AS u,
        |  substr(ht,1,8)||'-'||substr(ht,9,4)||'-'||substr(ht,13,4)||'-'||
        |    substr(ht,17,4)||'-'||substr(ht,21,12) AS tu,
        |  upper(lpad(to_hex(167772160 + o_orderkey % 16581375),8,'0')) AS inet_hex,
        |  CAST(CAST(CAST(o_orderkey AS VARCHAR) || '00000000000000000000123'
        |            AS DECIMAL(38,0)) AS VARCHAR) AS varint,
        |  u_msb, u_lsb,
        |  CAST(row_number() OVER (ORDER BY u_msb, u_lsb) AS BIGINT) AS rank_u,
        |  CAST(row_number() OVER (ORDER BY tu_msb, tu_lsb) AS BIGINT) AS rank_tu
        |FROM cnv""".stripMargin,
    "q67_quoted_nulls" ->
      """SELECT o_custkey AS "user id", o_orderkey AS "Order.Key",
        |  o_totalprice AS "select", CAST(NULL AS VARCHAR) AS "all null",
        |  o_orderstatus AS "Mixed-Case"
        |FROM orders WHERE o_custkey <= 100""".stripMargin,
    "q72_embed_dedup_drop" ->
      "SELECT vec_id FROM embeddings",
    "q73_higher_order" ->
      """SELECT p_partkey,
        |  replace(upper(p_name), ' ', ',') AS upper_tags,
        |  CAST(len(list_filter(string_split(p_name, ' '), x -> len(x) > 4)) AS BIGINT) AS n_long,
        |  CAST(p_size AS BIGINT) * (p_size + 1) // 2 AS tri,
        |  array_to_string(list_transform(string_split(p_name, ' '), x -> x || '-' || x), ',') AS zipped
        |FROM part""".stripMargin,
    "q76_frame_sample" ->
      """SELECT doc_id, CAST(r AS INT) AS frame_idx
        |FROM (
        |  SELECT doc_id,
        |    least(greatest(CAST(octet_length(CAST(repeat(text, 50) AS BLOB)) // 1024 AS INT), 1),
        |          10000) AS nf
        |  FROM documents), range(0, 32, 4) t(r)
        |WHERE r < nf""".stripMargin,
    "q75_colocated_join" ->
      """SELECT o_orderkey, o_totalprice, n_lines, sum_qty
        |FROM orders JOIN (
        |  SELECT l_orderkey, COUNT(*) AS n_lines,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |) ON o_orderkey = l_orderkey""".stripMargin,
    "q74_grouping_sets" ->
      """SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
        |  CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority), ())""".stripMargin,
    "q68_clustered_agg" ->
      """SELECT l_orderkey, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  MAX(l_linenumber) AS max_line
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "q77_salted_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q78_stream_enrich" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type""".stripMargin,
    "q80_dir_partitioned" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY event_type""".stripMargin,
    // thresholds are Sampling.thresholdHex values: 0.8 -> cccccccc,
    // 0.9 -> e6666666, 0.5 -> 80000000, 0.25 -> 40000000, 0.1 -> 19999999
    "q81_hash_split" ->
      """SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars FROM (
        |  SELECT CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < 'cccccccc' THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'val'
        |    ELSE 'test' END AS split, n_chars
        |  FROM documents)
        |GROUP BY split""".stripMargin,
    "q93_cap_per_group" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)),1,8) ASC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 10 GROUP BY source""".stripMargin,
    "q82_mix_sources" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)),1,8) < CASE source
        |  WHEN 'src0' THEN 'g'
        |  WHEN 'src1' THEN '80000000'
        |  WHEN 'src2' THEN '40000000'
        |  WHEN 'src3' THEN '19999999'
        |  ELSE '00000000' END
        |GROUP BY source""".stripMargin,
    // the pipeline oracle replays every stage from the per-operator oracle
    // fragments (language/quality SQL generated from the same marker lists
    // as the Spark expressions; thresholds from Sampling.thresholdHex:
    // 0.9 -> e6666666, 0.95 -> f3333333)
    "q89_stats_pushdown" ->
      """SELECT COUNT(*) AS n, MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
        |  MAX(l_suppkey) AS max_sk FROM lineitem""".stripMargin,
    "q91_dir_upsert" ->
      """WITH versions AS (
        |  SELECT event_id, event_type, value, 1000 AS wt FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, value + 1000.0, 2000 AS wt
        |  FROM events WHERE event_id % 10 = 0)
        |SELECT event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |    ORDER BY wt DESC, event_type DESC, value DESC) AS rn
        |  FROM versions)
        |WHERE rn = 1 AND event_type = 'click'""".stripMargin,
    "q90_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(w) >= 3
        |        THEN list_transform(range(1, len(w)-1), i -> array_to_string(w[i:i+2], ' '))
        |        ELSE [] END AS grams FROM t)
        |SELECT doc_id, CASE WHEN len(grams) > 0
        |  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
        |  ELSE 0.0 END AS rep_ratio
        |FROM g""".stripMargin,
    "q88_temporal_pk" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od,
        |  o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_orderdate IN (TIMESTAMP '1995-06-19 00:00:00',
        |  TIMESTAMP '2000-02-03 00:00:00', TIMESTAMP '2001-04-25 00:00:00')""".stripMargin,
    "q87_curation_pipeline" ->
      s"""WITH lang AS ($langIdSql),
        |qual AS ($qualitySql),
        |flt AS (SELECT d.doc_id, d.n_chars, d.text FROM documents d
        |        JOIN lang USING (doc_id) JOIN qual USING (doc_id)
        |        WHERE lang.lang_pred = 'en' AND qual.quality_score >= 0.75),
        |ded AS (SELECT min(doc_id) AS doc_id, arg_min(n_chars, doc_id) AS n_chars
        |        FROM (SELECT doc_id, n_chars,
        |                md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
        |              FROM flt)
        |        GROUP BY fp),
        |sp AS (SELECT CASE
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < 'e6666666' THEN 'train'
        |    WHEN substring(md5(CAST(doc_id AS VARCHAR)),1,8) < 'f3333333' THEN 'val'
        |    ELSE 'test' END AS split, n_chars FROM ded)
        |SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM sp GROUP BY split""".stripMargin,
    "q86_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |    substring(md5(array_to_string(
        |      w[CAST(i AS BIGINT):CAST(i AS BIGINT)+7], ' ')),1,16) AS gram
        |  FROM t, UNNEST(range(1, len(w)-6)) AS u(i) WHERE len(w) >= 8)
        |SELECT DISTINCT c.doc_id FROM g c
        |JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0) p USING (gram)
        |WHERE c.doc_id % 97 <> 0""".stripMargin,
    "q85_sql_table" ->
      """SELECT COUNT(*) + 2 AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) + 300.00 AS DOUBLE) AS total
        |FROM orders""".stripMargin,
    "q84_deep_nested" ->
      """SELECT p_partkey, p_type AS leaf, CAST(p_size AS BIGINT) AS n,
        |  array_to_string(string_split(p_type, ' '), ',') AS codes,
        |  p_partkey % 10 AS sib, p_brand AS top
        |FROM part""".stripMargin,
    "q83_pack_bins" ->
      """WITH b AS (
        |  SELECT doc_id % 8 AS shard, n_chars,
        |    CAST(floor(COALESCE(SUM(n_chars) OVER (PARTITION BY doc_id % 8
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) / 16384) AS BIGINT) AS bin
        |  FROM documents)
        |SELECT shard, bin, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS fill,
        |  MAX(n_chars) AS largest
        |FROM b GROUP BY shard, bin""".stripMargin,
    "q79_stream_correlate" ->
      """SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 3600 SECOND
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'""".stripMargin,
    "q94_pii_redact" -> piiOracleSql,
    "q104_curation_v2" -> curationV2Sql,
    "q95_vocab_topk" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE length(word) > 0
        |GROUP BY word ORDER BY n DESC, word ASC LIMIT 20""".stripMargin,
    "q96_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0),
        |perdoc AS (SELECT doc_id, word, COUNT(*) AS tf_count FROM t GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY 1),
        |dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |scored AS (
        |  SELECT p.doc_id, p.word, p.tf_count, f.df,
        |    CAST(p.tf_count AS DOUBLE) / CAST(l.n_tok AS DOUBLE) AS tf,
        |    ln(CAST(n.nn AS DOUBLE) / CAST(f.df AS DOUBLE)) AS idf
        |  FROM perdoc p JOIN dlen l USING (doc_id) JOIN dfreq f USING (word)
        |  CROSS JOIN n),
        |rk AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tf * idf DESC, word ASC) AS rn
        |  FROM scored)
        |SELECT doc_id, word, tf_count, df, tf
        |FROM rk WHERE doc_id < 20 AND rn = 1""".stripMargin,
    "q97_chunking" ->
      """SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_ix,
        |  substring(text, CAST(s AS INT), 64) AS chunk_text,
        |  length(substring(text, CAST(s AS INT), 64)) AS chunk_len
        |FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, greatest(length(text) - 16, 1), 48)) AS s
        |      FROM documents WHERE doc_id < 10 AND length(text) > 0)""".stripMargin,
    "q98_shuffle_order" ->
      """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS dig FROM documents),
        |s AS (SELECT doc_id, dig,
        |  (CASE WHEN ascii(substring(dig, 1, 1)) >= 97
        |        THEN ascii(substring(dig, 1, 1)) - 87
        |        ELSE ascii(substring(dig, 1, 1)) - 48 END) * 16 +
        |  (CASE WHEN ascii(substring(dig, 2, 1)) >= 97
        |        THEN ascii(substring(dig, 2, 1)) - 87
        |        ELSE ascii(substring(dig, 2, 1)) - 48 END) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY dig ASC, doc_id ASC) AS pos
        |FROM s""".stripMargin,
    "q99_fuzzy_join" ->
      """WITH u AS (
        |  SELECT doc_id * 2 AS id, substring(text, 1, 32) AS name FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS id, substring(text, 1, 31) AS name FROM documents)
        |SELECT a.id AS a_id, a.name AS a_name, b.id AS b_id, b.name AS b_name,
        |  levenshtein(a.name, b.name) AS dist
        |FROM u a JOIN u b
        |  ON substring(a.name, 1, 8) = substring(b.name, 1, 8)
        | AND a.id < b.id
        | AND abs(length(a.name) - length(b.name)) <= 1
        |WHERE levenshtein(a.name, b.name) <= 1""".stripMargin,
    // restore(1) makes the latest snapshot = the original corpus
    "q153_snapshot_restore" ->
      "SELECT doc_id, text, source, n_chars FROM documents",
    // union schema: batch-1 rows null-fill the later column
    "q154_schema_evolution" ->
      """SELECT doc_id, text, source, CAST(NULL AS BIGINT) AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, text, source, n_chars
        |FROM documents""".stripMargin,
    // the exact JL doubles: same md5-parity signs, same 0.0-seeded
    // left-to-right sum, same /sqrt(16) — bit-identical by IEEE
    "q155_random_projection" -> randomProjectionOracle,
    // layout/format is invisible to results: identity
    "q156_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // the lineage is fully determined by the construction
    "q182_history" ->
      """SELECT CAST(version AS BIGINT) AS version,
        |       CAST(parent AS BIGINT) AS parent,
        |       CAST(n_files AS INTEGER) AS n_files, rewrite, layout_only
        |FROM (VALUES
        |  (1, NULL, 2, FALSE, FALSE),
        |  (2, 1, 4, FALSE, FALSE),
        |  (3, 2, 1, TRUE, TRUE),
        |  (4, 3, 3, FALSE, FALSE))
        |  AS t(version, parent, n_files, rewrite, layout_only)""".stripMargin,
    // survivors are the first doc of each canonical key (doc_id < 100),
    // and the canonical form is stated closed-form
    "q181_url_dedup" ->
      """SELECT doc_id,
        |  'https://site' || CAST(doc_id % 100 AS VARCHAR) || '.com/p/'
        |    || CAST(doc_id % 100 AS VARCHAR) AS url_norm
        |FROM documents WHERE doc_id < 100""".stripMargin,
    // both PageRank iterations retrained in SQL on the same integer grid
    "q180_pagerank" ->
      """WITH e AS (SELECT doc_id % 50 AS src, (doc_id * 7 + 3) % 50 AS dst
        |           FROM documents),
        |verts AS (SELECT DISTINCT v FROM (
        |    SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
        |nn AS (SELECT COUNT(*) AS n FROM verts),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |p0 AS (SELECT v, 1000000000000 // n AS pr FROM verts, nn),
        |s1 AS (SELECT e.dst,
        |         CAST(floor(CAST(p.pr AS DOUBLE) / d.d) AS BIGINT) AS share
        |       FROM e JOIN p0 p ON e.src = p.v JOIN deg d ON e.src = d.src),
        |in1 AS (SELECT dst, CAST(SUM(share) AS BIGINT) AS i FROM s1 GROUP BY dst),
        |p1 AS (SELECT v,
        |         (SELECT 1000000000000 * 15 // (100 * n) FROM nn)
        |           + CAST(floor((85 * COALESCE(i, 0)) / 100) AS BIGINT) AS pr
        |       FROM verts LEFT JOIN in1 ON verts.v = in1.dst),
        |s2 AS (SELECT e.dst,
        |         CAST(floor(CAST(p.pr AS DOUBLE) / d.d) AS BIGINT) AS share
        |       FROM e JOIN p1 p ON e.src = p.v JOIN deg d ON e.src = d.src),
        |in2 AS (SELECT dst, CAST(SUM(share) AS BIGINT) AS i FROM s2 GROUP BY dst),
        |p2 AS (SELECT v,
        |         (SELECT 1000000000000 * 15 // (100 * n) FROM nn)
        |           + CAST(floor((85 * COALESCE(i, 0)) / 100) AS BIGINT) AS pr
        |       FROM verts LEFT JOIN in2 ON verts.v = in2.dst)
        |SELECT v AS vertex, CAST(pr AS BIGINT) AS pr,
        |       row_number() OVER (ORDER BY pr DESC, v ASC) AS rank
        |FROM p2""".stripMargin,
    // the overwrite replaces everything with its own query's rows
    "q179_insert_overwrite" ->
      """SELECT doc_id, source, n_chars + 1000 AS n_chars
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin,
    // bounded drain reorders nothing: identity
    "q178_stream_backfill" ->
      "SELECT doc_id, source, n_chars FROM documents",
    // the tagged version IS the original corpus: identity
    "q177_snapshot_tag" ->
      "SELECT doc_id, source, n_chars FROM documents",
    // pre-alter rows have no stored value for the added column
    "q176_sql_add_column" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin,
    // q170's retrained assignment + the q114 md5-rank cap per cluster
    "q175_cluster_balanced" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS dim,
        |         CAST(floor(CAST(embedding[CAST(g.i AS INTEGER)] AS DOUBLE)
        |           * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS g(i)),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |c0 AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl,
        |              dim, q
        |       FROM v WHERE vec_id IN (SELECT vec_id FROM seeds)),
        |d1 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c0 c USING (dim) GROUP BY v.vec_id, c.cl),
        |a1 AS (SELECT vec_id, cl FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d1)
        |  WHERE rn = 1),
        |m1 AS (SELECT a.cl, v.dim,
        |         CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
        |       FROM a1 a JOIN v USING (vec_id) GROUP BY a.cl, v.dim),
        |c1 AS (SELECT c0.cl, c0.dim, COALESCE(m1.q, c0.q) AS q
        |       FROM c0 LEFT JOIN m1 ON c0.cl = m1.cl AND c0.dim = m1.dim),
        |d2 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c1 c USING (dim) GROUP BY v.vec_id, c.cl),
        |m2 AS (SELECT a.cl, v.dim,
        |         CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
        |       FROM (SELECT vec_id, cl FROM (
        |           SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d2)
        |         WHERE rn = 1) a
        |       JOIN v USING (vec_id) GROUP BY a.cl, v.dim),
        |c2 AS (SELECT c1.cl, c1.dim, COALESCE(m2.q, c1.q) AS q
        |       FROM c1 LEFT JOIN m2 ON c1.cl = m2.cl AND c1.dim = m2.dim),
        |d3 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c2 c USING (dim) GROUP BY v.vec_id, c.cl),
        |asg AS (SELECT vec_id, CAST(cl AS INTEGER) AS cluster FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d3)
        |  WHERE rn = 1)
        |SELECT vec_id, cluster FROM (
        |  SELECT vec_id, cluster, row_number() OVER (PARTITION BY cluster
        |    ORDER BY substring(md5(CAST(vec_id AS VARCHAR)), 1, 8) ASC,
        |             vec_id ASC) AS rn
        |  FROM asg) WHERE rn <= 50""".stripMargin,
    // every row's stored token matches its recomputed token: identity
    "q174_metadata_token" ->
      "SELECT doc_id, source, n_chars FROM documents",
    // the same decoration normalized with DuckDB's unicode primitives;
    // BEL is stripped by codepoint (RE2 lacks Java's class intersection)
    "q173_unicode_normalize" ->
      """WITH raw AS (SELECT doc_id,
        |  'Cafe' || chr(769) || ' ' || chr(8220) || 'nai' || chr(776) || 've'
        |    || chr(8221) || chr(160) || chr(8212) || chr(7) || ' ' || text AS raw
        |  FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(nfc_normalize(raw),
        |              '[\x{00A0}\x{1680}\x{2000}-\x{200B}\x{202F}\x{205F}\x{3000}]',
        |              ' ', 'g'),
        |            '[\x{2018}\x{2019}\x{201A}\x{201B}]', '''', 'g'),
        |          '[\x{201C}\x{201D}\x{201E}\x{201F}]', '"', 'g'),
        |        '[\x{2012}\x{2013}\x{2014}\x{2015}\x{2212}]', '-', 'g'),
        |      '[\x{0007}]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS norm
        |  FROM raw)
        |SELECT doc_id, norm, strip_accents(norm) AS folded FROM n""".stripMargin,
    // layout maintenance is invisible to results: identity
    "q172_optimize_small_files" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents",
    // RFC 9309 outcomes stated closed-form over the five path shapes:
    // named group blocks only /private (with /private/pub re-allowed);
    // the star group blocks *.json$ and /tmp
    "q171_robots" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN FALSE ELSE TRUE END AS allowed_named,
        |  CASE WHEN doc_id % 5 IN (2, 3) THEN FALSE ELSE TRUE END AS allowed_star
        |FROM documents""".stripMargin,
    // the full 2-iteration Lloyd loop retrained in SQL on the same grid
    "q170_kmeans" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(g.i - 1 AS INTEGER) AS dim,
        |         CAST(floor(CAST(embedding[CAST(g.i AS INTEGER)] AS DOUBLE)
        |           * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS g(i)),
        |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
        |c0 AS (SELECT CAST(dense_rank() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl,
        |              dim, q
        |       FROM v WHERE vec_id IN (SELECT vec_id FROM seeds)),
        |d1 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c0 c USING (dim) GROUP BY v.vec_id, c.cl),
        |a1 AS (SELECT vec_id, cl FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d1)
        |  WHERE rn = 1),
        |m1 AS (SELECT a.cl, v.dim,
        |         CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
        |       FROM a1 a JOIN v USING (vec_id) GROUP BY a.cl, v.dim),
        |c1 AS (SELECT c0.cl, c0.dim, COALESCE(m1.q, c0.q) AS q
        |       FROM c0 LEFT JOIN m1 ON c0.cl = m1.cl AND c0.dim = m1.dim),
        |d2 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c1 c USING (dim) GROUP BY v.vec_id, c.cl),
        |m2 AS (SELECT a.cl, v.dim,
        |         CAST(floor(CAST(SUM(v.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS q
        |       FROM (SELECT vec_id, cl FROM (
        |           SELECT *, row_number() OVER (
        |             PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d2)
        |         WHERE rn = 1) a
        |       JOIN v USING (vec_id) GROUP BY a.cl, v.dim),
        |c2 AS (SELECT c1.cl, c1.dim, COALESCE(m2.q, c1.q) AS q
        |       FROM c1 LEFT JOIN m2 ON c1.cl = m2.cl AND c1.dim = m2.dim),
        |d3 AS (SELECT v.vec_id, c.cl, SUM((v.q - c.q) * (v.q - c.q)) AS dist
        |       FROM v JOIN c2 c USING (dim) GROUP BY v.vec_id, c.cl)
        |SELECT vec_id, CAST(cl AS INTEGER) AS cluster,
        |       CAST(dist AS BIGINT) AS dist FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY vec_id ORDER BY dist ASC, cl ASC) AS rn FROM d3)
        |WHERE rn = 1""".stripMargin,
    // both retrieval legs replayed (q142 BM25 SQL at depth 20; q29 cosine
    // ranking), then the closed-form rrf fold and per-query cut
    "q169_hybrid_rrf" ->
      """WITH corpus AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |q AS (SELECT doc_id AS query_id, text AS qtext, embedding AS qemb
        |      FROM corpus WHERE doc_id < 4),
        |t AS (SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM corpus)
        |  WHERE length(word) > 0),
        |perdoc AS (SELECT doc_id, word, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM perdoc GROUP BY 1),
        |dfreq AS (SELECT word, COUNT(*) AS df FROM perdoc GROUP BY 1),
        |stats AS (SELECT (SELECT COUNT(*) FROM corpus) AS n,
        |                 (SELECT AVG(CAST(dl AS DOUBLE)) FROM dlen) AS avgdl),
        |qt AS (SELECT DISTINCT query_id, word FROM (
        |    SELECT query_id, unnest(string_split(qtext, ' ')) AS word FROM q)
        |  WHERE length(word) > 0),
        |contrib AS (
        |  SELECT qt.query_id, p.doc_id,
        |    CAST(ln(1 + (CAST(s.n AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
        |               / (CAST(f.df AS DOUBLE) + 0.5))
        |      * (CAST(p.tf AS DOUBLE) * 2.2)
        |      / (CAST(p.tf AS DOUBLE)
        |         + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl))
        |      AS DECIMAL(22,7)) AS c
        |  FROM perdoc p
        |  JOIN qt USING (word) JOIN dfreq f USING (word)
        |  JOIN dlen l USING (doc_id) CROSS JOIN stats s),
        |sc AS (SELECT query_id, doc_id, CAST(SUM(c) AS DOUBLE) AS score
        |       FROM contrib GROUP BY 1, 2),
        |sparse AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
        |    FROM sc) WHERE rank <= 20),
        |dense AS (SELECT query_id, doc_id, rank FROM (
        |    SELECT q.query_id, c.doc_id, row_number() OVER (
        |      PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.qemb, c.embedding) DESC,
        |               c.doc_id ASC) AS rank
        |    FROM q, corpus c) WHERE rank <= 20),
        |fused AS (
        |  SELECT COALESCE(s.query_id, de.query_id) AS query_id,
        |         COALESCE(s.doc_id, de.doc_id) AS doc_id,
        |         COALESCE(1.0 / (60.0 + CAST(s.rank AS DOUBLE)), 0.0)
        |           + COALESCE(1.0 / (60.0 + CAST(de.rank AS DOUBLE)), 0.0)
        |           AS rrf_score
        |  FROM sparse s FULL OUTER JOIN dense de
        |    ON s.query_id = de.query_id AND s.doc_id = de.doc_id)
        |SELECT query_id, doc_id, rank, rrf_score FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS rank
        |  FROM fused) WHERE rank <= 10""".stripMargin,
    // the shifted-id union's top 20 by id — layout/pruning invisible
    "q168_topk_pushdown" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id + (CAST(doc_id % 3 AS BIGINT) * 1000000) AS doc_id,
        |         source, n_chars
        |  FROM documents)
        |ORDER BY doc_id DESC LIMIT 20""".stripMargin,
    // the post-UPDATE state, closed-form over the source rows
    "q166_sql_update" ->
      """SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin,
    // both conserving iterations replayed: the dangling aggregate (verts
    // 40..49 never appear as src) feeds a per-step uniform term on the
    // same integer grid as the base term
    "q183_pagerank_dangling" ->
      """WITH e AS (SELECT doc_id % 40 AS src, (doc_id * 3 + 1) % 50 AS dst
        |           FROM documents),
        |verts AS (SELECT DISTINCT v FROM (
        |    SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)),
        |nn AS (SELECT COUNT(*) AS n FROM verts),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |srcs AS (SELECT DISTINCT src FROM e),
        |p0 AS (SELECT v, 1000000000000 // n AS pr FROM verts, nn),
        |dm1 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM p0
        |        WHERE v NOT IN (SELECT src FROM srcs)),
        |s1 AS (SELECT e.dst,
        |         CAST(floor(CAST(p.pr AS DOUBLE) / d.d) AS BIGINT) AS share
        |       FROM e JOIN p0 p ON e.src = p.v JOIN deg d ON e.src = d.src),
        |in1 AS (SELECT dst, CAST(SUM(share) AS BIGINT) AS i FROM s1 GROUP BY dst),
        |p1 AS (SELECT v,
        |         (SELECT 1000000000000 * 15 // (100 * n) FROM nn)
        |           + (SELECT (85 * dm) // (100 * n) FROM dm1, nn)
        |           + CAST(floor((85 * COALESCE(i, 0)) / 100) AS BIGINT) AS pr
        |       FROM verts LEFT JOIN in1 ON verts.v = in1.dst),
        |dm2 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM p1
        |        WHERE v NOT IN (SELECT src FROM srcs)),
        |s2 AS (SELECT e.dst,
        |         CAST(floor(CAST(p.pr AS DOUBLE) / d.d) AS BIGINT) AS share
        |       FROM e JOIN p1 p ON e.src = p.v JOIN deg d ON e.src = d.src),
        |in2 AS (SELECT dst, CAST(SUM(share) AS BIGINT) AS i FROM s2 GROUP BY dst),
        |p2 AS (SELECT v,
        |         (SELECT 1000000000000 * 15 // (100 * n) FROM nn)
        |           + (SELECT (85 * dm) // (100 * n) FROM dm2, nn)
        |           + CAST(floor((85 * COALESCE(i, 0)) / 100) AS BIGINT) AS pr
        |       FROM verts LEFT JOIN in2 ON verts.v = in2.dst)
        |SELECT v AS vertex, CAST(pr AS BIGINT) AS pr,
        |       row_number() OVER (ORDER BY pr DESC, v ASC) AS rank
        |FROM p2""".stripMargin,
    // the detail row closed-form: v1 insert + v2 delete-as-DV; 4 token
    // ring partitions → 4 files; rows/deletes from the predicate
    "q188_table_detail" ->
      """SELECT CAST(2 AS BIGINT) AS version, CAST(4 AS INTEGER) AS n_files,
        |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 6 <> 1) AS BIGINT)
        |    AS n_rows,
        |  TRUE AS has_dvs,
        |  CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 6 = 1) AS BIGINT)
        |    AS deleted_rows""".stripMargin,
    // every row-level event closed-form: v1 inserts everything, v2's
    // UPDATE predicate yields a delete(preimage)+insert(postimage) pair,
    // v3's DELETE preimage carries the v2 update where both predicates hit
    "q189_change_data_feed" ->
      """SELECT doc_id, source, n_chars,
        |  'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'delete', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars + 100000, 'insert', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END,
        |  'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 5""".stripMargin,
    // the fork's algebra on the dir-partitioned clone — the source's
    // post-clone update absent, the partition-predicate update applied
    "q213_partitioned_clone" ->
      """SELECT doc_id, source,
        |  CASE WHEN source = 'src1' THEN n_chars + 7000 ELSE n_chars END
        |    AS n_chars
        |FROM documents WHERE doc_id % 13 <> 4""".stripMargin,
    // the deep fork's own algebra, indifferent to the source's vacuum
    "q214_deep_clone" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 11 ELSE n_chars END
        |    AS n_chars
        |FROM documents""".stripMargin,
    // the planted pattern P is the aHash closed-form; near-dup ground
    // truth is the exact O(n²) Hamming self-join over the same P values
    "q210_image_neardup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id // 7) % 5 = 0
        |      THEN xor((doc_id % 64) * 72340172838076673,
        |                1::BIGINT << CAST(doc_id % 63 AS INTEGER))
        |      ELSE (doc_id % 64) * 72340172838076673 END AS ahash
        |  FROM documents)
        |SELECT a.doc_id, 8 AS img_w, 8 AS img_h, a.ahash,
        |  CASE WHEN EXISTS (SELECT 1 FROM h b WHERE b.doc_id < a.doc_id
        |    AND bit_count(xor(a.ahash, b.ahash)) <= 3) THEN 1 ELSE 0 END AS is_dup
        |FROM h a""".stripMargin,
    // pure bit algebra: gradient-sign of the planted row patterns
    "q211_image_dhash" ->
      """WITH h AS (
        |  SELECT doc_id, (doc_id % 64) * 72340172838076673 AS p
        |  FROM documents)
        |SELECT doc_id,
        |  ((p & ~(p << 1) & ~72340172838076673) | (p & 72340172838076673)) AS dhash
        |FROM h""".stripMargin,
    // bipartite ground truth: an odd doc survives iff NO even doc's
    // pattern lands within Hamming 3 (M5 = bits {1,10,19,28,37})
    "q217_image_corpus_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 2 = 0 THEN ((doc_id // 2) % 64) * 72340172838076673
        |      WHEN doc_id % 3 = 0 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            1::BIGINT << CAST(doc_id % 63 AS INTEGER))
        |      WHEN doc_id % 3 = 1 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            2 + 1024 + 524288 + 268435456 + 137438953472)
        |      ELSE ((doc_id // 2) % 64) * 72340172838076673 END AS ahash
        |  FROM documents)
        |SELECT a.doc_id FROM h a
        |WHERE a.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM h b WHERE b.doc_id % 2 = 0
        |  AND bit_count(xor(a.ahash, b.ahash)) <= 3)""".stripMargin,
    // the envelope hash IS the planted pattern, length/amplitude washed
    // out by the relative threshold; dup ground truth as in q210
    "q218_audio_neardup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN (doc_id // 7) % 5 = 0
        |      THEN xor((doc_id % 64) * 72340172838076673,
        |                1::BIGINT << CAST(doc_id % 63 AS INTEGER))
        |      ELSE (doc_id % 64) * 72340172838076673 END AS ahash
        |  FROM documents)
        |SELECT a.doc_id, a.ahash,
        |  CASE WHEN EXISTS (SELECT 1 FROM h b WHERE b.doc_id < a.doc_id
        |    AND bit_count(xor(a.ahash, b.ahash)) <= 3) THEN 1 ELSE 0 END AS is_dup
        |FROM h a""".stripMargin,
    // the stsz-planned fan-out: stride-5 indexes under the closed-form
    // frame count, capped at 12; WAV docs (doc_id % 3 = 2) contribute none
    "q216_mp4_frames" ->
      """SELECT d.doc_id, CAST(t.r AS BIGINT) AS frame_idx,
        |  (d.doc_id % 50 + 1) * 1000 AS vdur_ms,
        |  CAST(d.doc_id % 640 + 1 AS INTEGER) AS vw
        |FROM documents d, range(0, 60, 5) t(r)
        |WHERE d.doc_id % 3 <> 2 AND t.r < d.doc_id % 97 + 1
        |  AND t.r < 60""".stripMargin,
    // the corner layouts all decode to the same planted pixels
    "q222_png_corners" ->
      """SELECT doc_id, (doc_id % 64) * 72340172838076673 AS ahash
        |FROM documents""".stripMargin,
    // bipartite ground truth identical to q217's: the envelope hash IS
    // the planted pattern (length/amplitude wash out), so an odd doc
    // survives iff no even doc's pattern lands within Hamming 3
    "q221_audio_corpus_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 2 = 0 THEN ((doc_id // 2) % 64) * 72340172838076673
        |      WHEN doc_id % 3 = 0 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            1::BIGINT << CAST(doc_id % 63 AS INTEGER))
        |      WHEN doc_id % 3 = 1 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            2 + 1024 + 524288 + 268435456 + 137438953472)
        |      ELSE ((doc_id // 2) % 64) * 72340172838076673 END AS ahash
        |  FROM documents)
        |SELECT a.doc_id FROM h a
        |WHERE a.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM h b WHERE b.doc_id % 2 = 0
        |  AND bit_count(xor(a.ahash, b.ahash)) <= 3)""".stripMargin,
    // boundary -> sample -> byte offset, replayed in pure integer
    // arithmetic: idx = which stts run the 4ms boundary lands in, start =
    // that sample's own time, byte_off = chunk offset + within-chunk size
    // prefix (const s for even docs, F(x)=15*(x//5)+partial(x%5) for the
    // odd docs' j%5+1 stz2 sizes); first 8 distinct samples per doc
    "q220_mp4_timeplan" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    doc_id % 5 + 2 AS c1, doc_id % 7 + 2 AS d1,
        |    doc_id % 4 + 1 AS c2, doc_id % 9 + 1 AS d2,
        |    doc_id % 11 + 1 AS s
        |  FROM documents WHERE doc_id % 10 <> 7),
        |b AS (
        |  SELECT p.*, t.k * 4 AS t
        |  FROM p, range(0, 100) t(k)
        |  WHERE t.k * 4 < c1 * d1 + c2 * d2),
        |m AS (
        |  SELECT DISTINCT doc_id, c1, d1, c2, d2, s,
        |    CASE WHEN t < c1 * d1 THEN t // d1
        |         ELSE c1 + (t - c1 * d1) // d2 END AS idx
        |  FROM b),
        |e AS (
        |  SELECT doc_id,
        |    idx AS frame_idx,
        |    CASE WHEN idx < c1 THEN idx * d1
        |         ELSE c1 * d1 + (idx - c1) * d2 END AS t_ms,
        |    4096 + doc_id % 100 + (idx // 4) * 1000
        |      + CASE WHEN doc_id % 2 = 0 THEN (idx % 4) * s
        |        ELSE (15 * (idx // 5)
        |                + CASE idx % 5 WHEN 0 THEN 0 WHEN 1 THEN 1
        |                  WHEN 2 THEN 3 WHEN 3 THEN 6 ELSE 10 END)
        |             - (15 * ((idx - idx % 4) // 5)
        |                + CASE (idx - idx % 4) % 5 WHEN 0 THEN 0 WHEN 1 THEN 1
        |                  WHEN 2 THEN 3 WHEN 3 THEN 6 ELSE 10 END)
        |        END AS byte_off,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY idx) AS rn
        |  FROM m)
        |SELECT doc_id, frame_idx, t_ms, byte_off
        |FROM e WHERE rn <= 8""".stripMargin,
    // sync samples are every k-th frame (every frame when stss is absent,
    // doc_id%6=0); times from the single stts run; WAV docs emit nothing
    "q223_mp4_keyframes" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 50 + 4 AS n, doc_id % 9 + 1 AS delta,
        |    CASE WHEN doc_id % 6 = 0 THEN 1 ELSE doc_id % 5 + 2 END AS k
        |  FROM documents WHERE doc_id % 6 <> 5)
        |SELECT p.doc_id, CAST(t.i * p.k AS BIGINT) AS frame_idx,
        |  CAST(t.i * p.k * p.delta AS BIGINT) AS t_ms
        |FROM p, range(0, 8) t(i)
        |WHERE t.i < least(8, (p.n - 1) // p.k + 1)""".stripMargin,
    // every field replayed from the format math: MP3 duration =
    // frames*1152/sr (Xing frame count when planted), FLAC duration =
    // total_samples/sr, WAV = n/8000
    "q224_audio_formats" ->
      """WITH p AS (SELECT doc_id, doc_id // 3 AS m FROM documents)
        |SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'mp3' WHEN 1 THEN 'flac'
        |    ELSE 'wav' END AS fmt,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN CASE WHEN m % 4 = 0 THEN 1 ELSE 2 END
        |    WHEN 1 THEN m % 2 + 1
        |    ELSE 1 END AS INTEGER) AS channels,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN CASE WHEN m % 2 = 0 THEN 44100 ELSE 48000 END
        |    WHEN 1 THEN CASE m % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |      WHEN 2 THEN 22050 ELSE 16000 END
        |    ELSE 8000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE doc_id % 3
        |    WHEN 0 THEN (CASE WHEN m % 5 = 0 THEN m % 997 + 5
        |        ELSE m % 20 + 2 END) * 1152 * 1000
        |      // (CASE WHEN m % 2 = 0 THEN 44100 ELSE 48000 END)
        |    WHEN 1 THEN (m % 100000 + 1000) * 1000
        |      // (CASE m % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000
        |         WHEN 2 THEN 22050 ELSE 16000 END)
        |    ELSE (m % 50 + 10) * 1000 // 8000 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN
        |    CASE m % 3 WHEN 0 THEN 96 WHEN 1 THEN 112 ELSE 128 END
        |    END AS INTEGER) AS bitrate_kbps,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN
        |    CASE WHEN m % 5 = 0 THEN 1 ELSE 0 END END AS INTEGER) AS vbr
        |FROM p""".stripMargin,
    // the packed hash is the planted per-window bin sequence; dup ground
    // truth is hash-class membership (cross-class Hamming >= 16)
    "q225_audio_spectral" ->
      """WITH b AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(CAST(CASE ((d.doc_id + t.w) % 4) WHEN 0 THEN 0 WHEN 1 THEN 1
        |      WHEN 2 THEN 2 ELSE 4 END AS BIGINT)
        |      << CAST(4 * t.w AS INTEGER)) AS BIGINT) AS shash
        |  FROM documents d, range(0, 16) t(w)
        |  GROUP BY d.doc_id)
        |SELECT a.doc_id, a.shash,
        |  CASE WHEN EXISTS (SELECT 1 FROM b b2 WHERE b2.doc_id < a.doc_id
        |    AND b2.doc_id % 4 = a.doc_id % 4) THEN 1 ELSE 0 END AS is_dup
        |FROM b a""".stripMargin,
    // cue boundaries and payloads are the planted closed forms, format-
    // independent (VTT and SRT docs replay identically)
    "q226_subtitle_cues" ->
      """SELECT d.doc_id,
        |  CAST(t.i * 2000 + (d.doc_id % 7) * 10 AS BIGINT) AS start_ms,
        |  CAST(t.i * 2000 + (d.doc_id % 7) * 10
        |    + 1000 + (d.doc_id % 3) * 100 AS BIGINT) AS end_ms,
        |  'cue ' || d.doc_id || ' ' || t.i AS cue_text
        |FROM documents d, range(0, 5) t(i)
        |WHERE t.i < d.doc_id % 5 + 1""".stripMargin,
    // keyframes (q223 closed form) x cue windows (q226 closed form),
    // joined on media time
    "q227_frame_caption_align" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 40 + 10 AS n, doc_id % 9 + 1 AS delta,
        |    doc_id % 5 + 2 AS k
        |  FROM documents),
        |kf AS (
        |  SELECT doc_id, CAST(t.i * p.k AS BIGINT) AS frame_idx,
        |    CAST(t.i * p.k * p.delta AS BIGINT) AS t_ms
        |  FROM p, range(0, 8) t(i)
        |  WHERE t.i < least(8, (p.n - 1) // p.k + 1)),
        |cues AS (
        |  SELECT d.doc_id, t.j,
        |    CAST(t.j * 2000 + (d.doc_id % 7) * 10 AS BIGINT) AS cue_start,
        |    CAST(t.j * 2000 + (d.doc_id % 7) * 10
        |      + 1000 + (d.doc_id % 3) * 100 AS BIGINT) AS cue_end,
        |    'cue ' || d.doc_id || ' ' || t.j AS cue_text
        |  FROM documents d, range(0, 5) t(j)
        |  WHERE t.j < d.doc_id % 5 + 1)
        |SELECT kf.doc_id, kf.frame_idx, kf.t_ms, c.cue_start, c.cue_text
        |FROM kf JOIN cues c USING (doc_id)
        |WHERE kf.t_ms >= c.cue_start AND kf.t_ms < c.cue_end""".stripMargin,
    // vorbis: granule PCM samples / rate; opus: (granule - preskip)/48k
    "q228_ogg_meta" ->
      """WITH p AS (SELECT doc_id, doc_id // 2 AS m FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN m % 2 + 1
        |    ELSE m % 8 + 1 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |      CASE m % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |        WHEN 2 THEN 44100 ELSE 48000 END
        |    ELSE 48000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN
        |      (m % 90000 + 1000) * 1000 // (CASE m % 4 WHEN 0 THEN 8000
        |        WHEN 1 THEN 16000 WHEN 2 THEN 44100 ELSE 48000 END)
        |    ELSE greatest(0, m % 90000 + 1000 - m % 500) * 1000 // 48000
        |    END AS BIGINT) AS duration_ms
        |FROM p""".stripMargin,
    // float duration at the default 1e6 scale is the tick count itself;
    // absent track sides are NULL per the id%4 rotation
    "q229_mkv_meta" ->
      """SELECT doc_id,
        |  CAST(doc_id % 50000 + 500 AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN doc_id % 4 <> 1
        |    THEN doc_id % 1920 + 16 END AS INTEGER) AS vid_w,
        |  CAST(CASE WHEN doc_id % 4 <> 1
        |    THEN doc_id % 1080 + 16 END AS INTEGER) AS vid_h,
        |  CAST(CASE WHEN doc_id % 4 <> 0
        |    THEN doc_id % 8 + 1 END AS INTEGER) AS channels,
        |  CAST(CASE WHEN doc_id % 4 <> 0
        |    THEN doc_id % 48000 + 4000 END AS INTEGER) AS sample_rate
        |FROM documents""".stripMargin,
    // planted spans: start = lead + j*(span+gap), end = start + span,
    // all /8 exact at 8 kHz; the 10 ms intra-span pause never splits
    "q230_audio_segments" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    (doc_id % 7) * 16 AS g0,
        |    80 * (doc_id % 5 + 1) + 160 AS span,
        |    240 + 160 * (doc_id % 3) AS gap,
        |    doc_id % 4 + 1 AS nseg
        |  FROM documents)
        |SELECT doc_id, CAST(t.j AS INTEGER) AS seg_idx,
        |  CAST((g0 + t.j * (span + gap)) // 8 AS BIGINT) AS start_ms,
        |  CAST((g0 + t.j * (span + gap) + span) // 8 AS BIGINT) AS end_ms
        |FROM p, range(0, 4) t(j) WHERE t.j < nseg""".stripMargin,
    // ASCII tag values round-trip every encoding to the same string
    "q231_id3_tags" ->
      """SELECT d.doc_id, t.tag,
        |  CASE t.tag WHEN 'TIT2' THEN 'title ' || d.doc_id
        |    WHEN 'TPE1' THEN 'artist ' || (d.doc_id % 50)
        |    ELSE '20' || lpad(CAST(d.doc_id % 30 AS VARCHAR), 2, '0')
        |  END AS tag_value
        |FROM documents d, (VALUES ('TIT2'), ('TPE1'), ('TDRC')) t(tag)""".stripMargin,
    // element counts and payload bytes from the planted dtype/shape grid
    "q232_npy_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN '<f4' WHEN 1 THEN '<f8'
        |      WHEN 2 THEN '<i8' ELSE '|u1' END AS dtype,
        |    CASE doc_id % 4 WHEN 0 THEN 4 WHEN 1 THEN 8
        |      WHEN 2 THEN 8 ELSE 1 END AS width,
        |    CASE WHEN doc_id % 5 = 0 THEN 0
        |      WHEN doc_id % 5 = 1 THEN 1 ELSE 2 END AS n_dims,
        |    CASE WHEN doc_id % 5 = 0 THEN 1
        |      WHEN doc_id % 5 = 1 THEN doc_id % 13 + 1
        |      ELSE (doc_id % 7 + 1) * (doc_id % 11 + 1) END AS n
        |  FROM documents)
        |SELECT doc_id, dtype,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS fortran,
        |  CAST(n_dims AS INTEGER) AS n_dims,
        |  CAST(n AS BIGINT) AS n_elems,
        |  CAST(n * width AS BIGINT) AS data_bytes
        |FROM p""".stripMargin,
    // every stat is bit arithmetic on the 8-bit row pattern g: mean from
    // the popcount, edges from adjacent-bit transitions, 7 pairs x 8 rows
    "q233_image_stats" ->
      """WITH p AS (SELECT doc_id, doc_id % 64 AS g FROM documents)
        |SELECT doc_id,
        |  CAST(2040 * bit_count(g) // 64 AS INTEGER) AS mean_luma,
        |  0 AS min_luma,
        |  CAST(CASE WHEN bit_count(g) = 0 THEN 0 ELSE 255 END AS INTEGER)
        |    AS max_luma,
        |  CAST(CASE WHEN bit_count(g) = 0 THEN 1 ELSE 2 END AS INTEGER)
        |    AS n_distinct,
        |  CAST(8000 * bit_count(xor(g, g // 2) & 127) // 56 AS INTEGER)
        |    AS edge_frac_milli
        |FROM p""".stripMargin,
    // per-sample member counts / bytes / sorted extension sets from the
    // planted shard layout
    "q234_webdataset" ->
      """SELECT d.doc_id, lpad(CAST(t.j AS VARCHAR), 6, '0') AS sample_key,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_members,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS total_bytes,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'jpg,json,txt'
        |    ELSE 'jpg,txt' END AS exts
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // npy headers sliced out of the stored-member zip, closed-form
    "q235_npz_meta" ->
      """SELECT doc_id,
        |  3 AS n_members,
        |  '<f8' AS dtype0,
        |  CAST((doc_id % 6 + 1) * (doc_id % 3 + 1) AS BIGINT) AS n_elems0,
        |  CAST((doc_id % 6 + 1) * (doc_id % 3 + 1) * 8 AS BIGINT) AS bytes0,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
        |    AS fortran1,
        |  CAST(doc_id % 5 + 1 AS BIGINT) AS n_elems1
        |FROM documents""".stripMargin,
    // sub-512 B members each consume header + one block: offset is
    // 512 + (k-1)*1024 exactly
    "q236_targz_entries" ->
      """SELECT d.doc_id, 'f' || t.k || '.bin' AS member_name,
        |  CAST(t.k * 7 + d.doc_id % 13 AS BIGINT) AS member_size,
        |  CAST(512 + (t.k - 1) * 1024 AS BIGINT) AS byte_off
        |FROM documents d, range(1, 6) t(k)
        |WHERE t.k <= d.doc_id % 5 + 1""".stripMargin,
    // tensor grid closed-form: dtype rotation, (id%5+1) x (t+1) shapes,
    // bytes = elems x dtype width
    "q237_safetensors" ->
      """SELECT d.doc_id, 't' || t.t AS tname,
        |  CASE ((d.doc_id + t.t) % 4) WHEN 0 THEN 'F32' WHEN 1 THEN 'F16'
        |    WHEN 2 THEN 'I64' ELSE 'U8' END AS dtype,
        |  CAST((d.doc_id % 5 + 1) * (t.t + 1) AS BIGINT) AS n_elems,
        |  CAST((d.doc_id % 5 + 1) * (t.t + 1) *
        |    CASE ((d.doc_id + t.t) % 4) WHEN 0 THEN 4 WHEN 1 THEN 2
        |      WHEN 2 THEN 8 ELSE 1 END AS BIGINT) AS data_bytes
        |FROM documents d, range(0, 4) t(t)
        |WHERE t.t < d.doc_id % 4 + 1""".stripMargin,
    // record k payload offset: 12 + 16k + 5*k*(k-1)/2 + c*k
    "q238_tfrecord" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 6 + 1 AS m, doc_id % 9 + 1 AS c
        |  FROM documents)
        |SELECT p.doc_id, CAST(t.k AS INTEGER) AS rec_idx,
        |  CAST(12 + 16 * t.k + 5 * t.k * (t.k - 1) // 2 + p.c * t.k
        |    AS BIGINT) AS byte_off,
        |  CAST(t.k * 5 + p.c AS BIGINT) AS rec_size
        |FROM p, range(0, 6) t(k) WHERE t.k < p.m""".stripMargin,
    // the sliced member's npy header replays the planted shape
    "q239_tar_member" ->
      """SELECT doc_id, 2 AS n_members, '<i8' AS dtype,
        |  CAST(doc_id % 7 + 1 AS BIGINT) AS n_elems,
        |  CAST((doc_id % 7 + 1) * 8 AS BIGINT) AS data_bytes
        |FROM documents""".stripMargin,
    // the zstd twin of q236: same tar arithmetic behind the inflate
    "q240_tarzst_entries" ->
      """SELECT d.doc_id, 'm' || t.k || '.bin' AS member_name,
        |  CAST(t.k * 9 + d.doc_id % 11 AS BIGINT) AS member_size,
        |  CAST(512 + (t.k - 1) * 1024 AS BIGINT) AS byte_off
        |FROM documents d, range(1, 5) t(k)
        |WHERE t.k <= d.doc_id % 4 + 1""".stripMargin,
    // the q234 closed form, re-derived through the streaming source; the
    // streamed payload byte count must equal the header-declared sizes
    "q242_webdataset_stream" ->
      """SELECT d.doc_id, lpad(CAST(t.j AS VARCHAR), 6, '0') AS sample_key,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_members,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS total_bytes,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS payload_bytes,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'jpg,json,txt'
        |    ELSE 'jpg,txt' END AS exts
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // the q247 member math through the STREAMING export leg; exactly one
    // output shard per sample (the no-split rule under micro-batching)
    "q261_wds_stream_export" ->
      """SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
        |  CAST(2 AS BIGINT) AS n_members,
        |  CAST(t.j * 5 + 6 AS BIGINT) AS total_bytes,
        |  CAST(1 AS BIGINT) AS n_shards
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // the q250 closed form over OUR OWN deflated export: every member
    // method 8, planted npy shapes replay through inventory+fetch
    "q262_npz_export" ->
      """SELECT doc_id, CAST(8 AS INTEGER) AS method,
        |  CAST(doc_id % 7 + 1 AS BIGINT) AS n_elems,
        |  CAST((doc_id % 7 + 1) * 8 AS BIGINT) AS data_bytes
        |FROM documents""".stripMargin,
    // pushed and unpushed surfaces return the identical txt-member rows
    "q260_tar_member_pushdown" ->
      """SELECT d.doc_id, CAST(t.j AS BIGINT) AS j, v.via,
        |  CAST(t.j * 2 + 1 AS BIGINT) AS member_size,
        |  CAST(t.j * 2 + 1 AS BIGINT) AS payload_len
        |FROM documents d, range(1, 5) t(j), (VALUES ('pushed'), ('rdd')) v(via)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // the q247 closed form through dated subdirs + ledger compaction +
    // age watermark; wave parity (doc parity) pins which dated dir
    "q259_wds_dated_ingest" ->
      """SELECT d.doc_id, lpad(CAST(t.j AS VARCHAR), 6, '0') AS sample_key,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_members,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS total_bytes,
        |  CASE WHEN d.doc_id % 2 = 0 THEN '2026-08-15'
        |    ELSE '2026-08-16' END AS shard_date,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'jpg,json,txt'
        |    ELSE 'jpg,txt' END AS exts
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // the q242 closed form, re-derived through two-wave streaming ingest
    "q247_wds_stream_ingest" ->
      """SELECT d.doc_id, lpad(CAST(t.j AS VARCHAR), 6, '0') AS sample_key,
        |  CAST(CASE WHEN d.doc_id % 2 = 0 THEN 3 ELSE 2 END AS BIGINT)
        |    AS n_members,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS total_bytes,
        |  CAST(t.j * 3 + 5 + t.j * 2 + 1
        |    + CASE WHEN d.doc_id % 2 = 0 THEN 4 ELSE 0 END AS BIGINT)
        |    AS payload_bytes,
        |  CASE WHEN d.doc_id % 2 = 0 THEN 'jpg,json,txt'
        |    ELSE 'jpg,txt' END AS exts
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // the fetched npy headers replay the planted shapes
    "q249_npz_lake" ->
      """SELECT doc_id, CAST(doc_id % 7 + 1 AS BIGINT) AS n_elems,
        |  CAST((doc_id % 7 + 1) * 8 AS BIGINT) AS data_bytes
        |FROM documents""".stripMargin,
    // both the blob and fetch surfaces inflate every deflated npy to the
    // same planted header
    "q250_npz_deflated" ->
      """SELECT d.doc_id, v.via,
        |  CAST(d.doc_id % 7 + 1 AS BIGINT) AS n_elems,
        |  CAST((d.doc_id % 7 + 1) * 8 AS BIGINT) AS data_bytes
        |FROM documents d, (VALUES ('blob'), ('fetch')) v(via)""".stripMargin,
    // dedup keeps doc c per class c (doc_ids are 0-based so min id with
    // id%64 = c is c); the exported member's size is the planted 3c+8
    "q257_curation_loop" ->
      """SELECT CAST(t.c AS BIGINT) AS doc_id,
        |  CAST(t.c * 3 + 8 AS BIGINT) AS member_size
        |FROM range(0, 64) t(c)""".stripMargin,
    // export -> ingest identity: the planted member math comes back, and
    // every sample lives in exactly one written shard
    "q256_wds_export" ->
      """SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
        |  CAST(2 AS BIGINT) AS n_members,
        |  CAST(t.j * 5 + 6 AS BIGINT) AS total_bytes,
        |  CAST(1 AS BIGINT) AS n_shards
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1""".stripMargin,
    // wave parity picks the method (0 stored / 8 deflated); the fetched
    // npy headers replay the planted shapes either way
    "q255_npz_stream_inventory" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 1 THEN 8 ELSE 0 END AS INTEGER) AS method,
        |  CAST(doc_id % 7 + 1 AS BIGINT) AS n_elems,
        |  CAST((doc_id % 7 + 1) * 8 AS BIGINT) AS data_bytes
        |FROM documents""".stripMargin,
    // header-only member math per doc: 2 members per j, sizes 3j+5 + 2j+1
    "q251_tar_sql_lake" ->
      """SELECT d.doc_id, CAST(COUNT(*) * 2 AS BIGINT) AS n_members,
        |  CAST(SUM(t.j * 5 + 6) AS BIGINT) AS total_bytes,
        |  CAST(MAX(t.j) AS BIGINT) AS max_j
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1
        |GROUP BY d.doc_id""".stripMargin,
    // every good member lands; the poison shard keeps exactly member 1
    "q252_stream_quarantine" ->
      """SELECT d.doc_id, CAST(t.j AS BIGINT) AS j, e.ext AS member_ext,
        |  CAST(CASE WHEN e.ext = 'jpg' THEN t.j * 3 + 5
        |    ELSE t.j * 2 + 1 END AS BIGINT) AS member_size
        |FROM documents d, range(1, 5) t(j), (VALUES ('jpg'), ('txt')) e(ext)
        |WHERE d.doc_id % 2 = 0 AND t.j <= d.doc_id % 4 + 1
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(1 AS BIGINT) AS j,
        |  'txt' AS member_ext, CAST(3 AS BIGINT) AS member_size""".stripMargin,
    // syncs at even j; presentation time = j*50 minus the planted shift,
    // identical for the moov and fragment layouts
    "q263_mp4_editlist" ->
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS n,
        |    (doc_id % 4) * 25 AS shift,
        |    CASE WHEN doc_id % 3 = 0 THEN 'frag' ELSE 'moov' END AS layout
        |  FROM documents)
        |SELECT doc_id, layout, CAST(t.j AS BIGINT) AS frame_idx,
        |  CAST(t.j * 50 - shift AS BIGINT) AS t_ms
        |FROM p, range(0, 7) t(j)
        |WHERE t.j % 2 = 0 AND t.j < n""".stripMargin,
    // BOS point at byte 58, then one point per 44-byte data page
    "q264_ogg_pagepoints" ->
      """WITH p AS (SELECT doc_id, doc_id % 5 + 2 AS k,
        |    doc_id % 900 + 100 AS g FROM documents)
        |SELECT doc_id, CAST(0 AS BIGINT) AS granule,
        |  CAST(58 AS BIGINT) AS byte_off FROM p
        |UNION ALL
        |SELECT doc_id, CAST(t.i * g AS BIGINT) AS granule,
        |  CAST(58 + 44 * t.i AS BIGINT) AS byte_off
        |FROM p, range(1, 7) t(i) WHERE t.i <= k""".stripMargin,
    // syncs at j in {0, 3}: times tfdt + j*dur, offset step = the three
    // intervening sizes (100+10k+m, k=0..2)
    "q253_fmp4_keyframes" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS ns,
        |  40 + (doc_id % 3) * 10 AS dur, doc_id % 7 AS m FROM documents)
        |SELECT doc_id, CAST(f.f * ns + j.j AS BIGINT) AS frame_idx,
        |  CAST(f.f * 100000 + j.j * dur AS BIGINT) AS t_ms,
        |  CASE WHEN j.j = 3 THEN CAST(330 + 3 * m AS BIGINT)
        |    ELSE CAST(NULL AS BIGINT) END AS off_step
        |FROM p, range(0, 2) f(f), (VALUES (0), (3)) j(j)
        |WHERE j.j = 0 OR ns >= 4""".stripMargin,
    // fragment 0 picks even samples (boundaries 0,80,... on 40-tick
    // samples); the gap jump anchors at 100080 inside sample 1 of
    // fragment 1, so the second leg picks odd samples
    "q258_fmp4_stride" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 + 2 AS ns FROM documents)
        |SELECT doc_id, CAST(t.j AS BIGINT) AS frame_idx,
        |  CAST(t.j * 40 AS BIGINT) AS t_ms
        |FROM p, range(0, 5) t(j) WHERE t.j % 2 = 0 AND t.j < ns
        |UNION ALL
        |SELECT doc_id, CAST(ns + t.j AS BIGINT) AS frame_idx,
        |  CAST(100020 + t.j * 40 AS BIGINT) AS t_ms
        |FROM p, range(0, 5) t(j) WHERE t.j % 2 = 1 AND t.j < ns""".stripMargin,
    // seekpoints at even frames; the tail from the last one replays the
    // planted amp/-amp/0 pattern over [ts, n) in closed form
    "q254_flac_seektable" ->
      """WITH p AS (SELECT doc_id, doc_id % 40 + 10 AS n,
        |    doc_id % 3000 + 100 AS amp FROM documents),
        |r AS (SELECT doc_id, n, amp, (n + 15) // 16 AS frames,
        |    32 * (((n + 15) // 16 - 1) // 2) AS ts FROM p)
        |SELECT doc_id,
        |  CAST((frames + 1) // 2 AS INTEGER) AS n_points,
        |  CAST(n - ts AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN ((n+2)//3 - (ts+2)//3) + ((n+1)//3 - (ts+1)//3) > 0
        |    THEN amp ELSE 0 END AS BIGINT) AS peak,
        |  CAST(amp * amp * (((n+2)//3 - (ts+2)//3) + ((n+1)//3 - (ts+1)//3))
        |    AS BIGINT) AS sum_sq,
        |  CAST(n//3 - ts//3 AS BIGINT) AS n_silent
        |FROM r""".stripMargin,
    // odd-j jpg members: planted size j*3+5, fetched bytes must agree
    "q246_inventory_fetch" ->
      """SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
        |  CAST(t.j * 3 + 5 AS BIGINT) AS member_size,
        |  CAST(t.j * 3 + 5 AS BIGINT) AS payload_len
        |FROM documents d, range(1, 5) t(j)
        |WHERE t.j <= d.doc_id % 4 + 1 AND t.j % 2 = 1""".stripMargin,
    // the final table: corpus rows at batch 0, q217's survivors at
    // batch 1, hashes = the planted patterns
    "q245_signature_table" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN doc_id % 2 = 0 THEN ((doc_id // 2) % 64) * 72340172838076673
        |      WHEN doc_id % 3 = 0 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            1::BIGINT << CAST(doc_id % 63 AS INTEGER))
        |      WHEN doc_id % 3 = 1 THEN
        |        xor(((doc_id // 2) % 64) * 72340172838076673,
        |            2 + 1024 + 524288 + 268435456 + 137438953472)
        |      ELSE ((doc_id // 2) % 64) * 72340172838076673 END AS ahash
        |  FROM documents)
        |SELECT a.doc_id, a.ahash, CAST(0 AS BIGINT) AS batch_id
        |FROM h a WHERE a.doc_id % 2 = 0
        |UNION ALL
        |SELECT a.doc_id, a.ahash, CAST(1 AS BIGINT) AS batch_id
        |FROM h a
        |WHERE a.doc_id % 2 = 1 AND NOT EXISTS (
        |  SELECT 1 FROM h b WHERE b.doc_id % 2 = 0
        |  AND bit_count(xor(a.ahash, b.ahash)) <= 3)""".stripMargin,
    // cue j: ticks j*(id%7+2)*10, scaled by the 1/2 ms tick, offset
    // 1000 + j*(id%9+3)*100; capped at 4 points
    "q244_mkv_cues" ->
      """SELECT d.doc_id,
        |  CAST(t.j * (d.doc_id % 7 + 2) * 10 *
        |    (CASE WHEN d.doc_id % 2 = 0 THEN 2 ELSE 1 END) AS BIGINT) AS t_ms,
        |  CAST(1000 + t.j * (d.doc_id % 9 + 3) * 100 AS BIGINT) AS cluster_off
        |FROM documents d, range(0, 5) t(j)
        |WHERE d.doc_id % 10 <> 7 AND t.j < least(d.doc_id % 5 + 1, 4)""".stripMargin,
    // normalized peak: the planted amp (24-bit, noise byte dropped) or
    // amp8 x 256 (8-bit scaled up)
    "q248_flac_depths" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 40 + 10 AS n,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id % 3000 + 100
        |         ELSE (doc_id % 120 + 5) * 256 END AS amp
        |  FROM documents)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
        |  CAST(amp AS BIGINT) AS peak,
        |  CAST(amp * amp * (((n + 2) // 3) + ((n + 1) // 3)) AS BIGINT)
        |    AS sum_sq,
        |  CAST(n // 3 AS BIGINT) AS n_silent
        |FROM p""".stripMargin,
    // integer-exact stats of the planted amp/-amp/0 pattern, per channel
    "q243_flac_decode" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 50 + 20 AS n, doc_id % 3000 + 100 AS amp,
        |    CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS ch
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n * ch AS BIGINT) AS n_samples,
        |  CAST(amp AS BIGINT) AS peak,
        |  CAST(amp * amp * (((n + 2) // 3) + ((n + 1) // 3)) * ch AS BIGINT)
        |    AS sum_sq,
        |  CAST((n // 3) * ch AS BIGINT) AS n_silent
        |FROM p""".stripMargin,
    // record (id % m) carries (id%m)*3 + id%7 + 1 copies of its letter
    "q241_tfrecord_member" ->
      """WITH p AS (
        |  SELECT doc_id, doc_id % 5 + 2 AS m, doc_id % 7 + 1 AS c
        |  FROM documents),
        |q AS (SELECT doc_id, CAST(doc_id % m AS INTEGER) AS rec_idx, c FROM p)
        |SELECT doc_id, rec_idx,
        |  CAST(rec_idx * 3 + c AS BIGINT) AS rec_size,
        |  repeat(chr(97 + rec_idx), CAST(rec_idx * 3 + c AS INTEGER)) AS payload
        |FROM q""".stripMargin,
    // the GIF aHash is the planted pattern; the BMP twin is bit-identical
    "q219_image_gif" ->
      """SELECT doc_id, 8 AS img_w, 8 AS img_h,
        |  (doc_id % 64) * 72340172838076673 AS ahash,
        |  0 AS xformat_hamming
        |FROM documents""".stripMargin,
    // the thumbnail of a block-constant image is the block pattern itself
    "q215_image_thumb" ->
      """SELECT doc_id, 8 AS img_w, 8 AS img_h,
        |  (doc_id % 64) * 72340172838076673 AS ahash
        |FROM documents""".stripMargin,
    // the identical per-sample fold, replayed via generate_series
    "q212_wav_stats" ->
      """SELECT d.doc_id,
        |  CAST(d.doc_id % 100 + 40 AS BIGINT) AS n_samples,
        |  max(abs(s.v)) AS peak,
        |  CAST(sum(s.v * s.v) AS BIGINT) AS sum_sq,
        |  CAST(sum(CASE WHEN s.v = 32767 OR s.v = -32768 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_clipped,
        |  CAST(sum(CASE WHEN abs(s.v) < 1000 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_silent
        |FROM documents d
        |JOIN (SELECT k, ((d2.doc_id * 31 + k * 17) % 65536) - 32768 AS v,
        |             d2.doc_id AS did
        |      FROM documents d2, generate_series(0, 139) t(k)) s
        |  ON s.did = d.doc_id AND s.k < d.doc_id % 100 + 40
        |GROUP BY d.doc_id""".stripMargin,
    // the replacement's definition, the original's rows gone wholesale
    "q209_replace_table" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 1",
    // the fork's own algebra — the source's post-clone update absent
    "q208_shallow_clone" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 3 = 0 THEN n_chars + 5000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 11 <> 7""".stripMargin,
    // the identical gap algebra: strict 30-min split on epoch micros,
    // session keyed by its first event's timestamp
    "q207_session_stream" ->
      """WITH f AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         OR epoch_us(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |             OVER (PARTITION BY user_id ORDER BY ts)
        |           > 1800000000
        |    THEN 1 ELSE 0 END AS st
        |  FROM events),
        |x AS (
        |  SELECT user_id, us,
        |    sum(st) OVER (PARTITION BY user_id ORDER BY us
        |                  ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, min(us) AS session_us,
        |  count(*) AS n_events, max(us) - min(us) AS dur_us
        |FROM x GROUP BY user_id, sid""".stripMargin,
    // pre-add rows read the exists-default ('und', 7 — +1 where the CoW
    // UPDATE landed); post-add rows keep their explicit values
    "q206_exists_defaults" ->
      """SELECT doc_id, source, 'und' AS lang,
        |  CAST(CASE WHEN doc_id % 10 = 4 THEN 8 ELSE 7 END AS BIGINT) AS score
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, source, 'en', doc_id
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // explicit wave above the watermark, generated wave below it
    "q205_sync_identity" ->
      """SELECT doc_id AS orig_id, source, n_chars, TRUE AS id_ok
        |FROM documents""".stripMargin,
    // the streaming replica converges to the source's statement algebra
    "q204_apply_changes_stream" ->
      """SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 11 <> 5""".stripMargin,
    // layout-only: both waves' full payload, whatever packed
    "q203_scoped_optimize" ->
      """SELECT event_id, user_id,
        |  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day, value
        |FROM events
        |UNION ALL
        |SELECT event_id + 10000000, user_id,
        |  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR), value
        |FROM events""".stripMargin,
    // identical window algebra: strict 30-min gap on epoch micros
    "q202_sessionization" ->
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR epoch_us(CAST(ts AS TIMESTAMP))
        |           - lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           > 1800000000
        |    THEN 1 ELSE 0 END AS st
        |  FROM events),
        |x AS (
        |  SELECT user_id, us,
        |    CAST(sum(st) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM f)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  max(us) - min(us) AS dur_us
        |FROM x GROUP BY 1, 2""".stripMargin,
    // payload + id_ok TRUE; the in-query requires pin the exact id set
    "q201_identity_columns" ->
      """SELECT doc_id AS orig_id, source, n_chars, TRUE AS id_ok
        |FROM documents""".stripMargin,
    // the computed day column and the derived-pruned band, closed-form
    "q200_generated_columns" ->
      """WITH b AS (SELECT epoch_us(CAST(min(ts) AS TIMESTAMP)) AS mn,
        |                  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS mx FROM events)
        |SELECT event_id, user_id,
        |  CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day, value
        |FROM events
        |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= (SELECT mn + (mx - mn) * 7 // 8 FROM b)""".stripMargin,
    // the CDC replica converges to the source's statement algebra
    "q198_apply_changes" ->
      """SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 11 <> 5""".stripMargin,
    // the update pair carries its retagged types; one mispairing fails
    "q199_cdf_typed" ->
      """SELECT doc_id, source, n_chars,
        |  'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'update_preimage', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars + 100000, 'update_postimage', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END,
        |  'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 5""".stripMargin,
    // one moved row id would flip id_stable and fail the hash
    "q197_row_tracking" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 3 = 1 THEN n_chars + 7 ELSE n_chars END AS n_chars,
        |  TRUE AS id_stable
        |FROM documents WHERE doc_id % 10 <> 4""".stripMargin,
    // the DDL-declared Z-order lands the same rows the plain scan selects
    // (identical eighth-of-range cutoffs, derived from the same min/max)
    "q196_sql_cluster_by" ->
      """WITH b AS (SELECT min(user_id) AS umn, max(user_id) AS umx,
        |                  min(event_id) AS emn, max(event_id) AS emx
        |           FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM events, b
        |WHERE user_id <= umn + (umx - umn) // 8
        |  AND event_id <= emn + (emx - emn) // 8""".stripMargin,
    // the two insert waves land the default in force at their write time
    "q195_column_defaults" ->
      """SELECT doc_id, source, CAST(0 AS BIGINT) AS score
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 'unknown', CAST(100 AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin,
    // only the admitted writes ever landed: the full corpus (all
    // n_chars > 0), the refused INSERT/UPDATE absent, the admitted
    // UPDATE applied
    "q194_check_constraints" ->
      """SELECT doc_id, source,
        |  CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
        |FROM documents""".stripMargin,
    // the CALL-driven lifecycle lands on the same surviving rows
    "q191_sql_maintenance" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 9 <> 2",
    // the streamed mirror equals the source
    "q192_stream_sink" ->
      "SELECT doc_id, source, n_chars FROM documents",
    // identical event algebra to q189 — a CoW DML engine recording CDC
    // sidecars must emit the same row-level events as the MoR engine
    "q193_cdf_cow" ->
      """SELECT doc_id, source, n_chars,
        |  'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'delete', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars + 100000, 'insert', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END,
        |  'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 5""".stripMargin,
    // the DSv2 CDC scan delivers the identical event set
    "q190_cdf_source" ->
      """SELECT doc_id, source, n_chars,
        |  'insert' AS "_change_type", CAST(1 AS BIGINT) AS "_commit_version"
        |FROM documents
        |UNION ALL
        |SELECT doc_id, source, n_chars, 'delete', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source, n_chars + 100000, 'insert', CAST(2 AS BIGINT)
        |FROM documents WHERE source = 'src3' OR doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END,
        |  'delete', CAST(3 AS BIGINT)
        |FROM documents WHERE doc_id % 11 = 5""".stripMargin,
    // the evolved column: matched rows take the source value, pre-merge
    // rows read NULL, inserted rows land under 'merged'
    "q187_merge_evolve" ->
      """WITH t AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, n_chars + 7 AS nc,
        |             'f' || CAST(doc_id % 4 AS VARCHAR) AS flag
        |      FROM documents WHERE doc_id % 3 = 0)
        |SELECT t.doc_id, t.source,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.nc ELSE t.n_chars END AS n_chars,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.flag ELSE NULL END AS flag
        |FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |UNION ALL
        |SELECT s.doc_id, 'merged' AS source, s.nc AS n_chars, s.flag
        |FROM s LEFT JOIN t ON s.doc_id = t.doc_id
        |WHERE t.doc_id IS NULL""".stripMargin,
    // both generations through the renamed logical column
    "q186_rename_column" ->
      """SELECT doc_id, source, n_chars AS chars FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, source, n_chars + 5 AS chars
        |FROM documents""".stripMargin,
    // q166's update algebra plus the delete — executed as DVs + re-insert
    // generations, final state identical to the statement algebra
    "q184_mor_dml" ->
      """SELECT doc_id, source,
        |  CASE WHEN source = 'src3' OR doc_id % 7 = 0
        |       THEN n_chars + 100000 ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 11 <> 5""".stripMargin,
    // the DV'd rows stay deleted through the bin-pack
    "q185_dv_optimize" ->
      "SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 9 <> 2",
    // the post-MERGE state: matched rows with nc % 10 = 0 deleted, other
    // matches updated, unmatched source rows inserted under 'merged'
    "q167_sql_merge" ->
      """WITH t AS (SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 2 = 0),
        |s AS (SELECT doc_id, n_chars + 7 AS nc FROM documents WHERE doc_id % 3 = 0)
        |SELECT t.doc_id, t.source,
        |  CASE WHEN s.doc_id IS NOT NULL THEN s.nc ELSE t.n_chars END AS n_chars
        |FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |WHERE s.doc_id IS NULL OR s.nc % 10 <> 0
        |UNION ALL
        |SELECT s.doc_id, 'merged' AS source, s.nc AS n_chars
        |FROM s LEFT JOIN t ON s.doc_id = t.doc_id
        |WHERE t.doc_id IS NULL""".stripMargin,
    // closed form from the construction: copies have every gram in the
    // corpus table (novelty 0 when gram-able), twins one unseen gram
    "q165_incremental_novelty" ->
      """SELECT doc_id + 3000000 AS doc_id,
        |  CAST(greatest(len(string_split(text, ' ')) - 7, 0) AS BIGINT) AS n_grams,
        |  CAST(0 AS BIGINT) AS novel_grams,
        |  CASE WHEN len(string_split(text, ' ')) >= 8 THEN 0.0 ELSE 1.0 END AS novelty
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id + 4000000 AS doc_id,
        |  CAST(1 AS BIGINT) AS n_grams, CAST(1 AS BIGINT) AS novel_grams,
        |  1.0 AS novelty
        |FROM documents WHERE (doc_id + 4000000) % 3 = 1""".stripMargin,
    // q86's gram pipeline + DISTINCT-doc frequencies + occurrence fold
    "q164_ngram_novelty" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
        |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM u),
        |g AS (SELECT doc_id,
        |    substring(md5(array_to_string(
        |      w[CAST(i AS BIGINT):CAST(i AS BIGINT)+7], ' ')),1,16) AS gram
        |  FROM t, UNNEST(range(1, len(w)-6)) AS u2(i) WHERE len(w) >= 8),
        |dfq AS (SELECT gram, COUNT(*) AS gdf FROM (
        |    SELECT DISTINCT doc_id, gram FROM g) GROUP BY gram),
        |per AS (SELECT g.doc_id, COUNT(*) AS n_grams,
        |         CAST(SUM(CASE WHEN dfq.gdf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS novel_grams
        |        FROM g JOIN dfq USING (gram) GROUP BY g.doc_id)
        |SELECT u.doc_id,
        |  CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(p.novel_grams, 0) AS BIGINT) AS novel_grams,
        |  CASE WHEN p.n_grams IS NULL THEN 1.0
        |       ELSE CAST(p.novel_grams AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
        |  END AS novelty
        |FROM u LEFT JOIN per p ON u.doc_id = p.doc_id""".stripMargin,
    // positives: min cluster-mate per exact-otext group; negatives: the
    // q98 md5 shard/pos ring's next-with-wrap; same exclusions
    "q163_triplet_mining" ->
      """WITH u AS (SELECT d.doc_id + k.o AS doc_id, d.text AS otext
        |           FROM documents d, (VALUES (0), (1000000)) k(o)),
        |cl AS (SELECT doc_id, otext,
        |         MIN(doc_id) OVER (PARTITION BY otext) AS cluster FROM u),
        |sec AS (SELECT otext, MIN(doc_id) AS second_id FROM cl
        |        WHERE doc_id <> cluster GROUP BY otext),
        |p AS (SELECT cl.doc_id AS anchor_id,
        |        CASE WHEN cl.doc_id = cl.cluster THEN sec.second_id
        |             ELSE cl.cluster END AS positive_id,
        |        cl.otext
        |      FROM cl JOIN sec ON cl.otext = sec.otext),
        |h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS dig FROM u),
        |sh AS (SELECT doc_id, dig,
        |  (CASE WHEN ascii(substring(dig, 1, 1)) >= 97
        |        THEN ascii(substring(dig, 1, 1)) - 87
        |        ELSE ascii(substring(dig, 1, 1)) - 48 END) * 16 +
        |  (CASE WHEN ascii(substring(dig, 2, 1)) >= 97
        |        THEN ascii(substring(dig, 2, 1)) - 87
        |        ELSE ascii(substring(dig, 2, 1)) - 48 END) AS shard
        |  FROM h),
        |r AS (SELECT doc_id, shard, row_number() OVER (
        |        PARTITION BY shard ORDER BY dig ASC, doc_id ASC) AS pos
        |      FROM sh),
        |m AS (SELECT shard, MAX(pos) AS mx FROM r GROUP BY shard),
        |n AS (SELECT r.doc_id AS anchor_id, r2.doc_id AS negative_id
        |      FROM r JOIN m ON r.shard = m.shard
        |      JOIN r r2 ON r2.shard = r.shard
        |       AND r2.pos = CASE WHEN r.pos = m.mx THEN 1 ELSE r.pos + 1 END),
        |t AS (SELECT p.anchor_id, p.positive_id, n.negative_id, p.otext
        |      FROM p JOIN n ON p.anchor_id = n.anchor_id)
        |SELECT anchor_id, positive_id, negative_id
        |FROM t JOIN u un ON t.negative_id = un.doc_id
        |WHERE t.negative_id <> t.anchor_id AND un.otext <> t.otext""".stripMargin,
    // clusters = exact ORIGINAL-text groups across both copies (q140's
    // twin argument); winner = row_number 1 by (q desc, doc_id asc)
    "q162_dedup_keep_best" ->
      """WITH u AS (SELECT d.doc_id + k.o AS doc_id, d.text AS otext,
        |                  (d.doc_id + k.o) % 7 AS q
        |           FROM documents d, (VALUES (0), (1000000)) k(o)),
        |w AS (SELECT doc_id, q, row_number() OVER (
        |        PARTITION BY otext ORDER BY q DESC, doc_id ASC) AS rn
        |      FROM u)
        |SELECT doc_id, q FROM w WHERE rn = 1""".stripMargin,
    // same decimal(22,7) component accumulation, same double division
    "q161_mean_vectors" ->
      """WITH e AS (SELECT label, i, embedding FROM (
        |    SELECT label, unnest(generate_series(1, 64)) AS i, embedding
        |    FROM embeddings)),
        |c AS (SELECT label, i - 1 AS dim,
        |        CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(22,7)) AS v
        |      FROM e)
        |SELECT label, CAST(dim AS INT) AS dim,
        |       CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mval
        |FROM c GROUP BY label, dim""".stripMargin,
    // three identical-distribution increments → 3× the direct aggregate
    "q160_stream_agg_maintain" ->
      """SELECT source, CAST(3 * COUNT(*) AS BIGINT) AS n_rows,
        |       CAST(3 * SUM(n_chars) AS BIGINT) AS sum_n_chars
        |FROM documents GROUP BY source""".stripMargin,
    // both resolutions replayed (q152's LWW collapse), then the full
    // outer classification: deletes from the horizon-scoped from-state,
    // updates iff a value column differs, inserts from the shifted batch
    "q159_snapshot_diff" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 1000 AS wt
        |  FROM lineitem),
        |upd AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 0),
        |ins AS (
        |  SELECT l_orderkey + 30000000, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate, 2000 AS wt
        |  FROM lineitem WHERE l_orderkey % 10 = 5),
        |vto AS (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |lto AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |               l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |               l_linestatus DESC, l_shipdate DESC) AS rn
        |    FROM vto) WHERE rn = 1),
        |tstate AS (SELECT * FROM lto
        |           WHERE NOT (l_orderkey % 7 = 3 AND l_orderkey < 30000000)),
        |fstate AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |      ORDER BY wt DESC, l_partkey DESC, l_suppkey DESC, l_quantity DESC,
        |               l_extendedprice DESC, l_discount DESC, l_tax DESC, l_returnflag DESC,
        |               l_linestatus DESC, l_shipdate DESC) AS rn
        |    FROM base) WHERE rn = 1),
        |d AS (
        |  SELECT COALESCE(f.l_orderkey, t.l_orderkey) AS l_orderkey,
        |         COALESCE(f.l_linenumber, t.l_linenumber) AS l_linenumber,
        |         CASE WHEN t.l_orderkey IS NULL THEN 'delete'
        |              WHEN f.l_orderkey IS NULL THEN 'insert'
        |              ELSE 'update' END AS op,
        |         CASE WHEN t.l_orderkey IS NULL THEN f.l_quantity
        |              ELSE t.l_quantity END AS l_quantity,
        |         CASE WHEN t.l_orderkey IS NULL THEN f.l_returnflag
        |              ELSE t.l_returnflag END AS l_returnflag,
        |         f.l_quantity IS DISTINCT FROM t.l_quantity AS qty_changed
        |  FROM fstate f FULL OUTER JOIN tstate t
        |    ON f.l_orderkey = t.l_orderkey AND f.l_linenumber = t.l_linenumber)
        |SELECT l_orderkey, l_linenumber, op, l_quantity, l_returnflag
        |FROM d WHERE op <> 'update' OR qty_changed""".stripMargin,
    // same twin closed form as q30, surviving the projection: identical
    // inputs project identically, cosine 1.0 beats every original
    "q158_ann_projected" ->
      """SELECT q.vec_id AS query_id,
        |       q.vec_id + 100000 * t.j AS neighbor_id,
        |       t.j AS rank
        |FROM embeddings q, range(1, 11) t(j)
        |WHERE q.vec_id < 3""".stripMargin,
    // retrain the KN marginals from the same slice and replay each
    // per-bigram term in the EXACT expression order of CountLm.knTerm
    // (pcont division, greatest-discount, 0.75·ncont·pcont product,
    // /ctot, ln, DECIMAL(22,7) round), then the exact decimal sum
    "q157_kneser_ney" ->
      """WITH tw AS (SELECT string_split(text, ' ') AS w FROM documents
        |            WHERE source IN ('src0', 'src1', 'src2')),
        |tbg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM (
        |    SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM tw)),
        |bgc AS (SELECT w1, w2, COUNT(*) AS cnt FROM tbg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS ctot, COUNT(*) AS ncont
        |        FROM bgc GROUP BY 1),
        |rts AS (SELECT w2, COUNT(*) AS nleft FROM bgc GROUP BY 1),
        |tot AS (SELECT COUNT(*) + COUNT(DISTINCT w2) AS br FROM bgc),
        |db AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM (
        |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM (
        |      SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
        |terms AS (
        |  SELECT db.doc_id,
        |    CAST(ln(CASE WHEN ctx.ctot IS NULL
        |      THEN CAST(COALESCE(rts.nleft, 0) + 1 AS DOUBLE)
        |           / CAST(tot.br AS DOUBLE)
        |      ELSE (greatest(CAST(COALESCE(bgc.cnt, 0) AS DOUBLE) - 0.75, 0.0)
        |            + 0.75 * CAST(ctx.ncont AS DOUBLE)
        |              * (CAST(COALESCE(rts.nleft, 0) + 1 AS DOUBLE)
        |                 / CAST(tot.br AS DOUBLE)))
        |           / CAST(ctx.ctot AS DOUBLE) END)
        |      AS DECIMAL(22,7)) AS term
        |  FROM db
        |  LEFT JOIN bgc ON db.w1 = bgc.w1 AND db.w2 = bgc.w2
        |  LEFT JOIN ctx ON db.w1 = ctx.w1
        |  LEFT JOIN rts ON db.w2 = rts.w2
        |  CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(SUM(term) AS DOUBLE) AS kn_logprob,
        |               COUNT(*) AS kn_bigrams
        |        FROM terms GROUP BY 1)
        |SELECT d.doc_id, COALESCE(a.kn_logprob, 0.0) AS kn_logprob,
        |       CAST(COALESCE(a.kn_bigrams, 0) AS BIGINT) AS kn_bigrams
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin
  )

  /** The q155 oracle, generated from the SAME md5-parity rule the Scala
   *  matrix uses ([[Similarity.projectionSigns]]): one SELECT per output
   *  dim, each an unrolled `(0.0 + s·v[1] + … + s·v[64]) / sqrt(16.0)`
   *  sum whose association order matches the Spark fold exactly. */
  private def randomProjectionOracle: String = {
    val signs = Similarity.projectionSigns(16, 64)
    (0 until 16).map { j =>
      val terms = (0 until 64).map { i =>
        s"${if (signs(j)(i) > 0) "1.0" else "-1.0"} * CAST(embedding[${i + 1}] AS DOUBLE)"
      }.mkString(" + ")
      s"SELECT vec_id, CAST($j AS INT) AS dim, " +
        s"CAST((0.0 + $terms) / sqrt(16.0) AS DOUBLE) AS pval " +
        "FROM embeddings WHERE vec_id < 200"
    }.mkString("\nUNION ALL\n")
  }

  /** Flagship end-to-end pipeline for the driver's smoke check: LWW-normalize
   *  lineitem, join dimensions (broadcast), aggregate revenue. */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    val pk = Seq("l_orderkey", "l_linenumber")
    val order = Seq("l_shipdate", "l_extendedprice", "l_quantity", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_partkey", "l_suppkey")
    // only the key and version columns: the aggregate carries every
    // non-key column it is given
    val lww = Normalize.latestWriteWinsAgg(
      li(spark, sfDir).select((pk ++ order).map(col): _*), pk, order)
    lww.join(ord(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust(spark, sfDir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }
}
