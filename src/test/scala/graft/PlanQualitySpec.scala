package graft

import java.nio.file.Files

import graft.model.CqlSchema
import graft.operators.Colocated
import graft.write.TokenSortedWriter
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/**
 * Physical-plan quality gates: the properties that decide 100 TB viability,
 * asserted on the actual executed plans so regressions fail loudly.
 */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("pk filter is pushed into the parquet scan (PushedFilters, not post-filter)") {
    val df = graft.tables.Tables.lineitem(spark, sf).filter(col("l_orderkey") === 1L)
    val scanLine = df.queryExecution.executedPlan.toString
    assert(scanLine.contains("PushedFilters:") &&
      scanLine.contains("EqualTo(l_orderkey,1"),
      s"expected pk pushdown in:\n$scanLine")
  }

  test("projection prunes the parquet ReadSchema to selected columns") {
    val df = graft.tables.Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("flagship joins broadcast the dimension side (no shuffle of the fact table for dims)") {
    val plan = graft.queries.Battery.flagship(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("token-sorted write plans exactly ONE exchange total (range partitioning)") {
    import spark.implicits._
    // Round-20 re-tightened gate (round-19 weakened it to ignore ALL hash
    // exchanges, letting any number of hash shuffles creep into the write
    // path unnoticed): the write path plans exactly one exchange — the
    // range+sort shuffle — regardless of input width; the entry fan-out
    // was removed after the driver's 32-core battery showed its second
    // full shuffle costing more than the parallel map side saved.
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    val sorted = TokenSortedWriter.tokenSorted(df, CqlSchema("t", Seq("k")),
      TokenSortedWriter.WriteConf(numPartitions = 4))
    val plan = sorted.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 exchange total, plan:\n$plan")
    assert(plan.contains("rangepartitioning"),
      s"expected range partitioning on token, plan:\n$plan")
  }

  test("operator fan-out: heavy per-row operators widen a starved single-file " +
      "scan; light consumers of the same scan plan no extra exchange") {
    // the starved input: the sf parquet corpus ships as ONE file/row group
    val corpus = graft.tables.Tables.documents(spark, sf)
    // heavy operator (span dedup) fans out: hash exchange present
    val heavy = graft.operators.Dedup.removeDuplicateSpans(
      corpus, "doc_id", "text", k = 10, minCount = 2L)
    val heavyPlan = heavy.queryExecution.executedPlan.toString
    assert(heavyPlan.contains("hashpartitioning"),
      s"expected the operator-local fan-out exchange, plan:\n$heavyPlan")
    // a light projection of the SAME scan stays exchange-free (the
    // round-19 regression: a blanket accessor widen taxed every light
    // consumer with a full hash exchange)
    val light = corpus.select(col("doc_id"), length(col("text")).as("n"))
    val lightPlan = light.queryExecution.executedPlan.toString
    assert(!lightPlan.contains("Exchange"),
      s"light consumer must not pay a fan-out exchange, plan:\n$lightPlan")
  }

  test("Fanout.widen is the identity on non-scan-shaped plans (already " +
      "shuffled/aggregated inputs) and on wide file sets") {
    import spark.implicits._
    val corpus = graft.tables.Tables.documents(spark, sf)
    // aggregated input: parallelism already re-established by the shuffle
    val agged = corpus.groupBy(col("source")).agg(count(lit(1)).as("c"))
    assert(graft.operators.Fanout.widen(agged, Seq(col("source"))) eq agged)
    // repartitioned input: a second widen must not stack another exchange
    val wide = corpus.repartition(spark.sparkContext.defaultParallelism, $"doc_id")
    assert(graft.operators.Fanout.widen(wide, Seq(col("doc_id"))) eq wide)
    // in-memory frame (no file leaves): untouched
    val mem = (1L to 100L).toDF("id")
    assert(graft.operators.Fanout.widen(mem, Seq(col("id"))) eq mem)
  }

  test("DSv2 source reports token pruning in the scan description") {
    val dir = Files.createTempDirectory("graft_plan_").toString + "/t"
    import spark.implicits._
    TokenSortedWriter.write((1L to 500L).map(i => (i, i)).toDF("id", "v"),
      CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
    val df = spark.read.format("graft").option("path", dir).option("pk", "id").load()
      .filter(col("id") === 7L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftScan"), s"expected GraftScan in:\n$plan")
    assert(plan.contains("pushedKeyTokens=1"), s"expected 1 pushed key token in:\n$plan")
    assert(plan.contains("files=1"), s"expected pruning to 1 file in:\n$plan")
  }

  test("exists-defaults keep the plan lean: filters still push, the " +
      "defaulted column rides the requested parquet schema (reader-side " +
      "fill), and token pruning still drops files") {
    val base = Files.createTempDirectory("graft_plan_exd_").toString
    spark.conf.set("spark.sql.catalog.pexd",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pexd.base", base)
    spark.sql("CREATE TABLE pexd.db.t (id BIGINT, v BIGINT) USING graft " +
      "OPTIONS (pk 'id', partitions '4', snapshot 'true')")
    spark.sql("INSERT INTO pexd.db.t SELECT id, id FROM range(1, 401) AS r(id)")
    spark.sql("ALTER TABLE pexd.db.t ADD COLUMNS (tag STRING DEFAULT 'old')")
    val df = spark.table("pexd.db.t")
      .filter(col("id") === 7L).select(col("id"), col("tag"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedKeyTokens=1"),
      s"pk pushdown lost under exists-defaults:\n$plan")
    // the fill happens INSIDE the reader (no engine-side projection): the
    // defaulted column is simply part of the scan's pruned output, and
    // the unprojected `v` is not
    val scanLine = plan.linesIterator.find(_.contains("BatchScan")).getOrElse("")
    val out = scanLine.substring(scanLine.indexOf('['), scanLine.indexOf(']') + 1)
    assert(out.contains("tag") && !out.contains("v#"),
      s"defaulted column must ride the pruned scan output: $scanLine")
    assert(df.collect().map(_.getString(1)).toSeq == Seq("old"))
    // token pruning still plans a subset for the pk point lookup
    val all = graft.sources.TokenPruner.listFiles(spark, s"$base/db/t")
    val kept = graft.sources.TokenPruner.prune(spark, all,
      Array(org.apache.spark.sql.sources.EqualTo("id", 7L)), CqlSchema("t", Seq("id")))
    assert(kept.length < all.length, "token pruning must survive exists-defaults")
  }

  test("a shallow clone's scan token-prunes FOREIGN files: a pk point " +
      "lookup plans a subset of the source-owned file set") {
    val base = Files.createTempDirectory("graft_plan_cln_").toString
    spark.conf.set("spark.sql.catalog.pcln",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pcln.base", base)
    spark.sql("CREATE TABLE pcln.db.s (id BIGINT, v BIGINT) USING graft " +
      "OPTIONS (pk 'id', partitions '4', snapshot 'true')")
    spark.sql("INSERT INTO pcln.db.s SELECT id, id FROM range(1, 401) AS r(id)")
    spark.sql("CALL pcln.system.clone(source => 'db.s', target => 'db.c')")
    val df = spark.table("pcln.db.c").filter(col("id") === 7L)
    // the scan DESCRIPTION carries the planned file count — foreign files
    // admitted with manifest/footer stats must still token-prune
    val desc = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("GraftScan")).getOrElse("")
    val planned = "files=(\\d+)".r.findFirstMatchIn(desc).map(_.group(1).toInt)
    val total = graft.write.Snapshots.files(spark, s"$base/db/c", 1L).length
    assert(planned.exists(p => p > 0 && p < total),
      s"clone scan must prune foreign files (planned=$planned of $total): $desc")
    assert(df.count() == 1L)
  }

  test("ORDER BY pk LIMIT k plans only files that can hold the top-k") {
    val dir = Files.createTempDirectory("graft_topn_").toString + "/t"
    import spark.implicits._
    // four appended batches with disjoint, increasing id windows — the
    // log-table shape: each batch's files share its narrow id range even
    // though tokens spread uniformly
    (0 until 4).foreach { b =>
      TokenSortedWriter.write(
        (b * 250L + 1L to b * 250L + 250L).map(i => (i, i * 2)).toDF("id", "v"),
        CqlSchema("t", Seq("id")), dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    }
    val read = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    def filesPlanned(df: org.apache.spark.sql.DataFrame): Int =
      "files=(\\d+)".r.findFirstMatchIn(df.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).getOrElse(-1)
    // latest-k: only the newest batch's 2 files can contribute
    val latest = read.orderBy(col("id").desc).limit(5)
    assert(filesPlanned(latest) == 2,
      s"top-5 by id desc over 8 files must plan 2, got ${filesPlanned(latest)}")
    assert(latest.collect().map(_.getLong(0)).toSeq == (996L to 1000L).reverse)
    // ascending: the oldest batch
    val first = read.orderBy(col("id")).limit(5)
    assert(filesPlanned(first) == 2)
    assert(first.collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // any filter disables the truncation (stats no longer bound matches)
    val filtered = read.filter(col("v") > 100L).orderBy(col("id")).limit(5)
    assert(filesPlanned(filtered) == 8,
      s"filtered top-k must keep all files, got ${filesPlanned(filtered)}")
    assert(filtered.collect().map(_.getLong(0)).toSeq == (51L to 55L))
    // non-pk ordering is refused (nullable stats cannot bound NULLS FIRST)
    assert(filesPlanned(read.orderBy(col("v")).limit(5)) == 8)
    // multi-column ordering prunes on the leading pk column alone
    val multi = read.orderBy(col("id").desc, col("v").asc).limit(5)
    assert(filesPlanned(multi) == 2, s"leading-column bound must prune, got ${filesPlanned(multi)}")
    assert(multi.collect().map(_.getLong(0)).toSeq == (996L to 1000L).reverse)
    // a non-pk LEADING column refuses even with a pk tie-break
    assert(filesPlanned(read.orderBy(col("v"), col("id")).limit(5)) == 8)
  }

  test("LIMIT over an unfiltered graft scan plans only enough files to cover it") {
    val dir = Files.createTempDirectory("graft_limit_").toString + "/t"
    import spark.implicits._
    TokenSortedWriter.write((1L to 1000L).map(i => (i, i)).toDF("id", "v"),
      CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
    val read = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    val limited = read.limit(5)
    val plan = limited.queryExecution.executedPlan.toString
    assert("files=(\\d+)".r.findFirstMatchIn(plan).map(_.group(1).toInt).contains(1),
      s"limit 5 over 4 files (250 rows each) must plan exactly 1 file:\n$plan")
    assert(limited.count() == 5L, "the limit itself still applies")
    // a filtered limit keeps every candidate file (row counts no longer bound matches)
    val filteredPlan = read.filter(col("v") > 900L).limit(5)
      .queryExecution.executedPlan.toString
    assert("files=(\\d+)".r.findFirstMatchIn(filteredPlan).map(_.group(1).toInt).contains(4),
      s"filtered limit must not truncate the file list:\n$filteredPlan")
    assert(read.filter(col("v") > 900L).limit(5).count() == 5L)
  }

  test("unfiltered COUNT(*)/MIN/MAX answer from planning metadata (no data scan)") {
    val dir = Files.createTempDirectory("graft_cnt_").toString + "/t"
    import spark.implicits._
    TokenSortedWriter.write((1L to 1234L).map(i => (i, i + 7, s"s$i")).toDF("id", "v", "s"),
      CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))
    val read = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    assert(read.count() == 1234L)
    val plan = read.groupBy().count().queryExecution.executedPlan.toString
    assert(plan.contains("GraftStatsScan"),
      s"plain count(*) must plan the metadata-only scan:\n$plan")
    // min/max over integral stats-covered columns join the metadata path
    val mm = read.agg(min(col("id")), max(col("v")), count(lit(1)))
    assert(mm.queryExecution.executedPlan.toString.contains("GraftStatsScan"))
    assert(mm.head() == org.apache.spark.sql.Row(1L, 1241L, 1234L))
    // a STRING min is not stats-answerable -> whole query falls back
    val sm = read.agg(min(col("s")), count(lit(1)))
    assert(!sm.queryExecution.executedPlan.toString.contains("GraftStatsScan"))
    assert(sm.head().getString(0) == "s1")
    // any filter disables it — counting then needs the data
    val filtered = read.filter(col("v") > 1007L)
    assert(filtered.count() == 234L)
    val fplan = filtered.groupBy().count().queryExecution.executedPlan.toString
    assert(!fplan.contains("GraftStatsScan") && fplan.contains("GraftScan"),
      s"filtered count must read data:\n$fplan")
    // grouped counts are not eligible either
    val gplan = read.groupBy(col("id")).count().queryExecution.executedPlan.toString
    assert(!gplan.contains("GraftStatsScan"))
  }

  test("dir-partitioned layout: pushed filter prunes whole directories in the executed plan") {
    val dir = Files.createTempDirectory("graft_plandir_").toString + "/t"
    import spark.implicits._
    TokenSortedWriter.write(
      (1L to 2000L).map(i => (i, Seq("a", "b", "c", "d")((i % 4).toInt), i)).toDF("id", "cat", "v"),
      CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
        partitionBy = Seq("cat")))
    val read = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    val total = graft.sources.TokenPruner.listFiles(spark, dir).length
    val plan = read.filter(col("cat") === "b")
      .queryExecution.executedPlan.toString
    // the scan description counts planned files: a cat filter must plan
    // strictly fewer than the whole table, and only cat=b directories
    val filesRe = "files=(\\d+)".r
    val planned = filesRe.findFirstMatchIn(plan).map(_.group(1).toInt)
    assert(planned.exists(n => n > 0 && n < total),
      s"dir pruning should plan fewer than $total files, got $planned in:\n$plan")
    // correctness under the pruning
    assert(read.filter(col("cat") === "b").count() == 500L)
    // the clustered no-shuffle property survives WITHIN one directory
    val one = spark.read.format("graft")
      .option("path", dir).option("pk", "id").option("clustered", "true").load()
      .filter(col("cat") === "b")
      .groupBy(col("id")).agg(sum(col("v")).as("s"))
    val p2 = one.queryExecution.executedPlan.toString
    assert(!p2.contains("Exchange"),
      s"dir-pruned scan covers one directory's disjoint files; groupBy(pk) must not shuffle:\n$p2")
    assert(one.count() == 500L)
  }

  test("clustered graft scan: groupBy(pk) plans NO exchange; overlapping layout falls back") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_clus_").toString + "/t"
    val df = (1L to 2000L).map(i => (i, i % 7, s"v$i")).toDF("id", "grp", "v")
    TokenSortedWriter.write(df, CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true))

    val clustered = spark.read.format("graft")
      .option("path", dir).option("pk", "id").option("clustered", "true").load()
    val agg = clustered.groupBy(col("id")).agg(sum(col("grp")).as("s"), max(col("v")).as("m"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy(pk) over disjoint token layout must not shuffle:\n$plan")
    // and the aggregation is still correct without the exchange
    assert(agg.count() == 2000L)
    assert(agg.filter(col("id") === 14L).select("s").as[Long].head() == 0L)

    // a second append overlaps the token ranges -> the claim must vanish
    TokenSortedWriter.write(df.filter($"id" <= 100L), CqlSchema("t", Seq("id")), dir,
      SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true))
    val overlapping = spark.read.format("graft")
      .option("path", dir).option("pk", "id").option("clustered", "true").load()
    val plan2 = overlapping.groupBy(col("id")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan2.contains("Exchange"),
      s"overlapping multi-append layout must keep the shuffle:\n$plan2")

    // without the option the default read keeps split parallelism + exchange
    val plain = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    val plan3 = plain.groupBy(col("id")).agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(plan3.contains("Exchange"))
  }

  test("compactInPlace restores the clustered no-shuffle agg (q146 plan gate)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cmpip_plan_").toString + "/t"
    val schema = CqlSchema("t", Seq("id"))
    val df = (1L to 2000L).map(i => (i, i % 7)).toDF("id", "grp")
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    TokenSortedWriter.write(df.filter($"id" <= 200L), schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))
    def aggPlan(): String = spark.read.format("graft")
      .option("path", dir).option("pk", "id").option("clustered", "true").load()
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    // overlapping generations disqualify the claim...
    assert(aggPlan().contains("Exchange"))
    TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 4))
    // ...and the in-place fold restores it: disjoint files, zero exchange
    val after = aggPlan()
    assert(!after.contains("Exchange"),
      s"post-compactInPlace groupBy(pk) must not shuffle:\n$after")
  }

  test("readNormalized over a single-write layout plans ZERO exchanges (LWW included)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_norm_clus_").toString + "/t"
    val schema = CqlSchema("t", Seq("k"), Seq("c"))
    val df = (1L to 1000L).map(i => (i % 100, i, s"v$i")).toDF("k", "c", "v")
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 4, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    val out = TokenSortedWriter.readNormalized(spark, schema, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"normalized read over disjoint layout must not shuffle for LWW:\n$plan")
    assert(out.count() == 1000L)
  }

  test("clustered scan result equals unclustered result (values, not just counts)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_clus_eq_").toString + "/t"
    val df = (1L to 999L).map(i => (i, s"p${i % 13}", i * 1.5)).toDF("id", "tag", "x")
    TokenSortedWriter.write(df, CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 3, keepTokenColumn = true))
    def agg(clustered: Boolean) = spark.read.format("graft")
      .option("path", dir).option("pk", "id").option("clustered", clustered.toString).load()
      .groupBy(col("id")).agg(sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
        min(col("tag")).as("t"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).sortBy(_._1).toSeq
    assert(agg(clustered = true) == agg(clustered = false))
  }

  test("an unmanifested impostor part file never earns a nominal ring stamp: " +
      "the stamp must be TRUE of the file's tokens, not just of its name") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ringstamp_").toString + "/t"
    TokenSortedWriter.write((1L to 4000L).map(i => (i, i)).toDF("k", "v"),
      CqlSchema("t", Seq("k")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(ringSplits = 4, keepTokenColumn = true))
    assert(Colocated.nominalRanges(spark, dir).get.length == 4)
    // a crashed PLAIN write's leftover also matches part-NNNNN: forge one
    // by copying split 0's file under an index-1 name — its tokens are
    // NOT inside split 1's range, so stamping it would let nominalRanges
    // "prove" co-partitioning that the bytes contradict (and a
    // zero-shuffle zip join would silently mis-join)
    val fsx = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val split0 = fsx.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath).find(_.getName.startsWith("part-00000"))
      .getOrElse(fail("no split-0 file"))
    val impostor = new org.apache.hadoop.fs.Path(dir, "part-00001-impostor.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fsx, split0, fsx, impostor, false,
      spark.sessionState.newHadoopConf())
    graft.write.Manifest.appendFor(spark, dir, Seq(impostor.toString), Some(4))
    graft.sources.TokenPruner.invalidateListing(dir)
    val metas = graft.sources.TokenPruner.listFiles(spark, dir)
    assert(metas.exists(_.path.endsWith("part-00001-impostor.parquet")),
      "impostor must still get a manifest row (stats are fine, stamps are not)")
    assert(metas.filter(_.path.contains("impostor")).forall(_.ringSplit.isEmpty),
      "impostor earned a nominal ring stamp its tokens do not satisfy")
    // with one live file unstamped, co-location is correctly DISproved
    assert(Colocated.nominalRanges(spark, dir).isEmpty)
  }

  test("co-located join: same-ring-split tables zip partitions with zero shuffle") {
    import spark.implicits._
    def write(dir: String, rows: Seq[(Long, Long)], splits: Int): Unit =
      TokenSortedWriter.write(rows.toDF("k", "v"), CqlSchema("t", Seq("k")), dir,
        SaveMode.Append,
        TokenSortedWriter.WriteConf(ringSplits = splits, keepTokenColumn = true))
    val dirA = Files.createTempDirectory("graft_coloc_a_").toString + "/a"
    val dirB = Files.createTempDirectory("graft_coloc_b_").toString + "/b"
    val dirC = Files.createTempDirectory("graft_coloc_c_").toString + "/c"
    // duplicate keys on both sides exercise the group cross-product
    write(dirA, (1L to 5000L).map(i => (i, i * 2)) ++ Seq((7L, 777L)), splits = 4)
    write(dirB, (1L to 3000L).map(i => (i, i * 3)) ++ Seq((7L, 999L)), splits = 4)
    write(dirC, (1L to 3000L).map(i => (i, i * 5)), splits = 8)
    val sk = CqlSchema("t", Seq("k"))

    // nominal ranges recorded at write time and equal across same-split tables
    assert(Colocated.nominalRanges(spark, dirA).get.length == 4)
    assert(Colocated.nominalRanges(spark, dirA) == Colocated.nominalRanges(spark, dirB))
    assert(Colocated.nominalRanges(spark, dirA) != Colocated.nominalRanges(spark, dirC))

    val j = Colocated.join(spark, dirA, sk, dirB, sk)
    // zero shuffle: the RDD lineage has no ShuffledRDD anywhere
    assert(!j.rdd.toDebugString.contains("ShuffledRDD"),
      s"co-located join must not shuffle:\n${j.rdd.toDebugString}")
    val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val want = spark.read.parquet(dirA).select("k", "v")
      .join(spark.read.parquet(dirB).select(col("k"), col("v").as("v2")), "k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq == want.toSeq)
    assert(got.count(_._1 == 7L) == 4) // 2 left x 2 right versions of key 7

    // mismatched splits: provably-not-colocated -> planner fallback, same values
    val j2 = Colocated.join(spark, dirA, sk, dirC, sk)
    val want2 = spark.read.parquet(dirA).select("k", "v")
      .join(spark.read.parquet(dirC).select(col("k"), col("v").as("v2")), "k")
    assert(j2.count() == want2.count())
  }

  test("broadcast join injects a runtime filter that prunes graft files to the matched token") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dpp_").toString + "/t"
    TokenSortedWriter.write((1L to 10000L).map(i => (i, i % 7)).toDF("id", "v"),
      CqlSchema("t", Seq("id")), dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 8, keepTokenColumn = true))
    val fact = spark.read.format("graft").option("path", dir).option("pk", "id").load()
    // dim must be a file-backed relation with a selective filter for Spark's
    // DPP heuristic (a constant-folded LocalRelation is deemed unselective)
    val dimDir = Files.createTempDirectory("graft_dpp_dim_").toString + "/dim"
    (1L to 5L).map(i => (i, s"d$i")).toDF("did", "name").write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter(col("name") === "d3")
    val j = fact.join(dim, col("id") === col("did"))
    assert(j.collect().map(r => r.getLong(0)).toSeq == Seq(3L))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"expected a runtime filter on the graft scan:\n$plan")
    assert(plan.contains("files=1"),
      s"runtime pk values must token-prune the file list:\n$plan")
  }

  test("LSH candidate generation shuffles ids+band keys only, never document text") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val sigs = docs.select(col("doc_id").as("id"),
      graft.operators.Dedup.minhashSignature(
        graft.operators.Dedup.shingleHashes(col("text"), 3), 64).as("sig"))
    val pairs = graft.operators.Dedup.candidatePairs(sigs, 16, 4)
    val plan = pairs.queryExecution.executedPlan.toString
    // exchanges must not carry the text column
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text"), s"text column in shuffle:\n$exchangeLines")
  }

  test("vocab top-k plans TakeOrderedAndProject with partial agg — never a global sort") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Vocab.topTerms(docs, "doc_id", "text", 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
    assert(!plan.linesIterator.exists(l => l.trim.startsWith("+- Sort") || l.trim.startsWith("Sort ")),
      s"global sort in top-k plan:\n$plan")
    // map-side partial aggregation before the one exchange
    val firstAgg = plan.linesIterator.toSeq.reverse.find(_.contains("HashAggregate")).getOrElse("")
    assert(firstAgg.contains("partial_count"), s"expected partial agg below the exchange:\n$plan")
  }

  test("streamed WebDataset sample assembly: one exchange, map-side partial agg") {
    import org.apache.spark.sql.functions.{col, count, lit, sum, length => blen}
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_wds_").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s0.tar"),
      graft.functions.ArchiveCodec.tar(Seq(
        ("000001.jpg", Array.fill[Byte](9)(1)), ("000001.txt", Array.fill[Byte](3)(2)))))
    val agg = graft.sources.TarShards.readWebDataset(spark, dir + "/*")
      .groupBy(col("shard"), col("sample_key"))
      .agg(count(lit(1)), sum(blen(col("payload"))))
    val plan = agg.queryExecution.executedPlan.toString
    // one shuffle (the sample groupBy) and nothing upstream of it: the
    // member payloads themselves never shuffle — only the grouped columns
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 1, s"expected exactly 1 shuffle, plan:\n$plan")
    val partial = plan.linesIterator.toSeq.reverse
      .find(_.contains("HashAggregate")).getOrElse("")
    assert(partial.contains("partial"), s"expected map-side partial agg:\n$plan")
  }

  test("inventory/fetch plans: one-exchange shard agg; fetch shuffles only the selection") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_inv_").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s0.tar"),
      graft.functions.ArchiveCodec.tar(Seq(
        ("000001.jpg", Array.fill[Byte](9)(1)), ("000001.txt", Array.fill[Byte](3)(2)))))
    val inv = graft.sources.TarShards.inventory(spark, dir + "/*")
    val aggPlan = inv.groupBy(col("shard"))
      .agg(count(lit(1)), sum(col("member_size")))
      .queryExecution.executedPlan.toString
    assert(aggPlan.linesIterator.count(_.contains("Exchange")) == 1,
      s"inventory agg should shuffle once:\n$aggPlan")
    // fetch: exactly the ONE repartition-by-shard exchange — member
    // payloads enter the plan only AFTER it, via positioned reads
    val fetchPlan = graft.sources.TarShards.fetchMembers(
        inv.filter(col("member_name").endsWith(".jpg")))
      .queryExecution.executedPlan.toString
    assert(fetchPlan.linesIterator.count(_.contains("Exchange")) == 1,
      s"fetch should shuffle only the selection rows:\n$fetchPlan")
  }

  test("PII redaction is pure codegen: zero exchanges, one WholeStageCodegen span") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Pii.redact(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"PII pass must not shuffle:\n$plan")
    // codegen'd operators carry the "*(n)" stage marker in the plan string
    assert(plan.linesIterator.next().trim.startsWith("*("),
      s"PII pass fell out of codegen:\n$plan")
  }

  test("round-7 per-row operators are pure codegen: zero exchanges") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val docs = graft.tables.Tables.documents(spark, sf)
    // HTML strip
    val strip = graft.operators.TextAnalysis.withStrippedHtml(
      docs.withColumn("html", concat(lit("<p>"), col("text"), lit("</p>"))), "html")
      .queryExecution.executedPlan.toString
    assert(!strip.contains("Exchange"), s"stripHtml must not shuffle:\n$strip")
    assert(strip.linesIterator.next().trim.startsWith("*("),
      s"stripHtml fell out of codegen:\n$strip")
    // URL parts
    val urls = graft.operators.Urls.withUrlParts(
      docs.withColumn("url",
        concat(lit("https://www.example"), col("doc_id"), lit(".com/a"))), "url")
      .queryExecution.executedPlan.toString
    assert(!urls.contains("Exchange"), s"withUrlParts must not shuffle:\n$urls")
    // epoch upsampling: explode stays in-stage, no shuffle
    val up = graft.operators.Sampling.upsampleSources(
      docs, "source", Seq("doc_id"), Map("src0" -> 2.5, "src1" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(!up.contains("Exchange"), s"upsampleSources must not shuffle:\n$up")
    assert(up.contains("Generate"), s"expected in-stage explode in:\n$up")
  }

  test("approx profiling plans one pass: no Expand, no multi-distinct") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val approx = graft.operators.Profiling.summarize(
      docs, Seq("doc_id", "source"), exactDistinct = false)
      .queryExecution.executedPlan.toString
    assert(!approx.contains("Expand"), s"approx profile must not Expand:\n$approx")
    val exact = graft.operators.Profiling.summarize(docs, Seq("doc_id", "source"))
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"), // the documented multi-distinct shape
      s"exact profile should use the Expand multi-distinct plan:\n$exact")
  }

  test("chunking is pure codegen: zero exchanges, explode stays in-stage") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Chunking.chunk(docs, Seq("doc_id"), "text", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
    assert(plan.contains("Generate"), s"expected codegen explode in:\n$plan")
  }

  test("prefix-blocked fuzzy join plans an equi-join, not a nested-loop cross product") {
    import spark.implicits._
    val names = (1L to 500L).map(i => (i, s"name-$i-suffix")).toDF("id", "name")
    val plan = graft.operators.Fuzzy
      .selfJoinByEditDistance(names, "id", "name", maxDist = 1, blockPrefix = 6)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join on the blocking key:\n$plan")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"fuzzy join fell back to a cross product:\n$plan")
  }

  test("reproducible shuffle is one hash exchange (per-shard sort, never global)") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Sampling.shuffleOrder(docs, Seq("doc_id"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected exactly one exchange:\n$plan")
    assert(exchanges.head.contains("hashpartitioning"),
      s"shard exchange must be hash, not range (global sort):\n${exchanges.head}")
  }

  test("line dedup: corpus side never shuffles; frequent set arrives by broadcast") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Dedup.dropFrequentLines(docs, "doc_id", "text", minDocs = 50L)
      .queryExecution.executedPlan.toString
    // the only exchanges allowed are the 8-byte hash-frequency aggregation
    // (hash exchange + its single-partition collect_list); the document rows
    // themselves reach the output through a broadcast join, unexchanged
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"frequent set must broadcast:\n$plan")
    val exchanges = plan.linesIterator.filter(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
    assert(exchanges.forall(e => e.contains("hashpartitioning") || e.contains("SinglePartition")),
      s"corpus rows must not range/shuffle beyond the hash-frequency agg:\n$plan")
    // no Sort / no Generate on the output side: docs are never exploded
    val afterJoin = plan.substring(0, plan.indexOf("Join") max 0)
    assert(!afterJoin.contains("Generate"),
      s"document rows must not be exploded on the output path:\n$plan")
  }

  test("line dedup guard: oversized frequent set joins instead of broadcasting one row") {
    // every doc shares a boilerplate line -> the frequent set is non-empty,
    // so maxBroadcastLines = 0 forces the guard branch
    val docs = spark.range(20)
      .selectExpr("id AS doc_id", "concat('BOILER\\n', 'body ', id) AS text")
    val plan = graft.operators.Dedup.dropFrequentLines(
        docs, "doc_id", "text", minDocs = 2L, maxBroadcastLines = 0L)
      .queryExecution.executedPlan.toString
    // the single-row collect_list array must NOT appear anywhere — that is
    // the construct that OOMs on an adversarial frequent set
    assert(!plan.contains("collect_list") && !plan.contains("__graft_freq_lines"),
      s"guard path must not collapse the frequent set to one row:\n$plan")
    // membership arrives as per-document hit arrays through a real join
    assert(plan.contains("__graft_doc_freq"), s"per-doc membership expected:\n$plan")
  }

  test("gopher rule flags are pure codegen: zero exchanges") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.TextAnalysis.withGopherFlags(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher flags must not shuffle:\n$plan")
    assert(plan.linesIterator.next().trim.startsWith("*("),
      s"gopher flags fell out of codegen:\n$plan")
  }

  test("domain blocklist plans broadcast anti-joins, never a nested-loop product") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .withColumn("url", concat(lit("https://example"),
        (col("doc_id") % 40).cast("string"), lit(".com/p/"),
        col("doc_id").cast("string")))
    val plan = graft.operators.Urls.dropBlockedDomains(docs, "url",
        Seq("example7.com", "bad.example8.com"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"blocklist must arrive by broadcast:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"blocklist membership must be equi-joins:\n$plan")
    // the only hash exchange is the tiny list's own distinct(); the corpus
    // (text/doc_id) never enters one
    val exchangeLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).mkString("\n")
    assert(!exchangeLines.contains("text") && !exchangeLines.contains("doc_id"),
      s"corpus shuffled for a broadcast membership test:\n$exchangeLines")
  }

  test("span dedup shuffles positioned gram hashes only, never document text") {
    val docs = spark.range(30).selectExpr("id AS doc_id",
      "concat('shared prefix tokens here words ', id) AS text")
    val plan = graft.operators.Dedup.removeDuplicateSpans(
        docs, "doc_id", "text", k = 3)
      .queryExecution.executedPlan.toString
    // the gram-count stage runs eagerly inside the operator (the hit list
    // is localCheckpoint'd), so the returned plan shows only the rewrite:
    // the checkpointed (id, starts) table must arrive by BROADCAST and the
    // corpus text must never enter an exchange
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exchangeLines.contains("text"), s"text column in shuffle:\n$exchangeLines")
    assert(plan.contains("BroadcastHashJoin"),
      s"hit list should broadcast back onto the corpus:\n$plan")
  }

  test("stratified sampling plans exactly one hash exchange on the stratum") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.Sampling.sampleFractionPerGroup(
        docs, Seq("lang"), Seq("doc_id"), 0.3)
      .queryExecution.executedPlan.toString
    val hashExchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges === 1,
      s"expected ONE stratum exchange, got $hashExchanges:\n$plan")
  }

  test("image metadata decode is pure codegen: zero exchanges") {
    val docs = graft.tables.Tables.documents(spark, sf)
      .withColumn("blob", col("text").cast("binary"))
    val plan = graft.operators.Multimodal.withImageDims(
        graft.operators.Multimodal.withBlobMetadata(docs, "blob"), "blob")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"metadata decode must not shuffle:\n$plan")
    // '*(n)' marks WholeStageCodegen spans in the executed-plan string
    assert(plan.linesIterator.next().startsWith("*("), s"expected codegen span in:\n$plan")
  }

  test("linear quality scorer: literal-map path is pure codegen, zero exchanges") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.TextAnalysis.scoreLinear(
        docs, "text",
        Map("the" -> 2.0, "scan" -> -1.0, "spark" -> 3.0), bias = 0.25)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"plan-literal model must score at scan speed, no shuffle:\n$plan")
    // the join strategy broadcasts the model, never shuffles the corpus
    val big = graft.operators.TextAnalysis.scoreLinearJoin(
        docs, "doc_id", "text",
        Map("the" -> 2.0, "scan" -> -1.0, "spark" -> 3.0), bias = 0.25)
      .queryExecution.executedPlan.toString
    assert(big.contains("BroadcastExchange"),
      s"join-strategy model must broadcast:\n$big")
    val exchangeLines = big.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .mkString("\n")
    assert(!exchangeLines.contains("text"),
      s"corpus text in a shuffle of the join-strategy scorer:\n$exchangeLines")
  }

  test("Gopher repetition battery: per-row expressions only, zero exchanges") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val plan = graft.operators.TextAnalysis.withRepetitionFlags(docs, "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition metrics must run at scan speed, no shuffle:\n$plan")
  }

  test("PQ ANN: no shuffle ever carries a float vector — narrow tuples only") {
    import spark.implicits._
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i + j) % 7).toFloat))).toDF("vec_id", "embedding")
    val cb = graft.operators.Similarity.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 2, ksub = 4, iters = 1)
    val plan = graft.operators.Similarity.pqTopK(
        vecs, vecs.filter(col("vec_id") < 2L), "vec_id", "embedding", k = 3, cb)
      .queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .mkString("\n")
    assert(!shuffles.contains("vec") && !shuffles.contains("embedding"),
      s"vector column in a PQ shuffle:\n$shuffles")
  }

  test("PQ ANN: ADC rank filter plans WindowGroupLimit (local top-k before exchange)") {
    import spark.implicits._
    val vecs = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(j => ((i + j) % 7).toFloat))).toDF("vec_id", "embedding")
    val cb = graft.operators.Similarity.trainPqCodebooks(
      vecs, "vec_id", "embedding", m = 2, ksub = 4, iters = 1)
    val plan = graft.operators.Similarity.pqTopK(
        vecs, vecs.filter(col("vec_id") < 2L), "vec_id", "embedding", k = 3, cb)
      .queryExecution.executedPlan.toString
    // both rank windows (ADC candidate cut and final exact-rescore cut) must
    // run a partial per-partition top-k BEFORE their exchange, so the shuffle
    // carries at most k·rescoreFactor rows per query per map partition — the
    // property that keeps the n·q scored set from ever being globally sorted
    val partials = plan.linesIterator.count(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partials >= 2,
      s"expected partial WindowGroupLimit for both rank cuts, got $partials:\n$plan")
  }

  test("BM25: rank cut plans partial WindowGroupLimit; query terms broadcast") {
    import spark.implicits._
    val corpus = (0L until 200L).map(i => (i, s"w${i % 11} w${i % 7} w${i % 5} common"))
      .toDF("doc_id", "text")
    val qs = Seq((0L, "w1 common"), (1L, "w2 w3")).toDF("query_id", "qtext")
    val plan = graft.operators.Vocab.bm25TopK(
        corpus, "doc_id", "text", qs, "query_id", "qtext", k = 5)
      .queryExecution.executedPlan.toString
    // the top-k per query must cut per-partition before its exchange — the
    // scored (query, doc) set is never globally sorted
    assert(plan.linesIterator.exists(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial")),
      s"expected partial WindowGroupLimit for the BM25 rank cut:\n$plan")
    // the query-term join must arrive by broadcast: the corpus tf table
    // never shuffles on the term join
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast query-term join:\n$plan")
  }

  test("DSIR importance weighting: plan-literal models, zero exchanges on candidates") {
    // a range source, not a local Seq: a LocalRelation would be folded into
    // one LocalTableScan and leave nothing to gate
    val corpus = spark.range(50L).select(col("id").as("doc_id"),
      concat(lit("w"), (col("id") % 7).cast("string"), lit(" w"),
        (col("id") % 5).cast("string"), lit(" common")).as("text"))
    val target = graft.operators.CountLm.train(corpus.filter(col("doc_id") < 10L), "text")
    val raw = graft.operators.CountLm.train(corpus, "text")
    // (name kept from the plan-literal era: the models now ride as one
    // broadcast each into a per-row probe, for every model size)
    for (df <- Seq(
        graft.operators.CountLm.importanceWeights(corpus, "doc_id", "text", target, raw),
        graft.operators.CountLm.score(corpus, "doc_id", "text", raw))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"LM scoring must run at scan speed:\n$plan")
      assert(plan.contains("lm_probe"), s"expected the native probe:\n$plan")
    }
  }

  test("CountLm vocab cap: TakeOrderedAndProject, never a single-partition window") {
    import spark.implicits._
    val counts = (0 until 500).map(i => (s"t$i", (i % 9).toLong + 1L))
      .toDF("term", "cnt").repartition(8)
    val plan = graft.operators.CountLm.capTopK(counts, "term", 100)
      .queryExecution.executedPlan.toString
    // the head cut must be the per-partition bounded-priority-queue plan:
    // no global Window rank, no exchange of the full count table into one
    // partition — the round-9 scale-killer this gate pins shut
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the vocab cap:\n$plan")
    assert(!plan.contains("Window"),
      s"vocab cap must not plan a global Window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"vocab cap must not exchange the count table into one partition:\n$plan")
  }

  test("JL projection is a pure map: zero exchanges on either physical path") {
    import spark.implicits._
    val df = (0L until 50L).map(i => (i, Array.fill(16)(i.toFloat)))
      .toDF("vec_id", "embedding")
    for (threshold <- Seq(16 * 4, 1)) { // unrolled branch, then HOF branch
      val plan = graft.operators.Similarity
        .randomProject(df, "embedding", inDim = 16, outDim = 4,
          unrollMaxTerms = threshold)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"projection must not shuffle (threshold=$threshold):\n$plan")
    }
  }

  test("meanVectors: no exchange ever carries the vector column") {
    import spark.implicits._
    val df = (0L until 60L).map(i => (i, s"g${i % 3}", Array.fill(8)(i.toFloat)))
      .toDF("id", "grp", "vec").repartition(4)
    val plan = graft.operators.Similarity.meanVectors(df, Seq("grp"), "vec", 8)
      .queryExecution.executedPlan.toString
    // the vector explodes to narrow (key, pos, decimal) rows BEFORE any
    // shuffle: every Exchange line must be free of the vec attribute
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(l => !l.contains("vec#")),
      s"an exchange carries the whole vector:\n$plan")
    // and the per-(key,pos) aggregation is map-side combined (partial agg)
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      s"expected partial aggregation before the shuffle:\n$plan")
  }

  test("diffRows: pk-keyed equi-join of two pinned scans, never a nested-loop product") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_diff_").toString + "/t"
    val schema = CqlSchema("t", Seq("id"))
    def w(ids: Range): Unit = TokenSortedWriter.write(
      ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload"), schema, dir,
      org.apache.spark.sql.SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, snapshot = true))
    w(0 until 50); w(50 until 60)
    val plan = TokenSortedWriter.diffRows(spark, schema, dir, 1L, 2L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"diff must be a keyed equi-join:\n$plan")
    assert(plan.contains("FullOuter"), s"expected a full outer join:\n$plan")
  }

  test("PageRank final rank is distributed: never a single-partition window") {
    import spark.implicits._
    val edges = (0L until 400L).map(i => (i % 100, (i * 7 + 3) % 100))
      .toDF("src", "dst").repartition(8)
    val got = graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 2)
    // the ranked output rides takeByBudget's range-exchange layout — an
    // un-partitioned row_number window (the round-11 scale-killer this
    // gate pins shut) would collapse EVERY vertex into one partition
    val perPart = got.rdd
      .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size)))
      .collect().filter(_._2 > 0)
    assert(perPart.length > 1,
      s"all ${got.count()} ranked vertices landed in one partition: " +
        s"${perPart.mkString(",")} — the rank is not distributed")
    // and the range machinery it delegates to never plans SinglePartition
    val ranged = (0L until 500L).map(i => (i, i % 7)).toDF("v", "pr").repartition(8)
      .repartitionByRange(32, col("pr").desc, col("v").asc)
      .sortWithinPartitions(col("pr").desc, col("v").asc)
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning") &&
      !plan.contains("Exchange SinglePartition"),
      s"rank layout must be a range exchange:\n$plan")
  }

  test("renamed-column filters translate into the parquet scan (colmap pushdown)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmap_").toString + "/t"
    graft.write.TokenSortedWriter.write(
      (1L to 500L).map(i => (i, i * 3)).toDF("id", "v"),
      graft.model.CqlSchema("t", Seq("id")), dir,
      org.apache.spark.sql.SaveMode.Append,
      graft.write.TokenSortedWriter.WriteConf(numPartitions = 2))
    // read the physically-named files through a logical rename v→val
    val t = spark.read.format("graft").option("path", dir)
      .option("pk", "id").option("colmap", "val=v")
      .schema("id BIGINT, val BIGINT").load()
    // end-to-end: the logical filter resolves against physical files
    assert(t.filter(col("val") > 750L).count() == 250L)
    assert(t.filter(col("val") === 300L).select(col("id")).head().getLong(0) == 100L)
    // the translator itself: names move, values don't, composites recurse,
    // unknown shapes referencing mapped columns DROP (pushdown is
    // best-effort; residual re-eval keeps correctness)
    import org.apache.spark.sql.sources._
    val m = Map("val" -> "v")
    assert(graft.sources.GraftDataSource.renameFilters(
      Array[Filter](GreaterThan("val", 750L), EqualTo("id", 1L)), m).toSeq ==
      Seq(GreaterThan("v", 750L), EqualTo("id", 1L)))
    assert(graft.sources.GraftDataSource.renameFilter(
      And(Or(IsNull("val"), In("val", Array(1L))), Not(LessThan("val", 0L))), m) ==
      Some(And(Or(IsNull("v"), In("v", Array(1L))), Not(LessThan("v", 0L)))))
    assert(graft.sources.GraftDataSource.renameFilter(
      AlwaysTrue, m).contains(AlwaysTrue), "shapes not referencing mapped cols pass")
  }

  test("pixel/sample expressions stay in WholeStageCodegen, zero exchanges") {
    val blob = col("text").cast("binary")
    val df = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.operators.Dedup.imageAHash(blob).as("ah"),
        graft.functions.ImageResize(blob, 8, 8).as("thumb"),
        graft.functions.VideoFrames(blob).as("nf"),
        graft.functions.AudioStats(blob, 100).as("st"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix is the WholeStageCodegen stage marker
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"projection fell out of whole-stage codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"a per-row projection must not shuffle:\n$plan")
    // and the generated code actually compiles and runs (all-null results
    // for text bytes — undecodable is data)
    assert(df.collect().forall(r =>
      r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4)))
  }

  test("round-16 container/subtitle expressions stay in codegen, zero exchanges") {
    val blob = col("text").cast("binary")
    val df = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Mp3MetaExpr(blob).as("m3"),
        graft.functions.FlacMetaExpr(blob).as("fl"),
        graft.functions.OggMetaExpr(blob).as("og"),
        graft.functions.MkvMetaExpr(blob).as("mk"),
        graft.functions.AudioSHash(blob).as("sh"),
        graft.functions.VideoKeyframes(blob, 8).as("kf"),
        graft.functions.SubtitleCuesExpr(col("text"), true).as("cues"),
        graft.functions.Id3TagsExpr(blob).as("id3"),
        graft.functions.NpyMetaExpr(blob).as("npy"),
        graft.functions.ImageStatsExpr(blob).as("ist"),
        graft.functions.TarEntriesExpr(blob).as("tar"),
        graft.functions.ZipEntriesExpr(blob).as("zip"),
        graft.functions.GunzipExpr(blob, 1 << 20).as("gz"),
        graft.functions.SafetensorsExpr(blob).as("st"),
        graft.functions.TfRecordEntriesExpr(blob).as("tfr"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"projection fell out of whole-stage codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"a per-row projection must not shuffle:\n$plan")
    // prose bytes are undecodable in every container format -> null; the
    // VTT-gated cue parse is null too (no WEBVTT signature in the corpus)
    assert(df.collect().forall(r => (1 to 15).forall(r.isNullAt)))
  }

  test("round-18/19 zip/FLAC-seek/ogg-seek expressions stay in codegen, zero exchanges") {
    val blob = col("text").cast("binary")
    val df = graft.tables.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.ZipMemberExpr(blob, lit("arr_0.npy"), 1 << 20).as("zm"),
        graft.functions.FlacSeekpointsExpr(blob, 64).as("sp"),
        graft.functions.FlacPcmFromExpr(blob, lit(0L), lit(0L), 1 << 20).as("pf"),
        graft.functions.OggPagepointsExpr(blob, 64).as("og"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"projection fell out of whole-stage codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"a per-row projection must not shuffle:\n$plan")
    assert(df.collect().forall(r => (1 to 4).forall(r.isNullAt)))
  }

  test("graft-tar member predicates push into the shard walk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_tarpush_").toString
    val shard = graft.functions.ArchiveCodec.tar((1 to 4).flatMap { j =>
      Seq((f"d$j%02d.jpg", Array.fill[Byte](j * 7)(3)),
        (f"d$j%02d.txt", Array.fill[Byte](j * 2 + 1)(5)))
    })
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "s0.tar"), shard)
    val pushed = spark.read.format("graft-tar").load(dir + "/*")
      .filter(col("member_name").endsWith(".txt") &&
        col("member_type") === "file")
      .select(col("member_name"), col("member_size"), length(col("payload")))
    val plan = pushed.queryExecution.executedPlan.toString
    // the predicate reaches the scan: non-matching payloads are skipFully'd
    // per header, never materialized
    assert(plan.contains("PushedMemberFilters: [") &&
      plan.contains("StringEndsWith(member_name,.txt)") &&
      plan.contains("EqualTo(member_type,file)"),
      s"member predicates must push into the tar scan:\n$plan")
    // fully handled at the source: no residual Filter NODE re-tests them
    // (the scan's own description line legitimately names the filters)
    assert(!plan.linesIterator.exists(l =>
      !l.contains("BatchScan") && l.contains("Filter") &&
        l.contains("member_name")),
      s"pushed name predicate must leave the post-scan plan:\n$plan")
    // and the pushed answer is the unpushed twin's
    val twin = graft.sources.TarShards.read(spark, dir + "/*")
      .filter(col("member_name").endsWith(".txt") &&
        col("member_type") === "file")
      .select(col("member_name"), col("member_size"), length(col("payload")))
    assert(pushed.collect().map(_.toSeq).toSet == twin.collect().map(_.toSeq).toSet)
    assert(pushed.count() == 4)
  }

  test("hamming LSH mining decodes blobs once and mines distinct hashes only") {
    import spark.implicits._
    val blobs = (1L to 50L).map { i =>
      (i, graft.functions.ImageCodec.encodePng(8, 8, 1,
        Array.fill[Byte](64)((i % 3).toByte)))
    }.toDF("id", "blob")
    val pairs = graft.operators.Dedup.imageHashPairs(blobs, "id", "blob", maxHamming = 3)
    pairs.collect() // materialize the signature cache
    val plan = pairs.queryExecution.executedPlan.toString
    // every downstream branch (distinct-hash mining, twin equi-join, the
    // two expansion joins) must read the PERSISTED (id, sh) projection —
    // the blob decode itself appears only inside the cache build, never
    // in the consuming plan
    assert(!plan.contains("image_ahash"),
      s"blob decode leaked past the signature cache:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      s"signature reuse must go through the persisted projection:\n$plan")
  }

  test("random-ring write plans exactly one range exchange, like the murmur3 ring") {
    import spark.implicits._
    val df = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    val sorted = TokenSortedWriter.tokenSorted(df, CqlSchema("t", Seq("k")),
      TokenSortedWriter.WriteConf(numPartitions = 4, partitioner = "random"))
    val plan = sorted.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1,
      s"expected exactly 1 shuffle:\n$plan")
    assert(plan.contains("rangepartitioning"), s"expected range partitioning:\n$plan")
  }
}
