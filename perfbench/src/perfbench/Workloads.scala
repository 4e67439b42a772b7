package perfbench

import graft.operators.{CountLm, Dedup}
import graft.write.{Snapshots, TokenSortedWriter}
import graft.write.TokenSortedWriter.WriteConf
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import Data.{Cols, Schema, Sum, Wt, sumOf}

/** Everything a workload needs: the session, the seed, the run's scratch
 *  directory, the sizes and op counts, and the recorder. */
final case class Ctx(spark: SparkSession, seed: Long, work: java.io.File, trace: Boolean,
    profile: Profile, rec: Recorder) {
  def path(rel: String): String = new java.io.File(work, rel).getAbsolutePath
  /** In a traced run the timed ops at positions 0, 3, 4, 7, 8, ... are
   *  traced and the others are the untraced baseline for the overhead
   *  ratio; the order traced, untraced, untraced, traced keeps a drift over
   *  the run out of the ratio. */
  def traced(position: Int): Boolean = trace && (position % 4 == 0 || position % 4 == 3)
}

/** One workload. `setup` generates the inputs, builds fixtures and the
 *  model, and runs checked, untimed warm-up ops; `measure` runs the timed
 *  ops. Every timed op records its time under "op" once its result matched
 *  the model, and the time of each of its steps under the step's name. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  /** The steps of one op, each with the number of times an op runs it. */
  protected def opSteps: Seq[(String, Int)]
  /** The run's median op, assembled step by step: the sum over an op's
   *  steps of the step's median over the run's timed ops. A burst of host
   *  noise during one op then moves the one step it slowed by at most one
   *  rank, where the median of a few whole ops would follow it. */
  def opP50: Double = opSteps.map { case (kind, n) => n * p50(kind) }.sum
  /** Named figures of this workload (name, value, unit). */
  def detail: Seq[(String, Double, String)]
  /** Bytes of the workload's table directory per live row it holds, after
   *  the timed ops. */
  def bytesPerRow: Double
  /** (rows, bytes) of the generated inputs. */
  def inputs: (Long, Long)

  protected def ctx: Ctx
  protected def spark: SparkSession = ctx.spark
  protected def rec: Recorder = ctx.rec
  protected def pr: Profile = ctx.profile
  protected def p50(kind: String): Double = Stats.quantile(rec.values(kind), 0.5)
  protected def dirBytes(path: String): Long = Data.dirBytes(new java.io.File(path))

  protected def graftRead(dir: String): DataFrame =
    spark.read.format("graft").option("path", dir).option("pk", "pk").option("ck", "ck").load()
}

object Workload {
  def apply(ctx: Ctx): Workload = ctx.profile.name match {
    case "bulk_load" => new BulkLoad(ctx)
    case "mutate_cycle" => new MutateCycle(ctx)
    case "corpus_pipeline" => new CorpusPipeline(ctx)
  }
}

/** bulk_load: fresh-key appends through the batch sink with snapshot
 *  commits, each drained by a live `readStream.format("graft")` consumer;
 *  one checksum scan at the end. An op is one append plus its drain. */
final class BulkLoad(val ctx: Ctx) extends Workload {
  private val table = ctx.path("bulk/table")
  private def batchPath(i: Int) = ctx.path(s"inputs/bulk/batch=$i")
  private var expected = Map.empty[Int, Sum]
  private val drained = new java.util.concurrent.LinkedBlockingQueue[Sum]()
  private var query: StreamingQuery = _
  private var appended = Data.Zero
  private val batches = pr.warmups + pr.appends

  def setup(): Unit = {
    val parts = pr.bulkRows / pr.cks
    Data.rows(Data.keys(spark, 0, batches.toLong * parts, pr.cks), lit(0), ctx.seed)
      .withColumn("batch", (col("pk") / parts).cast("int"))
      .write.partitionBy("batch").parquet(ctx.path("inputs/bulk"))
    expected = spark.read.parquet(ctx.path("inputs/bulk")).groupBy("batch")
      .agg(count(lit(1)), sum(Data.hashCol(Cols))).collect()
      .map(r => r.getInt(0) -> Sum(r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    Log.step("bulk inputs")
    // the first batches are the warm-up appends; batch 0 creates the table
    // and the consumer starts on it
    val sink: (DataFrame, Long) => Unit = (df, _) => drained.put(sumOf(df))
    appendAndDrain(0, traced = false, start = () =>
      query = spark.readStream.format("graft").option("path", table)
        .option("pk", "pk").option("ck", "ck").load()
        .writeStream.option("checkpointLocation", ctx.path("bulk/checkpoint"))
        .foreachBatch(sink).start())
    (1 until pr.warmups).foreach(appendAndDrain(_, traced = false))
  }

  private def appendAndDrain(i: Int, traced: Boolean, start: () => Unit = () => ()): Unit =
    Trace.op(traced) {
      val append = rec.attempt(s"append $i") {
        Trace.span("append", "write") {
          Trace.count("input_bytes", dirBytes(batchPath(i)).toDouble)
          spark.read.parquet(batchPath(i)).write.format("graft").option("path", table)
            .option("pk", "pk").option("ck", "ck").option("snapshot", "true")
            .mode(SaveMode.Append).save()
        }
      }
      append.foreach(_ => appended = appended + expected(i))
      start()
      // from the append's return until the consumer has processed it
      val drain = rec.attempt(s"drain $i") {
        Trace.span("drain", "streaming")(query.processAllAvailable())
        var got = Data.Zero
        while (!drained.isEmpty) got = got + drained.take()
        got
      }
      for ((_, a) <- append; (got, d) <- drain
           if rec.check(s"drain $i", got == expected(i), s"stream got $got, appended ${expected(i)}")
           if i >= pr.warmups) {
        rec.sample("append", a, traced)
        rec.sample("stream_lag", d, traced)
        rec.sample("op", a + d, traced)
      }
    }

  def measure(): Unit = {
    (pr.warmups until batches).foreach(i => appendAndDrain(i, ctx.traced(i - pr.warmups)))
    query.stop()
    Trace.op(ctx.trace) {
      rec.attempt("checksum scan") {
        Trace.span("checksum_scan", "sources") {
          val s = sumOf(graftRead(table).select(Cols.map(col): _*))
          Trace.rows(s.rows)
          s
        }
      }.foreach { case (got, _) =>
        rec.check("bulk checksum scan", got == appended, s"scan $got, model $appended")
      }
    }
  }

  protected def opSteps: Seq[(String, Int)] = Seq("append" -> 1, "stream_lag" -> 1)

  def detail: Seq[(String, Double, String)] = Seq(
    ("load_rows_per_s", pr.bulkRows / p50("append"), "rows/s"),
    ("stream_lag_p50_s", p50("stream_lag"), "s"))

  def bytesPerRow: Double = dirBytes(table).toDouble / appended.rows

  def inputs: (Long, Long) = (batches.toLong * pr.bulkRows, dirBytes(ctx.path("inputs/bulk")))
}

/** mutate_cycle: a snapshotted table going through cycles of upsert,
 *  tombstones, a burst of point lookups, a full normalized read,
 *  compaction + vacuum and a diff over the cycle. The lookups see the
 *  cycle's overlapping generations and tombstones, with no write between
 *  them, so only the first one after the commits misses the listing cache.
 *  The first cycles are the untimed warm-up. An op is one cycle. */
final class MutateCycle(val ctx: Ctx) extends Workload {
  private val table = ctx.path("mutate/table")
  private def in(rel: String) = ctx.path(s"inputs/mutate/$rel")
  private def wt(k: Int): Long = 1000000L + 1000L * k
  private def wtOf(k: Column): Column = lit(1000000L) + k.cast("long") * 1000L
  private val cycles = pr.warmups + pr.cycles
  private val newParts = math.max(1L, (pr.mutateParts * pr.newKeyPct / 100).toLong)
  private def partsBefore(k: Int): Long = pr.mutateParts + (k - 1L).max(0L) * newParts
  /** Model (count, checksum) of the table after each cycle and of each
   *  cycle's diff. */
  private var stateSums = Map.empty[Int, Sum]
  private var diffSums = Map.empty[Int, Sum]
  private val DiffCols = Seq("pk", "ck", "op") ++ Cols.drop(2)
  /** Per cycle, the keys of each lookup. Of every ten lookups of a run,
   *  eight read one existing partition, one a partition past the table and
   *  one IN of 8 partitions; the mix is fixed, the seed picks the keys. */
  private val lookups: Map[Int, IndexedSeq[Seq[Long]]] = {
    val rnd = new java.util.Random(ctx.seed)
    (1 to cycles).map { k =>
      val parts = partsBefore(k) + newParts
      def hit() = (rnd.nextLong() & Long.MaxValue) % parts
      k -> (0 until pr.lookups).map { i =>
        ((k - 1) * pr.lookups + i) % 10 match {
          case 8 => Seq(parts + hit())
          case 9 => Seq.fill(8)(hit()).distinct
          case _ => Seq(hit())
        }
      }
    }.toMap
  }
  /** Model (count, checksum) of each lookup, by (cycle, lookup). */
  private var lookupSums = Map.empty[(Int, Int), Sum]

  def setup(): Unit = {
    // version 0 is the initial table; cycle k brings version k and the
    // tombstones of cycle k. Each input is one query over (key, cycle).
    val (pk, ck, v, k) = (col("pk"), col("ck"), col("v"), col("k"))
    def before(c: Column) = lit(pr.mutateParts) + greatest(c - 1, lit(0)) * newParts
    def inCycles(df: DataFrame, name: String, from: Int) =
      df.crossJoin(spark.range(from, cycles + 1).select(col("id").cast("int").as(name)))
    val allParts = partsBefore(cycles) + newParts
    Data.rows(inCycles(Data.keys(spark, 0, allParts, pr.cks), "v", 0)
      .filter(when(v === 0, pk < pr.mutateParts).otherwise(
        (pk < before(v) && Data.pct(ctx.seed, "up", v, pk, ck) < pr.upsertPct) ||
          (pk >= before(v) && pk < before(v) + newParts))), v, ctx.seed)
      .withColumn(Wt, wtOf(v))
      .write.partitionBy("v").parquet(in("versions"))
    inCycles(spark.range(allParts).select(col("id").as("pk")), "k", 1)
      .filter(pk < before(k) + newParts && Data.pct(ctx.seed, "pdel", k, pk) < pr.partDeletePct)
      .withColumn(Wt, wtOf(k) + 500)
      .write.partitionBy("k").parquet(in("ptombs"))
    inCycles(Data.keys(spark, 0, allParts, pr.cks), "k", 1)
      .filter(pk < before(k) + newParts && Data.pct(ctx.seed, "rdel", k, pk, ck) < pr.rowDeletePct)
      .withColumn(Wt, wtOf(k) + 500)
      .write.partitionBy("k").parquet(in("rtombs"))
    Log.step("mutate inputs")
    computeModel()
    Log.step("mutate model")
    TokenSortedWriter.write(spark.read.parquet(in("versions/v=0")).drop(Wt), Schema, table,
      SaveMode.Append, WriteConf(writetimeMicros = Some(wt(0)), snapshot = true))
    Log.step("mutate table")
    (1 to pr.warmups).foreach { k => cycle(k, traced = false); Log.step(s"warm-up cycle $k") }
  }

  /** The model's table state after each cycle ("b") and at the cycle's
   *  start as diffRows sees it ("a": the previous cycle's rows under this
   *  cycle's tombstones, since tombstones are not pinned), all in one query.
   *  A row's value is its latest version within the version cap; a
   *  tombstone of cycle j deletes every version up to j. */
  private def computeModel(): Unit = {
    val session = spark
    import session.implicits._
    val caps = broadcast((1 to cycles).flatMap(k => Seq((k, k, k, "b"), (k, k - 1, k, "a")))
      .toDF("cycle", "vcap", "tcap", "side"))
    val byState = Seq("cycle", "side")
    val latest = spark.read.parquet(in("versions")).join(caps, col("v") <= col("vcap"))
      .withColumn("rn", row_number().over(
        Window.partitionBy((byState ++ Seq("pk", "ck")).map(col): _*).orderBy(col("v").desc)))
      .filter(col("rn") === 1)
    def lastTomb(dir: String, keys: Seq[String], as: String) =
      spark.read.parquet(in(dir)).join(caps, col("k") <= col("tcap"))
        .groupBy((byState ++ keys).map(col): _*).agg(max("k").as(as))
    val states = latest
      .join(lastTomb("ptombs", Seq("pk"), "pj"), byState :+ "pk", "left")
      .join(lastTomb("rtombs", Seq("pk", "ck"), "rj"), byState ++ Seq("pk", "ck"), "left")
      .filter(col("v") > coalesce(col("pj"), lit(-1)) && col("v") > coalesce(col("rj"), lit(-1)))
      .select((byState ++ Cols).map(col): _*)
      .localCheckpoint(eager = true)
    def sums(df: DataFrame, cols: Seq[String]) = df.groupBy("cycle")
      .agg(count(lit(1)), sum(Data.hashCol(cols))).collect()
      .map(r => r.getInt(0) -> Sum(r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
    stateSums = sums(states.filter(col("side") === "b"), Cols)
    val keyDf = lookups.toSeq.flatMap { case (k, ls) =>
      ls.zipWithIndex.flatMap { case (ks, i) => ks.map(pk => (k, i, pk)) }
    }.toDF("cycle", "lookup", "pk")
    lookupSums = keyDf.join(states.filter(col("side") === "b"), Seq("cycle", "pk"))
      .groupBy("cycle", "lookup").agg(count(lit(1)), sum(Data.hashCol(Cols))).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> Sum(r.getLong(2), BigDecimal(r.getDecimal(3))))
      .toMap
    val vals = Cols.drop(2)
    def side(s: String) = states.filter(col("side") === s)
      .select(((col("cycle") +: Cols.map(col)).zip("cycle" +: Cols)
        .map { case (c, n) => c.as(s"${s}_$n") }) :+ lit(true).as(s"${s}_"): _*)
    val changed = vals.map(c => !(col(s"a_$c") <=> col(s"b_$c"))).reduce(_ || _)
    val joined = side("a").join(side("b"), Seq("cycle", "pk", "ck")
      .map(c => col(s"a_$c") === col(s"b_$c")).reduce(_ && _), "full_outer")
    diffSums = sums(joined
      .filter(col("a_").isNull || col("b_").isNull || changed)
      .select((Seq(coalesce(col("a_cycle"), col("b_cycle")).as("cycle"),
        coalesce(col("a_pk"), col("b_pk")).as("pk"),
        coalesce(col("a_ck"), col("b_ck")).as("ck"),
        when(col("b_").isNull, "delete").when(col("a_").isNull, "insert")
          .otherwise("update").as("op")) ++
        vals.map(c => when(col("b_").isNull, col(s"a_$c")).otherwise(col(s"b_$c")).as(c))): _*),
      DiffCols)
    states.unpersist()
  }

  private def cycle(k: Int, traced: Boolean): Unit = Trace.op(traced) {
    val start = Snapshots.latestVersion(spark, table).get
    // one span per write, so each write's commit tail is split off
    val upsert = rec.attempt(s"upsert $k") {
      Trace.span("upsert", "write") {
        Trace.count("input_bytes", dirBytes(in(s"versions/v=$k")).toDouble)
        TokenSortedWriter.write(spark.read.parquet(in(s"versions/v=$k")).drop(Wt), Schema, table,
          SaveMode.Append, WriteConf(writetimeMicros = Some(wt(k)), snapshot = true))
      }
    }
    val partDeletes = upsert.flatMap(_ => rec.attempt(s"partition deletes $k") {
      Trace.span("partition_deletes", "write") {
        Trace.count("input_bytes", dirBytes(in(s"ptombs/k=$k")).toDouble)
        TokenSortedWriter.writeDeletes(spark.read.parquet(in(s"ptombs/k=$k")), Schema, table,
          Some(wt(k) + 500))
      }
    })
    val rowDeletes = partDeletes.flatMap(_ => rec.attempt(s"row deletes $k") {
      Trace.span("row_deletes", "write") {
        Trace.count("input_bytes", dirBytes(in(s"rtombs/k=$k")).toDouble)
        TokenSortedWriter.writeDeletes(spark.read.parquet(in(s"rtombs/k=$k")), Schema, table,
          Some(wt(k) + 500), rowLevel = true)
      }
    })
    val lookupTimes = lookups(k).indices.flatMap(i => lookup(k, i))
    val read = rec.attempt(s"normalized read $k") {
      Trace.span("read", "normalize") {
        val s = sumOf(TokenSortedWriter.readNormalized(spark, Schema, table)
          .select(Cols.map(col): _*))
        Trace.rows(s.rows)
        s
      }
    }
    // the upsert and tombstone writes are checked through the read after them
    val readOk = read.exists { case (got, _) =>
      rec.check(s"normalized read $k", got == stateSums(k), s"got $got, model ${stateSums(k)}")
    }
    val compact = rec.attempt(s"compact $k") {
      Trace.span("compactInPlace", "compaction") {
        // the vacuum runs after the diff, which still reads the cycle's start
        TokenSortedWriter.compactInPlace(spark, Schema, table, vacuumRetain = Int.MaxValue)
      }
    }
    val diff = rec.attempt(s"diff $k") {
      Trace.span("diffRows", "diff") {
        val end = Snapshots.latestVersion(spark, table).get
        val s = sumOf(TokenSortedWriter.diffRows(spark, Schema, table, start, end), DiffCols)
        Trace.rows(s.rows)
        s
      }
    }
    val diffOk = diff.exists { case (got, _) =>
      rec.check(s"diff $k", got == diffSums(k), s"got $got, model ${diffSums(k)}")
    }
    val vacuum = rec.attempt(s"vacuum $k") {
      Trace.span("vacuum", "compaction")(Snapshots.vacuum(spark, table, keepLast = 1))
    }
    // the compacted, vacuumed table must hold exactly the model's live rows
    val after = sumOf(graftRead(table).select(Cols.map(col): _*))
    val compactOk = compact.isDefined && vacuum.isDefined &&
      rec.check(s"compacted table $k", after == stateSums(k), s"got $after, model ${stateSums(k)}")
    if (traced) Trace.countOn("compactInPlace", "live_bytes", liveDataBytes)
    if (k > pr.warmups && rowDeletes.isDefined && lookupTimes.size == lookups(k).size &&
        readOk && compactOk && diffOk) {
      val parts = Seq("upsert" -> upsert.get._2, "partition_deletes" -> partDeletes.get._2,
        "row_deletes" -> rowDeletes.get._2, "read" -> read.get._2,
        "compact" -> compact.get._2, "vacuum" -> vacuum.get._2, "diff" -> diff.get._2)
      parts.foreach { case (kind, s) => rec.sample(kind, s, traced) }
      lookupTimes.foreach(rec.sample("lookup", _, traced))
      rec.sample("op", parts.map(_._2).sum + lookupTimes.sum, traced)
    }
  }

  /** One lookup through `readNormalized(...).filter(pk …)`; its time if
   *  it returned exactly the model's rows. */
  private def lookup(k: Int, i: Int): Option[Double] = {
    val ks = lookups(k)(i)
    rec.attempt(s"lookup $k.$i") {
      Trace.span("lookup", "sources") {
        val df = Trace.span("readNormalized", "normalize") {
          TokenSortedWriter.readNormalized(spark, Schema, table)
        }
        val hit = if (ks.size == 1) df.filter(col("pk") === ks.head)
          else df.filter(col("pk").isin(ks: _*))
        val s = sumOf(hit.select(Cols.map(col): _*))
        Trace.rows(s.rows)
        s
      }
    }.collect { case (got, s) if rec.check(s"lookup $k.$i ${ks.mkString(",")}",
        got == lookupSums.getOrElse((k, i), Data.Zero),
        s"got $got, model ${lookupSums.getOrElse((k, i), Data.Zero)}") => s }
  }

  /** Bytes of the data files the latest snapshot lists. */
  private def liveDataBytes: Double = Snapshots.latestVersion(spark, table)
    .map(v => Snapshots.files(spark, table, v)
      .map(f => new java.io.File(new java.net.URI(f).getPath).length()).sum.toDouble)
    .getOrElse(0.0)

  def measure(): Unit =
    (pr.warmups + 1 to cycles).foreach(k => cycle(k, ctx.traced(k - pr.warmups - 1)))

  protected def opSteps: Seq[(String, Int)] = Seq("upsert" -> 1, "partition_deletes" -> 1,
    "row_deletes" -> 1, "lookup" -> pr.lookups, "read" -> 1, "compact" -> 1, "vacuum" -> 1,
    "diff" -> 1)

  def detail: Seq[(String, Double, String)] = Seq(
    ("upsert_p50_s", p50("upsert") + p50("partition_deletes") + p50("row_deletes"), "s"),
    ("lookup_p50_ms", 1000 * p50("lookup"), "ms"),
    ("lookup_p95_ms", 1000 * Stats.quantile(rec.values("lookup"), 0.95), "ms"),
    ("read_p50_s", p50("read"), "s"),
    ("compact_p50_s", p50("compact") + p50("vacuum"), "s"),
    ("diff_p50_s", p50("diff"), "s"),
    ("bytes_per_live_row", bytesPerRow, "B/row"))

  def bytesPerRow: Double = dirBytes(table).toDouble / stateSums(cycles).rows

  def inputs: (Long, Long) = {
    (spark.read.parquet(in("versions")).count(), dirBytes(ctx.path("inputs/mutate")))
  }
}

/** corpus_pipeline: generated documents with seeded exact copies,
 *  word-edited near copies and shared boilerplate lines, stored once in a
 *  graft table. An op is one pass: read the table, exact and near-duplicate
 *  removal, frequent-line removal, count-LM train + score, and a write of
 *  the survivors through the sink. */
final class CorpusPipeline(val ctx: Ctx) extends Workload {
  private val table = ctx.path("corpus/table")
  private val input = ctx.path("inputs/corpus")
  private def outPath(i: Int) = ctx.path(s"corpus/out$i")
  private var exactCount = 0L
  private var survivors = 0L

  def setup(): Unit = {
    val session = spark
    import session.implicits._
    CorpusGen.docs(ctx.seed, pr.docs, pr.exactCopyPct, pr.nearCopyPct)
      .toDF("id", "text", "original").write.parquet(input)
    exactCount = spark.read.parquet(input).dropDuplicates("text").count()
    spark.read.parquet(input).select("id", "text").write.format("graft")
      .option("path", table).option("pk", "id").option("snapshot", "true")
      .mode(SaveMode.Append).save()
    Log.step("corpus inputs")
    (1 to pr.warmups).foreach(pass(_, traced = false))
  }

  private def pass(i: Int, traced: Boolean): Unit = Trace.op(traced) {
    // each step's output is materialized, so each span and step time holds
    // its own work
    val kept = new scala.collection.mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { val d = df.localCheckpoint(eager = true); kept += d; d }
    val steps = new scala.collection.mutable.ArrayBuffer[(String, Double)]()
    def step[T](name: String, layer: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = Trace.span(name, layer)(body)
      steps += name -> (System.nanoTime() - t0) / 1e9
      r
    }
    val res = rec.attempt(s"corpus pass $i") {
      val docs = step("read", "sources") {
        keep(spark.read.format("graft").option("path", table).option("pk", "id").load()
          .select("id", "text"))
      }
      val exact = step("exact", "operators") {
        keep(docs.join(Dedup.exact(docs, "id", Seq("text")).select("id"), "id"))
      }
      val near = step("near_dup", "operators") {
        keep(Dedup.dropNearDuplicates(exact, "id", "text"))
      }
      val clean = step("frequent_lines", "operators") {
        keep(Dedup.dropFrequentLines(near, "id", "text", pr.minDocs))
      }
      val scored = step("countlm", "operators") {
        val model = CountLm.train(clean, "text_clean")
        keep(CountLm.score(clean, "id", "text_clean", model))
      }
      step("write", "write") {
        scored.select("id", "text_clean", "lm_score").write.format("graft")
          .option("path", outPath(i)).option("pk", "id").option("snapshot", "true")
          .mode(SaveMode.Append).save()
      }
      (exact, near, clean, scored)
    }
    res.foreach { case ((exact, near, clean, scored), s) =>
      if (checks(i, exact, near, clean, scored) && i > pr.warmups) {
        steps.foreach { case (kind, t) => rec.sample(kind, t, traced) }
        rec.sample("op", s, traced)
      }
    }
    kept.foreach(_.unpersist())
  }

  private def checks(i: Int, exact: DataFrame, near: DataFrame, clean: DataFrame,
      scored: DataFrame): Boolean = {
    val originals = spark.read.parquet(input).filter(col("original")).select("id")
    val nExact = exact.count()
    survivors = near.count()
    def lines(df: DataFrame, c: String) =
      df.select(col("id"), explode(split(col(c), "\n")).as("line"))
    val frequent = lines(near, "text").distinct().groupBy("line").count()
      .filter(col("count") >= pr.minDocs).select("line")
    Seq(
      rec.check(s"exact dedup $i", nExact == exactCount,
        s"$nExact survivors, dropDuplicates keeps $exactCount"),
      rec.check(s"near dedup subset $i", near.select("id").join(exact, Seq("id"), "left_anti")
        .isEmpty, "a near-dup survivor is not an exact-dedup survivor"),
      rec.check(s"near dedup keeps originals $i",
        originals.join(near, Seq("id"), "left_anti").isEmpty,
        "an original document was dropped as a near duplicate"),
      rec.check(s"frequent lines $i",
        lines(clean, "text_clean").join(frequent, "line").isEmpty,
        s"a line found in >= ${pr.minDocs} documents survived"),
      rec.check(s"lm scores $i", scored.filter(col("lm_score").isNull).isEmpty,
        "a document has a null score"),
      rec.check(s"survivors written $i", spark.read.parquet(outPath(i)).count() == survivors,
        "the written survivors differ from the pipeline's")
    ).forall(identity)
  }

  def measure(): Unit = (pr.warmups + 1 to pr.warmups + pr.passes)
    .foreach(i => pass(i, ctx.traced(i - pr.warmups - 1)))

  protected def opSteps: Seq[(String, Int)] = Seq("read", "exact", "near_dup",
    "frequent_lines", "countlm", "write").map(_ -> 1)

  def detail: Seq[(String, Double, String)] = Seq(
    ("corpus_docs_per_s", pr.docs / opP50, "docs/s"))

  def bytesPerRow: Double = dirBytes(outPath(pr.warmups + pr.passes)).toDouble / survivors

  def inputs: (Long, Long) = (pr.docs.toLong, dirBytes(input))
}
