package graft.write

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {

  import spark.implicits._

  private val schema = CqlSchema("t", Seq("id"))

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  private def freshDir(): String =
    Files.createTempDirectory("graft_snap_").toString + "/t"

  private def writeSnap(df: DataFrame, dir: String): Unit =
    TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, snapshot = true))

  private def readPin(dir: String, pin: String): DataFrame =
    spark.read.format("graft").option("path", dir).option("pk", "id")
      .option("snapshotVersion", pin).load()

  test("append commits version the batch atomically; pins see their version") {
    val dir = freshDir()
    writeSnap(rows(0 until 10), dir)
    writeSnap(rows(10 until 15), dir)
    assert(Snapshots.latestVersion(spark, dir).contains(2L))

    assert(readPin(dir, "1").count() == 10L)
    assert(readPin(dir, "2").count() == 15L)
    assert(readPin(dir, "latest").count() == 15L)
    // pinned content, not just count: v1 has exactly ids 0-9
    assert(readPin(dir, "1").select("id").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
    // unpinned read of a snapshotted table = latest snapshot (which here
    // equals the live listing — both batches committed)
    val live = spark.read.format("graft").option("path", dir)
      .option("pk", "id").load()
    assert(live.count() == 15L)
  }

  test("unknown version and missing log fail loudly") {
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir)
    val e = intercept[Exception](readPin(dir, "7").count())
    assert(e.getMessage.contains("v7"))

    val bare = freshDir()
    rows(0 until 3).write.parquet(bare) // no snapshot log at all
    val e2 = intercept[Exception] {
      spark.read.format("graft").option("path", bare).option("pk", "id")
        .option("snapshotVersion", "latest").load().count()
    }
    assert(e2.getMessage.contains("no snapshot log"))
  }

  test("snapshot mode rejects SaveMode.Overwrite") {
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir)
    val e = intercept[IllegalArgumentException] {
      TokenSortedWriter.write(rows(4 until 8), schema, dir, SaveMode.Overwrite,
        TokenSortedWriter.WriteConf(snapshot = true, allowOverwrite = true))
    }
    assert(e.getMessage.contains("snapshot"))
  }

  test("metadata-only COUNT(*) respects the pin") {
    val dir = freshDir()
    writeSnap(rows(0 until 10), dir)
    writeSnap(rows(10 until 15), dir)
    val pinned = readPin(dir, "1").agg(count(lit(1)).as("n"))
    // the plan must still be the stats scan (zero data reads)...
    val planned = pinned.queryExecution.executedPlan.toString
    assert(planned.contains("GraftStatsScan"), s"expected stats scan in:\n$planned")
    // ...and must answer for the PINNED file set, not the live one
    assert(pinned.as[Long].head() == 10L)
  }

  test("commitRewrite + vacuum reconcile listing to the log; expired pins fail") {
    val dir = freshDir()
    writeSnap(rows(0 until 10), dir)   // v1
    writeSnap(rows(10 until 15), dir)  // v2
    // logical rewrite back to v1's file set (a compaction that decided the
    // second batch's files should be replaced by... nothing, for the test)
    val v1Files = Snapshots.files(spark, dir, 1L)
    assert(Snapshots.commitRewrite(spark, dir, v1Files) == 3L)
    assert(readPin(dir, "3").count() == 10L)
    // an UNPINNED read follows the latest snapshot, not the raw listing —
    // the logically-removed files are invisible even before the vacuum
    assert(spark.read.format("graft").option("path", dir).option("pk", "id")
      .load().count() == 10L)
    // the raw-listing view remains an explicit opt-in
    assert(readPin(dir, "listing").count() == 15L)

    // vacuum to the latest snapshot: v2-only files are deleted, old
    // snapshot files dropped
    val deleted = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(spark.read.format("graft").option("path", dir).option("pk", "id")
      .load().count() == 10L)
    assert(readPin(dir, "3").count() == 10L)
    val e = intercept[Exception](readPin(dir, "2").count())
    assert(e.getMessage.contains("v2"))
  }

  test("racing commitAppends linearize: distinct versions, union of both batches") {
    // Spark's own file committer cannot run two jobs against one output dir
    // (shared _temporary), so the parquet writes are sequential — the race
    // under test is the snapshot LOG protocol itself.
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir) // v1 so both racers share a parent
    val before = Snapshots.files(spark, dir, 1L).toSet
    rows(100 until 104).write.mode(SaveMode.Append).parquet(dir)
    val afterA = spark.read.parquet(dir).inputFiles.toSet
    rows(200 until 204).write.mode(SaveMode.Append).parquet(dir)
    val afterB = spark.read.parquet(dir).inputFiles.toSet
    val addedA = (afterA -- before).toSeq
    val addedB = (afterB -- afterA).toSeq
    assert(addedA.nonEmpty && addedB.nonEmpty)

    val versions = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val t1 = new Thread(() => versions.add(Snapshots.commitAppend(spark, dir, addedA)))
    val t2 = new Thread(() => versions.add(Snapshots.commitAppend(spark, dir, addedB)))
    t1.start(); t2.start(); t1.join(); t2.join()
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.toSet == Set(2L, 3L))
    assert(Snapshots.latestVersion(spark, dir).contains(3L))
    // the final snapshot carries every file of both racing commits
    assert(readPin(dir, "3").select("id").as[Long].collect().sorted.toSeq ==
      ((0L until 4L) ++ (100L until 104L) ++ (200L until 204L)))
  }

  test("compactInPlace: folds LWW generations + tombstones, reclaims old files") {
    val dir = freshDir()
    val base = (0 until 20).map(i => (i.toLong, s"old$i")).toDF("id", "payload")
    TokenSortedWriter.write(base, schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(1000L)))
    TokenSortedWriter.write(
      base.filter($"id" % 2 === 0).withColumn("payload", concat(lit("new"), $"id")),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
        writetimeMicros = Some(2000L)))
    TokenSortedWriter.writeDeletes(
      base.filter($"id" >= 15).select("id"), schema, dir,
      writetimeMicros = Some(3000L))

    val version = TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 2))
    assert(version == 2L) // v1 = pre-compaction census, v2 = rewrite

    // plain read of the compacted generation: LWW applied, deletes purged
    val got = spark.read.format("graft").option("path", dir).option("pk", "id")
      .load().select("id", "payload").as[(Long, String)].collect().toMap
    assert(got.size == 15)
    assert(got(3L) == "old3" && got(4L) == "new4")
    assert(!got.contains(16L))

    // physical reclamation: every live data file sits in the fresh generation
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = graft.sources.TokenPruner.listDataFiles(fs, fs.makeQualified(p))
    assert(files.nonEmpty && files.forall(_.getPath.toString.contains("/gen-")))
    // pre-compaction pin is gone at retain 1
    intercept[Exception](readPin(dir, "1").count())
  }

  test("compactInPlace with vacuumRetain=2 keeps the pre-compaction pin") {
    val dir = freshDir()
    writeSnap(rows(0 until 8), dir) // v1
    TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 1), vacuumRetain = 2)
    // v1 still readable (its files survived), latest is the fold
    assert(readPin(dir, "1").count() == 8L)
    assert(readPin(dir, "latest").count() == 8L)
    // the UNPINNED read must NOT double-count: the live listing holds both
    // generations (retain 2 kept v1's files), but planning follows the
    // latest snapshot — 8 rows, not 16
    assert(spark.read.format("graft").option("path", dir).option("pk", "id")
      .load().count() == 8L)
    // the raw listing really does hold both generations (the hazard is real)
    assert(readPin(dir, "listing").count() == 16L)
  }

  test("vacuum keepCommittedWithinMs: age window protects what count alone would drop") {
    val dir = freshDir()
    writeSnap(rows(0 until 6), dir)   // v1
    writeSnap(rows(6 until 9), dir)   // v2
    writeSnap(rows(9 until 11), dir)  // v3
    // count-only retention would drop v1+v2; the age window (all three
    // committed milliseconds ago) protects them
    assert(Snapshots.vacuum(spark, dir, keepLast = 1,
      keepCommittedWithinMs = 3600 * 1000L).isEmpty)
    assert(readPin(dir, "1").count() == 6L) // pin inside the window survives
    // with the window disabled, count-only retention applies: v1/v2's log
    // entries drop (no data files die — append lineage keeps them all live
    // in v3), and the old pin is gone
    Snapshots.vacuum(spark, dir, keepLast = 1)
    intercept[Exception](readPin(dir, "1").count())
    assert(readPin(dir, "3").count() == 11L)
  }

  test("snapshot added-set is the batch's own files: out-of-band files never absorbed") {
    val dir = freshDir()
    writeSnap(rows(0 until 5), dir) // v1
    // a foreign writer drops a parquet file into the table dir between
    // snapshotted batches (or: a concurrent non-snapshot append lands)
    rows(100 until 103).write.mode(SaveMode.Append).parquet(dir)
    writeSnap(rows(5 until 8), dir) // v2 — must NOT absorb the foreign file
    val v2 = readPin(dir, "2").select("id").as[Long].collect().sorted.toSeq
    assert(v2 == (0L until 8L), s"foreign rows leaked into the snapshot: $v2")
    // the foreign file is still on disk and visible to a listing read
    assert(readPin(dir, "listing").count() == 11L)
  }

  test("change feed strips engine columns from keepTokenColumn layouts") {
    val dir = freshDir()
    val conf = TokenSortedWriter.WriteConf(
      numPartitions = 2, snapshot = true, keepTokenColumn = true)
    TokenSortedWriter.write(rows(0 until 5), schema, dir, SaveMode.Append, conf)
    TokenSortedWriter.write(rows(5 until 8), schema, dir, SaveMode.Append, conf)
    val feed = Snapshots.readChanges(spark, dir, 1L, 2L)
    assert(!feed.columns.exists(_.startsWith("_graft_")),
      s"engine columns leaked into the change feed: ${feed.columns.mkString(",")}")
    assert(feed.select("id").as[Long].collect().sorted.toSeq == (5L until 8L))
  }

  test("conditional-put stores (HADOOP-19256 capability) commit without the escape hatch") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.condput.impl", classOf[graft.write.CondPutFileSystem].getName)
    val d = Files.createTempDirectory("graft_condput_")
    val target = new org.apache.hadoop.fs.Path(s"condput://host$d/v1.txt")
    val fs = target.getFileSystem(conf)
    // capability declared → the dispatch takes the conditional PUT path
    Snapshots.createExclusive(fs, target,
      "graft-snapshot\t1\t1\t0\t-\nwinner\n".getBytes, allowUnsafe = false)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/v1.txt"))).startsWith("graft-snapshot\t"))
    // a lost race surfaces as the commit loop's collision type
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Snapshots.createExclusive(fs, target, "loser\n".getBytes, allowUnsafe = false)
    }
    // the failed put must not clobber the winner
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$d/v1.txt"))).contains("winner"))
  }

  test("conditional-put lost-race classification: a precondition failure " +
      "naming the target is a collision; an unrelated 412 propagates") {
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.condflaky.impl", classOf[graft.write.FlakyCondPutFileSystem].getName)
    val d = Files.createTempDirectory("graft_condflaky_")
    val target = new org.apache.hadoop.fs.Path(s"condflaky://host$d/v1.txt")
    val fs = target.getFileSystem(conf)
    // the store's own precondition failure about THIS path → lost race
    graft.write.FlakyCondPutFileSystem.failureMessage =
      "PUT {target}: 412 PreconditionFailed (If-None-Match: * did not hold)"
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      Snapshots.createExclusive(fs, target, "x".getBytes, allowUnsafe = false)
    }
    // same-looking message about a DIFFERENT path (intermediate proxy,
    // nested error) → a real store failure, must NOT be remapped to a
    // version collision (a silent retry would mask data-path breakage)
    graft.write.FlakyCondPutFileSystem.failureMessage =
      "upstream proxy replied 412 PreconditionFailed for /unrelated/other/object"
    val e = intercept[java.io.IOException] {
      Snapshots.createExclusive(fs, target, "x".getBytes, allowUnsafe = false)
    }
    assert(!e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException])
    assert(e.getMessage.contains("/unrelated/other/object"))
  }

  test("commit refuses non-atomic stores; local commit publishes atomically") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sessionState.newHadoopConf())
    // scheme without an atomic exclusive create → loud refusal naming the fix
    val e = intercept[UnsupportedOperationException] {
      Snapshots.createExclusive(fs,
        new org.apache.hadoop.fs.Path("s3a://bucket/t/_graft_snapshots/v1.txt"),
        "x".getBytes, allowUnsafe = false)
    }
    assert(e.getMessage.contains("s3a") &&
      e.getMessage.contains(Snapshots.AllowNonAtomicConf))

    // local scheme: two raw racers (bypassing the in-JVM commit mutex) on the
    // SAME version file — exactly one wins, the loser sees the collision
    val d = Files.createTempDirectory("graft_excl_")
    val target = new org.apache.hadoop.fs.Path(
      fs.makeQualified(new org.apache.hadoop.fs.Path(d.toString)), "v1.txt")
    val wins = new java.util.concurrent.atomic.AtomicInteger()
    val losses = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try {
          Snapshots.createExclusive(fs, target,
            s"graft-snapshot\t1\t1\t0\t-\nwinner$i\n".getBytes, allowUnsafe = false)
          wins.incrementAndGet()
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            losses.incrementAndGet()
        })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(wins.get() == 1 && losses.get() == 7)
    // the winner's content is complete (atomic publish, no torn write)
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(target.toUri)))
    assert(content.startsWith("graft-snapshot\t") && content.endsWith("\n"))
  }

  test("readChanges: exact increments, empty range, rewrite barrier") {
    val dir = freshDir()
    writeSnap(rows(0 until 5), dir)    // v1
    writeSnap(rows(5 until 9), dir)    // v2
    writeSnap(rows(9 until 12), dir)   // v3

    def ids(from: Long, to: Long): Seq[Long] =
      Snapshots.readChanges(spark, dir, from, to)
        .select("id").as[Long].collect().sorted.toSeq
    assert(ids(0L, 1L) == (0L until 5L))
    assert(ids(1L, 2L) == (5L until 9L))
    assert(ids(1L, 3L) == (5L until 12L))
    // empty range: zero rows but the table schema
    val none = Snapshots.readChanges(spark, dir, 2L, 2L)
    assert(none.count() == 0L)
    assert(none.columns.contains("id") && none.columns.contains("payload"))

    // a rewrite in the range breaks file-level provenance → loud failure
    val v3Files = Snapshots.files(spark, dir, 3L)
    Snapshots.commitRewrite(spark, dir, v3Files.take(1)) // v4 removes files
    val e = intercept[IllegalStateException](
      Snapshots.readChanges(spark, dir, 2L, 4L).count())
    assert(e.getMessage.contains("rewrite"))
  }

  test("readChangesMerged: touched keys resolve through LWW; deleted keys vanish") {
    val dir = freshDir()
    def conf(wt: Long) = TokenSortedWriter.WriteConf(numPartitions = 2,
      snapshot = true, keepTokenColumn = true, writetimeMicros = Some(wt))
    TokenSortedWriter.write(
      (0 until 10).map(i => (i.toLong, s"old$i")).toDF("id", "payload"),
      schema, dir, SaveMode.Append, conf(1000L)) // v1
    TokenSortedWriter.write(
      (0 until 5).map(i => (i.toLong, s"new$i")).toDF("id", "payload"),
      schema, dir, SaveMode.Append, conf(2000L)) // v2: rewrites ids 0-4
    TokenSortedWriter.writeDeletes(
      Seq(4L).toDF("id"), schema, dir, writetimeMicros = Some(3000L))
    val merged = TokenSortedWriter.readChangesMerged(spark, schema, dir, 1L, 2L)
      .select("id", "payload").as[(Long, String)].collect().toMap
    // only the touched keys, at their CURRENT resolution: LWW winners for
    // 0-3, and the since-deleted key 4 is absent (no raw pre-LWW versions)
    assert(merged === (0 until 4).map(i => i.toLong -> s"new$i").toMap)
  }

  test("restore: latest becomes the old content via one metadata commit; history intact") {
    val dir = freshDir()
    writeSnap(rows(0 until 10), dir)          // v1
    writeSnap(rows(10 until 15), dir)         // v2 — the "bad batch"
    val v = Snapshots.restore(spark, dir, 1L) // v3 = v1's file set
    assert(v == 3L)
    // unpinned read plans from the latest snapshot = the restored content
    val unpinned = spark.read.format("graft").option("path", dir)
      .option("pk", "id").load()
    assert(unpinned.select("id").as[Long].collect().sorted.toSeq ==
      (0L until 10L))
    // nothing was deleted: the bad version stays readable under its pin
    assert(readPin(dir, "2").count() == 15L)
    // restore of a vacuumed version fails loudly, not partially (the
    // vacuum drops the snapshot FILE itself, so the loud failure is the
    // unknown-version one)
    writeSnap(rows(15 until 16), dir)         // v4 (adds a file)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    val e = intercept[RuntimeException] { Snapshots.restore(spark, dir, 2L) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("versionAsOf: highest commit at-or-before ts; too-early ts fails loudly") {
    val dir = freshDir()
    writeSnap(rows(0 until 3), dir)           // v1
    val t1 = Snapshots.commitTimeMillis(spark, dir, 1L)
    writeSnap(rows(3 until 6), dir)           // v2
    val t2 = Snapshots.commitTimeMillis(spark, dir, 2L)
    assert(Snapshots.versionAsOf(spark, dir, t2) == 2L)
    assert(Snapshots.versionAsOf(spark, dir, Long.MaxValue) == 2L)
    if (t1 < t2) assert(Snapshots.versionAsOf(spark, dir, t2 - 1) == 1L)
    val e = intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, dir, t1 - 1)
    }
    assert(e.getMessage.contains("no snapshot"))
    // and the resolved version feeds a pinned read
    assert(readPin(dir, Snapshots.versionAsOf(spark, dir, t1).toString)
      .count() == 3L)
  }

  test("schema evolution across appends: union schema, old rows null-fill") {
    val dir = freshDir()
    writeSnap(rows(0 until 5), dir)           // (id, payload)
    TokenSortedWriter.write(
      (5 until 8).map(i => (i.toLong, s"v$i", i * 10L)).toDF("id", "payload", "extra"),
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 2, snapshot = true))
    val df = spark.read.format("graft").option("path", dir)
      .option("pk", "id").load()
    assert(df.columns.toSet == Set("id", "payload", "extra"))
    val byId = df.select("id", "extra").as[(Long, Option[Long])].collect().toMap
    assert((0 until 5).forall(i => byId(i.toLong).isEmpty))
    assert((5 until 8).forall(i => byId(i.toLong).contains(i * 10L)))
    // and the pre-evolution pin still reads with its own rows present
    assert(readPin(dir, "1").count() == 5L)
  }

  test("diffRows: insert/update/delete across a rewrite; horizon surfaces deletes") {
    val dir = freshDir()
    def writeWt(df: DataFrame, wt: Long): Unit =
      TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(wt), snapshot = true))
    writeWt(rows(0 until 6), 1000L)
    writeWt(Seq((1L, "updated")).toDF("id", "payload"), 2000L)      // update id 1
    writeWt(Seq((10L, "new")).toDF("id", "payload"), 2000L)         // insert id 10
    TokenSortedWriter.writeDeletes(
      Seq(Tuple1(3L)).toDF("id"), schema, dir, writetimeMicros = Some(3000L))
    val latest = TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 2), vacuumRetain = 10)

    // readChanges across the rewrite refuses (file provenance broken)
    intercept[IllegalStateException] {
      Snapshots.readChanges(spark, dir, 1L, latest)
    }

    // with the sync-point horizon, the delete SURFACES with its pre-image
    val d = TokenSortedWriter.diffRows(spark, schema, dir, 1L, latest,
        fromTombstoneHorizonMicros = Some(1500L))
      .select("id", "op", "payload").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(d == Seq((1L, "update", "updated"), (3L, "delete", "v3"),
      (10L, "insert", "new")))

    // without a horizon the tombstone retro-applies to BOTH pins: the
    // delete vanishes from the diff (documented), the rest is unchanged
    val d2 = TokenSortedWriter.diffRows(spark, schema, dir, 1L, latest)
      .select("id", "op", "payload").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(d2 == Seq((1L, "update", "updated"), (10L, "insert", "new")))
  }

  test("diffRows candidate enumeration: folds contribute nothing, appends " +
      "their files; touched-but-unchanged keys stay omitted; legacy " +
      "rewrites stay sound via the full file set") {
    val dir = freshDir()
    def writeWt(df: DataFrame, wt: Long): Unit =
      TokenSortedWriter.write(df, schema, dir, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, keepTokenColumn = true,
          writetimeMicros = Some(wt), snapshot = true))
    writeWt(rows(0 until 6), 1000L)                                  // v1
    val v1Files = Snapshots.files(spark, dir, 1L).toSet
    // v2: id 1 updated, id 2 REWRITTEN WITH THE SAME VALUE (touched, not
    // changed — the candidate filter must admit it, the unchanged-filter
    // must still drop it)
    writeWt(Seq((1L, "updated"), (2L, "v2")).toDF("id", "payload"), 2000L)
    val latest = TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 2), vacuumRetain = 10)

    // the fold commit contributes NOTHING: candidates are exactly v2's
    // appended files (the walk rode across the compaction)
    val cands = Snapshots.diffCandidateFiles(spark, dir, 1L, latest)
    assert(cands.isDefined, "walkable log must enumerate candidates")
    assert(cands.get.nonEmpty && cands.get.toSet.intersect(v1Files).isEmpty,
      s"fold/v1 files must not be candidates: ${cands.get}")

    val d = TokenSortedWriter.diffRows(spark, schema, dir, 1L, latest)
      .select("id", "op", "payload").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(d == Seq((1L, "update", "updated")),
      s"only the truly-changed key surfaces, got $d")

    // an UNTAGGED logical rewrite that drops a file (CoW-DELETE shape):
    // the dropped file is a candidate and its keys surface as deletes —
    // the enumeration never silently misses a state change
    val head = Snapshots.latestVersion(spark, dir).get
    val keep = Snapshots.files(spark, dir, head)
    val dropped = keep.head
    Snapshots.commitRewrite(spark, dir, keep.filterNot(_ == dropped),
      expectedParent = Some(head))
    val cands2 = Snapshots.diffCandidateFiles(spark, dir, head, head + 1)
    assert(cands2.isDefined && cands2.get.contains(dropped),
      s"the dropped file must be a candidate, got $cands2")
    val droppedIds = spark.read.parquet(dropped)
      .select("id").as[Long].collect().toSet
    val d2 = TokenSortedWriter.diffRows(spark, schema, dir, head, head + 1)
      .select("id", "op").as[(Long, String)].collect().toSeq
    assert(d2.map(_._1).toSet == droppedIds && d2.forall(_._2 == "delete"),
      s"exactly the dropped file's keys surface as deletes, got $d2")
  }

  test("asof pin and vacuum dry run") {
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir)                        // v1
    val t1 = Snapshots.commitTimeMillis(spark, dir, 1L)
    writeSnap(rows(4 until 9), dir)                        // v2
    // TIMESTAMP AS OF through the SOURCE option (resolves via versionAsOf)
    assert(readPin(dir, s"asof:$t1").count() == 4L)
    assert(readPin(dir, s"asof:${System.currentTimeMillis() + 60000}").count() == 9L)
    // a rewrite keeping only v2's delta gives v1 exclusive files to reclaim
    val v1Files = Snapshots.files(spark, dir, 1L).toSet
    val delta = Snapshots.files(spark, dir, 2L).filterNot(v1Files)
    Snapshots.commitRewrite(spark, dir, delta, expectedParent = Some(2L)) // v3
    // dry run reports v1's exclusive files without touching anything
    val doomed = Snapshots.vacuum(spark, dir, keepLast = 1, dryRun = true)
    assert(doomed.toSet == v1Files)
    assert(readPin(dir, "1").count() == 4L)                // v1 still readable
    val real = Snapshots.vacuum(spark, dir, keepLast = 1)
    assert(real.sorted == doomed.sorted)                   // the dry run told the truth
    intercept[Exception] { readPin(dir, "1").count() }
  }

  test("diffRows: a column added between versions null-pads and reports updates") {
    val dir = freshDir()
    writeSnap(rows(0 until 3), dir)                        // v1: (id, payload)
    TokenSortedWriter.write(
      Seq((1L, "v1", 42L)).toDF("id", "payload", "extra"), // v2 adds `extra`
      schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = 1, keepTokenColumn = true,
        writetimeMicros = Some(2000L), snapshot = true))
    val d = TokenSortedWriter.diffRows(spark, schema, dir, 1L, 2L)
      .select("id", "op", "payload", "extra")
      .as[(Long, String, String, Option[Long])].collect().toSeq
    // only id 1 changed: its `extra` went null→42 (payload unchanged)
    assert(d == Seq((1L, "update", "v1", Some(42L))))
  }

  test("commitRewrite conflict guard: a concurrent append fails the rewrite loudly") {
    val dir = freshDir()
    writeSnap(rows(0 until 6), dir)                        // v1
    val head = Snapshots.latestVersion(spark, dir).get
    val keep = Snapshots.files(spark, dir, head)
    writeSnap(rows(6 until 8), dir)                        // v2 — the racing append
    // a rewrite computed against v1 must refuse: committing would publish a
    // set WITHOUT v2's files, and vacuum would then delete them (data loss)
    val e = intercept[Snapshots.ConcurrentCommitException] {
      Snapshots.commitRewrite(spark, dir, keep, expectedParent = Some(head))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // and nothing was committed: the head is still v2 with all its files
    assert(Snapshots.latestVersion(spark, dir).contains(2L))
    assert(readPin(dir, "latest").count() == 8L)
    // recomputed against the current head it goes through
    val v = Snapshots.commitRewrite(spark, dir,
      Snapshots.files(spark, dir, 2L), expectedParent = Some(2L))
    assert(v == 3L)
  }

  test("history: versions, parents, file counts, rewrite flag") {
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir)                        // v1
    writeSnap(rows(4 until 6), dir)                        // v2 (append)
    TokenSortedWriter.compactInPlace(spark, schema, dir,
      TokenSortedWriter.WriteConf(numPartitions = 2), vacuumRetain = 10)
    val h = Snapshots.history(spark, dir)
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h.map(_._3) == Seq(None, Some(1L), Some(2L)))
    assert(h.map(_._5) == Seq(false, false, true))         // only the compaction rewrites
    assert(h.forall(_._4 > 0) && h.map(_._2).sorted == h.map(_._2))
  }

  test("streaming read rejects a snapshot pin") {
    val dir = freshDir()
    writeSnap(rows(0 until 4), dir)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft").option("path", dir)
        .option("pk", "id").option("snapshotVersion", "1").load()
        .writeStream.format("memory").queryName("snap_pin_reject")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination(30000) finally q.stop()
    }
    assert(e.getMessage != null)
  }

  // A version file as the commit loop wrote it before the LogEntry codec:
  // two streaming apps' txn marks, identity marks, a CoW DML's change data,
  // DV and row-id bindings, and a shallow clone's out-of-root file.
  private val committedV3 = Seq(
    "graft-snapshot\t1\t3\t1792289306167\t2\t-",
    "file:/data/source/t/part-00003-s.parquet",
    "gen-1f2e3d4c5b6a/part-00000-c.parquet",
    "graft_p_0/part-00000-a.parquet",
    "graft_p_1/part-00001-b.parquet",
    "dv\tfile:/data/source/t/part-00003-s.parquet\t_graft_dv/dv-9f8e.bin",
    "dv\tgraft_p_0/part-00000-a.parquet\t_graft_dv/dv-0a1b.bin",
    "txn\tstream-a\t12",
    "txn\tstream-b\t3",
    "idhwm\tid\t100",
    "idhwm\tseq\t5",
    "cdc\t_graft_cdc/cdc-77aa/part-00000.parquet",
    "cdc\t_graft_cdc/cdc-77aa/part-00001.parquet",
    "rid\tfile:/data/source/t/part-00003-s.parquet\t1000",
    "rid\tgen-1f2e3d4c5b6a/part-00000-c.parquet\t90",
    "rid\tgraft_p_0/part-00000-a.parquet\t0",
    "rid\tgraft_p_1/part-00001-b.parquet\t40",
    "ridhwm\t1200").mkString("", "\n", "\n")

  test("log-entry codec: render(parse(text)) reproduces a version file byte for byte") {
    import Snapshots.LogEntry
    val root = new org.apache.hadoop.fs.Path("file:/warehouse/t")
    val e = LogEntry.parse(committedV3, root)
    assert(e.render(root) == committedV3)
    val foreign = "file:/data/source/t/part-00003-s.parquet"
    val a = "file:/warehouse/t/graft_p_0/part-00000-a.parquet"
    assert(e.version == 3L && e.committedAt == 1792289306167L &&
      e.parent.contains(2L) && e.kind == Snapshots.Logical)
    assert(e.files.length == 4 && e.files.head == foreign && e.files.contains(a))
    assert(e.dvs == Map(foreign -> "file:/warehouse/t/_graft_dv/dv-9f8e.bin",
      a -> "file:/warehouse/t/_graft_dv/dv-0a1b.bin"))
    assert(e.txns == Map("stream-a" -> 12L, "stream-b" -> 3L))
    assert(e.idHwms == Map("id" -> 100L, "seq" -> 5L))
    assert(e.cdcs.length == 2 && e.rids(foreign) == 1000L && e.rids(a) == 0L)
    assert(e.ridHwm.contains(1200L))
    Seq("layout" -> Snapshots.Layout, "fold" -> Snapshots.Fold).foreach { case (tag, kind) =>
      val text = committedV3.replace("\t2\t-\n", s"\t2\t$tag\n")
      assert(LogEntry.parse(text, root).kind == kind)
      assert(LogEntry.parse(text, root).render(root) == text)
    }
    // a legacy 5-column header is a logical commit
    val legacy = LogEntry.parse("graft-snapshot\t1\t1\t0\t-\npart-0.parquet\n", root)
    assert(legacy.kind == Snapshots.Logical && legacy.parent.isEmpty &&
      legacy.files == Seq("file:/warehouse/t/part-0.parquet"))
    // malformed marker lines still fail loudly, naming the line
    Seq("dv\tgraft_p_0/part-00000-a.parquet", "rid\tgraft_p_0/part-00000-a.parquet",
      "txn\tstream-a\t12\t13").foreach { bad =>
      val err = intercept[IllegalArgumentException](
        LogEntry.parse(s"graft-snapshot\t1\t1\t0\t-\t-\n$bad\n", root))
      assert(err.getMessage ==
        s"requirement failed: corrupt ${bad.takeWhile(_ != '\t')} line: $bad")
    }
  }

  test("the commit loop writes the same version-file bytes as before the codec") {
    val dir = freshDir()
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(dir)).toString
    Snapshots.commitAppend(spark, dir, Nil, Some(("stream-b", 3L)))
    Snapshots.commitAppend(spark, dir, Nil, Some(("stream-a", 12L)))
    val Seq(a, b, c) = Seq("graft_p_0/part-00000-a.parquet",
      "graft_p_1/part-00001-b.parquet", "gen-1f2e3d4c5b6a/part-00000-c.parquet")
      .map(r => s"$root/$r")
    val foreign = "file:/data/source/t/part-00003-s.parquet"
    Snapshots.commitRewrite(spark, dir, Seq(c, b, a, foreign),
      expectedParent = Some(2L),
      dvOverride = Some(Map(a -> s"$root/_graft_dv/dv-0a1b.bin",
        foreign -> s"$root/_graft_dv/dv-9f8e.bin")),
      cdcFiles = Seq(s"$root/_graft_cdc/cdc-77aa/part-00001.parquet",
        s"$root/_graft_cdc/cdc-77aa/part-00000.parquet"),
      ridOverride = Some((Map(a -> 0L, b -> 40L, c -> 90L, foreign -> 1000L), 1200L)),
      idUpdate = Map("seq" -> (0L, 5L), "id" -> (0L, 100L)))
    val written = new String(Files.readAllBytes(java.nio.file.Paths.get(
      s"$dir/${Snapshots.Dir}/v000000000003.txt")), "UTF-8")
    // only the commit wall-clock (header column 4) differs
    val (header, body) = written.splitAt(written.indexOf('\n'))
    assert(header.split('\t').updated(3, "1792289306167").mkString("\t") + body ==
      committedV3)
  }
}
