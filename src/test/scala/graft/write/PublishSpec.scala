package graft.write

import java.nio.file.Files

import graft.SparkSpec
import graft.model.CqlSchema
import graft.operators.Colocated
import graft.sources.{GraftCatalog, TokenPruner}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, GreaterThanOrEqual, In, LessThanOrEqual}

/** The one publish step every writer of table files goes through
 *  ([[TokenSortedWriter.publish]]): a lost commit race leaves nothing
 *  behind, generations carry no manifest of their own, vacuum removes the
 *  generation dirs it empties, and every write path reads its layout from
 *  the one options parser ([[TokenSortedWriter.WriteConf.fromOptions]]). */
class PublishSpec extends SparkSpec {
  import spark.implicits._

  private val schema = CqlSchema("t", Seq("id"))

  spark.sparkContext.hadoopConfiguration
    .set("fs.hooked.impl", classOf[HookedFileSystem].getName)

  /** One base dir under two catalogs: `pub` reaches it through the local
   *  filesystem, `pubhk` through the hooked one (the racing side). */
  private val base: String = {
    val b = Files.createTempDirectory("graft_publish_").toString
    spark.conf.set("spark.sql.catalog.pub", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pub.base", b)
    spark.conf.set("spark.sql.catalog.pubhk", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.pubhk.base", s"hooked://host$b")
    b
  }

  private def freshDir(): String =
    Files.createTempDirectory("graft_publish_").toString + "/t"

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"v$i")).toDF("id", "payload")

  private def writeSnap(ids: Range, dir: String, partitions: Int = 2): Unit =
    TokenSortedWriter.write(rows(ids), schema, dir, SaveMode.Append,
      TokenSortedWriter.WriteConf(numPartitions = partitions, snapshot = true))

  private def fsOf(dir: String) = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq.sorted

  private def read(dir: String, pin: Option[String] = None): DataFrame = {
    val r = spark.read.format("graft").option("path", dir).option("pk", "id")
    pin.fold(r)(v => r.option("snapshotVersion", v)).load()
  }

  private def versions(dir: String): Seq[Long] = {
    val fs = fsOf(dir)
    Snapshots.latestVersion(spark, dir).toSeq.flatMap(h => (1L to h).filter(v =>
      fs.exists(new Path(dir, f"${Snapshots.Dir}/v$v%012d.txt"))))
  }

  /** Data, DV and change-data files on disk that no retained version
   *  references. */
  private def unreferenced(dir: String): Seq[String] = {
    val fs = fsOf(dir)
    val root = fs.makeQualified(new Path(dir))
    def walk(d: Path): Seq[String] =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.startsWith(".") || s.getPath.getName.startsWith("_")) Nil
        else Seq(s.getPath.toString))
    val onDisk = TokenPruner.listDataFiles(fs, root).map(_.getPath.toString).toSeq ++
      walk(new Path(root, DeletionVectors.Dir)) ++ walk(new Path(root, Snapshots.CdcDir))
    val referenced = versions(dir).flatMap(v =>
      Snapshots.files(spark, dir, v) ++ Snapshots.deletionVectors(spark, dir, v).values ++
        Snapshots.changeDataFiles(spark, dir, v)).toSet
    onDisk.filterNot(referenced).sorted
  }

  private def concurrentCommit(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Snapshots.ConcurrentCommitException])

  /** Run `op` on the hooked spelling of `dir` while `append` (on the plain
   *  spelling) commits just before `op`'s version-file create, then check
   *  the lost race left no trace: the race surfaces, the head is the
   *  concurrent append, no unreferenced file remains and a listing read
   *  equals the head read. */
  private def losesRace(dir: String, append: () => Unit)(op: String => Any): Unit = {
    val before = if (fsOf(dir).exists(new Path(dir))) ids(read(dir)) else Nil
    val head = Snapshots.latestVersion(spark, dir)
    HookedFileSystem.armOnVersionCreate(append)
    spark.conf.set(Snapshots.AllowNonAtomicConf, "true")
    val e = try intercept[Exception](op(s"hooked://host$dir"))
      finally {
        spark.conf.unset(Snapshots.AllowNonAtomicConf)
        HookedFileSystem.disarm()
      }
    assert(concurrentCommit(e), s"expected a ConcurrentCommitException, got $e")
    TokenPruner.invalidateListing(dir)
    assert(Snapshots.latestVersion(spark, dir) == Some(head.getOrElse(0L) + 1),
      "exactly the concurrent append committed")
    val after = ids(read(dir))
    assert(before.toSet.subsetOf(after.toSet) && after.size > before.size,
      "the head holds the old rows plus the concurrent append's")
    assert(unreferenced(dir).isEmpty, s"left behind: ${unreferenced(dir)}")
    assert(ids(read(dir, Some("listing"))) == after, "the listing read equals the head read")
  }

  test("a lost race leaves nothing behind: append with expectEmptyLog, " +
      "compactInPlace, overwriteLogged, deleteRowsWhere, optimizeSmallFiles, deepClone") {
    val empty = freshDir()
    losesRace(empty, () => writeSnap(100 until 110, empty)) { d =>
      TokenSortedWriter.write(rows(0 until 50), schema, d, SaveMode.Append,
        TokenSortedWriter.WriteConf(numPartitions = 2, snapshot = true, expectEmptyLog = true))
    }

    def twoGenerations(): String = {
      val dir = freshDir()
      writeSnap(0 until 100, dir)
      writeSnap(50 until 150, dir)
      dir
    }
    val compacted = twoGenerations()
    losesRace(compacted, () => writeSnap(1000 until 1010, compacted)) { d =>
      TokenSortedWriter.compactInPlace(spark, schema, d)
    }
    assert(!fsOf(compacted).listStatus(new Path(compacted))
      .exists(_.getPath.getName.startsWith("gen-")), "the lost generation's dir is gone")

    val overwritten = twoGenerations()
    losesRace(overwritten, () => writeSnap(1000 until 1010, overwritten)) { d =>
      TokenSortedWriter.overwriteLogged(rows(500 until 520), schema, d)
    }

    val deleted = twoGenerations()
    losesRace(deleted, () => writeSnap(1000 until 1010, deleted)) { d =>
      TokenSortedWriter.deleteRowsWhere(spark, schema, d,
        Array(In("id", Array[Any](3L, 60L, 120L))), Seq(3L, 60L, 120L).toDF("id"))
    }

    val packed = twoGenerations()
    losesRace(packed, () => writeSnap(1000 until 1010, packed)) { d =>
      TokenSortedWriter.optimizeSmallFiles(spark, schema, d)
    }

    val source = twoGenerations()
    val clone = freshDir()
    losesRace(clone, () => writeSnap(1000 until 1010, clone)) { d =>
      Snapshots.deepClone(spark, source, d)
    }
  }

  test("a lost race leaves nothing behind: copy-on-write DELETE (with change " +
      "data) and merge-on-read DELETE") {
    def table(name: String, extra: String): String = {
      spark.sql(s"""CREATE TABLE pub.db.$name (id BIGINT, payload STRING)
                   |USING graft OPTIONS (pk 'id', partitions '2', snapshot 'true'$extra)"""
        .stripMargin)
      spark.sql(s"INSERT INTO pub.db.$name SELECT id, concat('v', id) FROM range(0, 200)")
      s"$base/db/$name"
    }
    def insert(name: String): () => Unit =
      () => spark.sql(s"INSERT INTO pub.db.$name SELECT id, 'c' FROM range(1000, 1010)")
    val cow = table("cow", ", changeFeedCow 'true'")
    losesRace(cow, insert("cow"))(_ => spark.sql("DELETE FROM pubhk.db.cow WHERE id % 3 = 0"))
    val cdcRoot = new Path(cow, Snapshots.CdcDir)
    def changeDirs(): Seq[String] =
      if (!fsOf(cow).exists(cdcRoot)) Nil
      else fsOf(cow).listStatus(cdcRoot).map(_.getPath.getName).filter(_.startsWith("cdc-")).toSeq
    assert(changeDirs().isEmpty, s"the lost race's change-data dir stays: ${changeDirs()}")
    // vacuumOrphans removes a cdc-* dir once its last orphan goes
    val stale = new Path(cdcRoot, "cdc-stale/_SUCCESS")
    fsOf(cow).create(stale).close()
    fsOf(cow).setTimes(stale, 0L, -1L)
    assert(Snapshots.vacuumOrphans(spark, cow, olderThanMs = 0L).exists(_.endsWith("cdc-stale/_SUCCESS")))
    assert(changeDirs().isEmpty, s"vacuumOrphans left ${changeDirs()}")
    // and vacuum drops the dir of the change data it expires
    spark.sql("DELETE FROM pub.db.cow WHERE id = 1")
    assert(changeDirs().size == 1)
    insert("cow")()
    Snapshots.vacuum(spark, cow, keepLast = 1)
    assert(changeDirs().isEmpty, s"vacuum left ${changeDirs()}")
    val mor = table("mor", ", dmlMode 'merge-on-read'")
    losesRace(mor, insert("mor"))(_ => spark.sql("DELETE FROM pubhk.db.mor WHERE id % 3 = 0"))
  }

  /** Manifest rows per relative path, over every fragment at the root. */
  private def manifestRows(dir: String): Map[String, Seq[String]] = {
    val fs = fsOf(dir)
    fs.listStatus(new Path(dir, Manifest.Dir)).toSeq
      .filter(_.getPath.getName.endsWith(".tsv"))
      .flatMap { s =>
        val in = fs.open(s.getPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      }
      .filter(_.nonEmpty).map(_.split("\t", -1))
      .groupBy(_.head).map { case (p, ls) => p -> ls.map(l => l(10)) }
  }

  private def nestedManifests(dir: String): Seq[String] = {
    val fs = fsOf(dir)
    def walk(d: Path, top: Boolean): Seq[String] = fs.listStatus(d).toSeq.flatMap { s =>
      if (!s.isDirectory) Nil
      else if (s.getPath.getName == Manifest.Dir && !top) Seq(s.getPath.toString)
      else walk(s.getPath, top = false)
    }
    walk(new Path(dir), top = true)
  }

  /** Every file the head commits has exactly one root manifest row, with a
   *  digest, and no manifest dir exists below the root. */
  private def manifestedOnce(dir: String): Unit = {
    assert(nestedManifests(dir).isEmpty, s"nested manifests: ${nestedManifests(dir)}")
    val root = fsOf(dir).makeQualified(new Path(dir)).toString.stripSuffix("/") + "/"
    val byPath = manifestRows(dir)
    val head = Snapshots.latestVersion(spark, dir).get
    Snapshots.files(spark, dir, head).foreach { f =>
      val digests = byPath.getOrElse(f.stripPrefix(root), Nil)
      assert(digests.length == 1 && digests.head != "-",
        s"$f has ${digests.length} manifest row(s): $digests")
    }
  }

  test("generations carry no manifest of their own; every committed file has " +
      "one root manifest row with a digest") {
    val dir = freshDir()
    writeSnap(0 until 100, dir)
    writeSnap(50 until 150, dir)
    TokenSortedWriter.compactInPlace(spark, schema, dir, vacuumRetain = 5)
    manifestedOnce(dir)
    TokenSortedWriter.overwriteLogged(rows(0 until 40), schema, dir)
    manifestedOnce(dir)
    assert(ids(read(dir)) == (0L until 40L))

    spark.sql("""CREATE TABLE pub.db.mcow (id BIGINT, payload STRING)
                |USING graft OPTIONS (pk 'id', partitions '2', snapshot 'true')""".stripMargin)
    spark.sql("INSERT INTO pub.db.mcow SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("DELETE FROM pub.db.mcow WHERE id % 3 = 0")
    manifestedOnce(s"$base/db/mcow")
    spark.sql("""CREATE TABLE pub.db.mmor (id BIGINT, payload STRING)
                |USING graft OPTIONS (pk 'id', partitions '2', snapshot 'true',
                |  dmlMode 'merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO pub.db.mmor SELECT id, concat('v', id) FROM range(0, 100)")
    spark.sql("UPDATE pub.db.mmor SET payload = 'u' WHERE id % 3 = 0")
    manifestedOnce(s"$base/db/mmor")
    assert(spark.table("pub.db.mmor").filter(col("payload") === "u").count() == 34L)
  }

  test("vacuum removes the gen-* dirs it empties") {
    val dir = freshDir()
    writeSnap(0 until 100, dir)
    (1 to 4).foreach { c =>
      writeSnap(c * 100 until c * 100 + 50, dir)
      TokenSortedWriter.compactInPlace(spark, schema, dir, vacuumRetain = Int.MaxValue)
      Snapshots.vacuum(spark, dir, keepLast = 1)
    }
    val gens = fsOf(dir).listStatus(new Path(dir)).map(_.getPath.getName)
      .filter(_.startsWith("gen-"))
    assert(gens.length == 1, s"gen dirs left: ${gens.mkString(", ")}")
    assert(ids(read(dir)).length == 300)
  }

  private def band(c: String, lo: Long, hi: Long) =
    And(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** The GraftClusterBySpec INSERT check, over the head's generation files. */
  private def prunesBothAxes(dir: String): Unit = {
    val gen = Snapshots.snapshot(spark, dir, None).files.filter(_.path.contains("/gen-"))
    assert(gen.length >= 8, s"expected a multi-file generation, got ${gen.length}")
    val cql = CqlSchema("grid", Seq("id"))
    Seq("a", "b").foreach { c =>
      val kept = TokenPruner.prune(spark, gen, Array(band(c, 0L, 127L)), cql)
      assert(kept.length <= gen.length / 2, s"$c kept ${kept.length}/${gen.length}")
    }
  }

  test("DML rewrites of a CLUSTER BY table keep the Z-order layout") {
    val rnd = new scala.util.Random(7)
    Seq.fill(20000)((rnd.nextLong(), rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      .toDF("id", "a", "b").createOrReplaceTempView("pub_grid")
    def table(name: String, extra: String): String = {
      spark.sql(s"""CREATE TABLE pub.db.$name (id BIGINT, a BIGINT, b BIGINT)
                   |USING graft CLUSTER BY (a, b)
                   |OPTIONS (pk 'id', partitions '16', snapshot 'true'$extra)""".stripMargin)
      spark.sql(s"INSERT INTO pub.db.$name SELECT id, a, b FROM pub_grid")
      s"$base/db/$name"
    }
    val cow = table("zcow", "")
    // every file holds even ids, so the CoW DELETE rewrites all of them
    spark.sql("DELETE FROM pub.db.zcow WHERE id % 2 = 0")
    assert(Snapshots.snapshot(spark, cow, None).files.forall(_.path.contains("/gen-")))
    prunesBothAxes(cow)
    val mor = table("zmor", ", dmlMode 'merge-on-read'")
    spark.sql("UPDATE pub.db.zmor SET b = b WHERE a >= 0")
    prunesBothAxes(mor)
    assert(spark.table("pub.db.zmor").count() == 20000L)
  }

  test("the batch sink honours the ringSplits option") {
    val dir = freshDir()
    (1L to 4000L).map(i => (i, i)).toDF("k", "v").write.format("graft")
      .option("path", dir).option("pk", "k").option("ringSplits", "4")
      .mode(SaveMode.Append).save()
    assert(Colocated.nominalRanges(spark, dir).map(_.length).contains(4))
  }
}
