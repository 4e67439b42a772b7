package graft.sources

import graft.model.CqlSchema
import graft.write.{Snapshots, TokenSortedWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * SQL stored procedures for table maintenance (`CALL cat.system.<proc>`
 * — the Iceberg/Delta operational surface, on Spark 4's DSv2
 * `ProcedureCatalog` SPI): the library maintenance entry points
 * ([[TokenSortedWriter.optimizeSmallFiles]], [[TokenSortedWriter
 * .compactInPlace]], [[Snapshots.vacuum]]/[[Snapshots.vacuumOrphans]],
 * tags, [[Snapshots.restore]]) become one-statement SQL, so an operator
 * schedules OPTIMIZE/VACUUM from plain SQL tooling with no Scala on the
 * classpath:
 *
 *   CALL cat.system.optimize(table => 'db.docs')
 *   CALL cat.system.vacuum(table => 'db.docs', keep_last => 3)
 *   CALL cat.system.create_tag(table => 'db.docs', name => 'train-v1')
 *   CALL cat.system.restore(table => 'db.docs', version => 4)
 *
 * Each procedure is an ACTION: it runs at CALL time on the driver,
 * commits through the same snapshot-log paths as the library calls
 * (atomic exclusive create, concurrency-guarded), and returns its result
 * as one local scan — a version number, reclaimed paths, a tag binding.
 * The `table` argument is `<namespace>.<name>` (or a bare name) within
 * the SAME catalog the CALL names; key layout (pk/ck) for the rewrite
 * procedures comes from the table descriptor, never guessed.
 */
private[sources] object GraftProcedures {

  def list: Array[String] = Array(
    "optimize", "compact", "vacuum", "vacuum_orphans",
    "create_tag", "delete_tag", "restore", "detail", "history",
    "sync_identity", "clone")

  def load(catalog: GraftCatalog, name: String): UnboundProcedure =
    name.toLowerCase match {
      case "optimize" => new Optimize(catalog)
      case "compact" => new Compact(catalog)
      case "vacuum" => new Vacuum(catalog)
      case "vacuum_orphans" => new VacuumOrphans(catalog)
      case "create_tag" => new CreateTag(catalog)
      case "delete_tag" => new DeleteTag(catalog)
      case "restore" => new Restore(catalog)
      case "detail" => new Detail(catalog)
      case "history" => new History(catalog)
      case "sync_identity" => new SyncIdentity(catalog)
      case "clone" => new Clone(catalog)
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other (have: ${list.mkString(", ")})")
    }

  private def in(name: String, t: DataType): ProcedureParameter =
    ProcedureParameter.in(name, t).build()
  private def in(name: String, t: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, t).defaultValue(default).build()

  /** Compile a maintenance `predicate => '…'` string to source filters:
   *  parse, split conjuncts, translate each — an unsupported shape
   *  refuses loudly (a silently-dropped conjunct would compact MORE than
   *  asked: correct but surprising) — then widen with generated-column
   *  inference so a timestamp predicate scopes a generated-day layout. */
  private[sources] def compileScope(
      spark: SparkSession, dir: String, predicate: String)
      : Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, Expression}
    // the descriptor schema resolves the predicate's columns (and feeds
    // generated-column inference below)
    val schema = descriptorSchema(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"optimize predicate: $dir has no table descriptor to resolve columns against"))
    val resolver = spark.sessionState.conf.resolver
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val parsed = spark.sessionState.sqlParser.parseExpression(predicate)
      .transformUp {
        case a: UnresolvedAttribute if a.nameParts.length == 1 =>
          val fld = schema.fields.find(f => resolver(f.name, a.nameParts.head))
            .getOrElse(throw new IllegalArgumentException(
              s"optimize predicate: unknown column '${a.name}' " +
                s"(have: ${schema.fieldNames.mkString(", ")})"))
          AttributeReference(fld.name, fld.dataType, fld.nullable)()
      }
    val fs = conjuncts(parsed).map { e =>
      org.apache.spark.sql.graftshim.GraftShims.translateFilter(e)
        .getOrElse(throw new IllegalArgumentException(
          s"optimize predicate: unsupported conjunct '${e.sql}' — use " +
            "column-vs-literal comparisons (=, <, <=, >, >=, IN, IS NULL, " +
            "AND, OR, LIKE-prefix)"))
    }.toArray
    // widen with generated-column inference (a timestamp predicate scopes
    // a generated-day layout)
    fs ++ GeneratedColumns.derive(fs, schema, GeneratedColumns.sessionZone(spark))
  }

  /** The persisted descriptor schema (field metadata intact — generation
   *  expressions, identity specs), or None for a log-less path table. */
  private[sources] def descriptorSchema(
      spark: SparkSession, dir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val metaFile = new org.apache.hadoop.fs.Path(dir, GraftCatalog.MetaFile)
    val f = metaFile.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(metaFile)) None
    else {
      val first = {
        val in = f.open(metaFile)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next()
        finally in.close()
      }
      Some(org.apache.spark.sql.types.DataType.fromJson(first)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.toArray)

  /** Shared scaffold: parameters in, one local result scan out. */
  private abstract class MaintenanceProcedure(
      catalog: GraftCatalog,
      override val name: String) extends UnboundProcedure with BoundProcedure {

    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    def outputSchema: StructType
    def run(spark: SparkSession, dir: String, cql: CqlSchema, input: InternalRow)
        : Array[InternalRow]

    /** First parameter of every procedure: the table, '<ns>.<name>'. */
    protected def tableParam: ProcedureParameter = in("table", StringType)

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val (dir, cql) = catalog.resolveMaintenance(input.getUTF8String(0).toString)
      val out = run(spark, dir, cql, input)
      val schema = outputSchema
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = schema
        override def description(): String = s"graft system.$name result"
      }).iterator()
    }
  }

  /** OPTIMIZE: bin-pack small files (and fold heavy deletion vectors) —
   *  layout-only commit, logical rows unchanged. `predicate => '…'`
   *  scopes the candidates to files that may hold matching rows (dir
   *  keys, column stats, token ranges — plus generated-column inference,
   *  so a timestamp predicate scopes a generated-day layout): at 100 TB
   *  you compact the partition that just ingested, never the table. */
  private final class Optimize(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "optimize") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam,
      in("small_bytes", LongType, (32L << 20).toString),
      in("target_bytes", LongType, (128L << 20).toString),
      in("max_dv_fraction", DoubleType, "0.2"),
      in("predicate", StringType, "''"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("packed_files", LongType, nullable = false),
      StructField("version", LongType, nullable = true)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val predicate =
        if (input.isNullAt(4)) "" else input.getUTF8String(4).toString.trim
      val scope =
        if (predicate.isEmpty) None
        else Some(GraftProcedures.compileScope(spark, dir, predicate))
      val packed = TokenSortedWriter.optimizeSmallFiles(spark, cql, dir,
        smallBytes = input.getLong(1), targetBytes = input.getLong(2),
        maxDvFraction = input.getDouble(3), scope = scope)
      Array(row(packed, Snapshots.latestVersion(spark, dir).map(Long.box).orNull))
    }
  }

  /** SYNC IDENTITY (the Delta `ALTER TABLE … SYNC IDENTITY` analog):
   *  re-seat each identity column's allocation mark PAST every value the
   *  table has ever stored — the repair after `GENERATED BY DEFAULT`
   *  explicit inserts outran the mark. One raw aggregate over the live
   *  files (deleted-but-DV-hidden rows INCLUDED on purpose: their values
   *  were issued once; a safe mark clears everything ever written); the
   *  mark only moves FORWARD in step direction, and the commit rides the
   *  same concurrent-allocation guard as writes. */
  private final class SyncIdentity(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "sync_identity") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("column", StringType, "''"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("old_next", LongType, nullable = false),
      StructField("new_next", LongType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val only =
        if (input.isNullAt(1)) "" else input.getUTF8String(1).toString.trim
      val schema = descriptorSchema(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          s"sync_identity: $dir has no table descriptor"))
      val all = IdentityColumns.specs(schema)
      require(all.nonEmpty, s"sync_identity: $dir has no identity columns")
      val specs =
        if (only.isEmpty) all
        else {
          val hit = all.filter(_.name == only)
          require(hit.nonEmpty, s"sync_identity: '$only' is not an identity " +
            s"column (have: ${all.map(_.name).mkString(", ")})")
          hit
        }
      val snap = Snapshots.snapshot(spark, dir, None)
      val head = snap.version.getOrElse(
        throw new IllegalArgumentException(
          s"sync_identity: $dir has no snapshot log"))
      val marks = Snapshots.identityHighWaterMarks(spark, dir, head)
      val live = snap.files
      val extremes: Map[String, Option[Long]] =
        if (live.isEmpty) specs.map(s => s.name -> None).toMap
        else {
          import org.apache.spark.sql.functions.{max => fmax, min => fmin, col}
          val aggs = specs.map(s =>
            (if (s.step > 0) fmax(col(CqlSchema.quoted(s.name)))
             else fmin(col(CqlSchema.quoted(s.name)))).as(s.name))
          val r = spark.read.parquet(live.map(_.path).toIndexedSeq: _*)
            .agg(aggs.head, aggs.tail: _*).head()
          specs.zipWithIndex.map { case (s, i) =>
            s.name -> (if (r.isNullAt(i)) None else Some(r.getLong(i)))
          }.toMap
        }
      val rows = specs.map { s =>
        val cur = marks.getOrElse(s.name, s.start)
        val next = extremes(s.name) match {
          case Some(ext) =>
            val candidate = ext + s.step
            if (s.step > 0) math.max(cur, candidate) else math.min(cur, candidate)
          case None => cur
        }
        (s.name, cur, next)
      }
      val moved = rows.collect { case (c, cur, next) if next != cur =>
        c -> (cur, next)
      }.toMap
      if (moved.nonEmpty)
        Snapshots.commitAppend(spark, dir, Nil, None, idUpdate = moved)
      rows.map { case (c, cur, next) =>
        row(UTF8String.fromString(c), cur, next)
      }.toArray
    }
  }

  /** Compact-in-place: LWW merge + tombstone fold, fresh generation. */
  private final class Compact(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "compact") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("vacuum_retain", IntegerType, "1"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("version", LongType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] =
      Array(row(TokenSortedWriter.compactInPlace(spark, cql, dir,
        vacuumRetain = input.getInt(1))))
  }

  private final class Vacuum(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "vacuum") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("keep_last", IntegerType),
      in("keep_committed_within_ms", LongType, "0"),
      in("dry_run", BooleanType, "false"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("path", StringType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] =
      Snapshots.vacuum(spark, dir, input.getInt(1), input.getLong(2),
        input.getBoolean(3)).map(p => row(UTF8String.fromString(p))).toArray
  }

  private final class VacuumOrphans(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "vacuum_orphans") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("older_than_ms", LongType),
      in("dry_run", BooleanType, "false"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("path", StringType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] =
      Snapshots.vacuumOrphans(spark, dir, input.getLong(1), input.getBoolean(2))
        .map(p => row(UTF8String.fromString(p))).toArray
  }

  /** Tag = reproducibility pin; version -1 (default) pins the head. */
  private final class CreateTag(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "create_tag") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("name", StringType), in("version", LongType, "-1"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val v = input.getLong(2) match {
        case -1L => Snapshots.latestVersion(spark, dir).getOrElse(
          throw new IllegalArgumentException(
            s"create_tag: $dir has no committed snapshot to tag"))
        case v => v
      }
      val tagName = input.getUTF8String(1).toString
      Snapshots.tag(spark, dir, tagName, v)
      Array(row(UTF8String.fromString(tagName), v))
    }
  }

  private final class DeleteTag(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "delete_tag") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("name", StringType))
    override val outputSchema: StructType = StructType(Seq(
      StructField("deleted", BooleanType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] =
      Array(row(Snapshots.deleteTag(spark, dir, input.getUTF8String(1).toString)))
  }

  /** Lift a metadata DataFrame into the procedure-result shape: the
   *  schema plus its collected catalyst rows (metadata frames are
   *  driver-tiny by construction — one row / O(retained versions)). */
  private def collected(df: org.apache.spark.sql.DataFrame)
      : (StructType, Array[InternalRow]) =
    (df.schema, df.queryExecution.executedPlan.executeCollect())

  /** `DESCRIBE DETAIL` analog: the one-row current-state dashboard
   *  ([[Snapshots.tableDetail]] — head version, live files/rows/bytes,
   *  merge-on-read debt, tag count). */
  private final class Detail(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "detail") {
    override def parameters(): Array[ProcedureParameter] = Array(tableParam)
    private var schema: StructType = new StructType()
    override def outputSchema: StructType = schema
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val (s, rows) = collected(Snapshots.tableDetail(spark, dir))
      schema = s
      rows
    }
  }

  /** `DESCRIBE HISTORY` analog: one row per retained version
   *  ([[Snapshots.historyDf]] — commit time, parent, file/DV counts,
   *  rewrite + layout-only flags). */
  private final class History(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "history") {
    override def parameters(): Array[ProcedureParameter] = Array(tableParam)
    private var schema: StructType = new StructType()
    override def outputSchema: StructType = schema
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val (s, rows) = collected(Snapshots.historyDf(spark, dir))
      schema = s
      rows
    }
  }

  /** SHALLOW CLONE (the Delta surface as a procedure — DSv2 ships no
   *  CLONE statement): `CALL cat.system.clone(source => 'db.t',
   *  target => 'db.t2' [, version => n])` — a metadata-only copy whose
   *  v1 references the source's files; O(1) data movement at any table
   *  size. See [[Snapshots.shallowClone]] for the read/maintenance
   *  semantics and the documented source-vacuum trade. */
  private final class Clone(catalog: GraftCatalog)
      extends UnboundProcedure with BoundProcedure {
    override val name: String = "clone"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      in("source", StringType), in("target", StringType),
      in("version", LongType, "-1"), in("tag", StringType, "''"),
      in("deep", org.apache.spark.sql.types.BooleanType, "false"))
    private val outputSchema: StructType = StructType(Seq(
      StructField("clone_location", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val source = input.getUTF8String(0).toString
      val target = input.getUTF8String(1).toString
      val version =
        if (input.isNullAt(2) || input.getLong(2) < 0) None
        else Some(input.getLong(2))
      val tag =
        if (input.isNullAt(3)) None
        else Option(input.getUTF8String(3).toString.trim).filter(_.nonEmpty)
      val deep = !input.isNullAt(4) && input.getBoolean(4)
      val (dir, v) = catalog.cloneTable(source, target, version, tag, deep)
      val out = Array(row(UTF8String.fromString(dir), v))
      val schema = outputSchema
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = out
        override def readSchema(): StructType = schema
        override def description(): String = "graft system.clone result"
      }).iterator()
    }
  }

  /** Operational undo: head becomes the old content via ONE metadata
   *  commit (history intact, concurrency-guarded). */
  private final class Restore(catalog: GraftCatalog)
      extends MaintenanceProcedure(catalog, "restore") {
    override def parameters(): Array[ProcedureParameter] = Array(
      tableParam, in("version", LongType, "-1"),
      in("timestamp", StringType, "''"))
    override val outputSchema: StructType = StructType(Seq(
      StructField("new_version", LongType, nullable = false)))
    override def run(spark: SparkSession, dir: String, cql: CqlSchema,
        input: InternalRow): Array[InternalRow] = {
      val version =
        if (input.isNullAt(1) || input.getLong(1) < 0) None else Some(input.getLong(1))
      val ts =
        if (input.isNullAt(2)) None
        else Option(input.getUTF8String(2).toString.trim).filter(_.nonEmpty)
      require(version.isDefined ^ ts.isDefined,
        "restore: give version OR timestamp (exactly one)")
      // RESTORE TO TIMESTAMP = restore to the snapshot a time traveler
      // at that wall-clock would read (last commit at-or-before,
      // session-zone parsing)
      val target = version.getOrElse(Snapshots.versionAsOf(spark, dir,
        Snapshots.parseTimestampMillis(spark, ts.get)))
      Array(row(Snapshots.restore(spark, dir, target)))
    }
  }
}
