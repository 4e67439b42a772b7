package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types._

/**
 * A table's tombstones in force, as hash indexes over their keys: the
 * build side of a normalized read's tombstone purge, probed per row by
 * [[TombstoneProbe]] inside the scan task (the reference purges inline in
 * its merge iterator, `CompactionStreamScanner.PurgingCompactionController
 * :132-156`). Shipped as ONE Spark `Broadcast`; the hash maps are
 * `@transient lazy val`s, so each JVM builds them once (the [[LmTables]]
 * pattern).
 *
 * A probed row is `pk… ++ cks… ++ [writetime]`: the partition key, the
 * clustering keys the index reads ([[TombstoneIndex.Layout]]) and, when the
 * table carries writetimes, the row's writetime. Keys are compared as
 * `UnsafeRow`s of the table's key types — the bytes a hash join compares —
 * and a null key never matches. A tombstone kills a row it keys when
 * `coalesce(row.wt, Long.MinValue) <= coalesce(del.wt, Long.MaxValue)`;
 * a table without writetimes skips the time rule.
 */
final class TombstoneIndex private (
    val layout: TombstoneIndex.Layout,
    partKeys: Array[UnsafeRow],
    partWts: Array[Long],
    rowKeys: Array[UnsafeRow],
    rowWts: Array[Long],
    rangeKeys: Array[UnsafeRow],
    rangeBounds: Array[UnsafeRow],
    rangeWts: Array[Long]) extends Serializable {

  /** Partition and row tombstones: per key, the newest writetime. */
  @transient private lazy val parts = TombstoneIndex.hashed(partKeys, partWts)
  @transient private lazy val rows = TombstoneIndex.hashed(rowKeys, rowWts)
  /** Range tombstones: per partition key, the indexes of its ranges. */
  @transient private lazy val ranges: java.util.HashMap[UnsafeRow, Array[Int]] = {
    val m = new java.util.HashMap[UnsafeRow, Array[Int]]()
    rangeKeys.indices.groupBy(i => rangeKeys(i)).foreach { case (k, is) => m.put(k, is.toArray) }
    m
  }
  @transient private lazy val ckOrder: Ordering[Any] = PhysicalDataType.ordering(layout.rangeType)

  def size: Int = partKeys.length + rowKeys.length + rangeKeys.length

  /** Probe state for one thread. */
  def prober(): Prober = new Prober

  /** The projections of a probed row to its key rows. */
  final class Prober {
    import layout._
    private val pkProj = UnsafeProjection.create(
      pkTypes.indices.map(i => BoundReference(i, pkTypes(i), nullable = true)))
    private val rowProj = UnsafeProjection.create(
      (pkTypes.indices.map(i => BoundReference(i, pkTypes(i), nullable = true)) ++
        rowCkPos.indices.map(i => BoundReference(rowCkPos(i), rowCkTypes(i), nullable = true))).toSeq)

    /** Whether a tombstone in force kills the row `values`. */
    def kills(values: Array[Any]): Boolean = {
      var i = 0
      while (i < pkTypes.length) { if (values(i) == null) return false; i += 1 }
      val wt =
        if (!timed) 0L
        else values(values.length - 1) match {
          case null => Long.MinValue
          case w => w.asInstanceOf[Long]
        }
      def newer(delWt: Long): Boolean = !timed || wt <= delWt
      val row = new GenericInternalRow(values)
      if (partKeys.nonEmpty || rangeKeys.nonEmpty) {
        val pk = pkProj(row)
        val p = parts.get(pk)
        if (p != null && newer(p)) return true
        val rs = ranges.get(pk)
        if (rs != null) {
          val ck = values(rangeCkPos)
          if (ck != null) {
            var j = 0
            while (j < rs.length) {
              val b = rangeBounds(rs(j))
              if ((b.isNullAt(0) || ckOrder.gteq(ck, b.get(0, rangeType))) &&
                  (b.isNullAt(1) || ckOrder.lteq(ck, b.get(1, rangeType))) &&
                  newer(rangeWts(rs(j)))) return true
              j += 1
            }
          }
        }
      }
      if (rowKeys.nonEmpty) {
        i = 0
        while (i < rowCkPos.length) { if (values(rowCkPos(i)) == null) return false; i += 1 }
        val r = rows.get(rowProj(row))
        if (r != null && newer(r)) return true
      }
      false
    }
  }
}

object TombstoneIndex {

  /** Where a probed row's fields sit and their types. `rowCkTypes` are the
   *  clustering keys a row tombstone carries, at `rowCkPos` of the probed
   *  row; `rangeType` is the first clustering key's, at `rangeCkPos`
   *  (`NullType` and -1 without range tombstones). `timed`: the row ends
   *  with its writetime. */
  final case class Layout(
      pkTypes: Array[DataType],
      rowCkTypes: Array[DataType],
      rowCkPos: Array[Int],
      rangeType: DataType,
      rangeCkPos: Int,
      timed: Boolean)

  /** Key types the index compares exactly as a join does: the bytes of
   *  equal values are equal. Floating point is left out (a join
   *  normalizes -0.0 and NaN), and so are nested and collated types. */
  def supported(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BinaryType | _: DecimalType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** Collects tombstones already classified and horizon-filtered; a null
   *  writetime is passed as `Long.MaxValue`. Keys with a null field are
   *  dropped: they never match. */
  final class Builder(layout: Layout) {
    private val pkProj = UnsafeProjection.create(layout.pkTypes)
    private val rowProj = UnsafeProjection.create(layout.pkTypes ++ layout.rowCkTypes)
    private lazy val boundProj = UnsafeProjection.create(Array(layout.rangeType, layout.rangeType))
    private val parts = new java.util.HashMap[UnsafeRow, Long]()
    private val rows = new java.util.HashMap[UnsafeRow, Long]()
    private val ranges = Array.newBuilder[(UnsafeRow, UnsafeRow, Long)]

    private def noNull(key: Seq[Any]): Boolean = !key.contains(null)
    private def keep(m: java.util.HashMap[UnsafeRow, Long], k: UnsafeRow, wt: Long): Unit =
      m.merge(k.copy(), wt, (a, b) => math.max(a, b))

    def partition(pk: Seq[Any], wt: Long): Unit =
      if (noNull(pk)) keep(parts, pkProj(new GenericInternalRow(pk.toArray)), wt)

    def row(pkAndCks: Seq[Any], wt: Long): Unit =
      if (noNull(pkAndCks)) keep(rows, rowProj(new GenericInternalRow(pkAndCks.toArray)), wt)

    def range(pk: Seq[Any], lo: Any, hi: Any, wt: Long): Unit =
      if (noNull(pk)) ranges += ((pkProj(new GenericInternalRow(pk.toArray)).copy(),
        boundProj(new GenericInternalRow(Array[Any](lo, hi))).copy(), wt))

    def result(): TombstoneIndex = {
      import scala.jdk.CollectionConverters._
      val (pk, pw) = parts.asScala.toArray.unzip
      val (rk, rw) = rows.asScala.toArray.unzip
      val rs = ranges.result()
      new TombstoneIndex(layout, pk, pw, rk, rw, rs.map(_._1), rs.map(_._2), rs.map(_._3))
    }
  }

  private def hashed(keys: Array[UnsafeRow], wts: Array[Long]): java.util.HashMap[UnsafeRow, java.lang.Long] = {
    val m = new java.util.HashMap[UnsafeRow, java.lang.Long](keys.length * 2)
    keys.indices.foreach(i => m.put(keys(i), wts(i)))
    m
  }
}

/**
 * Native Catalyst predicate: true when a tombstone of the broadcast
 * [[TombstoneIndex]] kills the row `children` (`pk… ++ cks… ++
 * [writetime]`, laid out as the index's [[TombstoneIndex.Layout]]). A
 * normalized read keeps `NOT tombstone_probe(…)` — the tombstone purge as
 * a filter in the scan task, with no join, exchange or job of its own.
 * Deterministic; the broadcast value is resolved once per task.
 */
case class TombstoneProbe(children: Seq[Expression], index: Broadcast[TombstoneIndex])
    extends Expression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val prober = index.value.prober()

  def kills(values: Array[Any]): Boolean = prober.kills(values)

  override def eval(input: InternalRow): Any = {
    val values = new Array[Any](children.length)
    var i = 0
    while (i < values.length) { values(i) = children(i).eval(input); i += 1 }
    kills(values)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tombstoneProbe", this, classOf[TombstoneProbe].getName)
    val values = ctx.freshName("tombstoneKey")
    val evals = children.map(_.genCode(ctx))
    val fill = evals.zip(children).zipWithIndex.map { case ((e, c), i) =>
      val boxed =
        if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
        else e.value.toString
      s"${e.code}\n$values[$i] = ${e.isNull} ? null : (Object) $boxed;"
    }.mkString("\n")
    ev.copy(code = code"""
      |Object[] $values = new Object[${children.length}];
      |$fill
      |boolean ${ev.value} = $ref.kills($values);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)

  override def prettyName: String = "tombstone_probe"
}

object TombstoneProbe {
  def apply(values: Seq[Column], index: Broadcast[TombstoneIndex]): Column =
    GraftShims.column(new TombstoneProbe(values.map(GraftShims.expression), index))
}
