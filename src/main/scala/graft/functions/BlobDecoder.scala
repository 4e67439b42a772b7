package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, DataType}

/**
 * The one Catalyst shell of every blob decoder (`image_dims`, `tar_member`,
 * `flac_pcm`, ...): a subclass names its SQL function, result type, literal
 * parameters and its single [[decode]] call; the shell does the rest.
 *
 * Null/codegen contract, the same in both evaluation modes:
 *  - children are typed by [[inputTypes]] (the blob first); any other
 *    typing fails analysis with "`<name>` needs a binary column, got …"
 *    (one child) or "`<name>` needs (binary, string), got …" (several);
 *    `subtitle_cues` decodes a string column the same way;
 *  - the result is null when any child value is null — [[decode]] never
 *    sees a null input — and null when [[decode]] returns null (junk,
 *    truncated or over-cap bytes are null data, never an error);
 *  - interpreted `eval` and generated code make the same call: the
 *    children are code-generated, then the generated code calls
 *    [[decode]] on this very expression (a reference object), so there
 *    is no second, string-named entry point to drift out of step.
 */
abstract class BlobDecoder extends Expression {

  /** One SQL type per child, in child order. */
  protected def inputTypes: Seq[DataType] = Seq(BinaryType)

  /** The decode call over non-null child values in their Catalyst form
   *  (binary → `Array[Byte]`, string → `UTF8String`, int/bigint boxed);
   *  returns a value of [[dataType]] in Catalyst form, or null. */
  def decode(in: Array[Any]): Any

  /** The blob — the first child value — of a [[decode]] input. */
  protected final def blob(in: Array[Any]): Array[Byte] = in(0).asInstanceOf[Array[Byte]]

  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val want = inputTypes.map(_.simpleString)
    if (inputTypes.corresponds(got)(_ == _)) TypeCheckSuccess
    else if (got.size == 1)
      TypeCheckFailure(s"$prettyName needs a ${want.head} column, got ${got.head}")
    else TypeCheckFailure(
      s"$prettyName needs ${want.mkString("(", ", ", ")")}, got ${got.mkString("(", ",", ")")}")
  }

  override def eval(input: InternalRow): Any = {
    val in = children.map(_.eval(input)).toArray[Any]
    if (in.contains(null)) null else decode(in)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("decoder", this, classOf[BlobDecoder].getName)
    val in = children.map(_.genCode(ctx))
    val args = children.zip(in).map { case (c, e) =>
      if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})"
      else e.value.toString
    }
    val out = ctx.freshName("decoded")
    ev.copy(code = code"""
      |${in.map(_.code.toString).mkString("\n")}
      |boolean ${ev.isNull} = ${in.map(_.isNull.toString).mkString(" || ")};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      |if (!${ev.isNull}) {
      |  Object $out = $self.decode(new Object[] {${args.mkString(", ")}});
      |  ${ev.isNull} = $out == null;
      |  if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $out;
      |}
     """.stripMargin)
  }
}
