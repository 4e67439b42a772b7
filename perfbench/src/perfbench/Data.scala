package perfbench

import graft.model.CqlSchema
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation and the order-independent checksum every timed
 *  result is compared by. Nothing here calls graft code; the workloads build
 *  their models from these inputs with stock Spark operators. */
object Data {
  val Cols: Seq[String] = Seq("pk", "ck", "a", "b", "c", "d", "e", "f")
  val Schema: CqlSchema = CqlSchema("bench", Seq("pk"), Seq("ck"))
  /** Writetime of the model's "wt" column; every version and tombstone in
   *  one table gets a distinct writetime, so no resolution depends on ties. */
  val Wt = "wt"

  /** Order-independent (count, checksum) of a result: the checksum is the
   *  sum of xxhash64 over the projected columns, summed as a decimal so the
   *  ANSI overflow check never fires. */
  final case class Sum(rows: Long, hash: BigDecimal) {
    def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
    override def toString: String = s"($rows rows, $hash)"
  }
  val Zero: Sum = Sum(0L, BigDecimal(0))

  def hashCol(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*).cast("decimal(38,0)")

  def sumOf(df: DataFrame, cols: Seq[String] = Cols): Sum = {
    val r = df.agg(count(lit(1)), sum(hashCol(cols))).head()
    Sum(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Uniform hash in [0, 100) of a key, a seed and a salt: every "x% of
   *  the keys" choice is a threshold on it, so the same seed picks the same
   *  keys. */
  def pct(seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64((keys :+ lit(seed) :+ lit(salt)): _*), lit(10000L)).cast("double") / 100.0

  /** `pks` × `cks` clustering keys per partition, as (pk, ck). */
  def keys(spark: SparkSession, pkFrom: Long, pkUntil: Long, cks: Int): DataFrame =
    spark.range(pkFrom, pkUntil).select(col("id").as("pk"))
      .crossJoin(spark.range(cks).select(col("id").cast("int").as("ck")))

  /** One version of the value columns of each (pk, ck), after the key
   *  frame's own columns: a pure function of the key, the version and the
   *  seed. */
  def rows(keyDf: DataFrame, version: Column, seed: Long): DataFrame = {
    val h = xxhash64(col("pk"), col("ck"), version, lit(seed))
    keyDf.select(col("*"),
      pmod(h, lit(1000000L)).cast("int").as("a"),
      h.as("b"),
      (pmod(h, lit(65536L)).cast("double") / 7.0).as("c"),
      concat(lit("v"), hex(h)).as("d"),
      (pmod(h, lit(2L)) === 0).as("e"),
      date_add(lit("2020-01-01").cast("date"), pmod(h, lit(1000L)).cast("int")).as("f"))
  }

  /** Recursive size of a local directory in bytes. */
  def dirBytes(dir: java.io.File): Long =
    if (dir.isFile) dir.length()
    else Option(dir.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
}
