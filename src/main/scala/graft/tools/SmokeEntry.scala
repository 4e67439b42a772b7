package graft.tools
/** Dev smoke: drives SparkEntry.entry exactly as the driver does. */
object SmokeEntry {
  def main(args: Array[String]): Unit = {
    val spark = graft.Graft.localSession("4", "ERROR",
      Seq("spark.sql.session.timeZone" -> "UTC"))
    val df = graft.SparkEntry.entry(spark)
    df.show(10, false)
    println("ENTRY ROWS=" + df.count())
    spark.stop()
  }
}
