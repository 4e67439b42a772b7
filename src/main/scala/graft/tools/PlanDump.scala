package graft.tools

import java.io.PrintWriter

/** Dev tool: dump `.explain("formatted")` for a LIST of battery queries into
  * `<outDir>/<qNN>_<tag>.txt`, one JVM for the whole batch (a JVM per
  * query pays ~25 s of session bootstrap per plan). Usage:
  * `runMain graft.tools.PlanDump <outDir> <tag> <query> [query…]`;
  * `SPARK_GRAFT_SF_DIR` picks the dataset (default sf0.01). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query> [query…]")
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Graft.localSession("4", "ERROR",
      Seq("spark.sql.session.timeZone" -> "UTC"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      // formatted explain can throw on ReusedExchange under AQE (printer
      // bug only); fall back so the audit loop still produces output
      val plan =
        try {
          val qe = df.queryExecution
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted") match {
            case m => qe.explainString(m)
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            df.queryExecution.toString
        }
      val short = name.takeWhile(_ != '_')
      val w = new PrintWriter(s"$outDir/${short}_$tag.txt")
      try w.println(plan) finally w.close()
      println(s"dumped $name")
    }
    spark.stop()
  }
}
