package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload (bulk_load, mutate_cycle or
 *  corpus_pipeline) on inputs generated from `--seed`: it checks every
 *  timed result against the plain-Spark model and writes two JSON lines to
 *  `--result`, the run's facts (inputs, cores, heap, named figures) and the
 *  result object. With `--trace 1` the result holds the per-layer metrics
 *  and the spans go to `--spans`.
 *
 *  {{{
 *  Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *       --work <scratch dir> --result <file> [--spans <file>]
 *  }}}
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val profile = Profile.of(need("workload"), seconds, trace)
    val work = new java.io.File(need("work"))
    val nproc = Runtime.getRuntime.availableProcessors()
    // two task threads leave the other cores to the driver thread, the JIT
    // and GC threads and the host's own noise, so a core taken away for a
    // moment stalls fewer stages
    val cores = math.min(2, nproc)

    val builder = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Graft.install(spark)
    if (trace) {
      // drop any `file:` filesystem cached before the counting one was configured
      org.apache.hadoop.fs.FileSystem.closeAll()
      Trace.install()
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Log.step(f"session up ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.2f s after JVM start")
    val rec = new Recorder
    val workload = Workload(Ctx(spark, seed, work, trace, profile, rec))
    // set-up time starts at JVM start: JVM and session start, input
    // generation, fixtures, the model and the warm-up op
    workload.setup()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    def gcTotal = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcTotal
    val t0 = System.currentTimeMillis()
    workload.measure()
    val measureS = (System.currentTimeMillis() - t0) / 1000.0
    val gcMs = gcTotal - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    System.err.println(s"[perfbench] ${profile.name}: setup $setupS s, measure $measureS s")

    val ops = rec.values("op")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", 1000 * workload.opP50, "ms"),
        ("bytes_per_row", workload.bytesPerRow, "B/row"))
      else {
        val rolled = Trace.rollup()
        opts.get("spans").foreach(f => Trace.writeSpans(new java.io.File(f), rolled))
        System.err.println(s"[perfbench] self ms by layer in ${profile.name}: " +
          Trace.selfByLayer(rolled).toSeq.sortBy(-_._2).map { case (l, ms) => f"$l=$ms%.0f" }
            .mkString(" "))
        Layers.metrics(rolled, rec, gcMs, heapPeakMb)
      }

    def objOf(ms: Seq[(String, Double, String)]) = Json.Raw(Json.obj(ms.map { case (n, v, u) =>
      n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
    }))
    val (inRows, inBytes) = workload.inputs
    val info = Json.obj(Seq("info" -> Json.Raw(Json.obj(Seq(
      "workload" -> profile.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "master" -> s"local[$cores]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "input_rows" -> inRows, "input_bytes" -> inBytes, "timed_ops" -> ops.size,
      "measure_s" -> measureS, "op_ms" -> ops.map(x => math.round(x * 1000).toDouble),
      "error_rate" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "detail" -> objOf(workload.detail))))))
    val result = Json.obj(Seq(
      "correct" -> (rec.failed == 0 && ops.nonEmpty),
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "metrics" -> objOf(metrics)))
    val out = new java.io.PrintWriter(new java.io.File(need("result")), "UTF-8")
    try { out.println(info); out.println(result) } finally out.close()
    spark.stop()
    System.exit(0)
  }
}
