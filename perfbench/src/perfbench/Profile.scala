package perfbench

/** Input sizes and mix of one workload, and how many timed ops a run of
 *  `seconds` makes. Op counts depend only on the workload, `--seconds` and
 *  `--trace`, so two commits always measure the same work. */
final case class Profile(
    name: String,
    // untimed, checked ops before the timed ones
    warmups: Int,
    cks: Int = 4,
    // bulk_load: fresh-key appends of `bulkRows` rows each
    bulkRows: Int = 40000,
    appends: Int = 0,
    // mutate_cycle: each cycle upserts `upsertPct` of the rows plus
    // `newKeyPct` new partitions, then partition- and row-deletes, then
    // makes `lookups` point lookups
    mutateParts: Long = 6000,
    upsertPct: Double = 10,
    newKeyPct: Double = 2,
    partDeletePct: Double = 1,
    rowDeletePct: Double = 0.5,
    lookups: Int = 3,
    cycles: Int = 0,
    // corpus_pipeline: documents, of which these shares are copies
    docs: Int = 2500,
    exactCopyPct: Double = 5,
    nearCopyPct: Double = 15,
    minDocs: Long = 10,
    passes: Int = 0)

object Profile {
  val Names: Seq[String] = Seq("bulk_load", "mutate_cycle", "corpus_pipeline")

  /** A traced run makes an even number of timed ops, at least two, half of
   *  them traced and half the untraced baseline of `trace.overhead_ratio`
   *  (see `Ctx.traced`). */
  def of(name: String, seconds: Int, trace: Boolean): Profile = {
    // timed ops per second of run length (see the rates below)
    def n(perSecond: Double) = {
      val ops = math.max(1, math.round(perSecond * seconds).toInt)
      if (trace) math.max(2, ops + ops % 2) else ops
    }
    name match {
      case "bulk_load" => Profile(name, warmups = 4, appends = n(BulkOpsPerS))
      case "mutate_cycle" => Profile(name, warmups = 2, cycles = n(MutateOpsPerS))
      case "corpus_pipeline" => Profile(name, warmups = 2, passes = n(CorpusOpsPerS))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${Names.mkString(", ")})")
    }
  }

  // At `seconds` = 20: 3 mutate cycles (about 5.5 s each), 2 corpus passes
  // (about 6.5 s each) and 11 appends (about 0.8 s each). Set-up, with
  // its warm-up ops, adds 15-35 s to a run, and a comparison of two
  // commits makes its 70 runs within an hour. The warm-up ops take the
  // time more timed ops would: after them an op's time stays within a few
  // percent over the run, while before them it still falls by 10-20%.
  val BulkOpsPerS = 0.55
  val MutateOpsPerS = 0.15
  val CorpusOpsPerS = 0.1
}
