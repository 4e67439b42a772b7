package perfbench

/** Seeded document generator for the corpus pipeline. Originals take the
 *  lowest ids; exact copies and word-edited near copies of random originals
 *  follow, so every duplicate cluster's smallest id is its original. Some
 *  originals also carry shared boilerplate lines. Lines are joined by "\n",
 *  words by single spaces. */
object CorpusGen {
  private val Vocab = 4000
  private val Boilerplate = 24

  /** (id, text, is-original) for `n` documents. */
  def docs(seed: Long, n: Int, exactPct: Double, nearPct: Double): Seq[(Long, String, Boolean)] = {
    val rnd = new java.util.Random(seed ^ 0x5eed0c0de5L)
    val vocab = Array.fill(Vocab) {
      val len = 3 + rnd.nextInt(7)
      new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
    }
    // skewed word choice: a few words are common, most are rare
    def word(): String = vocab((Vocab * math.pow(rnd.nextDouble(), 2.0)).toInt)
    def line(words: Int): String = Seq.fill(words)(word()).mkString(" ")
    val boiler = Array.fill(Boilerplate)(line(6))

    val nExact = (n * exactPct / 100).toInt
    val nNear = (n * nearPct / 100).toInt
    val nOrig = n - nExact - nNear
    val originals = Array.tabulate(nOrig) { _ =>
      val body = Seq.fill(5 + rnd.nextInt(4))(line(8 + rnd.nextInt(5)))
      val extra = rnd.nextDouble() match {
        case u if u < 0.3 => 2
        case u if u < 0.9 => 1
        case _ => 0
      }
      val withBoiler = (0 until extra).foldLeft(body) { (ls, _) =>
        val at = rnd.nextInt(ls.size + 1)
        (ls.take(at) :+ boiler((Boilerplate * math.pow(rnd.nextDouble(), 1.5)).toInt)) ++ ls.drop(at)
      }
      withBoiler.mkString("\n")
    }
    def nearCopy(text: String): String = {
      val lines = text.split("\n").map(_.split(" "))
      (0 until 2).foreach { _ =>
        val l = lines(rnd.nextInt(lines.length))
        l(rnd.nextInt(l.length)) = word()
      }
      lines.map(_.mkString(" ")).mkString("\n")
    }
    val copies = rnd.ints(0, 2).limit(nExact + nNear).toArray
    var exactLeft = nExact
    var nearLeft = nNear
    val dup = copies.map { c =>
      val src = originals(rnd.nextInt(nOrig))
      if ((c == 0 && exactLeft > 0) || nearLeft == 0) { exactLeft -= 1; src }
      else { nearLeft -= 1; nearCopy(src) }
    }
    originals.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t, true) } ++
      dup.toSeq.zipWithIndex.map { case (t, i) => ((nOrig + i).toLong, t, false) }
  }
}
