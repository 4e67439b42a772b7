package graft.operators

/** Seeded text corpora for the dedup specs: originals drawn from a skewed
 *  vocabulary, shared boilerplate lines, exact copies and near copies with
 *  two words edited. */
object DedupCorpus {

  /** `n` texts whose lines are joined by `sep`. With `oddTexts`, about one
   *  text in ten is null or empty and about one original in five repeats
   *  one of its own lines. */
  def texts(seed: Long, n: Int, sep: String = "\n", oddTexts: Boolean = false): IndexedSeq[String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.fill(300)(Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    def word(): String = vocab((vocab.size * math.pow(rnd.nextDouble(), 2.0)).toInt)
    def line(words: Int): String = Seq.fill(words)(word()).mkString(" ")
    val boiler = IndexedSeq.fill(8)(line(6))
    def original(): Seq[String] = {
      val body = Seq.fill(3 + rnd.nextInt(4))(line(6 + rnd.nextInt(5)))
      val withBoiler = (0 until rnd.nextInt(3)).foldLeft(body) { (ls, _) =>
        val at = rnd.nextInt(ls.size + 1)
        (ls.take(at) :+ boiler(rnd.nextInt(boiler.size))) ++ ls.drop(at)
      }
      if (oddTexts && rnd.nextInt(5) == 0) withBoiler :+ withBoiler(rnd.nextInt(withBoiler.size))
      else withBoiler
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    (0 until n).map { _ =>
      val u = rnd.nextDouble()
      val doc =
        if (out.isEmpty || u < 0.7) original()
        else {
          val src = out(rnd.nextInt(out.size))
          if (u < 0.8 || src.isEmpty) src
          else (0 until 2).foldLeft(src) { (ls, _) =>
            val i = rnd.nextInt(ls.size)
            val ws = ls(i).split(" ")
            ws(rnd.nextInt(ws.length)) = word()
            ls.updated(i, ws.mkString(" "))
          }
        }
      out += doc
      if (oddTexts && rnd.nextInt(20) == 0) null
      else if (oddTexts && rnd.nextInt(19) == 0) ""
      else doc.mkString(sep)
    }
  }
}
