package graft.mr

import java.nio.file.{Files, Path}

/** Hermetic inputs for the exec-script twins. */
object ExecFixtures {
  /** The named exec scripts vendored under `/graft/exec/` on the classpath
    * (main and test resources), extracted into `dir` as executables; their
    * paths. */
  def extract(dir: Path, names: String*): Seq[String] =
    names.map { n =>
      val p = dir.resolve(n)
      val in = getClass.getResourceAsStream(s"/graft/exec/$n")
      require(in != null, s"vendored resource $n missing")
      try Files.copy(in, p) finally in.close()
      p.toFile.setExecutable(true)
      p.toString
    }

  /** Two word-count corpora for the `.py` pair: a Zipf-ish draw of words
    * and lines of distinct words. Words are joined and padded by runs of
    * `str.split()` whitespace (ASCII, the separators U+001C–U+001F, NEL,
    * no-break and ideographic spaces, U+2028) and mix case, non-ASCII and
    * supplementary characters and a zero-width space, which is not
    * whitespace; some lines are blank or whitespace only. No line holds a
    * `\r` or `\n`. */
  def pyWordCorpora(seed: Int): Seq[(String, Seq[String])] = {
    val rnd = new scala.util.Random(seed)
    val words = Vector("the", "The", "THE", "a", "[tag]", "x[y]z", "caf\u00e9", "\ud83d\ude00",
      "\ue000", "k\u200bv", "Zipf", "tail")
    val gaps = Vector(" ", "  ", "\t", " \t ", "\u000b", "\u000c", "\u001c", "\u001f", "\u0085",
      "\u00a0", "\u2007", "\u202f", "\u2028", "\u3000")
    def gap() = gaps(rnd.nextInt(gaps.size))
    def zipfWord() = words(math.min(words.size - 1, (-math.log(rnd.nextDouble()) * 3).toInt))
    val zipf = Seq.fill(800)((if (rnd.nextInt(4) == 0) gap() else "") +
      Seq.fill(rnd.nextInt(8))(zipfWord() + gap()).mkString)
    val distinct = (0 until 800).map(i =>
      s"w$i-${rnd.alphanumeric.take(1 + rnd.nextInt(10)).mkString}${gap()}W$i")
    Seq("zipf" -> zipf, "distinct" -> distinct)
  }
}
