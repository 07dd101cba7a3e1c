package graft.mr

/** Native Scala re-implementations of the reference's shipped executables
  * (SURVEY.md §2.2) with byte-identical stream semantics, so golden files
  * compare exactly whether a job runs them as [[Native]] stages or runs the
  * original programs as [[Exec]] stages.
  *
  * Behavior studied from `/root/reference/tests/testdata/exec/`:
  *  - wc_map.sh:12  — `tr '[ \t]' '\n' | tr upper lower | awk '{print $1"\t1"}'`:
  *    tr treats SET1's brackets as LITERAL characters, so '[', ']', space
  *    and tab are ALL translated to newlines — every segment delimited by
  *    any of those four characters, INCLUDING empties (blank lines,
  *    consecutive separators), emits `segment\t1` lowercased.
  *  - wc_reduce.sh:14 — `cut -f1 | uniq -c | awk '{print $2"\t"$1}'`:
  *    consecutive equal keys collapse to `key\tcount`.
  *  - wc_map.py / wc_reduce.py — whitespace `str.split()` (no empties) and
  *    SPACE-separated reduce output (`f"{key} {count}"`).
  *  - grep_map.py:14-28 — strip; drop blanks; emit `1\tline` when the query
  *    (default "product") occurs in `line.lower()`.
  *  - grep_reduce.py:11-28 — strip; keep only exactly-2-field TAB splits;
  *    print the value.
  */
object NativeQueries {

  /** wc_map.sh twin. Split set is `[`, `]`, space, tab — tr's SET1
    * brackets are literal split characters, not class syntax. Splits by
    * hand, keeping empty segments as `split(_, -1)` would. */
  def wcMapSh(lines: Iterator[String]): Iterator[String] =
    lines.flatMap { line =>
      new Iterator[String] {
        private var start = 0 // -1 once the last segment is out
        def hasNext: Boolean = start >= 0
        def next(): String = {
          var end = start
          while (end < line.length && !isWcSeparator(line.charAt(end))) end += 1
          val seg = line.substring(start, end)
          start = if (end < line.length) end + 1 else -1
          seg.toLowerCase + "\t1"
        }
      }
    }

  private def isWcSeparator(c: Char): Boolean = c == ' ' || c == '\t' || c == '[' || c == ']'

  /** Length of `line`'s key (the prefix before the first TAB). */
  private def keyLength(line: String): Int = {
    val i = line.indexOf('\t')
    if (i < 0) line.length else i
  }

  /** Whether `line`'s key equals the key `first.substring(0, k)`, compared
    * in place. Equal lines of a sorted stream are often the same object. */
  private def sameKey(line: String, first: String, k: Int): Boolean =
    (line eq first) || (line.regionMatches(0, first, 0, k) &&
      (line.length == k || line.charAt(k) == '\t'))

  /** wc_reduce.sh twin (consecutive-group count over the sorted stream). */
  def wcReduceSh(lines: Iterator[String]): Iterator[String] = new Iterator[String] {
    private val it = lines.buffered
    def hasNext: Boolean = it.hasNext
    def next(): String = {
      val first = it.next()
      val k = keyLength(first)
      var n = 1L
      while (it.hasNext && sameKey(it.head, first, k)) { it.next(); n += 1 }
      first.substring(0, k) + "\t" + n
    }
  }

  /** wc_map.py twin: Python str.split() ≡ split on whitespace runs, no
    * empties, leading/trailing ignored. */
  def wcMapPy(lines: Iterator[String]): Iterator[String] =
    lines.flatMap(_.split("\\s+").iterator.filter(_.nonEmpty).map(w => s"$w\t1"))

  /** wc_reduce.py twin: sums the numeric values, SPACE-separated output. */
  def wcReducePy(lines: Iterator[String]): Iterator[String] = new Iterator[String] {
    private val it = lines.buffered
    def hasNext: Boolean = it.hasNext
    def next(): String = {
      val first = it.head
      val k = keyLength(first)
      var n = 0L
      while (it.hasNext && sameKey(it.head, first, k)) {
        val l = it.next()
        n += (if (l.length == k) 0L else l.substring(k + 1).trim.toLong)
      }
      first.substring(0, k) + " " + n
    }
  }

  /** grep_map.py twin. */
  def grepMap(query: String = "product")(lines: Iterator[String]): Iterator[String] =
    lines.flatMap { raw =>
      val line = raw.trim
      if (line.nonEmpty && line.toLowerCase.contains(query)) Iterator("1\t" + line)
      else Iterator.empty
    }

  /** grep_reduce.py twin. */
  def grepReduce(lines: Iterator[String]): Iterator[String] =
    lines.flatMap { raw =>
      val parts = raw.trim.split("\t", -1)
      if (parts.length == 2) Iterator(parts(1)) else Iterator.empty
    }
}
