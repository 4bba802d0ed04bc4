package graft.layout

/** W1 + the live final ordering path, ported from
  * reference: server/modules/main/routils/new_read_order.py. All
  * per-page and inherently sequential — small n.
  */
object WordOrder {

  /** The live final ordering: per paragraph (in the given component
    * order), stable y-sort the member words, group them into lines (W1: a
    * line ends before the first y ≥ its first y + 0.75·mean height; every
    * line counts, also one that emits nothing), stable x-sort each line,
    * and emit 1-based (order, line-within-paragraph) regions (reference:
    * new_read_order.py:194-229 `sort_words`, 363-423
    * `get_final_word_order`). A member id names the last word with that
    * id; a member with no word throws. The reference finds each box again
    * by a first-match scan of the word coordinates (…:6-15) and skips boxes
    * it already emitted: a word stands for the first word with an equal
    * box, emitted once. */
  def finalWordOrder(components: Seq[Vector[Int]], words: IndexedSeq[Word]): Vector[Region] = {
    val byId = new Paragraphs.WordsById(words)
    val first = firstEqualBox(words)
    val visited = new Array[Boolean](words.length)
    val regions = Vector.newBuilder[Region]
    var order = 0
    for (members <- components) {
      val n = members.length
      val word = new Array[Int](n)
      val y, line, x = new Array[Double](n)
      var heights = 0
      var p = 0
      while (p < n) {
        word(p) = byId.last(members(p))
        if (word(p) < 0) throw new NoSuchElementException(s"key not found: ${members(p)}")
        y(p) = words(word(p)).bbox.y
        heights += words(word(p)).bbox.h
        p += 1
      }
      // line and x of the p-th member in y order
      val byY = Neighbors.sortedIndices(y)
      val meanHeight = heights.toDouble / n
      var cc = 1
      var start = if (n > 0) y(byY(0)) else 0.0
      p = 0
      while (p < n) {
        val yp = y(byY(p))
        if (yp >= start + meanHeight * 0.75) { cc += 1; start = yp }
        line(p) = cc
        x(p) = words(word(byY(p))).bbox.x
        p += 1
      }
      val byLineX = sortedIndices2(line, x)
      for (i <- 0 until n) {
        val q = byLineX(i)
        val k = first(word(byY(q)))
        if (!visited(k)) {
          visited(k) = true
          order += 1
          regions += Region(bbox = words(k).bbox, order = order, line = line(q).toInt)
        }
      }
    }
    regions.result()
  }

  /** first(k): the first word whose box equals word k's. Equal boxes have
    * equal (y, x), and the words of one (y, x) come in index order. */
  private def firstEqualBox(words: IndexedSeq[Word]): Array[Int] = {
    val n = words.length
    val y, x = new Array[Double](n)
    for (k <- 0 until n) { y(k) = words(k).bbox.y; x(k) = words(k).bbox.x }
    val byYX = sortedIndices2(y, x)
    val first = new Array[Int](n)
    var start = 0
    for (j <- 0 until n) {
      val k = byYX(j)
      if (y(k) != y(byYX(start)) || x(k) != x(byYX(start))) start = j
      var i = start
      while (words(byYX(i)).bbox != words(k).bbox) i += 1
      first(k) = byYX(i)
    }
    first
  }

  /** The indices in ascending (a, b, index) order: stable sorts by b,
    * then by a. */
  private def sortedIndices2(a: Array[Double], b: Array[Double]): Array[Int] = {
    val byB = Neighbors.sortedIndices(b)
    val key = new Array[Double](byB.length)
    for (i <- byB.indices) key(i) = a(byB(i))
    val byAB = Neighbors.sortedIndices(key)
    for (i <- byAB.indices) byAB(i) = byB(byAB(i))
    byAB
  }
}
