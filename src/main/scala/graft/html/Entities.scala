package graft.html

/** HTML entity decoding — named subset + numeric forms. Deterministic and
  * allocation-light; unknown entities pass through verbatim (browser-like
  * leniency). */
object Entities {
  private val named: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> "\u0020", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "hellip" -> "…", "mdash" -> "—",
    "ndash" -> "–", "lsquo" -> "‘", "rsquo" -> "’",
    "ldquo" -> "“", "rdquo" -> "”", "laquo" -> "«",
    "raquo" -> "»", "times" -> "×", "divide" -> "÷",
    "deg" -> "°", "plusmn" -> "±", "frac12" -> "½",
    "frac14" -> "¼", "sup2" -> "²", "sup3" -> "³",
    "micro" -> "µ", "para" -> "¶", "sect" -> "§",
    "middot" -> "·", "bull" -> "•", "dagger" -> "†",
    "euro" -> "€", "pound" -> "£", "yen" -> "¥",
    "cent" -> "¢", "szlig" -> "ß", "agrave" -> "à",
    "aacute" -> "á", "eacute" -> "é", "egrave" -> "è",
    "iacute" -> "í", "oacute" -> "ó", "uacute" -> "ú",
    "ntilde" -> "ñ", "uuml" -> "ü", "ouml" -> "ö",
    "auml" -> "ä", "shy" -> "­")

  /** Decode entities in `s`. A '&' starts an entity only if a valid
    * named/numeric form terminated by ';' follows within 32 chars. */
  def decode(s: String): String =
    if (s.indexOf('&') < 0) s
    else {
      val a = s.toCharArray
      new String(a, 0, decodeInPlace(a, 0, a.length))
    }

  /** [[decode]] of `a[from, until)`, written over itself from `from`;
    * returns the end of the decoded text. In place is safe because no
    * replacement is longer than its entity: a named one is one char for a
    * body of at least two, and a numeric one needs two chars only above
    * U+FFFF, which takes at least five digits. So the write position never
    * passes the read position, and decoded text is never longer than the
    * raw text. The ';' is looked for in the 32-char window only, so a run
    * of '&' costs O(1) each. */
  def decodeInPlace(a: Array[Char], from: Int, until: Int): Int = {
    var r = from
    var w = from
    while (r < until) {
      val c = a(r)
      if (c != '&') { a(w) = c; w += 1; r += 1 }
      else {
        val lim = math.min(until, r + 33)
        var semi = r + 1
        while (semi < lim && a(semi) != ';') semi += 1
        var consumed = false
        if (semi < lim) {
          val body = new String(a, r + 1, semi - r - 1)
          if (body.startsWith("#")) {
            val numStr = body.substring(1)
            val cp =
              try {
                if (numStr.startsWith("x") || numStr.startsWith("X"))
                  Integer.parseInt(numStr.substring(1), 16)
                else Integer.parseInt(numStr)
              } catch { case _: NumberFormatException => -1 }
            if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp)) {
              w += Character.toChars(cp, a, w)
              consumed = true
            }
          } else named.get(body) match {
            case Some(rep) => rep.getChars(0, rep.length, a, w); w += rep.length; consumed = true
            case None =>
          }
        }
        if (consumed) r = semi + 1
        else { a(w) = '&'; w += 1; r += 1 }
      }
    }
    w
  }
}
