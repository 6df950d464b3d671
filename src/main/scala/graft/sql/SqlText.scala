package graft.sql

import scala.util.matching.Regex

/** The SQL lexer every text front-end in `graft.sql` shares, plus the
  * structural helpers built on it.
  *
  * [[blank]] lexes a statement once and returns its BLANKED text: the same
  * length and offsets, with the content of every literal and comment turned
  * into spaces. Front-ends locate structure (keywords, parens, commas) on
  * the blanked text and slice fragments from the original, so a keyword,
  * paren or quote inside a literal or comment is inert — as it is in the
  * reference's Calcite-generated lexer and in Spark's own `SqlBaseLexer`,
  * whose token rules this follows:
  *
  *   - `STRING_LITERAL` — `'…'` with `\x` and `''` escapes, and the raw
  *     `R'…'` / `R"…"` spellings (no escapes);
  *   - `DOUBLEQUOTED_STRING` — `"…"` with `\x` and `""` escapes;
  *   - `BACKQUOTED_IDENTIFIER` — `` `…` `` with the ``` `` ``` escape;
  *   - `SIMPLE_COMMENT` — `--` to the end of the line (a backslash before
  *     the newline continues it);
  *   - `BRACKETED_COMMENT` — `/* … */`, nested;
  *   - hints (`/*+ … */`) are NOT comments: they stay as structure and their
  *     content is lexed like the rest of the statement.
  *
  * The quote characters of a literal or identifier stay in place (only its
  * content blanks); a comment blanks whole. Whitespace is kept as it is, so
  * line structure survives. An unterminated literal or comment blanks to the
  * end of the text, leaving Spark's own parser to report the error.
  */
object SqlText {

  /** The blanked text of `sql`: same length and offsets, literal and
    * comment content turned into spaces (token rules above). */
  def blank(sql: String): String = {
    val n = sql.length
    val out = sql.toCharArray
    def at(k: Int): Char = if (k < n) sql.charAt(k) else '\u0000'
    def clear(from: Int, until: Int): Unit = {
      var k = from
      while (k < until) { if (!out(k).isWhitespace) out(k) = ' '; k += 1 }
    }
    // blank a quoted token's content from `from` (just past its opening
    // quote `q`); returns the index just past the closing quote
    def quoted(q: Char, from: Int, backslash: Boolean, doubled: Boolean): Int = {
      var j = from
      var end = -1
      while (end < 0 && j < n) {
        val d = sql.charAt(j)
        if (backslash && d == '\\') j += 2
        else if (doubled && d == q && at(j + 1) == q) j += 2
        else if (d == q) end = j
        else j += 1
      }
      if (end < 0) end = n
      clear(from, end)
      end + 1
    }
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      if ((c == 'R' || c == 'r') && (at(i + 1) == '\'' || at(i + 1) == '"') &&
          (i == 0 || !isWordChar(sql.charAt(i - 1))))
        i = quoted(at(i + 1), i + 2, backslash = false, doubled = false)
      else if (c == '\'' || c == '"') i = quoted(c, i + 1, backslash = true, doubled = true)
      else if (c == '`') i = quoted(c, i + 1, backslash = false, doubled = true)
      else if (c == '-' && at(i + 1) == '-') {
        var j = i + 2
        while (j < n && at(j) != '\n' && at(j) != '\r')
          j += (if (at(j) == '\\' && at(j + 1) == '\n') 2 else 1)
        clear(i, math.min(j, n)); i = j
      } else if (c == '/' && at(i + 1) == '*' && at(i + 2) != '+') {
        var depth = 1; var j = i + 2
        while (depth > 0 && j < n) {
          if (at(j) == '/' && at(j + 1) == '*' && at(j + 2) != '+') { depth += 1; j += 2 }
          else if (at(j) == '*' && at(j + 1) == '/') { depth -= 1; j += 2 }
          else j += 1
        }
        clear(i, math.min(j, n)); i = j
      } else i += 1
    }
    new String(out)
  }

  private def isWordChar(c: Char): Boolean = c.isLetterOrDigit || c == '_'

  private def groups(m: java.util.regex.Matcher, sql: String): List[String] =
    (1 to m.groupCount).toList.map(i =>
      if (m.start(i) < 0) null else sql.substring(m.start(i), m.end(i)))

  /** Match `re` (first match, unanchored) against the blanked text of
    * `sql` and slice every capture group from the original — a front-end's
    * clause regex can then not be satisfied by keywords inside literals or
    * comments, while captured fragments keep their literals intact. */
  def blankedMatch(re: Regex, sql: String): Option[List[String]] = {
    val m = re.pattern.matcher(blank(sql))
    if (m.find()) Some(groups(m, sql)) else None
  }

  /** [[blankedMatch]] as a FULL-match extractor, so a front-end shape regex
    * keeps its `sql match { case shapeRe(groups...) => }` style. */
  final class Blanked(re: Regex) {
    /** `probe` is text [[blank]] already returned. */
    def matches(probe: String): Boolean = re.pattern.matcher(probe).matches()
    def unapplySeq(sql: String): Option[List[String]] = {
      val m = re.pattern.matcher(blank(sql))
      if (m.matches()) Some(groups(m, sql)) else None
    }
  }

  /** Index of the `)` that closes the paren group opened just before
    * `openEnd` in the blanked text `text`, or -1 when it never closes. */
  def closeParen(text: String, openEnd: Int): Int = {
    var depth = 1; var i = openEnd
    while (i < text.length) {
      text.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private val typeConstructors = Set("ARRAY", "MAP", "ROW", "MULTISET", "STRUCT")

  /** Does the `<` at `lt` open a type constructor's parameter list
    * (`ARRAY<`, `MAP <`, …)? Anywhere else `<` is a comparison. */
  private def opensType(blanked: String, lt: Int): Boolean = {
    var e = lt
    while (e > 0 && blanked.charAt(e - 1).isWhitespace) e -= 1
    var s = e
    while (s > 0 && isWordChar(blanked.charAt(s - 1))) s -= 1
    typeConstructors(blanked.substring(s, e).toUpperCase)
  }

  /** `[from, until)` ranges of the top-level comma-separated items of the
    * blanked text. Brackets are `( )`, `[ ]` and the `< >` of a type
    * constructor; a `>` closes only an open `<`, so `a > 1` is no bracket. */
  private[sql] def topLevelItems(blanked: String): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var open = List.empty[Char]
    var start = 0
    var i = 0
    while (i < blanked.length) {
      blanked.charAt(i) match {
        case '(' | '[' => open ::= '('
        case '<' if opensType(blanked, i) => open ::= '<'
        case '>' if open.headOption.contains('<') => open = open.tail
        case ')' | ']' if open.nonEmpty => open = open.tail
        case ',' if open.isEmpty => out += ((start, i)); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += ((start, blanked.length))
    out.result()
  }

  /** Split `s` on its top-level commas (see [[topLevelItems]]); items are
    * trimmed slices of the original, empty ones dropped. */
  def splitTop(s: String): Seq[String] =
    topLevelItems(blank(s)).map { case (a, b) => s.substring(a, b).trim }.filter(_.nonEmpty)

  /** Remove `alias.` qualifiers (for any alias in `aliases`) from `s`,
    * leaving literals and comments verbatim — a literal containing `la.`
    * survives. Qualifiers are matched at word boundaries and
    * case-insensitively, mirroring identifier resolution. */
  def stripQualifiers(s: String, aliases: Iterable[String]): String = {
    val names = aliases.map(_.toLowerCase).toSet
    if (names.isEmpty) return s
    val b = blank(s)
    val out = new java.lang.StringBuilder(s.length)
    var last = 0
    var i = 0
    while (i < b.length) {
      if (b.charAt(i).isLetter || b.charAt(i) == '_') {
        val start = i
        while (i < b.length && isWordChar(b.charAt(i))) i += 1
        val isQualifier = i < b.length && b.charAt(i) == '.' &&
          names(b.substring(start, i).toLowerCase) &&
          // a preceding '.' means the word is itself a path segment — keep it
          (start == 0 || b.charAt(start - 1) != '.')
        if (isQualifier) { out.append(s, last, start); i += 1; last = i }
      } else i += 1
    }
    out.append(s, last, s.length).toString
  }
}
