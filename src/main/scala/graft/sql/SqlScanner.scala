package graft.sql

/** The one lexing rule of `graft.sql`: every walk over dialect SQL that
  * must know where literals, comments or parentheses are reads these
  * tokens (see [[GraftSql]] for the list), so all of them agree on:
  *
  *  - `'…'` and `"…"` spans: a backslash escapes the next character and a
  *    doubled quote stands for itself; an unclosed span runs to the end;
  *  - `--` line comments (the newline is not part of the comment) and
  *    `/* … */` block comments; an unclosed block comment runs to the end
  *    of the text (the worksheet behaviour the reference's order script
  *    relies on: its tail opens a block comment that never closes);
  *  - paren depth: a `(` and its matching `)` carry the depth outside them.
  */
private[sql] object SqlScanner {

  sealed trait Kind
  case object Word extends Kind    // letters, digits, `_`, `$`
  case object Quoted extends Kind  // '…' or "…"
  case object Comment extends Kind
  case object Space extends Kind
  case object Symbol extends Kind  // any other single character

  final case class Token(kind: Kind, text: String, start: Int, depth: Int) {
    def end: Int = start + text.length
    def is(word: String): Boolean = kind == Word && text.equalsIgnoreCase(word)
    def is(symbol: Char): Boolean = kind == Symbol && text.charAt(0) == symbol
  }

  def tokens(sql: String): IndexedSeq[Token] = {
    val out = IndexedSeq.newBuilder[Token]
    val n = sql.length
    def isWordChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    def at(i: Int) = if (i < n) sql(i) else '\u0000'
    var depth = 0
    var i = 0
    while (i < n) {
      val c = sql(i)
      var j = i + 1
      val kind =
        if (c == '\'' || c == '"') {
          var open = true
          while (j < n && open) {
            if (sql(j) == '\\') j += 2
            else if (sql(j) == c && at(j + 1) == c) j += 2
            else { open = sql(j) != c; j += 1 }
          }
          Quoted
        } else if (c == '-' && at(i + 1) == '-') {
          while (j < n && sql(j) != '\n') j += 1
          Comment
        } else if (c == '/' && at(i + 1) == '*') {
          val close = sql.indexOf("*/", i + 2)
          j = if (close < 0) n else close + 2
          Comment
        } else if (c.isWhitespace) {
          while (j < n && sql(j).isWhitespace) j += 1
          Space
        } else if (isWordChar(c)) {
          while (j < n && isWordChar(sql(j))) j += 1
          Word
        } else Symbol
      j = math.min(j, n)
      if (kind == Symbol && c == ')') depth -= 1
      out += Token(kind, sql.substring(i, j), i, depth)
      if (kind == Symbol && c == '(') depth += 1
      i = j
    }
    out.result()
  }

  /** Index of the next token after `i` that is not space or a comment
    * (`toks.length` when there is none). */
  def next(toks: IndexedSeq[Token], i: Int): Int = {
    val j = toks.indexWhere(t => t.kind != Space && t.kind != Comment, i + 1)
    if (j < 0) toks.length else j
  }

  /** Index of the `)` closing the `(` at `open`, or -1 when it is unclosed. */
  def closing(toks: IndexedSeq[Token], open: Int): Int =
    toks.indexWhere(t => t.is(')') && t.depth == toks(open).depth, open + 1)

  /** `sql` without its comments. */
  def stripComments(sql: String): String =
    tokens(sql).filter(_.kind != Comment).map(_.text).mkString

  /** The pieces of `sql` between the tokens `at` selects. */
  def split(sql: String)(at: Token => Boolean): Seq[String] = {
    val cuts = tokens(sql).filter(at)
    val starts = 0 +: cuts.map(_.end)
    val ends = cuts.map(_.start) :+ sql.length
    starts.zip(ends).map { case (s, e) => sql.substring(s, e) }
  }

  /** Split on `sep` outside parentheses, literals and comments. */
  def splitTopLevel(sql: String, sep: Char): Seq[String] =
    split(sql)(t => t.depth == 0 && t.is(sep))

  /** Apply `f` to each maximal run of `sql` outside literals and comments;
    * literals and comments pass through verbatim. */
  def mapCode(sql: String)(f: String => String): String = {
    val out = new StringBuilder
    val code = new StringBuilder
    tokens(sql).foreach { t =>
      if (t.kind == Quoted || t.kind == Comment) {
        out ++= f(code.toString); code.clear(); out ++= t.text
      } else code ++= t.text
    }
    out ++= f(code.toString)
    out.toString
  }
}
