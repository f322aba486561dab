package graft.sql

import org.scalatest.funsuite.AnyFunSuite

/** Table-driven cases for [[SqlScanner]], the one lexing rule: quotes of
  * both kinds, both escape styles, comments and paren nesting. */
class SqlScannerSpec extends AnyFunSuite {

  test("split outside literals, comments and parentheses") {
    val cases = Seq(
      "a, 'x,y', b" -> Seq("a", "'x,y'", "b"),
      "a, \"x,y\", b" -> Seq("a", "\"x,y\"", "b"),
      "'it\\'s, fine', b" -> Seq("'it\\'s, fine'", "b"),
      "'it''s, fine', b" -> Seq("'it''s, fine'", "b"),
      "\"q\\\",x\", \"p\"\",q\", z" -> Seq("\"q\\\",x\"", "\"p\"\",q\"", "z"),
      "f(a, b), (c, (d, e)), g" -> Seq("f(a, b)", "(c, (d, e))", "g"),
      "a -- c, d\n, b" -> Seq("a -- c, d", "b"),
      "a /* , */, b" -> Seq("a /* , */", "b"))
    cases.foreach { case (in, want) =>
      assert(SqlScanner.splitTopLevel(in, ',').map(_.trim) == want, in)
    }
  }

  test("statements split at semicolons outside literals") {
    val cases = Seq(
      "SELECT 'a;b' AS x; SELECT \"c;d\"" -> Seq("SELECT 'a;b' AS x", "SELECT \"c;d\""),
      "SELECT 'it\\'s; x'; SELECT 2" -> Seq("SELECT 'it\\'s; x'", "SELECT 2"),
      "SELECT 'it''s; x'; SELECT 2;" -> Seq("SELECT 'it''s; x'", "SELECT 2"),
      "SELECT 1; /* tail; SELECT 2" -> Seq("SELECT 1", "/* tail; SELECT 2"))
    cases.foreach { case (in, want) => assert(GraftSql.splitStatements(in) == want, in) }
  }

  test("comments are stripped outside literals; an unclosed block comment runs to the end") {
    val cases = Seq(
      "SELECT 1 -- c\nFROM t" -> "SELECT 1 \nFROM t",
      "SELECT '--x' /* y */ FROM t" -> "SELECT '--x'  FROM t",
      "SELECT '/* no */' AS a, \"--\" AS b" -> "SELECT '/* no */' AS a, \"--\" AS b",
      "SELECT 'a\\'--' AS c -- d" -> "SELECT 'a\\'--' AS c ",
      "SELECT 1; /* open; SELECT 2" -> "SELECT 1; ")
    cases.foreach { case (in, want) => assert(SqlScanner.stripComments(in) == want, in) }
  }

  test("paren depth pairs each ( with its ), and code maps skip literals") {
    val toks = SqlScanner.tokens("f(a, (b), ')') x")
    val open = toks.indexWhere(_.is('('))
    assert(toks(SqlScanner.closing(toks, open)).start == "f(a, (b), ')'".length)
    assert(SqlScanner.closing(SqlScanner.tokens("g(a, (b)"), 1) == -1)
    assert(SqlScanner.mapCode("a 'a' \"a\" a -- a\n/* a */ a")(_.replace("a", "B")) ==
      "B 'a' \"a\" B -- a\n/* a */ B")
  }
}
