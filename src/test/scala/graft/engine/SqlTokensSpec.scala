package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import SqlTokens._

/** The token helpers every front-end pass shares: one rule for quotes,
  * comments and nesting. */
class SqlTokensSpec extends AnyFunSuite {

  private def at(toks: Vector[Tok], text: String, nth: Int = 0): Int =
    toks.indices.filter(toks(_).text == text)(nth)

  test("nextSig / prevSig / parenAfter skip whitespace and both comment forms") {
    val toks = lex("a /* x */ -- y\n  b\t/**/ ( )")
    assert(nextSig(toks, at(toks, "a")) == Some(at(toks, "b")))
    assert(prevSig(toks, at(toks, "b")) == Some(at(toks, "a")))
    assert(parenAfter(toks, at(toks, "b")) == Some(at(toks, "(")))
    assert(parenAfter(toks, at(toks, "a")).isEmpty)
    assert(nextSig(toks, at(toks, ")")).isEmpty)
    assert(prevSig(toks, 0).isEmpty)
  }

  test("paren matching: nested, inside strings, and unbalanced") {
    val toks = lex("f(a, (b), g(')'), \"(\") x")
    val close = matchParen(toks, at(toks, "("))
    assert(toks(close) == Op(")") && toks(nextSig(toks, close).get) == Ident("x"))
    assert(matchOpen(toks, close) == at(toks, "("))
    val open = lex("(a (b")
    assert(matchParen(open, 0) == open.length - 1)
    assert(matchOpen(lex("a b)"), 3) == -1)
    val br = lex("v[a[0]] y")
    assert(matchBracket(br, 1) == at(br, "]", 1))
  }

  test("splitArgs: empty lists have no arguments, empty arguments are kept") {
    def args(sql: String): Seq[String] = {
      val toks = lex(sql)
      val open = at(toks, "(")
      splitArgs(toks, open, matchParen(toks, open))
        .map { case (a, b) => render(toks.slice(a, b)).trim }
    }
    assert(args("f()") == Nil)
    assert(args("f( /* none */ )") == Nil)
    assert(args("f(a,)") == Seq("a", ""))
    assert(args("f(a, (b, c), 'x,y', \"p,q\" /* , */)") ==
      Seq("a", "(b, c)", "'x,y'", "\"p,q\" /* , */"))
  }

  test("topKeyword ignores strings, quoted identifiers, comments and nested parens") {
    val toks = lex(
      "SELECT 'where' AS \"WHERE\" /* where */ FROM (SELECT 1 WHERE TRUE) t " +
        "-- where\n WHERE x = 1")
    val w = topKeyword(toks, "WHERE")
    assert(w >= 0 && render(toks.drop(w)) == "WHERE x = 1")
    assert(topKeyword(toks, "where", w + 1) == -1)
    assert(topKeyword(lex("a 'WHERE' /* WHERE */ \"WHERE\" (WHERE)"), "WHERE") == -1)
  }

  test("splitTop splits at top-level separators only") {
    val toks = lex("a = 1 AND (b = 2 AND c = 3) AND 'x AND y' = d")
    val parts = splitTop(toks, 0, toks.length)(isKw(_, "AND"))
      .map { case (a, b) => render(toks.slice(a, b)).trim }
    assert(parts == Seq("a = 1", "(b = 2 AND c = 3)", "'x AND y' = d"))
  }

  test("replaceCalls replaces calls with their qualifier, not names in literals") {
    val toks = lex(
      "SELECT 'f()' AS s, f(1, g(2)) /* f() */, x.y.F (3), f FROM t")
    val out = replaceCalls(toks, Set("F")) { (name, args) =>
      if (render(args) == "3") None else Some(Seq(Ident(s"<$name:${render(args)}>")))
    }
    assert(render(out) ==
      "SELECT 'f()' AS s, <F:1, g(2)> /* f() */, x.y.F (3), f FROM t")
    val q = replaceCalls(lex("FROM information_schema . h() x"), Set("H"))(
      (_, _) => Some(Seq(Ident("v"))))
    assert(render(q) == "FROM v x")
  }

  test("leadingGroup splits at the paren the text opens with") {
    assert(leadingGroup("(SELECT ')' FROM t) OVERWRITE = TRUE") ==
      Some(("SELECT ')' FROM t", " OVERWRITE = TRUE")))
    assert(leadingGroup("t OVERWRITE = TRUE").isEmpty)
  }
}
