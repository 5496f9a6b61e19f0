package graft.engine

import scala.collection.mutable.ArrayBuffer

/** Minimal SQL lexer for the dialect-translation layer.
  *
  * The reference parses with sqlglot's full Snowflake dialect; no Scala
  * equivalent exists, so we lex into a token stream and run targeted
  * rewrites over it (SURVEY §7.4 item 1 scopes this to the exercised
  * surface). The lexer must be exact about string/identifier quoting so
  * rewrites never corrupt literals.
  */
object SqlTokens {

  sealed trait Tok { def text: String }
  /** Unquoted identifier or keyword. */
  final case class Ident(text: String) extends Tok
  /** Double-quoted identifier, text includes the quotes. */
  final case class QIdent(text: String) extends Tok
  /** Single-quoted string literal, text includes the quotes. */
  final case class Str(text: String) extends Tok {
    def value: String = text.substring(1, text.length - 1).replace("''", "'")
  }
  final case class Num(text: String) extends Tok
  /** Operator / punctuation, e.g. `::`, `(`, `,`, `=>`. */
  final case class Op(text: String) extends Tok
  final case class Ws(text: String) extends Tok
  final case class Comment(text: String) extends Tok

  private val multiOps = Seq("::", "||", "<=", ">=", "<>", "!=", "=>", "->>", "->")

  def lex(sql: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) {
        val j = consumeWhile(sql, i, _.isWhitespace)
        out += Ws(sql.substring(i, j)); i = j
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        var j = i
        while (j < n && sql.charAt(j) != '\n') j += 1
        out += Comment(sql.substring(i, j)); i = j
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        var j = i + 2
        while (j + 1 < n && !(sql.charAt(j) == '*' && sql.charAt(j + 1) == '/')) j += 1
        val end = math.min(j + 2, n)
        out += Comment(sql.substring(i, end)); i = end
      } else if (c == '\'') {
        var j = i + 1
        var done = false
        while (j < n && !done) {
          if (sql.charAt(j) == '\'') {
            if (j + 1 < n && sql.charAt(j + 1) == '\'') j += 2
            else { done = true; j += 1 }
          } else j += 1
        }
        out += Str(sql.substring(i, j)); i = j
      } else if (c == '"') {
        var j = i + 1
        var done = false
        while (j < n && !done) {
          if (sql.charAt(j) == '"') {
            if (j + 1 < n && sql.charAt(j + 1) == '"') j += 2
            else { done = true; j += 1 }
          } else j += 1
        }
        out += QIdent(sql.substring(i, j)); i = j
      } else if (c == '`') {
        // Spark backtick-quoted identifier (emitted by our own rewrite
        // passes for non-plain column names): one atomic token, so later
        // passes can never rewrite fragments inside it. `` escapes `.
        var j = i + 1
        var done = false
        while (j < n && !done) {
          if (sql.charAt(j) == '`') {
            if (j + 1 < n && sql.charAt(j + 1) == '`') j += 2
            else { done = true; j += 1 }
          } else j += 1
        }
        out += Ident(sql.substring(i, j)); i = j
      } else if (c.isDigit || (c == '.' && i + 1 < n && sql.charAt(i + 1).isDigit)) {
        var j = i
        while (j < n && (sql.charAt(j).isDigit || sql.charAt(j) == '.' ||
               sql.charAt(j) == 'e' || sql.charAt(j) == 'E' ||
               ((sql.charAt(j) == '+' || sql.charAt(j) == '-') && j > i &&
                (sql.charAt(j - 1) == 'e' || sql.charAt(j - 1) == 'E')))) j += 1
        out += Num(sql.substring(i, j)); i = j
      } else if (c.isLetter || c == '_' || c == '$' || c == '@') {
        // '@' starts a stage reference (@stage/path); keep path chars in it
        if (c == '@') {
          val j = consumeWhile(sql, i,
            ch => ch.isLetterOrDigit || "_$./-@".contains(ch))
          out += Ident(sql.substring(i, j)); i = j
        } else {
          val j = consumeWhile(sql, i,
            ch => ch.isLetterOrDigit || ch == '_' || ch == '$')
          out += Ident(sql.substring(i, j)); i = j
        }
      } else {
        multiOps.find(op => sql.startsWith(op, i)) match {
          case Some(op) => out += Op(op); i += op.length
          case None     => out += Op(c.toString); i += 1
        }
      }
    }
    out.toVector
  }

  private def consumeWhile(s: String, from: Int, p: Char => Boolean): Int = {
    var j = from
    while (j < s.length && p(s.charAt(j))) j += 1
    j
  }

  def render(toks: Seq[Tok]): String = toks.map(_.text).mkString

  // ── token helpers: the one quoting, comment and nesting rule ───────────
  // Every pass over SQL text works on this lexer's tokens, so a quote,
  // a comment or a nested paren means the same thing everywhere:
  // whitespace and comments are never significant, and `(`/`)` nest.

  type Toks = scala.collection.IndexedSeq[Tok]

  /** Not whitespace and not a comment. */
  def isSig(t: Tok): Boolean = t match {
    case _: Ws | _: Comment => false
    case _ => true
  }

  /** An unquoted identifier or keyword equal to `word`, any case. */
  def isKw(t: Tok, word: String): Boolean = t match {
    case Ident(w) => w.equalsIgnoreCase(word)
    case _ => false
  }

  /** Indices of non-whitespace/comment tokens. */
  def significant(toks: Toks): Vector[Int] =
    toks.indices.toVector.filter(i => isSig(toks(i)))

  /** Index of the first significant token after `from`. */
  def nextSig(toks: Toks, from: Int): Option[Int] = {
    var j = from + 1
    while (j < toks.length && !isSig(toks(j))) j += 1
    if (j < toks.length) Some(j) else None
  }

  /** Index of the last significant token before `before`. */
  def prevSig(toks: Toks, before: Int): Option[Int] = {
    var j = before - 1
    while (j >= 0 && !isSig(toks(j))) j -= 1
    if (j >= 0) Some(j) else None
  }

  /** Index of the `(` that opens a call or group right after token `i`. */
  def parenAfter(toks: Toks, i: Int): Option[Int] =
    nextSig(toks, i).filter(j => toks(j) == Op("("))

  /** Index of the `)` matching the `(` at `open`; the last index when the
    * parens never balance. */
  def matchParen(toks: Toks, open: Int): Int = matchClose(toks, open, "(", ")")

  /** Index of the `]` matching the `[` at `open`; the last index when the
    * brackets never balance. */
  def matchBracket(toks: Toks, open: Int): Int = matchClose(toks, open, "[", "]")

  private def matchClose(toks: Toks, open: Int, o: String, c: String): Int = {
    var depth = 0
    var j = open
    while (j < toks.length) {
      toks(j) match {
        case Op(`o`) => depth += 1
        case Op(`c`) => depth -= 1; if (depth == 0) return j
        case _ =>
      }
      j += 1
    }
    toks.length - 1
  }

  /** Index of the `(` matching the `)` at `close`; -1 when none. */
  def matchOpen(toks: Toks, close: Int): Int = {
    var depth = 0
    var j = close
    while (j >= 0) {
      toks(j) match {
        case Op(")") => depth += 1
        case Op("(") => depth -= 1; if (depth == 0) return j
        case _ =>
      }
      j -= 1
    }
    -1
  }

  /** Index of the first token at or after `from`, at the paren depth the
    * search starts at, that satisfies `p`; -1 when none. A `)` closing
    * the starting depth is offered to `p` too, and the search goes on
    * past it at a depth `p` never sees. */
  def indexTop(toks: Toks, from: Int = 0)(p: Tok => Boolean): Int = {
    var depth = 0
    var j = from
    while (j < toks.length) {
      val t = toks(j)
      if (depth == 0 && p(t)) return j
      t match {
        case Op("(") => depth += 1
        case Op(")") => depth -= 1
        case _ =>
      }
      j += 1
    }
    -1
  }

  /** Index of the first top-level keyword `word` at or after `from`; -1
    * when none. Strings, quoted identifiers, comments and nested parens
    * never match. */
  def topKeyword(toks: Toks, word: String, from: Int = 0): Int =
    indexTop(toks, from)(isKw(_, word))

  /** Token ranges `[start, end)` of `toks[from, until)` split at every
    * top-level token satisfying `isSep`. Empty pieces are kept. */
  def splitTop(toks: Toks, from: Int, until: Int)
      (isSep: Tok => Boolean): Seq[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var depth = 0
    var start = from
    var j = from
    while (j < until) {
      toks(j) match {
        case Op("(") => depth += 1
        case Op(")") => depth -= 1
        case t if depth == 0 && isSep(t) => out += ((start, j)); start = j + 1
        case _ =>
      }
      j += 1
    }
    out += ((start, until))
    out.toSeq
  }

  /** Token ranges of each top-level argument between the parens at `open`
    * and `close`. A list with no significant token has no arguments;
    * otherwise every comma separates two, empty ones included. */
  def splitArgs(toks: Toks, open: Int, close: Int): Seq[(Int, Int)] =
    if (!(open + 1 until close).exists(j => isSig(toks(j)))) Nil
    else splitTop(toks, open + 1, close)(_ == Op(","))

  /** `(inside) after` → Some((inside, after)), split at the paren matching
    * the one `sql` opens with; None when it opens with anything else. */
  def leadingGroup(sql: String): Option[(String, String)] = {
    val toks = lex(sql)
    parenAfter(toks, -1).map { open =>
      val close = matchParen(toks, open)
      (render(toks.slice(open + 1, close)), render(toks.drop(close + 1)))
    }
  }

  /** Replaces every call `name(args)` whose upper-cased name is in
    * `names` by `f(name, args)`; calls for which `f` returns None stay as
    * they are. A qualified call (`information_schema.name(…)`) is
    * replaced together with its qualifier. */
  def replaceCalls(toks: Vector[Tok], names: Set[String])
      (f: (String, Vector[Tok]) => Option[Seq[Tok]]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val call = toks(i) match {
        case Ident(w) if names.contains(w.toUpperCase) =>
          parenAfter(toks, i).flatMap { open =>
            val close = matchParen(toks, open)
            f(w.toUpperCase, toks.slice(open + 1, close)).map(_ -> close)
          }
        case _ => None
      }
      call match {
        case Some((rep, close)) =>
          def qualifierBefore(j: Int): Option[Int] =
            prevSig(out, j).filter(out(_) == Op("."))
              .flatMap(prevSig(out, _)).filter(out(_).isInstanceOf[Ident])
          var start = out.length
          var q = qualifierBefore(start)
          while (q.isDefined) { start = q.get; q = qualifierBefore(start) }
          out.remove(start, out.length - start)
          out ++= rep
          i = close + 1
        case None => out += toks(i); i += 1
      }
    }
    out.toVector
  }

  /** Split a statement batch on top-level semicolons. */
  def splitStatements(sql: String): Seq[String] = {
    val toks = lex(sql)
    val stmts = ArrayBuffer.empty[String]
    val cur = ArrayBuffer.empty[Tok]
    toks.foreach {
      case Op(";") =>
        val s = render(cur.toSeq).trim
        if (s.nonEmpty) stmts += s
        cur.clear()
      case t => cur += t
    }
    val last = render(cur.toSeq).trim
    if (last.nonEmpty) stmts += last
    stmts.toSeq
  }
}
