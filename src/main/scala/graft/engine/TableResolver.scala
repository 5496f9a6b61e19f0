package graft.engine

import SqlTokens._
import scala.collection.mutable.ArrayBuffer

/** Table-reference extraction + substitution (A3/A5).
  *
  * The reference BFS-walks the sqlglot AST collecting `exp.Table` nodes,
  * excluding CTE aliases, and fully qualifies them with session defaults
  * (`universql/protocol/session.py:139-149`, `universql/util.py:454-460`).
  * Here we scan the token stream: a table reference is an identifier chain
  * following FROM / JOIN (and not a CTE alias or a subquery). Matched
  * references resolved by the registry are substituted with their flat
  * temp-view names; unknown names pass through for Spark to resolve
  * (session temp views) or reject.
  */
object TableResolver {

  private val tableIntroducers = Set("FROM", "JOIN")
  // FROM <kw> ( … ) constructs that are not table names
  private val nonTables = Set("LATERAL", "UNNEST", "VALUES", "TABLE")

  def resolveAndSubstitute(sql: String, session: GraftSession): String =
    render(resolveTokens(lex(sql), session))

  /** Table resolution over an already-lexed statement. */
  def resolveTokens(toks: Vector[Tok], session: GraftSession): Vector[Tok] = {
    val cteAliases = collectCteAliases(toks)
    // `kw ( … )` right after token `at`: (keyword, open, close)
    def clauseAfter(at: Int, kws: String*): Option[(String, Int, Int)] =
      for {
        k <- nextSig(toks, at) if kws.exists(isKw(toks(k), _))
        open <- parenAfter(toks, k)
        close = matchParen(toks, open) if toks(close) == Op(")")
      } yield (toks(k).text.toUpperCase, open, close)
    def inside(open: Int, close: Int): String = render(toks.slice(open + 1, close))
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      out += t
      t match {
        case Ident(kw) if tableIntroducers.contains(kw.toUpperCase) =>
          // substitute every table in the FROM list: t1 [alias], t2 …
          var expectTable = true
          var j = i + 1
          while (expectTable) {
            // copy whitespace and comments
            val next = nextSig(toks, j - 1).getOrElse(toks.length)
            out ++= toks.slice(j, next)
            j = next
            if (j >= toks.length) expectTable = false
            else toks(j) match {
              case Ident(w) if nonTables.contains(w.toUpperCase) || w.toUpperCase == "SELECT" =>
                expectTable = false // leave as-is; subqueries handled on recursion
              case _: Ident | _: QIdent =>
                // identifier chain a.b.c
                val chainStart = j
                var k = j
                while (k + 2 < toks.length && toks(k + 1) == Op(".") &&
                       (toks(k + 2) match {
                         case _: Ident | _: QIdent => true; case _ => false }))
                  k += 2
                val chain = toks.slice(chainStart, k + 1)
                val name = render(chain)
                val isFnCall = k + 1 < toks.length && toks(k + 1) == Op("(")
                if (!isFnCall) {
                  val bare = chain.length == 1 && !cteAliases.contains(
                    Identifiers.normalizePart(name))
                  val qualified = chain.length > 1
                  // CHANGES ( INFORMATION => DEFAULT|APPEND_ONLY )
                  // directly after the table name — Snowflake's
                  // stream-semantics query over a time-travel span; the
                  // mandatory AT/BEFORE clause follows it
                  val changes: Option[(String, Int)] =
                    clauseAfter(k, "CHANGES").flatMap { case (_, open, close) =>
                      "(?is)INFORMATION\\s*=>\\s*(DEFAULT|APPEND_ONLY)".r
                        .findFirstMatchIn(inside(open, close))
                        .map(m => (m.group(1).toUpperCase, close))
                    }
                  // time-travel clause directly after the table name
                  // (or after its CHANGES clause):
                  // AT | BEFORE ( OFFSET|TIMESTAMP|STATEMENT => … )
                  val travel: Option[(String, String, Int)] =
                    clauseAfter(changes.fold(k)(_._2), "AT", "BEFORE").map {
                      case (w, open, close) => (w, inside(open, close), close)
                    }
                  // optional END ( TIMESTAMP|STATEMENT => … ) closing a
                  // CHANGES span at a historical version (Snowflake's
                  // full CHANGES grammar); only looked for right after
                  // the AT/BEFORE clause of a CHANGES query, so CASE…END
                  // never reaches here
                  val endClause: Option[(String, Int)] =
                    if (changes.isEmpty) None
                    else travel.flatMap(tr => clauseAfter(tr._3, "END")).map {
                      case (_, open, close) => (inside(open, close), close)
                    }
                  var substituted = false
                  if (bare || qualified) {
                    val f = Identifiers.fullQualifier(name,
                      session.currentDatabase, session.currentSchema)
                    val resolved = (changes, travel) match {
                      case (Some((info, _)), Some((kind, spec, _))) =>
                        session.ensureChangesView(f, info, kind, spec,
                          endClause.map(_._1))
                      case (Some(_), None) =>
                        throw new IllegalArgumentException(
                          s"CHANGES on $name requires an AT or BEFORE clause")
                      case (None, Some((kind, spec, _))) =>
                        session.ensureAsOfView(f, kind, spec)
                      case (None, None) => session.ensureView(f)
                    }
                    resolved match {
                      case Some(flat) =>
                        out += Ident(flat); substituted = true
                      case None => out ++= chain
                    }
                  } else out ++= chain
                  j = (endClause, travel) match {
                    case (Some((_, close)), _) if substituted => close + 1
                    case (_, Some((_, _, close))) if substituted => close + 1
                    case _ => k + 1
                  }
                  // skip optional alias: [AS] ident
                  val j2 = nextSig(toks, j - 1).getOrElse(toks.length)
                  var hasAlias = false
                  if (j2 < toks.length) toks(j2) match {
                    case Ident(a) if a.equalsIgnoreCase("AS") =>
                      nextSig(toks, j2).foreach { j3 =>
                        out ++= toks.slice(j, j3 + 1); j = j3 + 1; hasAlias = true
                      }
                    case Ident(a) if !SqlKeywords.reserved.contains(a.toUpperCase) =>
                      out ++= toks.slice(j, j2 + 1); j = j2 + 1; hasAlias = true
                    case _ =>
                  }
                  // a substituted unaliased table keeps its original name
                  // as an alias so `table.col` references still resolve
                  // (not when TABLESAMPLE follows — Spark's grammar puts
                  // the sample clause before the alias)
                  val nextIsSample = j2 < toks.length && isKw(toks(j2), "TABLESAMPLE")
                  if (substituted && !hasAlias && !nextIsSample) chain.last match {
                    case Ident(last) => out += Ws(" "); out += Ident(last)
                    case _ =>
                  }
                  // comma → another table in the FROM list
                  nextSig(toks, j - 1).filter(toks(_) == Op(",")) match {
                    case Some(comma) => out ++= toks.slice(j, comma + 1); j = comma + 1
                    case None => expectTable = false
                  }
                } else { expectTable = false } // table function, leave alone
              case _ => expectTable = false
            }
          }
          i = math.max(j, i + 1)
        case _ => i += 1
      }
    }
    out.toVector
  }

  /** Aliases bound by WITH … AS ( … ); a CTE body's own WITH is not
    * scanned. */
  private def collectCteAliases(toks: Vector[Tok]): Set[String] = {
    val aliases = scala.collection.mutable.Set.empty[String]
    var w = toks.indexWhere(isKw(_, "WITH"))
    while (w >= 0) {
      // WITH [RECURSIVE] a AS ( … ), b AS ( … )
      val first = nextSig(toks, w)
      var p =
        if (first.exists(j => isKw(toks(j), "RECURSIVE"))) first.flatMap(nextSig(toks, _))
        else first
      var end = w + 1
      while (p.isDefined) {
        val a = p.get
        p = None
        nextSig(toks, a).filter(as =>
            toks(a).isInstanceOf[Ident] && isKw(toks(as), "AS")).foreach { as =>
          aliases += Identifiers.normalizePart(toks(a).text)
          end = parenAfter(toks, as).fold(as)(matchParen(toks, _)) + 1
          // comma → another CTE
          p = nextSig(toks, end - 1).filter(toks(_) == Op(","))
            .flatMap(nextSig(toks, _))
        }
      }
      w = toks.indexWhere(isKw(_, "WITH"), end)
    }
    aliases.toSet
  }
}

object SqlKeywords {
  /** Keywords that cannot be a table alias (so the resolver stops). */
  val reserved: Set[String] = Set(
    "WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "OFFSET", "UNION", "ALL",
    "INTERSECT", "EXCEPT", "MINUS", "JOIN", "INNER", "LEFT", "RIGHT", "FULL",
    "CROSS", "NATURAL", "ON", "USING", "AS", "SELECT", "FROM", "WITH",
    "QUALIFY", "WINDOW", "LATERAL", "SEMI", "ANTI", "TABLESAMPLE", "SAMPLE",
    "PIVOT", "UNPIVOT", "SET", "VALUES", "RETURNING", "FETCH", "FOR", "ASOF",
    "MATCH_CONDITION")
}
