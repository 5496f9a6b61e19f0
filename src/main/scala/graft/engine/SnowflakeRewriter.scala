package graft.engine

import SqlTokens._
import scala.collection.mutable.ArrayBuffer

/** Snowflake → Spark SQL dialect translation (SURVEY §7.2 step 3).
  *
  * Replaces the reference's sqlglot-based AST transforms
  * (`universql/warehouse/duckdb.py:428-446`, `universql/plugins/snow.py`)
  * with targeted token-stream rewrites, scoped to the surface the reference
  * exercises (§2.B evidence):
  *
  *   - `expr::type` casts → `CAST(expr AS type)` with the type-name map
  *   - `col:path.sub` / `col:'key'` VARIANT access → `get_json_object`
  *   - type names (NUMBER, VARIANT, TIMESTAMP_LTZ, …) → Spark types
  *   - `TABLE(TO_QUERY('sql'))` → inline subquery; `TABLE(f(x))` → `f(x)`
  *     (reference: `universql/warehouse/duckdb.py:428-434`)
  *   - function renames (IFF→IF, ARRAY_CONSTRUCT→ARRAY, …) and PARSE_JSON
  *     pass-through (VARIANT is JSON text in this engine, §1.2)
  *   - Snowflake datetime format tokens → java.time patterns
  *     (reference map: `universql/plugins/snow.py:41-68`)
  */
object SnowflakeRewriter {

  // ── type-name map ──────────────────────────────────────────────────────
  /** Snowflake type → (Spark type, keepArgs). */
  private val typeMap: Map[String, (String, Boolean)] = Map(
    "NUMBER" -> ("DECIMAL", true), "DEC" -> ("DECIMAL", true),
    "NUMERIC" -> ("DECIMAL", true), "DECIMAL" -> ("DECIMAL", true),
    "INT" -> ("INT", false), "INTEGER" -> ("INT", false),
    "BIGINT" -> ("BIGINT", false), "SMALLINT" -> ("SMALLINT", false),
    "TINYINT" -> ("TINYINT", false), "BYTEINT" -> ("TINYINT", false),
    "FLOAT" -> ("DOUBLE", false), "FLOAT4" -> ("DOUBLE", false),
    "FLOAT8" -> ("DOUBLE", false), "REAL" -> ("DOUBLE", false),
    "DOUBLE" -> ("DOUBLE", false),
    "VARCHAR" -> ("STRING", false), "CHAR" -> ("STRING", false),
    "CHARACTER" -> ("STRING", false), "STRING" -> ("STRING", false),
    "TEXT" -> ("STRING", false),
    "BINARY" -> ("BINARY", false), "VARBINARY" -> ("BINARY", false),
    "BOOLEAN" -> ("BOOLEAN", false), "DATE" -> ("DATE", false),
    "DATETIME" -> ("TIMESTAMP_NTZ", false),
    "TIMESTAMP" -> ("TIMESTAMP_NTZ", false),
    "TIMESTAMP_NTZ" -> ("TIMESTAMP_NTZ", false),
    "TIMESTAMPNTZ" -> ("TIMESTAMP_NTZ", false),
    "TIMESTAMP_LTZ" -> ("TIMESTAMP", false),
    "TIMESTAMPLTZ" -> ("TIMESTAMP", false),
    "TIMESTAMP_TZ" -> ("TIMESTAMP", false),
    "TIMESTAMPTZ" -> ("TIMESTAMP", false),
    "VARIANT" -> ("STRING", false), "OBJECT" -> ("STRING", false),
    "ARRAY" -> ("STRING", false))

  private val fnRename: Map[String, String] = Map(
    "IFF" -> "IF",
    "NVL" -> "COALESCE",
    "IFNULL" -> "COALESCE",
    // Snowflake POSITION(substr, str[, pos]) matches locate's arg order
    "POSITION" -> "LOCATE",
    "UUID_STRING" -> "UUID",
    "TO_ARRAY" -> "ARRAY",
    "ARRAY_TO_STRING" -> "ARRAY_JOIN",
    "ARRAY_CONSTRUCT" -> "ARRAY",
    "OBJECT_CONSTRUCT" -> "NAMED_STRUCT",
    "GETDATE" -> "CURRENT_TIMESTAMP",
    "SYSDATE" -> "CURRENT_TIMESTAMP",
    "ARRAYAGG" -> "ARRAY_AGG",
    "ARRAY_CAT" -> "CONCAT",
    // Snowflake ARRAY_INTERSECTION keeps multiset semantics; Spark's
    // array_intersect dedups — equivalent on distinct-element arrays
    "ARRAY_INTERSECTION" -> "ARRAY_INTERSECT",
    "ARRAY_FLATTEN" -> "FLATTEN",
    "VARIANCE_POP" -> "VAR_POP",
    "VARIANCE_SAMP" -> "VAR_SAMP",
    "BOOLOR_AGG" -> "BOOL_OR",
    "BOOLAND_AGG" -> "BOOL_AND",
    "BITSHIFTLEFT" -> "SHIFTLEFT",
    "BITSHIFTRIGHT" -> "SHIFTRIGHT",
    "OBJECT_KEYS" -> "JSON_OBJECT_KEYS",
    "WEEKISO" -> "WEEKOFYEAR",
    "EDITDISTANCE" -> "LEVENSHTEIN",
    "LEN" -> "LENGTH",
    // CHARINDEX(substr, str[, pos]) shares Spark locate's argument order;
    // INSTR would silently swap subject and needle.
    "CHARINDEX" -> "LOCATE",
    "ARRAY_SIZE" -> "SIZE",
    "SKEW" -> "SKEWNESS",
    // (y, m, d [, h, mi, s]) arg orders line up with Spark's make_* family
    "DATE_FROM_PARTS" -> "MAKE_DATE",
    "DATEFROMPARTS" -> "MAKE_DATE",
    "TIMESTAMP_FROM_PARTS" -> "MAKE_TIMESTAMP",
    "TIMESTAMPFROMPARTS" -> "MAKE_TIMESTAMP",
    "TIMESTAMP_NTZ_FROM_PARTS" -> "MAKE_TIMESTAMP_NTZ",
    "BASE64_ENCODE" -> "BASE64",
    "HEX_ENCODE" -> "HEX",
    // Snowflake HASH is a proprietary (stable) 64-bit hash; xxhash64 is the
    // engine's stable 64-bit stand-in — deterministic within this engine,
    // not value-compatible with Snowflake (documented divergence)
    "HASH" -> "XXHASH64",
    // HLL sketch family → Spark's DataSketches-backed HLL functions; the
    // serialized sketch bytes differ from Snowflake's (both opaque), the
    // accumulate/combine/estimate contract is the same
    "HLL_ACCUMULATE" -> "HLL_SKETCH_AGG",
    "HLL_COMBINE" -> "HLL_UNION_AGG",
    "HLL_ESTIMATE" -> "HLL_SKETCH_ESTIMATE",
    "CURRENT_TIMESTAMP" -> "CURRENT_TIMESTAMP")

  /** Functions whose call collapses to their (single) argument: VARIANT is
    * already JSON text here (reference stores VARIANT as JSON,
    * `universql/warehouse/duckdb.py:443-444`). */
  private val passThroughFns =
    Set("PARSE_JSON", "TRY_PARSE_JSON", "TO_VARIANT", "TO_JSON")

  /** Snowflake conversion functions → [TRY_]CAST target types. */
  private val castFns: Map[String, (String, Boolean)] = Map(
    "TO_NUMBER" -> ("DECIMAL", false), "TO_DECIMAL" -> ("DECIMAL", false),
    "TO_NUMERIC" -> ("DECIMAL", false),
    "TRY_TO_NUMBER" -> ("DECIMAL", true), "TRY_TO_DECIMAL" -> ("DECIMAL", true),
    "TO_BOOLEAN" -> ("BOOLEAN", false), "TRY_TO_BOOLEAN" -> ("BOOLEAN", true),
    "TO_DOUBLE" -> ("DOUBLE", false), "TRY_TO_DOUBLE" -> ("DOUBLE", true))

  /** Bitwise functions → Spark operators. */
  private val bitOpFns: Map[String, String] = Map(
    "BITAND" -> "&", "BITOR" -> "|", "BITXOR" -> "^")

  /** Date/time functions whose first arg is a unit keyword-or-string. */
  private val unitFns: Map[String, String] = Map(
    "DATEADD" -> "timestampadd", "TIMEADD" -> "timestampadd",
    "TIMESTAMPADD" -> "timestampadd",
    "DATEDIFF" -> "timestampdiff", "TIMEDIFF" -> "timestampdiff",
    "TIMESTAMPDIFF" -> "timestampdiff",
    "DATE_PART" -> "date_part")

  /** Snowflake date-part aliases → canonical part name (the documented
    * "supported date and time parts" table). Used by DATEADD/DATEDIFF so
    * alias spellings (`yy`, `mons`, `wk`, …) reach Spark as units its
    * parser accepts, and by the DATEDIFF boundary-count lowering below. */
  private val datePartAliases: Map[String, String] = Seq(
    "year" -> Seq("y", "yy", "yyy", "yyyy", "yr", "years", "yrs"),
    "quarter" -> Seq("q", "qtr", "qtrs", "quarters"),
    "month" -> Seq("mm", "mon", "mons", "months"),
    "week" -> Seq("w", "wk", "weekofyear", "woy", "wy", "weeks"),
    "day" -> Seq("d", "dd", "days", "dayofmonth"),
    "hour" -> Seq("h", "hh", "hr", "hours", "hrs"),
    "minute" -> Seq("m", "mi", "min", "minutes", "mins"),
    "second" -> Seq("s", "sec", "seconds", "secs"),
    "millisecond" -> Seq("ms", "msec", "milliseconds"),
    "microsecond" -> Seq("us", "usec", "microseconds"),
    "nanosecond" -> Seq("ns", "nsec", "nanosec", "nseconds",
      "nanoseconds", "nanosecs")
  ).flatMap { case (canon, aliases) =>
    (canon +: aliases).map(_ -> canon)
  }.toMap

  /** Canonical date part for a unit word in any alias spelling, or None
    * when the word is not a date/time part DATEADD/DATEDIFF accept. */
  def normalizeDatePart(word: String): Option[String] =
    datePartAliases.get(word.toLowerCase)

  /** DATE_PART/EXTRACT accept the DATEADD parts plus the day/week-number
    * family. NOTE `dy` is DAYOFYEAR here (Snowflake's documented alias)
    * but is not a DATEADD/DATEDIFF part at all. */
  private val extractPartAliases: Map[String, String] = datePartAliases ++ Map(
    "dayofweek" -> "dayofweek", "weekday" -> "dayofweek",
    "dow" -> "dayofweek", "dw" -> "dayofweek",
    "dayofweekiso" -> "dayofweekiso", "weekday_iso" -> "dayofweekiso",
    "dow_iso" -> "dayofweekiso",
    "dayofyear" -> "dayofyear", "yearday" -> "dayofyear",
    "doy" -> "dayofyear", "dy" -> "dayofyear",
    "yearofweek" -> "yearofweek", "yearofweekiso" -> "yearofweek",
    "weekiso" -> "week", "week_iso" -> "week")

  /** Snowflake DATE_PART(part, x) / EXTRACT(part FROM x) → Spark, for
    * every part whose Snowflake spelling or semantics Spark's extract
    * does not share: alias spellings canonicalize (Spark rejects
    * `yy`/`mm`/`wk`/`mi`/`dayofyear`/…), SECOND truncates to an INTEGER
    * (Snowflake/DuckDB; Spark's is DECIMAL(8,6) WITH the fraction), and
    * the DAYOFWEEK family shifts to Snowflake's WEEK_START=0 convention
    * (Sunday=0..6 — DuckDB's dow; Spark's dayofweek is Sunday=1..7).
    * None ⇒ not a recognized part; caller keeps the verbatim path. */
  private def lowerDatePart(word: String, x: Vector[Tok]): Option[Vector[Tok]] =
    extractPartAliases.get(word.toLowerCase).map {
      case "second" => lex("CAST(date_part('second',") ++ x ++
        lex(") AS BIGINT)")
      case "dayofweek" => lex("(dayofweek(") ++ x ++ lex(") - 1)")
      case "dayofweekiso" => lex("(weekday(") ++ x ++ lex(") + 1)")
      case "dayofyear" => lex("date_part('doy',") ++ x ++ lex(")")
      case c => lex(s"date_part('$c',") ++ x ++ lex(")")
    }

  // ── datetime token map (Snowflake → java.time) ─────────────────────────
  // Port of the shape at universql/plugins/snow.py:41-68 (strptime there).
  private val dtTokens: Seq[(String, String)] = Seq(
    "YYYY" -> "yyyy", "YY" -> "yy",
    "MMMM" -> "MMMM", "MON" -> "MMM", "MM" -> "MM",
    "DD" -> "dd", "DY" -> "EEE", "DAY" -> "EEEE",
    "HH24" -> "HH", "HH12" -> "hh", "HH" -> "HH",
    "AM" -> "a", "PM" -> "a",
    "MI" -> "mm", "SS" -> "ss",
    "FF9" -> "SSSSSS", "FF8" -> "SSSSSS", "FF7" -> "SSSSSS",
    "FF6" -> "SSSSSS", "FF5" -> "SSSSS", "FF4" -> "SSSS",
    "FF3" -> "SSS", "FF2" -> "SS", "FF1" -> "S", "FF0" -> "",
    "FF" -> "SSSSSS",
    "TZH:TZM" -> "xxx", "TZHTZM" -> "xx", "TZH" -> "x",
    "UUUU" -> "yyyy")

  /** Translate a Snowflake datetime format string to a java.time pattern. */
  def translateDatetimeFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val rest = fmt.substring(i)
      dtTokens.find { case (sf, _) => rest.toUpperCase.startsWith(sf) } match {
        case Some((sf, java)) => sb.append(java); i += sf.length
        case None => sb.append(fmt.charAt(i)); i += 1
      }
    }
    sb.toString
  }

  /** Functions whose 2nd argument is a datetime format string. */
  private val fmtArgFns = Set("TO_TIMESTAMP", "TO_DATE", "TO_TIME",
    "TO_CHAR", "TO_VARCHAR", "TRY_TO_TIMESTAMP", "TRY_TO_DATE")

  /** Snowflake DATEDIFF counts date-part BOUNDARIES crossed — so
    * `DATEDIFF('year', '2023-12-31 23:59:59', '2024-01-01 00:00:01')`
    * is 1 — matching DuckDB's `date_diff`, which is where the reference
    * executes it (universql routes the query to DuckDB and sqlglot
    * renders Snowflake DATEDIFF as DuckDB DATE_DIFF). Spark's
    * `timestampdiff` counts COMPLETE intervals (the same pair yields 0),
    * so each part lowers to an explicit boundary count: calendar parts
    * diff their ordinals (year/quarter/month), week diffs Monday
    * truncations, day diffs DATE casts (midnight boundaries), and
    * sub-day parts truncate both ends to the part first — after which
    * complete-interval count equals boundary count. Result is BIGINT for
    * every part, like `timestampdiff`. */
  private def dateDiffBoundary(unit: String, aT: Vector[Tok],
      bT: Vector[Tok]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    def app(s: String): Unit = out ++= lex(s)
    def arg(t: Vector[Tok]): Unit = { out += Op("("); out ++= t; out += Op(")") }
    unit match {
      case "year" =>
        app("CAST((year("); arg(bT); app(") - year("); arg(aT)
        app(")) AS BIGINT)")
      // quarter/month ordinal diffs need each argument twice — those two
      // route to native single-evaluation functions (Catalyst With,
      // [[graft.functions.SingleEval.dateDiffOrdinal]]) so each end is
      // bound once (round-13 directive #5); every other part below
      // already renders each argument exactly once.
      case "quarter" =>
        app("graft_ddiff_quarter("); arg(aT); app(","); arg(bT); app(")")
      case "month" =>
        app("graft_ddiff_month("); arg(aT); app(","); arg(bT); app(")")
      case "week" =>
        // date_trunc('WEEK') is Monday-start in both Spark and DuckDB;
        // Snowflake's default WEEK_START=0 is Monday-start weeks too.
        app("CAST((datediff(CAST(date_trunc('WEEK', "); arg(bT)
        app(") AS DATE), CAST(date_trunc('WEEK', "); arg(aT)
        app(") AS DATE)) div 7) AS BIGINT)")
      case "day" =>
        app("CAST(datediff(CAST("); arg(bT); app(" AS DATE), CAST(")
        arg(aT); app(" AS DATE)) AS BIGINT)")
      case "hour" | "minute" | "second" | "millisecond" | "microsecond" =>
        val u = unit.toUpperCase
        app(s"timestampdiff($u, date_trunc('$u', "); arg(aT)
        app(s"), date_trunc('$u', "); arg(bT); app("))")
      case "nanosecond" =>
        // micros is Spark's (and the parquet data's) finest resolution;
        // every stored micro boundary is 1000 nano boundaries.
        app("CAST(timestampdiff(MICROSECOND, date_trunc('MICROSECOND', ")
        arg(aT); app("), date_trunc('MICROSECOND', "); arg(bT)
        app(")) * 1000 AS BIGINT)")
    }
    out.result()
  }

  /** `(withPrefixSql, relationSql)` → column names of the relation in that
    * CTE scope, or None when resolution fails. Supplied by the session
    * (needs catalog + temp-view context); null ⇒ schema-free rewriting
    * only (ASOF JOIN falls back to the correlated-LATERAL form). */
  type SchemaResolver = (String, String) => Option[Seq[String]]

  // ── entry points ───────────────────────────────────────────────────────
  def rewrite(sql: String, resolver: SchemaResolver = null): String =
    render(rewriteTokens(lex(sql), resolver))

  /** The rewrite passes over an already-lexed statement. */
  def rewriteTokens(input: Vector[Tok],
      resolver: SchemaResolver = null): Vector[Tok] = {
    var toks = rewriteConnectBy(input)
    toks = rewriteAsOfJoin(toks, resolver)
    toks = unwrapTableFn(toks)
    toks = rewriteValuesColumns(toks)
    toks = rewriteFlatten(toks)
    toks = rewriteJsonPaths(toks)
    toks = rewriteCasts(toks)
    toks = rewriteCastTypeNames(toks)
    toks = rewriteFunctions(toks)
    toks = rewriteSample(toks)
    toks = rewriteQualify(toks)
    toks = rewriteTop(toks)
    toks = sortNullsCompensation(toks)
    toks = quotedIdentsToBackticks(toks)
    quoteMetadataIdents(toks)
  }

  /** Snowflake sorts NULLs as the HIGHEST values (documented default:
    * ASC → NULLS LAST, DESC → NULLS FIRST); Spark sorts them as the
    * LOWEST (ASC → NULLS FIRST). With LIMIT / top-k that selects
    * DIFFERENT ROWS, not just a different order — so every sort item
    * without an explicit NULLS FIRST/LAST gets the Snowflake default
    * appended. Runs after all lowering passes, so it reaches
    * statement-level ORDER BY, window ORDER BY (incl. the ones
    * rewriteQualify synthesizes), and WITHIN GROUP alike. (DuckDB —
    * the reference's executor — sorts NULLS LAST in BOTH directions;
    * on DESC this engine follows Snowflake's documented semantics, the
    * same Snowflake-proper choice documented for CONCAT NULL
    * propagation.) Sort items inside a sort-item subquery are left
    * as-is (vanishingly rare; they'd need their own scan). */
  private def sortNullsCompensation(toks: Vector[Tok]): Vector[Tok] = {
    val terminators = Set("LIMIT", "OFFSET", "FETCH", "UNION", "INTERSECT",
      "EXCEPT", "MINUS", "ROWS", "RANGE", "GROUPS", "WINDOW", "QUALIFY")
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val by = if (isKw(toks(i), "ORDER"))
        nextSig(toks, i).filter(j => isKw(toks(j), "BY")) else None
      by match {
        case None => out += toks(i); i += 1
        case Some(j) =>
          out ++= toks.slice(i, j + 1)
          i = j + 1
          var depth = 0
          // itemSig sees only the item's TOP-LEVEL tokens (depth == 0):
          // a DESC or NULLS inside a parenthesized sub-expression or
          // subquery must not be read as the item's own direction/NULLS.
          var itemSig = Vector.empty[Tok]
          var hasContent = false
          var pending = Vector.empty[Tok]
          def flushItem(): Unit = {
            val hasNulls = itemSig.exists(t => isKw(t, "NULLS"))
            if (hasContent && !hasNulls) {
              val desc = itemSig.lastOption.exists(t => isKw(t, "DESC"))
              val k = prevSig(pending, pending.length).fold(0)(_ + 1)
              out ++= pending.take(k)
              out ++= lex(if (desc) " NULLS FIRST" else " NULLS LAST")
              out ++= pending.drop(k)
            } else out ++= pending
            pending = Vector.empty
            itemSig = Vector.empty
            hasContent = false
          }
          var done = false
          while (!done && i < toks.length) {
            toks(i) match {
              case t @ Op("(") =>
                depth += 1; pending :+= t; hasContent = true; i += 1
              case t @ Op(")") =>
                if (depth == 0) { flushItem(); done = true }
                else { depth -= 1; pending :+= t; i += 1 }
              case t @ Op(",") if depth == 0 =>
                flushItem(); out += t; i += 1
              case t @ Op(";") if depth == 0 =>
                flushItem(); done = true
              // A terminator keyword as the FIRST significant token of an
              // item is an ordinary identifier (a column literally named
              // rows/range/limit/…); only an item already under way can
              // be terminated.
              case Ident(w) if depth == 0 && hasContent &&
                  terminators.contains(w.toUpperCase) =>
                flushItem(); done = true
              case t @ (_: Ws | _: Comment) =>
                pending :+= t; i += 1
              case t =>
                pending :+= t
                if (depth == 0) itemSig :+= t
                hasContent = true; i += 1
            }
          }
          if (!done) flushItem()
          // the terminator token itself is left for the outer scan
      }
    }
    out.result()
  }

  /** Snowflake double-quoted identifiers are case-preserving IDENTIFIERS
    * (never string literals); Spark's parser reads `"…"` as a string.
    * Render every quoted identifier still in the stream backtick-quoted
    * — passes that need the raw text (member refs, the ASOF emitter,
    * table resolution) all run earlier. */
  private def quotedIdentsToBackticks(toks: Vector[Tok]): Vector[Tok] =
    toks.map {
      case QIdent(t) if t.length >= 2 =>
        val name = t.substring(1, t.length - 1).replace("\"\"", "\"")
        require(!name.contains("`"),
          s"identifier cannot contain a backtick: $name")
        Ident("`" + name + "`")
      case t => t
    }

  /** Snowflake stream metadata columns (METADATA$ACTION, METADATA$ISUPDATE,
    * METADATA$ROW_ID) are legal unquoted in Snowflake, but `$` is not an
    * unquoted-identifier character for Spark's parser — backtick-render
    * them. Already-backticked tokens start with ` and don't match. */
  private def quoteMetadataIdents(toks: Vector[Tok]): Vector[Tok] =
    toks.map {
      case Ident(t) if t.length > 9 &&
          t.regionMatches(true, 0, "METADATA$", 0, 9) =>
        Ident("`" + t + "`")
      case t => t
    }

  // ── pass: ASOF JOIN → union+window (scale path) or LATERAL (fallback) ──
  /** Snowflake `L ASOF JOIN R [alias] MATCH_CONDITION(l.t >= r.t) [ON eq]`.
    *
    * The reference executes ASOF JOIN on DuckDB, whose semantics are
    * INNER (unmatched left rows drop). `ASOF LEFT JOIN` (DuckDB syntax;
    * also Snowflake's documented keep-unmatched behavior) is accepted as
    * the left-outer variant: unmatched left rows survive with NULL right
    * columns.
    *
    * PRIMARY path (resolver supplied, common shape): the same
    * single-shuffle union+window formulation as
    * [[graft.operators.AsOfJoin.asOf]] — both sides union into one stream
    * tagged by side, hash-shuffled ONCE on the ON-equality keys, and each
    * right payload column is carried forward with
    * `last(col, true) OVER (PARTITION BY keys ORDER BY ts, side ROWS
    * UNBOUNDED PRECEDING)`; left rows then read the most recent right
    * payload at-or-before their timestamp. No join at all, so Spark's
    * nested-loop decorrelation of correlated inequalities never enters
    * the plan and the shape survives fact-fact inputs at 100 TB. Needs
    * both column lists, hence the session-supplied [[SchemaResolver]]
    * (CTE-scope aware: the probe is analyzed, never executed).
    *
    * Both orientations lower through the emitter: backward
    * (`l.ts >= r.ts`, most recent right at-or-before) via an ASC carry,
    * forward (`l.ts <= r.ts`, first right at-or-after) via a DESC carry.
    * Subquery left sides and `r.*` expansion resolve through the same
    * schema probe.
    *
    * FALLBACK path (no resolver, or a shape the emitter doesn't cover:
    * non-equi ON, join-chain left side, an alias re-bound inside the
    * block, exotic identifiers):
    * `L , LATERAL (SELECT * FROM R alias WHERE (eq) AND (mc)
    *    ORDER BY <R-side of mc> DESC|ASC LIMIT 1) alias` — correct but
    * decorrelates into a nested-loop join against the distinct left-time
    * domain; acceptable for bounded/dimensional right sides only. */
  private def rewriteAsOfJoin(toks: Vector[Tok],
      resolver: SchemaResolver = null): Vector[Tok] = {
    val sig = significant(toks)
    def tk(si: Int): Tok = toks(sig(si))
    // `ASOF JOIN` (inner, DuckDB/reference semantics) or `ASOF LEFT JOIN`
    // (left-outer: unmatched left rows keep NULL right columns)
    var k = -1
    var outer = false
    var i = 0
    while (k < 0 && i < sig.length - 1) {
      if (tk(i).text.equalsIgnoreCase("ASOF")) {
        if (tk(i + 1).text.equalsIgnoreCase("JOIN")) { k = i; outer = false }
        else if (i + 2 < sig.length &&
            tk(i + 1).text.equalsIgnoreCase("LEFT") &&
            tk(i + 2).text.equalsIgnoreCase("JOIN")) { k = i; outer = true }
      }
      i += 1
    }
    if (k < 0) return toks
    val asofIdx = sig(k)

    // right relation: parenthesized subquery or (qualified) table name
    var p = if (outer) k + 3 else k + 2
    val rightStart = sig(p)
    var rightEnd = -1
    if (tk(p) == Op("(")) {
      rightEnd = matchParen(toks, sig(p))
      while (p < sig.length && sig(p) <= rightEnd) p += 1
    } else {
      rightEnd = sig(p); p += 1
      while (p + 1 < sig.length && tk(p) == Op(".")) {
        rightEnd = sig(p + 1); p += 2
      }
    }
    // optional AS / alias before MATCH_CONDITION
    var alias: Option[String] = None
    if (tk(p).text.equalsIgnoreCase("AS")) p += 1
    if (!tk(p).text.equalsIgnoreCase("MATCH_CONDITION")) {
      tk(p) match {
        case Ident(w) => alias = Some(w); p += 1
        case other => throw new IllegalArgumentException(
          s"unsupported ASOF JOIN right side near ${other.text}")
      }
    }
    require(tk(p).text.equalsIgnoreCase("MATCH_CONDITION"),
      "ASOF JOIN requires a MATCH_CONDITION clause")
    val mcOpen = sig(p + 1)
    require(toks(mcOpen) == Op("("), "MATCH_CONDITION needs (…)")
    val mcClose = matchParen(toks, mcOpen)
    val mcToks = toks.slice(mcOpen + 1, mcClose)

    // optional ON <cond>: runs to the next top-level clause boundary
    var q = p + 2
    while (q < sig.length && sig(q) <= mcClose) q += 1
    var onToks: Vector[Tok] = Vector.empty
    var consumedEnd = mcClose
    if (q < sig.length && tk(q).text.equalsIgnoreCase("ON")) {
      val stops = Set("WHERE", "GROUP", "ORDER", "QUALIFY", "LIMIT",
        "HAVING", "UNION", "INTERSECT", "EXCEPT", "JOIN", "LEFT", "RIGHT",
        "FULL", "INNER", "CROSS", "ASOF", "WINDOW", "SEMI", "ANTI")
      val stop = indexTop(toks, sig(q) + 1) {
        case Op(")") | Op(",") | Op(";") => true
        case Ident(w) => stops.contains(w.toUpperCase)
        case _ => false
      }
      val end = if (stop < 0) toks.length else stop
      onToks = toks.slice(sig(q) + 1, end)
      consumedEnd = end - 1
    }

    val rel = toks.slice(rightStart, rightEnd + 1)
    val aName = alias.getOrElse(toks(rightEnd).text)

    // MATCH_CONDITION must be a single top-level comparison; classify the
    // operand that references the right alias to pick the sort direction
    val sides = splitTop(mcToks, 0, mcToks.length) {
      case Op(o) => Set(">=", "<=", ">", "<").contains(o)
      case _ => false
    }
    require(sides.length <= 2, "MATCH_CONDITION supports one comparison")
    require(sides.length == 2 && significant(mcToks).nonEmpty,
      "MATCH_CONDITION must be a comparison like l.ts >= r.ts")
    val opAt = sides.head._2
    val lhs = mcToks.slice(0, opAt)
    val rhs = mcToks.slice(opAt + 1, mcToks.length)
    val cmp = mcToks(opAt).text
    def refsAlias(ts: Vector[Tok]): Boolean = ts.indices.exists { x =>
      ts(x) match {
        case Ident(w) if w.equalsIgnoreCase(aName) =>
          nextSig(ts, x).exists(ts(_) == Op("."))
        case _ => false
      }
    }
    val (rightExpr, dir) = (refsAlias(lhs), refsAlias(rhs)) match {
      case (false, true) => // t1 cmp t2
        (rhs, if (cmp == ">=" || cmp == ">") "DESC" else "ASC")
      case (true, false) => // t2 cmp t1
        (lhs, if (cmp == "<=" || cmp == "<") "DESC" else "ASC")
      case _ => throw new IllegalArgumentException(
        "MATCH_CONDITION must compare the right table's column against " +
        "the left's (exactly one side may reference the right alias)")
    }

    // orientation: backward = "most recent right at-or-BEFORE the left
    // row" (l.ts >= r.ts, DuckDB's default), forward = "first right
    // at-or-AFTER" (l.ts <= r.ts). Both lower through the union+window
    // emitter — only the window sort direction differs (ASC vs DESC
    // carry); tuple = (leftTime, rightTime, strict, forward)
    val oriented: Option[(Vector[Tok], Vector[Tok], Boolean, Boolean)] =
      (refsAlias(lhs), refsAlias(rhs), cmp) match {
        case (false, true, ">=") => Some((lhs, rhs, false, false))
        case (false, true, ">") => Some((lhs, rhs, true, false))
        case (false, true, "<=") => Some((lhs, rhs, false, true))
        case (false, true, "<") => Some((lhs, rhs, true, true))
        case (true, false, "<=") => Some((rhs, lhs, false, false))
        case (true, false, "<") => Some((rhs, lhs, true, false))
        case (true, false, ">=") => Some((rhs, lhs, false, true))
        case (true, false, ">") => Some((rhs, lhs, true, true))
        case _ => None
      }
    if (resolver != null && oriented.isDefined) {
      val (lt, rt, strict, forward) = oriented.get
      emitAsOfUnionWindow(toks, asofIdx, rel, aName, lt, rt, strict, forward,
        onToks, consumedEnd, outer, resolver) match {
        case Some(newToks) => return rewriteAsOfJoin(newToks, resolver)
        case None => // unsupported shape → LATERAL fallback below
      }
    }

    val out = Vector.newBuilder[Tok]
    out ++= toks.take(asofIdx)
    // inner: comma cross-apply (row drops when the subquery is empty);
    // outer: LEFT JOIN LATERAL keeps the left row with NULL right columns
    out ++= lex(
      if (outer) " LEFT JOIN LATERAL (SELECT * FROM "
      else ", LATERAL (SELECT * FROM ")
    out ++= rel
    out ++= lex(s" $aName WHERE (")
    if (onToks.nonEmpty) {
      out ++= onToks
      out ++= lex(") AND (")
    }
    out ++= mcToks
    out ++= lex(") ORDER BY ")
    out ++= rightExpr
    out ++= lex(s" $dir LIMIT 1) $aName ")
    if (outer) out ++= lex("ON TRUE ")
    out ++= toks.slice(consumedEnd + 1, toks.length)
    rewriteAsOfJoin(out.result(), resolver) // handle any further ASOF joins
  }

  /** Spans of a leading top-level WITH clause: (end index exclusive,
    * per-CTE body paren spans). (0, empty) when no leading WITH or an
    * unrecognized shape. */
  private def withPrefixSpans(toks: Vector[Tok]): (Int, Vector[(Int, Int)]) = {
    val sig = significant(toks)
    if (sig.isEmpty || !toks(sig(0)).text.equalsIgnoreCase("WITH"))
      return (0, Vector.empty)
    var p = 1
    if (p < sig.length && toks(sig(p)).text.equalsIgnoreCase("RECURSIVE")) p += 1
    val bodies = Vector.newBuilder[(Int, Int)]
    var end = 0
    var done = false
    while (!done) {
      if (p >= sig.length || !(toks(sig(p)).isInstanceOf[Ident] ||
          toks(sig(p)).isInstanceOf[QIdent])) return (0, Vector.empty)
      p += 1
      if (p < sig.length && toks(sig(p)) == Op("(")) { // optional col list
        val close = matchParen(toks, sig(p))
        while (p < sig.length && sig(p) <= close) p += 1
      }
      if (p >= sig.length || !toks(sig(p)).text.equalsIgnoreCase("AS"))
        return (0, Vector.empty)
      p += 1
      if (p >= sig.length || toks(sig(p)) != Op("(")) return (0, Vector.empty)
      val open = sig(p)
      val close = matchParen(toks, open)
      bodies += ((open, close))
      while (p < sig.length && sig(p) <= close) p += 1
      end = close + 1
      if (p < sig.length && toks(sig(p)) == Op(",")) p += 1 else done = true
    }
    (end, bodies.result())
  }

  private val plainIdent = "^[A-Za-z_][A-Za-z0-9_$]*$".r

  /** Render a RESOLVED column name as a Spark identifier: plain names
    * pass through; anything else (spaces, punctuation, exact-case names
    * born from quoted DDL) renders backtick-quoted. Names containing a
    * backtick are rejected upstream (they cannot round-trip Spark's
    * quoting). */
  private def bq(c: String): String =
    if (plainIdent.findFirstIn(c).isDefined) c else "`" + c + "`"

  /** The union+window ASOF emitter (see [[rewriteAsOfJoin]] scaladoc).
    * Returns None for any shape it cannot prove it handles — the caller
    * then falls back to the correlated-LATERAL form.
    *
    * NULL semantics match the LATERAL form (and DuckDB/Snowflake): right
    * rows with a NULL equi-key or NULL timestamp can never match (SQL
    * comparisons are never true against NULL) and are excluded from the
    * carried stream; left rows with a NULL key or timestamp stay
    * unmatched (dropped for inner, NULL-extended for outer). The right
    * payload is carried as ONE struct per row, so a matched right row
    * with NULLs in some columns surfaces those NULLs — never a torn mix
    * of columns from different right rows. */
  private def emitAsOfUnionWindow(
      toks: Vector[Tok], asofIdx: Int, rel: Vector[Tok], aName: String,
      leftTime: Vector[Tok], rightTime: Vector[Tok], strict: Boolean,
      forward: Boolean, onToks: Vector[Tok], consumedEnd: Int,
      outer: Boolean, resolver: SchemaResolver): Option[Vector[Tok]] = {
    val sig = significant(toks)

    // ── left relation: walk back from ASOF to FROM/comma. Accepts
    //    `name(.name)* [AS] [alias]` or `( subquery ) [AS] alias`
    //    (join-chain lefts fall back)
    val kSig = sig.indexWhere(_ == asofIdx)
    // parenthesized subquery left: alias required, tokens backwards from
    // ASOF are `alias [AS] )…(`; the paren before must follow FROM/comma
    val parenLeft: Option[(Int, String, String)] = {
      def closeAt(si: Int): Option[Int] =
        if (si >= 0 && toks(sig(si)) == Op(")")) Some(sig(si)) else None
      val aliasTok =
        if (kSig - 1 >= 0) toks(sig(kSig - 1)) match {
          case Ident(w) => Some(w)
          case _ => None
        } else None
      val close = aliasTok.flatMap { _ =>
        if (kSig - 2 >= 0 && toks(sig(kSig - 2)).text.equalsIgnoreCase("AS"))
          closeAt(kSig - 3)
        else closeAt(kSig - 2)
      }
      close.flatMap { c =>
        val open = matchOpen(toks, c)
        val beforeSig = sig.lastIndexWhere(_ < open)
        val precededOk = open >= 0 && beforeSig >= 0 && {
          val t = toks(sig(beforeSig))
          t.text.equalsIgnoreCase("FROM") || t == Op(",")
        }
        if (precededOk)
          Some((open, render(toks.slice(open, c + 1)), aliasTok.get))
        else None
      }
    }
    val nameLeft: Option[(Int, String, String)] = {
      var s = kSig - 1
      val collected = Vector.newBuilder[Int]
      var hitFrom = false
      var steps = 0
      while (!hitFrom && s >= 0 && steps < 8) {
        val t = toks(sig(s))
        if (t.text.equalsIgnoreCase("FROM") || t == Op(",")) hitFrom = true
        else { collected += sig(s); s -= 1; steps += 1 }
      }
      val leftToks = collected.result().reverse
      if (!hitFrom || leftToks.isEmpty) None
      else {
        // forward parse: name chain, then optional [AS] alias
        def isIdent(i: Int) = toks(leftToks(i)).isInstanceOf[Ident]
        if (!isIdent(0)) None
        else {
          var nameEnd = 0
          var q = 1
          while (q + 1 < leftToks.length && toks(leftToks(q)) == Op(".") &&
              isIdent(q + 1)) { nameEnd = q + 1; q += 2 }
          var la = toks(leftToks(nameEnd)).text
          if (q < leftToks.length &&
              toks(leftToks(q)).text.equalsIgnoreCase("AS")) q += 1
          var ok = true
          if (q < leftToks.length) {
            if (!isIdent(q) || q != leftToks.length - 1) ok = false
            else { la = toks(leftToks(q)).text; q += 1 }
          }
          if (!ok) None
          else Some((leftToks.head,
            render(toks.slice(leftToks.head, leftToks(nameEnd) + 1)), la))
        }
      }
    }
    val (leftStart, leftRelSql, laAlias) =
      parenLeft.orElse(nameLeft).getOrElse(return None)
    if (laAlias.equalsIgnoreCase(aName)) return None

    // ── ON: pure equi conjunction `la.c = ra.c AND …` (or absent)
    val onSig = significant(onToks)
    var keyPairs = Vector.empty[(String, String)]
    if (onSig.nonEmpty) {
      // split on top-level AND; each conjunct as its significant indices
      val conjuncts = splitTop(onToks, 0, onToks.length)(isKw(_, "AND"))
        .map { case (a, b) => (a until b).filter(j => isSig(onToks(j))) }
      val pairs = conjuncts.map { c =>
        if (c.length != 7) None
        else (onToks(c(0)), onToks(c(1)), onToks(c(2)), onToks(c(3)),
            onToks(c(4)), onToks(c(5)), onToks(c(6))) match {
          case (Ident(q1), Op("."), Ident(c1), Op("="),
              Ident(q2), Op("."), Ident(c2)) =>
            if (q1.equalsIgnoreCase(laAlias) && q2.equalsIgnoreCase(aName))
              Some((c1, c2))
            else if (q2.equalsIgnoreCase(laAlias) && q1.equalsIgnoreCase(aName))
              Some((c2, c1))
            else None
          case _ => None
        }
      }
      if (pairs.exists(_.isEmpty)) return None
      keyPairs = pairs.flatten.toVector
    }

    // ── schemas (CTE-scope aware; probes are analyzed, never executed)
    val (prefixEnd, bodies) = withPrefixSpans(toks)
    val containing = bodies.zipWithIndex.find { case ((o, c), _) =>
      o < asofIdx && asofIdx < c }
    val (withPrefixSql, scopeStart, scopeEnd) = containing match {
      case Some(((o, c), i)) =>
        val pre =
          if (i == 0) ""
          else render(toks.slice(0, bodies(i - 1)._2 + 1))
        (pre, o + 1, c)
      case None => (render(toks.take(prefixEnd)), prefixEnd, toks.length)
    }
    // narrow the qualifier-rewrite scope to the ASOF's own query block:
    // backward to the owning SELECT (or this block's opening paren),
    // forward to the next same-depth set-operation keyword (or this
    // block's closing paren) — sibling UNION branches may bind the same
    // alias to something else entirely
    val setOps = Set("UNION", "INTERSECT", "EXCEPT", "MINUS")
    val blockStart = {
      var d = 0
      var i = asofIdx
      var found = -1
      while (i > scopeStart && found < 0) {
        i -= 1
        toks(i) match {
          case Op(")") => d += 1
          case Op("(") =>
            d -= 1
            if (d < 0) found = i
          case Ident(w) if d == 0 &&
              (w.equalsIgnoreCase("SELECT") || setOps(w.toUpperCase)) =>
            found = i
          case _ =>
        }
      }
      if (found >= 0) found else scopeStart
    }
    val blockEnd = {
      val found = indexTop(toks, consumedEnd + 1) {
        case Op(")") => true
        case Ident(w) => setOps(w.toUpperCase)
        case _ => false
      }
      if (found >= 0) math.min(found, scopeEnd) else scopeEnd
    }

    val rightRelSql = render(rel)
    val leftCols = resolver(withPrefixSql, leftRelSql).getOrElse(return None)
    val rightCols = resolver(withPrefixSql, rightRelSql).getOrElse(return None)
    // non-plain names (quoted DDL/aliases: spaces, punctuation, exact
    // case) render backtick-quoted via bq(); only a backtick in the name
    // itself cannot round-trip Spark quoting — those bail to LATERAL
    if ((leftCols ++ rightCols).exists(_.contains("`"))) return None

    // ── exposure: left cols keep their names (derived table is aliased as
    //    the LEFT alias); right cols keep theirs unless colliding, in
    //    which case they surface as `<rightAlias>_<col>`
    val leftSet = leftCols.map(_.toLowerCase).toSet
    val exposed = rightCols.map { c =>
      if (leftSet.contains(c.toLowerCase)) s"${aName}_$c" else c }
    val allOut = leftCols.map(_.toLowerCase) ++ exposed.map(_.toLowerCase)
    if (allOut.distinct.length != allOut.length) return None
    val exposedOf: Map[String, String] =
      rightCols.map(_.toLowerCase).zip(exposed).toMap

    // ── rewrite `ra.c` references in the enclosing query block to
    //    `la.<exposed>`; expand `ra.*` to the exposed right columns. If
    //    either alias appears in scope NOT as a `alias.` qualifier it may
    //    be re-bound to a different relation (e.g. a scalar subquery
    //    `(SELECT max(x) FROM other v)` inside the block) — rewriting
    //    through a shadowing binding would redirect those references, so
    //    bail to the (correct) LATERAL fallback.
    def inScope(i: Int): Boolean =
      i >= blockStart && i < blockEnd && (i < leftStart || i > consumedEnd)
    val arr = toks.toArray
    // index → replacement tokens (star expansion / deleted `.` `*`)
    val splices = scala.collection.mutable.Map.empty[Int, Vector[Tok]]
    var i = 0
    while (i < arr.length) {
      arr(i) match {
        case Ident(w) if inScope(i) && (w.equalsIgnoreCase(aName) ||
            w.equalsIgnoreCase(laAlias)) =>
          val isRight = w.equalsIgnoreCase(aName)
          val j = nextSig(arr, i).filter(arr(_) == Op("."))
            .getOrElse(return None) // re-bound?
          val member = nextSig(arr, j)
          if (isRight) member match {
            case None =>
            case Some(c) => arr(c) match {
              case Ident(cn) if exposedOf.contains(cn.toLowerCase) =>
                arr(i) = Ident(laAlias)
                arr(c) = Ident(bq(exposedOf(cn.toLowerCase)))
                i = c
              case QIdent(q) if exposedOf.contains(
                  Identifiers.normalizePart(q).toLowerCase) =>
                // quoted member ref (`ra."My Col"`) → the backtick-rendered
                // exposed name (resolution stays case-insensitive, like the
                // rest of the engine)
                arr(i) = Ident(laAlias)
                arr(c) = Ident(bq(
                  exposedOf(Identifiers.normalizePart(q).toLowerCase)))
                i = c
              case Op("*") => // ra.* → the exposed right columns via la,
                // re-aliased to their ORIGINAL right names: Snowflake's
                // r.* surfaces the right relation's own column names even
                // when they collide with left ones (duplicate select-list
                // names are legal) — without the alias the collision
                // renames (b_ts) would leak into the output schema
                splices(i) = lex(
                  exposed.zip(rightCols).map { case (e, c0) =>
                    if (e == c0) s"$laAlias.${bq(e)}"
                    else s"$laAlias.${bq(e)} AS ${bq(c0)}" }.mkString(", "))
                splices(j) = Vector.empty
                splices(c) = Vector.empty
                i = c
              case Ident(_) => i = c // not a right column (map key) — leave
              case _ => return None // odd member access — fall back
            }
          } else {
            // left alias as qualifier: skip the member (it may share the
            // alias's name); `la.*` would re-expand over the derived
            // table's right columns too — fall back
            if (member.exists(arr(_) == Op("*"))) return None
            i = member.filter(arr(_).isInstanceOf[Ident]).getOrElse(j)
          }
        case _ =>
      }
      i += 1
    }

    // ── emit the derived table (aliased as the left alias). The right
    //    payload travels as ONE named_struct carried with a single
    //    last(…, true) window — row-atomic, so a matched right row's own
    //    NULLs surface instead of stale values torn from older rows; the
    //    struct doubles as the match marker. Right rows whose equi-key or
    //    timestamp is NULL can never match and are filtered out; NULL
    //    left timestamps sort NULLS FIRST (both directions), before any
    //    carry accumulates, so they stay unmatched.
    val ltSql = render(leftTime)
    val rtSql = render(rightTime)
    val rightTag = if (strict) 2 else 0 // ties: right first (incl) or last
    val partition =
      if (keyPairs.isEmpty) ""
      else s"PARTITION BY ${keyPairs.indices.map(i => s"_ga_k$i").mkString(", ")} "
    // backward: carry the most recent right row at-or-before (ASC);
    // forward: the first right row at-or-after (DESC) — same tags
    val dir = if (forward) "DESC" else "ASC"
    val over = s"OVER (${partition}ORDER BY _ga_ts $dir NULLS FIRST, " +
      "_ga_side ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val lKeys = keyPairs.zipWithIndex.map { case ((lc, _), i) =>
      s"$laAlias.${bq(lc)} AS _ga_k$i" }
    val rKeys = keyPairs.zipWithIndex.map { case ((_, rc), _) =>
      s"$aName.${bq(rc)}" }
    val rStruct = "named_struct(" +
      rightCols.map(c =>
        s"'${c.replace("'", "''")}', $aName.${bq(c)}").mkString(", ") + ")"
    val rGuards = (keyPairs.map { case (_, rc) =>
      s"$aName.${bq(rc)} IS NOT NULL" } :+ s"($rtSql) IS NOT NULL").mkString(" AND ")
    val lBranch = (lKeys ++ Seq(s"$ltSql AS _ga_ts", "1 AS _ga_side") ++
      leftCols.map(c => s"$laAlias.${bq(c)} AS ${bq(c)}") ++
      Seq("NULL AS _ga_r")).mkString(", ")
    val rBranch = (rKeys ++ Seq(rtSql, s"$rightTag") ++
      leftCols.map(_ => "NULL") ++ Seq(rStruct)).mkString(", ")
    val outCols = leftCols.map(bq) ++
      exposed.zip(rightCols).map { case (e, c) => s"_ga_m.${bq(c)} AS ${bq(e)}" }
    // inner drops matchless left rows (`_ga_m IS NOT NULL`); outer keeps
    // them — their carried right columns surface as NULL
    val matchFilter = if (outer) "" else " AND _ga_m IS NOT NULL"
    val derived =
      s"""(SELECT ${outCols.mkString(", ")}
         | FROM (SELECT *, last(_ga_r, true) $over AS _ga_m
         |   FROM (SELECT $lBranch FROM $leftRelSql AS $laAlias
         |         UNION ALL
         |         SELECT $rBranch FROM $rightRelSql AS $aName
         |         WHERE $rGuards) _ga_u) _ga_w
         | WHERE _ga_side = 1$matchFilter) AS $laAlias """
        .stripMargin
    // reassemble with the splices (star expansions) applied; splice
    // per-range so the original leftStart/consumedEnd indexes stay valid
    def flat(lo: Int, hi: Int): Vector[Tok] =
      (lo until hi).iterator.flatMap(ix =>
        splices.getOrElse(ix, Vector(arr(ix)))).toVector
    Some(flat(0, leftStart) ++ lex(derived) ++ flat(consumedEnd + 1, arr.length))
  }

  // ── pass: CONNECT BY → WITH RECURSIVE ──────────────────────────────────
  /** Snowflake hierarchical query
    * `SELECT … FROM t START WITH <cond> CONNECT BY PRIOR a = b [tail]`
    * (either clause order) → a recursive CTE Spark 4 executes natively:
    * {{{
    * WITH RECURSIVE __graft_cb AS (
    *   SELECT *, 1 AS level FROM t WHERE <cond>
    *   UNION ALL
    *   SELECT t.*, __graft_cb.level + 1
    *   FROM t JOIN __graft_cb ON t.b = __graft_cb.a)
    * SELECT … FROM __graft_cb [tail]
    * }}}
    * The LEVEL pseudo-column maps to the generated `level`. Supported
    * shape: single-table FROM, `PRIOR x = y` / `y = PRIOR x` condition;
    * anything else fails loudly rather than mis-translating. */
  private def rewriteConnectBy(toks: Vector[Tok]): Vector[Tok] = {
    // index just past the last word of a keyword sequence starting at `at`
    def afterKw(at: Int, nWords: Int): Int =
      (1 until nWords).foldLeft(at)((k, _) => nextSig(toks, k).get) + 1
    // top-depth search for a keyword sequence (comments may sit between)
    def findKw(words: Seq[String], from: Int): Int = {
      def restFollows(j: Int): Boolean = {
        var k = j
        words.tail.forall(w =>
          nextSig(toks, k).exists { n => k = n; isKw(toks(n), w) })
      }
      var j = topKeyword(toks, words.head, from)
      while (j >= 0 && !restFollows(j)) j = topKeyword(toks, words.head, j + 1)
      j
    }
    val cbIdx = findKw(Seq("CONNECT", "BY"), 0)
    if (cbIdx < 0) return toks
    val swIdx = findKw(Seq("START", "WITH"), 0)
    require(swIdx >= 0, "CONNECT BY requires a START WITH clause")
    val fromIdx = findKw(Seq("FROM"), 0)
    require(fromIdx >= 0 && fromIdx < math.min(cbIdx, swIdx),
      "unsupported CONNECT BY shape (expected SELECT … FROM t …)")
    // clause boundaries: the two clauses appear in either order after FROM
    val firstClause = math.min(swIdx, cbIdx)
    val secondClause = math.max(swIdx, cbIdx)
    // the tail starts at the first top-level keyword after both clauses
    val tailIdx = {
      val candidates = Seq("ORDER", "QUALIFY", "LIMIT", "GROUP", "HAVING")
        .map(k => findKw(Seq(k), secondClause)).filter(_ >= 0)
      if (candidates.isEmpty) toks.length else candidates.min
    }
    def span(a: Int, b: Int): String = render(toks.slice(a, b)).trim
    val proj = span(toks.indexWhere(isKw(_, "SELECT")) + 1, fromIdx)
    val table = span(fromIdx + 1, firstClause)
    require(!table.contains("(") && table.split("\\s+").length == 1,
      s"CONNECT BY supports a single-table FROM, got: $table")
    val (startCond, connectExpr) =
      if (swIdx < cbIdx)
        (span(afterKw(swIdx, 2), cbIdx), span(afterKw(cbIdx, 2), tailIdx))
      else
        (span(afterKw(swIdx, 2), tailIdx), span(afterKw(cbIdx, 2), swIdx))
    val tail = span(tailIdx, toks.length)
    // PRIOR a = b  |  b = PRIOR a  (parent column a, child column b)
    val priorLeft = "(?is)^PRIOR\\s+([\\w$\"\\.]+)\\s*=\\s*([\\w$\"\\.]+)$".r
    val priorRight = "(?is)^([\\w$\"\\.]+)\\s*=\\s*PRIOR\\s+([\\w$\"\\.]+)$".r
    val (parentCol, childCol) = connectExpr.trim match {
      case priorLeft(a, b) => (a, b)
      case priorRight(b, a) => (a, b)
      case other => throw new IllegalArgumentException(
        s"unsupported CONNECT BY condition (need PRIOR a = b): $other")
    }
    lex(s"""WITH RECURSIVE __graft_cb AS (
      SELECT *, 1 AS level FROM $table WHERE $startCond
      UNION ALL
      SELECT t.*, __graft_cb.level + 1
      FROM $table t JOIN __graft_cb ON t.$childCol = __graft_cb.$parentCol)
    SELECT $proj FROM __graft_cb $tail""")
  }

  // ── pass: SELECT TOP n <list> … → SELECT <list> … LIMIT n (per scope) ──
  private def rewriteTop(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Op("(") =>
          val close = matchParen(toks, i)
          out += Op("(")
          out ++= rewriteTop(toks.slice(i + 1, close))
          out += Op(")")
          i = close + 1
        case t => out += t; i += 1
      }
    }
    val v = out.toVector
    val sig = significant(v)
    if (sig.length >= 3 && (v(sig(0)) match {
          case Ident(w) => w.equalsIgnoreCase("SELECT"); case _ => false }) &&
        (v(sig(1)) match {
          case Ident(w) => w.equalsIgnoreCase("TOP"); case _ => false }) &&
        (v(sig(2)) match { case Num(_) => true; case _ => false })) {
      val n = v(sig(2)).text
      (v.slice(0, sig(0) + 1) ++ v.slice(sig(2) + 1, v.length) ++
        lex(s" LIMIT $n")).toVector
    } else v
  }

  // ── pass: FROM|JOIN|USING [(] VALUES (r1), (r2) … [)]
  //          → (SELECT col1 AS COLUMN1, … FROM VALUES (r1), (r2) …)
  // Snowflake names an inline table's columns COLUMN1..n, Spark col1..n.
  // The projection keeps any alias column list after it positional. ──
  private def rewriteValuesColumns(toks: Vector[Tok]): Vector[Tok] = {
    def introduces(k: Option[Int]): Boolean = k.exists(toks(_) match {
      case Ident(w) => Set("FROM", "JOIN", "USING").contains(w.toUpperCase)
      case _ => false
    })
    def isOpen(k: Option[Int]): Boolean = k.exists(toks(_) == Op("("))
    /** (last token of the rows, column count, already parenthesized) of
      * the inline table whose VALUES keyword is at `i`. */
    def inlineTable(i: Int): Option[(Int, Int, Boolean)] = {
      val p = prevSig(toks, i)
      val inParens = isOpen(p) && introduces(prevSig(toks, p.get))
      val first = nextSig(toks, i)
      if (!(inParens || introduces(p)) || !isOpen(first)) return None
      var end = matchParen(toks, first.get)
      val n = splitArgs(toks, first.get, end).length
      var next = nextSig(toks, end)
      while (next.exists(toks(_) == Op(",")) && isOpen(nextSig(toks, next.get))) {
        end = matchParen(toks, nextSig(toks, next.get).get)
        next = nextSig(toks, end)
      }
      // parenthesized form: the rows must fill the parens exactly
      if (n > 0 && (!inParens || next.contains(matchParen(toks, p.get))))
        Some((end, n, inParens))
      else None
    }
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val table = toks(i) match {
        case Ident(w) if w.equalsIgnoreCase("VALUES") => inlineTable(i)
        case _ => None
      }
      table match {
        case Some((end, n, inParens)) =>
          val proj = (1 to n).map(k => s"col$k AS COLUMN$k").mkString(", ")
          if (!inParens) out += Op("(")
          out ++= lex(s"SELECT $proj FROM ")
          out ++= toks.slice(i, end + 1)
          if (!inParens) out += Op(")")
          i = end + 1
        case None => out += toks(i); i += 1
      }
    }
    out.toVector
  }

  // ── pass: <table> SAMPLE [BERNOULLI|ROW|SYSTEM|BLOCK] (p) →
  //          TABLESAMPLE (p PERCENT | n ROWS)  (A19) ────────────────────
  private def rewriteSample(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val isSample = toks(i) match {
        case Ident(w) => w.equalsIgnoreCase("SAMPLE") || w.equalsIgnoreCase("TABLESAMPLE")
        case _ => false
      }
      // table context guard: previous significant token is a name, not an
      // operator/keyword — avoids clobbering a function named sample(x)
      def prevOk = prevSig(out, out.length).exists(k => out(k) match {
        case Ident(w) => !SqlKeywords.reserved.contains(w.toUpperCase)
        case _: QIdent | Op(")") => true
        case _ => false
      })
      // optional method keyword, then the (…) spec
      val open = if (!isSample || !prevOk) None else {
        val m = nextSig(toks, i)
        m.filter(toks(_) match {
          case Ident(w) => Set("BERNOULLI", "ROW", "SYSTEM", "BLOCK")
            .contains(w.toUpperCase)
          case _ => false
        }).fold(m)(nextSig(toks, _)).filter(toks(_) == Op("("))
      }
      open match {
        case Some(j) =>
          val close = matchParen(toks, j)
          val args = render(toks.slice(j + 1, close)).trim
          val unit = if (args.toUpperCase.contains("ROWS")) args
            else s"$args PERCENT"
          out += Ws(" ")
          out ++= lex(s"TABLESAMPLE ($unit)")
          i = close + 1
        case None => out += toks(i); i += 1
      }
    }
    out.toVector
  }

  // ── pass: [,] [LATERAL] FLATTEN([INPUT =>] e) [alias]
  //         → LATERAL VIEW posexplode(from_json((e),'array<string>'))
  //           alias AS index, value
  // VARIANT arrays are JSON text in this engine (§1.2), so FLATTEN parses
  // the JSON and explodes with ordinality; `alias.value` / `alias.index`
  // references then resolve as Spark lateral-view columns. ──────────────
  private def rewriteFlatten(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val fnKind = toks(i) match {
        case Ident(w) if nextSig(toks, i).exists(j => toks(j) == Op("(")) =>
          if (w.equalsIgnoreCase("FLATTEN")) "FLATTEN"
          else if (w.equalsIgnoreCase("SPLIT_TO_TABLE")) "SPLIT_TO_TABLE"
          else ""
        case _ => ""
      }
      if (fnKind.nonEmpty) {
        // swallow an immediately preceding LATERAL and/or comma in `out`
        def dropTrailing(pred: Tok => Boolean): Unit =
          prevSig(out, out.length).filter(k => pred(out(k)))
            .foreach(k => out.remove(k, out.length - k))
        dropTrailing { case Ident(w) => w.equalsIgnoreCase("LATERAL"); case _ => false }
        dropTrailing { case Op(",") => true; case _ => false }
        val open = nextSig(toks, i).get
        val close = matchParen(toks, open)
        var inner = toks.slice(open + 1, close)
        // strip leading INPUT =>
        val sigI = significant(inner)
        if (sigI.length >= 2 && (inner(sigI(0)) match {
              case Ident(w) => w.equalsIgnoreCase("INPUT"); case _ => false }) &&
            inner(sigI(1)) == Op("=>"))
          inner = inner.drop(sigI(1) + 1)
        // optional alias after the close paren: (last index consumed, alias)
        val (end, alias) = nextSig(toks, close).map(j => (j, toks(j))) match {
          case Some((j, Ident(a))) if a.equalsIgnoreCase("AS") =>
            nextSig(toks, j).map(j2 => (j2, toks(j2))) match {
              case Some((j2, Ident(a2))) => (j2, a2)
              case _ => (close, "f")
            }
          case Some((j, Ident(a))) if !SqlKeywords.reserved.contains(a.toUpperCase) =>
            (j, a)
          case _ => (close, "f")
        }
        out += Ws(" ")
        if (fnKind == "FLATTEN")
          out ++= lex(s"LATERAL VIEW posexplode(from_json((" +
            render(inner).trim + s"), 'array<string>')) $alias AS index, value")
        else {
          // SPLIT_TO_TABLE(e, d): Snowflake emits SEQ/INDEX/VALUE with a
          // 1-based INDEX — build struct rows and explode with inline()
          val args = splitArgs(toks, open, close)
            .map(r => render(toks.slice(r._1, r._2)).trim)
          require(args.length == 2, s"SPLIT_TO_TABLE needs (string, delim)")
          // Spark split() takes a regex; Snowflake's delimiter is literal —
          // \Q..\E-quote it
          out ++= lex(
            s"LATERAL VIEW inline(transform(" +
            s"split((${args(0)}), concat('\\\\Q', (${args(1)}), '\\\\E')), " +
            s"(v, i) -> named_struct('seq', 1, 'index', i + 1, 'value', v))) $alias")
        }
        i = end + 1
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  // ── pass: top-level QUALIFY <pred> → nested SELECT * EXCEPT filter ─────
  // Spark has no QUALIFY; Snowflake semantics are a post-window filter:
  //   SELECT <list> FROM ... QUALIFY p [ORDER BY o] [LIMIT n]
  //   → SELECT * EXCEPT (__graft_q) FROM
  //       (SELECT <list>, (p) AS __graft_q FROM ...) WHERE __graft_q
  //       [ORDER BY o] [LIMIT n]
  private def rewriteQualify(toks: Vector[Tok]): Vector[Tok] = {
    // subqueries carry their own QUALIFY scope — recurse into every
    // parenthesized fragment first, then transform this level
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Op("(") =>
          val close = matchParen(toks, i)
          out += Op("(")
          out ++= rewriteQualify(toks.slice(i + 1, close))
          out += Op(")")
          i = close + 1
        case t => out += t; i += 1
      }
    }
    rewriteQualifyTop(out.toVector)
  }

  private def rewriteQualifyTop(toks: Vector[Tok]): Vector[Tok] = {
    val qualifyAt = topKeyword(toks, "QUALIFY")
    val fromAt = topKeyword(toks, "FROM")
    if (qualifyAt < 0 || fromAt < 0) return toks
    // predicate: QUALIFY .. until depth-0 ORDER/LIMIT/OFFSET or end
    val stopKw = Set("ORDER", "LIMIT", "OFFSET")
    val stop = indexTop(toks, qualifyAt + 1) {
      case Ident(w) => stopKw.contains(w.toUpperCase)
      case _ => false
    }
    val predEnd = if (stop < 0) toks.length else stop
    val pred = toks.slice(qualifyAt + 1, predEnd)
    val head = toks.slice(0, fromAt)          // SELECT <list>
    val mid  = toks.slice(fromAt, qualifyAt)  // FROM ... (pre-QUALIFY)
    val tail = toks.slice(predEnd, toks.length) // ORDER BY / LIMIT
    (lex("SELECT * EXCEPT (__graft_q) FROM (") ++
      head ++ lex(", (" + render(pred).trim + ") AS __graft_q ") ++
      mid ++ lex(") WHERE __graft_q ") ++ tail).toVector
  }

  // ── pass: TABLE(TO_QUERY('q')) → (q) ;  TABLE(f(x)) → f(x) ────────────
  private def unwrapTableFn(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Ident(t) if t.equalsIgnoreCase("TABLE") &&
            nextSig(toks, i).exists(j => toks(j) == Op("(")) =>
          val open = nextSig(toks, i).get
          val close = matchParen(toks, open)
          val inner = toks.slice(open + 1, close)
          val innerSig = significant(inner)
          // TABLE(TO_QUERY('sql' [, ...])) → (sql)
          val isToQuery = innerSig.headOption.exists(k => inner(k) match {
            case Ident(f) => f.equalsIgnoreCase("TO_QUERY")
            case _ => false
          })
          if (isToQuery) {
            val strTok = inner.collectFirst { case s: Str => s }
            strTok match {
              case Some(s) =>
                out += Op("(")
                out ++= rewriteTokens(lex(s.value))
                out += Op(")")
              case None => out ++= toks.slice(i, close + 1)
            }
          } else {
            out ++= inner // TABLE(f(x)) → f(x)
          }
          i = close + 1
        case t => out += t; i += 1
      }
    }
    out.toVector
  }

  // ── pass: col:path / col:'key' → get_json_object(col, '$.path') ───────
  private def rewriteJsonPaths(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      val isColon = toks(i) == Op(":")
      val prevIdx = if (out.nonEmpty) Some(out.length - 1) else None
      val prevOk = prevIdx.exists(p => out(p) match {
        case _: Ident | _: QIdent => true
        case Op(")") => true
        case _ => false
      })
      // colon must be tight (no space) against a preceding column expr and
      // followed by a key; this distinguishes VARIANT access from other ':'.
      if (isColon && prevOk && i + 1 < toks.length &&
          (toks(i + 1) match {
            case _: Ident | _: QIdent | _: Str => true; case _ => false })) {
        // collect path: key (.key)* ([idx])*
        val path = new StringBuilder
        var j = i + 1
        var more = true
        while (more && j < toks.length) {
          toks(j) match {
            case Ident(k)  => path.append('.').append(k); j += 1
            case QIdent(k) => path.append('.')
              .append(k.substring(1, k.length - 1).replace("\"\"", "\"")); j += 1
            case s: Str    => path.append("['").append(s.value).append("']"); j += 1
            case _ => more = false
          }
          // continue on '.' or '[' n ']'
          if (more && j < toks.length) {
            toks(j) match {
              case Op(".") if j + 1 < toks.length => j += 1
              case Op("[") =>
                // one or more consecutive subscripts: v:k[1][0]
                var k2 = j
                while (k2 < toks.length && toks(k2) == Op("[")) {
                  val close = matchBracket(toks, k2)
                  val idx = render(toks.slice(k2 + 1, close)).trim
                  path.append('[').append(idx).append(']')
                  k2 = close + 1
                }
                j = k2
                more = j < toks.length && toks(j) == Op(".")
                if (more) j += 1
              case _ => more = false
            }
          }
        }
        // grab the column expression already emitted to `out`
        val exprStart = out(out.length - 1) match {
          case Op(")") => // balance back
            val found = matchOpen(out, out.length - 1)
            // include a function name directly before '('
            if (found > 0 && (out(found - 1) match {
              case _: Ident | _: QIdent => true; case _ => false })) found - 1
            else found
          case _ =>
            // identifier, possibly qualified a.b
            var k = out.length - 1
            while (k - 2 >= 0 && out(k - 1) == Op(".") &&
                   (out(k - 2) match {
                     case _: Ident | _: QIdent => true; case _ => false }))
              k -= 2
            k
        }
        val colExpr = out.slice(exprStart, out.length).toVector
        out.remove(exprStart, out.length - exprStart)
        out += Ident("get_json_object")
        out += Op("(")
        out ++= colExpr
        out += Op(",")
        out += Ws(" ")
        out += Str("'$" + path.toString + "'")
        out += Op(")")
        i = j
      } else {
        out += toks(i); i += 1
      }
    }
    out.toVector
  }

  // ── pass: expr::type → CAST(expr AS type) ──────────────────────────────
  private def rewriteCasts(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    def isName(t: Tok) = t.isInstanceOf[Ident] || t.isInstanceOf[QIdent]
    // a call `f(…)` or group `(…)` ending at `close`
    def callStart(close: Int): Int = {
      val open = matchOpen(out, close)
      if (open > 0 && isName(out(open - 1))) open - 1 else open
    }
    // first index of the operand whose last token is at `last`
    def operandStart(last: Int): Int = out(last) match {
      case Op(")") =>
        val start = callStart(last)
        // ordered-set aggregate: fn(args) WITHIN GROUP (ORDER BY …)::t
        // — the popped group is the WITHIN GROUP clause; extend the
        // operand back through the aggregate call
        (for {
          g <- prevSig(out, start) if isKw(out(g), "GROUP")
          w <- prevSig(out, g) if isKw(out(w), "WITHIN")
          c <- prevSig(out, w) if out(c) == Op(")")
        } yield callStart(c)).filter(_ >= 0).getOrElse(math.max(start, 0))
      case _: Ident | _: QIdent => // identifier, possibly qualified a.b
        var k = last
        while (k - 2 >= 0 && out(k - 1) == Op(".") && isName(out(k - 2))) k -= 2
        k
      case _ => last // a literal or any other single token
    }
    var i = 0
    while (i < toks.length) {
      val typeName = if (toks(i) == Op("::"))
        nextSig(toks, i).filter(toks(_).isInstanceOf[Ident]) else None
      typeName.flatMap(j => prevSig(out, out.length).map(j -> _)) match {
        case Some((j, last)) =>
          val (typeStr, typeEnd) = typeAt(toks, j)
          val exprStart = operandStart(last)
          val expr = out.slice(exprStart, out.length).toVector
          out.remove(exprStart, out.length - exprStart)
          out += Ident("CAST")
          out += Op("(")
          out ++= expr
          out += Ws(" ")
          out += Ident("AS")
          out += Ws(" ")
          out ++= lex(typeStr)
          out += Op(")")
          i = typeEnd
        case None => out += toks(i); i += 1
      }
    }
    out.toVector
  }

  /** The Spark type for the Snowflake type name at `j` — with its `(…)`
    * arguments and a DOUBLE PRECISION suffix — and the index just past
    * it. Names outside the type map pass through with their arguments. */
  private def typeAt(toks: Vector[Tok], j: Int): (String, Int) = {
    val tname = toks(j).text.toUpperCase
    var end = j + 1
    var args = ""
    if (end < toks.length && toks(end) == Op("(")) {
      val close = matchParen(toks, end)
      args = render(toks.slice(end, close + 1))
      end = close + 1
    }
    if (tname == "DOUBLE")
      nextSig(toks, end - 1).filter(k => isKw(toks(k), "PRECISION"))
        .foreach(k => end = k + 1)
    val (mapped, keepArgs) = typeMap.getOrElse(tname, (tname, args.nonEmpty))
    val typeStr = if (keepArgs && args.nonEmpty) mapped + args
      else if (mapped == "DECIMAL" && args.isEmpty) "DECIMAL(38,0)"
      else mapped
    (typeStr, end)
  }

  /** A Snowflake column type (`NUMBER(10,2)`, `VARCHAR(20) NOT NULL`, …)
    * as Spark DDL type text; names outside the type map pass through. */
  def sparkType(typeSql: String): String = sparkTypeOf(lex(typeSql))

  private def sparkTypeOf(toks: Vector[Tok]): String = {
    val sig = significant(toks)
    val notNull = sig.length >= 3 && isKw(toks(sig(sig.length - 2)), "NOT") &&
      isKw(toks(sig.last), "NULL")
    val t = if (notNull) toks.take(sig(sig.length - 2)) else toks
    sig.headOption.filter(j => typeMap.contains(t(j).text.toUpperCase)) match {
      case Some(j) =>
        val (typeStr, end) = typeAt(t, j)
        (typeStr + render(t.drop(end))).trim
      case None => render(t).trim
    }
  }

  /** `(name TYPE, …)` column definitions → (name as written, Spark type)
    * pairs; names may be quoted and hold commas or spaces. */
  def columnDefs(defs: String): Seq[(String, String)] = {
    val toks = lex(defs)
    val open = nextSig(toks, -1).filter(toks(_) == Op("(")).getOrElse(
      throw new IllegalArgumentException(s"bad column list: $defs"))
    splitArgs(toks, open, matchParen(toks, open)).map { case (a, b) =>
      val name = nextSig(toks, a - 1).filter(_ < b)
      val typeFrom = name.flatMap(nextSig(toks, _)).filter(_ < b).getOrElse(
        throw new IllegalArgumentException(
          s"bad column def: ${render(toks.slice(a, b)).trim}"))
      (toks(name.get).text, sparkTypeOf(toks.slice(typeFrom, b)))
    }
  }

  // ── pass: CAST(x AS <snowflake type>) type-name mapping ────────────────
  private def rewriteCastTypeNames(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    // stack of booleans: is the open paren at this depth a CAST-paren?
    val parenIsCast = ArrayBuffer.empty[Boolean]
    var lastSigWasCast = false
    var inCastAs = false // saw AS inside a CAST paren; next ident is a type
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      t match {
        case Op("(") =>
          parenIsCast += lastSigWasCast
          lastSigWasCast = false
          out += t
        case Op(")") =>
          if (parenIsCast.nonEmpty) parenIsCast.remove(parenIsCast.length - 1)
          inCastAs = false
          lastSigWasCast = false
          out += t
        case Ident(x) if x.equalsIgnoreCase("CAST") || x.equalsIgnoreCase("TRY_CAST") =>
          lastSigWasCast = true
          out += t
        case Ident(x) if x.equalsIgnoreCase("AS") &&
            parenIsCast.lastOption.contains(true) =>
          inCastAs = true
          lastSigWasCast = false
          out += t
        case Ident(x) if inCastAs =>
          if (typeMap.contains(x.toUpperCase)) {
            val (typeStr, end) = typeAt(toks, i)
            out ++= lex(typeStr)
            inCastAs = false
            i = end - 1
          } else out += t
          lastSigWasCast = false
        case _: Ws | _: Comment => out += t
        case _ =>
          lastSigWasCast = false
          out += t
      }
      i += 1
    }
    out.toVector
  }

  // ── pass: function renames + pass-throughs + fmt-string translation ────
  private def rewriteFunctions(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Ident(name) if nextSig(toks, i).exists(j => toks(j) == Op("(")) =>
          val up = name.toUpperCase
          val open = nextSig(toks, i).get
          val close = matchParen(toks, open)
          if (passThroughFns.contains(up)) {
            // PARSE_JSON(x) → (x): recurse into the args. TO_JSON is
            // identity only over VARIANT-as-JSON-text; over a
            // struct/array (OBJECT_CONSTRUCT result — inline, through a
            // CTE/subquery alias, or a nested parquet column) it must
            // serialize for real or a raw struct leaks into the result
            // (caught by SemiWindowFuzz). Token shape can't see types,
            // so emit the type-dispatched graft_to_json (a Catalyst
            // RuntimeReplaceable registered by GraftSession) and let the
            // analyzer decide — ADVICE r10 #2.
            val inner = rewriteFunctions(toks.slice(open + 1, close))
            if (up == "TO_JSON") out += Ident("graft_to_json")
            out += Op("(")
            out ++= inner
            out += Op(")")
            i = close + 1
          } else if (fmtArgFns.contains(up)) {
            val argRanges = splitArgs(toks, open, close)
            val mappedName = up match {
              case "TO_CHAR" | "TO_VARCHAR" =>
                if (argRanges.length >= 2) "DATE_FORMAT" else "CAST_STR"
              case "TRY_TO_TIMESTAMP" => "TRY_TO_TIMESTAMP"
              case other => other
            }
            if (mappedName == "CAST_STR") {
              // TO_CHAR(x) → CAST(x AS STRING)
              out += Ident("CAST")
              out += Op("(")
              out ++= rewriteFunctions(toks.slice(open + 1, close))
              out += Ws(" ")
              out += Ident("AS")
              out += Ws(" ")
              out += Ident("STRING")
              out += Op(")")
            } else {
              out += Ident(mappedName.toLowerCase)
              out += Op("(")
              argRanges.zipWithIndex.foreach { case ((a, b), idx) =>
                if (idx > 0) { out += Op(","); out += Ws(" ") }
                val argToks = toks.slice(a, b)
                if (idx == 1) {
                  // translate a literal format string
                  argToks.collectFirst { case s: Str => s } match {
                    case Some(s) if significant(argToks).size == 1 =>
                      out += Str("'" +
                        translateDatetimeFormat(s.value).replace("'", "''") + "'")
                    case _ => out ++= rewriteFunctions(argToks)
                  }
                } else out ++= rewriteFunctions(argToks)
              }
              out += Op(")")
            }
            i = close + 1
          } else if (up == "ZEROIFNULL" || up == "NULLIFZERO") {
            val inner = rewriteFunctions(toks.slice(open + 1, close))
            val (pre, post) = up match {
              case "ZEROIFNULL" => ("coalesce(", ", 0)")
              case _            => ("nullif(", ", 0)")
            }
            out ++= lex(pre); out ++= inner; out ++= lex(post)
            i = close + 1
          } else if (up == "DIV0" || up == "DIV0NULL") {
            // DIV0(a, b): a/b, 0 when b = 0; DIV0NULL also maps a NULL
            // divisor to 0. NULL otherwise propagates — the earlier
            // coalesce(try_divide(a, b), 0) form collapsed a NULL
            // dividend (and, for DIV0, a NULL divisor) to 0, which
            // Snowflake does not. Lowered to a native single-evaluation
            // function ([[graft.functions.SingleEval.div0]]): the
            // divisor binds ONCE, so guard and divide see the same
            // value even for a nondeterministic divisor (the previous
            // CASE form spliced it 2-3× — round-13 directive #5).
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, s"$up needs 2 arguments")
            out ++= lex(if (up == "DIV0") "graft_div0(" else "graft_div0null(")
            out ++= rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            out += Op(",")
            out ++= rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))
            out += Op(")")
            i = close + 1
          } else if (up == "GENERATOR") {
            // GENERATOR(ROWCOUNT => n) → range(n) (table function; usually
            // arrives here via TABLE(GENERATOR(...)) unwrap)
            val args = render(toks.slice(open + 1, close))
            val n = "\\d+".r.findFirstIn(args).getOrElse(
              throw new IllegalArgumentException(s"GENERATOR needs ROWCOUNT: $args"))
            out ++= lex(s"range($n)")
            i = close + 1
          } else if (up == "SEQ4" || up == "SEQ8" || up == "SEQ1" || up == "SEQ2") {
            // sequence per generated row → range()'s id column
            out += Ident("id")
            i = close + 1
          } else if (castFns.contains(up)) {
            // TO_NUMBER(x[,p[,s]]) / TO_BOOLEAN / TO_DOUBLE → [TRY_]CAST
            val (targetType, isTry) = castFns(up)
            val argRanges = splitArgs(toks, open, close)
            val castKw = if (isTry) "try_cast" else "CAST"
            val tpe =
              if (targetType == "DECIMAL") {
                val nums = argRanges.tail.map(r =>
                  render(toks.slice(r._1, r._2)).trim)
                if (nums.nonEmpty && nums.forall(_.matches("\\d+")))
                  s"DECIMAL(${nums.head},${if (nums.length > 1) nums(1) else "0"})"
                else "DECIMAL(38,0)"
              } else targetType
            out ++= lex(s"$castKw(")
            out ++= rewriteFunctions(
              toks.slice(argRanges.head._1, argRanges.head._2))
            out ++= lex(s" AS $tpe)")
            i = close + 1
          } else if (up == "DECODE") {
            // DECODE(e, s1, r1, …, [default]) → CASE with null-safe equality
            val args = splitArgs(toks, open, close).map(r =>
              rewriteFunctions(toks.slice(r._1, r._2)))
            out ++= lex("CASE")
            args.tail.grouped(2).foreach { g =>
              if (g.length == 2) {
                out ++= lex(" WHEN (")
                out ++= args.head
                out ++= lex(") <=> (")
                out ++= g(0)
                out ++= lex(") THEN ")
                out ++= g(1)
              } else {
                out ++= lex(" ELSE ")
                out ++= g(0)
              }
            }
            out ++= lex(" END")
            i = close + 1
          } else if (bitOpFns.contains(up)) {
            // BITAND/BITOR/BITXOR(a, b) → ((a) <op> (b))
            val argRanges = splitArgs(toks, open, close)
            if (argRanges.length == 2) {
              val a = rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
              val b = rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2))
              out ++= lex("((")
              out ++= a
              out ++= lex(s") ${bitOpFns(up)} (")
              out ++= b
              out ++= lex("))")
              i = close + 1
            } else { out += toks(i); i += 1 }
          } else if (up == "RATIO_TO_REPORT") {
            // RATIO_TO_REPORT(x) OVER w → (x) / (sum(x) OVER w); the OVER
            // clause must be consumed so the sum binds to it.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 1, "RATIO_TO_REPORT needs 1 argument")
            val arg = rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            val overKw = nextSig(toks, close)
            require(overKw.exists(j => toks(j) match {
              case Ident(w) => w.equalsIgnoreCase("OVER"); case _ => false
            }), "RATIO_TO_REPORT requires an OVER clause")
            val afterOver = nextSig(toks, overKw.get).getOrElse(
              throw new IllegalArgumentException("OVER needs a window"))
            val overEnd = toks(afterOver) match {
              case Op("(") => matchParen(toks, afterOver)
              case _: Ident => afterOver // named window: OVER w
              case other => throw new IllegalArgumentException(
                s"bad OVER clause: ${other.text}")
            }
            out ++= lex("((")
            out ++= arg
            out ++= lex(") / (sum(")
            out ++= arg
            out ++= lex(") OVER ")
            out ++= rewriteFunctions(toks.slice(afterOver, overEnd + 1))
            out ++= lex("))")
            i = overEnd + 1
          } else if (up == "GET") {
            // GET(arr, n) is 0-based → element_at(arr, n+1);
            // GET(variant, 'key') → get_json_object (VARIANT is JSON text
            // in this engine, §1.2). Literal accessors only — the token
            // layer has no type information for the general case.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, "GET needs 2 arguments")
            val subject = rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            val accToks = toks.slice(argRanges(1)._1, argRanges(1)._2)
            val accSig = significant(accToks)
            (if (accSig.size == 1) Some(accToks(accSig.head)) else None) match {
              case Some(Num(n)) if n.matches("\\d+") =>
                out ++= lex("element_at(")
                out ++= subject
                out ++= lex(s", ${n.toLong + 1})")
              case Some(s: Str) =>
                out ++= lex("get_json_object(")
                out ++= subject
                out ++= lex(s", '$$.${s.value.replace("'", "''")}')")
              case _ => throw new IllegalArgumentException(
                "GET supports a literal index or key accessor")
            }
            i = close + 1
          } else if (up == "NVL2") {
            // NVL2(a, b, c) → IF(a IS NOT NULL, b, c)
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 3, "NVL2 needs 3 arguments")
            val Seq(a, b, cc) = argRanges.map(r =>
              rewriteFunctions(toks.slice(r._1, r._2)))
            out ++= lex("if((")
            out ++= a
            out ++= lex(") IS NOT NULL, ")
            out ++= b
            out += Op(",")
            out ++= cc
            out += Op(")")
            i = close + 1
          } else if ((up == "REGEXP_LIKE" || up == "RLIKE") && {
              // infix `x RLIKE ('pat')` also looks like a 1-arg call —
              // leave those untouched; only 2/3-arg calls are the function
              splitArgs(toks, open, close).length >= 2
            }) {
            // Snowflake REGEXP_LIKE/RLIKE match the ENTIRE subject; Spark's
            // rlike is a substring search → anchor with a non-capturing
            // group. Optional 3rd parameter: regex flags (i/c/s/m).
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2 || argRanges.length == 3,
              s"$up supports (subject, pattern[, parameters]); got ${argRanges.length}")
            val subj = rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            val pat = rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))
            val flags =
              if (argRanges.length < 3) ""
              else {
                val fToks = toks.slice(argRanges(2)._1, argRanges(2)._2)
                val fSig = significant(fToks)
                fToks(fSig.head) match {
                  case s: Str if fSig.size == 1 =>
                    val known = s.value.toLowerCase.filter("ism".contains(_))
                    if (known.isEmpty) "" else s"(?$known)"
                  case _ => throw new IllegalArgumentException(
                    s"$up parameters must be a literal string")
                }
              }
            out ++= lex("((")
            out ++= subj
            out ++= lex(s") RLIKE concat('$flags^(?:', ")
            out ++= pat
            out ++= lex(", ')$'))")
            i = close + 1
          } else if (up == "HLL") {
            // HLL(x[, y…]) → approx_count_distinct at rsd 0.02 (Snowflake
            // documents ~1.6% typical HLL error; Spark's default rsd of 5%
            // is looser than the contract users rely on). Multi-column
            // form hashes the tuple first.
            val argRanges = splitArgs(toks, open, close)
            out ++= lex("approx_count_distinct(")
            if (argRanges.length == 1) {
              out ++= rewriteFunctions(
                toks.slice(argRanges(0)._1, argRanges(0)._2))
            } else {
              out ++= lex("xxhash64(")
              argRanges.zipWithIndex.foreach { case ((a, b), k) =>
                if (k > 0) out += Op(",")
                out ++= rewriteFunctions(toks.slice(a, b))
              }
              out ++= lex(")")
            }
            out ++= lex(", 0.02)")
            i = close + 1
          } else if (up == "RTRIMMED_LENGTH") {
            out ++= lex("length(rtrim(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex("))")
            i = close + 1
          } else if (up == "ARRAY_COMPACT") {
            // drop SQL NULL elements (JSON 'null' text is NOT dropped by
            // Snowflake's ARRAY_COMPACT either — only SQL NULLs)
            out ++= lex("filter(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(", _ac -> _ac IS NOT NULL)")
            i = close + 1
          } else if (up == "CONDITIONAL_TRUE_EVENT") {
            // CONDITIONAL_TRUE_EVENT(cond) OVER (PARTITION BY … ORDER BY …)
            // → running count of rows where cond held:
            // SUM(IF(cond,1,0)) OVER (… ROWS UNBOUNDED PRECEDING..CURRENT).
            // Snowflake forbids explicit frames on this function, so the
            // injected frame never conflicts with user syntax.
            val arg = rewriteFunctions(toks.slice(open + 1, close))
            val overKw = nextSig(toks, close)
            require(overKw.exists(j => toks(j) match {
              case Ident(w) => w.equalsIgnoreCase("OVER"); case _ => false
            }), "CONDITIONAL_TRUE_EVENT requires an OVER clause")
            val afterOver = nextSig(toks, overKw.get).getOrElse(
              throw new IllegalArgumentException("OVER needs a window"))
            require(toks(afterOver) == Op("("),
              "CONDITIONAL_TRUE_EVENT requires an inline OVER (…) window")
            val overEnd = matchParen(toks, afterOver)
            out ++= lex("sum(if((")
            out ++= arg
            out ++= lex("), 1, 0)) OVER (")
            out ++= rewriteFunctions(toks.slice(afterOver + 1, overEnd))
            out ++= lex(" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
            i = overEnd + 1
          } else if (up == "REGEXP_COUNT") {
            // REGEXP_COUNT(s, p) → size(regexp_extract_all(s, p, 0))
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2,
              s"REGEXP_COUNT supports (subject, pattern); got ${argRanges.length}")
            out ++= lex("size(regexp_extract_all(")
            out ++= rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
            out += Op(",")
            out ++= rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2))
            out ++= lex(", 0))")
            i = close + 1
          } else if (up == "ARRAY_POSITION") {
            // Snowflake ARRAY_POSITION(elem, array): 0-based, NULL when
            // absent; Spark array_position(array, elem): 1-based, 0 when
            // absent — swap args, shift, map 0 → NULL
            val argRanges = splitArgs(toks, open, close)
            if (argRanges.length == 2) {
              out ++= lex("(nullif(array_position(")
              out ++= rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2))
              out += Op(",")
              out ++= rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
              out ++= lex("), 0) - 1)")
              i = close + 1
            } else { out += toks(i); i += 1 }
          } else if (up == "ARRAY_SLICE") {
            // Snowflake ARRAY_SLICE(arr, from, to): 0-based, to-exclusive;
            // Spark slice(arr, start, length): 1-based start
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 3, "ARRAY_SLICE needs 3 arguments")
            val Seq(arr, from, toArg) = argRanges.map(r =>
              rewriteFunctions(toks.slice(r._1, r._2)))
            out ++= lex("slice(")
            out ++= arr
            out ++= lex(", (")
            out ++= from
            out ++= lex(") + 1, (")
            out ++= toArg
            out ++= lex(") - (")
            out ++= from
            out ++= lex("))")
            i = close + 1
          } else if (up == "DAYOFWEEKISO") {
            // ISO day-of-week (Mon=1..Sun=7); Spark weekday is Mon=0
            out ++= lex("(weekday(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(") + 1)")
            i = close + 1
          } else if (up == "REGEXP_SUBSTR") {
            // Snowflake REGEXP_SUBSTR(subject, pattern[, …]) returns the
            // WHOLE match (NULL when none); Spark regexp_extract defaults to
            // group 1 and throws on group-less patterns — emit group 0 and
            // map no-match '' back to NULL.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2,
              s"REGEXP_SUBSTR supports (subject, pattern); got ${argRanges.length} args")
            out ++= lex("nullif(regexp_extract(")
            out ++= rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
            out += Op(",")
            out ++= rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2))
            out ++= lex(", 0), '')")
            i = close + 1
          } else if (up == "STRTOK_TO_ARRAY") {
            // Snowflake splits on ANY character of the (literal) delimiter
            // set and drops empty tokens; Spark split() takes a regex —
            // build a [..] character class and filter empties.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.nonEmpty && argRanges.length <= 2,
              "STRTOK_TO_ARRAY needs (string[, delimiters])")
            val delim: String =
              if (argRanges.length == 2) {
                val dToks = toks.slice(argRanges(1)._1, argRanges(1)._2)
                val sig = significant(dToks)
                dToks(sig.head) match {
                  case s: Str if sig.size == 1 => s.value
                  case _ => throw new IllegalArgumentException(
                    "STRTOK_TO_ARRAY requires a literal delimiter string")
                }
              } else " "
            val regexCls = "[" + delim.flatMap(c =>
              if (c.isLetterOrDigit || c == ' ') c.toString
              else "\\" + c) + "]"
            val sqlLit = "'" +
              regexCls.replace("\\", "\\\\").replace("'", "''") + "'"
            out ++= lex("filter(split(")
            out ++= rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
            out ++= lex(s", $sqlLit), x -> x <> '')")
            i = close + 1
          } else if ((up == "TRUNC" || up == "TRUNCATE") && {
              // Snowflake's date TRUNC takes the part as a BARE keyword —
              // TRUNC(d, month) — or a string literal — TRUNC(d, 'day').
              // Neither may fall into the numeric path (a bare `month`
              // would read as a column and emit floor(d * power(10,
              // month))), and neither may reach Spark's own trunc, which
              // NULLs out sub-month parts and demotes TIMESTAMP to DATE
              // (ADVICE r13 #1). Both route to the type-polymorphic
              // graft_trunc ([[graft.functions.SnowTrunc]]).
              val ar = splitArgs(toks, open, close)
              ar.length == 2 && {
                val a2 = toks.slice(ar(1)._1, ar(1)._2)
                val sg = significant(a2)
                sg.size == 1 && (a2(sg.head) match {
                  case Ident(w) => normalizeDatePart(w).isDefined
                  case s: Str => normalizeDatePart(s.value).isDefined
                  case _ => false
                })
              }
            }) {
            val ar = splitArgs(toks, open, close)
            val part = significant(toks.slice(ar(1)._1, ar(1)._2))
              .map(ix => toks.slice(ar(1)._1, ar(1)._2)(ix))
              .collectFirst {
                case Ident(w) => normalizeDatePart(w).get
                case s: Str => normalizeDatePart(s.value).get
              }.get
            out ++= lex("graft_trunc(")
            out ++= rewriteFunctions(toks.slice(ar(0)._1, ar(0)._2))
            out ++= lex(s", '$part')")
            i = close + 1
          } else if (up == "DATE_TRUNC" && {
              // Snowflake DATE_TRUNC(part, x) — part first, ident or
              // string, any alias spelling. Spark's date_trunc rejects
              // the aliases, promotes DATE → TIMESTAMP, and NULLs on
              // NANOSECOND; route through graft_trunc like TRUNC above.
              val ar = splitArgs(toks, open, close)
              ar.length == 2 && {
                val a1 = toks.slice(ar(0)._1, ar(0)._2)
                val sg = significant(a1)
                sg.size == 1 && (a1(sg.head) match {
                  case Ident(w) => normalizeDatePart(w).isDefined
                  case s: Str => normalizeDatePart(s.value).isDefined
                  case _ => false
                })
              }
            }) {
            val ar = splitArgs(toks, open, close)
            val part = significant(toks.slice(ar(0)._1, ar(0)._2))
              .map(ix => toks.slice(ar(0)._1, ar(0)._2)(ix))
              .collectFirst {
                case Ident(w) => normalizeDatePart(w).get
                case s: Str => normalizeDatePart(s.value).get
              }.get
            out ++= lex("graft_trunc(")
            out ++= rewriteFunctions(toks.slice(ar(1)._1, ar(1)._2))
            out ++= lex(s", '$part')")
            i = close + 1
          } else if ((up == "TRUNC" || up == "TRUNCATE") && {
              val ar = splitArgs(toks, open, close)
              // Dispatch the Snowflake overload at the token level: a
              // string-literal 2nd arg is the DATE form (Spark's own
              // trunc(date, fmt) handles it); one arg or a numeric 2nd
              // arg is numeric truncate-toward-zero, which Spark lacks.
              ar.length == 1 || (ar.length == 2 && {
                val a2 = toks.slice(ar(1)._1, ar(1)._2)
                val sg = significant(a2)
                !(sg.size == 1 && a2(sg.head).isInstanceOf[Str])
              })
            }) {
            // truncate toward zero (floor/ceil by sign; literal scales
            // stay in exact decimal arithmetic — TRUNC(0.29, 2) must be
            // 0.29). Lowered to the native single-evaluation function
            // [[graft.functions.SingleEval.numTrunc]]: x binds ONCE (the
            // previous CASE form spliced it 3× — round-13 directive #5).
            val ar = splitArgs(toks, open, close)
            out ++= lex("graft_ntrunc(")
            out ++= rewriteFunctions(toks.slice(ar(0)._1, ar(0)._2))
            if (ar.length == 2) {
              out += Op(",")
              out ++= rewriteFunctions(toks.slice(ar(1)._1, ar(1)._2))
            }
            out += Op(")")
            i = close + 1
          } else if (up == "SQUARE") {
            val inner = rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex("power((")
            out ++= inner
            out ++= lex("), 2)")
            i = close + 1
          } else if (up == "EXTRACT") {
            // EXTRACT(part FROM x): same part lowering as DATE_PART —
            // alias canonicalization, integer SECOND, 0-based DAYOFWEEK
            // (see lowerDatePart). The part may be bare or quoted.
            // Unrecognized parts (epoch_*) pass through verbatim.
            val inner = toks.slice(open + 1, close)
            val sig = significant(inner)
            val partWord: Option[String] = sig.headOption.flatMap { ix =>
              inner(ix) match {
                case Ident(w) => Some(w)
                case s: Str => Some(s.value)
                case _ => None
              }
            }
            val fromIx: Option[Int] = sig.drop(1).headOption.filter { ix =>
              inner(ix) match {
                case Ident(w) => w.equalsIgnoreCase("FROM")
                case _ => false
              }
            }
            val lowered = (partWord, fromIx) match {
              case (Some(w), Some(fi)) =>
                lowerDatePart(w, rewriteFunctions(inner.drop(fi + 1)))
              case _ => None
            }
            lowered match {
              case Some(ts) => out ++= ts
              case None =>
                out ++= lex("EXTRACT(")
                out ++= rewriteFunctions(inner)
                out ++= lex(")")
            }
            i = close + 1
          } else if ((up == "TRIM" || up == "LTRIM" || up == "RTRIM") &&
              splitArgs(toks, open, close).length == 2) {
            // Snowflake TRIM(s, chars) strips any char in the SET from the
            // end(s); Spark's function forms are 1-arg whitespace-only —
            // the set variant only exists as TRIM(BOTH|LEADING|TRAILING
            // chars FROM s) syntax.
            val argRanges = splitArgs(toks, open, close)
            val mode = up match {
              case "TRIM" => "BOTH"
              case "LTRIM" => "LEADING"
              case _ => "TRAILING"
            }
            out ++= lex(s"TRIM($mode ")
            out ++= rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))
            out ++= lex(" FROM ")
            out ++= rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            out ++= lex(")")
            i = close + 1
          } else if (up == "SPLIT_PART" &&
              splitArgs(toks, open, close).length == 3) {
            // Snowflake treats part 0 as part 1; Spark's split_part
            // throws on 0. Native single-evaluation lowering
            // ([[graft.functions.SingleEval.splitPart]]): the part
            // expression binds ONCE (was spliced twice — r13 dir. #5).
            val argRanges = splitArgs(toks, open, close)
            out ++= lex("graft_split_part(")
            out ++= rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            out += Op(",")
            out ++= rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))
            out += Op(",")
            out ++= rewriteFunctions(
              toks.slice(argRanges(2)._1, argRanges(2)._2))
            out += Op(")")
            i = close + 1
          } else if (up == "DAYNAME" || up == "MONTHNAME") {
            val fmt = if (up == "DAYNAME") "EEE" else "MMM"
            out ++= lex("date_format(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(s", '$fmt')")
            i = close + 1
          } else if (up == "ARRAY_CONTAINS") {
            // Snowflake arg order is (value, array); Spark's is (array, value)
            val argRanges = splitArgs(toks, open, close)
            if (argRanges.length == 2) {
              out ++= lex("array_contains(")
              out ++= rewriteFunctions(
                toks.slice(argRanges(1)._1, argRanges(1)._2))
              out += Op(",")
              out ++= rewriteFunctions(
                toks.slice(argRanges(0)._1, argRanges(0)._2))
              out += Op(")")
              i = close + 1
            } else { out += toks(i); i += 1 }
          } else if (unitFns.contains(up)) {
            // DATEADD/DATEDIFF/DATE_PART: Snowflake takes the unit as a
            // keyword OR a quoted string; Spark's timestampadd/-diff wants
            // a bare keyword, date_part wants a string literal.
            val mapped = unitFns(up)
            val argRanges = splitArgs(toks, open, close)
            // Unit word when the first arg is a single bare/quoted token.
            val unitWord: Option[String] = argRanges.headOption.flatMap {
              case (a, b) =>
                val argToks = toks.slice(a, b)
                val sig = significant(argToks)
                if (sig.size != 1) None
                else argToks(sig.head) match {
                  case Ident(w) => Some(w)
                  case s: Str => Some(s.value)
                  case _ => None
                }
            }
            val canon = unitWord.flatMap(normalizeDatePart)
            val partLowered: Option[Vector[Tok]] =
              if (mapped == "date_part" && argRanges.length == 2 &&
                  unitWord.isDefined)
                lowerDatePart(unitWord.get, rewriteFunctions(
                  toks.slice(argRanges(1)._1, argRanges(1)._2)))
              else None
            if (partLowered.isDefined) {
              out ++= partLowered.get
              i = close + 1
            } else if (mapped == "timestampdiff" && argRanges.length == 3 &&
                canon.isDefined) {
              out ++= dateDiffBoundary(canon.get,
                rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2)),
                rewriteFunctions(toks.slice(argRanges(2)._1, argRanges(2)._2)))
              i = close + 1
            } else {
              out += Ident(mapped)
              out += Op("(")
              argRanges.zipWithIndex.foreach { case ((a, b), idx) =>
                if (idx > 0) out += Op(",") // arg slices keep their own spacing
                val argToks = toks.slice(a, b)
                val sig = significant(argToks)
                if (idx == 0 && sig.size == 1) (argToks(sig.head), mapped) match {
                  case (s: Str, "timestampadd" | "timestampdiff") =>
                    // unquote ('day' → day), canonicalizing alias spellings
                    out += Ident(normalizeDatePart(s.value).getOrElse(s.value))
                  case (Ident(w), "timestampadd" | "timestampdiff") =>
                    out += Ident(normalizeDatePart(w).getOrElse(w))
                  case (Ident(w), "date_part") =>
                    out += Str(s"'$w'") // quote: year → 'year'
                  case _ => out ++= rewriteFunctions(argToks)
                } else out ++= rewriteFunctions(argToks)
              }
              out += Op(")")
              i = close + 1
            }
          } else if (up == "EQUAL_NULL") {
            // EQUAL_NULL(a, b) → ((a) <=> (b)) — null-safe equality
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, "EQUAL_NULL needs 2 arguments")
            out ++= lex("((")
            out ++= rewriteFunctions(toks.slice(argRanges(0)._1, argRanges(0)._2))
            out ++= lex(") <=> (")
            out ++= rewriteFunctions(toks.slice(argRanges(1)._1, argRanges(1)._2))
            out ++= lex("))")
            i = close + 1
          } else if (up == "BASE64_DECODE_STRING" || up == "TRY_BASE64_DECODE_STRING" ||
              up == "HEX_DECODE_STRING" || up == "TRY_HEX_DECODE_STRING") {
            // *_DECODE_STRING(s) → CAST(un{base64,hex}(s) AS STRING); Spark's
            // decoders already yield NULL on malformed input, matching TRY_
            val fn = if (up.contains("BASE64")) "unbase64" else "unhex"
            out ++= lex(s"CAST($fn(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(") AS STRING)")
            i = close + 1
          } else if (up == "JSON_EXTRACT_PATH_TEXT" || up == "GET_PATH") {
            // (variant, 'a.b') → get_json_object(variant, '$.a.b');
            // VARIANT is JSON text in this engine (§1.2). Literal path only —
            // the token layer has no type info for the general case.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, s"$up needs 2 arguments")
            val pToks = toks.slice(argRanges(1)._1, argRanges(1)._2)
            val pSig = significant(pToks)
            pToks(pSig.head) match {
              case s: Str if pSig.size == 1 =>
                out ++= lex("get_json_object(")
                out ++= rewriteFunctions(
                  toks.slice(argRanges(0)._1, argRanges(0)._2))
                out ++= lex(s", '$$.${s.value.replace("'", "''")}')")
              case _ => throw new IllegalArgumentException(
                s"$up requires a literal path string")
            }
            i = close + 1
          } else if (up == "STRIP_NULL_VALUE") {
            // JSON null → SQL NULL over JSON-text VARIANT
            out ++= lex("nullif(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(", 'null')")
            i = close + 1
          } else if (up == "TYPEOF") {
            // TYPEOF over JSON-text VARIANT: classify by JSON syntax. The
            // engine stores VARIANT as JSON text (reference parity, §1.2),
            // so the type IS the JSON surface form.
            val v = render(rewriteFunctions(toks.slice(open + 1, close)))
            out ++= lex(s"""CASE
              WHEN ($v) IS NULL THEN NULL
              WHEN ($v) = 'null' THEN 'NULL_VALUE'
              WHEN left($v, 1) = '{' THEN 'OBJECT'
              WHEN left($v, 1) = '[' THEN 'ARRAY'
              WHEN left($v, 1) = '"' THEN 'VARCHAR'
              WHEN lower($v) IN ('true', 'false') THEN 'BOOLEAN'
              WHEN ($v) RLIKE '^-?[0-9]+$$' THEN 'INTEGER'
              WHEN ($v) RLIKE '^-?[0-9]*\\\\.[0-9]+([eE][+-]?[0-9]+)?$$' THEN 'DECIMAL'
              ELSE 'VARCHAR' END""")
            i = close + 1
          } else if (up == "OBJECT_AGG") {
            // OBJECT_AGG(k, v) → JSON-text object with sorted keys (VARIANT
            // is JSON text here; sorting makes the aggregate deterministic
            // at any parallelism — Snowflake's own key order is undefined)
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, "OBJECT_AGG needs 2 arguments")
            val k = render(rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2)))
            val v = render(rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2)))
            out ++= lex(s"to_json(map_from_entries(array_sort(" +
              s"collect_list(struct(($k) AS key, ($v) AS value)))))")
            i = close + 1
          } else if (up == "GREATEST" || up == "LEAST") {
            // Snowflake GREATEST/LEAST return NULL when ANY argument is
            // NULL; Spark's skip NULLs — wrap with an any-null guard
            val argRanges = splitArgs(toks, open, close)
            if (argRanges.length >= 2) {
              val args = argRanges.map(r => render(rewriteFunctions(
                toks.slice(r._1, r._2))).trim)
              val guard = args.map(a => s"($a) IS NULL").mkString(" OR ")
              out ++= lex(s"CASE WHEN $guard THEN NULL ELSE " +
                s"${up.toLowerCase}(${args.mkString(", ")}) END")
              i = close + 1
            } else { out += toks(i); i += 1 }
          } else if (up == "INSERT") {
            // string INSERT(base, pos, len, repl) → overlay(base, repl, pos, len)
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 4, "INSERT needs 4 arguments")
            val Seq(base, pos, len, repl) = argRanges.map(r =>
              rewriteFunctions(toks.slice(r._1, r._2)))
            out ++= lex("overlay(")
            out ++= base; out += Op(",")
            out ++= repl; out += Op(",")
            out ++= pos; out += Op(",")
            out ++= len
            out += Op(")")
            i = close + 1
          } else if ((up == "ARRAY_AGG" || up == "ARRAYAGG" ||
              up == "LISTAGG") && {
              // only the ordered-set form: fn(…) WITHIN GROUP (…)
              nextSig(toks, close).exists(j => toks(j) match {
                case Ident(w) => w.equalsIgnoreCase("WITHIN"); case _ => false })
            }) {
            // ARRAY_AGG(x) WITHIN GROUP (ORDER BY k1 [, k2…] [ASC|DESC])
            // → transform(array_sort(collect_list(struct(k…, x))), s -> s.v)
            // (+ reverse for DESC) — Spark's collect_list has no WITHIN
            // GROUP; struct ordering compares fields left-to-right, so
            // sorting the (keys…, value) struct reproduces the ordered
            // aggregate deterministically at any parallelism.
            // LISTAGG(x [, d]) WITHIN GROUP (…) lowers through the SAME
            // shape + array_join — deliberately NOT Spark's native
            // `listagg … WITHIN GROUP`: its ListAgg node breaks when the
            // query also carries a DISTINCT aggregate
            // (RewriteDistinctAggregates patches children through
            // withNewChildren and loses the SortOrder wrapper —
            // ClassCastException; found by AggFuzzSpec). array_join also
            // matches LISTAGG's skip-NULLs contract.
            val withinIdx = nextSig(toks, close).get
            val groupKw = nextSig(toks, withinIdx).getOrElse(
              throw new IllegalArgumentException("WITHIN needs GROUP"))
            require(toks(groupKw).text.equalsIgnoreCase("GROUP"),
              "WITHIN must be followed by GROUP")
            val wgOpen = nextSig(toks, groupKw).getOrElse(
              throw new IllegalArgumentException("WITHIN GROUP needs (…)"))
            require(toks(wgOpen) == Op("("), "WITHIN GROUP needs (…)")
            val wgClose = matchParen(toks, wgOpen)
            val wgInner = toks.slice(wgOpen + 1, wgClose)
            val wgSig = significant(wgInner)
            require(wgSig.length >= 3 &&
              wgInner(wgSig(0)).text.equalsIgnoreCase("ORDER") &&
              wgInner(wgSig(1)).text.equalsIgnoreCase("BY"),
              "WITHIN GROUP supports (ORDER BY …)")
            val keyToks = wgInner.slice(wgSig(1) + 1, wgInner.length)
            // Snowflake direction and NULLS are PER KEY (`ORDER BY a,
            // b DESC` sorts a ascending) — split on top-level commas
            // FIRST, then strip each item's trailing NULLS FIRST/LAST
            // and ASC/DESC. nullsLast default follows the Snowflake
            // nulls-highest rule (ASC → last, DESC → first) unless
            // explicit.
            case class WgKey(sql: String, desc: Boolean, nullsLast: Boolean)
            val keyRanges = splitTop(keyToks, 0, keyToks.length)(_ == Op(","))
            val keys: Seq[WgKey] = keyRanges.map { r =>
              var p = keyToks.slice(r._1, r._2)
              def lastIs(w: String): Boolean =
                significant(p).lastOption.exists(j => isKw(p(j), w))
              def dropLast(): Unit = { p = p.take(significant(p).last) }
              // FIRST/LAST is only the NULLS modifier when the token
              // before it IS the word NULLS — a sort key that is a
              // column literally named `first` or `last` (ORDER BY
              // last) must stay part of the key expression
              // (ADVICE r13 #2)
              def secondLastIs(w: String): Boolean =
                significant(p).dropRight(1).lastOption.exists(j => isKw(p(j), w))
              var explicitNulls: Option[Boolean] = None // Some(nullsLast)
              if ((lastIs("FIRST") || lastIs("LAST")) &&
                  secondLastIs("NULLS")) {
                val isLast = lastIs("LAST")
                dropLast(); dropLast()
                explicitNulls = Some(isLast)
              }
              var desc = false
              if (lastIs("DESC")) { desc = true; dropLast() }
              else if (lastIs("ASC")) dropLast()
              WgKey(render(rewriteFunctions(p)).trim, desc,
                explicitNulls.getOrElse(!desc))
            }
            // fast struct-sort path when one whole-list direction with
            // default null policy expresses the order; comparator path
            // otherwise (mixed directions / explicit NULLS)
            val allAscDefault = keys.forall(k => !k.desc && k.nullsLast)
            val allDescDefault = keys.forall(k => k.desc && !k.nullsLast)
            val desc = allDescDefault
            val allArgToks = toks.slice(open + 1, close)
            // LISTAGG carries an optional second (delimiter) argument —
            // split it off before the shared ordered-collect lowering
            val (argToks, delimSql) =
              if (up == "LISTAGG") {
                val ranges = splitArgs(toks, open, close)
                require(ranges.nonEmpty && ranges.length <= 2,
                  "LISTAGG needs (expr [, delimiter])")
                val d = if (ranges.length == 2)
                  render(rewriteFunctions(
                    toks.slice(ranges(1)._1, ranges(1)._2))).trim
                else "''"
                (toks.slice(ranges(0)._1, ranges(0)._2), d)
              } else (allArgToks, "")
            val argSig = significant(argToks)
            val isDistinct = argSig.nonEmpty && (argToks(argSig.head) match {
              case Ident(w) => w.equalsIgnoreCase("DISTINCT"); case _ => false })
            val arrSql = if (isDistinct) {
              val expr = render(rewriteFunctions(
                argToks.drop(argSig.head + 1))).trim
              require(keys.map(_.sql) == Seq(expr),
                s"$up(DISTINCT x) WITHIN GROUP supports ORDER BY x only")
              // collect_set drops NULLs, so the null policy is moot here
              val sorted = s"array_sort(collect_set(($expr)))"
              if (keys.head.desc) s"reverse($sorted)" else sorted
            } else {
              val expr = render(rewriteFunctions(argToks)).trim
              // each key carries an IS NULL flag field ahead of it:
              // struct comparison puts false < true, so NULL keys sort
              // AFTER non-null ascending — Snowflake's nulls-highest
              // default (ASC → NULLS LAST; the DESC reverse then puts
              // them FIRST, also Snowflake's default). Spark's bare
              // struct sort would put null fields lowest in both.
              val fields = keys.zipWithIndex
                .map { case (k, x) =>
                  s"((${k.sql}) IS NULL) AS __n$x, (${k.sql}) AS __o$x" }
                .mkString(", ")
              val collected = s"collect_list(struct($fields, ($expr) AS __v))"
              if (allAscDefault || allDescDefault) {
                val sorted = s"array_sort($collected)"
                val picked = s"transform($sorted, __s -> __s.__v)"
                if (desc) s"reverse($picked)" else picked
              } else {
                // mixed per-key directions / explicit NULLS: array_sort
                // with a comparator lambda — per key, d = ±1 encodes the
                // direction and n = ±1 the null policy (null compares as
                // if largest when NULLS LAST ⇒ +1 on the left side)
                // equal keys tie-break on the value itself — the same
                // determinism the struct-sort fast path gets from its
                // trailing __v field
                val vTie = "(CASE WHEN __l.__v IS NULL AND __r.__v IS NULL " +
                  "THEN 0 WHEN __l.__v IS NULL THEN 1 " +
                  "WHEN __r.__v IS NULL THEN -1 " +
                  "WHEN __l.__v < __r.__v THEN -1 " +
                  "WHEN __l.__v > __r.__v THEN 1 ELSE 0 END)"
                val cmp = keys.zipWithIndex.foldRight(vTie) {
                  case ((k, x), tie) =>
                    val d = if (k.desc) -1 else 1
                    val n = if (k.nullsLast) 1 else -1
                    s"(CASE WHEN __l.__n$x AND __r.__n$x THEN $tie " +
                      s"WHEN __l.__n$x THEN $n " +
                      s"WHEN __r.__n$x THEN ${-n} " +
                      s"WHEN __l.__o$x < __r.__o$x THEN ${-d} " +
                      s"WHEN __l.__o$x > __r.__o$x THEN $d " +
                      s"ELSE $tie END)"
                }
                val sorted = s"array_sort($collected, (__l, __r) -> $cmp)"
                s"transform($sorted, __s -> __s.__v)"
              }
            }
            // LISTAGG stringifies AFTER the natural-type sort (casting
            // first would order numbers lexicographically)
            out ++= lex(
              if (up == "LISTAGG")
                s"array_join(transform($arrSql, " +
                s"__x -> CAST(__x AS STRING)), $delimSql)"
              else arrSql)
            i = wgClose + 1
          } else if (up == "MINHASH") {
            // MINHASH(k, x): aggregate MinHash state — k min-aggregations
            // over per-seed hashes derived from x's 64-bit base hash (the
            // same derivation MinHashSig uses per-row). State is
            // array<bigint>; Snowflake's opaque VARIANT state is not
            // value-compatible (documented divergence), the
            // combine/estimate contract is.
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, "MINHASH needs (k, expr)")
            val kToks = toks.slice(argRanges(0)._1, argRanges(0)._2)
            val kSig = significant(kToks)
            val k = kToks(kSig.head) match {
              case Num(n) if kSig.size == 1 && n.matches("\\d+") &&
                  n.toInt >= 2 && n.toInt <= 1024 => n.toInt
              case _ => throw new IllegalArgumentException(
                "MINHASH k must be a literal integer in [2, 1024]")
            }
            val x = render(rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))).trim
            val mins = (0 until k)
              .map(s => s"min(xxhash64(($x), $s))").mkString(", ")
            out ++= lex(s"array($mins)")
            i = close + 1
          } else if (up == "MINHASH_COMBINE") {
            // elementwise min across MinHash states (k-agnostic fold)
            val mh = render(rewriteFunctions(toks.slice(open + 1, close))).trim
            out ++= lex(
              s"REDUCE(collect_list(($mh)), CAST(NULL AS ARRAY<BIGINT>), " +
              s"(__mc, __mx) -> CASE WHEN __mc IS NULL THEN __mx ELSE " +
              s"zip_with(__mc, __mx, (__ma, __mb) -> least(__ma, __mb)) END)")
            i = close + 1
          } else if (up == "APPROXIMATE_JACCARD_INDEX" ||
              up == "APPROXIMATE_SIMILARITY") {
            // estimated Jaccard across the group's MinHash states:
            // fraction of positions where every state agrees — positions
            // where the elementwise min equals the elementwise max
            val mh = render(rewriteFunctions(toks.slice(open + 1, close))).trim
            def fold(f: String, a: String, b: String, acc: String, x: String) =
              s"REDUCE(collect_list(($mh)), CAST(NULL AS ARRAY<BIGINT>), " +
              s"($acc, $x) -> CASE WHEN $acc IS NULL THEN $x ELSE " +
              s"zip_with($acc, $x, ($a, $b) -> $f($a, $b)) END)"
            val mins = fold("least", "__ia", "__ib", "__ic", "__ix")
            val maxs = fold("greatest", "__xa", "__xb", "__xc", "__xx")
            out ++= lex(
              s"(size(filter(zip_with($mins, $maxs, " +
              s"(__ea, __eb) -> __ea = __eb), __ep -> __ep)) / " +
              s"CAST(size($mins) AS DOUBLE))")
            i = close + 1
          } else if (up == "PREVIOUS_DAY") {
            // most recent <dow> strictly BEFORE d: next_day is strictly
            // after, so next_day(d-1) is the first <dow> ≥ d; minus 7
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 2, "PREVIOUS_DAY needs 2 arguments")
            val d = rewriteFunctions(
              toks.slice(argRanges(0)._1, argRanges(0)._2))
            val dow = rewriteFunctions(
              toks.slice(argRanges(1)._1, argRanges(1)._2))
            out ++= lex("date_sub(next_day(date_sub(")
            out ++= d
            out ++= lex(", 1), ")
            out ++= dow
            out ++= lex("), 7)")
            i = close + 1
          } else if (up == "DAYOFWEEK") {
            // Snowflake (WEEK_START 0 default): Sunday=0..Saturday=6;
            // Spark: Sunday=1..Saturday=7
            out ++= lex("(dayofweek(")
            out ++= rewriteFunctions(toks.slice(open + 1, close))
            out ++= lex(") - 1)")
            i = close + 1
          } else if (up == "YEAROFWEEKISO") {
            // ISO week-year = calendar year of that ISO week's Thursday;
            // weekday() is Monday=0, so d + (3 - weekday) lands on Thursday
            val d = render(rewriteFunctions(toks.slice(open + 1, close)))
            out ++= lex(
              s"year(date_add(CAST(($d) AS DATE), 3 - weekday($d)))")
            i = close + 1
          } else if (up == "HAVERSINE") {
            // HAVERSINE(lat1, lon1, lat2, lon2) → great-circle km formula
            val argRanges = splitArgs(toks, open, close)
            require(argRanges.length == 4, "HAVERSINE needs 4 arguments")
            val Seq(lat1, lon1, lat2, lon2) = argRanges.map(r =>
              render(rewriteFunctions(toks.slice(r._1, r._2))).trim)
            out ++= lex(s"(2 * 6371 * asin(sqrt(" +
              s"power(sin(radians(($lat2) - ($lat1)) / 2), 2) + " +
              s"cos(radians($lat1)) * cos(radians($lat2)) * " +
              s"power(sin(radians(($lon2) - ($lon1)) / 2), 2))))")
            i = close + 1
          } else if (up == "POSITION" &&
              // top-level IN between the parens (not inside a nested call)
              topKeyword(toks.slice(open + 1, close), "IN") >= 0) {
            // SQL-standard POSITION(needle IN haystack) parses natively in
            // Spark; only the comma-argument Snowflake form needs LOCATE.
            out += toks(i); i += 1
          } else if (fnRename.contains(up)) {
            out += Ident(fnRename(up).toLowerCase)
            i = i + 1 // keep the original '(' and args; recursion continues
          } else {
            out += toks(i); i += 1
          }
        // paren-less ANSI forms: Snowflake accepts bare LOCALTIMESTAMP /
        // LOCALTIME; Spark only resolves the CURRENT_* keywords bare.
        // Session timezone is the local zone, so the values coincide.
        case Ident(w) if w.equalsIgnoreCase("LOCALTIMESTAMP") =>
          out += Ident("current_timestamp"); i += 1
        case Ident(w) if w.equalsIgnoreCase("LOCALTIME") =>
          out += Ident("current_timestamp"); i += 1
        case t => out += t; i += 1
      }
    }
    out.toVector
  }
}
