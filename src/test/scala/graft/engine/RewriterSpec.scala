package graft.engine

import org.scalatest.funsuite.AnyFunSuite

class RewriterSpec extends AnyFunSuite {
  private def rw(s: String) = SnowflakeRewriter.rewrite(s)
    .replaceAll("\\s+", " ").trim

  test("colon-colon cast of a column") {
    assert(rw("SELECT a::int FROM t") == "SELECT CAST(a AS INT) FROM t")
  }

  test("VALUES inline tables name their columns COLUMN1..n") {
    assert(rw("SELECT column1 FROM (VALUES (1, 'a'), (2, 'b'))") ==
      "SELECT column1 FROM (SELECT col1 AS COLUMN1, col2 AS COLUMN2 " +
        "FROM VALUES (1, 'a'), (2, 'b'))")
    // unparenthesized: wrapped, so an alias binds to the projection
    assert(rw("SELECT v.column2 FROM VALUES (1, 2) v") ==
      "SELECT v.column2 FROM (SELECT col1 AS COLUMN1, col2 AS COLUMN2 " +
        "FROM VALUES (1, 2)) v")
    // an alias column list still renames positionally
    assert(rw("SELECT k FROM (VALUES (1), (2)) AS s(k) JOIN t ON t.k = s.k") ==
      "SELECT k FROM (SELECT col1 AS COLUMN1 FROM VALUES (1), (2)) " +
        "AS s(k) JOIN t ON t.k = s.k")
    // INSERT … VALUES is not an inline table
    assert(rw("INSERT INTO t VALUES (1, 2)") == "INSERT INTO t VALUES (1, 2)")
  }

  test("cast of qualified column and literal") {
    assert(rw("SELECT t.a::bigint, '1'::number(10,2) FROM t") ==
      "SELECT CAST(t.a AS BIGINT), CAST('1' AS DECIMAL(10,2)) FROM t")
  }

  test("cast of parenthesized expression") {
    assert(rw("SELECT (a + b)::double FROM t") ==
      "SELECT CAST((a + b) AS DOUBLE) FROM t")
  }

  test("cast of subquery keeps inner whitespace") {
    assert(rw("SELECT (SELECT max(x) FROM t)::int") ==
      "SELECT CAST((SELECT max(x) FROM t) AS INT)")
  }

  test("cast of function call") {
    assert(rw("SELECT sum(x)::varchar FROM t") ==
      "SELECT CAST(sum(x) AS STRING) FROM t")
  }

  test("snowflake type names inside CAST") {
    assert(rw("SELECT CAST(a AS NUMBER(38,0)) FROM t") ==
      "SELECT CAST(a AS DECIMAL(38,0)) FROM t")
    assert(rw("SELECT CAST(a AS VARIANT) FROM t") ==
      "SELECT CAST(a AS STRING) FROM t")
    assert(rw("SELECT CAST(a AS TIMESTAMP_LTZ) FROM t") ==
      "SELECT CAST(a AS TIMESTAMP) FROM t")
    assert(rw("SELECT CAST(a AS BYTEINT) FROM t") ==
      "SELECT CAST(a AS TINYINT) FROM t")
  }

  test("AS in alias position is not a type") {
    assert(rw("SELECT a AS TEXT FROM t") == "SELECT a AS TEXT FROM t")
  }

  test("variant colon path access") {
    assert(rw("SELECT props:k FROM events") ==
      "SELECT get_json_object(props, '$.k') FROM events")
    assert(rw("SELECT v:a.b FROM t") ==
      "SELECT get_json_object(v, '$.a.b') FROM t")
  }

  test("variant path with cast") {
    assert(rw("SELECT props:k::int FROM events") ==
      "SELECT CAST(get_json_object(props, '$.k') AS INT) FROM events")
  }

  test("variant path with consecutive subscripts") {
    // v:a[1][0] — nested array indexing folds into ONE json path (the
    // 13th fuzz family caught the second subscript leaking to Spark's
    // complex-type extractor, which cannot subscript a STRING)
    assert(rw("SELECT v:a[1][0] FROM t") ==
      "SELECT get_json_object(v, '$.a[1][0]') FROM t")
    assert(rw("SELECT v:a[1][0].b FROM t") ==
      "SELECT get_json_object(v, '$.a[1][0].b') FROM t")
  }

  test("variant path with quoted key") {
    assert(rw("SELECT v:'my key' FROM t") ==
      "SELECT get_json_object(v, '$['my key']') FROM t")
  }

  test("PARSE_JSON passes through") {
    assert(rw("SELECT PARSE_JSON('{\"k\":1}') FROM t") ==
      "SELECT ('{\"k\":1}') FROM t")
  }

  test("PARSE_JSON with path and cast") {
    assert(rw("SELECT PARSE_JSON(s):k::int FROM t") ==
      "SELECT CAST(get_json_object((s), '$.k') AS INT) FROM t")
  }

  test("ARRAY_CONSTRUCT and OBJECT_CONSTRUCT rename") {
    assert(rw("SELECT ARRAY_CONSTRUCT(1,2,3)") == "SELECT array(1,2,3)")
    assert(rw("SELECT OBJECT_CONSTRUCT('a', 1)") ==
      "SELECT named_struct('a', 1)")
  }

  test("IFF renames to IF") {
    assert(rw("SELECT IFF(a > 1, 'x', 'y') FROM t") ==
      "SELECT if(a > 1, 'x', 'y') FROM t")
  }

  test("table(to_query()) unwraps to inline subquery") {
    assert(rw("SELECT * FROM table(to_query('SELECT 1 AS x'))") ==
      "SELECT * FROM (SELECT 1 AS x)")
  }

  test("table(fn(x)) unwraps to fn(x)") {
    assert(rw("SELECT * FROM table(generate_series(1, 3))") ==
      "SELECT * FROM generate_series(1, 3)")
  }

  test("datetime format token translation") {
    assert(SnowflakeRewriter.translateDatetimeFormat("YYYY-MM-DD") == "yyyy-MM-dd")
    assert(SnowflakeRewriter.translateDatetimeFormat("YYYY-MM-DD HH24:MI:SS.FF3") ==
      "yyyy-MM-dd HH:mm:ss.SSS")
    assert(SnowflakeRewriter.translateDatetimeFormat("DD/MON/YYYY") == "dd/MMM/yyyy")
  }

  test("TO_TIMESTAMP with format translates tokens") {
    assert(rw("SELECT TO_TIMESTAMP('2024-01-02', 'YYYY-MM-DD')") ==
      "SELECT to_timestamp('2024-01-02', 'yyyy-MM-dd')")
  }

  test("TO_CHAR with format becomes date_format") {
    assert(rw("SELECT TO_CHAR(ts, 'YYYY-MM') FROM t") ==
      "SELECT date_format(ts, 'yyyy-MM') FROM t")
  }

  test("TO_CHAR single arg becomes cast to string") {
    assert(rw("SELECT TO_CHAR(x) FROM t") ==
      "SELECT CAST(x AS STRING) FROM t")
  }

  test("DATEADD maps to timestampadd") {
    assert(rw("SELECT DATEADD(day, 3, ts) FROM t") ==
      "SELECT timestampadd(day, 3, ts) FROM t")
  }

  test("DATEADD with quoted unit unquotes it") {
    assert(rw("SELECT DATEADD('day', 3, ts) FROM t") ==
      "SELECT timestampadd(day, 3, ts) FROM t")
  }

  test("DATEADD alias units canonicalize") {
    assert(rw("SELECT DATEADD(yy, 1, ts) FROM t") ==
      "SELECT timestampadd(year, 1, ts) FROM t")
    assert(rw("SELECT DATEADD('mons', 2, ts) FROM t") ==
      "SELECT timestampadd(month, 2, ts) FROM t")
  }

  test("DATEDIFF lowers to a boundary count per part") {
    // Snowflake/DuckDB DATEDIFF counts part boundaries crossed, not
    // complete intervals (Spark timestampdiff semantics) — see
    // SnowflakeRewriter.dateDiffBoundary.
    val hour = rw("SELECT DATEDIFF('hour', a, b) FROM t")
    assert(hour.contains("timestampdiff(HOUR, date_trunc('HOUR'"), hour)
    val year = rw("SELECT DATEDIFF(year, a, b) FROM t")
    assert(year.contains("year(") && year.contains("AS BIGINT"), year)
    val day = rw("SELECT DATEDIFF(dd, a, b) FROM t")
    assert(day.contains("datediff(") && day.contains("AS DATE"), day)
    val week = rw("SELECT DATEDIFF(wk, a, b) FROM t")
    assert(week.contains("date_trunc('WEEK'") && week.contains("div 7"),
      week)
  }

  test("DATE_PART bare unit becomes a string literal") {
    assert(rw("SELECT DATE_PART(year, ts) FROM t") ==
      "SELECT date_part('year', ts) FROM t")
    assert(rw("SELECT DATE_PART('month', ts) FROM t") ==
      "SELECT date_part('month', ts) FROM t")
  }

  test("TO_NUMBER family becomes casts") {
    assert(rw("SELECT TO_NUMBER(x, 10, 2) FROM t") ==
      "SELECT CAST(x AS DECIMAL(10,2)) FROM t")
    assert(rw("SELECT TO_NUMBER(x) FROM t") ==
      "SELECT CAST(x AS DECIMAL(38,0)) FROM t")
    assert(rw("SELECT TRY_TO_NUMBER(x, 5, 1) FROM t") ==
      "SELECT try_cast(x AS DECIMAL(5,1)) FROM t")
    assert(rw("SELECT TO_BOOLEAN(x) FROM t") ==
      "SELECT CAST(x AS BOOLEAN) FROM t")
    assert(rw("SELECT TRY_TO_DOUBLE(x) FROM t") ==
      "SELECT try_cast(x AS DOUBLE) FROM t")
  }

  test("DECODE becomes null-safe CASE") {
    val out = rw("SELECT DECODE(x, 1, 'a', 2, 'b', 'z') FROM t")
    assert(out.contains("CASE WHEN (x) <=> ( 1) THEN 'a'"))
    assert(out.contains("WHEN (x) <=> ( 2) THEN 'b'"))
    assert(out.contains("ELSE 'z' END"))
  }

  test("DAYNAME / MONTHNAME become date_format") {
    assert(rw("SELECT DAYNAME(d) FROM t") ==
      "SELECT date_format(d, 'EEE') FROM t")
    assert(rw("SELECT MONTHNAME(d) FROM t") ==
      "SELECT date_format(d, 'MMM') FROM t")
  }

  test("bitwise, square, and agg-variant renames") {
    assert(rw("SELECT BITAND(a, b) FROM t").replaceAll("\\s+", "") ==
      "SELECT((a)&(b))FROMt".replaceAll("\\s+", ""))
    assert(rw("SELECT BITXOR(a, 3) FROM t").contains("^"))
    assert(rw("SELECT SQUARE(x + 1) FROM t").replaceAll("\\s+", "") ==
      "SELECTpower((x+1),2)FROMt")
    assert(rw("SELECT VARIANCE_POP(x), BOOLOR_AGG(f) FROM t") ==
      "SELECT var_pop(x), bool_or(f) FROM t")
    assert(rw("SELECT BITSHIFTLEFT(x, 2) FROM t") ==
      "SELECT shiftleft(x, 2) FROM t")
  }

  test("SELECT TOP n becomes LIMIT, including subqueries") {
    assert(rw("SELECT TOP 5 a FROM t ORDER BY a") ==
      "SELECT a FROM t ORDER BY a NULLS LAST LIMIT 5")
    assert(rw("SELECT x FROM (SELECT TOP 3 x FROM t ORDER BY x) s") ==
      "SELECT x FROM (SELECT x FROM t ORDER BY x NULLS LAST LIMIT 3) s")
    // TOP as a column name is untouched
    assert(rw("SELECT top FROM t") == "SELECT top FROM t")
  }

  test("GENERATOR and SEQ4 map to range/id") {
    val out = rw("SELECT seq4() AS s FROM TABLE(GENERATOR(ROWCOUNT => 10))")
    assert(out.replaceAll("\\s+", " ").trim ==
      "SELECT id AS s FROM range(10)")
  }

  test("SPLIT_TO_TABLE becomes lateral inline with 1-based index") {
    val out = rw("SELECT f.value FROM t, LATERAL SPLIT_TO_TABLE(s, ',') f")
    assert(out.contains("LATERAL VIEW inline(transform(split((s), concat('\\\\Q', (','), '\\\\E'))"))
    assert(out.contains("'index', i + 1"))
    assert(!out.contains("SPLIT_TO_TABLE"))
  }

  test("ARRAY_CONTAINS swaps to Spark arg order") {
    val out = rw("SELECT ARRAY_CONTAINS(5, arr) FROM t")
    assert(out.replaceAll("\\s+", "") ==
      "SELECTarray_contains(arr,5)FROMt")
  }

  test("NVL family, NVL2, and conversion extras") {
    assert(rw("SELECT NVL(a, 0), IFNULL(b, '') FROM t") ==
      "SELECT coalesce(a, 0), coalesce(b, '') FROM t")
    assert(rw("SELECT NVL2(a, b, c) FROM t").replaceAll("\\s+", "") ==
      "SELECTif((a)ISNOTNULL,b,c)FROMt")
    assert(rw("SELECT POSITION('x', s) FROM t") ==
      "SELECT locate('x', s) FROM t")
    // SQL-standard form parses natively in Spark — must NOT become LOCATE
    assert(rw("SELECT POSITION('x' IN s) FROM t") ==
      "SELECT POSITION('x' IN s) FROM t")
  }

  test("CONNECT BY becomes a recursive CTE (both clause orders)") {
    val a = rw("""SELECT id, LEVEL FROM emp START WITH parent_id IS NULL
      CONNECT BY PRIOR id = parent_id ORDER BY id""").replaceAll("\\s+", " ")
    assert(a.contains("WITH RECURSIVE __graft_cb AS ("))
    assert(a.contains("SELECT *, 1 AS level FROM emp WHERE parent_id IS NULL"))
    assert(a.contains("JOIN __graft_cb ON t.parent_id = __graft_cb.id"))
    assert(a.contains("SELECT id, LEVEL FROM __graft_cb ORDER BY id"))
    // reversed clause order and flipped PRIOR side
    val b = rw("""SELECT id FROM emp CONNECT BY parent_id = PRIOR id
      START WITH parent_id IS NULL""").replaceAll("\\s+", " ")
    assert(b.contains("JOIN __graft_cb ON t.parent_id = __graft_cb.id"))
    // unsupported shapes fail loudly instead of mis-translating
    intercept[Exception] { rw("SELECT 1 FROM a, b CONNECT BY PRIOR x = y START WITH 1=1") }
    intercept[Exception] { rw("SELECT 1 FROM a START WITH 1=1 CONNECT BY x < y") }
  }

  test("ARRAY_POSITION swaps args and maps to 0-based NULL-absent") {
    assert(rw("SELECT ARRAY_POSITION('x', arr) FROM t").replaceAll("\\s+", "") ==
      "SELECT(nullif(array_position(arr,'x'),0)-1)FROMt")
    assert(rw("SELECT ARRAY_INTERSECTION(a, b) FROM t") ==
      "SELECT array_intersect(a, b) FROM t")
  }

  test(":: cast binds the whole ordered-set aggregate, not its GROUP clause") {
    assert(rw(
      "SELECT PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY q)::double FROM t") ==
      "SELECT CAST(PERCENTILE_CONT(0.25) WITHIN GROUP " +
      "(ORDER BY q NULLS LAST) AS DOUBLE) FROM t")
  }

  test("REGEXP_COUNT, ARRAY_SLICE, DAYOFWEEKISO") {
    assert(rw("SELECT REGEXP_COUNT(s, '[0-9]+') FROM t").replaceAll("\\s+", "") ==
      "SELECTsize(regexp_extract_all(s,'[0-9]+',0))FROMt")
    assert(rw("SELECT ARRAY_SLICE(arr, 1, 3) FROM t").replaceAll("\\s+", "") ==
      "SELECTslice(arr,(1)+1,(3)-(1))FROMt")
    assert(rw("SELECT DAYOFWEEKISO(d) FROM t").replaceAll("\\s+", "") ==
      "SELECT(weekday(d)+1)FROMt")
    assert(rw("SELECT ARRAY_TO_STRING(arr, ',') FROM t") ==
      "SELECT array_join(arr, ',') FROM t")
    assert(rw("SELECT TRY_PARSE_JSON(s) FROM t") == "SELECT (s) FROM t")
  }

  test("RATIO_TO_REPORT consumes its OVER clause") {
    assert(rw("SELECT RATIO_TO_REPORT(x) OVER (PARTITION BY p) FROM t")
      .replaceAll("\\s+", "") ==
      "SELECT((x)/(sum(x)OVER(PARTITIONBYp)))FROMt")
    assert(rw("SELECT RATIO_TO_REPORT(x) OVER w FROM t WINDOW w AS (PARTITION BY p)")
      .replaceAll("\\s+", "").startsWith("SELECT((x)/(sum(x)OVERw))"))
    intercept[IllegalArgumentException] {
      rw("SELECT RATIO_TO_REPORT(x) FROM t")
    }
  }

  test("GET: 0-based array index and variant key accessors") {
    assert(rw("SELECT GET(arr, 0) FROM t").replaceAll("\\s+", "") ==
      "SELECTelement_at(arr,1)FROMt")
    assert(rw("SELECT GET(v, 'k') FROM t").replaceAll("\\s+", "") ==
      "SELECTget_json_object(v,'$.k')FROMt")
    intercept[IllegalArgumentException] { rw("SELECT GET(v, x + 1) FROM t") }
  }

  test("CHARINDEX keeps (substr, str[, pos]) order via locate") {
    assert(rw("SELECT CHARINDEX('x', s) FROM t") ==
      "SELECT locate('x', s) FROM t")
    assert(rw("SELECT CHARINDEX('x', s, 3) FROM t") ==
      "SELECT locate('x', s, 3) FROM t")
  }

  test("REGEXP_SUBSTR returns the whole match (group 0), NULL on no match") {
    val out = rw("SELECT REGEXP_SUBSTR(s, '[0-9]+') FROM t")
    assert(out.replaceAll("\\s+", "") ==
      "SELECTnullif(regexp_extract(s,'[0-9]+',0),'')FROMt")
  }

  test("STRTOK_TO_ARRAY splits on a character class, dropping empties") {
    val out = rw("SELECT STRTOK_TO_ARRAY(s, '.,') FROM t")
    assert(out.replaceAll("\\s+", "") ==
      "SELECTfilter(split(s,'[\\\\.\\\\,]'),x->x<>'')FROMt")
    // default delimiter is a space
    assert(rw("SELECT STRTOK_TO_ARRAY(s) FROM t").contains("'[ ]'"))
  }

  test("QUALIFY becomes a nested filtered select") {
    assert(rw("SELECT a, b FROM t QUALIFY row_number() OVER (ORDER BY a) <= 2 ORDER BY a") ==
      "SELECT * EXCEPT (__graft_q) FROM (SELECT a, b , " +
      "(row_number() OVER (ORDER BY a NULLS LAST) <= 2) AS __graft_q FROM t ) " +
      "WHERE __graft_q ORDER BY a NULLS LAST")
  }

  test("ORDER BY gets Snowflake null ordering (NULLs are highest)") {
    assert(rw("SELECT a FROM t ORDER BY a") ==
      "SELECT a FROM t ORDER BY a NULLS LAST")
    assert(rw("SELECT a FROM t ORDER BY a DESC") ==
      "SELECT a FROM t ORDER BY a DESC NULLS FIRST")
    // explicit null ordering is preserved
    assert(rw("SELECT a FROM t ORDER BY a DESC NULLS LAST") ==
      "SELECT a FROM t ORDER BY a DESC NULLS LAST")
    assert(rw("SELECT a, b FROM t ORDER BY a DESC, b LIMIT 3") ==
      "SELECT a, b FROM t ORDER BY a DESC NULLS FIRST, b NULLS LAST LIMIT 3")
    // window ORDER BY too (rank over a nullable key ranks NULLs last)
    assert(rw("SELECT rank() OVER (PARTITION BY g ORDER BY v) FROM t") ==
      "SELECT rank() OVER (PARTITION BY g ORDER BY v NULLS LAST) FROM t")
    // frame keywords terminate the sort-item list
    assert(rw("SELECT sum(v) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t") ==
      "SELECT sum(v) OVER (ORDER BY k NULLS LAST " +
      "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t")
  }

  test("LATERAL FLATTEN becomes lateral view posexplode") {
    assert(rw("SELECT d, f.value FROM t, LATERAL FLATTEN(input => arr) f") ==
      "SELECT d, f.value FROM t LATERAL VIEW " +
      "posexplode(from_json((arr), 'array<string>')) f AS index, value")
  }

  test("FLATTEN without alias defaults to f") {
    assert(rw("SELECT f.value FROM t, LATERAL FLATTEN(arr)") ==
      "SELECT f.value FROM t LATERAL VIEW " +
      "posexplode(from_json((arr), 'array<string>')) f AS index, value")
  }

  test("ZEROIFNULL / NULLIFZERO / DIV0 / DIV0NULL") {
    assert(rw("SELECT ZEROIFNULL(x) FROM t") == "SELECT coalesce(x, 0) FROM t")
    assert(rw("SELECT NULLIFZERO(x) FROM t") == "SELECT nullif(x, 0) FROM t")
    // DIV0/DIV0NULL lower to the native single-evaluation functions
    // (graft.functions.SingleEval — the divisor binds once; zero-guard
    // and NULL semantics now live in the expression, covered by
    // NumericFuzzSpec + SessionSpec runtime tests)
    val d0 = rw("SELECT DIV0(a, b) FROM t").replace(" ", "")
    assert(d0 == "SELECTgraft_div0(a,b)FROMt", d0)
    val dn = rw("SELECT DIV0NULL(a, b) FROM t").replace(" ", "")
    assert(dn == "SELECTgraft_div0null(a,b)FROMt", dn)
  }

  test("numeric TRUNC truncates toward zero; string-unit TRUNC stays date") {
    // numeric forms lower to the native single-evaluation graft_ntrunc
    // (x binds once; exact-decimal literal scales and the power()
    // fallback live in SingleEval.numTrunc, value-covered by
    // NumericFuzzSpec + SessionSpec)
    assert(rw("SELECT TRUNC(x) FROM t") == "SELECT graft_ntrunc(x) FROM t")
    assert(rw("SELECT TRUNC(x, 2) FROM t").replace(" ", "") ==
      "SELECTgraft_ntrunc(x,2)FROMt")
    assert(rw("SELECT TRUNC(x, -2) FROM t").replace(" ", "") ==
      "SELECTgraft_ntrunc(x,-2)FROMt")
    assert(rw("SELECT TRUNC(x, n) FROM t").replace(" ", "") ==
      "SELECTgraft_ntrunc(x,n)FROMt")
    // string-literal date part routes to the type-polymorphic function
    // (Spark's own trunc would NULL sub-month parts and demote
    // TIMESTAMP → DATE — ADVICE r13 #1)
    assert(rw("SELECT TRUNC(d, 'MONTH') FROM t") ==
      "SELECT graft_trunc(d, 'month') FROM t")
    assert(rw("SELECT TRUNC(d, 'DD') FROM t") ==
      "SELECT graft_trunc(d, 'day') FROM t")
    // a string that is NOT a date part stays verbatim
    assert(rw("SELECT TRUNC(d, 'XYZ') FROM t") ==
      "SELECT TRUNC(d, 'XYZ') FROM t")
  }

  test("DATE_TRUNC canonicalizes alias parts and is type-polymorphic") {
    assert(rw("SELECT DATE_TRUNC('wk', ts) FROM t").replace(" ", "") ==
      "SELECTgraft_trunc(ts,'week')FROMt")
    assert(rw("SELECT DATE_TRUNC(qtr, ts) FROM t").replace(" ", "") ==
      "SELECTgraft_trunc(ts,'quarter')FROMt")
    assert(rw("SELECT DATE_TRUNC('day', d) FROM t").replace(" ", "") ==
      "SELECTgraft_trunc(d,'day')FROMt")
  }

  test("strings and comments survive untouched") {
    assert(rw("SELECT 'a::b' FROM t -- c::d") == "SELECT 'a::b' FROM t -- c::d")
  }

  test("statement splitting respects strings") {
    val stmts = SqlTokens.splitStatements("SELECT 'a;b'; SELECT 2;")
    assert(stmts == Seq("SELECT 'a;b'", "SELECT 2"))
  }

  test("EQUAL_NULL becomes null-safe equality") {
    assert(rw("SELECT EQUAL_NULL(a, b) FROM t") ==
      "SELECT ((a) <=> ( b)) FROM t")
  }

  test("base64/hex encode-decode family") {
    assert(rw("SELECT BASE64_ENCODE(s) FROM t") == "SELECT base64(s) FROM t")
    assert(rw("SELECT BASE64_DECODE_STRING(s) FROM t") ==
      "SELECT CAST(unbase64(s) AS STRING) FROM t")
    assert(rw("SELECT HEX_DECODE_STRING(s) FROM t") ==
      "SELECT CAST(unhex(s) AS STRING) FROM t")
    assert(rw("SELECT HEX_ENCODE(s) FROM t") == "SELECT hex(s) FROM t")
  }

  test("JSON_EXTRACT_PATH_TEXT and GET_PATH take literal paths") {
    assert(rw("SELECT JSON_EXTRACT_PATH_TEXT(v, 'a.b') FROM t") ==
      "SELECT get_json_object(v, '$.a.b') FROM t")
    assert(rw("SELECT GET_PATH(v, 'k') FROM t") ==
      "SELECT get_json_object(v, '$.k') FROM t")
  }

  test("STRIP_NULL_VALUE maps JSON null to SQL NULL") {
    assert(rw("SELECT STRIP_NULL_VALUE(v) FROM t") ==
      "SELECT nullif(v, 'null') FROM t")
  }

  test("GREATEST gets Snowflake any-null semantics") {
    assert(rw("SELECT GREATEST(a, b) FROM t") ==
      "SELECT CASE WHEN (a) IS NULL OR (b) IS NULL THEN NULL " +
      "ELSE greatest(a, b) END FROM t")
    // single-arg form left alone
    assert(rw("SELECT GREATEST(a) FROM t") == "SELECT GREATEST(a) FROM t")
  }

  test("string INSERT becomes overlay with reordered args") {
    assert(rw("SELECT INSERT(s, 2, 3, r) FROM t") ==
      "SELECT overlay(s, r, 2, 3) FROM t")
    // statement keyword INSERT untouched
    assert(rw("INSERT INTO t (a, b) SELECT 1, 2") ==
      "INSERT INTO t (a, b) SELECT 1, 2")
  }

  test("FROM_PARTS constructors map to make_* family") {
    assert(rw("SELECT DATE_FROM_PARTS(2024, 2, 29)") ==
      "SELECT make_date(2024, 2, 29)")
    assert(rw("SELECT TIMESTAMP_NTZ_FROM_PARTS(2024, 1, 2, 3, 4, 5)") ==
      "SELECT make_timestamp_ntz(2024, 1, 2, 3, 4, 5)")
  }

  test("OBJECT_AGG becomes sorted JSON map aggregate") {
    assert(rw("SELECT OBJECT_AGG(k, v) FROM t") ==
      "SELECT to_json(map_from_entries(array_sort(" +
      "collect_list(struct((k) AS key, ( v) AS value))))) FROM t")
  }

  test("TYPEOF classifies JSON-text VARIANT") {
    val out = rw("SELECT TYPEOF(v) FROM t")
    assert(out.contains("'OBJECT'") && out.contains("'ARRAY'") &&
      out.contains("'NULL_VALUE'") && out.contains("'BOOLEAN'"))
  }

  test("HAVERSINE expands to great-circle formula") {
    val out = rw("SELECT HAVERSINE(a, b, c, d) FROM t")
    assert(out.contains("6371") && out.contains("asin(sqrt("))
  }

  test("HASH and SKEW rename") {
    assert(rw("SELECT HASH(a, b) FROM t") == "SELECT xxhash64(a, b) FROM t")
    assert(rw("SELECT SKEW(x) FROM t") == "SELECT skewness(x) FROM t")
  }

  test("HLL sketch family renames") {
    assert(rw("SELECT HLL(x) FROM t") ==
      "SELECT approx_count_distinct(x, 0.02) FROM t")
    assert(rw("SELECT HLL(x, y) FROM t")
      .contains("approx_count_distinct(xxhash64(x, y), 0.02)"))
    assert(rw("SELECT HLL_ESTIMATE(HLL_COMBINE(s)) FROM t") ==
      "SELECT hll_sketch_estimate(hll_union_agg(s)) FROM t")
    assert(rw("SELECT HLL_ACCUMULATE(x) FROM t") ==
      "SELECT hll_sketch_agg(x) FROM t")
  }

  test("REGEXP_LIKE anchors to a full match") {
    val out = rw("SELECT REGEXP_LIKE(s, 'a.b') FROM t")
    assert(out.contains("RLIKE concat('^(?:'") && out.contains("')$')"))
    // case-insensitive flag becomes an inline (?i)
    assert(rw("SELECT REGEXP_LIKE(s, 'a', 'i') FROM t")
      .contains("concat('(?i)^(?:'"))
    // infix RLIKE with a parenthesized pattern is untouched
    assert(rw("SELECT x RLIKE ('^a$') FROM t") ==
      "SELECT x RLIKE ('^a$') FROM t")
  }

  test("RTRIMMED_LENGTH and ARRAY_COMPACT expand") {
    assert(rw("SELECT RTRIMMED_LENGTH(s) FROM t") ==
      "SELECT length(rtrim(s)) FROM t")
    assert(rw("SELECT ARRAY_COMPACT(a) FROM t") ==
      "SELECT filter(a, _ac -> _ac IS NOT NULL) FROM t")
  }

  test("MINHASH family expands to min-agg arrays and folds") {
    val mh = rw("SELECT MINHASH(4, x) FROM t")
    assert(mh == "SELECT array(min(xxhash64((x), 0)), min(xxhash64((x), 1)), " +
      "min(xxhash64((x), 2)), min(xxhash64((x), 3))) FROM t")
    val comb = rw("SELECT MINHASH_COMBINE(mh) FROM t")
    assert(comb.contains("REDUCE(collect_list((mh))") &&
      comb.contains("least(__ma, __mb)"))
    val sim = rw("SELECT APPROXIMATE_JACCARD_INDEX(mh) FROM t")
    assert(sim.contains("least(__ia, __ib)") &&
      sim.contains("greatest(__xa, __xb)") &&
      sim.contains("CAST(size(") && sim.contains("AS DOUBLE)"))
    intercept[IllegalArgumentException] {
      rw("SELECT MINHASH(k, x) FROM t")
    }
  }

  test("ARRAY_AGG WITHIN GROUP becomes a struct-sorted collect") {
    // each key carries an IS NULL flag so NULL keys sort HIGHEST
    // (Snowflake default) instead of Spark's struct-field nulls-lowest
    val asc = rw("SELECT ARRAY_AGG(x) WITHIN GROUP (ORDER BY k) FROM t")
    assert(asc.contains(
      "transform(array_sort(collect_list(struct(((k) IS NULL) AS __n0, " +
        "(k) AS __o0, (x) AS __v))), __s -> __s.__v)"), asc)
    val desc = rw("SELECT ARRAY_AGG(x) WITHIN GROUP (ORDER BY k DESC) FROM t")
    assert(desc.startsWith("SELECT reverse(transform(array_sort("))
    val dist = rw("SELECT ARRAY_AGG(DISTINCT x) WITHIN GROUP (ORDER BY x) FROM t")
    assert(dist.contains("array_sort(collect_set((x)))"))
    // two sort keys
    val two = rw("SELECT ARRAY_AGG(v) WITHIN GROUP (ORDER BY a, b) FROM t")
    assert(two.contains("((a) IS NULL) AS __n0, (a) AS __o0, " +
      "((b) IS NULL) AS __n1, (b) AS __o1, (v) AS __v"), two)
    // direction is PER KEY (Snowflake): a trailing DESC binds to its own
    // key only, so mixed lists lower to a comparator array_sort — the
    // whole-list reverse would silently sort `a` descending too
    val mixed = rw("SELECT ARRAY_AGG(v) WITHIN GROUP (ORDER BY a, b DESC) FROM t")
    assert(mixed.contains("(__l, __r) ->"), mixed)
    assert(!mixed.contains("reverse("), mixed)
    assert(mixed.contains("WHEN __l.__o1 < __r.__o1 THEN 1"), mixed)
    assert(mixed.contains("WHEN __l.__o0 < __r.__o0 THEN -1"), mixed)
    // explicit NULLS overrides the default policy (asc + NULLS FIRST)
    val nf = rw("SELECT ARRAY_AGG(v) WITHIN GROUP (ORDER BY a NULLS FIRST) FROM t")
    assert(nf.contains("WHEN __l.__n0 THEN -1"), nf)
    // uniform DESC still takes the fast reverse path
    val dd = rw("SELECT ARRAY_AGG(v) WITHIN GROUP (ORDER BY a DESC, b DESC) FROM t")
    assert(dd.contains("reverse(") && !dd.contains("__l"), dd)
    // plain ARRAY_AGG stays native (Spark has array_agg)
    assert(rw("SELECT ARRAY_AGG(x) FROM t").toLowerCase
      .contains("array_agg(x)"))
  }

  test("ASOF JOIN becomes a correlated top-1 LATERAL") {
    val out = rw("SELECT * FROM a ASOF JOIN b " +
      "MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k ORDER BY 1")
    assert(out.contains(", LATERAL (SELECT * FROM b b WHERE ("))
    assert(out.contains("a.k = b.k") && out.contains("AND (a.ts >= b.ts)"))
    assert(out.contains("ORDER BY b.ts DESC NULLS FIRST LIMIT 1) b"))
    assert(out.endsWith("ORDER BY 1 NULLS LAST"))
    // flipped operand order / direction
    val asc = rw("SELECT * FROM a ASOF JOIN b " +
      "MATCH_CONDITION(a.ts <= b.ts) ON a.k = b.k")
    assert(asc.contains("ORDER BY b.ts ASC NULLS LAST LIMIT 1) b"))
    val flip = rw("SELECT * FROM a ASOF JOIN b " +
      "MATCH_CONDITION(b.ts <= a.ts) ON a.k = b.k")
    assert(flip.contains("ORDER BY b.ts DESC NULLS FIRST LIMIT 1) b"))
    // explicit alias and no ON clause
    val al = rw("SELECT * FROM a ASOF JOIN big_b r " +
      "MATCH_CONDITION(a.ts > r.ts)")
    assert(al.contains("FROM big_b r WHERE (a.ts > r.ts)") &&
      al.contains("LIMIT 1) r"))
    // ASOF LEFT JOIN: outer lateral keeps matchless left rows
    val left = rw("SELECT * FROM a ASOF LEFT JOIN b " +
      "MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k")
    assert(left.contains("LEFT JOIN LATERAL (SELECT * FROM b b WHERE ("))
    assert(left.contains("LIMIT 1) b ON TRUE"))
  }

  test("ASOF JOIN with a schema resolver emits the union+window form") {
    val resolver: SnowflakeRewriter.SchemaResolver = (_, rel) =>
      rel.trim.toLowerCase match {
        case "a" => Some(Seq("k", "ts", "x"))
        case "b" => Some(Seq("k", "ts", "y"))
        case _ => None
      }
    val out = SnowflakeRewriter.rewrite(
      "SELECT a.x, b.y, b.ts FROM a ASOF JOIN b " +
        "MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k ORDER BY a.x", resolver)
    assert(!out.toUpperCase.contains("LATERAL"), out)
    assert(out.contains("UNION ALL"))
    assert(out.contains("PARTITION BY _ga_k0"))
    assert(out.contains("_ga_m IS NOT NULL"))
    // non-colliding right col y surfaces as y; colliding ts as b_ts; the
    // outer b.* references re-qualify through the derived alias a
    assert(out.contains("a.y") && out.contains("a.b_ts"))
    // inclusive match: right rows tag 0 (sort before left on tie); the
    // right payload travels as ONE struct (row-atomic carry), and right
    // rows with NULL key/timestamp are excluded up front
    assert(out.contains("UNION ALL"))
    assert(out.replaceAll("\\s+", " ").contains(
      "b.k, b.ts, 0, NULL, NULL, NULL, named_struct('k', b.k, 'ts', b.ts, 'y', b.y)"))
    assert(out.replaceAll("\\s+", "")
      .contains("b.kISNOTNULLAND(b.ts)ISNOTNULL"))
    assert(out.contains("last(_ga_r, true)"))
    assert(out.contains("ASC NULLS FIRST"))

    // strict (>) tags right rows 2 — ties must not match
    val strict = SnowflakeRewriter.rewrite(
      "SELECT a.x FROM a ASOF JOIN b " +
        "MATCH_CONDITION(a.ts > b.ts) ON a.k = b.k", resolver)
    assert(strict.replaceAll("\\s+", " ").contains("b.k, b.ts, 2, NULL"))

    // forward orientation ("first right at-or-after") lowers through the
    // same emitter with a DESC carry
    val fwd = SnowflakeRewriter.rewrite(
      "SELECT a.x FROM a ASOF JOIN b MATCH_CONDITION(a.ts <= b.ts) ON a.k = b.k",
      resolver)
    assert(!fwd.toUpperCase.contains("LATERAL"), fwd)
    assert(fwd.contains("DESC NULLS FIRST"))
    // strict forward: right rows tag 2 (equal-ts right must not match)
    val fwdStrict = SnowflakeRewriter.rewrite(
      "SELECT a.x FROM a ASOF JOIN b MATCH_CONDITION(a.ts < b.ts) ON a.k = b.k",
      resolver)
    assert(fwdStrict.contains("DESC NULLS FIRST") &&
      fwdStrict.replaceAll("\\s+", " ").contains("b.k, b.ts, 2, NULL"))

    // right-star expands to the exposed right columns via the left alias,
    // re-aliased back to the ORIGINAL right names (Snowflake r.* keeps
    // the right relation's own names even when they collide with left)
    val star = SnowflakeRewriter.rewrite(
      "SELECT a.x, b.* FROM a ASOF JOIN b " +
        "MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k", resolver)
    assert(!star.toUpperCase.contains("LATERAL"), star)
    assert(star.replaceAll("\\s+", " ").contains(
      "SELECT a.x, a.b_k AS k, a.b_ts AS ts, a.y FROM"))

    // shapes the emitter must refuse (falls back to LATERAL):
    // unresolvable schema
    val unres = SnowflakeRewriter.rewrite(
      "SELECT a.x FROM a ASOF JOIN mystery m " +
        "MATCH_CONDITION(a.ts >= m.ts) ON a.k = m.k", resolver)
    assert(unres.toUpperCase.contains("LATERAL"))
    // right alias re-bound inside the block (a scalar subquery binding b
    // to another relation) — rewriting through it would redirect the
    // shadowed references, so the emitter bails
    val rebound = SnowflakeRewriter.rewrite(
      "SELECT a.x, (SELECT max(q) FROM other b) AS m FROM a ASOF JOIN b " +
        "MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k", resolver)
    assert(rebound.toUpperCase.contains("LATERAL"))
    // subquery LEFT side resolves through the schema probe
    val subLeft = SnowflakeRewriter.rewrite(
      "SELECT p.x, b.y FROM (SELECT k, ts, x FROM a) p ASOF JOIN b " +
        "MATCH_CONDITION(p.ts >= b.ts) ON p.k = b.k",
      (pre: String, rel: String) =>
        if (rel.trim.toLowerCase == "b") Some(Seq("k", "ts", "y"))
        else if (rel.trim.startsWith("(")) Some(Seq("k", "ts", "x"))
        else None)
    assert(!subLeft.toUpperCase.contains("LATERAL"), subLeft)
    assert(subLeft.contains("FROM (SELECT k, ts, x FROM a) AS p"))
  }

  test("date navigation rewrites") {
    assert(rw("SELECT PREVIOUS_DAY(d, 'FR') FROM t") ==
      "SELECT date_sub(next_day(date_sub(d, 1), 'FR'), 7) FROM t")
    assert(rw("SELECT DAYOFWEEK(d) FROM t") ==
      "SELECT (dayofweek(d) - 1) FROM t")
    val ywi = rw("SELECT YEAROFWEEKISO(d) FROM t")
    assert(ywi.contains("year(date_add(CAST((d) AS DATE), 3 - weekday(d)))"))
  }

  test("CONDITIONAL_TRUE_EVENT becomes a running sum with injected frame") {
    val out = rw("SELECT CONDITIONAL_TRUE_EVENT(v > 5) OVER " +
      "(PARTITION BY u ORDER BY ts) FROM t")
    assert(out.contains("sum(if((v > 5), 1, 0)) OVER ("))
    assert(out.contains("ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"))
  }

  test("NULLS compensation reads only top-level tokens of a sort item") {
    // inner DESC must not flip the outer (ASC) item to NULLS FIRST
    // (the inner sort itself is left as-is — documented limitation)
    val a = rw("SELECT * FROM t ORDER BY (SELECT y FROM u ORDER BY z DESC)")
    assert(a.endsWith("ORDER BY (SELECT y FROM u ORDER BY z DESC) NULLS LAST"), a)
    // inner NULLS must not suppress compensation on the outer item
    val b = rw("SELECT * FROM t ORDER BY (SELECT y FROM u ORDER BY z NULLS FIRST)")
    assert(b.endsWith("ORDER BY z NULLS FIRST) NULLS LAST"), b)
    // a parenthesized expression item still gets the default
    assert(rw("SELECT * FROM t ORDER BY (a + b)")
      .endsWith("ORDER BY (a + b) NULLS LAST"))
    assert(rw("SELECT * FROM t ORDER BY (a + b) DESC")
      .endsWith("ORDER BY (a + b) DESC NULLS FIRST"))
  }

  test("NULLS compensation survives a comment between ORDER and BY") {
    val out = SnowflakeRewriter.rewrite(
      "SELECT a FROM t ORDER /*hint*/ BY a LIMIT 3")
    assert(out.replaceAll("\\s+", " ").contains("BY a NULLS LAST LIMIT 3"), out)
  }

  test("NULLS compensation: terminator word as first token is a column") {
    // a column literally named `rows` used as the (only) sort key
    assert(rw("SELECT * FROM t ORDER BY rows") ==
      "SELECT * FROM t ORDER BY rows NULLS LAST")
    assert(rw("SELECT * FROM t ORDER BY a, rows DESC") ==
      "SELECT * FROM t ORDER BY a NULLS LAST, rows DESC NULLS FIRST")
    // ...but a genuine window frame after a key still terminates the item
    val w = rw("SELECT sum(x) OVER (ORDER BY ts ROWS BETWEEN UNBOUNDED " +
      "PRECEDING AND CURRENT ROW) FROM t")
    assert(w.contains("ORDER BY ts NULLS LAST ROWS BETWEEN"), w)
  }

  test("TRUNC with a bare date-part keyword is the date form") {
    assert(rw("SELECT TRUNC(d, month) FROM t") ==
      "SELECT graft_trunc(d, 'month') FROM t")
    assert(rw("SELECT TRUNC(d, yy) FROM t") ==
      "SELECT graft_trunc(d, 'year') FROM t")
    // sub-month parts must NOT reach Spark's trunc (it NULLs them)
    assert(rw("SELECT TRUNC(ts, hh) FROM t") ==
      "SELECT graft_trunc(ts, 'hour') FROM t")
    // numeric form unaffected: column 2nd arg that is NOT a date part
    val n = rw("SELECT TRUNC(x, scale_col) FROM t")
    assert(n.contains("graft_ntrunc(x, scale_col)"), n)
  }

  test("single-evaluation lowerings render a subquery operand exactly once") {
    // round-13 directive #5: DIV0/DIV0NULL, numeric TRUNC, SPLIT_PART
    // and quarter/month DATEDIFF must not splice an expensive operand
    // 2-3x into the output — the marker subquery appears ONCE
    def occurrences(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    val marker = "SELECTmax(m)FROMt2"
    val cases = Seq(
      "SELECT DIV0(a, (SELECT max(m) FROM t2)) FROM t",
      "SELECT DIV0NULL(a, (SELECT max(m) FROM t2)) FROM t",
      "SELECT TRUNC((SELECT max(m) FROM t2)) FROM t",
      "SELECT TRUNC((SELECT max(m) FROM t2), 2) FROM t",
      "SELECT SPLIT_PART(s, ',', (SELECT max(m) FROM t2)) FROM t",
      "SELECT DATEDIFF(month, (SELECT max(m) FROM t2), d) FROM t",
      "SELECT DATEDIFF(quarter, (SELECT max(m) FROM t2), d) FROM t")
    for (c <- cases) {
      val out = rw(c).replace(" ", "")
      assert(occurrences(out, marker) == 1, s"$c -> $out")
    }
    // the non-ordinal DATEDIFF parts already rendered each end once
    val wk = rw("SELECT DATEDIFF(week, (SELECT max(m) FROM t2), d) FROM t")
      .replace(" ", "")
    assert(occurrences(wk, marker) == 1, wk)
  }

  test("a comment never hides a cast's type, a SAMPLE spec or a FLATTEN alias") {
    assert(rw("SELECT '1'::/*c*/INT") == "SELECT CAST('1' AS INT)")
    assert(rw("SELECT a /* c */ ::double PRECISION FROM t") ==
      "SELECT CAST(a /* c */ AS DOUBLE) FROM t")
    assert(rw("SELECT * FROM t SAMPLE /*c*/ (10)") ==
      "SELECT * FROM t TABLESAMPLE (10 PERCENT)")
    assert(rw("SELECT * FROM t SAMPLE BERNOULLI -- c\n (10 ROWS)") ==
      "SELECT * FROM t TABLESAMPLE (10 ROWS)")
    assert(rw("SELECT g.value FROM t, TABLE(FLATTEN(input => t.arr)) /*c*/ g") ==
      "SELECT g.value FROM t LATERAL VIEW " +
      "posexplode(from_json((t.arr), 'array<string>')) g AS index, value")
  }

  test("column definitions and single types map through the type map") {
    assert(SnowflakeRewriter.columnDefs(
        "(id NUMBER(10, 2) NOT NULL, \"my col\" VARCHAR(20), \"a,b\" VARIANT)") ==
      Seq("id" -> "DECIMAL(10, 2)", "\"my col\"" -> "STRING", "\"a,b\"" -> "STRING"))
    assert(SnowflakeRewriter.sparkType("double precision") == "DOUBLE")
    assert(SnowflakeRewriter.sparkType("MAP<STRING, INT>") == "MAP<STRING, INT>")
  }
}

class IdentifiersSpec extends AnyFunSuite {
  test("unquoted parts fold upper") {
    assert(Identifiers.fullQualifier("tbl", "db", "sch") == FQN("DB", "SCH", "TBL"))
  }
  test("quoted parts keep case") {
    assert(Identifiers.fullQualifier("\"MyTable\"", "db", "sch") ==
      FQN("DB", "SCH", "MyTable"))
  }
  test("qualified names override defaults") {
    assert(Identifiers.fullQualifier("d2.s2.t", "db", "sch") == FQN("D2", "S2", "T"))
    assert(Identifiers.fullQualifier("s2.t", "db", "sch") == FQN("DB", "S2", "T"))
  }
  test("quoted dots are not separators") {
    assert(Identifiers.fullQualifier("\"a.b\"", "db", "sch") == FQN("DB", "SCH", "a.b"))
  }
}

class CopyOptionsSpec extends AnyFunSuite {
  test("csv defaults") {
    val m = CopyOptions.map(Map.empty)
    assert(m.format == "csv" && m.options("header") == "false")
  }
  test("skip_header=1 maps to header") {
    val m = CopyOptions.map(Map("SKIP_HEADER" -> "1"))
    assert(m.options("header") == "true")
  }
  test("skip_header>1 becomes a manual per-file line drop") {
    val m = CopyOptions.map(Map("SKIP_HEADER" -> "3"))
    assert(m.skipLines == 3)
    assert(!m.options.get("header").contains("true"))
  }
  test("statement-level options: size limit, purge, force, binary format") {
    val m = CopyOptions.map(Map("SIZE_LIMIT" -> "1024", "PURGE" -> "TRUE",
      "FORCE" -> "TRUE", "BINARY_FORMAT" -> "BASE64",
      "NULL_IF" -> "('NULL', 'N/A', '')"))
    assert(m.sizeLimit.contains(1024L) && m.purge && m.force)
    assert(m.binaryFormat.contains("BASE64"))
    assert(m.nullIf == Seq("NULL", "N/A"))
    assert(m.options("nullValue") == "NULL")
  }
  test("delimiters, quotes, nulls, compression") {
    val m = CopyOptions.map(Map(
      "FIELD_DELIMITER" -> "|", "FIELD_OPTIONALLY_ENCLOSED_BY" -> "\"",
      "NULL_IF" -> "('NULL')", "COMPRESSION" -> "GZIP"))
    assert(m.options("sep") == "|")
    assert(m.options("quote") == "\"")
    assert(m.options("nullValue") == "NULL")
    assert(m.options("compression") == "gzip")
  }
  test("timestamp format tokens translate") {
    val m = CopyOptions.map(Map("TIMESTAMP_FORMAT" -> "YYYY-MM-DD HH24:MI:SS"))
    assert(m.options("timestampFormat") == "yyyy-MM-dd HH:mm:ss")
  }
  test("unsupported format rejected") {
    intercept[IllegalArgumentException] { CopyOptions.map(Map("TYPE" -> "XML")) }
  }
}
