package graft.engine

import org.apache.spark.sql.DataFrame
import SqlTokens._

/** UPDATE / DELETE / MERGE over parquet-backed managed tables.
  *
  * The reference leaves these as skipped placeholders
  * (`tests/integration/transform.py:6-25`); this module implements them,
  * exceeding reference parity. Semantics follow Snowflake's docs.
  *
  * Execution model is **copy-on-write snapshots**: each DML statement is
  * compiled to ONE declarative SELECT producing the table's next contents,
  * written to a fresh snapshot directory, and the registry pointer is
  * swapped — the same model Iceberg/Delta COW uses. Nothing is mutated in
  * place, the whole rewrite is a single distributed Spark job (joins get
  * broadcast/AQE treatment from Catalyst), and a failed write leaves the
  * old snapshot intact (atomic swap at the pointer).
  *
  * **Iceberg targets go file-granular**: UPDATE/DELETE with a predicate
  * first detect the affected data files (one scan selecting
  * `input_file_name()` — the standard Delta/Iceberg COW first pass),
  * rewrite ONLY those files, and commit a replace snapshot that carries
  * every untouched file forward by path
  * ([[graft.sources.IcebergLite.replaceFiles]]). At 100 TB that turns a
  * DELETE touching 0.1% of files from a table rewrite into an
  * O(changed-files) job — and it is what lets table STREAMs diff, and
  * DYNAMIC TABLEs retract, at O(changed files) after DML. MERGE detects
  * MATCHED files through the source join (same scan-level
  * input_file_name pass), rewrites only those, and appends NOT MATCHED
  * inserts in the same replace commit. Measured on a 60 M-row DELETE
  * touching 1 of 200 files: 3.07 s granular vs 4.82 s whole-table
  * (probes/granular_dml.json).
  */
object Dml {

  private val deleteRe =
    "(?is)^DELETE\\s+FROM\\s+([\\w$\".]+)(?:\\s+WHERE\\s+(.*))?$".r
  // SET/WHERE split happens on tokens in execute(): a regex split at the
  // first WHERE would cut inside a SET subquery's own WHERE clause, or at
  // a WHERE inside a comment or a string
  private val updateRe =
    "(?is)^UPDATE\\s+([\\w$\".]+)\\s+SET\\s+(.*)$".r
  private val mergeRe =
    "(?is)^MERGE\\s+INTO\\s+([\\w$\".]+)(?:\\s+(?:AS\\s+)?([A-Za-z_]\\w*))?\\s+USING\\s+(.*)$".r

  def matches(stmt: String): Boolean = {
    val t = stmt.trim.toUpperCase
    t.startsWith("DELETE") || t.startsWith("UPDATE") || t.startsWith("MERGE")
  }

  def execute(session: GraftSession, stmt: String): DataFrame = {
    // writer-writer serialization: hold the target table's lock for the
    // whole statement (TableLocks policy; ConcurrencySpec)
    val target = stmt.trim match {
      case deleteRe(name, _) => Some(name)
      case updateRe(name, _) => Some(name)
      case mergeRe(name, _, _) => Some(name)
      case _ => None
    }
    TableLocks.withLocks(target.flatMap(session.lockKeyOf).toSeq) {
      stmt.trim match {
        case deleteRe(name, where) => doDelete(session, name, Option(where))
        case updateRe(name, rest) =>
          val toks = lex(rest)
          val w = topKeyword(toks, "WHERE")
          val (sets, where) =
            if (w < 0) (toks, None) else (toks.take(w), Some(text(toks.drop(w + 1))))
          doUpdate(session, name, sets, where)
        case mergeRe(name, alias, rest) =>
          doMerge(session, name, Option(alias), lex(rest))
        case other =>
          throw new IllegalArgumentException(s"cannot parse DML: $other")
      }
    }
  }

  // ── file-granular COW (Iceberg targets) ────────────────────────────────
  /** First pass of a file-granular row-level operation: the data files
    * holding at least one row matching `pred` — the same
    * affected-file detection Delta Lake and Iceberg COW use
    * (`input_file_name()` over ONE scan of the table; predicate pushdown
    * and partition pruning cut it further). Returns manifest paths.
    * None = the table has pending row-level delete files (the scan plan
    * is then a union of anti-joins where file attribution is unsafe —
    * the whole-table COW rewrite folds them instead) or a path failed to
    * normalize back to a manifest entry. At 100 TB this is the
    * difference between rewriting the 0.1% of files a DELETE touches and
    * rewriting the table. */
  private def affectedFiles(s: GraftSession, f: FQN, ref: TableRef,
      pred: String): Option[Set[String]] = {
    // Plain predicates filter DIRECTLY on the scan: input_file_name()
    // sits ABOVE the filter (same stage, still valid), so the predicate
    // pushes into the parquet reader — non-matching files are skipped
    // on row-group min/max stats, footer-only, and detection costs
    // O(matched files), not a table scan. input_file_name() is
    // nondeterministic to Catalyst, so putting it UNDER the filter
    // would block that pushdown.
    // Subquery predicates compile to a join the filter cannot cross —
    // for those the attribution is materialized below the filter
    // instead (a post-exchange input_file_name would read an unset
    // thread-local: "" fails normalization → loud-safe fallback).
    val hasSubquery = "(?i)\\bselect\\b".r.findFirstIn(pred).isDefined
    val sql =
      if (!hasSubquery)
        // WHERE (pred) not COALESCE(pred, FALSE): WHERE already
        // excludes NULL, and the bare conjuncts stay pushable — a
        // COALESCE wrapper is a black-box function to the reader and
        // forces a full scan (measured 2.3 s vs 0.1 s at 24 M rows)
        s"SELECT DISTINCT input_file_name() AS p " +
        s"FROM ${f.database}.${f.schema}.${f.table} AS ${f.table} " +
        s"WHERE ($pred)"
      else
        s"SELECT DISTINCT __graft_p AS p FROM (" +
        s"SELECT ${f.table}.*, input_file_name() AS __graft_p " +
        s"FROM ${f.database}.${f.schema}.${f.table} AS ${f.table}) AS ${f.table} " +
        s"WHERE ($pred)"
    detectFiles(s, ref, sql)
  }

  /** Bind `subset` (the affected-file scan) under a DEDICATED temp view
    * and hand its name to `body` for the OUTER scan only. The target's
    * normal session view stays bound to the full table, so any
    * self-reference to the target inside the statement — a subquery in
    * the DELETE/UPDATE WHERE (`DELETE FROM t WHERE p > (SELECT avg(p)
    * FROM t)`), an UPDATE SET expression, or a MERGE source — still
    * evaluates over the statement-start table snapshot, matching
    * Snowflake semantics and the full-table scan the affected-file
    * detection used. (Rebinding the session view itself — the old
    * approach — silently evaluated such subqueries over only the
    * affected files.) The view is dropped after analysis; `spark.sql`
    * inlines it eagerly so downstream execution is unaffected. */
  private def overSubset[T](s: GraftSession, f: FQN, subset: DataFrame)
      (body: String => T): T = {
    val vn = s.viewName(f) + "_gsub"
    subset.createOrReplaceTempView(vn)
    try body(vn)
    finally s.spark.catalog.dropTempView(vn)
  }

  /** Run a file-attribution query and normalize the returned paths to
    * manifest entries. None = pending row-level delete files (the scan
    * plan is a union of anti-joins where attribution is unsafe) or a
    * path failed to normalize (e.g. "" from a post-shuffle evaluation)
    * — callers fall back to the whole-table rewrite. */
  private def detectFiles(s: GraftSession, ref: TableRef,
      sql: String): Option[Set[String]] = {
    import graft.sources.IcebergLite
    val mp = ref.path.get
    if (IcebergLite.deleteFiles(s.spark, mp).nonEmpty) return None
    val known = IcebergLite.dataFiles(s.spark, mp).toSet
    def norm(p: String): String =
      if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    val got = s.runQuery(sql).collect().map(r => norm(r.getString(0))).toSet
    if (got.forall(known.contains)) Some(got) else None
  }

  // ── DELETE ─────────────────────────────────────────────────────────────
  private def doDelete(s: GraftSession, rawName: String,
      where: Option[String]): DataFrame = {
    val (f, ref) = managedTarget(s, rawName)
    // Iceberg + predicate: rewrite ONLY the affected files, one replace
    // commit; unchanged files carry forward by path. Falls back to the
    // whole-table COW swap when every file is touched (no benefit, and
    // the guard keeps `replaceFiles` from committing an all-carry-none
    // table when the predicate deletes everything) or when pending
    // delete files make attribution unsafe.
    if (ref.format == "iceberg" && where.isDefined) {
      import graft.sources.IcebergLite
      import org.apache.spark.sql.functions.{col, sum, when}
      affectedFiles(s, f, ref, where.get) match {
        case Some(aff) if aff.isEmpty =>
          return s.countStatus("number of rows deleted", 0)
        case Some(aff)
            if aff != IcebergLite.dataFiles(s.spark, ref.path.get).toSet =>
          val subset = IcebergLite.scanSubset(s.spark, ref.path.get, aff)
          val obs = org.apache.spark.sql.Observation()
          val survivors = overSubset(s, f, subset) { vn =>
            s.runQuery(
              s"SELECT *, (NOT COALESCE((${where.get}), FALSE)) AS __graft_keep " +
              s"FROM $vn AS ${f.table}")
          }
            .observe(obs,
              sum(when(col("__graft_keep"), 0L).otherwise(1L)).as("deleted"))
            .where(col("__graft_keep")).drop("__graft_keep")
          val newMeta = IcebergLite.replaceFiles(
            s.spark, ref.path.get, aff, survivors)
          s.commitIcebergReplace(f, ref, newMeta)
          val deleted = obs.get.get("deleted")
            .collect { case n: Number => n.longValue }.getOrElse(0L)
          return s.countStatus("number of rows deleted", deleted)
        case _ => // fall through to the whole-table rewrite
      }
    }
    // the `before` count is pure manifest metadata when every data file
    // recorded record_count at its commit (guide §6: at 100 TB a
    // count-only pre-scan per DELETE is a full metadata+footer pass);
    // tables written before counts existed fall back to the count scan
    val before = icebergMetaCount(s, ref)
      .getOrElse(s.registry.load(ref).count())
    val survivors = where match {
      case Some(w) => s.runQuery(
        s"SELECT * FROM ${f.database}.${f.schema}.${f.table} WHERE NOT COALESCE(($w), FALSE)")
      case None => s.runQuery(s"SELECT * FROM ${f.database}.${f.schema}.${f.table} WHERE FALSE")
    }
    val after = s.swapSnapshot(f, ref, survivors)
    s.countStatus("number of rows deleted", before - after)
  }

  // ── UPDATE ─────────────────────────────────────────────────────────────
  private def doUpdate(s: GraftSession, rawName: String, sets: Vector[Tok],
      where: Option[String]): DataFrame = {
    val (f, ref) = managedTarget(s, rawName)
    // captured before the commit: the (before, after) file-set pair is
    // logged so streams can attribute the transition as an UPDATE and
    // emit METADATA$ISUPDATE pairs ([[GraftSession.logUpdateTransition]])
    val beforeFiles = Streams.filesOf(s.spark, ref)._1
    val schema = s.registry.load(ref).schema
    val assigns = parseAssignments(sets, schema.fieldNames.toSet)
    val pred = where.map(w => s"COALESCE(($w), FALSE)").getOrElse("TRUE")
    val proj = schema.fields.map { fd =>
      assigns.get(fd.name.toUpperCase) match {
        case Some(expr) =>
          s"CASE WHEN $pred THEN CAST(($expr) AS ${fd.dataType.sql}) " +
            s"ELSE ${q(fd.name)} END AS ${q(fd.name)}"
        case None => q(fd.name)
      }
    }.mkString(", ")
    // Iceberg + predicate: rewrite only the files holding matched rows
    // (their unmatched rows pass through the CASE unchanged), replace
    // commit, everything else carries forward — see doDelete
    if (ref.format == "iceberg" && where.isDefined) {
      import graft.sources.IcebergLite
      // detection takes the UNWRAPPED predicate: WHERE already excludes
      // NULL, and the bare conjuncts stay pushable into the parquet
      // reader — the COALESCE wrapper (still used row-level in the CASE
      // projection) is a black-box to the scan and forces O(table)
      // detection (measured 2.3 s vs 0.1 s at 24 M rows)
      affectedFiles(s, f, ref, where.get) match {
        case Some(aff) if aff.isEmpty =>
          return s.countStatus("number of rows updated", 0)
        case Some(aff)
            if aff != IcebergLite.dataFiles(s.spark, ref.path.get).toSet =>
          val subset = IcebergLite.scanSubset(s.spark, ref.path.get, aff)
          val obs = org.apache.spark.sql.Observation()
          val rewritten = overSubset(s, f, subset) { vn =>
            s.runQuery(
              s"SELECT $proj, ($pred) AS __graft_upd " +
              s"FROM $vn AS ${f.table}")
          }
            .observe(obs, org.apache.spark.sql.functions.sum(
              org.apache.spark.sql.functions.col("__graft_upd").cast("long"))
              .as("updated"))
            .drop("__graft_upd")
          val newMeta = IcebergLite.replaceFiles(
            s.spark, ref.path.get, aff, rewritten)
          s.commitIcebergReplace(f, ref, newMeta)
          s.logUpdateTransition(f, beforeFiles)
          val updated = obs.get.get("updated")
            .collect { case n: Number => n.longValue }.getOrElse(0L)
          return s.countStatus("number of rows updated", updated)
        case _ => // fall through to the whole-table rewrite
      }
    }
    // updated-row count piggybacks on the snapshot write via an Observation
    // (CollectMetrics) — no separate count(*) scan of the table
    val obs = org.apache.spark.sql.Observation()
    val nextRaw = s.runQuery(
      s"SELECT $proj, ($pred) AS __graft_upd FROM ${f.database}.${f.schema}.${f.table}")
    val next = nextRaw
      .observe(obs, org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("__graft_upd").cast("long")).as("updated"))
      .drop("__graft_upd")
    s.swapSnapshot(f, ref, next)
    s.logUpdateTransition(f, beforeFiles)
    val updated = obs.get.get("updated")
      .collect { case n: Number => n.longValue }.getOrElse(0L)
    s.countStatus("number of rows updated", updated)
  }

  /** `a = e1, b = e2` split at top level; keys normalized upper-case and
    * checked against the target schema. */
  private def parseAssignments(sets: Vector[Tok],
      fields: Set[String]): Map[String, String] = {
    val upper = fields.map(_.toUpperCase)
    splitTop(sets, 0, sets.length)(_ == Op(",")).map { case (a, b) =>
      val eq = indexTop(sets, a)(_ == Op("="))
      // the column is the last token before `=`: alias-qualified targets
      // (t.col) are allowed, as Snowflake does
      val colTok = if (eq < 0 || eq >= b) None else prevSig(sets, eq).filter(_ >= a)
      require(colTok.isDefined, s"bad assignment: ${text(sets.slice(a, b))}")
      val col = Identifiers.normalizePart(sets(colTok.get).text)
      require(upper.contains(col), s"unknown column in SET: ${text(sets.slice(a, eq))}")
      col -> text(sets.slice(eq + 1, b))
    }.toMap
  }

  // ── MERGE ──────────────────────────────────────────────────────────────
  /** `kind` is the action's first word: UPDATE, DELETE or INSERT. */
  private final case class WhenClause(matched: Boolean, cond: Option[String],
      kind: String, action: Vector[Tok])

  /** `MERGE INTO t [alias] USING src [alias] ON cond WHEN …` compiled to a
    * single SELECT: survivors + updates via LEFT JOIN on a marked source,
    * inserts via the source's LEFT ANTI JOIN, UNION ALL. One distributed
    * job; Catalyst broadcasts the small side and AQE handles skew. */
  private def doMerge(s: GraftSession, rawName: String,
      tAliasOpt: Option[String], rest: Vector[Tok]): DataFrame = {
    val (f, ref) = managedTarget(s, rawName)
    // merge-inserted rows land mixed into the rewritten files — the
    // append-only insert log cannot describe them; clear it so streams
    // fall back to net-diff (which sees them) rather than omit them
    s.clearInsertLog(f)
    val schema = s.registry.load(ref).schema
    // unaliased targets are referenced by bare table name in Snowflake
    val tAlias = tAliasOpt.getOrElse(f.table)

    // split `src ON cond WHEN … WHEN …` at the top-level ON / WHEN keywords
    val onIdx = topKeyword(rest, "ON")
    require(onIdx >= 0, "MERGE requires ON")
    val whenIdx = indexTop(rest, onIdx + 1)(outsideCase("WHEN"))
    require(whenIdx >= 0, "MERGE requires at least one WHEN clause")
    val onCond = text(rest.slice(onIdx + 1, whenIdx))
    val clauses = parseWhenClauses(rest.drop(whenIdx))

    val (srcBody, sAlias) = parseSource(rest.take(onIdx))
    val marked =
      s"(SELECT __graft_src.*, TRUE AS __graft_m FROM $srcBody __graft_src) ${q(sAlias)}"
    val matchedFlag = s"COALESCE(${q(sAlias)}.__graft_m, FALSE)"

    def withCond(c: WhenClause) =
      matchedFlag + c.cond.map(x => s" AND ($x)").getOrElse("")

    val updates = clauses.filter(c => c.matched && c.kind != "DELETE")
    val deletes = clauses.filter(c => c.matched && c.kind == "DELETE")
    val inserts = clauses.filterNot(_.matched)

    val proj = schema.fields.map { fd =>
      val arms = updates.flatMap { u =>
        parseAssignments(u.action.drop(topKeyword(u.action, "SET") + 1),
          schema.fieldNames.toSet).get(fd.name.toUpperCase)
          .map(e => s"WHEN ${withCond(u)} THEN CAST(($e) AS ${fd.dataType.sql})")
      }
      if (arms.isEmpty) s"${q(tAlias)}.${q(fd.name)} AS ${q(fd.name)}"
      else s"CASE ${arms.mkString(" ")} ELSE ${q(tAlias)}.${q(fd.name)} END AS ${q(fd.name)}"
    }.mkString(", ")
    val deleteFilter =
      if (deletes.isEmpty) "TRUE"
      else deletes.map(d => s"NOT (${withCond(d)})").mkString(" AND ")

    // Snowflake raises on nondeterministic merges (multiple source rows
    // matching one target row) instead of silently fanning the target out;
    // detect via a per-target-row match count (window over a synthetic row
    // id) and raise inside the same job — no extra scan. The tid window
    // adds one shuffle, the price of the duplicate check.
    def survivorsSql(targetFrom: String) =
      s"SELECT ${schema.fieldNames.map(q).mkString(", ")} FROM (" +
        s"SELECT $proj, ($deleteFilter) AS __graft_keep, " +
        s"count(CASE WHEN $matchedFlag THEN 1 END) " +
        s"OVER (PARTITION BY ${q(tAlias)}.__graft_tid) AS __graft_mcnt " +
        s"FROM (SELECT *, monotonically_increasing_id() AS __graft_tid " +
        s"FROM $targetFrom) ${q(tAlias)} " +
        s"LEFT JOIN $marked ON ($onCond)) " +
      "WHERE __graft_keep AND assert_true(__graft_mcnt <= 1, " +
        "'MERGE: multiple source rows match the same target row " +
        "(nondeterministic merge)') IS NULL"

    val insertSql = inserts.map { ins =>
      val (cols, exprs) = parseInsert(ins.action, schema.fieldNames.toSeq)
      val byCol = cols.map(_.toUpperCase).zip(exprs).toMap
      val projIns = schema.fields.map { fd =>
        val e = byCol.getOrElse(fd.name.toUpperCase, "NULL")
        s"CAST(($e) AS ${fd.dataType.sql}) AS ${q(fd.name)}"
      }.mkString(", ")
      val cond = ins.cond.map(c => s" WHERE ($c)").getOrElse("")
      s" UNION ALL SELECT $projIns FROM $srcBody ${q(sAlias)} " +
        s"LEFT ANTI JOIN ${f.database}.${f.schema}.${f.table} ${q(tAlias)} ON ($onCond)$cond"
    }.mkString

    // Iceberg targets go file-granular: detect the target files holding
    // MATCHED rows (scan-level input_file_name + EXISTS against the
    // source — the same first pass as UPDATE/DELETE), rewrite only
    // those through the update/delete projection, append NOT MATCHED
    // inserts as new files, one replace commit. The anti-join for
    // inserts still reads the full target (matching needs it), but the
    // dominant cost — rewriting unmatched data files — drops to
    // O(matched files).
    if (ref.format == "iceberg") {
      import graft.sources.IcebergLite
      val matchedSql =
        s"SELECT DISTINCT __graft_p AS p FROM (" +
        s"SELECT ${q(tAlias)}.*, input_file_name() AS __graft_p " +
        s"FROM ${f.database}.${f.schema}.${f.table} AS ${q(tAlias)}) AS ${q(tAlias)} " +
        s"WHERE EXISTS (SELECT 1 FROM $srcBody AS ${q(sAlias)} WHERE ($onCond))"
      detectFiles(s, ref, matchedSql) match {
        case Some(aff)
            if aff != IcebergLite.dataFiles(s.spark, ref.path.get).toSet =>
          val insertOnly =
            if (inserts.isEmpty) None
            else Some(s.runQuery(insertSql.stripPrefix(" UNION ALL ")))
          val newMeta =
            if (aff.isEmpty) insertOnly match {
              case None => // no matches, no inserts: nothing to commit
                return s.countStatus("number of rows merged",
                  icebergMetaCount(s, ref)
                    .getOrElse(s.registry.load(ref).count()))
              case Some(ins) => IcebergLite.append(s.spark, ins, ref.path.get)
            } else {
              val subset = IcebergLite.scanSubset(s.spark, ref.path.get, aff)
              val survivors = overSubset(s, f, subset) { vn =>
                s.runQuery(survivorsSql(vn))
              }
              val next = insertOnly.fold(survivors)(survivors.unionByName(_))
              IcebergLite.replaceFiles(s.spark, ref.path.get, aff, next)
            }
          s.commitIcebergReplace(f, ref, newMeta)
          // post-commit table count: sum of per-file record_count over
          // the NEW snapshot's manifests — every file this commit wrote
          // has one (footer-recorded), and carried-forward files keep
          // theirs, so the count-only scan job after every MERGE is gone
          val newRef = s.registry.resolve(f).get
          return s.countStatus("number of rows merged",
            icebergMetaCount(s, newRef)
              .getOrElse(s.registry.load(newRef).count()))
        case _ => // fall through to the whole-table rewrite
      }
    }
    val next = s.runQuery(
      survivorsSql(s"${f.database}.${f.schema}.${f.table}") + insertSql)
    val after = s.swapSnapshot(f, ref, next)
    s.countStatus("number of rows merged", after)
  }

  /** Source is `(subquery) [AS] alias[(c1, …)]` or `table [AS] alias`.
    * An alias column list renames the subquery's columns positionally
    * (`USING (VALUES …) AS s(k, v)`). */
  private def parseSource(src: Vector[Tok]): (String, String) = {
    val start = nextSig(src, -1).getOrElse(
      throw new IllegalArgumentException("MERGE requires a USING source"))
    // the body, and the significant tokens after it ([AS] alias)
    val (body, rest) =
      if (src(start) == Op("(")) {
        val close = matchParen(src, start)
        (text(src.slice(start, close + 1)), close + 1)
      } else {
        val end = src.indexWhere(!isSig(_), start)
        if (end < 0) (text(src.drop(start)), src.length)
        else (text(src.slice(start, end)), end)
      }
    val words = significant(src).filter(_ >= rest)
    val aliasAt = words.filterNot(j => isKw(src(j), "AS")).headOption
    if (src(start) == Op("(")) {
      val a = aliasAt.getOrElse(
        throw new IllegalArgumentException("MERGE subquery source needs an alias"))
      parenAfter(src, a) match {
        case Some(open) =>
          val cols = text(src.slice(open, matchParen(src, open) + 1))
          (s"(SELECT * FROM $body AS __graft_cols$cols)", src(a).text)
        case None => (body, src(a).text)
      }
    } else
      (body, words.lastOption.map(src(_).text)
        .getOrElse(body.substring(body.lastIndexOf('.') + 1)))
  }

  /** A top-level search predicate for keyword `word` that skips the word
    * inside a CASE … END: stateful, so one per search. */
  private def outsideCase(word: String): Tok => Boolean = {
    var cases = 0
    t => {
      if (isKw(t, "CASE")) cases += 1
      else if (isKw(t, "END") && cases > 0) cases -= 1
      cases == 0 && isKw(t, word)
    }
  }

  private def parseWhenClauses(toks: Vector[Tok]): Seq[WhenClause] = {
    // toks start at the first WHEN: drop the empty piece before it
    splitTop(toks, 0, toks.length)(outsideCase("WHEN")).drop(1).map { case (a, b) =>
      val clause = toks.slice(a, b)
      val sig = significant(clause)
      def word(n: Int, w: String) = sig.length > n && isKw(clause(sig(n)), w)
      val (isMatched, from) =
        if (word(0, "MATCHED")) (true, sig(0) + 1)
        else if (word(0, "NOT") && word(1, "MATCHED")) (false, sig(1) + 1)
        else throw new IllegalArgumentException(s"bad WHEN clause: ${text(clause)}")
      val thenIdx = indexTop(clause, from)(outsideCase("THEN"))
      require(thenIdx >= 0, s"WHEN clause missing THEN: ${text(clause)}")
      // optional AND <condition>
      val condFrom = nextSig(clause, from - 1).filter(j =>
        j < thenIdx && isKw(clause(j), "AND")).fold(from)(_ + 1)
      val cond = Some(text(clause.slice(condFrom, thenIdx))).filter(_.nonEmpty)
      val action = clause.drop(thenIdx + 1)
      val kind = nextSig(action, -1).map(action(_).text.toUpperCase).getOrElse("")
      WhenClause(isMatched, cond, kind, action)
    }
  }

  /** `INSERT [(c1, c2)] VALUES (e1, e2)` → (columns, expressions). */
  private def parseInsert(action: Vector[Tok],
      allCols: Seq[String]): (Seq[String], Seq[String]) = {
    def bad = new IllegalArgumentException(s"bad MERGE INSERT action: ${text(action)}")
    val ins = nextSig(action, -1).filter(j => isKw(action(j), "INSERT"))
      .getOrElse(throw bad)
    def items(open: Int): (Seq[String], Int) = {
      val close = matchParen(action, open)
      (splitArgs(action, open, close).map(r => text(action.slice(r._1, r._2))), close)
    }
    val (cols, afterCols) = parenAfter(action, ins) match {
      case Some(open) =>
        val (names, close) = items(open)
        (names.map(Identifiers.normalizePart), close)
      case None => (allCols, ins)
    }
    val values = nextSig(action, afterCols).filter(j => isKw(action(j), "VALUES"))
      .flatMap(parenAfter(action, _)).getOrElse(throw bad)
    val (es, close) = items(values)
    if (nextSig(action, close).isDefined) throw bad
    require(cols.length == es.length,
      s"INSERT column/value count mismatch: $cols vs $es")
    (cols, es)
  }

  /** A fragment's SQL text for splicing into a generated statement:
    * comments become a space, so a `--` comment can never swallow what
    * follows the fragment. */
  private def text(toks: Seq[Tok]): String =
    toks.map { case _: Comment => " "; case t => t.text }.mkString.trim

  /** Column/alias names usually come from parquet schemas as plain
    * identifiers and pass through unquoted; anything else (spaces,
    * punctuation — names born from quoted DDL) renders double-quoted,
    * which the Snowflake-dialect rewriter treats as a case-preserving
    * identifier and backtick-renders for Spark. */
  private val plainIdentRe = "^[A-Za-z_][A-Za-z0-9_$]*$".r
  private def q(name: String): String =
    if (plainIdentRe.findFirstIn(name).isDefined) name
    else "\"" + name.replace("\"", "\"\"") + "\""

  /** Exact current row count from Iceberg manifest metadata (per-file
    * record_count), or None when the target is not Iceberg / predates
    * recorded counts / has pending delete files. */
  private def icebergMetaCount(s: GraftSession, ref: TableRef): Option[Long] =
    if (ref.format == "iceberg" && ref.path.isDefined)
      graft.sources.IcebergLite.recordCount(s.spark, ref.path.get)
    else None

  private def managedTarget(s: GraftSession, rawName: String): (FQN, TableRef) = {
    val f = s.qualify(rawName)
    val ref = s.registry.resolve(f).getOrElse(
      throw new IllegalArgumentException(s"table $f does not exist"))
    require(ref.kind == TableKind.Lake && ref.path.isDefined,
      s"DML target must be a managed table: $f")
    (f, ref)
  }
}
