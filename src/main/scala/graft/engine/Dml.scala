package graft.engine

import org.apache.spark.sql.DataFrame

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
  // SET/WHERE split happens paren-aware in execute(): a regex split at
  // the first WHERE would cut inside a SET subquery's own WHERE clause
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
          val wIdx = topLevelKeyword(rest, "WHERE")
          val (sets, where) =
            if (wIdx < 0) (rest, None)
            else (rest.substring(0, wIdx), Some(rest.substring(wIdx + 5)))
          doUpdate(session, name, sets, where)
        case mergeRe(name, alias, rest) =>
          doMerge(session, name, Option(alias), rest)
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
  private def doUpdate(s: GraftSession, rawName: String, sets: String,
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
  private def parseAssignments(sets: String,
      fields: Set[String]): Map[String, String] = {
    val upper = fields.map(_.toUpperCase)
    splitTop(sets, ',').map { a =>
      val eq = topLevelIndexOf(a, '=')
      require(eq > 0, s"bad assignment: $a")
      val colRaw = a.substring(0, eq).trim
      // allow alias-qualified targets (t.col) as Snowflake does
      val col = Identifiers.normalizePart(
        colRaw.substring(colRaw.lastIndexOf('.') + 1))
      require(upper.contains(col), s"unknown column in SET: $colRaw")
      col -> a.substring(eq + 1).trim
    }.toMap
  }

  // ── MERGE ──────────────────────────────────────────────────────────────
  private final case class WhenClause(matched: Boolean, cond: Option[String],
      action: String)

  /** `MERGE INTO t [alias] USING src [alias] ON cond WHEN …` compiled to a
    * single SELECT: survivors + updates via LEFT JOIN on a marked source,
    * inserts via the source's LEFT ANTI JOIN, UNION ALL. One distributed
    * job; Catalyst broadcasts the small side and AQE handles skew. */
  private def doMerge(s: GraftSession, rawName: String,
      tAliasOpt: Option[String], rest: String): DataFrame = {
    val (f, ref) = managedTarget(s, rawName)
    // merge-inserted rows land mixed into the rewritten files — the
    // append-only insert log cannot describe them; clear it so streams
    // fall back to net-diff (which sees them) rather than omit them
    s.clearInsertLog(f)
    val schema = s.registry.load(ref).schema
    // unaliased targets are referenced by bare table name in Snowflake
    val tAlias = tAliasOpt.getOrElse(f.table)

    // split `src ON cond WHEN … WHEN …` at the top-level ON / WHEN keywords
    val onIdx = topLevelKeyword(rest, "ON")
    require(onIdx >= 0, "MERGE requires ON")
    val srcSpec = rest.substring(0, onIdx).trim
    val afterOn = rest.substring(onIdx + 2)
    val whenIdx = topLevelKeyword(afterOn, "WHEN")
    require(whenIdx >= 0, "MERGE requires at least one WHEN clause")
    val onCond = afterOn.substring(0, whenIdx).trim
    val clauses = parseWhenClauses(afterOn.substring(whenIdx))

    val (srcBody, sAlias) = parseSource(srcSpec)
    val marked =
      s"(SELECT __graft_src.*, TRUE AS __graft_m FROM $srcBody __graft_src) ${q(sAlias)}"
    val matchedFlag = s"COALESCE(${q(sAlias)}.__graft_m, FALSE)"

    def withCond(c: WhenClause) =
      matchedFlag + c.cond.map(x => s" AND ($x)").getOrElse("")

    val updates = clauses.filter(c => c.matched && c.action != "DELETE")
    val deletes = clauses.filter(c => c.matched && c.action == "DELETE")
    val inserts = clauses.filterNot(_.matched)

    val proj = schema.fields.map { fd =>
      val arms = updates.flatMap { u =>
        parseAssignments(u.action.replaceAll("(?is)^UPDATE\\s+SET\\s+", ""),
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
  private def parseSource(spec: String): (String, String) = {
    val t = spec.trim
    if (t.startsWith("(")) {
      val close = matchingParen(t, 0)
      val body = t.substring(0, close + 1)
      val alias = t.substring(close + 1).trim
        .replaceAll("(?i)^AS\\s+", "").trim
      require(alias.nonEmpty, "MERGE subquery source needs an alias")
      val open = alias.indexOf('(')
      if (open > 0 && alias.endsWith(")"))
        (s"(SELECT * FROM $body AS __graft_cols${alias.substring(open)})",
          alias.substring(0, open).trim)
      else (body, alias)
    } else {
      val parts = t.split("\\s+")
      val name = parts(0)
      val alias =
        if (parts.length > 1) parts.last else name.substring(name.lastIndexOf('.') + 1)
      (name, alias)
    }
  }

  private def parseWhenClauses(text: String): Seq[WhenClause] = {
    // text starts at the first WHEN
    val starts = allTopLevelKeywords(text, "WHEN")
    starts.zipAll(starts.drop(1), -1, text.length).map { case (a, b) =>
      val clause = text.substring(a + 4, b).trim
      val notMatched = "(?is)^NOT\\s+MATCHED\\b(.*)$".r
      val matched = "(?is)^MATCHED\\b(.*)$".r
      val (isMatched, rest) = clause match {
        case notMatched(r) => (false, r)
        case matched(r) => (true, r)
        case other => throw new IllegalArgumentException(s"bad WHEN clause: $other")
      }
      val thenIdx = topLevelKeyword(rest, "THEN")
      require(thenIdx >= 0, s"WHEN clause missing THEN: $clause")
      val condPart = rest.substring(0, thenIdx).trim
        .replaceAll("(?is)^AND\\s+", "").trim
      val cond = if (condPart.isEmpty) None else Some(condPart)
      WhenClause(isMatched, cond, rest.substring(thenIdx + 4).trim)
    }
  }

  /** `INSERT [(c1, c2)] VALUES (e1, e2)` → (columns, expressions). */
  private def parseInsert(action: String,
      allCols: Seq[String]): (Seq[String], Seq[String]) = {
    val insRe = "(?is)^INSERT\\s*(\\([^)]*\\))?\\s*VALUES\\s*\\((.*)\\)\\s*$".r
    action.trim match {
      case insRe(colList, exprs) =>
        val cols = Option(colList)
          .map(_.stripPrefix("(").stripSuffix(")")
            .split(',').toSeq.map(_.trim))
          .getOrElse(allCols)
        val es = splitTop(exprs, ',').map(_.trim)
        require(cols.length == es.length,
          s"INSERT column/value count mismatch: $cols vs $es")
        (cols, es)
      case other =>
        throw new IllegalArgumentException(s"bad MERGE INSERT action: $other")
    }
  }

  // ── text utilities (string/paren-aware) ────────────────────────────────

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

  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inStr = false; var inDq = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == sep && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.toSeq
  }

  private def topLevelIndexOf(s: String, ch: Char): Int = {
    var depth = 0; var inStr = false; var inDq = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case x if x == ch && depth == 0 => return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  private def topLevelKeyword(s: String, kw: String): Int =
    allTopLevelKeywords(s, kw).headOption.getOrElse(-1)

  private def allTopLevelKeywords(s: String, kw: String): Seq[Int] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    val upper = s.toUpperCase; val k = kw.toUpperCase
    var depth = 0; var inStr = false; var inDq = false; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          if (depth == 0 && upper.startsWith(k, i) &&
              (i == 0 || !Character.isLetterOrDigit(upper.charAt(i - 1)) &&
                upper.charAt(i - 1) != '_') &&
              (i + k.length >= s.length ||
                !Character.isLetterOrDigit(upper.charAt(i + k.length)) &&
                upper.charAt(i + k.length) != '_'))
            out += i
      }
      i += 1
    }
    out.toSeq
  }

  private def matchingParen(s: String, open: Int): Int = {
    var depth = 0; var inStr = false; var inDq = false; var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (inDq) { if (c == '"') inDq = false }
      else c match {
        case '\'' => inStr = true
        case '"' => inDq = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parens: $s")
  }
}
