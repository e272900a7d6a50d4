package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation,
  UnresolvedTable, UnresolvedTableOrView, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression,
  InSubquery, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint,
  AddColumns, Assignment, Command, CreateTableAsSelect, CreateView,
  DeleteAction, DeleteFromTable, DropColumns, DropConstraint, DropTable,
  DropView, InsertAction, InsertIntoStatement, Join, JoinHint, LogicalPlan,
  MergeAction, MergeIntoTable, ParsedStatement, RenameColumn, RenameTable,
  ReplaceTableAsSelect, SubqueryAlias, TruncateTable, UnresolvedWith,
  UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.CreateTableLikeCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  TimestampType}

import graft.psn.TableStore
import graft.tables.Tables

/** SQL entry point. The reference ships SQL text to BigQuery (main.py:153-157
  * reads `game` with a SELECT, main.py:274-284 upserts with UPDATE … FROM);
  * here SELECTs bind the corpus tables in Spark's parse ([[run]]), and the
  * statement surface runs against the versioned [[TableStore]].
  *
  * Spark parses; Graft-only verbs keep anchored regexes. Every statement
  * Spark's grammar covers (MERGE, UPDATE, DELETE, INSERT, CREATE TABLE AS
  * SELECT / VIEW / LIKE, DROP, TRUNCATE, ALTER TABLE, and SELECT) goes
  * through `sessionState.sqlParser.parsePlan` and one match on the logical
  * plan ([[execute]]); expressions bind as Catalyst expressions, so the
  * surface is Spark's. BigQuery's UPDATE … FROM is Spark's UPDATE with the
  * FROM clause lifted out, executed by the same row-level executor as
  * MERGE. Every query a statement runs binds its tables through one
  * resolver over the parsed plan ([[Ctx.query]]): store tables and logical
  * views, time-travel pins, wildcard tables and TABLE_CHANGES are plan
  * nodes Spark's parser already produces, so no SELECT text is rewritten
  * and no session view is registered. The verbs Spark has no grammar for
  * — CLONE/COPY, materialized views, indexes, OPTIMIZE, VACUUM, RESTORE,
  * ANALYZE, EXPORT, LOAD, and BEGIN/COMMIT/ROLLBACK in scripts — match
  * their anchored regexes first. Anything outside the surface is loud: an
  * IllegalArgumentException carrying Spark's message or the verb's own.
  */
object Sql {
  /** A query over the corpus tables of `dir`: each corpus name it reads
    * binds to that table's scan in the one walk [[Ctx.query]] uses
    * ([[mapRelations]]); every other name is Catalyst's. No session view
    * is registered. */
  def run(s: SparkSession, dir: String, query: String): DataFrame =
    GraftBridge.ofRows(s, mapRelations(parse(s, query)) {
      case r: UnresolvedRelation
          if Tables.corpus.contains(nameOf(r.multipartIdentifier)) =>
        val t = nameOf(r.multipartIdentifier)
        aliased(t, Tables.load(s, dir, t))
    })

  /** The reference's upsert statement (main.py:274-284), BigQuery's
    * UPDATE-FROM:
    * {{{
    * UPDATE `proj.ds.target` target
    * SET target.c1 = temp.c1, target.c2 = temp.c2 * 1.05, ...
    * FROM `proj.ds.temp` temp
    * WHERE target.id = temp.id [AND <any condition> ...]
    * }}}
    * It runs as an update-only MERGE through [[TableStore.mergeWith]], so
    * it gets the store's transactional discipline: snapshot-pinned scan,
    * CAS-committed version, optimistic retry. A matched target row takes
    * every SET assignment (NULL included: assignment, not coalesce; every
    * rhs reads the PRE-update row); unmatched rows are untouched; a target
    * row failing a WHERE conjunct is left untouched, never deleted; a
    * source key matching more than one row is an error (BigQuery:
    * "UPDATE/MERGE must match at most one source row"), found by a bounded
    * LIMIT-1 probe. The source resolves in the store first (the reference
    * stages updates as a real temp TABLE next to the target,
    * main.py:256-273), then as a session view.
    *
    * Every `run*` entry point below is the same one-statement dispatch
    * ([[execute]]); the names document the verb each caller ships. */
  def runDml(s: SparkSession, store: TableStore, sql: String): Unit =
    execute(s, store, None, sql)

  /** MERGE INTO with any WHEN clauses, each optionally predicated:
    * {{{
    * MERGE INTO `proj.ds.target` t USING `proj.ds.src` s
    * ON t.k = s.k [AND t.k2 = s.k2 ...]
    * [WHEN MATCHED [AND <cond>] THEN DELETE | UPDATE SET t.c = <expr>, ...]
    * [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT (k, …) VALUES (…)]
    * [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE]
    * }}}
    * Within each match group the FIRST clause whose condition holds fires
    * (first-match-wins in statement order; Spark's parser already refuses
    * a non-final unconditioned clause). A fired UPDATE takes its
    * assignments, a fired DELETE drops the row, a fired INSERT
    * materializes the source row (columns absent from the list are NULL).
    * A matched row no clause fires on passes through unchanged; a
    * source-only row no INSERT fires on is ignored. Source keys must be
    * unique AND non-null: a null key can never match, and silently
    * inserting it would manufacture an unreachable row.
    *
    * Scale shape: ONE full-outer join on the key; clause dispatch is a
    * per-row cascaded `when()` (codegen'd, no extra shuffle). */
  def runMerge(s: SparkSession, store: TableStore, sql: String): Unit =
    execute(s, store, None, sql)

  /** The tombstone delete, `DELETE FROM <t> [a] WHERE [a.]k IN (SELECT …)`:
    * ONE left-anti equi-join against the distinct non-null tombstone keys
    * (broadcast: the erasure batch is tiny), committed as a rewrite. At
    * 100 TB this is the GDPR / right-to-be-forgotten pass: the target pays
    * one scan + rewrite. */
  def runDelete(s: SparkSession, store: TableStore, sql: String): Unit =
    execute(s, store, None, sql)

  /** DELETE FROM <t> WHERE <any other predicate> as a DELETION-VECTOR
    * commit ([[graft.psn.TableStore.deleteRows]]): one collect finds the
    * condemned rows' (file, position) pairs, the driver writes them as
    * one Roaring bitmap per data file, and the commit inherits every data
    * file by name — zero data rewritten, which is what a row-level DELETE
    * must cost on a 100 TB table. Returns the deleted-row count; the
    * count covers only this deletion-vector route, so a `k IN (SELECT …)`
    * condition, which takes [[runDelete]]'s tombstone rewrite, reports 0
    * whatever it removed. */
  def runDeleteWhere(s: SparkSession, store: TableStore, sql: String): Long =
    execute(s, store, None, sql).deleted

  /** The statement-level append (the reference appends on every run,
    * main.py:62,185's `to_gbq(..., if_exists='append')`): `INSERT INTO <t>
    * [(c1, …)] SELECT … | VALUES …`. The query binds corpus and store
    * tables through [[Ctx.query]]; the rows land through
    * [[TableStore.append]], which asserts schema identity LOUDLY. With a
    * column list the query binds positionally to the named columns and
    * every other column rides as a typed NULL. The target must already
    * exist: an INSERT that silently creates would hide a typo'd name. */
  def runInsert(s: SparkSession, store: TableStore, dir: String,
      sql: String): Unit =
    execute(s, store, Some(dir), sql)

  /** CREATE [OR REPLACE] TABLE … AS SELECT (truncate-load of a new
    * version; plain CREATE over an existing table is an ERROR, OR REPLACE
    * is the opt-in), CREATE [OR REPLACE] VIEW (a logical view: the SQL text
    * is stored and re-planned per read, analyzed now so a broken view fails
    * its CREATE), CREATE TABLE … LIKE (one empty commit with the source's
    * schema), CLONE/COPY and CREATE MATERIALIZED VIEW. Returns the created
    * name. */
  def runCtas(s: SparkSession, store: TableStore, dir: String,
      sql: String): String =
    execute(s, store, Some(dir), sql).name

  /** DROP TABLE|VIEW|INDEX [IF EXISTS] — the reference's nightly job ends by
    * dropping its staging table with `not_found_ok=True`
    * (main.py:287); `IF EXISTS` is that flag's SQL
    * spelling. Without it a missing table is LOUD (BigQuery's NotFound). */
  def runDrop(store: TableStore, sql: String): Unit =
    execute(store.spark, store, None, sql)

  /** ALTER TABLE … ADD/DROP CONSTRAINT (ADD validates existing rows in one
    * scan; enforcement of later writes is fused into each write's plan,
    * [[graft.psn.TableStore.addConstraint]]), ADD/DROP COLUMN
    * (metadata-only, [[graft.psn.TableStore.addColumn]]), RENAME COLUMN
    * (one rewrite commit) and RENAME TO (a metadata-only directory move). */
  def runAlter(store: TableStore, sql: String): Unit =
    execute(store.spark, store, None, sql)

  /** TRUNCATE TABLE — the reference's WRITE_TRUNCATE disposition with no
    * payload (main.py:268-271): one empty committed
    * version, schema and constraints intact, history retained. */
  def runTruncate(store: TableStore, sql: String): Unit =
    execute(store.spark, store, None, sql)

  /** q57: the MERGE INTO statement end-to-end through the versioned
    * store: the target holds two thirds of `orders`, the staged source
    * carries a repriced copy of EVERY order with a sentinel status —
    * matched rows take the new price but KEEP their status (only price
    * is in SET), unmatched orders INSERT whole rows carrying the
    * sentinel. The oracle recomputes both branches declaratively, so the
    * hash gate proves parse → full-outer merge → transactional commit →
    * read-back exercises the update and insert paths distinguishably.
    *
    * Scale shape: one full outer join on the key over the store scan —
    * [[graft.psn.TableStore.mergeWith]]'s rewrite discipline unchanged. */
  def q57SqlMerge(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_m", orders(s, dir)
      .filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.overwrite("orders_src", orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice") * 1.05).as("o_totalprice"),
        lit("N").as("o_orderstatus")))
    runMerge(s, store,
      """MERGE INTO `graft-project.store.orders_m` t
        |USING `graft-project.store.orders_src` s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice,
        |  o_orderstatus) VALUES (s.o_orderkey, s.o_totalprice,
        |  s.o_orderstatus)
        |""".stripMargin)
    store.drop("orders_src")
    store.read("orders_m")
      .select(col("o_orderkey"),
        col("o_totalprice").as("merged_price"),
        col("o_orderstatus").as("status"))
      .sortedWide("o_orderkey")
  }

  val q57Oracle: String =
    """SELECT o_orderkey, o_totalprice * 1.05 AS merged_price,
      |  CASE WHEN o_orderkey % 3 <> 0 THEN o_orderstatus
      |       ELSE 'N' END AS status
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q61: the FULL MERGE clause surface in one statement — a predicated
    * DELETE, an unpredicated UPDATE behind it (first-match-wins: only
    * non-'F' matched rows reach it), and a predicated INSERT that ignores
    * cheap unmatched source rows. The oracle recomputes all three
    * branches declaratively, so the hash gate proves clause dispatch
    * order, predicate evaluation on BOTH aliases (target-side status,
    * source-side price), DELETE-as-filter, and insert gating — the
    * exact shapes round 10's parser accepted but did not execute.
    *
    * Scale shape: still ONE full-outer join on the key; the clause
    * cascade is per-row codegen'd `when()`, no extra pass or shuffle. */
  def q61SqlMergeFull(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_f", orders(s, dir)
      .filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.overwrite("orders_fs", orders(s, dir)
      .select(col("o_orderkey"),
        (col("o_totalprice") * 1.05).as("o_totalprice"),
        lit("N").as("o_orderstatus")))
    runMerge(s, store,
      """MERGE INTO `graft-project.store.orders_f` t
        |USING `graft-project.store.orders_fs` s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
        |WHEN NOT MATCHED AND s.o_totalprice > 1000 THEN INSERT
        |  (o_orderkey, o_totalprice, o_orderstatus)
        |  VALUES (s.o_orderkey, s.o_totalprice, s.o_orderstatus)
        |""".stripMargin)
    store.drop("orders_fs")
    store.read("orders_f")
      .select(col("o_orderkey"),
        col("o_totalprice").as("merged_price"),
        col("o_orderstatus").as("status"))
      .sortedWide("o_orderkey")
  }

  val q61Oracle: String =
    """SELECT o_orderkey, o_totalprice * 1.05 AS merged_price,
      |  o_orderstatus AS status
      |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderstatus <> 'F'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 1.05 AS merged_price,
      |  'N' AS status
      |FROM orders WHERE o_orderkey % 3 = 0 AND o_totalprice * 1.05 > 1000
      |ORDER BY o_orderkey""".stripMargin

  /** q56: the reference's own DML statement end-to-end — stage an updates
    * table next to the target (main.py:256-273's temp-table load), run the
    * literal UPDATE-FROM text through [[runDml]], drop the temp table
    * (main.py:286-287), and read the committed result back from the store.
    * The oracle recomputes the update directly over `orders`, so the hash
    * gate proves statement parse → transactional merge → versioned commit
    * → read-back equals the declarative answer (q16's algebra, now
    * reachable from SQL text).
    *
    * Scale shape: identical to [[graft.psn.TableStore.mergeWith]] — one
    * left join on the key, full-version rewrite; the partition-pruned
    * variant is the 100 TB path and shares the same front-end. */
  def q56SqlUpdateFrom(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_t", orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.overwrite("orders_tmp", orders(s, dir)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"),
        (col("o_totalprice") * 1.1).as("o_totalprice")))
    runDml(s, store,
      """UPDATE `graft-project.store.orders_t` target
        |SET target.o_totalprice = temp.o_totalprice
        |FROM `graft-project.store.orders_tmp` temp
        |WHERE target.o_orderkey = temp.o_orderkey
        |""".stripMargin)
    store.drop("orders_tmp")
    store.read("orders_t")
      .select(col("o_orderkey"), col("o_totalprice").as("merged_price"))
      .sortedWide("o_orderkey")
  }

  val q56Oracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |       ELSE o_totalprice END AS merged_price
      |FROM orders ORDER BY o_orderkey""".stripMargin


  /** q59: the DELETE statement end-to-end through the versioned store —
    * stage a tombstone table (every order key divisible by 7: the
    * erasure-request batch), run the literal DELETE text through
    * [[runDelete]], drop the tombstones, read the committed survivor set
    * back. The oracle recomputes the survivors declaratively, so the hash
    * gate proves parse → anti-join rewrite → transactional commit →
    * read-back equals the declarative answer. With q56 (UPDATE-FROM) and
    * q57 (MERGE INTO) this completes the statement-level DML surface.
    *
    * Scale shape: one broadcast anti-join over the store scan —
    * [[graft.psn.TableStore.mergeWith]]'s rewrite discipline unchanged. */
  def q59SqlDelete(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_d", orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.overwrite("orders_tomb", orders(s, dir)
      .filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey")))
    runDelete(s, store,
      """DELETE FROM `graft-project.store.orders_d` t
        |WHERE t.o_orderkey IN (
        |  SELECT o_orderkey FROM `graft-project.store.orders_tomb`)
        |""".stripMargin)
    store.drop("orders_tomb")
    store.read("orders_d")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .sortedWide("o_orderkey")
  }

  val q59Oracle: String =
    """SELECT o_orderkey, o_totalprice, o_orderstatus
      |FROM orders WHERE o_orderkey % 7 <> 0
      |ORDER BY o_orderkey""".stripMargin

  private val CloneStmt = (
    """(?is)\s*CREATE\s+(SNAPSHOT\s+)?TABLE\s+`?([\w.-]+)`?\s+(CLONE|COPY)\s+""" +
    """`?([\w.-]+)`?(?:\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)""" +
    """|\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(?:TIMESTAMP\s+'([^']+)'""" +
    """|(\d{10,})))?\s*;?\s*""").r

  /** `TIMESTAMP '<yyyy-MM-dd HH:mm:ss[.SSS]>'` (UTC — the store's commit
    * stamps are wall-clock UTC millis) or a bare epoch-millis literal. */
  private def parseTsMillis(tsLit: String, epoch: String): Long =
    if (epoch != null) epoch.toLong
    else java.time.LocalDateTime.parse(tsLit.trim.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** Execute `CREATE [SNAPSHOT] TABLE <t> CLONE <src> [FOR VERSION AS OF
    * <v> | FOR SYSTEM_TIME AS OF …]` and `CREATE TABLE <t> COPY <src>` —
    * the clone/copy verbs ([[TableStore.cloneTable]]): BigQuery's table
    * clone (writable), snapshot table (read-only), and table copy,
    * optionally pinned to a retained version or a commit timestamp
    * (resolved like every SYSTEM_TIME reference). COPY is BigQuery's
    * physical-copy verb; because this store's data files are IMMUTABLE
    * (every commit writes new files), the hard-link clone already has
    * physical-copy semantics — the two tables share no future state —
    * so COPY routes to the same O(files) link commit, no data moved.
    * SNAPSHOT pairs only with CLONE (as in BigQuery). */
  def runClone(store: TableStore, sql: String): String = sql match {
    case CloneStmt(snap, target, verb, source, ver, tsLit, epoch) =>
      require(snap == null || verb.equalsIgnoreCase("CLONE"),
        "CREATE SNAPSHOT TABLE pairs with CLONE, not COPY")
      val name = baseName(target)
      val src = baseName(source)
      val asOf =
        if (ver != null) Some(ver.toInt)
        else if (tsLit != null || epoch != null)
          Some(store.versionAsOf(src, parseTsMillis(tsLit, epoch)))
        else None
      store.cloneTable(src, name, asOf, snapshot = snap != null)
      name
    case _ => throw new IllegalArgumentException(
      "unsupported DDL: expected CREATE [SNAPSHOT] TABLE <t> CLONE <src> " +
        "[FOR VERSION AS OF <v> | FOR SYSTEM_TIME AS OF TIMESTAMP '<ts>'] " +
        "or CREATE TABLE <t> COPY <src>")
  }

  private val CreateMvStmt = (
    """(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?([\w.-]+)`?\s+AS\s+""" +
    """SELECT\s+(.+?)\s+FROM\s+`?([\w.-]+)`?\s+GROUP\s+BY\s+""" +
    """([\w\s,]+?)\s*;?\s*""").r
  private val MvAggItem =
    """(?i)\s*(COUNT|SUM|MIN|MAX)\s*\(\s*(\*|\w+)\s*\)\s+AS\s+(\w+)\s*""".r
  private val MvKeyItem = """\s*(\w+)\s*""".r

  /** Execute `CREATE MATERIALIZED VIEW <mv> AS SELECT <keys, aggs> FROM
    * <base> GROUP BY <keys>` — BigQuery's aggregate materialized view,
    * with BigQuery's own restriction surfaced loudly: the select list
    * may hold only the GROUP BY keys and COUNT(*)/SUM/MIN/MAX aggregates
    * (the self-merging class that makes query-time freshness and
    * incremental REFRESH sound — [[TableStore.createMaterializedView]]).
    * `COUNT(*)` needs no argument column; aggregates need an `AS` alias
    * (they name stored columns). */
  def runCreateMv(store: TableStore, sql: String): String = sql match {
    case CreateMvStmt(target, selectList, base, groupBy) =>
      val mv = baseName(target)
      val keys = groupBy.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      require(keys.nonEmpty && keys.forall(_.matches("\\w+")),
        s"GROUP BY must list plain columns, got '$groupBy'")
      val items = splitTopLevel(selectList)
      val (keyItems, aggItems) = items.partition {
        case MvKeyItem(_) => true
        case _ => false
      }
      val keyCols = keyItems.map { case MvKeyItem(k) => k }
      require(keyCols.sorted == keys.sorted,
        s"materialized-view select list keys ${keyCols.mkString(",")} " +
          s"must equal GROUP BY ${keys.mkString(",")}")
      val aggs = aggItems.map {
        case MvAggItem(f, in, out) =>
          val func = f.toUpperCase
          require(func != "COUNT" || in == "*",
            "materialized views support COUNT(*) (not COUNT(col))")
          require(func == "COUNT" || in != "*",
            s"$func(*) is not an aggregate — name a column")
          graft.psn.MvAgg(out, func, in)
        case other => throw new IllegalArgumentException(
          s"unsupported materialized-view select item '$other': expected " +
            "a GROUP BY key or COUNT(*)/SUM(c)/MIN(c)/MAX(c) AS alias " +
            "(BigQuery's aggregate-MV restriction, enforced loudly)")
      }
      store.createMaterializedView(mv, baseName(base), keys, aggs)
      mv
    case _ => throw new IllegalArgumentException(
      "unsupported DDL: expected CREATE MATERIALIZED VIEW <mv> AS SELECT " +
        "<keys, aggs> FROM <base> GROUP BY <keys>")
  }

  /** Split a select list on top-level commas (not inside parens). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur += c
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val RefreshMvStmt =
    """(?is)\s*REFRESH\s+MATERIALIZED\s+VIEW\s+`?([\w.-]+)`?\s*;?\s*""".r

  /** Execute REFRESH MATERIALIZED VIEW — re-materialize and re-pin
    * ([[TableStore.refreshMaterializedView]]): incremental when the base
    * only grew by appends, full recompute when it was rewritten or lost
    * rows to a delete. */
  def runRefreshMv(store: TableStore, sql: String): Unit = sql match {
    case RefreshMvStmt(target) =>
      store.refreshMaterializedView(baseName(target))
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected REFRESH MATERIALIZED VIEW <mv>")
  }


  /** q60: CREATE TABLE AS SELECT end-to-end through the versioned store —
    * the statement-level DDL that loads a derived table next to the
    * corpus (the reference's load-then-query staging shape as one
    * statement). The CTAS body aggregates per-status order totals; the
    * gate reads the created table back, so the hash proves parse →
    * Catalyst SELECT → truncate-load commit → read-back equals the
    * declarative answer. With q56/q57/q59 this completes the statement
    * surface: DDL + all three DML verbs. */
  def q60SqlCtas(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runCtas(s, store, dir,
      """CREATE TABLE `graft-project.store.status_rollup` AS
        |SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS total_price
        |FROM orders GROUP BY o_orderstatus
        |""".stripMargin)
    store.read("status_rollup")
      .select(col("status"), col("n_orders"),
        col("total_price").cast("double").as("total_price"))
      .sortedSmall("status")
  }

  val q60Oracle: String =
    """SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS total_price
      |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin


  /** q62: statement-level INSERT INTO … SELECT end-to-end through the
    * store — CTAS seeds the open orders, the INSERT appends the
    * fulfilled ones (with the column-list path exercised: `note` is
    * absent from the list and must ride as a typed NULL). The oracle
    * replays both loads declaratively over `orders`, so the hash gate
    * proves parse → Catalyst SELECT → schema-asserted append →
    * read-back. Completes the statement surface: DDL + all four DML
    * verbs (UPDATE q56, MERGE q57/q61, DELETE q59, INSERT q62).
    *
    * Scale shape: append-only — the existing table is never rewritten,
    * the new rows are one SELECT + one parquet write. */
  def q62SqlInsert(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runCtas(s, store, dir,
      """CREATE TABLE `graft-project.store.order_log` AS
        |SELECT o_orderkey, o_totalprice, CAST('open' AS STRING) AS note
        |FROM orders WHERE o_orderstatus = 'O'
        |""".stripMargin)
    runInsert(s, store, dir,
      """INSERT INTO `graft-project.store.order_log`
        |  (o_orderkey, o_totalprice)
        |SELECT o_orderkey, o_totalprice * 0.9
        |FROM orders WHERE o_orderstatus = 'F'
        |""".stripMargin)
    store.read("order_log")
      .select(col("o_orderkey"), col("o_totalprice").as("logged_price"),
        col("note"))
      .sortedWide("o_orderkey", "note")
  }

  val q62Oracle: String =
    """SELECT o_orderkey, o_totalprice AS logged_price, 'open' AS note
      |FROM orders WHERE o_orderstatus = 'O'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 0.9 AS logged_price, NULL AS note
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey, note""".stripMargin

  /** Execute a SELECT whose FROM/JOIN items pin store tables to a point
    * in history, in either syntax:
    *   - `<table> VERSION AS OF <v>` (Delta's spelling) — resolves
    *     through [[TableStore.readVersion]];
    *   - `<table> FOR SYSTEM_TIME AS OF TIMESTAMP '<ts>'` or
    *     `FOR SYSTEM_TIME AS OF <epochMillis>` (BigQuery's actual
    *     spelling, main-line syntax of the reference's warehouse) —
    *     resolves through [[TableStore.readAsOf]]: the newest commit at
    *     or before the timestamp, from the commit-marker stamps.
    * Each reference is loud if the version/time was never committed or
    * has aged out of retention, and binds on its own, so one statement
    * can join a table's history against itself (the audit/debug shape:
    * "what changed since 9am"). The rest of the SELECT is arbitrary
    * Catalyst SQL ([[select]]).
    *
    * Scale shape: a pinned version is just another parquet directory —
    * scans prune and push down exactly like the head version; nothing
    * is copied to pin, and timestamp resolution is a marker-log walk
    * (bounded by retention), no data I/O. */
  def runTimeTravel(s: SparkSession, store: TableStore, dir: String,
      sql: String): DataFrame =
    select(s, store, dir, sql, "time-travel",
      "`<table> VERSION AS OF <v>` or `<table> FOR SYSTEM_TIME AS OF <ts>`") {
      case _: RelationTimeTravel =>
    }

  /** q64: the time-travel SQL front-end end-to-end — commit v1 (the raw
    * orders), commit v2 through the transactional merge (open orders
    * repriced), then run ONE statement joining the two pinned versions
    * to report old vs new price per order. The oracle recomputes both
    * sides declaratively, so the hash gate proves version-pinned
    * resolution → cross-version join → read-back: the SQL face of q58's
    * API-level time travel (retention makes audits a query, not a
    * restore). */
  def q64SqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_tt", orders(s, dir) // commits v1
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.mergeWith("orders_tt") { cur => // commits v2
      cur.select(col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_totalprice") * 1.2)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    }
    runTimeTravel(s, store, dir,
      """SELECT cur.o_orderkey, old.o_totalprice AS old_price,
        |  cur.o_totalprice AS new_price
        |FROM `graft-project.store.orders_tt` VERSION AS OF 2 cur
        |JOIN `graft-project.store.orders_tt` VERSION AS OF 1 old
        |  ON cur.o_orderkey = old.o_orderkey
        |""".stripMargin)
      .sortedWide("o_orderkey")
  }

  val q64Oracle: String =
    """SELECT o_orderkey, o_totalprice AS old_price,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.2
      |       ELSE o_totalprice END AS new_price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q66: the reference's nightly job as ONE LITERAL SCRIPT — exactly
    * main.py:256-287's statement sequence: stage the day's updates as a
    * temp table next to the target (truncate-load, main.py:256-273), run
    * the UPDATE-FROM against it (main.py:274-284, here with the SET
    * arithmetic inline — `temp.o_totalprice * 1.1` — instead of
    * pre-staging the product), and DROP the temp table (main.py:287,
    * `not_found_ok=True` spelled `IF EXISTS`). The script then re-CREATEs
    * a table under the temp's name with a PLAIN create — which
    * [[runCtas]] rejects if the name still exists, so the script
    * completing at all PROVES the drop executed mid-lineage, and the
    * re-created table's content rides into the gated output. Comments in
    * the script (including a ';' inside one) pin the comment-aware
    * splitter. The oracle replays the final state declaratively.
    *
    * Scale shape: per statement, unchanged (CTAS write / one merge join /
    * metadata drop); the script adds zero plan overhead. */
  def q66SqlNightlyScript(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    val n = runScript(s, store, dir,
      """-- nightly maintenance; statements run back-to-back (a ';' here
        |-- inside this comment must not split)
        |CREATE TABLE `graft-project.store.games_played` AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders;
        |CREATE TABLE `graft-project.store.temp_table` AS
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'O';
        |UPDATE `graft-project.store.games_played` target
        |  SET target.o_totalprice = temp.o_totalprice * 1.1
        |  FROM `graft-project.store.temp_table` temp
        |  WHERE target.o_orderkey = temp.o_orderkey;
        |DROP TABLE `graft-project.store.temp_table`;
        |DROP TABLE IF EXISTS `graft-project.store.temp_table`;
        |/* plain CREATE under the dropped name: errors unless the
        |   DROP above really executed; ';' in here must not split */
        |CREATE TABLE `graft-project.store.temp_table` AS
        |  SELECT COUNT(*) AS n_open FROM orders WHERE o_orderstatus = 'O'
        |""".stripMargin)
    require(n == 6, s"script executed $n statements, expected 6")
    store.read("games_played")
      .crossJoin(store.read("temp_table"))
      .select(col("o_orderkey"), col("o_totalprice").as("final_price"),
        col("n_open"))
      .sortedWide("o_orderkey")
  }

  val q66Oracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1
      |       ELSE o_totalprice END AS final_price,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
      |   WHERE o_orderstatus = 'O') AS n_open
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q67: `FOR SYSTEM_TIME AS OF` end-to-end — commit v1 (raw orders),
    * note the wall clock, commit v2 through the transactional merge
    * (open orders repriced), then run ONE statement joining the
    * timestamp-pinned snapshot (epoch-millis form) against the
    * TIMESTAMP-literal-pinned head: BigQuery's actual time-travel
    * spelling beside q64's Delta `VERSION AS OF`, resolved from the
    * commit-marker stamps, not version numbers. The oracle recomputes
    * both sides declaratively, so the hash gate proves stamp-based
    * resolution picks exactly the newest-commit-≤-ts snapshot.
    *
    * The 30 ms pause between the wall-clock capture and the second
    * commit keeps the two commits' millisecond stamps strictly apart —
    * the same discipline a warehouse's commit-time resolution needs at
    * any scale (ties break toward the earlier commit, so a distinct
    * stamp is what makes "as of t1" deterministic). */
  def q67SqlSystemTime(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_st", orders(s, dir) // commits v1
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    val t1 = System.currentTimeMillis()
    Thread.sleep(30)
    store.mergeWith("orders_st") { cur => // commits v2
      cur.select(col("o_orderkey"),
        when(col("o_orderstatus") === "O", col("o_totalprice") * 1.2)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"))
    }
    val t2 = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(System.currentTimeMillis()),
      java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    runTimeTravel(s, store, dir,
      s"""SELECT cur.o_orderkey, old.o_totalprice AS old_price,
         |  cur.o_totalprice AS new_price
         |FROM `graft-project.store.orders_st`
         |  FOR SYSTEM_TIME AS OF TIMESTAMP '$t2' cur
         |JOIN `graft-project.store.orders_st`
         |  FOR SYSTEM_TIME AS OF $t1 old
         |  ON cur.o_orderkey = old.o_orderkey
         |""".stripMargin)
      .sortedWide("o_orderkey")
  }

  val q67Oracle: String = q64Oracle

  /** q68: arithmetic IN the statement — the MERGE carries
    * `s.o_totalprice * 1.05` in BOTH its SET assignment and its INSERT
    * VALUES, so the staged source holds RAW prices (q57 had to
    * pre-stage the product as a CTAS because the front-end only copied
    * columns; this is that wall removed). Same oracle as q57: the gate
    * proves the in-statement expression evaluates identically on the
    * update and insert paths, through parse → full-outer merge →
    * transactional commit → read-back. */
  def q68SqlMergeExpr(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_x", orders(s, dir)
      .filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
    store.overwrite("orders_xs", orders(s, dir) // RAW prices — no staging
      .select(col("o_orderkey"), col("o_totalprice"),
        lit("N").as("o_orderstatus")))
    runMerge(s, store,
      """MERGE INTO `graft-project.store.orders_x` t
        |USING `graft-project.store.orders_xs` s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice * 1.05
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice,
        |  o_orderstatus) VALUES (s.o_orderkey, s.o_totalprice * 1.05,
        |  s.o_orderstatus)
        |""".stripMargin)
    store.drop("orders_xs")
    store.read("orders_x")
      .select(col("o_orderkey"),
        col("o_totalprice").as("merged_price"),
        col("o_orderstatus").as("status"))
      .sortedWide("o_orderkey")
  }

  val q68Oracle: String = q57Oracle

  /** Split a statement script on top-level ';'. The scanner tracks the
    * four SQL span kinds a ';' can legally hide in — single-quoted
    * literals (escaped quotes are '' per SQL: two adjacent literals,
    * which nests correctly), backtick-quoted identifiers, `--` line
    * comments, and bracketed comments — so none of them ever missplits
    * a statement. Quoted spans are preserved; comments are STRIPPED
    * (replaced by whitespace), so the per-verb parsers — whose grammars
    * have no comment rule — always see a comment-free statement and verb
    * dispatch reads the first real token even under a leading comment. A
    * fragment that was only comments dissolves to whitespace and drops. */
  private[graft] def splitScript(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var inTick = false
    var inLine = false
    var inBlock = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      val next = if (i + 1 < script.length) script.charAt(i + 1) else ' '
      if (inLine) {
        if (c == '\n') { inLine = false; cur += '\n' }
        i += 1
      }
      else if (inBlock) {
        if (c == '*' && next == '/') { inBlock = false; cur += ' '; i += 2 }
        else i += 1
      }
      else if (inQuote) { if (c == '\'') inQuote = false; cur += c; i += 1 }
      else if (inTick) { if (c == '`') inTick = false; cur += c; i += 1 }
      else c match {
        case '\'' => inQuote = true; cur += c; i += 1
        case '`' => inTick = true; cur += c; i += 1
        case '-' if next == '-' => inLine = true; i += 2
        case '/' if next == '*' => inBlock = true; i += 2
        case ';' => out += cur.toString; cur.clear(); i += 1
        case _ => cur += c; i += 1
      }
    }
    require(!inQuote, "unterminated string literal in statement script")
    require(!inTick, "unterminated backtick identifier in statement script")
    require(!inBlock, "unterminated /* comment in statement script")
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val DropIndexStmt =
    """(?is)\s*DROP\s+INDEX\s+(IF\s+EXISTS\s+)?`?(\w+)`?\s*;?\s*""".r

  private val CreateIndexStmt = (
    """(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?INDEX\s+`?(\w+)`?\s+ON\s+""" +
    """`?([\w.-]+)`?\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)\s+USING\s+(\w+)""" +
    """\s*;?\s*""").r
  private val RefreshIndexStmt =
    """(?is)\s*REFRESH\s+INDEX\s+`?(\w+)`?\s*;?\s*""".r

  /** Execute CREATE [OR REPLACE] INDEX <i> ON <t> (<key>, <col>) USING
    * <kind> — build + commit + stamp ([[Indexes.create]]). */
  def runCreateIndex(s: SparkSession, store: TableStore,
      sql: String): Unit = sql match {
    case CreateIndexStmt(orReplace, iname, target, key, column, kind) =>
      Indexes.create(s, store, iname, baseName(target), key, column,
        kind, orReplace != null)
    case _ => throw new IllegalArgumentException(
      "unsupported DDL: expected CREATE [OR REPLACE] INDEX <i> ON <t> " +
        "(<key>, <col>) USING <kind>")
  }

  /** Execute REFRESH INDEX <i> — rebuild from the current base state and
    * re-stamp ([[Indexes.refresh]]): the explicit heal for the
    * refuse-stale-probes contract. */
  def runRefreshIndex(s: SparkSession, store: TableStore,
      sql: String): Unit = sql match {
    case RefreshIndexStmt(iname) => Indexes.refresh(s, store, iname)
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected REFRESH INDEX <i>")
  }


  private val AnalyzeStmt =
    """(?is)\s*ANALYZE\s+TABLE\s+`?([\w.-]+)`?\s*;?\s*""".r
  private val AnalyzeBloomStmt =
    """(?is)\s*ANALYZE\s+TABLE\s+`?([\w.-]+)`?\s+BLOOM\s*\(\s*(\w+(?:\s*,\s*\w+)*)\s*\)\s*;?\s*""".r

  /** Execute ANALYZE TABLE — publish footer-derived per-file stats for
    * the table's current version ([[graft.psn.TableStore.analyze]]), the
    * explicit stats refresh every warehouse exposes (BigQuery keeps
    * clustered-table metadata implicitly; ANSI engines spell it ANALYZE).
    * O(files) metadata reads, no data scanned. `ANALYZE TABLE t BLOOM
    * (c1, …)` additionally opts the columns into per-file Bloom filters
    * for equality skipping ([[graft.psn.TableStore.analyzeBloom]] — one
    * grouped build job; maintained by every later analyze). */
  def runAnalyze(store: TableStore, sql: String): Unit = sql match {
    case AnalyzeBloomStmt(target, colList) =>
      val name = baseName(target)
      require(store.exists(name), s"ANALYZE TABLE $name: table does not exist")
      store.analyzeBloom(name, colList.split(",").toSeq.map(_.trim))
    case AnalyzeStmt(target) =>
      val name = baseName(target)
      require(store.exists(name), s"ANALYZE TABLE $name: table does not exist")
      store.analyze(name)
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected ANALYZE TABLE <t> [BLOOM (c1, …)]")
  }

  private val RestoreStmt =
    """(?is)\s*RESTORE\s+TABLE\s+`?([\w.-]+)`?\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r

  /** Execute RESTORE TABLE … TO VERSION AS OF <v> — rollback as a
    * link-only commit ([[graft.psn.TableStore.restore]]): the snapshot's
    * files, declared schema, and deletion vector become the new head;
    * the rolled-back commits stay readable until GC. */
  def runRestore(store: TableStore, sql: String): Unit = sql match {
    case RestoreStmt(target, v) =>
      val name = baseName(target)
      require(store.exists(name), s"RESTORE $name: table does not exist")
      require(store.restore(name, v.toInt),
        s"RESTORE $name lost its commit race — rerun")
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected RESTORE TABLE <t> TO VERSION AS OF <v>")
  }

  private val VacuumStmt =
    """(?is)\s*VACUUM\s+`?([\w.-]+)`?(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r

  /** Execute VACUUM — sweep orphaned claim directories left by crashed
    * writers ([[graft.psn.TableStore.vacuum]]), age-gated by the RETAIN
    * window (default 1 hour — the lease discipline: a writer silent for
    * the TTL is dead, not slow). Delta's VACUUM shape; a no-op on a
    * healthy table. */
  def runVacuum(store: TableStore, sql: String): Unit = sql match {
    case VacuumStmt(target, hours) =>
      val name = baseName(target)
      require(store.exists(name), s"VACUUM $name: table does not exist")
      store.vacuum(name,
        if (hours == null) 3600000L else hours.toLong * 3600000L)
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected VACUUM <t> [RETAIN <n> HOURS]")
  }

  private val OptimizeStmt =
    """(?is)\s*OPTIMIZE\s+`?([\w.-]+)`?(?:\s+CLUSTER\s+BY\s*\(\s*(\w+)\s*\)(?:\s+INTO\s+(\d+)\s+FILES)?)?\s*;?\s*""".r
  private val OptimizeZStmt =
    """(?is)\s*OPTIMIZE\s+`?([\w.-]+)`?\s+ZORDER\s+BY\s*\(\s*(\w+(?:\s*,\s*\w+)+)\s*\)(?:\s+INTO\s+(\d+)\s+FILES)?\s*;?\s*""".r

  /** Execute OPTIMIZE — the lakehouse maintenance verb. Bare
    * `OPTIMIZE t` bin-packs small files ([[graft.psn.TableStore.compact]]);
    * `OPTIMIZE t CLUSTER BY (col) [INTO n FILES]` rewrites the table
    * range-disjoint on the column and refreshes its stats
    * ([[graft.psn.TableStore.cluster]]) so data skipping prunes —
    * Delta's OPTIMIZE / OPTIMIZE ZORDER BY shape. Both are pure layout
    * transactions: a lost CAS race (concurrent writer) is LOUD here —
    * in a script, statement N+1 expects N's layout to exist. */
  def runOptimize(s: SparkSession, store: TableStore, sql: String): Unit =
    sql match {
      case OptimizeZStmt(target, colList, files) =>
        val name = baseName(target)
        require(store.exists(name), s"OPTIMIZE $name: table does not exist")
        val cols = colList.split(",").toSeq.map(_.trim)
        require(store.clusterZ(name, cols,
          if (files == null) s.sparkContext.defaultParallelism
          else files.toInt),
          s"OPTIMIZE $name ZORDER lost its commit race — rerun")
      case OptimizeStmt(target, cluster, files) =>
        val name = baseName(target)
        require(store.exists(name), s"OPTIMIZE $name: table does not exist")
        val ok =
          if (cluster == null) store.compact(name)
          else store.cluster(name, cluster,
            if (files == null) s.sparkContext.defaultParallelism
            else files.toInt)
        require(ok, s"OPTIMIZE $name lost its commit race — rerun")
      case _ => throw new IllegalArgumentException(
        "unsupported statement: expected OPTIMIZE <t> " +
          "[CLUSTER BY (<col>) [INTO <n> FILES]]")
    }


  /** Execute a ';'-separated statement SCRIPT against one store — the
    * reference's nightly job is exactly this shape (stage a temp table,
    * UPDATE … FROM it, drop it — main.py:256-287 runs the statements
    * back-to-back). Each statement goes through [[execute]] and commits
    * through the versioned store before the next one parses, so statement
    * N+1 always reads statement N's committed table state, and a crash
    * between statements leaves every table at a committed version (the
    * store's invariant, inherited by the script). A `BEGIN … COMMIT |
    * ROLLBACK` block runs as one transaction ([[buildTransaction]]).
    * Returns the number of statements executed. */
  def runScript(s: SparkSession, store: TableStore, dir: String,
      script: String): Int = {
    val stmts = splitScript(script)
    require(stmts.nonEmpty, "empty statement script")
    // heal any transaction a previous process crashed mid-publish —
    // manifests are roll-forward by construction (see
    // [[graft.psn.TableStore.recoverTransactions]]); O(1) when none
    store.recoverTransactions()
    var i = 0
    while (i < stmts.length) {
      val st = stmts(i)
      if (st.split("\\s+", 2).head.equalsIgnoreCase("BEGIN")) {
        require(st.matches("(?is)\\s*BEGIN(\\s+TRANSACTION)?\\s*"),
          s"unsupported statement: expected BEGIN [TRANSACTION], got '$st'")
        val end = stmts.indexWhere(x => {
          val v = x.split("\\s+", 2).head.toUpperCase
          v == "COMMIT" || v == "ROLLBACK"
        }, i + 1)
        require(end >= 0, "BEGIN without a matching COMMIT/ROLLBACK")
        val body = stmts.slice(i + 1, end)
        require(!body.exists(
            _.split("\\s+", 2).head.equalsIgnoreCase("BEGIN")),
          "nested BEGIN is unsupported")
        val pinned = scala.collection.mutable.ArrayBuffer[DataFrame]()
        try {
          val writes = buildTransaction(s, store, dir, body, pinned)
          if (stmts(end).split("\\s+", 2).head.equalsIgnoreCase("COMMIT"))
            store.commitTransaction(writes)
          // ROLLBACK: every statement executed and validated against the
          // overlay, nothing staged, nothing published — zero store trace
        } finally pinned.foreach(_.unpersist())
        i = end + 1
      } else {
        execute(s, store, Some(dir), st)
        i += 1
      }
    }
    stmts.length
  }

  /** What one committed statement reports: the table (or view) it created
    * or wrote, and the rows a deletion-vector DELETE removed. */
  private final case class Done(name: String = "", deleted: Long = 0L)

  /** One statement outside a transaction — the single dispatch behind
    * [[runScript]] and every `run*` entry point. Graft-only verbs match
    * their anchored regexes first; everything else is Spark's parse, then
    * one match on the logical plan: a data verb commits its [[Effect]],
    * DDL runs its store verb, and any other plan is loud. */
  private def execute(s: SparkSession, store: TableStore,
      dir: Option[String], st: String): Done =
    graftVerb(s, store, dir, st).getOrElse {
      val ctx = new Ctx(s, store, dir)
      effect(ctx).andThen(commit(store, _))
        .applyOrElse(parse(s, st), ddl(ctx))
    }

  /** The verbs Spark has no grammar for, by leading keyword and anchored
    * regex; None hands the statement to Spark's parser. */
  private def graftVerb(s: SparkSession, store: TableStore,
      dir: Option[String], st: String): Option[Done] = {
    def done(run: => Unit): Option[Done] = { run; Some(Done()) }
    st.trim.split("\\s+", 2).head.toUpperCase match {
      case "ANALYZE" => done(runAnalyze(store, st))
      case "OPTIMIZE" => done(runOptimize(s, store, st))
      case "VACUUM" => done(runVacuum(store, st))
      case "RESTORE" => done(runRestore(store, st))
      case "LOAD" => done(runLoad(s, store, st): Unit)
      case "EXPORT" => Some(Done(runExport(s, store, dir.orNull, st)))
      case "REFRESH" => st match {
        case RefreshIndexStmt(_*) => done(runRefreshIndex(s, store, st))
        case _ => done(runRefreshMv(store, st))
      }
      case _ => st match {
        case CloneStmt(_*) => Some(Done(runClone(store, st)))
        case CreateMvStmt(_*) => Some(Done(runCreateMv(store, st)))
        case CreateIndexStmt(_*) => done(runCreateIndex(s, store, st))
        case DropIndexStmt(ifExists, index) =>
          done(Indexes.drop(store, index, ifExists != null))
        case _ => None
      }
    }
  }

  /** BigQuery's `UPDATE <t> [a] SET … FROM <s> [AS] b WHERE …` — the one
    * statement shape Spark's grammar lacks: the FROM clause is lifted out
    * and the rest parses as Spark's UPDATE. */
  private val UpdateFromStmt = (
    """(?is)(\s*UPDATE\s.+?\sSET\s.+?)\s+FROM\s+(`[^`]+`|[\w.]+)\s+""" +
    """(?:AS\s+)?(\w+)\s+(WHERE\s.+)""").r

  /** Spark's parse of one statement; UPDATE … FROM comes back as an
    * UpdateTable over the Join of target and source. Text outside Spark's
    * grammar is loud as IllegalArgumentException carrying Spark's
    * message. */
  private def parse(s: SparkSession, st: String): LogicalPlan = {
    def plan(text: String): LogicalPlan =
      try s.sessionState.sqlParser.parsePlan(text)
      catch { case e: ParseException =>
        throw new IllegalArgumentException(e.getMessage, e) }
    st match {
      case UpdateFromStmt(update, source, alias, where) =>
        plan(s"$update $where") match {
          case u: UpdateTable => u.copy(table = Join(u.table,
            SubqueryAlias(alias, UnresolvedRelation(
              Seq(source.stripPrefix("`").stripSuffix("`")))),
            Inner, None, JoinHint.NONE))
          case other => other
        }
      case _ => plan(st)
    }
  }

  /** Table ids keep only their last dotted segment — the store is the
    * single-namespace analog of `project.dataset`. */
  private def baseName(qualified: String): String =
    qualified.split('.').last

  private def nameOf(parts: Seq[String]): String = baseName(parts.last)

  /** The store table a parsed reference names, and the alias its columns
    * qualify with (the table's own name when none is declared). */
  private def named(p: LogicalPlan): (String, String) = p match {
    case SubqueryAlias(id, child) => (named(child)._1, id.name)
    case _ =>
      val n = nameOf(p match {
        case r: UnresolvedRelation => r.multipartIdentifier
        case r: UnresolvedTable => r.multipartIdentifier
        case r: UnresolvedTableOrView => r.multipartIdentifier
        case r: UnresolvedIdentifier => r.nameParts
        case other => throw new IllegalArgumentException(
          s"expected a table name, got ${other.nodeName}")
      })
      (n, n)
  }

  private def table(p: LogicalPlan): String = named(p)._1

  /** Where a statement reads. Every query a statement runs — INSERT …
    * SELECT, CTAS, CREATE VIEW, EXPORT, MERGE/UPDATE sources, DELETE
    * subqueries, the SELECT entry points — binds its relations in
    * [[query]], one walk of Spark's parse ([[mapRelations]]). A name binds
    * to the first of:
    *   - the transaction's uncommitted overlay (inside BEGIN … COMMIT),
    *     which shadows the store — read-your-own-writes;
    *   - a store table; a trailing `*` is the wildcard union
    *     ([[TableStore.readWildcard]]);
    *   - a store logical view: its stored SQL, parsed and bound by this
    *     same resolver, only when a statement references it — so a broken
    *     view fails where it is used, and a view cycle is loud;
    *   - a corpus table, when the statement has a corpus directory;
    *   - otherwise Catalyst, by the name's last segment (session views).
    * A name an enclosing WITH defines is always Catalyst's CTE.
    * `<t> VERSION AS OF <v>` and `<t> FOR SYSTEM_TIME AS OF <ts>` bind to
    * [[TableStore.readVersion]] / [[TableStore.readAsOf]], and
    * `table_changes(<t>, <from>, <to>, '<key>')` to
    * [[TableStore.diffVersions]]. */
  private final class Ctx(s: SparkSession, val store: TableStore,
      dir: Option[String],
      val overlay: scala.collection.mutable.LinkedHashMap[String, DataFrame] =
        scala.collection.mutable.LinkedHashMap.empty) {
    def exists(t: String): Boolean = overlay.contains(t) || store.exists(t)

    def read(t: String): DataFrame = overlay.getOrElse(t, {
      require(store.exists(t),
        s"table $t does not exist (in the store or this transaction)")
      store.read(t)
    })

    /** A statement's query with every relation bound, analyzed. */
    def query(p: LogicalPlan): DataFrame = GraftBridge.ofRows(s, bind(p, Nil))

    /** A predicate with each subquery's relations bound as in [[query]]. */
    def bound(e: Expression): Expression = e.transform {
      case q: SubqueryExpression => q.withNewPlan(bind(q.plan, Nil))
    }

    /** `views`: the logical views being expanded, innermost first. */
    private def bind(p: LogicalPlan, views: List[String]): LogicalPlan =
      mapRelations(p) {
        case RelationTimeTravel(r: UnresolvedRelation, ts, v) =>
          val t = nameOf(r.multipartIdentifier)
          // an integral SYSTEM_TIME literal is epoch millis; a TIMESTAMP
          // literal is the instant Spark parsed (micros) in the session
          // zone, UTC in every [[graft.Sessions.local]] session
          aliased(t, (ts, v) match {
            case (None, Some(n)) if n.toIntOption.nonEmpty =>
              store.readVersion(t, n.toInt)
            case (Some(Literal(ms: Number, IntegerType | LongType)), None) =>
              store.readAsOf(t, ms.longValue)
            case (Some(Literal(us: Long, TimestampType)), None) =>
              store.readAsOf(t, Math.floorDiv(us, 1000L))
            case _ => throw new IllegalArgumentException(
              s"time travel on $t: expected VERSION AS OF <integer> or " +
                "FOR SYSTEM_TIME AS OF TIMESTAMP '<ts>' | <epochMillis>")
          })
        case TableChanges(t, from, to, key) =>
          store.diffVersions(t, from, to, key).queryExecution.analyzed
        case r: UnresolvedRelation =>
          val t = nameOf(r.multipartIdentifier)
          relation(t, views).fold[LogicalPlan](
            r.copy(multipartIdentifier = Seq(t)))(aliased(t, _))
      }

    private def relation(t: String, views: List[String]): Option[DataFrame] =
      overlay.get(t)
        .orElse(Option.when(t.endsWith("*"))(store.readWildcard(t.init)))
        .orElse(Option.when(store.exists(t))(store.read(t)))
        .orElse(Option.when(store.isView(t)) {
          require(!views.contains(t),
            s"logical view cycle: ${(t :: views).reverse.mkString(" → ")}")
          GraftBridge.ofRows(s, bind(parse(s, store.viewSql(t)), t :: views))
        })
        .orElse(dir.filter(_ => Tables.corpus.contains(t))
          .map(Tables.load(s, _, t)))
  }

  private def aliased(t: String, df: DataFrame): LogicalPlan =
    SubqueryAlias(t, df.queryExecution.analyzed)

  /** `p` with `bind` applied to each relation leaf it reads — in subqueries
    * and WITH bodies too — except a name an enclosing WITH defines, which
    * Catalyst binds to its CTE. A leaf `bind` does not match stays as
    * parsed. */
  private def mapRelations(p: LogicalPlan)(
      bind: PartialFunction[LogicalPlan, LogicalPlan]): LogicalPlan = {
    def walk(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        // each definition sees the names before it (and, under WITH
        // RECURSIVE, its own); the body sees them all
        val (defs, scope) = w.cteRelations.foldLeft(
            (Vector.empty[(String, SubqueryAlias, Option[Int])], ctes)) {
          case ((done, in), (n, d, depth)) =>
            val own = if (w.allowRecursion) in + n.toLowerCase else in
            (done :+ ((n, d.copy(child = walk(d.child, own)), depth)),
              in + n.toLowerCase)
        }
        w.copy(child = walk(w.child, scope), cteRelations = defs)
      case r: UnresolvedRelation if r.multipartIdentifier.length == 1 &&
          ctes(r.multipartIdentifier.head.toLowerCase) => r
      case leaf if bind.isDefinedAt(leaf) => bind(leaf)
      case other => other.mapChildren(walk(_, ctes)).transformExpressions {
        case e: SubqueryExpression => e.withNewPlan(walk(e.plan, ctes))
      }
    }
    walk(p, Set.empty)
  }

  /** The relation leaves a parsed query reads, in walk order. */
  private def relationLeaves(p: LogicalPlan): Seq[LogicalPlan] = {
    val out = Seq.newBuilder[LogicalPlan]
    mapRelations(p) {
      case l @ (_: UnresolvedRelation | _: RelationTimeTravel |
          _: UnresolvedTableValuedFunction) => out += l; l
    }
    out.result()
  }

  /** The store names a query's SQL reads — tables, views, time-travel
    * pins and TABLE_CHANGES bases, never a WITH name: what a logical view
    * pins ([[TableStore.viewsReferencing]]). */
  private[graft] def relationsIn(s: SparkSession, sql: String): Set[String] =
    relationLeaves(parse(s, sql)).collect {
      case r: UnresolvedRelation => nameOf(r.multipartIdentifier)
      case RelationTimeTravel(r: UnresolvedRelation, _, _) =>
        nameOf(r.multipartIdentifier)
      case TableChanges(t, _, _, _) => t
    }.toSet

  /** `table_changes(<t>, <from>, <to>, '<key>')`, its arguments literals
    * (loud otherwise). */
  private object TableChanges {
    def unapply(p: LogicalPlan): Option[(String, Int, Int, String)] = p match {
      case f: UnresolvedTableValuedFunction
          if f.name.last.equalsIgnoreCase("table_changes") =>
        f.functionArgs match {
          case Seq(t: UnresolvedAttribute, Literal(from: Int, IntegerType),
              Literal(to: Int, IntegerType), Literal(key, StringType)) =>
            Some((nameOf(t.nameParts), from, to, key.toString))
          case args => throw new IllegalArgumentException(
            s"TABLE_CHANGES(${args.map(_.sql).mkString(", ")}): expected " +
              "(<table>, <from version>, <to version>, '<key>') as literals")
        }
      case _ => None
    }
  }

  /** The SELECT entry points: one SELECT over the corpus and the store,
    * bound by [[Ctx.query]]. `kind` names the caller's verb, which must be
    * a query (never DML or DDL) holding at least one reference `ref`
    * matches. */
  private def select(s: SparkSession, store: TableStore, dir: String,
      sql: String, kind: String, refName: String)(
      ref: PartialFunction[LogicalPlan, Unit]): DataFrame = {
    val plan = parse(s, sql)
    require(!plan.isInstanceOf[Command] && !plan.isInstanceOf[ParsedStatement],
      s"$kind statements are SELECT-only")
    require(relationLeaves(plan).exists(ref.isDefinedAt),
      s"no $refName reference in the statement")
    new Ctx(s, store, Some(dir)).query(plan)
  }

  /** What a data statement does to its target: committed as one store
    * version ([[commit]]) or applied to a transaction's overlay
    * ([[buildTransaction]]). */
  private sealed trait Effect { def target: String }
  /** A current → next rewrite (UPDATE … FROM, MERGE, DELETE … IN). */
  private final case class Rewrite(target: String,
      next: DataFrame => DataFrame) extends Effect
  private final case class Append(target: String, rows: DataFrame)
      extends Effect
  /** CREATE [OR REPLACE] TABLE … AS SELECT. */
  private final case class Replace(target: String, rows: DataFrame)
      extends Effect
  private final case class DeleteWhere(target: String, cond: Column)
      extends Effect

  private def commit(store: TableStore, e: Effect): Done = e match {
    case Rewrite(t, next) => store.mergeWith(t)(next); Done(t)
    case Append(t, rows) => store.append(t, rows); Done(t)
    case Replace(t, rows) => store.overwrite(t, rows); Done(t)
    case DeleteWhere(t, cond) => Done(t, store.deleteRows(t, cond))
  }

  /** The data verbs, shared by the committing and the transactional path:
    * Spark's plan → the statement's [[Effect]]. */
  private def effect(ctx: Ctx): PartialFunction[LogicalPlan, Effect] = {
    case m: MergeIntoTable =>
      rowLevel(ctx, m.targetTable, m.sourceTable, m.mergeCondition,
        m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions,
        updateFrom = false)
    case UpdateTable(Join(target, source, _, _, _), sets, Some(where)) =>
      rowLevel(ctx, target, source, where, Seq(UpdateAction(None, sets)),
        Nil, Nil, updateFrom = true)
    case DeleteFromTable(target, cond) => delete(ctx, target, cond)
    case i: InsertIntoStatement
        if !i.overwrite && !i.byName && i.partitionSpec.isEmpty =>
      val t = table(i.table)
      Append(t, alignedInsert(ctx.query(i.query), ctx.read(t).schema, t,
        i.userSpecifiedCols))
    case c: CreateTableAsSelect
        if c.partitioning.isEmpty && !c.ignoreIfExists =>
      ctas(ctx, table(c.name), c.query, replace = false)
    case r: ReplaceTableAsSelect if r.partitioning.isEmpty =>
      ctas(ctx, table(r.name), r.query, replace = true)
  }

  /** The one row-level executor: MERGE, and UPDATE … FROM as an
    * update-only MERGE. Columns bind as Catalyst expressions by alias
    * qualifier (target `.as(tAlias)`, source `.as(sAlias)`), so every
    * expression Spark parses — function calls, nested CASE, AND/OR —
    * executes. The ON/WHERE's cross-alias column equalities are the key
    * of the one-source-row probe, which covers every source row that can
    * reach a clause: those passing the source-only conjuncts, or all of
    * them when an INSERT can take the rows that fail one. The whole
    * condition is the join condition, so a row failing any other conjunct
    * is unmatched.
    * Join-side presence is dispatched on literal MARKER columns, not key
    * nullability: a target row whose key is NULL can never match, and
    * ANSI/BigQuery route it through NOT MATCHED BY SOURCE. UPDATE … FROM
    * keeps its own shape: a left join, and a null source key is harmless
    * (it never matches, and nothing inserts it). */
  private def rowLevel(ctx: Ctx, target: LogicalPlan, source: LogicalPlan,
      on: Expression, matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      bySource: Seq[MergeAction], updateFrom: Boolean): Effect = {
    val (tgt, tA) = named(target)
    val (srcPlan, sA) = source match {
      case SubqueryAlias(id, child) => (child, id.name)
      case r => (r, table(r))
    }
    require(!tA.equalsIgnoreCase(sA),
      s"target and source share the alias '$tA' — alias them apart")
    require(ctx.exists(tgt),
      s"table $tgt does not exist (in the store or this transaction)")
    /** The aliases an expression reads; loud on a third alias or an
      * unqualified column. */
    def reads(e: Expression): Set[String] =
      e.collect { case a: UnresolvedAttribute => a.nameParts }.map {
        case Seq(q, _, _*) if q.equalsIgnoreCase(tA) => tA
        case Seq(q, _, _*) if q.equalsIgnoreCase(sA) => sA
        case Seq(q, _, _*) => throw new IllegalArgumentException(
          s"alias '$q' in '${e.sql}' is neither '$tA' nor '$sA'")
        case bare => throw new IllegalArgumentException(
          s"unqualified column '${bare.mkString(".")}' in '${e.sql}': " +
            s"qualify columns with '$tA.' or '$sA.'")
      }.toSet
    def refuse(e: Expression, side: String, why: String): Unit =
      require(!reads(e).contains(side), s"'${e.sql}' $why")
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val conds = conjuncts(on)
    val keys = conds.collect {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if reads(a) != reads(b) => if (reads(a) == Set(sA)) a else b
    }
    require(keys.nonEmpty,
      s"'${on.sql}' needs a '$tA.<col> = $sA.<col>' equality: the join key")
    matched.foreach {
      case _: UpdateStarAction => throw new IllegalArgumentException(
        "UPDATE SET * is unsupported: name the assigned columns")
      case u: UpdateAction =>
        u.assignments.foreach {
          case Assignment(k: UnresolvedAttribute, v)
              if k.nameParts.length == 1 || (k.nameParts.length == 2 &&
                k.nameParts.head.equalsIgnoreCase(tA)) => reads(v)
          case Assignment(k, _) => throw new IllegalArgumentException(
            s"SET column '${k.sql}' must be a column of target '$tA'")
        }
        u.condition.foreach(reads)
      case a => a.condition.foreach(reads)
    }
    notMatched.foreach {
      case InsertAction(cond, sets) => (cond ++ sets.map(_.value)).foreach(
        refuse(_, tA, "reads the target — no target row exists on the " +
          "insert path"))
      case _ => throw new IllegalArgumentException(
        "INSERT * is unsupported: name the inserted columns")
    }
    bySource.foreach {
      case DeleteAction(cond) => cond.foreach(refuse(_, sA,
        "reads the source — no source row exists on the NOT MATCHED BY " +
          "SOURCE arm"))
      case _ => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports THEN DELETE only")
    }
    val c = GraftBridge.column _
    val src = ctx.query(srcPlan)
    // marker names live outside any real column namespace; a column that
    // matches a marker is refused loudly rather than clobbered
    val (tMark, sMark) = ("__graft_pres_t", "__graft_pres_s")
    require(!src.columns.exists(_.equalsIgnoreCase(sMark)),
      s"MERGE source carries reserved column name $sMark")
    // eager, once per statement: one bounded LIMIT-1 probe of the keys. A
    // source row failing a source-only conjunct never matches, so it is
    // left out unless an INSERT can take it
    val reachable =
      if (notMatched.isEmpty) conds.filter(reads(_) == Set(sA)) else Nil
    val probed = reachable.foldLeft(src.as(sA))((d, p) => d.filter(c(p)))
      .groupBy(keys.zipWithIndex.map { case (k, i) => c(k).as(s"__k$i") }: _*)
      .count()
    val nullKey = keys.indices.map(i => col(s"__k$i").isNull).reduce(_ || _)
    val bad = probed
      .filter(if (updateFrom) col("count") > 1 else col("count") > 1 || nullKey)
      .limit(1).collect()
    require(bad.isEmpty, {
      val srcName = srcPlan match {
        case r: UnresolvedRelation => nameOf(r.multipartIdentifier)
        case _ => sA
      }
      val k = keys.map(_.nameParts.last).mkString(", ")
      val v = keys.indices.map(bad.head.get).mkString(", ")
      if (updateFrom)
        s"UPDATE FROM $srcName: source key $k value '$v' matches multiple rows"
      else s"MERGE USING $srcName: source key $k value '$v' is null or non-unique"
    })
    def pred(a: MergeAction): Column = a.condition.map(c).getOrElse(lit(true))
    // first-match-wins: index of the first clause whose condition holds,
    // -1 when none fires
    def firing(group: Seq[MergeAction]): Column =
      group.zipWithIndex.foldRight(lit(-1)) {
        case ((a, i), acc) => when(pred(a), lit(i)).otherwise(acc)
      }
    Rewrite(tgt, cur => {
      // the source marker must be absent from the target too, or the
      // joined frame would carry it twice
      Seq(tMark, sMark).foreach(m => require(
        !cur.columns.exists(_.equalsIgnoreCase(m)),
        s"MERGE target carries reserved column name $m"))
      val unknown = (matched ++ notMatched).flatMap {
        case u: UpdateAction => u.assignments
        case i: InsertAction => i.assignments
        case _ => Nil
      }.collect { case Assignment(k: UnresolvedAttribute, _) =>
        k.nameParts.last
      }.filterNot(n => cur.columns.exists(_.equalsIgnoreCase(n)))
      require(unknown.isEmpty,
        s"column(s) ${unknown.distinct.mkString(", ")} not in $tgt")
      def t(name: String): Column = c(UnresolvedAttribute(Seq(tA, name)))
      val srcM = c(UnresolvedAttribute(Seq(sA, sMark))).isNotNull
      val tgtM = t(tMark).isNotNull
      val (mAct, iAct, nAct) =
        (firing(matched), firing(notMatched), firing(bySource))
      val delIdx = matched.zipWithIndex.collect { case (_: DeleteAction, i) => i }
      val keep =
        when(srcM && tgtM,
          if (delIdx.isEmpty) lit(true) else !mAct.isin(delIdx: _*))
        .when(srcM && !tgtM, iAct >= 0)
        .when(!srcM && tgtM, if (bySource.isEmpty) lit(true) else nAct < 0)
        .otherwise(lit(true))
      val out = cur.schema.fields.toSeq.map { f =>
        def value(sets: Seq[Assignment]): Option[Column] = sets.collectFirst {
          case Assignment(k: UnresolvedAttribute, v)
              if k.nameParts.last.equalsIgnoreCase(f.name) => c(v)
        }
        val upd = matched.zipWithIndex.foldRight(t(f.name)) {
          case ((u: UpdateAction, i), acc) =>
            value(u.assignments).fold(acc)(v => when(mAct === i, v).otherwise(acc))
          case (_, acc) => acc // fired DELETEs never reach the select
        }
        val none = lit(null).cast(f.dataType)
        val ins = notMatched.zipWithIndex.foldRight(none) {
          case ((InsertAction(_, sets), i), acc) =>
            when(iAct === i, value(sets).getOrElse(none)).otherwise(acc)
          case (_, acc) => acc
        }
        when(srcM && !tgtM, ins).when(srcM && tgtM, upd)
          .otherwise(t(f.name)).as(f.name)
      }
      cur.withColumn(tMark, lit(true)).as(tA)
        .join(src.withColumn(sMark, lit(true)).as(sA), c(on),
          if (updateFrom) "left" else "full")
        .filter(keep).select(out: _*)
    })
  }

  /** DELETE: `[a.]k IN (<subquery>)` is the tombstone anti-join rewrite;
    * any other condition is a deletion-vector delete (inside a
    * transaction, the overlay filter). */
  private def delete(ctx: Ctx, target: LogicalPlan, cond: Expression): Effect = {
    val (t, alias) = named(target)
    require(ctx.exists(t), s"DELETE FROM $t: table does not exist")
    def unqualified(parts: Seq[String]): Seq[String] = parts match {
      case Seq(q, rest @ _*) if rest.nonEmpty && q.equalsIgnoreCase(alias) =>
        rest
      case other => other
    }
    cond match {
      case InSubquery(Seq(k: UnresolvedAttribute), q) =>
        // 'WHERE x.k' on target alias 'a' must not silently bind to 'a'
        require(k.nameParts.length == 1 ||
            k.nameParts.head.equalsIgnoreCase(alias),
          s"WHERE column '${k.name}' must belong to target alias '$alias'")
        val key = unqualified(k.nameParts).mkString(".")
        val tomb = ctx.query(q.plan)
        require(tomb.columns.length == 1,
          s"DELETE … IN: the subquery must select one column, got " +
            tomb.columns.mkString(", "))
        // NULL tombstones never match under SQL IN; distinct keeps the
        // broadcast side minimal
        val keys = tomb.toDF("__d_key").filter(col("__d_key").isNotNull)
          .distinct()
        Rewrite(t, cur =>
          cur.join(broadcast(keys), cur(key) === col("__d_key"), "left_anti"))
      case _ =>
        DeleteWhere(t, GraftBridge.column(ctx.bound(cond).transform {
          case a: UnresolvedAttribute => UnresolvedAttribute(unqualified(a.nameParts))
        }))
    }
  }

  private def ctas(ctx: Ctx, name: String, query: LogicalPlan,
      replace: Boolean): Effect = {
    // the table/view namespace is mutually exclusive (createView checks
    // the reverse direction): a table materialized under a view's name
    // would share its directory with the stored definition
    require(!ctx.store.isView(name),
      s"CREATE TABLE $name: a logical view already holds the name " +
        "(DROP VIEW first, or pick another name)")
    require(replace || !ctx.exists(name),
      s"CREATE TABLE $name: table already exists " +
        "(use CREATE OR REPLACE TABLE to truncate-load it)")
    Replace(name, ctx.query(query))
  }

  /** Align an INSERT's rows to the target schema: column-list reorder and
    * typed-NULL fill of unnamed columns. */
  private def alignedInsert(sel: DataFrame,
      tgtSchema: org.apache.spark.sql.types.StructType, target: String,
      cols: Seq[String]): DataFrame =
    if (cols.isEmpty) sel
    else {
      require(cols.map(_.toLowerCase).distinct.length == cols.length,
        s"INSERT column list (${cols.mkString(", ")}) names a column twice")
      require(cols.length == sel.columns.length,
        s"INSERT column list (${cols.length}) and SELECT arity " +
          s"(${sel.columns.length}) must align")
      val unknown = cols.filterNot(c =>
        tgtSchema.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(unknown.isEmpty,
        s"INSERT column(s) ${unknown.mkString(", ")} not in $target")
      val named = sel.toDF(cols: _*)
      named.select(tgtSchema.fields.toSeq.map { f =>
        if (cols.exists(_.equalsIgnoreCase(f.name))) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }

  /** DDL, outside transactions: each plan runs its store verb; any plan
    * the store does not execute is loud. */
  private def ddl(ctx: Ctx)(plan: LogicalPlan): Done = {
    val store = ctx.store
    def raced(ok: Boolean, what: String): Unit =
      require(ok, s"$what lost its commit race — rerun")
    plan match {
      case DropTable(id, ifExists, _) =>
        val t = table(id)
        require(ifExists || store.exists(t),
          s"DROP TABLE $t: table does not exist in the store " +
            "(use DROP TABLE IF EXISTS for not-found-ok semantics)")
        store.drop(t)
        // indexes follow their base (BigQuery's search-index contract:
        // an index cannot outlive its table)
        Indexes.dropAllOn(store, t)
        Done(t)
      case DropView(id, ifExists) =>
        val v = table(id)
        if (!ifExists || store.isView(v)) store.dropView(v)
        Done(v)
      case TruncateTable(t) =>
        store.truncate(table(t))
        Done(table(t))
      case a: AddCheckConstraint if a.checkConstraint.userProvidedName != null =>
        val t = table(a.child.collectLeaves().head)
        store.addConstraint(t, a.checkConstraint.userProvidedName,
          a.checkConstraint.condition)
        Done(t)
      case DropConstraint(t, name, false, false) =>
        store.dropConstraint(table(t), name)
        Done(table(t))
      case AddColumns(t, Seq(c)) if c.path.isEmpty && c.nullable &&
          c.default.isEmpty && c.position.isEmpty =>
        raced(store.addColumn(table(t), c.colName, c.dataType.sql),
          s"ALTER TABLE ${table(t)} ADD COLUMN ${c.colName}")
        Done(table(t))
      case DropColumns(t, Seq(c), false) if c.name.length == 1 =>
        raced(store.dropColumn(table(t), c.name.head),
          s"ALTER TABLE ${table(t)} DROP COLUMN ${c.name.head}")
        Done(table(t))
      case RenameColumn(t, c, to) if c.name.length == 1 =>
        // ONE rewrite commit ([[graft.psn.TableStore.renameColumn]] records
        // why this store can't do it metadata-only)
        store.renameColumn(table(t), c.name.head, to)
        Done(table(t))
      case RenameTable(t, to, false) =>
        // a metadata-only directory move: versions and sidecars travel.
        // Secondary indexes pin their base by NAME in `_idxdef`, so a
        // rename under them would orphan the stamp — refuse.
        val pinned = Indexes.indexesOn(store, table(t))
        require(pinned.isEmpty,
          s"cannot rename '${table(t)}': index(es) ${pinned.mkString(", ")} " +
            "are stamped to it by name (DROP INDEX or REFRESH after " +
            "re-creating)")
        store.rename(table(t), nameOf(to))
        Done(nameOf(to))
      case v: CreateView
          if v.userSpecifiedColumns.isEmpty && v.originalText.nonEmpty =>
        val name = table(v.child)
        // bound and analyzed now, so a broken view fails its CREATE, not
        // some later reader
        ctx.query(v.query).schema
        store.createView(name, v.originalText.get, orReplace = v.replace)
        Done(name)
      case l: CreateTableLikeCommand =>
        // a new EMPTY table with the source's schema — one empty commit,
        // nothing scanned; data copies are CLONE
        val name = baseName(l.targetTable.table)
        store.createLike(baseName(l.sourceTable.table), name)
        Done(name)
      case other => throw new IllegalArgumentException(
        s"unsupported statement: Spark parses it as ${other.nodeName}, " +
          "which the store does not execute")
    }
  }

  /** Execute the body of a `BEGIN … COMMIT` block WITHOUT committing:
    * each data statement's [[Effect]] — the same one the committing path
    * publishes — transforms an in-memory OVERLAY (table → its would-be
    * next state as a lazy plan) instead of publishing a store version,
    * and later statements read it — BigQuery's multi-statement
    * transaction semantics. Returns the overlay as the transaction's
    * write set for [[graft.psn.TableStore.commitTransaction]].
    *
    * Two consequences, both the point:
    *   - ATOMICITY: a statement failing anywhere here (parse, analysis,
    *     validation probe) aborts with the store UNTOUCHED — nothing was
    *     staged, so "mid-script failure rolls back completely" holds by
    *     construction; crash-during-COMMIT is the manifest's roll-forward.
    *   - ONE MATERIALIZATION PER TABLE: a script that rewrites one table
    *     N times pays one write at COMMIT, not N versioned commits (q63:
    *     8 commits → 4 staged writes).
    *
    * Surface: the DATA statements (CREATE TABLE AS / INSERT / UPDATE /
    * MERGE / DELETE). DDL and maintenance verbs are refused inside a
    * transaction — they commit per statement outside one (BigQuery
    * similarly restricts DDL in transactions). DELETE … WHERE takes the
    * rewrite form here (the overlay IS a rewrite); outside transactions
    * it stays the deletion-vector commit. */
  private def buildTransaction(s: SparkSession, store: TableStore,
      dir: String, stmts: Seq[String],
      pinned: scala.collection.mutable.ArrayBuffer[DataFrame])
      : Seq[(String, DataFrame)] = {
    require(stmts.nonEmpty, "empty transaction block")
    val ctx = new Ctx(s, store, Some(dir))
    stmts.foreach { st =>
      val e = effect(ctx).lift(parse(s, st)).getOrElse(
        throw new IllegalArgumentException(
          s"unsupported statement inside BEGIN … COMMIT: '$st' — " +
            "transactions support CREATE TABLE AS / INSERT / UPDATE / " +
            "MERGE / DELETE (DDL and maintenance verbs commit per " +
            "statement outside a transaction)"))
      ctx.overlay(e.target) = e match {
        case Rewrite(t, next) => next(ctx.read(t))
        case Append(t, rows) => ctx.read(t).unionByName(rows)
        // a CTAS inside a transaction is a STAGING table by shape (the
        // staged-upsert script pattern): later statements and their
        // validation probes read it repeatedly, so pin it for the
        // transaction's lifetime instead of re-deriving it from the
        // corpus inside every consumer plan
        case Replace(_, rows) =>
          val staged = rows.persist()
          pinned += staged
          staged
        // DELETE removes rows where the predicate is TRUE; a NULL
        // predicate KEEPS the row (ANSI three-valued semantics)
        case DeleteWhere(t, cond) =>
          ctx.read(t).filter(!coalesce(cond, lit(false)))
      }
    }
    ctx.overlay.toSeq
  }

  /** q63: the reference's nightly-job shape end-to-end — ONE
    * TRANSACTIONAL script (`BEGIN … COMMIT`, round 15) composing every
    * DML verb against one store table, each statement reading its
    * predecessors' uncommitted writes through the overlay: CTAS seeds
    * the working table and three staging tables, UPDATE-FROM reprices
    * the open orders, DELETE erases a tombstone batch, MERGE deletes
    * the fulfilled survivors while re-inserting their erased siblings
    * repriced (predicated DELETE + INSERT in one statement), and INSERT
    * appends an adjustment log — all published as ONE atomic
    * multi-table commit (4 staged writes instead of round 14's 8
    * sequential versioned commits; order_state materializes once, not
    * four times). The oracle recomputes the final state
    * declaratively in one pass, so the hash gate proves statement
    * SEQUENCING: five different verbs, five commits, one lineage.
    *
    * Scale shape: each statement keeps its own audited plan (one join /
    * anti-join / full-outer merge / append); the script adds zero plan
    * overhead — it is the same calls a user would make, in order. */
  def q63SqlScript(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    val n = runScript(s, store, dir,
      """BEGIN;
        |CREATE TABLE `graft-project.store.order_state` AS
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders;
        |CREATE TABLE `graft-project.store.price_updates` AS
        |  SELECT o_orderkey, o_totalprice * 1.10 AS o_totalprice
        |  FROM orders WHERE o_orderstatus = 'O';
        |CREATE TABLE `graft-project.store.tombstones` AS
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 5 = 0;
        |CREATE TABLE `graft-project.store.merge_src` AS
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
        |    CAST('R' AS STRING) AS o_orderstatus
        |  FROM orders WHERE o_orderstatus = 'F';
        |UPDATE `graft-project.store.order_state` t
        |  SET t.o_totalprice = u.o_totalprice
        |  FROM `graft-project.store.price_updates` u
        |  WHERE t.o_orderkey = u.o_orderkey;
        |DELETE FROM `graft-project.store.order_state` t
        |  WHERE t.o_orderkey IN (
        |    SELECT o_orderkey FROM `graft-project.store.tombstones`);
        |MERGE INTO `graft-project.store.order_state` t
        |  USING `graft-project.store.merge_src` s
        |  ON t.o_orderkey = s.o_orderkey
        |  WHEN MATCHED AND t.o_orderstatus = 'F' THEN DELETE
        |  WHEN NOT MATCHED THEN INSERT
        |    (o_orderkey, o_totalprice, o_orderstatus)
        |    VALUES (s.o_orderkey, s.o_totalprice, s.o_orderstatus);
        |INSERT INTO `graft-project.store.order_state`
        |    (o_orderkey, o_totalprice)
        |  SELECT o_orderkey, o_totalprice * 0.5
        |  FROM orders WHERE o_orderstatus <> 'O' AND o_orderkey % 7 = 0;
        |COMMIT
        |""".stripMargin)
    require(n == 10, s"script executed $n statements, expected 10")
    store.read("order_state")
      .select(col("o_orderkey"),
        col("o_totalprice").as("final_price"),
        col("o_orderstatus").as("status"))
      .sortedWide("o_orderkey", "status")
  }

  /** Final state, replayed declaratively: survivors are non-tombstoned
    * non-'F' rows (repriced if open), the MERGE re-inserts every 'F'
    * order whose key WAS tombstoned (matched 'F' survivors are deleted
    * by the predicated clause), and the trailing INSERT appends the
    * %7 adjustment rows with a NULL status. */
  val q63Oracle: String =
    """SELECT o_orderkey,
      |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.10
      |       ELSE o_totalprice END AS final_price,
      |  o_orderstatus AS status
      |FROM orders
      |WHERE o_orderkey % 5 <> 0 AND o_orderstatus <> 'F'
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 2 AS final_price, 'R' AS status
      |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0
      |UNION ALL
      |SELECT o_orderkey, o_totalprice * 0.5 AS final_price,
      |  NULL AS status
      |FROM orders WHERE o_orderstatus <> 'O' AND o_orderkey % 7 = 0
      |ORDER BY o_orderkey, status""".stripMargin

  /** Execute a SELECT whose FROM items use BigQuery wildcard tables
    * (BigQuery requires the backticks: `` `proj.ds.orders_*` ``): every
    * `` `prefix*` `` reference binds to [[TableStore.readWildcard]] — the
    * union of all matching store tables, each branch carrying its
    * `_TABLE_SUFFIX` literal. The rest of the statement is arbitrary
    * Catalyst SQL ([[select]]); `_TABLE_SUFFIX` predicates in the WHERE
    * clause constant-fold per branch, so non-matching shards' scans are
    * PRUNED from the plan by the optimizer (see readWildcard's contract —
    * q84 asserts it on the optimized plan).
    *
    * Scale shape: shard elimination happens at plan time; the surviving
    * branches scan like any parquet table (pushdown, pruning intact).
    * The union is by name with null-fill, so a schema-drifted shard
    * cannot silently misalign columns. */
  def runWildcard(s: SparkSession, store: TableStore, dir: String,
      sql: String): DataFrame =
    select(s, store, dir, sql, "wildcard-table",
      "wildcard `<prefix>*` table") {
      case r: UnresolvedRelation if r.multipartIdentifier.last.endsWith("*") =>
    }

  /** q84: wildcard tables end-to-end — the orders table sharded by year
    * into `orders_<yyyy>` store tables (the BigQuery date-shard layout
    * that predates partitioned tables and still dominates public
    * datasets), then ONE statement over `` `orders_*` `` filtering
    * `_TABLE_SUFFIX` to the middle years. The in-query require proves
    * the optimizer ELIMINATED the out-of-range shards from the plan
    * (per-branch literal suffix → constant-folded filter → pruned scan);
    * the hash gate proves the suffix routing and the union semantics
    * against a declarative recompute over the unsharded table.
    *
    * Scale shape: pruning is plan-time, so a 10-year × daily-shard
    * corpus answers a one-month question by scanning ~30 shards; with
    * huge shard counts the metadata-level `suffixPred` arm of
    * [[TableStore.readWildcard]] bounds plan cost too. */
  def q84WildcardTables(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_wild_wh").toString
    val store = new TableStore(s, wh)
    val ord = orders(s, dir).select(col("o_orderkey"), col("o_totalprice"),
      year(col("o_orderdate")).as("yr"))
    // bounded collect: |distinct calendar years| (7 in this corpus)
    val years = ord.select(col("yr")).distinct()
      .collect().map(_.getInt(0)).sorted
    require(years.length >= 3,
      s"need >= 3 year shards for a strict middle band, got ${years.length}")
    // one shard table per year, all INDEPENDENT: overwrite them
    // concurrently (guide §2.6) instead of seven serial write-commit tails
    graft.ops.Par.concurrently(4)(years.toSeq.map(y =>
      () => store.overwrite(s"orders_$y",
        ord.filter(col("yr") === y).drop("yr"))))
    val (lo, hi) = (years(1), years(years.length - 2))
    val out = runWildcard(s, store, dir,
      s"""SELECT _TABLE_SUFFIX AS yr, COUNT(*) AS n_orders,
         |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
         |    AS total
         |FROM `graft-project.store.orders_*`
         |WHERE _TABLE_SUFFIX BETWEEN '$lo' AND '$hi'
         |GROUP BY _TABLE_SUFFIX""".stripMargin)
    val scanned = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.length
    val wanted = years.count(y => y >= lo && y <= hi)
    require(scanned == wanted,
      s"shard pruning inert: plan scans $scanned relations for a " +
        s"$wanted-shard suffix range (of ${years.length} shards)")
    out.sortedSmall("yr")
  }

  val q84Oracle: String =
    """WITH yrs AS (SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate)
      |    AS BIGINT) AS y FROM orders),
      |b AS (SELECT
      |  (SELECT y FROM yrs ORDER BY y LIMIT 1 OFFSET 1) AS lo,
      |  (SELECT y FROM yrs ORDER BY y DESC LIMIT 1 OFFSET 1) AS hi)
      |SELECT CAST(EXTRACT(year FROM o_orderdate) AS VARCHAR) AS yr,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders, b
      |WHERE EXTRACT(year FROM o_orderdate) BETWEEN b.lo AND b.hi
      |GROUP BY 1 ORDER BY yr""".stripMargin

  private val ExportStmt = (
    """(?is)\s*EXPORT\s+DATA\s+OPTIONS\s*\(\s*uri\s*=\s*'([^']+)'\s*,""" +
    """\s*format\s*=\s*'(\w+)'\s*\)\s*AS\s*(SELECT\b.+?)\s*;?\s*""").r

  /** Execute `EXPORT DATA OPTIONS(uri='…', format='PARQUET'|'CSV'|'JSON')
    * AS SELECT …` — BigQuery's bulk-export statement: the SELECT binds
    * corpus and store tables through [[Ctx.query]] and its result
    * lands as files at the uri (a BigQuery-style wildcard tail — slash,
    * star, extension — names the directory). The write is the plan's LAST stage — one
    * distributed pass, files written per partition in parallel, no
    * driver materialization; exactly how a 100 TB result leaves the
    * warehouse. Re-running replaces the target (mode overwrite): an
    * export is a publication, not a ledger. Returns the directory. */
  def runExport(s: SparkSession, store: TableStore, dir: String,
      sql: String): String = sql match {
    case ExportStmt(uri, fmt, select) =>
      val path = uri.replaceFirst("/\\*[^/]*$", "")
      val f = fmt.toUpperCase
      val w = new Ctx(s, store, Option(dir)).query(parse(s, select))
        .write.mode("overwrite")
      f match {
        case "PARQUET" => w.parquet(path)
        case "CSV" => w.option("header", "true").csv(path)
        case "JSON" => w.json(path)
        case other => throw new IllegalArgumentException(
          s"EXPORT DATA format '$other' unsupported: PARQUET, CSV, JSON")
      }
      path
    case _ => throw new IllegalArgumentException(
      "unsupported statement: expected EXPORT DATA OPTIONS(uri='…', " +
        "format='…') AS SELECT …")
  }

  private val LoadStmt = (
    """(?is)\s*LOAD\s+DATA\s+(INTO|OVERWRITE)\s+`?([\w.-]+)`?\s+FROM\s+""" +
    """FILES\s*\(\s*uris\s*=\s*\[([^\]]+)\]\s*,\s*format\s*=\s*'(\w+)'""" +
    """\s*\)\s*;?\s*""").r

  /** Execute `LOAD DATA INTO|OVERWRITE <t> FROM FILES(uris=[…],
    * format='PARQUET'|'CSV'|'JSON')` — BigQuery's file-ingestion
    * statement (the reference's pipeline is load-then-query:
    * load_data_first.py's load jobs and main.py:62's `to_gbq`). INTO
    * appends through the store's schema-asserted append (one commit);
    * OVERWRITE truncate-loads a new version. CSV reads with header +
    * schema inference (BigQuery's autodetect). Returns the row count
    * loaded — the statement's job statistics.
    *
    * Scale shape: the read is a parquet/CSV scan like any other source
    * (splittable, parallel), the sink is the store's append — one pass,
    * no driver staging. */
  def runLoad(s: SparkSession, store: TableStore, sql: String): Long =
    sql match {
      case LoadStmt(mode, target, uriList, fmt) =>
        val name = baseName(target)
        val uris = uriList.split(",").toSeq.map(_.trim)
          .map { u =>
            require(u.length > 2 && u.head == '\'' && u.last == '\'',
              s"LOAD DATA uris must be quoted strings, got $u")
            u.substring(1, u.length - 1)
          }
        require(uris.nonEmpty, "LOAD DATA needs at least one uri")
        val df = fmt.toUpperCase match {
          case "PARQUET" => s.read.parquet(uris: _*)
          case "CSV" => s.read.option("header", "true")
            .option("inferSchema", "true").csv(uris: _*)
          case "JSON" => s.read.json(uris: _*)
          case other => throw new IllegalArgumentException(
            s"LOAD DATA format '$other' unsupported: PARQUET, CSV, JSON")
        }
        // Job statistics come from the COMMITTED result, not a pre-pass
        // over the source: a separate count() scans the input twice and
        // can diverge from the rows actually loaded if source files
        // change between the two jobs. countRows is footer metadata —
        // O(files), zero data read.
        val before =
          if (mode.equalsIgnoreCase("OVERWRITE") || !store.exists(name)) 0L
          else store.countRows(name)
        if (mode.equalsIgnoreCase("OVERWRITE")) store.overwrite(name, df)
        else store.append(name, df)
        store.countRows(name) - before
      case _ => throw new IllegalArgumentException(
        "unsupported statement: expected LOAD DATA INTO|OVERWRITE <t> " +
          "FROM FILES(uris=['…'], format='…')")
    }

  /** q85: EXPORT DATA end-to-end — one statement aggregates lineitem and
    * publishes the result as parquet files; the gate READS THE EXPORT
    * BACK, so the hash proves parse → SELECT → distributed file write →
    * re-scan equals the declarative answer (a broken exporter that
    * wrote, say, the pre-aggregation rows or lost a partition cannot
    * pass). */
  def q85SqlExport(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_exp_wh").toString
    val store = new TableStore(s, wh)
    val out = java.nio.file.Files
      .createTempDirectory("graft_exp_out").toString
    Sql.runExport(s, store, dir,
      s"""EXPORT DATA OPTIONS(uri='$out/flag_rollup/*.parquet',
         |  format='PARQUET') AS
         |SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
         |    AS sum_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |""".stripMargin)
    s.read.parquet(s"$out/flag_rollup")
      .sortedSmall("l_returnflag", "l_linestatus")
  }

  val q85Oracle: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q86: LOAD DATA end-to-end — the reference's load-then-query pipeline
    * as statements: the order file is split into two halves, the first
    * LOAD creates the table, the second APPENDS (INTO), and a third
    * statement OVERWRITE-loads a scratch table to prove truncate-load
    * too; the gate aggregates the loaded table, so the hash proves both
    * load modes composed losslessly with the store's commit protocol. */
  def q86SqlLoad(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_load_wh").toString
    val store = new TableStore(s, wh)
    val stage = java.nio.file.Files
      .createTempDirectory("graft_load_src").toString
    val ord = orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"))
    ord.filter(col("o_orderkey") % 2 === 0).write.parquet(s"$stage/even")
    ord.filter(col("o_orderkey") % 2 =!= 0).write.parquet(s"$stage/odd")
    Sql.runLoad(s, store,
      s"LOAD DATA INTO `graft-project.store.orders_ld` FROM FILES(" +
        s"uris=['$stage/even'], format='PARQUET');")
    Sql.runLoad(s, store,
      s"LOAD DATA INTO `graft-project.store.orders_ld` FROM FILES(" +
        s"uris=['$stage/odd'], format='PARQUET');")
    Sql.runLoad(s, store,
      s"LOAD DATA OVERWRITE `graft-project.store.orders_ld` FROM FILES(" +
        s"uris=['$stage/even', '$stage/odd'], format='PARQUET');")
    store.read("orders_ld")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(
          org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2)))
          .cast("double").as("total"))
      .sortedSmall("o_orderstatus")
  }

  val q86Oracle: String =
    """SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Execute a SELECT over `TABLE_CHANGES(<t>, <fromV>, <toV>, '<key>')`
    * references — the change-data-feed table function (Delta's
    * table_changes, keyed like [[TableStore.diffVersions]] because the
    * store's row identity is the caller's key, not a hidden rowid). Each
    * reference binds to the version diff: (key, change ∈
    * added|removed|changed, before, after) with the non-key columns
    * packed as two structs, so `before.col` / `after.col` work in the
    * surrounding SQL ([[select]]). Audit queries compose from there —
    * "what did the nightly commit actually do", grouped, joined, summed.
    *
    * Scale shape: the diff is ONE full-outer join on the key between two
    * retained snapshots (null-safe struct compare drops unchanged rows);
    * both sides scan like any parquet version directory. */
  def runTableChanges(s: SparkSession, store: TableStore, dir: String,
      sql: String): DataFrame =
    select(s, store, dir, sql, "TABLE_CHANGES",
      "TABLE_CHANGES(<t>, <from>, <to>, '<key>')") {
      case TableChanges(_, _, _, _) =>
    }

  /** q89: the change data feed end-to-end — commit v1 (raw orders), then
    * ONE transactional rewrite that updates (doubles open orders'
    * prices), deletes (drops fulfilled rows), and inserts (re-keys the
    * dropped rows as fresh arrivals) in a single commit; the gated
    * statement groups TABLE_CHANGES(v1→v2) by change kind with
    * decimal-exact before/after sums. The oracle derives all three
    * classes declaratively from the raw table, so hash equality proves
    * the diff classifies every row movement correctly — the audit
    * query a 100 TB nightly pipeline runs instead of replaying the
    * transform. */
  def q89TableChanges(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val wh = java.nio.file.Files
      .createTempDirectory("graft_cdc_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_cdc", orders(s, dir).select(col("o_orderkey"),
      col("o_totalprice").cast(
        org.apache.spark.sql.types.DataTypes.createDecimalType(30, 2))
        .as("price"),
      col("o_orderstatus").as("st")))
    store.mergeWith("orders_cdc") { cur =>
      val kept = cur.filter(col("st") =!= "F")
        .select(col("o_orderkey"),
          when(col("st") === "O", col("price") * 2)
            .otherwise(col("price"))
            .cast(org.apache.spark.sql.types.DataTypes
              .createDecimalType(30, 2)).as("price"),
          col("st"))
      val arrivals = cur.filter(col("st") === "F")
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("price"), col("st"))
      kept.unionByName(arrivals)
    }
    runTableChanges(s, store, dir,
      """SELECT change, COUNT(*) AS n,
        |  CAST(SUM(before.price) AS DOUBLE) AS sum_before,
        |  CAST(SUM(after.price) AS DOUBLE) AS sum_after
        |FROM TABLE_CHANGES(`graft-project.store.orders_cdc`, 1, 2,
        |  'o_orderkey')
        |GROUP BY change""".stripMargin)
      .sortedSmall("change")
  }

  val q89Oracle: String =
    """WITH b AS (SELECT o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(30,2)) AS p, o_orderstatus AS st
      |  FROM orders)
      |SELECT 'added' AS change, COUNT(*) AS n,
      |  CAST(NULL AS DOUBLE) AS sum_before,
      |  CAST(SUM(p) AS DOUBLE) AS sum_after
      |FROM b WHERE st = 'F'
      |UNION ALL
      |SELECT 'changed', COUNT(*), CAST(SUM(p) AS DOUBLE),
      |  CAST(SUM(p * 2) AS DOUBLE)
      |FROM b WHERE st = 'O'
      |UNION ALL
      |SELECT 'removed', COUNT(*), CAST(SUM(p) AS DOUBLE),
      |  CAST(NULL AS DOUBLE)
      |FROM b WHERE st = 'F'
      |ORDER BY change""".stripMargin

  /** q90: the RUNNING-BALANCE statement — column-column arithmetic and a
    * CASE expression inside SET, the two shapes round 12's front-end
    * stopped at (`SET t.c = s.c <op> <numeric literal>` was the wall).
    * A customer balance table is debited by a staged per-customer
    * adjustment (`t.bal = t.bal - s.amt` — the rhs reads BOTH aliases)
    * while the segment column takes a guarded overwrite
    * (`CASE WHEN s.amt > 100000 THEN 'HEAVY' ELSE t.seg END`). The
    * oracle recomputes both assignments declaratively over
    * customer⋈orders, so the hash gate proves target-column reads
    * resolve against the pre-update row (assignment semantics: every
    * SET reads the OLD row, BigQuery/ANSI), not a half-updated one.
    *
    * Scale shape: identical to q56 — one left equi-join on the key
    * inside [[graft.psn.TableStore.mergeWith]]'s transactional rewrite;
    * the richer rhs is still a per-row codegen'd projection. */
  def q90SqlUpdateBalance(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.{customer, orders}
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("cust_bal", customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal").cast(dec).as("bal"),
        col("c_mktsegment").as("seg")))
    store.overwrite("cust_adj", orders(s, dir)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(sum(col("o_totalprice").cast(dec)).as("amt")))
    runDml(s, store,
      """UPDATE `graft-project.store.cust_bal` t
        |SET t.bal = t.bal - s.amt,
        |    t.seg = CASE WHEN s.amt > 100000 THEN 'HEAVY' ELSE t.seg END
        |FROM `graft-project.store.cust_adj` s
        |WHERE t.c_custkey = s.c_custkey
        |""".stripMargin)
    store.drop("cust_adj")
    store.read("cust_bal")
      .select(col("c_custkey"), col("bal").cast("double").as("bal"),
        col("seg"))
      .sortedWide("c_custkey")
  }

  val q90Oracle: String =
    """WITH adj AS (
      |  SELECT o_custkey AS k,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS amt
      |  FROM orders GROUP BY 1)
      |SELECT c.c_custkey,
      |  CAST(CASE WHEN a.k IS NOT NULL
      |    THEN CAST(c.c_acctbal AS DECIMAL(18,2)) - a.amt
      |    ELSE CAST(c.c_acctbal AS DECIMAL(18,2)) END AS DOUBLE) AS bal,
      |  CASE WHEN a.k IS NOT NULL AND a.amt > 100000
      |    THEN 'HEAVY' ELSE c.c_mktsegment END AS seg
      |FROM customer c LEFT JOIN adj a ON c.c_custkey = a.k
      |ORDER BY c.c_custkey""".stripMargin

  /** q91: the three-arm dimension-sync MERGE — the statement the
    * reference's new_game + upsert pair (main.py:176-185, 256-287)
    * composes to, in ONE transactional commit: matched rows reprice from
    * the snapshot, snapshot-only rows INSERT (with a literal sentinel
    * status — the VALUES list mixes source columns and literals), and
    * rows that VANISHED from the snapshot are dropped by the `WHEN NOT
    * MATCHED BY SOURCE THEN DELETE` arm — except those its target-side
    * guard retains (`AND t.st <> 'F'` keeps closed orders for audit).
    * The oracle recomputes all three arms declaratively, so the hash
    * gate proves the BY SOURCE group dispatches on target-only rows
    * (and ONLY there), alongside the other two groups in one statement.
    *
    * Scale shape: still ONE full-outer equi-join on the key — the third
    * arm reuses the join's target-only stream; no extra pass, shuffle,
    * or anti-join. */
  def q91SqlMergeSync(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_sy", orders(s, dir)
      .filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").cast(dec).as("price"),
        col("o_orderstatus").as("st")))
    store.overwrite("orders_sys", orders(s, dir)
      .filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice").cast(dec).as("price")))
    runMerge(s, store,
      """MERGE INTO `graft-project.store.orders_sy` t
        |USING `graft-project.store.orders_sys` s
        |ON t.o_orderkey = s.o_orderkey
        |WHEN MATCHED THEN UPDATE SET t.price = s.price * 2
        |WHEN NOT MATCHED BY TARGET THEN INSERT (o_orderkey, price, st)
        |  VALUES (s.o_orderkey, s.price, 'I')
        |WHEN NOT MATCHED BY SOURCE AND t.st <> 'F' THEN DELETE
        |""".stripMargin)
    store.drop("orders_sys")
    store.read("orders_sy")
      .select(col("o_orderkey"), col("price").cast("double").as("price"),
        col("st"))
      .sortedWide("o_orderkey")
  }

  val q91Oracle: String =
    """WITH t AS (SELECT o_orderkey,
      |    CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |    o_orderstatus AS st
      |  FROM orders WHERE o_orderkey % 3 <> 0),
      |s AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
      |  FROM orders WHERE o_orderkey % 2 = 0)
      |SELECT t.o_orderkey, CAST(s.price * 2 AS DOUBLE) AS price, t.st
      |FROM t JOIN s ON t.o_orderkey = s.o_orderkey
      |UNION ALL
      |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, st FROM t
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM s) AND st = 'F'
      |UNION ALL
      |SELECT o_orderkey, CAST(price AS DOUBLE) AS price, 'I' AS st FROM s
      |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)
      |ORDER BY o_orderkey""".stripMargin

  /** q92: the GUARDED UPSERT — UPDATE-FROM whose WHERE carries residual
    * predicates beyond the join equality (round 12's parser rejected
    * any second conjunct): a target-side date guard (`t.od >= DATE
    * '1995-07-01'` — only recent orders reprice) and a source-side
    * value guard (`s.price > 1000` — cheap adjustments are ignored).
    * The whole WHERE is the left join's condition — a target row failing
    * a guard has no matching source row, so it is left UNTOUCHED, never
    * deleted (BigQuery's UPDATE-FROM WHERE semantics), which is exactly
    * what the oracle's CASE recomputation pins.
    *
    * Scale shape: q56's one left equi-join, with the source residual
    * applied scan-side (predicate pushdown does the rest). */
  def q92SqlGuardedUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    import graft.tables.Tables.orders
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(18, 2)
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    store.overwrite("orders_g", orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast(dec).as("price"),
        col("o_orderdate").as("od")))
    store.overwrite("orders_gs", orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice").cast(dec).as("price")))
    runDml(s, store,
      """UPDATE `graft-project.store.orders_g` t
        |SET t.price = s.price * 2
        |FROM `graft-project.store.orders_gs` s
        |WHERE t.o_orderkey = s.o_orderkey
        |  AND t.od >= DATE '1995-07-01'
        |  AND s.price > 1000
        |""".stripMargin)
    store.drop("orders_gs")
    store.read("orders_g")
      .select(col("o_orderkey"), col("price").cast("double").as("price"))
      .sortedWide("o_orderkey")
  }

  val q92Oracle: String =
    """SELECT o_orderkey,
      |  CAST(CASE WHEN o_orderdate >= DATE '1995-07-01'
      |    AND CAST(o_totalprice AS DECIMAL(18,2)) > 1000
      |    THEN CAST(o_totalprice AS DECIMAL(18,2)) * 2
      |    ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS DOUBLE) AS price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** q93: LOGICAL VIEWS end-to-end — CREATE VIEW stores the SQL text
    * (BigQuery's standard view: no rows materialized, re-planned per
    * read), and the gate pins the FRESHNESS contract that separates it
    * from a materialized view: the base table takes an INSERT *after*
    * the view is created, and a rollup built through the view must see
    * the inserted rows — the stored definition re-planned against
    * current state, not a snapshot. Parse → validate-at-create →
    * resolution of the view's stored SQL where a statement references it
    * → read-back, all hash-gated.
    *
    * Scale shape: a view is one sidecar file and zero storage; the read
    * pays the full underlying plan — the explicitly-priced trade against
    * q87's materialized view. */
  def q93SqlView(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_vw_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.ord_v` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0;
        |CREATE VIEW `graft-project.store.big_ord` AS
        |  SELECT o_orderstatus AS status, o_totalprice FROM ord_v
        |  WHERE o_totalprice > 50000;
        |INSERT INTO `graft-project.store.ord_v`
        |  (o_orderkey, o_orderstatus, o_totalprice)
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1;
        |CREATE TABLE `graft-project.store.view_rollup` AS
        |  SELECT status, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS total
        |  FROM big_ord GROUP BY status;
        |DROP VIEW `graft-project.store.big_ord`;
        |""".stripMargin)
    store.read("view_rollup").sortedSmall("status")
  }

  val q93Oracle: String =
    """SELECT o_orderstatus AS status, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders WHERE o_totalprice > 50000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q95: TRUNCATE TABLE end-to-end — the reference's WRITE_TRUNCATE
    * disposition (/root/reference/main.py:268-271) as its SQL statement:
    * CTAS seeds the even orders, TRUNCATE commits an empty version, and
    * an INSERT of the odd orders lands on the emptied table. The INSERT
    * is the schema witness: [[runInsert]] asserts schema identity
    * against the table, so it only succeeds if TRUNCATE preserved the
    * declared schema through the empty commit — and the final state
    * carries ONLY odd keys, proving the even rows are gone (not merely
    * shadowed). History/restore semantics are pinned in SqlDmlSpec.
    *
    * Scale shape: TRUNCATE is O(1) data — one empty commit, no scan. */
  def q95SqlTruncate(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.ord_t` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0;
        |TRUNCATE TABLE `graft-project.store.ord_t`;
        |INSERT INTO `graft-project.store.ord_t`
        |  (o_orderkey, o_orderstatus, o_totalprice)
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1;
        |""".stripMargin)
    store.read("ord_t")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("price"))
      .sortedWide("o_orderkey")
  }

  val q95Oracle: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** q96: ALTER TABLE … RENAME TO end-to-end — the metadata-only
    * directory move ([[graft.psn.TableStore.rename]]): CTAS seeds a
    * third of the orders, RENAME moves the table, and an INSERT lands
    * on the NEW name — proof the rename carried the declared schema and
    * committed head (the INSERT's schema assert and version chain both
    * resolve under the new name; the old name is gone, pinned in
    * SqlDmlSpec along with time travel across the rename).
    *
    * Scale shape: one atomic directory move; zero data rewritten —
    * the only rename contract a 100 TB table can afford. */
  def q96SqlRename(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.ord_pre` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0;
        |ALTER TABLE `graft-project.store.ord_pre` RENAME TO
        |  `graft-project.store.ord_post`;
        |INSERT INTO `graft-project.store.ord_post`
        |  (o_orderkey, o_orderstatus, o_totalprice)
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 1;
        |""".stripMargin)
    store.read("ord_post")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("price"))
      .sortedWide("o_orderkey")
  }

  val q96Oracle: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 3 IN (0, 1)
      |ORDER BY o_orderkey""".stripMargin

  /** q97: CREATE INDEX / REFRESH INDEX end-to-end — the secondary-index
    * statement surface ([[Indexes]], r14 verdict next-1): CTAS seeds a
    * document table, CREATE INDEX commits the HASH index (key + md5 of
    * the content column) as a versioned store table and stamps the base
    * state, an INSERT advances the base, the now-STALE index REFUSES its
    * probe loudly (asserted in-line — the refuse-stale contract, r14
    * next-8), REFRESH INDEX rebuilds + re-stamps, and the final probe
    * answers the exact-duplicate-groups question FROM THE INDEX ALONE —
    * no content rescan. The oracle recomputes the groups declaratively
    * over the same union, so the hash gate proves build → staleness →
    * refresh → probe equals the declarative answer.
    *
    * Scale shape: the build is one projection scan (codegen'd md5, no
    * shuffle); the probe scans the INDEX, not the corpus — at 100 TB
    * that is the entire point of maintaining one. */
  def q97CreateIndex(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.docs_i` AS
        |  SELECT doc_id, text FROM documents;
        |CREATE INDEX docidx ON `graft-project.store.docs_i`
        |  (doc_id, text) USING HASH;
        |""".stripMargin)
    // fresh probe serves; the index covers the full base
    require(Indexes.probe(s, store, "docidx").count() ==
      store.read("docs_i").count(), "q97: fresh index must cover the base")
    runScript(s, store, dir,
      """INSERT INTO `graft-project.store.docs_i` (doc_id, text)
        |  SELECT doc_id + 1000000, text FROM documents
        |  WHERE doc_id % 37 = 0;
        |""".stripMargin)
    val refused =
      try { Indexes.probe(s, store, "docidx"); false }
      catch { case e: IllegalArgumentException =>
        e.getMessage.contains("STALE") }
    require(refused,
      "q97: a probe of an index whose base advanced must refuse loudly")
    runScript(s, store, dir, "REFRESH INDEX docidx;")
    Indexes.probe(s, store, "docidx")
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("k"))
      .filter(col("n") > 1)
      .sortedWide("h")
  }

  val q97Oracle: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
      |  WHERE doc_id % 37 = 0
      |)
      |SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n,
      |  min(doc_id) AS k
      |FROM all_docs GROUP BY 1 HAVING count(*) > 1
      |ORDER BY h""".stripMargin

  /** q98: multi-statement transaction semantics end-to-end (r14 verdict
    * next-2) — three blocks against one seeded table:
    *
    *   1. a transaction whose SECOND statement fails (UPDATE against a
    *      missing source) after a valid first statement: the store must
    *      carry ZERO trace of it — no new version, no content change
    *      (asserted in-line on the version chain);
    *   2. an explicit `BEGIN … ROLLBACK`: statements execute and
    *      validate against the overlay, nothing publishes;
    *   3. a committed transaction (UPDATE + DELETE + INSERT over the
    *      same table): exactly ONE new version lands — three statements,
    *      one materialization, one atomic commit.
    *
    * The oracle replays block 3 declaratively over the seed, so the
    * hash gate proves the aborted/rolled-back blocks truly left
    * nothing behind AND the committed overlay chain equals the
    * declarative answer. Crash-mid-COMMIT roll-forward is pinned in
    * CrashRecoverySpec (the manifest protocol,
    * [[graft.psn.TableStore.recoverTransactions]]). */
  def q98SqlTransaction(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.acct` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 4 = 0;
        |""".stripMargin)
    val v0 = store.versions("acct").max
    // 1. mid-transaction failure → complete rollback
    val aborted =
      try {
        runScript(s, store, dir,
          """BEGIN;
            |UPDATE `graft-project.store.acct` t
            |  SET t.o_totalprice = u.o_totalprice
            |  FROM `graft-project.store.acct` u
            |  WHERE t.o_orderkey = u.o_orderkey;
            |UPDATE `graft-project.store.acct` t
            |  SET t.o_totalprice = u.o_totalprice
            |  FROM `graft-project.store.no_such_src` u
            |  WHERE t.o_orderkey = u.o_orderkey;
            |COMMIT
            |""".stripMargin)
        false
      } catch { case _: Exception => true }
    require(aborted, "q98: the failing transaction must abort")
    require(store.versions("acct").max == v0,
      "q98: an aborted transaction must leave zero store trace")
    // 2. explicit ROLLBACK publishes nothing
    runScript(s, store, dir,
      """BEGIN;
        |DELETE FROM `graft-project.store.acct` WHERE o_totalprice > 0;
        |ROLLBACK
        |""".stripMargin)
    require(store.versions("acct").max == v0,
      "q98: ROLLBACK must leave zero store trace")
    // 3. the committed chain: three statements, ONE new version
    runScript(s, store, dir,
      """BEGIN;
        |UPDATE `graft-project.store.acct` t
        |  SET t.o_totalprice = t.o_totalprice * 2
        |  FROM `graft-project.store.acct` u
        |  WHERE t.o_orderkey = u.o_orderkey AND t.o_orderstatus = 'O';
        |DELETE FROM `graft-project.store.acct` WHERE o_orderkey % 3 = 0;
        |INSERT INTO `graft-project.store.acct`
        |    (o_orderkey, o_totalprice)
        |  SELECT o_orderkey + 1, o_totalprice * 0.25 FROM orders
        |  WHERE o_orderkey % 4 = 0 AND o_orderkey % 5 = 0;
        |COMMIT
        |""".stripMargin)
    require(store.versions("acct").max == v0 + 1,
      "q98: a committed transaction lands exactly one version per table")
    store.read("acct")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("double").as("price"))
      .sortedWide("o_orderkey", "price")
  }

  val q98Oracle: String =
    """WITH seed AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 4 = 0
      |)
      |SELECT o_orderkey, o_orderstatus,
      |  CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 2
      |       ELSE o_totalprice END AS DOUBLE) AS price
      |FROM seed WHERE o_orderkey % 3 <> 0
      |UNION ALL
      |SELECT o_orderkey + 1 AS o_orderkey, NULL AS o_orderstatus,
      |  CAST(o_totalprice * 0.25 AS DOUBLE) AS price
      |FROM seed WHERE o_orderkey % 5 = 0
      |ORDER BY o_orderkey, price""".stripMargin

  /** q99: ALTER TABLE … RENAME COLUMN end-to-end — ONE rewrite commit
    * ([[graft.psn.TableStore.renameColumn]]; the scaladoc there records
    * why this store cannot do it metadata-only). The INSERT after the
    * rename is the schema witness (it only succeeds if the head carries
    * the new name), and the in-line time-travel assert pins the q96
    * discipline: the PRE-rename snapshot keeps its OWN column name. It
    * runs between the rename and the INSERT, while retention (one
    * version behind the head) still holds that snapshot. */
  def q99RenameColumn(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.ord_rc` AS
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0;
        |ALTER TABLE `graft-project.store.ord_rc`
        |  RENAME COLUMN o_totalprice TO price;
        |""".stripMargin)
    // time travel composes: the pre-rename version still reads with its
    // own declared column name, never the renamed head's
    val v0 = store.versions("ord_rc").min
    require(store.readVersion("ord_rc", v0)
        .columns.contains("o_totalprice"),
      "q99: the pre-rename snapshot must keep its own column name")
    runScript(s, store, dir,
      """INSERT INTO `graft-project.store.ord_rc` (o_orderkey, price)
        |  SELECT o_orderkey, o_totalprice * 2 FROM orders
        |  WHERE o_orderkey % 2 = 1;
        |""".stripMargin)
    require(!store.read("ord_rc").columns.contains("o_totalprice"),
      "q99: the head must carry only the new name")
    store.read("ord_rc")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"))
      .sortedWide("o_orderkey")
  }

  val q99Oracle: String =
    """SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 2 = 0
      |UNION ALL
      |SELECT o_orderkey, NULL AS o_orderstatus,
      |  CAST(o_totalprice * 2 AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 2 = 1
      |ORDER BY o_orderkey""".stripMargin

  /** q100: CREATE TABLE … LIKE end-to-end — an empty table carrying the
    * source's schema ([[graft.psn.TableStore.createLike]]: one empty
    * commit, nothing scanned). The INSERT is the schema witness
    * ([[runInsert]] asserts identity against the new table), and the
    * source is PROVEN untouched by returning a join of both tables'
    * aggregate shapes. */
  def q100CreateLike(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.cust_base` AS
        |  SELECT c_custkey, c_name, c_acctbal FROM customer;
        |CREATE TABLE `graft-project.store.cust_like`
        |  LIKE `graft-project.store.cust_base`;
        |INSERT INTO `graft-project.store.cust_like`
        |    (c_custkey, c_name, c_acctbal)
        |  SELECT c_custkey, c_name, c_acctbal FROM customer
        |  WHERE c_custkey % 3 = 0;
        |""".stripMargin)
    require(store.read("cust_like").schema ==
        store.read("cust_base").schema,
      "q100: LIKE must copy the source schema exactly")
    store.read("cust_like")
      .select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("bal"))
      .sortedWide("c_custkey")
  }

  val q100Oracle: String =
    """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS bal
      |FROM customer WHERE c_custkey % 3 = 0
      |ORDER BY c_custkey""".stripMargin

  /** q101: CREATE TABLE … COPY end-to-end — a writable independent copy
    * ([[runClone]]: immutable data files make the O(files) hard-link
    * commit physically equivalent to BigQuery's copy job). The copy is
    * then mutated; the source must be PROVEN untouched, so the result
    * unions both tables' final states under a tag column. */
  def q101CreateCopy(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Out._
    val wh = java.nio.file.Files
      .createTempDirectory("graft_dml_wh").toString
    val store = new TableStore(s, wh)
    runScript(s, store, dir,
      """CREATE TABLE `graft-project.store.cust_src` AS
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer;
        |CREATE TABLE `graft-project.store.cust_cp`
        |  COPY `graft-project.store.cust_src`;
        |DELETE FROM `graft-project.store.cust_cp`
        |  WHERE c_mktsegment <> 'BUILDING';
        |""".stripMargin)
    store.read("cust_src").withColumn("side", lit("src"))
      .unionAll(store.read("cust_cp").withColumn("side", lit("cp")))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n"),
        graft.expr.Exprs.dsum(col("c_acctbal")).as("bal"))
      .sortedWide("side")
  }

  val q101Oracle: String =
    """WITH src AS (SELECT c_custkey, c_mktsegment, c_acctbal
      |             FROM customer),
      |     cp AS (SELECT * FROM src WHERE c_mktsegment = 'BUILDING'),
      |     u AS (SELECT 'src' AS side, * FROM src
      |           UNION ALL SELECT 'cp' AS side, * FROM cp)
      |SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS bal
      |FROM u GROUP BY side ORDER BY side""".stripMargin

  val all: Seq[graft.Q] = Seq(
    graft.Q("q56_sql_update_from", q56SqlUpdateFrom, Some(q56Oracle)),
    graft.Q("q57_sql_merge", q57SqlMerge, Some(q57Oracle)),
    graft.Q("q59_sql_delete", q59SqlDelete, Some(q59Oracle)),
    graft.Q("q60_sql_ctas", q60SqlCtas, Some(q60Oracle)),
    graft.Q("q61_sql_merge_full", q61SqlMergeFull, Some(q61Oracle)),
    graft.Q("q62_sql_insert", q62SqlInsert, Some(q62Oracle)),
    graft.Q("q63_sql_script", q63SqlScript, Some(q63Oracle)),
    graft.Q("q64_sql_time_travel", q64SqlTimeTravel, Some(q64Oracle)),
    graft.Q("q66_sql_nightly_script", q66SqlNightlyScript, Some(q66Oracle)),
    graft.Q("q67_sql_system_time", q67SqlSystemTime, Some(q67Oracle)),
    graft.Q("q68_sql_merge_expr", q68SqlMergeExpr, Some(q68Oracle)),
    graft.Q("q84_wildcard_tables", q84WildcardTables, Some(q84Oracle)),
    graft.Q("q85_sql_export", q85SqlExport, Some(q85Oracle)),
    graft.Q("q86_sql_load", q86SqlLoad, Some(q86Oracle)),
    graft.Q("q89_table_changes", q89TableChanges, Some(q89Oracle)),
    graft.Q("q90_sql_update_balance", q90SqlUpdateBalance, Some(q90Oracle)),
    graft.Q("q91_sql_merge_sync", q91SqlMergeSync, Some(q91Oracle)),
    graft.Q("q92_sql_guarded_update", q92SqlGuardedUpdate, Some(q92Oracle)),
    graft.Q("q93_sql_view", q93SqlView, Some(q93Oracle)),
    graft.Q("q95_sql_truncate", q95SqlTruncate, Some(q95Oracle)),
    graft.Q("q96_sql_rename", q96SqlRename, Some(q96Oracle)),
    graft.Q("q97_create_index", q97CreateIndex, Some(q97Oracle)),
    graft.Q("q98_sql_transaction", q98SqlTransaction, Some(q98Oracle)),
    graft.Q("q99_rename_column", q99RenameColumn, Some(q99Oracle)),
    graft.Q("q100_create_like", q100CreateLike, Some(q100Oracle)),
    graft.Q("q101_create_copy", q101CreateCopy, Some(q101Oracle)))
}
