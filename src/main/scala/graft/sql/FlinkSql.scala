package graft.sql

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Flink-SQL group-window syntax front-end (SURVEY.md §7.2 M4).
  *
  * The reference parses `TUMBLE/HOP/SESSION(ts, INTERVAL ...)` group-window
  * functions and their `_START/_END` auxiliary accessors with a Calcite
  * grammar extension (flink-sql-parser parserImpls.ftl; operators declared in
  * FlinkSqlOperatorTable.java), then `WindowPropertiesRule.scala` /
  * `StreamLogicalWindowAggregateRule.scala` rewrite them onto its window
  * operators. Spark-first equivalent: a `ParserInterface` delegate —
  * registered via `SparkSessionExtensions.injectParser` — that rewrites the
  * Flink spelling onto Spark's native `window()` / `session_window()`
  * table-valued-ish grouping expressions, which Catalyst plans with its
  * built-in (and codegen'd) time-window machinery. Everything downstream
  * (planning, state, pushdown) is stock Spark — only the dialect is custom.
  *
  * Rewrites (case-insensitive):
  *   TUMBLE(ts, INTERVAL '10' MINUTE)        → window(ts, '10 minute')
  *   TUMBLE_START(args) / TUMBLE_END(args)   → window.start / window.end
  *   HOP(ts, INTERVAL slide, INTERVAL size)  → window(ts, 'size', 'slide')
  *   HOP_START / HOP_END                     → window.start / window.end
  *   SESSION(ts, INTERVAL gap)               → session_window(ts, 'gap')
  *   SESSION_START / SESSION_END             → session_window.start / .end
  *
  * Note HOP's argument order flips: Flink is (time, slide, size), Spark's
  * window() is (time, size, slide).
  */
object FlinkSql {

  private val interval = """INTERVAL\s+'([^']+)'\s+(\w+)""".r

  /** `INTERVAL '10' MINUTE` → the string literal `'10 minute'`. */
  private def intervalToDuration(expr: String): String = expr match {
    case interval(n, unit) => s"'$n ${unit.toLowerCase}'"
    case other => other // already a string literal like '10 minutes'
  }

  /** Replace every call of a function in `fns` (case-insensitive) with the
    * text its rule builds from the call's arguments. Calls, their closing
    * paren and their top-level commas are located on `blanked` (the
    * [[SqlText.blank]] of `sql`), so a group-window keyword, paren, comma
    * or quote inside a literal or comment — `SELECT 'TUMBLE(...)'`,
    * `CASE WHEN k <> 'o\'clock)' ...` — is never rewritten (fuzz families
    * 29 and 30). Arguments are rewritten before the call that holds them.
    * A call whose paren never closes is left for Spark to report. */
  private[sql] def rewriteCalls(sql: String, blanked: String,
      fns: Seq[(String, Seq[String] => String)]): String = {
    val rules = fns.map { case (name, f) => name.toUpperCase -> f }.toMap
    val call = fns.map(_._1).mkString("(?i)\\b(", "|", ")\\s*\\(").r.pattern
    def go(text: String, b: String): String = {
      val m = call.matcher(b)
      val sb = new java.lang.StringBuilder
      var last = 0
      var closed = true
      while (closed && m.find(last)) {
        val close = SqlText.closeParen(b, m.end)
        closed = close >= 0
        if (closed) {
          val args = SqlText.topLevelItems(b.substring(m.end, close)).map { case (x, y) =>
            go(text.substring(m.end + x, m.end + y), b.substring(m.end + x, m.end + y)).trim
          }.filter(_.nonEmpty)
          sb.append(text, last, m.start).append(rules(m.group(1).toUpperCase)(args))
          last = close + 1
        }
      }
      sb.append(text, last, text.length).toString
    }
    go(sql, blanked)
  }

  private val windowCalls: Seq[(String, Seq[String] => String)] = Seq(
    // auxiliary accessors
    "TUMBLE_START" -> (_ => "window.start"),
    "TUMBLE_END" -> (_ => "window.end"),
    "HOP_START" -> (_ => "window.start"),
    "HOP_END" -> (_ => "window.end"),
    "SESSION_START" -> (_ => "session_window.start"),
    "SESSION_END" -> (_ => "session_window.end"),
    // rowtime accessors: the reference returns end − 1 ms as the window's
    // event-time attribute (TimeWindow.maxTimestamp) so windows can cascade
    // — a 10-minute window's rowtime falls inside the covering hour
    "TUMBLE_ROWTIME" -> (_ => "(window.end - interval 1 millisecond)"),
    "HOP_ROWTIME" -> (_ => "(window.end - interval 1 millisecond)"),
    "SESSION_ROWTIME" -> (_ => "(session_window.end - interval 1 millisecond)"),
    "TUMBLE" -> {
      case Seq(ts, size) => s"window($ts, ${intervalToDuration(size)})"
      case args => s"TUMBLE(${args.mkString(", ")})"
    },
    "HOP" -> {
      case Seq(ts, slide, size) =>
        s"window($ts, ${intervalToDuration(size)}, ${intervalToDuration(slide)})"
      case args => s"HOP(${args.mkString(", ")})"
    },
    "SESSION" -> {
      case Seq(ts, gap) => s"session_window($ts, ${intervalToDuration(gap)})"
      case args => s"SESSION(${args.mkString(", ")})"
    })

  /** Rewrite the Flink group-window dialect onto Spark SQL. */
  def rewrite(sql: String): String = rewrite(sql, SqlText.blank(sql))

  /** [[rewrite]] for a statement whose blanked text is already at hand. */
  private[sql] def rewrite(sql: String, blanked: String): String =
    rewriteCalls(sql, blanked, windowCalls)

  /** Parser delegate: MATCH_RECOGNIZE routes to the CEP front-end;
    * everything else is dialect-rewritten and handed to Spark's parser. */
  class Parser(session: SparkSession, delegate: ParserInterface) extends ParserInterface {
    /** front-end dispatch: MATCH_RECOGNIZE / FOR SYSTEM_TIME AS OF clauses
      * build their plan through the custom operators; None = plain dialect.
      * The keyword tests run on `probe`, the blanked statement, so e.g. a
      * query selecting the string 'MATCH_RECOGNIZE(' parses normally. */
    private def frontEnd(sqlText: String, probe: String): Option[LogicalPlan] = {
      // lineage registry for view-chained temporal joins: a plain CREATE
      // VIEW still parses through the stock path below; only its
      // view → base-table edge is recorded here
      SystemTimeJoin.maybeRecordView(probe)
      // DROP FUNCTION stays native but evicts the CREATE FUNCTION
      // bookkeeping, so ALTER FUNCTION on a dropped name refuses
      FunctionDdl.noteDrop(session, probe)
      if (FunctionDdl.matches(probe))
        // CREATE FUNCTION <name> AS '<GraftSqlFunction class>'; non-graft
        // classes (Hive-style DDL) fall through to the stock parser
        FunctionDdl.tryRun(session, sqlText)
          .map(org.apache.spark.sql.GraftSqlBridge.logicalPlan)
          .orElse(Some(delegate.parsePlan(sqlText)))
      // ALTER FUNCTION <name> AS '<class>' — re-registration with the
      // reference's temporary-function refusal ladder
      else if (FunctionDdl.matchesAlter(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          FunctionDdl.runAlter(session, sqlText)))
      else if (WatermarkDdl.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          WatermarkDdl.run(session, sqlText)))
      // filesystem connector sink tables (CREATE TABLE ... WITH, no
      // watermark) + INSERT INTO them; unregistered INSERT targets fall
      // through so Spark-native inserts keep working
      else if (ConnectorTables.matchesCreate(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          ConnectorTables.runCreate(session, sqlText)))
      else if (ConnectorTables.matchesInsert(probe))
        ConnectorTables.tryInsert(session, sqlText)
          .map(org.apache.spark.sql.GraftSqlBridge.logicalPlan)
          .orElse(Some(delegate.parsePlan(rewrite(sqlText, probe))))
      // ALTER TABLE SET/RENAME + DROP TABLE on registered connector tables;
      // statements naming other tables fall through to Spark's own DDL
      else if (ConnectorTables.matchesAlterOrDrop(probe))
        ConnectorTables.tryAlterOrDrop(session, sqlText)
          .map(org.apache.spark.sql.GraftSqlBridge.logicalPlan)
          .orElse(Some(delegate.parsePlan(rewrite(sqlText, probe))))
      // SHOW PARTITIONS on registered partitioned connector tables — the
      // reference's `partition name` k=v/k2=v2 result; other tables fall
      // through to Spark's native statement
      else if (ConnectorTables.matchesShowPartitions(probe))
        ConnectorTables.tryShowPartitions(session, sqlText)
          .map(org.apache.spark.sql.GraftSqlBridge.logicalPlan)
          .orElse(Some(delegate.parsePlan(rewrite(sqlText, probe))))
      // SHOW DATABASES/TABLES/VIEWS/FUNCTIONS with the reference's result
      // column names, built over the DELEGATE parser so the dispatch can't
      // loop (CREATE/ALTER DATABASE property clauses are text rewrites in
      // preprocess; DROP DATABASE / USE are native spellings)
      else if (DatabaseDdl.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          DatabaseDdl.run(session, sqlText, stmt =>
            org.apache.spark.sql.GraftSqlBridge.ofRows(session, delegate.parsePlan(stmt)))))
      // catalog statements: CREATE/DROP CATALOG, USE CATALOG, SHOW
      // CATALOGS, SHOW CURRENT CATALOG/DATABASE (+ the reference's
      // unsupported DESCRIBE CATALOG error) — built over the DELEGATE
      // parser like DatabaseDdl so the dispatch can't loop
      else if (CatalogDdl.matches(session, probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          CatalogDdl.run(session, sqlText, stmt =>
            org.apache.spark.sql.GraftSqlBridge.ofRows(session, delegate.parsePlan(stmt)))))
      // DESCRIBE <registered connector table> — the reference's six-column
      // result; DESCRIBE on anything else stays native Spark
      else if (DescribeTable.matches(session, probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          DescribeTable.run(session, sqlText)))
      else if (MatchRecognize.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          MatchRecognize.run(session, sqlText)))
      else if (SystemTimeJoin.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          SystemTimeJoin.run(session, sqlText)))
      // temporal TABLE FUNCTION laterals — the pre-FOR SYSTEM_TIME idiom
      // (LATERAL TABLE (Rates(o.rowtime))); only registered function names
      // dispatch, so Spark's LATERAL VIEW and stock laterals fall through
      else if (TemporalTableFunctions.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          TemporalTableFunctions.run(session, sqlText)))
      // early-fire / late-fire emit strategies: config-gated, exactly like
      // the reference's TABLE_EXEC_EMIT_EARLY_FIRE_ENABLED / _LATE_FIRE_
      // ENABLED — with both confs unset, TUMBLE queries take the plain
      // window() rewrite below
      else if ((EmitStrategy.enabled(session).isDefined
          || EmitStrategy.lateEnabled(session)) && EmitStrategy.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          EmitStrategy.run(session, sqlText)))
      // plain cumulative windows (no emit confs): one row per closed pane —
      // CUMULATE has no native window() counterpart, so it cannot take the
      // TUMBLE/HOP string rewrite below
      else if (CumulateSql.matches(probe))
        Some(org.apache.spark.sql.GraftSqlBridge.logicalPlan(
          CumulateSql.run(session, sqlText)))
      else None
    }

    /** Text-level pre-passes that run before dispatch: utility-statement
      * spellings (EXPLAIN PLAN FOR) and the
      * OPTIONS dynamic-table-options hint comment (resolved to a
      * per-query view — Spark's grammar only admits hints after SELECT, so
      * the table-attached spelling must leave the text before parsing).
      * Returns the statement with its blanked text: the statement is lexed
      * once, and again only if the hint or qualified-name pass changed it. */
    private def preprocess(sqlText: String): (String, String) = {
      val t = DatabaseDdl.rewrite(UtilityStatements.rewrite(sqlText))
      val probe = SqlText.blank(t)
      val out = ConnectorTables.resolveQualified(session, OptionsHint.rewrite(session, t, probe))
      (out, if (out eq t) probe else SqlText.blank(out))
    }

    override def parsePlan(sqlText: String): LogicalPlan = {
      val (t, probe) = preprocess(sqlText)
      frontEnd(t, probe).getOrElse(delegate.parsePlan(rewrite(t, probe)))
    }
    override def parseQuery(sqlText: String): LogicalPlan = {
      val (t, probe) = preprocess(sqlText)
      frontEnd(t, probe).getOrElse(delegate.parseQuery(rewrite(t, probe)))
    }
    override def parsePlanWithParameters(sqlText: String, ctx: ParameterContext): LogicalPlan = {
      val (t, probe) = preprocess(sqlText)
      frontEnd(t, probe).getOrElse(delegate.parsePlanWithParameters(rewrite(t, probe), ctx))
    }
    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(rewrite(sqlText))
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
    override def parseDataType(sqlText: String): DataType =
      delegate.parseDataType(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
  }

  /** Install via `SparkSession.builder.withExtensions(FlinkSql.extensions)`. */
  val extensions: SparkSessionExtensions => Unit =
    ext => ext.injectParser((session, delegate) => new Parser(session, delegate))
}
