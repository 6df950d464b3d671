package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, row_number}
import graft.plans.AsOf

/** The reference's *other* temporal-join surface: temporal TABLE FUNCTIONS
  * (`Table.createTemporalTableFunction(timeAttribute, primaryKey)`,
  * flink-table-api-java/.../api/Table.java:151,172) joined in SQL via
  *
  *   SELECT ... FROM Orders AS o,
  *     LATERAL TABLE (Rates(o.rowtime)) AS r
  *   WHERE r.currency = o.currency
  *
  * — the pre-`FOR SYSTEM_TIME` idiom, rewritten by the reference's
  * `LogicalCorrelateToJoinFromTemporalTableFunctionRule` into the same
  * temporal-join operator, and exercised end to end by
  * `TemporalTableFunctionJoinITCase.scala:64` (proc-time), `:113`
  * (event-time), `:177` (nested, two laterals against one probe).
  *
  * Spark-first mapping: the function handle is (versioned DataFrame,
  * version-time column, primary-key columns). The SQL front-end parses the
  * comma-join + LATERAL TABLE shape, splits the WHERE conjunction into
  * per-lateral key equalities (`r.currency = o.currency` — the reference
  * requires the primary-key equality in WHERE) and residual predicates,
  * and folds each lateral left-to-right onto the accumulated probe side:
  *
  *   - `Fn(o.<rowtimeCol>)` (the argument is a real probe column) →
  *     event-time as-of join through the custom AsOfJoin operator
  *     (plans/AsOfJoinPlan — one shuffle per side, cluster+sort, linear
  *     merge), INNER: the comma-join lateral form has no outer variant in
  *     the reference.
  *   - `Fn(o.proctime)` (the virtual processing-time attribute — not a
  *     probe column) → latest-version-per-key + equi-join, the bounded
  *     degeneration of `TemporalProcessTimeJoinOperator.java:48`, with the
  *     same deterministic keep-last tiebreak as SystemTimeJoin.
  *
  * Residual WHERE predicates apply AFTER version selection — the
  * reference's semantics too: a pre-selection filter must be baked into
  * the versioned table before `createTemporalTableFunction` (exactly what
  * `TemporalTableFunctionJoinITCase.scala:150` does with
  * FilteredRatesHistory).
  *
  * Left-to-right folding makes the nested ITCase shape work: the second
  * lateral's key equality may reference the FIRST lateral's output
  * (`r.currency = p.currency` at `:177`) because that output is already
  * flattened into the accumulated probe.
  *
  * Front-end discipline (regex-shaped, like SystemTimeJoin): column names
  * across the probe and every versioned side must be distinct — the
  * flattened output view keeps them all. Widened only as tests demand.
  */
object TemporalTableFunctions {

  /** A registered temporal table function: versioned relation + the
    * version-time column + the primary-key columns the reference's
    * `createTemporalTableFunction(timeAttribute, primaryKey)` declares. */
  final case class TemporalTableFunction(
      table: DataFrame, timeCol: String, keys: Seq[String]) {
    require(keys.nonEmpty, "temporal table function needs a primary key")
    require(table.columns.exists(_.equalsIgnoreCase(timeCol)),
      s"time attribute $timeCol not in versioned table")
    keys.foreach(k => require(table.columns.exists(_.equalsIgnoreCase(k)),
      s"primary key $k not in versioned table"))
  }

  /** `Table.createTemporalTableFunction` analogue (Table.java:151,172). */
  def createTemporalTableFunction(
      table: DataFrame, timeAttribute: String, primaryKey: String*): TemporalTableFunction =
    TemporalTableFunction(table, timeAttribute, primaryKey)

  /** name → function; `tEnv.registerFunction`/`createTemporarySystemFunction`
    * analogue. Names are case-insensitive like the reference catalog. */
  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, TemporalTableFunction]

  def registerFunction(name: String, fn: TemporalTableFunction): Unit =
    registry(name.toLowerCase) = fn

  /** Table-API form (Table.joinLateral(call("Rates", $"o_rowtime"),
    * $"r_currency" === $"o_currency"), Table.java:581-812): join `probe`
    * with the function's version valid at `probe(timeArg)` —
    * `timeArg = "proctime"` selects the processing-time (latest-version)
    * variant. Key equalities are (probe column, versioned key) pairs;
    * INNER, like the SQL comma-join lateral. */
  def joinLateral(probe: DataFrame, fn: TemporalTableFunction, timeArg: String,
                  keys: Seq[(String, String)]): DataFrame = {
    require(keys.map(_._2).toSet == fn.keys.map(_.toLowerCase).toSet ||
      keys.map(_._2.toLowerCase).toSet == fn.keys.map(_.toLowerCase).toSet,
      s"joinLateral must equate every primary key of the function (${fn.keys})")
    if (timeArg.equalsIgnoreCase("proctime") || timeArg.equalsIgnoreCase("proctime()")) {
      import org.apache.spark.sql.expressions.Window
      val versioned = fn.table
      val ord = (fn.timeCol +:
        versioned.columns.filterNot(_ == fn.timeCol).toSeq).map(c => col(c).desc)
      val latest = versioned
        .withColumn("__v", row_number().over(
          Window.partitionBy(fn.keys.map(col): _*).orderBy(ord: _*)))
        .filter(col("__v") === 1).drop("__v")
      probe.join(latest,
        keys.map { case (p, k) => probe(p) === latest(k) }.reduce(_ && _), "inner")
    } else
      AsOf.joinMulti(probe, fn.table,
        keys.map { case (p, _) => probe(p) }, keys.map { case (_, k) => fn.table(k) },
        probe(timeArg), fn.table(fn.timeCol), inner = true)
  }

  private val latHeadRe = """(?is)LATERAL\s+TABLE\s*\(\s*(\w+)\s*\(""".r

  /** Dispatch test: a LATERAL TABLE call whose function name is registered.
    * Unregistered names (or Spark's own LATERAL VIEW) fall through to the
    * stock parser. */
  def matches(sql: String): Boolean =
    latHeadRe.findAllMatchIn(sql).exists(m => registry.contains(m.group(1).toLowerCase))

  // located on literal/comment-BLANKED text, groups sliced from the
  // original (SqlText.Blanked) — a SELECT-list literal containing
  // ", LATERAL TABLE(" cannot steal the lateral head (fuzz family 30)
  private val headRe = new SqlText.Blanked(
    """(?is)^\s*SELECT\s+(.*?)\s+FROM\s+(\w+)(?:\s+(?:AS\s+)?(\w+))?\s*,\s*(LATERAL\s+TABLE.*)$""".r)
  private val latRe =
    ("""(?is)^LATERAL\s+TABLE\s*\(\s*(\w+)\s*\(\s*([\w.]+(?:\(\s*\))?)\s*\)\s*\)""" +
     """(?:\s+(?:AS\s+)?(\w+))?\s*(.*)$""").r
  private val eqRe = """^([\w.]+)\s*=\s*([\w.]+)$""".r

  private def bare(c: String): String = c.split("\\.").last
  private def prefixOf(c: String): Option[String] =
    c.split("\\.") match { case Array(p, _) => Some(p.toLowerCase); case _ => None }

  /** session-unique output view names — concurrent sessions in one JVM must
    * not clobber each other's flattened-result view. */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong()

  def run(spark: SparkSession, sql: String): DataFrame = sql.trim match {
    case headRe(select, probeTable, probeAlias, lateralsAndTail) =>
      // peel `LATERAL TABLE (Fn(arg)) AS a` heads until WHERE/tail
      var rest = lateralsAndTail.trim
      var laterals = Vector.empty[(TemporalTableFunction, String, String, String)]
      var done = false
      while (!done) rest match {
        case latRe(fn, arg, alias, after) =>
          val handle = registry.getOrElse(fn.toLowerCase,
            throw new IllegalArgumentException(s"unknown temporal table function $fn"))
          laterals :+= ((handle, fn.toLowerCase, arg,
            Option(alias).getOrElse(fn.toLowerCase)))
          val a = after.trim
          if (a.startsWith(",")) rest = a.drop(1).trim else { rest = a; done = true }
        case _ => done = true
      }
      // WHERE conjunction + trailing clauses — clause boundary and AND
      // cuts located on blanked text (a predicate literal containing
      // " AND " or " ORDER" stays inside its conjunct)
      val whereRe = new SqlText.Blanked(
        """(?is)^WHERE\s+(.*?)\s*((?:ORDER|GROUP|LIMIT)\b.*)?$""".r)
      val (conjuncts, tail) = rest match {
        case whereRe(conds, t) =>
          val cuts = """(?i)\s+AND\s+""".r
            .findAllMatchIn(SqlText.blank(conds)).toVector
          var pos = 0
          val parts = Vector.newBuilder[String]
          cuts.foreach { c => parts += conds.substring(pos, c.start).trim; pos = c.end }
          parts += conds.substring(pos).trim
          (parts.result().filter(_.nonEmpty), Option(t).getOrElse(""))
        case "" => (Vector.empty[String], "")
        case t => (Vector.empty[String], t)
      }

      var acc = spark.table(probeTable)
      var accAliases = Set(probeTable.toLowerCase) ++
        Option(probeAlias).map(_.toLowerCase)
      var remaining = conjuncts
      for ((handle, _, arg, alias) <- laterals) {
        val al = alias.toLowerCase
        // key equalities for THIS lateral: one conjunct per declared key,
        // `<alias>.<key> = <accumulated column>` in either operand order
        val keyPairs = handle.keys.map { k =>
          val (hit, rests) = remaining.partition {
            case eqRe(a, b) =>
              (prefixOf(a).contains(al) && bare(a).equalsIgnoreCase(k)) ||
              (prefixOf(b).contains(al) && bare(b).equalsIgnoreCase(k))
            case _ => false
          }
          if (hit.isEmpty) throw new IllegalArgumentException(
            s"temporal table function $alias: WHERE must contain the primary-key " +
              s"equality on $k (TemporalTableFunctionJoinITCase shape)")
          remaining = rests ++ hit.drop(1)
          val eqRe(a, b) = hit.head: @unchecked
          val (vSide, pSide) =
            if (prefixOf(a).contains(al) && bare(a).equalsIgnoreCase(k)) (a, b) else (b, a)
          val pCol = bare(pSide)
          require(acc.columns.exists(_.equalsIgnoreCase(pCol)),
            s"key operand $pSide not found on the probe side")
          (k, pCol)
        }
        val versioned = handle.table
        val argBare = bare(arg)
        val isProctime =
          argBare.equalsIgnoreCase("proctime") || argBare.equalsIgnoreCase("proctime()")
        acc =
          if (isProctime) {
            // latest version per key, deterministic keep-last tiebreak
            // (TemporalProcessTimeJoinOperator.java:48 bounded degeneration)
            import org.apache.spark.sql.expressions.Window
            val ord = (handle.timeCol +:
              versioned.columns.filterNot(_ == handle.timeCol).toSeq).map(c => col(c).desc)
            val latest = versioned
              .withColumn("__v", row_number().over(
                Window.partitionBy(handle.keys.map(col): _*).orderBy(ord: _*)))
              .filter(col("__v") === 1).drop("__v")
            acc.join(latest,
              keyPairs.map { case (k, p) => acc(p) === latest(k) }.reduce(_ && _), "inner")
          } else {
            require(acc.columns.exists(_.equalsIgnoreCase(argBare)),
              s"temporal table function argument $arg is neither a probe column " +
                s"(event time) nor the proctime attribute")
            AsOf.joinMulti(acc, versioned,
              keyPairs.map { case (_, p) => acc(p) }, keyPairs.map { case (k, _) => versioned(k) },
              acc(argBare), versioned(handle.timeCol), inner = true)
          }
        accAliases += al
      }
      val out = s"__ttf_out_${viewSeq.incrementAndGet()}"
      acc.createOrReplaceTempView(out)
      def strip(s0: String): String = SqlText.stripQualifiers(s0, accAliases)
      val residual =
        if (remaining.isEmpty) "" else remaining.map(strip).mkString("WHERE ", " AND ", " ")
      spark.sql(s"SELECT ${strip(select)} FROM $out $residual${strip(tail)}")
    case _ =>
      throw new IllegalArgumentException(
        "unsupported LATERAL TABLE temporal-function shape — expected " +
          "SELECT ... FROM <probe> [AS a], LATERAL TABLE (Fn(a.time)) AS r [, ...] " +
          "WHERE r.<key> = a.<col> [AND ...]")
  }
}
