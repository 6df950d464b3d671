package graft.sql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.streaming.{Cep, KeyedRow}
import graft.Checkpoints._

/** SQL MATCH_RECOGNIZE front-end over the CEP NFA
  * (SURVEY.md §2.10 — StreamExecMatch.scala:68 / MatchCodeGenerator.scala;
  * grammar subset of flink-sql-parser's Calcite MATCH_RECOGNIZE).
  *
  * Supported clause shape (what MatchRecognizeITCase's core cases use):
  *
  *   SELECT <cols of: partition col, start_ts, end_ts, n_rows, measures>
  *   FROM <table> MATCH_RECOGNIZE (
  *     PARTITION BY <col>
  *     ORDER BY <col>                  -- an event-time column
  *     [MEASURES <m> AS <alias>, ...]  -- m: V.c | FIRST/LAST(V.c) |
  *                                     --    COUNT(V.*|*) | SUM/AVG/MIN/MAX(V.c)
  *     ONE ROW PER MATCH | ALL ROWS PER MATCH
  *     [AFTER MATCH SKIP PAST LAST ROW | AFTER MATCH SKIP TO NEXT ROW]
  *     PATTERN ( V1[q] V2[q] ... )     -- q: + * ? {n}; strict contiguity
  *     [WITHIN INTERVAL '<n>' <UNIT>]
  *     DEFINE V1 AS <sql predicate>, ...  -- may navigate PREV/NEXT(V.c[, k])
  *   )
  *   [ORDER BY ...]
  *
  * ALL ROWS PER MATCH emits each matched input row with CLASSIFIER() (the
  * step label, column `classifier`), MATCH_NUMBER() (1-based per partition,
  * column `match_no`) and the row's partition-order position (`row_seq`).
  * PREV/NEXT in DEFINE compile onto lag/lead over the partition order —
  * physical-row navigation, which is what they mean under strict contiguity.
  *
  * Quantifiers: + * ? {n} {n,m} and their reluctant forms (+? *? {n,m}?);
  * AFTER MATCH SKIP TO FIRST/LAST <var> resumes at the matched row of that
  * variable (overlapping matches cascade, as in the reference). A variable
  * with no DEFINE matches every row (the standard default). Like the
  * reference, an unbounded/optional/ranged quantifier on the LAST pattern
  * variable is rejected (the NFA would have to hold a completed match open
  * forever waiting for one more row); {n} is fine anywhere.
  * RUNNING/FINAL measures over ALL ROWS PER MATCH are supported
  * (mr_running_measures + the per-position explode below).
  *
  * Implementation: each DEFINE predicate is compiled by Spark itself into a
  * boolean column (so the full scalar expression surface works), the row is
  * reduced to (partition, time, seq, defines-bitmask), and the bitmask
  * drives the NFA steps. MEASURES are computed by exploding each match's
  * (row id, step label) list and hash-joining back to the source rows on
  * (partition, seq) — matches are sparse relative to input, so the join-back
  * touches only matched rows; aggregation is per match id. Output schema:
  * partition col, start_ts / end_ts (epoch µs of the first/last matched
  * row), n_rows, then one column per measure alias.
  */
object MatchRecognize {

  /** Quantifier: min..max occurrences (max None = unbounded); `reluctant` =
    * non-greedy (`+?` `*?` `{n,m}?`) — same-row completion ties resolve to
    * the fewest absorbed rows. One = (1,1); + = (1,∞); * = (0,∞); ? = (0,1);
    * {n} = (n,n); {n,m} = (n,m). */
  case class Quant(min: Int, max: Option[Int], reluctant: Boolean = false)

  /** One MEASURES item. fn: LAST (also the bare `V.c` default), FIRST,
    * COUNT, SUM, AVG, MIN, MAX. variable None = COUNT(*). `running`:
    * under ALL ROWS PER MATCH a RUNNING measure aggregates the match's rows
    * up to and including the current one, FINAL the whole match (the
    * standard's default is RUNNING there; ONE ROW PER MATCH is always
    * FINAL). */
  case class Measure(alias: String, fn: String, variable: Option[String], expr: String,
                     running: Boolean = true)

  /** `defines` carry PREV/NEXT already compiled onto lag/lead windows (the
    * batch form); `rawDefines` keep the navigation calls intact for the
    * streaming compiler, which resolves them against the NFA-side ordered
    * row ring instead. */
  /** `partitionCols` carries the full PARTITION BY list (round 9:
    * multi-column partitions on the batch node); `partitionBy` stays the
    * head column — the single-key streaming paths key on it. */
  case class Spec(table: String, partitionBy: String, orderBy: String,
                  afterMatch: Cep.AfterMatch, pattern: Seq[(String, Quant)],
                  withinMs: Long, defines: Map[String, String],
                  rawDefines: Map[String, String],
                  measures: Seq[Measure], allRows: Boolean,
                  selectList: String, tailClause: String,
                  partitionCols: Seq[String] = Nil) {
    def partCols: Seq[String] = if (partitionCols.nonEmpty) partitionCols else Seq(partitionBy)
  }

  // the statement shape matches on literal/comment-BLANKED text with
  // groups sliced from the original (SqlText.Blanked), and every clause
  // scan below runs through SqlText.blankedMatch the same way — a DEFINE
  // predicate literal containing "PATTERN (" / "WITHIN INTERVAL ..." /
  // "AFTER MATCH ..." can no longer steal a clause (fuzz family 30)
  private val mrRe = new SqlText.Blanked(
    """(?is)\s*SELECT\s+(.*?)\s+FROM\s+(\w+)\s+MATCH_RECOGNIZE\s*\((.*)\)\s*(ORDER\s+BY.*)?""".r)
  private val partRe = """(?is)PARTITION\s+BY\s+(\w+(?:\s*,\s*\w+)*)""".r
  private val ordRe = """(?is)ORDER\s+BY\s+(\w+)""".r
  private val skipRe =
    """(?is)AFTER\s+MATCH\s+SKIP\s+(PAST\s+LAST\s+ROW|TO\s+NEXT\s+ROW|TO\s+(FIRST|LAST)\s+(\w+))""".r
  private val patRe = """(?is)PATTERN\s*\(\s*([\w\s+*?{},]+?)\s*\)""".r
  private val withinRe = """(?is)WITHIN\s+INTERVAL\s+'([^']*)'\s+(\w+)""".r
  private val defineRe = """(?is)DEFINE\s+(.*)$""".r
  private val measuresRe =
    """(?is)MEASURES\s+(.*?)\s+(?=ONE\s+ROW|ALL\s+ROWS|AFTER\s+MATCH|PATTERN\s*\()""".r
  private val tokRe = """(\w+)(\+\??|\*\??|\?\??|\{(\d+)(?:,(\d+))?\}\??)?""".r
  private val aggMeasureRe =
    """(?is)^(?:(RUNNING|FINAL)\s+)?(FIRST|LAST|COUNT|SUM|AVG|MIN|MAX)\s*\((.*)\)\s+AS\s+(\w+)$""".r
  private val bareMeasureRe = """(?is)^(\w+)\.(\w+)\s+AS\s+(\w+)$""".r

  private def unitMicros(u: String): Long = u.toUpperCase match {
    case "SECOND" => 1000000L
    case "MINUTE" => 60L * 1000000L
    case "HOUR" => 3600L * 1000000L
    case "DAY" => 86400L * 1000000L
    case other => throw new IllegalArgumentException(s"WITHIN unit $other")
  }

  /** Is this statement a (restricted) MATCH_RECOGNIZE query? Requires the
    * keyword followed by its clause paren so table/view names containing the
    * word don't re-trigger the front-end. Caller (FlinkSql.Parser) tests
    * against literal/comment-stripped text. */
  def matches(sql: String): Boolean =
    """(?i)\bMATCH_RECOGNIZE\s*\(""".r.findFirstIn(sql).isDefined

  private def parsePattern(raw: String): Seq[(String, Quant)] = {
    val toks = raw.trim.split("""\s+""").toSeq.map {
      case tokRe(name, null, _, _) => name -> Quant(1, Some(1))
      case tokRe(name, q, n, m) =>
        val rel = q.endsWith("?") && q != "?" // a bare ? is optional, not reluctant
        q.charAt(0) match {
          case '+' => name -> Quant(1, None, rel)
          case '*' => name -> Quant(0, None, rel)
          case '?' => name -> Quant(0, Some(1), q == "??")
          case '{' =>
            val lo = n.toInt
            val hi = if (m != null) m.toInt else lo
            if (hi < lo) throw new IllegalArgumentException(s"bad range {$lo,$hi}")
            name -> Quant(lo, Some(hi), rel)
        }
      case other => throw new IllegalArgumentException(
        s"unsupported pattern element (quantifiers beyond + * ? {n} {n,m} and reluctant ?): $other")
    }
    toks.last._2 match {
      case Quant(lo, hi, _) if hi.isEmpty || hi.get > lo => throw new IllegalArgumentException(
        "greedy/optional/ranged quantifier on the last pattern variable is unsupported " +
          "(the match could never be finalized); end the pattern with a plain or {n} variable")
      case _ =>
    }
    toks
  }

  private def parseMeasures(body: String): Seq[Measure] = {
    val clause = SqlText.blankedMatch(measuresRe, body).map(_.head).getOrElse(return Nil)
    SqlText.splitTop(clause).map {
      case aggMeasureRe(mode, fn, inner, alias) =>
        val running = mode == null || !mode.equalsIgnoreCase("FINAL")
        val in = inner.trim
        if (fn.toUpperCase == "COUNT" && (in == "*" || in.isEmpty))
          Measure(alias, "COUNT", None, "*", running)
        else {
          val varDot = """(?s)^(\w+)\.(.*)$""".r
          in match {
            case varDot(v, "*") => Measure(alias, fn.toUpperCase, Some(v), "*", running)
            case varDot(v, e) => Measure(alias, fn.toUpperCase, Some(v), e.trim, running)
            case other => throw new IllegalArgumentException(
              s"measure must navigate a pattern variable (V.col): $other")
          }
        }
      case bareMeasureRe(v, c, alias) => Measure(alias, "LAST", Some(v), c) // MR: bare V.c = LAST
      case other => throw new IllegalArgumentException(s"unsupported measure: $other")
    }
  }

  def parse(sql: String): Spec = sql.trim match {
    case mrRe(select, table, body, tail) =>
      val part = SqlText.blankedMatch(partRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("PARTITION BY required"))
      val ord = SqlText.blankedMatch(ordRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("ORDER BY required"))
      val skip = SqlText.blankedMatch(skipRe, body) match {
        case Some(g) if g(1) != null =>
          Cep.SkipToVar(g(2), g(1).equalsIgnoreCase("FIRST"))
        case Some(g) if g(0).toUpperCase.startsWith("TO") => Cep.SkipToNextRow
        case _ => Cep.SkipPastLastRow
      }
      val pattern = SqlText.blankedMatch(patRe, body)
        .map(g => parsePattern(g.head))
        .getOrElse(throw new IllegalArgumentException("PATTERN required"))
      val within = SqlText.blankedMatch(withinRe, body)
        .map(g => g(0).toLong * unitMicros(g(1)))
        .getOrElse(Long.MaxValue)
      val defBody = SqlText.blankedMatch(defineRe, body).map(_.head)
        .getOrElse(throw new IllegalArgumentException("DEFINE required"))
      // split "A AS pred, B AS pred" on top-level commas preceding
      // "<var> AS" — cut points located on blanked text so a predicate
      // literal containing ", X AS ..." stays one predicate
      val defSplitRe = """(?i),(?=\s*\w+\s+AS\s)""".r
      val defCuts = defSplitRe
        .findAllMatchIn(SqlText.blank(defBody)).map(_.start).toSeq
      val defItems = (Seq(-1) ++ defCuts :+ defBody.length).sliding(2).map {
        case Seq(a, b) => defBody.substring(a + 1, b)
      }.toSeq
      val defPairs = defItems.map { d =>
        val Array(name, pred) = d.trim.split("""(?i)\s+AS\s+""", 2)
        // strip the variable's own prefix: "A.col" → "col", then compile
        // PREV/NEXT row navigation onto lag/lead over the partition order
        // (the reference's MatchCodeGenerator does the same row-offset
        // resolution; restricted here to physical-row navigation, which is
        // what PREV/NEXT mean under strict contiguity)
        val stripped = pred.trim.replaceAll(s"""(?i)\\b${name.trim}\\.""", "")
        val w = s"OVER (PARTITION BY $part ORDER BY $ord)"
        val nav = stripped
          .replaceAll("""(?i)\bPREV\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)""", s"lag($$1, $$2) $w")
          .replaceAll("""(?i)\bPREV\s*\(\s*(\w+)\s*\)""", s"lag($$1, 1) $w")
          .replaceAll("""(?i)\bNEXT\s*\(\s*(\w+)\s*,\s*(\d+)\s*\)""", s"lead($$1, $$2) $w")
          .replaceAll("""(?i)\bNEXT\s*\(\s*(\w+)\s*\)""", s"lead($$1, 1) $w")
        (name.trim, stripped, nav)
      }
      val defines = defPairs.map(p => (p._1, p._3)).toMap
      val rawDefines = defPairs.map(p => (p._1, p._2)).toMap
      val allRows = """(?i)ALL\s+ROWS\s+PER\s+MATCH""".r
        .findFirstIn(SqlText.blank(body)).isDefined
      val partCols = part.split(",").map(_.trim).toSeq
      Spec(table, partCols.head, ord, skip, pattern, within, defines, rawDefines,
        parseMeasures(body), allRows, select.trim, Option(tail).getOrElse("").trim,
        partitionCols = partCols)
    case _ => throw new IllegalArgumentException("unsupported MATCH_RECOGNIZE shape")
  }

  /** Compile one measure into (aggregate, post-projection) over the exploded
    * (match id, label, __seq, source columns) frame. FIRST/LAST ride a
    * (seq, value) struct through min/max — null for other variables' rows,
    * which min/max skip — so no per-variable shuffle or sort is needed. The
    * post step (struct field extraction) applies AFTER the aggregate so the
    * same pair works in a groupBy and over a window frame. */
  private def measureAgg(m: Measure, labelCol: String): (Column, Column => Column) = {
    def onVar(e: Column): Column = m.variable match {
      case Some(v) => when(col(labelCol) === v, e)
      case None => e
    }
    m.fn match {
      case "COUNT" => (count(onVar(lit(1))), identity)
      case "FIRST" =>
        (min(onVar(struct(col("__seq").as("s"), expr(m.expr).as("v")))), _.getField("v"))
      case "LAST" =>
        (max(onVar(struct(col("__seq").as("s"), expr(m.expr).as("v")))), _.getField("v"))
      case "SUM" => (sum(onVar(expr(m.expr))), identity)
      case "AVG" => (avg(onVar(expr(m.expr))), identity)
      case "MIN" => (min(onVar(expr(m.expr))), identity)
      case "MAX" => (max(onVar(expr(m.expr))), identity)
      case other => throw new IllegalArgumentException(s"measure function $other")
    }
  }

  private def measureCol(m: Measure): Column = {
    val (agg, post) = measureAgg(m, "__label")
    post(agg).as(m.alias)
  }

  /** Execute against the registered table; returns the outer SELECT. */
  /** Expand quantifiers onto NFA steps; MR contiguity is strict everywhere
    * (fresh starts are unaffected by the flag, but a quantifier's
    * absorb-branch must die — not wait — when contiguity breaks). Shared
    * by the batch scan and the streaming operator. */
  private def compileSteps(spec: Spec, varBit: Map[String, Int]): Seq[Cep.Step] =
    spec.pattern.flatMap { case (v, q) =>
      def base = Cep.Step(v, r => r.kind.charAt(varBit(v)) == '1', strict = true,
        reluctant = q.reluctant)
      (q.min, q.max) match {
        case (0, None) => Seq(base.copy(oneOrMore = true, optional = true)) // *
        case (n, None) => Seq.fill(n - 1)(base) :+ base.copy(oneOrMore = true) // + / {n,}
        case (n, Some(m)) => Seq.fill(n)(base) ++
          Seq.fill(m - n)(base.copy(optional = true)) // {n} / {n,m} / ?
      }
    }

  /** The same MATCH_RECOGNIZE statement executed as a REAL StreamingQuery —
    * the reference's deployment shape (stream/StreamExecMatch.scala:68
    * plans MATCH_RECOGNIZE onto the CEP operator; the batch node is the
    * bounded special case). The pattern compiles to the identical NFA
    * steps as [[run]] and executes on [[Cep.matchStream]]'s
    * watermark-ordered keyed state (buffer until the watermark confirms
    * order, advance the NFA, event-time-timeout flush), file-streamed from
    * the same table and append-sunk to memory. Once the final watermark
    * passes max(ts) the emitted match set equals the batch scan's — the
    * driver gate asserts that against the SAME DuckDB oracle row.
    *
    * Streaming surface (round 8): the full statement shape — ONE ROW PER
    * MATCH with MEASURES, ALL ROWS PER MATCH with CLASSIFIER /
    * MATCH_NUMBER / RUNNING-FINAL measures, and PREV-k navigation in
    * DEFINE.
    *  - PREV compiles onto [[Cep.orderedWithPrev]] — the watermark-ordered
    *    keyed ring of the preceding `depth` rows, the streaming analogue of
    *    the batch lag window (the reference resolves PREV against the NFA's
    *    own row buffer, MatchCodeGenerator.scala). The augmented stream is
    *    relayed through a parquet channel into the NFA stage, because Spark
    *    disallows chained flatMapGroupsWithState in one query — the
    *    Kafka-topic-between-jobs deployment shape `cdc_pipeline` documents.
    *    Streaming PREV navigates the KeyedRow payload (the partition /
    *    order / event_type / value columns; the order column compares as
    *    epoch-micros); NEXT compiles onto [[Cep.orderedWithNav]] (round 9)
    *    — a row is held until its `nextDepth` successors clear the
    *    watermark, and the bounded run's per-key tail (which no watermark
    *    can ever confirm complete — Spark file streams emit no final
    *    MAX_WATERMARK) backfills from the static source, the analogue of
    *    the reference's end-of-input watermark flush.
    *  - MEASURES follow the batch recipe per micro-batch: each batch of
    *    completed matches explodes its (id, label) list, hash-joins back to
    *    the static source on (partition, event id) — touching only matched
    *    rows — aggregates per match, and appends to the result sink.
    *  - ALL ROWS PER MATCH does the same join-back but keeps each matched
    *    source row (CLASSIFIER = its step label; RUNNING/FINAL measures
    *    windowed per match inside the batch — a match completes atomically
    *    in one emission, so its rows share a batch). MATCH_NUMBER needs
    *    the key's global match order, so it is computed on the final sink
    *    read with the batch node's exact formulation (dense_rank over
    *    (start_ts, first matched seq) per key) — a sink-side projection,
    *    not part of the incremental pipeline.
    *
    * At scale this is one hash-partition by key with O(open-runs + depth)
    * state per key and watermark-bounded buffers — no per-batch sort of
    * history, no unbounded state; the join-back is proportional to the
    * matches of the batch, not the input. */
  def runStream(spark: SparkSession, dir: String, sql: String): DataFrame = {
    val spec = parse(sql)
    require(spec.partCols.size == 1,
      "streaming MATCH_RECOGNIZE keys state on a single PARTITION BY column — " +
        "multi-column partitions run on the batch node")
    val vars = spec.pattern.map(_._1).distinct
    val varBit = vars.zipWithIndex.toMap
    import spark.implicits._
    val schema = spark.read.parquet(s"$dir/${spec.table}.parquet").schema
    val pattern = Cep.Pattern(compileSteps(spec, varBit), spec.withinMs, spec.afterMatch)
    def maskOf(defines: Map[String, String]): Column =
      concat(vars.map(v => defines.get(v)
        .map(d => when(expr(d), lit("1")).otherwise(lit("0")))
        .getOrElse(lit("1"))): _*)
    val prevRe = """(?i)\bPREV\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    val nextRe = """(?i)\bNEXT\s*\(\s*(\w+)\s*(?:,\s*(\d+)\s*)?\)""".r
    def maxDepth(re: scala.util.matching.Regex): Int =
      spec.rawDefines.values.flatMap(d => re.findAllMatchIn(d).map(m =>
        Option(m.group(2)).map(_.toInt).getOrElse(1))).maxOption.getOrElse(0)
    val prevDepth = maxDepth(prevRe)
    val nextDepth = maxDepth(nextRe)
    // raw parquet NANOS timestamp arrives as long (nanosAsLong conf)
    def source = graft.Tables.streamTable(spark, dir, spec.table, schema)

    // DEFINE onto the ring columns: PREV(c, k) → try_element_at(prev_c, k),
    // NEXT(c, k) → try_element_at(next_c, k) (NULL past the partition edge —
    // lag/lead's semantics); bare columns map onto the KeyedRow payload names
    def navRewrite(d: String): String = {
      def ringArr(prefix: String, m: scala.util.matching.Regex.Match): String = {
        val k = Option(m.group(2)).getOrElse("1")
        val arr = m.group(1) match {
          case "value" => s"${prefix}_value"
          case "event_type" => s"${prefix}_kind"
          case c if c.equalsIgnoreCase(spec.orderBy) => s"${prefix}_ts"
          case other => throw new IllegalArgumentException(
            s"streaming ${prefix.toUpperCase} navigates value/event_type/${spec.orderBy}, got $other")
        }
        s"try_element_at($arr, $k)"
      }
      nextRe.replaceAllIn(prevRe.replaceAllIn(d, ringArr("prev", _)), ringArr("next", _))
        .replaceAll("""(?i)\bevent_type\b""", "kind")
        .replaceAll(s"""(?i)\\b${spec.orderBy}\\b""", "ts")
        .replaceAll(s"""(?i)\\b${spec.partitionBy}\\b""", "key")
        .replaceAll("""(?i)\bevent_id\b""", "id")
    }

    def rawRows = source
      .select(col(spec.partitionBy).cast("long").as("key"),
        graft.Tables.tsAsMicrosLong(schema, spec.orderBy).as("ts"),
        col("event_id").as("id"), col("event_type").as("kind"), col("value"))
      .as[KeyedRow]

    val rows: org.apache.spark.sql.Dataset[KeyedRow] =
      if (prevDepth == 0 && nextDepth == 0)
        source.withColumn("__mask", maskOf(spec.defines))
          .select(col(spec.partitionBy).cast("long").as("key"),
            graft.Tables.tsAsMicrosLong(schema, spec.orderBy).as("ts"),
            col("event_id").as("id"), col("__mask").as("kind"), lit(0.0).as("value"))
          .as[KeyedRow]
      else if (nextDepth == 0) {
        // PREV-only: the ring-augmented stream relays through the REAL
        // streaming parquet file sink (exactly-once, executor-side — no
        // driver materialization), and the NFA stage file-streams the
        // channel; RelayDir bounds the channel dirs' disk across runs
        val token = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val relay = graft.RelayDir.fresh("mr_relay", token)
        val q1 = Cep.orderedWithPrev(rawRows, prevDepth)
          .writeStream.format("parquet").option("path", relay)
          .option("checkpointLocation", s"$relay.ckpt")
          .outputMode("append").start()
        try q1.processAllAvailable() finally q1.stop()
        val navSchema = org.apache.spark.sql.Encoders.product[Cep.NavRow].schema
        spark.readStream.schema(navSchema).parquet(relay)
          .withColumn("__mask", maskOf(spec.rawDefines.map {
            case (v, d) => v -> navRewrite(d) }))
          .select(col("key"), col("ts"), col("id"),
            col("__mask").as("kind"), col("value"))
          .as[KeyedRow]
      } else {
        // NEXT (possibly with PREV): Cep.orderedWithNav holds each row
        // until `nextDepth` successors clear the watermark, then emits it
        // with both navigation rings — the streaming mirror of the batch
        // lead/lag compile (the reference resolves NEXT against the NFA's
        // row buffer the same way, MatchCodeGenerator.scala)
        val pD = math.max(prevDepth, 1)
        val nD = nextDepth
        val token = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val relay = graft.RelayDir.fresh("mr_relay", token)
        // foreachBatch append (not the exactly-once file sink): the sink's
        // _spark_metadata log would make every reader trust the log alone,
        // hiding the batch-appended end-of-input backfill below — the same
        // tradeoff the measure/ALL-ROWS sinks already make
        val q1 = Cep.orderedWithNav(rawRows, pD, nD)
          .writeStream.outputMode("append")
          .option("checkpointLocation", s"$relay.ckpt")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Cep.NavRowN], _: Long) =>
            b.write.mode("append").parquet(relay)
          }.start()
        try q1.processAllAvailable() finally q1.stop()
        // End-of-input flush: Spark file streams emit no final
        // MAX_WATERMARK, so the last nD rows per key — whose successor
        // rings extend past end of input — are still HELD in the nav
        // operator's state when the bounded run stops (on an unbounded
        // stream they would correctly wait forever: a row's lookahead can
        // never be confirmed absent by a watermark). Complete exactly
        // those rows from the static source with the batch lag/lead
        // formulation and append them to the relay — the analogue of the
        // reference's end-of-input watermark flushing the pending buffer.
        val stat = spark.read.parquet(s"$dir/${spec.table}.parquet")
          .select(col(spec.partitionBy).cast("long").as("key"),
            graft.Tables.tsAsMicrosLong(schema, spec.orderBy).as("ts"),
            col("event_id").as("id"), col("event_type").as("kind"), col("value"))
        val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("id"))
        val wRev = Window.partitionBy(col("key")).orderBy(col("ts").desc, col("id").desc)
        def ringOf(mk: Int => Column, depth: Int): Column =
          filter(array((1 to depth).map(mk): _*), _.isNotNull)
        stat
          .withColumn("__rev", row_number().over(wRev))
          .withColumn("prev_ts", ringOf(k => lag(col("ts"), k).over(w), pD))
          .withColumn("prev_kind", ringOf(k => lag(col("kind"), k).over(w), pD))
          .withColumn("prev_value", ringOf(k => lag(col("value"), k).over(w), pD))
          .withColumn("next_ts", ringOf(k => lead(col("ts"), k).over(w), nD))
          .withColumn("next_kind", ringOf(k => lead(col("kind"), k).over(w), nD))
          .withColumn("next_value", ringOf(k => lead(col("value"), k).over(w), nD))
          .filter(col("__rev") <= nD)
          .select(col("key"), col("ts"), col("id"), col("kind"), col("value"),
            col("prev_ts"), col("prev_kind"), col("prev_value"),
            col("next_ts"), col("next_kind"), col("next_value"))
          .write.mode("append").parquet(relay)
        // the ring arrays land nullable-element from the batch writer —
        // widen the declared element nullability so both writers' files read
        val navSchema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.Encoders.product[Cep.NavRowN].schema.map {
            case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
              val at = f.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
              f.copy(dataType = at.copy(containsNull = true))
            case f => f
          })
        spark.readStream.schema(navSchema).parquet(relay)
          .withColumn("__mask", maskOf(spec.rawDefines.map {
            case (v, d) => v -> navRewrite(d) }))
          .select(col("key"), col("ts"), col("id"),
            col("__mask").as("kind"), col("value"))
          .as[KeyedRow]
      }

    val matched = Cep.matchStream(rows, pattern)
    val out: DataFrame =
      if (spec.allRows) {
        // event_id tiebreak: the NFA consumes rows in (ts, event_id) order,
        // so row_seq numbering must break order-column ties the same way
        val seqW = Window.partitionBy(col(spec.partitionBy))
          .orderBy(col(spec.orderBy), col("event_id"))
        val preparedStatic = spark.read.parquet(s"$dir/${spec.table}.parquet")
          .withColumn("__pkey", col(spec.partitionBy).cast("long"))
          .withColumn("__srcid", col("event_id").cast("long"))
          .withColumn("__seq", row_number().over(seqW).cast("long"))
        def rowsOf(bdf: DataFrame): DataFrame = {
          val expl = bdf.withColumn("__mid", monotonically_increasing_id())
            .select(col("__mid"), col("key"), col("start_ts"),
              explode(arrays_zip(col("ids"), col("labels"))).as("z"))
            .select(col("__mid"), col("key"), col("start_ts"),
              col("z.ids").as("__eid"), col("z.labels").as("classifier"))
          val joined = expl.join(preparedStatic,
            expl("key") === preparedStatic("__pkey") &&
              expl("__eid") === preparedStatic("__srcid"))
          val runW = Window.partitionBy(col("__mid")).orderBy(col("__seq"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val finW = Window.partitionBy(col("__mid"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          val withMeasures = spec.measures.foldLeft(joined) { (df, m) =>
            val (agg, post) = measureAgg(m, "classifier")
            df.withColumn(m.alias, post(agg.over(if (m.running) runW else finW)))
          }
          withMeasures
            .withColumn("__first_seq", min(col("__seq")).over(finW))
            .drop("__mid", "__eid", "__srcid", "__pkey", "key")
        }
        val token = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val sinkDir = graft.RelayDir.fresh("mr_stream", token)
        val q = matched.writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Cep.Match], _: Long) =>
            rowsOf(b.toDF()).write.mode("append").parquet(sinkDir)
          }.start()
        try q.processAllAvailable() finally q.stop()
        val sunk = if (new java.io.File(sinkDir).exists()) spark.read.parquet(sinkDir)
          else rowsOf(spark.createDataset(Seq.empty[Cep.Match]).toDF())
        sunk
          .withColumn("match_no", dense_rank().over(
            Window.partitionBy(col(spec.partitionBy))
              .orderBy(col("start_ts"), col("__first_seq"))))
          .drop("start_ts", "__first_seq")
          .withColumnRenamed("__seq", "row_seq")
      }
      else if (spec.measures.isEmpty) {
        graft.RelayDir.drain(spark,
          matched.toDF().select(col("key").as(spec.partitionBy),
            col("start_ts"), col("end_ts"),
            size(col("ids")).cast("long").as("n_rows")),
          "mr_stream", dir)
      } else {
        val srcStatic = spark.read.parquet(s"$dir/${spec.table}.parquet")
          .withColumn("__pkey", col(spec.partitionBy).cast("long"))
          .withColumn("__srcid", col("event_id").cast("long"))
        val aggs = spec.measures.map(measureCol)
        // batch recipe per micro-batch: explode ids/labels, join back on
        // (partition, event id) — matched rows only — aggregate per match
        def measuresOf(bdf: DataFrame): DataFrame = {
          val expl = bdf.withColumn("__mid", monotonically_increasing_id())
            .select(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
              size(col("ids")).cast("long").as("n_rows"),
              posexplode(arrays_zip(col("ids"), col("labels"))).as(Seq("__pos", "z")))
            .select(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
              col("n_rows"), (col("__pos") + 1).cast("long").as("__seq"),
              col("z.ids").as("__eid"), col("z.labels").as("__label"))
          expl.join(srcStatic, expl("key") === srcStatic("__pkey") &&
              expl("__eid") === srcStatic("__srcid"))
            .groupBy(col("__mid"), col("key"), col("start_ts"), col("end_ts"),
              col("n_rows"))
            .agg(aggs.head, aggs.tail: _*)
            .drop("__mid")
        }
        val token = dir.replaceAll("[^a-zA-Z0-9]", "_")
        val sinkDir = graft.RelayDir.fresh("mr_stream", token)
        val q = matched.writeStream.outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[Cep.Match], _: Long) =>
            measuresOf(b.toDF()).write.mode("append").parquet(sinkDir)
          }.start()
        try q.processAllAvailable() finally q.stop()
        if (new java.io.File(sinkDir).exists()) spark.read.parquet(sinkDir)
        else measuresOf(spark.createDataset(Seq.empty[Cep.Match]).toDF())
      }
    out.withColumnRenamed("key", spec.partitionBy)
      .createOrReplaceTempView("__mr_out")
    spark.sql(s"SELECT ${spec.selectList} FROM __mr_out ${spec.tailClause}")
  }

  def run(spark: SparkSession, sql: String): DataFrame = {
    val spec = parse(sql)
    val src = spark.table(spec.table)
    val pCols = spec.partCols
    // compile DEFINE predicates with Spark, pack into a bitmask string —
    // one bit per distinct pattern variable
    val vars = spec.pattern.map(_._1).distinct
    val varBit = vars.zipWithIndex.toMap
    // a pattern variable without a DEFINE matches every row (the standard's
    // default — e.g. the STRT anchor of the canonical V-shape query)
    val flags = vars.map(v => expr(spec.defines.getOrElse(v, "true")))
    val mask = concat(flags.map(f => when(f, lit("1")).otherwise(lit("0"))): _*)
    // tiebreak on event_id (when the table carries one) so __seq assignment
    // — and with it the NFA's scan order — is deterministic under order-
    // column ties, matching the streaming path's (ts, event_id) ordering
    val seqW = {
      val w = Window.partitionBy(pCols.map(col): _*)
      if (src.columns.contains("event_id")) w.orderBy(col(spec.orderBy), col("event_id"))
      else w.orderBy(col(spec.orderBy))
    }
    import spark.implicits._
    // the NFA keys on a LONG: a single partition column casts directly;
    // a multi-column partition (round 9) maps each distinct tuple to a
    // dense surrogate via distinct + hash join — distributed and EXACT
    // (a hashed composite would risk collisions merging two partitions).
    // monotonically_increasing_id is NONDETERMINISTIC across recomputes,
    // and the returned frame references this map lazily — so the map is
    // eagerly localCheckpoint-ed: the surrogate values are pinned and the
    // lineage severed, making a recompute (e.g. after a ResultCaches
    // between-sample drop) structurally impossible rather than silently
    // divergent between the key join and the final join-back (ADVICE r10).
    // The tiny distinct-keys blocks are reclaimed by the ContextCleaner
    // once the returned frame is unreachable.
    val keyMapOpt: Option[DataFrame] =
      if (pCols.size == 1) None
      else Some(
        src.select(pCols.map(col): _*).distinct()
          .withColumn("__mrpk", monotonically_increasing_id())
          .cutLineage(true))
    val prepared0 = src
      .withColumn("__mask", mask)
      .withColumn("__seq", row_number().over(seqW).cast("long"))
    val prepared = keyMapOpt match {
      case None => prepared0.withColumn("__mrpk", col(pCols.head).cast("long"))
      case Some(km) => prepared0.join(km, pCols)
    }
    val rows = prepared
      .select(col("__mrpk").as("key"),
        expr(s"unix_micros(cast(${spec.orderBy} as timestamp))").as("ts"),
        col("__seq").as("id"), col("__mask").as("kind"), lit(0.0).as("value"))
      .as[KeyedRow]
    val steps = compileSteps(spec, varBit)
    // the DEFINE-mask window above already hash-partitioned every partition
    // key's rows into one partition — the NFA scan reuses that clustering
    // instead of shuffling the rows a second time on the same key
    val matchesDs = Cep.matchBatch(rows,
      Cep.Pattern(steps, spec.withinMs, spec.afterMatch),
      prePartitionedByKey = keyMapOpt.isEmpty)
    // eagerly pinned: the MEASURES branch joins two derivations of this
    // frame on __mid — uncut, the NFA scan executed once per side and the
    // nondeterministic id relied on bit-identical re-execution; the
    // checkpoint runs the NFA once and freezes the ids (r16)
    val m = matchesDs.toDF().withColumn("__mid", monotonically_increasing_id())
      .cutLineage()
    val base = m.select(col("key").as("__pkey"), col("start_ts"), col("end_ts"),
      size(col("ids")).cast("long").as("n_rows"), col("__mid"), col("ids"), col("labels"))
    // restore the partition columns on a match-level frame (ONE ROW paths);
    // the ALL ROWS path carries them through its source join instead
    def withPartCols(df: DataFrame): DataFrame = keyMapOpt match {
      case None => df.withColumn(spec.partitionBy, col("__pkey"))
      case Some(km) => df.join(km, df("__pkey") === km("__mrpk")).drop("__mrpk")
    }
    val out =
      if (spec.allRows) {
        // ALL ROWS PER MATCH: one output row per MATCHED input row — source
        // columns + CLASSIFIER() (the step label) + MATCH_NUMBER() (1-based
        // per partition, ordered by match start). Measures are RUNNING by
        // default (aggregate over the match's rows up to and including this
        // one — a window frame per __mid) or FINAL (the whole match).
        val exploded = base
          .withColumn("__first_seq", element_at(col("ids"), 1))
          .select(col("__mid"), col("__pkey"), col("start_ts"), col("__first_seq"),
            explode(arrays_zip(col("ids"), col("labels"))).as("z"))
          .select(col("__mid"), col("__pkey"), col("start_ts"), col("__first_seq"),
            col("z.ids").as("__seq"), col("z.labels").as("classifier"))
          .withColumn("match_no", dense_rank().over(
            Window.partitionBy(col("__pkey")).orderBy(col("start_ts"), col("__first_seq"))))
        val joined = exploded.join(
            prepared.withColumn("__pkey", col("__mrpk")),
            Seq("__pkey", "__seq"))
        val runW = Window.partitionBy(col("__mid")).orderBy(col("__seq"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val finW = Window.partitionBy(col("__mid"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val withMeasures = spec.measures.foldLeft(joined) { (df, m) =>
          val (agg, post) = measureAgg(m, "classifier")
          df.withColumn(m.alias, post(agg.over(if (m.running) runW else finW)))
        }
        withMeasures
          .drop("__mid", "__pkey", "__mrpk", "start_ts", "__first_seq", "__mask")
          .withColumnRenamed("__seq", "row_seq")
      }
      else if (spec.measures.isEmpty)
        withPartCols(base)
          .select(pCols.map(col) ++ Seq(col("start_ts"), col("end_ts"), col("n_rows")): _*)
      else {
        val exploded = base.select(col("__mid"), col("__pkey"),
            explode(arrays_zip(col("ids"), col("labels"))).as("z"))
          .select(col("__mid"), col("__pkey"),
            col("z.ids").as("__seq"), col("z.labels").as("__label"))
        val joined = exploded.join(
          prepared.withColumn("__pkey", col("__mrpk")),
          Seq("__pkey", "__seq"))
        val aggs = spec.measures.map(measureCol)
        val meas = joined.groupBy(col("__mid")).agg(aggs.head, aggs.tail: _*)
        withPartCols(base.join(meas, "__mid"))
          .select(pCols.map(col) ++
            Seq(col("start_ts"), col("end_ts"), col("n_rows")) ++
            spec.measures.map(mm => col(mm.alias)): _*)
      }
    out.createOrReplaceTempView("__mr_out")
    spark.sql(s"SELECT ${spec.selectList} FROM __mr_out ${spec.tailClause}")
  }
}
