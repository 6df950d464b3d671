package graft.sql

import graft.SparkSpec
import java.sql.Timestamp

/** Temporal TABLE FUNCTION front-end (Table.createTemporalTableFunction +
  * LATERAL TABLE — TemporalTableFunctionJoinITCase.scala:64,113,177). */
class TemporalTableFunctionsSpec extends SparkSpec {

  private def ratesFixture(prefix: String): Unit = {
    val s = spark
    import s.implicits._
    Seq((2L, "Euro", new Timestamp(2L)), (1L, "USD", new Timestamp(3L)),
        (50L, "Yen", new Timestamp(4L)), (3L, "Euro", new Timestamp(5L)))
      .toDF("amount", "currency", "rowtime")
      .createOrReplaceTempView(s"${prefix}_orders")
    val rates = Seq(("USD", 102L, new Timestamp(1L)), ("Euro", 114L, new Timestamp(1L)),
        ("Yen", 1L, new Timestamp(1L)), ("Euro", 116L, new Timestamp(5L)),
        ("Euro", 119L, new Timestamp(7L)))
      .toDF("rcur", "rate", "rts")
    TemporalTableFunctions.registerFunction(s"${prefix}_Rates",
      TemporalTableFunctions.createTemporalTableFunction(rates, "rts", "rcur"))
  }

  test("event-time lateral reproduces TemporalTableFunctionJoinITCase:113 rows") {
    ratesFixture("ttfev")
    // reference expected: {2*114, 3*116} — versions ≤ each order's rowtime
    val rows = spark.sql(
      """SELECT o.amount * r.rate AS amount
         FROM ttfev_orders AS o, LATERAL TABLE (ttfev_Rates(o.rowtime)) AS r
         WHERE r.rcur = o.currency""").collect().map(_.getLong(0)).toSet
    assert(rows == Set(2L * 114, 1L * 102, 50L * 1, 3L * 116))
    // the reference test watermarks at ts-1 and keeps only {228, 348}; the
    // bounded batch form resolves every probe, so USD/Yen rows appear too —
    // the Euro rows must match the reference's expected version selection
    assert(rows.contains(228L) && rows.contains(348L))
  }

  test("proc-time lateral joins the LATEST version per key (ITCase:64)") {
    ratesFixture("ttfpt")
    val rows = spark.sql(
      """SELECT o.amount, r.rate
         FROM ttfpt_orders AS o, LATERAL TABLE (ttfpt_Rates(o.proctime)) AS r
         WHERE r.rcur = o.currency""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // latest versions: Euro=119 (ts 7), USD=102, Yen=1
    assert(rows == Set((2L, 119L), (3L, 119L), (1L, 102L), (50L, 1L)))
  }

  test("nested laterals: second key equality references the first lateral's output") {
    val s = spark
    import s.implicits._
    Seq((1L, "A1", 2L, new Timestamp(2L)), (2L, "A2", 1L, new Timestamp(3L)),
        (4L, "A1", 3L, new Timestamp(5L)))
      .toDF("orderId", "productId", "amount", "rowtime")
      .createOrReplaceTempView("ttfn_orders")
    val prices = Seq(("A1", "Euro", 10L, new Timestamp(1L)),
        ("A2", "USD", 5L, new Timestamp(1L)), ("A1", "Euro", 12L, new Timestamp(4L)))
      .toDF("pid", "pcur", "price", "pts")
    val rates = Seq(("USD", 102L, new Timestamp(1L)), ("Euro", 114L, new Timestamp(1L)),
        ("Euro", 116L, new Timestamp(5L)))
      .toDF("rcur", "rate", "rts")
    TemporalTableFunctions.registerFunction("ttfn_Prices",
      TemporalTableFunctions.createTemporalTableFunction(prices, "pts", "pid"))
    TemporalTableFunctions.registerFunction("ttfn_Rates",
      TemporalTableFunctions.createTemporalTableFunction(rates, "rts", "rcur"))
    val rows = spark.sql(
      """SELECT o.orderId, o.amount * p.price * r.rate AS total
         FROM ttfn_orders AS o,
           LATERAL TABLE (ttfn_Prices(o.rowtime)) AS p,
           LATERAL TABLE (ttfn_Rates(o.rowtime)) AS r
         WHERE o.productId = p.pid AND r.rcur = p.pcur
         ORDER BY o.orderId""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // order 1 @2: price A1=10 (ts1), Euro rate=114 → 2*10*114
    // order 2 @3: price A2=5, USD=102 → 1*5*102
    // order 4 @5: price A1=12 (ts4), Euro rate=116 (ts5) → 3*12*116
    assert(rows == Seq((1L, 2280L), (2L, 510L), (4L, 4176L)))
  }

  test("residual WHERE predicates apply AFTER version selection") {
    ratesFixture("ttfw")
    // rate > 110 filters the SELECTED version — the Yen and USD rows drop,
    // but Euro@5 still selects version 116 (not a pre-filtered history)
    val rows = spark.sql(
      """SELECT o.amount, r.rate
         FROM ttfw_orders AS o, LATERAL TABLE (ttfw_Rates(o.rowtime)) AS r
         WHERE r.rcur = o.currency AND r.rate > 110""").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((2L, 114L), (3L, 116L)))
  }

  test("string literal containing an alias prefix survives qualifier stripping") {
    ratesFixture("ttfl")
    val rows = spark.sql(
      """SELECT concat('o.ref=', o.currency) AS tag, r.rate
         FROM ttfl_orders AS o, LATERAL TABLE (ttfl_Rates(o.rowtime)) AS r
         WHERE r.rcur = o.currency AND o.currency = 'Yen'""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("o.ref=Yen", 1L)))
  }

  test("missing primary-key equality in WHERE is a clear error") {
    ratesFixture("ttfe")
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        """SELECT o.amount FROM ttfe_orders AS o,
           LATERAL TABLE (ttfe_Rates(o.rowtime)) AS r
           WHERE r.rate > 0""")
    }
    assert(e.getMessage.contains("primary-key equality"))
  }

  test("unregistered LATERAL TABLE names fall through to the stock parser") {
    // Spark has no TABLE() syntax, so the stock parser rejects it — the
    // point is that OUR front-end does not hijack unknown names
    assert(!TemporalTableFunctions.matches(
      "SELECT * FROM t, LATERAL TABLE (NotRegistered(x))"))
  }

  test("Table-API joinLateral equals the SQL lateral, both time variants") {
    val s = spark
    import s.implicits._
    ratesFixture("ttfapi")
    val fn = {
      val rates = Seq(("USD", 102L, new Timestamp(1L)), ("Euro", 114L, new Timestamp(1L)),
          ("Yen", 1L, new Timestamp(1L)), ("Euro", 116L, new Timestamp(5L)),
          ("Euro", 119L, new Timestamp(7L)))
        .toDF("rcur", "rate", "rts")
      TemporalTableFunctions.createTemporalTableFunction(rates, "rts", "rcur")
    }
    val orders = spark.table("ttfapi_orders")
    // event-time form
    val ev = TemporalTableFunctions
      .joinLateral(orders, fn, "rowtime", Seq("currency" -> "rcur"))
      .selectExpr("amount * rate AS amount").collect().map(_.getLong(0)).toSet
    assert(ev == Set(2L * 114, 1L * 102, 50L * 1, 3L * 116))
    // proc-time form (latest version per key)
    val pt = TemporalTableFunctions
      .joinLateral(orders, fn, "proctime", Seq("currency" -> "rcur"))
      .selectExpr("amount", "rate").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pt == Set((2L, 119L), (3L, 119L), (1L, 102L), (50L, 1L)))
  }

  test("round 12: nested laterals plan TWO chained AsOfJoinExec nodes, no cartesian") {
    val s = spark
    import s.implicits._
    Seq((1L, 2L, new Timestamp(2L))).toDF("u2", "amount", "rowtime")
      .createOrReplaceTempView("ttfp_orders")
    val prices = Seq((1L, 3L, 10L, new Timestamp(1L))).toDF("pid", "bucket", "price", "pts")
    val rates = Seq((3L, 114L, new Timestamp(1L))).toDF("rb", "rate", "rts")
    TemporalTableFunctions.registerFunction("ttfp_P",
      TemporalTableFunctions.createTemporalTableFunction(prices, "pts", "pid"))
    TemporalTableFunctions.registerFunction("ttfp_R",
      TemporalTableFunctions.createTemporalTableFunction(rates, "rts", "rb"))
    val df = spark.sql(
      """SELECT o.u2, p.price, r.rate
         FROM ttfp_orders AS o,
           LATERAL TABLE (ttfp_P(o.rowtime)) AS p,
           LATERAL TABLE (ttfp_R(o.rowtime)) AS r
         WHERE p.pid = o.u2 AND r.rb = p.bucket""")
    val plan = df.queryExecution.executedPlan.toString
    assert("AsOfJoin".r.findAllIn(plan).size >= 2,
      s"nested laterals must chain two custom as-of execs:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"lateral fold must never plan a cartesian:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 10L, 114L)))
  }

  test("SqlText.stripQualifiers: literal-aware, word-boundary, path-segment safe") {
    assert(SqlText.stripQualifiers("la.x + r.y", Seq("la", "r")) == "x + y")
    assert(SqlText.stripQualifiers("'la.x' || la.x", Seq("la")) == "'la.x' || x")
    assert(SqlText.stripQualifiers("lala.x", Seq("la")) == "lala.x")   // boundary
    assert(SqlText.stripQualifiers("a.la.x", Seq("la")) == "a.la.x")   // mid-path
    assert(SqlText.stripQualifiers("LA.x", Seq("la")) == "x")          // case
    assert(SqlText.stripQualifiers("'it''s la.' || la.c", Seq("la")) == "'it''s la.' || c")
    // backslash-escaped quote does not close the literal (Spark's lexer)
    assert(SqlText.stripQualifiers("'it\\'s la.' || la.c", Seq("la")) == "'it\\'s la.' || c")
  }

  test("SqlText.blank: one lexer, offsets kept, only literal and comment content blanked") {
    // (token kind, input, blanked); a token's quotes stay, its content blanks
    val cases = Seq(
      ("STRING_LITERAL", "f('a,(b') + 1", "f('    ') + 1"),
      ("STRING_LITERAL \\x escape", "'it\\'s (' x", "'       ' x"),
      ("STRING_LITERAL '' escape", "'it''s (' x", "'       ' x"),
      ("raw STRING_LITERAL", "R'a\\' x", "R'  ' x"),
      ("raw double-quoted STRING_LITERAL", "r\"a\\\" x", "r\"  \" x"),
      ("R ending a word is no raw prefix", "fooR'a\\'b' x", "fooR'    ' x"),
      ("DOUBLEQUOTED_STRING", "\"TUMBLE(ts, 'x')\" AS p", "\"               \" AS p"),
      ("DOUBLEQUOTED_STRING \"\" escape", "\"a\"\"b\" c", "\"    \" c"),
      ("BACKQUOTED_IDENTIFIER", "`a'b` = 'c'", "`   ` = ' '"),
      ("BACKQUOTED_IDENTIFIER `` escape", "`a``b` x", "`    ` x"),
      ("SIMPLE_COMMENT", "a -- it's (\nb", "a          \nb"),
      ("SIMPLE_COMMENT continued by backslash-newline", "a -- x\\\ny\nb", "a      \n \nb"),
      ("BRACKETED_COMMENT", "a /* 'x */ b", "a          b"),
      ("nested BRACKETED_COMMENT", "a /* x /* y */ 'z */ b", "a                    b"),
      ("hint stays structure", "SELECT /*+ OPTIONS('k'='v') */ 1", "SELECT /*+ OPTIONS(' '=' ') */ 1"),
      ("hint inside a comment does not nest", "/* /*+ x */ y", "            y"),
      ("unterminated STRING_LITERAL", "a 'b, (c", "a '     "),
      ("unterminated BRACKETED_COMMENT", "a /* b", "a     "))
    cases.foreach { case (kind, in, want) =>
      val got = SqlText.blank(in)
      assert(got.length == in.length, kind)
      assert(in.indices.forall(i => got(i) == in(i) || (got(i) == ' ' && !in(i).isWhitespace)), kind)
      assert(got == want, s"$kind: [$got] != [$want]")
    }

    // Spark's own lexer agrees on every terminated case: quoted-token
    // content and hidden-channel comments blank, every other char stays
    // (its keywords are upper case, and the ASCII inputs keep their offsets)
    import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
    cases.filterNot(_._1.startsWith("unterminated")).foreach { case (kind, in, _) =>
      val lexer = new SqlBaseLexer(org.antlr.v4.runtime.CharStreams.fromString(in.toUpperCase))
      lexer.removeErrorListeners()
      val want = in.toCharArray
      def clear(a: Int, b: Int): Unit = (a until b).foreach(i => if (!want(i).isWhitespace) want(i) = ' ')
      var t = lexer.nextToken()
      while (t.getType != org.antlr.v4.runtime.Token.EOF) {
        val (a, b) = (t.getStartIndex, t.getStopIndex + 1)
        t.getType match {
          case SqlBaseLexer.SIMPLE_COMMENT | SqlBaseLexer.BRACKETED_COMMENT => clear(a, b)
          case SqlBaseLexer.STRING_LITERAL | SqlBaseLexer.DOUBLEQUOTED_STRING |
               SqlBaseLexer.BACKQUOTED_IDENTIFIER =>
            clear(if (in(a).toUpper == 'R') a + 2 else a + 1, b - 1)
          case _ =>
        }
        t = lexer.nextToken()
      }
      assert(SqlText.blank(in) == new String(want), s"$kind disagrees with SqlBaseLexer")
    }
  }

  test("SqlText.splitTop / closeParen: brackets are ( ) [ ] and type-constructor < >") {
    assert(SqlText.splitTop("a INT, flag AS a > 1, b STRING") ==
      Seq("a INT", "flag AS a > 1", "b STRING"))
    assert(SqlText.splitTop("a INT, f AS a < 1, b STRING") ==
      Seq("a INT", "f AS a < 1", "b STRING"))
    assert(SqlText.splitTop("m MAP<STRING, INT>, ts TIMESTAMP(3)") ==
      Seq("m MAP<STRING, INT>", "ts TIMESTAMP(3)"))
    assert(SqlText.splitTop("r ROW<a ARRAY<INT>, b DECIMAL(10, 2)>, x AS f(',', 'y''z'), c") ==
      Seq("r ROW<a ARRAY<INT>, b DECIMAL(10, 2)>", "x AS f(',', 'y''z')", "c"))
    assert(SqlText.splitTop("s STRUCT<a: INT, b: INT>, t MULTISET<INT>, k") ==
      Seq("s STRUCT<a: INT, b: INT>", "t MULTISET<INT>", "k"))
    val s = "f(a, ')', (b)) + 1"
    assert(SqlText.closeParen(SqlText.blank(s), 2) == 13)
    assert(SqlText.closeParen(SqlText.blank("f(a, (b)"), 2) == -1)
  }
}
