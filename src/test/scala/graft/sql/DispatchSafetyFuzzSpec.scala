package graft.sql

import graft.SparkSpec

/** Fuzz family 29: front-end DISPATCH SAFETY.
  *
  * The SQL surface is routed by keyword probes over literal/comment-blanked
  * text ([[SqlText.blank]], the one lexer, + per-front-end regexes).
  * The regression class that architecture carries is OVERCAPTURE: a
  * statement that merely LOOKS like a front-end shape being swallowed,
  * rewritten, or failed instead of reaching Spark's parser untouched.
  *
  * This family sweeps seeded randomized NEAR-MISS statements — front-end
  * keywords inside string literals (with both '' and \' escapes) and
  * double-quoted literals, inside line, block and nested block comments,
  * after a backquoted identifier holding a quote, a hint spelled inside a
  * line comment, native DDL without the connector's WITH
  * clause, native hints, INSERTs into non-connector tables, DESCRIBE of
  * plain relations — and asserts each one both RUNS through Spark and
  * returns the exact expected result. A dispatch leak fails loudly with
  * the statement text.
  */
class DispatchSafetyFuzzSpec extends SparkSpec {

  private def lit(r: scala.util.Random): String = {
    // front-end keywords wrapped in literal hazards, with random escapes
    val cores = Seq(
      "CREATE TABLE x (a INT) WITH ('connector' = 'filesystem')",
      "WATERMARK FOR ts AS ts - INTERVAL '5' SECOND",
      "FOR SYSTEM_TIME AS OF t.ts",
      "MATCH_RECOGNIZE (PARTITION BY u)",
      "INSERT OVERWRITE sink PARTITION (p = 'v')",
      "SHOW CATALOGS",
      "USE CATALOG memcat",
      "ALTER FUNCTION f AS 'klass'",
      "DESCRIBE CATALOG c",
      "LIKE base (INCLUDING ALL)",
      "OPTIONS('csv.field-delimiter' = '|')",
      "TUMBLE(ts, INTERVAL '10' MINUTE)")
    val core = cores(r.nextInt(cores.size))
    r.nextInt(3) match {
      case 0 => core.replace("'", "''")   // doubled-quote escape
      case 1 => core.replace("'", "\\'")  // backslash escape
      case _ => core.filterNot(_ == '\'') // no quotes at all
    }
  }

  test("family 29: near-miss statements fall through to Spark untouched on 3 seeds") {
    val s = spark
    import s.implicits._
    val baseSeed = sys.props.get("graft.fuzz.seed")
      .orElse(sys.env.get("GRAFT_FUZZ_SEED")).map(_.toLong).getOrElse(20260813L)
    spark.range(5).selectExpr("id", "CAST(id * 1.5 AS DOUBLE) AS v",
      "CAST(id AS STRING) AS s").createOrReplaceTempView("fz29_t")
    var checked = 0
    (0 until 3).foreach { si =>
      val r = new scala.util.Random(baseSeed + 290 + si)
      (0 until 12).foreach { _ =>
        val payload = lit(r)
        val n = r.nextInt(1000)
        // 1. keyword payload inside a string literal: must come back VERBATIM
        val got = spark.sql(s"SELECT '$payload' AS p, $n AS n FROM fz29_t WHERE id = 0")
          .collect().head
        val expect = payload.replace("''", "'").replace("\\'", "'")
        assert(got.getString(0) == expect && got.getInt(1) == n,
          s"family29 literal roundtrip broke for: $payload")
        // 2. keyword payload inside comments: the query still evaluates
        val c = spark.sql(
          s"-- $payload\nSELECT /* $payload */ sum(id) AS t FROM fz29_t").collect().head
        assert(c.getLong(0) == 10L, s"family29 comment case broke for: $payload")
        // 3. the unescaped payload inside a double-quoted literal
        val dq = spark.sql(s"""SELECT "$expect" AS p FROM fz29_t WHERE id = 0""").collect().head
        assert(dq.getString(0) == expect, s"family29 double-quoted roundtrip broke for: $expect")
        // 4. a nested block comment (the payload sits after the inner
        // close) and a hint spelled inside a line comment: both are comments
        val nc = spark.sql(
          s"""SELECT /* a /* b */ $payload */ sum(id) AS t FROM fz29_t
              -- was /*+ OPTIONS('k'='v') */
              WHERE id >= 0""").collect().head
        assert(nc.getLong(0) == 10L, s"family29 nested/line comment broke for: $payload")
        // 5. a backquoted identifier holding a quote does not open a literal
        val bq = spark.sql(
          s"SELECT id AS `a'b`, '$payload' AS p FROM fz29_t WHERE id = 0").collect().head
        assert(bq.schema.fieldNames.head == "a'b" && bq.getString(1) == expect,
          s"family29 backquoted-quote case broke for: $payload")
        checked += 5
      }
    }
    // 3. native statements adjacent to front-end shapes stay native
    spark.sql("CREATE TABLE fz29_native (a INT, b STRING) USING parquet " +
      "LOCATION '" + java.nio.file.Files.createTempDirectory("fz29n") + "'")
    try {
      spark.sql("INSERT INTO fz29_native SELECT 1, 'x'") // non-connector INSERT
      assert(spark.sql("SELECT a, b FROM fz29_native").collect().head.getInt(0) == 1)
      // DESCRIBE renders the reference's six-column result for EVERY
      // relation (TableEnvironmentImpl.java:1055-1062) — a native table
      // has no key/extras/watermark metadata
      val dn = spark.sql("DESCRIBE fz29_native")
      assert(dn.schema.fieldNames.toSeq ==
        Seq("name", "type", "null", "key", "extras", "watermark"))
      assert(dn.collect().forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
      // a native join hint is not an OPTIONS hint and must survive
      val j = spark.sql(
        """SELECT /*+ BROADCAST(b) */ count(*) AS n
           FROM fz29_t a JOIN fz29_t b ON a.id = b.id""").collect().head
      assert(j.getLong(0) == 5L)
      // LIKE the SQL predicate (not the DDL clause) stays a predicate
      assert(spark.sql("SELECT count(*) AS n FROM fz29_t WHERE s LIKE '%1%'")
        .collect().head.getLong(0) == 1L)
      checked += 4
    } finally spark.sql("DROP TABLE IF EXISTS fz29_native")
    println(s"[fuzz] family29 checked=$checked")
    assert(checked >= 184)
  }

  /** Family 30: hazard literals INSIDE genuinely-matching front-end
    * statements. Family 29 proves near-miss statements fall through; this
    * family proves a statement a rewriter DOES own cannot have its clauses
    * stolen by front-end keywords sitting in its own string literals —
    * every shape regex and clause scan must locate on blanked text and
    * slice from the original (SqlText.Blanked / blankedMatch). Each case
    * runs a hazard-free CONTROL and the hazard variant and asserts
    * identical semantics. */
  test("family 30: hazard literals inside matching statements never steal clauses") {
    val s = spark
    import s.implicits._
    val baseSeed = sys.props.get("graft.fuzz.seed")
      .orElse(sys.env.get("GRAFT_FUZZ_SEED")).map(_.toLong).getOrElse(20260813L)
    var checked = 0

    // events: 2 users × err,err,err,ok at 10s spacing (3 error rows make
    // SKIP PAST LAST ROW vs TO NEXT ROW distinguishable: 1 vs 2 pairs)
    val ev = (for (u <- 1 to 2; i <- 0 until 4) yield
      (u, new java.sql.Timestamp(i * 10000L), if (i < 3) "err" else "ok",
        i * 1.5)).toDF("user_id", "ts", "event_type", "v")
    ev.createOrReplaceTempView("fz30_ev")

    // both lexer escape spellings must survive the blanked-match path;
    // the mode is seeded per hazard (SqlText.blank honors both)
    def escWith(r: scala.util.Random)(p: String): String =
      if (r.nextBoolean()) p.replace("'", "''") else p.replace("'", "\\'")

    (0 until 3).foreach { si =>
      val r = new scala.util.Random(baseSeed + 300 + si)
      val esc = escWith(r) _

      // --- group windows (plain rewrite path): hazard in the select list
      locally {
        val hzd = Seq(
          " FROM zzz GROUP BY TUMBLE(ts, INTERVAL '1' MINUTE)",
          "TUMBLE_START(ts, INTERVAL '1' MINUTE)",
          " FROM zzz GROUP BY SESSION(ts, INTERVAL '9' SECOND)")(r.nextInt(3))
        def q(tag: String) = spark.sql(
          s"""SELECT TUMBLE_START(ts, INTERVAL '20' SECOND) AS ws, count(*) AS n,
                     max('${esc(tag)}') AS tag
              FROM fz30_ev GROUP BY TUMBLE(ts, INTERVAL '20' SECOND) ORDER BY ws""")
          .collect().map(rr => (rr.getTimestamp(0), rr.getLong(1), rr.getString(2)))
        val (c, h) = (q("zzz"), q(hzd))
        assert(c.map(x => (x._1, x._2)).toSeq == h.map(x => (x._1, x._2)).toSeq,
          s"family30 tumble hazard changed the window plan: $hzd")
        assert(h.forall(_._3 == hzd), s"family30 tumble literal corrupted: $hzd")
        checked += 1
      }

      // --- group windows: a hazard literal INSIDE the window call's time
      // argument, in both escape spellings and double-quoted — the call's
      // close paren and top-level commas must be found on blanked text
      locally {
        val hzd = Seq("o'clock)", "it's, (x", "TUMBLE(ts, INTERVAL '1' MINUTE))")(r.nextInt(3))
        def q(lit: String) = spark.sql(
          s"""SELECT TUMBLE_START(CASE WHEN event_type <> $lit THEN ts END,
                                  INTERVAL '20' SECOND) AS ws, count(*) AS n
              FROM fz30_ev
              GROUP BY TUMBLE(CASE WHEN event_type <> $lit THEN ts END, INTERVAL '20' SECOND)
              ORDER BY ws""")
          .collect().map(rr => (rr.getTimestamp(0), rr.getLong(1))).toSeq
        val c = q("'zzz'")
        assert(c.map(_._2) == Seq(4L, 4L), "family30 window-argument control broke")
        Seq(s"'${hzd.replace("'", "''")}'", s"'${hzd.replace("'", "\\'")}'", "\"" + hzd + "\"")
          .foreach { lit =>
            assert(q(lit) == c, s"family30 hazard inside the window argument: $lit")
            checked += 1
          }
      }

      // --- CUMULATE (batch TVF path): hazard in a verbatim select item
      locally {
        val hzd = Seq(
          " FROM zzz GROUP BY CUMULATE(ts, INTERVAL '1' MINUTE, INTERVAL '2' MINUTE)",
          "CUMULATE_START(x)", "CUMULATE_END(y) AS stolen")(r.nextInt(3))
        def q(tag: String) = spark.sql(
          s"""SELECT CUMULATE_START(ts, INTERVAL '20' SECOND, INTERVAL '40' SECOND) AS ws,
                     CUMULATE_END(ts, INTERVAL '20' SECOND, INTERVAL '40' SECOND) AS we,
                     count(*) AS n, max('${esc(tag)}') AS tag
              FROM fz30_ev
              GROUP BY CUMULATE(ts, INTERVAL '20' SECOND, INTERVAL '40' SECOND)
              ORDER BY ws, we""")
          .collect().map(rr => (rr.getTimestamp(0), rr.getTimestamp(1), rr.getLong(2), rr.getString(3)))
        val (c, h) = (q("zzz"), q(hzd))
        assert(c.map(x => (x._1, x._2, x._3)).toSeq == h.map(x => (x._1, x._2, x._3)).toSeq,
          s"family30 cumulate hazard changed panes: $hzd")
        assert(h.forall(_._4 == hzd), s"family30 cumulate literal corrupted: $hzd")
        checked += 1
      }

      // --- MATCH_RECOGNIZE: hazards inside DEFINE predicate literals (a
      // stolen WITHIN kills all pairs; a stolen SKIP doubles them; a
      // stolen ALL ROWS changes the shape) + one in the outer select
      locally {
        val hzd = Seq(
          "WITHIN INTERVAL '1' SECOND",
          "AFTER MATCH SKIP TO NEXT ROW",
          "ALL ROWS PER MATCH",
          "PATTERN (Q+)",
          "MEASURES Z.q AS w",
          ", C AS x")(r.nextInt(6))
        val tagOuter = "x FROM zzz MATCH_RECOGNIZE ("
        def q(tag: String) = spark.sql(
          s"""SELECT user_id, npair, 'o $tagOuter' AS otag FROM fz30_ev
              MATCH_RECOGNIZE (
                PARTITION BY user_id
                ORDER BY ts
                MEASURES COUNT(*) AS npair
                ONE ROW PER MATCH
                AFTER MATCH SKIP PAST LAST ROW
                PATTERN (E1 E2)
                DEFINE E1 AS event_type = 'err',
                       E2 AS event_type <> '${esc(tag)}'
              ) ORDER BY user_id""")
          .collect().map(rr => (rr.getLong(0), rr.getLong(1), rr.getString(2)))
        val (c, h) = (q("zzz"), q(hzd))
        assert(c.toSeq == h.toSeq, s"family30 MR hazard stole a clause: $hzd")
        // SKIP PAST LAST ROW over err,err,err,ok → pairs (0,1) and (2,3)
        // per user; a stolen SKIP TO NEXT ROW yields 3, a stolen WITHIN
        // '1' SECOND yields 0 — the shape is sensitive to every hazard
        assert(h.map(_._1).toSeq == Seq(1L, 1L, 2L, 2L) && h.forall(_._2 == 2L),
          s"family30 MR baseline shape wrong under: $hzd")
        assert(h.forall(_._3 == s"o $tagOuter"))
        checked += 1
      }

      // --- FOR SYSTEM_TIME AS OF: hazard in the select list
      locally {
        Seq((1L, new java.sql.Timestamp(10000L), 100L), (1L, new java.sql.Timestamp(25000L), 101L))
          .toDF("ok", "ots", "oid").createOrReplaceTempView("fz30_orders")
        Seq((1L, new java.sql.Timestamp(5000L), 1.0), (1L, new java.sql.Timestamp(20000L), 2.0))
          .toDF("rk", "rts", "rate").createOrReplaceTempView("fz30_rates")
        SystemTimeJoin.declareWatermark("fz30_rates", "rts")
        val hzd = Seq(
          "h FROM a JOIN b FOR SYSTEM_TIME AS OF x.ts ON q = w",
          "h JOIN fz30_rates FOR SYSTEM_TIME AS OF ots ON ok = rk WHERE 1=0")(r.nextInt(2))
        def q(tag: String) = spark.sql(
          s"""SELECT oid, rate, '${esc(tag)}' AS tag FROM fz30_orders
              JOIN fz30_rates FOR SYSTEM_TIME AS OF ots ON ok = rk
              ORDER BY oid""")
          .collect().map(rr => (rr.getLong(0), rr.getDouble(1), rr.getString(2)))
        val (c, h) = (q("zzz"), q(hzd))
        assert(c.map(x => (x._1, x._2)).toSeq == Seq((100L, 1.0), (101L, 2.0)),
          "family30 system_time control broke")
        assert(h.map(x => (x._1, x._2)).toSeq == c.map(x => (x._1, x._2)).toSeq &&
          h.forall(_._3 == hzd), s"family30 system_time hazard stole the clause: $hzd")
        checked += 1
      }

      // --- temporal TABLE FUNCTION lateral: hazards in the select list
      // and in a residual WHERE literal containing " AND " / " ORDER"
      locally {
        Seq((2L, "Euro", new java.sql.Timestamp(2L)), (3L, "Euro", new java.sql.Timestamp(5L)))
          .toDF("amount", "currency", "rowtime").createOrReplaceTempView("fz30_lorders")
        val rates = Seq(("Euro", 114L, new java.sql.Timestamp(1L)),
          ("Euro", 116L, new java.sql.Timestamp(5L))).toDF("rcur", "rate", "rts")
        TemporalTableFunctions.registerFunction("fz30_Rates",
          TemporalTableFunctions.createTemporalTableFunction(rates, "rts", "rcur"))
        val hzd = Seq("h LATERAL TABLE (fz30_Rates(", "a AND b", "x ORDER BY y")(r.nextInt(3))
        def q(tag: String) = spark.sql(
          s"""SELECT o.amount * r.rate AS amount, '${esc(tag)}' AS tag
              FROM fz30_lorders AS o, LATERAL TABLE (fz30_Rates(o.rowtime)) AS r
              WHERE r.rcur = o.currency AND o.currency <> '${esc(tag)}'
              ORDER BY amount""")
          .collect().map(rr => (rr.getLong(0), rr.getString(1)))
        val (c, h) = (q("zzz"), q(hzd))
        assert(c.map(_._1).toSeq == Seq(2L * 114, 3L * 116), "family30 lateral control broke")
        assert(h.map(_._1).toSeq == c.map(_._1).toSeq && h.forall(_._2 == hzd),
          s"family30 lateral hazard stole a conjunct: $hzd")
        checked += 1
      }
    }

    // --- connector DDL: hazard OPTION VALUES — a ')' or a front-end
    // clause inside a property string must neither terminate the WITH
    // capture early nor reroute the statement (the shape regexes match on
    // blanked text and slice values from the original)
    (0 until 3).foreach { si =>
      val r = new scala.util.Random(baseSeed + 310 + si)
      val hzd = Seq(
        ") WITH (",
        "x) PARTITIONED BY (y",
        "LIKE zzz (INCLUDING ALL)",
        " FROM t GROUP BY TUMBLE(ts, INTERVAL '1' MINUTE)".replace("'", ""),
        "INSERT OVERWRITE q PARTITION (p = v)")(r.nextInt(5))
      val dir = java.nio.file.Files.createTempDirectory(s"fz30ct$si").toString
      spark.range(2).selectExpr("id", "CAST(id * 2.5 AS DOUBLE) AS v")
        .write.mode("overwrite").parquet(dir)
      val t = s"fz30_ct_$si"
      spark.sql(s"""CREATE TABLE $t (id BIGINT, v DOUBLE)
                    WITH ('connector' = 'filesystem', 'path' = '$dir',
                          'format' = 'parquet', 'probe' = '$hzd')""")
      val reg = ConnectorTables.lookup(spark, t).getOrElse(
        fail(s"family30 connector hazard broke registration: $hzd"))
      assert(reg.props("probe") == hzd, s"family30 option value corrupted: $hzd")
      assert(spark.sql(s"SELECT count(*) AS n FROM $t").collect().head.getLong(0) == 2L)
      // ALTER TABLE SET with the same hazard value
      spark.sql(s"ALTER TABLE $t SET ('probe2' = '$hzd')")
      assert(ConnectorTables.lookup(spark, t).get.props("probe2") == hzd,
        s"family30 ALTER SET value corrupted: $hzd")
      spark.sql(s"DROP TABLE $t")
      checked += 2
    }

    // --- WATERMARK DDL: a computed-column literal spelling a full
    // WATERMARK clause BEFORE the real one must neither hijack the
    // registration nor hide the computed column
    locally {
      val dir = java.nio.file.Files.createTempDirectory("fz30wm").toString
      Seq((1L, new java.sql.Timestamp(5000L), "a"))
        .toDF("rk", "rts", "etype").write.mode("overwrite").parquet(s"$dir/t")
      spark.sql(
        s"""CREATE TABLE fz30_wmt (
              tag AS concat(etype, 'WATERMARK FOR fake AS fake - INTERVAL ''9'' HOUR'),
              WATERMARK FOR rts AS rts - INTERVAL '7' SECOND
            ) WITH ('connector' = 'filesystem', 'path' = '$dir/t', 'format' = 'parquet')""")
      assert(SystemTimeJoin.watermarkOf("fz30_wmt").contains(("rts", "7 seconds")),
        "family30 watermark hazard hijacked the registration")
      val row = spark.sql("SELECT tag FROM fz30_wmt").collect().head
      assert(row.getString(0).startsWith("a"), "family30 computed column lost to the hazard")
      checked += 2
    }

    println(s"[fuzz] family30 checked=$checked")
    assert(checked >= 32)
  }
}
