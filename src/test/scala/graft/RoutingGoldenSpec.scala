package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

/** Golden port of the reference's own test suite
  * (/root/reference/test/plugin/test_out_rewrite_tag_filter.rb) onto the
  * Catalyst engine. Row order is relaxed to per-row-id assertions (Spark
  * batches are unordered by design); tags, labels, per-sink membership and
  * payload identity are asserted exactly.
  */
class RoutingGoldenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Build a frame of string columns (null = missing field) + row id + tag. */
  private def frame(cols: Seq[String], tag: String, rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(
      StructField("rid", IntegerType, nullable = false) +:
        cols.map(c => StructField(c, StringType, nullable = true)) :+
        StructField("source", StringType, nullable = false))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(i +: r :+ tag)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava),
      schema)
  }

  /** collect rid → (new_tag, new_label) */
  private def routedMap(df: DataFrame, rules: Seq[Rule],
      cfg: RoutingConfig = RoutingConfig()): Map[Int, (String, Option[String])] =
    Router.route(df, rules, cfg).collect().map { r =>
      r.getAs[Int]("rid") ->
        (r.getAs[String]("new_tag"), Option(r.getAs[String]("new_label")))
    }.toMap

  // --- test "simple" (:62-107): 5-rule cascade, 6 in → 5 out ------------
  test("simple cascade: first-match-wins, backrefs, ${tag}, drop") {
    val rules = Seq(
      Rule("domain", "^www\\.google\\.com$", "site.Google"),
      Rule("domain", "^news\\.google\\.com$", "site.GoogleNews"),
      Rule("agent", ".* Mac OS X .*", "agent.MacOSX"),
      Rule("agent", "(Googlebot|CustomBot)-([a-zA-Z]+)", "agent.$1-$2"),
      Rule("domain", "^(tagtest)\\.google\\.com$", "site.${tag}.$1"))
    val df = frame(Seq("domain", "path", "agent", "response_time"), "input.access", Seq(
      Seq("www.google.com", "/foo/bar?key=value", "Googlebot", "1000000"),
      Seq("news.google.com", "/", "Googlebot-Mobile", "900000"),
      Seq("map.google.com", "/", "Macintosh; Intel Mac OS X 10_7_4", "900000"),
      Seq("labs.google.com", "/", "Mozilla/5.0 Googlebot-FooBar/2.1", "900000"),
      Seq("tagtest.google.com", "/", "Googlebot", "900000"),
      Seq("noop.example.com", null, null, null)))
    val out = routedMap(df, rules)
    assert(out.size == 5) // noop row dropped
    assert(out(0)._1 == "site.Google")
    assert(out(1)._1 == "site.GoogleNews")
    assert(out(2)._1 == "agent.MacOSX")
    assert(out(3)._1 == "agent.Googlebot-FooBar")
    assert(out(4)._1 == "site.input.access.tagtest") // backrefs before placeholders
    assert(!out.contains(5))
    // payload pass-through identity (reference asserts events[1][2]['domain'])
    val r1 = Router.route(df, rules, RoutingConfig()).filter(col("rid") === 1).collect()(0)
    assert(r1.getAs[String]("domain") == "news.google.com")
  }

  // --- test "simple" again, through the CONFIG-TEXT surface (C-PARSE): the
  // reference's verbatim <rule> sections loaded by RuleTableLoader ---------
  test("simple cascade via conf-text loader: reference config verbatim") {
    val confText =
      """<rule>
        |  key domain
        |  pattern ^www\.google\.com$
        |  tag site.Google
        |</rule>
        |<rule>
        |  key domain
        |  pattern ^news\.google\.com$
        |  tag site.GoogleNews
        |</rule>
        |<rule>
        |  key agent
        |  pattern .* Mac OS X .*
        |  tag agent.MacOSX
        |</rule>
        |<rule>
        |  key agent
        |  pattern (Googlebot|CustomBot)-([a-zA-Z]+)
        |  tag agent.$1-$2
        |</rule>
        |<rule>
        |  key domain
        |  pattern ^(tagtest)\.google\.com$
        |  tag site.${tag}.$1
        |</rule>""".stripMargin
    val (rules, cfg) = RuleTableLoader.fromConf(confText)
    val df = frame(Seq("domain", "path", "agent", "response_time"), "input.access", Seq(
      Seq("www.google.com", "/foo/bar?key=value", "Googlebot", "1000000"),
      Seq("news.google.com", "/", "Googlebot-Mobile", "900000"),
      Seq("map.google.com", "/", "Macintosh; Intel Mac OS X 10_7_4", "900000"),
      Seq("labs.google.com", "/", "Mozilla/5.0 Googlebot-FooBar/2.1", "900000"),
      Seq("tagtest.google.com", "/", "Googlebot", "900000"),
      Seq("noop.example.com", null, null, null)))
    val out = routedMap(df, rules, cfg)
    assert(out.size == 5)
    assert(out(0)._1 == "site.Google")
    assert(out(1)._1 == "site.GoogleNews")
    assert(out(2)._1 == "agent.MacOSX")
    assert(out(3)._1 == "agent.Googlebot-FooBar")
    assert(out(4)._1 == "site.input.access.tagtest")
  }

  // --- test "non matching" (:188-213): invert rule catches missing field --
  test("non matching: invert-first cascade, missing field rides the invert arm") {
    val (rules, cfg) = RuleTableLoader.fromConf(
      """<rule>
        |  key domain
        |  pattern ^www\..+$
        |  tag not_start_with_www
        |  invert true
        |</rule>
        |<rule>
        |  key domain
        |  pattern ^www\..+$
        |  tag start_with_www
        |</rule>""".stripMargin)
    val df = frame(Seq("domain", "path"), "input.access", Seq(
      Seq("www.google.com", null),
      Seq(null, "/"), // missing domain → invert arm
      Seq("maps.google.com", null)))
    val out = routedMap(df, rules, cfg)
    assert(out.size == 3)
    assert(out(0)._1 == "start_with_www")
    assert(out(1)._1 == "not_start_with_www")
    assert(out(2)._1 == "not_start_with_www")
  }

  // --- test "split by tag" (:215-253): the 4-rule ${tag_parts} fixture -----
  test("split by tag: reference fixture verbatim through the conf loader") {
    val (rules, cfg) = RuleTableLoader.fromConf(
      """<rule>
        |  key user_name
        |  pattern ^Lynn Minmay$
        |  tag vip.${tag_parts[1]}.remember_love
        |</rule>
        |<rule>
        |  key user_name
        |  pattern ^Harlock$
        |  tag ${tag_parts[2]}.${tag_parts[0]}.${tag_parts[1]}
        |</rule>
        |<rule>
        |  key  world
        |  pattern ^(alice|chaos)$
        |  tag application.${tag_parts[0]}.$1_server
        |</rule>
        |<rule>
        |  key world
        |  pattern ^[a-z]+$
        |  tag application.${tag_parts[1]}.future_server
        |</rule>""".stripMargin)
    val df = frame(Seq("user_id", "world", "user_name"), "game.production.api", Seq(
      Seq("10000", "chaos", "gamagoori"),
      Seq("10001", "chaos", "sanageyama"),
      Seq("10002", "nehan", "inumuta"),
      Seq("77777", "space", "Lynn Minmay"),
      Seq("99999", "space", "Harlock")))
    val out = routedMap(df, rules, cfg)
    assert(out.size == 5)
    assert(out(0)._1 == "application.game.chaos_server")
    assert(out(1)._1 == "application.game.chaos_server")
    assert(out(2)._1 == "application.production.future_server")
    assert(out(3)._1 == "vip.production.remember_love")
    assert(out(4)._1 == "api.game.production")
  }

  // --- hostname_command (:169-186): command output becomes ${hostname} ----
  test("hostname_command: short-form command output fills ${hostname}") {
    val confText =
      """hostname_command echo short-name
        |<rule>
        |  key domain
        |  pattern ^www\..+$
        |  tag rewritten.${hostname}
        |</rule>""".stripMargin
    val (rules, cfg) = RuleTableLoader.fromConf(confText)
    val df = frame(Seq("domain"), "input.access", Seq(Seq("www.google.com")))
    assert(routedMap(df, rules, cfg)(0)._1 == "rewritten.short-name")
  }

  // --- remove_tag_prefix (:109-143), both with and without trailing dot --
  test("remove_tag_prefix strips 'input' and 'input.'") {
    val rules = Seq(Rule("domain", "^www\\.google\\.com$", "${tag}"))
    val df = frame(Seq("domain"), "input.access", Seq(Seq("www.google.com")))
    assert(routedMap(df, rules,
      RoutingConfig(removeTagPrefix = Some("input")))(0)._1 == "access")
    assert(routedMap(df, rules,
      RoutingConfig(removeTagPrefix = Some("input.")))(0)._1 == "access")
  }

  // --- remove_tag_regexp (:145-167) --------------------------------------
  test("remove_tag_regexp strips matching, leaves non-matching intact") {
    val rules = Seq(Rule("domain", "^www\\.google\\.com$", "rewritten.${tag}"))
    val cfg = RoutingConfig(removeTagRegexp = Some("^input\\.(apache|nginx)\\."))
    def route1(tag: String): String = {
      val df = frame(Seq("domain"), tag, Seq(Seq("www.google.com")))
      routedMap(df, rules, cfg)(0)._1
    }
    assert(route1("input.apache.access") == "rewritten.access")
    assert(route1("input.nginx.access") == "rewritten.access")
    assert(route1("input.tomcat.access") == "rewritten.input.tomcat.access")
  }

  // --- short hostname (:169-186) -----------------------------------------
  test("hostname placeholder uses configured (driver-captured) hostname") {
    val rules = Seq(Rule("domain", "^www\\.google\\.com$", "${hostname}"))
    val cfg = RoutingConfig(removeTagPrefix = Some("input"), hostname = "shorthost")
    val df = frame(Seq("domain"), "input.access", Seq(Seq("www.google.com")))
    assert(routedMap(df, rules, cfg)(0)._1 == "shorthost")
  }

  // --- non matching / invert (:188-213) ----------------------------------
  test("invert: missing field is empty value; empty skips normal rules only") {
    val rules = Seq(
      Rule("domain", "^www\\..+$", "not_start_with_www", invert = true),
      Rule("domain", "^www\\..+$", "start_with_www"))
    val df = frame(Seq("domain", "path"), "input.access", Seq(
      Seq("www.google.com", null),
      Seq(null, "/"), // domain missing → "" → inverted rule evaluates and fires
      Seq("maps.google.com", null)))
    val out = routedMap(df, rules)
    assert(out.size == 3)
    assert(out(0)._1 == "start_with_www")
    assert(out(1)._1 == "not_start_with_www")
    assert(out(2)._1 == "not_start_with_www")
  }

  // --- split by tag (:215-253) -------------------------------------------
  test("${tag_parts[n]} indexing and rule order") {
    val rules = Seq(
      Rule("user_name", "^Lynn Minmay$", "vip.${tag_parts[1]}.remember_love"),
      Rule("user_name", "^Harlock$", "${tag_parts[2]}.${tag_parts[0]}.${tag_parts[1]}"),
      Rule("world", "^(alice|chaos)$", "application.${tag_parts[0]}.$1_server"),
      Rule("world", "^[a-z]+$", "application.${tag_parts[1]}.future_server"))
    val df = frame(Seq("user_id", "world", "user_name"), "game.production.api", Seq(
      Seq("10000", "chaos", "gamagoori"),
      Seq("10001", "chaos", "sanageyama"),
      Seq("10002", "nehan", "inumuta"),
      Seq("77777", "space", "Lynn Minmay"),
      Seq("99999", "space", "Harlock")))
    val out = routedMap(df, rules)
    assert(out(0)._1 == "application.game.chaos_server")
    assert(out(1)._1 == "application.game.chaos_server")
    assert(out(2)._1 == "application.production.future_server")
    assert(out(3)._1 == "vip.production.remember_love")
    assert(out(4)._1 == "api.game.production")
  }

  // --- nested keys (:293-325), dot and bracket notation -------------------
  test("nested key via struct column, dot and bracket forms") {
    val schema = StructType(Seq(
      StructField("rid", IntegerType, nullable = false),
      StructField("email", StructType(Seq(
        StructField("localpart", StringType), StructField("domain", StringType)))),
      StructField("source", StringType, nullable = false)))
    val rows = Seq(
      Row(0, Row("john", "example.com"), "input"),
      Row(1, Row("doe", "example.jp"), "input"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    for (key <- Seq("$.email.domain", "$['email']['domain']")) {
      val out = Router.route(df, Seq(Rule(key, "^(example)\\.(com)$", "$2.$1")),
        RoutingConfig()).collect()
      assert(out.length == 1)
      assert(out(0).getAs[String]("new_tag") == "com.example")
      assert(out(0).getAs[Int]("rid") == 0) // example.jp dropped (:327-348)
    }
  }

  // --- relabel (:372-419) -------------------------------------------------
  test("relabel: unchanged tag survives when a label is set") {
    val rules = Seq(
      Rule("key", "^(odd)$", "$1", label = Some("odd_label")),
      Rule("key", "^(even)$", "${tag}", label = Some("even_label")),
      Rule("key", "^(.*)$", "$1"))
    val df = frame(Seq("key", "message"), "input", Seq(
      Seq("odd", "message-1"), Seq("even", "message-2"), Seq("zero", "message-3"),
      Seq("odd", "message-4"), Seq("even", "message-5"), Seq("zero", "message-6")))
    val out = routedMap(df, rules)
    assert(out.size == 6)
    assert(out(0) == ("odd", Some("odd_label")))
    assert(out(1) == ("input", Some("even_label"))) // unchanged tag + label → kept
    assert(out(2) == ("zero", None))
    assert(out(3) == ("odd", Some("odd_label")))
    assert(out(4) == ("input", Some("even_label")))
    assert(out(5) == ("zero", None))
  }

  // --- emit_mode batch grouping (:455-487) → per-sink sets/counts ---------
  test("per-sink grouping: odd/even counts (batch-mode analog)") {
    val rules = Seq(Rule("key", "^(odd|even)$", "$1"))
    val df = frame(Seq("key", "message"), "input", Seq(
      Seq("odd", "message-1"), Seq("even", "message-2"), Seq("odd", "message-3"),
      Seq("even", "message-4"), Seq("odd", "message-5"), Seq("even", "message-6")))
    val counts = Router.sinkCounts(Router.route(df, rules, RoutingConfig()))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("@default", "odd") -> 3L, ("@default", "even") -> 3L))
  }

  // --- capitalize (R-CAP, :150; README ExampleMail) -----------------------
  test("capitalize_regex_backreference: upper(head)+lower(tail), not initcap") {
    val rules = Seq(Rule("domain", "^(maps|news|MAIL)\\.example\\.com$", "site.Example$1"))
    val cfg = RoutingConfig(capitalizeRegexBackreference = true)
    val df = frame(Seq("domain"), "input.access", Seq(
      Seq("maps.example.com"), Seq("news.example.com"), Seq("MAIL.example.com")))
    val out = routedMap(df, rules, cfg)
    assert(out(0)._1 == "site.ExampleMaps")
    assert(out(1)._1 == "site.ExampleNews")
    assert(out(2)._1 == "site.ExampleMail") // "MAIL" → "Mail": rest is DOWNcased
  }

  test("capitalize upcases the first code point, not half a surrogate pair") {
    val rules = Seq(Rule("domain", "^(.+)$", "u.$1"))
    val cfg = RoutingConfig(capitalizeRegexBackreference = true)
    val value = "𐐨ABC" // U+10428 DESERET SMALL LONG I, then ABC
    val df = frame(Seq("domain"), "input", Seq(Seq(value)))
    val want = "u.𐐀abc" // U+10400, its capital
    assert(Oracle.route(rules, cfg, "input", Map("domain" -> value)) ==
      Some((want, None)))
    assert(routedMap(df, rules, cfg)(0)._1 == want) // fused
    val column = Router.route(df, CaseWhenRouting.compile(rules, cfg, df.schema, "source"))
    assert(column.collect().map(_.getAs[String]("new_tag")).toSeq == Seq(want))
  }

  // --- unknown placeholder / out-of-range behaviors -----------------------
  test("unknown placeholder and out-of-range backref/tag_parts → empty string") {
    val rules = Seq(
      Rule("domain", "^(a)$", "x.${foo}.$5.${tag_parts[9]}.y"))
    val df = frame(Seq("domain"), "t1.t2", Seq(Seq("a")))
    // four literal dots survive; the three expansions are all ""
    assert(routedMap(df, rules)(0)._1 == "x....y")
  }

  // --- inverted rules keep $n literal (:122-124) --------------------------
  test("inverted rule does not substitute backrefs") {
    val rules = Seq(Rule("domain", "^zzz$", "no_match.$1", invert = true))
    val df = frame(Seq("domain"), "input", Seq(Seq("abc")))
    assert(routedMap(df, rules)(0)._1 == "no_match.$1")
  }

  // --- pattern forms (:21-43): /re/-delimited and bare are equivalent -----
  test("pattern accepts /re/ and bare forms (regexp_type surface)") {
    val df = frame(Seq("message"), "input", Seq(
      Seq("[simple] test"), Seq("no match here")))
    val slashForm = routedMap(df, Seq(
      Rule("message", "/^\\[simple\\]/", "rewritten.simple")))
    val bareForm = routedMap(df, Seq(
      Rule("message", "^\\[simple\\]", "rewritten.simple")))
    assert(slashForm == bareForm)
    assert(slashForm == Map(0 -> ("rewritten.simple", None)))
    // duplicate detection treats /re/ and re as the SAME compiled pattern
    intercept[RuleConfigError] {
      RuleCompiler.compileFused(Seq(
        Rule("message", "/^x$/", "a"),
        Rule("message", "^x$", "b")),
        RoutingConfig(), df.schema, "source")
    }
    // remove_tag_regexp accepts the /re/ form too (:14)
    val stripped = routedMap(
      frame(Seq("message"), "input.access", Seq(Seq("hit"))),
      Seq(Rule("message", ".+", "got.${tag}")),
      RoutingConfig(removeTagRegexp = Some("/^input\\./")))
    assert(stripped(0)._1 == "got.access")
  }

  // --- invalid bytes (:255-291): scrub for MATCHING, route ORIGINAL -------
  test("invalid-encoding scrub: match sees '?', routed row keeps raw bytes") {
    import graft.expressions.ScrubToUtf8
    val schema = StructType(Seq(
      StructField("rid", IntegerType, nullable = false),
      StructField("raw", BinaryType, nullable = true),
      StructField("source", StringType, nullable = false)))
    val rows = Seq(
      Row(0, Array[Byte](0xff.toByte), "input"), // invalid UTF-8
      Row(1, "plain".getBytes("UTF-8"), "input"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      // the reference's shape: rules read the scrubbed projection, the
      // record itself (raw) passes through unchanged (:139-145)
      .withColumn("message", ScrubToUtf8(col("raw")))
    val routed = Router.route(df, Seq(Rule("message", "^(.+)$", "app.$1")))
      .collect().map(r => r.getAs[Int]("rid") ->
        (r.getAs[String]("new_tag"), r.getAs[Array[Byte]]("raw"))).toMap
    assert(routed(0)._1 == "app.?") // test :262-266: tag from scrubbed value
    assert(routed(0)._2.sameElements(Array[Byte](0xff.toByte))) // raw survives
    assert(routed(1)._1 == "app.plain")
    assert(routed(1)._2.sameElements("plain".getBytes("UTF-8")))
  }

  // --- rules keyed DIRECTLY on a BinaryType column (R-SCRUB in KeyPath) ---
  test("binary rule key: KeyPath scrubs for matching, routed row keeps raw bytes") {
    val schema = StructType(Seq(
      StructField("rid", IntegerType, nullable = false),
      StructField("raw", BinaryType, nullable = true),
      StructField("source", StringType, nullable = false)))
    val rows = Seq(
      Row(0, Array[Byte](0xff.toByte), "input"), // invalid UTF-8 → matches as "?"
      Row(1, "plain".getBytes("UTF-8"), "input"),
      Row(2, null, "input")) // null binary ≡ missing field ≡ ""
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    // no manual scrub projection: the rule keys the binary column itself
    val routed = Router.route(df, Seq(Rule("raw", "^(.+)$", "app.$1")))
      .collect().map(r => r.getAs[Int]("rid") ->
        (r.getAs[String]("new_tag"), r.getAs[Array[Byte]]("raw"))).toMap
    assert(routed(0)._1 == "app.?")
    assert(routed(0)._2.sameElements(Array[Byte](0xff.toByte))) // bytes survive
    assert(routed(1)._1 == "app.plain")
    assert(!routed.contains(2)) // empty value skips the normal rule (R-EMPTY)
  }

  // --- null tag column: both compilations treat it as "" ------------------
  test("scrub: maximal-subpart replacement vectors (Ruby String#scrub parity)") {
    import graft.expressions.ScrubToUtf8
    def s(bytes: Int*): String =
      ScrubToUtf8.scrub(bytes.map(_.toByte).toArray).toString
    assert(s(0xff) == "?") // lone invalid byte
    assert(s(0xe0, 0x80, 0x80) == "???") // E0 + invalid successor: per-byte
    assert(s(0xe0, 0xa0) == "?") // truncated VALID prefix at EOF: one mark
    assert(s('a', 0xc3, 't') == "a?t") // truncated 2-byte mid-stream
    assert(s(0xf0, 0x9f, 0x92) == "?") // truncated VALID 4-byte prefix at EOF
    assert(s(0xf0, 0x28, 0x8c, 0x28) == "?(?(") // invalid successors interleaved
    // CESU surrogate: Ruby rejects ED's successor A0 (valid range 80-9F) and
    // restarts there → per-byte. (JDK's decoder reports the triple as ONE
    // malformed unit — the reason scrub is hand-rolled, not REPLACE-decoded.)
    assert(s(0xed, 0xa0, 0x80) == "???")
    assert(s(0xc0, 0xaf) == "??") // overlong: C0 is never a valid lead
    assert(s('o', 'k', 0xc3, 0xa9, '!') == "oké!") // valid passthrough
  }

  test("null tag column: fused and column plans agree (null tag = empty)") {
    val schema = StructType(Seq(
      StructField("rid", IntegerType, nullable = false),
      StructField("status", StringType, nullable = true),
      StructField("source", StringType, nullable = true)))
    val rows = Seq(
      Row(0, "503", null), // null tag + firing rule
      Row(1, "200", null), // null tag, no rule fires
      Row(2, "503", "web.api"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    val rules = Seq(Rule("status", "^5..$", "alert.${tag}"))
    def res(plan: RuleCompiler.RoutingPlan) =
      Router.route(df, plan).collect()
        .map(r => r.getAs[Int]("rid") -> r.getAs[String]("new_tag")).toMap
    val fused = res(RuleCompiler.compileFused(rules, RoutingConfig(), schema, "source"))
    val column = res(CaseWhenRouting.compile(rules, RoutingConfig(), schema, "source"))
    assert(fused == column)
    assert(fused == Map(0 -> "alert.", 2 -> "alert.web.api")) // null tag ≡ ""
  }

  // --- drop metrics (:96-99 trace) ----------------------------------------
  test("observe metrics: emitted / matched / unmatched") {
    val rules = Seq(
      Rule("key", "^(odd)$", "$1"),
      Rule("key", "^same$", "${tag}"), // fires, tag unchanged, no label: drop
      Rule("key", "^relabel$", "${tag}", label = Some("lab"))) // kept by label
    val df = frame(Seq("key"), "input",
      Seq(Seq("odd"), Seq("even"), Seq("odd"), Seq("same"), Seq("relabel")))
    def observed(plan: RuleCompiler.RoutingPlan) = {
      val obs = org.apache.spark.sql.Observation()
      val routed = Router.routeObserved(df, plan, obs).collect()
        .map(r => r.getAs[Int]("rid") ->
          (r.getAs[String]("new_tag"), Option(r.getAs[String]("new_label")))).toMap
      val m = obs.get
      (routed, Seq("emitted", "matched", "unmatched").map(m))
    }
    val fused = observed(RuleCompiler.compileFused(rules, RoutingConfig(), df.schema, "source"))
    val column = observed(CaseWhenRouting.compile(rules, RoutingConfig(), df.schema, "source"))
    assert(fused._1 == Map(0 -> ("odd", None), 2 -> ("odd", None),
      4 -> ("input", Some("lab"))))
    assert(fused._2 == Seq(5L, 4L, 2L)) // emitted, matched (fired), unmatched (dropped)
    assert(column == fused)
  }
}
