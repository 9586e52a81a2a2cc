package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential testing: the fused engine and the [[CaseWhenRouting]]
  * reference must agree row-for-row with the ~30-line scalar [[Oracle]]
  * interpreter (a direct transcription of out_rewrite_tag_filter.rb:117-137)
  * on randomized rule tables, configs, records, and tags. Complements the golden suite: goldens pin the
  * reference's exact examples, this pins the whole semantic surface.
  * Generators are driven with fixed seeds (deterministic, reproducible runs;
  * no scalatestplus bridge needed).
  */
class OracleDifferentialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cols = Seq("domain", "agent", "world", "status")

  private val genKey: Gen[String] =
    Gen.oneOf("domain", "agent", "world", "status", "missing_col")

  // Portable, varied patterns: anchored/unanchored, groups, alternation,
  // optional groups (non-participating group → ""), char classes, ^$.
  private val genPattern: Gen[String] = Gen.oneOf(
    "^www\\..+$", "google", "^(a|b)c?$", "[0-9]+", "^$", "^(foo)(bar)?$",
    "^(maps|news|mail)\\.", "(Googlebot|CustomBot)-([a-zA-Z]+)", ".+",
    "o{2}", "^(?!deny).*$", "/^www\\./", "/(goo)gle/") // incl. /re/ forms

  private val genTemplate: Gen[String] = Gen.oneOf(
    "t.$1", "x.${tag}", "p.${tag_parts[1]}", "site.$1-$2", "${hostname}.y",
    "lit.only", "u.${unknown}.v", "$3.z", "a.$1.${tag_parts[0]}.$10",
    "${tag}", "__TAG__.q", "vip.${tag_parts[2]}.w")

  private val genRule: Gen[Rule] = for {
    k <- genKey; p <- genPattern; t <- genTemplate
    lbl <- Gen.oneOf(None, None, Some("lab1"), Some("lab2"))
    inv <- Gen.oneOf(false, false, false, true)
  } yield Rule(k, p, t, lbl, inv)

  private val genRules: Gen[List[Rule]] =
    Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, genRule))
      .map(_.distinctBy(r => (r.key, r.invert, r.pattern)))

  private val genConfig: Gen[RoutingConfig] = for {
    cap <- Gen.oneOf(true, false)
    strip <- Gen.oneOf(
      RoutingConfig(removeTagPrefix = Some("input")),
      RoutingConfig(removeTagPrefix = Some("game.production")),
      RoutingConfig(removeTagRegexp = Some("^input\\.")),
      RoutingConfig(removeTagRegexp = Some("prod")), // unanchored: sub-first!
      RoutingConfig())
  } yield strip.copy(capitalizeRegexBackreference = cap, hostname = "diffhost")

  private val genValue: Gen[Option[String]] = Gen.oneOf(
    None, Some(""), Some("www.google.com"), Some("maps.example.com"),
    Some("foo"), Some("foobar"), Some("GOOGLE x1"), Some("Googlebot-FooBar"),
    Some("ac"), Some("b"), Some("123"), Some("deny.all"), Some("xooy"))

  private val genRecord: Gen[Seq[Option[String]]] =
    Gen.sequence[Seq[Option[String]], Option[String]](cols.map(_ => genValue))

  private val genTag: Gen[String] = Gen.oneOf(
    "input.access", "game.production.api", "input", "a.b.c.d", "solo")

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val schema = StructType(
    StructField("rid", IntegerType, nullable = false) +:
      cols.map(c => StructField(c, StringType, nullable = true)) :+
      StructField("source", StringType, nullable = false))

  private type Rec = (Seq[Option[String]], String)

  /** Route `recs` (rid = position) through `df` with both compilations and
    * assert each equals the scalar oracle.
    */
  private def assertAgrees(ctx: String, rules: List[Rule], cfg: RoutingConfig,
      recs: Seq[Rec], df: DataFrame): Unit = {
    def collectRouted(plan: RuleCompiler.RoutingPlan) =
      Router.route(df, plan).collect().map { r =>
        r.getAs[Int]("rid") ->
          (r.getAs[String]("new_tag"), Option(r.getAs[String]("new_label")))
      }.toMap
    val got = collectRouted(CaseWhenRouting.compile(rules, cfg, schema, "source"))
    val gotFused =
      collectRouted(RuleCompiler.compileFused(rules, cfg, schema, "source"))
    val want = recs.zipWithIndex.flatMap { case ((vals, tag), i) =>
      val record: Map[String, Any] =
        cols.zip(vals).collect { case (c, Some(v)) => c -> v }.toMap
      Oracle.route(rules, cfg, tag, record).map(i -> _)
    }.toMap
    assert(got == want,
      s"\n$ctx\nrules=$rules\ncfg=$cfg\nmismatch=${
        recs.zipWithIndex.filter(p => got.get(p._2) != want.get(p._2)).take(20)}")
    // fused single-expression cascade ≡ CaseWhen reference ≡ scalar oracle
    assert(gotFused == want,
      s"\n[fused] $ctx\nrules=$rules\ncfg=$cfg\nmismatch=${
        recs.zipWithIndex.filter(p => gotFused.get(p._2) != want.get(p._2)).take(20)}")
  }

  private def frameOf(recs: Seq[Rec]): DataFrame = {
    val rows = recs.zipWithIndex.map { case ((vals, tag), i) =>
      Row.fromSeq(i +: vals.map(_.orNull) :+ tag)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  test("engine ≡ scalar oracle on randomized rules × configs × records") {
    for (iter <- 0 until 15) {
      val rules = sample(genRules, 1000 + iter)
      val cfg = sample(genConfig, 2000 + iter)
      val recs = sample(Gen.listOfN(25, Gen.zip(genRecord, genTag)), 3000 + iter)
      assertAgrees(s"iter=$iter", rules, cfg, recs, frameOf(recs))
    }
  }

  test("engine ≡ scalar oracle across the fused cache's switch to bypass") {
    import graft.expressions.CompiledRuleTable.ProbeMisses
    // Unique tags make every row of the head distinct, so one task thread
    // ends the cache's probe in bypass; the tail then repeats 25 records.
    val head = sample(Gen.listOfN(ProbeMisses + 500, Gen.zip(genRecord, genTag)), 3100)
      .zipWithIndex.map { case ((vals, tag), i) => (vals, s"$tag.u$i") }
    val pool = sample(Gen.listOfN(25, Gen.zip(genRecord, genTag)), 3101)
    val recs = head ++ (0 until 2000).map(i => pool(i * 7 % 25))
    // one parquet file = one partition = one task, read by the vectorized
    // reader (reused value buffers), as in production
    val dir = java.nio.file.Files.createTempDirectory("diff-bypass").toString
    try {
      frameOf(recs).coalesce(1).write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions == 1)
      for (iter <- 0 until 3)
        assertAgrees(s"bypass iter=$iter", sample(genRules, 1100 + iter),
          sample(genConfig, 2100 + iter), recs, df)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("prepending a never-matching rule changes nothing (first-match-wins)") {
    val rules = List(
      Rule("domain", "google", "g.$1.${tag_parts[1]}"),
      Rule("agent", ".+", "a.${tag}"))
    val rows = (0 until 20).map(i =>
      Row.fromSeq(i +: Seq(if (i % 3 == 0) "www.google.com" else null,
        s"agent-$i", null, null) :+ "in.tag"))
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    def res(rs: Seq[Rule]) =
      Router.route(df, rs, RoutingConfig()).collect()
        .map(r => (r.getAs[Int]("rid"), r.getAs[String]("new_tag"))).toSet
    assert(res(rules) == res(Rule("status", "^never-matches-x$", "zz") :: rules))
  }
}
