package graft

import graft.TemplateParser._
import org.scalatest.funsuite.AnyFunSuite

class TemplateParserSpec extends AnyFunSuite {

  test("plain literal") {
    assert(parse("site.Google") == List(Lit("site.Google")))
  }

  test("backrefs, single and multi-digit") {
    assert(parse("agent.$1-$2") ==
      List(Lit("agent."), Backref(1), Lit("-"), Backref(2)))
    assert(parse("x$10y") == List(Lit("x"), Backref(10), Lit("y")))
  }

  test("placeholders: tag, tag_parts, hostname, both syntaxes") {
    assert(parse("site.${tag}.$1") ==
      List(Lit("site."), TagPh, Lit("."), Backref(1)))
    assert(parse("${tag_parts[2]}.${tag_parts[0]}") ==
      List(TagPart(2), Lit("."), TagPart(0)))
    assert(parse("${hostname}") == List(HostnamePh))
    assert(parse("__TAG__.__HOSTNAME__") == List(TagPh, Lit("."), HostnamePh))
  }

  test("__TAG_PARTS[n]__ is literal text (reference gsub regex quirk :130)") {
    // `__[A-Z_]+__` cannot match the brackets, so the text passes through.
    val segs = parse("a.__TAG_PARTS[0]__.b")
    assert(!segs.exists(_.isInstanceOf[TagPart]))
    assert(segs.mkString.contains("TAG_PARTS") || segs.exists {
      case Lit(s) => s.contains("TAG_PARTS[0]")
      case _      => false
    })
  }

  test("unknown placeholder recognized syntactically") {
    assert(parse("${foobar}") == List(UnknownPh("${foobar}")))
    assert(parse("__FOO__") == List(UnknownPh("__FOO__")))
  }

  test("range forms rejected (C-RANGE, :43-45 / README.md:258)") {
    intercept[RuleConfigError](parse("${tag_parts[0..2]}"))
    intercept[RuleConfigError](parse("__TAG_PARTS[0..2]__"))
    intercept[RuleConfigError](parse("${tag_parts[0...2]}"))
  }

  test("unmatched text around tokens") {
    assert(parse("a${tag}b$1c") ==
      List(Lit("a"), TagPh, Lit("b"), Backref(1), Lit("c")))
  }
}

class KeyPathParseSpec extends AnyFunSuite {
  import KeyPath._

  test("plain, dot and bracket forms (record_accessor syntaxes)") {
    assert(parse("domain") == List(Field("domain")))
    assert(parse("$.email.domain") == List(Field("email"), Field("domain")))
    assert(parse("$['email']['domain']") == List(Field("email"), Field("domain")))
    assert(parse("""$["email"]["domain"]""") == List(Field("email"), Field("domain")))
    assert(parse("$['a'][0]") == List(Field("a"), Index(0)))
  }
}

class RuleCompilerValidationSpec extends AnyFunSuite {
  private val ok = Rule("k", ".+", "t")

  test("C-NONEMPTY: empty rule set rejected (:57-59)") {
    intercept[RuleConfigError](
      RuleCompiler.compileFused(Nil, RoutingConfig(), new org.apache.spark.sql.types.StructType))
  }

  test("C-DUP: duplicate (key, invert, pattern) rejected, tag/label ignored (:61-63)") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "string")
    intercept[RuleConfigError](RuleCompiler.compileFused(
      Seq(Rule("k", "p", "t1"), Rule("k", "p", "t2")), RoutingConfig(), schema))
    // same key+pattern but different invert is NOT a duplicate
    RuleCompiler.compileFused(
      Seq(Rule("k", "p", "t1"), Rule("k", "p", "t2", invert = true)),
      RoutingConfig(), schema)
  }

  test("C-EXCL: remove_tag_prefix and remove_tag_regexp exclusive (:65-67)") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "string")
    intercept[RuleConfigError](RuleCompiler.compileFused(Seq(ok), RoutingConfig(
      removeTagPrefix = Some("input"), removeTagRegexp = Some("^input\\.")), schema))
  }

  test("C-RANGE via template (:43-45)") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "string")
    intercept[RuleConfigError](RuleCompiler.compileFused(
      Seq(Rule("k", ".+", "x.${tag_parts[0..2]}")), RoutingConfig(), schema))
  }

  test("invalid Java regex gets a compile-time error, not a task failure") {
    val schema = new org.apache.spark.sql.types.StructType().add("k", "string")
    intercept[RuleConfigError](RuleCompiler.compileFused(
      Seq(Rule("k", "([unclosed", "t")), RoutingConfig(), schema))
  }

  test("rule-version hash is stable and order/content sensitive") {
    val a = RuleCompiler.ruleVersionHash(Seq(ok), RoutingConfig(hostname = "h"))
    val b = RuleCompiler.ruleVersionHash(Seq(ok), RoutingConfig(hostname = "h"))
    val c = RuleCompiler.ruleVersionHash(Seq(ok.copy(pattern = ".*")), RoutingConfig(hostname = "h"))
    assert(a == b); assert(a != c)
  }
}
