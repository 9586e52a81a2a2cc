package graft

import java.util.regex.{Pattern, PatternSyntaxException}

import graft.expressions.{CompiledRuleTable, FusedRule, TagRewriteExpr}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Compiles an ordered rule table into one Catalyst expression — the
  * engine's "query compilation" step, mirroring the reference's `configure`
  * (out_rewrite_tag_filter.rb:35-74) but emitting a whole-stage-codegen'd
  * [[TagRewriteExpr]] instead of an interpreted loop. The expression runs
  * the first-match-wins cascade (:117-137) in rule order, so rule order is
  * preserved by construction, and it decides the drop (:96-100) too.
  */
object RuleCompiler {

  /** Compiled plan. `routed` is the fused `struct(tag, label)` column:
    * a null struct when no rule fires, `struct(null, null)` when a rule
    * fires but the row is dropped (tag unchanged, no label), otherwise the
    * routed tag and label. All rule constants are folded into the
    * expression, so the plan ships to executors inside the serialized
    * physical plan with no closure or broadcast state (the reference's
    * multi-worker share-nothing model, out_rewrite_tag_filter.rb:76-78).
    */
  final case class RoutingPlan(routed: Column, ruleVersionHash: String)

  /** The whole cascade as ONE custom codegen'd Catalyst expression
    * ([[TagRewriteExpr]]): patterns compiled once per plan, one regex pass
    * per row, reused matchers (see [[CompiledRuleTable]]).
    */
  def compileFused(
      rules: Seq[Rule],
      cfg: RoutingConfig,
      schema: StructType,
      tagCol: String = "source"): RoutingPlan = {

    validate(rules, cfg)

    val keys = rules.map(_.key).distinct
    val keyIdx = keys.zipWithIndex.toMap
    val fused = rules.map { r =>
      FusedRule(keyIdx(r.key) + 1, r.normalizedPattern, r.invert, r.label.orNull,
        TemplateParser.parse(r.tag).toArray, groupCount(r))
    }
    val stripRegex = (cfg.removeTagPrefix, cfg.removeTagRegexp) match {
      case (Some(p), _)  => "^" + Pattern.quote(p) + "\\.?"
      case (_, Some(re)) => Rule.normalizePattern(re) // regexp_type form (:14)
      case _             => null
    }
    val table =
      CompiledRuleTable(fused.toArray, cfg.capitalizeRegexBackreference,
        cfg.hostname, stripRegex)
    val children =
      ColumnBridge.expression(coalesce(col(tagCol).cast(StringType), lit(""))) +:
        keys.map(k => ColumnBridge.expression(KeyPath.resolve(k, schema)))
    val routed = ColumnBridge.column(TagRewriteExpr(children, table))

    RoutingPlan(routed, ruleVersionHash(rules, cfg))
  }

  /** Capture-group count of a rule's compiled pattern; an invalid Java regex
    * is a config error at compile time, not a task failure.
    */
  private[graft] def groupCount(rule: Rule): Int =
    try Pattern.compile(rule.normalizedPattern).matcher("").groupCount()
    catch {
      case e: PatternSyntaxException =>
        throw new RuleConfigError(
          s"rule pattern is not a valid Java regex: ${rule.pattern} (${e.getMessage})")
    }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Validations — the reference's ConfigError surface (:53-67). */
  private[graft] def validate(rules: Seq[Rule], cfg: RoutingConfig): Unit = {
    if (rules.isEmpty)
      throw new RuleConfigError("missing rewriterules") // :57-59
    // per-rule compile log — the reference's operator-debugging surface (:50)
    rules.foreach(r => log.info(
      s"adding rewrite rule: ${r.key} [${r.normalizedPattern}" +
        s"${if (r.invert) " (inverted)" else ""} -> ${r.tag}" +
        s"${r.label.fold("")(l => s" @$l")}]"))
    // duplicate key is (key, invert-marker, pattern) — tag/label excluded (:49,:61-63)
    // dup key uses the COMPILED pattern (:49,:61-63): /re/ and re collide
    val names = rules.map(r =>
      r.key + (if (r.invert) "!" else "") + r.normalizedPattern)
    if (names.distinct.length != names.length)
      throw new RuleConfigError(s"duplicated rewriterules found: $rules") // :61-63
    if (cfg.removeTagPrefix.isDefined && cfg.removeTagRegexp.isDefined)
      throw new RuleConfigError(
        "remove_tag_prefix and remove_tag_regexp are exclusive") // :65-67
    cfg.removeTagRegexp.foreach { re =>
      try Pattern.compile(Rule.normalizePattern(re))
      catch {
        case e: PatternSyntaxException =>
          throw new RuleConfigError(s"invalid remove_tag_regexp: ${e.getMessage}")
      }
    }
    rules.foreach(r => TemplateParser.parse(r.tag)) // rejects range forms (:43-45)
  }

  /** Canonical sha256 over rules + config — checkpoint lineage's
    * rule-version hash (BASELINE.json north_star).
    */
  def ruleVersionHash(rules: Seq[Rule], cfg: RoutingConfig): String = {
    val canonical = (rules.map(r =>
      Seq(r.key, r.pattern, r.tag, r.label.getOrElse("\u0000"), r.invert)
        .mkString("\u0001")) :+
      Seq(cfg.capitalizeRegexBackreference,
        cfg.removeTagPrefix.getOrElse("\u0000"),
        cfg.removeTagRegexp.getOrElse("\u0000"),
        cfg.hostname).mkString("\u0001")).mkString("\u0002")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
