package graft

import java.util.regex.Pattern

import graft.RuleCompiler.RoutingPlan
import graft.TemplateParser._
import graft.expressions.RegexpReplaceFirst
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Reference compilation of a rule table to a pure built-in `CASE WHEN`
  * plan (plus [[RegexpReplaceFirst]] for the tag strip), differentially
  * tested against [[RuleCompiler.compileFused]] and the scalar [[Oracle]].
  *
  * First-match-wins (out_rewrite_tag_filter.rb:117-137) maps onto `CaseWhen`
  * branch order; Catalyst never reorders CaseWhen branches. The drop
  * predicate (:96-100) is stated over the cascade's result inside the
  * struct, so the plan emits the fused contract and runs through the one
  * [[Router]]: null struct = no rule fired, `struct(null, null)` = fired
  * but dropped, otherwise `(tag, label)`.
  */
object CaseWhenRouting {

  def compile(
      rules: Seq[Rule],
      cfg: RoutingConfig,
      schema: StructType,
      tagCol: String = "source"): RoutingPlan = {

    RuleCompiler.validate(rules, cfg)

    // null tag ≡ "" (Fluentd's missing-value convention, as in the fused path)
    val orig = coalesce(col(tagCol).cast(StringType), lit(""))
    val stripped = strippedTagExpr(orig, cfg)

    val branches = rules.map { rule =>
      val v = KeyPath.resolve(rule.key, schema)
      val pat = rule.normalizedPattern // accepts /re/ and bare forms (:24)
      // Empty-value skip (R-EMPTY, :120): normal rules require a non-empty
      // value; inverted rules evaluate even on "" (missing field included).
      val cond =
        if (rule.invert) !v.rlike(pat)
        else length(v) > 0 && v.rlike(pat)
      val tagExpr =
        renderTemplate(rule, pat, v, RuleCompiler.groupCount(rule), stripped, cfg)
      val labelExpr = rule.label.map(lit).getOrElse(lit(null).cast(StringType))
      (cond, struct(tagExpr.as("tag"), labelExpr.as("label")))
    }

    val fired = branches.tail
      .foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, s)) => acc.when(c, s)
      } // no .otherwise → null struct = no rule fired (:136)

    val tag = fired.getField("tag")
    val label = fired.getField("label")
    val kept = (tag.isNotNull && tag =!= orig) || label.isNotNull
    val dropped = struct(
      lit(null).cast(StringType).as("tag"), lit(null).cast(StringType).as("label"))
    // a fired rule always renders a non-null tag; a null one falls back to
    // the original (:100)
    val routed = when(fired.isNotNull,
      when(kept, struct(coalesce(tag, orig).as("tag"), label.as("label")))
        .otherwise(dropped))

    RoutingPlan(routed, RuleCompiler.ruleVersionHash(rules, cfg))
  }

  /** Tag stripped for placeholder purposes ONLY (:155-156); the drop check
    * still compares the original tag. Ruby `sub` replaces the first match —
    * hence [[RegexpReplaceFirst]], not the replace-all builtin.
    */
  private def strippedTagExpr(tag: Column, cfg: RoutingConfig): Column =
    (cfg.removeTagPrefix, cfg.removeTagRegexp) match {
      case (Some(p), _) =>
        // prefix compiled to /^<escaped>\.?/ (:69-71): strips "p" and "p."
        RegexpReplaceFirst(tag, "^" + Pattern.quote(p) + "\\.?", "")
      case (_, Some(re)) => RegexpReplaceFirst(tag, Rule.normalizePattern(re), "")
      case _             => tag
    }

  /** Render one rule's tag template to a `concat(...)` of independent
    * segments. Matches both reference gsub passes (:128 backrefs then :130
    * placeholders); segment-independent evaluation deliberately does not
    * reproduce Ruby's re-expansion of placeholder text arriving *inside* a
    * captured value (sequential-gsub injection) — see SURVEY.md §2.4.1.
    */
  private def renderTemplate(
      rule: Rule,
      pat: String,
      value: Column,
      groupCount: Int,
      stripped: Column,
      cfg: RoutingConfig): Column = {
    val parts: Seq[Column] = TemplateParser.parse(rule.tag).map {
      case Lit(s) => lit(s)
      case Backref(n) =>
        if (rule.invert) lit("$" + n) // inverted rules keep $n literal (:122-124)
        else if (n == 0 || n > groupCount) lit("") // absent key in gsub table → ""
        else {
          val c = regexp_extract(value, pat, n)
          if (cfg.capitalizeRegexBackreference) capitalizeRuby(c) else c
        }
      case TagPh        => stripped
      case TagPart(i)   =>
        // split keeps trailing empties (limit -1) vs Ruby dropping them; the
        // difference is unobservable because out-of-range reads are "" both
        // ways. `get` is 0-based + null-safe (ANSI-proof), like tag_parts[i].
        coalesce(get(split(stripped, "\\."), lit(i)), lit(""))
      case HostnamePh   => lit(cfg.hostname)
      case UnknownPh(_) => lit("") // unknown placeholder → "" + warn (:131-132)
    }
    parts match {
      case Seq()  => lit("")
      case Seq(c) => c
      case many   => concat(many: _*)
    }
  }

  /** Ruby `String#capitalize` (:150): upcase FIRST char, downcase the rest.
    * NOT Spark `initcap` (which title-cases every whitespace-separated word:
    * "foo bar" → initcap "Foo Bar" vs Ruby "Foo bar").
    */
  private def capitalizeRuby(c: Column): Column =
    concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue)))
}
