package graft.expressions

import java.util.Locale
import java.util.regex.{Matcher, Pattern}

import graft.TemplateParser
import graft.TemplateParser._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One rule of the fused cascade. `keyIdx` indexes the expression's child
  * array (0 = the tag column; keys start at 1). `segments` is the parsed tag
  * template; `groupCount` the pattern's capture-group count (counted once at
  * compile, mirroring the reference's configure-time compilation,
  * out_rewrite_tag_filter.rb:48).
  */
final case class FusedRule(
    keyIdx: Int,
    pattern: String,
    invert: Boolean,
    label: String, // null = no label
    segments: Array[Segment],
    groupCount: Int)
    extends Serializable

/** Driver-compiled, executor-executed rule table for [[TagRewriteExpr]].
  *
  * Why this exists: a pure built-in `CASE WHEN` compilation (kept as a
  * test-side reference, `CaseWhenRouting`) evaluates each rule's regex up
  * to 1 + #backrefs times per row (`rlike` for the condition, then one
  * `regexp_extract` per `$n`), and every one of those ops allocates a fresh
  * `Matcher` + `String` + intermediate `UTF8String`s. Profiling on the
  * 32-core sandbox showed that allocation — not CPU — caps N→4N scaling
  * (raw regex with reused matchers scales at ~0.81 efficiency; the same
  * work with per-call allocation measurably worse, and the CaseWhen plan on
  * top of it reached only ~0.45). This table evaluates the WHOLE
  * first-match-wins cascade in one pass per row:
  * patterns compiled once per plan, matchers + StringBuilder reused
  * per-thread, each key value converted UTF8String→String at most once per
  * row, and the winning rule's template rendered directly from the live
  * `Matcher` — zero redundant regex executions.
  *
  * Result cache. The cascade is a pure function of the row's values (tag
  * plus every rule key), and routing keys have low cardinality in practice
  * (a handful of source tags, a few hosts). So each thread keeps a
  * direct-mapped cache of [[CompiledRuleTable.Slots]] entries keyed on the
  * raw UTF-8 bytes of the values:
  *  - a hit hashes the bytes (`UTF8String.hashCode`), compares them
  *    (`equals`) and returns the cached immutable result — no decode, no
  *    regex, no allocation. A null value keys like "" (the cascade cannot
  *    tell them apart);
  *  - a miss runs the cascade and stores COPIES of the values
  *    (`UTF8String.copy`). Vectorized readers hand out UTF8Strings over
  *    reused buffers, so an incoming object is never retained;
  *  - an entry whose key bytes plus rendered-tag bytes exceed
  *    [[CompiledRuleTable.MaxEntryBytes]] is not stored. Per-thread payload
  *    is therefore at most `Slots × MaxEntryBytes` = 512 KiB, plus object
  *    overhead of about `Slots × (64 × #values + 128)` bytes (256 KiB for
  *    a table keyed on one column besides the tag).
  *
  * High-cardinality bypass. Keys that never repeat (one per log line) must
  * not pay for copies into a table that never hits. The first
  * [[CompiledRuleTable.ProbeMisses]] misses of a thread are a probe: if
  * fewer than [[CompiledRuleTable.MinDistinctHits]] distinct-row hits came
  * with them, the cache shrinks to its most recent entry for the rest of
  * the thread's life (in practice one task: the table is deserialized with
  * each task). The one entry remains because Catalyst may evaluate this
  * expression several times per row — predicate pushdown inlines the struct
  * into the drop filter (up to 3 textual copies) and the projection
  * evaluates it again; FilterExec codegen does not eliminate common
  * subexpressions across those. The duplicates run back-to-back on the same
  * thread for the same row, so they hit the most recent entry. For the
  * same reason a hit on the slot the previous call used is not counted as a
  * distinct-row hit: counting those repeats would keep the cache on for
  * keys that never repeat across rows.
  *
  * Semantics are byte-identical to the test-side CaseWhen compilation and
  * scalar interpreter (asserted by the differential spec): empty-value skip
  * for normal rules (out_rewrite_tag_filter.rb:120), invert without
  * backrefs (:122-124), absent/out-of-range `$n` → "" (:147-153),
  * Ruby-capitalize (:150), `${tag}`/`${tag_parts[n]}`/`${hostname}`
  * placeholders (:155-171), strip via first-match-only replace (Ruby `sub`,
  * :156).
  *
  * The unchanged/unrouted DROP decision (:96-100) is fused in as well: the
  * output is `struct(tag, label)` with `tag = null` when the row must be
  * dropped (rule fired but tag unchanged and no label), and a null struct
  * when no rule fired. Keeping the drop inside the expression means the
  * downstream filter is a plain `__routed.tag IS NOT NULL` — predicate
  * pushdown then duplicates a field access, not the whole cascade.
  */
final case class CompiledRuleTable(
    rules: Array[FusedRule],
    capitalize: Boolean,
    hostname: String,
    stripRegex: String) // null = no strip
    extends Serializable {
  import CompiledRuleTable._

  @transient private lazy val patterns: Array[Pattern] =
    rules.map(r => Pattern.compile(r.pattern))
  @transient private lazy val stripPattern: Pattern =
    if (stripRegex == null) null else Pattern.compile(stripRegex)
  @transient private lazy val labelsU8: Array[UTF8String] =
    rules.map(r => if (r.label == null) null else UTF8String.fromString(r.label))

  /** Per-thread mutable state: one reusable Matcher per rule (+ strip), a
    * shared StringBuilder, the decoded values of the row being cascaded, and
    * the result cache. Matchers are not thread-safe; expression instances
    * inside a codegen'd plan can be shared across tasks, hence ThreadLocal.
    *
    * Cache layout: slot `s` holds the values `keys(s*n until (s+1)*n)` and
    * `results(s)` (which may be null: no rule fired); `keys(s*n) == null`
    * marks an empty slot. `mask` is `Slots - 1`, or 0 once bypassed.
    */
  private final class State(n: Int) {
    val matchers: Array[Matcher] = patterns.map(_.matcher(""))
    val strip: Matcher = if (stripPattern == null) null else stripPattern.matcher("")
    val sb = new java.lang.StringBuilder(64)
    val strs: Array[String] = new Array[String](n)
    var mask: Int = Slots - 1
    var keys: Array[UTF8String] = new Array[UTF8String](Slots * n)
    var results: Array[InternalRow] = new Array[InternalRow](Slots)
    var lastSlot: Int = -1 // slot of the previous call; -1 = not cached
    var misses: Int = 0 // counted during the probe only
    var distinctHits: Int = 0
  }
  @transient private lazy val local: ThreadLocal[State] = new ThreadLocal[State]

  private def state(n: Int): State = {
    var st = local.get()
    if (st == null) { st = new State(n); local.set(st) }
    st
  }

  /** values(0) = tag column ("" for null), values(i>0) = rule key columns.
    * Returns `InternalRow(new_tag, new_label)` or null when no rule fires —
    * exactly the reference's `(nil, nil)` fall-through (:136). Never
    * retains `values` or its elements.
    */
  def rewrite(values: Array[UTF8String]): InternalRow = {
    val n = values.length
    val st = state(n)
    val slot = if (st.mask == 0) 0 else slotHash(values) & st.mask
    val base = slot * n
    if (st.keys(base) != null && sameKeys(st.keys, base, values)) {
      if (slot != st.lastSlot) {
        st.lastSlot = slot
        if (st.misses < ProbeMisses) st.distinctHits += 1
      }
      return st.results(slot)
    }

    var bytes = 0
    var i = 0
    while (i < n) {
      val v = values(i)
      if (v == null) st.strs(i) = ""
      else { st.strs(i) = v.toString; bytes += v.numBytes }
      i += 1
    }
    val r = rewriteUncached(st)
    if (r != null && (r ne FiredDropped)) bytes += r.getUTF8String(0).numBytes
    if (bytes <= MaxEntryBytes) {
      i = 0
      while (i < n) {
        val v = values(i)
        st.keys(base + i) =
          if (v == null || v.numBytes == 0) UTF8String.EMPTY_UTF8 else v.copy()
        i += 1
      }
      st.results(slot) = r
      st.lastSlot = slot
    } else st.lastSlot = -1
    if (st.misses < ProbeMisses) {
      st.misses += 1
      if (st.misses == ProbeMisses && st.distinctHits < MinDistinctHits)
        shrinkToLast(st, n)
    }
    r
  }

  /** Bypass: keep only the most recent entry, in slot 0. */
  private def shrinkToLast(st: State, n: Int): Unit = {
    val keys = new Array[UTF8String](n)
    val results = new Array[InternalRow](1)
    if (st.lastSlot >= 0) {
      System.arraycopy(st.keys, st.lastSlot * n, keys, 0, n)
      results(0) = st.results(st.lastSlot)
      st.lastSlot = 0
    }
    st.keys = keys
    st.results = results
    st.mask = 0
  }

  /** The calling thread's cache, for tests. */
  private[expressions] def cacheStats(n: Int): CacheStats = {
    val st = state(n)
    var entries = 0
    var payload = 0L
    var s = 0
    while (s <= st.mask) {
      if (st.keys(s * n) != null) {
        entries += 1
        var i = 0
        while (i < n) { payload += st.keys(s * n + i).numBytes; i += 1 }
        val r = st.results(s)
        if (r != null && (r ne FiredDropped)) payload += r.getUTF8String(0).numBytes
      }
      s += 1
    }
    CacheStats(st.mask + 1, entries, payload, st.misses, st.distinctHits)
  }

  private def rewriteUncached(st: State): InternalRow = {
    val tag = st.strs(0)
    // lazily materialized per row
    var stripped: String = null
    var parts: Array[String] = null

    def strippedTag: String = {
      if (stripped == null)
        stripped =
          if (st.strip == null) tag else st.strip.reset(tag).replaceFirst("")
      stripped
    }
    def tagPart(i: Int): String = {
      if (parts == null) parts = TagRewriteExpr.splitDots(strippedTag)
      if (i < parts.length) parts(i) else ""
    }

    var i = 0
    while (i < rules.length) {
      val rule = rules(i)
      val v = st.strs(rule.keyIdx)
      val fired =
        if (rule.invert)
          // inverted rules evaluate even on "" and never substitute backrefs
          !st.matchers(i).reset(v).find()
        else // empty-value skip (R-EMPTY)
          v.length > 0 && st.matchers(i).reset(v).find()
      if (fired) {
        val rendered =
          render(st, rule, if (rule.invert) null else st.matchers(i),
            strippedTag _, tagPart)
        val label = labelsU8(i)
        // fused unchanged-tag drop (:96-100): fired but (tag unchanged AND
        // no label) → struct(null, null); distinguishes "matched but
        // dropped" from the null struct ("no rule fired") for metrics
        return if (label == null && rendered == tag)
          CompiledRuleTable.FiredDropped
        else
          new GenericInternalRow(
            Array[Any](UTF8String.fromString(rendered), label))
      }
      i += 1
    }
    null
  }

  private def render(
      st: State,
      rule: FusedRule,
      m: Matcher, // null for inverted rules
      strippedTag: () => String,
      tagPart: Int => String): String = {
    val sb = st.sb
    sb.setLength(0)
    val segs = rule.segments
    var i = 0
    while (i < segs.length) {
      segs(i) match {
        case Lit(s) => sb.append(s)
        case Backref(n) =>
          if (m == null) { sb.append('$').append(n) } // inverted: literal $n
          else if (n >= 1 && n <= rule.groupCount) {
            val g = m.group(n) // null (non-participating) → "" like gsub-hash
            if (g != null) {
              if (capitalize) TagRewriteExpr.appendCapitalized(sb, g)
              else sb.append(g)
            }
          } // $0 / out-of-range → "" (absent gsub-table key)
        case TagPh        => sb.append(strippedTag())
        case TagPart(idx) => sb.append(tagPart(idx))
        case HostnamePh   => sb.append(hostname)
        case UnknownPh(_) => // "" + warn in the reference (:131-132)
      }
      i += 1
    }
    sb.toString
  }
}

object CompiledRuleTable {
  /** Shared "rule fired, row dropped" result — immutable, consumers copy. */
  val FiredDropped: InternalRow = new GenericInternalRow(Array[Any](null, null))

  /** Result-cache slots per thread (a power of two). */
  final val Slots = 1024
  /** Largest cached entry: key bytes plus rendered-tag bytes. */
  final val MaxEntryBytes = 512
  /** Misses in the probe that decides whether a thread bypasses the cache. */
  final val ProbeMisses = 4096
  /** Distinct-row hits the probe needs for the cache to stay on. */
  final val MinDistinctHits = 4096

  /** Slot hash over the values' bytes; null hashes like "". */
  private[expressions] def slotHash(values: Array[UTF8String]): Int = {
    var h = 0
    var i = 0
    while (i < values.length) {
      val v = values(i)
      h = 31 * h + (if (v == null) UTF8String.EMPTY_UTF8 else v).hashCode
      i += 1
    }
    h ^ (h >>> 16)
  }

  /** Does slot `base` hold `values`? null matches "". */
  private def sameKeys(keys: Array[UTF8String], base: Int,
      values: Array[UTF8String]): Boolean = {
    var i = 0
    while (i < values.length) {
      val v = values(i)
      val k = keys(base + i)
      if (if (v == null) k.numBytes != 0 else !k.equals(v)) return false
      i += 1
    }
    true
  }

  /** Snapshot of one thread's cache: `slots` is 1 once bypassed. */
  private[expressions] final case class CacheStats(
      slots: Int,
      entries: Int,
      payloadBytes: Long,
      misses: Int,
      distinctHits: Int) {
    def bypassed: Boolean = slots == 1
  }
}

/** Whole-cascade rule rewrite as ONE codegen'd Catalyst expression.
  *
  * children(0) = tag column (string), children(1..) = the distinct rule key
  * columns in [[CompiledRuleTable]] index order. Output:
  * `struct<tag string, label string>`: null when no rule fires,
  * `tag = null` when the row is dropped — the contract [[graft.Router]]
  * reads.
  *
  * `doGenCode` ships the compiled table as a plan reference object and emits
  * a single call into [[CompiledRuleTable.rewrite]], so the expression stays
  * inside whole-stage codegen (no CodegenFallback row boxing).
  */
case class TagRewriteExpr(children: Seq[Expression], table: CompiledRuleTable)
    extends Expression {

  override def dataType: DataType = StructType(Seq(
    StructField("tag", StringType, nullable = true),
    StructField("label", StringType, nullable = true)))
  override def nullable: Boolean = true
  override def prettyName: String = "tag_rewrite"

  override def eval(input: InternalRow): Any = {
    val vals = new Array[UTF8String](children.length)
    var i = 0
    while (i < children.length) {
      vals(i) = children(i).eval(input).asInstanceOf[UTF8String]
      i += 1
    }
    table.rewrite(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef =
      ctx.addReferenceObj("ruleTable", table, classOf[CompiledRuleTable].getName)
    val evals = children.map(_.genCode(ctx))
    val u8 = "org.apache.spark.unsafe.types.UTF8String"
    val rowCls = "org.apache.spark.sql.catalyst.InternalRow"
    // one array per generated class: `rewrite` never retains it
    val vals = ctx.addMutableState(s"$u8[]", "vals",
      v => s"$v = new $u8[${children.length}];", forceInline = true)
    val childCode = evals.map(_.code).reduce(_ + _)
    val assigns = evals.zipWithIndex.map { case (e, i) =>
      s"$vals[$i] = ${e.isNull} ? null : ${e.value};"
    }.mkString("\n")
    ev.copy(code =
      code"""
        |$childCode
        |$assigns
        |$rowCls ${ev.value} = $tableRef.rewrite($vals);
        |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object TagRewriteExpr {

  /** Ruby `tag.split('.')` for `${tag_parts[n]}` (:165-168). Keeps interior
    * empties; trailing-empty handling is unobservable (out-of-range reads
    * are "" either way), matching the CaseWhen reference's
    * `split(tag, "\\.", -1)`.
    */
  def splitDots(s: String): Array[String] = s.split("\\.", -1)

  /** Ruby `String#capitalize` (:150): upcase the first code point, downcase
    * the rest — identical to the CaseWhen reference's
    * upper(substring(c,1,1)) + lower(rest), whose substring counts code
    * points, not UTF-16 units.
    */
  def appendCapitalized(sb: java.lang.StringBuilder, s: String): Unit = {
    if (s.nonEmpty) {
      val head = Character.charCount(s.codePointAt(0))
      sb.append(s.substring(0, head).toUpperCase(Locale.ROOT))
      sb.append(s.substring(head).toLowerCase(Locale.ROOT))
    }
  }
}
