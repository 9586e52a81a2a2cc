package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import graft.TemplateParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The per-thread result cache of [[CompiledRuleTable]], driven through
  * `rewrite` directly. Every result is compared with a freshly built table,
  * whose first call always runs the cascade, so a stale or wrongly shared
  * entry shows up as a mismatch.
  */
class TagRewriteCacheSpec extends AnyFunSuite {
  import CompiledRuleTable._

  private def rule(keyIdx: Int, pattern: String, tag: String,
      label: String = null, invert: Boolean = false): FusedRule =
    FusedRule(keyIdx, pattern, invert, label, TemplateParser.parse(tag).toArray,
      java.util.regex.Pattern.compile(pattern).matcher("").groupCount())

  // values = (tag, domain, agent)
  private def mkTable(): CompiledRuleTable = CompiledRuleTable(Array(
    rule(1, "^(www)\\.(\\w+)\\.com$", "site.$2.${tag}"),
    rule(2, "^bot-(\\w+)$", "bot.$1", label = "@bots"),
    rule(1, "^keep$", "${tag}"), // fires, tag unchanged, no label → dropped
    rule(2, "^x", "other.${tag_parts[0]}", invert = true)),
    capitalize = true, hostname = "h", stripRegex = null)

  private val N = 3

  private def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def row(tag: String, domain: String, agent: String) =
    Array(u(tag), u(domain), u(agent))

  private def show(r: InternalRow): Option[(String, String)] =
    Option(r).map(x => (Option(x.getUTF8String(0)).map(_.toString).orNull,
      Option(x.getUTF8String(1)).map(_.toString).orNull))

  /** The uncached answer: a new table (new per-thread state), fresh copies. */
  private def fresh(t: CompiledRuleTable, vals: Array[UTF8String]) =
    show(t.copy().rewrite(vals.map(v => if (v == null) null else v.copy())))

  private def check(t: CompiledRuleTable, vals: Array[UTF8String]): Unit = {
    val want = fresh(t, vals)
    assert(show(t.rewrite(vals)) == want, s"values=${vals.toSeq}")
  }

  test("a reused input buffer never hits a stale entry") {
    val t = mkTable()
    // a second domain of the same length that lands in the first one's slot:
    // an entry aliasing the buffer would then compare equal and go stale
    def slot(d: String) = slotHash(row("in.tag", d, "bot-a")) & (Slots - 1)
    val da = "www.k1000.com"
    val db = Iterator.range(1001, 10000).map(i => s"www.k$i.com").find(slot(_) == slot(da)).get
    val buf = da.getBytes(UTF_8)
    val reused = Array(u("in.tag"), UTF8String.fromBytes(buf), u("bot-a"))
    check(t, reused)
    assert(show(t.rewrite(reused)) == Some(("site.K1000.in.tag", null)))
    db.getBytes(UTF_8).copyToArray(buf) // same length, new bytes, same slot
    check(t, reused)
    assert(show(t.rewrite(reused)) == Some((s"site.K${db.slice(5, 9)}.in.tag", null)))
    val st = t.cacheStats(N)
    assert(st.misses == 2 && st.entries == 1)
  }

  test("two keys in one slot evict each other and never cross results") {
    val t = mkTable()
    val a = row("in", "www.k0.com", "bot-z")
    val slotA = slotHash(a) & (Slots - 1)
    val b = Iterator.from(1).map(i => row("in", s"www.k$i.com", "bot-z"))
      .find(r => (slotHash(r) & (Slots - 1)) == slotA).get
    for (vals <- Seq(a, b, a, b)) check(t, vals)
    val name = b(1).toString.stripPrefix("www.").stripSuffix(".com")
    assert(show(t.rewrite(b)) == Some((s"site.${name.capitalize}.in", null)))
    val st = t.cacheStats(N)
    assert(st.misses == 4 && st.entries == 1)
  }

  test("null and \"\" key the same entry and route the same") {
    val t = mkTable()
    check(t, row("in", null, null)) // inverted rule fires on the empty agent
    check(t, row("in", "", ""))
    check(t, row(null, "", null))
    check(t, row("", null, ""))
    assert(show(t.rewrite(row("in", null, ""))) == Some(("other.in", null)))
    val st = t.cacheStats(N)
    assert(st.misses == 2 && st.entries == 2)
  }

  test("an entry over the byte cap is never cached; the cache stays bounded") {
    val t = mkTable()
    val big = row("in", "d" * MaxEntryBytes, "xa")
    check(t, big)
    check(t, big)
    // under the cap by itself, over it with the rendered tag
    val rendered = row("in", "www." + "w" * (MaxEntryBytes / 2) + ".com", "xa")
    check(t, rendered)
    check(t, rendered)
    var st = t.cacheStats(N)
    assert(st.misses == 4 && st.entries == 0 && st.payloadBytes == 0)

    // fill with distinct near-cap entries (no rule fires: null result)
    val pad = "p" * (MaxEntryBytes - 40)
    for (i <- 0 until 3 * Slots) check(t, row("in", s"$pad$i", "xa"))
    st = t.cacheStats(N)
    assert(!st.bypassed && st.slots == Slots)
    assert(st.entries <= Slots && st.entries > Slots / 2)
    assert(st.payloadBytes <= Slots.toLong * MaxEntryBytes)
    assert(st.payloadBytes > (Slots / 2).toLong * pad.length)
  }

  test("low-cardinality keys: one miss per distinct row, then hits") {
    val t = mkTable()
    val rows = (0 until 10).map(i => row(s"in.t$i", s"www.s${i % 3}.com", "bot-q"))
    for (i <- 0 until 20000) check(t, rows((i * 7) % 10))
    val st = t.cacheStats(N)
    assert(st.misses == 10 && st.entries == 10 && !st.bypassed)
  }

  test("repeated evaluations of one row do not count toward the hit rate") {
    val t = mkTable()
    for (i <- 0 until ProbeMisses; _ <- 0 until 3)
      check(t, row("in", s"www.u$i.com", "bot-q"))
    val st = t.cacheStats(N)
    // 2 × ProbeMisses repeat hits happened; none of them counts
    assert(st.distinctHits == 0 && st.bypassed)
  }

  test("bypass mid-partition, then repeated values still route correctly") {
    val t = mkTable()
    for (i <- 0 until ProbeMisses + 100)
      check(t, row("in.a", s"www.u$i.com", if (i % 2 == 0) "bot-b" else "xy"))
    var st = t.cacheStats(N)
    assert(st.bypassed && st.entries == 1)
    val tail = Seq(row("in.a", "keep", "xy"), row("in.b", "www.g.com", null),
      row("in.c", "", "bot-c"), row("in.d", "zzz", "yy"), row("in.e", null, "xx"))
    for (i <- 0 until 200; _ <- 0 until 3) check(t, tail(i % tail.size))
    st = t.cacheStats(N)
    assert(st.bypassed && st.entries == 1)
    assert(st.payloadBytes <= MaxEntryBytes)
    assert(show(t.rewrite(tail(0))) == Some((null, null))) // fired, dropped
    val routed = t.rewrite(tail(1)) // a duplicate evaluation is a hit:
    assert(t.rewrite(tail(1)) eq routed) // the same row object, not a re-render
  }
}
