package graft.ja

import scala.io.Source

/** One dictionary morpheme.
  *
  * @param surface  the matched text
  * @param pos      hierarchical part-of-speech tag, '-'-separated
  * @param base     output form (inflection base form / NEologd normalized
  *                 form, reference T2/T8); defaults to surface
  * @param segments decomposition emitted in SEARCH/EXTENDED modes (Kuromoji
  *                 compound decomposition) — empty for atomic entries.
  *                 User-dictionary segments apply in every mode (that is the
  *                 Kuromoji user-dict contract, KuromojiNEologdUDFTest G3:
  *                 NORMAL mode still yields 日本|経済|新聞).
  */
final case class DictEntry(
    surface: String,
    pos: String,
    base: String,
    segments: Array[DictEntry],
    derived: Boolean = false) {
  def output: String = if (base.nonEmpty) base else surface

  // Lattice-relevant properties, computed once at construction (entries are
  // built across cores by the loaders); DictTrie copies them into its
  // per-id Int arrays, so the Viterbi loop never touches the object.
  private[ja] val cpLen: Int = surface.codePointCount(0, surface.length)
  private[ja] val cls: Int = JaCosts.classOf(this)
  private[ja] val allKanji: Boolean = {
    var i = 0
    var ok = surface.nonEmpty
    while (ok && i < surface.length) {
      val cp = surface.codePointAt(i)
      if (CharClasses.classOfCp(cp) != CharClasses.Kanji) ok = false
      i += Character.charCount(cp)
    }
    ok
  }
  // Derived (auto-generated) entries pay a flat penalty over the class
  // cost: an EXPLICIT lexeme for the same surface always wins, and a
  // derived reading only beats the split V1|V2 path when the text really
  // contains the compound (the split pays two class bases plus an
  // internal transition, far above one base + 600).
  private[ja] val normalCost: Int =
    JaCosts.dictCost(this, cpLen) + (if (derived) 600 else 0)
  private[ja] val searchCost: Int = normalCost + JaCosts.searchPenalty(allKanji, cpLen)
}

/** Immutable char-trie over dictionary surfaces, held in primitive arrays —
  * prefix enumeration without substring allocation or object traversal. A
  * surface may carry SEVERAL entries (人 as noun vs counter, で as particle
  * vs auxiliary): the Viterbi lattice disambiguates by context, so the trie
  * hands back the full homograph set. Built once per executor JVM (@transient
  * lazy in the Spark expression, reference A8 semantics).
  *
  * Layout (the Lucene/Kuromoji shape: a compact trie plus id-indexed cost
  * buffers, not a graph of objects):
  *   - `root(c)` is the depth-1 node for first char `c`, or -1;
  *   - nodes are numbered breadth-first, so node n's children are the
  *     contiguous id range [firstChild(n), firstChild(n + 1)), sorted by
  *     `label` (the char on the edge into the child) and probed by binary
  *     search;
  *   - entries get dense ids in surface order, so node n's entries are the
  *     contiguous ids [entryLo(n), entryHi(n)), in insertion order (an
  *     empty range where no surface ends);
  *   - the lattice data of entry `id` — UTF-16 length, connection class,
  *     NORMAL and SEARCH word costs, code-point length — sits at index `id`
  *     of one Int array each. The `DictEntry` object itself (`entry(id)`)
  *     is needed only to emit a token.
  */
final class DictTrie private (
    root: Array[Int],
    label: Array[Char],
    firstChild: Array[Int],
    entryLo: Array[Int],
    entryHi: Array[Int],
    entries: Array[DictEntry],
    private[ja] val len: Array[Int],
    private[ja] val cls: Array[Int],
    private[ja] val normalCost: Array[Int],
    private[ja] val searchCost: Array[Int],
    private[ja] val cpLen: Array[Int]) {

  /** Number of entries; ids are 0 until size. */
  def size: Int = entries.length

  def entry(id: Int): DictEntry = entries(id)

  /** True iff some dictionary surface starts with `c` — the cheap guard the
    * tokenizer's single-class fast path uses to skip lattice construction.
    */
  def startsWith(c: Char): Boolean = root(c) >= 0

  /** Append the id of EVERY entry matching `s` at `from` (all prefix
    * lengths, shortest first; all homographs per length, insertion order)
    * to `out` — the lattice needs the full candidate set, not just the
    * longest match.
    */
  private[ja] def matchesAt(s: CharSequence, from: Int, out: IntBuf): Unit = {
    var node = root(s.charAt(from))
    var i = from + 1
    while (node >= 0) {
      out.addRange(entryLo(node), entryHi(node))
      if (i >= s.length) return
      node = child(node, s.charAt(i))
      i += 1
    }
  }

  private def child(node: Int, c: Char): Int = {
    var lo = firstChild(node)
    var hi = firstChild(node + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = label(mid)
      if (k < c) lo = mid + 1
      else if (k > c) hi = mid - 1
      else return mid
    }
    -1
  }
}

object DictTrie {

  /** Build from entries in insertion order. An entry with an empty surface
    * gets an id but no node, so it never matches.
    *
    * Sorted surfaces give the breadth-first numbering directly: the nodes at
    * depth d are the distinct d-char prefixes in sorted order, and a surface
    * opens new nodes exactly at the depths past its common prefix with the
    * surface before it. So the build is one stable sort and two linear
    * passes. It runs on one thread: it runs once per JVM, inside the
    * benchmark's `dict_load`, on a cold JIT, where parallel sorts measured
    * slower than a sequential one (the worker threads run interpreted code
    * on the cores the compiler needs). Per-element work sits in small
    * methods, which compile after a few hundred calls instead of waiting
    * for the loops around them.
    */
  def apply(entries: Iterable[DictEntry]): DictTrie = {
    val es = entries.toArray
    // stable: homographs keep their insertion order
    java.util.Arrays.sort(es, (x: DictEntry, y: DictEntry) => x.surface.compareTo(y.surface))
    new Builder(es).result()
  }

  private final class Builder(es: Array[DictEntry]) {
    private val n = es.length
    private val len = new Array[Int](n)
    private val cls = new Array[Int](n)
    private val normalCost = new Array[Int](n)
    private val searchCost = new Array[Int](n)
    private val cpLen = new Array[Int](n)
    // distinct surfaces: the first id of each, then n; and each one's
    // common prefix with the surface before it
    private val runStart = new IntBuf(n + 1)
    private val lcp = new IntBuf(n)
    private var depthNext = new Array[Int](64) // nodes per depth, then each depth's next id

    private def commonPrefix(p: String, s: String): Int = {
      val m = math.min(p.length, s.length)
      var j = 0
      while (j < m && p.charAt(j) == s.charAt(j)) j += 1
      j
    }

    /** Lattice data of entry `id`; a new distinct surface opens one node
      * at each depth past its common prefix.
      */
    private def scan(id: Int): Unit = {
      val e = es(id)
      val s = e.surface
      len(id) = s.length
      cls(id) = e.cls
      normalCost(id) = e.normalCost
      searchCost(id) = e.searchCost
      cpLen(id) = e.cpLen
      if (s.isEmpty) return // sorts first; never matched
      val j = if (id == 0) 0 else commonPrefix(es(id - 1).surface, s)
      if (id == 0 || j < s.length || j < len(id - 1)) {
        runStart += id
        lcp += j
        if (s.length + 2 > depthNext.length)
          depthNext = java.util.Arrays.copyOf(depthNext, s.length + 2)
        depthNext(j + 1) += 1
        depthNext(s.length + 1) -= 1
      }
    }

    def result(): DictTrie = {
      var i = 0
      while (i < n) { scan(i); i += 1 }
      val u = lcp.length
      runStart += n
      // first node id at each depth
      var nodes = 0
      var open = 0
      var d = 1
      while (d < depthNext.length) {
        open += depthNext(d)
        depthNext(d) = nodes
        nodes += open
        d += 1
      }
      val b = new Numbering(nodes, depthNext.length)
      var k = 0
      while (k < u) { b.open(es(runStart(k)).surface, lcp(k), runStart(k), runStart(k + 1)); k += 1 }
      b.finish()
      new DictTrie(b.root, b.label, b.firstChild, b.entryLo, b.entryHi, es,
        len, cls, normalCost, searchCost, cpLen)
    }

    private final class Numbering(nodes: Int, depths: Int) {
      val root = new Array[Int](Char.MaxValue + 1)
      java.util.Arrays.fill(root, -1)
      val label = new Array[Char](nodes)
      val firstChild = new Array[Int](nodes + 1)
      java.util.Arrays.fill(firstChild, -1)
      val entryLo = new Array[Int](nodes)
      val entryHi = new Array[Int](nodes)
      private val cur = new Array[Int](depths) // the open node at each depth

      /** Number the nodes that surface `s` opens below its common prefix
        * `lcp` with the surface before it; its entries are ids [lo, hi).
        */
      def open(s: String, lcp: Int, lo: Int, hi: Int): Unit = {
        var d = lcp + 1
        while (d <= s.length) {
          val id = depthNext(d)
          depthNext(d) += 1
          label(id) = s.charAt(d - 1)
          cur(d) = id
          if (d == 1) root(s.charAt(0)) = id
          else if (firstChild(cur(d - 1)) < 0) firstChild(cur(d - 1)) = id
          d += 1
        }
        entryLo(cur(s.length)) = lo
        entryHi(cur(s.length)) = hi
      }

      /** A leaf's (empty) child range starts where the next node's does. */
      def finish(): Unit = {
        firstChild(nodes) = nodes
        var m = nodes - 1
        while (m >= 0) {
          if (firstChild(m) < 0) firstChild(m) = firstChild(m + 1)
          m -= 1
        }
      }
    }
  }
}

/** A growable Int buffer: the trie's match ids and the lattice's backtrack
  * path, with no boxing.
  */
private[ja] final class IntBuf(initial: Int) {
  private var a = new Array[Int](math.max(initial, 4))
  private var n = 0

  def length: Int = n
  def apply(i: Int): Int = a(i)
  def clear(): Unit = n = 0

  def +=(x: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = x
    n += 1
  }

  /** Append the ids lo until hi. */
  def addRange(lo: Int, hi: Int): Unit = {
    val m = n + hi - lo
    if (m > a.length) a = java.util.Arrays.copyOf(a, math.max(m, n * 2))
    var x = lo
    while (x < hi) { a(n) = x; n += 1; x += 1 }
  }
}

/** Loaders for the embedded TSV dictionary and the default stop sets. */
object JaDictionary {

  private def resource(name: String): Iterator[String] = {
    val in = getClass.getResourceAsStream(s"/graft/ja/$name")
    require(in != null, s"missing resource graft/ja/$name")
    Source.fromInputStream(in, "UTF-8").getLines()
  }

  private val Comment = java.util.regex.Pattern.compile("#.*$")

  /** A resource's lines with `#` comments cut, trimmed, blank lines dropped. */
  private def content(name: String): Iterator[String] =
    resource(name).map(l => Comment.matcher(l).replaceAll("").trim).filter(_.nonEmpty)

  private def parseTsv(lines: Iterator[String]): Seq[DictEntry] =
    lines.map { line =>
        val f = line.split("\t", -1)
        val surface = f(0)
        val pos = if (f.length > 1) f(1) else "名詞-一般"
        val base = if (f.length > 2) f(2).trim else ""
        val segs =
          if (f.length > 3 && f(3).trim.nonEmpty)
            f(3).trim.split("\\s+").map(seg => DictEntry(seg, pos, "", Array.empty))
          else Array.empty[DictEntry]
        DictEntry(surface, pos, base, segs)
      }.toSeq

  /** Noun-lexeme marker → POS tag (lexemes/nouns.tsv, lexemes/katakana.txt). */
  private val nounPos = Map(
    "" -> "名詞-一般", "sv" -> "名詞-サ変接続", "adv" -> "名詞-副詞可能",
    "na" -> "名詞-形容動詞語幹", "pron" -> "名詞-代名詞",
    "place" -> "名詞-固有名詞-地域", "person" -> "名詞-固有名詞-人名",
    "org" -> "名詞-固有名詞-組織", "prop" -> "名詞-固有名詞-一般")

  private def naSeeds(name: String): Seq[String] =
    content(name).map(_.split("\t", -1)).collect {
        case f if f.length > 1 && f(1).trim == "na" => f(0).trim
      }.toSeq

  private def parseNouns(name: String): Seq[DictEntry] =
    content(name).map { line =>
      val f = line.split("\t", -1)
      val marker = if (f.length > 1) f(1).trim else ""
      DictEntry(f(0).trim, nounPos.getOrElse(marker,
        sys.error(s"$name: unknown noun marker '$marker' on '$line'")), "", Array.empty)
    }.toSeq

  private def verbSeeds(name: String): Seq[(String, Char)] =
    content(name).map { line =>
      val f = line.split("\t", -1)
      require(f.length >= 2 && f(1).trim.length == 1, s"$name: bad verb line '$line'")
      (f(0).trim, f(1).trim.charAt(0))
    }.toSeq

  private def parseVerbs(name: String): Seq[DictEntry] =
    verbSeeds(name).flatMap { case (b, c) => JaInflection.expandVerb(b, c) }

  private def parseAdjs(name: String): Seq[DictEntry] =
    content(name).flatMap(base => JaInflection.expandAdj(base)).toSeq

  /** Full embedded dictionary: engineered core (goldens + highest-priority
    * senses) first, then the generated lexeme expansion (SURVEY.md §7.4 /
    * VERDICT r1 #1: O(10k) morphemes so off-corpus Japanese segments through
    * the lattice instead of degrading to char-class runs). Deduped by
    * (surface, pos) — first occurrence wins, so core.tsv can pin a sense;
    * distinct POS homographs coexist and the lattice disambiguates.
    */
  lazy val embeddedEntries: Seq[DictEntry] = {
    // Derived compound verbs load LAST: the (surface, pos) dedupe is
    // first-wins, so every explicit entry shadows its derived homograph
    // and the derived layer only fills genuine gaps.
    val all = parseTsv(content("core.tsv")) ++
      parseTsv(content("lexemes/entities.tsv")) ++
      parseTsv(content("lexemes/misc.tsv")) ++
      parseVerbs("lexemes/verbs.tsv") ++
      parseAdjs("lexemes/adjectives.txt") ++
      parseNouns("lexemes/nouns.tsv") ++
      parseNouns("lexemes/katakana.txt") ++
      JaInflection.expandCompounds(verbSeeds("lexemes/verbs.tsv")) ++
      // がる-verbs last, like the compound layer: derived fills gaps only.
      // Stems: every i-adjective minus its い, plus the na-stems (嫌がる,
      // 残念がる — 名詞-形容動詞語幹 entries in nouns.tsv).
      (content("lexemes/adjectives.txt").map(_.dropRight(1)).toSeq ++
        naSeeds("lexemes/nouns.tsv") ++
        parseTsv(content("lexemes/misc.tsv"))
          .collect { case e if e.pos == "名詞-形容動詞語幹" => e.surface })
        .flatMap(JaInflection.expandGaru)
    // keyed by surface: homographs are few, so each key holds a short list
    val in = all.toArray
    val seen = new java.util.HashMap[String, List[String]](in.length * 2)
    val out = new Array[DictEntry](in.length)
    var n = 0
    var i = 0
    while (i < in.length) {
      val e = in(i)
      val ps = seen.getOrDefault(e.surface, Nil)
      if (!ps.contains(e.pos)) { seen.put(e.surface, e.pos :: ps); out(n) = e; n += 1 }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(out, n))
  }
  lazy val embedded: DictTrie = DictTrie(embeddedEntries)

  /** Default stop words (lower-cased; matching is case-insensitive,
    * reference UDF:203).
    */
  lazy val defaultStopWords: Set[String] =
    resource("stopwords.txt").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.toLowerCase).toSet

  /** Default stop POS tags (hierarchical prefixes). */
  lazy val defaultStopTags: Set[String] =
    resource("stoptags.txt").map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
}
