package graft.ja

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The object-graph dictionary trie and the Viterbi region loop that
  * JaTokenizer ran before its flat-array kernel, kept as a test-only
  * reference (JaKernelEquivalenceSpec): a `Node` per trie node with sorted
  * char keys, `DictEntry` objects in the match buffer and the back-pointers,
  * every predecessor class scanned per edge, `codePointAt` re-read at each
  * visit, and the T2–T7 filter chain run for every emitted token.
  */
private[ja] final class ReferenceTrie private (root: Array[ReferenceTrie.Node]) {

  def startsWith(c: Char): Boolean = root(c) != null

  def matchesAt(s: CharSequence, from: Int, out: ArrayBuffer[DictEntry]): Unit = {
    var node = root(s.charAt(from))
    var i = from + 1
    while (node != null) {
      val es = node.entries
      var k = 0
      while (k < es.length) { out += es(k); k += 1 }
      if (i >= s.length) return
      node = node.find(s.charAt(i))
      i += 1
    }
  }
}

private[ja] object ReferenceTrie {
  final class Node(val keys: Array[Char], val kids: Array[Node], val entries: Array[DictEntry]) {
    def find(c: Char): Node = {
      var lo = 0
      var hi = keys.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = keys(mid)
        if (k < c) lo = mid + 1
        else if (k > c) hi = mid - 1
        else return kids(mid)
      }
      null
    }
  }

  private final class BuildNode {
    val children = new mutable.HashMap[Char, BuildNode]
    val entries = new ArrayBuffer[DictEntry](1)
  }

  def apply(entries: Iterable[DictEntry]): ReferenceTrie = {
    val broot = new BuildNode
    entries.foreach { e =>
      var node = broot
      e.surface.foreach(c => node = node.children.getOrElseUpdate(c, new BuildNode))
      node.entries += e
    }
    def freeze(b: BuildNode): Node = {
      val ks = b.children.keysIterator.toArray.sorted
      new Node(ks, ks.map(c => freeze(b.children(c))), b.entries.toArray)
    }
    val root = new Array[Node](Char.MaxValue + 1)
    broot.children.foreach { case (c, b) => root(c) = freeze(b) }
    new ReferenceTrie(root)
  }

  lazy val embedded: ReferenceTrie = ReferenceTrie(JaDictionary.embeddedEntries)
}

/** JaTokenizer's observable behaviour over the reference trie and loop. */
private[ja] final class ReferenceTokenizer(
    mode: JaMode = JaMode.Normal,
    stopWords: Set[String] = null,
    stopTags: Set[String] = null,
    userDict: Seq[DictEntry] = Nil) {

  private val stopW: Set[String] =
    if (stopWords == null) JaDictionary.defaultStopWords else stopWords.map(_.toLowerCase)
  private val stopT: Set[String] =
    if (stopTags == null) JaDictionary.defaultStopTags else stopTags.filter(_ != null)
  private val userTrie: ReferenceTrie = if (userDict.isEmpty) null else ReferenceTrie(userDict)
  private val dict: ReferenceTrie = ReferenceTrie.embedded

  private final val Inf = Int.MaxValue / 4
  private final val MaxUnknownCp = 24
  private final val MaxRegionChars = 4096
  private val searchMode = mode != JaMode.Normal

  def tokenize(line: String): Array[String] = {
    val out = new ArrayBuffer[String](32)
    var i = 0
    val n = line.length
    while (i < n) {
      val cp = line.codePointAt(i)
      if (CharClasses.classOfCp(cp) == CharClasses.Punct) i += Character.charCount(cp)
      else {
        var end = i + Character.charCount(cp)
        while (end < n && CharClasses.classOfCp(line.codePointAt(end)) != CharClasses.Punct)
          end += Character.charCount(line.codePointAt(end))
        var rs = i
        while (end - rs > MaxRegionChars) {
          var ce = rs + MaxRegionChars
          if (Character.isLowSurrogate(line.charAt(ce))) ce -= 1
          segmentRegion(line, rs, ce, out)
          rs = ce
        }
        segmentRegion(line, rs, end, out)
        i = end
      }
    }
    out.toArray
  }

  private def fastSingleClass(line: String, from: Int, end: Int,
      out: ArrayBuffer[String]): Boolean = {
    val cls0 = CharClasses.classOfCp(line.charAt(from).toInt)
    if (cls0 != CharClasses.Latin && cls0 != CharClasses.Digit) return false
    if (searchMode && end - from >= JaCosts.SearchOtherLen) return false
    var i = from
    while (i < end) {
      val c = line.charAt(i)
      if (CharClasses.classOfCp(c.toInt) != cls0 || dict.startsWith(c) ||
        (userTrie != null && userTrie.startsWith(c))) return false
      i += 1
    }
    emitUnknown(line.substring(from, end), out)
    true
  }

  private def emitClassRuns(line: String, from: Int, end: Int,
      out: ArrayBuffer[String]): Unit = {
    var i = from
    while (i < end) {
      val cls = CharClasses.classOfCp(line.codePointAt(i))
      var j = i + Character.charCount(line.codePointAt(i))
      while (j < end && CharClasses.classOfCp(line.codePointAt(j)) == cls)
        j += Character.charCount(line.codePointAt(j))
      emitUnknown(line.substring(i, j), out)
      i = j
    }
  }

  private def segmentRegion(line: String, from: Int, end: Int,
      out: ArrayBuffer[String]): Unit = {
    if (fastSingleClass(line, from, end, out)) return
    val L = end - from
    val C = JaCosts.NumClasses
    val size = (L + 1) * C
    val cost = Array.fill(size)(Inf)
    val bpStart = new Array[Int](size)
    val bpEntry = new Array[DictEntry](size)
    val bpUser = new Array[Boolean](size)
    val bpSrc = new Array[Int](size)
    cost(JaCosts.BOS) = 0
    val alive = new Array[Int](L + 1)
    alive(0) = 1 << JaCosts.BOS
    val connT = JaCosts.connT
    val matches = new ArrayBuffer[DictEntry](64)

    def relax(pos: Int, len: Int, ecls: Int, w: Int, e: DictEntry, user: Boolean): Unit = {
      if (pos + len > L) return
      val rowBase = pos * C
      val idx = (pos + len) * C + ecls
      val connBase = ecls * C
      var bits = alive(pos)
      while (bits != 0) {
        val src = java.lang.Integer.numberOfTrailingZeros(bits)
        bits &= bits - 1
        val t = cost(rowBase + src) + connT(connBase + src) + w
        if (t < cost(idx)) {
          cost(idx) = t
          bpStart(idx) = pos
          bpEntry(idx) = e
          bpUser(idx) = user
          bpSrc(idx) = src
          alive(pos + len) |= 1 << ecls
        }
      }
    }

    var runEnd = -1
    var runCls: CharClasses.CharClass = null
    var pos = 0
    while (pos < L) {
      if (alive(pos) != 0) {
        val abs = from + pos
        var userCount = 0
        matches.clear()
        if (userTrie != null) {
          userTrie.matchesAt(line, abs, matches)
          userCount = matches.length
        }
        dict.matchesAt(line, abs, matches)
        var m = 0
        while (m < matches.length) {
          val e = matches(m)
          if (m < userCount) relax(pos, e.surface.length, e.cls, JaCosts.userCost(e.cpLen), e, true)
          else relax(pos, e.surface.length, e.cls,
            if (searchMode) e.searchCost else e.normalCost, e, false)
          m += 1
        }
        val cls = CharClasses.classOfCp(line.codePointAt(abs))
        if (abs >= runEnd || cls != runCls) {
          runCls = cls
          runEnd = abs + Character.charCount(line.codePointAt(abs))
          while (runEnd < end && CharClasses.classOfCp(line.codePointAt(runEnd)) == cls)
            runEnd += Character.charCount(line.codePointAt(runEnd))
        }
        val ecls = if (cls == CharClasses.Digit) JaCosts.Num else JaCosts.Unknown
        val kanji = cls == CharClasses.Kanji
        var j = abs + Character.charCount(line.codePointAt(abs))
        var cpLen = 1
        var emit = true
        while (emit) {
          var w = JaCosts.unknownCost(cls, cpLen)
          if (searchMode) w += JaCosts.searchPenalty(kanji, cpLen)
          relax(pos, j - abs, ecls, w, null, false)
          if (j < runEnd) {
            if (cpLen < MaxUnknownCp) {
              j += Character.charCount(line.codePointAt(j))
              cpLen += 1
            } else {
              cpLen += Character.codePointCount(line, j, runEnd)
              j = runEnd
            }
          } else emit = false
        }
      }
      pos += 1
    }

    var bestCls = -1
    var best = Inf
    var c = 0
    while (c < C) {
      val t = cost(L * C + c)
      if (t < Inf && t + JaCosts.eos(c) < best) { best = t + JaCosts.eos(c); bestCls = c }
      c += 1
    }
    if (bestCls < 0) { emitClassRuns(line, from, end, out); return }

    val path = new ArrayBuffer[Int](32)
    var p = L
    var cl = bestCls
    while (p > 0) {
      val idx = p * C + cl
      path += idx
      val np = bpStart(idx)
      cl = bpSrc(idx)
      p = np
    }
    var k = path.length - 1
    while (k >= 0) {
      val idx = path(k)
      val e = bpEntry(idx)
      if (e != null) emitEntry(e, bpUser(idx), out)
      else emitUnknown(line.substring(from + bpStart(idx), from + idx / C), out)
      k -= 1
    }
  }

  private def emitEntry(e: DictEntry, isUser: Boolean, out: ArrayBuffer[String]): Unit = {
    val decompose = e.segments.nonEmpty && (isUser || mode != JaMode.Normal)
    if (decompose) e.segments.foreach(seg => emitToken(seg.output, seg.pos, out))
    else emitToken(e.output, e.pos, out)
  }

  private def emitUnknown(run: String, out: ArrayBuffer[String]): Unit = {
    if (mode == JaMode.Extended && isCjk(run)) {
      var i = 0
      while (i < run.length) {
        val cp = run.codePointAt(i)
        emitToken(new String(Character.toChars(cp)), unknownPos(run), out)
        i += Character.charCount(cp)
      }
    } else emitToken(run, unknownPos(run), out)
  }

  private def isCjk(run: String): Boolean = CharClasses.classOfCp(run.codePointAt(0)) match {
    case CharClasses.Kanji | CharClasses.Katakana | CharClasses.Hiragana => true
    case _ => false
  }

  private def unknownPos(run: String): String = CharClasses.classOfCp(run.codePointAt(0)) match {
    case CharClasses.Digit => "名詞-数"
    case _ => "名詞-一般"
  }

  private def emitToken(term0: String, pos: String, out: ArrayBuffer[String]): Unit = {
    if (stopT.nonEmpty && stoppedPos(pos)) return
    var term = CharClasses.foldWidth(term0)
    if (stopW.nonEmpty && stopW.contains(term.toLowerCase)) return
    term = CharClasses.stemKatakana(term)
    term = term.toLowerCase
    if (term.nonEmpty) out += term
  }

  private def stoppedPos(pos: String): Boolean = {
    if (stopT.contains(pos)) return true
    var i = pos.indexOf('-')
    while (i > 0) {
      if (stopT.contains(pos.substring(0, i))) return true
      i = pos.indexOf('-', i + 1)
    }
    false
  }
}
