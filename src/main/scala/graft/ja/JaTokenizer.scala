package graft.ja

import java.util.concurrent.atomic.AtomicReferenceArray

import scala.collection.mutable.ArrayBuffer

/** Tokenization mode (reference A3, KuromojiNEologdUDF.java:171–192):
  * NORMAL | SEARCH | EXTENDED | DEFAULT, case-insensitive; null → NORMAL;
  * DEFAULT ≡ SEARCH (Lucene JapaneseTokenizer.DEFAULT_MODE, UDF:186).
  */
sealed trait JaMode
object JaMode {
  case object Normal extends JaMode
  case object Search extends JaMode
  case object Extended extends JaMode

  def parse(s: String): JaMode =
    if (s == null) Normal
    else s.toUpperCase match {
      case "NORMAL" => Normal
      case "SEARCH" => Search
      case "EXTENDED" => Extended
      case "DEFAULT" => Search
      case other => throw new IllegalArgumentException(
        s"Expected NORMAL|SEARCH|EXTENDED|DEFAULT but got an unexpected tokenization mode: $other")
    }
}

/** Japanese morphological tokenizer with the observable semantics of the
  * reference's `tokenize_ja_neologd` analyzer chain (SURVEY.md §2-A,
  * KuromojiNEologdUDF.java:131–163 building Lucene's JapaneseAnalyzer over
  * the NEologd dictionary).
  *
  * Segmentation is a cost-based Viterbi lattice (the Kuromoji/MeCab
  * algorithm): at every position all dictionary prefixes (user dict and
  * embedded dict) plus unknown same-class character runs enter the lattice
  * as edges, and dynamic programming over (position, connection class)
  * picks the globally cheapest path under JaCosts' class-transition matrix.
  * User-dictionary edges carry strongly negative costs, so they win their
  * span in every mode (the Kuromoji user-dict contract); SEARCH/EXTENDED
  * add the Kuromoji long-token penalty so lexicalized compounds decompose
  * into known sub-words. Connection costs are a compact class-transition
  * matrix rather than mecab-ipadic's corpus-trained id matrices — the
  * remaining documented divergence from the reference (SURVEY.md §7.4).
  * Filter chain, in reference order:
  *
  *   T1 segmentation + punctuation discard (discardPunctuation=true)
  *   T2 base-form mapping (使った→使う; NEologd normalization T8)
  *   T3 part-of-speech stop filter (hierarchical tag match)
  *   T4 CJK width folding (ＳＭＡＰ→SMAP, half-width katakana→full)
  *   T5 stop-word filter (case-insensitive)
  *   T6 katakana prolonged-mark stemming (サーバー→サーバ, len≥4)
  *   T7 ASCII lowercase
  *
  * Thread-safe and immutable after construction; build once per executor
  * (@transient lazy, reference A8).
  *
  * @param stopWords null → default set; empty → no stop-word filtering
  *                  (reference A4, UDF:194–204)
  * @param stopTags  null → default set; empty → no POS filtering
  *                  (reference A5, UDF:206–228)
  */
final class JaTokenizer(
    mode: JaMode = JaMode.Normal,
    stopWords: Set[String] = null,
    stopTags: Set[String] = null,
    userDict: Seq[DictEntry] = Nil) extends Serializable {

  private val stopW: Set[String] =
    if (stopWords == null) JaDictionary.defaultStopWords else stopWords.map(_.toLowerCase)
  private val stopT: Set[String] =
    if (stopTags == null) JaDictionary.defaultStopTags else stopTags.filter(_ != null)
  private val userTrie: DictTrie = if (userDict.isEmpty) null else DictTrie(userDict)
  private val dict: DictTrie = JaDictionary.embedded
  private val searchMode = mode != JaMode.Normal
  /** Embedded-entry word cost by entry id, in this tokenizer's mode. */
  private val dictCost: Array[Int] = if (searchMode) dict.searchCost else dict.normalCost

  /** Per-entry output memo: the T2–T7 output of emitting an entry, by entry
    * id, filled on first emission. The output depends on the mode and the
    * stop lists, so each tokenizer keeps its own; user-dictionary ids and
    * embedded ids are separate id spaces, so each has its own array. One
    * tokenizer serves many task threads: the atomic array publishes each
    * filled slot safely, and threads that race on a slot compute equal
    * arrays, so either write may win.
    */
  private val dictOut = new AtomicReferenceArray[Array[String]](dict.size)
  private val userOut =
    if (userTrie == null) null else new AtomicReferenceArray[Array[String]](userTrie.size)

  /** Test seam (JaFastPathSpec): force the full lattice even where
    * `fastSingleClass` would apply, so the shortcut's claimed equivalence to
    * the Viterbi result is property-checked rather than assumed — the
    * shortcut's correctness rests on JaCosts invariants
    * (conn(Unknown,Unknown)>0, linear per-cp unknownCost) that a future
    * cost-model tuning could silently break (ADVICE r3).
    */
  private[ja] var fastPathEnabled = true

  /** Diagnostic/calibration seam: when non-null, the backtrack loop records
    * every winning-path edge as (surface, dictEntry-or-null, connection
    * class) before filtering — the raw Viterbi path, including tokens the
    * T3/T5 stop filters later drop. The `DictEntry` is looked up from the
    * back-pointer's entry id only here and at emission. Used by
    * `tools.TokDump --path` and the corpus-transition counter (JaCostTrain);
    * null (the default) adds only a null check per emitted token, nothing
    * in the relaxation loop.
    */
  private[graft] var pathSink: ArrayBuffer[(String, DictEntry, Int)] = null

  /** Tokenize one line. Null handling (null→null) lives in the caller
    * (reference A9); empty string → empty array.
    */
  def tokenize(line: String): Array[String] = {
    val out = new ArrayBuffer[String](32) // reference preallocates 32, UDF:150
    var i = 0
    val n = line.length
    while (i < n) {
      val cp = line.codePointAt(i) // code-point-wise: surrogate pairs intact
      if (CharClasses.classOfCp(cp) == CharClasses.Punct) i += Character.charCount(cp) // T1
      else {
        // maximal punctuation-free region: the lattice unit (tokens never
        // span punctuation; discardPunctuation=true per the reference)
        var end = i + Character.charCount(cp)
        while (end < n && CharClasses.classOfCp(line.codePointAt(end)) != CharClasses.Punct)
          end += Character.charCount(line.codePointAt(end))
        // Bound lattice memory on pathological unpunctuated runs (scraped
        // 100 TB text can contain multi-megabyte regions; unchunked, the
        // lattice arrays are O(region × classes) per row and accumulated
        // path cost can saturate Inf): chunk long regions. A chunk boundary
        // may split a token — documented divergence, only on >4096-char
        // punctuation-free runs.
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

  private final val Inf = Int.MaxValue / 4
  private final val MaxUnknownCp = 24 // unknown-edge prefix lengths generated per position
  private final val MaxRegionChars = 4096 // lattice chunk bound (memory + cost saturation)

  /** Single-class fast path: a region that is entirely one Latin/Digit run
    * with no dictionary surface starting anywhere inside it has exactly one
    * lattice outcome — the whole run as one unknown token (unknown base cost
    * is paid per token and conn(Unknown,Unknown) > 0, so grouping is always
    * strictly cheapest). This is precisely the documents.parquet shape
    * (ASCII words between spaces), so q46/q47/q51 skip lattice construction
    * entirely. In SEARCH/EXTENDED the long-token penalty can make
    * fragmenting optimal, so the shortcut only applies below the penalty
    * threshold there.
    */
  private def fastSingleClass(line: String, from: Int, end: Int,
      out: ArrayBuffer[String]): Boolean = {
    val cls0 = CharClasses.classOfCp(line.charAt(from).toInt)
    if (cls0 != CharClasses.Latin && cls0 != CharClasses.Digit) return false
    if (searchMode && end - from >= JaCosts.SearchOtherLen) return false
    var i = from
    while (i < end) {
      val c = line.charAt(i) // Latin/Digit are BMP; any surrogate fails the class check
      if (CharClasses.classOfCp(c.toInt) != cls0 || dict.startsWith(c) ||
        (userTrie != null && userTrie.startsWith(c))) return false
      i += 1
    }
    val run = line.substring(from, end)
    if (pathSink != null) {
      pathSink += (("", null, -1)) // region boundary sentinel
      pathSink += ((run, null, if (cls0 == CharClasses.Digit) JaCosts.Num else JaCosts.Unknown))
    }
    emitUnknown(run, out)
    true
  }

  /** Defensive fallback when no terminal lattice state is reachable (cannot
    * happen — length-1 unknown edges connect everything — but silently
    * dropping a region would be the worst failure mode): emit the region as
    * same-class character runs.
    */
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

  /** Viterbi over one punctuation-free region [from, end): states are
    * (position, connection class); edges are dictionary matches (all prefix
    * lengths), user-dictionary matches, and unknown same-class run
    * prefixes. The cheapest path under JaCosts is backtracked and emitted
    * through the T2–T7 filter chain.
    *
    * Hot path: the loop touches only primitive arrays. Lattice arrays, the
    * region decode and the match buffer come from a per-thread scratch
    * (callers run one region at a time per task thread); the region is
    * decoded once into class, code-point width and same-class run end per
    * offset; matches and back-pointers are entry ids into DictTrie's per-id
    * arrays (-1 = unknown edge); the best predecessor of each (position,
    * edge class) is found once and shared by every edge of that class; and
    * the connection matrix is scanned via its flattened transpose — no
    * allocation per region beyond token output.
    */
  private def segmentRegion(line: String, from: Int, end: Int,
      out: ArrayBuffer[String]): Unit = {
    if (fastPathEnabled && fastSingleClass(line, from, end, out)) return
    val L = end - from
    val C = JaCosts.NumClasses
    val size = (L + 1) * C
    val s = JaTokenizer.scratch.get()
    s.ensure(size)
    val cost = s.cost
    val bpStart = s.bpStart // region-relative start of best edge into state
    val bpEntry = s.bpEntry // entry id; -1 = unknown edge
    val bpUser = s.bpUser // bpEntry is a user-dictionary id
    val bpSrc = s.bpSrc // predecessor class
    java.util.Arrays.fill(cost, 0, size, Inf)
    cost(JaCosts.BOS) = 0
    val alive = s.aliveMask // bit per class with finite cost at each row
    java.util.Arrays.fill(alive, 0, L + 1, 0)
    alive(0) = 1 << JaCosts.BOS
    val matches = s.matches

    // decode once: class and code-point width at each offset, then (right
    // to left) the end of the same-class code-point run starting there
    val chCls = s.chCls
    val cpW = s.cpW
    val runEnd = s.runEnd
    var q = 0
    while (q < L) {
      val cp = line.codePointAt(from + q)
      chCls(q) = CharClasses.classOfCp(cp)
      cpW(q) = Character.charCount(cp)
      q += 1
    }
    q = L - 1
    while (q >= 0) {
      val nx = q + cpW(q)
      runEnd(q) = if (nx < L && (chCls(nx) eq chCls(q))) runEnd(nx) else nx
      q -= 1
    }

    var pos = 0
    while (pos < L) {
      // skip dead positions (incl. trailing-surrogate offsets)
      if (alive(pos) != 0) {
        var known = 0 // edge classes whose best predecessor at pos is computed
        var userCount = 0
        matches.clear()
        if (userTrie != null) {
          userTrie.matchesAt(line, from + pos, matches)
          userCount = matches.length
        }
        dict.matchesAt(line, from + pos, matches)
        var m = 0
        while (m < matches.length) {
          val id = matches(m)
          val user = m < userCount
          val t = if (user) userTrie else dict
          val to = pos + t.len(id)
          if (to <= L) { // user surfaces may contain punct; never cross the region
            val ecls = t.cls(id)
            if ((known & (1 << ecls)) == 0) { bestInto(s, pos, ecls); known |= 1 << ecls }
            relax(s, pos, to, ecls,
              if (user) JaCosts.userCost(t.cpLen(id)) else dictCost(id), id, user)
          }
          m += 1
        }
        // unknown edges: every code-point prefix of the same-class run
        // (capped), plus the full run so long runs can stay whole
        val cls = chCls(pos)
        val ecls = if (cls eq CharClasses.Digit) JaCosts.Num else JaCosts.Unknown
        if ((known & (1 << ecls)) == 0) bestInto(s, pos, ecls)
        val kanji = cls eq CharClasses.Kanji
        val re = runEnd(pos)
        var j = pos + cpW(pos)
        var cpLen = 1
        var emit = true
        while (emit) {
          var w = JaCosts.unknownCost(cls, cpLen)
          if (searchMode) w += JaCosts.searchPenalty(kanji, cpLen)
          if (j <= L) relax(s, pos, j, ecls, w, -1, false)
          if (j < re) {
            if (cpLen < MaxUnknownCp) {
              j += cpW(j)
              cpLen += 1
            } else {
              // jump to the run end and emit one final whole-run edge
              cpLen += Character.codePointCount(line, from + j, from + re)
              j = re
            }
          } else emit = false
        }
      }
      pos += 1
    }

    // best terminal state
    var bestCls = -1
    var best = Inf
    var c = 0
    while (c < C) {
      val t = cost(L * C + c)
      if (t < Inf && t + JaCosts.eos(c) < best) { best = t + JaCosts.eos(c); bestCls = c }
      c += 1
    }
    if (bestCls < 0) { emitClassRuns(line, from, end, out); return }

    // backtrack, then emit forward
    val path = s.path // state indices, reverse order
    path.clear()
    var p = L
    var cl = bestCls
    while (p > 0) {
      val idx = p * C + cl
      path += idx
      val np = bpStart(idx)
      cl = bpSrc(idx)
      p = np
    }
    if (pathSink != null) pathSink += (("", null, -1)) // region boundary sentinel
    var k = path.length - 1
    while (k >= 0) {
      val idx = path(k)
      val id = bpEntry(idx)
      val tokStart = from + bpStart(idx)
      val tokEnd = from + idx / C
      if (pathSink != null) {
        val e = if (id < 0) null else (if (bpUser(idx)) userTrie else dict).entry(id)
        pathSink += ((line.substring(tokStart, tokEnd), e, idx % C))
      }
      if (id >= 0) emitEntry(id, bpUser(idx), out)
      else emitUnknown(line.substring(tokStart, tokEnd), out)
      k -= 1
    }
  }

  /** The cheapest arrival at (pos, `ecls`) before the word cost: the
    * minimum over the classes alive at `pos` of cost + conn(src, ecls), the
    * first class in bit order on ties (what scanning the classes per edge
    * with a strict `<` picked). Stored in the scratch's bestCost/bestSrc.
    */
  private def bestInto(s: JaTokenizer.Scratch, pos: Int, ecls: Int): Unit = {
    val C = JaCosts.NumClasses
    val connT = JaCosts.connT
    val rowBase = pos * C
    val connBase = ecls * C
    var bits = s.aliveMask(pos)
    var bc = Int.MaxValue
    var bs = -1
    while (bits != 0) {
      val src = java.lang.Integer.numberOfTrailingZeros(bits)
      bits &= bits - 1
      val t = s.cost(rowBase + src) + connT(connBase + src)
      if (t < bc) { bc = t; bs = src }
    }
    s.bestCost(ecls) = bc
    s.bestSrc(ecls) = bs
  }

  /** Relax the edge [pos, to) of class `ecls` with word cost `w` from the
    * best predecessor that bestInto stored for `ecls` at `pos`.
    */
  private def relax(s: JaTokenizer.Scratch, pos: Int, to: Int, ecls: Int, w: Int,
      id: Int, user: Boolean): Unit = {
    val idx = to * JaCosts.NumClasses + ecls
    val t = s.bestCost(ecls) + w
    if (t < s.cost(idx)) {
      s.cost(idx) = t
      s.bpStart(idx) = pos
      s.bpEntry(idx) = id
      s.bpUser(idx) = user
      s.bpSrc(idx) = s.bestSrc(ecls)
      s.aliveMask(to) |= 1 << ecls
    }
  }

  /** Append the memoized output of entry `id` (a user-dictionary id when
    * `isUser`), computing it on first use.
    */
  private def emitEntry(id: Int, isUser: Boolean, out: ArrayBuffer[String]): Unit = {
    val memo = if (isUser) userOut else dictOut
    var toks = memo.getAcquire(id)
    if (toks == null) {
      toks = entryTokens(if (isUser) userTrie.entry(id) else dict.entry(id), isUser)
      memo.setRelease(id, toks)
    }
    var k = 0
    while (k < toks.length) { out += toks(k); k += 1 }
  }

  /** One entry's tokens after T2–T7. User-dictionary segmentation applies
    * in every mode (G3: NORMAL mode still yields 日本|経済|新聞); embedded
    * compound entries decompose only in SEARCH/EXTENDED (Kuromoji
    * compound-decomposition penalty).
    */
  private def entryTokens(e: DictEntry, isUser: Boolean): Array[String] = {
    val toks = new ArrayBuffer[String](2)
    val decompose = e.segments.nonEmpty && (isUser || mode != JaMode.Normal)
    if (decompose) e.segments.foreach(seg => emitToken(seg.output, seg.pos, toks))
    else emitToken(e.output, e.pos, toks)
    toks.toArray
  }

  private def emitUnknown(run: String, out: ArrayBuffer[String]): Unit = {
    if (mode == JaMode.Extended && isCjk(run)) {
      // EXTENDED: unknown CJK runs are emitted as code-point unigrams
      // (Kuromoji JapaneseTokenizer EXTENDED mode).
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

  /** Filters T2–T7 for a single candidate token; appends if it survives. */
  private def emitToken(term0: String, pos: String, out: ArrayBuffer[String]): Unit = {
    if (stopT.nonEmpty && stoppedPos(pos)) return // T3
    var term = CharClasses.foldWidth(term0) // T4
    if (stopW.nonEmpty && stopW.contains(term.toLowerCase)) return // T5
    term = CharClasses.stemKatakana(term) // T6
    term = term.toLowerCase // T7
    if (term.nonEmpty) out += term
  }

  private def stoppedPos(pos: String): Boolean = {
    if (stopT.contains(pos)) return true
    // hierarchical: a stop tag stops any finer-grained tag beneath it
    var i = pos.indexOf('-')
    while (i > 0) {
      if (stopT.contains(pos.substring(0, i))) return true
      i = pos.indexOf('-', i + 1)
    }
    false
  }
}

object JaTokenizer {

  /** Per-thread lattice scratch: Viterbi state arrays, the region decode,
    * the per-class best predecessor, the trie match buffer and the
    * backtrack path, grown on demand and reused across regions/rows.
    * Tokenizer instances are shared across Spark task threads (built once
    * per executor, A8), so the scratch is thread-local rather than instance
    * state; region chunking (MaxRegionChars) bounds the retained size at
    * ~(4097 × 28) entries per state array per thread.
    */
  private final class Scratch {
    var cost = new Array[Int](0)
    var bpStart = new Array[Int](0)
    var bpEntry = new Array[Int](0)
    var bpUser = new Array[Boolean](0)
    var bpSrc = new Array[Int](0)
    var aliveMask = new Array[Int](0)
    var chCls = new Array[CharClasses.CharClass](0)
    var cpW = new Array[Int](0)
    var runEnd = new Array[Int](0)
    val bestCost = new Array[Int](JaCosts.NumClasses)
    val bestSrc = new Array[Int](JaCosts.NumClasses)
    val matches = new IntBuf(64)
    val path = new IntBuf(32)
    def ensure(n: Int): Unit = if (cost.length < n) {
      val cap = math.max(n, 2048)
      val rows = cap / JaCosts.NumClasses + 2
      cost = new Array[Int](cap)
      bpStart = new Array[Int](cap)
      bpEntry = new Array[Int](cap)
      bpUser = new Array[Boolean](cap)
      bpSrc = new Array[Int](cap)
      aliveMask = new Array[Int](rows)
      chCls = new Array[CharClasses.CharClass](rows)
      cpW = new Array[Int](rows)
      runEnd = new Array[Int](rows)
    }
  }

  private val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)
}
