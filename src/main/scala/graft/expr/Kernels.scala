package graft.expr

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels shared by interpreted eval and generated code — keeping
  * one implementation guarantees eval/codegen agreement.
  */
object Kernels {

  /** Polynomial hash over Unicode code points: h ← (h·131 + cp) mod 1e9+7. */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 131 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Per-row character statistics `[n_chars, n_distinct, coll_num]` over
    * Unicode code points: total count, distinct count, and the Simpson
    * collision numerator Σ cᵢ·(cᵢ−1) — the exact count of ordered repeated
    * pairs, the log-free diversity surrogate for a character-entropy
    * gibberish gate (libm `ln` bits differ across engines — the no-libm
    * rule — so Shannon entropy cannot sit on
    * the exact-hash gate; collision probability ranks the same pathologies:
    * low-diversity junk high, natural text mid, uniform noise low). One
    * char pass + one bounded map iteration; all exact longs.
    */
  /** Single-pass writing-system class counts:
    * [n_chars, latin, digit, hiragana, katakana, kanji, space] over code
    * points (other = n_chars − the six). Replaces the q199 seven-regex
    * projection — one char pass instead of seven full regex scans per
    * row; ranges are EXACTLY the regex version's
    * ([A-Za-z], [0-9], U+3041–3096, U+30A1–30FA + U+30FC, U+4E00–9FFF,
    * the space char), so the DuckDB oracle is unchanged.
    */
  def scriptCounts(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    var n = 0L; var latin = 0L; var digit = 0L; var hira = 0L
    var kata = 0L; var kanji = 0L; var space = 0L
    // encoding-damage slots (VERDICT r17 #4): U+FFFD replacement chars and
    // the C0/DEL control class [\x00-\x08\x0B\x0C\x0E-\x1F\x7F] (tab, LF,
    // CR excluded — they are legitimate text), so q197 reads the same one
    // pass q199 does instead of two extra regex scans per row
    var repl = 0L; var ctrl = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      n += 1
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) latin += 1
      else if (cp >= '0' && cp <= '9') digit += 1
      else if (cp >= 0x3041 && cp <= 0x3096) hira += 1
      else if ((cp >= 0x30A1 && cp <= 0x30FA) || cp == 0x30FC) kata += 1
      else if (cp >= 0x4E00 && cp <= 0x9FFF) kanji += 1
      else if (cp == ' ') space += 1
      else if (cp == 0xFFFD) repl += 1
      else if (cp <= 0x08 || cp == 0x0B || cp == 0x0C ||
        (cp >= 0x0E && cp <= 0x1F) || cp == 0x7F) ctrl += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](n, latin, digit, hira, kata, kanji, space, repl, ctrl))
  }

  def charStats(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val counts = new java.util.HashMap[Integer, Long]()
    var n = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var coll = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      coll += c * (c - 1)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](n, counts.size.toLong, coll))
  }

  /** Hashes of all k-token shingles of a space-separated text, in order,
    * duplicates included. Each shingle hash equals polyHash of the shingle
    * string "tok_i tok_{i+1} … tok_{i+k-1}" — identical to hashing the
    * concat_ws(" ", slice(tokens…)) form, but with zero intermediate
    * string/array allocation (one char pass per window).
    */
  def shingleHashes(s: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    // token boundaries under split(" ", -1) semantics (empties kept)
    val tokens = str.split(" ", -1)
    val n = tokens.length
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = i
      while (j < i + k) {
        if (j > i) h = (h * 131 + ' ') % 1000000007L
        val t = tokens(j)
        var c = 0
        while (c < t.length) {
          val cp = t.codePointAt(c)
          h = (h * 131 + cp) % 1000000007L
          c += Character.charCount(cp)
        }
        j += 1
      }
      out(i) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Token-level content-defined chunks of a space-separated text, one
    * code-point pass: `[(chunk_idx, n_tokens, chunk_hash)]` in text order.
    * Tokens follow Spark `split(text, " ")` (empty tokens count; "" is one
    * empty token). A token whose polyHash ≡ 0 (mod `modulus`) closes its
    * chunk — the empty token hashes to 0, so it always does. A chunk's text
    * is exactly the input substring from its first token to its last, so
    * `chunk_hash` is the running polyHash over that substring (the
    * separating spaces included) and no token or chunk string is built.
    */
  def cdcChunks(s: UTF8String, modulus: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var tokHash = 0L
    var chunkHash = 0L
    var nTok = 0
    var i = 0
    while (i <= str.length) {
      val cp = if (i < str.length) str.codePointAt(i) else ' '
      if (cp == ' ') {
        nTok += 1
        if (tokHash % modulus == 0 || i == str.length) {
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](out.length, nTok, chunkHash))
          chunkHash = 0L
          nTok = 0
        } else chunkHash = (chunkHash * 131 + ' ') % 1000000007L
        tokHash = 0L
      } else {
        tokHash = (tokHash * 131 + cp) % 1000000007L
        chunkHash = (chunkHash * 131 + cp) % 1000000007L
      }
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private final val RollB1 = 0x100000001b3L // FNV-1a 64 prime (odd)
  private final val RollB2 = 6364136223846793005L // Knuth LCG multiplier (odd)

  /** MurmurHash3 64-bit finalizer: full-avalanche mix so per-token hashes
    * feed the rolling polynomial with no structural bias.
    */
  private def fmix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 128-bit fingerprints (16-byte big-endian binary) of every `win`-token
    * window of a space-separated text, in order — the O(n) rolling
    * replacement for per-position `md5(concat_ws(" ", slice(toks, p+1, L)))`
    * which costs O(n·L) (VERDICT r15 #2, the q182 100 TB kernel).
    *
    * Construction: one char pass hashes each token (polynomial over code
    * points, fmix64-finalized), then two independent wraparound-i64
    * polynomial rolls (bases FNV-prime / Knuth-LCG, both odd so
    * multiplication is a bijection mod 2^64) produce h₁‖h₂ per window in
    * O(1) amortized. Token boundaries follow split(" ", -1) semantics
    * (empties kept), matching Dedup.tokens. 128 bits keeps the collision
    * math in md5's regime: at 10^11 windows (a ~100 TB corpus) the expected
    * number of colliding PAIRS is n²/2^129 ≈ 10^-17 — a 64-bit fingerprint
    * would already expect ~hundreds. Windows: n−win+1, or empty when
    * n < win.
    */
  def rollingWindowHashes(s: UTF8String, win: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    // per-token 64-bit hashes under split(" ", -1) semantics, one char pass
    val tb = new scala.collection.mutable.ArrayBuilder.ofLong
    val n = str.length
    // seed 1, not 0 (ADVICE r16): with h=0, U+0000 code points contribute
    // nothing, so tokens differing only in leading NULs — and '' vs a
    // lone-NUL token — collided DETERMINISTICALLY before fmix64. Base:
    // the FNV-1 prime (odd, > 2^40 > the 2^21 code-point alphabet), not
    // the original 131 — with base < alphabet every pair [c1, c2] vs
    // [c1-1, c2+131] collided structurally (round-17 review finding);
    // with B > alphabet, 2-code-point tokens are collision-free outright
    // (the differing-lead-char delta is a multiple of B mod 2^64, which
    // cannot land inside the +/-2^21 trailing-char window), and longer
    // tokens' wraparound collisions are unstructured. fmix64 is a
    // bijection, so it adds diffusion without adding collisions.
    val B = 0x100000001B3L
    var h = 1L
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        tb += fmix64(h)
        h = 1L
        i += 1
      } else {
        val cp = str.codePointAt(i)
        h = h * B + cp // wraparound i64 — intentional
        i += Character.charCount(cp)
      }
    }
    val th = tb.result()
    val nt = th.length
    if (nt < win)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    // B^(win-1) for the roll-out term
    var p1 = 1L; var p2 = 1L
    var e = 0
    while (e < win - 1) { p1 *= RollB1; p2 *= RollB2; e += 1 }
    val out = new Array[Any](nt - win + 1)
    var h1 = 0L; var h2 = 0L
    var j = 0
    while (j < win) { h1 = h1 * RollB1 + th(j); h2 = h2 * RollB2 + th(j); j += 1 }
    var w = 0
    while (true) {
      val bytes = new Array[Byte](16)
      var b = 0
      while (b < 8) {
        bytes(b) = (h1 >>> (56 - 8 * b)).toByte
        bytes(b + 8) = (h2 >>> (56 - 8 * b)).toByte
        b += 1
      }
      out(w) = bytes
      if (w == nt - win) {
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      }
      h1 = (h1 - th(w) * p1) * RollB1 + th(w + win)
      h2 = (h2 - th(w) * p2) * RollB2 + th(w + win)
      w += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Row-level BPE apply (the inference half of the q183 learner — VERDICT
    * r15 #3): segment every word of a space-separated text through an
    * ordered merge table. Each word starts as its sentinel-spaced
    * code-point form " c h a r s "; each merge (l, r) is the SAME
    * leftmost-non-overlapping double-replace the learner uses on its
    * vocabulary (" l r " → " lr ", applied twice — pass 1 merges every
    * unblocked occurrence of consecutive runs, pass 2 the isolated blocked
    * ones), so segmenting a word the learner saw reproduces its vocabulary
    * state exactly, and a NEW word walks the identical merge chain. Output:
    * the symbol sequence across words in order (word boundaries dissolved).
    * O(merges × len) per row; merges ride the plan as constants — a pure
    * codegen projection, zero shuffle at any corpus size.
    */
  def bpeSegment(s: UTF8String, patterns: Array[String], replacements: Array[String])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val syms = bpeForm(w, patterns, replacements).split(" ", -1)
        var si = 0
        while (si < syms.length) {
          if (syms(si).nonEmpty) out += UTF8String.fromString(syms(si))
          si += 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** One non-empty word's sentinel-spaced symbol form " s1 s2 … " after
    * the merges `patterns(i)` = " l r " → `replacements(i)` = " lr ", in
    * order, each as the double leftmost-non-overlapping replace. The one
    * merge walk shared by [[bpeSegment]] and the TextAnalysis.bpeMerges
    * learner, so the two cannot drift.
    */
  def bpeForm(w: String, patterns: Array[String], replacements: Array[String]): String = {
    val sb = new java.lang.StringBuilder(w.length * 2 + 2)
    sb.append(' ')
    var ci = 0
    while (ci < w.length) {
      val cp = w.codePointAt(ci)
      sb.appendCodePoint(cp).append(' ')
      ci += Character.charCount(cp)
    }
    var form = sb.toString
    var mi = 0
    while (mi < patterns.length) {
      form = form.replace(patterns(mi), replacements(mi))
      form = form.replace(patterns(mi), replacements(mi))
      mi += 1
    }
    form
  }

  /** Unigram-LM Viterbi segmentation (Kudo 2018 §3, the SentencePiece
    * decode): each whitespace word is segmented by the max-product path
    * dp[i] = max_j dp[j] · p(word[j..i)) over a plan-embedded piece→prob
    * map, candidate start positions scanned ASCENDING with strict->
    * improvement so an exact score tie keeps the smallest j (= the longest
    * final piece) — the rule the DuckDB oracle replays as
    * `ORDER BY b ASC, s DESC, j ASC LIMIT 1`. Unknown SINGLE codepoints
    * fall back to `unkScore` (Kudo's fixed unknown penalty), so the DP is
    * total on any input; multi-codepoint substrings absent from the vocab
    * never form a piece. All positions are CODEPOINT indices (DuckDB
    * substr/length semantics — a surrogate pair is one position).
    *
    * Underflow (ADVICE r18): the plain product underflows to 0.0 after
    * ~25–150 pieces on long words, silently degenerating selection to
    * greedy. Fix = per-position power-of-two renormalization: whenever a
    * candidate score falls to ≤ 2^-256 it is multiplied by 2^256 (EXACT in
    * IEEE — only the exponent moves) and an integer boost count
    * increments; candidates compare by (boost ASC, stored DESC). This is
    * bit-identical to the old linear DP with an unbounded exponent — and
    * unlike log-space (the advice's first suggestion) it needs no
    * transcendental: Java Math.log and DuckDB ln() are each ≤1 ulp but not
    * correctly rounded, so their results can differ and break the
    * exact-hash oracle gate; every operation here (multiply, power-of-two
    * scale, compare) is IEEE-deterministic in both engines. One boost per
    * step suffices: probs are ≥ 1/2^63 (freq/total with BIGINT total) and
    * unkScore ≥ 1/(2^63·10^6), so stored stays ≥ 2^-256·2^-83, far above
    * the 2^-1022 subnormal edge.
    */
  /** 2^-256 — the boost threshold; shortest-repr literal of this value is
    * embedded in the DuckDB oracle (round-trip exact in both parsers). */
  val UnigramBoostLo: Double = java.lang.Math.scalb(1.0, -256)
  /** 2^256 — the boost factor. */
  val UnigramBoostHi: Double = java.lang.Math.scalb(1.0, 256)
  def unigramSegment(s: UTF8String,
      vocab: java.util.HashMap[String, java.lang.Double],
      unkScore: Double, maxLen: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val n = w.codePointCount(0, w.length)
        val offs = new Array[Int](n + 1)
        var ci = 0
        var k = 0
        while (k < n) {
          offs(k) = ci
          ci += Character.charCount(w.codePointAt(ci))
          k += 1
        }
        offs(n) = w.length
        val dp = new Array[Double](n + 1)
        val dpB = new Array[Int](n + 1)
        val ch = new Array[Int](n + 1)
        dp(0) = 1.0
        var i = 1
        while (i <= n) {
          var best = 0.0
          var bestB = Int.MaxValue
          var bestJ = -1
          var j = math.max(0, i - maxLen)
          while (j < i) {
            val piece = w.substring(offs(j), offs(i))
            val p = vocab.get(piece)
            // the single-codepoint unk fallback keeps every position
            // reachable, so dp(j) is always a positive product here
            val raw =
              if (p != null) dp(j) * p.doubleValue()
              else if (i - j == 1) dp(j) * unkScore
              else -1.0
            if (raw > 0.0) {
              var s = raw
              var b = dpB(j)
              if (s <= UnigramBoostLo) { s *= UnigramBoostHi; b += 1 }
              if (b < bestB || (b == bestB && s > best)) {
                best = s; bestB = b; bestJ = j
              }
            }
            j += 1
          }
          dp(i) = best
          dpB(i) = bestB
          ch(i) = bestJ
          i += 1
        }
        var pos = n
        val rev = scala.collection.mutable.ArrayBuffer.empty[String]
        while (pos > 0) {
          val j = ch(pos)
          rev += w.substring(offs(j), offs(pos))
          pos = j
        }
        var si = rev.length - 1
        while (si >= 0) {
          out += UTF8String.fromString(rev(si))
          si -= 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Unigram-LM forward–backward EXPECTED piece counts — Kudo 2018 §3.2's
    * actual E-step (soft EM), closing the hard-EM daylight of
    * [[unigramSegment]] (VERDICT r19 #2): instead of counting pieces on the
    * single Viterbi path, every span (j, i) that forms a vocab piece (or a
    * single-codepoint unk) contributes its posterior probability mass
    *   E[count(j,i)] = α(j) · p(piece) · β(i) / Z
    * where α is the forward sum over all segmentations of the prefix, β the
    * backward sum over the suffix, Z = α(n) the total lattice mass.
    *
    * Cross-engine exactness (the exact-hash oracle gate) is preserved by
    * three disciplines, all transcendental-free:
    *  - SUMS stay in boosted linear space: the same power-of-two
    *    renormalization as the Viterbi DP (≤ 2^-256 → ×2^256, one int boost;
    *    exact — only the exponent moves). Window terms are aligned to the
    *    window's MINIMUM boost before summing; the spread is ≤ 2 (boost
    *    increments are ≥ 2 positions apart since a post-renorm value > 2^-84
    *    shrinks by ≥ MinProb = 2^-84 per step), so a scaled term is
    *    ≥ 2^-340·2^-512 = 2^-852 — comfortably normal, scaling stays exact.
    *  - ORDERED left folds: each α(i)/β(j) is Σ terms accumulated ascending
    *    (j for forward, i for backward) from 0.0 — the order DuckDB replays
    *    with list_reduce(list_prepend(0.0, list(. ORDER BY .)), +).
    *  - INTEGER quantization before any cross-row aggregation: the
    *    per-occurrence posterior is floored to q = ⌊eq · 2^24⌋ (the multiply
    *    is exact — power of two), and only integers leave the row, so the
    *    corpus rollup Σ wc·q is order-independent and exact in both engines.
    *    Occurrences with q = 0 (posterior < 2^-24) are dropped — a
    *    documented quantization floor, deterministic on both sides.
    *
    * The emission's boost adjustment k = bα(j)+bβ(i)−bZ is provably in
    * [-2, 2] (stored values live in (2^-256, maxLen]; true eq ≤ 1), enforced
    * loudly. Division and multiplication associate left exactly as the
    * DuckDB twin's `((fas[j+1] * p) * bas[i+1]) / fas[n+1]` — IEEE
    * correctly-rounded in both engines, so every emitted q is bit-identical.
    *
    * Output rows (piece, q) are emitted per word, i ascending then j
    * ascending, q > 0 only — order is irrelevant downstream (integer sums)
    * but fixed for the spec's determinism pin.
    */
  /** 2^24 — the expected-count quantization scale. */
  val UnigramQuantScale: Double = 16777216.0

  def unigramExpected(s: UTF8String,
      vocab: java.util.HashMap[String, java.lang.Double],
      unkScore: Double, maxLen: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.toString.split(" ", -1)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var wi = 0
    while (wi < words.length) {
      val w = words(wi)
      if (w.nonEmpty) {
        val n = w.codePointCount(0, w.length)
        val offs = new Array[Int](n + 1)
        var ci = 0
        var k0 = 0
        while (k0 < n) {
          offs(k0) = ci
          ci += Character.charCount(w.codePointAt(ci))
          k0 += 1
        }
        offs(n) = w.length
        // span probability: vocab piece, or unk for an absent single
        // codepoint (Kudo's totality fallback); 0.0 marks an invalid span
        def sp(j: Int, i: Int): Double = {
          val p = vocab.get(w.substring(offs(j), offs(i)))
          if (p != null) p.doubleValue()
          else if (i - j == 1) unkScore
          else 0.0
        }
        // forward: fa(i) stored value, fb(i) boost — α(i)·2^(256·fb(i))
        val fa = new Array[Double](n + 1)
        val fb = new Array[Int](n + 1)
        fa(0) = 1.0
        var i = 1
        while (i <= n) {
          var bc = Int.MaxValue
          var j = math.max(0, i - maxLen)
          while (j < i) {
            if (sp(j, i) > 0.0 && fb(j) < bc) bc = fb(j)
            j += 1
          }
          var sum = 0.0
          j = math.max(0, i - maxLen)
          while (j < i) {
            val p = sp(j, i)
            if (p > 0.0) {
              val spd = fb(j) - bc
              require(spd <= 2,
                s"unigram_expected: forward boost spread $spd > 2 (maxLen $maxLen too wide for the renorm window bound)")
              sum += java.lang.Math.scalb(fa(j) * p, -256 * spd)
            }
            j += 1
          }
          var b = bc
          if (sum <= UnigramBoostLo) { sum *= UnigramBoostHi; b += 1 }
          fa(i) = sum
          fb(i) = b
          i += 1
        }
        // backward: ba(j) stored, bb(j) boost — β(j)·2^(256·bb(j))
        val ba = new Array[Double](n + 1)
        val bb = new Array[Int](n + 1)
        ba(n) = 1.0
        var jj = n - 1
        while (jj >= 0) {
          val iMax = math.min(n, jj + maxLen)
          var bc = Int.MaxValue
          var i2 = jj + 1
          while (i2 <= iMax) {
            if (sp(jj, i2) > 0.0 && bb(i2) < bc) bc = bb(i2)
            i2 += 1
          }
          var sum = 0.0
          i2 = jj + 1
          while (i2 <= iMax) {
            val p = sp(jj, i2)
            if (p > 0.0) {
              val spd = bb(i2) - bc
              require(spd <= 2,
                s"unigram_expected: backward boost spread $spd > 2 (maxLen $maxLen too wide for the renorm window bound)")
              sum += java.lang.Math.scalb(p * ba(i2), -256 * spd)
            }
            i2 += 1
          }
          var b = bc
          if (sum <= UnigramBoostLo) { sum *= UnigramBoostHi; b += 1 }
          ba(jj) = sum
          bb(jj) = b
          jj -= 1
        }
        // emission: quantized posterior per valid span
        var ie = 1
        while (ie <= n) {
          var j2 = math.max(0, ie - maxLen)
          while (j2 < ie) {
            val p = sp(j2, ie)
            if (p > 0.0) {
              val stored = ((fa(j2) * p) * ba(ie)) / fa(n)
              val kAdj = fb(j2) + bb(ie) - fb(n)
              require(kAdj >= -2 && kAdj <= 2,
                s"unigram_expected: emission boost adjust $kAdj outside [-2, 2]")
              val eq = java.lang.Math.scalb(stored, -256 * kAdj)
              val q = java.lang.Math.floor(eq * UnigramQuantScale).toLong
              if (q > 0L) {
                out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](UTF8String.fromString(w.substring(offs(j2), offs(ie))),
                    java.lang.Long.valueOf(q)))
              }
            }
            j2 += 1
          }
          ie += 1
        }
      }
      wi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Seed order of the unigram learners: freq desc, then piece asc in UTF-8
    * byte order — Spark's string order, where U+E000 sorts before U+1F600
    * (String.compareTo, on UTF-16 units, puts it after).
    */
  val unigramSeedOrder: Ordering[(UTF8String, Long)] = new Ordering[(UTF8String, Long)] {
    def compare(a: (UTF8String, Long), b: (UTF8String, Long)): Int = {
      val c = java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else a._1.binaryCompare(b._1)
    }
  }

  /** `Math.addExact` for a usage sum of operator `op`: an overflow fails
    * with a message that names `op`, where a SQL `SUM` in ANSI mode (and
    * the DuckDB twin's HUGEINT→BIGINT cast) would fail.
    */
  def usageAdd(op: String, a: Long, b: Long): Long =
    try Math.addExact(a, b)
    catch { case _: ArithmeticException => throw usageOverflow(op) }

  /** `Math.multiplyExact` for one wc·q term of a usage sum, as [[usageAdd]]. */
  def usageTimes(op: String, a: Long, b: Long): Long =
    try Math.multiplyExact(a, b)
    catch { case _: ArithmeticException => throw usageOverflow(op) }

  private def usageOverflow(op: String) =
    new ArithmeticException(s"$op: a piece's usage sum overflowed BIGINT")

  /** SimHash signature over the space-separated token multiset, one char
    * pass per row (no explode/aggregate): bit b of the result is set iff
    * Σ_tokens (±1 by bit b of polyHash(token)) > 0. Token boundaries follow
    * split(" ", -1) semantics (empty tokens kept, including a trailing one),
    * so the value is bit-identical to the explode + per-bit-sum formulation
    * the DuckDB oracle uses.
    */
  def simhash64(s: UTF8String, bits: Int): Long = {
    val str = s.toString
    val counts = new Array[Int](bits)
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        var h = 0L
        var c = start
        while (c < i) {
          val cp = str.codePointAt(c)
          h = (h * 131 + cp) % 1000000007L
          c += Character.charCount(cp)
        }
        var b = 0
        while (b < bits) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Space-separated token count, equal by construction to
    * `size(split(s, " ", -1))`: Spark's split with limit −1 keeps leading,
    * internal, AND trailing empty strings, so the array size is exactly
    * (number of single-space separators) + 1 — countable in one byte pass
    * with zero allocation. ASCII space never appears inside a UTF-8
    * multi-byte sequence, so the byte scan is code-point safe.
    */
  def tokenCount(s: UTF8String): Int = {
    val n = s.numBytes
    var i = 0
    var cnt = 1
    while (i < n) {
      if (s.getByte(i) == ' '.toByte) cnt += 1
      i += 1
    }
    cnt
  }

  /** ±1 random projection (Achlioptas, JCSS 2003: sign matrices preserve
    * pairwise distances like Gaussian ones): out_j = Σ_d sign(j,d)·q_d over
    * the floor-quantized vector, with the plan-embedded sign matrix
    * supplied by the caller (derived from polyHash parity so the SQL
    * oracle regenerates it exactly — no RNG). Exact longs throughout:
    * |q| ≤ scale·max|x| and 64 terms keep the sum far from overflow at the
    * default 2^20 scale.
    */
  def randProject(a: ArrayData, signs: Array[Array[Int]], scale: Long,
      aFloat: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0
        else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      q(i) = math.floor(x * scale).toLong
      i += 1
    }
    val out = new Array[Any](signs.length)
    var j = 0
    while (j < signs.length) {
      val row = signs(j)
      var s = 0L
      var d = 0
      val m = math.min(n, row.length)
      while (d < m) {
        s += row(d) * q(d)
        d += 1
      }
      out(j) = s
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Integer-L2 k-means assignment, packed: `(minDist << 8) | cid`.
    *
    * Each element is quantized `(long) floor((double) x * scale)` — one IEEE
    * double multiply + floor, bit-identical to SQL
    * `CAST(FLOOR(CAST(x AS DOUBLE) * scale) AS BIGINT)` — then the squared
    * L2 distance to each centroid is an exact long sum; ties pick the
    * smaller cid. Packing bounds, BOTH enforced (ADVICE r14): k <= 256 by
    * the expression at construction, and dist < 2^55 by `maxAbsQ` — the
    * expression derives the largest per-element magnitude B with
    * dims·(2B)² < 2^55, rejects centroids exceeding it at construction,
    * and this kernel throws on any row element quantizing past it (the
    * hitsInt in-plan-guard convention: fail loudly, never corrupt the
    * packed value). At the default scale 2^20 over 64 dims the worst case
    * is 64·(2·2^20)^2 = 2^48, far inside the bound. A row whose length
    * matches NO centroid throws (plan-shape bug, not data); a row with a
    * null element quantizes it as 0 — callers filter nulls upstream
    * (kmeansInt does).
    */
  def kmeansAssign(a: ArrayData, centroids: Array[Array[Long]], scale: Long,
      maxAbsQ: Long, aFloat: Boolean): Long = {
    val n = a.numElements
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0
        else if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val v = math.floor(x * scale).toLong
      if (v > maxAbsQ || v < -maxAbsQ)
        throw new IllegalArgumentException(
          s"kmeans_assign: |element| * scale = $v exceeds the 2^55 distance-packing bound " +
          s"(max $maxAbsQ at these dims) — lower the scale or normalize the embeddings")
      q(i) = v
      i += 1
    }
    var best = Long.MaxValue
    var bestIdx = 0
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      if (c.length == n) {
        var dist = 0L
        var j = 0
        while (j < n) {
          val d = q(j) - c(j)
          dist += d * d
          j += 1
        }
        if (dist < best) { best = dist; bestIdx = ci }
      }
      ci += 1
    }
    if (best == Long.MaxValue)
      throw new IllegalArgumentException(
        s"kmeans_assign: row has $n elements but no centroid has that length")
    (best << 8) | bestIdx.toLong
  }

  /** Nearest centroid by cosine (ordered-fold, same accumulation order as
    * `cosine`): returns the smallest index among maxima; vectors with no
    * valid cosine against any centroid (zero norm) fall back to index 0 —
    * matching a `row_number over (order by cos desc nulls last, cid)` pick.
    */
  def nearestCentroid(a: ArrayData, centroids: Array[Array[Double]], aFloat: Boolean): Int = {
    val n = a.numElements
    var best = Double.NegativeInfinity
    var bestIdx = 0
    var ci = 0
    while (ci < centroids.length) {
      val c = centroids(ci)
      if (c.length == n) {
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        var ok = true
        while (i < n && ok) {
          if (a.isNullAt(i)) ok = false
          else {
            val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
            val y = c(i)
            dot += x * y
            na += x * x
            nb += y * y
            i += 1
          }
        }
        if (ok && na != 0.0 && nb != 0.0) {
          val cos = dot / (math.sqrt(na) * math.sqrt(nb))
          if (cos > best) { best = cos; bestIdx = ci }
        }
      }
      ci += 1
    }
    bestIdx
  }

  /** Unit-normalize a vector into double elements; zero vector returned
    * unchanged (as doubles); null element → null result. The norm is
    * computed ONCE per row (the built-in transform-lambda formulation
    * re-evaluates the norm fold per element — O(d²)).
    */
  def l2Normalize(a: ArrayData, float: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = a.numElements
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      ss += x * x
      i += 1
    }
    val norm = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      val x = if (float) a.getFloat(i).toDouble else a.getDouble(i)
      out(i) = if (norm == 0.0) x else x / norm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine in double, strict left-to-right accumulation; null on length
    * mismatch or zero norm. aFloat/bFloat select the element accessor.
    */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements
    if (n != b.numElements) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // a null element must yield null, not silently read as 0.0
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** Hilbert-curve index of a quantized (x, y) cell at the given order:
    * top-down quadrant walk — per level s the pair (rx, ry) contributes
    * s²·((3·rx) xor ry) and the low bits rotate into canonical
    * orientation (ry = 0: all-ones-mask flip when rx = 1, then swap).
    * The imperative loop is the codegen-friendly form of the same fold
    * the DuckDB oracle unrolls as CTE levels.
    */
  def hilbert(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = mask - x; y = mask - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** MinHash summary of a space-separated text in ONE fused pass:
    * `[n_distinct_shingles, band_0, …, band_{bands-1}]`. Shingle hashes
    * follow [[shingleHashes]] exactly (polynomial mod 1e9+7 over the
    * shingle text, split(" ", -1) token semantics); signature mins apply
    * the (a_i·h + b_i) mod 1e9+7 permutations over the multiset (min over
    * multiset = min over set, so no distinct pass); band values fold
    * consecutive r = numHashes/bands mins with (acc·131 + x) mod 1e9+7 —
    * every value bit-identical to the unfused
    * array_distinct ∘ aggregate ∘ zip_with column chain it replaces,
    * which evaluated as interpreted higher-order functions per row and
    * dominated q206's corpus scan. Texts with fewer than k tokens return
    * `[0]` (no bands — posexplode of the empty slice drops the row, which
    * is the "shingle-less docs never band-collide" guard in kernel form).
    */
  def minhashBands(s: UTF8String, k: Int, a: Array[Long], b: Array[Long],
      bands: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val P = 1000000007L
    val numHashes = a.length
    val r = numHashes / bands
    val str = s.toString
    val tokens = str.split(" ", -1)
    val n = tokens.length
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](0L))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[java.lang.Long]()
    var i = 0
    while (i <= n - k) {
      var h = 0L
      var j = i
      while (j < i + k) {
        if (j > i) h = (h * 131 + ' ') % P
        val t = tokens(j)
        var c = 0
        while (c < t.length) {
          val cp = t.codePointAt(c)
          h = (h * 131 + cp) % P
          c += Character.charCount(cp)
        }
        j += 1
      }
      seen.add(java.lang.Long.valueOf(h))
      var p = 0
      while (p < numHashes) {
        val v = (a(p) * h + b(p)) % P
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    val out = new Array[Any](1 + bands)
    out(0) = seen.size.toLong
    var bi = 0
    while (bi < bands) {
      var acc = 0L
      var q = bi * r
      while (q < (bi + 1) * r) { acc = (acc * 131 + mins(q)) % P; q += 1 }
      out(1 + bi) = acc
      bi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Split on a literal separator, non-overlapping left-to-right, keeping
    * empty fields — the exact semantics both Spark `split(str, sep, -1)`
    * and DuckDB `string_split` share, so the kernel's line/paragraph
    * boundaries replay bit-for-bit in the oracle SQL.
    */
  private def splitLiteral(str: String, sep: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var from = 0
    var at = str.indexOf(sep, from)
    while (at >= 0) {
      out += str.substring(from, at)
      from = at + sep.length
      at = str.indexOf(sep, from)
    }
    out += str.substring(from)
    out.toArray
  }

  /** Duplicate stats over a multiset of strings (lines or paragraphs),
    * empty members excluded: [n_members, dup_members, total_chars,
    * dup_chars] where duplicates are occurrences BEYOND the first of each
    * distinct value and chars are Unicode code points — the counting rule
    * of the Gopher repetition filter (Rae et al. 2021 §A1.1: "fraction of
    * lines/paragraphs that are duplicates" / "fraction of characters in
    * duplicated lines/paragraphs").
    */
  private def dupStats(members: Array[String], out: Array[Long], at: Int): Unit = {
    val counts = new java.util.HashMap[String, Long]()
    var n = 0L; var total = 0L
    var i = 0
    while (i < members.length) {
      val m = members(i)
      if (m.nonEmpty) {
        n += 1
        total += m.codePointCount(0, m.length)
        counts.merge(m, 1L, (a, b) => a + b)
      }
      i += 1
    }
    var dup = 0L; var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c >= 2) {
        val len = e.getKey.codePointCount(0, e.getKey.length)
        dup += c - 1
        dupChars += (c - 1) * len
      }
    }
    out(at) = n; out(at + 1) = dup; out(at + 2) = total; out(at + 3) = dupChars
  }

  /** Single-pass Gopher repetition signals (Rae et al. 2021 Table A1) as
    * exact integers — the fractions divide in the plan so the DuckDB
    * oracle reproduces every bit with int/int division:
    *
    * [0]  n_tokens            (split on ' ', empties kept — split parity)
    * [1]  total_token_chars   (code points, separators excluded)
    * [2..4]  top-{2,3,4}-gram coverage = max over distinct n-grams of
    *         count × gram_chars (gram_chars = token chars, no separators;
    *         the max-coverage form is deterministic under count ties where
    *         "chars of THE most frequent n-gram" is not)
    * [5..10] dup-{5..10}-gram coverage = token chars at positions covered
    *         by ANY n-gram window occurring ≥ 2 times (span union — tokens
    *         under two overlapping duplicated windows count once)
    * [11..14] line stats   [n_lines, dup_lines, line_chars, dup_line_chars]
    *          (split '\n', empty lines excluded)
    * [15..18] paragraph stats, same four, split on the literal "\n\n"
    *
    * One tokenization + one hash-keyed count map per n — O(chars) token
    * hashing then O(Σₙ windows·n) multiply-adds per row (n ≤ 10), zero
    * shuffles at any corpus size (the q199 ScriptCounts altitude; the
    * relational formulation explodes the corpus ~9× and shuffles every
    * window, and the first-cut string-keyed maps rebuilt ~9 text copies
    * per row).
    */
  def repetitionSignals(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val str = s.toString
    val out = new Array[Long](19)
    val tokens = splitLiteral(str, " ")
    val nTok = tokens.length
    // prefix sums of token code-point lengths: gramChars(i, n) in O(1)
    val pre = new Array[Long](nTok + 1)
    var i = 0
    while (i < nTok) {
      pre(i + 1) = pre(i) + tokens(i).codePointCount(0, tokens(i).length)
      i += 1
    }
    out(0) = nTok.toLong
    out(1) = pre(nTok)
    // Window identity = 64-bit polynomial over fmix64-finalized token
    // hashes (the rollingWindowHashes construction), NOT window strings:
    // the string form rebuilt ~9 corpus copies of text per row and was the
    // dominant cost at sf0.1 (1.97 s clean). Counts need only WITHIN-DOC
    // window identity, so 64 bits suffice where the corpus-wide q182 join
    // needs 128: per doc and per n the expected number of colliding window
    // PAIRS is w²/2^65 (w = windows in the doc) — at w = 10^6 that is
    // ~5·10^-8 per doc, and a collision perturbs one doc's counts by one.
    // The DuckDB oracle keeps counting by window TEXT (the q182 precedent:
    // behavior must match, fingerprints never leave the kernel).
    val th = new Array[Long](nTok)
    i = 0
    while (i < nTok) {
      val t = tokens(i)
      var h = 1L // seed 1: distinguishes the empty token from absence
      var c = 0
      while (c < t.length) {
        val cp = t.codePointAt(c)
        h = h * 131 + cp // wraparound i64
        c += Character.charCount(cp)
      }
      th(i) = fmix64(h)
      i += 1
    }
    def windowHash(a: Int, n: Int): Long = {
      var h = 0L
      var j = a
      while (j < a + n) { h = h * RollB1 + th(j); j += 1 } // n <= 10
      h
    }
    var n = 2
    while (n <= 4) {
      val counts = new java.util.HashMap[java.lang.Long, Array[Long]]()
      var a = 0
      while (a + n <= nTok) {
        val key = java.lang.Long.valueOf(windowHash(a, n))
        val slot = counts.get(key)
        if (slot == null) counts.put(key, Array(1L, pre(a + n) - pre(a)))
        else slot(0) += 1L
        a += 1
      }
      var best = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val s = it.next()
        val cand = s(0) * s(1)
        if (cand > best) best = cand
      }
      out(n) = best
      n += 1
    }
    n = 5
    while (n <= 10) {
      val nw = nTok - n + 1
      val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val wh = if (nw > 0) new Array[Long](nw) else null
      var a = 0
      while (a + n <= nTok) {
        wh(a) = windowHash(a, n)
        counts.merge(java.lang.Long.valueOf(wh(a)), java.lang.Long.valueOf(1L),
          (x, y) => java.lang.Long.valueOf(x.longValue + y.longValue))
        a += 1
      }
      val covered = new Array[Boolean](nTok)
      a = 0
      while (a + n <= nTok) {
        if (counts.get(java.lang.Long.valueOf(wh(a))).longValue >= 2L) {
          var p = a
          while (p < a + n) { covered(p) = true; p += 1 }
        }
        a += 1
      }
      var cov = 0L
      i = 0
      while (i < nTok) {
        if (covered(i)) cov += pre(i + 1) - pre(i)
        i += 1
      }
      out(n) = cov
      n += 1
    }
    dupStats(splitLiteral(str, "\n"), out, 11)
    dupStats(splitLiteral(str, "\n\n"), out, 15)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.map(l => l: Any))
  }

  /** Word-level repetition statistics in ONE per-row pass:
    * `[n_tokens, n_distinct_words, n_distinct_bigrams, max_word_count]`
    * over the `split(text, " ")` token array (split semantics identical to
    * Spark's regex split with limit −1: every empty token kept). The r21
    * form computed these with three interpreted higher-order passes per
    * row — an array_sort + struct-fold run-length for the top word (the
    * max RUN over sorted tokens equals the max MULTISET count, so a hash
    * count replaces the sort), a zip_with bigram build + array_distinct,
    * and an array_distinct over words. Integer outputs only; the callers'
    * int/int divisions stay in the plan, so every emitted bit is
    * unchanged.
    */
  def wordRepetitionStats(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val t = splitLiteral(s.toString, " ")
    val n = t.length
    val wc = new java.util.HashMap[String, java.lang.Long](n * 2)
    var maxRun = 0L
    var i = 0
    while (i < n) {
      val c = wc.merge(t(i), java.lang.Long.valueOf(1L),
        (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
      if (c.longValue > maxRun) maxRun = c.longValue
      i += 1
    }
    val bigrams = new java.util.HashSet[String](math.max(n, 1) * 2)
    i = 0
    while (i + 1 < n) {
      bigrams.add(t(i) + " " + t(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
      n.toLong, wc.size.toLong, bigrams.size.toLong, maxRun))
  }

  /** Token-profile statistics in ONE per-row pass:
    * `[n_tokens, n_distinct, sum_codepoint_len, n_stopword, n_alpha]`
    * over `split(text, " ")` (same split semantics as
    * [[wordRepetitionStats]]). Replaces the interpreted per-token HOF
    * chain in TextAnalysis.quality / gopherFilter: an aggregate length
    * fold, an isin filter, an `^[a-z]+$` rlike filter and an
    * array_distinct — four passes, each through the expression
    * interpreter. Lengths count Unicode CODE POINTS (Spark's `length`),
    * alpha means non-empty and every char in [a-z] (the `^[a-z]+$`
    * semantics on ASCII-lowercase text — [a-z] cannot partially match a
    * supplementary pair, so a per-char check is exact). Integer outputs;
    * callers keep their divisions in-plan, bit-unchanged.
    */
  def tokenProfile(s: UTF8String, stop: java.util.HashSet[String])
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val t = splitLiteral(s.toString, " ")
    val n = t.length
    val seen = new java.util.HashSet[String](n * 2)
    var sumLen = 0L
    var nStop = 0L
    var nAlpha = 0L
    var i = 0
    while (i < n) {
      val w = t(i)
      seen.add(w)
      sumLen += w.codePointCount(0, w.length)
      if (stop.contains(w)) nStop += 1
      if (w.nonEmpty) {
        var alpha = true
        var j = 0
        while (alpha && j < w.length) {
          val c = w.charAt(j)
          if (c < 'a' || c > 'z') alpha = false
          j += 1
        }
        if (alpha) nAlpha += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
      n.toLong, seen.size.toLong, sumLen, nStop, nAlpha))
  }

  /** Ordered double fold over `array<struct<key, v:double>>`: sort by
    * (key asc, v asc) and left-fold v from 0.0 — the codegen replacement
    * for the interpreted `aggregate(array_sort(ts), 0.0, (acc,x) ->
    * acc + x.v)` HOF in the BM25 per-document rollup (Retrieval) and the
    * margin neighborhood means (Similarity). Bit-identical to the HOF
    * form: the order is array_sort's struct comparison (a null key sorts
    * before every non-null key, as in Spark's ascending struct ordering;
    * equal keys fall to v), and the accumulation is the same
    * left-to-right IEEE double chain. A null element or a null v yields
    * null (the HOF's acc + null = null); a null key alone does not.
    * `keyKind`: 0 = string, 1 = int, 2 = long.
    */
  def orderedStructDoubleSum(a: ArrayData, keyKind: Int): java.lang.Double = {
    val n = a.numElements
    if (n == 0) return java.lang.Double.valueOf(0.0)
    val sKeys = if (keyKind == 0) new Array[UTF8String](n) else null
    val lKeys = if (keyKind != 0) new Array[Long](n) else null
    val nullKey = new Array[Boolean](n)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val row = a.getStruct(i, 2)
      if (row.isNullAt(1)) return null
      nullKey(i) = row.isNullAt(0)
      if (!nullKey(i)) {
        if (keyKind == 0) sKeys(i) = row.getUTF8String(0)
        else lKeys(i) = if (keyKind == 1) row.getInt(0).toLong else row.getLong(0)
      }
      vals(i) = row.getDouble(1)
      i += 1
    }
    // insertion sort: arrays are query-term / top-k sized (tens of entries)
    i = 1
    while (i < n) {
      val nk = nullKey(i)
      val sk = if (sKeys != null) sKeys(i) else null
      val lk = if (lKeys != null) lKeys(i) else 0L
      val v = vals(i)
      var j = i - 1
      var cont = true
      while (j >= 0 && cont) {
        val c =
          if (nullKey(j) || nk) java.lang.Boolean.compare(!nullKey(j), !nk)
          else if (sKeys != null) sKeys(j).compareTo(sk)
          else java.lang.Long.compare(lKeys(j), lk)
        if (c > 0 || (c == 0 && java.lang.Double.compare(vals(j), v) > 0)) {
          nullKey(j + 1) = nullKey(j)
          if (sKeys != null) sKeys(j + 1) = sKeys(j) else lKeys(j + 1) = lKeys(j)
          vals(j + 1) = vals(j)
          j -= 1
        } else cont = false
      }
      nullKey(j + 1) = nk
      if (sKeys != null) sKeys(j + 1) = sk else lKeys(j + 1) = lk
      vals(j + 1) = v
      i += 1
    }
    var acc = 0.0
    i = 0
    while (i < n) { acc += vals(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** Integer dot product of two `array<bigint>`: Σ a(i)·b(i) as a long —
    * the codegen replacement for the interpreted
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,x) -> acc + x)` in
    * the int8 two-tier rerank. Exact (associative integer arithmetic;
    * the caller's overflow envelope is ≤ dims·127² per pair). Mismatched
    * lengths or a null element yield null — zip_with pads the shorter
    * side with null, the product goes null, and acc + null = null.
    */
  def longDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements
    if (b.numElements != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}
