package graft.tools

import graft.expr.AcAutomaton

/** Measures AcAutomaton build time and scan throughput at curation-list
  * sizes (VERDICT r16 #6: "the 10⁴–10⁶-term claim should carry a number").
  * Deterministic synthetic workload: patterns are length-8..16 strings over
  * a 26-letter alphabet from a fixed LCG (8+ so a 10⁶ list does not
  * saturate the short-n-gram space and turn every position into a match —
  * real blocklist terms are words/phrases); the corpus is 2 000 documents of
  * 2 000 chars with every 50th slot splicing a pattern in (so the output
  * path is exercised, not just failure links).
  *
  * Usage: runMain graft.tools.AcBench [patternCounts...]  (default
  * 10000 100000 1000000). Prints one line per size: build ms, frozen
  * node/edge counts and bytes, scan MB/s (min of 3 passes), matches.
  */
object AcBench {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10000, 100000, 1000000)
    var seed = 0x9E3779B97F4A7C15L
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    def randStr(len: Int): String = {
      val b = new StringBuilder(len)
      var i = 0
      while (i < len) { b.append(('a' + nextInt(26)).toChar); i += 1 }
      b.toString
    }
    sizes.foreach { p =>
      // distinct patterns (LCG collisions possible at 1e6 — dedupe to the target)
      val set = new java.util.LinkedHashSet[String]()
      while (set.size < p) set.add(randStr(8 + nextInt(9)))
      val patterns = set.toArray(new Array[String](set.size))
      val t0 = System.nanoTime()
      val ac = new AcAutomaton(patterns)
      val buildMs = (System.nanoTime() - t0) / 1e6
      // corpus: 2000 docs x 2000 chars, a pattern spliced every 50 chars
      val docs = (0 until 2000).map { _ =>
        val b = new StringBuilder(2100)
        while (b.length < 2000) {
          b.append(randStr(49)).append(' ')
          if (nextInt(2) == 0) b.append(patterns(nextInt(patterns.length)))
        }
        b.toString
      }
      val totalChars = docs.map(_.length.toLong).sum
      var matches = 0L
      val scanSecs = (1 to 3).map { _ =>
        matches = 0L
        val s0 = System.nanoTime()
        docs.foreach(d => matches += ac.scan(d).length)
        (System.nanoTime() - s0) / 1e9
      }
      val mbps = (totalChars / 1e6) / scanSecs.min
      // frozen footprint: 2 B/char key + 4 B/int target + 4 B fail + out ids
      // + the 256 KiB root row (array headers excluded — lower bound)
      val bytes = ac.edgeCount * 6 + ac.nodeCount.toLong * 4 + 65536L * 4
      println(f"[acbench] patterns=$p%7d build=${buildMs}%8.1f ms nodes=${ac.nodeCount}%8d " +
        f"edges=${ac.edgeCount}%8d frozen~=${bytes / 1024.0 / 1024.0}%6.1f MiB " +
        f"scan=${mbps}%7.1f MB/s (min of 3) matches=$matches")
    }

    // Phase 2 — the q189 shape: natural-language phrase blocklists scanned
    // over the real documents corpus. The random-letter phase above is the
    // ADVERSARIAL bound (a 26-letter 10⁶ list saturates every shallow trie
    // level, so every position walks 4+ levels of cache-cold nodes); real
    // blocklists are word phrases whose shallow levels mirror corpus word
    // structure and most positions fail in 1-2 steps.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Session.local()
    val texts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect().map(_.getString(0))
    spark.stop()
    val vocab = texts.iterator.flatMap(_.split(' ')).filter(w => w.length >= 3 && w.length <= 12)
      .take(2000000).toArray.distinct
    var lastCount = -1
    sizes.foreach { p =>
      val set = new java.util.LinkedHashSet[String]()
      var guard = 0
      while (set.size < p && guard < p * 20) {
        val words = 1 + nextInt(3)
        set.add((0 until words).map(_ => vocab(nextInt(vocab.length))).mkString(" "))
        guard += 1
      }
      // the synthetic documents corpus has a ~30-word vocabulary, so the
      // 1-3-word phrase space caps near 28k — skip exhausted repeats
      // (skip THIS size only, not the rest of the list: a non-local
      // return here exited main and dropped every remaining size,
      // round-17 review finding)
      if (set.size != lastCount) {
      lastCount = set.size
      val patterns = set.toArray(new Array[String](set.size))
      val t0 = System.nanoTime()
      val ac = new AcAutomaton(patterns)
      val buildMs = (System.nanoTime() - t0) / 1e6
      val totalChars = texts.map(_.length.toLong).sum
      var matches = 0L
      val scanSecs = (1 to 3).map { _ =>
        matches = 0L
        val s0 = System.nanoTime()
        texts.foreach(d => matches += ac.scan(d).length)
        (System.nanoTime() - s0) / 1e9
      }
      val mbps = (totalChars / 1e6) / scanSecs.min
      println(f"[acbench-corpus] patterns=${patterns.length}%7d build=${buildMs}%8.1f ms " +
        f"nodes=${ac.nodeCount}%8d scan=${mbps}%7.1f MB/s (min of 3) matches=$matches " +
        f"over ${texts.length} docs / ${totalChars / 1e6}%.1f M chars")
      }
    }
  }
}
