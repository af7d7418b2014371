package perfbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.{AcAutomaton, Kernels, TokenizeJaNeologd}
import graft.ja.{JaMode, JaTokenizer, UserDict}

/** Single-thread kernel layer: each public kernel timed on one thread over
  * a fixed input, with one untimed warm-up pass first. Every call runs in a
  * `kernel` span of the trace.
  */
final class KernelBench(trace: Trace) {

  /** Kernel results end here, so the JIT cannot drop the calls. */
  @volatile private var sink = 0L

  /** Units of work per second: passes over `units` until `minSeconds`. */
  private def rate(name: String, units: Long, minSeconds: Double)(pass: () => Long): Double = {
    sink += pass()
    trace.span("kernel", name) {
      var n = 0L
      val t0 = System.nanoTime()
      var el = 0.0
      while (el < minSeconds || n == 0) {
        sink += pass()
        n += 1
        el = (System.nanoTime() - t0) / 1e9
      }
      n * units / el
    }
  }

  private def charsOf(xs: Array[String]): Long = xs.iterator.map(_.length.toLong).sum

  /** The `ja` and `expr` tokenizer entries over the workload's corpus. */
  def tokenizer(docs: Array[String], lines: Array[String], userDict: Seq[String],
      minSeconds: Double): Seq[(String, Any)] = {
    val normal = new JaTokenizer()
    val search = new JaTokenizer(JaMode.Search, JaCorpus.stopWords.toSet,
      JaCorpus.stopTags.toSet, UserDict.parse(userDict))
    val row = TokenizeJaNeologd(Seq(Literal(UTF8String.fromString(""))))
    val docsU = docs.map(UTF8String.fromString)
    val tokens = docs.iterator.map(d => normal.tokenize(d).length.toLong).sum
    Seq(
      "ja.kernel_chars_per_s" -> rate("ja.tokenize.docs", charsOf(docs), minSeconds) { () =>
        docs.iterator.map(d => normal.tokenize(d).length.toLong).sum
      },
      "ja.kernel_lines_per_s" -> rate("ja.tokenize.lines", lines.length, minSeconds) { () =>
        lines.iterator.map(l => search.tokenize(l).length.toLong).sum
      },
      "ja.tokens_per_kchar" -> tokens * 1000.0 / charsOf(docs),
      "expr.tokenize_row_chars_per_s" -> rate("expr.tokenizeRow.docs", charsOf(docs), minSeconds) { () =>
        docsU.iterator.map(d => row.tokenizeRow(d).numElements().toLong).sum
      })
  }

  /** The public `expr` kernels that the engine's micro-benchmarks time:
    * BPE and unigram-LM segmentation on a fixed synthetic corpus, and
    * Aho-Corasick scanning with a 10k-pattern list.
    */
  def exprKernels(minSeconds: Double): Seq[(String, Any)] = {
    var s = 42L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 16 }
    val alphabet = "abcdefghijklmnop"
    val stems = (0 until 64).map(_ => (0 until 2 + (next() % 3).toInt).map(_ => alphabet((next() % 8).toInt)).mkString)
    val words = (0 until 2048).map { _ =>
      val st = stems((next() % 64).toInt)
      if (next() % 4 == 0) st + alphabet((next() % 16).toInt) else st
    }
    val lines = (0 until 200).map(_ => (0 until 50).map(_ => words((next() % 2048).toInt)).mkString(" "))
      .map(UTF8String.fromString).toArray
    val chars = lines.iterator.map(_.numChars().toLong).sum
    val pieces = alphabet.map(_.toString) ++ stems.distinct
    val vocab = new java.util.HashMap[String, java.lang.Double]()
    pieces.foreach(p => vocab.put(p, Double.box(if (p.length == 1) 0.002 else 0.01)))
    val maxLen = pieces.map(_.length).max
    val merges = stems.distinct.filter(_.length >= 2).take(64).flatMap { st =>
      (1 until st.length).map(i => (st.substring(0, i), st.substring(i, i + 1)))
    }.distinct.take(64)
    val pat = merges.map(m => " " + m._1 + " " + m._2 + " ").toArray
    val rep = merges.map(m => " " + m._1 + m._2 + " ").toArray

    val patterns = {
      val set = new java.util.LinkedHashSet[String]()
      while (set.size < 10000) set.add((0 until 8 + (next() % 9).toInt).map(_ => ('a' + (next() % 26).toInt).toChar).mkString)
      set.toArray(new Array[String](0))
    }
    val ac = new AcAutomaton(patterns)
    val docs = (0 until 500).map { _ =>
      val b = new StringBuilder(2100)
      while (b.length < 2000) {
        (0 until 49).foreach(_ => b.append(('a' + (next() % 26).toInt).toChar))
        b.append(' ')
        if (next() % 2 == 0) b.append(patterns((next() % patterns.length).toInt))
      }
      b.toString
    }.toArray

    Seq(
      "expr.kernel.bpe_segment_chars_per_s" -> rate("expr.bpeSegment", chars, minSeconds) { () =>
        lines.iterator.map(l => Kernels.bpeSegment(l, pat, rep).numElements().toLong).sum
      },
      "expr.kernel.unigram_segment_chars_per_s" -> rate("expr.unigramSegment", chars, minSeconds) { () =>
        lines.iterator.map(l => Kernels.unigramSegment(l, vocab, 1e-9, maxLen).numElements().toLong).sum
      },
      "expr.kernel.unigram_expected_chars_per_s" -> rate("expr.unigramExpected", chars, minSeconds) { () =>
        lines.iterator.map(l => Kernels.unigramExpected(l, vocab, 1e-9, maxLen).numElements().toLong).sum
      },
      "expr.kernel.ac_scan_chars_per_s" -> rate("expr.acScan", charsOf(docs), minSeconds) { () =>
        docs.iterator.map(d => ac.scan(d).length.toLong).sum
      })
  }
}
