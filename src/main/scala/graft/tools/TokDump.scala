package graft.tools

import graft.ja.{JaGolden, JaMode, JaTokenizer}

import scala.collection.mutable.ArrayBuffer

/** Tokenizer dump for lattice debugging and corpus review. Usage:
  *
  *   runMain graft.tools.TokDump --path  <out> [<sentences-file>]
  *   runMain graft.tools.TokDump --modes <out> [<sentences-file>]
  *
  * `--path` writes each sentence's raw winning Viterbi path in NORMAL mode,
  * as `surface[POS/c<class>]` cells (UNK for unknown edges), including the
  * tokens the stop filters later drop. `--modes` writes the NORMAL, SEARCH
  * and EXTENDED outputs as `N=`/`S=`/`E=` columns, so mode-variant
  * expectations can be reviewed and pinned into the corpus TSV. The input is
  * one sentence per line; without a file it is the golden corpus, and
  * `--modes` then writes only the sentences whose modes diverge.
  */
object TokDump {
  def main(args: Array[String]): Unit = {
    val usage = "usage: TokDump --path|--modes <out> [<sentences-file>]"
    require(args.length >= 2 && Set("--path", "--modes").contains(args(0)), usage)
    val w = new java.io.PrintWriter(OutPath.checked(args(1)), "UTF-8")
    val sentences: Seq[(String, String)] =
      if (args.length > 2)
        scala.io.Source.fromFile(args(2), "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).zipWithIndex
          .map { case (l, i) => (s"c${i + 1}", l) }.toSeq
      else JaGolden.corpus.map(g => (g.sid.toString, g.sentence))
    try {
      if (args(0) == "--path") {
        val tok = new JaTokenizer(JaMode.Normal)
        sentences.foreach { case (_, sent) =>
          val sink = new ArrayBuffer[(String, graft.ja.DictEntry, Int)]
          tok.pathSink = sink
          tok.tokenize(sent)
          tok.pathSink = null
          val cells = sink.map { case (surf, e, cls) =>
            s"$surf[${if (e == null) "UNK" else e.pos}/c$cls]"
          }
          w.println(s"$sent\t${cells.mkString(" ")}")
        }
      } else {
        val normal = new JaTokenizer()
        val search = new JaTokenizer(mode = JaMode.Search)
        val ext = new JaTokenizer(mode = JaMode.Extended)
        val divergentOnly = args.length == 2
        sentences.foreach { case (sid, sent) =>
          val n = normal.tokenize(sent).mkString("|")
          val s = search.tokenize(sent).mkString("|")
          val e = ext.tokenize(sent).mkString("|")
          if (!divergentOnly || s != n || e != n) w.println(s"$sid\t$sent\tN=$n\tS=$s\tE=$e")
        }
      }
    } finally w.close()
  }
}
