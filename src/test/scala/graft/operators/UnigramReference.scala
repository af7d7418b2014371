package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The unigram learners as they were built before their RDD core: the
  * seed as a `transform(sequence(...))` substring explode with two
  * TakeOrdered cuts unioned and collected, each E-step as a codegen
  * `unigram_segment` / `unigram_expected` projection grouped and collected
  * (soft usage as an exact DECIMAL sum), and the reports as DataFrame
  * joins. Test-only: UnigramLearnerSpec checks the operators against it.
  */
object UnigramReference {

  type Model = Array[(String, Long)]

  def words(df: DataFrame): DataFrame =
    df.select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .localCheckpoint()

  def seed(words: DataFrame, maxPieceLen: Int, multiV: Int): Model = {
    val pf = words.select(col("word"), col("wc"),
        explode(flatten(transform(
          sequence(lit(1), length(col("word"))),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i + 1)),
            l => col("word").substr(i, l))))).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("freq"))
    pf.where(length(col("piece")) === 1)
      .orderBy(col("freq").desc, col("piece")).limit(65536 - multiV)
      .union(pf.where(length(col("piece")) >= 2)
        .orderBy(col("freq").desc, col("piece")).limit(multiV))
      .select(col("piece"), col("freq")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
  }

  def probs(model: Model): (Seq[String], Seq[Double], Double) = {
    val total = model.map(_._2).sum
    (model.map(_._1).toSeq, model.map(_._2.toDouble / total.toDouble).toSeq,
      1.0 / (total.toDouble * 1000000.0))
  }

  /** Viterbi-path usage per piece, weighted by wc. */
  def hardUsage(words: DataFrame, model: Model): DataFrame = {
    val (pieces, ps, unk) = probs(model)
    words.select(col("wc"),
        explode(graft.functions.unigram_segment(col("word"), pieces, ps, unk)).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("usage"))
  }

  /** Σ wc·q per piece over the quantized posteriors, exact in DECIMAL. */
  def softUsage(words: DataFrame, model: Model): DataFrame = {
    val (pieces, ps, unk) = probs(model)
    words.select(col("wc"),
        explode(graft.functions.unigram_expected(col("word"), pieces, ps, unk)).as("e"))
      .groupBy(col("e.piece").as("piece"))
      .agg(sum(col("wc").cast("decimal(38,0)") * col("e.q")).cast("long").as("usage"))
  }

  private def usageMap(u: DataFrame): Map[String, Long] =
    u.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def modelDf(df: DataFrame, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    model.toSeq.toDF("piece", "freq")
  }

  def vocab(df: DataFrame, maxPieceLen: Int, topV: Int): DataFrame = {
    val w = words(df)
    val s = seed(w, maxPieceLen, topV)
    if (s.isEmpty) return df.sparkSession.emptyDataFrame
    val total = s.map(_._2).sum
    modelDf(df, s).join(hardUsage(w, s), Seq("piece"), "left")
      .select(col("piece"), col("freq"),
        (col("freq").cast("double") / lit(total.toDouble)).as("p"),
        (length(col("piece")) === 1).as("is_char"),
        coalesce(col("usage"), lit(0L)).as("usage"))
      .withColumn("keep", col("is_char") || col("usage") > 0)
  }

  def softEm(df: DataFrame, maxPieceLen: Int, topV: Int): DataFrame = {
    val w = words(df)
    val s = seed(w, maxPieceLen, topV)
    if (s.isEmpty) return df.sparkSession.emptyDataFrame
    val base = modelDf(df, s)
      .join(hardUsage(w, s).withColumnRenamed("usage", "usage_hard"), Seq("piece"), "left")
      .join(softUsage(w, s).withColumnRenamed("usage", "usage_soft_q"), Seq("piece"), "left")
      .select(col("piece"), col("freq"),
        (length(col("piece")) === 1).as("is_char"),
        coalesce(col("usage_hard"), lit(0L)).as("usage_hard"),
        coalesce(col("usage_soft_q"), lit(0L)).as("usage_soft_q"))
      .withColumn("w2", col("usage_soft_q")
        + when(col("is_char"), lit(16777216L)).otherwise(lit(0L)))
    val tot2 = base.where(col("w2") > 0).agg(sum(col("w2")).as("tot2"))
    base.crossJoin(tot2)
      .select(col("piece"), col("freq"), col("is_char"),
        col("usage_hard"), col("usage_soft_q"),
        (!col("is_char") && col("usage_soft_q") === 0).as("pruned"),
        when(!col("is_char") && col("usage_soft_q") === 0, lit(null).cast("double"))
          .otherwise(col("w2").cast("double") / col("tot2").cast("double")).as("p2"))
  }

  private def isChar(p: String) = p.codePointCount(0, p.length) == 1

  def em(df: DataFrame, maxPieceLen: Int, topV: Int): DataFrame = {
    val w = words(df)
    val s = seed(w, maxPieceLen, topV)
    if (s.isEmpty) return df.sparkSession.emptyDataFrame
    val u1 = usageMap(hardUsage(w, s))
    val kept = s.map { case (p, _) => (p, u1.getOrElse(p, 0L) + (if (isChar(p)) 1L else 0L)) }
      .filter(_._2 > 0)
    val (pieces2, probs2, _) = probs(kept)
    val spark = df.sparkSession
    import spark.implicits._
    modelDf(df, s)
      .join(hardUsage(w, s).withColumnRenamed("usage", "__u1"), Seq("piece"), "left")
      .join(pieces2.zip(probs2).toDF("piece", "p2"), Seq("piece"), "left")
      .join(hardUsage(w, kept).withColumnRenamed("usage", "__u2"), Seq("piece"), "left")
      .select(col("piece"), col("freq"),
        coalesce(col("__u1"), lit(0L)).as("usage_1"),
        col("p2").isNull.as("pruned"),
        col("p2"),
        coalesce(col("__u2"), lit(0L)).as("usage_2"))
  }

  /** The training loop, as unigramTrainCore ran it: a driver-side prune
    * over collected usage maps, survival rounds, and the final model. */
  def train(df: DataFrame, maxPieceLen: Int, seedV: Int, targetV: Int,
      pruneFrac: Double, soft: Boolean): DataFrame = {
    val sched = TextAnalysis.unigramPruneSchedule(seedV, targetV, pruneFrac)
    val w = words(df)
    val s = seed(w, maxPieceLen, seedV)
    if (s.isEmpty) return df.sparkSession.emptyDataFrame
    def usage(m: Model) = usageMap(if (soft) softUsage(w, m) else hardUsage(w, m))
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8")
      val y = b.getBytes("UTF-8")
      val i = x.indices.find(i => i >= y.length || x(i) != y(i))
      i match {
        case None => x.length < y.length
        case Some(j) => j < y.length && (x(j) & 0xff) < (y(j) & 0xff)
      }
    }
    val charSmooth = if (soft) 16777216L else 1L
    var model = s
    val survived = scala.collection.mutable.HashMap(s.map(p => p._1 -> 0).toSeq: _*)
    sched.zipWithIndex.foreach { case (keepV, round) =>
      val u = usage(model)
      val charsW = model.filter(m => isChar(m._1)).map { case (p, _) => (p, u.getOrElse(p, 0L) + charSmooth) }
      val multiKept = model.filter(m => !isChar(m._1))
        .map { case (p, _) => (p, u.getOrElse(p, 0L)) }
        .filter(_._2 > 0)
        .sortWith { case ((p1, u1), (p2, u2)) => u1 > u2 || (u1 == u2 && utf8Less(p1, p2)) }
        .take(keepV)
      model = charsW ++ multiKept
      model.foreach(p => survived(p._1) = round + 1)
    }
    val finalUsage = usage(model)
    val (pieces, ps, _) = probs(model)
    val finalP = pieces.zip(ps).toMap
    val spark = df.sparkSession
    import spark.implicits._
    s.toSeq.map { case (p, f) =>
        (p, f, isChar(p), survived(p), finalP.get(p), finalUsage.getOrElse(p, 0L))
      }
      .toDF("piece", "freq", "is_char", "rounds_survived", "final_p",
        if (soft) "final_usage_q" else "final_usage")
  }
}
