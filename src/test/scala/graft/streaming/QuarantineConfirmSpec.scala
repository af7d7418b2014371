package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.operators.Decontaminate

/** The quarantine→confirm loop as a TESTED path (VERDICT r19 #4): the
  * streaming gate's `fuzzy_candidate` rows flow through a foreachBatch
  * quarantine into the batch exact-Jaccard verify
  * (Decontaminate.fuzzyContamination over the quarantined rows), and the
  * confirmed set equals
  * the pure-batch fuzzy protocol's on the same corpus — the r18-q213
  * lesson one layer up: "the batch audit confirms" must be a spec, not a
  * doc claim.
  *
  * Fixture classes: a verbatim near-dup (quarantined AND confirmed), an
  * edited doc below the threshold (quarantined, then CLEARED by the
  * verify — the over-flag the screen is allowed), and a clean doc (never
  * quarantined; the batch protocol must agree it has no candidates).
  */
class QuarantineConfirmSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cBench = (1 to 20).map(i => s"c$i").mkString(" ")
  private def bench = Seq((1001L, cBench)).toDF("doc_id", "text")

  private val docDup = cBench // verbatim: jaccard 1.0 ≥ 0.9 — confirmed
  private val docEdit = (1 to 20).map(i => if (i == 20) "ZZZ" else s"c$i")
    .mkString(" ") // tail edit: 14/15 shingles shared → bands collide, but
                   // jaccard 14/16 = 0.875 < 0.9 — the allowed over-flag
  private val docClean = (1 to 20).map(i => s"z$i").mkString(" ")

  private val corpus = Seq((1L, docDup), (2L, docEdit), (3L, docClean))
  private val thr = 0.9

  test("stream quarantines, batch confirms: screen ∘ confirm ≡ pure-batch fuzzy protocol") {
    implicit val sqlCtx = spark.sqlContext
    // STREAM side: the gate screens each micro-batch; foreachBatch
    // quarantines fuzzy_candidate rows (id + text only — the confirm
    // input), exactly the deployment shape
    val quarantined = new scala.collection.mutable.ArrayBuffer[(Long, String)]
    val mem = MemoryStream[(Long, String)]
    val q = Decontaminate.ingestGate(mem.toDS().toDF("doc_id", "text"), bench,
        "doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.filter(batch("fuzzy_candidate"))
          .select("doc_id", "text").collect()
        quarantined.synchronized {
          quarantined ++= rows.map(r => (r.getLong(0), r.getString(1)))
        }
        ()
      }.start()
    try {
      mem.addData(corpus.take(2): _*)
      q.processAllAvailable()
      mem.addData(corpus.drop(2): _*) // second micro-batch
      q.processAllAvailable()
    } finally q.stop()

    // the fixture must exercise all three classes, or the parity assert
    // below would pass vacuously
    val qIds = quarantined.map(_._1).toSet
    assert(qIds.contains(1L), "near-dup must band-collide")
    assert(qIds.contains(2L), "the sub-threshold edit must be screened (the allowed over-flag)")
    assert(!qIds.contains(3L), "clean doc must never be quarantined")

    // CONFIRM: the batch exact-Jaccard verify over only the quarantined rows
    val confirmed = Decontaminate.fuzzyContamination(
        quarantined.toSeq.toDF("doc_id", "text"), bench, "doc_id", "text",
        threshold = thr)
      .collect().map(r => r.getLong(r.fieldIndex("id")) ->
        ((r.getBoolean(r.fieldIndex("contaminated")),
          r.getLong(r.fieldIndex("n_candidates")),
          r.getLong(r.fieldIndex("n_matches")),
          r.getDouble(r.fieldIndex("best_jaccard"))))).toMap

    // PURE BATCH: the committed q206-family protocol over the full corpus
    val batch = Decontaminate.fuzzyContamination(
        corpus.toDF("doc_id", "text"), bench, "doc_id", "text",
        threshold = thr)
      .collect().map(r => r.getLong(r.fieldIndex("id")) ->
        ((r.getBoolean(r.fieldIndex("contaminated")),
          r.getLong(r.fieldIndex("n_candidates")),
          r.getLong(r.fieldIndex("n_matches")),
          r.getDouble(r.fieldIndex("best_jaccard"))))).toMap

    // (1) the screen never misses: every batch-contaminated doc was quarantined
    val batchHits = batch.collect { case (id, (true, _, _, _)) => id }.toSet
    assert(batchHits.subsetOf(qIds), s"screen missed $batchHits vs $qIds")
    // (2) confirm ≡ batch on the quarantined subset — full row parity,
    // not just the verdict (same candidates, same jaccard, same counts)
    qIds.foreach { id =>
      assert(confirmed(id) == batch(id), s"doc $id: ${confirmed(id)} vs ${batch(id)}")
    }
    // (3) un-quarantined docs are batch-clean with zero candidates, so
    // skipping them loses nothing
    (batch.keySet -- qIds).foreach { id =>
      assert(batch(id) == ((false, 0L, 0L, 0.0)), s"doc $id: ${batch(id)}")
    }
    // (4) end-to-end: the confirmed set IS the pure-batch contaminated set,
    // and the over-flagged edit was cleared by the verify
    val confirmedHits = confirmed.collect { case (id, (true, _, _, _)) => id }.toSet
    assert(confirmedHits == batchHits, s"$confirmedHits vs $batchHits")
    assert(confirmedHits == Set(1L) && qIds == Set(1L, 2L),
      "fixture must show quarantine ⊃ confirmed (the screen over-flags, the verify clears)")
  }
}
