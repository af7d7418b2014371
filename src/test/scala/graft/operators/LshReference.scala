package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash-LSH near-duplicate pairs as `Dedup.lshNearDupPairs` built them
  * before its bands came from the `minhash_bands` kernel: signatures as a
  * `numHashes`-column `min` aggregate over exploded distinct shingle hashes,
  * band values folded by hand over the signature columns, and the candidate
  * pairs verified by joining back to the exploded shingle hashes and
  * counting the shared ones. Test-only: LshPropertySpec checks the operator
  * against it.
  */
object LshReference {

  private final val P = 1000000007L

  def pairs(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sh = Dedup.hashedShingles(df, idCol, textCol, k)
    val aggs = (0 until numHashes).map { i =>
      min((lit(Dedup.hashA(i)) * col("h") + lit(Dedup.hashB(i))) % P).as(s"m$i")
    }
    val sigs = sh.groupBy(col("id")).agg(aggs.head, aggs.drop(1): _*)
    def bandHash(j: Int): Column =
      (0 until r).foldLeft(lit(0L)) { (acc, i) =>
        (acc * 131 + col(s"m${j * r + i}")) % P
      }
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("bidx"), bandHash(j).as("bval"))
    }: _*)
    val bandsDf = sigs.select(col("id"), explode(bandStructs).as("band"))
      .select(col("id"), col("band.bidx").as("bidx"), col("band.bval").as("bval"))
    val cand = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.bidx") === col("y.bidx") && col("x.bval") === col("y.bval")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val shared = cand
      .join(sh.select(col("id").as("id_a"), col("h")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("h").as("h_b")), Seq("id_b"))
      .where(col("h") === col("h_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("shared") / (col("n_a") + col("n_b") - col("shared")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
