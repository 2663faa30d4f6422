package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

/** The dedup corpus: documents `0 until n`, each 60 hex tokens drawn
  * from the full 64-bit space, so unrelated documents share no
  * shingles. The top `copies` ids are near-duplicate copies — one
  * appended token — of distinct base documents in `0 until copyFrom`,
  * chosen by a seeded affine permutation. Every planted pair is
  * therefore exactly one near-duplicate pair (Jaccard ≈ 0.98) and no
  * other pair exists. Every salt comes from `seed`. */
final case class Corpus(seed: Long, n: Long, copyFrom: Long, copies: Long) {
  require(copies <= copyFrom && copyFrom <= n - copies,
    s"copies must come from non-copy ids: n=$n copyFrom=$copyFrom copies=$copies")

  val firstCopy: Long = n - copies
  private val textSalt = Rng.mix(seed, 0x7E47L)
  private val tokenSalt = Rng.mix(seed, 0xC0F1L)
  // a·k + b mod copyFrom is a permutation of 0 until copyFrom when
  // gcd(a, copyFrom) = 1, so no two copies share a base
  private val stride: Long = {
    @annotation.tailrec def gcd(x: Long, y: Long): Long =
      if (y == 0) x else gcd(y, x % y)
    var a = 1L + java.lang.Math.floorMod(Rng.mix(seed, 0xAF1L), copyFrom)
    while (gcd(a, copyFrom) != 1L) a += 1
    a
  }
  private val offset = java.lang.Math.floorMod(Rng.mix(seed, 0xB0FL), copyFrom)

  def baseOf(id: Long): Long =
    if (id < firstCopy) id
    else java.lang.Math.floorMod(stride * (id - firstCopy) + offset, copyFrom)

  def text(id: Long): String = {
    val base = baseOf(id)
    val sb = new StringBuilder(1100)
    var j = 0
    while (j < 60) {
      sb.append(java.lang.Long.toHexString(Rng.mix(base * 131L + j, textSalt)))
        .append(' ')
      j += 1
    }
    if (id != base)
      sb.append(java.lang.Long.toHexString(Rng.mix(id, tokenSalt)))
    sb.toString
  }

  /** Planted near-duplicate pairs (base, copy), base < copy. */
  def planted: Set[(Long, Long)] =
    (firstCopy until n).map(i => (baseOf(i), i)).toSet

  /** Documents `lo until hi` as (id BIGINT, text STRING), generated in
    * the tasks that read them. */
  def docs(spark: SparkSession, lo: Long, hi: Long): DataFrame = {
    val self = this
    val textOf = udf((id: Long) => self.text(id))
    val parts = math.max(spark.sessionState.conf.numShufflePartitions * 2, 4)
    spark.range(lo, hi, 1L, parts).select(col("id"), textOf(col("id")).as("text"))
  }
}
