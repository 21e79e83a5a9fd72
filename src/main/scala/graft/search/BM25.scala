package graft.search

import graft.util.SmallFloat

/** Float32 BM25 scoring math, shared by the distributed scorer, the
  * SQL/relational path and the in-memory SpecOracle so all three agree
  * bit-for-bit (SURVEY.md §7.4).
  *
  * Mirrors the Lucene 8.x formulation
  * [U lucene/core/.../search/similarities/BM25Similarity.java]:
  *  - idf = ln(1 + (N - df + 0.5)/(df + 0.5))           (double → float)
  *  - avgdl = sumTotalTermFreq / docCount               (double → float)
  *  - NO (k1+1) numerator (Lucene 8 dropped it; ranks unchanged)
  *  - per-norm-byte cache: invK[b] = 1 / (k1·((1−b) + b·len(b)/avgdl))
  *  - score = weight − weight / (1 + freq · invK[norm]) all in float32
  *  - dl is the DECODED quantized norm byte, not the exact length.
  */
object BM25 {
  val K1: Float = 1.2f
  val B: Float = 0.75f

  def idf(docCount: Long, docFreq: Long): Float =
    math.log(1.0 + (docCount - docFreq + 0.5d) / (docFreq + 0.5d)).toFloat

  def avgFieldLength(sumTotalTermFreq: Long, docCount: Long): Float =
    (sumTotalTermFreq / docCount.toDouble).toFloat

  /** 256-entry 1/K cache, one slot per possible norm byte. */
  def buildCache(avgdl: Float): Array[Float] = {
    val cache = new Array[Float](256)
    var i = 0
    while (i < 256) {
      val len: Float = SmallFloat.LengthTable(i).toFloat
      cache(i) = 1f / (K1 * ((1f - B) + B * len / avgdl))
      i += 1
    }
    cache
  }

  /** The hot scoring kernel; `weight` = boost · idf (float). */
  @inline def score(weight: Float, freq: Float, invK: Float): Float =
    weight - weight / (1f + freq * invK)
}

/** Per-query immutable scoring context (broadcast to executors). */
final case class Bm25Stats(docCount: Long, sumTotalTermFreq: Long) {
  val avgdl: Float = BM25.avgFieldLength(sumTotalTermFreq, docCount)
  @transient lazy val cache: Array[Float] = BM25.buildCache(avgdl)
}
