package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Binary quantization ANN — the 1-bit-per-dimension tier (the "BQ" mode
 * production vector stores ship for maximum compression; the theory is
 * SimHash/sign-random-projection, Charikar STOC'02, §3: for unit
 * vectors, P[sign(x_d) = sign(q_d)] = 1 − θ/π per dimension, so Hamming
 * similarity of the sign codes is a monotone estimator of the angle):
 * each dim-64 float vector (256 B) compresses to ONE 64-bit sign code
 * (8 B — 32× lighter than the floats, 4× lighter than PQ codes at
 * m=8/k=16), the first pass ranks by Hamming similarity with a single
 * `bit_count(xor)` per pair, and the exact cosine rerank repairs the
 * top `r` candidates — so only r float vectors per query are ever read.
 *
 * No training, no model state: the code is `sign(x_d)` (positive bit
 * set), which is invariant under the positive per-vector scaling of L2
 * normalization — so the RAW embedding encodes directly and the whole
 * tier is a pure function of the corpus. That makes it the one ANN tier
 * whose oracle is fully literal SQL (no cachedModel contract): the code
 * sum, the Hamming rank, and the rerank replay bit-for-bit from static
 * expressions.
 *
 * Scale shape: encode is a narrow codegen'd map (64 static CASE terms,
 * no HOF lambda); scoring broadcasts the ≤NQueries query codes against
 * the code column — at 100 TB the scan side reads 8 B/vector, and the
 * integer kernel is one XOR + POPCNT per pair, the cheapest first pass
 * of the whole ladder. The rerank equi-joins r ids per query back to
 * the corpus table, exactly like [[PqIndex.searchWithRerank]].
 */
object BqIndex {

  /** The 64-bit sign code as 64 STATIC terms (bit d set iff x_{d+1} > 0),
    * summed left-associative in ascending d — partial sums stay
    * non-negative until the final 1L<<63 term, so the oracle's checked
    * BIGINT addition can replay the identical order without tripping its
    * overflow guard (distinct powers of two sum to the exact bit
    * pattern in two's complement on both engines). */
  private[graft] def codeColumn(e: Column, dim: Int = 64): Column =
    (0 until dim).map { d =>
      when(element_at(e, d + 1) > lit(0f), lit(1L << d)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hamming similarity of two codes: dim − popcount(xor). Higher =
    * closer; an exact integer, so the cross-engine tie rule is just
    * (ham desc, vec_id asc). */
  private[graft] def hammingSim(a: Column, b: Column, dim: Int = 64): Column =
    lit(dim) - bit_count(a.bitwiseXOR(b))

  /** (vec_id, code) — one BIGINT per vector. */
  def encode(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), codeColumn(col("embedding")).as("code"))

  /** Hamming first pass over the codes, top `r` per query. */
  def searchHamming(encoded: DataFrame, queries: DataFrame, r: Int): DataFrame = {
    val q = encode(queries).select(col("vec_id").as("query_id"),
      col("code").as("qcode"))
    Similarity.topPerQuery(
      encoded.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          hammingSim(col("code"), col("qcode")).as("ham")),
      r, col("ham").desc)
  }

  /** Hamming candidates + exact cosine rerank — the standard recall
    * repair at 1-bit memory cost. */
  def searchWithRerank(corpus: DataFrame, queries: DataFrame,
      k: Int, r: Int): DataFrame = {
    require(r >= k, "rerank pool must be at least k")
    val cands = searchHamming(encode(corpus), queries, r)
      .select(col("query_id"), col("vec_id"))
    Similarity.rerankExact(cands, corpus, queries, k)
  }

  /** Query-pack adapter — first 5 queries, k = 10, rerank pool
    * [[Similarity.scaledCandidates]] (5% of the corpus, floor 100): a
    * FIXED pool decays fast for 1-bit codes (heavy Hamming ties make the
    * tail of a small cut tie-break noise — measured 0.72/0.38/0.20 at
    * sf0.01/0.1/1 with r = 50), and a corpus-fraction rescore pool is
    * exactly how production binary quantization is deployed (oversample,
    * then rescore). The first pass is already a corpus scan of 8 B
    * codes, so the scaled rerank leaves the tier's cost class unchanged.
    * The oracle derives the identical r from count(*) — the tier stays
    * fully literal SQL, no cached model. */
  def bqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val r = Similarity.scaledCandidates(
      graft.sources.Tables.rowCount(spark, sfDir, "embeddings"))
    searchWithRerank(emb, emb.filter(col("vec_id") < 5), k = 10, r = r)
  }
}
