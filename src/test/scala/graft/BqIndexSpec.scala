package graft

import graft.operators.{BqIndex, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binary quantization: the sign code is exactly the per-dimension sign
  * pattern, Hamming similarity is exact and symmetric, and the reranked
  * pipeline is deterministic with exact cosines. */
class BqIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = Tables.load(spark, sf001, "embeddings")

  test("code bits are the per-dimension signs; encode is deterministic") {
    val rows = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    val codes = BqIndex.encode(emb.filter(col("vec_id") < 8)).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("code")).toMap
    rows.foreach { case (id, v) =>
      val expect = v.indices.map(d => if (v(d) > 0f) 1L << d else 0L).sum
      assert(codes(id) == expect, s"vec $id code mismatch")
      (0 until 64).foreach { d =>
        assert((((codes(id) >> d) & 1L) == 1L) == (v(d) > 0f))
      }
    }
    assert(BqIndex.encode(emb).collect().toSet == BqIndex.encode(emb).collect().toSet)
  }

  test("hamming: self-similarity is 64, an all-flipped code scores 0") {
    import spark.implicits._
    val pairs = Seq((0L, 0x0L, 0x0L), (1L, -1L, -1L), (2L, 0x0L, -1L),
      (3L, 0x5AL, 0x5AL)).toDF("id", "a", "b")
    val got = pairs.select(col("id"),
      graft.operators.BqIndex.hammingSim(col("a"), col("b")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) == 64 && got(1L) == 64 && got(2L) == 0 && got(3L) == 64)
  }

  test("pipeline: k rows per query, exact cosines, recall clears the floor") {
    val queries = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, queries, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap
    val got = BqIndex.searchWithRerank(emb, queries, k = 10, r = 50).collect()
    assert(got.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 10))
    // reranked hits that the exact search also returned carry IDENTICAL
    // cosines — the rerank is the exact kernel
    got.foreach { r =>
      truth.get((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
    val recall = got
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .count(truth.contains).toDouble / truth.size
    assert(recall >= 0.3, s"bq recall $recall under the gate floor")
  }
}
