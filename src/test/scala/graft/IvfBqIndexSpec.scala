package graft

import graft.operators.{BqIndex, IvfBqIndex, IvfIndex}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF × BQ composed tier: the code layout is exactly the sign codes in
  * their assigned cells, a full probe degenerates to flat BQ (same r),
  * and the stamp separates the code layout from the float layout. */
class IvfBqIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = Tables.load(spark, sf001, "embeddings")

  private def keyed(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet

  test("full probe == flat BQ at the same rescore pool; layout rows are the encode") {
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfbq").toString
    IvfIndex.writeIndex(IvfBqIndex.Codec, emb, model, dir)
    // the persisted rows are exactly (vec_id, cell-of-assignment, code)
    val stored = IvfIndex.readIndex(spark, dir)
      .select(col("vec_id"), col("cell"), col("code")).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Int]("cell"), r.getAs[Long]("code")))
      .toMap
    val codes = BqIndex.encode(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("code")).toMap
    val cells = IvfIndex.assign(emb, model).select("vec_id", "cell").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
    assert(stored.keySet == codes.keySet)
    stored.foreach { case (id, (cell, code)) =>
      assert(code == codes(id) && cell == cells(id), s"vec $id layout mismatch")
    }

    // probing EVERY cell removes the prune: the composed search must
    // equal the flat Hamming+rerank pipeline at the same pool
    val queries = emb.filter(col("vec_id") < 3)
    val full = keyed(IvfIndex.searchIndex(IvfBqIndex.Codec, spark, dir,
      queries, model, k = 10, nprobe = 4,
      rerank = Some(IvfIndex.Rerank(emb, 50))))
    val flat = keyed(BqIndex.searchWithRerank(emb, queries, k = 10, r = 50))
    assert(full == flat, "full-probe composed search must equal flat BQ")
  }

  test("stamp separates code and float layouts; probed-pool scaling; pack recall floor") {
    val model = IvfIndex.train(emb, nlist = 4, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfbq_fp").toString
    IvfIndex.writeIndex(IvfBqIndex.Codec, emb, model, dir)
    // a float-index reader (the raw coarse fingerprint) must not pass
    // the stamp check against the code layout
    val e = intercept[IllegalStateException] {
      IvfIndex.requireModelMatches(spark, dir, model.fingerprint)
    }
    assert(e.getMessage.contains("fingerprint mismatch"))
    // composed stamp passes; append lands a stamped slice
    IvfIndex.appendToIndex(IvfBqIndex.Codec,
      emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")),
      model, dir)
    assert(IvfIndex.readIndex(spark, dir).count() == emb.count() + 5)

    // pool tracks the probed mass with the flat tier's floor of 100
    assert(IvfIndex.scaledProbedPool(4000L, 8, 2) == 100)
    assert(IvfIndex.scaledProbedPool(1000000L, 256, 16) ==
      (1000000L * 16 / 256 / 20).toInt)

    // the pack adapter clears the gate floor at the fixture scale
    val got = IvfBqIndex.ivfbqQuery(spark, sf001).collect()
    assert(got.groupBy(_.getAs[Long]("query_id")).forall(_._2.length == 10))
    val truth = graft.operators.Similarity.bruteForceTopK(emb,
        emb.filter(col("vec_id") < 5), k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = got
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .count(truth.contains).toDouble / truth.size
    assert(recall >= 0.25, s"ivf_bq recall $recall under the gate floor")
  }
}
