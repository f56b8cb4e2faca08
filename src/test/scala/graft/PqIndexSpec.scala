package graft

import graft.operators.{IvfIndex, IvfPqIndex, PqIndex, Similarity, SqIndex}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: code shape, determinism, ADC recall and the
  * exactness of the rerank stage. */
class PqIndexSpec extends AnyFunSuite with SparkTestBase {

  private lazy val emb = Tables.load(spark, sf001, "embeddings")
  private lazy val model = PqIndex.train(emb, dim = 64, m = 8, k = 16, iters = 2)
  private lazy val truth: Map[(Long, Long), Double] =
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")) ->
        r.getAs[Double]("cosine")).toMap

  test("codes: m entries in [0,k), deterministic across encodes") {
    val codes = PqIndex.encode(emb, model).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes.size == emb.count())
    codes.values.foreach { cs =>
      assert(cs.length == 8)
      assert(cs.forall(c => c >= 0 && c < 16))
    }
    val again = PqIndex.encode(emb, model).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(again == codes)
  }

  test("ADC finds signal; rerank recovers recall and scores exactly") {
    val queries = emb.filter(col("vec_id") < 5)
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .count(truth.contains).toDouble / truth.size

    val adc = PqIndex.searchAdc(PqIndex.encode(emb, model), queries, model, k = 10)
      .collect()
    val rr = PqIndex.searchWithRerank(emb, queries, model, k = 10, r = 50)
      .collect()
    val (recAdc, recRr) = (recall(adc), recall(rr))
    assert(recAdc > 0.05, s"ADC recall $recAdc is no better than random")
    assert(recRr >= recAdc, s"rerank recall $recRr must not lose to ADC $recAdc")

    // every reranked hit that the exact search also returned carries the
    // IDENTICAL cosine — the rerank stage is the exact kernel, not ADC
    rr.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      truth.get(key).foreach(c =>
        assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
  }

  test("IVF×PQ: full probe ≡ flat PQ; partial probe prunes partitions, keeps recall") {
    val queries = emb.filter(col("vec_id") < 5)
    val composed = IvfPqIndex.Model(
      graft.operators.IvfIndex.train(emb, nlist = 8, iters = 2), model)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    IvfIndex.writeIndex(IvfPqIndex.GlobalCodec, emb, composed, dir)
    // physical layout: one directory of CODES per cell inside the base
    // slice (no float vectors)
    val cellDirs = new java.io.File(s"$dir/delta=base").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)

    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet

    // nprobe = nlist ⇒ candidate set is the whole corpus ⇒ the composed
    // search degenerates to flat ADC + rerank, bit-for-bit
    val full = IvfIndex.searchIndex(IvfPqIndex.GlobalCodec, spark, dir,
      queries, composed, k = 10, nprobe = 8,
      rerank = Some(IvfIndex.Rerank(emb, 50)))
    val flat = PqIndex.searchWithRerank(emb, queries, model, k = 10, r = 50)
    assert(keyed(full.collect()) == keyed(flat.collect()))

    // partial probe: cell-pruned ADC — plan carries a DPP partition filter,
    // rerank cosines stay exact, recall stays above random
    val part = IvfIndex.searchIndex(IvfPqIndex.GlobalCodec, spark, dir,
      queries, composed, k = 10, nprobe = 2,
      rerank = Some(IvfIndex.Rerank(emb, 50)))
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), s"expected DPP partition filter in:\n$plan")
    val rows = part.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      truth.get((r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .foreach(c => assert(math.abs(c - r.getAs[Double]("cosine")) < 1e-9))
    }
    val rec = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
      .count(truth.contains).toDouble / truth.size
    assert(rec > 0.05, s"IVF×PQ nprobe=2 recall $rec is no better than random")
  }

  test("residual PQ beats global PQ candidate recall on a clustered corpus") {
    import spark.implicits._
    // crafted clustered corpus: 8 well-separated unit-norm clusters of 48
    // vectors (noise σ=0.15 around each center). In-cluster neighbors
    // differ only by their small displacement — exactly what global codes
    // quantize away (codewords must cover center + noise) and residual
    // codes keep (codewords cover ONLY the displacement). vec_id = i*8+c
    // interleaves clusters so the deterministic first-n seeds hit all 8.
    val rnd = new scala.util.Random(42)
    val dim = 64
    val centers = (0 until 8).map(_ => Array.fill(dim)(rnd.nextGaussian()))
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = for (i <- 0 until 48; c <- 0 until 8) yield {
      val noisy = centers(c).map(_ + rnd.nextGaussian() * 0.15)
      ((i * 8 + c).toLong, unit(noisy).map(_.toFloat).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") < 8)   // one per cluster
    val gt = Similarity.bruteForceTopK(corpus, queries, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet

    def recallOf(residual: Boolean): Double = {
      val m = IvfPqIndex.train(corpus, nlist = 8, dim = dim, m = 8, k = 16,
        coarseIters = 2, pqIters = 2, residual = residual)
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_ivfpq_res_$residual").toString
      val codec =
        if (residual) IvfPqIndex.ResidualCodec else IvfPqIndex.GlobalCodec
      IvfIndex.writeIndex(codec, corpus, m, dir)
      // full probe + small rerank pool: with the candidate pool barely
      // above k, recall is decided by ADC fidelity — the thing residual
      // codes improve
      val got = IvfIndex.searchIndex(codec, spark, dir, queries, m,
          k = 10, nprobe = 8,
          rerank = Some(IvfIndex.Rerank(corpus, 12))).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      (got & gt).size.toDouble / gt.size
    }

    val (recGlobal, recResidual) = (recallOf(false), recallOf(true))
    assert(recResidual > recGlobal,
      s"residual recall $recResidual must beat global $recGlobal at equal code budget")
  }

  test("SQ8: codes in int8 range, deterministic model, recall between PQ and exact") {
    val sq = SqIndex.train(emb)
    assert(sq.dim == 64)
    assert(sq.scales.forall(s => s >= 0 && s <= 1.0 / 127.0 + 1e-9),
      "normalized components are ≤1, so scales are ≤1/127")
    assert(SqIndex.train(emb).scales == sq.scales, "training must be deterministic")
    assert(SqIndex.train(emb.repartition(7)).scales == sq.scales,
      "max aggregation is order-free, so partitioning must not matter")
    val codes = SqIndex.encode(emb, sq).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](1)).toMap
    assert(codes.size == emb.count())
    codes.values.foreach { cs =>
      assert(cs.length == 64)
      assert(cs.forall(c => c >= -127 && c <= 127), s"int8 range violated: $cs")
    }

    // SQ8 distorts far less than PQ at the same rerank pool: with the
    // pool barely above k, its candidate recall must at least match PQ's
    val queries = emb.filter(col("vec_id") < 5)
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id")))
        .count(truth.contains).toDouble / truth.size
    val sqRec = recall(
      SqIndex.searchWithRerank(emb, queries, sq, k = 10, r = 12).collect())
    val pqRec = recall(
      PqIndex.searchWithRerank(emb, queries, model, k = 10, r = 12).collect())
    assert(sqRec >= pqRec,
      s"SQ8 recall $sqRec must not lose to 8-byte PQ $pqRec at equal pool")
    assert(sqRec > 0.8, s"64-byte codes should nearly reproduce exact: $sqRec")
  }

  test("IVF×PQ maintenance: append drifts, footer stats see it, rebuild repairs") {
    val composed = IvfPqIndex.train(emb, nlist = 8, dim = 64, m = 8, k = 16,
      coarseIters = 2, pqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_maint").toString
    IvfIndex.writeIndex(IvfPqIndex.GlobalCodec, emb, composed, dir)

    // the IVF footer readers work unchanged on the CODE layout
    import graft.operators.IvfIndex
    assert(IvfIndex.cellStats(spark, dir).agg(sum(col("n_vectors")))
      .head().getLong(0) == emb.count())

    // skewed append: 4 extra copies of the fullest cell's population
    val donorCell = IvfIndex.assign(emb, composed.coarse)
      .groupBy("cell").count().orderBy(col("count").desc).head().getAs[Int]("cell")
    val donors = IvfIndex.assign(emb, composed.coarse)
      .filter(col("cell") === donorCell).select("vec_id", "embedding")
    val delta = (1 to 4).map(c =>
        donors.select((col("vec_id") + lit(100000L * c)).as("vec_id"),
          col("embedding")))
      .reduce(_ unionByName _)
    IvfIndex.appendToIndex(IvfPqIndex.GlobalCodec, delta, composed, dir)
    assert(IvfIndex.driftReport(spark, dir, maxSkew = 3.0).head()
      .getAs[Boolean]("drifted"))

    // rebuild on the grown corpus: balance restored, full probe with a
    // corpus-sized rerank pool reproduces brute force exactly
    val union = emb.select("vec_id", "embedding").unionByName(delta)
    val rebuilt = IvfIndex.rebuildIndex(IvfPqIndex.GlobalCodec, spark, dir,
      nlist = 8, iters = 2, corpus = Some(union))
    assert(!IvfIndex.driftReport(spark, dir, maxSkew = 3.0).head()
      .getAs[Boolean]("drifted"))
    val queries = emb.filter(col("vec_id") < 3)
    def keyed(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    val full = IvfIndex.searchIndex(IvfPqIndex.GlobalCodec, spark, dir,
      queries, rebuilt, k = 10, nprobe = 8,
      rerank = Some(IvfIndex.Rerank(union, union.count().toInt)))
    assert(keyed(full.collect()) ==
      keyed(Similarity.bruteForceTopK(union, queries, k = 10).collect()))
  }
}
