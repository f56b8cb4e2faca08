package graft

import graft.operators.{BpeTrainer, EmbeddingPca, ModelStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModelStoreSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft-models").toString

  test("BPE merges round-trip exactly through the store") {
    val (merges, _) = BpeTrainer.trainCached(spark, sf001)
    assert(merges.nonEmpty)
    ModelStore.saveBpeMerges(spark, merges, dir)
    assert(ModelStore.loadBpeMerges(spark, dir) == merges)
  }

  test("PCA model round-trips bit-exactly and projects identically") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
    val m = EmbeddingPca.fitCached(spark, sf001)
    ModelStore.savePcaModel(spark, m, dir)
    val loaded = ModelStore.loadPcaModel(spark, dir)
    assert(loaded.mean.toSeq == m.mean.toSeq)
    assert(loaded.eigenvalues.toSeq == m.eigenvalues.toSeq)
    assert(loaded.components.map(_.toSeq).toSeq == m.components.map(_.toSeq).toSeq)
    assert(loaded.covTrace == m.covTrace)
    // a consumer that never saw the corpus projects identically
    val a = EmbeddingPca.project(emb, m, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = EmbeddingPca.project(emb, loaded, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a == b)
  }

  test("composed ANN models round-trip fingerprint-exactly (IVF-PQ, IVF-BQ, OPQ)") {
    import graft.operators.{IvfBqIndex, IvfIndex, IvfPqIndex, OpqIndex, PqIndex}
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")

    // IVF-PQ, residual flavor too: the flag changes what a code MEANS,
    // so it must survive the artifact (it feeds the fingerprint)
    val mPq = IvfPqIndex.train(emb, nlist = 8, coarseIters = 1, pqIters = 1)
    IvfPqIndex.GlobalCodec.save(spark, mPq, dir)
    val loadedPq = IvfPqIndex.GlobalCodec.load(spark, dir)
    assert(loadedPq.fingerprint == mPq.fingerprint,
      "IVF-PQ fingerprint must survive the round-trip float-bit-exactly")
    assert(!loadedPq.residual)
    val mRes = IvfPqIndex.train(emb, nlist = 8, coarseIters = 1, pqIters = 1,
      residual = true)
    val dirRes = java.nio.file.Files.createTempDirectory("graft-mres").toString
    IvfPqIndex.ResidualCodec.save(spark, mRes, dirRes)
    val loadedRes = IvfPqIndex.ResidualCodec.load(spark, dirRes)
    assert(loadedRes.residual &&
      loadedRes.fingerprint == mRes.fingerprint)

    // IVF-BQ: the model is the coarse quantizer; the composed layout
    // stamp derives from it — both must survive
    val coarse = IvfIndex.train(emb, nlist = 8, iters = 1)
    IvfBqIndex.Codec.save(spark, coarse, dir)
    val loadedBq = IvfBqIndex.Codec.load(spark, dir)
    assert(loadedBq.fingerprint == coarse.fingerprint)
    assert(IvfBqIndex.Codec.fingerprint(loadedBq) ==
      IvfBqIndex.Codec.fingerprint(coarse))

    // OPQ: rotation + books, float-bit equality (no fingerprint field)
    val mOpq = OpqIndex.train(spark, sf001, emb, iters = 1)
    ModelStore.saveOpqModel(spark, mOpq, dir)
    val loadedOpq = ModelStore.loadOpqModel(spark, dir)
    assert(loadedOpq.rotation.map(_.toSeq).toSeq ==
      mOpq.rotation.map(_.toSeq).toSeq)
    assert(loadedOpq.pq == mOpq.pq)

    // plain PQ codebooks round-trip through the shared rows
    val cb = PqIndex.train(emb, dim = 64, m = 8, k = 16, iters = 1)
    val dirCb = java.nio.file.Files.createTempDirectory("graft-mcb").toString
    ModelStore.savePqCodebooks(spark, cb, dirCb)
    assert(ModelStore.loadPqCodebooks(spark, dirCb) == cb)
  }

  test("layout stamps are pinned: float, bq, pq and pq-residual fingerprint bytes") {
    import graft.operators.{IvfBqIndex, IvfIndex, IvfPqIndex, PqIndex}
    // fixed tiny models, no training: every persisted index carries these
    // stamps, so any change to how a layout hashes its model must show here
    val coarse = IvfIndex.Model(Seq(Seq(0.6f, 0.8f, 0f, 0f),
      Seq(0f, 0f, -1f, 0.5f)))
    val books = PqIndex.Codebooks(dim = 4, m = 2, books = Seq(
      Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(0.5f, -0.5f)),
      Seq(Seq(0.25f, 0.75f), Seq(-1f, 0f), Seq(0f, 0f))))
    assert(IvfIndex.FloatCodec.fingerprint(coarse) ==
      "eeb823ae54bf0485fe90dc148a8bca1b6de638adb17610606e25e65445216758")
    assert(IvfBqIndex.Codec.fingerprint(coarse) ==
      "37766ae028d62687ae639e05f151051ab4790a2ea9b188308c2c0bb737283466")
    assert(IvfPqIndex.GlobalCodec.fingerprint(
      IvfPqIndex.Model(coarse, books)) ==
      "0587ff3dd09bb05cddc91394eb4b684d09ee107736ba2ed9b945aeef732c7e66")
    assert(IvfPqIndex.ResidualCodec.fingerprint(
      IvfPqIndex.Model(coarse, books, residual = true)) ==
      "adceb604ff2b3e090173fe589152e6b1812f5397a571b4ca63266310f87ef77a")
  }

  test("corpus witness: superset passes, perturbed/missing rows die, absent witness tolerated") {
    val emb = graft.sources.Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")
    val half = emb.filter(col("vec_id") % 2 === 0)
    val wdir = java.nio.file.Files.createTempDirectory("graft-wit").toString
    // no witness saved yet → legacy artifact, check is a no-op
    ModelStore.requireCorpusWitness(spark, emb, wdir)
    ModelStore.saveCorpusWitness(spark, half, wdir)
    // the build corpus itself and any SUPERSET (ingest-grown) pass
    ModelStore.requireCorpusWitness(spark, half, wdir)
    ModelStore.requireCorpusWitness(spark, emb, wdir)
    // float-bit perturbation of one witness row dies loudly
    val perturbed = emb.withColumn("embedding", expr(
      "CASE WHEN vec_id = 0 THEN transform(embedding, x -> x + CAST(1.0 AS FLOAT)) ELSE embedding END"))
    val e = intercept[IllegalStateException](
      ModelStore.requireCorpusWitness(spark, perturbed, wdir))
    assert(e.getMessage.contains("corpus witness mismatch") &&
      e.getMessage.contains("0"))
    // a corpus missing a witness id dies too
    val e2 = intercept[IllegalStateException](
      ModelStore.requireCorpusWitness(spark,
        emb.filter(col("vec_id") > 0), wdir))
    assert(e2.getMessage.contains("corpus witness mismatch"))
  }
}
