package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF × PQ composed ANN (the IVFADC scheme of Jégou et al., TPAMI'11 §IV):
 * the corpus is coarse-quantized into `nlist` IVF cells and PQ-encoded, and
 * a query ADC-scans only its `nprobe` closest cells — IVF prunes WHICH data
 * is read, PQ compresses WHAT is read. This closes the 100 TB ANN story:
 * flat ADC ([[PqIndex.searchAdc]]) still sweeps every code (~3 TB at 100 TB
 * corpus even 32×-compressed); composed, a probe touches nprobe/nlist of
 * the codes, and dynamic partition pruning skips the rest at scan time.
 *
 * Design choices vs the paper:
 *  - DEFAULT codes are global-PQ over the L2-normalized vectors; residual
 *    PQ (the paper's §IV scheme: encode x̂ − c against codebooks trained
 *    on residuals, score as q̂·c + q̂·r̂) is available via
 *    `train(residual = true)`. Residuals concentrate what the codebooks
 *    must represent into the in-cell displacement, so at the same code
 *    budget the candidate pool is truer and a smaller rerank `r` reaches
 *    the same recall — the lever that matters at 100 TB, where rerank
 *    reads r float vectors per query. Global stays the default: encode is
 *    a single cell-independent projection reusable across layouts, and
 *    the established oracle replays it.
 *  - The index layout is one parquet partition directory per cell holding
 *    only (vec_id, codes) — 8 B of codes per vector at m=8. Rerank reads
 *    the float vectors for just the r candidates per query via an equi-join
 *    back to the corpus table.
 *
 * Scale shape: driver state is centroids (nlist×dim floats) + codebooks
 * (m×k×subDim floats) — kilobytes, broadcast as plan literals. The probe
 * join is a broadcast of (query × nprobe) rows against the cell-partitioned
 * code scan; nothing driver-side grows with the corpus.
 */
object IvfPqIndex {

  /** Coarse quantizer + product codebooks, trained on the same corpus.
    * `residual = true` means the codebooks quantize x̂ − c(cell) and ADC
    * scores reconstruct q̂·x̂ as q̂·c + q̂·r̂. */
  final case class Model(coarse: IvfIndex.Model, pq: PqIndex.Codebooks,
      residual: Boolean = false) {
    /** Layout identity of the COMPOSED quantizer: both stages determine
      * the stored bytes (cells from the coarse centroids, codes from the
      * codebooks — and residual mode changes what a code means), so all
      * three feed the stamp [[IvfIndex.requireModelMatches]] verifies. */
    lazy val fingerprint: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(coarse.fingerprint.getBytes("UTF-8"))
      md.update((if (residual) 1 else 0).toByte)
      val buf = java.nio.ByteBuffer.allocate(4)
      def putInt(i: Int): Unit = { md.update(buf.putInt(i).array()); buf.clear() }
      // FRAME the codebook shape before the float stream (m, then each
      // book's k, then each codeword's subDim): a flat stream lets two
      // shapes with the same total float count hash identically even
      // though (m, k) change what a stored code MEANS — the coarse stamp
      // avoids this only because nlist is hashed first
      putInt(pq.books.size)
      pq.books.foreach { book =>
        putInt(book.size)
        book.foreach { cw =>
          putInt(cw.size)
          cw.foreach(f => putInt(java.lang.Float.floatToIntBits(f)))
        }
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  /** The centroid of the assigned cell, as an array column (1-based
    * element_at over the broadcast centroid literals). */
  private def centroidCol(coarse: IvfIndex.Model, cell: Column): Column =
    element_at(array(coarse.centroids.map(c => typedlit(c)): _*), cell + 1)

  /** x̂ − c(cell) for an already-normalized vector column. */
  private def residualCol(coarse: IvfIndex.Model, e: Column, cell: Column): Column =
    zip_with(e, centroidCol(coarse, cell), (a, b) => (a - b).cast("float"))

  /** Train both stages (each deterministic — seeds are the first vectors
    * by id, see [[IvfIndex.train]] / [[PqIndex.train]]). With
    * `residual = true` the PQ stage trains on the coarse residuals
    * x̂ − c (un-normalized — the residual's magnitude IS information).
    * `stratifiedSeeds` passes through to the coarse stage — the
    * mass-proportional seeding [[IvfIndex.rebuildIndex]] repairs
    * balance with. */
  def train(corpus: DataFrame, nlist: Int, dim: Int = 64, m: Int = 8,
      k: Int = 16, coarseIters: Int = 3, pqIters: Int = 3,
      residual: Boolean = false, stratifiedSeeds: Boolean = false): Model = {
    val coarse = IvfIndex.train(corpus, nlist, coarseIters, stratifiedSeeds)
    if (!residual)
      Model(coarse, PqIndex.train(corpus, dim, m, k, pqIters))
    else {
      val res = corpus
        .select(col("vec_id"), PqIndex.normed(col("embedding")).as("_e"))
        .select(col("vec_id"), col("_e"),
          IvfIndex.nearestCell(coarse, col("_e")).as("cell"))
        .select(col("vec_id"),
          residualCol(coarse, col("_e"), col("cell")).as("embedding"))
      Model(coarse,
        PqIndex.train(res, dim, m, k, pqIters, normalize = false),
        residual = true)
    }
  }

  /** The composed code layout: each cell row is (vec_id, cell, codes) —
    * 8 B of codes per vector at m=8, no floats. The first pass is
    * cell-pruned ADC; residual models encode x̂ − c(cell) and score
    * q̂·c + q̂·r̂. [[GlobalCodec]] and [[ResidualCodec]] differ only in
    * what they train: a loaded or given model carries its own
    * `residual` flag, which drives encode, score and the stamp. */
  final class Codec private[IvfPqIndex] (residual: Boolean)
      extends IvfCodec[Model] {
    val name = "pq"
    val storesVectors = false
    def coarse(m: Model): IvfIndex.Model = m.coarse
    def fingerprint(m: Model): String = m.fingerprint
    def train(corpus: DataFrame, nlist: Int, iters: Int,
        stratifiedSeeds: Boolean): Model =
      IvfPqIndex.train(corpus, nlist, coarseIters = iters, pqIters = iters,
        residual = residual, stratifiedSeeds = stratifiedSeeds)

    /** The normalized / encoded vectors are each materialized in their
      * OWN projection: the m×k codeword scorings reference them, and
      * `transform` (no codegen) re-evaluates inlined subexpressions per
      * reference (same trap as PqIndex.encode /
      * TextAnalysis.repetitionStats). */
    def encode(corpus: DataFrame, m: Model): DataFrame =
      IvfIndex.assign(corpus, m.coarse)
        .select(col("vec_id"), col("cell"),
          PqIndex.normed(col("embedding")).as("_e"))
        .select(col("vec_id"), col("cell"),
          (if (m.residual)
            residualCol(m.coarse, col("_e"), col("cell"))
          else col("_e")).as("_enc"))
        .select(col("vec_id"), col("cell"),
          PqIndex.codesColumn(m.pq, col("_enc")).as("codes"))

    /** Probe cells score on the NORMALIZED query (same ranking as raw —
      * positive rescale — and in residual mode the probe score IS the
      * q̂·c term of the reconstruction); ADC tables need the normalized
      * query too — each in a named projection (HOF re-eval trap). */
    def probe(queries: DataFrame, m: Model, nprobe: Int): DataFrame =
      queries
        .select(col("vec_id").as("query_id"),
          PqIndex.normed(col("embedding")).as("_e"))
        .select(col("query_id"), col("_e"),
          IvfIndex.probeCellsColumn(m.coarse, col("_e"), nprobe).as("_pc"))
        .select(col("query_id"),
          PqIndex.adcTablesColumn(m.pq, col("_e")).as("tables"),
          col("_pc"))
        .select(col("query_id"), col("tables"), explode(col("_pc")).as("probe"))
        .select(col("query_id"), col("tables"), col("probe.cell").as("cell"),
          col("probe.score").as("cell_dot"))

    val scoreName = "adc_score"

    /** Residual ADC reconstructs q̂·x̂ ≈ q̂·c + q̂·r̂: the cell term comes
      * from the probe, the residual term from the lookup tables; global
      * ADC is the table sum alone. Quantized before ranking so the
      * candidate cut is ulp-robust cross-engine (see Similarity.q9). */
    def score(m: Model): Column = {
      val adcTable = PqIndex.adcScore(col("codes"), col("tables"))
      round(if (m.residual) adcTable + col("cell_dot") else adcTable, 9)
    }

    /** Coarse centroids + codebooks + the residual flag (it changes what
      * a stored code MEANS, so it is part of the artifact, not a caller
      * convention). */
    def save(spark: SparkSession, m: Model, dir: String): Unit = {
      import spark.implicits._
      ModelStore.saveCentroids(spark, m.coarse.centroids, s"$dir/ivfpq/coarse")
      ModelStore.savePqCodebooks(spark, m.pq, s"$dir/ivfpq")
      Seq(Tuple1(m.residual)).toDF("residual")
        .write.mode("overwrite").parquet(s"$dir/ivfpq/residual")
    }

    def load(spark: SparkSession, dir: String): Model =
      Model(
        IvfIndex.Model(ModelStore.loadCentroids(spark, s"$dir/ivfpq/coarse")),
        ModelStore.loadPqCodebooks(spark, s"$dir/ivfpq"),
        residual = spark.read.parquet(s"$dir/ivfpq/residual")
          .head().getAs[Boolean]("residual"))
  }

  /** Trains global-PQ codes — the service CLI's `pq` layout. */
  val GlobalCodec = new Codec(residual = false)

  /** Trains residual-PQ codes (the IVFADC §IV scheme). */
  val ResidualCodec = new Codec(residual = true)

  /** Models memoized per corpus (train once, search many — the production
    * shape; both stages are deterministic so cached ≡ fresh). */
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  /** The one cached model of this session, if any — lets SparkEntry emit
    * the composed oracle SQL from the exact centroids + codebooks the query
    * used (Verify runs queries first, then collects oracleSql). */
  def cachedModel: Option[Model] = {
    val vs = modelCache.values()
    if (vs.size() == 1) Some(vs.iterator().next()) else None
  }

  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Query-pack adapter: train (or reuse) the composed model, persist the
    * cell-partitioned code layout (once), search the first 5 vectors with
    * a corpus-sized probe count ([[IvfIndex.scaledNlist]] cells,
    * [[IvfIndex.scaledNprobe]] probes — decade-stable occupancy), ADC
    * pool r=50, exact top-10. */
  def ivfpqQuery(spark: SparkSession, sfDir: String): DataFrame =
    packQuery(spark, sfDir, GlobalCodec, modelCache, indexCache, "ivfpq")

  /** Residual models live in their OWN cache so [[cachedModel]]'s
    * one-model contract (the global oracle generator) stays intact. */
  private val residualModelCache =
    new java.util.concurrent.ConcurrentHashMap[String, Model]()

  /** The one cached RESIDUAL model of this session, if any — twin of
    * [[cachedModel]] for the residual oracle generator. */
  def cachedResidualModel: Option[Model] = {
    val vs = residualModelCache.values()
    if (vs.size() == 1) Some(vs.iterator().next()) else None
  }

  private val residualIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Query-pack adapter for the RESIDUAL composed index: same corpus,
    * probe, pool, and k as [[ivfpqQuery]], but codes quantize x̂ − c and
    * ADC reconstructs q̂·c + q̂·r̂ — the IVFADC §IV scheme, hash-checked
    * against a generated SQL replay like its global twin. */
  def ivfpqResidualQuery(spark: SparkSession, sfDir: String): DataFrame =
    packQuery(spark, sfDir, ResidualCodec, residualModelCache,
      residualIndexCache, "ivfpqres")

  private def packQuery(spark: SparkSession, sfDir: String, codec: Codec,
      models: java.util.concurrent.ConcurrentHashMap[String, Model],
      indexes: java.util.concurrent.ConcurrentHashMap[String, String],
      tag: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nl = IvfIndex.scaledNlist(Tables.rowCount(spark, sfDir, "embeddings"))
    val model = models.computeIfAbsent(s"$sfDir#nlist=$nl#m=8#k=16",
      _ => codec.train(emb, nl, iters = 2))
    val dir = indexes.computeIfAbsent(sfDir, _ => {
      val d = graft.WorkDirs.dir(s"${tag}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
      IvfIndex.writeIndex(codec, emb, model, d)
      d
    })
    IvfIndex.searchIndex(codec, spark, dir, emb.filter(col("vec_id") < 5),
      model, k = 10, nprobe = IvfIndex.scaledNprobe(nl),
      rerank = Some(IvfIndex.Rerank(emb, 50)))
  }
}
