package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * IVF × BQ composed ANN — cell pruning over 1-bit sign codes, the way
 * production binary-quantized vector stores actually deploy BQ (probe a
 * few cells, Hamming-rank the 8 B codes inside them, exact-rerank an
 * oversampled pool): [[IvfIndex]] prunes WHICH codes are read (a probe
 * opens nprobe/nlist of the cell directories — dynamic partition
 * pruning, same layout discipline as [[IvfPqIndex]]), [[BqIndex]]
 * compresses WHAT is read (one BIGINT per vector, one XOR + POPCNT per
 * pair — the cheapest first pass of the whole ladder, 4× lighter than
 * PQ codes at m=8/k=16).
 *
 * The composed tier combines the two cheapest mechanisms on the board:
 * at 100 TB a query reads ~8 B · n · nprobe/nlist of code bytes plus r
 * float vectors for the rerank — against flat BQ's full 8 B/vector scan
 * and the float index's 256 B/vector probe.
 *
 * Model state is the COARSE quantizer alone — BQ's sign encode is
 * training-free ([[BqIndex.codeColumn]]: invariant under L2
 * normalization's positive scaling), so the layout stamp derives from
 * the coarse centroids plus a scheme tag, and the code half of the
 * oracle replays as fully literal SQL.
 */
object IvfBqIndex {

  /** The bq code layout: each cell row is (vec_id, cell, code) — 8 B of
    * sign bits per vector; the first pass is cell-pruned Hamming
    * similarity `dim − bit_count(xor)` (exact integer — the cross-engine
    * tie rule is just (ham desc, vec_id asc)). The model is the coarse
    * quantizer alone: the sign encode is training-free. */
  object Codec extends IvfCodec[IvfIndex.Model] {
    val name = "bq"
    val storesVectors = false
    def coarse(m: IvfIndex.Model): IvfIndex.Model = m

    /** Layout identity: the coarse centroids determine the cells, the
      * "bq" tag separates this CODE layout from the same model's float
      * layout so a float-index reader never passes the stamp check
      * against a code layout. */
    def fingerprint(m: IvfIndex.Model): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update("bq:".getBytes("UTF-8"))
      md.update(m.fingerprint.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }

    def train(corpus: DataFrame, nlist: Int, iters: Int,
        stratifiedSeeds: Boolean): IvfIndex.Model =
      IvfIndex.train(corpus, nlist, iters, stratifiedSeeds)

    def encode(corpus: DataFrame, m: IvfIndex.Model): DataFrame =
      IvfIndex.assign(corpus, m)
        .select(col("vec_id"), col("cell"),
          BqIndex.codeColumn(col("embedding")).as("code"))

    /** Sign code + probed cells, each in its OWN projection (the HOF
      * re-eval trap — see PqIndex.encode). */
    def probe(queries: DataFrame, m: IvfIndex.Model, nprobe: Int): DataFrame =
      queries
        .select(col("vec_id").as("query_id"),
          BqIndex.codeColumn(col("embedding")).as("qcode"),
          IvfIndex.probeCellsColumn(m, col("embedding"), nprobe).as("_pc"))
        .select(col("query_id"), col("qcode"), explode(col("_pc")).as("probe"))
        .select(col("query_id"), col("qcode"), col("probe.cell").as("cell"))

    val scoreName = "ham"
    def score(m: IvfIndex.Model): Column =
      BqIndex.hammingSim(col("code"), col("qcode"))

    /** Saved under its OWN subdir so a float artifact and a code artifact
      * can never be confused. */
    def save(spark: SparkSession, m: IvfIndex.Model, dir: String): Unit =
      ModelStore.saveCentroids(spark, m.centroids, s"$dir/ivfbq")
    def load(spark: SparkSession, dir: String): IvfIndex.Model =
      IvfIndex.Model(ModelStore.loadCentroids(spark, s"$dir/ivfbq"))
  }

  /** Built code layouts memoized per corpus (write once, search many). */
  private val indexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Query-pack adapter: the SHARED pack coarse model (one session model
    * — the cachedModel contract holds for the oracle generators), code
    * layout persisted once, first 5 vectors, k = 10, heuristic probe
    * (the tier ladder's standard), probed-mass rescore pool. */
  def ivfbqQuery(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val coarse = IvfIndex.packModel(spark, sfDir)
    val dir = indexCache.computeIfAbsent(sfDir, _ => {
      val d = graft.WorkDirs.dir(s"ivfbq_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}")
      IvfIndex.writeIndex(Codec, emb, coarse, d)
      d
    })
    val nprobe = IvfIndex.scaledNprobe(coarse.nlist)
    val r = IvfIndex.scaledProbedPool(
      graft.sources.Tables.rowCount(spark, sfDir, "embeddings"),
      coarse.nlist, nprobe)
    IvfIndex.searchIndex(Codec, spark, dir, emb.filter(col("vec_id") < 5),
      coarse, k = 10, nprobe = nprobe,
      rerank = Some(IvfIndex.Rerank(emb, r)))
  }
}
