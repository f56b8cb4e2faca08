package graft.cli

import graft.operators.{IvfCodec, IvfIndex, ModelStore}
import graft.streaming.{DeltaLayout, StreamAnnServe, VectorIngest}
import graft.streaming.VectorService
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Vector-service operations CLI — the lifecycle the library verifies
 * (q_vector_service / q_service_policy) made OPERABLE from flags (the
 * reference's D2 tool-bootstrap shape, `CopyRow.java:59-98`'s flag
 * discipline, applied to the vector tier): build the index, stream new
 * vectors in, serve query batches, read the drift/policy status,
 * rebuild, fold the output root.
 *
 * `--layout float|pq|bq` selects the index kind (round 18: before this
 * only the float layout could cross a process boundary — the composed
 * tiers had rebuild + coordinatedSwap but no persisted model, so they
 * were inoperable from flags): every layout is one [[IvfCodec]], whose
 * model persists next to the index (float-bit exact, so the fingerprint
 * survives the round-trip), separate CLI invocations re-load the
 * artifact, and the layout stamp rejects a stale one loudly — the
 * coordination contract across PROCESSES, enforced the same way it is
 * across streams. A `layout.kind` marker in the model dir additionally
 * rejects driving an artifact with the wrong --layout before any data
 * is touched. The composed layouts store CODES only, so `serve` and
 * `rebuild` take `--corpus` (the float table the exact rerank / retrain
 * reads — at 100 TB, the table the index was built from).
 *
 * `ingest` and `serve` drain with AvailableNow (one batch sweep per
 * invocation; checkpoints make re-invocations resume, offset slice
 * addressing makes replays no-ops and fresh checkpoints collision-free).
 *
 * Exit contract: `status` exits 0 whether or not the policy fires —
 * the REBUILD=true|false line is the signal (the IndexDoctorMain
 * convention: automation gates on the line, not the exit code).
 */
object VectorServiceMain {

  val Usage: String =
    """usage: graft.cli.VectorServiceMain --action build|ingest|serve|status|rebuild|compact|snapshot|restore
      |         --indexDir <dir> --modelDir <dir>
      |         [--layout float|pq|bq]   index kind (default float)
      |         [--input <parquet dir>]  vectors (build/ingest) or queries (serve)
      |         [--corpus <parquet dir>] float vectors for rerank/retrain (pq/bq serve+rebuild)
      |         [--out <dir>]            served-answer root (serve/status/compact/snapshot/restore)
      |         [--checkpoint <dir>]     stream checkpoint (ingest/serve)
      |         [--nlist <n>] [--iters <n>] [--recallTarget <0..1>]  build/rebuild
      |         [--k <n>] [--nprobe <n>]             serve
      |         [--maxSkew <ratio>] [--targetCell <n>]  status
      |         [--maxSlices <n>]        status/compact (output-root fold policy)
      |         [--snapshotDir <dir>] [--prior <dir,dir,...>]  snapshot/restore""".stripMargin

  val Known = Set("action", "indexDir", "modelDir", "layout", "input",
    "corpus", "out", "checkpoint", "nlist", "iters", "k", "nprobe",
    "maxSkew", "targetCell", "recallTarget", "maxSlices", "snapshotDir",
    "prior")

  /** Marker in the model dir naming the artifact's layout kind — a
    * `--layout pq` run against a float artifact dies at the flag parse
    * tier, before any index data is touched. */
  private val KindFile = "layout.kind"

  /** Take the bounded autotuned decision off a MEASURED curve at the
    * per-index recall target and ship it WITH the model artifact: a
    * later `serve` process defaults to the measured probe instead of the
    * heuristic (the "no unmeasured serving probe" doctrine, across
    * processes — uniform over layout kinds since round 18). Paid once at
    * build/rebuild. */
  private def measureAndSaveServing(spark: SparkSession, modelDir: String,
      nlist: Int, targetMicro: Long)(curve: => DataFrame): Int = {
    val np = IvfIndex.servingDecision(curve, nlist, targetMicro)
    ModelStore.saveServingProbe(spark, np, targetMicro, modelDir)
    np
  }

  def run(spark: SparkSession, args: Array[String]): Map[String, String] = {
    val p = Args.parse(args, Known, Usage)
    val layout = p.get("layout").getOrElse("float")
    runWith(spark, p, IvfCodec.byName.getOrElse(layout,
      Args.die(s"unknown layout: $layout", Usage)))
  }

  /** Every action over the one `--layout` codec: the index lifecycle is
    * written once in [[IvfIndex]], so only the codec differs. */
  private def runWith[M](spark: SparkSession, p: Args.Parsed,
      codec: IvfCodec[M]): Map[String, String] = {
    val action = p.required("action", Usage)
    val indexDir = p.required("indexDir", Usage)
    val modelDir = p.required("modelDir", Usage)
    val layout = codec.name
    def input = p.required("input", Usage)
    def checkpoint = p.required("checkpoint", Usage)
    // --corpus is WITNESS-BOUND to the artifact (ModelStore): a wrong
    // float table dies here, before any rerank/retrain reads it
    def corpusDf = {
      val df = spark.read.parquet(p.required("corpus", Usage))
        .select("vec_id", "embedding")
      ModelStore.requireCorpusWitness(spark, df, modelDir)
      df
    }
    def targetMicro = math.floor(
      p.get("recallTarget").map(_.toDouble).getOrElse(0.9) * 1000000.0).toLong
    def itersArg = p.long("iters", 3L).toInt

    // the artifact knows its kind; a mismatched --layout dies before any
    // index data is touched (absent marker = pre-round-18 float artifact)
    def requireKind(): Unit =
      DeltaLayout.readMarker(spark, s"$modelDir/$KindFile").foreach { k =>
        if (k != layout) Args.die(
          s"model artifact at $modelDir is layout '$k', not '$layout' — " +
            "pass the matching --layout", Usage)
      }

    val kvs: Seq[(String, String)] = action match {
      case "build" =>
        val corpus = spark.read.parquet(input).select("vec_id", "embedding")
        val n = corpus.count()
        val nlist = p.long("nlist", IvfIndex.scaledNlist(n).toLong).toInt
        val m = codec.train(corpus, nlist, itersArg)
        IvfIndex.writeIndex(codec, corpus, m, indexDir)
        codec.save(spark, m, modelDir)
        val np = measureAndSaveServing(spark, modelDir, nlist, targetMicro)(
          IvfIndex.probeCurve(codec, spark, indexDir, corpus,
            corpus.orderBy("vec_id").limit(5), m, 20))
        DeltaLayout.writeMarker(spark, s"$modelDir/$KindFile", layout)
        // bind future --corpus flags to THIS build's float rows
        ModelStore.saveCorpusWitness(spark, corpus, modelDir)
        Seq("N_VECTORS" -> n.toString, "NLIST" -> nlist.toString,
          "LAYOUT" -> layout,
          "SERVING_NPROBE" -> np.toString,
          "FINGERPRINT" -> codec.fingerprint(m))

      case "ingest" =>
        requireKind()
        val delta = spark.readStream
          .schema(spark.read.parquet(input).schema).parquet(input)
        val q = VectorIngest.start(delta, codec, codec.load(spark, modelDir),
          indexDir, checkpoint, trigger = Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        val total = IvfIndex.cellStats(spark, indexDir)
          .agg(sum(col("n_vectors"))).head().getLong(0)
        Seq("N_TOTAL" -> total.toString)

      case "serve" =>
        requireKind()
        val outDir = p.required("out", Usage)
        val queries = spark.readStream
          .schema(spark.read.parquet(input).schema).parquet(input)
        val k = p.long("k", 10L).toInt
        // probe precedence: explicit flag > the artifact's MEASURED
        // decision (shipped by build/rebuild) > the √nlist heuristic
        // (legacy artifacts without a serving row)
        val m = codec.load(spark, modelDir)
        val nlist = codec.coarse(m).nlist
        val np = p.get("nprobe").map(_.toInt)
          .orElse(ModelStore.loadServingProbe(spark, modelDir))
          .getOrElse(IvfIndex.scaledNprobe(nlist))
        // code layouts rerank from --corpus at the probed-mass pool
        lazy val corpus = corpusDf
        val q = StreamAnnServe.start(queries, codec, m, indexDir, outDir,
          checkpoint, k = k, nprobe = np,
          rerank = IvfIndex.rerankFor(codec, corpus, corpus.count(), k,
            nlist, np),
          trigger = Trigger.AvailableNow())
        try q.awaitTermination() finally q.stop()
        Seq("N_ANSWERS" ->
          StreamAnnServe.results(spark, outDir).count().toString)

      case "status" =>
        // footer metadata only — no data pages, no Spark job (cellStats);
        // layout-agnostic: the code layouts share the cell slice rules
        val counts = IvfIndex.cellStats(spark, indexDir)
          .withColumnRenamed("n_vectors", "n")
        val maxSkewMicro = math.floor(
          p.get("maxSkew").map(_.toDouble).getOrElse(2.0) * 1000000.0).toLong
        val r = VectorService.rebuildPolicyFromCounts(counts, indexDir,
          maxSkewMicro, p.long("targetCell", 256L)).head()
        // quarantine + fold policy ride in the same status read: the
        // index root's preserved race evidence, and — when --out names a
        // served-answer root — whether its slice listing calls for a fold
        val quarantined = DeltaLayout.quarantined(spark, indexDir)
        val outPolicy = p.get("out").map(out =>
          DeltaLayout.compactPolicy(spark, out,
            p.long("maxSlices", DeltaLayout.DefaultMaxSlices)))
        Seq(
          "N_CELLS" -> r.getAs[Long]("n_cells").toString,
          "N_TOTAL" -> r.getAs[Long]("n_total").toString,
          "MEAN_MICRO" -> r.getAs[Long]("mean_micro").toString,
          "SKEW_MICRO" -> r.getAs[Long]("skew_micro").toString,
          "SKEW_EXCEEDED" -> r.getAs[Boolean]("skew_exceeded").toString,
          "OCCUPANCY_EXCEEDED" ->
            r.getAs[Boolean]("occupancy_exceeded").toString,
          "REBUILD" -> r.getAs[Boolean]("rebuild").toString,
          "NEXT_NLIST" -> r.getAs[Long]("next_nlist").toString,
          "QUARANTINED" -> quarantined.size.toString) ++
          (if (quarantined.isEmpty) Seq.empty
           else Seq("QUARANTINED_DIRS" -> quarantined.mkString(","))) ++
          outPolicy.toSeq.flatMap(d => Seq(
            "OUT_SLICES" -> d.nBatchSlices.toString,
            "OUT_QUARANTINED" -> d.nQuarantined.toString,
            "OUT_COMPACT" -> d.compact.toString))

      case "rebuild" =>
        requireKind()
        val total = IvfIndex.cellStats(spark, indexDir)
          .agg(sum(col("n_vectors"))).head().getLong(0)
        val nlist = p.long("nlist", IvfIndex.scaledNlist(total).toLong).toInt
        // a code layout carries no floats: it retrains from --corpus (the
        // table the index was built from), the float layout from itself
        val corpus = if (codec.storesVectors) None else Some(corpusDf)
        val m2 = IvfIndex.rebuildIndex(codec, spark, indexDir, nlist,
          itersArg, corpus)
        codec.save(spark, m2, modelDir)
        corpus.foreach(ModelStore.saveCorpusWitness(spark, _, modelDir))
        // the layout changed → the old measured decision is stale;
        // re-measure over the rebuilt layout and re-ship it
        val contents = corpus.getOrElse(
          IvfIndex.readIndex(spark, indexDir).select("vec_id", "embedding"))
        val np = measureAndSaveServing(spark, modelDir, nlist, targetMicro)(
          IvfIndex.probeCurve(codec, spark, indexDir, contents,
            contents.orderBy("vec_id").limit(5), m2, 20))
        DeltaLayout.writeMarker(spark, s"$modelDir/$KindFile", layout)
        Seq("NLIST" -> nlist.toString,
          "LAYOUT" -> layout,
          "SERVING_NPROBE" -> np.toString,
          "FINGERPRINT" -> codec.fingerprint(m2),
          "REBUILT" -> "true")

      case "compact" =>
        // fold the served-answer root only when the policy fires — the
        // rebuildPolicy/maintainIfNeeded shape applied to output folds
        val out = p.required("out", Usage)
        val maxSlices = p.long("maxSlices", DeltaLayout.DefaultMaxSlices)
        val before = DeltaLayout.compactPolicy(spark, out, maxSlices)
        val folded = StreamAnnServe.compactIfNeeded(spark, out, maxSlices)
        val after = DeltaLayout.compactPolicy(spark, out, maxSlices)
        Seq(
          "N_SLICES_BEFORE" -> before.nBatchSlices.toString,
          "MAX_SLICES" -> maxSlices.toString,
          "COMPACTED" -> folded.toString,
          "N_SLICES_AFTER" -> after.nBatchSlices.toString)

      case "snapshot" =>
        // DR export of the index root (or, with --out, a served-answer
        // root): incremental against --prior snapshot chains
        val dest = p.required("snapshotDir", Usage)
        val root = p.get("out").getOrElse(indexDir)
        val prior = p.get("prior").toSeq
          .flatMap(_.split(",")).filter(_.nonEmpty)
        val copied = graft.streaming.DeltaSnapshot
          .exportIncremental(spark, root, dest, prior)
        Seq("SNAPSHOT_ROOT" -> root,
          "N_FILES_COPIED" -> copied.size.toString,
          "N_FILES_TOTAL" ->
            graft.streaming.DeltaSnapshot.manifest(spark, dest).size.toString)

      case "restore" =>
        // materialize a working root from one snapshot's manifest; the
        // restored index serves immediately (the _model.fp stamp travels)
        val snap = p.required("snapshotDir", Usage)
        val dest = p.get("out").getOrElse(indexDir)
        val files = graft.streaming.DeltaSnapshot.restore(spark, snap, dest)
        Seq("RESTORED_ROOT" -> dest,
          "N_FILES" -> files.size.toString)

      case other => Args.die(s"unknown action: $other", Usage)
    }
    kvs.foreach { case (k, v) => println(s"$k=$v") }
    kvs.toMap
  }

  def main(args: Array[String]): Unit = Args.runMain {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      // UTC pin: the engine-wide invariant every entry point shares
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try { run(spark, args); () } finally spark.stop()
  }
}
