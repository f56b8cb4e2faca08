package graft.cli

import graft.operators.IvfIndex
import org.apache.spark.sql.SparkSession

/**
 * Index health/repair CLI — the reference-toolkit spirit (a ~490-line
 * HBase TROUBLESHOOTING kit) applied to the engine's ANN tier: report an
 * IVF index's cell-balance drift from parquet footers alone (no data
 * pages, no Spark job — the hbck device), and optionally repair it with
 * the crash-safe sibling-rename rebuild.
 *
 * `--report` prints one `key=value` line per statistic like the
 * reference's counter output (`CorruptRowsMR` README result schema);
 * `--rebuild true` retrains on the index's CURRENT contents and swaps
 * the new layout in atomically. Exit contract: report-only runs exit 0
 * whether or not drift is flagged — the DRIFTED=true|false line is the
 * signal; automation gates on it, not on exit codes, so a cron'd report
 * never pages twice for one condition.
 */
object IndexDoctorMain {

  val Usage: String =
    """usage: graft.cli.IndexDoctorMain --indexDir <dir>
      |         [--maxSkew <ratio>] [--rebuild true|false]
      |         [--nlist <n>] [--iters <n>]""".stripMargin

  val Known = Set("indexDir", "maxSkew", "rebuild", "nlist", "iters")

  final case class Report(
      nCells: Long, minVectors: Long, maxVectors: Long,
      skew: Double, drifted: Boolean, rebuilt: Boolean,
      quarantined: Seq[String] = Nil)

  def run(spark: SparkSession, args: Array[String]): Report = {
    val p = Args.parse(args, Known, Usage)
    val indexDir = p.required("indexDir", Usage)
    val maxSkew = p.get("maxSkew").map(_.toDouble).getOrElse(2.0)
    val rebuild = p.bool("rebuild", default = false)

    val r = IvfIndex.driftReport(spark, indexDir, maxSkew).head()
    val drifted = r.getAs[Boolean]("drifted")
    val nCells = r.getAs[Long]("n_cells")
    if (rebuild) {
      val nlist = p.long("nlist", default = nCells).toInt
      IvfIndex.rebuildIndex(IvfIndex.FloatCodec, spark, indexDir, nlist,
        iters = p.long("iters", default = 3L).toInt)
    }
    // quarantined slices are preserved race evidence (refuse-GC renamed
    // them out of the liveness/GC rules) — the doctor is where an
    // operator looks first, so it reports them for re-ingest
    val quarantined = graft.streaming.DeltaLayout.quarantined(spark, indexDir)
    val out = Report(
      nCells, r.getAs[Long]("min_vectors"), r.getAs[Long]("max_vectors"),
      r.getAs[Double]("skew"), drifted, rebuilt = rebuild,
      quarantined = quarantined)
    println(s"N_CELLS=${out.nCells}")
    println(s"MIN_VECTORS=${out.minVectors}")
    println(s"MAX_VECTORS=${out.maxVectors}")
    println(s"SKEW=${out.skew}")
    println(s"DRIFTED=${out.drifted}")
    println(s"REBUILT=${out.rebuilt}")
    println(s"QUARANTINED=${out.quarantined.size}")
    out.quarantined.foreach(d => println(s"QUARANTINED_DIR=$d"))
    out
  }

  def main(args: Array[String]): Unit = Args.runMain {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      // UTC pin keeps the engine-wide invariant Tables.normalizeEventTs
      // relies on, uniform across every entry point (Verify/Bench/
      // CorpusCleanMain already pin it) — a future events-consuming CLI
      // copied from this template must not be host-timezone-dependent
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try run(spark, args) finally spark.stop()
  }
}
