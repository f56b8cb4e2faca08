package graft

import graft.operators.IvfIndex
import graft.sources.Tables
import graft.streaming.{DeltaLayout, DeltaSnapshot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DR for the vector service's delta roots: a restored index SERVES
  * (stamp green, answers identical), incremental chains ship only new
  * slices, and chain damage fails the restore loudly instead of
  * restoring a hole. */
class DeltaSnapshotSpec extends AnyFunSuite with SparkTestBase {

  test("index snapshot: restore serves identically; incremental chain ships only new slices; damage is loud") {
    val emb = Tables.load(spark, sf001, "embeddings")
      .select("vec_id", "embedding")
    val m = IvfIndex.train(emb, nlist = 8, iters = 2)
    val base = java.nio.file.Files.createTempDirectory("graft_dsnap").toString
    val idx = s"$base/idx"
    IvfIndex.writeIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") < 400), m, idx)
    IvfIndex.appendToIndex(IvfIndex.FloatCodec, emb.filter(col("vec_id") >= 400), m, idx)
    val q = emb.filter(col("vec_id") < 2)
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank"))).toSet
    val expected = keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, idx, q, m, k = 5, nprobe = 3))

    // quarantined evidence is NOT live data — it must not enter a snapshot
    DeltaLayout.writeMarker(spark,
      s"$idx/delta=b9${DeltaLayout.QuarantineSuffix}/_stub", "x")

    val snap1 = s"$base/snap1"
    val copied1 = DeltaSnapshot.export(spark, idx, snap1)
    assert(copied1.exists(_.contains(IvfIndex.ModelFpFile)),
      "the model stamp must travel with the snapshot")
    assert(!copied1.exists(_.contains(DeltaLayout.QuarantineSuffix)))

    // restore → the stamp holds and the restored index serves identically
    val idx2 = s"$base/restored1"
    DeltaSnapshot.restore(spark, snap1, idx2)
    assert(IvfIndex.layoutFingerprint(spark, idx2).contains(m.fingerprint))
    assert(keyed(IvfIndex.searchIndex(IvfIndex.FloatCodec, spark, idx2, q, m, k = 5, nprobe = 3))
      == expected, "a restored index must serve exactly like the original")

    // incremental: a new slice lands; the second snapshot physically
    // ships ONLY it, but restores completely from its own manifest
    IvfIndex.appendToIndex(IvfIndex.FloatCodec,
      emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 8000L).as("vec_id"), col("embedding")),
      m, idx)
    val snap2 = s"$base/snap2"
    val copied2 = DeltaSnapshot.exportIncremental(spark, idx, snap2, Seq(snap1))
    assert(copied2.nonEmpty && copied2.forall(_.startsWith("delta=b1/")),
      s"chain must ship only the new slice, copied: $copied2")
    val idx3 = s"$base/restored2"
    DeltaSnapshot.restore(spark, snap2, idx3)
    assert(IvfIndex.readIndex(spark, idx3).count()
      == IvfIndex.readIndex(spark, idx).count())
    assert(IvfIndex.layoutFingerprint(spark, idx3).contains(m.fingerprint))

    // chain damage: a holder file the second snapshot inherits vanishes
    // → restore fails loudly, naming the file (never a silent hole)
    val inherited = DeltaSnapshot.manifest(spark, snap2)
      .collectFirst { case (rel, _, holder) if holder == snap1 => rel }.get
    val fs = DeltaLayout.fileSystem(spark, snap1)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$snap1/$inherited"), false))
    val e = intercept[IllegalArgumentException](
      DeltaSnapshot.restore(spark, snap2, s"$base/restored3"))
    assert(e.getMessage.contains("missing from holder"))

    // length drift on a holder file is equally loud
    DeltaLayout.writeMarker(spark, s"$snap1/$inherited", "tampered")
    val e2 = intercept[IllegalArgumentException](
      DeltaSnapshot.restore(spark, snap2, s"$base/restored4"))
    assert(e2.getMessage.contains("length"))
  }

  test("output-root snapshot: served answers survive restore byte-for-byte") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_osnap").toString
    val out = s"$base/out"
    (0 until 3).foreach { i =>
      DeltaLayout.writeSlice(
        Seq((i.toLong, i.toLong)).toDF("query_id", "vec_id"), out, s"delta=b$i")
    }
    DeltaSnapshot.export(spark, out, s"$base/snap")
    DeltaSnapshot.restore(spark, s"$base/snap", s"$base/restored")
    val a = spark.read.parquet(DeltaLayout.liveDirs(spark, out): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = spark.read.parquet(
        DeltaLayout.liveDirs(spark, s"$base/restored"): _*)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b && a.size == 3)
  }
}
