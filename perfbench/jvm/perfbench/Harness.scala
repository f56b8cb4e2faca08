package perfbench

import java.io.File
import java.nio.ByteBuffer
import java.util.concurrent.{Executors, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.BytesBinaryCodec
import graft.model.CellTable
import graft.operators.CopyRow

/** Benchmark client. Reads a plan written by `run.py` (workload, seeded
  * query orders or op sequence, run length, trace flag), drives the engine
  * through its public entry points with one client thread, and writes raw
  * records: one per op with its timings and output digest or cell counts,
  * plus spans when tracing. All checking and statistics happen in Python.
  *
  * Usage: Harness <plan.json> <out.json> */
object Harness {
  private val mapper = new ObjectMapper()

  // epoch milliseconds with sub-ms resolution, on the same clock as the
  // listener events (System.currentTimeMillis)
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
  private def ms(ns: Long): Double = ns / 1e6

  /** Scala values to Java collections for Jackson. */
  private def j(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, j(x)) }
      out
    case s: Iterable[_] => s.map(j).toSeq.asJava
    case a: Array[_] => a.toSeq.map(j).asJava
    case Some(x) => j(x)
    case None => null
    case x => x
  }

  private def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)

  final case class Plan(raw: collection.Map[String, AnyRef]) {
    def str(k: String): String = raw(k).toString
    def num(k: String): Double = raw(k).asInstanceOf[Number].doubleValue
    def int(k: String): Int = num(k).toInt
    def long(k: String): Long = raw(k).asInstanceOf[Number].longValue
    def bool(k: String): Boolean = raw.get(k).exists(_ == java.lang.Boolean.TRUE)
    def list(k: String): Seq[AnyRef] =
      raw.get(k).map(_.asInstanceOf[java.util.List[AnyRef]].asScala.toSeq).getOrElse(Seq.empty)
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan(mapper.readValue(new File(args(0)), classOf[java.util.Map[String, AnyRef]]).asScala)
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = plan.int("cores")
    val work = plan.str("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = obj(
      "info" -> obj(
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "cores" -> cores,
        "base_ts" -> CellTable.BaseTs,
        "process_start_ms" -> processStartMs))
    val client = new Client(spark, plan, processStartMs, out)
    try {
      plan.str("workload") match {
        case "store_ops" => client.storeOps()
        case _ => client.registry()
      }
    } finally {
      out("info").asInstanceOf[mutable.Map[String, Any]] ++= Seq(
        "run_end_ms" -> System.currentTimeMillis(),
        "vm_hwm_kb" -> vmHwmKb())
      mapper.writeValue(new File(args(1)), j(out))
      client.shutdown()
      spark.stop()
    }
    sys.exit(0)
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** 16-byte lineitem row key: big-endian orderkey ‖ big-endian linenumber
    * (`CellTable.compositeKey`). */
  def lineitemKey(orderkey: Long, linenumber: Long): Array[Byte] =
    ByteBuffer.allocate(16).putLong(orderkey).putLong(linenumber).array()

  private def orderkeyPrefix(orderkey: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(orderkey).array()

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  final class Client(
      spark: SparkSession,
      plan: Plan,
      processStartMs: Long,
      out: mutable.LinkedHashMap[String, Any]) {

    private val sc = spark.sparkContext
    private val fixture = plan.str("fixture")
    private val work = plan.str("work")
    private val trace = plan.bool("trace")
    private val opTimeout = plan.num("op_timeout_s").seconds
    private val deadlineMs = processStartMs + (plan.num("deadline_s") * 1000).toLong
    private val tracer = new Tracer
    private val ops = mutable.ArrayBuffer.empty[Any]
    private val spans = mutable.ArrayBuffer.empty[Any]
    private val errors = mutable.ArrayBuffer.empty[String]
    private var timedOut = false
    out ++= Seq("ops" -> ops, "spans" -> spans, "errors" -> errors)

    // one client thread; the caller waits on it with a finite timeout
    private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
    }
    private val ec = ExecutionContext.fromExecutor(pool)

    def shutdown(): Unit = pool.shutdownNow()

    private var opSeq = 0

    /** Runs `body` on the client thread under a job group; a timeout cancels
      * the group and ends the run, since the client thread is then busy. */
    private def runOp[T](body: => T): Either[String, T] = {
      opSeq += 1
      val group = s"perfbench-$opSeq"
      val f = Future {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }(ec)
      try Right(Await.result(f, opTimeout))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          timedOut = true
          Left(s"timeout after $opTimeout")
        case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
    }

    private def pastDeadline(extraMs: Double): Boolean =
      System.currentTimeMillis() + extraMs > deadlineMs

    // ---- tracing -------------------------------------------------------

    private def traceOn(): Unit = {
      tracer.reset()
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }

    private def traceOff(): Unit = {
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
      tracer.reset()
    }

    /** Turns the drained events of op `op` into spans: the op root, the
      * client-timed children in `timed`, per execution its three planning
      * phases and its execution, per job and per stage one span. Stage
      * spans carry the task counts and task intervals of their boundary;
      * the Python side sums them per op. */
    private def emitSpans(op: Int, startNs: Long, endNs: Long,
        timed: Seq[(String, Long, Long)]): Unit = {
      PerfbenchBus.drain(sc, 60000L)
      tracer.synchronized {
        val root = s"$op"
        val execIds = tracer.sqlStart.keySet ++ tracer.qes.map(_.id)
        def span(id: String, parent: String, name: String, s: Double, e: Double,
            extra: (String, Any)*) =
          obj(Seq("id" -> id, "parent" -> parent, "op" -> op, "name" -> name,
            "start" -> s, "end" -> e) ++ extra: _*)
        spans += span(root, null, "op", epochMs(startNs), epochMs(endNs))
        timed.foreach { case (name, s, e) =>
          spans += span(s"$op.$name", root, name, epochMs(s), epochMs(e))
        }
        tracer.qes.foreach { qe =>
          Seq("analysis", "optimization", "planning").foreach { p =>
            qe.phases.get(p).foreach { case (s, e) =>
              spans += span(s"$op.x${qe.id}.$p", root, p, s.toDouble, e.toDouble)
            }
          }
        }
        execIds.foreach { x =>
          for (s <- tracer.sqlStart.get(x); e <- tracer.sqlEnd.get(x))
            spans += span(s"$op.x$x", root, "execution", s.toDouble, e.toDouble)
        }
        val stageJob = mutable.Map.empty[Int, Int]
        tracer.jobs.foreach { case (jid, job) =>
          val parent =
            if (tracer.sqlStart.contains(job.exec) && tracer.sqlEnd.contains(job.exec)) s"$op.x${job.exec}"
            else root
          spans += span(s"$op.j$jid", parent, "job", job.start.toDouble, job.end.toDouble)
          job.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, jid))
        }
        tracer.stages.foreach { case (sid, s) =>
          val parent = stageJob.get(sid).map(jid => s"$op.j$jid").getOrElse(root)
          spans += span(s"$op.s$sid", parent, "stage", s.submit.toDouble, s.complete.toDouble,
            "counts" -> obj(
              "tasks" -> s.tasks, "failed_tasks" -> s.failed, "run_ms" -> s.runMs,
              "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inBytes,
              "input_records" -> s.inRecords, "input_tasks" -> s.inTasks,
              "shuffle_write_bytes" -> s.shuffleWrite, "shuffle_read_bytes" -> s.shuffleRead,
              "spill_bytes" -> s.spill),
            "tasks" -> s.intervals.map { case (a, b) => Seq(a, b) })
        }
      }
    }

    // ---- registry workloads (relational, corpus) -------------------------

    private final case class QueryResult(
        startNs: Long, fnEndNs: Long, endNs: Long, obs: Observation)

    private def runQuery(name: String): QueryResult = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val df = fn(spark, fixture)
      val t1 = System.nanoTime()
      val obs = Observation()
      val (first, rest) = digest(df)
      df.observe(obs, first, rest: _*).write.format("noop").mode("overwrite").save()
      QueryResult(t0, t1, System.nanoTime(), obs)
    }

    /** Order-insensitive digest of a result: row count and summed row
      * hashes over all columns, with two hash functions. */
    private def digest(df: DataFrame): (Column, Seq[Column]) = {
      val all = df.schema.fields.toSeq.map(f => col("`" + f.name.replace("`", "``") + "`"))
      (count(lit(1)).as("n"), Seq(
        sum(hash(all: _*).cast("long")).as("h1"),
        sum(pmod(xxhash64(all: _*), lit(2147483647L))).as("h2")))
    }

    def registry(): Unit = {
      val queries = plan.list("queries").map(_.toString)
      val orders = plan.list("pass_orders").map(
        _.asInstanceOf[java.util.List[AnyRef]].asScala.map(_.asInstanceOf[Number].intValue).toSeq)
      // set-up: one untimed call of every query function, which runs its
      // eager index, store and model builds, then one untimed execution of
      // every query, which fills the codegen and JIT caches a long-lived
      // session keeps
      val warm = mutable.ArrayBuffer.empty[Any]
      queries.foreach { q =>
        val t0 = System.nanoTime()
        val r = runOp(SparkEntry.queries(q)(spark, fixture))
        warm += obj("q" -> q, "fn_ms" -> ms(System.nanoTime() - t0), "err" -> r.left.toOption)
        r.left.foreach(e => errors += s"warm-up $q: $e")
      }
      queries.foreach { q =>
        if (!timedOut) runOp(runQuery(q)).left.foreach(e => errors += s"warm-up run $q: $e")
      }
      out("warm") = warm
      out("setup_end_ms") = System.currentTimeMillis()
      // one timed pass per planned order; the deadline only guards a host
      // far slower than the one the run length was sized on
      var pass = 0
      var lastPassMs = 0.0
      while (pass < orders.size && !timedOut && !pastDeadline(lastPassMs)) {
        val p0 = System.nanoTime()
        orders(pass).foreach { qi =>
          val q = queries(qi)
          // every query alternates between traced and untraced passes
          val traced = trace && (qi + pass) % 2 == 1
          if (!timedOut) {
            if (traced) traceOn()
            val r = runOp(runQuery(q))
            val rec = obj("q" -> q, "pass" -> pass, "unit" -> pass, "traced" -> traced)
            r match {
              case Right(res) =>
                rec ++= Seq("start_ms" -> epochMs(res.startNs),
                  "ms" -> ms(res.endNs - res.startNs), "fn_ms" -> ms(res.fnEndNs - res.startNs))
                try {
                  val row = Await.result(res.obs.future, opTimeout)
                  rec ++= Seq("rows" -> row.getAs[Long]("n"),
                    "h1" -> Option(row.getAs[Any]("h1")).map(_.toString).getOrElse("0"),
                    "h2" -> Option(row.getAs[Any]("h2")).map(_.toString).getOrElse("0"))
                } catch { case NonFatal(e) => rec("err") = s"digest: $e" }
                if (traced) emitSpans(ops.size, res.startNs, res.endNs,
                  Seq(("fn", res.startNs, res.fnEndNs)))
              case Left(e) => rec("err") = e
            }
            if (traced) traceOff()
            ops += rec
          }
        }
        lastPassMs = ms(System.nanoTime() - p0)
        pass += 1
      }
    }

    // ---- store_ops ----------------------------------------------------------

    /** `keys`: for a GET the distinct row keys returned, for a scan the
      * smallest and largest (hex), for a copy none. */
    private final case class StoreResult(
        startNs: Long, fnEndNs: Long, endNs: Long, cells: Long, ts: Seq[Long],
        keys: Seq[String], write: Option[(Long, Long)] = None)

    private def rowKeys(rows: Array[Row]): Seq[String] =
      rows.map(r => hex(r.getAs[Array[Byte]]("rowKey"))).distinct.sorted.toSeq

    private def cellstore(path: String): DataFrame = spark.read.format("cellstore").load(path)

    private def get(store: String, key: Array[Byte]): StoreResult = {
      val t0 = System.nanoTime()
      val df = cellstore(store).filter(col("rowKey") === lit(key))
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      StoreResult(t0, t1, t2, rows.length.toLong,
        rows.map(_.getAs[Long]("ts")).distinct.sorted.toSeq, rowKeys(rows))
    }

    private def scan(store: String, lo: Long, hi: Long): StoreResult = {
      val t0 = System.nanoTime()
      val df = cellstore(store).filter(
        col("rowKey") >= lit(orderkeyPrefix(lo)) && col("rowKey") < lit(orderkeyPrefix(hi)))
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val keys = rowKeys(rows)
      StoreResult(t0, t1, t2, rows.length.toLong, Seq.empty, keys.headOption.toSeq ++ keys.lastOption)
    }

    private def copy(src: String, dst: String, key: Array[Byte], ts: Long): StoreResult = {
      val t0 = System.nanoTime()
      val cells = cellstore(src)
      val t1 = System.nanoTime()
      var write = (0L, 0L)
      val n = CopyRow.run(cells, BytesBinaryCodec.encode(key), overrideTs = true, tsToUse = ts) { df =>
        val w0 = System.nanoTime()
        df.write.format("cellstore").mode("append").save(dst)
        write = (w0, System.nanoTime())
      }
      StoreResult(t0, t1, System.nanoTime(), n, Seq.empty, Seq.empty, Some(write))
    }

    def storeOps(): Unit = {
      val src = s"$work/lineitem_store"
      val dst = s"$work/copy_store"
      // set-up: the fixture's key multiplicities, the 32-region store
      // written by the production writer, and one untimed op of each kind
      val keys = spark.read.parquet(s"$fixture/lineitem.parquet")
        .groupBy("l_orderkey", "l_linenumber").count()
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
        .sortBy(k => (k._1, k._2))
      out("keys") = keys.map { case (o, l, m) => Seq(o, l, m) }
      CellTable.fromTable(spark, fixture, "lineitem")
        .write.format("cellstore").option("numRegions", "32").mode("overwrite").save(src)
      val warmDst = s"$work/warm_copy_store"
      val (o0, l0, _) = keys.head
      Seq[() => StoreResult](
        () => get(src, lineitemKey(o0, l0)),
        () => get(src, lineitemKey(o0, 99)),
        () => scan(src, o0, o0 + 50),
        () => copy(src, warmDst, lineitemKey(o0, l0), 1L),
        () => get(warmDst, lineitemKey(o0, l0))
      ).foreach(f => runOp(f()).left.foreach(e => errors += s"warm-up: $e"))
      out("setup_end_ms") = System.currentTimeMillis()

      val orderkeys = keys.map(_._1)
      val (minOk, maxOk) = (orderkeys.min, orderkeys.max)
      val copied = mutable.ArrayBuffer.empty[Array[Byte]]
      val copyTsBase = plan.long("copy_ts_base")
      val opPlan = plan.list("ops").map(o => Plan(o.asInstanceOf[java.util.Map[String, AnyRef]].asScala))
      val block = plan.int("block")
      var i = 0
      while (i < opPlan.size && !timedOut && !pastDeadline(0)) {
        val p = opPlan(i)
        val kind = p.str("kind")
        val sub = p.str("sub")
        val draw = p.long("draw")
        val traced = trace && i % 2 == 1
        val rec = obj("i" -> i, "unit" -> i / block, "kind" -> kind, "sub" -> sub, "traced" -> traced)
        val (o, l, _) = keys((draw % keys.length).toInt)
        val op: () => StoreResult = (kind, sub) match {
          case ("get", "readback") if copied.nonEmpty =>
            val k = copied((draw % copied.size).toInt)
            rec ++= Seq("store" -> "dst", "key" -> hex(k))
            () => get(dst, k)
          case ("get", "absent") =>
            // linenumber 0 sorts between (o - 1, max) and (o, 1): inside a
            // region's key range, so only the bloom sidecar can skip it
            rec ++= Seq("store" -> "src", "key" -> hex(lineitemKey(o, 0)))
            () => get(src, lineitemKey(o, 0))
          case ("get", _) =>
            rec ++= Seq("store" -> "src", "key" -> hex(lineitemKey(o, l)))
            () => get(src, lineitemKey(o, l))
          case ("scan", _) =>
            val lo = minOk + draw % math.max(1L, maxOk - minOk - 48)
            rec ++= Seq("store" -> "src", "lo" -> lo, "hi" -> (lo + 50))
            () => scan(src, lo, lo + 50)
          case ("copy", _) =>
            val k = lineitemKey(o, l)
            val ts = copyTsBase + i
            rec ++= Seq("store" -> "src", "key" -> hex(k), "copy_ts" -> ts)
            () => { val r = copy(src, dst, k, ts); copied += k; r }
        }
        if (traced) traceOn()
        runOp(op()) match {
          case Right(r) =>
            rec ++= Seq("start_ms" -> epochMs(r.startNs), "ms" -> ms(r.endNs - r.startNs),
              "fn_ms" -> ms(r.fnEndNs - r.startNs), "cells" -> r.cells, "ts" -> r.ts, "keys" -> r.keys)
            r.write.foreach { case (w0, w1) => rec("write_ms") = ms(w1 - w0) }
            if (traced) emitSpans(ops.size, r.startNs, r.endNs,
              Seq(("fn", r.startNs, r.fnEndNs)) ++ r.write.map { case (a, b) => ("write", a, b) })
          case Left(e) => rec("err") = e
        }
        if (traced) traceOff()
        ops += rec
        i += 1
      }
      out("info").asInstanceOf[mutable.Map[String, Any]]("dst_files") =
        Option(new File(dst).listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
  }
}
