package dwbench

import java.io.File
import java.lang.management.ManagementFactory
import java.time.LocalDateTime
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.DwbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftConf, Pipeline, SparkEntry, SynthGen}

/** One benchmark run in one JVM. `run.py` launches it, then turns the
  * artifact it writes into the metrics line. Flags:
  *
  *   --workload etl_warehouse|graph_heavy
  *   --seconds  passes start while this much of the loop has not elapsed
  *   --trace    0 or 1 (1 traces the odd passes)
  *   --work     scratch directory this run owns
  *   --out      artifact path
  *   --cores    local[cores]
  *   --scale    input size as a multiple of the sf0.1 row counts
  *   --setups   set-up repetitions (setup_s is their median)
  *   --ops      operation list (`name<TAB>layer<TAB>expected fingerprint`)
  *   --cutoff   ETL day-0 cutoff as a fraction of each source's time range
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = new File(a("work")).getCanonicalPath
    val cores = a("cores").toInt
    val t0 = System.nanoTime()
    val spark = GraftConf.applyBase(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val run = new Run(spark, workload, work, cores, a("scale").toDouble,
      a("setups").toInt, a("seconds").toDouble, a("trace") == "1",
      a.get("ops").map(readOps).getOrElse(Nil), a.get("cutoff").map(_.toDouble))
    val json = try run.go(sessionS) finally {
      val t = System.nanoTime(); spark.stop(); log(f"spark.stop: ${secs(t)}%.2f s")
    }
    val w = new java.io.PrintWriter(new File(a("out")), "UTF-8")
    try w.print(json) finally w.close()
  }

  final case class Op(name: String, layer: String, expected: String)

  def readOps(path: String): Seq[Op] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(n, layer, fp) = l.split("\t", -1)
      Op(n, layer, fp)
    }.toSeq

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  def log(s: String): Unit = System.err.println(s"[dwbench] $s")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Heap in use right after each collection, summed over heap pools;
  * the peak since the last [[reset]]. */
final class HeapWatch extends NotificationListener {
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  def reset(): Unit = synchronized { peak = 0L }
  def peakMb: Double = synchronized { peak / 1048576.0 }
  def close(): Unit = emitters.foreach(e => try e.removeNotificationListener(this) catch {
    case NonFatal(_) => ()
  })
}

final class Run(spark: SparkSession, workload: String, work: String, cores: Int,
                scale: Double, setups: Int, seconds: Double, traced: Boolean,
                ops: Seq[Main.Op], cutoff: Option[Double]) {
  import Main._

  private val sc = spark.sparkContext
  private val runT0 = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[String]
  private var spanSeq = 0

  private def rel(ms: Long): Double = (ms - runT0) / 1000.0

  /** Record a span (times in epoch ms) and return its id. */
  private def span(parent: String, name: String, kind: String, t0: Long, t1: Long,
                   extra: Seq[(String, String)] = Nil): String = {
    spanSeq += 1
    val id = s"s$spanSeq"
    spans += obj(Seq("id" -> q(id), "parent" -> (if (parent == null) "null" else q(parent)),
      "name" -> q(name), "kind" -> q(kind), "t0" -> num(rel(t0)), "t1" -> num(rel(t1))) ++ extra)
    id
  }

  // ---------------------------------------------------------------- inputs

  private def m(base: Long): Long = math.max(1L, (base * scale).toLong)

  private def tables: Seq[(String, DataFrame)] = {
    val nCust = m(15000); val nPart = m(20000); val nSupp = m(1000)
    val all = Seq(
      "customer" -> SynthGen.customer(spark, nCust),
      "part" -> SynthGen.part(spark, nPart),
      "supplier" -> SynthGen.supplier(spark, nSupp),
      "orders" -> SynthGen.orders(spark, m(150000), nCust),
      "lineitem" -> SynthGen.lineitem(spark, m(600000), nPart, nSupp),
      "events" -> SynthGen.events(spark, m(100000), m(1500)),
      "region" -> SynthGen.region(spark),
      "nation" -> SynthGen.nation(spark),
      "documents" -> SynthGen.documents(spark, m(5000)),
      "embeddings" -> SynthGen.embeddings(spark, m(2000)))
    if (workload == "etl_warehouse") all.take(6) else all
  }

  private def generate(dir: String): Unit =
    tables.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n.parquet") }

  /** Day-0 copy of the ETL sources: events up to the events cutoff,
    * orders and their lines whose edit time (the fact loader's
    * `greatest(l_shipdate, o_orderdate)`) is up to the fact cutoff. */
  private def deriveDay0(full: String, day0: String, frac: Double): (LocalDateTime, LocalDateTime) = {
    def at(lo: LocalDateTime, hi: LocalDateTime) = {
      val span = java.time.Duration.between(lo, hi).getSeconds
      lo.plusSeconds((span * frac).toLong)
    }
    def read(n: String) = spark.read.parquet(s"$full/$n.parquet")
    val ev = read("events")
    val er = ev.agg(min("ts"), max("ts")).first()
    val evCut = at(er.getAs[LocalDateTime](0), er.getAs[LocalDateTime](1))
    val edit = read("lineitem").join(read("orders"), col("l_orderkey") === col("o_orderkey"))
      .select(greatest(col("l_shipdate"), col("o_orderdate")).as("t"))
    val fr = edit.agg(min("t"), max("t")).first()
    val factCut = at(fr.getAs[LocalDateTime](0), fr.getAs[LocalDateTime](1))
    ev.filter(col("ts") <= lit(evCut)).write.parquet(s"$day0/events.parquet")
    val orders = read("orders").filter(col("o_orderdate") <= lit(factCut))
    orders.write.parquet(s"$day0/orders.parquet")
    read("lineitem").join(orders.select(col("o_orderkey").as("__k"), col("o_orderdate").as("__d")),
        col("l_orderkey") === col("__k"))
      .filter(greatest(col("l_shipdate"), col("__d")) <= lit(factCut))
      .drop("__k", "__d")
      .write.parquet(s"$day0/lineitem.parquet")
    Seq("customer", "part", "supplier").foreach(n =>
      read(n).write.parquet(s"$day0/$n.parquet"))
    (evCut, factCut)
  }

  /** One set-up: fresh inputs and, for the ETL, the day-0 split. */
  private def setupOnce(i: Int): (String, Option[(LocalDateTime, LocalDateTime)]) = {
    val dir = s"$work/data-$i"
    generate(dir)
    val cuts = if (workload == "etl_warehouse")
      Some(deriveDay0(dir, s"$dir/day0", cutoff.get)) else None
    (dir, cuts)
  }

  // ---------------------------------------------------------------- loop

  private final case class OpResult(name: String, layer: String, pass: Int, wall: Double,
                                    ok: Boolean, detail: String)

  private val results = mutable.ArrayBuffer.empty[OpResult]
  private var trace: Trace = _

  private def tagged[T](spanId: String, part: String)(f: => T): T = {
    sc.setLocalProperty(Trace.SpanProp, spanId)
    sc.setLocalProperty(Trace.PartProp, part)
    try f finally {
      sc.setLocalProperty(Trace.SpanProp, null)
      sc.setLocalProperty(Trace.PartProp, null)
    }
  }

  private var opSeq = 0
  private def nextOpId(): String = { opSeq += 1; s"op$opSeq" }

  /** One declared query: build, fingerprint, release pins. */
  private def runQuery(o: Main.Op, dir: String, pass: Int, passSpan: String): Unit = {
    val id = nextOpId()
    sc.setJobDescription(o.name)
    val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    var b1 = w0; var a1 = w0
    val (ok, fp) = try {
      val df = tagged(id, "build")(SparkEntry.queries(o.name)(spark, dir))
      b1 = System.currentTimeMillis()
      val fp = tagged(id, "action")(Fingerprint.of(df))
      a1 = System.currentTimeMillis()
      (o.expected.isEmpty || fp == o.expected, fp)
    } catch { case NonFatal(e) =>
      System.err.println(s"[dwbench] ${o.name} failed: $e")
      a1 = System.currentTimeMillis(); if (b1 == w0) b1 = a1
      (false, "error: " + e.getClass.getSimpleName)
    }
    spark.sharedState.cacheManager.clearCache()
    val wall = secs(n0); val w1 = System.currentTimeMillis()
    if (!ok && !fp.startsWith("error")) System.err.println(
      s"[dwbench] ${o.name}: fingerprint $fp, expected ${o.expected}")
    results += OpResult(o.name, o.layer, pass, wall, ok, obj(Seq("fingerprint" -> q(fp))))
    log(f"  ${o.name} $wall%.3f s $fp")
    if (passSpan != null) {
      val sid = span(passSpan, o.name, "op", w0, w1, Seq("layer" -> q(o.layer), "wall_s" -> num(wall),
        "counters_key" -> q(id)))
      span(sid, "build", "build", w0, b1)
      span(sid, "action", "action", b1, a1)
    }
  }

  private val phases = Seq("full", "incremental", "noop")

  /** One ETL cycle from an empty root: day-0 full build, incremental
    * over the complete sources, no-op re-run. */
  private def runCycle(dir: String, pass: Int, passSpan: String, refFact: String): Unit = {
    val root = s"$work/wh-$pass"
    deleteTree(new File(root))
    val windows = mutable.ArrayBuffer.empty[(String, String, Long, Long, Double)]
    phases.zipWithIndex.foreach { case (ph, i) =>
      val id = nextOpId()
      sc.setJobDescription(s"etl $ph")
      val src = if (i == 0) s"$dir/day0" else dir
      val w0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      val (ok, detail) = try {
        val r = tagged(id, "etl")(Pipeline.runAll(spark, src, root, strict = true))
        val counts = (r.dimInserts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString } :+
          ("factsales" -> r.factInserts.toString))
        // insert counts are checked against DuckDB by run.py; the
        // no-op re-run must insert nothing
        (ph != "noop" || (r.factInserts == 0 && r.dimInserts.values.forall(_ == 0)), obj(counts))
      } catch { case NonFatal(e) =>
        System.err.println(s"[dwbench] etl $ph failed: $e"); (false, "{}")
      }
      val wall = secs(n0); val w1 = System.currentTimeMillis()
      windows += ((ph, id, w0, w1, wall))
      results += OpResult(ph, "etl", pass, wall, ok, detail)
      log(f"  $ph $wall%.3f s $detail")
    }
    // the incremental warehouse must hold the same facts as a one-shot
    // build from the complete sources
    val fp = Fingerprint.of(spark.read.parquet(s"$root/int/factsales"))
    if (fp != refFact) System.err.println(s"[dwbench] factsales $fp != one-shot $refFact")
    val last = results.last
    results(results.size - 1) = last.copy(ok = last.ok && fp == refFact)
    if (passSpan != null) etlSpans(root, passSpan, windows.toSeq)
    spark.sharedState.cacheManager.clearCache()
    deleteTree(new File(root))
  }

  /** Phase spans split into layers: `dims` is the date dimension (phase
    * start to the first load) plus the four dimension loads' run-log
    * windows, `facts` the fact load's window, `marts` runs from the
    * fact load's end to the last staged publish, `checks` the rest. */
  private def etlSpans(root: String, passSpan: String,
                       windows: Seq[(String, String, Long, Long, Double)]): Unit = {
    DwbenchBus.drain(sc)
    val log = spark.read.parquet(s"$root/meta/etl_run_log")
      .select("run_name", "started_at", "ended_at").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
    windows.foreach { case (ph, id, w0, w1, wall) =>
      val c = trace.bySpan.getOrElse(id, new Trace.Counters)
      val sid = span(passSpan, ph, "phase", w0, w1, Seq("layer" -> q("etl"), "wall_s" -> num(wall),
        "counters_key" -> q(id)))
      val rows = log.filter { case (_, s, e) => s >= w0 && e <= w1 }.sortBy(_._2)
      if (rows.nonEmpty) {
        span(sid, "DateDim", "dims", w0, rows.head._2)
        rows.foreach { case (n, s, e) =>
          span(sid, n, if (n == "etl_load_factsales") "facts" else "dims", s, e)
        }
        val factEnd = rows.find(_._1 == "etl_load_factsales").map(_._3).getOrElse(rows.last._3)
        val martEnd = (factEnd +: c.jobSpans.collect {
          case (_, e, true) if e > factEnd && e <= w1 => e
        }.toSeq).max
        span(sid, "marts", "marts", factEnd, martEnd)
        span(sid, "checks", "checks", martEnd, w1)
      }
    }
  }

  def go(sessionS: Double): String = {
    // ---- set-up, repeated; the last one's inputs are measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    var prepared: (String, Option[(LocalDateTime, LocalDateTime)]) = null
    for (i <- 1 to setups) {
      if (prepared != null) deleteTree(new File(prepared._1))
      val t = System.nanoTime()
      prepared = setupOnce(i)
      setupS += secs(t)
      log(f"setup $i: ${setupS.last}%.2f s")
    }
    val (dir, cuts) = prepared
    val heap = new HeapWatch

    // ---- no warm-up pass: one pass of either workload costs as much
    // as the whole measured window, so every run measures the first
    // execution of its operations in a JVM the set-ups have warmed.
    // When no expected fact fingerprint is on record, the ETL run first
    // makes the one-shot reference build its final fact table must match.
    val refFact = if (workload != "etl_warehouse") "" else
      ops.find(_.name == "factsales").map(_.expected).filter(_.nonEmpty).getOrElse {
        val ref = s"$work/wh-ref"
        Pipeline.runAll(spark, dir, ref, strict = true)
        val fp = Fingerprint.of(spark.read.parquet(s"$ref/int/factsales"))
        log(s"one-shot factsales fingerprint: $fp")
        deleteTree(new File(ref))
        spark.sharedState.cacheManager.clearCache()
        fp
      }

    // ---- measured closed loop, in whole passes: passes start while
    // `seconds` has not elapsed, and a started pass always finishes
    trace = new Trace(dir)
    heap.reset()
    val loopT0 = System.nanoTime()
    var pass = 0
    def timeLeft = secs(loopT0) < seconds
    while (pass == 0 || timeLeft) {
      pass += 1
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) sc.addSparkListener(trace)
      val p0 = System.currentTimeMillis()
      val passSpan = if (tracedPass) { spanSeq += 1; s"s$spanSeq" } else null
      if (workload == "etl_warehouse") runCycle(dir, pass, passSpan, refFact)
      else ops.foreach(o => runQuery(o, dir, pass, passSpan))
      val p1 = System.currentTimeMillis()
      // one client, operations back to back: the pass costs the sum of
      // its operations (the ETL's fact check and span bookkeeping are
      // not part of it)
      val wall = results.filter(_.pass == pass).map(_.wall).sum
      log(f"pass $pass: $wall%.2f s${if (tracedPass) " (traced)" else ""}")
      var extra = Seq.empty[(String, String)]
      if (tracedPass) {
        DwbenchBus.drain(sc)
        sc.removeSparkListener(trace)
        extra = Seq("driver_gap_s" -> num(Trace.uncovered(trace.jobIntervals.toSeq, p0, p1) / 1000.0))
        trace.jobIntervals.clear()
      }
      spans += obj(Seq("id" -> (if (passSpan == null) "null" else q(passSpan)),
        "parent" -> "null", "name" -> q(s"pass$pass"), "kind" -> q("pass"), "t0" -> num(rel(p0)), "t1" -> num(rel(p1)),
        "traced" -> tracedPass.toString,
        "wall_s" -> num(wall)) ++ extra)
    }
    val heapPeak = heap.peakMb
    heap.close()

    val counters = if (!traced) "{}" else obj(trace.bySpan.toSeq.sortBy(_._1).map { case (k, c) =>
      k -> obj(Seq("jobs" -> c.jobs.toString, "build_jobs" -> c.buildJobs.toString,
        "task_cpu_s" -> num(c.taskCpuNs / 1e9), "task_run_s" -> num(c.taskRunMs / 1e3),
        "shuffle_write_bytes" -> c.shuffleWrite.toString, "spill_bytes" -> c.spill.toString,
        "input_bytes" -> c.inputBytes.toString, "bytes_written" -> c.bytesWritten.toString))
    })
    val traceTotals = if (!traced) "{}" else obj(Seq(
      "skew_ratio" -> num(trace.worstSkew), "scans" -> trace.scans.toString,
      "pin_materialisations" -> trace.materialisations.toString,
      "pin_bytes_peak" -> trace.peakBlockBytes.toString))
    val res = results.map(r => obj(Seq("name" -> q(r.name), "layer" -> q(r.layer),
      "pass" -> r.pass.toString, "wall_s" -> num(r.wall), "ok" -> r.ok.toString,
      "detail" -> r.detail)))
    obj(Seq(
      "workload" -> q(workload), "cores" -> cores.toString, "scale" -> num(scale),
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> q(spark.version), "session_s" -> num(sessionS),
      "setup_s" -> setupS.map(num).mkString("[", ",", "]"),
      "data_dir" -> q(dir),
      "cutoffs" -> cuts.map { case (e, f) => obj(Seq("events" -> q(e.toString), "fact" -> q(f.toString))) }
        .getOrElse("null"),
      "heap_peak_mb" -> num(heapPeak),
      "results" -> res.mkString("[", ",", "]"),
      "spans" -> spans.mkString("[", ",", "]"),
      "counters" -> counters, "trace" -> traceTotals))
  }
}
