package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one op reports back to the runner. `work` counts the workload's
  * throughput unit; `userBytes` is the size of the user change it
  * carried (the write-amplification base); `key` is the output a traced
  * twin must reproduce; `counts` are per-layer quantities observed by the
  * workload itself (traced ops only).
  */
final case class OpResult(ok: Boolean, work: Double, userBytes: Long,
                          key: String = "", counts: Map[String, Double] = Map.empty,
                          problem: String = "")

/** One benchmark workload: a single client in a closed loop. */
trait Workload {
  def name: String
  def workUnit: String
  /** Ops run after the seeding and discarded (part of set-up time). */
  def warmupOps: Int
  /** Ops in a run of `seconds`: a fixed count, a whole number of cycles. */
  def ops(seconds: Int): Int
  /** Build inputs and seed program state; `twin` also builds the plain
    * twin state a traced run compares against.
    */
  def setup(twin: Boolean): Unit
  /** Untimed, before op `i`: generate and hand over its input. */
  def prepare(i: Int): Unit = ()
  /** The timed op; `traced` runs it on the traced state. */
  def op(i: Int, traced: Boolean): OpResult
  /** Directories the engine writes into during an op (write_amp). */
  def writeRoots(traced: Boolean): Seq[Path]
  /** Bytes the engine wrote outside [[writeRoots]] since the last call
    * (write_amp); called after each op, untimed.
    */
  def writtenBytes(): Long = 0L
  /** End-of-run output checks; each string is one mismatch. */
  def finalCheck(): Seq[String]
  /** A short label for op `i` in the per-op log lines. */
  def opLabel(i: Int): String = name
}

object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, traceOut: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      Paths.get(m("root")), m.get("trace-out").map(Paths.get(_)))
  }

  def session(k: Int, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Spark task slots: the host's cores, at most 4. */
  def cores(): Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).get
    catch { case _: Throwable =>
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0 }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least `b` samples beyond it, as
    * (value, percentile, b): b = 10 from 40 samples on; below that a
    * quarter of the samples, so a short run's tail is not a single extreme
    * sample. Below 4 samples b = 0: the slowest op (a `stream_commit` run
    * is one compaction cycle of 3 ops, and its slowest is the deepest).
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted; val n = s.size
    val b = math.min(10, n / 4)
    (s(n - 1 - b), math.floor(100.0 * (n - b) / n).toInt, b)
  }

  /** Bytes of files under `roots` that are new or changed since `before`. */
  def snapshot(roots: Seq[Path]): Map[String, Long] =
    roots.filter(Files.exists(_)).flatMap { r =>
      val st = Files.walk(r)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally st.close()
    }.toMap
  def createdBytes(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val k = cores()
    val load0 = loadavg()
    val spark = session(k, o.root)
    val listener = if (o.trace) Some(Listener.register(spark)) else None
    val w: Workload = o.workload match {
      case "repl_incremental" => new ReplIncremental(spark, o.root, o.seed)
      case "analytics_mix" => new AnalyticsMix(spark, o.root)
      case "stream_commit" => new StreamCommit(spark, o.root, o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: seeding (inputs + program state), then the warm-up ops
    val ts = System.nanoTime()
    w.setup(twin = o.trace)
    val tw = System.nanoTime()
    (0 until w.warmupOps).map(_ - w.warmupOps).foreach { j =>
      w.prepare(j)
      w.op(j, traced = false)
      if (o.trace) w.op(j, traced = true)
    }
    println(f"seeding ${(tw - ts) / 1e9}%.4f s, warm-up ${(System.nanoTime() - tw) / 1e9}%.4f s")
    w.writtenBytes() // bytes of set-up and warm-up are not an op's

    val n = w.ops(o.seconds)
    val lat = Array.newBuilder[Double]
    val latTraced = Array.newBuilder[Double]
    var cpu = 0L; var work = 0.0; var created = 0L; var userBytes = 0L
    var failed = 0
    val problems = scala.collection.mutable.ArrayBuffer[String]()
    val counts = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    var tracedWallNs = 0L

    def timed(i: Int, traced: Boolean): (OpResult, Double) = {
      val roots = w.writeRoots(traced)
      val before = snapshot(roots)
      val c0 = cpuNs(); val t0 = System.nanoTime()
      if (traced) Trace.beginOp(i, if (w.name.startsWith("repl")) "repl.status" else w.name)
      val r = try w.op(i, traced)
      catch { case e: Throwable => OpResult(ok = false, 0, 0, problem = s"op $i: $e") }
      finally if (traced) Trace.endOp()
      val dt = System.nanoTime() - t0
      val c1 = cpuNs()
      val written = createdBytes(before, snapshot(roots)) + w.writtenBytes()
      if (traced) tracedWallNs += dt
      else { cpu += c1 - c0; created += written }
      (r, dt / 1e9)
    }

    // set-up time: JVM start → the measured loop
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val t0 = System.nanoTime()
    (0 until n).foreach { i =>
      w.prepare(i)
      // traced run: the plain twin and the traced state take the same op,
      // in alternating order so neither side always runs second
      val order = if (o.trace && i % 2 == 1) Seq(true, false)
        else if (o.trace) Seq(false, true) else Seq(false)
      val res = order.map(tr => tr -> timed(i, tr)).toMap
      val (plain, dt) = res(false)
      println(f"op $i ${w.opLabel(i)} $dt%.4f s${if (plain.ok) "" else " FAILED"}")
      lat += dt
      work += plain.work; userBytes += plain.userBytes
      if (!plain.ok) { failed += 1; problems += plain.problem }
      res.get(true).foreach { case (tr, tdt) =>
        latTraced += tdt
        tr.counts.foreach { case (k2, v) => counts(k2) += v }
        val trProblems = (if (tr.ok) None else Some(s"traced ${tr.problem}")) ++
          (if (tr.key == plain.key) None else Some(s"op $i: traced and plain results differ"))
        if (trProblems.nonEmpty && plain.ok) failed += 1
        problems ++= trProblems
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val tc = System.nanoTime()
    val checks = try w.finalCheck() catch { case e: Throwable => Seq(s"final check: $e") }
    println(f"check ${(System.nanoTime() - tc) / 1e9}%.4f s")
    problems ++= checks
    // each mismatch of the final state counts as one more failed op
    failed = math.min(n, failed + checks.size)
    val correct = failed == 0 && problems.isEmpty
    val lats = lat.result().toSeq
    val timedS = lats.sum
    val (tailV, tailP, beyond) = tail(lats)

    val envelope =
      s"""{"envelope":{"workload":"${w.name}","seed":${o.seed},"k":$k,""" +
      s""""shuffle_partitions":$k,"heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""loadavg_start":"$load0","loadavg_end":"${loadavg()}",""" +
      s""""jvm":"${System.getProperty("java.version")}","spark":"${spark.version}",""" +
      s""""loop":"closed, 1 client","ops":$n,"work_unit":"${w.workUnit}",""" +
      s""""warmup_ops":${w.warmupOps},"wall_s":$wallS}}"""
    println(envelope)
    problems.take(20).foreach(p => println(s"[check] $p"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        println(f"op_s.tail = $tailV%.4f s at p$tailP (n=${lats.size}, $beyond beyond)")
        println(s"fail_ratio = ${failed.toDouble / n} ($failed of $n ops)")
        Seq(
          ("setup_s", setupS, "s"),
          ("op_s.p50", median(lats), "s"),
          ("op_s.tail", tailV, "s"),
          ("throughput", work / timedS, "1/s"),
          ("cpu_s_per_op", cpu / 1e9 / n, "s"),
          ("write_amp", created.toDouble / math.max(1L, userBytes), "ratio"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        org.apache.spark.BenchBus.drain(spark.sparkContext)
        val traced = latTraced.result().toSeq
        val nt = traced.size.toDouble
        val self = Trace.selfTimes()
        val st = listener.get.stats.asScala
        val perOp: Seq[(String, Double, String)] = Layers.spans.flatMap { s =>
          val calls = self.get(s).map(_._1).getOrElse(0L).toDouble
          // operator spans are per query: normalise by calls, not ops;
          // restores happen in traced set-up steps: normalise by those
          val per =
            if (s.startsWith("operators.")) math.max(1.0, calls)
            else if (s == "repl.restore") math.max(1.0, Trace.setups.toDouble)
            else nt
          val x = st.get(s)
          def g(f: Listener#Stats => Long) = x.map(f).getOrElse(0L).toDouble / per
          Layers.statsFor(s).map {
            case "calls" => (s"$s.calls", calls / per, "count")
            case "self_s" => (s"$s.self_s", self.get(s).map(_._2).getOrElse(0.0) / per, "s")
            case "jobs" => (s"$s.jobs", g(_.jobs), "count")
            case "tasks" => (s"$s.tasks", g(_.tasks), "count")
            case "cpu_s" => (s"$s.cpu_s", g(_.cpuNs) / 1e9, "s")
            case "gc_s" => (s"$s.gc_s", g(_.gcMs) / 1e3, "s")
            case "shuffle_mb" => (s"$s.shuffle_mb", g(_.shuffleB) / 1048576.0, "MB")
            case "spill_mb" => (s"$s.spill_mb", g(_.spillB) / 1048576.0, "MB")
          }
        }
        // runtime totals are per traced op: the restore ran in set-up
        val tot = st.filter(_._1 != "repl.restore").values
        def sum(f: Listener#Stats => Long) = tot.map(f).sum.toDouble
        val overhead = median(traced) - median(lats)
        println(f"tracing overhead = $overhead%.4f s per op (traced p50 ${median(traced)}%.4f s vs plain p50 ${median(lats)}%.4f s)")
        val extra = Layers.extras.map { case (name, unit) =>
          val v = name match {
            case "spark.core_util" => sum(_.runMs) / 1e3 / (tracedWallNs / 1e9 * k)
            case "spark.sched_delay_s" => sum(_.schedMs) / 1e3 / nt
            case "spark.gc_s" => sum(_.gcMs) / 1e3 / nt
            case "spark.jobs" => sum(_.jobs) / nt
            case "trace.overhead_s" => overhead
            case other => counts(other) / nt
          }
          (name, v, unit)
        }
        o.traceOut.foreach(Trace.writeSpans)
        perOp ++ extra
      }

    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    val mj = metrics.map { case (k2, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k2":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":$n,"failed":$failed,"metrics":$mj}""")
  }
}

/** The per-layer metric catalogue: [[spans]] with their [[statsFor]], then
  * [[extras]], are the `per_layer` list of BENCHMARK.json. The traced run
  * of every workload reports all of them (0 where it never enters a span).
  */
object Layers {
  /** The analytics mix, in round-robin order: three single-plan queries,
    * then three multi-action / iterative pipelines.
    */
  val Queries: Seq[String] = Seq(
    "q3_revenue_by_nation", "q41_cube", "q80_bm25", "q27_dedup_minhash_lsh",
    "q53_ann_ivf_kmeans", "q110_curation_e2e")

  val spans: Seq[String] =
    Seq("repl.status", "repl.dump", "repl.load", "repl.merge", "repl.restore", "repl.commit") ++
      Queries.map("operators." + _) ++
      Seq("streaming.postings.commit", "streaming.postings.serve", "streaming.view.commit")

  def statsFor(span: String): Seq[String] =
    if (span.startsWith("operators."))
      Seq("self_s", "jobs", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb")
    else Seq("calls", "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb")

  val extras: Seq[(String, String)] = Seq(
    "repl.merge.rows" -> "count", "repl.merge.mb_written" -> "MB",
    "repl.retries" -> "count", "repl.dump.event_files" -> "count",
    "util.deltaview.log_depth" -> "count", "util.deltaview.compactions" -> "count",
    "spark.core_util" -> "ratio", "spark.sched_delay_s" -> "s",
    "spark.gc_s" -> "s", "spark.jobs" -> "count", "trace.overhead_s" -> "s")
}
