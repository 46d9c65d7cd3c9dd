package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.repl._

/** Layer spans for the traced run, recorded from the benchmark's side of
  * the engine's public API.
  *
  * A span is a named interval. Two kinds exist:
  *   - a wrapped call ([[span]]): the interval of one call into a layer,
  *     on whatever thread made it;
  *   - a phase ([[phase]]): a boundary marker on the op's own thread; the
  *     phase lasts until the next marker or the end of the op.
  * Both set the Spark local property [[Prop]] to the span name, so every
  * job submitted under it (including jobs of `repl.Parallel` pool threads,
  * which inherit local properties) is charged to the span by [[Listener]].
  * Spans stay in memory and are written out when the run ends.
  */
object Trace {
  val Prop = "graftbench.span"

  /** Parent span → child spans nested in it (self time excludes them). */
  val Children: Map[String, Seq[String]] =
    Map("repl.load" -> Seq("repl.merge", "repl.restore"))

  final case class Interval(name: String, op: Int, startNs: Long, endNs: Long)

  @volatile private var opThread: Thread = null
  @volatile private var opIndex = -1
  /** Set-up steps traced with [[beginSetup]]. */
  @volatile var setups = 0
  private val openPhase = new ThreadLocal[(String, Long)]
  val intervals = new ConcurrentLinkedQueue[Interval]()

  private def sc = SparkContext.getOrCreate()

  def active: Boolean = opThread != null

  def beginOp(i: Int, first: String): Unit = {
    opThread = Thread.currentThread(); opIndex = i
    phase(first)
  }

  /** Trace a set-up step: only wrapped calls are recorded, as op -1, and
    * no phases, so the per-op phase totals stay those of measured ops.
    * `repl_incremental` traces its twin's bootstrap this way, the run's
    * one `repl.restore`.
    */
  def beginSetup(): Unit = {
    opThread = Thread.currentThread(); opIndex = -1
    setups += 1
  }

  def endOp(): Unit = {
    closePhase(System.nanoTime())
    sc.setLocalProperty(Prop, null)
    opThread = null
  }

  def currentPhase: String = Option(openPhase.get).map(_._1).orNull

  private def closePhase(now: Long): Unit = Option(openPhase.get).foreach {
    case (n, t0) =>
      intervals.add(Interval(n, opIndex, t0, now)); openPhase.remove()
  }

  /** Mark a phase boundary on the calling thread. */
  def phase(name: String): Unit = if (active && opIndex >= 0) {
    if (Thread.currentThread() eq opThread) {
      if (currentPhase != name) {
        val now = System.nanoTime()
        closePhase(now)
        openPhase.set((name, now))
      }
    }
    sc.setLocalProperty(Prop, name)
  }

  /** Run `body` as one call of span `name`. */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, name)
      val t0 = System.nanoTime()
      try body
      finally {
        intervals.add(Interval(name, opIndex, t0, System.nanoTime()))
        sc.setLocalProperty(Prop, prev)
      }
    }

  /** `xs` merged into disjoint intervals. */
  private def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  private def length(xs: Seq[(Long, Long)]): Long = xs.map { case (a, b) => b - a }.sum

  private def overlap(xs: Seq[(Long, Long)], ys: Seq[(Long, Long)]): Long =
    (for ((a, b) <- xs; (c, d) <- ys) yield math.max(0L, math.min(b, d) - math.max(a, c))).sum

  /** Per span: (calls, self seconds). Self time is the union of the span's
    * intervals minus the part its child spans cover.
    */
  def selfTimes(): Map[String, (Long, Double)] = {
    val all = intervals.asScala.toSeq
    val byName = all.groupBy(_.name)
    byName.map { case (n, ivs) =>
      val own = union(ivs.map(i => (i.startNs, i.endNs)))
      val kids = union(Children.getOrElse(n, Nil)
        .flatMap(byName.getOrElse(_, Nil)).map(i => (i.startNs, i.endNs)))
      n -> (ivs.size.toLong, (length(own) - overlap(own, kids)) / 1e9)
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = intervals.asScala.toSeq.sortBy(_.startNs).map { i =>
      s"""{"span":"${i.name}","op":${i.op},"start_ns":${i.startNs},"end_ns":${i.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-span execution totals from the Spark scheduler: jobs, tasks,
  * executor CPU, GC, shuffle write and disk spill. A job is charged to the
  * span named by its [[Trace.Prop]] local property; jobs without one
  * (untraced ops, set-up) are ignored.
  */
final class Listener extends SparkListener {
  final class Stats {
    var jobs, tasks, cpuNs, gcMs, runMs, schedMs, shuffleB, spillB = 0L
  }
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val stats = new ConcurrentHashMap[String, Stats]()
  private def of(s: String) = stats.computeIfAbsent(s, _ => new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop))).foreach { s =>
      val st = of(s)
      st.synchronized(st.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      val st = of(s)
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      st.synchronized {
        st.tasks += 1
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.runMs += m.executorRunTime
        st.schedMs += sched
        st.shuffleB += m.shuffleWriteMetrics.bytesWritten
        st.spillB += m.diskBytesSpilled
      }
    }
  }
}

/** [[ReplSource]] decorator marking phase boundaries: a source call opens
  * the dump phase (the existence probe belongs to status).
  */
final class TracedSource(u: ReplSource) extends ReplSource {
  private def dump[A](a: => A): A = { Trace.phase("repl.dump"); a }
  def dbExists(db: String): Boolean = { Trace.phase("repl.status"); u.dbExists(db) }
  def listTables(db: String): Seq[String] = dump(u.listTables(db))
  def isExternal(table: String): Boolean = dump(u.isExternal(table))
  def currentTxnId(db: String): Long = dump(u.currentTxnId(db))
  def readTable(db: String, table: String): DataFrame = dump(u.readTable(db, table))
  def partitionSpec(db: String, table: String): Option[String] =
    dump(u.partitionSpec(db, table))
  def readEventsAfter(db: String, fromId: Long): DataFrame =
    dump(u.readEventsAfter(db, fromId))
  def listViews(db: String): Seq[String] = dump(u.listViews(db))
  def viewSql(db: String, name: String): Option[String] = dump(u.viewSql(db, name))
  def sourceDbPath(db: String): String = dump(u.sourceDbPath(db))
}

/** [[ReplTarget]] decorator: merges and restores are wrapped spans (they
  * may run on pool threads); the watermark commit and run log open the
  * commit phase; any other target call opens the load phase. A watermark
  * read before the dump is status; later ones stay in their phase.
  */
final class TracedTarget(u: ReplTarget) extends ReplTarget {
  private def load[A](a: => A): A = {
    if (Trace.currentPhase != "repl.commit") Trace.phase("repl.load")
    a
  }
  def createDb(db: String): Unit = load(u.createDb(db))
  def listTables(db: String): Seq[String] = load(u.listTables(db))
  def tableExists(db: String, table: String): Boolean = load(u.tableExists(db, table))
  def dropTable(db: String, table: String): Unit = load(u.dropTable(db, table))
  def readTable(db: String, table: String): DataFrame = load(u.readTable(db, table))
  def writeTable(db: String, table: String, df: DataFrame): Unit =
    Trace.span("repl.restore")(u.writeTable(db, table, df))
  def writeTablePartitioned(db: String, table: String, df: DataFrame,
                            partCol: String): Unit =
    Trace.span("repl.restore")(u.writeTablePartitioned(db, table, df, partCol))
  def partitionSpec(db: String, table: String): Option[String] =
    load(u.partitionSpec(db, table))
  def migrateTable(db: String, table: String, newSchema: StructType): Unit =
    load(u.migrateTable(db, table, newSchema))
  def applyRename(db: String, from: String, to: String): Unit =
    load(u.applyRename(db, from, to))
  def applyTruncate(db: String, table: String): Unit = load(u.applyTruncate(db, table))
  def listViews(db: String): Seq[String] = load(u.listViews(db))
  def createView(db: String, name: String, sql: String): Unit =
    load(u.createView(db, name, sql))
  def dropView(db: String, name: String): Unit = load(u.dropView(db, name))
  def mergeDml(db: String, table: String, upserts: DataFrame,
               deadKeys: DataFrame): TableMergeStats =
    Trace.span("repl.merge")(u.mergeDml(db, table, upserts, deadKeys))
  def repairTable(db: String, table: String): Unit = load(u.repairTable(db, table))
  def cleanStaging(db: String): Unit = load(u.cleanStaging(db))
  def watermark(db: String): Option[Long] = {
    Trace.currentPhase match {
      case null | "repl.status" => Trace.phase("repl.status")
      case "repl.dump" => Trace.phase("repl.load")
      case _ => ()
    }
    u.watermark(db)
  }
  def commitWatermark(db: String, id: Long): Unit = {
    Trace.phase("repl.commit"); u.commitWatermark(db, id)
  }
  def logRun(r: RunReport): Unit = { Trace.phase("repl.commit"); u.logRun(r) }
  def extTablePath(db: String, table: String): Option[String] =
    load(u.extTablePath(db, table))
}

object Listener {
  def register(spark: SparkSession): Listener = {
    val l = new Listener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
