package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.repl._

/** Local-filesystem helpers for run roots and size accounting. */
object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally st.close()
    }

  def files(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.count(f =>
        Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      finally st.close()
    }
}

/** One replication endpoint pair: the shared source, a target and a dump
  * root of its own, and a job over them — decorated for the traced run.
  */
final class ReplTwin(spark: SparkSession, source: DbCatalog, val dir: Path,
                     traced: Boolean) {
  val target: DbCatalog = DbCatalog(spark, dir.resolve("tgt").toString)
  val dumpRoot: Path = dir.resolve("dumps")
  val job: ReplicationJob = ReplicationJob(spark,
    if (traced) new TracedSource(source) else source,
    if (traced) new TracedTarget(target) else target,
    dumpRoot.toString, ReplConfig(dumpRoot = dumpRoot.toString))

  def run(db: String): RunReport = job.run(db)
}

object ReplCheck {
  /** Report fields a decorator must not change (all but the duration). */
  def key(r: RunReport): String =
    Seq(r.kind, r.fromId, r.toId, r.attempts, r.verify, r.tablesJson).mkString("|")

  def result(r: RunReport, work: Double, userBytes: Long, traced: Boolean,
             extra: => Map[String, Double]): OpResult = {
    val counts =
      if (!traced) Map.empty[String, Double]
      else Map("repl.merge.rows" -> r.tableStats.map(_.rowsMerged).sum.toDouble,
        "repl.merge.mb_written" -> r.tableStats.map(_.bytesRewritten).sum / 1048576.0,
        "repl.retries" -> (r.attempts - 1).toDouble) ++ extra
    OpResult(r.verify == "SUCCESS", work, userBytes, key(r), counts,
      if (r.verify == "SUCCESS") "" else s"verify ${r.verify}")
  }

  /** Per table, the number of digest buckets where the expected and the
    * actual table differ — every table in one Spark action.
    */
  def divergent(pairs: Seq[(String, DataFrame, DataFrame)]): Map[String, Long] = {
    def d(t: String, x: DataFrame, cols: Seq[String]) =
      Digest.tableDigest(x, col(cols.head),
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))))
        .withColumn("t", lit(t))
    val (a, b) = pairs.map { case (t, exp, act) =>
      require(exp.columns.toSeq == act.columns.toSeq, s"$t: column mismatch")
      (d(t, exp, exp.columns.toSeq), d(t, act, exp.columns.toSeq))
    }.unzip
    val bb = b.reduce(_ unionByName _).withColumnRenamed("n_rows", "n_b")
      .withColumnRenamed("xor_digest", "x_b")
    a.reduce(_ unionByName _).join(bb, Seq("t", "bucket"), "full_outer")
      .filter(not(col("n_rows") <=> col("n_b")) || not(col("xor_digest") <=> col("x_b")))
      .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  def check(who: String, pairs: Seq[(String, DataFrame, DataFrame)]): Seq[String] =
    divergent(pairs).toSeq.sorted.map { case (t, n) =>
      s"$who target $t: $n divergent digest buckets" }
}

/** Steady-state incremental replication: between ops a seeded batch of
  * change events is appended to the source log (untimed); each op is one
  * replication cycle.
  */
final class ReplIncremental(spark: SparkSession, root: Path, seed: Long)
    extends Workload {
  val name = "repl_incremental"
  val workUnit = "events"
  val warmupOps = 1
  val Sf = Sizes.replIncrementalSf
  val BatchEvents = 1000
  private val Db = "bench"
  private val nOrders = Gen.rows("orders", Sf)
  private val nCust = Gen.rows("customer", Sf)
  private val nPart = Gen.rows("part", Sf)
  private val nSupp = Gen.rows("supplier", Sf)

  private var base: Path = _
  private var source: DbCatalog = _
  private var twins = Map.empty[Boolean, ReplTwin]
  private var batchBytes = 0L
  private var setupProblems = Seq.empty[String]

  def ops(seconds: Int): Int = math.max(4, math.round(seconds / Sizes.replIncrementalOpS).toInt)

  def setup(twin: Boolean): Unit = {
    base = root.resolve("incr")
    source = DbCatalog(spark, base.resolve("src").toString)
    source.createDb(Db)
    Gen.StarTables.foreach(t => source.writeTable(Db, t, Gen.table(spark, t, seed, Sf)))
    // the bootstrap of each twin; the traced twin's is the run's one traced
    // restore (see Trace.beginSetup)
    val reports = (Seq(false) ++ (if (twin) Seq(true) else Nil)).map { tr =>
      val t = new ReplTwin(spark, source, base.resolve(if (tr) "traced" else "plain"), tr)
      if (tr) Trace.beginSetup()
      val r = try t.run(Db) finally if (tr) Trace.endOp()
      twins += tr -> t
      r
    }
    setupProblems = reports.collect { case r if r.verify != "SUCCESS" => s"bootstrap verify ${r.verify}" } ++
      (if (reports.map(ReplCheck.key).distinct.size > 1)
        Seq("traced and plain bootstraps differ") else Nil)
  }

  private def eventsDir = base.resolve("src").resolve(Db).resolve(DbCatalog.EventsTable)

  private def num(d: Double) = f"$d%.2f"
  private def day(r: SplittableRandom, from: Int, span: Int) =
    java.time.LocalDate.of(from, 1, 1).plusDays(r.nextInt(span)).toString + "T00:00:00"

  /** Batch `i`: 60% lineitem upserts, 20% orders, 10% customer upserts and
    * 10% lineitem deletes; a fifth of the keys come from a 64-key hot set.
    */
  def batch(i: Int): Seq[DbCatalog.Event] = {
    val r = new SplittableRandom(seed * 1000003L + i)
    def key(n: Long) =
      if (r.nextInt(5) == 0) r.nextLong(math.min(64L, n)) * (n / math.min(64L, n))
      else r.nextLong(n)
    (0 until BatchEvents).map { _ =>
      val p = r.nextInt(10)
      if (p < 6) {
        val k = key(nOrders); val q = 1 + r.nextInt(50)
        DbCatalog.Event("lineitem", DbCatalog.OpUpsert, k.toString,
          s"""{"l_orderkey":$k,"l_partkey":${r.nextLong(nPart)},"l_suppkey":${r.nextLong(nSupp)},""" +
          s""""l_linenumber":1,"l_quantity":$q.0,"l_extendedprice":${num(q * (900 + r.nextInt(100)))},""" +
          s""""l_discount":${num(r.nextInt(11) / 100.0)},"l_tax":${num(r.nextInt(9) / 100.0)},""" +
          s""""l_returnflag":"${"ANR".charAt(r.nextInt(3))}","l_linestatus":"${"FO".charAt(r.nextInt(2))}",""" +
          s""""l_shipdate":"${day(r, 1995, 2500)}"}""")
      } else if (p < 8) {
        val k = key(nOrders)
        DbCatalog.Event("orders", DbCatalog.OpUpsert, k.toString,
          s"""{"o_orderkey":$k,"o_custkey":${r.nextLong(nCust)},"o_orderstatus":"${"FOP".charAt(r.nextInt(3))}",""" +
          s""""o_totalprice":${num(1000 + r.nextDouble() * 500000)},"o_orderdate":"${day(r, 1995, 2404)}",""" +
          s""""o_orderpriority":"${r.nextInt(5) + 1}-LOW"}""")
      } else if (p < 9) {
        val k = key(nCust)
        DbCatalog.Event("customer", DbCatalog.OpUpsert, k.toString,
          s"""{"c_custkey":$k,"c_name":"Customer#$k","c_nationkey":${r.nextInt(25)},""" +
          s""""c_acctbal":${num(r.nextDouble() * 10000 - 1000)},"c_mktsegment":"BUILDING"}""")
      } else DbCatalog.Event("lineitem", DbCatalog.OpDelete, key(nOrders).toString, null)
    }
  }

  override def prepare(i: Int): Unit = {
    val before = Fs.bytes(eventsDir)
    source.appendEvents(Db, batch(i + warmupOps))
    batchBytes = Fs.bytes(eventsDir) - before
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val r = twins(traced).run(Db)
    ReplCheck.result(r, BatchEvents, batchBytes, traced,
      Map("repl.dump.event_files" -> Fs.files(eventsDir).toDouble))
  }

  def writeRoots(traced: Boolean): Seq[Path] =
    Seq(twins(traced).dumpRoot, twins(traced).dir.resolve("tgt"))

  /** Source snapshot + the whole event log, folded independently of the
    * engine: the latest event per key wins, upserts replace, deletes drop.
    * Tables [[batch]] never changes are the snapshot.
    */
  private def expected(t: String): DataFrame = {
    val cur = source.readTable(Db, t)
    if (!Set("lineitem", "orders", "customer").contains(t)) return cur
    val keyCol = cur.columns.head
    val ev = source.readEvents(Db).filter(col("table") === t)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("event_id").desc)))
      .filter(col("_rn") === 1)
    val ups = ev.filter(col("op") === DbCatalog.OpUpsert)
      .select(from_json(col("row_json"), cur.schema).as("r")).select(col("r.*"))
    cur.join(ev.select(col("key")), cur(keyCol).cast("string") === col("key"), "left_anti")
      .unionByName(ups)
  }

  def finalCheck(): Seq[String] = setupProblems ++ twins.toSeq.flatMap { case (tr, tw) =>
    ReplCheck.check(if (tr) "traced" else "plain",
      Gen.StarTables.map(t => (t, expected(t), tw.target.readTable(Db, t))))
  }
}

/** Query mix over a fixed generated corpus, round-robin in a fixed order
  * from its first query; each op is one query consumed through
  * `util.Consume.frame`, checked against the golden checksum stored with
  * the benchmark. Corpus and order are fixed, so the seed changes nothing.
  */
final class AnalyticsMix(spark: SparkSession, root: Path) extends Workload {
  val name = "analytics_mix"
  val workUnit = "queries"
  val warmupOps = Layers.Queries.size
  private val dir = root.resolve("corpus")
  private var corpusBytes = 0L

  def ops(seconds: Int): Int = {
    val rounds = math.max(1, math.round(seconds / Sizes.analyticsRoundS).toInt)
    rounds * Layers.Queries.size
  }

  def setup(twin: Boolean): Unit = {
    Gen.writeTables(spark, dir.toString, Golden.CorpusSeed, Sizes.analyticsSf, Gen.AllTables)
    corpusBytes = Fs.bytes(dir)
  }

  override def opLabel(i: Int): String = query(i)

  def query(i: Int): String = Layers.Queries(math.floorMod(i, Layers.Queries.size))

  def op(i: Int, traced: Boolean): OpResult = {
    val q = query(i)
    val body = () => {
      val r = graft.util.Consume.frame(graft.SparkEntry.queries(q)(spark, dir.toString))
        .collect().head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val cs = try { if (traced) Trace.span(s"operators.$q")(body()) else body() }
      finally spark.catalog.clearCache()
    val want = Golden.checksums(q)
    OpResult(cs == want, 1.0, corpusBytes, cs.toString,
      problem = s"$q checksum $cs, golden $want")
  }

  /** Shuffle and spill files are counted from task metrics: the context
    * cleaner deletes them at unpredictable times, so a directory listing
    * after the query would miss some.
    */
  private val meter = new org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m =>
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled))
  }
  spark.sparkContext.addSparkListener(meter)

  override def writtenBytes(): Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    meter.bytes.getAndSet(0L)
  }

  def writeRoots(traced: Boolean): Seq[Path] = Seq(root.resolve("tmp"))

  def finalCheck(): Seq[String] = Nil
}

/** Streamed maintenance on the `DeltaView` core: each op is one trigger —
  * a signed document batch into the BM25 postings index, a BM25 serve
  * from it, and a signed CDC batch into the per-key aggregate view.
  */
final class StreamCommit(spark: SparkSession, root: Path, seed: Long) extends Workload {
  import graft.streaming.{PostingsStream, ViewMaintenance}
  import graft.operators.{TextAnalysis, Warehouse}

  val name = "stream_commit"
  val workUnit = "batch rows"
  val CompactEvery = 3
  // bootstrap is commit 0 (a compaction), so measured ops 0..K-1 are log
  // depths 1..K-1 and the next compaction: whole cycles, every depth once
  val warmupOps = 0
  private val nDocs = Gen.rows("documents", Sizes.streamSf).toInt
  private val DocOps = Sizes.streamDocOps
  private val CdcRows = Sizes.streamCdcRows
  private val nKeys = 500

  private var base: Path = _
  private var docs: Array[(Long, String)] = _
  private var live: Array[Boolean] = _
  private val cdc = scala.collection.mutable.ArrayBuffer[(String, String, java.math.BigDecimal)]()
  private val liveCdc = scala.collection.mutable.ArrayBuffer[(String, java.math.BigDecimal)]()
  private var rnd: SplittableRandom = _
  private var twins: Seq[Boolean] = Nil
  private var batchBytes = 0L
  private var batchRows = 0L

  def ops(seconds: Int): Int =
    math.max(1, math.round(seconds / (Sizes.streamOpS * CompactEvery)).toInt) * CompactEvery

  private def pdir(tr: Boolean) = base.resolve(if (tr) "traced" else "plain").resolve("postings")
  private def vdir(tr: Boolean) = base.resolve(if (tr) "traced" else "plain").resolve("view")
  private def batchId(i: Int) = (i + warmupOps + 1).toLong

  private val DocSchema = StructType(Seq(StructField("op", StringType),
    StructField("doc_id", LongType), StructField("text", StringType)))
  private val CdcSchema = StructType(Seq(StructField("op", StringType),
    StructField("key", StringType), StructField("measure", DecimalType(12, 2))))

  private def docBatch(i: Int) = base.resolve("batches").resolve(s"docs-$i")
  private def cdcBatch(i: Int) = base.resolve("batches").resolve(s"cdc-$i")

  def setup(twin: Boolean): Unit = {
    base = root.resolve("stream")
    rnd = new SplittableRandom(seed)
    docs = Gen.documents(spark, seed, nDocs).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    live = Array.fill(nDocs)(false)
    cdc.clear(); liveCdc.clear()
    twins = Seq(false) ++ (if (twin) Seq(true) else Nil)
    // bootstrap batch: 80% of the documents, one CDC batch of inserts
    val boot = docs.indices.filter(_ => rnd.nextInt(5) != 0)
    boot.foreach(live(_) = true)
    write(-1 - warmupOps, boot.map(j => Row("I", docs(j)._1, docs(j)._2)), cdcRows(CdcRows * 4, 0))
    twins.foreach(tr => commit(-1 - warmupOps, tr))
  }

  /** CDC rows: `ins` new (key, measure) inserts and `del` retractions of
    * live earlier inserts.
    */
  private def cdcRows(ins: Int, del: Int): Seq[Row] = {
    val d = (0 until math.min(del, liveCdc.size)).map { _ =>
      val j = rnd.nextInt(liveCdc.size)
      val x = liveCdc(j); liveCdc(j) = liveCdc.last; liveCdc.remove(liveCdc.size - 1)
      cdc += (("D", x._1, x._2)); Row("D", x._1, x._2)
    }
    val n = (0 until ins).map { _ =>
      val k = s"user_${rnd.nextInt(nKeys)}"
      val m = java.math.BigDecimal.valueOf(rnd.nextInt(100000), 2)
      liveCdc += ((k, m)); cdc += (("I", k, m)); Row("I", k, m)
    }
    d ++ n
  }

  private def write(i: Int, docRows: Seq[Row], cdc: Seq[Row]): Unit = {
    def out(rows: Seq[Row], schema: StructType, p: Path) =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(p.toString)
    out(docRows, DocSchema, docBatch(i))
    out(cdc, CdcSchema, cdcBatch(i))
    batchBytes = Fs.bytes(docBatch(i)) + Fs.bytes(cdcBatch(i))
    batchRows = docRows.size + cdc.size
  }

  /** Batch `i`: takedowns of live documents, inserts of documents not
    * live (new ones and re-inserts of earlier takedowns), CDC inserts and
    * retractions.
    */
  override def prepare(i: Int): Unit = {
    val dead = docs.indices.filter(!live(_))
    val liveIdx = docs.indices.filter(live(_))
    val takedown = (0 until DocOps).map(_ => liveIdx(rnd.nextInt(liveIdx.size))).distinct
    val insert = (0 until DocOps).map(_ => dead(rnd.nextInt(dead.size))).distinct
    takedown.foreach(live(_) = false)
    insert.foreach(live(_) = true)
    write(i, takedown.map(j => Row("D", docs(j)._1, docs(j)._2)) ++
      insert.map(j => Row("I", docs(j)._1, docs(j)._2)), cdcRows(CdcRows / 2, CdcRows / 2))
  }

  private def depth(dir: Path): (Long, Long) = {
    val s = new String(Files.readAllBytes(dir.resolve("CURRENT"))).trim.split(",")
    (s(1).toLong, s(2).toLong) // (version, base)
  }

  private def commit(i: Int, tr: Boolean): Long = {
    def sp[A](n: String)(a: => A): A = if (tr) Trace.span(n)(a) else a
    val d = spark.read.parquet(docBatch(i).toString)
    val c = spark.read.parquet(cdcBatch(i).toString)
    sp("streaming.postings.commit")(PostingsStream.applySignedBatchDelta(
      spark, pdir(tr).toString, d, batchId(i), compactEvery = CompactEvery))
    val served = sp("streaming.postings.serve")(graft.util.Consume.checksum(
      PostingsStream.bm25TopKDelta(spark, pdir(tr).toString, TextAnalysis.Bm25Queries)))
    sp("streaming.view.commit")(ViewMaintenance.applyBatchDelta(
      spark, vdir(tr).toString, c, batchId(i), compactEvery = CompactEvery))
    served
  }

  def op(i: Int, traced: Boolean): OpResult = {
    val served = commit(i, traced)
    val counts = if (!traced) Map.empty[String, Double] else {
      val views = Seq(pdir(true).resolve("docs"), pdir(true).resolve("postings"), vdir(true))
        .map(depth)
      Map("util.deltaview.log_depth" -> views.map { case (v, b) => (v - b).toDouble }.sum / views.size,
        "util.deltaview.compactions" -> views.count { case (v, b) => v == b }.toDouble)
    }
    OpResult(ok = true, batchRows.toDouble, batchBytes, served.toString, counts)
  }

  def writeRoots(traced: Boolean): Seq[Path] = Seq(pdir(traced), vdir(traced))

  def finalCheck(): Seq[String] = {
    val liveDocs = spark.createDataFrame(
      docs.indices.filter(live(_)).map(j => Row(docs(j)._1, docs(j)._2)).asJava,
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val bm25 = TextAnalysis.bm25TopK(liveDocs, "text", "doc_id", TextAnalysis.Bm25Queries)
    val allCdc = spark.createDataFrame(cdc.map { case (o, k, m) => Row(o, k, m) }.asJava, CdcSchema)
    val agg = Warehouse.maintainAgg(
      spark.createDataFrame(java.util.List.of[Row](), ViewMaintenance.ViewSchema), allCdc)
      .select(col("key"), col("cnt"), col("sum_m").cast(DecimalType(38, 2)))
    def differs(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).unionByName(b.exceptAll(a)).count()
    twins.flatMap { tr =>
      val who = if (tr) "traced" else "plain"
      val served = PostingsStream.bm25TopKDelta(spark, pdir(tr).toString, TextAnalysis.Bm25Queries)
      val view = ViewMaintenance.readViewDelta(spark, vdir(tr).toString, CompactEvery)
      Seq(
        Some(differs(served, bm25)).filter(_ > 0).map(n => s"$who BM25 differs from a rebuild in $n rows"),
        Some(differs(view, agg)).filter(_ > 0).map(n => s"$who view differs from maintainAgg in $n rows")
      ).flatten
    }
  }
}
