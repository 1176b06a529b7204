package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.cdc._
import graft.operators._

/** One benchmark run in one JVM at local[N], N = available processors.
  *
  * A run of either workload has the same three steps, so that every
  * end-to-end metric is measured on every workload:
  *  1. set-up (untimed except as `setup_s`): the seeded binlog is written
  *     three times, the median write counting, and warm-ups that run
  *     every timed path once or twice, so the JIT and Spark's code cache
  *     are warm before timing (see `run`). `run.py` has written the
  *     seeded query tables before the JVM starts and adds that time to
  *     `setup_s`;
  *  2. ingest, closed loop, one caller: rounds of a fresh table built
  *     from the whole binlog, at least one, until 35% of `--seconds`;
  *  3. cycles, at least `minCycles`, until 100%: on the last round's
  *     table a full scan, point lookups of seeded keys and chunked change
  *     reads, then a pass over the workload's query set to the noop sink.
  *     Interleaving the kinds spreads each kind's samples over the step,
  *     so their medians ride out a short stall of the host.
  * A round, cycle or pass starts only if one as long as the last can end
  * before its step's deadline. Correctness gates run after the timed
  * window and are never timed.
  *
  * `cdc_bulk` ingests a few large JSON-payload segments with
  * `Pipeline.replaySegments` (audit on, compaction off); `cdc_tail`
  * ingests one-file small segments with `graft.Submit tail` (audit on,
  * compaction every 4 delta groups, so batch 4 of 5 compacts and the p90
  * batch time is mostly that compaction batch's). The query sets split
  * the operator suite between the two workloads, so an operator change
  * has a workload whose queries it does not touch. */
object Main {

  /** `lookups` and `changes` are per read cycle; the set-up's warm-up
    * ingests the first `warmSegments` segments with `warmCompactEvery`. */
  final case class Workload(segments: Int, eventsPerSegment: Long, repos: Long, pathsPerRepo: Long,
      compactEvery: Int, warmSegments: Int, warmCompactEvery: Int, lookups: Int, changes: Int,
      queries: Seq[String])

  val workloads: Map[String, Workload] = Map(
    "cdc_bulk" -> Workload(3, 20000L, 1000L, 50L, 0, 2, 0, 3, 3, Seq(
      "q18_range_join_time", "q20_text_tokens", "q25_ngram_jaccard", "q35_multimodal_features")),
    "cdc_tail" -> Workload(5, 1000L, 300L, 20L, 4, 3, 2, 4, 3, Seq(
      "q15_cdc_lww", "q48_quick_nn", "q61_incremental_changes", "q62_time_travel")))

  /** Operator modules with a query in one of the workloads' sets. */
  val modules: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> Relational.all, "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
    "CdcOps" -> CdcOps.all,
    "MultimodalOps" -> MultimodalOps.all, "ToleranceOps" -> ToleranceOps.all)

  /** Read-and-query cycles a run times at least. */
  val minCycles = 3

  /** Heavy-tail queries timed one by one in the traced run. */
  val heavyTail: Seq[String] =
    Seq("q18_range_join_time", "q25_ngram_jaccard", "q48_quick_nn")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val wl = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val report =
      try new Run(spark, name, wl, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1", work, cores, opt("tables"), Paths.get(opt("counts"))).run()
      finally spark.stop()
    Files.writeString(Paths.get(opt("report")), Json.render(report))
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case s: QueryStageExec => leaves(s.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves)
  }
  private def scanMetric(p: SparkPlan, m: String): Long =
    leaves(p).collect { case f: FileSourceScanExec => f.metrics.get(m).map(_.value).getOrElse(0L) }.sum
  /** Files the executed plan's file scans read, after pruning. */
  def filesRead(p: SparkPlan): Long = scanMetric(p, "numFiles")
  /** Rows the executed plan's file scans produced. */
  def rowsScanned(p: SparkPlan): Long = scanMetric(p, "numOutputRows")

  /** Physical plan nodes that run outside whole-stage codegen, walking
    * through adaptive stages; exchanges and the sink are not counted. */
  def nonCodegen(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nonCodegen(a.executedPlan)
    case s: QueryStageExec => nonCodegen(s.plan)
    case w: WholeStageCodegenExec => codegenInputs(w.child)
    case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec | _: V2TableWriteExec |
        _: InputAdapter => p.children.map(nonCodegen).sum
    case other => 1 + other.children.map(nonCodegen).sum
  }
  private def codegenInputs(p: SparkPlan): Int = p match {
    case i: InputAdapter => nonCodegen(i.child)
    case other => other.children.map(codegenInputs).sum
  }
}

/** Timings of one operation kind; a failed attempt is recorded as an
  * infinite time, so it misses every latency limit and never reads as
  * fast. */
final class Samples {
  val xs = mutable.ArrayBuffer[Double]()
  var failed = 0
  def ok(v: Double): Unit = xs += v
  def fail(): Unit = { failed += 1; xs += Double.PositiveInfinity }
  def attempted: Int = xs.size
  def pct(p: Double): Double = Stats.pct(xs.toSeq, p)
}

object Stats {
  /** Percentile interpolated linearly between the closest ranks (as
    * numpy's default), 0 when empty; infinite when it reaches a failed
    * (infinite) sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (frac == 0.0 || lo + 1 >= s.size) s(lo)
      else if (s(lo + 1).isInfinite) Double.PositiveInfinity
      else s(lo) + frac * (s(lo + 1) - s(lo))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
  /** Length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** Host context from /proc: CPU jiffies (steal and busy) and peak RSS. */
object Host {
  def cpu(): Array[Long] = {
    val line = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
    line.trim.split("\\s+").drop(1).map(_.toLong)
  }
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

final class Run(spark: SparkSession, name: String, wl: Main.Workload, seed: Long, seconds: Double,
    traced: Boolean, work: Path, cores: Int, tablesDir: String, countsFile: Path) {

  private val trace = new Trace(spark.sparkContext, traced)
  private val errors = mutable.ArrayBuffer[String]()
  private val gates = mutable.LinkedHashMap[String, Boolean]()
  private def gate(k: String, ok: Boolean, detail: => String): Unit = {
    gates(k) = ok
    if (!ok) errors += s"gate $k failed $detail"
  }
  private def now(): Long = System.nanoTime()
  private val born = now()
  /** Progress line on stderr (the run's log), with seconds since start. */
  private def mark(what: String): Unit =
    System.err.println(f"perfbench ${secs(now() - born)}%7.2fs $what")
  private def secs(ns: Long): Double = ns / 1e9
  private def p(sub: String): String = work.resolve(sub).toString
  private def bytesUnder(dir: String, pred: Path => Boolean): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else scala.util.Using.resource(Files.walk(root)) { st =>
      val fs = st.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f)).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }
  }
  private def isData(f: Path): Boolean = {
    val n = f.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith(".")
  }

  private val cfg = GenConfig(seed = seed, numEvents = wl.segments * wl.eventsPerSegment,
    numRepos = wl.repos, pathsPerRepo = wl.pathsPerRepo)
  private val tail = name == "cdc_tail"

  // traced run: every executed query plan, drained after each timed call
  private val plans = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
  private def drainPlans(): Seq[SparkPlan] = {
    trace.drain()
    val out = new java.util.ArrayList[SparkPlan](); plans.drainTo(out); out.asScala.toSeq
  }

  def run(): Map[String, Any] = {
    trace.register(spark)
    if (traced) spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.put(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    val counts = mutable.LinkedHashMap[String, Long]()

    // ---- 1. set-up ---------------------------------------------------
    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    mark(f"spark session up, jvm up $jvmUp%.2fs")
    trace.phase("setup")
    // The seeded binlog is written three times and the median write
    // counts. After the first write, three lanes run concurrently so that
    // the JIT and Spark's code cache are warm on every timed path: one
    // ingests the log's first `warmSegments` segments into a table of its
    // own and runs a read cycle on that table; each of the other two
    // writes the binlog once more and runs half of the query set twice:
    // a first pass that dumps every output for the oracle and a second
    // one to the noop sink. `setup_s` is the median write
    // plus the wall time of the lanes.
    val logS = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    def writeLog(dir: String): Unit = {
      val t0 = now()
      trace.span("setup.log") {
        Pipeline.writeLogSegments(spark, cfg, dir, wl.segments, filesPerSegment = if (tail) 1 else 0)
      }
      logS.add(secs(now() - t0))
    }
    val logDir = p("setup1/log")
    writeLog(logDir)
    val raw = spark.read.schema(Pipeline.envelopeSchema).parquet(s"$logDir/seg-*")
    // seeded lookup sample: keys that occur in the log, in a seeded order
    val perKey = raw.groupBy("repo", "path").count().collect()
    val rawRows = perKey.map(_.getLong(2)).sum
    val keys = perKey.map(r => (r.getString(0), r.getString(1))).sorted
    val lookupKeys = new scala.util.Random(seed).shuffle(keys.toSeq).take(64)
    val warm0 = now()
    val all = graft.SparkEntry.queries
    val qout = p("queries")
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val cdcLane = scala.concurrent.Future {
      trace.phase("warm")
      (0 until wl.warmSegments).foreach { i =>
        val seg = f"seg-$i%05d"
        Files.createDirectories(Paths.get(p(s"warm/log/$seg")))
        scala.util.Using.resource(Files.list(Paths.get(s"$logDir/$seg")))(_.iterator().asScala
          .foreach(f => Files.copy(f, Paths.get(p(s"warm/log/$seg")).resolve(f.getFileName))))
      }
      trace.span("setup.warm_ingest") {
        ingest(p("warm/log"), p("warm/table"), p("warm/audit"), p("warm/ckpt"), wl.warmSegments,
          wl.warmCompactEvery)
      }
      trace.span("setup.warm_reads")(
        untimedReads(new LakeTable(p("warm/table")), lookupKeys, wl.lookups, wl.changes))
      mark("warm ingest and reads done")
    }
    val lanes = wl.queries.grouped((wl.queries.size + 1) / 2).toSeq.zipWithIndex.map { case (lane, i) =>
      scala.concurrent.Future {
        trace.phase("setup")
        writeLog(p(s"setup${i + 2}/log"))
        lane.foreach { q =>
          trace.phase(s"query.warm.$q")
          try trace.span("setup.warm_query") {
            all(q)(spark, tablesDir).coalesce(1).write.mode("overwrite").parquet(s"$qout/$q")
            spark.catalog.clearCache()
          }
          catch { case e: Throwable => errors.synchronized(errors += s"query $q (first pass): $e") }
        }
        lane.foreach { q =>
          trace.phase(s"query.warm.$q")
          // a query that failed its first pass is already counted there
          scala.util.Try(trace.span("setup.warm_query") {
            all(q)(spark, tablesDir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
          })
        }
        mark("warm query lane done")
      }
    }
    (cdcLane +: lanes).foreach(
      scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    Files.writeString(Paths.get(s"$qout/oracle_sql.json"), Json.render(
      wl.queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
    val warmS = secs(now() - warm0)
    trace.phase("setup")
    e2e("setup_s") = Stats.median(logS.asScala.toSeq) + warmS
    mark(f"set-up done: binlog writes ${logS.asScala.map(x => f"$x%.2f").mkString(" ")}s, " +
      f"lanes $warmS%.2fs")
    val binlogBytes = bytesUnder(logDir, isData)._2
    // each timed step starts on a collected heap, not on the garbage of
    // the step before it
    System.gc()

    val cpu0 = Host.cpu()
    val start = now()
    val deadline = (f: Double) => start + (f * seconds * 1e9).toLong
    // another round, cycle or pass starts only if one as long as the
    // last is expected to end before the step's deadline
    val fits = (lastNs: Long, f: Double) => now() + lastNs <= deadline(f)

    // ---- 2. ingest ---------------------------------------------------
    val epochMs = new Samples
    var events = 0L; var ingestNs = 0L; var rounds = 0
    val roundCounts = mutable.ArrayBuffer[Map[String, Long]]()
    val amp = mutable.ArrayBuffer[Double]()
    var lastTable: LakeTable = null; var lastAudit = ""
    var drainNs = 0L; var roundNs = 0L
    val progress0 = trace.progress.size
    while (rounds == 0 || fits(roundNs, 0.35)) {
      val r = rounds
      val (tableDir, auditDir) = (p(s"round$r/table"), p(s"round$r/audit"))
      trace.phase(s"ingest.$r")
      val p0 = trace.progress.size
      val t0 = now()
      val stats = scala.util.Try(trace.span("ingest.round") {
        ingest(logDir, tableDir, auditDir, p(s"round$r/ckpt"), wl.segments, wl.compactEvery)
      })
      val t1 = now()
      rounds += 1; roundNs = t1 - t0
      stats match {
        case scala.util.Failure(e) =>
          errors += s"ingest round $r: $e"
          (0 until wl.segments).foreach(_ => epochMs.fail())
        case scala.util.Success(st) =>
          ingestNs += t1 - t0
          events += rawRows
          if (tail) {
            val batches = trace.synchronized(trace.progress.slice(p0, trace.progress.size).toSeq)
              .filter(_.containsKey("addBatch"))
            batches.foreach(b => epochMs.ok(b.get("triggerExecution").toDouble))
          } else st.foreach(s => epochMs.ok(s.wallMs.toDouble))
          trace.drain()
          val jobs = trace.jobsIn(s"ingest.$r")
          val written = jobs.flatMap(_.stages).map(_.bytesWritten).sum
          amp += written.toDouble / binlogBytes
          val lastNonAudit = jobs.filterNot(_.owner.startsWith("Audit.")).map(_.endNs)
          if (traced && lastNonAudit.nonEmpty) drainNs += math.max(0L, t1 - lastNonAudit.max)
          val (files, bytes) = bytesUnder(s"$tableDir/data", isData)
          val t = new LakeTable(tableDir)
          roundCounts += Map(
            "lake.files_written" -> files, "lake.bytes_written" -> bytes,
            "lake.versions" -> t.latest().map(_.version).getOrElse(0L),
            "lake.delta_groups" -> t.deltaGroupCount.toLong,
            "ingest.shuffle_bytes" -> jobs.flatMap(_.stages).map(_.shuffleWrite).sum)
          lastTable = t; lastAudit = auditDir
      }
    }
    e2e("events_per_s") = if (ingestNs > 0) events / secs(ingestNs) else 0.0
    e2e("epoch_ms_p50") = epochMs.pct(0.5)
    e2e("epoch_ms_p90") = epochMs.pct(0.9)
    e2e("write_amp") = Stats.median(amp.toSeq)

    mark(s"ingest done: $rounds rounds")
    // ---- 3. reads and queries, interleaved ---------------------------
    // Each cycle runs a full scan, point lookups and chunked change reads
    // on the last round's table and then a pass over the query set, so
    // the samples of every kind spread over the whole step and their
    // medians ride out a short stall of the host.
    val scanS = new Samples; val lookupMs = new Samples; val changesS = new Samples
    val manifestMs = mutable.ArrayBuffer[Double]()
    val lookedUp = mutable.ArrayBuffer[((String, String), Seq[Seq[String]])]()
    var changeRows = -1L; var changeRange = (0L, 0L)
    var scanFiles = 0L; var lookupFiles = 0L; var lookupRows = 0L; var changeFiles = 0L
    val perQuery = wl.queries.map(_ -> new Samples).toMap
    val planMs = mutable.ArrayBuffer[Double](); val nonCg = mutable.ArrayBuffer[Double]()
    var li = 0; var cycles = 0; var cycleNs = 0L
    val head = Option(lastTable).flatMap(_.latest()).map(_.version).getOrElse(0L)
    val since = math.max(0L, head - math.max(1L, head / 2))
    changeRange = (since, head)
    if (lastTable != null) {
      // the first read of a table pays for its own file listing and
      // footers; one untimed read of each kind lets those fill
      trace.phase("warm.reads")
      untimedReads(lastTable, lookupKeys.drop(lookupKeys.size - 1), 1, 1)
    }
    System.gc()
    while (cycles < Main.minCycles || fits(cycleNs, 1.0)) {
      cycles += 1
      val c0 = now()
      if (lastTable != null) {
        val m0 = now(); lastTable.latest(); manifestMs += (now() - m0) / 1e6
        trace.phase("reads.scan", "LakeTable.read")
        if (traced) drainPlans()
        val t0 = now()
        scala.util.Try(trace.span("read.scan") {
          lastTable.read(spark).write.format("noop").mode("overwrite").save()
        }) match {
          case scala.util.Success(_) =>
            scanS.ok(secs(now() - t0)); if (traced) scanFiles = drainPlans().map(Main.filesRead).sum
          case scala.util.Failure(e) => scanS.fail(); errors += s"scan: $e"
        }
        (0 until wl.lookups).foreach { _ =>
          val k = lookupKeys(li % lookupKeys.size); li += 1
          trace.phase("reads.lookup", "LakeTable.readKey")
          if (traced) drainPlans()
          val t1 = now()
          scala.util.Try(trace.span("read.lookup") {
            lastTable.readKey(spark, k._1, k._2).select(Fold.stateCols.map(F.col): _*).collect()
          }) match {
            case scala.util.Success(rows) =>
              lookupMs.ok((now() - t1) / 1e6)
              lookedUp += k -> rows.toSeq.map(r => r.toSeq.map(String.valueOf))
              if (traced) drainPlans().foreach { pl =>
                lookupFiles += Main.filesRead(pl); lookupRows += Main.rowsScanned(pl)
              }
            case scala.util.Failure(e) => lookupMs.fail(); errors += s"lookup $k: $e"
          }
        }
        (0 until wl.changes).foreach { _ =>
          trace.phase("reads.changes", "LakeTable.readChangesChunked")
          if (traced) drainPlans()
          val t2 = now()
          scala.util.Try(trace.span("read.changes") {
            lastTable.readChangesChunked(spark, since, head).changes.count()
          }) match {
            case scala.util.Success(n) =>
              changesS.ok(secs(now() - t2)); changeRows = n
              if (traced) changeFiles = drainPlans().map(Main.filesRead).sum
            case scala.util.Failure(e) => changesS.fail(); errors += s"changes: $e"
          }
        }
      } else Seq(scanS, lookupMs, changesS).foreach(_.fail())
      var passPlan = 0.0; var passNonCg = 0
      wl.queries.foreach { q =>
        trace.phase(s"query.timed.$q",
          Main.modules.collectFirst { case (m, qs) if qs.contains(q) => s"ops.$m" }.getOrElse(""))
        if (traced) drainPlans()
        val t0 = now()
        scala.util.Try(trace.span(s"query.$q") {
          val df = all(q)(spark, tablesDir)
          if (traced) {
            val pt = now(); df.queryExecution.executedPlan; passPlan += (now() - pt) / 1e6
          }
          df.write.format("noop").mode("overwrite").save()
        }) match {
          case scala.util.Success(_) => perQuery(q).ok(secs(now() - t0))
          case scala.util.Failure(e) => perQuery(q).fail(); errors += s"query $q: $e"
        }
        spark.catalog.clearCache()
        if (traced) passNonCg += drainPlans().map(Main.nonCodegen).sum
      }
      planMs += passPlan; nonCg += passNonCg
      cycleNs = now() - c0
    }
    val passes = cycles
    e2e("scan_s") = scanS.pct(0.5)
    e2e("lookup_ms_p50") = lookupMs.pct(0.5)
    e2e("lookup_ms_p90") = lookupMs.pct(0.9)
    e2e("changes_s") = changesS.pct(0.5)
    val qMedian = perQuery.map { case (q, s) => q -> s.pct(0.5) }
    e2e("query_total_s") = qMedian.values.sum
    val end = now()
    val cpu1 = Host.cpu()
    e2e("peak_rss_mb") = Host.peakRssMb()

    mark(s"reads and queries done: $cycles cycles")
    // ---- gates (untimed) ---------------------------------------------
    trace.phase("gate")
    if (lastTable != null) {
      val want = Fold.state(raw)
      val got = Oracle.digest(lastTable.read(spark), Fold.stateCols)
      val exp = Oracle.digest(want, Fold.stateCols)
      gate("cdc_digest", got == exp, s"table=$got fold=$exp")
      val sampled = lookupKeys.map(k => s"${k._1}\u0000${k._2}")
      val wantRows = want.filter(F.concat_ws("\u0000", F.col("repo"), F.col("path")).isin(sampled: _*))
        .select(Fold.stateCols.map(F.col): _*).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.map(String.valueOf)).toMap
      val bad = lookedUp.filterNot { case (k, rows) => rows == wantRows.get(k).toSeq }
      gate("lookups_match_fold", bad.isEmpty, bad.take(3).mkString("; "))
      // exactly-once: every epoch commits once; every other version is a rewrite
      val head = lastTable.latest().get.version
      val snaps = (0L to head).flatMap(lastTable.snapshotAt)
      var prev: Option[Snapshot] = None
      val epochs = mutable.ArrayBuffer[Long](); var rewrites = 0
      snaps.foreach { s =>
        if (prev.forall(_.epochId < s.epochId)) epochs += s.epochId
        else if (s.groups.exists(g => g.kind == "base" || g.excludedBuckets.nonEmpty) &&
          s.groups != prev.get.groups) rewrites += 1
        else epochs += s.epochId
        prev = Some(s)
      }
      gate("exactly_once", epochs == (0L until wl.segments) &&
        snaps.size == wl.segments + rewrites && (tail || rewrites == 0),
        s"epochs=$epochs versions=${snaps.size} rewrites=$rewrites")
      layers("lake.compactions") = rewrites
      val audit = new Audit(lastAudit).read(spark)
      val applied = audit.filter(F.col("snapshot_version") > changeRange._1 &&
        F.col("snapshot_version") <= changeRange._2)
        .agg(F.sum("rows_applied")).collect()(0)
      val appliedKeys = if (applied.isNullAt(0)) 0L else applied.getLong(0)
      gate("changes_match_applied", changeRows == appliedKeys,
        s"changes=$changeRows applied=$appliedKeys")
      val per = audit.groupBy("epoch_id").agg(
        F.max("source_rows").as("src"),
        F.sum("rows_applied").as("keys"),
        F.max("wall_ms").as("wall")).collect()
      val src = per.map(_.getLong(1)).sum; val k = per.map(_.getLong(2)).sum
      layers("apply.rows_per_key") = if (k > 0) src.toDouble / k else 0.0
      layers("apply.ms") = Stats.median(per.map(_.getLong(3).toDouble).toSeq)
      layers("audit.files") = bytesUnder(lastAudit, isData)._1.toDouble
    }
    mark("gates done")
    // count metrics repeat exactly across rounds and across runs of a seed
    if (roundCounts.nonEmpty) {
      roundCounts.head.foreach { case (k, v) => counts(k) = v }
      val drift = roundCounts.filter(_ != roundCounts.head)
      gate("counts_repeat_in_run", drift.isEmpty, s"${roundCounts.head} vs ${drift.headOption}")
      if (Files.exists(countsFile)) {
        val before = Files.readString(countsFile)
        gate("counts_repeat_across_runs", before == Json.render(counts.toMap),
          s"stored=$before now=${Json.render(counts.toMap)}")
      } else {
        Files.createDirectories(countsFile.getParent)
        Files.writeString(countsFile, Json.render(counts.toMap))
      }
    }

    // ---- per-layer metrics (traced run) --------------------------------
    if (traced) {
      trace.drain()
      val batches = trace.synchronized(trace.progress.drop(progress0).toSeq)
        .filter(_.containsKey("addBatch"))
      def dur(keys: String*): Double =
        Stats.median(batches.map(b =>
          keys.map(k => Option(b.get(k)).map(_.toLong).getOrElse(0L)).sum.toDouble))
      layers("tail.planning_ms") = dur("queryPlanning")
      layers("tail.offsets_ms") = dur("latestOffset", "getBatch", "commitOffsets")
      layers("tail.wal_ms") = dur("walCommit")
      val ingestJobs = trace.jobsIn("ingest.")
      // per-epoch apply figures from the last round, whose audit gave apply.ms
      val nEpochs = wl.segments
      val applyJobs = trace.jobsIn(s"ingest.${rounds - 1}")
        .filter(j => j.owner == "LakeTable.upsert" || j.owner == "Apply.applyEpoch")
      val applyStages = applyJobs.flatMap(_.stages)
      def stageMs(s: StageAgg) = (s.endNs - s.submitNs) / 1e6
      layers("apply.scan_reduce_ms") = applyStages.filter(_.shuffleWrite > 0).map(stageMs).sum / nEpochs
      layers("apply.write_ms") = applyStages.filter(_.bytesWritten > 0).map(stageMs).sum / nEpochs
      layers("apply.shuffle_bytes") = applyStages.map(_.shuffleWrite).sum.toDouble / nEpochs
      layers("apply.spill_bytes") = applyStages.map(_.spill).sum.toDouble / nEpochs
      def skew(st: Seq[StageAgg]) = Stats.median(st.filter(_.taskMs.size > 1).map { s =>
        val m = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        if (m > 0) s.taskMs.max / m else 1.0
      })
      layers("apply.task_skew") = skew(applyStages)
      val applyBusyNs = Stats.covered(applyJobs.map(j => (j.startNs, j.endNs)))
      val applyWallMs = layers.getOrElse("apply.ms", 0.0) * nEpochs
      layers("apply.core_util") =
        if (applyBusyNs > 0) applyStages.map(_.runMs).sum / (applyBusyNs / 1e6 * cores) else 0.0
      layers("apply.driver_ms") = math.max(0.0, applyWallMs - applyBusyNs / 1e6) / nEpochs
      val compactJobs = ingestJobs.filter(_.owner.startsWith("LakeTable.compact"))
      layers("compact.ms") = Stats.covered(compactJobs.map(j => (j.startNs, j.endNs))) / 1e6 / rounds
      layers("compact.bytes_rewritten") =
        compactJobs.flatMap(_.stages).map(_.bytesWritten).sum.toDouble / rounds
      val auditJobs = ingestJobs.filter(_.owner.startsWith("Audit."))
      layers("audit.busy_ms") = Stats.covered(auditJobs.map(j => (j.startNs, j.endNs))) / 1e6 / rounds
      layers("audit.drain_ms") = drainNs / 1e6 / rounds
      val measured = Seq("ingest.", "reads.", "query.timed.").flatMap(trace.jobsIn)
      val jobNs = (js: Seq[JobAgg]) => js.map(j => (j.endNs - j.startNs).toDouble).sum
      layers("trace.unattributed_frac") =
        if (measured.isEmpty) 0.0 else jobNs(measured.filter(_.owner.isEmpty)) / jobNs(measured)
      layers("lake.manifest_ms") = Stats.median(manifestMs.toSeq)
      layers("scan.files") = scanFiles.toDouble
      layers("lookup.files_read") = lookupFiles.toDouble / math.max(1, lookupMs.attempted)
      layers("lookup.rows_scanned") = lookupRows.toDouble / math.max(1, lookupMs.attempted)
      layers("changes.files") = changeFiles.toDouble
      Main.modules.foreach { case (m, qs) =>
        layers(s"ops.$m.s") = qMedian.filter(q => qs.contains(q._1)).values.sum
      }
      Main.heavyTail.foreach(q => layers(s"q.$q.s") = qMedian.getOrElse(q, 0.0))
      val qStages = trace.jobsIn("query.timed").flatMap(_.stages)
      layers("query.plan_ms") = Stats.median(planMs.toSeq)
      layers("query.shuffle_bytes") = qStages.map(_.shuffleWrite).sum.toDouble / passes
      layers("query.spill_bytes") = qStages.map(_.spill).sum.toDouble / passes
      layers("query.task_skew") = skew(qStages)
      layers("query.non_codegen_nodes") = Stats.median(nonCg.toSeq)
    }
    counts.foreach { case (k, v) => layers(k) = v.toDouble }
    val jiff = cpu1.zip(cpu0).map { case (a, b) => a - b }
    val total = jiff.take(8).sum.toDouble
    layers("host.steal_s") = jiff(7) / 100.0
    layers("host.cpu_util") = if (total > 0) (total - jiff(3) - jiff(4)) / total else 0.0
    layers("host.cores") = cores
    layers("host.measured_s") = secs(end - start)

    val ops = Seq(epochMs, scanS, lookupMs, changesS) ++ perQuery.values
    Map(
      "workload" -> name, "seed" -> seed, "trace" -> traced, "run_id" -> trace.runId,
      "attempted" -> ops.map(_.attempted).sum, "failed" -> ops.map(_.failed).sum,
      "gates" -> gates.toMap, "errors" -> errors.toSeq,
      "e2e" -> e2e.toMap, "layers" -> layers.toMap,
      "samples" -> Map("epochs" -> epochMs.attempted, "lookups" -> lookupMs.attempted,
        "scans" -> scanS.attempted, "changes" -> changesS.attempted, "query_passes" -> passes,
        "rounds" -> rounds),
      "raw" -> Map("epoch_ms" -> epochMs.xs.toSeq, "scan_s" -> scanS.xs.toSeq,
        "lookup_ms" -> lookupMs.xs.toSeq, "changes_s" -> changesS.xs.toSeq,
        "query_s" -> perQuery.map { case (q, s) => q -> s.xs.toSeq }),
      "spans" -> (if (traced) trace.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)) else Nil),
      "jobs" -> (if (traced) trace.jobs.values.toSeq.map(j => Map("id" -> j.jobId,
        "phase" -> j.phase, "owner" -> j.owner, "start_ns" -> j.startNs, "end_ns" -> j.endNs))
        else Nil))
  }

  /** One ingest of `segments` binlog segments into a fresh table. */
  private def ingest(logDir: String, tableDir: String, auditDir: String, ckpt: String,
      segments: Int, compactEvery: Int): Seq[ApplyStats] =
    if (tail) {
      graft.Submit.run(spark, Array("tail", logDir, tableDir, ckpt,
        "--audit", auditDir, "--compact-every", compactEvery.toString))
      Nil
    } else Pipeline.replaySegments(spark, logDir, tableDir, segments, Some(new Audit(auditDir)))

  /** A full scan, `lookups` point lookups and `changes` chunked change
    * reads over the last half of the versions, untimed. */
  private def untimedReads(t: LakeTable, keys: Seq[(String, String)], lookups: Int,
      changes: Int): Unit = {
    val head = t.latest().map(_.version).getOrElse(0L)
    t.read(spark).write.format("noop").mode("overwrite").save()
    keys.take(lookups).foreach(k =>
      t.readKey(spark, k._1, k._2).select(Fold.stateCols.map(F.col): _*).collect())
    (0 until changes).foreach(_ =>
      t.readChangesChunked(spark, math.max(0L, head - math.max(1L, head / 2)), head).changes.count())
  }
}

/** Minimal JSON rendering for the report. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => render(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
