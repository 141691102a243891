package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.sources.dwrf.{DwrfFileReader, DwrfLog}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    out: String, sizes: Sizes = Sizes(), setupReps: Int = 3)

/** One op as run: its latency, whether its answer was right, and (traced
  * runs) its layer numbers. */
final case class OpRecord(kind: String, ms: Double, ok: Boolean, rows: Long, rowsChanged: Long,
    rowsReturned: Long, traced: Boolean, layers: Map[String, Double], storedRatio: Option[Double])

final case class Metric(value: Double, unit: String)

final case class Result(attempted: Int, failed: Int, metrics: Map[String, Metric],
    detail: Map[String, Any]) {
  def correct: Boolean = failed == 0
}

/** The closed-loop runner: one client thread issues the next op only when
  * the previous one has returned. */
final class Runner(val w: Workload, tracer: => Option[Tracer]) {
  val records = mutable.ArrayBuffer[OpRecord]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0
  var failed = 0
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
  private def conf = w.spark.sparkContext.hadoopConfiguration

  def snapshot(): DwrfLog.Snapshot = DwrfLog.latest(w.root, conf).getOrElse(
    throw new IllegalStateException(s"no snapshot log under ${w.root}"))

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Runs, times and checks one op; `record` = false for warm-up ops. */
  def runOp(op: Op, record: Boolean = true): OpRecord = {
    attempted += 1
    val t = if (record) tracer else None
    val id = attempted
    val before = snapshot()
    t.foreach(_.begin())
    val startMs = nowMs
    val t0 = System.nanoTime()
    val res = Try(op.run())
    val ms = (System.nanoTime() - t0) / 1e6
    val layers = t.map(_.end(id, op.kind, startMs, startMs + ms)).getOrElse(Map.empty[String, Double])
    val snapStart = nowMs
    val after = snapshot()
    val snapMs = nowMs - snapStart
    t.foreach(_.span("log.snapshot_read", snapStart, snapStart + snapMs, None, id))
    val error = res match {
      case Failure(e) => Some(s"${op.kind}: $e")
      case Success(r) => Try(op.check(r, before, after)) match {
        case Success(bad) => bad.map(b => s"${op.kind}: $b")
        case Failure(e) => Some(s"${op.kind}: check failed: $e")
      }
    }
    op.release()
    error.foreach(fail)
    // what the op committed, read from the log and the committed files
    // themselves: the write path's own byte and stripe counters are taken
    // before its files are closed
    val logLayers = if (t.isEmpty) Map.empty[String, Double] else {
      val fs = w.root.getFileSystem(conf)
      val added = (after.files.toSet -- before.files).toSeq.map(new Path(w.root, _))
      val newDvs = (after.dvs.values.toSet -- before.dvs.values).toSeq.map(new Path(w.root, _))
      def bytes(ps: Seq[Path]) = ps.map(fs.getFileStatus(_).getLen.toDouble).sum
      val stripes = added.map { f =>
        val r = new DwrfFileReader(f, conf)
        try r.footer.stripes.size finally r.close()
      }.sum
      Map(
        "log.versions" -> (after.version - before.version).toDouble,
        "log.snapshot_read_ms" -> snapMs,
        "writer.bytes_out" -> bytes(added),
        "writer.stripes" -> stripes.toDouble,
        "dml.files_added" -> added.size.toDouble,
        "dml.files_removed" -> (before.files.toSet -- after.files).size.toDouble,
        "dml.bytes_written" -> (bytes(added) + bytes(newDvs)),
        "dml.dvs_live" -> after.dvs.size.toDouble)
    }
    // space of the live version after each read op (`w.read`): its data
    // files and delete vectors over the raw bytes of its rows
    val storedRatio = if (!record || error.nonEmpty || !w.read(op.kind)) None else {
      val fs = w.root.getFileSystem(conf)
      val live = (after.files ++ after.dvs.values).map(f => fs.getFileStatus(new Path(w.root, f)).getLen)
      Some(live.sum / w.rawBytes.toDouble)
    }
    val rec = OpRecord(op.kind, ms, error.isEmpty, op.rows, op.rowsChanged, op.rowsReturned,
      t.nonEmpty, layers ++ logLayers, storedRatio)
    if (record) records += rec
    rec
  }
}

object Main {
  val Workloads = Seq("scan", "ingest", "mutate")
  val DmlKinds = Set("delete", "update", "merge", "optimize")

  /** End-to-end metrics: every workload reports every one. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "short_op_p50_ms" -> "ms",
    "short_op_tail_ms" -> "ms", "long_op_p50_ms" -> "ms", "stored_bytes_per_raw_byte" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics of a traced run. Per-op numbers are means over the
    * traced ops, so the three self times add up to the mean op wall time. */
  val PerOpMeans: Seq[(String, String)] = Seq(
    "op.wall_ms" -> "ms", "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.self_ms" -> "ms", "executor.job_ms" -> "ms",
    "driver.residual_ms" -> "ms", "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms", "executor.sched_delay_ms" -> "ms", "shuffle.read_bytes" -> "bytes",
    "shuffle.write_bytes" -> "bytes", "pruning.stripes_read" -> "count",
    "pruning.stripes_skipped" -> "count", "pruning.strides_skipped" -> "count",
    "pruning.strides_bloom_skipped" -> "count", "reader.bytes_read" -> "bytes",
    "reader.preads" -> "count", "reader.batches" -> "count", "reader.decompress_ms" -> "ms",
    "writer.encode_ms" -> "ms", "writer.compress_ms" -> "ms", "writer.flush_ms" -> "ms",
    "writer.compress_blocks" -> "count", "writer.stripes" -> "count", "writer.bytes_out" -> "bytes",
    "log.versions" -> "count")

  val PerLayer: Seq[(String, String)] = PerOpMeans ++ Seq(
    "pruning.rows_surfaced_per_row_returned" -> "ratio", "log.snapshot_read_ms" -> "ms",
    "log.dir_bytes" -> "bytes", "dml.files_added_per_op" -> "count",
    "dml.files_removed_per_op" -> "count", "dml.dvs_live" -> "count",
    "dml.bytes_written_per_row_changed" -> "bytes", "dml.optimize_ms" -> "ms",
    "tracing_overhead" -> "ratio", "ops_failed_ratio" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val launchMs = sys.props.get("perfbench.launchMs").map(_.toLong)
      .getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime)
    val r = run(a, launchMs)
    val doc = Map("correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) },
      "detail" -> r.detail)
    Files.write(Paths.get(a.out, "result.json"), Stats.json(doc).getBytes(UTF_8))
    r.metrics.toSeq.sortBy(_._1).foreach { case (k, m) => println(f"$k%-40s ${m.value}%.6g ${m.unit}") }
    System.out.flush()
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(Workloads.contains(wl), s"unknown workload $wl (${Workloads.mkString(", ")})")
    Args(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("out"))
  }

  def session(k: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(out, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, gen: Gen, sizes: Sizes): Workload = name match {
    case "scan" => new ScanWorkload(spark, gen, sizes)
    case "ingest" => new IngestWorkload(spark, gen, sizes)
    case "mutate" => new MutateWorkload(spark, gen, sizes)
  }

  def run(a: Args, launchMs: Long, existing: Option[SparkSession] = None): Result = {
    val load1Start = load1()
    val k = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = existing.getOrElse(session(k, a.out))
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val w = workload(a.workload, spark, Gen(a.seed), a.sizes)
    val conf = spark.sparkContext.hadoopConfiguration
    val tables = new Path(Paths.get(a.out, "tables").toAbsolutePath.toUri)
    val fs = tables.getFileSystem(conf)

    // set-up: session start once, then the table preparation `setupReps`
    // times into fresh directories (the median counts), then one warm-up
    val prepS = (0 until a.setupReps).map { rep =>
      val t0 = System.nanoTime()
      w.prepare(new Path(tables, s"${w.name}-r$rep"))
      (System.nanoTime() - t0) / 1e9
    }
    (0 until a.setupReps - 1).foreach(rep => fs.delete(new Path(tables, s"${w.name}-r$rep"), true))
    val m0 = System.nanoTime()
    w.buildModel()
    val modelS = (System.nanoTime() - m0) / 1e9
    var tracer: Option[Tracer] = None
    val runner = new Runner(w, tracer)
    val warm0 = System.nanoTime()
    (0 until w.warmUpOps).foreach(_ => runner.runOp(w.next(), record = false))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + Stats.median(prepS) + warmS
    val gc0 = gcMs()

    // the timed loop; a traced run spends its first half untraced (the
    // tracing-overhead baseline), then attaches the listeners
    val cpu0 = cpuTimes()
    val loop0 = System.nanoTime()
    val deadline = loop0 + (a.seconds * 1e9).toLong
    val traceFrom = if (a.trace) loop0 + (a.seconds * 0.5e9).toLong else Long.MaxValue
    var buildNs = 0L
    while (System.nanoTime() < deadline) {
      if (tracer.isEmpty && System.nanoTime() >= traceFrom) tracer = Some(new Tracer(spark))
      val b0 = System.nanoTime()
      val op = w.next()
      buildNs += System.nanoTime() - b0
      runner.runOp(op)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    // share of the machine's CPU time the hypervisor gave to others while
    // the loop ran: a slow run on a busy host shows here
    val stealPct = cpuTimes().zip(cpu0).map { case (x, y) => x - y } match {
      case d if d.length > 7 && d.sum > 0 => 100.0 * d(7) / d.sum
      case _ => Double.NaN
    }
    tracer.foreach(_.detach())
    val gcLoopMs = gcMs() - gc0
    val last = runner.snapshot()
    val tableBytes = du(w.root)
    val logBytes = du(DwrfLog.logDir(w.root))
    val liveRows = w.liveRows
    val rawBytes = w.rawBytes
    runner.attempted += 1
    val f0 = System.nanoTime()
    Try(w.finalCheck()) match {
      case Success(bad) => bad.foreach(b => runner.fail(s"final check: $b"))
      case Failure(e) => runner.fail(s"final check: $e")
    }
    val finalCheckS = (System.nanoTime() - f0) / 1e9

    val recs = runner.records.toSeq
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def e2e(rs: Seq[OpRecord]): Map[String, Double] = {
      val ok = rs.filter(_.ok)
      def ms(kind: String) = ok.filter(_.kind == kind).map(_.ms)
      // rows over the time the ops would take at each kind's median
      // latency: one stalled op moves a median, not the whole rate
      val read = ok.filter(r => w.read(r.kind))
      val readMs = read.groupBy(_.kind).values.map(rs => rs.size * p50(rs.map(_.ms))).sum
      Map(
        "rows_per_s" -> (if (read.isEmpty) Double.NaN else read.map(_.rows).sum / (readMs / 1e3)),
        "short_op_p50_ms" -> p50(ms(w.short)),
        "short_op_tail_ms" -> Stats.tail(ms(w.short)).map(_.value).getOrElse(Double.NaN),
        "long_op_p50_ms" -> p50(ms(w.long)))
    }
    val peakRss = vmHwmMb()
    val endToEnd = e2e(recs) ++ Map(
      "setup_s" -> setupS,
      "stored_bytes_per_raw_byte" -> p50(recs.flatMap(_.storedRatio)),
      "peak_rss_mb" -> peakRss)

    val traced = recs.filter(_.traced)
    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      def mean(rs: Seq[OpRecord], key: String) =
        if (rs.isEmpty) 0.0 else rs.map(_.layers.getOrElse(key, 0.0)).sum / rs.size
      val lookups = traced.filter(_.rowsReturned > 0)
      val dml = traced.filter(r => DmlKinds(r.kind))
      val changed = dml.map(_.rowsChanged).sum
      val optimize = traced.filter(_.kind == "optimize").map(_.ms)
      val base = e2e(recs.filterNot(_.traced))("short_op_p50_ms")
      PerOpMeans.map { case (key, _) => key -> mean(traced, key) }.toMap ++ Map(
        "pruning.rows_surfaced_per_row_returned" ->
          (if (lookups.isEmpty) 0.0
           else lookups.map(_.layers("pruning.rows_surfaced")).sum / lookups.map(_.rowsReturned).sum),
        "log.snapshot_read_ms" -> Stats.median(traced.map(_.layers("log.snapshot_read_ms"))),
        "log.dir_bytes" -> logBytes.toDouble,
        "dml.files_added_per_op" -> mean(dml, "dml.files_added"),
        "dml.files_removed_per_op" -> mean(dml, "dml.files_removed"),
        "dml.dvs_live" -> last.dvs.size.toDouble,
        "dml.bytes_written_per_row_changed" ->
          (if (changed == 0) 0.0 else dml.map(_.layers("dml.bytes_written")).sum / changed),
        "dml.optimize_ms" -> (if (optimize.isEmpty) 0.0 else Stats.median(optimize)),
        "tracing_overhead" -> e2e(traced)("short_op_p50_ms") / base,
        "ops_failed_ratio" -> runner.failed.toDouble / runner.attempted)
    }
    val metrics =
      if (a.trace) PerLayer.map { case (key, u) => key -> Metric(perLayer(key), u) }.toMap
      else EndToEnd.map { case (key, u) => key -> Metric(endToEnd(key), u) }.toMap

    tracer.foreach(t => writeSpans(Paths.get(a.out, "spans.jsonl"), t.spans))
    val files = last.files.size
    fs.delete(tables, true)
    val detail = Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "context" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "master" -> s"local[$k]",
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "load1_start" -> load1Start, "load1_end" -> load1(), "gc_ms_loop" -> gcLoopMs,
        "steal_pct_loop" -> stealPct,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
        "source_sha256" -> sys.props.getOrElse("perfbench.sourceHash", "unknown"),
        "flush_policy" -> "local Hadoop filesystem, no fsync"),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warm_up_s" -> warmS,
        "model_s" -> modelS),
      "table" -> Map("live_rows" -> liveRows, "raw_bytes" -> rawBytes,
        // everything under the table directory, retained versions included
        "disk_bytes" -> tableBytes, "disk_bytes_per_raw_byte" -> tableBytes.toDouble / rawBytes,
        "log_bytes" -> logBytes, "data_files" -> files, "delete_vectors" -> last.dvs.size,
        "version" -> last.version,
        "stored_ratio_base" -> ("median over read ops of the live version's data files and " +
          "delete vectors over the raw bytes of the live generated rows at natural widths")),
      "loop_s" -> loopS, "final_check_s" -> finalCheckS,
      // loop time spent timing ops, and building them (generating batches,
      // computing expected answers)
      "loop_op_s" -> recs.map(_.ms).sum / 1e3, "loop_build_s" -> buildNs / 1e9,
      "ops" -> recs.groupBy(_.kind).map { case (kind, rs) =>
        val ok = rs.filter(_.ok).map(_.ms)
        kind -> Map("n" -> rs.size, "failed" -> rs.count(!_.ok),
          "p50_ms" -> (if (ok.isEmpty) Double.NaN else Stats.median(ok)),
          "tail" -> Stats.tail(ok).map(t => Map("ms" -> t.value, "percentile" -> t.percentile,
            "beyond" -> t.beyond, "samples" -> t.samples)))
      },
      "op_metrics" -> opMetrics(w, recs, endToEnd, runner),
      "failures" -> runner.failures.toSeq,
      // every SQL metric of the executed plans, summed per op, mean per op kind
      "plan_metrics_by_kind" -> traced.groupBy(_.kind).map { case (kind, rs) =>
        kind -> rs.flatMap(_.layers.keys.filter(_.startsWith("plan."))).distinct.sorted.map(key =>
          key.stripPrefix("plan.") -> rs.map(_.layers.getOrElse(key, 0.0)).sum / rs.size).toMap
      },
      "tracing_overhead_all" -> (if (!a.trace) Map.empty else {
        val (base, tr) = (e2e(recs.filterNot(_.traced)), e2e(traced))
        tr.map { case (key, v) => key -> v / base(key) }
      }))
    Result(runner.attempted, runner.failed, metrics, detail)
  }

  /** The workload's end-to-end numbers under their operation-specific names. */
  private def opMetrics(w: Workload, recs: Seq[OpRecord], e: Map[String, Double],
      runner: Runner): Map[String, Any] = {
    val ok = recs.filter(_.ok)
    def ms(kinds: String*) = ok.filter(r => kinds.contains(r.kind)).map(_.ms)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def tail(xs: Seq[Double]) = Stats.tail(xs).map(t =>
      Map("ms" -> t.value, "percentile" -> t.percentile, "samples" -> t.samples, "beyond" -> t.beyond))
    val common = Map("setup_s" -> e("setup_s"),
      "stored_bytes_per_raw_byte" -> e("stored_bytes_per_raw_byte"),
      "ops_failed_ratio" -> Map("value" -> runner.failed.toDouble / runner.attempted,
        "failed" -> runner.failed, "attempted" -> runner.attempted),
      "peak_rss_mb" -> e("peak_rss_mb"))
    common ++ (w.name match {
      case "scan" => Map("scan_rows_per_s" -> e("rows_per_s"),
        "lookup_p50_ms" -> p50(ms("range", "point")), "lookup_tail_ms" -> tail(ms("range", "point")))
      case "ingest" => Map("ingest_rows_per_s" -> e("rows_per_s"),
        "append_p50_ms" -> p50(ms("append_small", "append_large")),
        "append_tail_ms" -> tail(ms("append_small", "append_large")))
      case "mutate" => Map("scan_rows_per_s" -> e("rows_per_s"),
        "dml_p50_ms" -> p50(ms("delete", "update")), "dml_tail_ms" -> tail(ms("delete", "update")),
        "merge_p50_ms" -> p50(ms("merge")))
    })
  }

  private def writeSpans(p: java.nio.file.Path, spans: Seq[Span]): Unit =
    Files.write(p, spans.map(s => Stats.json(Map("id" -> s.id, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op))).asJava, UTF_8)

  /** Bytes of every file under `p`, filesystem checksum sidecars included. */
  private def du(p: Path): Long = {
    val dir = Paths.get(p.toUri)
    if (!Files.exists(dir)) 0L
    else {
      val all = Files.walk(dir)
      try all.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally all.close()
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** The aggregate `cpu` line of /proc/stat (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), empty where there is none. */
  private def cpuTimes(): Array[Long] =
    Try(Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])

  private def load1(): Double =
    Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble)
      .getOrElse(Double.NaN)

  private def vmHwmMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
