package storebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.sources.cassandralike.CellStore

/** The store benchmark's JVM entry point. One client thread runs a closed
  * loop of seeded ops against one workload's stores and prints the metrics
  * as one JSON line; `--trace 1` adds spans and per-layer counts.
  *
  * {{{
  * Main --workload lookup|scan|ingest --seed N --seconds S --trace 0|1
  *      --work DIR [--trace-file F]
  * Main --sequence WORKLOAD SEED COUNT   (print op descriptions, no Spark)
  * }}}
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String,
      traceFile: Option[String])

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--sequence")) {
      val Array(_, w, seed, count) = argv
      sequence(w, seed.toLong, count.toInt).foreach(println)
      return
    }
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), kv.get("trace-file"))
    val ok = new Runner(a).run()
    sys.exit(if (ok) 0 else 1)
  }

  /** The first `count` op descriptions of a workload's timed sequence. */
  def sequence(workload: String, seed: Long, count: Int): Seq[String] =
    Workloads(workload, null, seed, "").rounds(new Gen.Rng(seed)).flatten.take(count).map(_.desc).toSeq
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return Double.NaN
    val r = p * (s.size - 1)
    val lo = r.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

final class Runner(a: Main.Args) {
  private val cores = math.min(4, Runtime.getRuntime.availableProcessors())
  private var spark: SparkSession = _
  private val tracer = new Tracer
  private val listener = new OpListener

  /** Latency samples in ms per op kind (correct ops only). */
  private val lat = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var attempted, failed = 0L
  private var creditedRows = 0L
  private var creditedNs = 0L
  private var wrongExample = ""

  /** One record per traced op, joined with the listener's events at the end. */
  private final case class OpRec(idx: Int, kind: String, start: Double, end: Double, isRead: Boolean)
  private val traced = mutable.ArrayBuffer.empty[OpRec]
  private var opIdx = 0

  private def fullGc(): Unit = { System.gc(); System.gc() }

  /** Aggregate (steal, total) CPU ticks from the kernel, when it reports
    * them: a shared host that steals CPU from the VM shows here, and
    * explains a run whose timings are all slow. */
  private def cpuTicks(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    Some((if (f.length > 7) f(7) else 0L, f.take(8).sum))
  } catch { case _: Exception => None }
  private def heapMb: Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  def run(): Boolean = {
    val t0 = System.nanoTime()
    spark = graft.GraftSession.builder("storebench")
      .master(s"local[$cores]")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    graft.plans.CoBucketedWrite.install(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val wl = Workloads(a.workload, spark, a.seed, "storebench")
    def phase(name: String): Unit = System.err.println(f"storebench: $name done at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    phase("session")
    wl.setup()
    phase("seed")
    val warm = wl.rounds(new Gen.Rng(a.seed ^ 0x3c6ef372fe94f82bL))
    (0 until wl.warmRounds).foreach(_ => warm.next().foreach(op => runOp(op, trace = false)))
    phase("warm-up")
    wl match { case i: Ingest => i.startTimed(); case _ => }
    val warmFailed = failed
    lat.clear(); attempted = 0; failed = 0; creditedRows = 0; creditedNs = 0
    fullGc()
    val setupS = (System.nanoTime() - t0) / 1e9

    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val rounds = wl.rounds(new Gen.Rng(a.seed))
    var amp: Option[(Int, Double)] = None
    val windowNs = Array(0L, 0L) // untraced, traced
    val windowOps = Array(0L, 0L)
    val ticks0 = cpuTicks()
    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    var round = 0
    // a traced run needs an untraced and a traced round for its overhead
    val minRounds = if (a.trace) math.max(wl.minRounds, 2) else wl.minRounds
    def more = round < minRounds || System.nanoTime() < deadline
    while (more) {
      val tracedRound = a.trace && round % 2 == 1
      val r0 = System.nanoTime()
      val ops = rounds.next()
      ops.foreach { op => runOp(op, tracedRound); if (amp.isEmpty) amp = wl.afterOp(op) }
      val w = if (tracedRound) 1 else 0
      windowNs(w) += System.nanoTime() - r0
      windowOps(w) += ops.size
      round += 1
    }
    val elapsedS = (System.nanoTime() - start) / 1e9
    val steal = for ((steal0, all0) <- ticks0; (steal1, all1) <- cpuTicks() if all1 > all0)
      yield (steal1 - steal0).toDouble / (all1 - all0)
    val timedOps = attempted
    fullGc()
    val retained = heapMb
    val spaceAmp = amp.fold(Workloads.dirBytes(wl.mainDir) / wl.liveBytes)(_._2)

    val correct = failed == 0 && warmFailed == 0
    val report = mutable.LinkedHashMap.empty[String, (Double, String)]
    val p50s = wl.kinds.flatMap(k => lat.get(k).map(s => Stats.median(s.toSeq)))
    report("setup_s") = (setupS, "s")
    report("ops_per_s") = (timedOps / elapsedS, "1/s")
    report("p50_geomean_ms") = (math.exp(p50s.map(math.log).sum / p50s.size), "ms")
    report("rows_per_s") = (creditedRows / (creditedNs / 1e9), "1/s")
    report("retained_heap_mb") = (retained, "MB")
    report("space_amp") = (spaceAmp, "ratio")

    // the workload's own names for the same and per-type figures
    val named = mutable.LinkedHashMap.empty[String, Any]
    def put(k: String, v: Double, unit: String, n: Option[Int] = None): Unit =
      named(k) = (Seq("value" -> v, "unit" -> unit) ++ n.map("n" -> _)).toMap
    put("setup_s", setupS, "s")
    put("ops_per_s", timedOps / elapsedS, "1/s")
    put("error_rate", if (attempted == 0) 0.0 else failed.toDouble / attempted, "share", Some(attempted.toInt))
    put("retained_heap_mb", retained, "MB")
    steal.foreach(put("cpu_steal_share", _, "share"))
    lat.foreach { case (k, s) =>
      put(s"${k}_p50_ms", Stats.median(s.toSeq), "ms", Some(s.size))
      if (k == "get") put("get_p90_ms", Stats.pct(s.toSeq, 0.9), "ms", Some(s.size))
    }
    wl.name match {
      case "scan" => put("scan_rows_per_s", creditedRows / (creditedNs / 1e9), "1/s")
      case "ingest" => put("ingest_rows_per_s", creditedRows / (creditedNs / 1e9), "1/s")
      case _ =>
    }
    if (wl.name != "lookup") put("space_amp", spaceAmp, "ratio")
    amp.foreach { case (batch, _) => put("space_amp_batch", batch, "batch") }

    phase("timed")
    val layers = if (a.trace) perLayer(wl, windowNs, windowOps) else Seq.empty
    wl.teardown()
    phase("teardown")
    spark.stop()
    phase("stop")

    println(Json.obj(Seq("workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
      "rounds" -> round, "seconds" -> elapsedS, "report" -> named) ++
      (if (wrongExample.nonEmpty) Seq("first_wrong_op" -> wrongExample) else Nil) :+ ("claim" -> null)))
    val metrics = if (a.trace) layers else report.toSeq
    println(Json.obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    correct
  }

  private def runOp(op: Op, trace: Boolean): Unit = {
    attempted += 1
    opIdx += 1
    val idx = opIdx
    val ok = try {
      op match {
        case r: ReadOp =>
          val (rows, ns) = if (trace) tracedRead(idx, r) else {
            val t = System.nanoTime()
            val got = r.build().collect()
            (got, System.nanoTime() - t)
          }
          val good = r.expect(rows)
          if (good) record(r.kind, ns, r.credit(rows))
          good
        case w: WriteOp =>
          val ns = if (trace) tracedWrite(idx, w) else {
            val t = System.nanoTime()
            w.run()
            System.nanoTime() - t
          }
          record(w.kind, ns, if (w.kind == "write") w.rows else -1)
          true
      }
    } catch {
      case e: Exception =>
        if (wrongExample.isEmpty) wrongExample = s"${op.desc}: $e"
        false
    }
    if (!ok) {
      failed += 1
      if (wrongExample.isEmpty) wrongExample = op.desc
    }
  }

  /** Credits `rows` (when not negative) to `rows_per_s`. */
  private def record(kind: String, ns: Long, rows: Long): Unit = {
    lat.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ns / 1e6
    if (rows >= 0) { creditedRows += rows; creditedNs += ns }
  }

  private def tracedRead(idx: Int, r: ReadOp): (Array[Row], Long) = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$idx", r.kind, interruptOnCancel = false)
    val t = System.nanoTime()
    val s0 = Clock.nowMs
    var df: DataFrame = null
    val rows = try tracer.span(idx, 0, "op") { root =>
      df = tracer.span(idx, root, "plan.analysis") { _ => val d = r.build(); d.queryExecution.analyzed; d }
      tracer.span(idx, root, "plan.optimization") { _ => df.queryExecution.optimizedPlan }
      tracer.span(idx, root, "plan.physical") { _ => df.queryExecution.executedPlan }
      tracer.span(idx, root, "exec") { _ => df.collect() }
    } finally sc.clearJobGroup()
    val ns = System.nanoTime() - t
    traced += OpRec(idx, r.kind, s0, Clock.nowMs, isRead = true)
    PlanMetrics(df.queryExecution.executedPlan).foreach { case (k, v) => tracer.count(idx, k, v.toDouble) }
    (rows, ns)
  }

  private def tracedWrite(idx: Int, w: WriteOp): Long = {
    val sc = spark.sparkContext
    val before = Workloads.files(w.dir)
    sc.setJobGroup(s"op-$idx", w.kind, interruptOnCancel = false)
    val t = System.nanoTime()
    val s0 = Clock.nowMs
    try tracer.span(idx, 0, "op") { root => tracer.span(idx, root, "write.save") { _ => w.run() } }
    finally sc.clearJobGroup()
    val ns = System.nanoTime() - t
    traced += OpRec(idx, w.kind, s0, Clock.nowMs, isRead = false)
    val created = Workloads.files(w.dir).iterator.filterNot { case (p, _) => before.contains(p) }.map(_._2).sum
    tracer.count(idx, "bytesCreated", created.toDouble)
    tracer.count(idx, "userBytes", w.userBytes.toDouble)
    tracer.count(idx, "segmentsPerBucketMax", Workloads.maxSegmentsPerBucket(w.dir).toDouble)
    ns
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1).sortBy(_._1)
      .foreach { case (s, e) => if (e > reach) { total += e - math.max(s, reach); reach = e } }
    total
  }

  private def perLayer(wl: Workload, windowNs: Array[Long], windowOps: Array[Long]): Seq[(String, (Double, String))] = {
    listener.awaitQuiet()
    // executor-free merge rate: every bucket of the main store, Spark bypassed
    val mergeT0 = System.nanoTime()
    val buckets = CellStore.allSegmentFiles(wl.mainDir).keys.toSeq.sorted
    val merged = buckets.map(b => tracer.span(0, 0, "CellStore.mergedBucket")(_ => CellStore.mergedBucket(wl.mainDir, b).size.toLong)).sum
    val mergeS = (System.nanoTime() - mergeT0) / 1e9

    val reads = traced.filter(_.isRead).toSeq
    val writes = traced.filter(_.kind == "write").toSeq
    def spanMs(op: Int, name: String) = tracer.spans.iterator.filter(s => s.op == op && s.name == name).map(s => s.end - s.start).sum
    def c(op: Int, name: String) = tracer.counts.get(op).flatMap(_.get(name)).getOrElse(0.0)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def share(num: Double, den: Double) = if (den == 0) 0.0 else num / den

    val perOp = traced.toSeq.map { o =>
      val js = listener.jobsOf(s"op-${o.idx}")
      val ts = listener.tasksOf(js)
      js.foreach(j => tracer.spans += Span(o.idx, tracer.newId(), 0, s"job ${j.id} ${j.callSite}", j.start.toDouble, j.end.toDouble))
      ts.foreach(t => tracer.spans += Span(o.idx, tracer.newId(), 0, s"task stage ${t.stage}", t.launch.toDouble, t.finish.toDouble))
      val delay = ts.flatMap(t => listener.stageSubmit.get(t.stage).map(s => (t.launch - s).toDouble))
      // a save runs its input shuffle, then the write job (the first job at
      // the save's call site), then any compaction the commit starts
      val sorted = js.sortBy(_.start)
      val writeJob = sorted.find(_.callSite.startsWith("save at"))
      val afterWrite = writeJob.map(w => sorted.filter(_.start >= w.end)).getOrElse(Nil)
      Map(
        "jobs" -> js.size.toDouble, "tasks" -> ts.size.toDouble,
        "delay" -> mean(delay), "driverOnly" -> ((o.end - o.start) - covered(ts.map(t => (t.launch.toDouble, t.finish.toDouble)), o.start, o.end)),
        "cpu" -> ts.map(_.cpuNs / 1e6).sum, "run" -> ts.map(_.runMs.toDouble).sum, "gc" -> ts.map(_.gcMs.toDouble).sum,
        "shuffle" -> ts.map(_.shuffleWrite.toDouble).sum, "spill" -> ts.map(_.spill.toDouble).sum,
        "writeJob" -> writeJob.map(j => (j.end - sorted.head.start).toDouble).getOrElse(0.0),
        "commit" -> writeJob.map(j => o.end - j.end).getOrElse(0.0),
        "compJobs" -> afterWrite.size.toDouble,
        "compMs" -> afterWrite.map(j => (j.end - j.start).toDouble).sum)
    }
    val byIdx = traced.map(_.idx).zip(perOp).toMap
    def m(ops: Seq[OpRec], k: String) = mean(ops.map(o => byIdx(o.idx)(k)))
    def sumC(ops: Seq[OpRec], k: String) = ops.map(o => c(o.idx, k)).sum
    val all = traced.toSeq
    val tracedOps = windowOps(1) / (windowNs(1) / 1e9)
    val plainOps = windowOps(0) / (windowNs(0) / 1e9)
    val segMax = if (writes.nonEmpty) mean(writes.map(o => c(o.idx, "segmentsPerBucketMax")))
      else Workloads.maxSegmentsPerBucket(wl.mainDir).toDouble
    val out = Seq(
      "plan.analysis_ms" -> (mean(reads.map(o => spanMs(o.idx, "plan.analysis"))), "ms"),
      "plan.optimization_ms" -> (mean(reads.map(o => spanMs(o.idx, "plan.optimization"))), "ms"),
      "plan.physical_ms" -> (mean(reads.map(o => spanMs(o.idx, "plan.physical"))), "ms"),
      "sched.jobs_per_op" -> (m(all, "jobs"), "count"),
      "sched.tasks_per_op" -> (m(all, "tasks"), "count"),
      "sched.task_delay_ms" -> (m(all, "delay"), "ms"),
      "sched.driver_only_ms" -> (m(all, "driverOnly"), "ms"),
      "CellScan.partitions_per_op" -> (mean(reads.map(o => c(o.idx, "partitions"))), "count"),
      "CellScan.stats_only_share" -> (share(sumC(reads, "partitionsStatsOnly"), sumC(reads, "partitions")), "share"),
      "CellStore.segments_read_per_op" -> (mean(reads.map(o => c(o.idx, "segmentsRead"))), "count"),
      "CellStore.runs_read_per_op" -> (mean(reads.map(o => c(o.idx, "runsRead"))), "count"),
      "CellStore.bloom_skip_share" -> (share(sumC(reads, "runsBloomSkipped"),
        sumC(reads, "runsBloomSkipped") + sumC(reads, "runsRead")), "share"),
      "CellStore.cells_seek_skipped_per_op" -> (mean(reads.map(o => c(o.idx, "cellsSeekSkipped"))), "count"),
      "CellStore.cells_merged_per_op" -> (mean(reads.map(o => c(o.idx, "cellsMerged"))), "count"),
      "CellStore.tombstones_dropped_per_op" -> (mean(reads.map(o => c(o.idx, "tombstonesDropped"))), "count"),
      "CellStore.merge_cells_per_s" -> (merged / mergeS, "1/s"),
      "exec.task_cpu_ms_per_op" -> (m(all, "cpu"), "ms"),
      "exec.task_run_ms_per_op" -> (m(all, "run"), "ms"),
      "exec.shuffle_write_bytes_per_op" -> (m(all, "shuffle"), "B"),
      "exec.spill_bytes_per_op" -> (m(all, "spill"), "B"),
      "exec.gc_ms_per_op" -> (m(all, "gc"), "ms"),
      "write.job_ms" -> (m(writes, "writeJob"), "ms"),
      "write.bytes_per_user_byte" -> (share(sumC(writes, "bytesCreated"), sumC(writes, "userBytes")), "ratio"),
      "write.commit_ms" -> (m(writes, "commit"), "ms"),
      "write.compaction_jobs" -> (m(writes, "compJobs"), "count"),
      "write.compaction_ms" -> (m(writes, "compMs"), "ms"),
      "store.segments_per_bucket_max" -> (segMax, "count"),
      "trace.ops_per_s" -> (tracedOps, "1/s"),
      "trace.untraced_ops_per_s" -> (plainOps, "1/s"),
      "trace.overhead_share" -> (1 - tracedOps / plainOps, "share"))
    a.traceFile.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      java.nio.file.Files.createDirectories(p.getParent)
      tracer.write(p, Json.obj(Seq("workload" -> wl.name, "seed" -> a.seed, "traced_ops" -> traced.size,
        "per_layer" -> out.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }, "claim" -> null)))
    }
    out
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] if xs.forall(_.isInstanceOf[(_, _)]) && xs.nonEmpty =>
      obj(xs.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String = kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
