package graft

import graft.sources.cassandralike._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Key-addressed reads answered at planning ([[DriverAnswerScan]]): they
  * start no job, return the executors' reader's rows, fall back to the
  * distributed scan past one task's worth of merged cells, and keep the
  * change feed, broadcast joins and read-your-writes working. */
class DriverAnswerSpec extends SparkSpec {

  /** 2,000 rows, four per indexed `name`: few enough candidates that the
    * index's cost gate plans a point read. */
  private lazy val regular: String = {
    val sp = spark; import sp.implicits._
    Seed.table(spark, sfDir, "spec_driver_regular",
      (1L to 2000L).map(i => (i, s"n${i % 500}", i * 1.5)).toDF("id", "name", "bal")
        .repartition(2),
      props = Map(Options.IndexColumns -> "name", Options.Buckets -> "8"))
  }

  private lazy val wide: String = {
    val sp = spark; import sp.implicits._
    Seed.table(spark, sfDir, "spec_driver_wide",
      (for (s <- 1 to 20; c <- 0 until 200) yield (s, c, s * 1000L + c))
        .toDF("s", "c", "v").repartition(2),
      mapping = Some(":key,:column,:value"), props = Map(Options.Buckets -> "8"))
  }

  /** Jobs started while `body` runs, counted by a listener on the body's
    * own job group; a marker job in another group, seen last, shows the
    * listener bus has delivered every earlier job start. */
  private def jobsIn(body: => Unit): Int = workIn(body)._1

  /** Jobs, and the tasks of the stages they submitted, while `body` runs. */
  private def workIn(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"driver-answer-${System.nanoTime()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties).foreach(seen.add)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "driver answer", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains(marker) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(seen.contains(marker), "listener never saw the marker job")
      (seen.toArray.count(_ == group), tasks.get())
    } finally sc.removeSparkListener(listener)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def all(dir: String): Array[Row] = Seed.read(spark, dir).collect()

  test("key =, key IN, a wide-row slice and an indexed equality start no job") {
    val reg = all(regular)
    val cells = all(wide)
    val reads: Seq[(String, DataFrame, Set[Row])] = Seq(
      ("regular key =", Seed.read(spark, regular).filter(col("id") === 7L),
        reg.filter(_.getLong(0) == 7L).toSet),
      ("regular key IN", Seed.read(spark, regular).filter(col("id").isin(3L, 99L, 400L, 99999L)),
        reg.filter(r => Set(3L, 99L, 400L)(r.getLong(0))).toSet),
      ("indexed equality", Seed.read(spark, regular).filter(col("name") === "n7"),
        reg.filter(_.getString(1) == "n7").toSet),
      ("transposed key =", Seed.read(spark, wide).filter(col("s") === 4),
        cells.filter(_.getInt(0) == 4).toSet),
      ("transposed key IN", Seed.read(spark, wide).filter(col("s").isin(2, 19, 77)),
        cells.filter(r => Set(2, 19)(r.getInt(0))).toSet),
      ("wide-row slice", Seed.read(spark, wide)
        .filter(col("s") === 5 && col("c") >= 40 && col("c") < 60),
        cells.filter(r => r.getInt(0) == 5 && r.getInt(1) >= 40 && r.getInt(1) < 60).toSet))
    reads.foreach { case (what, df, want) =>
      assert(want.nonEmpty, what)
      var got: Array[Row] = null
      val jobs = jobsIn { got = df.collect() }
      assert(jobs == 0, s"$what started $jobs jobs")
      assert(got.length == want.size && got.toSet == want, what)
      val scan = PlannedScan.of(df)
      assert(scan.answered, s"$what: ${scan.description}")
      assert(scan.description.contains(s"DriverAnswer: rows=${want.size}, cellsMerged="),
        scan.description)
      val plan = nodes(df.queryExecution.executedPlan)
      assert(plan.exists(_.isInstanceOf[LocalTableScanExec]) &&
        !plan.exists(_.isInstanceOf[BatchScanExec]), s"$what:\n$plan")
      assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    }
  }

  test("past one task's worth of merged cells the read runs distributed, same rows") {
    // 40 rows of two cells each: 80 merged cells against a 16-cell split
    val keys = (1L to 40L).map(_ * 9)
    val want = all(regular).filter(r => keys.contains(r.getLong(0))).toSet
    val capped = Seed.read(spark, regular, Map(Options.SplitTargetCells -> "16"))
      .filter(col("id").isin(keys: _*))
    assert(!PlannedScan.of(capped).answered)
    assert(capped.collect().toSet == want)
    assert(nodes(capped.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec]))
    val answered = Seed.read(spark, regular).filter(col("id").isin(keys: _*))
    val scan = PlannedScan.of(answered)
    assert(scan.answered)
    assert(answered.collect().toSet == want)
    // the answer's counters are its partitions drained through the reader
    assert(scan.counters == PlannedScan(scan.cellScan).counters)
    assert(scan.counters("cellsMerged") == 80L, s"${scan.counters}")
  }

  test("a complete COUNT(*) is answered at planning and starts no job") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_driver_complete",
      (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val q = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    val scan = PlannedScan.of(q)
    assert(scan.description.contains("AggStats: complete"), scan.description)
    assert(scan.answered)
    assert(scan.counters(ScanMetrics.PartitionsStatsOnly) == 1L)
    var got: Array[Row] = null
    val jobs = jobsIn { got = q.collect() }
    assert(jobs == 0, s"complete COUNT(*) started $jobs jobs:\n${q.queryExecution.executedPlan}")
    assert(got.toSeq == Seq(Row(300L)))
    assert(nodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTableScanExec]))
  }

  test("a complete COUNT(*) under a computing projection starts no job") {
    val sp = spark; import sp.implicits._
    val store = Seed.table(spark, sfDir, "spec_driver_project",
      (1L to 300L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1),
      props = Map(Options.KeyEncoding -> "ordered", Options.Buckets -> "4"))
    val n = Seed.read(spark, store).agg(count(lit(1)).as("n"))
    Seq(("CAST AS INT", n.select(col("n").cast("int").as("n")), Row(300)),
      ("+ 1", n.select((col("n") + 1).as("n")), Row(301L))).foreach {
      case (what, q, want) =>
        assert(PlannedScan.of(q).answered, what)
        var got: Array[Row] = null
        val jobs = jobsIn { got = q.collect() }
        assert(jobs == 0, s"$what started $jobs jobs:\n${q.queryExecution.executedPlan}")
        assert(got.toSeq == Seq(want), what)
        assert(!nodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[ProjectExec]),
          s"$what:\n${q.queryExecution.executedPlan}")
    }
    // a nondeterministic projection is not folded into the local rows
    val r = n.select(col("n"), rand(7).as("r"))
    assert(nodes(r.queryExecution.executedPlan).exists(_.isInstanceOf[ProjectExec]),
      r.queryExecution.executedPlan.toString)
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(300L))
  }

  test("a driver answer's description shows the segments and runs it read") {
    val scan = PlannedScan.of(Seed.read(spark, regular).filter(col("id") === 7L))
    assert(scan.answered)
    val c = scan.counters
    assert(c(ScanMetrics.SegmentsRead) > 0 && c(ScanMetrics.RunsRead) > 0, s"$c")
    Seq(ScanMetrics.SegmentsRead, ScanMetrics.RunsRead).foreach { m =>
      assert(scan.description.contains(s", $m=${c(m)}"), scan.description)
    }
  }

  test("a row wider than the cap stops the driver read at the cap") {
    // one 100,000-cell transposed row against the default 65,536-cell cap
    val rows = 100000L
    val dir = Seed.table(spark, sfDir, "spec_driver_widerow",
      spark.range(0L, rows, 1L, 2).select(lit(1).as("s"),
        col("id").cast("int").as("c"), col("id").as("v")),
      mapping = Some(":key,:column,:value"), props = Map(Options.Buckets -> "4"))
    val cap = Options.DefaultSplitTargetCells
    val df = Seed.read(spark, dir).filter(col("s") === 1)
    val before = CellScanBuilder.driverCellsMerged.get()
    val scan = PlannedScan.of(df)
    val merged = CellScanBuilder.driverCellsMerged.get() - before
    assert(!scan.answered)
    assert(merged > cap && merged <= cap + 1, s"driver read merged $merged cells")
    assert(df.count() == rows)
  }

  /** 40 wide rows of 50 cells, written as two halves of every row: each
    * bucket holds two segments whose key ranges overlap, so no metadata
    * tier answers a range aggregate and the driver fold owns it. */
  private lazy val overlapping: String = {
    val sp = spark; import sp.implicits._
    def half(cs: Range) =
      (for (s <- 1 to 40; c <- cs) yield (s, c, s * 1000L + c * 7 - 150L)).toDF("s", "c", "v")
    val dir = Seed.table(spark, sfDir, "spec_driver_fold", half(0 until 25),
      mapping = Some(":key,:column,:value"), props = Map(Options.Buckets -> "4"))
    Seed.append(half(25 until 50), dir, Map(Options.WriteTimestamp -> "2"))
    dir
  }

  private def foldAgg(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(col("v")), min(col("v")), max(col("v")), min(col("c")))

  test("a small pushed aggregate over overlapping segments folds on the driver, no job") {
    val segs = CellStore.allSegmentFiles(overlapping)
    assert(segs.nonEmpty && segs.values.forall(_.size > 1), s"$segs")
    val range = col("s") >= 5 && col("s") < 23
    val q = foldAgg(Seed.read(spark, overlapping).filter(range))
    val scan = PlannedScan.of(q)
    assert(scan.answered, scan.description)
    assert(scan.description.contains("PushedAggregates: [") &&
      !scan.description.contains("AggStats: complete"), scan.description)
    // the answer's counters are the partial scan's partitions drained
    assert(scan.counters == PlannedScan(scan.cellScan).counters)
    assert(scan.counters(ScanMetrics.CellsMerged) == 18L * 50, s"${scan.counters}")
    var got: Array[Row] = null
    val jobs = jobsIn { got = q.collect() }
    assert(jobs == 0, s"the fold started $jobs jobs:\n${q.queryExecution.executedPlan}")
    assert(nodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[LocalTableScanExec]))
    // the same query distributed under a small split target
    val dist = foldAgg(Seed.read(spark, overlapping, Map(Options.SplitTargetCells -> "64"))
      .filter(range))
    assert(!PlannedScan.of(dist).answered)
    assert(nodes(dist.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec]))
    val vs = for (s <- 5 until 23; c <- 0 until 50) yield s * 1000L + c * 7 - 150L
    val want = Row(vs.size.toLong, vs.sum, vs.min, vs.max, 0)
    assert(got.toSeq == Seq(want))
    assert(dist.collect().toSeq == Seq(want))
  }

  test("a pushed aggregate whose cell bound is over the cap reads nothing on the driver") {
    // 40 rows of 50 cells against a 256-cell cap: the bound alone declines
    val q = foldAgg(Seed.read(spark, overlapping, Map(Options.SplitTargetCells -> "256"))
      .filter(col("s") >= 5 && col("s") < 23))
    val before = CellScanBuilder.driverCellsMerged.get()
    val scan = PlannedScan.of(q)
    assert(CellScanBuilder.driverCellsMerged.get() == before)
    assert(!scan.answered)
    assert(nodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec]))
    assert(q.collect().head.getLong(0) == 18L * 50)
  }

  test("a Long SUM overflowing across partitions matches the distributed path") {
    val sp = spark; import sp.implicits._
    // one row key per bucket, each cell Long.MaxValue / 2: every
    // partition's partial fits, their total does not
    val keys = Iterator.from(1).map(k => k -> TokenRing.bucket(
      Codecs.encode(org.apache.spark.sql.types.IntegerType, k), 4))
      .scanLeft(Map.empty[Int, Int]) { case (m, (k, b)) => if (m.contains(b)) m else m + (b -> k) }
      .dropWhile(_.size < 4).next().values.toSeq
    val dir = Seed.table(spark, sfDir, "spec_driver_fold_overflow",
      keys.map(k => (k, 0, Long.MaxValue / 2)).toDF("s", "c", "v").repartition(2),
      mapping = Some(":key,:column,:value"), props = Map(Options.Buckets -> "4"))
    def q(o: Map[String, String]): DataFrame =
      Seed.read(spark, dir, o).filter(col("s") >= 1).agg(count(lit(1)), sum(col("v")))
    // the overflow declines the fold
    assert(!PlannedScan.of(q(Map.empty)).answered)
    val folded = scala.util.Try(q(Map.empty).collect().toSeq)
    val dist = scala.util.Try(q(Map(Options.SplitTargetCells -> "1")).collect().toSeq)
    (folded, dist) match {
      case (scala.util.Success(a), scala.util.Success(b)) => assert(a == b)
      case (scala.util.Failure(a), scala.util.Failure(b)) =>
        assert(a.getClass == b.getClass, s"$a vs $b")
      case _ => fail(s"$folded vs $dist")
    }
  }

  test("an empty range folds to count 0 and a NULL sum") {
    val q = Seed.read(spark, overlapping).filter(col("s") > 100)
      .agg(count(lit(1)), sum(col("v")))
    assert(PlannedScan.of(q).answered)
    var got: Array[Row] = null
    assert(jobsIn { got = q.collect() } == 0)
    assert(got.toSeq == Seq(Row(0L, null)))
  }

  test("count() of every judged conn_agg_* query equals its collected rows") {
    val aggs = SparkEntry.registry.map(_.name).filter(_.startsWith("conn_agg_"))
    assert(aggs.size >= 30, s"$aggs")
    aggs.foreach { name =>
      val q = SparkEntry.queries(name)(spark, sfDir)
      assert(q.count() == q.collect().length.toLong, name)
    }
    // an ungrouped aggregate's count() keeps an empty aggregate list over
    // the store: one zero-column row, answered at planning
    val metadata = SparkEntry.queries("conn_agg_metadata")(spark, sfDir)
    val counted = metadata.groupBy().count()
    assert(counted.collect().toSeq == Seq(Row(1L)))
    assert(!nodes(counted.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec]),
      counted.queryExecution.executedPlan.toString)
  }

  test("count() of a grouped conn_agg_* query starts no more jobs than collect()") {
    def jobs(name: String)(run: DataFrame => Unit): Int = {
      SparkEntry.queries(name)(spark, sfDir).collect() // seeds the store
      jobsIn(run(SparkEntry.queries(name)(spark, sfDir)))
    }
    // counting rows the driver already holds still costs Spark's final
    // count (a partial aggregate and one exchange over the local rows):
    // what count() of the ungrouped, driver-answered conn_agg_metadata runs
    val localCount = jobs("conn_agg_metadata")(_.count())
    Seq("conn_agg_indexed_group", "conn_agg_indexed_histogram", "conn_agg_grouped").foreach { name =>
      val collected = jobs(name)(_.collect())
      val counted = jobs(name)(_.count())
      assert(counted <= math.max(collected, localCount),
        s"$name: count() started $counted jobs, collect() $collected, a local count $localCount")
    }
    // the grouped empty aggregate list takes the indexed group tier: one
    // row of group keys per present group, answered at planning
    Seq("conn_agg_indexed_group", "conn_agg_indexed_histogram").foreach { name =>
      val q = SparkEntry.queries(name)(spark, sfDir)
      val counted = q.groupBy().count()
      assert(!nodes(counted.queryExecution.executedPlan).exists(_.isInstanceOf[BatchScanExec]),
        s"$name:\n${counted.queryExecution.executedPlan}")
      assert(counted.collect().toSeq == Seq(Row(q.collect().length.toLong)), name)
    }
  }

  /** The per-query record checked in under `src/test/resources`: name,
    * jobs, tasks and planned scan partitions of each judged `conn_agg_*`
    * query under collect(). */
  private val jobRecord = "conn_agg_jobs.tsv"

  test("the judged conn_agg_* queries start no more jobs or tasks than their record") {
    val record: Map[String, Seq[Int]] = scala.io.Source
      .fromInputStream(getClass.getResourceAsStream(s"/$jobRecord")).getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split("\t")).map(a => a.head -> a.tail.toSeq.map(_.toInt)).toMap
    val aggs = SparkEntry.registry.map(_.name).filter(_.startsWith("conn_agg_"))
    val observed = aggs.map { name =>
      SparkEntry.queries(name)(spark, sfDir).collect() // seeds the store
      spark.catalog.clearCache()
      var q: DataFrame = null
      // the query body's own jobs count too
      val (jobs, tasks) = workIn { q = SparkEntry.queries(name)(spark, sfDir); q.collect() }
      spark.catalog.clearCache()
      name -> Seq(jobs, tasks, PlannedScan.all(q).map(_.partitions.length).sum)
    }
    val out = java.nio.file.Paths.get("target", s"$jobRecord.observed")
    java.nio.file.Files.write(out, ("# name\tjobs\ttasks\tscan_partitions\n" +
      observed.map { case (n, c) => (n +: c).mkString("\t") }.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(observed.map(_._1).toSet == record.keySet,
      s"record and judged queries differ; observed counts in $out")
    val over = observed.filter { case (n, c) => c.zip(record(n)).exists { case (o, r) => o > r } }
    assert(over.isEmpty, over.map { case (n, c) =>
      s"$n: ${c.mkString("/")} > ${record(n).mkString("/")}" }
      .mkString("over the record (jobs/tasks/partitions): ", "; ", s"; observed in $out"))
  }

  test("a streaming read of the same store still plans the change feed") {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val ckpt = java.nio.file.Files.createTempDirectory("driver-answer-feed").toString
    val q = spark.readStream.format("cassandralike").option(Options.Path, regular).load()
      .filter(col("id") === 7L)
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) => b.collect().foreach(rows.add); () }
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // a source's progress description is its stream's class
    val sources = q.recentProgress.toSeq.flatMap(_.sources).map(_.description)
    assert(sources.nonEmpty && sources.forall(_.contains("CellChangeFeedStream")),
      s"sources: $sources")
    assert(rows.toArray.toSeq == all(regular).filter(_.getLong(0) == 7L).toSeq)
  }

  test("a point read joined to a larger store still broadcasts") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "4096")
    try {
      val point = Seed.read(spark, regular).filter(col("id").isin(3L, 5L))
        .select(col("id").cast("int").as("s"), col("name"))
      val joined = Seed.read(spark, wide).join(point, "s")
      val got = joined.collect()
      assert(got.length == 2 * 200 && got.forall(r => Set(3, 5)(r.getInt(0))))
      val plan = nodes(joined.queryExecution.executedPlan)
      assert(plan.exists(_.isInstanceOf[BroadcastHashJoinExec]), plan.mkString("\n"))
      val broadcast = plan.collect { case b: BroadcastExchangeLike => b }
      assert(broadcast.exists(b => nodes(b).exists(_.isInstanceOf[LocalTableScanExec])),
        s"the point read must be the broadcast side:\n${plan.mkString("\n")}")
    } finally spark.conf.unset(key)
  }

  test("rows are read at planning: a new DataFrame sees a later write") {
    val sp = spark; import sp.implicits._
    val dir = Seed.table(spark, sfDir, "spec_driver_writes",
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal"))
    val before = Seed.read(spark, dir).filter(col("id") === 1L)
    assert(before.collect().toSeq == Seq(Row(1L, "a", 1.0)))
    Seed.append(Seq((1L, "z", 9.0)).toDF("id", "name", "bal"), dir,
      Map(Options.WriteTimestamp -> "2"))
    assert(Seed.read(spark, dir).filter(col("id") === 1L).collect().toSeq ==
      Seq(Row(1L, "z", 9.0)))
    // the planned DataFrame keeps the rows it read when it was planned
    assert(before.collect().toSeq == Seq(Row(1L, "a", 1.0)))
  }
}
