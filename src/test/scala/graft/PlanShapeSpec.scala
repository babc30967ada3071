package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Plan-shape regression gate for the judged surface: the scale-critical
  * properties the bench queries rely on (broadcasts where intended, no
  * accidental cartesian products, filters reaching the parquet scan) are
  * asserted here so a refactor can't silently regress them — the failure
  * mode would otherwise only show as a wall-clock drift at 100 TB.
  *
  * Non-equi broadcast joins (BroadcastNestedLoopJoin with a broadcast-sized
  * build side) are DELIBERATE in the similarity operators — the query set /
  * sketch side is bounded by construction — so only CartesianProductExec
  * (both sides unbounded) is globally banned.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectAll) ++
      p.subqueries.flatMap(collectAll)
  }

  /** [[collectAll]] plus descent into cached relations: a persist() hides
    * its subplan behind InMemoryTableScanExec, but the cached plan's scans
    * and shuffles are real work at materialization time — assertions about
    * "does this query read X" must see through the cache boundary. */
  private def collectThroughCache(p: SparkPlan): Seq[SparkPlan] =
    collectAll(p).flatMap {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        i +: collectThroughCache(i.relation.cachedPlan)
      // AQE materializes cached plans through query-stage wrappers, which
      // are leaves whose real subtree hangs off .plan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: collectThroughCache(q.plan)
      case other => Seq(other)
    }

  /** The cassandralike scans a query plans, distributed or answered at
    * planning. */
  private def storeScansOf(df: org.apache.spark.sql.DataFrame): Seq[PlannedScan] =
    PlannedScan.all(df).filter(_.description.contains("cassandralike"))

  private val batchQueries: Seq[String] =
    SparkEntry.benchQueries.map(_.name).filterNot(_.startsWith("stream_"))

  test("no judged bench query plans a cartesian product") {
    batchQueries.foreach { name =>
      val all = collectAll(plan(name))
      assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name plans CartesianProductExec")
    }
  }

  test("rel_join_broadcast actually broadcasts the dimension side") {
    val all = collectAll(plan("rel_join_broadcast"))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "expected a BroadcastHashJoin in rel_join_broadcast")
  }

  test("conn_agg_pushdown: the scan carries the aggregates, output is partial rows") {
    // the planned store scan: distributed, or drained on the driver when
    // its cells fit one task (the fold wraps the same partial scan)
    val scans = storeScansOf(SparkEntry.queries("conn_agg_pushdown")(spark, sfDir))
    assert(scans.nonEmpty, "no cassandralike scan found")
    val desc = scans.head.description
    assert(desc.contains("PushedAggregates"), s"aggregates not pushed: $desc")
    assert(desc.contains("CountStar") && desc.contains("Min(c_acctbal)"),
      s"unexpected pushed set: $desc")
    // scan output = one partial-agg column set, never table rows
    val output = scans.head.scan.readSchema().fieldNames
    assert(output.forall(_.startsWith("agg_")),
      s"scan output should be partial aggregates: ${output.mkString(", ")}")
  }

  test("metadata-aggregate judged queries plan COMPLETE on their real seeded stores") {
    // pins that the actual judged stores (single-task seed → one
    // commit-compacted run per bucket) qualify for complete pushdown —
    // a seeding or gating regression would silently demote these to the
    // fold and only surface as bench drift
    for ((name, minComplete) <- Seq(
      ("conn_agg_metadata", 1), // one unfiltered agg scan
      ("conn_agg_range_count", 2), // range(count+min+max) + points sub-aggs
      ("conn_agg_range_sum", 3), // range, points, unfiltered sum
      ("conn_agg_value_stats", 3), // avg/min/max range + count all + points
      ("conn_agg_grouped_stats", 1),
      ("conn_agg_regular_range", 2),
      ("conn_agg_indexed_stats", 1), // candidate-point value stats
      ("conn_agg_indexed_group", 1), // GROUP BY the indexed column
      ("conn_agg_indexed_netted", 2), // scalar + grouped on the netted store
      ("conn_agg_indexed_range", 3), // string window, numeric BETWEEN, open >
      ("conn_agg_indexed_range_group", 1), // GROUP BY under a range window
      ("conn_agg_indexed_multi", 2), // eq × range conjunction + grouped form
      ("conn_agg_indexed_float", 2), // float windows (mid BETWEEN + open >)
      ("conn_agg_indexed_asof", 6), // 2 bounded + netted-now + range + grouped + histogram (r16)
      ("conn_agg_indexed_prefix", 2), // LIKE-prefix scalar + grouped (r15)
      ("conn_agg_indexed_histogram", 1), // unfiltered GROUP BY idx col (r15)
      ("conn_agg_indexed_or", 3), // cross-col OR + overlap + prefix OR (r15)
      ("conn_agg_indexed_needle_range", 1), // asym budget: needle × hot (r16)
      ("conn_agg_indexed_and_or", 1), // conjunct × disjunction (r16)
      ("conn_agg_probe_group", 1))) { // GROUP BY non-indexed col under OR (r16)
      val scans = storeScansOf(SparkEntry.queries(name)(spark, sfDir))
        .map(_.description)
      val complete = scans.count(_.contains("AggStats: complete"))
      assert(complete >= minComplete,
        s"$name: want >=$minComplete complete metadata scans, got $complete of " +
          s"${scans.size}:\n${scans.mkString("\n")}")
    }
  }

  test("conn_slice_prefix: the clustering-column prefix reaches the scan, not a residual") {
    val scans = collectAll(plan("conn_slice_prefix")).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().contains("cassandralike") => b.scan.description()
    }
    assert(scans.exists(_.contains("StringStartsWith(column_name")),
      s"prefix must push into the slice window: ${scans.mkString("\n")}")
  }

  test("rel_q1 filter is pushed down to the parquet scan") {
    val scans = collectAll(plan("rel_q1_pricing_summary"))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.nonEmpty, "no parquet scan found")
    assert(scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
      s"no pushed filters on the q1 scan: ${scans.map(_.metadata.get("PushedFilters"))}")
  }

  test("rel_q1 reads only the columns it needs") {
    val scans = collectAll(plan("rel_q1_pricing_summary"))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    // q1 touches 7 lineitem columns; a full-width scan (16 cols) means
    // column pruning broke
    assert(scans.exists(_.requiredSchema.size <= 8),
      s"q1 scan reads ${scans.map(_.requiredSchema.size)} columns")
  }

  test("pack_sequences: the only unpartitioned window is the block-offset scan") {
    // level-2 of the prefix-sum windows over ONE ROW PER BLOCK (corpus/128),
    // never the corpus itself; any other unpartitioned window would be a
    // full-corpus single-task sort at scale
    val wins = collectAll(plan("llm_pack_sequences"))
      .collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    val unpartitioned = wins.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.size <= 1,
      s"${unpartitioned.size} unpartitioned windows in llm_pack_sequences")
  }

  test("bucketed join runs with no exchange between scan and join") {
    val p = plan("rel_join_bucketed")
    val smjs = collectAll(p)
      .collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a SortMergeJoin over the bucketed tables")
    // no shuffle anywhere BELOW the join: bucketing replaced it
    smjs.foreach { j =>
      val below = j.children.flatMap(collectAll)
      assert(!below.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "shuffle under the bucketed SMJ — bucket layout not used")
    }
  }

  test("embedding all-pairs enumeration is block-pair partitioned, not NLJ") {
    // the pair scan must be the bounded-memory blocked shape: an equi-join
    // on the block-pair key (Exchange(bp) + hash/sort-merge join), never a
    // broadcast nested loop whose build side is the whole sketch corpus
    // (O(N) per-task memory) and never a cartesian over full vectors
    val all = collectAll(plan("llm_dedup_embedding"))
    assert(!all.exists(_.isInstanceOf[CartesianProductExec]),
      "llm_dedup_embedding plans CartesianProductExec")
    assert(!all.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "llm_dedup_embedding plans BroadcastNestedLoopJoin over the sketch corpus")
  }

  test("minhash candidate generation stays map-only up to the band join") {
    // the signature build must not shuffle: between the parquet scan of
    // documents and the first join there must be no ShuffleExchange except
    // the band-key equi-join's own exchanges and the final orderBy's range
    // partitioning. Count total shuffles as a budget: scan -> bands is
    // map-only, so the whole candidate phase affords at most the join (2) +
    // pair distinct (1); verification adds its own bounded set. A corpus-
    // wide explode+groupBy signature build (the shape this replaced) would
    // blow the budget immediately.
    val shuffles = collectAll(plan("llm_dedup_minhash"))
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 14, s"llm_dedup_minhash plans $shuffles shuffles")
  }

  test("incremental dedup probes the stored band index, map-only on the delta") {
    // the incremental contract: the corpus side of the candidate join is the
    // PERSISTED index (a cassandralike scan), not a re-banding of the whole
    // documents table; the delta side is the same map-only kernel as
    // llm_dedup_minhash, so the shuffle budget stays in the minhash class —
    // a corpus-wide signature rebuild would blow it immediately
    val shallow = collectAll(plan("llm_dedup_incremental"))
    // the candidate pipeline (and the index scan inside it) sits behind a
    // persist() boundary — only the cache-descending traversal can see it
    val storeScan = collectThroughCache(shallow.head).exists {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description().contains("cassandralike")
      case _ => false
    }
    assert(storeScan, "expected the band probe to read the cassandralike index store")
    // shuffle budget on the shallow tree, same basis as llm_dedup_minhash's
    // (the deep tree re-counts one cached subtree per referencing branch)
    val shuffles = shallow.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 14, s"llm_dedup_incremental plans $shuffles shuffles")
  }

  test("incremental dedup band-key pushdown: shape when the gate clears, decline at fixture scale") {
    // the probe join only matches index rows whose row_key is in the
    // delta's own band-key set; when the index is big enough that point
    // reads beat per-key planning cost (IncrementalProbeCellsPerKey) the
    // set pushes into the scan as In(row_key). Fixture-scale indexes sit
    // below the floor, so the JUDGED plan must show the gate declining —
    // a giant In over a tiny index is a measured pessimization.
    import org.apache.spark.sql.functions._
    import graft.sources.cassandralike.Seed
    SparkEntry.queries("llm_dedup_incremental")(spark, sfDir).count() // seed
    val store = s"${Seed.storeRoot(sfDir)}/minhash_band_index"
    val probe = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 8 === 0).select(col("doc_id"),
        posexplode(expr("minhash_bands(shingle_hashes(text))")).as(Seq("band", "bh")))
      .select(col("doc_id"), concat_ws("#", col("band"), col("bh")).as("row_key"))
    val index = Seed.read(spark, store)
      .select(col("row_key"), col("column_name").cast("long").as("doc_ix"))
    def idxScanDescs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      collectThroughCache(df.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().contains("minhash_band_index") =>
          b.scan.description()
      }
    // gate forced open: the In(row_key) pushdown reaches the scan
    val pushed = idxScanDescs(probe.join(graft.operators.LlmPipeline
      .probePrunedIndex(index, probe, store, minIndexCells = 0L,
        cellsPerKey = 0L), Seq("row_key")))
    assert(pushed.nonEmpty && pushed.forall(_.contains("In(row_key")),
      "forced-open gate should push the band keys into the index scan")
    // judged query at fixture scale: the cost gate declines (no giant In)
    val judged = collectThroughCache(plan("llm_dedup_incremental")).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.description().contains("minhash_band_index") =>
        b.scan.description()
    }
    assert(judged.nonEmpty, "expected the probe to read the band index store")
    assert(judged.forall(!_.contains("In(row_key")),
      "fixture-scale probe must decline the pushdown (small-index floor)")
  }

  test("incremental ANN probes the stored IVF index with point reads") {
    // the probe contract: the index read carries an In(row_key) over the
    // driver-bounded probed-cell set, so it plans at most one partition per
    // probed cell (bucket-pruned point lookups) — never a full index scan;
    // and candidates arrive payload-complete from the store, so NO join
    // back to the embeddings corpus appears downstream of the index scan
    val df = SparkEntry.queries("llm_ann_incremental")(spark, sfDir)
    val all = collectAll(df.queryExecution.executedPlan)
    val storeScans = storeScansOf(df)
    assert(storeScans.nonEmpty, "expected the probe to read the cassandralike IVF store")
    // <= 10 queries x 3 probes, <= 25 distinct cells — each a point lookup
    storeScans.foreach { b =>
      assert(b.partitions.length <= 25,
        s"index probe should plan point lookups, got ${b.partitions.length} partitions")
    }
    val shuffles = all.count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3,
      s"probe+rank should need only the top-k window shuffle, got $shuffles")
  }

  test("ivfpq probe: point-read partitions, ADC before any vector fetch") {
    // same probe contract as llm_ann_incremental — the code-carrying index
    // reads as <= nprobe x queries point lookups — plus the PQ property:
    // the only reads of the full embeddings table are the corpus/query
    // loads, never a per-candidate scan (re-rank joins the top-32 back)
    val storeScans = storeScansOf(SparkEntry.queries("llm_ann_ivfpq")(spark, sfDir))
    assert(storeScans.nonEmpty, "expected the probe to read the cassandralike IVF-PQ store")
    storeScans.foreach { b =>
      assert(b.partitions.length <= 25,
        s"index probe should plan point lookups, got ${b.partitions.length} partitions")
    }
  }

  test("dim-filtered store join runtime-filters the fact scan and reads fewer segments") {
    // the 100-TB shape: a selective dim filter joins a huge fact store on
    // its row key. The scan implements SupportsRuntimeFiltering, so
    // Catalyst's PartitionPruning plants a DynamicPruningSubquery reusing
    // the dim broadcast; at execution the fact scan receives the join keys
    // as an In(key) runtime filter, re-prunes its token-range buckets, and
    // bloom-skips runs — reading O(matching keys), not every fact bucket.
    val sp = spark; import sp.implicits._
    val factDf = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice")
    val fact = graft.sources.cassandralike.Seed.table(spark, sfDir,
      "spec_dpp_fact", factDf,
      props = Map(graft.sources.cassandralike.Options.Buckets -> "16"))
    val dimDf = (1L to 24L).map(i => (i * 7, if (i % 8 == 0) "x" else "y"))
      .toDF("o_orderkey", "tag")
    val dim = graft.sources.cassandralike.Seed.table(spark, sfDir,
      "spec_dpp_dim", dimDf)

    def run(dpp: Boolean): (Long, Long) = {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
        dpp.toString)
      try {
        val joined = graft.sources.cassandralike.Seed.read(spark, fact)
          .join(graft.sources.cassandralike.Seed.read(spark, dim)
            .filter($"tag" === "x"), Seq("o_orderkey"))
        // collect() executes THIS dataset's QueryExecution (count() would
        // build and run a separate one, leaving these metrics untouched)
        val n = joined.collect().length.toLong
        val factScans = collectThroughCache(joined.queryExecution.executedPlan)
          .collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
              if b.scan.description().contains("spec_dpp_fact") => b
          }
        assert(factScans.nonEmpty, "no fact-store scan in the plan")
        if (dpp) assert(factScans.exists(_.runtimeFilters.nonEmpty),
          "expected a runtime (dynamic pruning) filter on the fact scan")
        val segs = factScans.flatMap(_.metrics.get("segmentsRead"))
          .map(_.value).sum
        (n, segs)
      } finally spark.conf
        .unset("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    }

    val (nDpp, segsDpp) = run(dpp = true)
    val (nFull, segsFull) = run(dpp = false)
    assert(nDpp == nFull && nDpp >= 1, s"rows must match: $nDpp vs $nFull")
    assert(segsDpp < segsFull,
      s"runtime filter must open fewer segments: $segsDpp vs $segsFull")
  }

  test("co-partitioned store join plans storage-partitioned: no exchange on either side") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val all = collectAll(plan("conn_join_copartitioned"))
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join over the two stores")
    val under = smjs.flatMap(_.children.flatMap(collectAll))
    val shuffles = under.filter(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles.isEmpty,
      s"storage-partitioned join must not shuffle its inputs: ${shuffles.map(_.nodeName).mkString(", ")}")
  }

  test("sorted scan: string-keyed co-partitioned join plans no exchange AND no sort") {
    // the scan reports its (key) ordering (SupportsReportOrdering) on top
    // of the bucket layout (KeyGroupedPartitioning), so the SMJ of two
    // same-layout stores is a pure zipper merge: no shuffle, no SortExec —
    // at 100 TB the local sorts were the remaining per-task cost of the
    // storage-partitioned join. Byte order == decoded order only holds for
    // String/Binary keys, which is why this case uses string keys.
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${graft.sources.cassandralike.Seed.storeRoot(sfDir)}/warehouse")
    Tables.registerAll(spark, sfDir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    Seq("sorted_a", "sorted_b").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$n")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$n (ck STRING, v DOUBLE)
           |USING cassandralike
           |TBLPROPERTIES ('buckets' = '8', 'partitioning.report' = 'true')""".stripMargin)
    }
    spark.sql(
      """INSERT INTO cassandralike.ks.sorted_a
        |SELECT c_name, c_acctbal FROM customer""".stripMargin)
    spark.sql(
      """INSERT INTO cassandralike.ks.sorted_b
        |SELECT c_name, CAST(c_nationkey AS DOUBLE) FROM customer""".stripMargin)
    val joined = spark.table("cassandralike.ks.sorted_a").hint("MERGE")
      .join(spark.table("cassandralike.ks.sorted_b"), Seq("ck"))
    assert(joined.count() == 150)
    val all = collectThroughCache(joined.queryExecution.executedPlan)
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join")
    val under = smjs.flatMap(_.children.flatMap(collectAll))
    assert(!under.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "no exchange under the co-partitioned join")
    assert(!under.exists(_.isInstanceOf[SortExec]),
      s"reported scan ordering must elide the SMJ sorts: ${under.map(_.nodeName)}")
  }

  test("snapshot diff joins its two as-of images storage-partitioned: no exchange") {
    // both sides of Snapshot.diff are as-of scans of the SAME store
    // reporting the bucket layout — the full-outer key join must zip the
    // buckets in place, never reshuffle either 100-TB image
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val all = collectAll(plan("conn_snapshot_diff"))
    val smjs = all.collect { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, "expected a sort-merge join of the two as-of images")
    val under = smjs.flatMap(_.children.flatMap(collectAll))
    val shuffles = under.filter(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles.isEmpty,
      s"snapshot diff must not shuffle its as-of scans: ${shuffles.map(_.nodeName).mkString(", ")}")
  }

  test("group-by on the row key of a layout-reporting store plans without an exchange") {
    // same mechanism as the storage-partitioned join: KeyGroupedPartitioning
    // over bucket(n, key) satisfies ClusteredDistribution(key), so the final
    // aggregate runs where the data already sits — at 100 TB a per-key
    // rollup of a store becomes a map-only job
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${graft.sources.cassandralike.Seed.storeRoot(sfDir)}/warehouse")
    Tables.registerAll(spark, sfDir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    spark.sql("DROP TABLE IF EXISTS cassandralike.ks.spj_agg")
    spark.sql(
      """CREATE TABLE cassandralike.ks.spj_agg (o_orderkey BIGINT, v DOUBLE)
        |USING cassandralike
        |TBLPROPERTIES ('buckets' = '8', 'partitioning.report' = 'true')""".stripMargin)
    spark.sql(
      "INSERT INTO cassandralike.ks.spj_agg SELECT o_orderkey, o_totalprice FROM orders")
    import org.apache.spark.sql.functions.{col, sum}
    val agg = spark.table("cassandralike.ks.spj_agg")
      .groupBy(col("o_orderkey")).agg(sum(col("v")).as("s"))
    val shuffles = collectAll(agg.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles == 0,
      s"key-grouped store aggregation must not shuffle, saw $shuffles exchanges")
    assert(agg.count() == Tables.load(spark, sfDir, "orders")
      .select("o_orderkey").distinct().count())
  }

  test("storage-partitioned join under partially-clustered distribution stays correct") {
    // Spark's SPJ skew handling (partially-clustered distribution
    // replicates the smaller side's partitions instead of one task per
    // key group) must compose with our reported layout: same rows, still
    // no shuffle of either store
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${graft.sources.cassandralike.Seed.storeRoot(sfDir)}/warehouse")
    Tables.registerAll(spark, sfDir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    Seq("spjpc_a", "spjpc_b").foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$n")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$n (o_orderkey BIGINT, v DOUBLE)
           |USING cassandralike
           |TBLPROPERTIES ('buckets' = '8', 'partitioning.report' = 'true')""".stripMargin)
    }
    spark.sql(
      "INSERT INTO cassandralike.ks.spjpc_a SELECT o_orderkey, o_totalprice FROM orders")
    // skewed small side: an eighth of the keys
    spark.sql(
      """INSERT INTO cassandralike.ks.spjpc_b
        |SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 = 0""".stripMargin)
    val key = "spark.sql.sources.v2.bucketing.partiallyClustered.distribution.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val joined = spark.table("cassandralike.ks.spjpc_a").hint("MERGE")
        .join(spark.table("cassandralike.ks.spjpc_b"), Seq("o_orderkey"))
      val n = joined.count()
      val want = Tables.load(spark, sfDir, "orders")
        .filter(org.apache.spark.sql.functions.col("o_orderkey") % 8 === 0).count()
      assert(n == want, s"partially-clustered SPJ returned $n rows, want $want")
      val shuffles = collectAll(joined.queryExecution.executedPlan)
        .count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles == 0,
        s"partially-clustered SPJ must not shuffle the stores, saw $shuffles")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("mismatched bucket counts fall back to a shuffled join with the same rows") {
    // the co-partition proof must FAIL soundly: different layouts -> Spark
    // inserts exchanges and the join still answers correctly
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${graft.sources.cassandralike.Seed.storeRoot(sfDir)}/warehouse")
    Tables.registerAll(spark, sfDir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    Seq("spj_a16" -> 16, "spj_b8" -> 8).foreach { case (name, buckets) =>
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$name")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$name (o_orderkey BIGINT, v DOUBLE)
           |USING cassandralike
           |TBLPROPERTIES ('buckets' = '$buckets', 'partitioning.report' = 'true')""".stripMargin)
      spark.sql(
        s"""INSERT INTO cassandralike.ks.$name
           |SELECT o_orderkey, o_totalprice FROM orders""".stripMargin)
    }
    val joined = spark.table("cassandralike.ks.spj_a16").hint("MERGE")
      .join(spark.table("cassandralike.ks.spj_b8"), Seq("o_orderkey"))
    val n = joined.count()
    val expected = Tables.load(spark, sfDir, "orders").count()
    assert(n == expected, s"fallback join returned $n rows, want $expected")
    val shuffles = collectAll(joined.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles >= 2,
      s"mismatched layouts must shuffle both sides, saw $shuffles exchanges")
  }

  test("co-bucketed store-to-store INSERT plans map-only; mismatched layout keeps the shuffle") {
    spark.conf.set("spark.sql.catalog.cassandralike",
      classOf[graft.sources.cassandralike.CassandraLikeCatalog].getName)
    spark.conf.set("spark.sql.catalog.cassandralike.warehouse",
      s"${graft.sources.cassandralike.Seed.storeRoot(sfDir)}/warehouse")
    Tables.registerAll(spark, sfDir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cassandralike.ks")
    Seq("cbwp_src" -> 16, "cbwp_same" -> 16, "cbwp_diff" -> 8).foreach { case (n, b) =>
      spark.sql(s"DROP TABLE IF EXISTS cassandralike.ks.$n")
      spark.sql(
        s"""CREATE TABLE cassandralike.ks.$n (o_orderkey BIGINT, v DOUBLE)
           |USING cassandralike TBLPROPERTIES ('buckets' = '$b')""".stripMargin)
    }
    spark.sql(
      "INSERT INTO cassandralike.ks.cbwp_src SELECT o_orderkey, o_totalprice FROM orders")
    def physicalPlan(sql: String): String =
      spark.sql(s"EXPLAIN FORMATTED $sql").collect().map(_.getString(0)).mkString("\n")
    val same = physicalPlan(
      "INSERT INTO cassandralike.ks.cbwp_same SELECT * FROM cassandralike.ks.cbwp_src")
    assert(!same.contains("Exchange"),
      s"same-layout INSERT must elide the write repartition:\n$same")
    assert(same.contains("Sort"), "the write's local sort must survive the elision")
    val diff = physicalPlan(
      "INSERT INTO cassandralike.ks.cbwp_diff SELECT * FROM cassandralike.ks.cbwp_src")
    assert(diff.contains("Exchange"),
      s"mismatched bucket counts must keep the clustering shuffle:\n$diff")
    // a non-key-preserving write (key fed by an expression) must also shuffle
    val keyed = physicalPlan(
      "INSERT INTO cassandralike.ks.cbwp_same SELECT o_orderkey + 1, v FROM cassandralike.ks.cbwp_src")
    assert(keyed.contains("Exchange"),
      s"computed target key must keep the clustering shuffle:\n$keyed")
    // and the elided write lands the same rows
    spark.sql("INSERT INTO cassandralike.ks.cbwp_same SELECT * FROM cassandralike.ks.cbwp_src")
    val n = spark.table("cassandralike.ks.cbwp_same").count()
    val want = Tables.load(spark, sfDir, "orders").count()
    assert(n == want, s"map-only write landed $n rows, want $want")
  }

  test("dedup rewrite: the corpus anti-join broadcasts the dropped set") {
    // the rewrite must be map-only over the corpus: the dropped doc-id set
    // (bounded by true duplication) broadcasts; a shuffled anti-join here
    // would re-shuffle the whole corpus at 100 TB
    val all = collectAll(plan("llm_dedup_rewrite"))
    val anti = all.collect {
      case j: BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.nonEmpty, "expected a broadcast LEFT ANTI join for the rewrite")
  }

  test("ngram verify: block-pair joins chain without reshuffling the intermediate") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    // the array-carrying output of the first attach join must flow INTO the
    // second join in-task: an Exchange or Sort between them means the
    // candidates x arrayBytes intermediate crosses the wire again — the
    // exact cost the block-pair co-partitioning exists to avoid
    val shjs = collectAll(plan("llm_dedup_ngram"))
      .collect { case j: ShuffledHashJoinExec => j }
    assert(shjs.size >= 2, s"expected two shuffled-hash verify joins, got ${shjs.size}")
    val outer = shjs.head
    val inner = shjs(1)
    def between(p: SparkPlan): Option[Seq[SparkPlan]] =
      if (p eq inner) Some(Seq.empty)
      else {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case o => o.children
        }
        kids.view.flatMap(k => between(k).map(p +: _)).headOption
      }
    val mids = outer.children.view.flatMap(between).headOption
    assert(mids.isDefined, "verify joins are not nested under one another")
    val bad = mids.get.filter(n => n.isInstanceOf[ShuffleExchangeLike] ||
      n.isInstanceOf[org.apache.spark.sql.execution.SortExec])
    assert(bad.isEmpty,
      s"exchange/sort between the verify joins: ${bad.map(_.nodeName).mkString(", ")}")
  }
}
