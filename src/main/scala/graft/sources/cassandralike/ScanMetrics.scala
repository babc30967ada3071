package graft.sources.cassandralike

import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

/** Task-local counters for one partition's store scan. Each partition
  * reader owns one instance (single task thread — plain vars), the merge
  * machinery increments it as it works, and the DSv2 metric hooks
  * ([[CellScan.supportedCustomMetrics]] /
  * `PartitionReader.currentMetricsValues`) surface the totals in the Spark
  * UI per scan node. At 100-TB scale these are the numbers that explain a
  * slow scan without re-running it: how many segments/runs were opened,
  * how much pruning the blooms bought, how many addresses LWW actually
  * reconciled, and how many were tombstone-suppressed.
  *
  * The reference's Hive stack exposes none of this (its progress reporting
  * is the bare Hadoop counter in input/CassandraHiveRecordReader.java);
  * Spark's metric plumbing makes it nearly free. */
final class ScanCounters {
  /** Segment files opened by the partition's merge. */
  var segmentsRead: Long = 0L
  /** Run cursors actually read (post bloom/range pruning). */
  var runsRead: Long = 0L
  /** Runs skipped whole because their key bloom rejected every lookup key. */
  var runsBloomSkipped: Long = 0L
  /** Live cells emitted by LWW reconciliation (the scan's input volume). */
  var cellsMerged: Long = 0L
  /** Addresses suppressed because a tombstone won reconciliation (S3's
    * tombstone skip, input/CassandraHiveRecordReader.java:205-207). */
  var tombstonesDropped: Long = 0L
  /** Cells never READ because a point slice seeked past their whole index
    * span ((key, col)-prefixed run-index entries): the IO the multi-point
    * slice seek saves on very wide rows. */
  var cellsSeekSkipped: Long = 0L
  /** Runs skipped whole because their [colMin, colMax] window (Cassandra's
    * sstable min/max clustering) holds no wanted slice column. */
  var runsColSkipped: Long = 0L
  /** Runs skipped whole because their distinct-column BLOOM rejected every
    * wanted point-slice column — the false-window case (wanted column
    * inside the min/max window but absent) min/max can't prune. */
  var runsColBloomSkipped: Long = 0L
  /** Runs skipped whole because their [subMin, subMax] window holds no
    * wanted SUB-column — the `:subcolumn` twin of runsColSkipped. */
  var runsSubSkipped: Long = 0L
  /** Partitions whose pushed COUNT/MIN/MAX was answered from run-index
    * metadata alone — zero cell payload IO (see MetadataAggReader). */
  var partitionsStatsOnly: Long = 0L
  /** Cells the merge may emit: the one past it throws
    * [[ScanCounters.OverCap]]. Unbounded except on a driver read. */
  var mergeCap: Long = Long.MaxValue

  /** Adds another partition's counts to these. */
  def add(c: ScanCounters): Unit = {
    segmentsRead += c.segmentsRead
    runsRead += c.runsRead
    runsBloomSkipped += c.runsBloomSkipped
    cellsMerged += c.cellsMerged
    tombstonesDropped += c.tombstonesDropped
    cellsSeekSkipped += c.cellsSeekSkipped
    runsColSkipped += c.runsColSkipped
    runsColBloomSkipped += c.runsColBloomSkipped
    runsSubSkipped += c.runsSubSkipped
    partitionsStatsOnly += c.partitionsStatsOnly
  }
}

/** A partition reader whose store IO is one [[ScanCounters]]: every reader
  * [[CellReaderFactory]] makes, so a driver read can cap and sum it. */
trait CountedReader extends org.apache.spark.sql.connector.read.PartitionReader[
    org.apache.spark.sql.catalyst.InternalRow] {
  def counters: ScanCounters
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    ScanMetrics.values(counters)
}

object ScanCounters {
  /** A merge passed its [[ScanCounters.mergeCap]]. */
  final class OverCap extends scala.util.control.ControlThrowable
}

/** Driver-visible seek-saving totals for a STREAMING scan: the change
  * feed's `metrics()` (ReportsSourceMetrics → `StreamingQueryProgress
  * .sources[].metrics`) is driver-side while the counters live in executor
  * readers, so the feed threads Spark accumulators through the reader
  * factory — task adds merge back at task completion on a real cluster,
  * not just in local mode. Values are CUMULATIVE since query start (the
  * progress-report convention for source metrics); task retries can
  * over-add, which is acceptable for observability. The batch scan keeps
  * the richer per-scan-node DSv2 metric path ([[ScanMetrics.values]]). */
final case class ScanAccumulators(
    cellsSeekSkipped: org.apache.spark.util.LongAccumulator,
    runsColSkipped: org.apache.spark.util.LongAccumulator,
    runsColBloomSkipped: org.apache.spark.util.LongAccumulator,
    runsSubSkipped: org.apache.spark.util.LongAccumulator) {
  def add(c: ScanCounters): Unit = {
    cellsSeekSkipped.add(c.cellsSeekSkipped)
    runsColSkipped.add(c.runsColSkipped)
    runsColBloomSkipped.add(c.runsColBloomSkipped)
    runsSubSkipped.add(c.runsSubSkipped)
  }
}

object ScanMetrics {
  val SegmentsRead = "segmentsRead"
  val RunsRead = "runsRead"
  val RunsBloomSkipped = "runsBloomSkipped"
  val CellsMerged = "cellsMerged"
  val TombstonesDropped = "tombstonesDropped"
  val CellsSeekSkipped = "cellsSeekSkipped"
  val RunsColSkipped = "runsColSkipped"
  val RunsColBloomSkipped = "runsColBloomSkipped"
  val RunsSubSkipped = "runsSubSkipped"
  val PartitionsStatsOnly = "partitionsStatsOnly"

  /** Driver-side metric declarations; names must match the task values. */
  def supported: Array[CustomMetric] = Array(
    new SegmentsReadMetric, new RunsReadMetric, new RunsBloomSkippedMetric,
    new CellsMergedMetric, new TombstonesDroppedMetric,
    new CellsSeekSkippedMetric, new RunsColSkippedMetric,
    new RunsColBloomSkippedMetric, new RunsSubSkippedMetric,
    new PartitionsStatsOnlyMetric)

  private final case class Task(n: String, v: Long) extends CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }

  /** Snapshot of one partition's counters in the DSv2 task-metric form. */
  def values(c: ScanCounters): Array[CustomTaskMetric] = Array(
    Task(SegmentsRead, c.segmentsRead),
    Task(RunsRead, c.runsRead),
    Task(RunsBloomSkipped, c.runsBloomSkipped),
    Task(CellsMerged, c.cellsMerged),
    Task(TombstonesDropped, c.tombstonesDropped),
    Task(CellsSeekSkipped, c.cellsSeekSkipped),
    Task(RunsColSkipped, c.runsColSkipped),
    Task(RunsColBloomSkipped, c.runsColBloomSkipped),
    Task(RunsSubSkipped, c.runsSubSkipped),
    Task(PartitionsStatsOnly, c.partitionsStatsOnly))
}

// Each metric is a TOP-LEVEL zero-arg class: Spark re-instantiates the
// declared metric classes reflectively when aggregating task values into
// the UI, and a constructor with arguments fails that lookup at runtime
// (logged per task completion, metrics silently dropped).
final class SegmentsReadMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.SegmentsRead
  override def description(): String = "store segments opened"
}
final class RunsReadMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.RunsRead
  override def description(): String = "runs read (post pruning)"
}
final class RunsBloomSkippedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.RunsBloomSkipped
  override def description(): String = "runs skipped by key bloom"
}
final class CellsMergedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.CellsMerged
  override def description(): String = "live cells merged (post-LWW)"
}
final class TombstonesDroppedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.TombstonesDropped
  override def description(): String = "addresses dropped by tombstones"
}
final class CellsSeekSkippedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.CellsSeekSkipped
  override def description(): String = "cells seeked past by point slices"
}
final class RunsColSkippedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.RunsColSkipped
  override def description(): String = "runs skipped by min/max clustering"
}
final class RunsColBloomSkippedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.RunsColBloomSkipped
  override def description(): String = "runs skipped by column bloom"
}
final class RunsSubSkippedMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.RunsSubSkipped
  override def description(): String = "runs skipped by sub-column window"
}
final class PartitionsStatsOnlyMetric extends CustomSumMetric {
  override def name(): String = ScanMetrics.PartitionsStatsOnly
  override def description(): String = "aggregates answered from metadata"
}
