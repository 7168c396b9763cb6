package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.operators.TaxiAnalysis

/** One benchmark op. `call` is the graft entry point that returns the
  * DataFrame (for a writer, the write itself, returning None); its result
  * is collected inside the op. `check` builds the untimed read-back that
  * stands in for the result of an op that returns nothing. */
final case class Op(kind: String, phase: String,
                    call: SparkSession => Option[DataFrame],
                    check: Option[SparkSession => DataFrame] = None)

/** A workload is a fixed op list per round. */
trait Workload {
  def ops: Seq[Op]
  /** DuckDB SQL per op kind; kinds without an entry are checked by the
    * benchmark's own oracle. */
  def oracleSql: Map[String, String]
}

object Workloads {
  def apply(name: String, input: String): Workload = name match {
    case "stream_replay" => new StreamReplay(input)
    case "taxi_etl"      => new TaxiEtl(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Graded streaming queries, each run to completion under AvailableNow:
    * window aggregation (st01), dedup state (st03), transformWithState
    * with a foreachBatch parquet sink (st06), and a stream-stream inner
    * join over an out-of-order multi-batch replay (st04). */
  final class StreamReplay(dir: String) extends Workload {
    val kinds = Seq("st01_stream_window_agg", "st03_stream_dedup",
      "st04_stream_join", "st06_stream_running_totals")
    val ops: Seq[Op] = kinds.map { k =>
      val fn = graft.SparkEntry.queries(k)
      Op(k, "stream", s => Some(fn(s, dir)))
    }
    val oracleSql: Map[String, String] =
      kinds.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
  }

  /** The reference assignment end to end: quality checks on the raw CSV,
    * the partitioned + bucketed ORC write, and Analysis I/II over the
    * table just written. */
  final class TaxiEtl(csv: String) extends Workload {
    import TaxiAnalysis._
    val Table = "trips_clean"
    private def raw(kind: String, f: DataFrame => DataFrame): Op =
      Op(s"raw.$kind", "raw_check", s => Some(f(load(s, csv))))
    private def read(kind: String, f: DataFrame => DataFrame): Op =
      Op(s"read.$kind", "layout_read", s => Some(f(s.table(Table))))
    // three of the reference's raw-CSV checks (a group-by count, a
    // rounded aggregate, the combined dirty-row filter): a shorter round
    // gives each op kind more timed samples within the run budget
    val rawChecks: Seq[Op] = Seq(
      raw("records_per_vendor", recordsPerVendor),
      raw("duration_stats", durationStats),
      raw("quality_violations", qualityViolations))
    val write: Op = Op("etl_write", "etl_write",
      s => { writeClean(load(s, csv), Table); None },
      // counts per (yr, mnth) partition, read back outside the op
      Some(s => s.table(Table).groupBy("yr", "mnth")
        .agg(count(lit(1)).as("n"),
          sum(col("passenger_count")).cast("bigint").as("passengers"))))
    val layoutReads: Seq[Op] = Seq(
      read("avg_fare_by_month", avgFareByMonth),
      read("passenger_distribution", passengerDistribution),
      read("payment_preference", paymentPreference),
      read("tip_percentiles", tipPercentiles),
      read("extra_charge_fraction", extraChargeFraction),
      read("tip_passenger_corr", tipPassengerCorr),
      read("tip_segments", tipSegments),
      read("avg_speed_by_month", avgSpeedByMonth),
      read("special_days_speed", specialDaysSpeed))
    val ops: Seq[Op] = rawChecks ++ Seq(write) ++ layoutReads
    val oracleSql: Map[String, String] = Map.empty
  }
}
