package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.util.control.NonFatal

/** One driver-checkable query: a DataFrame program plus (optionally) the
  * equivalent ANSI SQL the driver replays in DuckDB.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))

  def noOracle(name: String)(run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, None)
}

/** Shared helpers for deterministic cross-engine results (see SparkEntry). */
object Q {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.load(s, dir, name)

  /** Parallelize a CPU-heavy per-row ENCODE/UDF stage over an
    * unsplittable input (optimization guide §2.5 "repartition
    * immediately after the read"): the driver's parquet tables are ONE
    * scan split at bench SFs, so a fixture encode (RecordBatch/gzip,
    * Avro containers, JSON envelope assembly) or an interpreter UDF
    * otherwise runs serialized on one core (measured r19: q103's whole
    * encode was a single 4.1 s-CPU task). Round-robin repartition to
    * the session's default parallelism; every consumer downstream
    * materializes by key or aggregates, so results are
    * partitioning-invariant. Scale-adaptive: the width follows the
    * cluster's core count, and at real scale the extra shuffle moves
    * only the narrow pre-encode rows.
    *
    * GATED on an input-parallelism DEFICIT (round 20): when the plan
    * already yields >= cores partitions (a splittable multi-split scan
    * at real scale), the round-robin shuffle — plus its SPARK-23207
    * local sort — buys nothing, so it is skipped. The probe reads the
    * planned partition count (`df.rdd.getNumPartitions`, physical
    * planning only, no job); on any planning hiccup it falls back to
    * repartitioning, the previously unconditional behavior.
    */
  def par(s: SparkSession, df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    val planned =
      try df.rdd.getNumPartitions
      catch { case NonFatal(_) => 1 }
    if (planned >= cores) df else df.repartition(cores)
  }

  /** Exact sum of a 2-decimal money/quantity double, surfaced as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(12, 2))).cast("double")

  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))
}
