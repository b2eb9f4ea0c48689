package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.parquet`'s `ts` column has shipped with two different physical
  * types across testdata generations — TIMESTAMP(NANOS) (which Spark only
  * reads under `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as
  * nanos-since-epoch LongType) and TIMESTAMP(MICROS) (arriving as
  * TIMESTAMP_NTZ when the writer left isAdjustedToUTC unset). The oracle
  * (DuckDB) coerces both to its native micro-precision naive TIMESTAMP, so
  * under a UTC Spark session the value-correct normalization is
  * schema-ADAPTIVE, not fixed:
  *
  *   - LongType           → `timestamp_micros(ts div 1000)` (truncate nanos)
  *   - TimestampNTZType   → cast to session-TZ TIMESTAMP (UTC ⇒ identical
  *                          wall-clock values to the oracle's naive reads)
  *   - TimestampType      → already what we want; pass through
  *
  * Anything else is testdata drift and fails FAST with a message naming
  * the table, the column, and the found type (VERDICT r7 #8 — the fixed
  * expression cost a full round of red gates to an error that never named
  * the table).
  */
object Tables {
  /** The set of `ts` physical read-types this engine knows how to
    * normalize. Kept visible so the drift-guard spec can assert the
    * failure mode for a type outside it. */
  def normalizeTsColumn(found: DataType): org.apache.spark.sql.Column = found match {
    case LongType         => expr("timestamp_micros(ts div 1000)")
    case TimestampNTZType => col("ts").cast(TimestampType)
    case TimestampType    => col("ts")
    case other =>
      throw new IllegalStateException(
        s"events.parquet drift: column `ts` read as $other; this engine handles " +
          "BIGINT (legacy TIMESTAMP_NANOS via nanosAsLong), TIMESTAMP_NTZ " +
          "(TIMESTAMP_MICROS, isAdjustedToUTC=false) and TIMESTAMP. " +
          "Regenerated testdata changed the events schema — extend " +
          "Tables.normalizeTsColumn for the new type.")
  }

  /** Schema-adaptive `ts` normalization for any frame (batch or streaming)
    * carrying the events table's `ts` column. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.withColumn("ts", normalizeTsColumn(df.schema("ts").dataType))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" => normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
    case n        => spark.read.parquet(s"$dir/$n.parquet")
  }
}
