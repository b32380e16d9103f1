package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DecimalType, StructType}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Parquet fixture loading + shared expression helpers.
  *
  * Fixture layout per /root/repo/TESTDATA.md: one parquet file per table
  * under the scale-factor dir passed to every query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet footers of the fixture files, read on the driver once per
    * path. Schema inference in `spark.read.parquet` runs a Spark job per
    * call (~0.15 s each, 10 per session set-up); the footer gives the
    * same schema with no job. Holds metadata only, one entry per fixture
    * file, never a plan or a result; fixtures are immutable (tests that
    * write their own parquet use fresh temp dirs). */
  private val footers =
    new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  private[graft] def footerMemoSize: Int = footers.size

  /** The schema `spark.read.parquet(path)` infers, from the footer:
    * Spark's own footer conversion under the session's SQLConf, so
    * nanosAsLong, TIMESTAMP_NTZ inference and Spark's row metadata
    * match exactly. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val footer = footers.computeIfAbsent(path, p => {
      val hp = new Path(p)
      new Footer(hp, ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(hp, spark.sessionState.newHadoopConf()),
        ParquetMetadataConverter.SKIP_ROW_GROUPS))
    })
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** `events.ts` has shipped in two fixture encodings: parquet
    * TIMESTAMP(NANOS) — which Spark reads only as a nanosecond long
    * (spark.sql.legacy.parquet.nanosAsLong, set in all session
    * builders) — and plain timestamp[us], which loads as TimestampType
    * directly. Adapt to whichever the loaded schema shows: a long gets
    * the ns → us conversion (integer `div`; double division would lose
    * precision above 2^53), a timestamp passes through. The DuckDB
    * oracle's `CAST(ts AS TIMESTAMP)` is correct for both.
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(load(spark, dir, "events"))

  /** The dtype-adaptive ts normalization alone, for callers (streaming)
    * that build the events DataFrame themselves. timestamp[us] parquet
    * (isAdjustedToUTC=false) loads as TIMESTAMP_NTZ, which watermarks
    * reject — cast to TIMESTAMP; the session TZ is pinned UTC in every
    * builder, so the instant is unchanged and matches DuckDB's naive
    * read. */
  def eventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Exact-decimal cast. The fixtures store money/quantity as double;
    * both Spark and the DuckDB oracle cast to the same DECIMAL(p,s) so
    * sums are exact and order-insensitive (float sums are neither).
    */
  def dec(c: Column, p: Int = 12, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Timestamp literal (session TZ is pinned UTC). */
  def ts(s: String): Column = lit(s).cast("timestamp")

  /** Exact scaled-long cents of a 2-decimal money double — the fast
    * aggregation twin of [[dec]]. For any double holding at most two
    * decimals (every money/quantity column in the fixtures; TPC-H money
    * is 2-decimal by definition), round(x*100) recovers the exact
    * integer cents: x is the nearest double to k/100, so |x*100 - k| <=
    * 100*ulp + 1 ulp << 0.5. Summing cents in a LONG replaces the
    * per-row double->BigDecimal cast (Double.toString inside
    * BigDecimal.valueOf!) and the 16-byte decimal sum buffer with
    * primitive codegen arithmetic — measured 2.3-2.7x on the Q1 shape.
    *
    * Overflow domain: a cents long caps at 9.2e16 money units, a strict
    * SUPERSET of decimal(18,2)'s 1e16 — and products scaled 1e-4/1e-6
    * cap at 9.2e14/9.2e12 vs their decimal(18,4)/(18,6) outputs'
    * 1e14/1e12. Wherever the declared decimal output can represent the
    * sum at all (including 100 TB: lineitem revenue sums sit ~40x under
    * the declared cap), the long sum cannot wrap. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Deterministic avg: exact decimal sum, then one double division,
    * rounded. Bit-identical in Spark and DuckDB for identical inputs.
    */
  def avgDec(c: Column, scale: Int = 6): Column =
    round(sum(dec(c)).cast("double") / count(lit(1)), scale)

  /** Spread a small/unsplittable input across the cluster before
    * CPU-heavy per-row work (guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read").
    * The fixture's documents/embeddings tables are single parquet
    * files with one row group — ONE scan task — so every tokenize/
    * shingle/hash pipeline above them ran on one core (measured: the
    * shingle projection alone 7.5 s single-task vs ~0.3 s spread).
    *
    * The repartition alone is NOT enough: Catalyst pushes
    * deterministic filters (and prunes projections) straight through a
    * round-robin exchange, so a downstream filter on a derived column
    * — `size(shingles) > 0`, `size(__toks) >= 20` — re-evaluates the
    * whole tokenize pipeline BELOW the exchange, back on one core
    * (plan-verified). The eager localCheckpoint is the optimizer
    * barrier: everything above it computes on the redistributed
    * partitions, and the materialized input here is just the raw rows.
    *
    * Guarded: only fires when the scan has fewer partitions than the
    * cluster has slots, so a corpus that already arrives in thousands
    * of files never pays a gratuitous shuffle or materialization.
    *
    * SCAN INPUTS ONLY: the `df.rdd` partition probe finalizes the
    * adaptive plan, and for a plan that CONTAINS shuffles that means
    * executing every shuffle stage — after which the checkpoint is a
    * separate QueryExecution that recomputes them all (the whole
    * pipeline would run twice; r15 advice). A bare file scan has no
    * query stages, so the probe only plans. For shuffled streams use
    * [[fanOut]]. */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots)
      df.repartition(slots).localCheckpoint(true)
    else df
  }

  /** Unconditional fan-out + optimizer barrier for a known-small
    * SHUFFLED stream (e.g. a candidate-pair distinct whose exchange
    * AQE coalesced by shuffle bytes, blind to expensive downstream
    * per-row work — guide §2.5). No partition probe: probing a
    * shuffled plan's partition count executes its stages once and the
    * checkpoint then recomputes them (see [[spread]]); the repartition
    * of a tiny stream is cheap enough to pay unconditionally. */
  def fanOut(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
}
