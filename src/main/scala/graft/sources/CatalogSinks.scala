package graft.sources

import graft.Compat._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sources and sinks (SURVEY.md §2.1) re-expressed on Spark's connector
  * surface. The reference writes one CSV/FITS/TXT/PDF per epoch from a
  * single process; here each sink is a distributed write — partitioned by
  * the epoch-like key so a 100 TB run writes all epochs in parallel and
  * downstream readers prune partitions.
  */
object CatalogSinks {

  /** write_csv (p_io.py:103-119): positive-flux filter, magnitude + error
    * derivation, CSV out. Returns the frame it wrote for verification. */
  def writeCsvCatalog(catalog: DataFrame, fluxCol: String, fluxErrCol: String,
      path: String): DataFrame = {
    val out = catalog
      .filter(col(fluxCol) > 0)
      .withColumn("mag", lit(-2.5) * log10(col(fluxCol)))
      .withColumn("mag_err", lit(1.08574) * col(fluxErrCol) / col(fluxCol))
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    out
  }

  /** write_txt (p_io.py:121-154): per-group diagnostics summary — counts,
    * min/max/median — written as a text report (one line per group). */
  def writeDiagnostics(df: DataFrame, group: String, value: String,
      path: String): DataFrame = {
    val summary = df.groupBy(col(group))
      .agg(count(lit(1)).as("n"), min(col(value)).as("min_v"),
        max(col(value)).as("max_v"), median(col(value)).as("med_v"))
    summary
      .select(concat_ws(" | ", col(group), col("n"), col("min_v"),
        col("max_v"), col("med_v")).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
    summary
  }

  /** Epoch-partitioned parquet sink — the FITS-per-epoch analog
    * (p_io.py:19-62): partition pruning replaces per-file naming. */
  def writePartitioned(df: DataFrame, partitionCol: String, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)

  /** Glob CSV scan with schema — the `cat *.csv` union-all of epoch
    * catalogs (walkthrough cell 5): one read call, union by position. */
  def readCsvCatalog(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** binaryFile ingestion — the FITS import boundary (core.py:18-50): each
    * file of the `paths` (files or globs) becomes (path, length, content);
    * header/pixel decode plugs in as a downstream map (stubbed, like the
    * multimodal codec). */
  def readBinary(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"), col("length"), col("content"))

  /** Columnar ORC sink/source — the second columnar format the connector
    * surface ships (alongside parquet); same partition-pruning story. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)
}
