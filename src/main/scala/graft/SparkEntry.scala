package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.SyntheticCdc
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the CDC envelope projection
    * (SURVEY §1.3 / §2 B1+B4+C1+F3) — filter PreUpdate, join transaction
    * times, decode the update mask, render LSNs. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EnvelopeQueries.cdcEnvelope(spark, "/root/testdata/sf0.001")

  /** Local cores for every main: `SPARK_GRAFT_CPUS`, else all of them. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(throw
      new IllegalArgumentException(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The one session factory for every main: `local[cores]`, one shuffle
    * partition per core, UTC, no UI, WARN logging. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.queries ++ EnvelopeQueries.queries ++ AggQueries.queries ++
      ValidationQueries.queries ++ DedupQueries.queries ++ SerdeQueries.queries ++
      SimilarityQueries.queries ++ TextQueries.queries ++ MultimodalQueries.queries ++
      PipelineQueries.queries ++ LearnedQueries.queries ++ TokenizerQueries.queries ++ CorpusRewriteQueries.queries ++ PcaQueries.queries ++ SketchQueries.queries ++ GraphQueries.queries ++ SourceFormatQueries.queries ++ TimeSeriesQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    CdcQueries.oracle ++ EnvelopeQueries.oracle ++ AggQueries.oracle ++
      ValidationQueries.oracle ++ DedupQueries.oracle ++ SerdeQueries.oracle ++
      SimilarityQueries.oracle ++ TextQueries.oracle ++ MultimodalQueries.oracle ++
      PipelineQueries.oracle ++ LearnedQueries.oracle ++ TokenizerQueries.oracle ++ CorpusRewriteQueries.oracle ++ PcaQueries.oracle ++ SketchQueries.oracle ++ GraphQueries.oracle ++ SourceFormatQueries.oracle ++ TimeSeriesQueries.oracle
}
