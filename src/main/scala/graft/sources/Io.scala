package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Interchange connectors beyond parquet (S12 breadth — the reference's
  * "sources" are Redis/ES clients, `redisClient.ts` / `elasticSearch.ts`;
  * ours are the formats a 100 TB ingest actually arrives in): JSONL and
  * CSV, schema-EXPLICIT in both directions. Two rules that matter at
  * scale:
  *
  *  - never infer: schema inference is a full extra pass over the data
  *    before the real read, and a drifting upstream silently changes
  *    column types under you. Every reader here takes the schema.
  *  - never die on a bad row: a corpus-scale feed WILL contain malformed
  *    lines; [[readJsonlWithDlq]] routes them to a DLQ relation verbatim
  *    (the ST5 contract applied to ingest) instead of failing the job —
  *    while the strict readers use FAILFAST for fixture-grade inputs
  *    where corruption means a bug, not weather. */
object Io {

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    // header on, default quoting/escaping — embedded delimiters, quotes
    // and newlines in string columns survive the round trip
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true").option("mode", "FAILFAST")
      // multiLine: quoted embedded newlines are data, not row breaks
      .option("multiLine", "true").csv(path)

  /** ORC, the other columnar lake format a migration actually meets
    * (Hive-era warehouses): schema-preserving, predicate-pushdown-capable
    * like parquet — the schema argument on read is an ASSERTION (FAILFAST
    * against drift), not inference, same contract as the text readers. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").orc(path)

  /** JSONL ingest with a dead-letter queue: well-formed rows parse
    * against `schema`; malformed lines land in the DLQ relation VERBATIM
    * (`raw_line`) for replay after the producer is fixed — nothing is
    * lost and the job never fails on weather. The split must run off one
    * materialized read (the corrupt-record column is only populated
    * during parsing, and a projection of it ALONE is rejected when the
    * plan reaches back to the raw JSON source), so the parse is EAGERLY
    * materialized with a lineage-truncating `localCheckpoint`: the
    * returned (good, dlq) handles reference the checkpointed blocks, not
    * the source — they stay executable no matter when a
    * [[graft.Caches]] invalidate sweep runs (a persist-based split died
    * with an AnalysisException if swept before first use). Each call
    * re-parses (feeds grow); checkpoint blocks are released by Spark's
    * ContextCleaner once the handles are unreachable. At cluster scale
    * the materialization is a DLQ-split TABLE WRITE (good/dlq parquet),
    * same shape, durable. */
  def readJsonlWithDlq(spark: SparkSession, path: String,
                       schema: StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    require(!schema.fieldNames.contains(corrupt), s"schema already has $corrupt")
    val raw = spark.read
      .schema(schema.add(corrupt, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path)
      .localCheckpoint(true)
    val good = raw.where(col(corrupt).isNull).drop(corrupt)
    val dlq = raw.where(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (good, dlq)
  }
}
