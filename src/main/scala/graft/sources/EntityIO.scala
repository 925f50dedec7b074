package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.schema.Schemas

/** Readers/writers for the reference's entity files (SURVEY §2.1 S1-S11).
  *
  * Two JSON layouts are supported, matching the reference:
  *  - single JSON *array* file (dataset_generator.py:156-164 writes one
  *    array per entity) — needs `multiLine=true`;
  *  - JSONL (the engine's preferred scalable layout: splittable, so a
  *    1000-executor cluster can parallelize the scan — a multiLine array
  *    file is ONE split no matter its size).
  * Schemas are always explicit (see Schemas Scaladoc). Globs handle the
  * reference's sharded sessions_*.json layout (load_hbase.py:93-105)
  * natively.
  */
object EntityIO {

  /** Reference layout: one JSON array per file. NOT splittable — use
    * only for compatibility ingest, then convert to parquet/JSONL. */
  def readJsonArray(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", true).json(path)

  /** JSONL (one object per line) — the scalable layout. */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readEntity(spark: SparkSession, path: String, entity: String,
                 multiLine: Boolean = false): DataFrame =
    if (multiLine) readJsonArray(spark, path, Schemas.all(entity))
    else readJsonl(spark, path, Schemas.all(entity))

  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC round-trip — second columnar format (same pushdown/pruning
    * properties as parquet; some lakes standardize on it). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Bucketed managed table (co-located joins; see ScaleSpec's
    * zero-shuffle join proof). Bucket count sizes to target ~128-256 MB
    * per bucket file at production scale. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .mode(SaveMode.Overwrite).saveAsTable(table)
}
