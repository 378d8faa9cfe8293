package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Batch sink surface (SURVEY.md §2.1 S5-S9), re-expressed with Spark's
  * write path instead of the reference's read-concat-rewrite JSON files.
  */
object JobSinks {

  /** S5: JSON snapshot sink (overwrite). The reference pretty-prints with
    * indent=4 (test.py:122-123) — non-semantic; Spark writes JSON-lines,
    * UTF-8, `ensure_ascii=False` equivalent by default.
    */
  def writeJsonSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** S6: append-merge. The reference reads the old file, concatenates,
    * and rewrites (test.py:115-120) — O(total) per append. Spark append
    * adds new part files: UNION-on-write semantics, O(delta) per append.
    */
  def appendJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).json(path)

  /** S7: timestamped file naming -> ingestion-time partition column.
    * Filename timestamps (test.py:102-104) become `ingest_date=.../`
    * partitions: same lineage information, but partition-prunable.
    */
  def writePartitionedParquet(df: DataFrame, path: String): Unit =
    df.withColumn("ingest_ts", current_timestamp())
      .withColumn("ingest_date", to_date(col("ingest_ts")))
      .write.mode(SaveMode.Append)
      .partitionBy("ingest_date")
      .parquet(path)

  /** S8: two-table fan-out from ONE materialization — persist, write
    * job_list and the derived com_url projection, unpersist
    * (test.py:577-580 writes both from the same crawl pass).
    */
  def fanOut(jobs: DataFrame, jobsPath: String, companyUrlCol: String,
             comUrlPath: String): Unit = {
    jobs.persist()
    try {
      jobs.write.mode(SaveMode.Append).parquet(jobsPath)
      jobs.select(col(companyUrlCol).as("company_url"))
        .filter(col("company_url").isNotNull)
        .distinct()
        .write.mode(SaveMode.Append).parquet(comUrlPath)
    } finally { jobs.unpersist(); () }
  }

  /** S9: the queryable `jobs` table (README.md:61-69's SQLite). Parquet
    * saveAsTable here; `writeJdbc` below is the external-store form.
    */
  def saveAsTable(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(name)

  /** S9 (external-store form): the real `format("jdbc")` swap point. The
    * reference keeps `jobs` in an embedded SQL store queried out-of-band
    * (`sqlite3 jobs.db 'SELECT * FROM jobs'`, README.md:61-69); the Spark
    * analog is a JDBC overwrite of the table. Exercised in SinkSpec
    * against the embedded pure-Java Derby driver that ships with Spark —
    * same in-process shape as sqlite, real DriverManager/dialect path.
    *
    * Note for a 100 TB deployment: a JDBC sink serializes through
    * numPartitions connections and belongs to small dimension/metadata
    * tables like `jobs`, never to fact data — that stays parquet.
    */
  def writeJdbc(df: DataFrame, url: String, table: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("truncate", "false")
      .jdbc(url, table, new java.util.Properties())

  /** S9 read-back: `SELECT * FROM jobs` over the same JDBC URL. */
  def readJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
               table: String): DataFrame =
    spark.read.jdbc(url, table, new java.util.Properties())
}
