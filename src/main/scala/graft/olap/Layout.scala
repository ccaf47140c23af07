package graft.olap

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.WorkDir

/** Bucketed-table layout — the batch analog of co-partitioning.
  *
  * Pre-shuffling a table into K hash buckets sorted on the join key turns
  * every subsequent equi-join on that key into an exchange-free sort-merge
  * join: both scans come up already hash-clustered (`Bucketed: true`), so
  * the only shuffle left in a join+agg plan is the final aggregation's. At
  * 100 TB this converts the *recurring* join shuffle of a fact table into a
  * *one-time* layout cost — the same contract as Hive/Iceberg bucketing.
  * (The reference's analog is PostgreSQL's btree-on-date storing side,
  * av_etl.py:161-185: pay at write time, join/lookup for free afterwards.)
  */
object Layout {

  /** Persist `df` as an external bucketed+sorted table (under a fresh
    * `WorkDir`) and return the catalog-backed frame.
    *
    * The `repartition(buckets, key)` aligns write-task partitioning with
    * the bucket function (both Murmur3 pmod), yielding ONE file per bucket
    * instead of files-per-bucket × tasks. (Spark still plans a
    * partition-local Sort on the join sides — sortBy metadata is not
    * propagated to outputOrdering, SPARK-19256 — but that sort is
    * exchange-free; the shuffle is what the layout eliminates.)
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, table: String,
                    key: String, buckets: Int): DataFrame = {
    val path = WorkDir.create(s"graft_bucket_$table").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    df.repartition(buckets, col(key))
      .write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
    spark.table(table)
  }

  /** Small-file compaction (the OPTIMIZE primitive): rewrite a fragmented
    * dataset into ceil(rows / targetFileRows) right-sized files. Small
    * files are the classic 100 TB operational failure — every file costs a
    * task, a footer read, and a namenode entry, so a day of streaming
    * micro-batches can turn one logical partition into 10⁴ splinters; the
    * fix is this rewrite, run partition-by-partition. The count() action
    * prices the rewrite before paying for it (one metadata-cheap pass),
    * round-robin repartition levels file sizes, and maxRecordsPerFile
    * caps any residual task skew. Returns the number of files written.
    */
  def compactSmallFiles(spark: SparkSession, df: DataFrame, outDir: String,
                        targetFileRows: Long): Int = {
    val n = df.count()
    val files = math.max(1L, (n + targetFileRows - 1) / targetFileRows).toInt
    df.repartition(files)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetFileRows)
      .parquet(outDir)
    // Hadoop FileSystem API, not java.io.File: the out dir is a URI that
    // may live on hdfs:// or s3:// — the local-File form silently breaks
    // off the local filesystem, at odds with the operator's purpose
    val path = new org.apache.hadoop.fs.Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Partition-level TTL retention sweep over a date-partitioned store
    * (`partCol=YYYY-MM-DD` directories): drop every partition strictly
    * older than (max partition − keepDays + 1). The sweep is pure
    * METADATA — the cutoff comes from the directory listing and deletion
    * is a directory drop, zero data read/rewrite, which is what makes a
    * retention policy affordable at 100 TB (the partition-pruning dual:
    * pruning skips old data at read time, TTL reclaims it at rest).
    * Returns (cutoff date string, partitions dropped).
    */
  def ttlSweep(spark: SparkSession, baseDir: String, partCol: String,
               keepDays: Int): (String, Int) = {
    // keepDays <= 0 would place the cutoff AFTER the max partition and
    // silently delete every partition — a destructive footgun a retention
    // API must refuse, not obey
    require(keepDays >= 1, s"ttlSweep keepDays must be >= 1, got $keepDays")
    val path = new org.apache.hadoop.fs.Path(baseDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(path).map(_.getPath)
      .filter(_.getName.startsWith(s"$partCol="))
      .map(p => (p, p.getName.stripPrefix(s"$partCol=")))
    require(parts.nonEmpty, s"no $partCol= partitions under $baseDir")
    // ISO dates order lexicographically — no parsing needed
    val maxDay = parts.map(_._2).max
    val cutoff = java.time.LocalDate.parse(maxDay)
      .minusDays(keepDays - 1L).toString
    val expired = parts.filter(_._2 < cutoff)
    expired.foreach { case (p, _) => fs.delete(p, true) }
    (cutoff, expired.length)
  }
}
