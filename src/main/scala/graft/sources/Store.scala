package graft.sources

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical document store (SURVEY §2.1 S13-S17, T1): site-partitioned
  * parquet as the columnar upgrade of the reference's per-site
  * directory layout (`/root/reference/storage/filesystem_store.py:26-46`)
  * and its hash-compare upsert (`:95-128`,
  * `/root/reference/db/postgres_store.py:126-182`).
  *
  * MERGE on plain parquet without a transactional format:
  *   1. classify incoming vs target on the merge key (insert/update/
  *      skip/keep);
  *   2. restrict to the partitions that actually contain an insert or
  *      update — skip-only partitions are never rewritten (the
  *      reference's "same hash -> no write");
  *   3. stage the merged rows of those partitions, then dynamic
  *      partition-overwrite the store (only staged partitions are
  *      replaced; staging first because a lazy plan cannot read and
  *      overwrite the same files).
  *
  * At 100 TB the partition column is the site/tenant key, so a crawl
  * batch touching k sites rewrites k partitions, not the store; a
  * re-delivered batch classifies all-skip and rewrites NOTHING.
  */
object Store {

  /** S13/S14/T1: site-partitioned parquet sink. */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** T1 partition key for a crawl job
    * (`/root/reference/storage/filesystem_store.py:26-41`): the
    * sanitized site key, plus the `__path_<sha1[:8]>` scope suffix when
    * `pathMode` — two jobs crawling different subtrees of one site then
    * land in disjoint partitions.
    */
  def sitePartitionKey(site: org.apache.spark.sql.Column,
      startUrl: org.apache.spark.sql.Column,
      pathMode: Boolean): org.apache.spark.sql.Column =
    if (pathMode) graft.functions.UrlFunctions.pathScopedSiteKey(site, startUrl)
    else graft.functions.UrlFunctions.sanitizeSiteKey(site)

  /** S13/T1 with job-level path scoping: stamp the partition key from
    * `siteCol`/`startUrlCol` and write site-partitioned parquet.
    */
  def writeSitePartitioned(df: DataFrame, path: String, siteCol: String,
      startUrlCol: String, pathMode: Boolean): Unit =
    writePartitioned(
      df.withColumn("site_key",
        sitePartitionKey(col(siteCol), col(startUrlCol), pathMode)),
      path, "site_key")

  /** S16: relational row sink — the reference's Postgres store
    * (`/root/reference/db/postgres_store.py:70-103`,
    * `/root/reference/api/main.py:71-76`) as Spark's parallel JDBC
    * writer: each partition opens one connection and batches INSERTs
    * (`batchsize`, default 1000, mirroring psycopg's executemany page
    * size). Upsert semantics compose UPSTREAM (`Upsert.classify` /
    * `insertIfAbsent`) since plain JDBC INSERT has no portable MERGE —
    * feeding only action='insert' rows is exactly the reference's
    * `ON CONFLICT DO NOTHING` shape. At scale, `numPartitions` bounds
    * the connection count so 1000 executors don't open 1000 sessions
    * against one database.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      options: Map[String, String] = Map.empty,
      mode: String = "append"): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", options.getOrElse("batchsize", "1000"))
      .options(options)
      .mode(mode)
      .save()

  /** True when `table` exists per JDBC metadata, probed on a direct
    * driver-side connection. Used by insert-if-absent sinks to tell
    * genuine first-batch table ABSENCE (degrade to empty target, let
    * the writer create the table) from transient read failures on an
    * existing table (which must propagate — treating an existing table
    * as empty would re-append already-delivered rows). Identifier case
    * folding differs by engine (Derby/Postgres), so the probe tries the
    * name as-given, upper- and lower-cased.
    */
  def jdbcTableExists(url: String, table: String,
      options: Map[String, String] = Map.empty): Boolean = {
    // Make sure the configured driver is registered with DriverManager
    // (Spark's JDBC path loads it lazily on its own classloader).
    options.get("driver").foreach(Class.forName)
    val props = new java.util.Properties()
    options.get("user").foreach(props.setProperty("user", _))
    options.get("password").foreach(props.setProperty("password", _))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val md = conn.getMetaData
      def probe(name: String): Boolean = {
        val rs = md.getTables(null, null, name, null)
        try rs.next() finally rs.close()
      }
      probe(table) || probe(table.toUpperCase) || probe(table.toLowerCase)
    } finally conn.close()
  }

  /** JDBC scan (the lookup side of S16 round trips / existence joins). */
  def readJdbc(spark: SparkSession, url: String, table: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)
      .load()

  def read(spark: SparkSession, path: String): DataFrame =
    ParquetRead(spark, path)

  /** Read a store whose files were written under EVOLVING schemas
    * (appends that gained columns over time): schema union across
    * files, absent columns null-filled — the integration contract for
    * additive evolution. Costs a footer read per file at planning, so
    * it is a separate entry point rather than the default `read`, and
    * the one store read left on Spark's schema-inference job.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Bucketed catalog table: `bucketBy(n, key)` + in-bucket sort at
    * `path`. At 100 TB this is the co-location lever for the store's
    * standing joins — a merge/dedup batch bucketed the same way joins
    * the target with ZERO exchange on either side (both inputs are
    * already hash-partitioned and sorted by the key), so the nightly
    * re-merge stops re-shuffling the full store every run. Parquet
    * directories cannot carry bucket metadata, hence the catalog table
    * (`saveAsTable` with an explicit external path).
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, numBuckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Scan of a bucketed table (bucket metadata comes from the catalog;
    * joins/aggs on the bucket key skip their shuffle).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** S17 over the bucketed layout: MERGE `incoming` into bucketed
    * table `table` without ever re-shuffling the store. The target side
    * of the full-outer merge join reads pre-hashed, pre-sorted buckets
    * (zero exchange); only the incoming batch — the small side — is
    * shuffled to match. Staging first because a lazy plan cannot read
    * and overwrite the files it scans.
    *
    * Layout tradeoff vs `mergeInto` (site-partitioned parquet): the
    * bucketed store joins shuffle-free but a merge rewrites the whole
    * table (vanilla Spark has no partition-level overwrite into
    * bucketed tables), while the partitioned store rewrites only
    * touched partitions but re-shuffles target + batch on every merge.
    * At 100 TB pick by batch shape: crawl batches touching few sites →
    * partitioned; org-wide nightly dedup/enrichment joins touching
    * every partition anyway → bucketed.
    */
  def mergeIntoBucketed(spark: SparkSession, table: String, path: String,
      incoming: DataFrame, key: String, numBuckets: Int): Unit = {
    val target = readBucketed(spark, table)
    val merged = Upsert.merge(target, incoming, key)
    val stageTable = table + "_stage"
    val stagePath = path.stripSuffix("/") + "_stage"
    writeBucketed(merged, stageTable, stagePath, key, numBuckets)
    writeBucketed(readBucketed(spark, stageTable), table, path, key,
      numBuckets)
    spark.sql(s"DROP TABLE IF EXISTS $stageTable")
    val sp = new org.apache.hadoop.fs.Path(stagePath)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sp, true): Unit
  }

  /** Small-file COMPACTION for a partitioned store — the maintenance
    * pass every long-lived ingest needs: streaming/micro-batch appends
    * leave each partition as hundreds of KB-scale files, and at 100 TB
    * the resulting file-listing and task-per-file overhead dominates
    * scan time long before the bytes do.
    *
    * Rewrites the store so each partition holds
    * `ceil(rows / maxRecordsPerFile)` files: one shuffle keys every
    * partition value to one task (distinct values hashing to the same
    * task still write separate files — one per partition directory),
    * and the writer's `maxRecordsPerFile` splits within the task. File
    * counts are thus a pure function of the DATA, not of the incoming
    * layout. Stage-then-overwrite because a lazy plan cannot read and
    * replace the same files.
    */
  def compact(spark: SparkSession, path: String, partitionCol: String,
      maxRecordsPerFile: Int): Unit = {
    require(maxRecordsPerFile > 0,
      s"maxRecordsPerFile must be positive, got $maxRecordsPerFile")
    val stage = path.stripSuffix("/") + "_compact_stage"
    read(spark, path)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(stage)
    read(spark, stage)
      .repartition(col(partitionCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCol)
      .parquet(path)
    val sp = new org.apache.hadoop.fs.Path(stage)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sp, true): Unit
  }

  /** Data files per partition-value directory of a partitioned store —
    * the observability half of [[compact]] (one bounded driver-side
    * listing; success files and hidden files excluded).
    */
  def filesPerPartition(spark: SparkSession,
      path: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { dir =>
        val value = dir.getPath.getName.split("=", 2)(1)
        val n = fs.listStatus(dir.getPath)
          .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        (value, n.toLong)
      }
  }

  /** S17: MERGE `incoming` (key + content_hash + data) into the store
    * at `path`, rewriting only partitions with a real insert/update.
    * Returns the number of partitions rewritten.
    */
  def mergeInto(spark: SparkSession, path: String, incoming: DataFrame,
      key: String, partitionCol: String): Long = {
    val target = read(spark, path)
    val actions = Upsert.classify(target, incoming, key)
    val changedKeys = actions
      .filter(col("action").isin("insert", "update")).select(col(key))
    // Partitions owning a changed key — from the incoming side (inserts
    // may create partitions the target doesn't have yet).
    val affected = incoming.join(changedKeys, Seq(key), "left_semi")
      .select(col(partitionCol)).distinct()
    val nAffected = affected.count()
    if (nAffected > 0) {
      val merged = Upsert.merge(target, incoming, key)
        .join(broadcast(affected), Seq(partitionCol), "left_semi")
      val stage = path.stripSuffix("/") + "_stage"
      // Stage partition-first so the re-read keeps the layout cheap.
      merged.write.mode("overwrite").partitionBy(partitionCol).parquet(stage)
      read(spark, stage).write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path)
    }
    nAffected
  }
}
