package graft.operators

import graft.functions.HashFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE semantics on plain parquet-backed DataFrames — the reference's
  * three upsert flavors without a transactional table format:
  *
  *   - `classify`/`merge`: the 3-way upsert matrix of
  *     `/root/reference/storage/filesystem_store.py:95-128` — for each
  *     key: no target row -> insert; same content hash -> skip (no
  *     write); changed hash -> update. Expressed as one full-outer join
  *     + `when` matrix; deterministic and idempotent (re-merging the
  *     same batch is a no-op — the core incremental-crawl invariant).
  *   - `insertIfAbsent`: dedup-by-content append, the
  *     `ON CONFLICT (content_hash) DO NOTHING` of
  *     `/root/reference/db/postgres_store.py:84-103` — dropDuplicates on
  *     the hash inside the batch, then left-anti against the target.
  *
  * Scale: both are single hash-shuffles on the merge key; at 100 TB the
  * physical write is a partition overwrite of only the partitions whose
  * keys changed (partition column = site/tenant, per SURVEY T1).
  */
object Upsert {

  /** ONE row per key, DETERMINISTICALLY: among same-key rows the one
    * with the lowest `textCol` content hash wins, and rows that TIE on
    * content hash (identical normalized text, different metadata
    * columns) break by an xxhash64 over the non-key columns — so
    * redelivery, partitioning, and retries cannot flip the winner the
    * way `dropDuplicates`' keep-an-arbitrary-first-row can, for the
    * text OR for the metadata riding along with it: a duplicate-id
    * delivery must resolve to the SAME row on every replay or the
    * ingest family's hash-keyed convergence (exact screens, no-op
    * upserts) silently breaks. Same cost class as dropDuplicates (one
    * hash aggregate on the key, no window sort; see [[totalOrder]] for
    * why the tie-break is a hash, not the row itself).
    */
  def onePerKeyByContent(df: DataFrame, key: String,
      textCol: String): DataFrame = {
    val rest = df.columns.filter(_ != key)
    df.groupBy(col(key))
      .agg(min_by(struct(rest.map(col).toSeq: _*),
        totalOrder(rest.toSeq, HashFunctions.contentHash(col(textCol))))
        .as("__row"))
      .select(col(key) +: rest.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Total(-in-practice) min_by ordering for the one-per-key
    * resolutions: content hash first, then an xxhash64 over the row's
    * non-key columns as the tie-break. The tail must be a FIXED-WIDTH
    * value, not the packed row itself: min_by carries its ordering
    * through the aggregation buffer, and ordering by (hash, whole row)
    * re-serializes every row's text a second time — measured ~1.6× on
    * the chunk-store and index-delete ingest lifecycles. xxhash64 is
    * codegen'd and 8 bytes; two DISTINCT rows tie only on a same-key,
    * same-content-hash, same-xxhash64 triple collision (~2^-64 given
    * the first two), which replays still resolve identically — the
    * determinism-across-retries guarantee this ordering exists for
    * never degrades, only the pick among such colliding rows is
    * unspecified.
    */
  private def totalOrder(rest: Seq[String], hash: Column): Column =
    struct(hash, xxhash64(rest.map(col): _*))

  /** [[onePerKeyByContent]] that also RETURNS the winner's hash as
    * `content_hash`, hashing each row ONCE — the hash that picked the
    * winner is the winner's hash, so an ingest path that needs the
    * content hash next (all of them) should take this form instead of
    * re-hashing the survivors in a second full-text pass.
    */
  def onePerKeyByContentHashed(df: DataFrame, key: String,
      textCol: String): DataFrame = {
    require(!df.columns.contains("content_hash"),
      "onePerKeyByContentHashed computes content_hash itself; drop or " +
        "rename the incoming column")
    onePerKeyByHash(withContentHash(df, textCol), key)
  }

  /** The rows an upsert's hash gate compares ([[graft.sources.GenTable
    * .changed]]): one per key of `df`, its content hash as `__ch`. The
    * index and chunk stores build it alike, so a fan-out persists one
    * copy for both. */
  def gateRows(df: DataFrame, key: String, textCol: String): DataFrame =
    onePerKeyByContentHashed(df, key, textCol)
      .withColumnRenamed("content_hash", "__ch")

  /** The same one-row-per-key resolution for rows that already carry
    * their `content_hash` (the merge store's caller-hashed deliveries):
    * lowest hash wins, ties broken over the other columns. Both forms
    * resolve a tie to the same row.
    */
  def onePerKeyByHash(df: DataFrame, key: String): DataFrame = {
    val rest = df.columns.filter(_ != key)
    df.groupBy(col(key))
      .agg(min_by(struct(rest.map(col).toSeq: _*),
        totalOrder(rest.toSeq.filterNot(_ == "content_hash"),
          col("content_hash"))).as("__row"))
      .select(col(key) +: rest.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Tag every key with its merge action. Inputs need columns
    * (`key`, `hash`); output: (key, action, hash_old, hash_new) where
    * action in insert|update|skip|keep.
    */
  def classify(target: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val t = target.select(col(key).as("k"), col("content_hash").as("hash_old"))
    val i = incoming.select(col(key).as("k"), col("content_hash").as("hash_new"))
    t.join(i, Seq("k"), "full_outer")
      .select(col("k").as(key), col("hash_old"), col("hash_new"),
        when(col("hash_old").isNull, lit("insert"))
          .when(col("hash_new").isNull, lit("keep"))
          .when(col("hash_old") === col("hash_new"), lit("skip"))
          .otherwise(lit("update")).as("action"))
  }

  /** Merged state: incoming wins on insert/update, target rows are kept
    * otherwise (keep/skip). Both sides must share the schema
    * (key, content_hash, ...). ONE full-outer join — each side packs
    * its non-key columns into a struct, the action condition picks a
    * struct per key, and the result unpacks in incoming's column order.
    * A single shuffle on the merge key, instead of classify + two
    * semi-joins re-shuffling both inputs.
    */
  def merge(target: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val rest = incoming.columns.filter(_ != key)
    def packed(df: DataFrame, as: String) =
      df.select(col(key), struct(rest.map(col): _*).as(as))
    val takeIncoming = col("_t").isNull ||
      (col("_i").isNotNull &&
        col("_i.content_hash") =!= col("_t.content_hash"))
    packed(target, "_t")
      .join(packed(incoming, "_i"), Seq(key), "full_outer")
      .select(col(key),
        when(takeIncoming, col("_i")).otherwise(col("_t")).as("_r"))
      .select(incoming.columns.map {
        case c if c == key => col(key)
        case c => col(s"_r.$c").as(c)
      }: _*)
  }

  /** A8: rows from `incoming` whose content hash is not yet in `target`,
    * first-dedup'd within the batch (lowest key wins, deterministically).
    */
  def insertIfAbsent(target: DataFrame, incoming: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col(key))
    incoming
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(target.select(col("content_hash")), Seq("content_hash"), "left_anti")
  }

  /** Convenience: attach the normalized content hash. */
  /** Apply a CDC operation log with DELETE semantics: for each key,
    * the latest operation (by `ts`, then `tiebreak`) wins; keys whose
    * latest op is `deleteOp` vanish from the result, everything else
    * keeps its latest row. One window over one shuffle on the key —
    * the "replay the change stream into current state" half of a CDC
    * pipeline (the merge half is [[classify]]/[[merge]]).
    */
  def applyCdc(ops: DataFrame, key: String, ts: String, tiebreak: String,
      opCol: String, deleteOp: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(ts).desc, col(tiebreak).desc)
    ops.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= deleteOp)
      .drop("__rn")
  }

  def withContentHash(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("content_hash", HashFunctions.contentHash(col(textCol)))
}
