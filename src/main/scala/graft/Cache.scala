package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Persisting a plan once. Spark keeps one cache entry per plan: a
  * second persist of an equal plan adds nothing but the warning "Asked
  * to cache already cached data", and an unpersist drops the entry for
  * every holder. So the first persister of a plan owns its entry.
  */
object Cache {

  /** `df`, persisted `MEMORY_AND_DISK` unless an equal plan already is. */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** `f` over `df` persisted for the call, unpersisted after only when
    * the call persisted it: an entry another caller owns stays. */
  def using[T](df: DataFrame)(f: DataFrame => T): T = {
    val owned = df.storageLevel == StorageLevel.NONE
    persist(df)
    try f(df) finally if (owned) { df.unpersist(); () }
  }
}
