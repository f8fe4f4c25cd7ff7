package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one key-compaction decision: swap a string join key for an
  * 8-byte `xxhash64`, so every exchange downstream (group-bys, windows,
  * both self-join sides) carries 8 bytes per row instead of a 20–45-byte
  * gram, but only once the hash is proven injective on the keys present.
  *
  * Exactness: the per-key rule lets each hash value map to at most one
  * distinct key, a null key counting as its own value (`xxhash64(null)`
  * is the seed, 42, which a real key may also hash to). Then two rows
  * have equal hashes exactly when their keys are equal or both null, so
  * every group, count and cross-row match is the one the string key
  * gives. The one difference: a null string key never equi-joins, its
  * hash does; every caller's keys are grams of non-empty token arrays,
  * never null. A collision (birthday bound ~3e-8 at 1e5 distinct keys,
  * ~1e-7 at 1e6; never observed) keeps the string key: same results,
  * wider rows.
  */
object KeyCompaction {

  /** The compacted key: `xxhash64` with its default seed. */
  def hash(key: Column): Column = xxhash64(key)

  /** Per-hash aggregate of the per-key rule: distinct keys in the hash
    * group, null included (`struct(key)` is never null, so
    * `countDistinct` does not skip it). */
  def keysPerHash(key: Column): Column = countDistinct(struct(key))

  /** No group of `perHash` holds more than one key (`nCol` is its
    * [[keysPerHash]] column); an empty frame passes. */
  def injective(perHash: DataFrame, nCol: String): Boolean = {
    val mx = perHash.agg(max(col(nCol))).head()
    mx.isNullAt(0) || mx.getLong(0) <= 1L
  }

  /** The per-key rule over `keyCol` and its hash in `hashCol`. */
  private[graft] def guard(df: DataFrame, keyCol: String,
      hashCol: String): Boolean =
    injective(df.groupBy(col(hashCol))
      .agg(keysPerHash(col(keyCol)).as("n")), "n")

  /** `df` with `keyCol` replaced in place by its [[hash]] if the hash is
    * injective on `df`, else unchanged. The hash rides a lazy checkpoint
    * beside the key as `sid`, and the guard is the action that
    * materializes it: guard and checkpoint cost one pass over `df`. */
  def compact(df: DataFrame, keyCol: String): DataFrame = {
    val hashed = df.withColumn("sid", hash(col(keyCol)))
      .localCheckpoint(false)
    val key = if (guard(hashed, keyCol, "sid")) col("sid") else col(keyCol)
    hashed.select(df.columns.toSeq.map(c =>
      if (c == keyCol) key.as(keyCol) else col(c)): _*)
  }
}
