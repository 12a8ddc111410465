package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Key-based upsert without a transactional store.
  *
  * Re-expresses the reference's check-then-INSERT/UPDATE loop
  * (reference: crypto_app/db.py:113-133, load_data.py:66-102) as a single
  * shuffle: union the update set under the base set, then keep the
  * highest-version row per key with a row_number window.
  *
  * Scale notes: one hash shuffle on `keys` (same cost class as the MERGE a
  * Delta-style sink would run). Updates are usually a small fraction of the
  * base at 100 TB — AQE coalesces the union's post-shuffle partitions, and
  * the window needs no global sort, only per-key ordering. Idempotent:
  * upsert(upsert(b, u), u) == upsert(b, u).
  */
object Upsert {

  /** @param versionCol highest value wins per key; ties broken toward the
    *                   update side (matching "late data always wins" in the
    *                   reference, db.py:118-125). */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame = {
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col("__src").desc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__src")
  }
}
