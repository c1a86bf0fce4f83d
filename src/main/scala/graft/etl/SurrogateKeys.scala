package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine surrogate keys, replacing the reference's
  * write-dim → read-back-via-JDBC → join round-trip (the warehouse's
  * SERIAL columns assigned the keys; `/root/reference/processing/
  * medical_formula_process.py:112-121`, SURVEY §1.2).
  *
  * Keys are the global rank under a canonical order, computed in two
  * phases with NO data-sized single-partition step: range-partition by
  * the key order, rank within each partition, then add the partition's
  * cumulative row offset. The offset table is one row per PARTITION
  * (bounded by cluster parallelism, not data), so its prefix-sum
  * window is trivially small. Everything stays a lazy Catalyst plan —
  * no RDD round-trip, no job at construction time — and both readers
  * of the sorted exchange share it (ReuseExchange; boundaries are
  * deterministic for identical input regardless).
  */
object SurrogateKeys {

  /** Add `idCol` = dense 1-based key over `orderCols`. The remaining
    * columns are appended as tie-breakers so the assignment stays
    * deterministic even when the natural key is unexpectedly non-unique
    * (dirty input); with a genuinely unique key the tie-breakers never
    * fire and ids are unchanged.
    *
    * Ids are Int, matching the reference warehouse's Postgres SERIAL
    * (int4) columns; ranks past Int.MaxValue raise rather than wrap —
    * use [[assignHashed]] for dimensions that large.
    */
  def assign(df: DataFrame, idCol: String, orderCols: Column*): DataFrame = {
    val named = orderCols.map(_.toString).toSet
    val tieBreakers = df.columns.filterNot(named.contains).map(col)
    val order = orderCols ++ tieBreakers
    val reserved = Seq("_pid", "_local", "_offset", "_rank")
    require(!df.columns.exists(reserved.contains),
      s"assign reserves internal column names ${reserved.mkString(", ")}")

    val sorted = df.repartitionByRange(order: _*)
      .withColumn("_pid", spark_partition_id())
    // one count row per PARTITION (bounded by cluster parallelism,
    // never the data); the prefix sum over it is a triangular
    // self-join rather than a window — a constant-partition window
    // would be optimized back to an unpartitioned WindowExec
    val counts = sorted.groupBy(col("_pid")).agg(count(lit(1)).as("_cnt"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b._pid") < col("a._pid"), "left")
      .groupBy(col("a._pid").as("_pid"))
      .agg(coalesce(sum(col("b._cnt")), lit(0L)).as("_offset"))
    val local = Window.partitionBy(col("_pid")).orderBy(order: _*)
    // bind the rank to a column before the overflow guard reads it: a
    // window Column repeated inside when/otherwise is extracted once per
    // occurrence, so the window would evaluate row_number() twice
    val rank = col("_rank")
    sorted
      .join(broadcast(offsets), Seq("_pid"))
      .withColumn("_rank", col("_offset") + row_number().over(local))
      .withColumn(idCol,
        when(rank <= Int.MaxValue.toLong, rank.cast("int"))
          .otherwise(raise_error(concat(
            lit(s"surrogate id overflow in $idCol; use assignHashed: "),
            rank.cast("string"))).cast("int")))
      .drop("_pid", "_offset", "_rank")
  }

  /** Scale path: a collision-free 64-bit key from the natural key,
    * computed per-row with no window/shuffle. Keys are stable across
    * runs but not dense. Use for dimensions too large to broadcast.
    */
  def assignHashed(df: DataFrame, idCol: String, naturalKey: Column*): DataFrame =
    df.withColumn(idCol,
      org.apache.spark.sql.functions.xxhash64(naturalKey: _*))
}
