package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** The cache and checkpoint lifecycle of one iterative graph operator
  * call. The loop owns every block it creates and finds each one
  * through its own Dataset (a localCheckpoint's plan is a `LogicalRDD`
  * over the persisted RDD), never through a diff of the SparkContext's
  * persistent-RDD registry, which would also free a concurrent job's
  * blocks.
  *
  *  - [[cache]] persists an edge layout for the whole loop;
  *  - [[pass]] checkpoints one pass's state and frees the checkpoint it
  *    replaces in the same slot — the next pass reads only the new one;
  *  - [[keep]] checkpoints a frame that lives until the loop ends;
  *  - [[finish]] checkpoints the result and [[release]]s the rest: the
  *    caches and every checkpoint the returned frame does not read are
  *    freed, so after the call the persistent RDDs it added are exactly
  *    those in the result's plan.
  */
private[graft] final class GraphLoop {
  private val caches = mutable.ArrayBuffer.empty[DataFrame]
  private val kept = mutable.ArrayBuffer.empty[RDD[_]]
  private val slots = mutable.Map.empty[String, RDD[_]]

  def cache(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    caches += c
    c
  }

  def keep(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    kept += GraphLoop.rddOf(c)
    c
  }

  def pass(df: DataFrame, slot: String = "state"): DataFrame = {
    val c = df.localCheckpoint(true)
    slots.put(slot, GraphLoop.rddOf(c)).foreach(_.unpersist(false))
    c
  }

  def finish(result: DataFrame): DataFrame = release(result.localCheckpoint(true))

  /** Frees the caches and every checkpoint `result` does not read;
    * returns `result`. */
  def release(result: DataFrame): DataFrame = {
    val live = GraphLoop.rdds(result).map(_.id).toSet
    (kept ++ slots.values).filterNot(r => live(r.id)).foreach(_.unpersist(false))
    caches.foreach(_.unpersist(false))
    result
  }
}

private[graft] object GraphLoop {
  /** The persisted RDD behind an eager localCheckpoint. */
  private def rddOf(ckpt: DataFrame): RDD[_] =
    ckpt.queryExecution.logical match { case r: LogicalRDD => r.rdd }

  /** The checkpointed RDDs a frame reads: the `LogicalRDD` leaves of its
    * plan, with cached fragments already substituted (a cached frame
    * reads its cache, not the checkpoints below it). */
  def rdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.withCachedData.collect { case r: LogicalRDD => r.rdd }
}
