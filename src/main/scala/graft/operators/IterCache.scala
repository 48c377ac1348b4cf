package graft.operators

import scala.collection.mutable.ListBuffer
import scala.util.DynamicVariable

import org.apache.spark.sql.DataFrame

/** Lane-scoped lifetime for the substrate frames a query caches: the
  * iterate-phase edge frames (pagerank / k-hop / SSSP / components),
  * whose cached layout every round's join reuses (see
  * Analytics.coPurchaseEdges), and the output-sized substrates a lane
  * reads more than once (LSH pairs, cluster labels, BPE merges, the LM
  * model, the bloom eval shingles).
  *
  * As in MapReduce, intermediate data belongs to the job that made it:
  * a lane runner wraps the lane's build AND its action in [[scope]],
  * and every frame [[persist]]ed inside is unpersisted when the scope
  * exits. Nothing is shared across lanes, so each lane pays for its own
  * substrate. Outside any scope a frame stays persisted until the caller
  * clears the session cache (`spark.catalog.clearCache()`).
  *
  * Unpersisting is always correctness-safe: a frame whose cache is gone
  * recomputes from its intact logical plan.
  */
private[graft] object IterCache {

  private val open = new DynamicVariable[Option[ListBuffer[DataFrame]]](None)

  /** Run `body`; on exit (also when it throws) unpersist, blocking,
    * every frame [[persist]]ed inside it. Thread-local: open it on the
    * thread that runs the lane.
    */
  def scope[T](body: => T): T = {
    val frames = ListBuffer.empty[DataFrame]
    try open.withValue(Some(frames))(body)
    finally {
      frames.foreach(_.unpersist(blocking = true))
      // threads started inside the scope inherit the buffer: drop the
      // frames so they do not stay reachable from those threads
      frames.clear()
    }
  }

  /** Persist `df`, materialize it with `count()`, register it with the
    * open [[scope]] if there is one, and return it.
    */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    open.value.foreach(_ += df)
    df.count()
    df
  }
}
