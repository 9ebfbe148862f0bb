package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one eager-checkpoint call, and the per-micro-batch
  * release of the blocks it persists.
  *
  * Contract: every eager `DataFrame` checkpoint in the engine is
  * [[checkpointTracked]]; a checkpoint path that materializes its own
  * RDD registers it with [[trackPersisted]]. BlockHygieneSpec fails
  * on any other `localCheckpoint` call in the main sources.
  *
  *  - Outside a [[releasingNewPersists]] bracket, [[checkpointTracked]]
  *    is `df.localCheckpoint()`: batch callers (Bench, Verify) keep
  *    their own leftover-block sweep.
  *  - Inside a bracket, the persisted RDD is registered with the
  *    innermost bracket on this thread and unpersisted when the
  *    bracket exits. A `foreachBatch` body wrapped in a bracket
  *    therefore holds its checkpoint blocks for one micro-batch
  *    instead of leaking one set per batch for the life of the stream
  *    (the spill/GC-pressure class the v20 bench block-hygiene fix
  *    measured: 21 s vs 7.5 s on graph_triangles). A bracketed body
  *    must not let a checkpointed frame escape it.
  *
  * A bracket releases exactly the ids registered inside it, not a
  * before/after diff of the driver's persistent-RDD registry: in a
  * shared session a registry diff would also sweep a concurrently
  * running query's checkpoint, whose blocks are its only copy
  * (lineage is truncated). The registered set is held in a plain
  * [[ThreadLocal]], deliberately NOT Scala's `DynamicVariable`, whose
  * InheritableThreadLocal backing would hand the set to any thread
  * spawned inside a bracket (a `writeStream.start()`, a parallel
  * collection): that thread's later checkpoints would land in a set
  * nothing sweeps, mutated unsynchronized. A spawned thread sees no
  * bracket, and brackets on different threads release only their own
  * blocks. Brackets nest: an inner bracket releases its own blocks and
  * leaves the outer bracket's alone.
  */
object BlockHygiene {
  private val active = new ThreadLocal[Option[mutable.Set[Int]]] {
    override def initialValue(): Option[mutable.Set[Int]] = None
  }

  /** `df.localCheckpoint()` whose persisted RDD is registered with the
    * innermost [[releasingNewPersists]] bracket on this thread (no-op
    * registration outside a bracket). The persisted RDD id is read off
    * the checkpointed frame's own [[LogicalRDD]] leaf — exact
    * ownership, no registry diffing, no race with concurrent queries.
    */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    for (buf <- active.get(); id <- persistedRddId(ck)) buf += id
    ck
  }

  /** Register an already-persisted RDD id with the innermost bracket
    * on this thread (no-op outside a bracket) — the raw-id form of
    * [[checkpointTracked]] for checkpoint paths that materialize their
    * own RDD instead of calling `Dataset.localCheckpoint` (the
    * fresh-stats checkpoint in
    * `org.apache.spark.sql.execution.GraftCheckpoint`, the shingle
    * dictionary in `Dedup`).
    */
  def trackPersisted(rddId: Int): Unit = active.get().foreach(_ += rddId)

  /** Unpersist the checkpointed RDD a frame reads (no-op for frames
    * whose plan has no [[LogicalRDD]] leaf). For loop-carried
    * checkpoints whose previous round is provably dead — the lineage
    * is truncated, so ONLY call this when nothing can re-evaluate the
    * old frame.
    */
  def unpersistCheckpointed(df: DataFrame): Unit =
    for (id <- persistedRddId(df);
         rdd <- df.sparkSession.sparkContext.getPersistentRDDs.get(id))
      rdd.unpersist(blocking = false)

  private def persistedRddId(ck: DataFrame): Option[Int] =
    ck.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }

  /** Run `body` with a fresh bracket on this thread; on exit, unpersist
    * every RDD registered inside it. */
  def releasingNewPersists[A](spark: SparkSession)(body: => A): A = {
    val buf = mutable.Set.empty[Int]
    val saved = active.get()
    active.set(Some(buf))
    try body
    finally {
      active.set(saved)
      val registry = spark.sparkContext.getPersistentRDDs
      buf.foreach(id => registry.get(id).foreach(_.unpersist(blocking = false)))
    }
  }
}
