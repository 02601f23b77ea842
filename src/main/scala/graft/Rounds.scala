package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one driver for iterative operators: PageRank, NN-descent, graph
  * insert, BPE training, the dedup closure and the Lloyd loop all run
  * their rounds through [[run]].
  *
  * Lineage rule. Iterative loops MUST truncate lineage, not just cache:
  * cache() keeps the full logical plan, so each round's joins and
  * aggregates DOUBLE the plan of the next — exponential plan growth that
  * OOMs the driver around round ~15 (seen at sf0.1) long before any
  * executor breaks a sweat. An eager `localCheckpoint` materializes AND
  * cuts the plan to a leaf, so every round starts from a constant-size
  * plan — the same discipline GraphX/GraphFrames apply; a multi-executor
  * deployment would point sc.setCheckpointDir at durable storage and use
  * checkpoint() instead (localCheckpoint blocks die with an executor).
  *
  * Release rule. Once round r+1 is materialized it no longer reads round
  * r, so round r's blocks are freed then, not whenever a JVM GC lets the
  * ContextCleaner find them: one long-lived session serves every query,
  * and a loop leaves behind at most the round its caller reads. */
object Rounds {

  /** Materialize `df` and cut its plan to a leaf over the blocks. */
  def checkpoint(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Checkpoint `init`, then apply `step` up to `maxRounds` times,
    * checkpointing every round and releasing the round before it once
    * `done` has read the new one. Stops early when `done` returns true
    * (it is never asked about `init`). Returns the last round, which the
    * caller owns. */
  def run(init: DataFrame, maxRounds: Int, done: DataFrame => Boolean = _ => false)
         (step: DataFrame => DataFrame): DataFrame = {
    @annotation.tailrec
    def go(cur: DataFrame, r: Int): DataFrame =
      if (r == maxRounds) cur
      else {
        val next = checkpoint(step(cur))
        val stop = done(next)
        release(cur)
        if (stop) next else go(next, r + 1)
      }
    go(checkpoint(init), 0)
  }

  /** Free the blocks under `df`: its cache, if any, and every checkpoint
    * its plan reads. `DataFrame.unpersist` alone is a no-op on a
    * checkpointed frame — the blocks belong to the RDD under its
    * `LogicalRDD` leaf. Nothing may read those checkpoints afterwards. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }
}
