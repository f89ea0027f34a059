package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization policy: where graft keeps intermediate state
  * (a frame read more than once, one round of an iteration), it is
  * computed once here with its lineage cut, and released here. Today
  * that is an eager local checkpoint, whose blocks are lost with the
  * executor that holds them (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). */
object Materialize {

  def apply(df: DataFrame): DataFrame = df.localCheckpoint()

  /** `.materialized`: the same, as the last call of a chain. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }

  /** Free the blocks behind materializations nobody reads again, which
    * `unpersist` does not do. A view over one is skipped: it may have
    * other readers. */
  def release(dfs: DataFrame*): Unit = dfs.foreach(_.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  })

  /** Run `step` from `seed` for at most `maxRounds` rounds. `step` gets
    * the current generation and the 1-based round number; its result is
    * materialized. `done(superseded, next)` then says whether to stop,
    * and may read both, before the superseded generation (the seed
    * included, unless it is lazy) is released. Returns the last
    * generation (the seed after zero rounds) and the rounds run. */
  def fixpoint(seed: DataFrame, maxRounds: Int,
      done: (DataFrame, DataFrame) => Boolean = (_, _) => false)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    var (gen, rounds, stop) = (seed, 0, false)
    while (!stop && rounds < maxRounds) {
      rounds += 1
      val next = apply(step(gen, rounds))
      stop = done(gen, next)
      release(gen)
      gen = next
    }
    (gen, rounds)
  }
}
