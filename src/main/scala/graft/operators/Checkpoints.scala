package graft.operators

import org.apache.spark.sql.DataFrame

/** Materialize-and-count for frames an operator both reuses and sizes. */
private[graft] object Checkpoints {

  /** `df` materialized (local checkpoint) with its row count, in ONE job
    * after its shuffle stages: the job that stores the final stage also
    * counts it. An eager checkpoint followed by `count()` is that job plus
    * two more under AQE (partial aggregate, then the final exchange). */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val c = df.localCheckpoint(false)
    (c, c.queryExecution.toRdd.count())
  }
}
