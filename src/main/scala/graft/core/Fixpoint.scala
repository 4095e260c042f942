package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.{CheckpointDir, CheckpointStats}

/** The driver loop of graft's iterative operators
  * ([[graft.llm.Dedup.components]], [[graft.graph.Graph.pagerank]],
  * [[graft.graph.Graph.kcore]]): `state ← step(state)` for at most
  * `maxRounds` rounds.
  *
  * Lineage is cut every round. The initial state and each round are
  * materialised with an eager checkpoint, so round k's plan reads round
  * k−1 as a scan of stored rows. Without the cut, a step that reads its
  * input twice (components joins the labels and aggregates over them)
  * doubles the logical plan every round, and Catalyst analysis alone goes
  * exponential within about ten rounds. The checkpoint's size estimate,
  * which it inherits from the plan it came from, is capped at
  * `Long.MaxValue`: a self-joining step squares that estimate every round
  * (its digit count doubles), and near twenty rounds every plan build
  * would multiply million-digit integers.
  *
  * `checkpointDir = None` uses `localCheckpoint`: rows go to the executor
  * block store, which is fast, but a lost executor loses blocks that have
  * no lineage to rebuild them. Round k−1's blocks are freed as soon as
  * round k is materialised, so storage stays at one round whatever the
  * round count. `Some(dir)` uses a reliable checkpoint under `dir`
  * (HDFS/S3 on a cluster), for a loop that must survive executor loss;
  * its files are left to the directory's retention policy. The directory
  * is a SparkContext-wide setting: it is set for the loop and put back
  * afterwards exactly as it was, unset included.
  *
  * `stopWhenStable` is an aggregate over one round's rows. The loop stops
  * after the first round whose value equals the previous round's, and
  * reports that it converged; the caller picks an aggregate that cannot
  * repeat while the state still changes. The aggregate is attached with
  * `Dataset.observe` and read from the round's own materialisation job,
  * so checking convergence costs no job of its own.
  *
  * Returns the last materialised round and whether the loop converged.
  */
object Fixpoint {

  def apply(init: DataFrame, maxRounds: Int, checkpointDir: Option[String] = None,
            stopWhenStable: Option[Column] = None)
           (step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    val sc = init.sparkSession.sparkContext
    val prevDir = sc.getCheckpointDir
    checkpointDir.foreach(sc.setCheckpointDir)
    // one round's rows, and its observed aggregate when there is one
    def materialize(df: DataFrame): (DataFrame, Option[Any]) = {
      val observed = stopWhenStable.fold(df)(df.observe("graft_fixpoint", _))
      val rows = CheckpointStats.capped(
        if (checkpointDir.isDefined) observed.checkpoint(true) else observed.localCheckpoint(true))
      (rows, stopWhenStable.map(_ => observed.queryExecution.observedMetrics("graft_fixpoint")(0)))
    }
    def release(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
          .foreach(_.unpersist(false))
    try {
      var (state, metric) = materialize(init)
      var (round, converged) = (0, false)
      while (!converged && round < maxRounds) {
        val (next, m) = materialize(step(state))
        release(state)
        converged = m.isDefined && m == metric
        state = next
        metric = m
        round += 1
      }
      (state, converged)
    } finally if (checkpointDir.isDefined) CheckpointDir.restore(sc, prevDir)
  }
}
