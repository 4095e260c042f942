package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class FixpointSpec extends SparkSpec {

  // x ← max(x − 1, 0): a shuffle-free step over 0..9 that changes the
  // state for nine rounds and repeats it on the tenth
  private def init: DataFrame = spark.range(0, 10).toDF("x")
  private def countDown(s: DataFrame): DataFrame =
    s.select(greatest(col("x") - 1, lit(0L)).as("x"))
  private def xs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  test("a stable metric stops the loop, one job per materialisation, no separate check") {
    for (reliable <- Seq(false, true)) withTempDir { tmp =>
      val ckpt = if (reliable) Some(tmp) else None
      var out: (DataFrame, Boolean) = null
      val jobs = jobsStarted {
        out = Fixpoint(init, 50, ckpt, Some(sum(col("x"))))(countDown)
      }
      // the initial state + nine changing rounds + the round that repeats
      assert(jobs === 11, s"checkpointDir=$ckpt")
      assert(out._2, s"checkpointDir=$ckpt")
      assert(xs(out._1) === Seq.fill(10)(0L))
    }
  }

  test("without a metric the loop runs exactly maxRounds and does not report convergence") {
    var out: (DataFrame, Boolean) = null
    assert(jobsStarted { out = Fixpoint(init, 3)(countDown) } === 4)
    assert(!out._2)
    assert(xs(out._1) === Seq(0L, 0L, 0L, 0L, 1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("a metric that keeps changing runs every round and reports no convergence") {
    val (state, converged) = Fixpoint(init, 4, stopWhenStable = Some(sum(col("x"))))(countDown)
    assert(!converged)
    assert(xs(state) === Seq(0L, 0L, 0L, 0L, 0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("local path: superseded rounds are freed, storage bounded by one round") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (state, _) = Fixpoint(spark.range(0, 100).toDF("x"), 20)(countDown)
    val grew = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    assert(grew <= 1, s"a 20-round loop left $grew persisted RDDs (expect <= 1: the last round)")
    assert(xs(state).max === 79L)
  }

  test("reliable path writes checkpoint files and restores an unset directory") {
    val sc = spark.sparkContext
    assume(sc.getCheckpointDir.isEmpty, "the shared session must start with no checkpoint dir")
    withTempDir { dir =>
      val (state, _) = Fixpoint(init, 3, Some(dir))(countDown)
      assert(xs(state).max === 6L)
      val wrote = Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable checkpoint wrote no files")
      assert(sc.getCheckpointDir === None, "the loop leaked its checkpoint dir")
    }
  }

  test("a checkpoint directory set before the loop is restored exactly") {
    val sc = spark.sparkContext
    withTempDir { outer =>
      withTempDir { mine =>
        sc.setCheckpointDir(outer)
        val prev = sc.getCheckpointDir
        try {
          Fixpoint(init, 2, Some(mine))(countDown)
          assert(sc.getCheckpointDir === prev)
          // the rounds went to the loop's own directory, not the session's
          assert(Files.walk(Paths.get(mine)).filter(Files.isRegularFile(_)).count() > 0)
        } finally org.apache.spark.sql.graft.CheckpointDir.restore(sc, None)
      }
    }
  }

  test("a self-joining step keeps its size estimate within a Long over 30 rounds") {
    // a checkpoint that kept the estimate of the plan it came from would
    // have it squared by the self-join every round: its digit count
    // doubles, and near twenty rounds plan building stalls on million-digit
    // products. The step checks its input's estimate, so a regression
    // fails fast instead of hanging
    def size(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val seen = scala.collection.mutable.ArrayBuffer.empty[BigInt]
    val (state, converged) = Fixpoint(init, 30) { s =>
      seen += size(s)
      assert(seen.last <= Long.MaxValue, s"round ${seen.size} reads a ${seen.last.toString.length}-digit estimate")
      s.join(s.withColumnRenamed("x", "y"), col("x") === col("y")).select("x")
    }
    assert(!converged && seen.size === 30)
    // the estimates of the first rounds, small enough to decide a
    // broadcast, are kept as they were
    assert(seen.head < 1000 && seen(1) > seen.head, s"estimates per round: ${seen.mkString(", ")}")
    assert(size(state) === BigInt(Long.MaxValue))
    assert(xs(state) === (0L until 10L))
  }
}
