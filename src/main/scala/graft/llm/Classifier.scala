package graft.llm

import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst.{column, expression}
import graft.functions.GramTickSum

/** Learned quality classification — the fastText-style third filter of
  * the standard cleaning stack (after heuristic signals and LM
  * perplexity): a linear model over hashed word-n-gram counts, trained
  * on whatever labels the pipeline trusts (heuristic-score distillation,
  * a curated seed set, LLM judgments) and scored DISTRIBUTED over the
  * full corpus. Public recipe throughout (Joulin et al. 2016 "Bag of
  * Tricks"; CCNet/LLaMA-style quality filtering).
  *
  * The split of labor is the [[graft.tubes.Tube]] pattern: TRAINING runs
  * wherever spark.ml puts it (the model is metadata — dim+1 doubles) and
  * is NOT part of the determinism contract; SCORING is, and it is pinned
  * by construction: exported coefficients quantize to 1e-6 ticks
  * (`floor(x·1e6 + 0.5)`, exact longs), a document's logit is the
  * intercept ticks plus the SUM OVER GRAM INSTANCES of its bucket's
  * coefficient ticks — pure integer arithmetic, immune to float
  * summation order, replayable by any engine from (text, exported
  * ticks). Features are the EXACT [[Pipeline.importanceWeights]] gram
  * space (word n-gram instances, md5-hashed into `dim` buckets), so the
  * classifier shares DSIR's native `graft_gram_buckets` fast path and
  * its oracle convention.
  *
  * Scale shape: scoring is one codegen'd projection (per-row gram fold
  * probing a `dim`-sized literal array) — zero shuffle at any corpus
  * size; training runs on a labeled SAMPLE by design (labels are the
  * scarce thing), and its one aggregation-like step is spark.ml's own
  * treeAggregate over the sample.
  */
object Classifier {

  /** Exported model: quantized 1e-6 coefficient ticks, index = bucket.
    * The scoring contract is a pure function of (text, this).
    */
  final case class TextClassifierModel(dim: Int, ns: Seq[Int],
                                       interceptTicks: Long,
                                       coefTicks: Array[Long])

  /** Deterministic per-label training sample: the `capPerLabel` docs per
    * label value with the smallest `(md5(id|seed), id)` — the
    * [[Pipeline.sampleExactK]] construction stratified on the label, so
    * class balance survives the cap and the sample is a pure function of
    * ids (reproducible across re-runs and partitionings). The label is
    * taken as an EXPRESSION over the doc row and lands as column
    * `labelCol` in the output.
    *
    * Scale shape, in corpus-pass order: (1) a uniform id-only exact-k
    * pre-sample of `capPerLabel · presampleFactor` docs — the one pass
    * that touches every row reads the id COLUMN alone (a derived label
    * heuristic is never computed corpus-wide; you don't label 100 TB to
    * pick a 4k training set); (2) the pre-sampled id set (metadata-sized
    * by construction) comes back as a BROADCAST semi-join fetching the
    * pre-sample rows in one scan, where `label` is evaluated — applied
    * HERE, structurally above the join, rather than relying on
    * PushDownLeftSemiAntiJoin to hoist a caller-side projection (it
    * does not: measured corpus-wide label evaluation under the joined
    * form); (3) the per-label exact-k runs over the pre-sample pool,
    * which is already budget-sized. `presampleFactor = 0` disables the
    * pre-sample — the label evaluates corpus-wide and the per-label
    * exact-k scans everything (the labels-already-materialized case).
    *
    * A label value with fewer than `capPerLabel` docs IN THE PRE-SAMPLE
    * contributes what it has; size the factor for the rarest class
    * (uniform sampling preserves class rates in expectation).
    */
  def trainingSample(docs: DataFrame, idCol: String, label: Column,
                     labelCol: String, capPerLabel: Int, seed: Long = 0L,
                     presampleFactor: Int = 8,
                     knownCount: Option[Long] = None): DataFrame = {
    require(capPerLabel >= 1, "Classifier.trainingSample: capPerLabel must be >= 1")
    require(presampleFactor >= 0,
      "Classifier.trainingSample: presampleFactor must be >= 0")
    // The budget is computed ONCE as a Long (an Int product can overflow
    // negative for large cap·factor while a Long check passes) and must
    // fit Int because sampleExactK takes an Int k.
    val budget = capPerLabel.toLong * presampleFactor
    require(presampleFactor == 0 || budget <= Int.MaxValue,
      s"Classifier.trainingSample: capPerLabel * presampleFactor = $budget overflows Int")
    // One counting job probes whether the pre-sample budget even binds —
    // a covering pre-sample keeps every id, so skipping it is
    // result-identical and saves two window stages and a join at small
    // corpus sizes (the Stats Bcast.Auto precedent: a cheap probe picks
    // the plan shape, never the answer). The probe is metadata-speed on
    // a bare parquet scan but a FULL extra pass on a filtered/derived
    // corpus (the realistic `cleanCorpus`-survivors input) — callers who
    // know (or can bound) the row count pass `knownCount` to skip it.
    val pool =
      if (presampleFactor == 0 || knownCount.getOrElse(docs.count()) <= budget)
        docs.withColumn(labelCol, label)
      else {
        val preIds = Pipeline.sampleExactK(
            docs.select(col(idCol)).withColumn("_cls_all", lit(1)),
            idCol, "_cls_all", budget.toInt, seed)
          .select(col(idCol).as("_cls_pid"))
        docs.join(broadcast(preIds), col(idCol) === col("_cls_pid"), "left_semi")
          .withColumn(labelCol, label)
      }
    Pipeline.sampleExactK(pool, idCol, labelCol, capPerLabel, seed)
      .drop("sample_rank")
  }

  /** Fit a logistic-regression quality classifier on `label` (a 0/1
    * expression over the doc row) with hashed-gram count features.
    * Standardization off — the exported coefficients must apply to RAW
    * counts (standardized fits fold the scaling into unexported
    * per-feature factors).
    *
    * `trainCapPerLabel > 0` bounds the training set via
    * [[trainingSample]] (labels are the scarce thing — the fit's cost
    * should be a function of the labeling budget, not the corpus size),
    * and the label expression then evaluates on the pre-sample only;
    * 0 labels and fits on every row. `knownCount` skips the
    * budget-coverage count probe when the caller already knows (or can
    * bound) the corpus size — on a filtered/derived input the probe is
    * a full extra pass, not metadata-speed.
    */
  def fit(docs: DataFrame, idCol: String, textCol: String, label: Column,
          dim: Int = 512, ns: Seq[Int] = Seq(1, 2),
          maxIter: Int = 50, regParam: Double = 1e-4,
          trainCapPerLabel: Int = 0,
          sampleSeed: Long = 0L,
          presampleFactor: Int = 8,
          knownCount: Option[Long] = None): TextClassifierModel = {
    require(dim > 0 && dim <= (1 << 20), "Classifier.fit: dim must be in (0, 2^20]")
    require(ns.nonEmpty && ns.forall(_ > 0), "Classifier.fit: ns must be positive")
    require(trainCapPerLabel >= 0, "Classifier.fit: trainCapPerLabel must be >= 0")
    graft.core.Salting.requireFreeColumns(docs, Seq("_cls_label"),
      "Classifier.fit")
    def ticks(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    if (trainCapPerLabel > 0) {
      // Capped fit: the training set is ≤ 2 · capPerLabel rows BY
      // CONSTRUCTION (trainingSample's contract), i.e. metadata-sized —
      // but spark.ml's LBFGS submits one treeAggregate JOB per iteration,
      // and at maxIter = 50 those ~50 scheduler round-trips (not the
      // gradient math, microseconds on a 4k-row sample) were the whole
      // fit cost. Collect the bounded sample once and run the SAME
      // objective (mean logistic loss + L2 on coefficients, intercept
      // unregularized, raw counts — the standardization=false contract)
      // through breeze's LBFGS on the driver: zero jobs per iteration.
      // Training numerics were never part of the determinism contract
      // (object doc); scoring still replays from the exported ticks.
      val sample = trainingSample(docs, idCol, label, "_cls_label",
          trainCapPerLabel, sampleSeed, presampleFactor, knownCount)
        // the sampling windows leave ~one partition per label, so the
        // gram hashing of the whole sample (the collect's real per-row
        // cost) would run single-task without this spread; the sample is
        // ≤ 2 · capPerLabel rows BY CONSTRUCTION, so an unconditional
        // repartition is bounded at any corpus scale (no Fanout.fanOut
        // here — its partition probe would pre-execute the sampling
        // stages under AQE)
        .repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(col("_cls_label").cast("double"),
          Pipeline.gramBuckets(col(textCol), ns, dim))
        .collect() // ≤ 2 · capPerLabel rows — the cap bounds this
        .map { r =>
          val counts = scala.collection.mutable.HashMap.empty[Int, Double]
          r.getSeq[Long](1).foreach(b =>
            counts.update(b.toInt, counts.getOrElse(b.toInt, 0.0) + 1.0))
          (r.getDouble(0), counts.toArray.sortBy(_._1))
        }
      val (intercept, coefs) = fitLocal(sample, dim, maxIter, regParam)
      TextClassifierModel(dim, ns, ticks(intercept), coefs.map(ticks))
    } else {
      val fitDocs = docs.withColumn("_cls_label", label)
      // bucket-instance array → sparse count vector; row-local, so the one
      // UDF in this file runs on the corpus-wide-labels path only
      val toVec = udf((bs: Seq[Long]) => {
        val m = scala.collection.mutable.HashMap.empty[Int, Double]
        bs.foreach(b => m.update(b.toInt, m.getOrElse(b.toInt, 0.0) + 1.0))
        Vectors.sparse(dim, m.toSeq.sortBy(_._1))
      })
      val train = fitDocs.select(
        col("_cls_label").cast("double").as("label"),
        toVec(Pipeline.gramBuckets(col(textCol), ns, dim)).as("features"))
      val lr = new LogisticRegression()
        .setMaxIter(maxIter).setRegParam(regParam)
        .setStandardization(false).setFitIntercept(true)
      val m = lr.fit(train)
      TextClassifierModel(dim, ns, ticks(m.intercept),
        m.coefficients.toArray.map(ticks))
    }
  }

  /** Driver-local logistic regression over a bounded sample: minimize
    * `(1/n) Σ logloss + (regParam/2) ||coef||²` (intercept not
    * regularized) with breeze's LBFGS — the library spark.ml's own
    * optimizer wraps, minus the per-iteration distributed aggregate that
    * a metadata-sized sample cannot amortize. `rows` are
    * `(label, sparse feature counts)`; returns `(intercept, coefs)`.
    */
  private def fitLocal(rows: Array[(Double, Array[(Int, Double)])], dim: Int,
                       maxIter: Int, regParam: Double): (Double, Array[Double]) = {
    import breeze.linalg.{DenseVector => BDV}
    require(rows.nonEmpty, "Classifier.fitLocal: empty training sample")
    val n = rows.length.toDouble
    val cost = new breeze.optimize.DiffFunction[BDV[Double]] {
      // w(0..dim-1) = coefficients, w(dim) = intercept
      def calculate(w: BDV[Double]): (Double, BDV[Double]) = {
        var loss = 0.0
        val grad = BDV.zeros[Double](dim + 1)
        rows.foreach { case (y, xs) =>
          var m = w(dim)
          xs.foreach { case (i, v) => m += w(i) * v }
          // canonical stable form: max(m,0) − y·m + log1p(e^−|m|)
          loss += math.max(m, 0.0) - y * m + math.log1p(math.exp(-math.abs(m)))
          val mult = 1.0 / (1.0 + math.exp(-m)) - y
          xs.foreach { case (i, v) => grad(i) += mult * v }
          grad(dim) += mult
        }
        loss /= n
        grad /= n
        var k = 0
        while (k < dim) {
          loss += 0.5 * regParam * w(k) * w(k)
          grad(k) += regParam * w(k)
          k += 1
        }
        (loss, grad)
      }
    }
    val lbfgs = new breeze.optimize.LBFGS[BDV[Double]](
      maxIter = maxIter, m = 10, tolerance = 1e-6)
    val w = lbfgs.minimize(cost, BDV.zeros[Double](dim + 1))
    (w(dim), Array.tabulate(dim)(w(_)))
  }

  /** Integer-tick logit of `text` under `model` — the pinned scoring
    * contract (see object doc). Exposed as a Column so callers can
    * compose it into any projection.
    *
    * Execution: the fused native scan [[graft.functions.GramTickSum]]
    * (one tokenize + one digest + one primitive table probe per gram
    * instance) — spec-pinned bit-equal to an HOF fold of the tick table
    * over [[Pipeline.gramBuckets]] (NativeEquivalenceSpec).
    */
  def logitTicks(text: Column, model: TextClassifierModel): Column =
    column(GramTickSum(expression(text), model.ns, model.dim,
      model.interceptTicks, model.coefTicks))

  /** Score a corpus: `(idCol, logit_ticks, score, pred)` — `score` the
    * tick logit as a double (ticks/1e6), `pred` the logit>0 decision.
    * One projection over the text scan, zero shuffle.
    *
    * The logit is aliased in its OWN projection and the derived columns
    * reference it — the round-15 CSE aliasing rule: inlining the scan
    * expression into all three outputs makes the interpreted projection
    * evaluate it three times per row (measured 3× the whole query), and
    * CollapseProject never merges a non-cheap alias referenced more
    * than once, so the two-projection form is stable.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: TextClassifierModel): DataFrame =
    docs.select(col(idCol), logitTicks(col(textCol), model).as("logit_ticks"))
      .select(col(idCol), col("logit_ticks"),
        (col("logit_ticks") / 1e6).as("score"),
        (col("logit_ticks") > 0).as("pred"))
}
