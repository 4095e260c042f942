package graft.instants

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.classification.{DecisionTreeClassificationModel, DecisionTreeClassifier, RandomForestClassifier}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import graft.core.Parquet
import graft.dsp.SignalOps

/** Instant detection learner — the reference's flagship (tabata
  * instants.py: `Selector.fit` :363, `belief` :483, `predict` :552,
  * `all_scores`/`score` :655/:672).
  *
  * The reference labels every sample of every record as before(−1)/
  * after(+1) the expert-selected instant, trains a decision tree on the
  * indicator bank (with feature-importance pruning over several sampled
  * retries), then turns the tree's per-sample class into an instant: the
  * belief is the positive part of the SG first derivative of the class
  * signal, normalized per record; the predicted instant is its argmax.
  *
  * Spark mapping: labels/samples are column expressions (deterministic
  * hash sampling, no RNG state), the tree is spark.ml's distributed
  * `DecisionTreeClassifier`, and belief/predict are the already-proven
  * window operators — one shuffle on `record`, argmax via row_number.
  */
object Selector {

  /** The fitted detector: kept feature names and the final tree. */
  final case class SelectorModel(features: Seq[String],
                                 model: DecisionTreeClassificationModel) {
    def importances: Seq[(String, Double)] =
      features.zip(model.featureImportances.toArray.toIndexedSeq)
  }

  /** Persist a fitted detector (the reference re-attaches its pickled
    * `_clf` to new files, instants.py:683). The tree uses spark.ml's
    * native writer; the kept feature names (whose ORDER is the
    * VectorAssembler index mapping — losing it would silently permute
    * every split) ride along as a tiny parquet table. Both land under
    * `path`, so the model lives on whatever filesystem the data does.
    */
  def save(spark: org.apache.spark.sql.SparkSession,
           sel: SelectorModel, path: String): Unit = {
    import spark.implicits._
    sel.model.write.overwrite().save(s"$path/tree")
    sel.features.zipWithIndex.map { case (f, i) => (i, f) }
      .toDF("idx", "feature")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/features")
  }

  /** Reload a detector written by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): SelectorModel = {
    val feats = Parquet.read(spark, s"$path/features")
      .orderBy("idx").collect().map(_.getAs[String]("feature")).toSeq
    SelectorModel(feats, DecisionTreeClassificationModel.load(s"$path/tree"))
  }

  // ---- selection-table editing ----------------------------------------
  // The reference keeps the expert's labeled instants as an interactive
  // dict (instants.py:164 `self.selected`) with `clear_selection`
  // (instants.py:195) as the reset before a re-learn. The engine analog is
  // a small (rec, i) selection DataFrame — these thin ops cover the edits
  // the widget layer performs, after which a re-fit is just
  // [[fit]](features, editedSelection, ...).

  /** Empty selection with the same schema (instants.py:195
    * `clear_selection`).
    */
  def clearSelection(selected: DataFrame): DataFrame = selected.limit(0)

  /** Upsert edited instants: records present in `edits` replace their
    * previous selection, the rest keep theirs (the widget's
    * click-to-reselect, instants.py:847). `edits` is expert-clicked and
    * metadata-sized, so the upsert broadcasts it — no shuffle of the
    * existing selection.
    *
    * `edits` must hold ONE row per record: the reference's selection is a
    * dict keyed by record, and the fit/label path assumes one instant per
    * record. Duplicate edit rows would both survive the anti-join + union
    * and silently corrupt that contract — with no row order to break the
    * tie deterministically, this fails loudly instead of picking one.
    */
  def updateSelection(selected: DataFrame, edits: DataFrame, rec: String): DataFrame = {
    val dups = edits.groupBy(col(rec)).count().filter(col("count") > 1)
      .select(col(rec)).limit(5).collect().map(_.get(0))
    require(dups.isEmpty,
      s"updateSelection: edits carries multiple rows for record(s) " +
        s"${dups.mkString(", ")} — the selection is one instant per record; " +
        "dedupe the edits to the intended instant first")
    val incoming = edits.select(col(rec)).distinct()
    selected.join(broadcast(incoming), Seq(rec), "left_anti")
      .unionByName(edits.select(selected.columns.map(col).toIndexedSeq: _*))
  }

  /** Deselect whole records (the widget's pop on reclick,
    * instants.py:1015).
    */
  def dropSelection(selected: DataFrame, records: Seq[String], rec: String): DataFrame =
    selected.filter(!col(rec).isin(records: _*))

  /** Per-sample label (instants.py:529): 0 for 0-based position ≤ the
    * record's selected instant `i`, 1 after (the reference's −1/+1 coded
    * as spark.ml's 0/1).
    */
  def withLabel(features: DataFrame, instants: DataFrame, rec: String, t: String): DataFrame =
    features.join(broadcast(instants), Seq(rec))
      .withColumn("label", when(col(t) - 1 <= col("i"), 0.0).otherwise(1.0))
      .drop("i")

  private def assemble(df: DataFrame, feats: Seq[String]): DataFrame =
    new VectorAssembler().setInputCols(feats.toArray).setOutputCol("_fv")
      .transform(df)

  private def trainOnce(labeled: DataFrame, feats: Seq[String], samplePct: Double,
                        minInstances: Int, seed: Long, k: Int,
                        rec: String, t: String): DecisionTreeClassificationModel = {
    val pct = math.max(1, math.round(samplePct * 100).toInt)
    // The sketch/histogram rounds of tree training run once per depth
    // level; spreading a samplePct-sized sample over the full parent
    // fan-out makes every round scheduling-bound. coalesce (no shuffle)
    // keeps the sample's partition count proportional to its share of
    // the data while still spanning the cluster at scale.
    val parts = math.max(2,
      (labeled.rdd.getNumPartitions * math.min(1.0, samplePct * 2)).toInt)
    val sample = labeled.filter(pmod(xxhash64(col(rec), col(t), lit(seed + k)), lit(100)) < pct)
      .coalesce(parts)
    new DecisionTreeClassifier()
      .setFeaturesCol("_fv").setLabelCol("label")
      .setMinInstancesPerNode(minInstances)
      .setSeed(seed + k)
      .fit(assemble(sample, feats))
  }

  /** Fit with feature pruning (instants.py:425-460): `retries` trees on
    * subsamples accumulate importances; keep features above the
    * `percentile`-th importance percentile; retrain on a larger sample,
    * dropping zero-importance features until none remain.
    *
    * The importance phase is ONE RandomForest fit (numTrees = retries,
    * bootstrap subsamples of the same expected size, every feature
    * offered to every tree), not `retries` serial DecisionTree fits: all
    * the forest's trees share the same distributed histogram passes, so
    * the phase costs one job chain instead of `retries` serialized
    * spark.ml fits — the reference's loop (instants.py:433) collapsed
    * into the estimator built for it. RF's featureImportances is the
    * normalized per-tree average — a positive multiple of the reference's
    * per-tree sum — and the percentile keep-set is scale-invariant, so
    * the pruning decision is the same statistic. The FINAL tree (the
    * model whose exported SQL the oracle re-evaluates) remains a single
    * [[DecisionTreeClassifier]] on the deterministic hash sample.
    */
  def fit(features: DataFrame, instants: DataFrame, rec: String, t: String,
          featCols: Seq[String], retries: Int = 5, samplePct: Double = 0.1,
          minInstances: Int = 10, percentile: Double = 50.0,
          seed: Long = 42L): SelectorModel = {
    val labeled = withLabel(features, instants, rec, t).cache()
    try {
      val forest = new RandomForestClassifier()
        .setFeaturesCol("_fv").setLabelCol("label")
        .setMinInstancesPerNode(minInstances)
        .setNumTrees(retries)
        .setFeatureSubsetStrategy("all")
        .setSubsamplingRate(math.min(1.0, samplePct))
        .setSeed(seed)
        .fit(assemble(labeled, featCols))
      val fi = forest.featureImportances.toArray
      // percentile threshold over the accumulated importances (np.percentile,
      // linear interpolation)
      val sorted = fi.sorted
      val pos = percentile / 100.0 * (sorted.length - 1)
      val (lo, hi) = (sorted(pos.toInt), sorted(math.min(pos.toInt + 1, sorted.length - 1)))
      val thr = lo + (hi - lo) * (pos - pos.toInt)
      var keep = featCols.zip(fi.toIndexedSeq).filter(_._2 > thr).map(_._1)
      if (keep.isEmpty) keep = featCols

      val bigPct = math.min(0.5, samplePct * retries)
      var model = trainOnce(labeled, keep, bigPct, minInstances, seed, retries, rec, t)
      var imp = model.featureImportances.toArray
      while (imp.count(_ == 0.0) > 0 && imp.count(_ > 0.0) > 0) {
        keep = keep.zip(imp.toIndexedSeq).filter(_._2 > 0.0).map(_._1)
        model = trainOnce(labeled, keep, bigPct, minInstances, seed, retries, rec, t)
        imp = model.featureImportances.toArray
      }
      SelectorModel(keep, model)
    } finally labeled.unpersist()
  }

  /** Per-sample tree class (the fitted detector applied as a classifier):
    * one row per bank sample, `cls` = the leaf class 0/1 as BIGINT. This is
    * the hash-checkable surface of a fit — an oracle evaluating
    * [[treeSql]]'s CASE export over independently computed features must
    * reproduce every leaf decision.
    */
  def classify(sel: SelectorModel, features: DataFrame, rec: String, t: String): DataFrame =
    sel.model.transform(assemble(features, sel.features))
      .select(col(rec), col(t), col("prediction").cast("long").as("cls"))

  /** Human-readable rule dump of the fitted tree (instants.py:469
    * `describe`: the kept-feature table + sklearn `tree.export_text`).
    * Returned as a string rather than printed — callers decide the sink.
    * Rules use the real kept feature names (the reference prints
    * `feature_N` plus a separate index table; inlining the name reads the
    * same and removes the cross-reference), `|   ` indentation per level,
    * `<=`/`> ` on the split threshold, and `class: 0.0/1.0` leaves.
    */
  def describe(sel: SelectorModel): String = {
    val sb = new StringBuilder
    sb.append("Features:\n")
    sel.features.zipWithIndex.foreach { case (f, i) => sb.append(s"  $i: $f\n") }
    def walk(node: Node, depth: Int): Unit = {
      val pad = "|   " * depth
      node match {
        case l: LeafNode => sb.append(s"$pad|--- class: ${l.prediction}\n")
        case n: InternalNode => n.split match {
          case s: ContinuousSplit =>
            val f = sel.features(s.featureIndex)
            sb.append(s"$pad|--- $f <= ${s.threshold}\n")
            walk(n.leftChild, depth + 1)
            sb.append(s"$pad|--- $f >  ${s.threshold}\n")
            walk(n.rightChild, depth + 1)
          case other =>
            throw new IllegalArgumentException(
              s"describe: unsupported split type ${other.getClass.getName} (all bank features are continuous)")
        }
      }
    }
    walk(sel.model.rootNode, 0)
    sb.result()
  }

  /** The fitted tree exported as an ANSI-SQL CASE expression over the
    * double-quoted feature column names. spark.ml continuous splits send
    * `feature <= threshold` to the left child (`Split.shouldGoLeft`), so
    * the export preserves boundary semantics exactly; leaf values are the
    * 0.0/1.0 class predictions.
    */
  def treeSql(sel: SelectorModel): String = {
    def walk(node: Node): String = node match {
      case l: LeafNode => l.prediction.toString
      case n: InternalNode => n.split match {
        case s: ContinuousSplit =>
          val f = sel.features(s.featureIndex)
          s"""(CASE WHEN "$f" <= ${s.threshold} THEN ${walk(n.leftChild)} ELSE ${walk(n.rightChild)} END)"""
        case other =>
          throw new IllegalArgumentException(
            s"treeSql: unsupported split type ${other.getClass.getName} (all bank features are continuous)")
      }
    }
    walk(sel.model.rootNode)
  }

  /** Belief (instants.py:483): tree class per sample mapped to ±1, SG
    * first derivative (window 2·filterWidth+1, deg 2), positive part,
    * normalized per record. Output: input columns + `belief`.
    *
    * NOTE: records shorter than `2·filterWidth+1` samples are DROPPED
    * (the SG smoothing contract — scipy would raise on them); such
    * records get no predicted instant and no score row. Callers needing
    * every record should lower `filterWidth` or pre-filter and handle
    * short records separately.
    */
  /** SG derivatives of the ±1 class signal below this magnitude are
    * treated as exactly zero: the derivative of a CONSTANT class signal is
    * pure floating-point cancellation noise (~1e-16 — the SG derivative
    * weights sum to zero only in exact arithmetic), and without the floor
    * the belief of a record the tree classifies uniformly is noise/noise —
    * an argmax that independent engines order differently. Any record with
    * a real class transition has |derivative| ≥ O(1/width), so the floor
    * only zeroes the no-signal case, whose belief is semantically zero.
    */
  val BeliefNoiseFloor = 1e-12

  def belief(sel: SelectorModel, features: DataFrame, rec: String, t: String,
             filterWidth: Int = 10): DataFrame = {
    val pred = sel.model.transform(assemble(features, sel.features))
      .withColumn("_ip", col("prediction") * 2 - 1)
      .drop("_fv", "rawPrediction", "probability", "prediction")
    val dp = SignalOps.sgDf(pred, "_ip", rec, t, 2 * filterWidth + 1, 2, 1, "_dp")
    val wRec = Window.partitionBy(rec)
    val dpc = when(abs(col("_dp")) <= lit(BeliefNoiseFloor), lit(0.0))
      .otherwise(col("_dp"))
    val p = greatest(dpc, lit(0.0))
    val z = sum(p).over(wRec)
    dp.withColumn("belief", p / when(z === 0.0, lit(1.0)).otherwise(z))
      .drop("_ip", "_dp")
  }

  /** Decimals the belief is quantized to before the argmax in
    * [[predictInstants]]. On a mirror-symmetric belief plateau two samples'
    * beliefs can differ only by floating-point accumulation order (observed
    * at sf1: 0.12727272727272726 vs …29, one ulp), and independent engines
    * then argmax to different samples. Rounding to a fixed decimal
    * collapses sub-1e-9 differences into the deterministic first-max `t`
    * tiebreak on both engines; real belief peaks are separated by far more
    * than 1e-9 (the belief is a normalized distribution whose mass sits on
    * O(width) samples). The oracle's argmax CTE applies the same rounding.
    */
  val BeliefTieDecimals = 9

  /** Predicted instant per record (instants.py:552): 0-based argmax of the
    * belief (first max, after [[BeliefTieDecimals]] quantization).
    * Output: (rec, i).
    */
  def predictInstants(beliefDf: DataFrame, rec: String, t: String): DataFrame = {
    val w = Window.partitionBy(rec)
      .orderBy(round(col("belief"), BeliefTieDecimals).desc, col(t))
    beliefDf.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col(rec), (col(t) - 1).cast("long").as("i"))
  }

  /** Detection-vs-label gaps (instants.py:655 `all_scores`): one row per
    * record, `gap = computed − selected`.
    */
  def allScores(selected: DataFrame, computed: DataFrame, rec: String): DataFrame =
    selected.select(col(rec), col("i").as("t0"))
      .join(computed.select(col(rec), col("i").as("t1")), Seq(rec))
      .withColumn("gap", col("t1") - col("t0"))

  /** The reference `score` (instants.py:672): max |gap|. */
  def score(scores: DataFrame): Long = {
    val row = scores.agg(max(abs(col("gap")))).head()
    require(!row.isNullAt(0),
      "score: empty scores table — no record survived prediction (records " +
        "shorter than the SG window 2*filterWidth+1 are dropped by belief)")
    row.getLong(0)
  }
}
