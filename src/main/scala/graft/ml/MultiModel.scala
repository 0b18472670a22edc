package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.eval.Metrics

/** The reference's `MultiModel` + `Predictor` core re-expressed Spark-first
  * (/root/reference/src/train.py:25-218, predict.py:99-125):
  * prep-fit → SMOTE rebalance (train-only) → classifier fit → a single
  * inference PipelineModel (prep + classifier), persisted via MLWritable.
  *
  * SMOTE is deliberately NOT a stage of the persisted pipeline: it must run
  * at fit time only, never at scoring time (the reference gets this via
  * imblearn's fit_resample semantics).
  */
object MultiModel {

  final case class Trained(
      pipeline: PipelineModel,
      modelType: String,
      params: Map[String, String],
      trainAccuracy: Double)

  /** M1 — the reference's 70/30 seed-42 split (notebook cell 46). */
  def split(df: DataFrame, seed: Long = 42L): (DataFrame, DataFrame) = {
    val Array(tr, te) = df.randomSplit(Array(0.7, 0.3), seed)
    (tr, te)
  }

  /** Fit prep + (optional SMOTE) + classifier; return an inference
    * pipeline that applies prep then the classifier (no SMOTE inside).
    */
  def train(train: DataFrame, featureCols: Seq[String], modelType: String,
      params: Map[String, String] = Map.empty,
      useSmote: Boolean = true,
      smoteStrategy: String = "smote"): Trained = {
    val prep = PrepPipeline.fit(train, featureCols)
    // the prepped matrix feeds SMOTE's class histogram + neighborhood
    // pass, the classifier fit and the training-accuracy scan — persist
    // once instead of re-running impute/assemble/scale per consumer
    val prepped = prep.transform(train)
      .select(col("label").cast("double").as("label"),
        col(PrepPipeline.FeaturesCol))
      .persist()
    try {
      val fitInput =
        if (useSmote)
          new Smote().setStrategy(smoteStrategy).transform(prepped)
        else prepped
      val clf = Trainers.byName(modelType, params).fit(fitInput)
        .asInstanceOf[org.apache.spark.ml.Transformer]
      // wrap the already-fitted stages: Pipeline.fit passes Transformers
      // through untouched, so nothing is re-fit here
      val inference = new Pipeline()
        .setStages(Array(prep, clf)).fit(train.limit(1))
      val acc = Metrics.accuracy(
        clf.transform(prepped).select(col("label"), col("prediction")))
        .head().getDouble(0)
      Trained(inference, modelType, params, acc)
    } finally prepped.unpersist()
  }

  /** L6 — score a frame: adds `prediction` (and probability columns where
    * the classifier provides them).
    */
  def score(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(df)

  def accuracy(model: PipelineModel, df: DataFrame): Double =
    Metrics.accuracy(
      score(model, df).select(col("label").cast("double").as("label"),
        col("prediction")))
      .head().getDouble(0)

  /** S7 — persist + register (replaces config.ini mutation,
    * train.py:163-188).
    *
    * Each save publishes a new version at `<dir>/<name>/v<createdAtMs>-<uuid>`
    * and appends its registry entry only once the write has finished. A
    * published directory is never rewritten, so a reader that resolved an
    * older entry can still load it while a retrain of the same name runs,
    * and two concurrent saves of one name land in distinct directories.
    * Old versions stay on disk: the registry's history points at them.
    */
  def save(t: Trained, dir: String, registry: ModelRegistry,
      name: String, metrics: Map[String, Double] = Map.empty): String = {
    val createdAtMs = System.currentTimeMillis()
    val path = s"$dir/$name/v$createdAtMs-${java.util.UUID.randomUUID()}"
    t.pipeline.write.save(path)
    registry.append(ModelEntry(name, path, t.modelType, t.params,
      metrics ++ Map("train_accuracy" -> t.trainAccuracy), createdAtMs))
    path
  }

  def load(path: String): PipelineModel = PipelineModel.load(path)
}
