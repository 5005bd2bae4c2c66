package graft.allergen

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{LogisticRegression, MultilayerPerceptronClassifier, RandomForestClassifier}
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.{HashingTF, IDF, IndexToString, NGram, StopWordsRemover, StringIndexer}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.tuning.CrossValidator
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.{Q, Tables}

/** W1 allergen-detection training pipelines re-expressed over the
  * `documents` corpus — every `spark.ml` stage the reference exercises
  * (SURVEY.md §2.9), same class names and parameter shapes:
  *
  *  - binary undersample path: class counts → orderBy(rand(seed)).limit →
  *    union → TF-IDF → RandomForest(100, seed 42)   (MLP.ipynb:53-83)
  *  - class-weighted LogisticRegression(maxIter 100, weightCol), weights
  *    = majority/count per class                     (MLP.ipynb:178-205)
  *  - MultilayerPerceptronClassifier [nf, 64, 32, 2], blockSize 128
  *                                                   (MLP.ipynb:310)
  *  - multiclass: StopWordsRemover → NGram(2) → TF-IDF → StringIndexer →
  *    MLP → IndexToString, full and label≠none-filtered variants
  *                                                   (MLP.ipynb:513-536, 628-658)
  *  - per-label one-vs-rest 3-fold CrossValidator with a MANUAL ParamMap
  *    grid that keeps HashingTF.numFeatures == mlp.layers(0) coupled
  *                                                   (MLP.ipynb:801-846)
  *
  * Training labels: the synthetic corpus draws ~55 tokens/doc from a
  * 31-word vocabulary, so the reference's presence-based labels are
  * degenerate here (97% positive — see [[Labels]], which keeps the
  * presence idiom for the oracle-checked label queries). Training uses
  * occurrence-count thresholds instead (≈56/44 binary split, ~uniform
  * 4-way multiclass), which keeps the problem learnable from TF-IDF
  * features while exercising identical pipeline stages.
  *
  * Scale notes: featurization is row-local (tokens → hashed sparse
  * vectors, no shuffle); `fit` costs are the iterative treeAggregate
  * jobs inside spark.ml, which scale out with executors. The
  * undersample path's orderBy(rand()) is a full range-exchange sort —
  * kept for reference parity (MLP.ipynb:63); production path is the
  * sampleBy fraction variant (no sort), also provided.
  */
object Train {

  /** Marker words for training labels, priority-ordered. */
  val Markers: Seq[String] = Seq("hash", "scan", "window", "sort")

  private def countOf(toks: Column, w: String): Column =
    size(filter(toks, t => t === w))

  /** Binary training label: ≥2 occurrences of "hash" (double for ML). */
  def trainBinaryLabel(toks: Column): Column =
    when(countOf(toks, "hash") >= 2, 1.0).otherwise(0.0)

  /** Multiclass training label: marker with the highest occurrence
    * count, priority order breaking ties; 'none' when absent. */
  def trainMulticlassLabel(toks: Column): Column = {
    val counts = Markers.map(m => m -> countOf(toks, m))
    val anyPos = counts.map(_._2 > 0).reduce(_ || _)
    val argmax = Markers.init.foldRight(lit(Markers.last): Column) { (m, els) =>
      val c = counts.toMap.apply(m)
      when(Markers.filter(_ != m).map(o => c >= counts.toMap.apply(o)).reduce(_ && _), lit(m))
        .otherwise(els)
    }
    when(anyPos, argmax).otherwise(lit("none"))
  }

  /** documents → (doc_id, tokens, label, category, is_* one-hots). */
  def trainData(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), Labels.tokens(col("text")).as("tokens"))
    Markers.foldLeft(
      base
        .withColumn("label", trainBinaryLabel(col("tokens")))
        .withColumn("category", trainMulticlassLabel(col("tokens")))
    ) { (df, m) =>
      df.withColumn(s"is_$m", when(countOf(col("tokens"), m) >= 2, 1.0).otherwise(0.0))
    }
  }

  /** TF-IDF featurization stages (HashingTF → IDF, MLP.ipynb:69-73). */
  def tfidf(numFeatures: Int, inputCol: String = "tokens"): (HashingTF, IDF) = {
    val tf = new HashingTF()
      .setInputCol(inputCol).setOutputCol("rawFeatures").setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol("rawFeatures").setOutputCol("features")
    (tf, idf)
  }

  /** Reference undersample (MLP.ipynb:58-66): random-shuffle the
    * majority class with a SEEDED rand and keep minority-count rows.
    * The orderBy(rand()) is a full sort+range exchange at scale — the
    * no-sort production variant is [[undersampleBySampling]]. */
  def undersample(df: DataFrame, labelCol: String = "label", seed: Long = 42): DataFrame = {
    val counts = df.groupBy(col(labelCol)).count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val (minLbl, minN) = counts.minBy(_._2)
    val majority = df.filter(col(labelCol) =!= lit(minLbl))
      .orderBy(rand(seed)).limit(minN.toInt)
    df.filter(col(labelCol) === lit(minLbl)).union(majority)
  }

  /** Scale-path undersample: per-class Bernoulli fractions via sampleBy —
    * no global sort, approximate counts (SURVEY.md §4 rewrite row). */
  def undersampleBySampling(df: DataFrame, labelCol: String = "label", seed: Long = 42): DataFrame = {
    val counts = df.groupBy(col(labelCol)).count().collect()
      .map(r => r.get(0) -> r.getLong(1)).toMap
    val minN = counts.values.min.toDouble
    val fractions = counts.map { case (k, n) => k -> math.min(1.0, minN / n) }
    df.stat.sampleBy(col(labelCol), fractions, seed)
  }

  /** Accuracy / weighted-F1 / AUC on a transformed prediction DF
    * (the reference's three evaluators, MLP.ipynb:89-91). */
  def binaryMetrics(pred: DataFrame, labelCol: String = "label"): (Double, Double, Double) = {
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol(labelCol).setMetricName("accuracy").evaluate(pred)
    val f1 = new MulticlassClassificationEvaluator()
      .setLabelCol(labelCol).setMetricName("f1").evaluate(pred)
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol(labelCol).setMetricName("areaUnderROC").evaluate(pred)
    (acc, f1, auc)
  }

  /** Binary RF on the undersampled set (MLP.ipynb cell 0). */
  def binaryRF(data: DataFrame, numFeatures: Int = 2000, numTrees: Int = 100): (PipelineModel, (Double, Double, Double)) = {
    val balanced = undersample(data)
    val Array(train, test) = balanced.randomSplit(Array(0.8, 0.2), seed = 42)
    val (tf, idf) = tfidf(numFeatures)
    val rf = new RandomForestClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setNumTrees(numTrees).setSeed(42)
    val model = new Pipeline().setStages(Array(tf, idf, rf)).fit(train)
    (model, binaryMetrics(model.transform(test)))
  }

  /** Class-weighted LogisticRegression (MLP.ipynb cell 1): weight =
    * majorityCount/classCount via a native when — the reference's
    * get_weight Python UDF rewritten as a column expression (§2.8). */
  def binaryWeightedLR(data: DataFrame, numFeatures: Int = 2000): (PipelineModel, (Double, Double, Double)) = {
    val counts = data.groupBy(col("label")).count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val maxN = counts.values.max.toDouble
    val w0 = maxN / counts(0.0)
    val w1 = maxN / counts(1.0)
    val weighted = data.withColumn("classWeight",
      when(col("label") === 0.0, w0).otherwise(w1))
    val Array(train, test) = weighted.randomSplit(Array(0.8, 0.2), seed = 42)
    val (tf, idf) = tfidf(numFeatures)
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features")
      .setWeightCol("classWeight").setMaxIter(100)
    val model = new Pipeline().setStages(Array(tf, idf, lr)).fit(train)
    (model, binaryMetrics(model.transform(test)))
  }

  /** Binary MLP [nf, 64, 32, 2] (MLP.ipynb cell 2; split seed 100). */
  def binaryMLP(data: DataFrame, numFeatures: Int = 2000, maxIter: Int = 50): (PipelineModel, (Double, Double, Double)) = {
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 100)
    val (tf, idf) = tfidf(numFeatures)
    val mlp = new MultilayerPerceptronClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setLayers(Array(numFeatures, 64, 32, 2))
      .setBlockSize(128).setMaxIter(maxIter).setSeed(42)
    val model = new Pipeline().setStages(Array(tf, idf, mlp)).fit(train)
    (model, binaryMetrics(model.transform(test)))
  }

  /** Multiclass bigram pipeline (MLP.ipynb cell 5; cell-6 variant drops
    * the 'none' class first): StopWordsRemover → NGram(2) → TF-IDF →
    * StringIndexer → MLP → IndexToString. Returns (model, accuracy,
    * weighted F1, predicted-label DF sample). */
  def multiclassMLP(data: DataFrame, filtered: Boolean, numFeatures: Int = 2000,
                    maxIter: Int = 50): (PipelineModel, Double, Double) = {
    val df = if (filtered) data.filter(col("category") =!= "none") else data
    val remover = new StopWordsRemover()
      .setInputCol("tokens").setOutputCol("filteredTokens")
      .setStopWords(StopWordsRemover.loadDefaultStopWords("english") ++
        Seq("a", "the", "big", "small", "fast", "slow"))
    val ngram = new NGram().setN(2).setInputCol("filteredTokens").setOutputCol("ngrams")
    val (tf, idf) = tfidf(numFeatures, inputCol = "ngrams")
    // Indexer fit on the FULL set so every label is known even if a
    // rare class misses the train split (StringIndexer frequencyDesc
    // ordering — determinism caveat SURVEY §7.4 risk 4).
    val indexer = new StringIndexer()
      .setInputCol("category").setOutputCol("categoryIndex").fit(df)
    val nClasses = indexer.labelsArray.head.length
    val mlp = new MultilayerPerceptronClassifier()
      .setLabelCol("categoryIndex").setFeaturesCol("features")
      .setLayers(Array(numFeatures, 128, 64, nClasses))
      .setBlockSize(128).setMaxIter(maxIter).setSeed(42)
    val toLabel = new IndexToString()
      .setInputCol("prediction").setOutputCol("predictedCategory")
      .setLabels(indexer.labelsArray.head)
    val Array(train, test) = df.randomSplit(Array(0.8, 0.2), seed = 100)
    val model = new Pipeline()
      .setStages(Array(remover, ngram, tf, idf, indexer, mlp, toLabel)).fit(train)
    val pred = model.transform(test)
    val acc = new MulticlassClassificationEvaluator()
      .setLabelCol("categoryIndex").setMetricName("accuracy").evaluate(pred)
    val f1 = new MulticlassClassificationEvaluator()
      .setLabelCol("categoryIndex").setMetricName("f1").evaluate(pred)
    (model, acc, f1)
  }

  /** Per-label one-vs-rest 3-fold CV (MLP.ipynb cell 7): a MANUAL
    * ParamMap list — not ParamGridBuilder — because numFeatures and
    * layers(0) must move together. Returns (category, bestAUC,
    * bestNumFeatures) per category. */
  def multilabelCV(data: DataFrame, categories: Seq[String],
                   numFeaturesGrid: Seq[Int] = Seq(512, 1024),
                   minDocFreqGrid: Seq[Int] = Seq(0, 2),
                   folds: Int = 3, maxIter: Int = 25): Seq[(String, Double, Int)] =
    categories.map { cat =>
      val labeled = data.withColumn("cvLabel", col(s"is_$cat"))
      val (tf, idf) = tfidf(numFeaturesGrid.head)
      val mlp = new MultilayerPerceptronClassifier()
        .setLabelCol("cvLabel").setFeaturesCol("features")
        .setBlockSize(128).setMaxIter(maxIter).setSeed(42)
      val pipeline = new Pipeline().setStages(Array(tf, idf, mlp))
      val grid: Array[ParamMap] = (for {
        nf <- numFeaturesGrid
        mdf <- minDocFreqGrid
      } yield new ParamMap()
        .put(tf.numFeatures, nf)
        .put(idf.minDocFreq, mdf)
        .put(mlp.layers, Array(nf, 32, 16, 2))).toArray
      val cv = new CrossValidator()
        .setEstimator(pipeline)
        .setEvaluator(new BinaryClassificationEvaluator()
          .setLabelCol("cvLabel").setMetricName("areaUnderROC"))
        .setEstimatorParamMaps(grid)
        .setNumFolds(folds).setSeed(42)
      val cvModel = cv.fit(labeled)
      val bestIdx = cvModel.avgMetrics.zipWithIndex.maxBy(_._1)._2
      val bestNf = grid(bestIdx).get(tf.numFeatures).get
      (cat, cvModel.avgMetrics(bestIdx), bestNf)
    }

  /** classification_report parity (MLP.ipynb:389 via sklearn;
    * SURVEY §2.4 row "classification_report / MulticlassMetrics"):
    * per-class precision/recall/F1/support derived natively from the
    * (label, prediction) confusion counts — one hash aggregate over the
    * predictions, no RDD API, no driver-side loops; AllergenSpec
    * cross-checks the numbers against mllib's MulticlassMetrics. */
  def classificationReport(pred: DataFrame, labelCol: String = "label",
                           predCol: String = "prediction"): DataFrame =
    reportFromCells(pred.groupBy(col(labelCol).as("cls"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n")))

  /** The report arithmetic alone, from confusion CELLS (cls, p, n) —
    * split out so q58 can oracle-pair it: every downstream number is a
    * pure function of the tiny cells frame (exact integer sums, IEEE
    * long/long divisions, one fixed-association f1 expression), which
    * DuckDB replays term for term off the same fixture file. */
  private[graft] def reportFromCells(cells: DataFrame): DataFrame = {
    val tp = cells.filter(col("cls") === col("p"))
      .select(col("cls"), col("n").as("tp"))
    val support = cells.groupBy(col("cls")).agg(sum(col("n")).as("support"))
    val predicted = cells.groupBy(col("p").as("cls")).agg(sum(col("n")).as("predicted"))
    support
      .join(predicted, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("support", "predicted", "tp"))
      .select(
        col("cls").as("class"),
        (col("tp") / when(col("predicted") === 0, 1).otherwise(col("predicted")))
          .as("precision"),
        (col("tp") / when(col("support") === 0, 1).otherwise(col("support")))
          .as("recall"),
        col("support"), col("tp"))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0, 0.0)
          .otherwise(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
      .select(col("class"), col("precision"), col("recall"), col("f1"), col("support"))
      .orderBy(col("class"))
  }

  // ------------------------------------------------------- registry entries

  /** The three binary models' held-out metrics as a DataFrame —
    * non-oracle (training is not SQL-expressible), excluded from the
    * per-round bench (training cost would swamp query timings). */
  val q37TrainBinary: Q = Q.heavy("q37_train_binary") { (s, dir) =>
    val data = trainData(s, dir)
    val rows = Seq(
      ("rf_undersampled", binaryRF(data, numFeatures = 512, numTrees = 20)._2),
      ("lr_weighted", binaryWeightedLR(data, numFeatures = 512)._2),
      ("mlp", binaryMLP(data, numFeatures = 512, maxIter = 25)._2)
    ).map { case (m, (acc, f1, auc)) => (m, acc, f1, auc) }
    import s.implicits._
    rows.toDF("model", "accuracy", "f1", "auc").orderBy(col("model"))
  }

  /** Multiclass bigram MLP metrics, full + filtered variants. */
  val q38TrainMulticlass: Q = Q.heavy("q38_train_multiclass") { (s, dir) =>
    val data = trainData(s, dir)
    val (_, accF, f1F) = multiclassMLP(data, filtered = false, numFeatures = 512, maxIter = 25)
    val (_, accT, f1T) = multiclassMLP(data, filtered = true, numFeatures = 512, maxIter = 25)
    import s.implicits._
    Seq(("full", accF, f1F), ("filtered", accT, f1T))
      .toDF("variant", "accuracy", "f1").orderBy(col("variant"))
  }

  /** Per-category CV AUC (first two categories — the full grid runs in
    * AllergenSpec; this keeps driver verify time bounded). */
  val q39TrainMultilabelCv: Q = Q.heavy("q39_train_multilabel_cv") { (s, dir) =>
    val data = trainData(s, dir)
    import s.implicits._
    multilabelCV(data, Markers.take(2), numFeaturesGrid = Seq(256, 512),
      minDocFreqGrid = Seq(0), folds = 3, maxIter = 15)
      .toDF("category", "best_auc", "best_num_features")
      .orderBy(col("category"))
  }

  /** Training-metrics-log analytics (model.py:238-253 / model.eval.py:36-53
    * parity): the reference WRITES a per-epoch metrics CSV during training
    * and READS it back with pandas to plot loss curves. Mirrored exactly:
    * the fit's objectiveHistory is written as a real CSV metrics log, read
    * back through the explicit-schema CSV scan (same reader path as q53),
    * and the running best is a window aggregate over that scan — so the
    * DuckDB oracle can replay the read + aggregation off the same file
    * (training itself is not SQL; the CSV round-trip and running-min are).
    * Doubles survive the round-trip bit-for-bit: Java's Double.toString is
    * the shortest round-trippable decimal form, which both CSV parsers
    * recover exactly. */
  val q59TrainingCurve: Q = Q.heavySql(
    "q59_training_curve",
    // sf-INDEPENDENT fixture path: the query writes the log, then reads
    // it back; the oracle reads the same fixed path, so whichever sf the
    // verifier runs at, it compares against exactly the CSV this run
    // wrote (an sf-keyed path made the oracle read a stale other-sf log).
    """SELECT iteration, loss,
      |  MIN(loss) OVER (ORDER BY iteration
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS best_loss
      |FROM read_csv('/root/repo/target/fixtures/metrics_csv/*.csv',
      |              header = true,
      |              columns = {'iteration': 'BIGINT', 'loss': 'DOUBLE'})
      |ORDER BY iteration""".stripMargin) { (s, dir) =>
    import s.implicits._
    val data = trainData(s, dir)
    val (tf, idf) = tfidf(512)
    val lr = new LogisticRegression()
      .setLabelCol("label").setFeaturesCol("features").setMaxIter(50)
    val model = new Pipeline().setStages(Array(tf, idf, lr)).fit(data)
    val history = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
      .summary.objectiveHistory
    val path = "/root/repo/target/fixtures/metrics_csv"
    history.zipWithIndex.map { case (loss, i) => (i.toLong, loss) }.toSeq
      .toDF("iteration", "loss")
      .coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(path)
    val metrics = s.read
      .schema(StructType(Seq(
        StructField("iteration", LongType), StructField("loss", DoubleType))))
      .option("header", "true").csv(path)
    metrics
      .withColumn("best_loss",
        min(col("loss")).over(Window.orderBy(col("iteration"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("iteration"))
  }

  /** Per-class report for the weighted-LR model's held-out predictions —
    * oracle-paired since r13 via q59's fixture discipline: the fit
    * itself is not SQL, but everything AFTER the confusion cells is
    * exact arithmetic. The query writes the (cls, p, n) cells as a real
    * CSV fixture, reads them back through the explicit-schema scan, and
    * derives the report from the READ-BACK frame; the oracle reads the
    * same file and replays [[reportFromCells]] term for term (support /
    * predicted / tp rollups, zero-denominator guards, the fixed
    * left-associated f1 expression). A drifted division order, a lost
    * never-predicted class, or a wrong guard all hash-fail. Fixture
    * path is sf-independent and FIXED — same no-concurrent-Verify rule
    * as q59 (verify skill gotchas). */
  val q58ClassReport: Q = Q.heavySql(
    "q58_classification_report",
    """WITH cells AS (
      |  SELECT cls, p, n
      |  FROM read_csv('/root/repo/target/fixtures/q58_cells/*.csv',
      |                header = true,
      |                columns = {'cls': 'DOUBLE', 'p': 'DOUBLE', 'n': 'BIGINT'})),
      |support AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS support FROM cells GROUP BY cls),
      |predicted AS (SELECT p AS cls, CAST(SUM(n) AS BIGINT) AS predicted FROM cells GROUP BY p),
      |tp AS (SELECT cls, CAST(SUM(n) AS BIGINT) AS tp FROM cells WHERE cls = p GROUP BY cls),
      |j AS (
      |  SELECT COALESCE(s.cls, pr.cls) AS class,
      |    COALESCE(s.support, 0) AS support,
      |    COALESCE(pr.predicted, 0) AS predicted,
      |    COALESCE(t.tp, 0) AS tp
      |  FROM support s FULL JOIN predicted pr ON s.cls = pr.cls
      |  LEFT JOIN tp t ON COALESCE(s.cls, pr.cls) = t.cls),
      |pr AS (
      |  SELECT class,
      |    tp / (CASE WHEN predicted = 0 THEN 1 ELSE predicted END) AS "precision",
      |    tp / (CASE WHEN support = 0 THEN 1 ELSE support END) AS recall,
      |    support
      |  FROM j)
      |SELECT class, "precision", recall,
      |  CASE WHEN "precision" + recall = 0 THEN 0.0
      |       ELSE 2 * "precision" * recall / ("precision" + recall) END AS f1,
      |  support
      |FROM pr ORDER BY class""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val data = trainData(s, dir)
    val (model, _) = binaryWeightedLR(data, numFeatures = 512)
    val Array(_, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    val cells = model.transform(test.withColumn("classWeight", lit(1.0)))
      .groupBy(col("label").as("cls"), col("prediction").as("p"))
      .agg(count(lit(1)).as("n"))
    val path = "/root/repo/target/fixtures/q58_cells"
    cells.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)
    val back = s.read
      .schema(StructType(Seq(
        StructField("cls", DoubleType), StructField("p", DoubleType),
        StructField("n", LongType))))
      .option("header", "true").csv(path)
    reportFromCells(back).orderBy(col("class"))
  }

  val all: Seq[Q] = Seq(q37TrainBinary, q38TrainMulticlass, q39TrainMultilabelCv,
    q58ClassReport, q59TrainingCurve)
}
