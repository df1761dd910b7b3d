package graft.ml

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Gaussian Naive Bayes with sklearn semantics
  * (ref: Evaluation_Auxiliary/nb_classification.py:1-38 uses
  * `sklearn.naive_bayes.GaussianNB`).
  *
  * sklearn parity points implemented exactly:
  *  - per-(class, feature) mean and POPULATION variance;
  *  - variance smoothing: var += var_smoothing * max(var over all
  *    features of the pooled data) with var_smoothing = 1e-9;
  *  - priors from class frequencies;
  *  - argmax over Σ log N(x|θ) + log prior, ties → first class in
  *    sorted order.
  *
  * Scale: fit is one long-form (class, dim) aggregation — map-side
  * combined, k×w result. Predict broadcasts the k×w stats and scores
  * each partition locally (the MLlib pattern) — no shuffle, no
  * per-row joins against k×w cells. Cross-validation fits every fold
  * in one pass: the folded frame is cross-joined with the broadcast
  * fold ids, so one (fold, class, dim) aggregation and one (fold, dim)
  * pooled-variance aggregation fit all k models, and one
  * `groupBy(fold)` scores every row against its own fold's model. The
  * job count does not grow with k.
  */
object GaussianNB {

  final case class Model(
      classes: Array[Long],
      priors: Array[Double],        // log priors, per class
      means: Array[Array[Double]],  // [class][dim]
      vars: Array[Array[Double]])   // smoothed, [class][dim]

  /** sklearn's default `var_smoothing`. */
  val VarSmoothing = 1e-9

  /** Per-(keys…, class, dim) mean, population variance and count:
    * columns `keys…, cls, dim, m, s2, n`. */
  private def cellStats(df: DataFrame, featuresCol: String,
      labelCol: String, keys: String*): DataFrame =
    df.select(keys.map(col) ++ Seq(col(labelCol).cast("long").as("cls"),
        posexplode(col(featuresCol)).as(Seq("dim", "v"))): _*)
      .groupBy((keys ++ Seq("cls", "dim")).map(col): _*)
      .agg(avg("v").as("m"), var_pop("v").as("s2"), count(lit(1)).as("n"))

  /** Per-(keys…) max over dims of the POOLED (all classes) population
    * variance: columns `keys…, s2max`. */
  private def pooledMaxVar(df: DataFrame, featuresCol: String,
      keys: String*): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(featuresCol))
        .as(Seq("dim", "v")): _*)
      .groupBy((keys :+ "dim").map(col): _*).agg(var_pop("v").as("s2"))
      .groupBy(keys.map(col): _*).agg(max("s2").as("s2max"))

  /** Builds a model from `cellStats` rows, read from column `from` on
    * (cls, dim, m, s2, n). sklearn: the smoothing epsilon is
    * var_smoothing × the max variance of the POOLED data. */
  private def assemble(cells: Seq[Row], from: Int, pooledMax: Double,
      varSmoothing: Double): Model = {
    val epsilon = varSmoothing * pooledMax
    val classes = cells.map(_.getLong(from)).distinct.sorted.toArray
    val cIdx = classes.zipWithIndex.toMap
    val w = cells.map(_.getInt(from + 1)).max + 1
    val means = Array.ofDim[Double](classes.length, w)
    val vars = Array.ofDim[Double](classes.length, w)
    val counts = new Array[Double](classes.length)
    cells.foreach { r =>
      val c = cIdx(r.getLong(from)); val dim = r.getInt(from + 1)
      means(c)(dim) = r.getDouble(from + 2)
      vars(c)(dim) = r.getDouble(from + 3) + epsilon
      counts(c) = r.getLong(from + 4).toDouble
    }
    val n = counts.sum
    Model(classes, counts.map(c => math.log(c / n)), means, vars)
  }

  def fit(df: DataFrame, featuresCol: String = "features",
      labelCol: String = "label_idx",
      varSmoothing: Double = VarSmoothing): Model =
    assemble(cellStats(df, featuresCol, labelCol).collect().toSeq, 0,
      pooledMaxVar(df, featuresCol).head().getDouble(0), varSmoothing)

  /** argmax over classes of Σ log N(x|θ) + log prior; ties → the first
    * class in sorted order. */
  private def classify(m: Model, x: Seq[Double]): Long = {
    val k = m.classes.length
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var s = m.priors(c)
      var j = 0
      while (j < x.length) {
        val d = x(j) - m.means(c)(j)
        s += -0.5 * (math.log(2 * math.Pi * m.vars(c)(j)) +
          d * d / m.vars(c)(j))
        j += 1
      }
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    m.classes(best)
  }

  /** Adds `pred` (the argmax class) to df. Stats are broadcast; scoring
    * is per-partition local arithmetic. */
  def predict(df: DataFrame, model: Model,
      featuresCol: String = "features"): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(model)
    val outSchema = StructType(df.schema.fields :+ StructField("pred", LongType))
    val fIdx = df.schema.fieldIndex(featuresCol)
    val rdd = df.rdd.mapPartitions { it =>
      val m = bc.value
      it.map(row =>
        Row.fromSeq(row.toSeq :+ classify(m, row.getSeq[Double](fIdx))))
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** M1+SP3 — stratified k-fold CV accuracy: returns (fold, accuracy)
    * rows, one per non-empty fold in fold order (nb_classification.py:20
    * — cross_validate(GaussianNB(), cv=5) over stratified folds). Each
    * fold's model is the one `fit` gives on the other folds' rows, and
    * its accuracy the share of its own rows `predict` gets right; all
    * folds are fitted and scored in one pass. Tiny strata can leave
    * trailing folds empty; those are omitted. */
  def crossValidate(df: DataFrame, k: Int = 5, seed: Long = 2023,
      featuresCol: String = "features", labelCol: String = "label_idx",
      keyCol: String = "sample_id"): DataFrame = {
    import graft.etl.Splits
    val spark = df.sparkSession
    import spark.implicits._
    val folded = Splits.stratifiedKFold(df, labelCol, keyCol, k, seed)
      .select(keyCol, labelCol, featuresCol, "fold")
      .cache()
    // every row once per fold it trains: (i, row) for fold != i
    val trainSets = folded
      .crossJoin(broadcast((0 until k).toDF("i")))
      .filter(col("fold") =!= col("i"))
    val cells = cellStats(trainSets, featuresCol, labelCol, "i").collect()
      .groupBy(_.getInt(0))
    val pooled = pooledMaxVar(trainSets, featuresCol, "i").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val models = cells.map { case (i, cs) =>
      i -> assemble(cs.toSeq, 1, pooled(i), VarSmoothing)
    }
    val bc = spark.sparkContext.broadcast(models)
    val accs = folded
      .select(col("fold"), col(labelCol).cast("long"), col(featuresCol))
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { case (f, y, x) =>
          (f, if (classify(ms(f), x) == y) 1.0 else 0.0)
        }
      }
      .toDF("fold", "hit")
      .groupBy("fold").agg(avg("hit"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    folded.unpersist()
    bc.destroy()
    spark.createDataFrame(accs.toSeq).toDF("fold", "accuracy")
  }
}
