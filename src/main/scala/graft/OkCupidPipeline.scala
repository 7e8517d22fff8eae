package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** End-to-end replication of the reference pipeline
  * (`/root/reference/Week5_datingNLP.R`) on the real corpus schema:
  * CSV ingest (R:45) → essay concat (R:50-51) → regex clean (R:60-61)
  * → tokenize/lower/stopwords/stem/1-char (R:65-87) → trimmed DFM
  * (R:92,105) → stratified split (R:137-142) → decision tree (R:178)
  * → confusion matrix (R:188).
  *
  * Unlike the reference, nothing densifies (the reference's `as.matrix`
  * at R:110 allocated 6.17 GB; we stay sparse end-to-end) and the tree
  * trains distributed — the 27-minute single-thread rpart baseline is
  * the number to beat.
  */
object OkCupidPipeline {

  /** The 31-column okcupid_profiles.csv schema (FIXTURES.md §1). */
  val schema: StructType = {
    val essays = (0 to 9).map(i => StructField(s"essay$i", StringType))
    StructType(
      Seq(
        StructField("age", IntegerType),
        StructField("status", StringType),
        StructField("sex", StringType),
        StructField("orientation", StringType),
        StructField("body_type", StringType),
        StructField("diet", StringType),
        StructField("drinks", StringType),
        StructField("drugs", StringType),
        StructField("education", StringType),
        StructField("ethnicity", StringType),
        StructField("height", DoubleType),
        StructField("income", IntegerType),
        StructField("job", StringType),
        StructField("last_online", StringType),
        StructField("location", StringType),
        StructField("offspring", StringType),
        StructField("pets", StringType),
        StructField("religion", StringType),
        StructField("sign", StringType),
        StructField("smokes", StringType),
        StructField("speaks", StringType)) ++ essays)
  }

  /** S1 — CSV scan with the load-bearing options: essays are quoted,
    * multi-line, with embedded quotes escaped by `"` doubling.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(schema)
      .csv(path)

  /** F1 — concat the 10 essay columns with single spaces; empty fields
    * contribute empty strings (quirk: double spaces survive, making
    * `""` a token downstream — SURVEY F1/F10).
    */
  def withEssays(profiles: DataFrame): DataFrame =
    profiles.withColumn("essays",
      TextFunctions.assembleEssays((0 to 9).map(i => col(s"essay$i"))))

  /** The full feature pipeline as MLlib stages (composable, savable). */
  def featurePipeline(minDocFreq: Int = 25, minTermFreq: Int = 35): Pipeline = {
    val cleaner = new RegexCleaner()
      .setInputCol("essays").setOutputCol("cleaned")
    val tokenizer = new WordTokenizer()
      .setInputCol("cleaned").setOutputCol("raw_tokens")
    val stopwords = SnowballStopWords()
      .setInputCol("raw_tokens").setOutputCol("unstemmed")
    val stemmer = new PorterStemmer()
      .setInputCol("unstemmed").setOutputCol("tokens")
    val vectorizer = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setMinDocFreq(minDocFreq).setMinTermFreq(minTermFreq)
    new Pipeline().setStages(
      Array(cleaner, tokenizer, stopwords, stemmer, vectorizer))
  }

  /** Train + evaluate: stratified 70/30 (seed 32984, the reference's),
    * rpart-semantics tree — grown to `maxDepth`, then weakest-link
    * cost-complexity pruned at `cp` (TreePruning; the reference's
    * `rpart(..., cp = .02)` at R:178 — rpart grows with no depth cap
    * of consequence and cp does the capacity control, which is what
    * the earlier fixed depth-3 approximated). Returns the confusion
    * matrix (prediction × label counts) and accuracy.
    *
    * The transformed corpus is projected down to (label, features),
    * flagged by the split and persisted before any tree work: the text
    * chain (clean → tokenize → stop → stem → vectorize) is array-valued
    * per row and evaluates interpreted, so letting the split window,
    * the tree fit, and each evaluation action re-derive it from raw
    * essays — while also shuffling every intermediate column —
    * multiplies the most expensive stage of the whole pipeline by the
    * number of downstream actions (~6× measured at 60k docs).
    */
  def trainAndEvaluate(
      profiles: DataFrame,
      minDocFreq: Int = 25,
      minTermFreq: Int = 35,
      maxDepth: Int = 8,
      seed: Long = 32984L,
      cp: Double = 0.02): (DataFrame, Double) = {
    val (confusion, acc, _) =
      trainAndEvaluateTimed(profiles, minDocFreq, minTermFreq,
        maxDepth, seed, cp)
    (confusion, acc)
  }

  /** [[trainAndEvaluate]] plus per-stage wall seconds — featurize
    * (token chain, vectorizer fit/transform and the stratified split,
    * forced by the row count of the pinned split frame), fit
    * (data-sized repartition + tree grow), prune_eval (cp prune +
    * predict + confusion) — so a bench regression is attributable to
    * a stage instead of a coin flip on the ~85%-of-wall total.
    *
    * Two frames are pinned, each because more than one job reads it:
    *   - the (label, tokens) projection, read by the vectorizer fit
    *     and by both branches of the split (its quota counts and its
    *     rank window) — otherwise each re-derives every token from raw
    *     essays;
    *   - the (label, features, is_train) split frame, the ONE pin the
    *     tree stage reads: MLlib's training passes read its train
    *     filter and the evaluation reads its test filter. Pinning the
    *     flag rather than the bare features keeps the content-hash
    *     split (a counts aggregate, a quota broadcast and a rank
    *     window) from re-running once per reader.
    * The label carries binary `NominalAttribute` metadata so MLlib
    * takes the class count from the schema instead of scanning for
    * the largest label.
    */
  def trainAndEvaluateTimed(
      profiles: DataFrame,
      minDocFreq: Int = 25,
      minTermFreq: Int = 35,
      maxDepth: Int = 8,
      seed: Long = 32984L,
      cp: Double = 0.02): (DataFrame, Double, Seq[(String, Double)]) = {
    val essays = withEssays(profiles)
      .withColumn("label", (col("sex") === "m").cast("double"))
    val tFeat0 = System.nanoTime()
    val stages = featurePipeline(minDocFreq, minTermFreq).getStages
    val tokens = new Pipeline().setStages(stages.init)
      .fit(essays).transform(essays)
      .select(col("label"), col("tokens"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally from the FIRST persist: a mid-pipeline failure must
    // not leave 60k-row caches stranded in the block manager (the
    // bench keeps the JVM alive across queries)
    try {
      val features = stages.last.asInstanceOf[TrimmedCountVectorizer]
        .fit(tokens).transform(tokens)
        .select(col("label").as("label", binaryLabel), col("features"))
      val split = StratifiedSplit.withSplitFlag(features, "label", 0.7, seed)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nRows = split.count() // forces featurize and the split
        val featurizeSec = (System.nanoTime() - tFeat0) / 1e9
        val (confusion, acc, fitSec, pruneEvalSec) =
          trainOnSplit(split, nRows, maxDepth, seed, cp)
        (confusion, acc, Seq(
          "featurize" -> featurizeSec,
          "fit" -> fitSec,
          "prune_eval" -> pruneEvalSec))
      } finally split.unpersist()
    } finally tokens.unpersist()
  }

  /** Column metadata of the 0/1 label: two classes, known up front. */
  private val binaryLabel =
    NominalAttribute.defaultAttr.withName("label").withNumValues(2).toMetadata()

  /** Tree-fit partition count: nRows/2048 rounded up, clamped to
    * [1, parallelism − 2].
    *
    * Training is right-sized to the DATA, not to the session
    * parallelism. 2048 rows per partition is measured: a sweep at local[32] over the
    * 59,946-row sf0.1 corpus (quiet box, best of 2 per point) read
    * fit = 26.5 s at 8192 rows/partition (8 partitions, 24 cores
    * idle), 10.9 s at 4096 (15), 8.5 s at 2048 (30) and 52.9 s at 1024
    * (32 partitions). The upper clamp keeps the cliff out of reach:
    * with every executor thread busy, Spark's own scheduler and GC
    * threads starve, so any corpus ≥ (parallelism−1)·2048 rows would
    * otherwise land exactly on it. Leaving two threads of headroom is
    * the same rule a cluster follows per executor. Pure arithmetic so
    * the spec pins the clamp without a fit.
    */
  private[graft] def treePartitions(parallelism: Int, nRows: Long): Int = {
    val cap = math.max(1, parallelism - 2).toLong
    math.max(1L, math.min(cap, nRows / 2048L + 1)).toInt
  }

  /** Train + evaluate on the pinned (label, features, is_train) frame.
    * Returns (confusion, accuracy, fit seconds, prune+eval seconds).
    */
  private def trainOnSplit(
      split: DataFrame,
      nRows: Long,
      maxDepth: Int,
      seed: Long,
      cp: Double): (DataFrame, Double, Double, Double) = {
    val spark = split.sparkSession
    val tFit0 = System.nanoTime()
    val parallelism = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val train = split.filter(col("is_train")).drop("is_train")
      .repartition(treePartitions(parallelism, nRows))
    // MLlib's distributed trainer is the SCALE path (sampled bins,
    // per-level aggregateByKey — the right trade at 60k..100 TB
    // rows); its fitted tree depends on the partition layout, which
    // is why the oracle-pinned q_confusion uses the exact
    // [[graft.operators.DeterministicCart]] twin instead. Here the
    // bench pins ACCURACY (layout-robust), never the tree shape.
    val dt = new DecisionTreeClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxDepth(maxDepth).setSeed(seed)
    val grown = dt.fit(train)
    val fitSec = (System.nanoTime() - tFit0) / 1e9
    val tEval0 = System.nanoTime()
    // rpart's capacity control: weakest-link prune at cp (driver-side
    // over the node tree; the model is already driver-resident)
    val model = if (cp > 0) TreePruning.pruneCp(grown, cp) else grown
    // The test rows are only predicted and counted once, so they are
    // neither repartitioned nor pinned; the ≤ 4 confusion cells are
    // ordered on the driver and returned as a local frame, so neither
    // the sort nor the caller's collect launches a job.
    val test = split.filter(!col("is_train")).drop("is_train")
    val cells = {
      import Ordering.Double.TotalOrdering
      model.transform(test)
        .groupBy(col("prediction"), col("label"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .sortBy(r => (r.getDouble(0), r.getDouble(1)))
    }
    val total = cells.map(_.getLong(2)).sum
    val correct = cells.filter(r => r.getDouble(0) == r.getDouble(1))
      .map(_.getLong(2)).sum
    val confusion = spark.createDataFrame(
      java.util.Arrays.asList(cells: _*),
      StructType(Seq(
        StructField("prediction", DoubleType, nullable = false),
        StructField("label", DoubleType, nullable = false),
        StructField("n", LongType, nullable = false))))
    val pruneEvalSec = (System.nanoTime() - tEval0) / 1e9
    (confusion, correct.toDouble / total, fitSec, pruneEvalSec)
  }
}
