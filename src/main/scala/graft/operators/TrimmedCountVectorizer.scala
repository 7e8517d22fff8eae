package graft.operators

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.graftbridge.MLBridge
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.ml.param.{IntParam, Param, ParamMap, ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bag-of-words vectorizer with the reference's `dfm_trim` semantics
  * (`Week5_datingNLP.R:92,105`): keep a term iff document-frequency ≥
  * minDocFreq AND corpus-wide term-frequency ≥ minTermFreq. Spark's
  * `CountVectorizer.setMinDF` covers only the first condition (SURVEY
  * A3), hence this custom estimator.
  *
  * Scale design: one explode + two-level hash aggregation computes both
  * frequencies in a single shuffle; the surviving vocabulary (ordered by
  * corpus frequency desc, term asc, like CountVectorizer) is broadcast
  * to executors for the transform. At 100 TB the aggregation is
  * map-side-combined on (doc_id, term) then (term); only the vocab —
  * bounded by the trim — ever reaches the driver.
  */
class TrimmedCountVectorizer(override val uid: String)
    extends Estimator[TrimmedCountVectorizerModel]
    with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("trimCountVec"))

  final val inputCol =
    new Param[String](this, "inputCol", "token array input column")
  final val outputCol =
    new Param[String](this, "outputCol", "count vector output column")
  final val minDocFreq = new IntParam(this, "minDocFreq",
    "minimum number of documents a term must appear in",
    ParamValidators.gtEq(1))
  final val minTermFreq = new IntParam(this, "minTermFreq",
    "minimum corpus-wide occurrence count of a term",
    ParamValidators.gtEq(1))
  final val maxVocabSize = new IntParam(this, "maxVocabSize",
    "hard cap on the vocabulary (top terms by corpus frequency, ties " +
      "broken by term; bounds the driver-side vocabulary collect " +
      "explicitly — at 100 TB with low trim thresholds the surviving " +
      "vocabulary itself can be huge)",
    ParamValidators.gtEq(1))
  setDefault(outputCol -> "features", minDocFreq -> 1, minTermFreq -> 1,
    maxVocabSize -> Int.MaxValue)

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setMinDocFreq(v: Int): this.type = set(minDocFreq, v)
  def setMinTermFreq(v: Int): this.type = set(minTermFreq, v)
  def setMaxVocabSize(v: Int): this.type = set(maxVocabSize, v)

  override def fit(ds: Dataset[_]): TrimmedCountVectorizerModel = {
    val spark = ds.sparkSession
    // per-(doc,term) counts with a synthetic doc id local to this fit;
    // monotonically_increasing_id is safe here because it only needs to
    // be distinct, not dense or stable across jobs.
    val byDocTerm = ds.toDF()
      .select(monotonically_increasing_id().as("__doc"),
        col($(inputCol)).as("__tokens"))
      .select(col("__doc"), explode(col("__tokens")).as("__term"))
      .groupBy(col("__doc"), col("__term"))
      .agg(count(lit(1)).as("__cnt"))
    val survivors = byDocTerm
      .groupBy(col("__term"))
      .agg(count(lit(1)).as("__df"), sum(col("__cnt")).as("__tf"))
      .filter(col("__df") >= $(minDocFreq) && col("__tf") >= $(minTermFreq))
    // The (tf desc, term asc) order doubles as the deterministic
    // maxVocabSize tie-break. Capped, limit() plans TakeOrderedAndProject
    // (k rows per partition, k at the driver), so the collect is bounded
    // by construction, not by hoping the trim thresholds are high.
    // Uncapped, every survivor reaches the driver anyway, so it is
    // ordered there, exactly as Spark would: tf descending, then the
    // term by UTF8String order (unsigned UTF-8 bytes, which differs
    // from String's UTF-16 order above the BMP) with null first. A
    // Spark sort would add a range-sampling job and a sort exchange to
    // every fit.
    val vocab =
      if ($(maxVocabSize) == Int.MaxValue)
        survivors.select(col("__term"), col("__tf")).collect()
          .map(r => (r.getString(0), r.getLong(1)))
          .sortBy { case (t, tf) => (-tf, Option(t).map(UTF8String.fromString)) }
          .map(_._1)
      else
        survivors.orderBy(desc("__tf"), asc("__term"))
          .limit($(maxVocabSize)).select(col("__term")).collect()
          .map(_.getString(0))
    copyValues(new TrimmedCountVectorizerModel(uid, vocab).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType = {
    require(schema($(inputCol)).dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }, s"${$(inputCol)} must be array<string>")
    schema.add($(outputCol), SQLDataTypes.VectorType, nullable = false)
  }

  override def copy(extra: ParamMap): TrimmedCountVectorizer =
    defaultCopy(extra)
}

object TrimmedCountVectorizer
    extends DefaultParamsReadable[TrimmedCountVectorizer]

/** Fitted model: vocabulary → sparse count vectors. */
class TrimmedCountVectorizerModel(
    override val uid: String,
    val vocabulary: Array[String])
    extends Model[TrimmedCountVectorizerModel] with MLWritable {

  final val inputCol =
    new Param[String](this, "inputCol", "token array input column")
  final val outputCol =
    new Param[String](this, "outputCol", "count vector output column")
  setDefault(outputCol -> "features")
  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)

  override def transform(ds: Dataset[_]): DataFrame =
    // Native codegen kernel — UTF8String-keyed probes, thread-local
    // dense scatter, sort-once; the old per-row TreeMap UDF was the
    // flagship pipeline's largest remaining interpreted cost.
    ds.withColumn($(outputCol),
      graft.functions.count_vectorize(col($(inputCol)), vocabulary))

  override def transformSchema(schema: StructType): StructType =
    schema.add($(outputCol), SQLDataTypes.VectorType, nullable = false)

  override def copy(extra: ParamMap): TrimmedCountVectorizerModel = {
    val copied = new TrimmedCountVectorizerModel(uid, vocabulary)
    copyValues(copied, extra).setParent(parent)
  }

  override def write: MLWriter = new TrimmedCountVectorizerModel.Writer(this)
}

/** S4 persistence (mirrors Spark's CountVectorizerModel writer):
  * `metadata/` via the canonical emitter + a one-row `data/` parquet
  * holding the vocabulary. Loadable from inside a saved PipelineModel.
  */
object TrimmedCountVectorizerModel
    extends MLReadable[TrimmedCountVectorizerModel] {

  private class Writer(instance: TrimmedCountVectorizerModel)
      extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      MLBridge.saveMetadata(instance, path, sparkSession)
      val spark = sparkSession
      import spark.implicits._
      Seq(Tuple1(instance.vocabulary)).toDF("vocabulary")
        .repartition(1).write.parquet(s"$path/data")
    }
  }

  private class Reader extends MLReader[TrimmedCountVectorizerModel] {
    private val className = classOf[TrimmedCountVectorizerModel].getName
    override def load(path: String): TrimmedCountVectorizerModel = {
      val metadata = MLBridge.loadMetadata(path, sparkSession, className)
      val vocab = sparkSession.read.parquet(s"$path/data")
        .select("vocabulary").head().getSeq[String](0).toArray
      val model = new TrimmedCountVectorizerModel(metadata.uid, vocab)
      MLBridge.getAndSetParams(model, metadata)
      model
    }
  }

  override def read: MLReader[TrimmedCountVectorizerModel] = new Reader
}
