package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic profiles in the okcupid schema subset the pipeline
  * reads (sex + essay0..9). The seed salts every row hash, so each seed
  * is a different corpus of the same shape: a bounded-Zipf core
  * vocabulary that survives the (25, 35) trim, a uniform rare tail that
  * does not, 3% empty essays, and a class signal in a mirrored id space
  * that only f profiles draw from. f/m is exactly 2 in 5 (the seed
  * rotates which ids are f): a hashed split of so few rows missed 0.40
  * by more than the anchor tolerance on one seed of the first five.
  *
  * The published corpus is 59,946 profiles with a 153,385-word raw and
  * 12,857-word trimmed vocabulary. One pipeline call on it takes about
  * 48 s at 4 cores, longer than a benchmark run may last, so the
  * benchmark keeps the per-profile shape (160 words, the same core and
  * tail mix) and scales the profile count and the vocabulary down
  * together by `Corpus.scale`.
  */
object Corpus {
  val publishedRows = 59946L
  val scale = 40
  val rows: Long = publishedRows / scale
  private val coreV = 12000L / scale
  private val tailV = 131000L / scale
  private val pTail = 0.1
  private val zipfS = 1.1
  private val wordsPerDoc = 160

  def profiles(spark: SparkSession, seed: Long): DataFrame = {
    val salt = lit(seed)
    val isF = pmod(col("id") + lit(math.floorMod(seed, 5L)), lit(5)) < 2
    val emptyDoc = pmod(xxhash64(col("id"), salt, lit(999)), lit(100)) < 3
    val essay = array_join(
      transform(sequence(lit(1), lit(wordsPerDoc)), i => {
        val u = pmod(xxhash64(col("id"), salt, i), lit(1000000000L))
          .cast("double") / lit(1e9)
        val tailId = lit(coreV) + lit(1L) +
          floor(u / lit(pTail) * lit(tailV)).cast("long")
        // bounded-Zipf rank by the continuous inverse CDF
        val t = (u - lit(pTail)) / lit(1.0 - pTail)
        val x = pow(
          lit(1.0) - t * lit(1.0 - math.pow(coreV.toDouble, 1.0 - zipfS)),
          lit(1.0 / (1.0 - zipfS)))
        val coreId = least(floor(x).cast("long"), lit(coreV))
        val mirrored = lit(coreV + tailV) + (lit(coreV) + 1L - coreId)
        val id = when(u < pTail, tailId)
          .when(isF && pmod(i, lit(20)) === 0, mirrored)
          .otherwise(coreId)
        concat(lit("w"), id.cast("string"))
      }), " ")
    spark.range(rows).select(
      Seq(when(isF, "f").otherwise("m").as("sex"),
        when(emptyDoc, "").otherwise(essay).as("essay0")) ++
        (1 to 9).map(j => lit("").as(s"essay$j")): _*)
  }

  final case class Shape(rawVocab: Long, trimmedVocab: Long, nF: Long, n: Long) {
    def fShare: Double = nF.toDouble / n
  }

  /** The published shape scaled down: every seed must come within
    * `tolerance` of each anchor.
    */
  val anchors: Shape = Shape(153385L / scale, 12857L / scale, (rows * 0.4).round, rows)
  val tolerance = 0.05

  def withinAnchors(s: Shape): Boolean = {
    def near(got: Double, want: Double) = math.abs(got - want) <= tolerance * want
    s.n == anchors.n && near(s.rawVocab, anchors.rawVocab) &&
      near(s.trimmedVocab, anchors.trimmedVocab) && near(s.fShare, anchors.fShare)
  }

  /** Raw vocabulary, (25, 35)-trim survivors and f share. Synthetic
    * words pass the pipeline's token chain unchanged, so the
    * space-split vocabulary equals the pipeline's.
    */
  def shape(profiles: DataFrame): Shape = {
    val Row(raw: Long, trimmed: Long) = profiles
      .select(monotonically_increasing_id().as("d"), col("essay0"))
      .select(col("d"), explode(split(col("essay0"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(countDistinct(col("d")).as("df"), count(lit(1)).as("tf"))
      .agg(count(lit(1)),
        sum(when(col("df") >= 25 && col("tf") >= 35, 1L).otherwise(0L)))
      .head()
    val Row(f: Long, n: Long) = profiles
      .agg(sum(when(col("sex") === "f", 1L).otherwise(0L)), count(lit(1)))
      .head()
    Shape(raw, trimmed, f, n)
  }

  /** Test-split size of the pipeline's stratified 70/30 split: per
    * class, n − ceil(0.7·n).
    */
  def testSize(nF: Long, nM: Long): Long =
    Seq(nF, nM).map(n => n - math.ceil(0.7 * n - 1e-9).toLong).sum
}
