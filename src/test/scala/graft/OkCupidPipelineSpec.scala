package graft

import graft.operators.{StratifiedSplit, TreePruning}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.ml.classification.DecisionTreeClassifier
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** End-to-end reference-pipeline replication on the fixture corpus:
  * ingest → clean → featurize → split → tree → confusion matrix
  * (SURVEY §3 EP1+EP2 in miniature).
  */
class OkCupidPipelineSpec extends SparkSuite {

  test("full pipeline trains and evaluates on the fixture") {
    val profiles = OkCupidPipeline.load(spark, fixturePath)
    val (confusion, accuracy) = OkCupidPipeline.trainAndEvaluate(
      profiles, minDocFreq = 1, minTermFreq = 1, maxDepth = 3)
    val cells = confusion.collect()
    val total = cells.map(_.getAs[Long]("n")).sum
    // 24 rows: m=14 → ceil(9.8)=10 train, 4 test; f=10 → 7 train, 3 test
    assert(total == 7, s"test rows = $total")
    assert(accuracy >= 0.0 && accuracy <= 1.0)
  }

  test("trimmed vocabulary contains stems, not raw words") {
    val profiles = OkCupidPipeline.load(spark, fixturePath)
    val essays = OkCupidPipeline.withEssays(profiles)
    val model = OkCupidPipeline.featurePipeline(1, 1).fit(essays)
    val vocab = model.stages.last
      .asInstanceOf[graft.operators.TrimmedCountVectorizerModel]
      .vocabulary.toSet
    assert(vocab.contains("danc"))    // dancing/dances/dancer → danc
    assert(!vocab.contains("dancing"))
    assert(vocab.contains("code"))    // coding → code
  }

  test("pinned split frame: unpinned confusion matrix, fewer jobs") {
    // reference: the same split and tree over the unpinned features
    val essays = OkCupidPipeline.withEssays(OkCupidPipeline.load(spark, fixturePath))
      .withColumn("label", (col("sex") === "m").cast("double"))
    val features = OkCupidPipeline.featurePipeline(1, 1).fit(essays)
      .transform(essays).select(col("label"), col("features"))
    val (train, test) = StratifiedSplit.split(features, "label", 0.7, 32984L)
    val grown = new DecisionTreeClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxDepth(3).setSeed(32984L).fit(train)
    val expected = TreePruning.pruneCp(grown, 0.02).transform(test)
      .groupBy(col("prediction"), col("label")).agg(count(lit(1)).as("n"))
      .orderBy(col("prediction"), col("label"))
      .collect().toSeq

    val sc = spark.sparkContext
    val group = "okcupid-pinned-split"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val cells =
      try {
        sc.setJobGroup(group, "pinned split pipeline call")
        val (confusion, _, _) = OkCupidPipeline.trainAndEvaluateTimed(
          OkCupidPipeline.load(spark, fixturePath),
          minDocFreq = 1, minTermFreq = 1, maxDepth = 3)
        confusion.collect().toSeq
      } finally {
        sc.clearJobGroup()
        ListenerDrain.waitUntilEmpty(sc, 30000L)
        sc.removeSparkListener(listener)
      }
    assert(cells == expected)
    // Job counts repeat exactly for a fixed config: 20 is the count at
    // local[4] with one split computation, so a split (or a featurize
    // chain) computed once per reader again fails here.
    assert(jobs.get <= 20, s"pipeline call ran ${jobs.get} jobs")
  }

  test("treePartitions keeps two threads of headroom") {
    import OkCupidPipeline.treePartitions
    // the cap is parallelism - 2: any corpus >= 63,488 rows would
    // otherwise select all 32 partitions on local[32], the measured
    // 52.9 s cliff against 8.5 s at 30
    assert(treePartitions(32, 63488L) === 30)
    assert(treePartitions(32, 10000000L) === 30)
    // below the cap: data-sized, ceil-ish (n/2048 + 1)
    assert(treePartitions(32, 59946L) === 30)
    assert(treePartitions(32, 20480L) === 11)
    assert(treePartitions(32, 1L) === 1)
    // degenerate session widths never go to zero
    assert(treePartitions(1, 100000L) === 1)
    assert(treePartitions(2, 100000L) === 1)
    assert(treePartitions(3, 100000L) === 1)
    assert(treePartitions(4, 100000L) === 2)
  }
}
