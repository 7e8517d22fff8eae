package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.collection.immutable.ListMap

/** Entry point. `perfbench/run.py` builds the classpath and calls
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --expected FILE --out DIR
  *
  * and `perfbench/tools/make_expected.py` calls it with `--emit FILE
  * --dump DIR` to regenerate the expected outputs. The result is the
  * last line of standard output.
  */
object Main {
  /** Writes the result line, the trace and the expected outputs. JSON
    * objects are `ListMap`s, so fields keep their order.
    */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Args(
      workload: String = "", seed: Long = 1L, seconds: Int = 10,
      trace: Boolean = false, data: String = "", expected: String = "",
      out: String = "", emit: String = "", dump: String = "")

  def parse(argv: Seq[String]): Args = argv.grouped(2).foldLeft(Args()) {
    case (a, Seq("--workload", v)) =>
      require(Workloads.names.contains(v), s"unknown workload $v")
      a.copy(workload = v)
    case (a, Seq("--seed", v)) => a.copy(seed = v.toLong)
    case (a, Seq("--seconds", v)) => a.copy(seconds = v.toInt)
    case (a, Seq("--trace", v)) => a.copy(trace = v.toInt != 0)
    case (a, Seq("--data", v)) => a.copy(data = v)
    case (a, Seq("--expected", v)) => a.copy(expected = v)
    case (a, Seq("--out", v)) => a.copy(out = v)
    case (a, Seq("--emit", v)) => a.copy(emit = v)
    case (a, Seq("--dump", v)) => a.copy(dump = v)
    case (_, other) =>
      throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** The one session config: every task thread of one process, as many
    * shuffle partitions as cores, AQE on, UTC. Scratch files stay under
    * the JVM's temp dir, which run.py points inside the checkout.
    */
  def session(cores: Int): SparkSession = {
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val code =
      try {
        val args = parse(argv.toSeq)
        val cores = Runtime.getRuntime.availableProcessors()
        val spark = session(cores)
        try {
          if (args.emit.nonEmpty) Emit.run(spark, args, cores)
          else println(json.writeValueAsString(new Harness(spark, args, cores, startNs).run()))
        } finally spark.stop()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** Regenerates the expected outputs: the digest of every benchmark
  * query, each result dumped as parquet beside the oracle SQL so the
  * DuckDB cross-check can read it, and the okcupid_tree accuracy for
  * each pinned seed.
  */
object Emit {
  /** The seeds whose okcupid_tree accuracy is pinned. */
  val pinnedSeeds: Seq[Long] = 0L to 39L

  def run(spark: SparkSession, args: Main.Args, cores: Int): Unit = {
    val all = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val queries = Workloads.allQueries.map { op =>
      val df = all(op.name)(spark, args.data)
      val d = Digest.observeNoop(df)
      df.write.mode("overwrite").parquet(s"${args.dump}/${op.name}")
      op.name -> ListMap("rows" -> d.rows, "xor" -> d.xor, "sum" -> d.sum)
    }
    val oracleJson = Workloads.allQueries.flatMap(op => oracles.get(op.name).map(op.name -> _))
    write(new File(args.dump, "oracle_sql.json"), ListMap(oracleJson: _*))
    val accuracy = pinnedSeeds.map { seed =>
      val profiles = Corpus.profiles(spark, seed).cache()
      val (_, acc, _) = graft.OkCupidPipeline.trainAndEvaluateTimed(profiles)
      profiles.unpersist()
      System.err.println(s"[perfbench] seed $seed accuracy $acc")
      seed.toString -> acc
    }
    write(new File(args.emit), ListMap(
      "queries" -> ListMap(queries: _*),
      "okcupid_tree" -> ListMap("cores" -> cores, "accuracy" -> ListMap(accuracy: _*))))
  }

  private def write(f: File, value: Any): Unit = {
    f.getParentFile.mkdirs()
    Main.json.writeValue(f, value)
  }
}
