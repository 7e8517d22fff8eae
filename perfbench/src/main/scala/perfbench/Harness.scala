package perfbench

import graft.{OkCupidPipeline, SparkEntry}
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}
import scala.util.control.NonFatal

import Harness._

/** One timed operation of a pass. */
final case class OpTime(
    name: String, kind: String, op: Int, buildS: Double, execS: Double) {
  def wallS: Double = buildS + execS
}

object Harness {
  /** What the timed part of a run measured. `passWalls` are the
    * untraced passes; `perLayer` is filled only by a traced run.
    */
  final case class Timed(
      passWalls: Seq[Double], p50: Double, samples: Int, accuracy: Double,
      inputsOk: Boolean, perLayer: Seq[(String, (Double, String))])

  /** One okcupid_tree pipeline call. */
  final case class TreeCall(
      op: Int, wallS: Double, accuracy: Double, stages: Map[String, Double], ok: Boolean)
}

/** One benchmark run: set-up (session, inputs, a verified warm-up
  * pass), untraced timed passes for the end-to-end metrics, and with
  * `trace` one more pass under the listener for the per-layer metrics.
  */
final class Harness(
    spark: SparkSession, args: Main.Args, cores: Int, startNs: Long) {

  private val tracer = new Tracer(args.trace)
  private val expected = Expected.load(new File(args.expected))
  private val rng = new Random(args.seed)
  private var recorder: Option[Recorder] = None
  private var lastOp = 0
  private val tally = new Tally
  private val traced = ArrayBuffer.empty[OpTime]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def fail(what: String, e: Throwable): Unit = {
    log(s"$what FAILED: $e")
    e.printStackTrace()
  }

  def run(): ListMap[String, Any] = {
    val (setupS, timed) =
      if (args.workload == Workloads.OkCupidTree) runTree()
      else runQueries(Workloads.queries(args.workload))
    val e2e = Seq(
      "wall_s" -> (Stats.median(timed.passWalls), "s"),
      "query_p50_s" -> (timed.p50, "s"),
      "accuracy" -> (timed.accuracy, "fraction"),
      "setup_s" -> (setupS, "s"))
    val metrics = if (args.trace) timed.perLayer else e2e
    val metricsJson = ListMap(metrics.map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) }: _*)
    if (args.trace)
      writeTrace(new File(args.out, s"trace-${args.workload}-seed${args.seed}.json"), metricsJson)
    log(s"${args.workload} seed=${args.seed} cores=$cores " +
      s"passes=${timed.passWalls.map(w => f"$w%.2f").mkString("/")} samples=${timed.samples} " +
      e2e.map { case (k, (v, u)) => f"$k=$v%.4f$u" }.mkString(" ") +
      s" attempted=${tally.attempted} failed=${tally.failed}")
    ListMap(
      "correct" -> (tally.failed == 0 && timed.inputsOk),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> metricsJson)
  }

  /** Timed passes until `seconds` are spent, at least `minPasses`. */
  private def timedPasses[T](minPasses: Int)(pass: Int => T)(wall: T => Double): Seq[T] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[T]
    def mean = out.map(wall).sum / out.size
    while (out.size < minPasses || secs(t0) + mean / 2 < args.seconds)
      out += pass(out.size + 1)
    out.toSeq
  }

  // ---- operation bookkeeping shared by both kinds of workload ----

  private def newOp(): Int = { lastOp += 1; lastOp }

  private def enter(op: Int, opSpan: Int, name: String): Unit = recorder.foreach { r =>
    r.currentOp = op
    r.currentSpan = opSpan
    spark.sparkContext.setJobGroup(Recorder.groupOf(op), name)
  }

  private def leave(): Unit = recorder.foreach { r =>
    spark.sparkContext.clearJobGroup()
    Bus.drain(spark.sparkContext)
    r.currentOp = -1
    r.currentSpan = -1
  }

  private def phase[T](name: String, opSpan: Int, op: Int, build: Boolean)(body: => T): T =
    tracer.span(name, opSpan, op) { id =>
      recorder.foreach { r => r.currentSpan = id; r.inBuild = build }
      try body
      finally recorder.foreach { r => r.currentSpan = opSpan; r.inBuild = false }
    }

  private def startRecorder(): Recorder = {
    val r = new Recorder(tracer)
    spark.sparkContext.addSparkListener(r)
    recorder = Some(r)
    r
  }

  private def oldGenPool =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  // ---- query workloads ----

  private def runQueries(ops: Seq[QueryOp]): (Double, Timed) = {
    val all = SparkEntry.queries
    val fns = ops.map(o => o.name -> all(o.name)).toMap
    // The warm-up pass checks every output.
    val t0 = System.nanoTime()
    queryPass(ops, fns, "warmup", check = true)
    val setupS = secs(startNs)
    log(f"set-up: warm-up pass ${secs(t0)}%.2f s")
    // enough passes that at least 7 operation samples lie beyond the median
    val minPasses = Iterator.from(1)
      .find(k => Stats.reportable(k * ops.size, 0.5, 7)).get
    val passes = timedPasses(minPasses)(i => queryPass(ops, fns, s"pass $i", check = false))(_.map(_.wallS).sum)
    val walls = passes.map(_.map(_.wallS).sum)
    val samples = passes.flatten.map(_.wallS)
    val okShare = 1.0 - tally.errorRate
    val perLayer =
      if (!args.trace) Nil
      else {
        startRecorder()
        val pool = oldGenPool
        pool.foreach(_.resetPeakUsage())
        val pass = queryPass(ops, fns, "traced", check = false)
        traced ++= pass
        val oldGenMb = pool.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
        val kernels = kernelRates(kernelText(args.workload))
        queryLayers(pass, Stats.median(walls), oldGenMb) ++ kernels
      }
    (setupS, Timed(walls, Stats.median(samples), samples.size, okShare,
      inputsOk = true, perLayer))
  }

  private def queryPass(
      ops: Seq[QueryOp], fns: Map[String, (SparkSession, String) => DataFrame],
      label: String, check: Boolean): Seq[OpTime] =
    tracer.span(label, -1, 0) { passSpan =>
      rng.shuffle(ops).map(op => runQuery(op, fns(op.name), passSpan, check))
    }

  private def runQuery(
      op: QueryOp, fn: (SparkSession, String) => DataFrame, passSpan: Int,
      check: Boolean): OpTime = {
    val id = newOp()
    var build, exec = 0.0
    val want = expected.digests.get(op.name)
    val outcome = tracer.span(op.name, passSpan, id) { opSpan =>
      enter(id, opSpan, op.name)
      try Try {
        val t0 = System.nanoTime()
        val df = phase("build", opSpan, id, build = true)(fn(spark, args.data))
        build = secs(t0)
        val t1 = System.nanoTime()
        val got = phase("exec", opSpan, id, build = false) {
          if (check) Some(Digest.observeNoop(df))
          else { df.write.format("noop").mode("overwrite").save(); None }
        }
        exec = secs(t1)
        got
      } finally leave()
    }
    val ok = Verdict.ok(outcome, want)
    outcome match {
      case Failure(e) => fail(op.name, e)
      case Success(Some(d)) if !ok =>
        log(s"${op.name} output MISMATCH: got $d, expected $want")
      case _ =>
    }
    tally.record(ok)
    OpTime(op.name, op.kind, id, build, exec)
  }

  private def queryLayers(
      pass: Seq[OpTime], untracedWall: Double, oldGenMb: Double)
      : Seq[(String, (Double, String))] = {
    val r = recorder.get
    val w = new Work
    pass.foreach(o => w.add(r.workOf(o.op)))
    val wall = pass.map(_.wallS).sum
    def sumOf(kind: String, f: OpTime => Double) = pass.filter(_.kind == kind).map(f).sum
    val streamWalls = pass.filter(_.kind == QueryOp.StreamTwin).map(_.wallS)
    val batchWalls = pass.filter(_.kind == QueryOp.BatchTwin).map(_.wallS)
    Seq(
      "queries.build_s" -> (pass.map(_.buildS).sum, "s"),
      "queries.build_jobs" -> (w.buildJobs.toDouble, "count"),
      "queries.exec_s" -> (pass.map(_.execS).sum, "s")) ++
      sparkLayers(w, wall, oldGenMb) ++ Seq(
      "streaming.build_s" -> (sumOf(QueryOp.StreamTwin, _.buildS), "s"),
      "streaming.twin_ratio" -> (Stats.twinRatio(streamWalls, batchWalls), "ratio"),
      "sources.write_s" -> (sumOf(QueryOp.Storage, _.buildS), "s"),
      "pipeline.featurize_s" -> (0.0, "s"),
      "pipeline.fit_s" -> (0.0, "s"),
      "pipeline.prune_eval_s" -> (0.0, "s"),
      "trace.overhead_frac" -> (Stats.ratio(wall - untracedWall, untracedWall), "fraction"),
      "error_rate" -> (tally.errorRate, "fraction"))
  }

  private def sparkLayers(w: Work, wallS: Double, oldGenMb: Double)
      : Seq[(String, (Double, String))] = {
    val runS = w.taskRunMs / 1e3
    val cpuS = w.taskCpuNs / 1e9
    Seq(
      "spark.jobs" -> (w.jobs.toDouble, "count"),
      "spark.stages" -> (w.stages.toDouble, "count"),
      "spark.tasks" -> (w.tasks.toDouble, "count"),
      "spark.single_task_stages" -> (w.singleTaskStages.toDouble, "count"),
      "spark.core_busy_frac" -> (Stats.coreBusyFrac(runS, wallS, cores), "fraction"),
      "spark.task_run_s" -> (runS, "s"),
      "spark.task_cpu_s" -> (cpuS, "s"),
      "spark.cpu_frac" -> (Stats.cpuFrac(cpuS, runS), "fraction"),
      "spark.gc_s" -> (w.gcMs / 1e3, "s"),
      "spark.shuffle_read_mb" -> (w.shuffleReadBytes / 1e6, "MB"),
      "spark.shuffle_write_mb" -> (w.shuffleWriteBytes / 1e6, "MB"),
      "spark.spill_mb" -> (w.spillBytes / 1e6, "MB"),
      "spark.pinned_blocks" -> (w.pinnedBlocks.toDouble, "count"),
      "spark.pinned_mb" -> (w.pinnedBytes / 1e6, "MB"),
      "spark.output_mb" -> (w.outputBytes / 1e6, "MB"),
      "spark.failed_tasks" -> (w.failedTasks.toDouble, "count"),
      "jvm.old_gen_peak_mb" -> (oldGenMb, "MB"))
  }

  // ---- okcupid_tree ----

  private def runTree(): (Double, Timed) = {
    val c0 = System.nanoTime()
    val profiles = Corpus.profiles(spark, args.seed).persist(StorageLevel.MEMORY_AND_DISK)
    profiles.count()
    val corpusS = secs(c0)
    val shape = Corpus.shape(profiles)
    val shapeOk = Corpus.withinAnchors(shape)
    if (!shapeOk) log(s"corpus shape $shape is off the anchors ${Corpus.anchors}")
    val testSize = Corpus.testSize(shape.nF, shape.n - shape.nF)
    val pinned =
      if (cores == expected.accuracyCores) expected.accuracy.get(args.seed) else None
    val warm = treeCall(profiles, -1, testSize, pinned)
    val setupS = secs(startNs)
    log(f"set-up: corpus $corpusS%.2f s, shape $shape, warm-up call ${warm.wallS}%.2f s")
    // Every later call must reproduce the warm-up's accuracy exactly.
    val want = if (warm.ok) Some(warm.accuracy) else pinned
    val calls = timedPasses(Workloads.minTreeCalls)(i =>
      tracer.span(s"pass $i", -1, 0)(s => treeCall(profiles, s, testSize, want)))(_.wallS)
    val walls = calls.map(_.wallS)
    val perLayer =
      if (!args.trace) Nil
      else {
        val r = startRecorder()
        val pool = oldGenPool
        pool.foreach(_.resetPeakUsage())
        val call = tracer.span("traced", -1, 0)(s => treeCall(profiles, s, testSize, want))
        val oldGenMb = pool.map(_.getPeakUsage.getUsed / 1e6).getOrElse(0.0)
        traced += OpTime(Workloads.OkCupidTree, "pipeline", call.op, 0.0, call.wallS)
        val kernels = kernelRates(profiles.select(col("essay0").as("text")))
        Seq(
          "queries.build_s" -> (0.0, "s"),
          "queries.build_jobs" -> (0.0, "count"),
          "queries.exec_s" -> (0.0, "s")) ++
          sparkLayers(r.workOf(call.op), call.wallS, oldGenMb) ++ Seq(
          "streaming.build_s" -> (0.0, "s"),
          "streaming.twin_ratio" -> (0.0, "ratio"),
          "sources.write_s" -> (0.0, "s"),
          "pipeline.featurize_s" -> (call.stages.getOrElse("featurize", 0.0), "s"),
          "pipeline.fit_s" -> (call.stages.getOrElse("fit", 0.0), "s"),
          "pipeline.prune_eval_s" -> (call.stages.getOrElse("prune_eval", 0.0), "s"),
          "trace.overhead_frac" ->
            (Stats.ratio(call.wallS - Stats.median(walls), Stats.median(walls)), "fraction"),
          "error_rate" -> (tally.errorRate, "fraction")) ++ kernels
      }
    profiles.unpersist()
    (setupS, Timed(walls, Stats.median(walls), walls.size, warm.accuracy,
      shapeOk, perLayer))
  }

  /** One pipeline call. The confusion matrix must sum to the test
    * split, and the accuracy must equal `want` when one is known.
    */
  private def treeCall(
      profiles: DataFrame, passSpan: Int, testSize: Long,
      want: Option[Double]): TreeCall = {
    val id = newOp()
    tracer.span(Workloads.OkCupidTree, passSpan, id) { opSpan =>
      enter(id, opSpan, Workloads.OkCupidTree)
      val startUs = tracer.nowUs
      val t0 = System.nanoTime()
      try {
        val (confusion, acc, stages) = OkCupidPipeline.trainAndEvaluateTimed(profiles)
        val total = confusion.collect().map(_.getLong(2)).sum
        val wall = secs(t0)
        var ok = true
        if (total != testSize) {
          ok = false
          log(s"confusion matrix sums to $total, test split is $testSize")
        }
        if (want.exists(_ != acc)) {
          ok = false
          log(s"accuracy $acc, expected ${want.get}")
        }
        tally.record(ok)
        if (tracer.enabled) {
          var at = startUs
          val kids = stages.map { case (name, s) =>
            val end = at + (s * 1e6).toLong
            val k = Span(tracer.newId(), opSpan, id, name, at, end)
            at = end
            k
          }
          kids.foreach(tracer.add)
          Bus.drain(spark.sparkContext)
          tracer.adopt(opSpan, kids)
        }
        TreeCall(id, wall, acc, stages.toMap, ok)
      } catch {
        case NonFatal(e) =>
          fail(Workloads.OkCupidTree, e)
          tally.record(false)
          TreeCall(id, secs(t0), 0.0, Map.empty, ok = false)
      } finally leave()
    }
  }

  // ---- graft.functions kernels ----

  /** The string column each workload's kernels run on: its own text. */
  private def kernelText(workload: String): DataFrame = workload match {
    case Workloads.TextCorpus => graft.Tables.documents(spark, args.data).select(col("text"))
    case _ => graft.Tables.events(spark, args.data).select(col("props").as("text"))
  }

  /** Rows per second of the public kernels, each the median of three
    * aggregations over a pinned input. The input repeats the
    * workload's text until it holds at least 200k words, so a
    * measurement is not one job's fixed cost.
    */
  private def kernelRates(text: DataFrame): Seq[(String, (Double, String))] = {
    import graft.functions._
    def pin(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val base = text.filter(col("text").isNotNull)
    val baseWords = base.select(sum(size(tokenize_lower(col("text"))))).head().getLong(0)
    val reps = math.max(1L, math.ceil(2e5 / math.max(1L, baseWords)).toLong)
    val (texts, nTexts) = pin(base.crossJoin(spark.range(reps)).select(col("text")))
    val (toks, nToks) = pin(texts.select(tokenize_lower(col("text")).as("toks")))
    val (words, nWords) = pin(
      toks.select(explode(col("toks")).as("w")).filter(length(col("w")) > 0))
    val (syms, _) = pin(words.select(split(col("w"), "").as("syms")))
    val merges = words.limit(20000).collect().map(_.getString(0))
      .flatMap(w => w.sliding(2).filter(_.length == 2).map(p => (p.take(1), p.drop(1))))
      .groupBy(identity).toSeq.sortBy { case (p, n) => (-n.length, p) }
      .take(32).map(_._1)
    def rate(n: Long, df: DataFrame, c: Column): Double = {
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.select(sum(c)).head()
        secs(t0)
      }
      n / Stats.median(times)
    }
    try Seq(
      "functions.tokenize_rows_s" ->
        (rate(nTexts, texts, size(tokenize_lower(col("text")))), "rows/s"),
      "functions.stem_rows_s" -> (rate(nWords, words, length(stem(col("w")))), "rows/s"),
      "functions.shingle_rows_s" ->
        (rate(nToks, toks, size(word_shingles(col("toks"), 3))), "rows/s"),
      "functions.bpe_apply_rows_s" ->
        (rate(nWords, syms, size(bpe_apply(col("syms"), merges.toSeq))), "rows/s"))
    finally Seq(syms, words, toks, texts).foreach(_.unpersist())
  }

  // ---- trace file ----

  /** Writes the spans with their self time, each traced operation's
    * work counts (what `tools/diff_counts.py` compares) and the job
    * call sites.
    */
  private def writeTrace(file: File, metrics: Any): Unit = {
    val r = recorder.getOrElse(return)
    val spans = tracer.spans
    val self = Tracer.selfTimesUs(spans)
    val ops = traced.map { o =>
      val w = r.workOf(o.op)
      ListMap(
        "name" -> o.name, "kind" -> o.kind, "op" -> o.op,
        "wall_s" -> o.wallS, "build_s" -> o.buildS, "exec_s" -> o.execS,
        "task_run_s" -> w.taskRunMs / 1e3, "task_cpu_s" -> w.taskCpuNs / 1e9,
        "gc_s" -> w.gcMs / 1e3, "counts" -> ListMap(w.counts.toSeq.sortBy(_._1): _*))
    }
    val sites = r.callSites.toSeq.sortBy(-_._2._2).map { case (site, (jobs, ms)) =>
      ListMap("call_site" -> site, "jobs" -> jobs, "job_s" -> ms / 1e3)
    }
    val body = ListMap(
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> cores,
      "metrics" -> metrics, "ops" -> ops, "call_sites" -> sites,
      "spans" -> spans.map(s => ListMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs,
        "self_us" -> self.getOrElse(s.id, 0L))))
    file.getParentFile.mkdirs()
    Main.json.writeValue(file, body)
    log(s"trace written to $file")
  }
}
