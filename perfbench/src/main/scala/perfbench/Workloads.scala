package perfbench

/** One benchmark operation: a query from `SparkEntry.queries`, tagged
  * with the layer it is meant to stress.
  */
final case class QueryOp(name: String, kind: String)

object QueryOp {
  val Text = "text"
  val Relational = "relational"
  val BatchTwin = "batch_twin"
  val StreamTwin = "stream_twin"
  val Storage = "storage"
}

/** The benchmark's workloads. Every query list is a cut of the full
  * sf0.1 set: a run must finish in well under a minute, so each list
  * keeps the cheapest queries that still exercise its layers (see
  * perfbench/README.md for the cut and the timings behind it).
  */
object Workloads {
  import QueryOp._

  val OkCupidTree = "okcupid_tree"
  val TextCorpus = "text_corpus"
  val EventsRelational = "events_relational"
  val names: Seq[String] = Seq(OkCupidTree, TextCorpus, EventsRelational)

  /** okcupid_tree has one operation per pass, so its medians need this
    * many timed calls in every run, whatever the host's speed.
    */
  val minTreeCalls = 5

  /** Text kernels and eager pins; no tree, no streaming. */
  val text: Seq[QueryOp] = Seq(
    "q_top_words", "q_pipeline_tokens", "q_tfidf", "q_stem_terms",
    "q_vocab_trim", "q_tokenize_icu", "q_dedup_minhash").map(QueryOp(_, Text))

  /** Relational plans, a batch/stream twin and a storage write; no
    * text kernels, no tree.
    */
  val events: Seq[QueryOp] =
    Seq("q1_agg", "q_tpch_q3", "q_range_join", "q_asof_join")
      .map(QueryOp(_, Relational)) ++
      // a batch query and its streaming twin: same answer, two paths
      Seq(QueryOp("q_events_window", BatchTwin),
        QueryOp("q_stream_events", StreamTwin)) ++
      Seq(QueryOp("q_partitioned_scan", Storage))

  def queries(workload: String): Seq[QueryOp] = workload match {
    case TextCorpus => text
    case EventsRelational => events
    case _ => Nil
  }

  /** Every query the expected-output file must cover. */
  def allQueries: Seq[QueryOp] = text ++ events
}
