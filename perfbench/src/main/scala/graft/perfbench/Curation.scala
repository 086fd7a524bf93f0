package graft.perfbench

import java.io.File

import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.dedup.Dedup

/** The LLM-data curation chain over a generated corpus: the corpus
  * pipeline (quality gates, exact dedup, decontamination), exact and
  * MinHash near-duplicate detection, duplicate clusters, and trained
  * IVF ANN queries. Storage is untouched. */
final class LlmCuration(r: Runner, spec: Spec) extends Workload {
  private val spark = r.spark
  private val source = spec.obj("dirs").str("source")
  private val out = new File(spec.str("out"))
  private val stages = Seq(
    "text" -> "c8_corpus_pipeline", "dedup_exact" -> "d1_dedup_exact",
    "dedup_minhash" -> "d3_minhash_lsh", "dedup_clusters" -> "d6_dup_clusters",
    "similarity" -> "s6_ann_ivf_trained")
  private val reader = new Reader(r)
  private var counts = Map.empty[String, Double]

  def setup(): Unit = ()

  def round(k: Int): Unit = stages.foreach { case (layer, entry) =>
    reader.read(layer, entry, new File(out, s"stages/$entry"))(
      _ => SparkEntry.queries(entry)(spark, source))
  }

  def export(out: File): Map[String, Any] = {
    // Traced runs: the dedup and ANN work counts, measured apart from
    // the timed stages.
    if (r.tracer.isDefined) r.span("curation.counts", "counts") {
      val candidates = Dedup.minhashCandidatePairs(
        graft.core.Tables.documents(spark, source), col("text"), col("doc_id"),
        n = 3, numHashes = 128, bands = 32, maxBucket = 1024).count()
      val confirmed = SparkEntry.queries("d3_minhash_lsh")(spark, source).count()
      // IVF candidates per query: the probe join's output rows (the
      // re-rank input) over the 10 queries s6 answers.
      val ann = SparkEntry.queries("s6_ann_ivf_trained")(spark, source)
      val plan = ann.queryExecution.executedPlan
      ann.queryExecution.toRdd.foreach(_ => ())
      val joined = Measure.nodes(plan).filter(_.nodeName.contains("BroadcastHashJoin"))
        .flatMap(_.metrics.get("numOutputRows").map(_.value))
      counts = Map("dedup.candidate_pairs" -> candidates.toDouble,
        "dedup.confirmed_pairs" -> confirmed.toDouble,
        "similarity.candidates_per_query" ->
          (if (joined.isEmpty) 0.0 else joined.max / 10.0))
    }
    Map("oracle" -> stages.map { case (_, e) => e -> SparkEntry.oracleSql(e) }.toMap)
  }

  def layers(t: Tracer): Map[String, Double] = {
    def secs(layer: String) =
      t.spans.filter(_.layer == layer).map(_.ms).sum / 1000.0 / math.max(r.round, 1)
    Map("text.gates_s" -> secs("text"), "dedup.exact_s" -> secs("dedup_exact"),
      "dedup.minhash_s" -> secs("dedup_minhash"),
      "dedup.clusters_s" -> secs("dedup_clusters"),
      "similarity.ann_s" -> secs("similarity")) ++ counts
  }
}
