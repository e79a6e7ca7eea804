package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.pipeline.TrainingDataPipeline
import graft.similarity.Similarity

/** corpus_curation: the generated documents and embeddings with planted
  * exact and near copies (`corpus.py` plants them and checks the outputs).
  * Each pass runs, in order: `TrainingDataPipeline.run(collectStats =
  * false)` with `kept` and `chunks` materialised, `Dedup.archiveScreen`
  * (the original documents are the archive), `Dedup.exactSubstrSpans`,
  * `Dedup.charGramJaccardPairs` and `Similarity.cosineNearDup`.
  */
final class CorpusCuration(h: Harness) extends Workload {
  private val spark = h.spark
  private val dir = h.o.dataDir
  private val planted = new ObjectMapper().readTree(new File(s"$dir/planted.json"))
  private val docs = spark.read.parquet(s"$dir/corpus_documents.parquet")
  private val emb = spark.read.parquet(s"$dir/corpus_embeddings.parquet")
  private val keptDigests = collection.mutable.ArrayBuffer[Int]()
  private var keptIds = Seq.empty[Long]
  private var archive = Array.empty[Row]
  private var spans = Array.empty[Row]
  private var charPairs = Array.empty[Row]
  private var vecPairs = Array.empty[Row]

  /** Four warm-up passes (one when tiny): passes two to four still run
    * about 40%, 20% and 10% slower than the sixth.
    */
  def setup(): Unit = (1 to (if (h.o.tiny) 1 else 4)).foreach(_ => runPass())

  def measure(): Unit = {
    val start = h.nowNs()
    do runPass() while (!h.deadlineReached(start))
  }

  private def runPass(): Unit = {
    var kept: Option[DataFrame] = None
    h.pass {
      h.call("pipeline") {
        val r = h.phase("build")(TrainingDataPipeline.run(spark, docs,
          minTokens = 30, maxAvgTokenLen = 6.0, minStopwordRatio = 0.01,
          nearDupThreshold = 0.9, chunkTokens = 40, strideTokens = 20,
          collectStats = false))
        h.phase("exec") {
          r.kept.write.mode("overwrite").format("noop").save()
          r.chunks.write.mode("overwrite").format("noop").save()
        }
        kept = Some(r.kept)
      }
      h.add("pipeline.run_s", h.phaseSeconds("build"))
      h.add("pipeline.materialize_s", h.phaseSeconds("exec"))
      archive = collected("dedup.archive", Dedup.archiveScreen(docs,
        col("doc_id") < lit(planted.get("archive_below").asLong))).getOrElse(archive)
      spans = collected("dedup.substr", Dedup.exactSubstrSpans(docs,
        minLen = planted.get("substr_len").asInt)).getOrElse(spans)
      charPairs = collected("dedup.chargram", Dedup.charGramJaccardPairs(docs, "source",
        planted.get("gram_len").asInt, planted.get("gram_threshold").asDouble))
        .getOrElse(charPairs)
      vecPairs = collected("similarity.neardup", Similarity.cosineNearDup(emb,
        planted.get("cos_threshold").asDouble)).getOrElse(vecPairs)
    }
    // outside the timed calls: the kept set, whose digest must not change
    kept.foreach { k =>
      keptIds = k.select(col("doc_id")).collect().map(_.getLong(0)).toSeq.sorted
      keptDigests += keptIds.hashCode
    }
  }

  /** Time one operator call: build its DataFrame, plan it, collect it. */
  private def collected(kind: String, build: => DataFrame): Option[Array[Row]] = {
    val r = h.call(kind) {
      val df = h.phase("build")(build)
      h.phase("plan")(df.queryExecution.executedPlan)
      h.phase("exec")(df.collect())
    }
    h.add(s"${kind}_s", h.lastCallSeconds)
    r
  }

  override def outputs(): Map[String, Any] = Map(
    "archive" -> archive.toSeq.map(a => Seq(a.getAs[Long]("doc_id"),
      a.getAs[Boolean]("exact_dup"), a.getAs[Long]("n_candidates"), a.getAs[Boolean]("is_dup"))),
    "span_docs" -> spans.map(_.getLong(0)).distinct.toSeq,
    "char_pairs" -> charPairs.toSeq.map(p => Seq(p.getLong(0), p.getLong(1))),
    "vec_pairs" -> vecPairs.toSeq.map(p => Seq(p.getLong(0), p.getLong(1))),
    "kept_ids" -> keptIds,
    "kept_digests" -> keptDigests.toSeq)

  def check(): Seq[String] = Nil // in corpus.py, against the planted pairs
}
