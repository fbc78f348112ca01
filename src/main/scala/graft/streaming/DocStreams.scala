package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A plan over the documents table shape (doc_id, text) that runs
  * unchanged on a batch frame and on a micro-batch stream.
  */
object DocStreams {

  /** Benchmark decontamination screen — the ingest-time "is this
    * training document contaminated by an eval set" gate, as a
    * STREAM-STATIC join: the static benchmark's distinct hashed n-grams
    * are planned per micro-batch and BROADCAST, so the document stream
    * never shuffles to be screened. Emits one (doc_id, gram) row per
    * matched benchmark gram (append-safe: each doc's grams arrive once;
    * flag/count rollups are a downstream batch aggregate). Gram scheme is
    * identical to the batch [[graft.ops.TextAnalysis.ngramContamination]]
    * (alnum tokens, 60-bit hashed n-grams), so batch and stream agree
    * gram-for-gram. `q_docs_screen` runs it as a batch plan.
    */
  def benchmarkScreenStream(
      documents: DataFrame,
      benchmark: DataFrame,
      n: Int = 13): DataFrame = {
    import graft.functions.TextExpressions.{alnumTokens, hashedNgrams}
    val benchGrams = benchmark
      .select(explode(hashedNgrams(alnumTokens(col("text")), n)).as("gram"))
      .distinct()
    documents
      .select(col("doc_id"),
        // per-doc gram dedup stays NARROW (array_distinct before the
        // explode) — a stateful dropDuplicates here would grow a
        // watermark-less store forever on an unbounded stream
        explode(array_distinct(hashedNgrams(alnumTokens(col("text")), n)))
          .as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .select(col("doc_id"), col("gram"))
  }
}
