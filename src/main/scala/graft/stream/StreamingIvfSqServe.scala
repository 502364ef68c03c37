package graft.stream

import graft.ops.{Caches, Embeddings, Pq, Sq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming IVF+SQ8 serving, the deployment shape of q82: load the
  * coarse quantizer ([[graft.ops.Embeddings.saveQuantizer]]) and the
  * residual bounds ([[graft.ops.Sq.saveBounds]]), build the routed
  * codes relation, decode it and persist the decoded tier once
  * ([[graft.ops.Sq.decodedTier]]: `array<bigint>` reconstructions,
  * one bigint per row more than the codes), then run every
  * micro-batch through [[ServeLoop]] with the kernel of
  * [[graft.ops.Sq.ivfSq8Serve]], which the q82 oracle certifies
  * (StreamingIvfSqServeSpec pins stream ≡ batch). A batch does only
  * per-query work: the probe ranking on the driver and the cell
  * equi-join against the cached tier; it never decodes.
  *
  * This one serve keeps a named entry point because the `search_serve`
  * benchmark drives it; every other kernel is served by calling
  * [[ServeLoop.run]] directly.
  *
  * At 100 TB the tier never moves: each micro-batch broadcasts probe
  * rows that equi-join only their nprobe cells' rows (persisted
  * partitioned by cell, the probed cells prune at listing time —
  * StorageSpec proves it for the codes through the same kernel). If the
  * corpus drifts past the bounds artifact, encoding saturates at the
  * grid edge ([[graft.ops.Sq.encode]]): the byte codes stay valid and
  * recall degrades at the drifted edges, the signal to re-learn the
  * bounds. */
object StreamingIvfSqServe {

  /** Serve `queries` — a STREAMING DataFrame with (q_id: long,
    * embedding: array<float>) — and hand each batch's ranked result to
    * `onBatch`.
    *
    * `excludeSelf`: pass true only when the stream's q_ids ARE corpus
    * vec_ids (see [[graft.ops.Sq.ivfSq8Serve]]).
    *
    * `selector`: a service-level metadata predicate over the tier's
    * columns (the q86 filtered-search contract; the tier is built with
    * [[graft.ops.Sq.ivfSq8CodesWithLabel]] so the filterable payload
    * rides it). Candidates failing it drop at serve time, with
    * training and routing untouched. Per-REQUEST selectors call
    * [[graft.ops.Sq.ivfSq8Serve]] on a filtered view directly. */
  def run(spark: SparkSession, queries: DataFrame,
          corpusDir: String, quantizerPath: String, boundsPath: String,
          checkpointDir: String,
          k: Int = 5, nprobe: Int = 2, excludeSelf: Boolean = false,
          selector: Option[Column] = None)
         (onBatch: DataFrame => Unit): StreamingQuery = {
    val cents = Embeddings.loadQuantizer(spark, quantizerPath)
    val (mins, maxs) = Sq.loadBounds(spark, boundsPath)
    val tier = if (selector.isDefined) Sq.ivfSq8CodesWithLabel(spark, corpusDir, cents, mins, maxs)
               else Sq.ivfSq8Codes(spark, corpusDir, cents, mins, maxs)
    val decoded = Caches.persist(Sq.decodedTier(selector.map(tier.filter).getOrElse(tier), mins, maxs))
    ServeLoop.run(queries, checkpointDir)(batch =>
      Sq.ivfSq8ServeDecoded(decoded, cents, Pq.quantizeQueries(batch), k, nprobe, excludeSelf)
    )(onBatch)
  }
}
