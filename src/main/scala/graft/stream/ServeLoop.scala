package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one stateless serving loop: every micro-batch of `input` goes
  * through `serve` and the result goes to `onBatch`.
  *
  * A serving deployment loads its artifacts with the ops loaders
  * (`Embeddings.loadQuantizer`, `Sq.loadBounds`, `Retrieval.bm25Load`,
  * …), persists the static side once through [[graft.ops.Caches]],
  * and passes the ops kernel that the batch query also runs, closed
  * over those sides, as `serve`. Because both paths run the same
  * kernel, stream ≡ batch is an identity the streaming specs pin
  * across micro-batch boundaries.
  *
  * foreachBatch rather than a streaming join: the per-query top-k
  * window is a batch-only operator, and a kernel with no cross-batch
  * state needs no streaming state. `checkpointDir` records committed
  * offsets, so a restarted loop never re-runs a committed batch.
  * `onBatch` is the side-effect sink (a result table, an RPC reply, a
  * snapshot upsert) and stays with the caller. Stopping the query
  * leaves the persisted static side to [[graft.ops.Caches.releaseAll]]. */
object ServeLoop {

  def run(input: DataFrame, checkpointDir: String)(serve: DataFrame => DataFrame)
         (onBatch: DataFrame => Unit): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => onBatch(serve(batch)) }
      .start()
}
