package graft

import graft.core.Ingest
import graft.operators.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.SparkSession

/** The three families' streaming ingests — each one
  * [[graft.core.Ingest]] over its [[graft.core.IndexFamily]] instance:
  * `new KnnIngest(idx)` or `KnnIngest.resume(s, path)`, then
  * `foldBatch`/`save`/`index`, plus `edges` on a k-NN ingest
  * ([[graft.operators.Similarity.KnnIngestOps]]). The q167f, q150f and
  * q183b board rows run them.
  */
package object streaming {
  /** k-NN graph ingest: micro-batches of (xid, xvec) rows. */
  type KnnIngest = Ingest[Similarity.KnnIndex]
  object KnnIngest {
    def resume(s: SparkSession, path: String): KnnIngest = Ingest.resume(s, path)
  }

  /** RAG chunk-index ingest: micro-batches of (doc_id, text) rows. */
  type RagIngest = Ingest[Retrieval.RagIndex]
  object RagIngest {
    def resume(s: SparkSession, path: String): RagIngest = Ingest.resume(s, path)
  }

  /** Dedup components ingest: micro-batches of (doc_id, text) rows. */
  type CcIngest = Ingest[Dedup.CcIndex]
  object CcIngest {
    def resume(s: SparkSession, path: String): CcIngest = Ingest.resume(s, path)
  }
}
