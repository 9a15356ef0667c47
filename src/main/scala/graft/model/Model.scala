package graft.model

import java.sql.Timestamp

/** Core data model of the Spark-native fulltext engine (SURVEY.md §1.2).
  *
  * The input shape is the transcript table from BASELINE.json `input_hint`:
  * `(conv_id, turn_idx, role, text, tool, ts)`. One document = one turn
  * (≙ reference's one-document-per-file, ArchivedFileInfo.java:15-47);
  * the doc key `(conv_id, turn_idx)` plays the role of the reference's
  * `_id = path` identity (BulkIndexer.java:48).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** A turn with its assigned dense docId and doc length (token count).
  * `dl` ≙ the reference's `sizeInBytes` long (mapping.json:26-28) — the
  * numeric per-doc stat; here it feeds the BM25 length norm.
  */
final case class Doc(
    docId: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp,
    dl: Int
)

/** Uncompressed posting (build-time intermediate). `pos` is the
  * varint-encoded delta stream of the term's token positions in the doc
  * (tf entries; first absolute, then gaps) — encoded in the tokenize
  * pass so the raw Int positions never ride a shuffle.
  */
final case class Posting(term: String, docId: Long, tf: Int, dl: Int, pos: Array[Byte])

/** One compressed posting block (≤ blockSize postings of one term within
  * one bucket/segment). The term is dictionary-encoded: `termId` is the
  * dense id assigned in the dict0 phase — the block shuffle, sort and
  * storage never carry the term string (round-1 scaling finding: the
  * per-posting term string dominated shuffle bytes and sort compares).
  * docIds are delta+varint encoded relative to `firstDocId`; tfs and dls
  * are varint encoded (dl is kept per posting in STORAGE deliberately —
  * Lucene-norm style — so postings can be re-scored under different
  * global stats, e.g. cross-segment search with merged (N, avgdl)).
  * `poss` is the concatenated per-posting position stream (posting i has
  * tfs[i] positions, delta+varint — Lucene-style positional postings for
  * phrase queries; empty when the index is built with
  * storePositions = false). `maxScore` is the exact BM25 block-max used
  * by WAND pruning.
  */
final case class PostingBlock(
    termId: Long,
    shard: Int,
    bucket: Int,
    blockId: Int,
    firstDocId: Long,
    lastDocId: Long,
    count: Int,
    docs: Array[Byte],
    tfs: Array[Byte],
    dls: Array[Byte],
    poss: Array[Byte],
    maxTf: Int,
    maxScore: Double
)

/** Per-term dictionary row (≙ ES/Lucene term dictionary). `termId` is
  * the dense dictionary-encoded id blocks are keyed by; `maxScore` is
  * the global term score upper bound used by WAND pivot selection.
  */
final case class TermStats(term: String, termId: Long, shard: Int, df: Long, cf: Long, maxScore: Double)

/** Singleton corpus stats (BM25 norm inputs). */
final case class IndexStats(n: Long, avgdl: Double, sourceSnapshotId: String)

/** Per-cell build checkpoint with lineage + metrics (north_rule:
  * "resumable from per-partition checkpoints carrying lineage (source
  * snapshot ID, partition range, term-shard) and metrics (postings
  * emitted, bytes compressed)"). A cell is one unit of idempotent work:
  * "docs", "dict0", "bucket=<i>" (a contiguous docId range), "finalize".
  */
final case class BuildManifest(
    cell: String,
    bucket: Int,
    docIdLo: Long,
    docIdHi: Long,
    sourceSnapshotId: String,
    postingsEmitted: Long,
    bytesCompressed: Long,
    status: String,
    wallSec: Double
)

/** A scored document (query-time). */
final case class Scored(docId: Long, score: Double)

object Scored {
  /** The engine's hit ranking: score descending, then docId ascending.
    * Compares the primitives directly — no tuple per comparison.
    */
  val Ranking: Ordering[Scored] = new Ordering[Scored] {
    def compare(x: Scored, y: Scored): Int = {
      val c = java.lang.Double.compare(y.score, x.score)
      if (c != 0) c else java.lang.Long.compare(x.docId, y.docId)
    }
  }
}
