package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-shared PACK-ENCODE relations — the sharedTf idea at token
  * level (OPTIMIZATION_r14.md backlog #5 / round-15 verdict item #2).
  *
  * Eleven pack-family queries each re-encoded the base corpus with the
  * committed codec and re-priced the same two-phase offset spine:
  * q_pack_shards / _resumable / _shuffled / _exact, q_pack_detokenize /
  * _shuffled, q_pack_decontaminate, q_pack_loss_mask,
  * q_shard_provenance / _shuffled, q_pack_sequences_bpe. The encode is
  * one codegen pass and the spine two window levels, but N queries paid
  * it N times per session — at 100 TB that is N full corpus passes for
  * one artifact layout. This object materializes the offsets relation
  * (doc_id, tids, n_tokens, offset) ONCE per (session, corpus, codec
  * mode, layout seed) and hands the same localCheckpoint (built by
  * PackedShards.offsetsFromEncoded — eager, lineage-cut) to every
  * consumer; the SHUFFLED layout is derived from the PLAIN relation's
  * tids (a re-key + spine over cached blocks), so each codec mode pays
  * exactly one encode pass per session.
  *
  * Cache-pressure arithmetic (the r13-verdict discipline): the retained
  * bytes are the corpus token ids — ~4 B per token, and the fixture
  * corpus runs ~5 text chars per token at ~3-4x parquet compression, so
  * the checkpoint is roughly 2-3x the parquet bytes per layout, two
  * layouts per mode worst case. The cache is therefore SIZE-CONDITIONAL
  * on [[graft.SessionMemo.inputBudget]], the budget sharedTf uses
  * (overridable via spark.graft.packEncode.maxInputBytes). A corpus over
  * budget gets NO session-pinned checkpoint: [[offsets]]/[[encoded]]
  * return None and every consumer recomputes its own offsets exactly as
  * before this round — the staged-offsets form (writeBatchResumable's
  * `_offsets` dir) is the 100 TB answer.
  *
  * Held in a [[graft.SessionMemo]] guarded by the (len, mtime) corpus
  * fingerprint: a regenerated test corpus must evict, never serve stale
  * offsets. Stale entries are dropped, not unpersisted: localCheckpoint
  * blocks are freed by the ContextCleaner once unreferenced. First
  * consumer pays the build inside its own timed region — nothing is
  * precomputed outside a query.
  */
object PackEncode {

  /** The committed letters-only fixture codec (BpeEncodeIds.bpeIds). */
  val Letters = "letters"
  /** The byte-lossless round-trip codec (BpeEncodeIds.bpeIdsExact). */
  val Exact = "exact"

  private def idsCol(mode: String): Column = mode match {
    case Exact => graft.functions.BpeEncodeIds.bpeIdsExact(col("text"))
    case Letters => graft.functions.BpeEncodeIds.bpeIds(col("text"))
    case other => throw new IllegalArgumentException(
      s"unknown pack-encode mode: $other")
  }

  // (dir, mode, seed) -> offsets relation, per session
  private[graft] val memo =
    new graft.SessionMemo[(String, String, Option[String]), DataFrame]()

  private def cacheable(s: SparkSession, dir: String): Boolean =
    graft.Par.tableBytes(s, dir, "documents") <=
      s.conf.getOption("spark.graft.packEncode.maxInputBytes").map(_.toLong)
        .getOrElse(graft.SessionMemo.inputBudget(s))

  /** The session-shared offsets relation of the base corpus under
    * `mode`: (doc_id, tids, n_tokens, offset), n_tokens > 0, in doc_id
    * order (`seed` = None — the q_pack_shards layout) or the
    * md5(seed:doc_id) epochShuffle permutation (the layout a training
    * run ships). Identical rows to PackedShards.withOffsets /
    * shuffledOffsets over the same corpus — same expressions, same
    * spine — just materialized once per key instead of once per query.
    * None when the corpus is over the cache budget: the caller falls
    * back to its own (pre-round) single-query plan.
    */
  def offsets(s: SparkSession, dir: String, mode: String = Letters,
      seed: Option[String] = None): Option[DataFrame] = {
    if (!cacheable(s, dir)) return None
    Some(cachedOffsets(s, dir, mode, seed))
  }

  private def cachedOffsets(s: SparkSession, dir: String, mode: String,
      seed: Option[String]): DataFrame =
    memo(s, (dir, mode, seed),
        Some(graft.Tables.fingerprint(s, s"$dir/documents.parquet"))) {
      seed match {
        case None => PackedShards.withOffsets(
          graft.Tables.load(s, dir, "documents"), idsCol(mode))
        case Some(sd) =>
          // derive the shuffled layout from the PLAIN relation's
          // tids — no second encode pass; the md5 re-key + chunk
          // spine runs over the checkpoint's cached blocks
          PackedShards.shuffledOffsetsFromEncoded(
            cachedOffsets(s, dir, mode, None)
              .select(col("doc_id"), col("tids")), sd)
      }
    }

  /** Just the encoded ids (doc_id, tids) of every NON-EMPTY document —
    * for consumers that price their own offsets over a corpus subset
    * (packContaminationHits' train-only spine). Rides the plain offsets
    * checkpoint; None over budget (the caller's own one-pass encode map
    * stands — a consumer that only needs ids must not pay the offsets
    * windows).
    */
  def encoded(s: SparkSession, dir: String, mode: String = Letters)
      : Option[DataFrame] =
    offsets(s, dir, mode, None).map(_.select(col("doc_id"), col("tids")))

  /** [[encoded]] widened back to the session's shuffle width for HEAVY
    * FAN-OUT consumers (the gram explode of packContaminationHits): the
    * checkpoint's layout is AQE-byte-coalesced — right for light
    * rescans, but a fan-out that runs inside the narrow cached-scan
    * stage inherits its 1-3 tasks (profiled: the contamination-hit
    * stage ran 2.8 s on ONE task at sf0.1/32c). Par.sizedWiden is the
    * identity at scale (the cache was never coalesced there), and the
    * over-budget regime returns None before any of this applies.
    */
  def encodedWide(s: SparkSession, dir: String, mode: String = Letters)
      : Option[DataFrame] =
    encoded(s, dir, mode).map(graft.Par.sizedWiden(s,
      graft.Par.tableBytes(s, dir, "documents"))(col("doc_id")))
}
