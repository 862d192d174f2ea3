package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: laying documents into fixed-capacity training
  * examples — the step between a curated corpus and a pretraining
  * dataloader. Two industry-standard disciplines, two scale shapes:
  *
  *  - [[packChunked]] — concat-and-chunk (GPT-style pretraining): the
  *    shard's token stream is concatenated in a deterministic order and
  *    cut every `capacity` tokens; documents SPLIT across example
  *    boundaries. Zero padding by construction. Pure window arithmetic
  *    (one cumulative sum), so it is a single shuffle and replays
  *    exactly in SQL.
  *
  *  - [[packGreedy]] — greedy next-fit with ATOMIC documents (SFT-style:
  *    an example must not cut an instruction in half): a document joins
  *    the current bin if it fits, else opens a new one. The bin id
  *    depends on the previous *output* (fill so far), so it is not a
  *    window function — same recurrence class as the trajectory
  *    rate-clamp, and run on the same [[graft.operators.KeyedScan]]
  *    (via [[TextStats.packSequences]]): repartition by shard,
  *    secondary sort, one O(1)-state streaming pass. Memory is O(1) per
  *    task regardless of shard length; the sort rides the shuffle's
  *    spill machinery.
  *
  * Sharding: both forms pack WITHIN a shard key (at 100 TB a global
  * sequential pack is a single serial chain — shard first, pack within;
  * the fixture queries shard by hash). Determinism: order within a shard
  * is the caller's `idCol` ascending — stable input, stable packing.
  *
  * Oversized documents (n > capacity): packChunked spans them across
  * ⌈n/capacity⌉ examples like any other token run; packGreedy gives the
  * document a bin of its own (fill = n > capacity — visible in
  * `fill_after`, the training loader's truncate-or-reject signal),
  * because next-fit never looks back.
  */
object Packing {

  /** Concat-and-chunk: per (shard, doc) → the token span
    * [start, start+n) in the shard's concatenated stream, its first/last
    * example index (`first_bin`/`last_bin` = span/capacity floors) and
    * `offset` in the first example. `n_bins` per doc = examples the doc
    * touches; a boundary-crossing count per bin is one groupBy away.
    * Requires every doc to have ≥ 1 token (enforced — a 0-token row
    * would make last_bin = first_bin - 1 nonsense). */
  def packChunked(docs: DataFrame, idCol: String, nTokCol: String,
      shardCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    val w = Window.partitionBy(shardCol).orderBy(idCol)
    val end = sum(col(nTokCol)).over(w) // inclusive cumulative tokens
    val start = end - col(nTokCol)
    docs
      .filter(col(nTokCol) >= 1)
      .select(col(shardCol), col(idCol),
        col(nTokCol).cast("long").as("n_tokens"),
        start.cast("long").as("start_tok"),
        floor(start / capacity).cast("long").as("first_bin"),
        floor((end - 1) / capacity).cast("long").as("last_bin"),
        pmod(start, lit(capacity)).cast("long").as("offset"))
  }

  /** Greedy next-fit with atomic documents: (shard, id, n_tokens, bin,
    * fill_after). `bin` is 0-based per shard; `fill_after` is the bin's
    * token count after this doc (== padding diagnostic: capacity −
    * fill_after of each bin's LAST doc is the bin's padding).
    * `shardCol` must be non-null (a null shard key has no well-defined
    * scan boundary — hash nulls to a sentinel shard upstream, as the
    * window form [[packChunked]] would put them in one null group).
    * [[TextStats.packSequences]] over the docs with ≥ 1 token and the id
    * cast to long, with its columns renamed. */
  def packGreedy(docs: DataFrame, idCol: String, nTokCol: String,
      shardCol: String, capacity: Int): DataFrame = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    TextStats.packSequences(
        docs.filter(col(nTokCol) >= 1).withColumn(idCol, col(idCol).cast("long")),
        shardCol, idCol, nTokCol, capacity)
      .withColumnsRenamed(Map("ord" -> "id", "pack_id" -> "bin", "pack_fill" -> "fill_after"))
  }
}
