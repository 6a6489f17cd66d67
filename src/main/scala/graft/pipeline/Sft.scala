package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SFT / preference training-data preparation: the operators that turn a
  * curated document corpus into instruction-tuning inputs — turn
  * parsing, conversation-structure validation, budgeted truncation, and
  * quality-contrast preference pairs. The reference engine has no
  * counterpart (this is the LLM-pipeline family, like
  * [[Dedup]]/[[Corpus]]); shapes are chosen for 100 TB: everything here
  * is a narrow projection, a per-conversation window (partitioned by the
  * conversation key — no global sort), or a map-side-combinable
  * aggregate. The one place whole conversations re-assemble is
  * [[renderTranscript]] — the export path, where one row per training
  * example is exactly the output shape.
  */
object Sft {

  /** Escape turn content for the one-turn-per-line flattened
    * interchange: `\` → `\\` (backslash first, so every escaped-form
    * backslash is unambiguous), then newline → `\n` and carriage return
    * → `\r`. Real SFT corpora are overwhelmingly multi-line (code
    * blocks, lists); without this a newline-bearing assistant turn would
    * split into spurious role-'' lines on re-parse and silently shrink
    * the dataset at validation — and an unescaped content `\r` would
    * merge with the line separator under [[parseTurns]]' CRLF
    * normalization and silently vanish. [[unescapeTurnText]] inverts it
    * exactly (bijection spec-pinned on newline-, CR- and
    * backslash-bearing content). Narrow string projection. */
  def escapeTurnText(c: Column): Column =
    replace(replace(replace(c, lit("\\"), lit("\\\\")),
      lit("\n"), lit("\\n")), lit("\r"), lit("\\r"))

  /** Inverse of [[escapeTurnText]], in engine-portable builtins: split
    * on `\\` (after backslash-escaping, the ONLY double-backslash runs
    * are literal-backslash tokens — the `\n`/`\r` tokens end in letters,
    * so they can never textually collide), unescape `\n` → newline and
    * `\r` → carriage return inside each piece (every remaining backslash
    * there starts one of those tokens; the two literal replaces cannot
    * overlap), re-join with `\`. The DuckDB spelling is the same calls
    * over string_split/list_transform/array_to_string. */
  def unescapeTurnText(c: Column): Column =
    array_join(transform(split(c, "\\\\\\\\", -1),
      p => replace(replace(p, lit("\\n"), lit("\n")),
        lit("\\r"), lit("\r"))), "\\")

  /** Whitespace-token count of turn content — [[Dedup.tokens]]' regex
    * (`\s+`) with empty pieces dropped, so multi-line content counts its
    * newline-separated words and empty / all-whitespace content counts
    * 0. Same regex currency as the document packers
    * ([[Corpus.packSequences]], [[Corpus.shardManifest]]), with one
    * deliberate divergence: `size(Dedup.tokens(text))` counts a wholly
    * empty document as 1 (the split's single empty piece — harmless for
    * whole documents, which are never empty post-curation), while turn
    * content IS legitimately empty (the validator rejects on it), so
    * empties must count 0 here. */
  def tokenCount(content: Column): Column =
    size(filter(split(content, "\\s+"), t => length(t) > 0)).cast("long")

  /** Parse flat `role: content` transcript text (one turn per line, the
    * ShareGPT-flattened interchange shape; content newlines/backslashes
    * ESCAPED per [[escapeTurnText]]) into one row per turn:
    * (convIdCol, turn_idx, role, content, n_tokens) — content unescaped
    * back to its real (possibly multi-line) form. Roles are
    * system/user/assistant/tool (`tool` carries a tool/function-call
    * result turn, now standard in SFT corpora); lines that don't
    * match `role: ` get role '' (callers decide; [[validateConversations]]
    * rejects them). turn_idx is 0-based line position; n_tokens counts
    * whitespace tokens ([[tokenCount]]), 0 for empty content.
    *
    * CRLF transcripts are accepted: `\r\n` normalizes to `\n` before the
    * line split (a Windows-exported corpus would otherwise carry an
    * invisible trailing `\r` into every turn's content and token count).
    * Canonically-escaped text contains no raw `\r` at all — content CRs
    * ride the `\r` escape — so normalization touches only foreign line
    * endings, never content. [[renderTranscript]] always emits LF;
    * render∘parse is identity for LF-canonical text (including CR- and
    * newline-bearing content) and LF-normalizing for CRLF input.
    *
    * Scale: split + posexplode + narrow string projections —
    * shuffle-free; conversations never leave their input partition. */
  def parseTurns(conv: DataFrame, convIdCol: String = "conv_id",
      textCol: String = "text"): DataFrame = {
    val lines = posexplode(split(
      replace(col(textCol), lit("\r\n"), lit("\n")), "\n"))
      .as(Seq("turn_idx", "__line"))
    conv.select(col(convIdCol), lines)
      .select(col(convIdCol), col("turn_idx").cast("long").as("turn_idx"),
        regexp_extract(col("__line"), "^(system|user|assistant|tool): ", 1)
          .as("role"),
        unescapeTurnText(
          regexp_replace(col("__line"), "^(system|user|assistant|tool): ", ""))
          .as("content"))
      .withColumn("n_tokens", tokenCount(col("content")))
  }

  /** Conversation-structure gate: one row per conversation with the
    * boolean facts an SFT filter needs — an optional leading `system`
    * turn, then user/assistant alternation starting at `user` where an
    * `assistant` turn may also be followed by a `tool` (function-call
    * result) turn and a `tool` turn must be followed by `assistant`
    * (the model always speaks after reading a tool result), no empty or
    * unlabeled turns, and a final `assistant` turn (the training
    * target). `valid` is the conjunction. Flags ship as BIGINT 0/1 so
    * the driver's value hasher sees one integer dtype on both engines.
    *
    * Scale: a role-sequence check needs each turn's predecessor — one
    * window partitioned by the conversation key (conversation-local
    * sort, no global order), then a map-side-combinable aggregate. */
  def validateConversations(turns: DataFrame,
      convIdCol: String = "conv_id"): DataFrame = {
    val w = Window.partitionBy(convIdCol).orderBy("turn_idx")
    // predecessor-based role automaton: [system] user (assistant
    // [tool])* with every tool immediately between assistant turns
    val t = turns
      .withColumn("__prev", lag(col("role"), 1).over(w))
      .withColumn("__roleOk",
        when(col("turn_idx") === 0 && col("role") === "system", lit(true))
          .when(col("__prev").isNull || col("__prev") === "system",
            col("role") === "user")
          .when(col("__prev") === "user", col("role") === "assistant")
          .when(col("__prev") === "assistant",
            col("role").isin("user", "tool"))
          .when(col("__prev") === "tool", col("role") === "assistant")
          .otherwise(lit(false)))
      .withColumn("__last", max(col("turn_idx")).over(
        Window.partitionBy(convIdCol)))
    t.groupBy(col(convIdCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("n_tokens") === 0, 1L).otherwise(0L)).as("n_empty"),
        min(when(col("__roleOk"), 1L).otherwise(0L)).as("alternation_ok"),
        max(when(col("turn_idx") === col("__last") &&
          col("role") === "assistant", 1L).otherwise(0L))
          .as("ends_assistant"))
      .withColumn("valid",
        (col("n_empty") === 0 && col("alternation_ok") === 1 &&
          col("ends_assistant") === 1).cast("long"))
  }

  /** Budgeted truncation on TURN boundaries: keep the leading `system`
    * turn (if any) plus the longest SUFFIX of whole turns whose token
    * sum fits what remains of `maxTokens` — the standard "most recent
    * context wins" SFT packing rule, never splitting a turn. Returns the
    * surviving turn rows (schema of the input).
    *
    * `tokenCol` names the per-turn token count the budget is measured
    * in — default the whitespace `n_tokens` [[parseTurns]] attaches, but
    * a trainer's window is BPE tokens, so pass a tokenizer-faithful
    * column (e.g. [[Bpe.withTokenCountColumn]]'s) to budget in trainer
    * tokens.
    *
    * Scale: one reverse cumulative sum per conversation (window on the
    * conversation key) against a broadcast-free per-conversation system
    * cost — no shuffle beyond the window's conversation-local sort. */
  def truncateToBudget(turns: DataFrame, maxTokens: Long,
      convIdCol: String = "conv_id",
      tokenCol: String = "n_tokens"): DataFrame = {
    require(maxTokens >= 0, s"maxTokens must be >= 0, got $maxTokens")
    val byConv = Window.partitionBy(convIdCol)
    val sysCost = sum(when(col("role") === "system" && col("turn_idx") === 0,
      col(tokenCol)).otherwise(0L)).over(byConv)
    val sufSum = sum(when(col("role") === "system" && col("turn_idx") === 0,
        0L).otherwise(col(tokenCol)))
      .over(byConv.orderBy(col("turn_idx").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    turns
      .withColumn("__sysCost", sysCost)
      .withColumn("__sufSum", sufSum)
      .filter(
        (col("role") === "system" && col("turn_idx") === 0 &&
          col(tokenCol) <= lit(maxTokens)) ||
        (!(col("role") === "system" && col("turn_idx") === 0) &&
          col("__sufSum") + col("__sysCost") <= lit(maxTokens)))
      .drop("__sysCost", "__sufSum")
  }

  /** Render turn rows back to the flattened `role: content` transcript,
    * content ESCAPED per [[escapeTurnText]] so multi-line turns survive
    * the one-turn-per-line format — the export path ([[parseTurns]]'s
    * inverse; round-trip identity is spec-pinned ON CONTENT CONTAINING
    * NEWLINES AND BACKSLASHES). One ordered collect per conversation:
    * the only place in the family where whole conversations re-assemble,
    * and exactly the shape a final dataset write wants (one row per
    * training example).
    *
    * Scale: array_join(collect over a conversation-key window) —
    * conversation-local, no global sort; output rows = conversations. */
  def renderTranscript(turns: DataFrame,
      convIdCol: String = "conv_id"): DataFrame =
    turns
      .withColumn("__line",
        concat(col("role"), lit(": "), escapeTurnText(col("content"))))
      .groupBy(col(convIdCol))
      .agg(array_join(array_sort(collect_list(struct(col("turn_idx"),
        col("__line")))).getField("__line"), "\n").as("text"))

  /** Loss-mask token spans: the tensor-building metadata an SFT trainer
    * consumes — for each turn, its half-open token offset range
    * [start_tok, end_tok) in the concatenated conversation and whether
    * its tokens receive loss (`train_mask` = 1 for `assistant` turns,
    * 0 for system/user/unlabeled — supervised targets only). Offsets are
    * the running sum of turn token counts in turn order.
    *
    * Offsets are measured in `tokenCol`'s currency (default whitespace
    * `n_tokens`; pass a BPE count column for trainer-token spans).
    *
    * Scale: one cumulative-sum window per conversation (conversation-key
    * partition, no global sort) over rows that already exist — no
    * content movement, the offsets ride the turn metadata. */
  def lossMaskSpans(turns: DataFrame,
      convIdCol: String = "conv_id",
      tokenCol: String = "n_tokens"): DataFrame = {
    val w = Window.partitionBy(convIdCol).orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns
      .withColumn("end_tok", sum(col(tokenCol)).over(w))
      .select(col(convIdCol), col("turn_idx"), col("role"),
        (col("end_tok") - col(tokenCol)).as("start_tok"),
        col("end_tok"),
        when(col("role") === "assistant", 1L).otherwise(0L).as("train_mask"))
  }

  /** Pack whole conversations into fixed-length training windows: the
    * conversation-level twin of [[Corpus.packSequences]] — per shard
    * (conv_id % shards), conversations fill `seqLen`-token bins in id
    * order, spilling over like the document packer, and a conversation
    * NEVER splits across bins (it spans [cum - total, cum)); run
    * [[truncateToBudget]] first so no single conversation exceeds the
    * window; `tokenCol` picks the token currency the bins are measured
    * in. Returns (conv_id, shard, n_tokens, cum_tokens, seq_bin).
    *
    * Scale: one sum aggregate to conversation totals + the same
    * distributed prefix-sum as the document packer
    * ([[PrefixSum.groupedRunningSum]]) — cluster-sized range partitions
    * and parallel (shard, slice) windows, so `shards` is a dataset-
    * layout choice, never a parallelism ceiling. Like the document
    * packer, the offset collect runs eagerly at call time and the ranged
    * intermediate persists until the caller's cache scope is released
    * ([[PipelineCaches]]). */
  def packConversations(turns: DataFrame, seqLen: Int = 2048,
      shards: Int = 8, convIdCol: String = "conv_id",
      tokenCol: String = "n_tokens"): DataFrame =
    Corpus.binAssign(PrefixSum.groupedRunningSum(
        turns.groupBy(col(convIdCol))
          .agg(sum(col(tokenCol)).as("n_tokens"))
          .withColumn("shard", pmod(col(convIdCol), lit(shards.toLong))),
        "shard", convIdCol, "n_tokens", "cum_tokens"),
        seqLen, "n_tokens", "cum_tokens", "__off")
      .select(col(convIdCol), col("shard"), col("n_tokens"),
        col("cum_tokens"), col("seq_bin"))

  /** Packed TRAINING EXAMPLES — the tensor content a trainer's data
    * loader actually reads: one row per token, (shard, seq_bin, pos,
    * token_id, train_mask), where `pos` is the token's position inside
    * its fixed-length training window. Composes the whole family:
    * turns must carry a token-id array (`idsCol`, from
    * [[Bpe.withTokenIdsColumn]] — so the bin currency IS the id
    * arrays' length), conversations fill `seqLen` windows per shard in
    * id order without splitting ([[packConversations]] on
    * `size(idsCol)`), each turn's ids land at the conversation's
    * bin offset + the turn's running-token offset (the
    * [[lossMaskSpans]] cumsum), and `train_mask` is 1 on assistant
    * tokens only. Run [[truncateToBudget]] (same currency) first so no
    * conversation exceeds the window; a conversation whose bin start
    * is near the window end spills over like the document packer.
    * Separator tokens are deliberately NOT injected here: SFT templates
    * carry their own special tokens inside turn content (the chat
    * template is applied before tokenization), unlike the pretraining
    * packer [[Corpus.packedSequenceIds]], which inserts the artifact's
    * [[Bpe.Eos]] document separator because raw documents have none.
    *
    * Scale: one narrow encode already on the input, then one
    * per-conversation aggregate that COLLATES every turn's (turn_idx,
    * mask, id array) into the conversation row, the packer's distributed
    * prefix-sum over those rows, and one posexplode of the flattened
    * arrays — no window and no join. The corpus-sized id arrays move
    * through two wide shuffles (the collate aggregate and the prefix
    * sum's range partitioning), and the ranged intermediate the prefix
    * sum persists for its eager offset collect holds them all: the
    * cache footprint is corpus-sized (ROADMAP: move only the per-turn
    * metadata through the prefix sum). That persist is released with
    * the caller's cache scope ([[PipelineCaches]]). */
  def packedExamples(turns: DataFrame, seqLen: Int = 2048,
      shards: Int = 8, convIdCol: String = "conv_id",
      idsCol: String = "token_ids"): DataFrame = {
    // ONE encode subtree (r18): `turns` used to feed BOTH the
    // conversation-total aggregate (whose prefix-sum runs an EAGER
    // offsets collect in its own job) and the per-turn window/join side
    // of the main query. Exchange/stage reuse can never share work
    // across two JOBS, so the whole upstream parse → encode → truncate
    // chain executed twice per run; an r17 probe that persisted the
    // turn rows separately measured neutral (the extra cache build ≈
    // the second encode). Instead, collate each conversation's turn
    // payload (turn order, loss mask, id arrays) INTO the same
    // aggregate whose prefix-sum output the packer already persists
    // (PrefixSum's ranged intermediate): the eager job computes the
    // encode once, and the main query derives the per-turn rows by
    // flattening the cached arrays — no second encode, no per-turn
    // conv_id exchange, no cumsum window. Per-group state is one
    // conversation (callers run truncateToBudget first by contract),
    // and the flat index inside the concatenated conversation IS the
    // turn-start prefix sum + within-turn position the old window +
    // per-turn posexplode computed.
    val t = turns.withColumn("__n", size(col(idsCol)).cast("long"))
    // struct sort orders by the FIRST field; turn_idx is unique per
    // conversation, so the collated array is in turn order
    val perConv = t.groupBy(col(convIdCol))
      .agg(sum(col("__n")).as("n_tokens"),
        sort_array(collect_list(struct(col("turn_idx"),
          when(col("role") === "assistant", 1L).otherwise(0L).as("m"),
          col(idsCol).as("ids")))).as("__turns"))
      .withColumn("shard", pmod(col(convIdCol), lit(shards.toLong)))
    // one binAssign yields BOTH seq_bin and the within-bin offset (the
    // old packConversations + re-binAssign pair computed them in two
    // passes because packConversations' public schema drops the offset)
    val packed = Corpus.binAssign(PrefixSum.groupedRunningSum(
        perConv, "shard", convIdCol, "n_tokens", "cum_tokens"),
        seqLen, "n_tokens", "cum_tokens", "__binOff")
    // token stream + parallel per-token loss mask; __turns is a
    // materialized attribute (no CSE inside HOF lambdas)
    val flat = packed
      .withColumn("__ids",
        flatten(transform(col("__turns"), x => x.getField("ids"))))
      .withColumn("__mask", flatten(transform(col("__turns"),
        x => transform(x.getField("ids"), _ => x.getField("m")))))
    Explodes.posexplodeNoInfer(flat,
        Seq(col("shard"), col("seq_bin"), col("__binOff"), col("__mask")),
        col("__ids"), "__i", "token_id")
      .select(col("shard"), col("seq_bin"),
        (col("__binOff") + col("__i")).as("pos"),
        col("token_id"),
        element_at(col("__mask"), col("__i") + 1).as("train_mask"))
  }

  /** Quality-contrast preference pairs: within each group (e.g.
    * (lang, source)), pair the highest-quality document (chosen) with
    * the lowest (rejected) under [[TextAnalysis.qualityFeaturesRaw]]'s
    * score, deterministic min-id tie-breaks on both ends; groups whose
    * best and worst coincide (single doc) emit nothing. The margin is
    * the rounded score gap — the signal a reward-model curriculum sorts
    * by.
    *
    * Scale: score is a narrow projection; the argmax/argmin collapse is
    * one map-side-combinable aggregate per group via struct max/min —
    * no window, no per-group sort, |groups| output rows. */
  def preferencePairs(docs: DataFrame,
      groupCols: Seq[String] = Seq("lang", "source")): DataFrame = {
    // qualityFeaturesRaw projects the score features only — carry the
    // group columns back in by key
    val q = docs.select((groupCols.map(col) :+ col("doc_id")): _*)
      .join(TextAnalysis.qualityFeaturesRaw(docs)
        .select(col("doc_id"), col("score")), Seq("doc_id"))
    // struct ordering is field-by-field: argmax on (score desc, id asc)
    // is max over (score, -id); argmin on (score asc, id asc) is min
    // over (score, id)
    val best = max(struct(col("score"), (-col("doc_id")).as("nid")))
    val worst = min(struct(col("score"), col("doc_id").as("pid")))
    q.groupBy(groupCols.map(col): _*)
      .agg(best.as("__b"), worst.as("__w"))
      .select((groupCols.map(col) :+
        (-col("__b.nid")).as("chosen_id") :+
        col("__w.pid").as("rejected_id") :+
        round(col("__b.score") - col("__w.score"), 4).as("margin")): _*)
      .filter(col("chosen_id") =!= col("rejected_id"))
  }
}
