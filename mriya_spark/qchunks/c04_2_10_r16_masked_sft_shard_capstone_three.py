"""One chunk of the query registry, imported by queries.py in
registration order. Edit the query functions here."""

from __future__ import annotations

from mriya_spark.caching import scoped_build
from mriya_spark.qregistry import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _cat,
    _os,
    register,
)
from mriya_spark.qchunks.c00_2_1_scans import (  # noqa: F401
    _cache_subdir,
    _sweep_stale,
)
from mriya_spark.qchunks.c01_north_star_similarity_search_ops_vector import (  # noqa: F401
    _BPE_MERGES,
    _bpe_oracle_sql,
)
from mriya_spark.qchunks.c02_unicode_pretokenization_r12_judge_direct import (  # noqa: F401
    _TOPK_KEEP,
    _bpe_fixed_vocab_oracle_sql,
    _fuzzy_pass_keys,
    _fuzzy_pass_sql,
)
from mriya_spark.qchunks.c03_r6_additions_training_data_pipeline_ops_ import (  # noqa: F401
    _BESTFIT_CAP,
    _SFT_CAP,
    _SFT_SHARDS,
    _sft_pack_oracle_sql,
)



# ---------------------------------------------------------------------------
# §2.10 r16: masked SFT shard capstone, three-pass fuzzy blocking,
# string-id FFD sharding, production-merge-count merge-rank encode
# ---------------------------------------------------------------------------


def _sft_pairs_prelude_sql(token_re: str = "[^a-z0-9]+") -> str:
    """The (doc_id, prompt, completion) fixture both r16 SFT gates
    share, as leading DuckDB CTEs: word-split ``documents.text`` under
    the tokenizer regex and rebuild the first ``ceil(n/2)`` words as
    the prompt, the rest as the completion — ``(n + 1) // 2`` on both
    engines (integer, non-negative: no floor-vs-truncate divergence).
    Joining with ' ' is lossless under the split regex (the separator
    re-splits), so training word frequencies over the RAW text equal
    frequencies over the two rebuilt columns combined."""
    return f"""pairs_t AS MATERIALIZED (
      SELECT doc_id,
             array_to_string(words[1 : (len(words) + 1) // 2], ' ')
               AS prompt,
             array_to_string(words[(len(words) + 1) // 2 + 1 : len(words)],
                             ' ') AS completion
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM documents)),
    """


def _cols_encode_sql(
    n_merges: int, token_re: str, cols: tuple[tuple[str, str], ...]
) -> str:
    """``_sft_masks_encode_sql`` generalized to N ``pairs_t`` columns —
    for ``(('p', 'prompt'), ('c', 'completion'))`` it emits BYTE-
    IDENTICAL text (pinned by
    ``test_cols_encode_sql_matches_recorded_two_col_form``), so the
    recorded r16 SFT oracles stay untouched while the DPO oracle's
    three chains share the exact same recipe."""
    enc_chains = []
    for tag, col in cols:
        enc_chains.append(f""",
    dwp_{tag} AS (
      SELECT d.doc_id, t.j AS wpos, d.words[t.j] AS word
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim({col})),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM pairs_t) d,
           unnest(range(1, len(d.words) + 1)) t(j)),
    dtok_{tag} AS (
      SELECT d.doc_id,
             COALESCE(t.ids, CAST([] AS BIGINT[])) AS ids
      FROM pairs_t d LEFT JOIN (
        SELECT dwp_{tag}.doc_id,
               flatten(list(wid.word_ids ORDER BY dwp_{tag}.wpos)) AS ids
        FROM dwp_{tag} JOIN wid USING (word) GROUP BY dwp_{tag}.doc_id) t
      USING (doc_id))""")
    return f""",
    symid AS MATERIALIZED (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
               AS sym_id
      FROM (SELECT DISTINCT
              unnest(regexp_extract_all(seq, '<([^>]*)>', 1)) AS sym
            FROM v{n_merges})),
    wid AS MATERIALIZED (
      SELECT w.word, list(si.sym_id ORDER BY w.spos) AS word_ids
      FROM (SELECT f.word, t.j AS spos, f.s[t.j] AS sym
            FROM (SELECT word,
                         regexp_extract_all(seq, '<([^>]*)>', 1) AS s
                  FROM v{n_merges}) f,
                 unnest(range(1, len(f.s) + 1)) t(j)) w
      JOIN symid si USING (sym) GROUP BY w.word)
    {"".join(enc_chains)}"""


def _sft_masks_encode_sql(n_merges: int, token_re: str) -> str:
    """The shared mid-section of both r16 SFT oracles: training replay
    body (caller supplies it) is extended with the corpus-lexicographic
    symbol-id table, the word->ids map, and TWO encode chains (one per
    pairs_t column) — the DuckDB twin of ``sft_encode_masks``'s two
    ``bpe_token_ids`` passes under one shared segmentation. Mirrors
    ``test_sft_encode_masks_sql_replay_prevalidation``. Since the r16
    DPO work this DELEGATES to the generalized ``_cols_encode_sql`` —
    byte-identical output, pinned by
    ``test_cols_encode_sql_matches_recorded_two_col_form``, so the
    recorded oracle text is unchanged and the template exists once."""
    return _cols_encode_sql(
        n_merges, token_re, (("p", "prompt"), ("c", "completion"))
    )


def _sft_masks_oracle_sql(
    n_merges: int = _BPE_MERGES, token_re: str = "[^a-z0-9]+"
) -> str:
    """Training replay on documents.text, two encode chains under the
    shared vocabulary, concatenated ids + the 0/1 completion-only loss
    mask replayed doc-for-doc."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "documents", _sft_pairs_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return body + _sft_masks_encode_sql(n_merges, token_re) + """
    SELECT p.doc_id,
           array_to_string(flatten([p.ids, c.ids]), ',') AS token_ids,
           array_to_string(flatten([
             list_transform(range(len(p.ids)), x -> 0),
             list_transform(range(len(c.ids)), x -> 1)]), ',')
             AS loss_mask,
           CAST(len(p.ids) + len(c.ids) AS BIGINT) AS n_tokens,
           CAST(len(c.ids) AS BIGINT) AS n_completion_tokens
    FROM dtok_p p JOIN dtok_c c USING (doc_id)
    """


def _sft_pairs_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_sft_pairs_prelude_sql``: (doc_id, prompt,
    completion) rebuilt from the word-split of ``text`` — first
    ``(n + 1) div 2`` words vs the rest, joined with ' '. Scan-local
    (one projection, no shuffle)."""
    from mriya_spark.caching import scoped_persist

    w = (
        "filter(split(lower(trim(coalesce(text, ''))), '[^a-z0-9]+'), "
        "x -> x != '')"
    )
    ph = f"(size({w}) + 1) div 2"
    # persisted (r19, guide §5): every consumer gate runs TWO encode
    # passes over this frame (prompt + completion), each of which
    # reads it twice more (token explode + the empty-doc attrs side)
    # — without the persist the word-split/slice expression tree
    # re-evaluates over the corpus once per consumer, serially on the
    # scan's task count. Reused >= 4x per gate, so caching beats
    # recompute at any scale (released by the next scoped build /
    # release_caches, the module-wide contract).
    return scoped_persist(
        docs.select(
            "doc_id",
            F.expr(f"array_join(slice({w}, 1, {ph}), ' ')").alias("prompt"),
            F.expr(
                f"array_join(slice({w}, {ph} + 1, size({w}) - ({ph})), ' ')"
            ).alias("completion"),
        )
    )


@register("tokenizer_sft_masks", _sft_masks_oracle_sql())
@scoped_build
def tokenizer_sft_masks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask encoding (r15 judge directive 1, first leg):
    (prompt, completion) pairs — rebuilt deterministically by
    word-splitting documents.text, first half vs rest — tokenized
    under ONE learned vocabulary (``ops.text.sft_encode_masks``),
    emitting per doc the concatenated token-id sequence and the
    completion-only 0/1 loss mask (HF/TRL
    `DataCollatorForCompletionOnlyLM` semantics: prompt positions
    excluded from the loss). The oracle replays training, BOTH encode
    chains under the shared symbol table, the concatenation, and the
    mask itself — mask VALUES are hash-checked position-for-position
    (as strings), not just counted, so a shifted boundary, a swapped
    half, or a per-column id table (the r15 ADVICE incoherence, now
    fixed in the op) all flip the hash. Plan: one corpus pass for
    word_freq, one vocab-sized merge replay shared by vocab collect
    and the encode (``vseg=``), ONE posexplode->broadcast-join encode
    pass over both columns as (doc, part) segments, one per-doc
    regroup, scan-local mask construction."""
    from mriya_spark.ops.text import (
        bpe_segment_vocab,
        bpe_symbols,
        bpe_train,
        bpe_word_freq,
        sft_encode_masks,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    pairs = _sft_pairs_frame(docs)
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    trained = bpe_train(
        docs, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    vseg = bpe_segment_vocab(docs, trained, word_freq=wf).localCheckpoint(
        eager=True
    )
    vocab = bpe_symbols(docs, trained, vseg=vseg)
    out = sft_encode_masks(
        pairs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    return out.select(
        "doc_id",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
        "n_tokens",
        "n_completion_tokens",
    )


def _ffd_step_sql(cap: int, carry: tuple[str, ...] = ()) -> str:
    """The per-shard FFD fill-vector fold as a recursive-CTE fragment
    (reads a ``base`` CTE with (shard, rk, doc_id, n_tokens, *carry),
    emits ``step``) — single-sourced for the r16 oracles so a future
    fold fix cannot drift between them (r16 self-review). The r14/r15
    builders keep their recorded byte-identical inline copies:
    rewriting a RECORDED oracle's text re-prioritizes it through the
    digest sidecar for no semantic gain, so sharing starts with the
    round that registered against this text."""
    cols = ", ".join(["shard", "rk", "doc_id", "n_tokens", *carry])
    bcols = ", ".join(
        f"b.{c}" for c in ("shard", "rk", "doc_id", "n_tokens", *carry)
    )
    return f"""step({cols}, win, fills) AS (
      SELECT {cols}, CAST(1 AS BIGINT), [n_tokens]
      FROM base WHERE rk = 1
      UNION ALL
      SELECT {bcols},
             CAST(COALESCE(list_filter(range(1, len(s.fills) + 1),
                    i -> s.fills[i] + b.n_tokens <= {cap})[1],
                  len(s.fills) + 1) AS BIGINT),
             CASE WHEN COALESCE(list_filter(range(1, len(s.fills) + 1),
                    i -> s.fills[i] + b.n_tokens <= {cap})[1],
                  len(s.fills) + 1) <= len(s.fills)
                  THEN list_transform(range(1, len(s.fills) + 1),
                    i -> CASE WHEN i = COALESCE(
                           list_filter(range(1, len(s.fills) + 1),
                             j -> s.fills[j] + b.n_tokens <= {cap})[1],
                           len(s.fills) + 1)
                         THEN s.fills[i] + b.n_tokens
                         ELSE s.fills[i] END)
                  ELSE list_append(s.fills, b.n_tokens) END
      FROM step s JOIN base b ON b.shard = s.shard AND b.rk = s.rk + 1)"""


def _sft_masked_pack_oracle_sql(
    n_merges: int = _BPE_MERGES,
    cap: int = _SFT_CAP,
    shards: int = _SFT_SHARDS,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """The masked-shard capstone oracle: the ``_sft_masks_oracle_sql``
    chains, then per-shard FFD bin packing (the same recursive-CTE
    fill-vector fold as ``_sft_pack_oracle_sql``, carrying only the
    assignment — payloads join back by doc_id), then per-window
    grouping of BOTH payloads in doc-id order."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "documents", _sft_pairs_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return (
        "WITH RECURSIVE "
        + body[len("WITH "):]
        + _sft_masks_encode_sql(n_merges, token_re)
        + f""",
    enc AS MATERIALIZED (
      SELECT p.doc_id,
             flatten([p.ids, c.ids]) AS token_ids,
             flatten([list_transform(range(len(p.ids)), x -> 0),
                      list_transform(range(len(c.ids)), x -> 1)])
               AS loss_mask,
             CAST(len(p.ids) + len(c.ids) AS BIGINT) AS n_tokens
      FROM dtok_p p JOIN dtok_c c USING (doc_id)),
    base AS (
      SELECT doc_id, n_tokens,
             CAST(doc_id % {shards} AS INTEGER) AS shard,
             CAST(row_number() OVER (PARTITION BY doc_id % {shards}
                  ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
      FROM enc),
    {_ffd_step_sql(cap)}
    SELECT st.shard, st.win,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(st.n_tokens) AS BIGINT) AS fill,
           CAST(greatest(0, {cap} - sum(st.n_tokens)) AS BIGINT) AS pad,
           COALESCE(array_to_string(
             flatten(list(e.token_ids ORDER BY st.doc_id)), ','), '')
             AS token_ids,
           COALESCE(array_to_string(
             flatten(list(e.loss_mask ORDER BY st.doc_id)), ','), '')
             AS loss_mask
    FROM step st JOIN enc e USING (doc_id)
    GROUP BY st.shard, st.win
    """
    )


@register("tokenizer_pack_masked", _sft_masked_pack_oracle_sql())
@scoped_build
def tokenizer_pack_masked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MASKED SFT SHARD CAPSTONE (r15 judge directive 1): the
    (token_ids, loss_mask) training shard a fine-tuning loader
    actually consumes — ``sft_encode_masks`` (both columns in one
    encode under one vocabulary, completion-only mask) ->
    ``pack_windows_bestfit(carry_cols=('token_ids', 'loss_mask'))``
    (non-straddling FFD, both arrays riding the same rows) ->
    ``pack_windows_table(extra_ids_cols=('loss_mask',))`` (ONE
    grouped aggregate concatenating both payloads in identical doc-id
    order, so ids and mask stay position-aligned by construction —
    alignment survives packing because no document straddles a
    window). The oracle replays training, both encode chains, the
    FFD fold, and BOTH per-window payloads — mask POSITIONS are
    value-checked through the pack, not just counted: a one-position
    mask shift, a payload ordered differently from the other, or a
    straddle anywhere changes a window's loss_mask string and flips
    the hash. Plan: the sft encode plan (one segment-keyed encode
    pass) + one shard shuffle + one Arrow-batched grouped-map
    (segment-tree FFD) + one (shard, win) aggregate — identical shape to ``tokenizer_pack_bestfit`` with a
    second carried array (weak-scaling probed at 100x in SCALE.md
    r16). Reference contract: the SFT counterpart of
    ``tokenizer_pack_bestfit`` with completion-only-loss semantics."""
    from mriya_spark.ops.text import (
        bpe_segment_vocab,
        bpe_symbols,
        bpe_train,
        bpe_word_freq,
        pack_windows_bestfit,
        pack_windows_table,
        sft_encode_masks,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    pairs = _sft_pairs_frame(docs)
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    trained = bpe_train(
        docs, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    vseg = bpe_segment_vocab(docs, trained, word_freq=wf).localCheckpoint(
        eager=True
    )
    vocab = bpe_symbols(docs, trained, vseg=vseg)
    enc = sft_encode_masks(
        pairs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    packed = pack_windows_bestfit(
        enc,
        context_tokens=_SFT_CAP,
        shards=_SFT_SHARDS,
        count_col="n_tokens",
        carry_cols=("token_ids", "loss_mask"),
    )
    return pack_windows_table(packed, extra_ids_cols=("loss_mask",)).select(
        "shard",
        "win",
        "n_docs",
        "fill",
        "pad",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
    )


def _fuzzy_threeblock_oracle_sql(
    max_dist: int = 2, blk: int = 16, cap: int = 150
) -> str:
    """Three blocking passes (prefix / clamped suffix / centered
    middle), each with the per-side hot-block cap, unioned with
    per-pair min(dist). Pass keys and per-pass SQL are single-sourced
    from ``_fuzzy_pass_keys``/``_fuzzy_pass_sql`` (shared with the
    registered two-pass oracle and both prevalidations, so the three
    texts cannot drift). The middle key's start is
    ``greatest(1, (length - blk) // 2 + 1)`` — the clamp, not the
    ``//`` operator, makes it cross-engine (DuckDB truncates, Spark
    floors; they differ only on negative odd quotients, which the
    clamp saturates — see ``_fuzzy_pass_keys``)."""
    keys = _fuzzy_pass_keys(blk)
    passes = [
        _fuzzy_pass_sql(keys[p], cap, max_dist)
        for p in ("prefix", "suffix", "middle")
    ]
    return f"""
    WITH src AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN 'boilerplate entry junk'
                  ELSE c_name END AS nm
      FROM customer),
    ta AS (SELECT c_custkey AS id, nm AS name FROM src),
    tb AS (SELECT c_custkey + 1000000 AS id,
                  CASE WHEN c_custkey % 3 = 0
                         THEN substr(nm, 2, length(nm) - 2)
                       WHEN c_custkey % 3 = 1 THEN substr(nm, 2)
                       ELSE substr(nm, 1, length(nm) - 1) END AS name
           FROM src)
    SELECT id_a, id_b, CAST(min(dist) AS BIGINT) AS dist
    FROM ({" UNION ALL ".join(passes)})
    GROUP BY 1, 2
    """


@register("join_fuzzy_threeblock", _fuzzy_threeblock_oracle_sql())
def join_fuzzy_threeblock_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-PASS blocked fuzzy join (r15 judge directive 4) — the
    multi-edit recall regime the two-pass union provably cannot reach:
    side B drops BOTH the first and last character for every third
    customer (a double-ended 2-edit pair: the prefix window contains
    the head edit, the suffix window the tail edit, so BOTH two-pass
    keys miss — ``test_fuzzy_join_middle_pass_recovers_double_ended_edits``
    pins this class), drops only the first
    character for custkey%3==1 (suffix/middle recover), only the last
    otherwise (prefix/middle recover). The centered middle window of
    an 18-char name excludes both ends, so the double-ended pairs are
    recovered by the middle pass ALONE — and the middle key also
    varies with the customer id digits, so it stays under the hot cap
    at sf0.01 where the shared 16-char PREFIX block of every regular
    name blows past it (both cap regimes in one fixture, plus the
    boilerplate block hot on every key from sf0.01 up). The oracle
    replays all three pass keys, the start clamps, the per-side caps,
    the length band, and the per-pair min. Plan: still ONE scan per
    side per consumer — the single-join explode form serves all three
    passes; candidates stay linear per (pass, key) block. Reference
    contract: multi-pass blocking (Fellegi-Sunter entity resolution),
    pass 3 as the standard mid-string key."""
    from mriya_spark.ops.relational import fuzzy_join_multiblock

    src = _cat(spark, sf_dir).table("customer").select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 7 == 0, F.lit("boilerplate entry junk")
        )
        .otherwise(F.col("c_name"))
        .alias("nm"),
    )
    a = src.select("c_custkey", F.col("nm").alias("c_name"))
    b = src.select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.expr("substr(nm, 2, length(nm) - 2)"),
        )
        .when(F.col("c_custkey") % 3 == 1, F.expr("substr(nm, 2)"))
        .otherwise(F.expr("substr(nm, 1, length(nm) - 1)"))
        .alias("c_name"),
    )
    return fuzzy_join_multiblock(
        a,
        b,
        col="c_name",
        id_col="c_custkey",
        max_dist=2,
        block_len=16,
        max_block=150,
        passes=("prefix", "suffix", "middle"),
    )


def _pack_string_id_oracle_sql(
    cap: int = _BESTFIT_CAP, shards: int = 8
) -> str:
    """String-keyed FFD replay: the doc id is an md5-derived STRING
    (``'d:' || md5(doc_id)`` — a UUID-shaped production key with no
    ordering correlation to the numeric source), the shard is the
    first-60-md5-bits keyed draw of ``_pack_shard_expr``'s string
    branch (``('0x' || substr(md5('42_' || id), 1, 15))::BIGINT %
    shards`` — the shard_shuffle recipe), and the in-shard FFD rank
    orders by (n_tokens DESC, id ASC) under VARCHAR binary order,
    which agrees across engines for hex strings (pre-validated in
    ``test_pack_bestfit_string_id_sql_replay_prevalidation``)."""
    return rf"""
    WITH RECURSIVE counts AS (
      SELECT 'd:' || md5(CAST(doc_id AS VARCHAR)) AS doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    keyed AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(md5('42_' || doc_id), 1, 15))::BIGINT
                  % {shards} AS INTEGER) AS shard
      FROM counts),
    base AS (
      SELECT doc_id, n_tokens, shard,
             CAST(row_number() OVER (PARTITION BY shard
                  ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
      FROM keyed),
    {_ffd_step_sql(cap)},
    final_fills AS (
      SELECT shard, fills FROM step s
      WHERE rk = (SELECT max(rk) FROM step s2 WHERE s2.shard = s.shard))
    SELECT st.doc_id, CAST(st.n_tokens AS BIGINT) AS n_tokens, st.shard,
           st.win,
           CAST(ff.fills[st.win] AS BIGINT) AS win_fill,
           CAST(greatest(0, {cap} - ff.fills[st.win]) AS BIGINT) AS pad,
           CAST(CASE WHEN st.n_tokens > {cap} THEN 1 ELSE 0 END
                AS INTEGER) AS oversize
    FROM step st JOIN final_fills ff USING (shard)
    """


@register("pack_bestfit_string_id", _pack_string_id_oracle_sql())
def pack_bestfit_string_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING-keyed FFD packing (r15 judge directive 3): the
    production UUID/URL doc-id case — ids are md5-derived strings with
    no ordering correlation to the source key, sharded through
    ``_pack_shard_expr``'s md5 branch (the ``shard_shuffle`` keyed
    draw; before r15 a string id failed pmod at analysis), then the
    same non-straddling FFD as ``pack_sequences_bestfit``. The oracle
    replays the md5 shard draw bit-for-bit, the VARCHAR-ordered FFD
    rank, and the full fill-vector fold — a wrong shard derivation, a
    locale-dependent string sort, or any FFD divergence flips the
    hash; the numeric-id gate (``pack_sequences_bestfit``) is
    untouched, pinning that the string branch did not move the
    modulo contract. Plan: identical to the numeric row — one shard
    shuffle, one Arrow-batched grouped-map; the md5 draw is
    scan-local."""
    from mriya_spark.ops.text import pack_sequences_bestfit

    docs = _cat(spark, sf_dir).table("documents").select(
        F.concat(
            F.lit("d:"), F.md5(F.col("doc_id").cast("string"))
        ).alias("doc_id"),
        "text",
    )
    return pack_sequences_bestfit(
        docs, context_tokens=_BESTFIT_CAP, shards=8
    )


def _rank_gate_merge_list() -> list[tuple[str, str, int]]:
    """The production-merge-count gate list (r15 judge directive 5):
    1100 premise-valid merges over the digit alphabet — all 100
    digit-digit pairs (2-digit products), then all 1000
    (2-digit-product, digit) pairs (3-digit products), in fixed
    lexicographic order. Rule-generated rather than trained because
    the corpus vocabularies are deliberately tiny (documents supports
    ~107 trained merges before pair exhaustion — measured r16), while
    customer's 9-digit id words give this list real work: which
    2- and 3-digit symbols actually fire varies per word, so the
    truncated-vocab encode produces genuinely diverse sequences and
    UNK positions. At 1100 entries the oracle's chain replay must be
    CHUNKED, and a single-projection Spark replace chain would be far
    past the pre-r15 codegen cliff."""
    digits = "0123456789"
    out = [(a, b, 1) for a in digits for b in digits]
    out += [
        (a + b, z, 1) for a in digits for b in digits for z in digits
    ]
    return out


_RANK_GATE_MERGES = _rank_gate_merge_list()


def _rank_gate_oracle_sql(keep: int = _TOPK_KEEP) -> str:
    """Chain replay of the LITERAL ``_RANK_GATE_MERGES`` list over the
    customer-name corpus (no training replay — the list is a shared
    module constant, embedded verbatim on both sides and covered by
    the gate-digest sidecar), chunked into one CTE per 64 merges —
    DuckDB's binder caps expression recursion at 128, so a 128-deep
    ``replace`` nest already trips it (measured r16: the engine has
    the same cliff class Catalyst did, one octave lower) — then the
    unchanged
    ``_bpe_topk_oracle_sql`` tail: corpus symbol frequencies ->
    top-``keep`` -> ids within the kept set -> whole-corpus encode
    with UNK id 0."""
    merges = _RANK_GATE_MERGES
    ctes = [
        """docs_r AS (
      SELECT c_custkey AS doc_id, c_name AS text FROM customer),
    words AS MATERIALIZED (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(list_filter(
                     string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
                     x -> x <> '')) AS w
            FROM docs_r)
      GROUP BY 1),
    v0 AS MATERIALIZED (
      SELECT word, cnt,
             '<' || array_to_string(regexp_extract_all(word, '.'), '><')
                 || '>' AS seq
      FROM words)"""
    ]
    vi = 0
    for start in range(0, len(merges), 64):
        expr = "seq"
        for left, right, _c in merges[start : start + 64]:
            expr = (
                f"replace({expr}, '<{left}><{right}>', '<{left}{right}>')"
            )
        ctes.append(
            f"""
    v{vi + 1} AS MATERIALIZED (
      SELECT word, cnt, {expr} AS seq FROM v{vi})"""
        )
        vi += 1
    return "WITH " + ",".join(ctes) + f""",
    sfreq AS MATERIALIZED (
      SELECT sym, CAST(sum(cnt) AS BIGINT) AS freq
      FROM (SELECT cnt, unnest(regexp_extract_all(seq, '<([^>]*)>', 1))
                     AS sym
            FROM v{vi})
      GROUP BY sym),
    kept AS MATERIALIZED (
      SELECT sym FROM sfreq ORDER BY freq DESC, sym ASC LIMIT {keep}),
    symid AS MATERIALIZED (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
               AS sym_id
      FROM kept),
    wid AS MATERIALIZED (
      SELECT w.word, list(COALESCE(si.sym_id, 0) ORDER BY w.spos)
               AS word_ids
      FROM (SELECT f.word, t.j AS spos, f.s[t.j] AS sym
            FROM (SELECT word,
                         regexp_extract_all(seq, '<([^>]*)>', 1) AS s
                  FROM v{vi}) f,
                 unnest(range(1, len(f.s) + 1)) t(j)) w
      LEFT JOIN symid si USING (sym)
      GROUP BY w.word),
    dwp AS (
      SELECT d.doc_id, t.j AS wpos, d.words[t.j] AS word
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '[^a-z0-9]+'),
                               x -> x <> '') AS words
            FROM docs_r) d,
           unnest(range(1, len(d.words) + 1)) t(j)),
    dtok AS (
      SELECT dwp.doc_id,
             flatten(list(wid.word_ids ORDER BY dwp.wpos)) AS token_ids
      FROM dwp JOIN wid USING (word) GROUP BY dwp.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(len(t.token_ids), 0) AS BIGINT) AS n_bpe_tokens,
           CAST(COALESCE(len(list_filter(t.token_ids, x -> x = 0)), 0)
                AS BIGINT) AS n_unk,
           COALESCE(array_to_string(t.token_ids, ','), '') AS token_ids
    FROM docs_r d LEFT JOIN dtok t USING (doc_id)
    """


@register("tokenizer_encode_rank_engine", _rank_gate_oracle_sql())
def tokenizer_encode_rank_engine_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE MERGE-RANK SEGMENTER AT PRODUCTION MERGE COUNT (r15 judge
    directive 5): segment and encode the customer-name corpus under a
    1100-entry merge list with ``bpe_segment_vocab`` — the merge-rank
    segmenter whose per-word cost is merge-count-independent
    (1100 is past the pre-r15 Catalyst codegen cliff a chain of SQL
    replaces crashed on) — while the oracle replays the classic
    IN-ORDER REPLACE CHAIN, chunked 64 per CTE (DuckDB's binder
    recursion cap is 128 — see ``_rank_gate_oracle_sql``). A hash
    match is the real-data form of the rank==chain equivalence the
    Hypothesis property pins algebraically: a wrong rank choice, a
    missed leftmost-first occurrence, or a premature stop changes some
    word's segmentation, shifts the corpus symbol ranking, and flips
    ids/UNKs corpus-wide. The merge list is rule-generated (all digit
    pairs, then all product+digit triples) because the fixture corpora
    are deliberately vocabulary-poor (documents exhausts pairs at ~107
    trained merges — measured r16); customer's 9-digit ids give every
    2-/3-digit merge real occurrences, and the ``keep``-truncated vocab
    leaves genuine per-doc UNK structure. Plan: zero
    merge-proportional driver work — one vocab-sized Arrow-batched
    segmentation pass (ranks dict in the UDF closure), checkpointed and
    shared by the top-k list and the encode, then the standard
    fixed-symbols encode (symbol table is ``keep`` entries)."""
    from mriya_spark.ops.text import (
        bpe_segment_vocab,
        bpe_symbols_topk,
        bpe_token_ids,
        bpe_word_freq,
    )

    docs = _cat(spark, sf_dir).table("customer").select(
        F.col("c_custkey").alias("doc_id"), F.col("c_name").alias("text")
    )
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    vseg = bpe_segment_vocab(
        docs, _RANK_GATE_MERGES, word_freq=wf
    ).localCheckpoint(eager=True)
    top = bpe_symbols_topk(
        docs, _RANK_GATE_MERGES, keep=_TOPK_KEEP, vseg=vseg
    )
    ids = bpe_token_ids(
        docs, _RANK_GATE_MERGES, symbols=top, oov_id=0, vseg=vseg
    )
    return ids.select(
        "doc_id",
        "n_bpe_tokens",
        F.size(F.filter("token_ids", lambda x: x == F.lit(0)))
        .cast("long")
        .alias("n_unk"),
        F.array_join("token_ids", ",").alias("token_ids"),
    )


def _pack_positions_oracle_sql(
    n_merges: int = _BPE_MERGES,
    cap: int = _SFT_CAP,
    shards: int = _SFT_SHARDS,
    token_re: str = "[^a-z0-9]+",
    doc_rel: str = "documents",
) -> str:
    """The attention-metadata capstone oracle: the same training +
    encode + per-shard FFD replay as ``_sft_pack_oracle_sql``, with
    the final window grouping ALSO replaying per-document position
    resets (``range(n_tokens)`` per member, concatenated in doc-id
    order) and segment ordinals (``row_number`` per window by doc id,
    minus one, repeated n_tokens times) — so a position leaking
    across a document boundary, a segment ordinal skipping a
    zero-token member, or any payload mis-ordering flips the hash."""
    train = _bpe_oracle_sql(n_merges, token_re, doc_rel)
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return "WITH RECURSIVE " + body[len("WITH "):] + f""",
    symid AS MATERIALIZED (
      SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT)
               AS sym_id
      FROM (SELECT DISTINCT
              unnest(regexp_extract_all(seq, '<([^>]*)>', 1)) AS sym
            FROM v{n_merges})),
    wid AS MATERIALIZED (
      SELECT w.word, list(si.sym_id ORDER BY w.spos) AS word_ids
      FROM (SELECT f.word, t.j AS spos, f.s[t.j] AS sym
            FROM (SELECT word,
                         regexp_extract_all(seq, '<([^>]*)>', 1) AS s
                  FROM v{n_merges}) f,
                 unnest(range(1, len(f.s) + 1)) t(j)) w
      JOIN symid si USING (sym) GROUP BY w.word),
    dwp AS (
      SELECT d.doc_id, t.j AS wpos, d.words[t.j] AS word
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM {doc_rel}) d,
           unnest(range(1, len(d.words) + 1)) t(j)),
    dtok AS (
      SELECT d.doc_id,
             COALESCE(t.token_ids, CAST([] AS BIGINT[])) AS token_ids,
             CAST(COALESCE(len(t.token_ids), 0) AS BIGINT) AS n_tokens
      FROM {doc_rel} d LEFT JOIN (
        SELECT dwp.doc_id,
               flatten(list(wid.word_ids ORDER BY dwp.wpos)) AS token_ids
        FROM dwp JOIN wid USING (word) GROUP BY dwp.doc_id) t
      USING (doc_id)),
    base AS (
      SELECT doc_id, n_tokens, token_ids,
             CAST(doc_id % {shards} AS INTEGER) AS shard,
             CAST(row_number() OVER (PARTITION BY doc_id % {shards}
                  ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
      FROM dtok),
    {_ffd_step_sql(cap, ('token_ids',))},
    w AS (
      SELECT shard, win, doc_id, n_tokens, token_ids,
             row_number() OVER (PARTITION BY shard, win
                                ORDER BY doc_id) - 1 AS seg
      FROM step)
    SELECT shard, win,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS fill,
           CAST(greatest(0, {cap} - sum(n_tokens)) AS BIGINT) AS pad,
           COALESCE(array_to_string(
             flatten(list(token_ids ORDER BY doc_id)), ','), '')
             AS token_ids,
           COALESCE(array_to_string(
             flatten(list(range(n_tokens) ORDER BY doc_id)), ','), '')
             AS position_ids,
           COALESCE(array_to_string(
             flatten(list(list_transform(range(n_tokens), x -> seg)
                          ORDER BY doc_id)), ','), '')
             AS segment_ids
    FROM w GROUP BY shard, win
    """


@register("tokenizer_pack_positions", _pack_positions_oracle_sql())
def tokenizer_pack_positions_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PACKED VARLEN ATTENTION METADATA (r16 coverage extension): the
    third artifact a packed-sequence trainer consumes next to the ids
    (``tokenizer_pack_bestfit``) and the loss mask
    (``tokenizer_pack_masked``) — per window, ``position_ids`` RESET
    to 0 at every document boundary (rotary/absolute positions must
    not leak across packed documents) and ``segment_ids`` giving each
    token its document ordinal within the window, from which the
    block-diagonal attention mask is derived (attend iff same
    segment). HF `DataCollatorWithFlattening` / FlashAttention varlen
    semantics. All three payloads concatenate in identical doc-id
    order from ONE collected struct list
    (``ops.text.pack_windows_attention``), so alignment is by
    construction; the oracle replays training, encode, the FFD fold,
    the per-document position ranges, and the per-window segment
    ordinals — a position continuing across a boundary, a segment
    skipping a member, or a payload ordered differently from the ids
    all flip the hash. Plan: identical to the pack capstone plus one
    wider final aggregate (same shuffle count; the metadata is
    derived scan-locally from the collected member list)."""
    from mriya_spark.ops.text import (
        bpe_segment_vocab,
        bpe_symbols,
        bpe_token_ids,
        bpe_train,
        bpe_word_freq,
        pack_windows_attention,
        pack_windows_bestfit,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    trained = bpe_train(
        docs, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    vseg = bpe_segment_vocab(docs, trained, word_freq=wf).localCheckpoint(
        eager=True
    )
    vocab = bpe_symbols(docs, trained, vseg=vseg)
    ids = bpe_token_ids(docs, trained, symbols=vocab, vseg=vseg)
    packed = pack_windows_bestfit(
        ids,
        context_tokens=_SFT_CAP,
        shards=_SFT_SHARDS,
        count_col="n_bpe_tokens",
        carry_cols=("token_ids",),
    )
    return pack_windows_attention(
        packed, count_col="n_bpe_tokens"
    ).select(
        "shard",
        "win",
        "n_docs",
        "fill",
        "pad",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("position_ids", ",").alias("position_ids"),
        F.array_join("segment_ids", ",").alias("segment_ids"),
    )


def _pack_eos_oracle_sql(
    n_merges: int = _BPE_MERGES,
    cap: int = _SFT_CAP,
    shards: int = _SFT_SHARDS,
    token_re: str = "[^a-z0-9]+",
    doc_rel: str = "documents",
) -> str:
    """The EOS-boundary pack oracle: identical to the pack-capstone
    replay except every document's id list gains a trailing 0 and its
    count grows by one BEFORE the FFD fold — so the boundary token
    participates in bin packing exactly like a content token (a
    missing/extra/misplaced EOS changes fills, window assignments, and
    payloads all at once)."""
    sql = _sft_pack_oracle_sql(n_merges, cap, shards, token_re, doc_rel)
    # splice the EOS projection between the encode (dtok) and the FFD
    # base — string surgery over the SHARED builder keeps the two
    # replays from drifting (same single-sourcing rationale as
    # _fuzzy_pass_sql). Order matters: repoint base's "FROM dtok)"
    # FIRST (unique in the original text), THEN insert the dtok_eos
    # CTE — inserting first would put another "FROM dtok)" ahead of
    # base's and the repoint would rename the new CTE's own source.
    anchor = """      USING (doc_id)),
    base AS (
      SELECT doc_id, n_tokens, token_ids,"""
    assert anchor in sql, "pack capstone oracle changed shape"
    assert sql.count("FROM dtok)") == 1, "base FROM anchor not unique"
    sql = sql.replace("FROM dtok)", "FROM dtok_eos)", 1)
    return sql.replace(
        anchor,
        """      USING (doc_id)),
    dtok_eos AS (
      SELECT doc_id,
             list_append(token_ids, CAST(0 AS BIGINT)) AS token_ids,
             CAST(n_tokens + 1 AS BIGINT) AS n_tokens
      FROM dtok),
    base AS (
      SELECT doc_id, n_tokens, token_ids,""",
        1,
    )


@register("tokenizer_pack_eos", _pack_eos_oracle_sql())
def tokenizer_pack_eos_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EOS-BOUNDARY PACKING (r16 coverage extension): the GPT-style
    document-separator contract — every document's id sequence gains a
    trailing reserved boundary id (0, outside the 1..N vocabulary
    range; ``ops.text.append_eos``) BEFORE first-fit-decreasing
    packing, so each packed window reads `doc <eos> doc <eos> ...` and
    the boundary token occupies window budget exactly like a content
    token (empty documents still carry their boundary, so no
    zero-token members reach the packer). The oracle splices the same
    +1/append into the shared pack-capstone replay ahead of the FFD
    fold — a dropped, doubled, or mis-packed EOS shifts fills, window
    assignments, and every downstream payload. Plan: identical to
    ``tokenizer_pack_bestfit`` plus one scan-local projection.
    Reference contract: GPT-2/Pile `<|endoftext|>`-between-documents
    packing."""
    from mriya_spark.ops.text import (
        append_eos,
        bpe_segment_vocab,
        bpe_symbols,
        bpe_token_ids,
        bpe_train,
        bpe_word_freq,
        pack_windows_bestfit,
        pack_windows_table,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    trained = bpe_train(
        docs, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    vseg = bpe_segment_vocab(docs, trained, word_freq=wf).localCheckpoint(
        eager=True
    )
    vocab = bpe_symbols(docs, trained, vseg=vseg)
    ids = append_eos(
        bpe_token_ids(docs, trained, symbols=vocab, vseg=vseg), eos_id=0
    )
    packed = pack_windows_bestfit(
        ids,
        context_tokens=_SFT_CAP,
        shards=_SFT_SHARDS,
        count_col="n_bpe_tokens",
        carry_cols=("token_ids",),
    )
    return pack_windows_table(packed).select(
        "shard",
        "win",
        "n_docs",
        "fill",
        "pad",
        F.array_join("token_ids", ",").alias("token_ids"),
    )


# ---------------------------------------------------------------------------
# §2.10 r16 (continuation): chat-template SFT capstone
# ---------------------------------------------------------------------------


def _train_vocab(df: DataFrame):
    """The standard gate-size train-then-share recipe every r16
    session-2 tokenizer gate uses (r16 self-review, second pass —
    previously six synchronized copies): one corpus word_freq pass,
    batched exact training, ONE eagerly-checkpointed merge replay
    shared by the vocab collect and every downstream encode. Returns
    ``(word_freq, merges, vseg, symbols)``."""
    from mriya_spark.ops.text import (
        bpe_segment_vocab,
        bpe_symbols,
        bpe_train,
        bpe_word_freq,
    )

    wf = bpe_word_freq(df).localCheckpoint(eager=True)
    trained = bpe_train(
        df, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    vseg = bpe_segment_vocab(df, trained, word_freq=wf).localCheckpoint(
        eager=True
    )
    vocab = bpe_symbols(df, trained, vseg=vseg)
    return wf, trained, vseg, vocab


def _chat_conv_prelude_sql(token_re: str = "[^a-z0-9]+") -> str:
    """The (doc_id, system, user, assistant) conversation fixture the
    chat-SFT gate derives deterministically from ``documents.text``:
    word-split under the tokenizer regex, thirds at ``n // 3`` and
    ``(2n) // 3`` (integer division over non-negative counts — same
    result as Spark's ``div``), rejoined with ' ' (lossless under the
    split regex). ``pairs_t`` then renders the SINGLE-TURN chat
    template — ``system : {sys} user : {usr} assistant :`` as the
    prompt, the assistant text alone as the completion — character-
    for-character the string ``ops.text.chat_render`` builds, pinned
    cross-engine by ``test_chat_template_sft_sql_replay_prevalidation``
    before this registration. ``docs_train`` is the rendered full text
    the tokenizer trains on (template role-marker words included, as a
    production chat tokenizer's corpus would)."""
    return f"""conv_t AS MATERIALIZED (
      SELECT doc_id,
             array_to_string(words[1 : len(words) // 3], ' ')
               AS sys_txt,
             array_to_string(words[len(words) // 3 + 1 :
                                   (2 * len(words)) // 3], ' ')
               AS usr_txt,
             array_to_string(words[(2 * len(words)) // 3 + 1 :
                                   len(words)], ' ')
               AS ast_txt
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM documents)),
    pairs_t AS MATERIALIZED (
      SELECT doc_id,
             concat_ws(' ', 'system :', COALESCE(sys_txt, ''),
                       'user :', COALESCE(usr_txt, ''),
                       'assistant :') AS prompt,
             COALESCE(ast_txt, '') AS completion
      FROM conv_t),
    docs_train AS MATERIALIZED (
      SELECT doc_id, concat_ws(' ', prompt, completion) AS text
      FROM pairs_t),
    """


def _sft_chat_oracle_sql(
    n_merges: int = _BPE_MERGES, token_re: str = "[^a-z0-9]+"
) -> str:
    """Chat-template SFT oracle: conversation fixture -> rendered
    template -> full BPE training replay on the rendered text -> both
    encode chains (shared symbol table, via ``_sft_masks_encode_sql``
    so the recipe cannot drift from the masks gate) -> concatenated
    ids + completion-only 0/1 mask, value-checked per position."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "docs_train", _chat_conv_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return body + _sft_masks_encode_sql(n_merges, token_re) + """
    SELECT p.doc_id,
           array_to_string(flatten([p.ids, c.ids]), ',') AS token_ids,
           array_to_string(flatten([
             list_transform(range(len(p.ids)), x -> 0),
             list_transform(range(len(c.ids)), x -> 1)]), ',')
             AS loss_mask,
           CAST(len(p.ids) + len(c.ids) AS BIGINT) AS n_tokens,
           CAST(len(c.ids) AS BIGINT) AS n_completion_tokens
    FROM dtok_p p JOIN dtok_c c USING (doc_id)
    """


def _thirds_frame(
    docs: DataFrame, names: tuple[str, str, str]
) -> DataFrame:
    """Word-split-thirds fixture projection shared by the chat and DPO
    gates (r16 self-review, second pass: it existed twice differing
    only in aliases): boundaries at ``n // 3`` and ``(2n) // 3``,
    rejoined with ' ' — the Spark twin of both thirds preludes.
    Scan-local; slice lengths non-negative by construction."""
    from mriya_spark.caching import scoped_persist

    w = (
        "filter(split(lower(trim(coalesce(text, ''))), '[^a-z0-9]+'), "
        "x -> x != '')"
    )
    a = f"(size({w}) div 3)"
    b = f"((2 * size({w})) div 3)"
    # persisted (r19): the chat/DPO consumers run 2-3 encode passes
    # over this frame, each reading it twice (token explode + the
    # empty-doc attrs side) — same recompute argument as
    # ``_sft_pairs_frame``'s persist
    return scoped_persist(
        docs.select(
            "doc_id",
            F.expr(f"array_join(slice({w}, 1, {a}), ' ')").alias(names[0]),
            F.expr(
                f"array_join(slice({w}, {a} + 1, {b} - {a}), ' ')"
            ).alias(names[1]),
            F.expr(
                f"array_join(slice({w}, {b} + 1, size({w}) - {b}), ' ')"
            ).alias(names[2]),
        )
    )


def _chat_conv_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_chat_conv_prelude_sql``'s ``conv_t``:
    ``_thirds_frame`` as (system, user, assistant)."""
    return _thirds_frame(docs, ("system", "user", "assistant"))


@register("tokenizer_sft_chat", _sft_chat_oracle_sql())
@scoped_build
def tokenizer_sft_chat_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template SFT capstone (the r16 in-memory pre-validated
    recipe): single-turn (system, user, assistant) conversations —
    rebuilt deterministically as word-split thirds of
    ``documents.text`` — rendered through ``ops.text.chat_render``
    (HF ``apply_chat_template`` semantics: role markers as plain
    tokenizer words, assistant text as the completion), then tokenized
    with completion-only loss masks under ONE vocabulary learned on
    the RENDERED corpus (``sft_encode_masks``). This is the template
    step every production SFT pipeline runs before tokenization; the
    loss boundary is its whole point — every role marker, system and
    user token masked 0, ONLY assistant tokens carry 1, and the oracle
    hash-checks mask values position-for-position. Plan: identical
    exchange shape to ``tokenizer_sft_masks`` (one corpus pass for
    word_freq, one shared merge replay, one segment-keyed
    posexplode->broadcast-join encode over both columns, one per-doc
    regroup) — the template adds a single scan-local projection."""
    from mriya_spark.ops.text import (
        chat_render,
        sft_encode_masks,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    pairs = chat_render(_chat_conv_frame(docs))
    full = pairs.select(
        "doc_id", F.concat_ws(" ", "prompt", "completion").alias("text")
    )
    wf, trained, vseg, vocab = _train_vocab(full)
    out = sft_encode_masks(
        pairs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    return out.select(
        "doc_id",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
        "n_tokens",
        "n_completion_tokens",
    )


def _dpo_pairs_prelude_sql(token_re: str = "[^a-z0-9]+") -> str:
    """The (doc_id, prompt, chosen, rejected) preference-pair fixture
    the DPO gate derives deterministically from ``documents.text``:
    word-split thirds (prompt / chosen candidate / rejected candidate),
    rejoined with ' ' (lossless under the split regex); ``docs_train``
    is all three rebuilt columns combined — the union corpus the
    shared vocabulary trains on, so frequencies equal the raw text's."""
    return f"""pairs_t AS MATERIALIZED (
      SELECT doc_id,
             array_to_string(words[1 : len(words) // 3], ' ')
               AS prompt,
             array_to_string(words[len(words) // 3 + 1 :
                                   (2 * len(words)) // 3], ' ')
               AS chosen,
             array_to_string(words[(2 * len(words)) // 3 + 1 :
                                   len(words)], ' ')
               AS rejected
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM documents)),
    docs_train AS MATERIALIZED (
      SELECT doc_id,
             concat_ws(' ', prompt, chosen, rejected) AS text
      FROM pairs_t),
    """


def _dpo_pairs_oracle_sql(
    n_merges: int = _BPE_MERGES, token_re: str = "[^a-z0-9]+"
) -> str:
    """DPO oracle: preference-pair fixture -> full BPE training replay
    on the combined text -> THREE encode chains under the shared
    symbol table (``_cols_encode_sql``, byte-pinned to the recorded
    SFT recipe) -> both prompt+candidate concatenations with their
    completion-only masks, value-checked per position."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "docs_train", _dpo_pairs_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    chains = _cols_encode_sql(
        n_merges, token_re,
        (("p", "prompt"), ("ch", "chosen"), ("rj", "rejected")),
    )
    return body + chains + """
    SELECT p.doc_id,
           array_to_string(flatten([p.ids, ch.ids]), ',') AS chosen_ids,
           array_to_string(flatten([
             list_transform(range(len(p.ids)), x -> 0),
             list_transform(range(len(ch.ids)), x -> 1)]), ',')
             AS chosen_mask,
           array_to_string(flatten([p.ids, rj.ids]), ',') AS rejected_ids,
           array_to_string(flatten([
             list_transform(range(len(p.ids)), x -> 0),
             list_transform(range(len(rj.ids)), x -> 1)]), ',')
             AS rejected_mask,
           CAST(len(p.ids) AS BIGINT) AS n_prompt_tokens,
           CAST(len(ch.ids) AS BIGINT) AS n_chosen_tokens,
           CAST(len(rj.ids) AS BIGINT) AS n_rejected_tokens
    FROM dtok_p p JOIN dtok_ch ch USING (doc_id)
         JOIN dtok_rj rj USING (doc_id)
    """


def _dpo_pairs_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_dpo_pairs_prelude_sql``'s ``pairs_t``:
    ``_thirds_frame`` as (prompt, chosen, rejected)."""
    return _thirds_frame(docs, ("prompt", "chosen", "rejected"))


@register("tokenizer_dpo_pairs", _dpo_pairs_oracle_sql())
@scoped_build
def tokenizer_dpo_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair (DPO) encoding capstone: (prompt, chosen,
    rejected) triples — rebuilt deterministically as word-split thirds
    of ``documents.text`` — encoded by ``ops.text.dpo_encode_pairs``
    under ONE vocabulary learned on the combined text: per doc the
    chosen and rejected prompt+candidate sequences with their
    completion-only 0/1 masks (TRL ``DPOTrainer`` data contract — the
    preference loss reads completion positions only, and BOTH
    sequences share the same prompt-length zero run). The oracle
    replays training plus all THREE encode chains under the shared
    symbol table and hash-checks every id and mask position. Plan:
    the masked-SFT shape with a third segment per doc — one corpus
    pass for word_freq, one shared merge replay, ONE segment-keyed
    posexplode->broadcast-join encode over all three columns, one
    per-doc regroup, scan-local masks."""
    from mriya_spark.ops.text import (
        dpo_encode_pairs,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    pairs = _dpo_pairs_frame(docs)
    wf, trained, vseg, vocab = _train_vocab(docs)
    out = dpo_encode_pairs(
        pairs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    return out.select(
        "doc_id",
        F.array_join("chosen_ids", ",").alias("chosen_ids"),
        F.array_join("chosen_mask", ",").alias("chosen_mask"),
        F.array_join("rejected_ids", ",").alias("rejected_ids"),
        F.array_join("rejected_mask", ",").alias("rejected_mask"),
        "n_prompt_tokens",
        "n_chosen_tokens",
        "n_rejected_tokens",
    )


def _segs_encode_sql(n_merges: int, token_re: str) -> str:
    """Encode chain for the MULTI-turn chat gate: the recorded
    symid/wid recipe (via ``_cols_encode_sql`` with zero column
    chains), then ONE chain over a ``segs_t`` CTE keyed by (doc_id,
    tpos, part) with its ``is_loss`` flag carried through — the DuckDB
    twin of ``chat_encode_multiturn``'s single segment-keyed encode
    pass."""
    return _cols_encode_sql(n_merges, token_re, ()) + f""",
    dwp_s AS (
      SELECT d.doc_id, d.tpos, d.part, t.j AS wpos, d.words[t.j] AS word
      FROM (SELECT doc_id, tpos, part,
                   list_filter(string_split_regex(lower(trim(txt)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM segs_t) d,
           unnest(range(1, len(d.words) + 1)) t(j)),
    dtok_s AS (
      SELECT s.doc_id, s.tpos, s.part, s.is_loss,
             COALESCE(t.ids, CAST([] AS BIGINT[])) AS ids
      FROM segs_t s LEFT JOIN (
        SELECT dwp_s.doc_id, dwp_s.tpos, dwp_s.part,
               flatten(list(wid.word_ids ORDER BY dwp_s.wpos)) AS ids
        FROM dwp_s JOIN wid USING (word)
        GROUP BY dwp_s.doc_id, dwp_s.tpos, dwp_s.part) t
      USING (doc_id, tpos, part))"""


_MULTITURN_FINAL_SQL = """
    SELECT doc_id,
           array_to_string(flatten(list(ids ORDER BY tpos, part)), ',')
             AS token_ids,
           array_to_string(flatten(list(
             list_transform(range(len(ids)), x -> is_loss)
             ORDER BY tpos, part)), ',') AS loss_mask,
           CAST(SUM(len(ids)) AS BIGINT) AS n_tokens,
           CAST(SUM(is_loss * len(ids)) AS BIGINT) AS n_loss_tokens
    FROM dtok_s GROUP BY doc_id
    """


def _multiturn_prelude_sql(token_re: str = "[^a-z0-9]+") -> str:
    """The 4-turn conversation fixture the multi-turn gate derives
    deterministically from ``documents.text``: word-split quarters
    alternating user/assistant turns (the two-exchange dialogue shape),
    each turn rendered ``{role} : {text}``; ``segs_t`` splits every
    turn into its marker segment (part 0, never in the loss) and its
    content segment (part 1, in the loss iff assistant); ``docs_train``
    is the rendered conversation the shared vocabulary trains on."""
    return f"""turns_t AS MATERIALIZED (
      SELECT doc_id, t.tpos,
             CASE WHEN t.tpos % 2 = 0 THEN 'user' ELSE 'assistant' END
               AS role,
             CASE t.tpos
               WHEN 0 THEN array_to_string(
                             words[1 : len(words) // 4], ' ')
               WHEN 1 THEN array_to_string(
                             words[len(words) // 4 + 1 :
                                   len(words) // 2], ' ')
               WHEN 2 THEN array_to_string(
                             words[len(words) // 2 + 1 :
                                   (3 * len(words)) // 4], ' ')
               ELSE array_to_string(
                      words[(3 * len(words)) // 4 + 1 :
                            len(words)], ' ')
             END AS txt
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM documents) w,
           unnest([0, 1, 2, 3]) t(tpos)),
    segs_t AS MATERIALIZED (
      SELECT doc_id, tpos, 0 AS part, role AS txt,
             CAST(0 AS BIGINT) AS is_loss
      FROM turns_t
      UNION ALL
      SELECT doc_id, tpos, 1 AS part, txt,
             CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
                  AS BIGINT)
      FROM turns_t),
    docs_train AS MATERIALIZED (
      SELECT doc_id,
             string_agg(concat_ws(' ', role, ':', txt), ' '
                        ORDER BY tpos) AS text
      FROM turns_t GROUP BY doc_id),
    """


def _multiturn_oracle_sql(
    n_merges: int = _BPE_MERGES, token_re: str = "[^a-z0-9]+"
) -> str:
    """Multi-turn chat oracle: 4-turn fixture -> full BPE training
    replay on the rendered conversations -> one segment-keyed encode
    chain -> per-doc concatenation in (turn, part) order with the
    INTERLEAVED assistant-only mask, value-checked per position."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "docs_train", _multiturn_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return body + _segs_encode_sql(n_merges, token_re) + _MULTITURN_FINAL_SQL


def _multiturn_conv_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_multiturn_prelude_sql``'s ``turns_t``, nested:
    (doc_id, turns array<struct<role, text>>) — word-split quarters
    alternating user/assistant. Scan-local."""
    w = (
        "filter(split(lower(trim(coalesce(text, ''))), '[^a-z0-9]+'), "
        "x -> x != '')"
    )
    a = f"(size({w}) div 4)"
    b = f"(size({w}) div 2)"
    c = f"((3 * size({w})) div 4)"
    seg = {
        0: f"slice({w}, 1, {a})",
        1: f"slice({w}, {a} + 1, {b} - {a})",
        2: f"slice({w}, {b} + 1, {c} - {b})",
        3: f"slice({w}, {c} + 1, size({w}) - {c})",
    }
    turns = ", ".join(
        f"named_struct('role', '{'user' if i % 2 == 0 else 'assistant'}',"
        f" 'text', array_join({seg[i]}, ' '))"
        for i in range(4)
    )
    return docs.select("doc_id", F.expr(f"array({turns})").alias("turns"))


def _chat_multiturn_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared front of all three multi-turn gates (r16
    self-review: the fixture -> render -> train -> shared-vseg ->
    encode recipe existed three times): build the 4-turn conversation
    fixture, train the vocabulary on the RENDERED text (one word_freq
    pass, one merge replay shared by vocab collect and encode), and
    return ``chat_encode_multiturn``'s (doc_id, token_ids, loss_mask,
    n_tokens, n_loss_tokens) frame — the single corpus-sized encode
    pass every multi-turn gate consumes."""
    from mriya_spark.ops.text import (
        chat_encode_multiturn,
    )

    from mriya_spark.caching import scoped_persist

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    # persisted (r19): the conversation frame feeds the rendered-text
    # training pass AND chat_encode_multiturn's segment explode +
    # attrs side — 3+ corpus-sized evaluations of the quarter-slicing
    # expression tree without it, each serial on the scan's task count
    conv = scoped_persist(_multiturn_conv_frame(docs))
    full = conv.select(
        "doc_id",
        F.expr(
            "array_join(transform(turns, t -> "
            "concat_ws(' ', t.role, ':', t.text)), ' ')"
        ).alias("text"),
    )
    wf, trained, vseg, vocab = _train_vocab(full)
    return chat_encode_multiturn(
        conv, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )


@register("tokenizer_chat_multiturn", _multiturn_oracle_sql())
@scoped_build
def tokenizer_chat_multiturn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-turn chat SFT capstone: two-exchange user/assistant
    dialogues — rebuilt deterministically as word-split quarters of
    ``documents.text`` — encoded by ``ops.text.chat_encode_multiturn``
    under ONE vocabulary learned on the rendered conversations, with
    the loss mask INTERLEAVED (assistant content 1; user content and
    every role marker 0 — the mask switches on and off mid-sequence,
    which no single-boundary encoder can express; HF multi-turn
    ``assistant_only_loss`` semantics). The oracle replays training
    plus the single segment-keyed encode chain and hash-checks every
    id and mask position. Plan: ONE corpus-sized encode pass
    regardless of turn count (segments keyed by (doc, turn, part)),
    one per-doc regroup — the same encode as the single-turn gates."""
    out = _chat_multiturn_encoded(spark, sf_dir)
    return out.select(
        "doc_id",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
        "n_tokens",
        "n_loss_tokens",
    )


def _chat_pack_body_sql(
    n_merges: int, cap: int, shards: int, token_re: str
) -> str:
    """Shared front of the two packed multi-turn oracles (r16
    self-review: the enc/base/FFD block existed twice): training
    replay + segment-keyed encode chain + the per-doc (ids,
    interleaved mask) regroup + shard/rank base + the shared FFD
    fill-vector fold — callers append their final SELECT inside the
    same string concatenation, so the assembled text is byte-identical
    to the pre-refactor builders (asserted at refactor time against
    the validated oracles)."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "docs_train", _multiturn_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return (
        "WITH RECURSIVE "
        + body[len("WITH "):]
        + _segs_encode_sql(n_merges, token_re)
        + f""",
    enc AS MATERIALIZED (
      SELECT doc_id,
             flatten(list(ids ORDER BY tpos, part)) AS token_ids,
             flatten(list(list_transform(range(len(ids)), x -> is_loss)
                          ORDER BY tpos, part)) AS loss_mask,
             CAST(SUM(len(ids)) AS BIGINT) AS n_tokens
      FROM dtok_s GROUP BY doc_id),
    base AS (
      SELECT doc_id, n_tokens,
             CAST(doc_id % {shards} AS INTEGER) AS shard,
             CAST(row_number() OVER (PARTITION BY doc_id % {shards}
                  ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
      FROM enc),
    {_ffd_step_sql(cap)}"""
    )


def _chat_pack_oracle_sql(
    n_merges: int = _BPE_MERGES,
    cap: int = _SFT_CAP,
    shards: int = _SFT_SHARDS,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """The packed multi-turn chat capstone oracle: the multi-turn
    fixture + training replay + segment-keyed encode chain, the per-doc
    (ids, interleaved mask) regroup, then the shared per-shard FFD
    fill-vector fold (``_ffd_step_sql``) and per-window grouping of
    BOTH payloads in doc-id order — the ``_sft_masked_pack_oracle_sql``
    shape over the multi-turn encoder."""
    return (
        _chat_pack_body_sql(n_merges, cap, shards, token_re)
        + f"""
    SELECT st.shard, st.win,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(st.n_tokens) AS BIGINT) AS fill,
           CAST(greatest(0, {cap} - sum(st.n_tokens)) AS BIGINT) AS pad,
           COALESCE(array_to_string(
             flatten(list(e.token_ids ORDER BY st.doc_id)), ','), '')
             AS token_ids,
           COALESCE(array_to_string(
             flatten(list(e.loss_mask ORDER BY st.doc_id)), ','), '')
             AS loss_mask
    FROM step st JOIN enc e USING (doc_id)
    GROUP BY st.shard, st.win
    """
    )


@register("tokenizer_pack_chat", _chat_pack_oracle_sql())
@scoped_build
def tokenizer_pack_chat_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PACKED MULTI-TURN CHAT CAPSTONE: multi-turn dialogues
    encoded with interleaved assistant-only masks
    (``chat_encode_multiturn``) -> non-straddling FFD packing with
    both arrays riding the same rows
    (``pack_windows_bestfit(carry_cols=('token_ids', 'loss_mask'))``)
    -> per-window dual payloads (``pack_windows_table``) — the packed
    training shard a multi-turn SFT loader mmaps, with a mask that
    switches on and off WITHIN each packed document. The oracle
    replays training, the segment-keyed encode, the per-doc regroup,
    the FFD fold, and both per-window payloads — every id and every
    interleaved mask position is value-checked through the pack.
    Plan: the multi-turn encode (ONE corpus-sized pass) + one shard
    shuffle + one Arrow-batched grouped-map (segment-tree FFD) + one
    (shard, win) aggregate — ``tokenizer_pack_masked``'s exchange
    shape over the cheaper single-pass encoder."""
    from mriya_spark.ops.text import (
        pack_windows_bestfit,
        pack_windows_table,
    )

    enc = _chat_multiturn_encoded(spark, sf_dir)
    packed = pack_windows_bestfit(
        enc,
        context_tokens=_SFT_CAP,
        shards=_SFT_SHARDS,
        count_col="n_tokens",
        carry_cols=("token_ids", "loss_mask"),
    )
    return pack_windows_table(packed, extra_ids_cols=("loss_mask",)).select(
        "shard",
        "win",
        "n_docs",
        "fill",
        "pad",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
    )


@register(
    "stats_linreg",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4)
             AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_linreg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ordinary-least-squares regression (slope, intercept,
    R², pair count) via the ANSI ``regr_*`` aggregates — the trend
    primitive behind every metric dashboard, and the natural extension
    of ``stats_corr``'s moment family. Single-pass partial-aggregated
    moments, one tiny-output shuffle, no second scan (the moments
    carry everything the closed-form OLS needs). Rounded (4dp, R² 6dp)
    on both sides: engine moment-summation orders differ at ~1e-14
    relative, ten orders inside the rounding quantum."""
    li = _cat(spark, sf_dir).table("lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.expr("regr_slope(l_extendedprice, l_quantity)"), 4
        ).alias("slope"),
        F.round(
            F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4
        ).alias("intercept"),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias(
            "r2"
        ),
        F.expr("regr_count(l_extendedprice, l_quantity)")
        .cast("long")
        .alias("n"),
    )


def _chat_pack_attention_oracle_sql(
    n_merges: int = _BPE_MERGES,
    cap: int = _SFT_CAP,
    shards: int = _SFT_SHARDS,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """The COMPLETE packed varlen SFT batch oracle: the multi-turn
    chat-pack recipe (``_chat_pack_oracle_sql``) extended with the
    attention-metadata replay (``_pack_positions_oracle_sql``'s ``w``
    CTE form) — per window ids, per-doc-reset position_ids, segment
    ordinals, AND the interleaved loss mask, all concatenating in
    doc-id order."""
    return (
        _chat_pack_body_sql(n_merges, cap, shards, token_re)
        + f""",
    w AS (
      SELECT st.shard, st.win, st.doc_id, st.n_tokens,
             e.token_ids, e.loss_mask,
             row_number() OVER (PARTITION BY st.shard, st.win
                                ORDER BY st.doc_id) - 1 AS seg
      FROM step st JOIN enc e USING (doc_id))
    SELECT shard, win,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS fill,
           CAST(greatest(0, {cap} - sum(n_tokens)) AS BIGINT) AS pad,
           COALESCE(array_to_string(
             flatten(list(token_ids ORDER BY doc_id)), ','), '')
             AS token_ids,
           COALESCE(array_to_string(
             flatten(list(range(n_tokens) ORDER BY doc_id)), ','), '')
             AS position_ids,
           COALESCE(array_to_string(
             flatten(list(list_transform(range(n_tokens), x -> seg)
                          ORDER BY doc_id)), ','), '')
             AS segment_ids,
           COALESCE(array_to_string(
             flatten(list(loss_mask ORDER BY doc_id)), ','), '')
             AS loss_mask
    FROM w GROUP BY shard, win
    """
    )


@register(
    "tokenizer_pack_chat_attention", _chat_pack_attention_oracle_sql()
)
@scoped_build
def tokenizer_pack_chat_attention_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE COMPLETE PACKED VARLEN SFT BATCH: everything a multi-turn
    SFT trainer with packed sequences consumes in ONE artifact — per
    window the concatenated ids, the per-document-RESET position_ids,
    the segment ordinals (block-diagonal attention-mask inputs), AND
    the interleaved assistant-only loss mask, all four payloads from
    ONE collected member list so they are position-aligned by
    construction (``pack_windows_attention(extra_ids_cols=
    ('loss_mask',))`` — the r16 extension; the mask rides the same
    fail-loud length guard as the ids). This row = the union of
    ``tokenizer_pack_positions``' metadata and ``tokenizer_pack_chat``'s
    masked payload over the SAME windows; the oracle replays all four
    payloads and hash-checks every position. Plan: identical to
    ``tokenizer_pack_chat`` plus the two scan-local metadata arrays
    (no extra exchange — the window aggregate already holds the
    member list)."""
    from mriya_spark.ops.text import (
        pack_windows_attention,
        pack_windows_bestfit,
    )

    enc = _chat_multiturn_encoded(spark, sf_dir)
    packed = pack_windows_bestfit(
        enc,
        context_tokens=_SFT_CAP,
        shards=_SFT_SHARDS,
        count_col="n_tokens",
        carry_cols=("token_ids", "loss_mask"),
    )
    out = pack_windows_attention(packed, extra_ids_cols=("loss_mask",))
    return out.select(
        "shard",
        "win",
        "n_docs",
        "fill",
        "pad",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("position_ids", ",").alias("position_ids"),
        F.array_join("segment_ids", ",").alias("segment_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
    )


@register("stream_encode_fixed_vocab", _bpe_fixed_vocab_oracle_sql())
def stream_encode_fixed_vocab_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING twin of ``tokenizer_encode_fixed_vocab`` — the
    production tokenizer-ingest shape: train offline on the even-id
    half, persist merges.txt + vocab.txt, then encode the EXTENDED
    whole corpus (every doc gains its doc_id as a trailing word —
    guaranteed-OOV digits) as a FILE STREAM in micro-batches
    (``streaming.stream_encode_fixed_vocab``), appending id sequences
    to the target. Encoding from a fixed artifact is per-document, so
    batch boundaries cannot change any sequence and the streamed
    target hashes against the SAME batch oracle — cross-batch
    id-stability is exactly what the artifact contract promises, and
    this row pins it under replay. Plan: per batch one vocab-sized
    merge replay + one broadcast word->ids join + an append-only
    write; the batch row's cost notes apply per micro-batch."""
    import uuid as _uuid

    from mriya_spark import streaming as S
    from mriya_spark.ops.text import (
        bpe_load_merges,
        bpe_load_vocab,
        bpe_save_merges,
        bpe_save_vocab,
        bpe_symbols,
        bpe_train,
        bpe_word_freq,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    train_docs = docs.filter(F.col("doc_id") % 2 == 0)
    wf = bpe_word_freq(train_docs).localCheckpoint(eager=True)
    trained = bpe_train(
        train_docs, n_merges=_BPE_MERGES, max_batch=6, word_freq=wf
    )
    _sweep_stale("artifacts", "bpe_streamfixed_")
    adir = _os.path.join(
        _cache_subdir("artifacts"),
        f"bpe_streamfixed_{_uuid.uuid4().hex[:8]}",
    )
    bpe_save_merges(spark, trained, f"{adir}/merges.txt")
    bpe_save_vocab(
        spark,
        bpe_symbols(train_docs, trained, word_freq=wf),
        f"{adir}/vocab.txt",
    )
    del trained  # the stream encodes from the artifact only
    merges = bpe_load_merges(spark, f"{adir}/merges.txt")
    vocab = bpe_load_vocab(spark, f"{adir}/vocab.txt")

    path = S.stage_docs_files(spark, sf_dir)
    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        # 2 micro-batches (8 staged files / 4 per trigger) — the
        # MINIMUM that exercises the cross-batch contract (batch 2
        # replays the guard/merge path against batch 1's target).
        # Per-batch cost is fixed overhead (state-store + offset
        # commit + replay-guard scan), so batch count is the
        # streaming analogue of job count (r19 verdict item 3 /
        # guide §1.2); results are batching-invariant by the
        # gate's own contract and stay oracle-hash-green.
        .option("maxFilesPerTrigger", 4)
        .load(path)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.col("text"), F.col("doc_id").cast("string")
            ).alias("text"),
        )
    )
    _sweep_stale("stream_v2", "fixedenc_")
    target = _os.path.join(
        _cache_subdir("stream_v2"), f"fixedenc_{_uuid.uuid4().hex[:8]}"
    )
    S.stream_encode_fixed_vocab(stream, target, merges, vocab, oov_id=0)
    ids = spark.read.parquet(target)
    return ids.select(
        "doc_id",
        "n_bpe_tokens",
        F.size(F.filter("token_ids", lambda x: x == F.lit(0)))
        .cast("long")
        .alias("n_unk"),
        F.array_join("token_ids", ",").alias("token_ids"),
    )


_CHUNK_W, _CHUNK_S = 32, 16


def _chunk_strided_oracle_sql(
    n_merges: int = _BPE_MERGES,
    window: int = _CHUNK_W,
    stride: int = _CHUNK_S,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """Strided-chunking oracle: training replay + the recorded
    one-column encode chain (``_cols_encode_sql`` over the whole doc
    text), then per-doc window explosion — count
    ``ceil(max(n - W, 0) / S) + 1`` via integer ceil-div, each window
    an inclusive list slice, the last one short."""
    prelude = """pairs_t AS MATERIALIZED (
      SELECT doc_id, text AS body FROM documents),
    """
    train = _bpe_oracle_sql(n_merges, token_re, "documents", prelude)
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    chains = _cols_encode_sql(n_merges, token_re, (("d", "body"),))
    return body + chains + f""",
    cbase AS (
      SELECT doc_id, ids, len(ids) AS n
      FROM dtok_d WHERE len(ids) > 0),
    chunks AS (
      SELECT doc_id, t.k AS win,
             ids[t.k * {stride} + 1 :
                 least(t.k * {stride} + {window}, n)] AS wids
      FROM cbase,
           unnest(range(0, (greatest(n - {window}, 0) + {stride} - 1)
                           // {stride} + 1)) t(k))
    SELECT doc_id, CAST(win AS BIGINT) AS win,
           CAST(len(wids) AS BIGINT) AS n_win_tokens,
           array_to_string(wids, ',') AS token_ids
    FROM chunks
    """


@register("tokenizer_chunk_strided", _chunk_strided_oracle_sql())
def tokenizer_chunk_strided_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRIDED window chunking (``ops.text.chunk_strided``): encoded
    documents sliced into fixed windows with 50% overlap (W=32, S=16
    at gate size) — the GPT/BERT striding shape for sliding-window
    eval and long-document pretraining chunks, the no-shuffle
    complement to FFD packing (overlap bytes are the price of a plan
    with ZERO exchanges after encode: windows are a per-row
    sequence->transform->explode, embarrassingly parallel at any
    corpus size). The oracle replays training, the whole-doc encode
    chain, the integer window-count formula, and every slice — an
    off-by-one in a window start, a padded last window, or a
    zero-token doc yielding a window all flip the hash."""
    from mriya_spark.ops.text import (
        bpe_token_ids,
        chunk_strided,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    wf, trained, vseg, vocab = _train_vocab(docs)
    enc = bpe_token_ids(
        docs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    out = chunk_strided(enc, window=_CHUNK_W, stride=_CHUNK_S)
    return out.select(
        "doc_id",
        "win",
        "n_win_tokens",
        F.array_join("token_ids", ",").alias("token_ids"),
    )


def _chunk_masked_oracle_sql(
    n_merges: int = _BPE_MERGES,
    window: int = _CHUNK_W,
    stride: int = _CHUNK_S,
    token_re: str = "[^a-z0-9]+",
) -> str:
    """Masked strided-chunking oracle: the SFT masks chains (shared
    recipe), the per-doc (ids, mask) concatenation, then the SAME
    window formula and slice bounds applied to BOTH arrays — a window
    whose mask came from different bounds than its ids flips the
    hash."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "documents", _sft_pairs_prelude_sql(token_re)
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return body + _sft_masks_encode_sql(n_merges, token_re) + f""",
    mbase AS (
      SELECT p.doc_id,
             flatten([p.ids, c.ids]) AS ids,
             flatten([list_transform(range(len(p.ids)), x -> 0),
                      list_transform(range(len(c.ids)), x -> 1)])
               AS mask,
             CAST(len(p.ids) + len(c.ids) AS BIGINT) AS n
      FROM dtok_p p JOIN dtok_c c USING (doc_id)),
    mchunks AS (
      SELECT doc_id, t.k AS win,
             ids[t.k * {stride} + 1 :
                 least(t.k * {stride} + {window}, n)] AS wids,
             mask[t.k * {stride} + 1 :
                  least(t.k * {stride} + {window}, n)] AS wmask
      FROM (SELECT * FROM mbase WHERE n > 0),
           unnest(range(0, (greatest(n - {window}, 0) + {stride} - 1)
                           // {stride} + 1)) t(k))
    SELECT doc_id, CAST(win AS BIGINT) AS win,
           CAST(len(wids) AS BIGINT) AS n_win_tokens,
           array_to_string(wids, ',') AS token_ids,
           array_to_string(wmask, ',') AS loss_mask
    FROM mchunks
    """


@register("tokenizer_chunk_masked", _chunk_masked_oracle_sql())
@scoped_build
def tokenizer_chunk_masked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASKED strided chunking: SFT-encoded (token_ids, loss_mask)
    pairs sliced into overlapping windows with IDENTICAL bounds on
    both arrays (``chunk_strided(extra_ids_cols=('loss_mask',))``) —
    the sliding-window eval shape for completion-only loss (score
    long prompts+completions in fixed contexts without losing the
    mask boundary). The extra array rides the fail-loud alignment
    guard, and the oracle slices both lists with the same window
    formula, so a mask slice offset from its ids anywhere flips the
    hash. Plan: the SFT encode's exchanges and NOTHING else — the
    dual-array window explosion is scan-local, same as the unmasked
    chunk gate."""
    from mriya_spark.ops.text import (
        chunk_strided,
        sft_encode_masks,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    pairs = _sft_pairs_frame(docs)
    wf, trained, vseg, vocab = _train_vocab(docs)
    enc = sft_encode_masks(
        pairs, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    out = chunk_strided(
        enc,
        window=_CHUNK_W,
        stride=_CHUNK_S,
        count_col="n_tokens",
        extra_ids_cols=("loss_mask",),
    )
    return out.select(
        "doc_id",
        "win",
        "n_win_tokens",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
    )


def _multiturn_var_prelude_sql(token_re: str = "[^a-z0-9]+") -> str:
    """VARIABLE-turn-count conversation fixture: each doc's turn count
    is ``2 + 2 * (doc_id % 3)`` (2, 4, or 6 turns, always ending on an
    assistant turn), words split into k equal parts at ``(i*n) // k``
    — integer arithmetic over non-negative operands, identical on both
    engines. Exercises what the fixed-quarters fixture cannot: per-doc
    DYNAMIC turn arrays, so a regrouping keyed on anything but the
    per-doc segment list breaks here."""
    return f"""kdoc AS MATERIALIZED (
      SELECT doc_id, words,
             CAST(2 + 2 * (doc_id % 3) AS INTEGER) AS k
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)),
                                                  '{token_re}'),
                               x -> x <> '') AS words
            FROM documents)),
    turns_t AS MATERIALIZED (
      SELECT doc_id, t.i AS tpos,
             CASE WHEN t.i % 2 = 0 THEN 'user' ELSE 'assistant' END
               AS role,
             array_to_string(
               words[(t.i * len(words)) // k + 1 :
                     ((t.i + 1) * len(words)) // k], ' ') AS txt
      FROM kdoc, unnest(range(0, k)) t(i)),
    segs_t AS MATERIALIZED (
      SELECT doc_id, tpos, 0 AS part, role AS txt,
             CAST(0 AS BIGINT) AS is_loss
      FROM turns_t
      UNION ALL
      SELECT doc_id, tpos, 1 AS part, txt,
             CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
                  AS BIGINT)
      FROM turns_t),
    docs_train AS MATERIALIZED (
      SELECT doc_id,
             string_agg(concat_ws(' ', role, ':', txt), ' '
                        ORDER BY tpos) AS text
      FROM turns_t GROUP BY doc_id),
    """


def _multiturn_var_oracle_sql(
    n_merges: int = _BPE_MERGES, token_re: str = "[^a-z0-9]+"
) -> str:
    """Variable-turn-count oracle: the mixed fixture + training replay
    on the rendered dialogues + the same segment-keyed encode chain
    and interleaved-mask regroup as the fixed-count gate."""
    train = _bpe_oracle_sql(
        n_merges, token_re, "docs_train",
        _multiturn_var_prelude_sql(token_re),
    )
    body = train[: train.rindex("SELECT CAST(1 AS BIGINT) AS rank")]
    return body + _segs_encode_sql(n_merges, token_re) + _MULTITURN_FINAL_SQL


def _multiturn_var_conv_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_multiturn_var_prelude_sql``'s ``turns_t``,
    nested: per-doc DYNAMIC turn arrays built by ``transform`` over a
    runtime-length ``sequence`` (no fixed struct list in the plan —
    the k=64 fixture-codegen lesson from the turn-count probe applies
    only to literal struct expansion, not to this form)."""
    w = (
        "filter(split(lower(trim(coalesce(text, ''))), '[^a-z0-9]+'), "
        "x -> x != '')"
    )
    return docs.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, cast(2 + 2 * pmod(doc_id, 3) as int)"
            f" - 1), i -> named_struct("
            f"'role', if(i % 2 = 0, 'user', 'assistant'), "
            f"'text', array_join(slice({w}, "
            f"(i * size({w})) div (2 + 2 * pmod(doc_id, 3)) + 1, "
            f"((i + 1) * size({w})) div (2 + 2 * pmod(doc_id, 3)) - "
            f"(i * size({w})) div (2 + 2 * pmod(doc_id, 3))), ' ')))"
        ).alias("turns"),
    )


@register("tokenizer_chat_varturns", _multiturn_var_oracle_sql())
def tokenizer_chat_varturns_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-turn-count multi-turn encoding: dialogues of 2, 4, or 6
    turns in ONE corpus (``doc_id % 3`` picks the length), encoded by
    the same ``chat_encode_multiturn`` — the regime the fixed-quarters
    gate cannot pin: per-doc dynamic turn arrays, segment lists of
    varying length inside one per-doc regroup, and an interleaved mask
    whose on/off cadence differs row to row. Same plan as the fixed
    gate (the op is turn-count-agnostic by construction — the
    turn-count probe measured encode flat to 16 turns); the fixture
    builds turns via ``transform(sequence(...))`` so the projection is
    one expression regardless of k."""
    from mriya_spark.ops.text import (
        chat_encode_multiturn,
    )

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    conv = _multiturn_var_conv_frame(docs)
    full = conv.select(
        "doc_id",
        F.expr(
            "array_join(transform(turns, t -> "
            "concat_ws(' ', t.role, ':', t.text)), ' ')"
        ).alias("text"),
    )
    wf, trained, vseg, vocab = _train_vocab(full)
    out = chat_encode_multiturn(
        conv, trained, symbols=vocab, word_freq=wf, vseg=vseg
    )
    return out.select(
        "doc_id",
        F.array_join("token_ids", ",").alias("token_ids"),
        F.array_join("loss_mask", ",").alias("loss_mask"),
        "n_tokens",
        "n_loss_tokens",
    )
