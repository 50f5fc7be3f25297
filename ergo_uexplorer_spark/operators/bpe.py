"""Distributed BPE (byte-pair encoding) merge training — the tokenizer-
construction step of an LLM data pipeline, Spark-first.

Key scale insight (Sennrich et al., ACL 2016): BPE training never needs
the corpus — it operates on the WORD-FREQUENCY table (distinct words ×
counts), which is orders of magnitude smaller than the text (≈10⁷ rows
against 100 TB). So: one corpus pass builds the word table; each merge
round is then one explode+hash-agg over the word dim plus a 1-row
argmax collect, and the state update is a LITERAL string replace (the
chosen pair is a driver-side constant — no join).

Symbol-sequence representation: each word's current segmentation is a
single string of brace-wrapped symbols, `{a}{b}{c}` — merging pair
(a, b) is `replace(s, '{a}{b}', '{ab}')`, a plain (regex-free,
whole-stage-codegen) string substitution. The wrappers force exact
token boundaries (symbols are [a-z0-9]+, so braces never collide), and
left-to-right non-overlapping replacement is exactly the reference BPE
merge order ('{a}{a}{a}' with pair (a,a) → '{aa}{a}'). The same
representation drives the DuckDB oracle, making even the merge
tie-breaks engine-identical.

Ties break by (gain DESC, left ASC, right ASC) — deterministic across
engines and partitionings. No end-of-word marker (a documented contract
choice; add one by appending a sentinel char per word upstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import local_frame

_PAIR_STRUCTS = (
    "transform(sequence(1, size(__t) - 1),"
    " i -> struct(element_at(__t, i) AS l, element_at(__t, i + 1) AS r))"
)


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the tokenized corpus — BPE training's only input."""
    from .textops import tokens

    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_state(words: DataFrame) -> DataFrame:
    wrapped = F.expr(
        "concat('{', array_join(transform(sequence(1, length(w)),"
        " i -> substring(w, i, 1)), '}{'), '}')"
    )
    return words.select(wrapped.alias("s"), "cnt")


def _pair_gains(state: DataFrame) -> DataFrame:
    toks = F.split(
        F.expr("substring(s, 2, length(s) - 2)"), r"\}\{"
    )
    pairs = F.when(F.size("__t") >= 2, F.expr(_PAIR_STRUCTS)).otherwise(
        F.array().cast("array<struct<l:string,r:string>>")
    )
    return (
        state.withColumn("__t", toks)
        .select(F.explode(pairs).alias("p"), "cnt")
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("cnt").alias("gain"))
    )


_TRIPLE_STRUCTS = (
    "transform(sequence(1, size(__t) - 2),"
    " i -> struct(element_at(__t, i) AS u, element_at(__t, i + 1) AS v,"
    " element_at(__t, i + 2) AS w))"
)


def _created_pair_bounds(state: DataFrame, cands: list) -> dict:
    """Per candidate pair (l, r): an upper bound on the gain of ANY pair
    its merge would CREATE — max frequency-weighted count over adjacent
    trigrams (x, l, r) and (l, r, y). A created pair (x, lr) occurs at
    most once per (x, l, r) trigram occurrence (and (lr, lr) at most
    once per (r, l, r)), and earlier batch merges only DESTROY
    adjacencies, so the pre-batch trigram count is a valid bound. One
    explode + hash-agg over the word table, filtered to the candidate
    pairs — candidate-adjacent cardinality only, which is why this
    beats fusing the bounds into the candidate agg (measured r11, see
    SCALE.md's BPE section)."""
    keys = {(c.l, c.r) for c in cands}
    toks = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\}\{")
    trips = F.when(F.size("__t") >= 3, F.expr(_TRIPLE_STRUCTS)).otherwise(
        F.array().cast("array<struct<u:string,v:string,w:string>>")
    )
    lits = F.array(
        *[F.struct(F.lit(l).alias("l"), F.lit(r).alias("r")) for l, r in keys]
    )
    tri = (
        state.withColumn("__t", toks)
        .select(F.explode(trips).alias("t"), "cnt")
        .filter(
            F.array_contains(
                lits, F.struct(F.col("t.v").alias("l"), F.col("t.w").alias("r"))
            )
            | F.array_contains(
                lits, F.struct(F.col("t.u").alias("l"), F.col("t.v").alias("r"))
            )
        )
        .groupBy("t")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    )
    bounds: dict = {k: 0 for k in keys}
    for row in tri:
        u, v, w, n = row["t"]["u"], row["t"]["v"], row["t"]["w"], int(row["n"])
        if (v, w) in bounds:
            bounds[(v, w)] = max(bounds[(v, w)], n)
        if (u, v) in bounds:
            bounds[(u, v)] = max(bounds[(u, v)], n)
    return bounds


def _select_batch(cands: list, bounds: dict, limit: int) -> list:
    """Maximal PREFIX of the (gain DESC, l, r)-sorted candidates that
    sequential BPE provably selects in this exact order: each taken
    pair must be symbol-disjoint from every earlier taken pair (its
    count and content are then unaffected by their merges, and the
    replaces commute) and its gain must STRICTLY exceed every earlier
    pair's created-pair bound (so no newly created pair can outrank
    it, even on a tie-break). Stops at the first violation — skipping
    and continuing would be unsound, because a skipped pair's reduced
    gain is unknown without recomputation."""
    taken: list = []
    used: set = set()
    max_created = -1
    for c in cands:
        if len(taken) >= limit:
            break
        syms = {c.l, c.r}
        if taken and (syms & used or int(c.gain) <= max_created):
            break
        taken.append(c)
        used |= syms
        max_created = max(max_created, bounds.get((c.l, c.r), 0))
    return taken


def train_bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: "int | str" = 4,
    batch: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Learn the first `n_merges` BPE merges → (rank, left, right, gain):
    rank-th merge joins symbols (left, right), which co-occurred
    adjacently `gain` (frequency-weighted) times at that point.

    Driver loop; per round one hash-agg + a small collect over the WORD
    table (see module docstring for why that is the scale-correct
    input), with lineage truncated every `checkpoint_every` rounds (the
    pagerank posture, graph.py). Stops early if no pair remains.

    `batch=1` (default, the frozen-oracle twin) selects one merge per
    round — n_merges sequential Spark jobs, fine for a small merge
    table but 32k sequential rounds for a production vocabulary.
    `batch=B` selects up to B merges per round and stays EXACTLY equal
    to the sequential result (property-pinned): the round collects the
    top-B gains plus a trigram-derived bound on every candidate's
    created-pair gains (one extra hash-agg, scheduled only on rounds
    whose disjoint-only prefix could batch at all), and `_select_batch`
    takes the provably-safe prefix — pairwise symbol-disjoint, each
    gain strictly above all earlier created-pair bounds. Real
    vocabularies mix many disjoint frequent pairs, so rounds shrink
    from O(vocab) to O(vocab / effective-batch) at one extra scan per
    batched round (measured in SCALE.md's BPE section; widths past ~16
    buy nothing — the prefix stops at the first violation, so extra
    collected candidates are pure overhead).

    Checkpoint cadence: the r12 sweep (SCALE.md) measured cadence ∈
    {1, 2, 4, 8, "auto"} on the diversified 128→256-merge window at
    batch=16 and found a NEGATIVE result — all variants land within
    the ±10% session noise (fixed-1's one apparent 1.2× marginal win
    did not reproduce under interleaved A/B), because the bound is
    driver round latency, not lineage truncation. The default stays 4;
    `"auto"` (truncate immediately after any round that applied >1
    merge — the batch×-faster-lineage hypothesis — else every 4th)
    remains available and property-tested but buys nothing measured."""
    state = _initial_state(word_frequencies(docs, text_col)).localCheckpoint(
        eager=True
    )
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        width = min(batch, n_merges - len(merges))
        cands = (
            _pair_gains(state)
            .orderBy(F.desc("gain"), F.asc("l"), F.asc("r"))
            .limit(width)
            .collect()
        )
        if not cands:
            break
        if width > 1 and len(_select_batch(cands, {}, width)) > 1:
            # the trigram-bound job is only worth scheduling when the
            # disjoint-only prefix (bounds ignored) could batch at all —
            # character-level early rounds mostly share symbols, and a
            # width-1 round must cost exactly what sequential costs.
            # (An r11 experiment FUSED the bounds into the candidate agg
            # by keying it (l, r, next) — one scan serving both — and
            # measured 2.2× SLOWER: the fused agg has trigram
            # cardinality and runs every round, while this filtered
            # trigram job has candidate-adjacent cardinality and runs
            # only on batchable rounds. See SCALE.md's BPE section.)
            bounds = _created_pair_bounds(state, cands)
            taken = _select_batch(cands, bounds, width)
        else:
            taken = cands[:1]
        col = F.col("s")
        for b in taken:
            merges.append((len(merges) + 1, b.l, b.r, int(b.gain)))
            col = F.replace(
                col,
                F.lit("{" + b.l + "}{" + b.r + "}"),
                F.lit("{" + b.l + b.r + "}"),
            )
        state = state.withColumn("s", col)
        rounds += 1
        if checkpoint_every == "auto":
            if len(taken) > 1 or rounds % 4 == 0:
                state = state.localCheckpoint(eager=True)
        elif checkpoint_every and rounds % checkpoint_every == 0:
            state = state.localCheckpoint(eager=True)
    if stats is not None:
        stats["rounds"] = rounds
    return local_frame(
        state.sparkSession,
        merges,
        "rank long, left string, right string, gain long",
    )


def bpe_segment(
    df: DataFrame,
    word_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "pieces",
) -> DataFrame:
    """Apply trained merges to words → `out_col` as the array of BPE
    pieces. The merge list is a driver-side constant, so application is
    a chain of literal string replaces over the brace representation —
    no join, no UDF, fully codegen'd; cost is O(n_merges) substring
    scans per word (fine for vocabulary-sized merge lists; production
    tokenizers compile a trie, which is an encoding detail, not a plan
    shape)."""
    s = F.expr(
        f"concat('{{', array_join(transform(sequence(1, length({word_col})),"
        f" i -> substring({word_col}, i, 1)), '}}{{'), '}}')"
    )
    for left, right in merges:
        s = F.replace(
            s,
            F.lit("{" + left + "}{" + right + "}"),
            F.lit("{" + left + right + "}"),
        )
    pieces = F.split(
        F.expr(
            "substring(__s, 2, length(__s) - 2)"
        ),
        r"\}\{",
    )
    return df.withColumn("__s", s).withColumn(out_col, pieces).drop("__s")
