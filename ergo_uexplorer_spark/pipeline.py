"""End-to-end batch ingest pipeline (SURVEY §3.1, Spark shape):

    read JSON-lines blocks → normalize (T1/T2) → resolve main chain
    (C2/C3) → cumulative Block table (T3-T5) → UTXO + address stats
    (C4/C5, Q14/Q15) → graph edges (P2)

The reference runs this as a ZIO stream with imperative state; here it is
one declarative DAG — forks are handled by recomputing `main_chain`
rather than rollback, so re-running over any block superset is
idempotent and deterministic (same winning chain ⇒ same tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import normalize as N
from .operators.blockstats import build_block_table
from .operators.chain import resolve_main_chain
from .operators.utxo import address_stats, utxo, with_spent_height
from .sources.blocks import read_blocks


def materialize_tables(
    tables: dict[str, DataFrame],
    names: tuple[str, ...] = ("blocks", "utxo", "address_stats"),
    writer=None,
    concurrent: bool = True,
) -> None:
    """Materialize INDEPENDENT gold outputs of one ingest, overlapping
    their jobs from a small thread pool (guide §2.6: actions are only
    sequential because driver code calls them sequentially; the next
    sink's tasks back-fill executors freed by the previous sink's
    tail). This is the engine-side home of the overlap the r12 bench
    prototyped in bench.py (r12 VERDICT item 3): an ingest that fans
    out to several gold tables should overlap their materialization
    wherever they land, not only in a benchmark harness.

    `writer(name, df)` performs the actual materialization (defaults
    to a noop-sink write — callers doing real output pass e.g.
    ``lambda n, df: storage.write_lakehouse(df, n)``). Safe for tables
    sharing a persisted upstream (the `cache='raw'` posture): Spark's
    block-manager cache fill is per-partition locked, so concurrent
    consumers still decode each source partition exactly once.
    `concurrent=False` is the sequential escape hatch (same work, same
    results — only the overlap differs); job descriptions are
    thread-local, so each sink stays labelled in the UI."""
    from concurrent.futures import ThreadPoolExecutor

    if writer is None:

        def writer(name: str, df: DataFrame) -> None:
            df.write.format("noop").mode("overwrite").save()

    def _sink(name: str) -> None:
        df = tables[name]
        df.sparkSession.sparkContext.setJobDescription(f"ingest sink: {name}")
        writer(name, df)

    if not concurrent or len(names) <= 1:
        for name in names:
            _sink(name)
        return
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        list(pool.map(_sink, names))


def ingest_blocks(
    spark: SparkSession,
    path: str,
    from_height: int | None = None,
    cache: bool | str = False,
) -> dict[str, DataFrame]:
    """`cache` ∈ {False, True/'silver', 'raw'} — see `ingest_raw`.
    'raw' persists the decoded block rows, so gzip+Jackson runs ONCE for
    the whole fan-out (measured best-of-2 on the 4200-block bench:
    raw 4.5 s vs silver 6.0 s vs none ~6.5 s); the caller unpersists via
    the returned `raw` entry."""
    raw = read_blocks(spark, path, from_height)
    if cache == "raw":
        raw = raw.persist()
        tables = ingest_raw(raw, cache=False)
        tables["raw"] = raw
        return tables
    return ingest_raw(raw, cache=bool(cache))


def ingest_raw(raw: DataFrame, cache: bool = False) -> dict[str, DataFrame]:
    """`cache=True` persists the shared SILVER fact tables
    (MEMORY_AND_DISK) before the gold outputs fan out; callers own the
    unpersist. Each silver table still re-reads the source to fill its
    own cache, so when the source is compressed JSON the better bench
    posture is `ingest_blocks(cache='raw')` — one decompress+decode
    pass, silver re-derivation is cheap column work. Both default off
    because at production scale the right posture is materializing
    silver with `storage.write_lakehouse` and reading gold inputs back —
    durable, shareable, and it survives executor loss, which a .persist
    does not.

    The normalized frames (`headers`, `transactions`, `inputs`,
    `boxes`, ...) keep the rows of every block. The `*_main` tables,
    the gold tables, `assets` and `tokens` keep main-chain rows only,
    as the reference writes them. `boxes_main` carries `spent_height`,
    the lowest height of a main-chain input that spends the box (null
    while it is live), so the box routes answer liveness with a
    filter; `blocks` and `utxo` read the on-main boxes without it."""
    tables = N.normalize(raw)
    hdrs = resolve_main_chain(tables["headers"])
    main_ids = hdrs.filter("main_chain").select("block_id")

    def on_main(df: DataFrame) -> DataFrame:
        # block-id dimension join: at chain scale this is a ~64 MB dim for
        # 1M blocks — broadcast; AQE falls back to shuffle if it grows
        return df.join(F.broadcast(main_ids), "block_id", "left_semi")

    headers_main = hdrs.filter("main_chain")
    tx_main = on_main(tables["transactions"])
    boxes_on_main = on_main(tables["boxes"])
    inputs_main = on_main(tables["inputs"])
    if cache:
        headers_main = headers_main.persist()
        tx_main = tx_main.persist()
        boxes_on_main = boxes_on_main.persist()
        inputs_main = inputs_main.persist()

    utxo_df = utxo(boxes_on_main, inputs_main)
    result = dict(tables)
    result.update(
        {
            "headers": hdrs,
            "headers_main": headers_main,
            "transactions_main": tx_main,
            "boxes_main": with_spent_height(boxes_on_main, inputs_main),
            "inputs_main": inputs_main,
            "assets": on_main(tables["assets"]),
            "tokens": on_main(tables["tokens"]),
            "blocks": build_block_table(
                headers_main, tx_main, boxes_on_main
            ),
            "utxo": utxo_df,
            "address_stats": address_stats(utxo_df),
        }
    )
    return result
