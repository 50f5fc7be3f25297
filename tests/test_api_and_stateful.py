"""API facade routes and SQL views (Q20)."""

from __future__ import annotations

import pytest

from ergo_uexplorer_spark import api
from ergo_uexplorer_spark.constants import EXCHANGE_PK
from ergo_uexplorer_spark.fixtures.chaingen import (
    ChainGen,
    p2pk_tree,
    write_jsonl_gz,
)
from ergo_uexplorer_spark.functions.crypto import _tree_to_address
from ergo_uexplorer_spark.pipeline import ingest_blocks

EXCHANGE_ADDR = _tree_to_address(p2pk_tree(EXCHANGE_PK))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("api_chain")
    gen = ChainGen(seed=5)
    gen.generate(150)
    return ingest_blocks(
        spark, write_jsonl_gz(gen.blocks, str(d / "c.jsonl.gz"))
    )


def test_route_enumeration():
    rs = api.routes()
    assert len(rs) == 2 * 3 * 7 + 6  # 42 box routes + block/stat/info
    assert "boxes/unspent/by-address" in rs
    assert "box-ids/spent/by-token-id" in rs


def test_top_tokens_route(tables):
    from ergo_uexplorer_spark.fixtures.chaingen import _hex

    top = api.endpoint(tables, "stats/top-tokens/by-box-count", limit=3).first()
    assert top["token_id"] == _hex("hot-token")  # the planted hot token


def test_registers_table(tables):
    regs = tables["registers"].toPandas()
    assert set(regs["register_id"]) >= {"R4", "R5", "R6"}
    # the full rendered-type surface (RegistersParser.scala:20-89):
    # simple, nested Coll, Option, symmetric tuple, SigmaProp→pk
    types = set(regs["sigma_type"].dropna())
    assert {
        "Coll[SByte]",
        "SInt",
        "SLong",
        "Option[SInt]",
        "Coll[Coll[SByte]]",
        "(SInt, SInt)",
        "SSigmaProp",
    } <= types
    # undecodable blobs keep raw with null decode (ExpandedRegister(raw, None))
    bad = regs[regs["raw"].str.startswith("xx")]
    assert len(bad) > 0
    assert bad["sigma_type"].isna().all() and bad["rendered"].isna().all()
    nested = regs[regs["sigma_type"] == "Coll[Coll[SByte]]"]["rendered"]
    assert nested.str.match(r"^\[[0-9a-f]+(,[0-9a-f]+)*\]$").all()
    opts = regs[regs["sigma_type"] == "Option[SInt]"]["rendered"]
    assert opts.isin(["null"]).any() or opts.str.isnumeric().any()


def test_sigma_register_roundtrip():
    """_decode_register inverts the fixture serializers exactly,
    rendering per renderEvaluatedValue (hex for Coll[Byte], decimal
    strings, [..] for nested/tuple, null for None, pk hex for
    SigmaProp); trailing bytes and garbage are decode failures."""
    from ergo_uexplorer_spark.fixtures.chaingen import (
        sigma_coll_byte,
        sigma_coll_coll_byte,
        sigma_int,
        sigma_long,
        sigma_option_int,
        sigma_pair_int,
        sigma_sigmaprop,
    )
    from ergo_uexplorer_spark.functions.crypto import _decode_register

    assert _decode_register(sigma_int(-250)) == ("SInt", "-250")
    assert _decode_register(sigma_int(0)) == ("SInt", "0")
    assert _decode_register(sigma_long(10**12)) == ("SLong", str(10**12))
    assert _decode_register(sigma_coll_byte(b"hello")) == (
        "Coll[SByte]",
        b"hello".hex(),
    )
    # 2-byte VLQ length (>127-byte payload)
    big = b"x" * 300
    assert _decode_register(sigma_coll_byte(big)) == ("Coll[SByte]", big.hex())
    assert _decode_register(sigma_option_int(None)) == ("Option[SInt]", "null")
    assert _decode_register(sigma_option_int(7)) == ("Option[SInt]", "7")
    assert _decode_register(sigma_coll_coll_byte([b"\xde\xad", b"\xbe\xef"])) == (
        "Coll[Coll[SByte]]",
        "[dead,beef]",
    )
    assert _decode_register(sigma_pair_int(3, 4)) == ("(SInt, SInt)", "[3,4]")
    pk = "02" + "ab" * 32
    assert _decode_register(sigma_sigmaprop(pk)) == ("SSigmaProp", pk)
    # --- remaining SigmaType kinds (RegistersParser.scala:60-79) ---
    from ergo_uexplorer_spark.fixtures.chaingen import (
        sigma_coll_bool,
        sigma_coll_int,
        sigma_group_element,
        sigma_pair_collbyte_int,
        sigma_pair_int_collbyte,
        sigma_tuple_n,
    )

    point = "03" + "cd" * 32
    assert _decode_register(sigma_group_element(point)) == (
        "SGroupElement",
        point,
    )
    assert _decode_register(sigma_pair_int_collbyte(-7, b"\x01\x02")) == (
        "(SInt, Coll[SByte])",
        "[-7,0102]",
    )
    assert _decode_register(sigma_pair_collbyte_int(b"\xff", 9)) == (
        "(Coll[SByte], SInt)",
        "[ff,9]",
    )
    assert _decode_register(sigma_tuple_n([1, -2, 3, 400])) == (
        "(SInt, SInt, SInt, SInt)",
        "[1,-2,3,400]",
    )
    assert _decode_register(sigma_coll_bool([True, False, True] * 4)) == (
        "Coll[SBoolean]",
        "[" + ",".join(["true", "false", "true"] * 4) + "]",
    )
    assert _decode_register(sigma_coll_int([5, -6])) == (
        "Coll[SInt]",
        "[5,-6]",
    )
    # SBox constant (code 63): valid type, unrendered data → raw kept
    assert _decode_register("63" + "ab" * 4) is None
    assert _decode_register("0e03aabbccdd") is None  # trailing byte
    assert _decode_register("0e05aabb") is None  # truncated payload
    assert _decode_register("xx00") is None  # not hex
    # EIP-4 decimals register: base-10 ASCII string, not a binary int
    assert _decode_register(sigma_coll_byte(b"2")) == ("Coll[SByte]", "32")


def test_every_box_route_resolves(tables):
    token = tables["tokens"].first()["token_id"]
    some_box = tables["boxes_main"].first()["box_id"]
    keys_for = {
        "by-address": [EXCHANGE_ADDR],
        "by-ergo-tree": [p2pk_tree(EXCHANGE_PK)],
        "by-ergo-tree-hash": [
            tables["boxes_main"].first()["ergo_tree_hash"]
        ],
        "by-ergo-tree-template": [],
        "by-ergo-tree-template-hash": [],
        "by-token-id": [token],
        "by-id": [some_box],
    }
    for route in api.routes():
        if not route.startswith(("boxes/", "box-ids/")):
            continue
        key_kind = route.split("/")[-1]
        df = api.endpoint(tables, route, keys=keys_for[key_kind])
        assert df.count() >= 0, route  # resolvable and runnable


def test_info_and_stats_routes(tables):
    assert api.endpoint(tables, "info").first()["last_height"] == 150
    top = api.endpoint(
        tables, "stats/top-addresses/by-box-count", limit=5
    ).first()
    assert top["address"] == EXCHANGE_ADDR
    assert api.endpoint(tables, "blocks/latest", limit=3).count() == 3
    with pytest.raises(ValueError):
        api.endpoint(tables, "nope/route")


def test_sql_views_q20(spark, tables):
    views = api.register_views(spark, tables)
    assert "utxo" in views and "blocks" in views
    row = spark.sql(
        """
        SELECT b.height, count(*) AS n
        FROM utxo u JOIN blocks b ON u.block_id = b.block_id
        GROUP BY b.height ORDER BY n DESC, b.height LIMIT 1
        """
    ).first()
    assert row["n"] > 0
    # eq-filter over a view pushes to the underlying scan-ish plan
    hash_ = tables["boxes_main"].first()["ergo_tree_hash"]
    n = spark.sql(
        f"SELECT count(*) AS n FROM boxes WHERE ergo_tree_hash = '{hash_}'"
    ).first()["n"]
    assert n >= 1
