"""Round-7 operator tests: fuzzy match, integer EWMA, linear
interpolation, transition counts, Benford digits, assortativity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ergo_uexplorer_spark.operators.cumulative import (
    ewma_int,
    transition_counts,
)
from ergo_uexplorer_spark.operators.graph import degree_assortativity_stats
from ergo_uexplorer_spark.operators.joins import (
    fuzzy_match_pairs,
    linear_interpolate,
)
from ergo_uexplorer_spark.operators.stats import benford_first_digit


def test_fuzzy_match_blocks_and_distance(spark):
    df = spark.createDataFrame(
        [
            (1, "small ring", 5),
            (2, "small rings", 5),  # dist 1 to id 1, same block
            (3, "small ring", 7),  # same name, DIFFERENT block → no pair
            (4, "large ring", 5),  # different first token → no pair
            (5, "small rxyz", 5),  # dist 3 to id 1
        ],
        "id long, name string, size int",
    )
    d = df.withColumn("tok1", F.split("name", " ")[0])
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_match_pairs(
            d, "id", "name", ["size", "tok1"], max_dist=3
        ).collect()
    }
    # blocked pairs only (ids 3/4 fall outside block), each once, a<b;
    # (2,5) = "small rings"→"small rxyz" is distance 4 → filtered
    assert got == {(1, 2, 1), (1, 5, 3)}
    assert all(a < b for a, b, _ in got)
    assert not any({3, 4} & {a, b} for a, b, _ in got)


def test_ewma_matches_python_reference(spark):
    rows = [
        (1, 1, 100),
        (1, 2, 200),
        (1, 3, 50),
        (2, 1, 7),
        (3, 1, 10),
        (3, 2, 0),
    ]
    df = spark.createDataFrame(rows, "g long, t long, v long")
    got = {
        r.g: (r.n, r.ewma)
        for r in ewma_int(df, "g", ["t"], "v", a_num=1, a_den=4).collect()
    }

    def ref(vals):
        s = vals[0]
        for v in vals[1:]:
            s = (1 * v + 3 * s) // 4
        return s

    assert got == {
        1: (3, ref([100, 200, 50])),
        2: (1, 7),
        3: (2, ref([10, 0])),
    }


def test_linear_interpolate_exact_lerp(spark):
    df = spark.createDataFrame(
        [(1, 0, 0), (1, 4, 100), (1, 5, 7), (2, 3, 42)],
        "k long, b long, v long",
    )
    out = {
        (r.k, r.b): (r.v, r.observed)
        for r in linear_interpolate(df, "k", "b", "v").collect()
    }
    # gap buckets 1..3 interpolate 0→100 over 4 steps: 25, 50, 75
    assert out[(1, 0)] == (0, True)
    assert out[(1, 1)] == (25, False)
    assert out[(1, 2)] == (50, False)
    assert out[(1, 3)] == (75, False)
    assert out[(1, 4)] == (100, True)
    assert out[(1, 5)] == (7, True)  # observed rows never rewritten
    assert out[(2, 3)] == (42, True)  # single-point key: no grid growth
    assert len(out) == 7


def test_linear_interpolate_null_key_join_miss(spark):
    """NULL-key rows reproduce the grid-LEFT-JOIN formulation (and the
    zy3 oracle): a NULL equi-key never matches, so every NULL-key grid
    row carries NULL value and observed=false — no LOCF carry, no lerp
    (r12 dirty-sweep catch: the window-based rewrite treated NULL as a
    real partition and marked its observations observed=true)."""
    df = spark.createDataFrame(
        [(None, 0, 10), (None, 2, 30), (1, 5, 7)],
        "k long, b long, v long",
    )
    out = {
        (r.k, r.b): (r.v, r.observed)
        for r in linear_interpolate(df, "k", "b", "v").collect()
    }
    assert out[(None, 0)] == (None, False)
    assert out[(None, 1)] == (None, False)  # no lerp across NULL key
    assert out[(None, 2)] == (None, False)
    assert out[(1, 5)] == (7, True)
    assert len(out) == 4


def test_linear_interpolate_span_guard(spark):
    df = spark.createDataFrame(
        [(1, 0, 1), (1, 10**10, 2)], "k long, b long, v long"
    )
    with pytest.raises(Exception, match="max_span"):
        linear_interpolate(df, "k", "b", "v").count()


def test_transition_counts(spark):
    df = spark.createDataFrame(
        [
            (1, 1, "a"),
            (1, 2, "b"),
            (1, 3, "a"),
            (2, 1, "a"),
            (2, 2, "b"),
            (3, 5, "c"),  # single event: no transition
        ],
        "u long, t long, s string",
    )
    got = {
        (r.state_from, r.state_to): r.n
        for r in transition_counts(df, "u", ["t"], "s").collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 1}


def test_benford_digits_string_exact(spark):
    df = spark.createDataFrame(
        [("x", 123), ("x", 19), ("x", 987), ("x", 0), ("y", 5)],
        "g string, v long",
    )
    got = {
        (r.g, r.digit): (r.n, r.permille)
        for r in benford_first_digit(df, "g", "v").collect()
    }
    # v=0 excluded; x has digits 1,1,9 → 1:666‰, 9:333‰
    assert got == {
        ("x", 1): (2, 666),
        ("x", 9): (1, 333),
        ("y", 5): (1, 1000),
    }


def test_assortativity_path_graph(spark):
    # path 1-2-3: degrees d1=1, d2=2, d3=1; directed pairs (both
    # orientations): (1,2),(2,1),(2,3),(3,2)
    e = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    row = degree_assortativity_stats(e).collect()[0]
    assert row.m == 4
    assert row.sum_j == 1 + 2 + 2 + 1
    assert row.sum_k == 2 + 1 + 1 + 2
    assert row.sum_jk == str(2 + 2 + 2 + 2)
    assert row.sum_j2 == str(1 + 4 + 4 + 1)
    assert row.sum_k2 == str(4 + 1 + 1 + 4)


def test_ewma_states_per_row(spark):
    from ergo_uexplorer_spark.operators.cumulative import ewma_states

    df = spark.createDataFrame(
        [(1, 1, 100), (1, 2, 200), (1, 3, 50)], "g long, t long, v long"
    )
    rows = {
        r.t: (r.v, r.s, r.resid)
        for r in ewma_states(df, "g", ["t"], "v").collect()
    }
    # s1=100, s2=(200+300)//4=125, s3=(50+375)//4=106
    assert rows == {
        1: (100, 100, 0),
        2: (200, 125, 75),
        3: (50, 106, -56),
    }
