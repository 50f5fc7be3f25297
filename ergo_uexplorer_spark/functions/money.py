"""Keep-going money semantics: quarantine instead of refusal.

The suite's integer-exact money contract is REFUSAL: under Spark's
default ANSI mode `round(x).cast(bigint)` throws on NaN/±Inf, DuckDB's
`CAST(round(x) AS BIGINT)` raises ConversionException on the same
inputs, and the dirty-twin sweep verifies the refusals agree two-sided
(35 entries). That is the right default for money — garbage in, loud
refusal out — but a pipeline consumer who wants the job to FINISH on a
corrupted source needs the quarantine alternative: accepted rows
aggregate exactly as the strict entry would, refused rows are excluded
and COUNTED by reason (r10 VERDICT next-round #6).

`money_reason` labels a row from the numeric columns it contributes:
'nan' if any is NaN, else 'inf' if any is ±Inf, else — when the caller
passes the SCALED expressions its casts actually consume via `scaled=`
— 'overflow' if any scaled value is non-finite or past the int64
range, else NULL (accepted — plain NULLs are ordinary missing data,
skipped by SQL aggregates identically on both engines, NOT
quarantined).

The 'overflow' lane exists because finiteness of the RAW columns does
not make the CAST total (r11 ADVICE): a finite price of 1e307 scales
to 1e309 = +Inf under ×100 (Spark's guarded cast silently NULLed it —
excluded from the sum yet counted in n_lines — while DuckDB's
CAST(round(...)) threw), and a finite 1e17 scales to 1e19 > 2^63-1,
which throws on BOTH engines despite the keep-going contract. The
reason label is therefore computed from the SAME scaled expression the
cast consumes: both engines evaluate the identical IEEE-754 double
chain, so the label agrees bit-for-bit. The int64 bound is tested as
`abs(v) >= 2^63` WITHOUT rounding first — exactly equivalent for
doubles (every double ≥ 2^52 is already an integer, and below 2^52
round(v) can never reach 2^63) and it avoids evaluating round() on
±Inf inside a non-short-circuiting OR chain.

Every label is engine-mirrorable: `money_reason_sql` emits the DuckDB
predicate with the same NULL-totality (Spark's isnan(NULL) is false
and DuckDB's CASE needs the coalesce, so both sides route a NULL
through to 'accepted').

Reference frame: the reference stores money as integer nanoERG end to
end (explorer-core Models — value: Long), so it has no non-finite
lane at all; these twins are what its semantics degrade to when the
source is a float-typed lake column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_INF = float("inf")
# 2^63 as a double — exact (power of two). A double v with
# abs(v) < 2^63 always casts to int64 without overflow (the largest
# such double is 2^63 - 1024 ≤ int64 max); abs(v) == 2^63 does not
# (except exactly -2^63, conservatively quarantined for symmetry on
# both engines).
_I64_EDGE = float(2**63)
_I64_EDGE_SQL = "9.223372036854775808e18"


def money_reason(*cols: Column, scaled: tuple = ()) -> Column:
    """'nan' | 'inf' | 'overflow' | NULL quarantine label over the
    row's money columns. NULL inputs never trip a reason (Spark
    isnan(NULL) is false; abs(NULL) comparisons are NULL, and a NULL
    `when` condition is not taken) — they stay accepted and null-skip
    in the aggregates downstream, the same as DuckDB. Pass the SCALED
    expressions the downstream casts consume via `scaled=` so
    finite-raw rows whose products overflow the double or int64 range
    are quarantined (labelled 'overflow') instead of desynchronizing
    the engines at the cast."""
    any_nan = None
    any_inf = None
    for c in cols:
        n = F.isnan(c.cast("double"))
        i = F.abs(c.cast("double")) == F.lit(_INF)
        any_nan = n if any_nan is None else (any_nan | n)
        any_inf = i if any_inf is None else (any_inf | i)
    any_ovf = None
    for e in scaled:
        v = e.cast("double")
        b = F.isnan(v) | (F.abs(v) >= F.lit(_I64_EDGE))
        any_ovf = b if any_ovf is None else (any_ovf | b)
    out = F.when(any_nan, F.lit("nan")).when(any_inf, F.lit("inf"))
    if any_ovf is not None:
        out = out.when(any_ovf, F.lit("overflow"))
    return out.otherwise(F.lit(None).cast("string"))


def money_reason_sql(*cols: str, scaled: tuple = ()) -> str:
    """DuckDB mirror of `money_reason` — same labels, same NULL
    totality (coalesce(x, 0) makes isnan/abs total over NULLs so a
    NULL column cannot poison the OR chain into NULL). The overflow
    branch evaluates the identical scaled double expression Spark
    labels from, so the engines agree bit-for-bit."""
    nan = " OR ".join(f"isnan(coalesce({c}, 0))" for c in cols)
    inf = " OR ".join(f"NOT isfinite(coalesce({c}, 0))" for c in cols)
    out = f"CASE WHEN {nan} THEN 'nan' WHEN {inf} THEN 'inf'"
    if scaled:
        ovf = " OR ".join(
            f"isnan(coalesce(CAST(({e}) AS DOUBLE), 0))"
            f" OR abs(coalesce(CAST(({e}) AS DOUBLE), 0))"
            f" >= {_I64_EDGE_SQL}"
            for e in scaled
        )
        out += f" WHEN {ovf} THEN 'overflow'"
    return out + " END"


def accepted_cents(c: Column, scale: int = 100) -> Column:
    """Exact integer cents over an ACCEPTED (reason IS NULL) row. The
    when-guard keeps the cast total even if Catalyst re-orders the
    projection past the quarantine filter — the zwc lesson: under ANSI
    the cast itself must be total, 'it's filtered later' is unsound.
    Totality covers the full refusal surface: NaN, and any |v| ≥ 2^63
    (which subsumes ±Inf AND the finite-but-past-int64 lane — r11
    ADVICE)."""
    v = c.cast("double") * scale if scale != 1 else c.cast("double")
    return F.when(
        ~F.isnan(v) & (F.abs(v) < F.lit(_I64_EDGE)),
        F.round(v).cast("bigint"),
    )
