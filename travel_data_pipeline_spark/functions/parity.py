"""Spark/DuckDB spellings that keep float results bit-identical.

Two pairs cover float SUMS, one per discipline:

- ``ordered_sum`` / ``ordered_sum_sql`` (ORDER-PINNED): a 0.0-seeded
  left fold over the group's values sorted by an explicit key, on both
  engines. Use it where the summed values are raw doubles whose result
  must be bit-identical: the addition order is fixed by the key, not
  by partitioning, so any shuffle width gives the same bits.
  ``ordered_fold`` is its array form, for a sorted list that feeds
  several sums (one ``collect_list``, several folds).
- ``rd_term`` / ``rd_term_sql`` (ORDER-FREE): round each term to 12 dp
  and sum as DECIMAL(38,12), exact and associative, so a plain
  ``SUM`` parallelises with no sort. Use it where the terms are
  bounded (|term| <= ~4e3) and a 1e-12 quantum per term is acceptable.

Rounding:

DuckDB's ``round(DOUBLE, n)`` scales by 10^n in BINARY; the multiply
error can carry a value across a .5 boundary its true decimal
expansion is under (observed: round(37.164888499999996, 6) ->
37.164889). Spark's ``F.round`` is ``BigDecimal.valueOf(x)`` — the
SHORTEST roundtrip decimal rendering — ``.setScale(n, HALF_UP)``,
which respects the true expansion (-> 37.164888).

``format('{}', x)`` is DuckDB's shortest-roundtrip formatter (matching
Java's Double.toString), so parsing it into a DECIMAL and rounding
there reproduces Spark bit-for-bit: DuckDB's decimal round is
half-away-from-zero == Java HALF_UP on both signs.

Use for oracle OUTPUT columns whose doubles are "dirty" (recurrence
folds, integer/decimal ratios — values that land near x.5*10^-n far
more often than uniform doubles). Bounded to |x| < 1e20 by the
DECIMAL(38,18) parse — fine for every value this engine rounds.

MAGNITUDE HAZARD (found round 8, james_stein se2): for |x| > ~4e9
one double ulp exceeds 1e-6, so SEVERAL 17-18-digit renderings
roundtrip and DuckDB's format('{{}}') can legally pick a different
one than Java's Double.toString (observed: the same bits rendered
'...734653' by Java and '...734652' by DuckDB), which then rounds
differently at 6 dp. round(x, 6) parity is therefore only guaranteed
for |x| < ~4e9 — keep rounded double outputs under that (report
sqrt/scaled units for variance-magnitude quantities). The related
hazard: decimal->double CASTS whose scaled value exceeds 2^53 can
differ by an ulp between engines — bridge through the exact decimal
STRING (CAST(x AS VARCHAR) -> DOUBLE; both engines parse correctly
rounded).
"""

from __future__ import annotations


def round_sql(expr: str, n: int = 6) -> str:
    """Spark-parity ROUND(expr, n) for DuckDB oracle SQL."""
    return (f"CAST(round(CAST(format('{{}}', {expr}) AS DECIMAL(38,18)), "
            f"{n}) AS DOUBLE)")


def rd_term_sql(expr: str, n: int = 12) -> str:
    """Rounded-decimal term for ORDER-FREE float sums (DuckDB side):
    Spark-parity round to ``n`` dp, then DECIMAL(38,n) so the SUM is
    exact and associative on any partitioning / executor count — the
    100 TB float-reduction pattern, determinism-certified at 200M rows
    (tools/stress_decsum.py). Lossless round-trip for |expr| <= ~4e3
    at n=12."""
    return f"CAST({round_sql(expr, n)} AS DECIMAL(38,{n}))"


def rd_term(col, n: int = 12):
    """Spark twin of :func:`rd_term_sql`."""
    from pyspark.sql import functions as F

    return F.round(col, n).cast(f"decimal(38,{n})")


_OSV = "_osv"  # the summed value's field in ordered_sum's struct


def ordered_sum_sql(value: str, order: str) -> str:
    """ORDER-PINNED float sum (DuckDB side): 0.0-seeded left fold of
    ``value`` in ``order``. The seed makes an empty (all-filtered)
    group 0.0, as Spark's fold gives, where a bare ``list_reduce``
    raises or returns NULL."""
    return (f"list_reduce(list_prepend(0.0, list({value} ORDER BY {order})), "
            "(x, y) -> x + y)")


def ordered_fold(arr, value):
    """0.0-seeded left fold over a sorted struct array — the array form
    of :func:`ordered_sum`, for a sorted list that feeds several sums.
    ``value`` names the summed field, or maps an element to its term
    (``lambda r: r["a"] * r["b"]``)."""
    from pyspark.sql import functions as F

    term = value if callable(value) else (lambda r: r[value])
    return F.aggregate(arr, F.lit(0.0), lambda a, r: a + term(r))


def ordered_sum(value, *order):
    """Spark twin of :func:`ordered_sum_sql`: the aggregate that sorts
    the group's ``struct(*order, value)`` and folds ``value`` from
    0.0. Ties on ``order`` are broken by ``value`` itself, so the bits
    do not depend on arrival order."""
    from pyspark.sql import functions as F

    if isinstance(value, str):
        value = F.col(value)
    return ordered_fold(
        F.array_sort(F.collect_list(F.struct(*order, value.alias(_OSV)))),
        _OSV)
