"""Spark SQL and DuckDB spellings of the same SQL, in one place.

Operators whose SQL body runs on Spark and is replayed by the DuckDB
oracle build the engine-specific pieces from these helpers, so each
spelling is written once with both renderings side by side. A helper
only changes spelling: the value it computes is the same on both
engines. Where the two engines run a different plan shape on purpose
(the Spark side reading a checkpointed view while the oracle keeps a
CTE), the operator keeps its own `dialect` branch.

`dialect` is "spark" or "duckdb" everywhere. The cross-engine string
hashes live in functions/texthash.py.
"""

from __future__ import annotations


def string_type(dialect: str) -> str:
    """The string type name for CAST."""
    return "STRING" if dialect == "spark" else "VARCHAR"


def materialized(dialect: str) -> str:
    """CTE materialization hint. DuckDB inlines plain CTEs per reference;
    the Spark side materializes shared stages as checkpointed views."""
    return "" if dialect == "spark" else "MATERIALIZED "


def broadcast(dialect: str, *aliases: str) -> str:
    """Broadcast-join hint for the given relation aliases (DuckDB has no
    hints; its planner picks build sides itself)."""
    if dialect != "spark":
        return ""
    return "/*+ " + ", ".join(f"BROADCAST({a})" for a in aliases) + " */ "


# -- arrays and row generators ----------------------------------------------
def explode(dialect: str, arr: str) -> str:
    """One output row per array element."""
    return f"explode({arr})" if dialect == "spark" else f"unnest({arr})"


def series(dialect: str, lo: str | int, hi: str | int) -> str:
    """Integer array lo..hi, both ends inclusive."""
    if dialect == "spark":
        return f"sequence({lo}, {hi})"
    return f"generate_series({lo}, {hi})"


def int_range(dialect: str, n: int) -> str:
    """Integer array 0..n-1."""
    return f"sequence(0, {n - 1})" if dialect == "spark" else f"range({n})"


def series_rows(dialect: str, lo: str | int, hi: str | int, col: str) -> str:
    """A one-column relation `col` holding lo..hi inclusive."""
    if dialect == "spark":
        return f"SELECT explode(sequence({lo}, {hi})) AS {col}"
    return f"SELECT {col} FROM generate_series({lo}, {hi}) AS t({col})"


def int_range_rows(dialect: str, n: int, col: str) -> str:
    """A one-column INT relation `col` holding 0..n-1 (DuckDB's range()
    is BIGINT, so it is cast down to Spark's sequence() type)."""
    if dialect == "spark":
        return f"SELECT explode(sequence(0, {n - 1})) AS {col}"
    return f"SELECT CAST(unnest(range({n})) AS INTEGER) AS {col}"


def array_filter(dialect: str, arr: str, lam: str) -> str:
    """Elements of `arr` for which the lambda holds."""
    if dialect == "spark":
        return f"filter({arr}, {lam})"
    return f"list_filter({arr}, {lam})"


def array_size(dialect: str, arr: str, duckdb_fn: str = "length") -> str:
    """Element count. DuckDB spells it `length` or its alias `len`."""
    return f"size({arr})" if dialect == "spark" else f"{duckdb_fn}({arr})"


def sorted_list_agg(dialect: str, expr: str) -> str:
    """Aggregate: every value of `expr` in the group, as a sorted array."""
    if dialect == "spark":
        return f"array_sort(collect_list({expr}))"
    return f"list_sort(list({expr}))"


def join_strings(dialect: str, arr: str, sep: str) -> str:
    """Concatenate a string array with the separator literal `sep`."""
    if dialect == "spark":
        return f"concat_ws({sep}, {arr})"
    return f"array_to_string({arr}, {sep})"


def ordered_string_agg(dialect: str, val: str, order: str) -> str:
    """Aggregate: the group's `val` column as text, comma-joined in
    `order` order (Spark sorts (order, val) structs and projects)."""
    if dialect == "spark":
        return (
            f"array_join(transform(array_sort(collect_list(struct({order}, {val}))), "
            f"s -> CAST(s.{val} AS STRING)), ',')"
        )
    return f"string_agg(CAST({val} AS VARCHAR), ',' ORDER BY {order})"


# -- strings -----------------------------------------------------------------
def split_ws(dialect: str, expr: str) -> str:
    """Whitespace tokens of `expr` (trimmed, split on runs of \\s)."""
    if dialect == "spark":
        return f"split(trim({expr}), '\\\\s+')"
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


def split_str(dialect: str, expr: str, sep: str) -> str:
    """Split `expr` on the literal separator `sep` (a SQL string literal
    with no regex metacharacters: Spark's split() takes a regex)."""
    if dialect == "spark":
        return f"split({expr}, {sep})"
    return f"string_split({expr}, {sep})"


# -- integer arithmetic and bits ---------------------------------------------
def int_div(dialect: str) -> str:
    """Integer-division operator."""
    return "DIV" if dialect == "spark" else "//"


def shl1(dialect: str, b: str) -> str:
    """BIGINT 1 << b."""
    if dialect == "spark":
        return f"shiftleft(CAST(1 AS BIGINT), CAST({b} AS INT))"
    return f"(CAST(1 AS BIGINT) << CAST({b} AS INT))"


def shr(dialect: str, x: str, b: str | int) -> str:
    """x >> b."""
    return f"shiftright({x}, {b})" if dialect == "spark" else f"({x} >> {b})"


def xor(dialect: str, a: str, b: str) -> str:
    """Bitwise a XOR b."""
    return f"({a} ^ {b})" if dialect == "spark" else f"xor({a}, {b})"


# -- dates -------------------------------------------------------------------
def hour(dialect: str, ts: str) -> str:
    return f"hour({ts})" if dialect == "spark" else f"EXTRACT(hour FROM {ts})"


def day_of_month(dialect: str, d: str) -> str:
    return f"day({d})" if dialect == "spark" else f"EXTRACT(day FROM {d})"


def datediff_days(dialect: str, start: str, end: str) -> str:
    """Whole days from `start` to `end`."""
    if dialect == "spark":
        return f"datediff({end}, {start})"
    return f"datediff('day', {start}, {end})"


# -- ORDER-PINNED IEEE-double folds ------------------------------------------
# The q66 migration recipe, applied engine-wide in round 7 (retiring every
# double->DECIMAL oracle device). Both engines fold the SAME packed array
# left to right (Spark aggregate()/zip_with() == DuckDB
# list_reduce()/list_zip()), so every intermediate double — and the
# emitted sum — is bit-identical by construction: float32 elements cast
# to double exactly, each product rounds once identically (IEEE mult is
# commutative and deterministic), each running sum rounds once
# identically. Spark's CAST(0 AS DOUBLE) init is bit-inert (0.0 + t == t
# for every t except -0.0, which would need an exact-zero first product —
# the gaussian corpus has none). The old per-term CAST(x AS
# DECIMAL(38,12)) device bought order-independence but inherited DuckDB's
# vectorized half-even double->decimal mis-rounding near half-ulp
# boundaries (pinned in
# tests/test_properties.py::test_duckdb_decimal_cast_misrounds...).
_ADD = "(acc, t) -> acc + t"


def fold_sum(dialect: str, arr: str, lam: str = _ADD) -> str:
    """Left fold of a double array with the two-argument lambda `lam`
    (default: the running sum)."""
    if dialect == "spark":
        return f"aggregate({arr}, CAST(0 AS DOUBLE), {lam})"
    return f"list_reduce({arr}, {lam})"


def array_transform(dialect: str, arr: str, lam: str) -> str:
    if dialect == "spark":
        return f"transform({arr}, {lam})"
    return f"list_transform({arr}, {lam})"


def element_at(dialect: str, arr: str, i: str) -> str:
    """1-based array element."""
    return f"element_at({arr}, {i})" if dialect == "spark" else f"{arr}[{i}]"


def fold_norm2(dialect: str, e: str) -> str:
    """Sum of squares of a packed float array."""
    sq = array_transform(dialect, e, "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)")
    return fold_sum(dialect, sq)


def _zip_terms(dialect: str, a: str, b: str, term: str) -> str:
    """Per-position `term` over two packed arrays; `term` is written over
    the placeholders {x} and {y} (the two elements, cast to double)."""
    if dialect == "spark":
        x, y = "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)"
        return f"zip_with({a}, {b}, (x, y) -> {term.format(x=x, y=y)})"
    x, y = "CAST(s[1] AS DOUBLE)", "CAST(s[2] AS DOUBLE)"
    return f"list_transform(list_zip({a}, {b}), s -> {term.format(x=x, y=y)})"


def fold_dot(dialect: str, a: str, b: str) -> str:
    """Dot product of two packed float arrays."""
    return fold_sum(dialect, _zip_terms(dialect, a, b, "{x} * {y}"))


def fold_l2(dialect: str, a: str, b: str) -> str:
    """Squared L2 distance of two packed float arrays (terms are >= 0,
    so the 0.0 init is bit-inert)."""
    return fold_sum(dialect, _zip_terms(dialect, a, b, "({x} - {y}) * ({x} - {y})"))


def ordered_sum(dialect: str, expr: str, order: str) -> str:
    """Aggregate: left fold of the group's `expr` values in `order`
    order (Spark sorts (order, value) structs and projects)."""
    if dialect == "spark":
        vals = (
            "transform(array_sort(collect_list("
            f"named_struct('p', {order}, 'v', {expr}))), x -> x.v)"
        )
    else:
        vals = f"list({expr} ORDER BY {order})"
    return fold_sum(dialect, vals)
