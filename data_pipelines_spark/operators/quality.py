"""Declarative data-quality validation: dbt-test / expectations-style
checks as native Spark aggregations.

The reference enforces its data contracts implicitly — `dropna` after
raster flattening, `!= 'G'` filters, emptiness short-circuits
(`discharge.py:260-261`) — and its tests hand-roll golden comparisons.
A production pipeline wants those contracts declared once and measured
continuously; this module provides the four families that cover the
overwhelming majority of real rules:

- row-level predicates (not-null, range, accepted values, custom
  boolean) — fused into ONE conditional-count aggregation, a single
  pass over the table no matter how many rules;
- key uniqueness — one groupBy on the key, counting groups with >1 row;
- referential integrity — left-anti join against the dimension,
  counting orphans;
- volume — plain row-count bounds.

Everything returns/consumes DataFrames; `validate` emits one row per
rule `(rule, violations, total, passed)` so the report can be sunk,
alerted on, or asserted in CI. Scale shape: row-level rules cost one
map-side-combined scan; uniqueness one shuffle on the key; each FK one
join (broadcast when the dimension is small). Nothing is collected.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(col: str) -> tuple[str, Column]:
    return (f"not_null:{col}", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    return (
        f"in_range:{col}[{lo},{hi}]",
        F.col(col).isNull() | F.col(col).between(F.lit(lo), F.lit(hi)),
    )


def accepted_values(col: str, values: Sequence) -> tuple[str, Column]:
    return (
        f"accepted:{col}",
        F.col(col).isNull() | F.col(col).isin(list(values)),
    )


def expect(name: str, predicate: Column) -> tuple[str, Column]:
    """Custom row-level rule: rows where ``predicate`` is false (or
    NULL) count as violations."""
    return (name, predicate)


def check_rows(df: DataFrame, rules: Sequence[tuple[str, Column]]) -> DataFrame:
    """All row-level rules in ONE aggregation pass: each rule becomes a
    conditional count of rows failing its predicate (NULL predicate =
    violation, the conservative reading)."""
    aggs = [
        F.coalesce(
            F.sum(
                F.when(F.coalesce(pred, F.lit(False)), F.lit(0)).otherwise(F.lit(1))
            ),
            F.lit(0),
        ).alias(name)
        for name, pred in rules
    ]
    row = df.agg(F.count(F.lit(1)).alias("__total"), *aggs)
    names = [name for name, _ in rules]
    stacked = row.select(
        F.col("__total"),
        F.expr(
            "stack({n}, {pairs}) as (rule, violations)".format(
                n=len(names),
                pairs=", ".join(f"'{n}', `{n}`" for n in names),
            )
        ),
    )
    return stacked.select(
        "rule",
        F.col("violations").cast("long").alias("violations"),
        F.col("__total").cast("long").alias("total"),
        (F.col("violations") == 0).alias("passed"),
    )


def check_unique(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """One row: number of key values owned by more than one row.

    NULL semantics: GROUP BY groups NULL keys together, so two rows
    with a NULL key count as duplicates — the dbt `unique`-test
    reading, which treats the column as an identifier that must be
    both present and distinct. ANSI UNIQUE constraints instead exempt
    NULL keys; under that contract, pair this with a `not_null` rule
    (as the quality_report suite entry does) or pre-filter NULLs.
    """
    keys = list(key_cols)
    dupes = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .agg(
            F.count(F.lit(1)).alias("dup_keys"),
            F.coalesce(F.sum("__n"), F.lit(0)).alias("dup_rows"),
        )
    )
    total = df.agg(F.count(F.lit(1)).alias("total"))
    return dupes.join(F.broadcast(total)).select(
        F.lit(f"unique:{','.join(keys)}").alias("rule"),
        F.col("dup_rows").cast("long").alias("violations"),
        F.col("total").cast("long").alias("total"),
        (F.col("dup_keys") == 0).alias("passed"),
    )


def check_foreign_key(
    df: DataFrame,
    cols: Sequence[str],
    dim: DataFrame,
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """One row: count of fact rows whose key has no match in the
    dimension — a left-anti join, broadcast when the dimension is small
    (Catalyst/AQE decide).

    Null handling follows SQL FOREIGN KEY *simple match*: only rows
    with ALL key columns non-null are checked; any null component
    exempts the row (composite keys included). A partially-null key can
    therefore never be an orphan — matching ANSI and Delta/DBT
    relationship-test semantics.
    """
    fcols = list(cols)
    dcols = list(dim_cols or cols)
    d = dim.select(
        *[F.col(dc).alias(fc) for fc, dc in zip(fcols, dcols)]
    ).distinct()
    all_non_null = F.lit(True)
    for c in fcols:
        all_non_null = all_non_null & F.col(c).isNotNull()
    present = df.where(all_non_null)
    orphans = present.join(d, fcols, "left_anti").agg(
        F.count(F.lit(1)).alias("orphans")
    )
    total = df.agg(F.count(F.lit(1)).alias("total"))
    return orphans.join(F.broadcast(total)).select(
        F.lit(f"foreign_key:{','.join(fcols)}").alias("rule"),
        F.col("orphans").cast("long").alias("violations"),
        F.col("total").cast("long").alias("total"),
        (F.col("orphans") == 0).alias("passed"),
    )


def validate(
    df: DataFrame,
    row_rules: Sequence[tuple[str, Column]] = (),
    unique_keys: Sequence[Sequence[str]] = (),
    foreign_keys: Sequence[tuple[Sequence[str], DataFrame, Sequence[str] | None]] = (),
) -> DataFrame:
    """Full validation report: one row per rule
    ``(rule, violations, total, passed)``."""
    reports = []
    if row_rules:
        reports.append(check_rows(df, row_rules))
    for keys in unique_keys:
        reports.append(check_unique(df, keys))
    for cols, dim, dcols in foreign_keys:
        reports.append(check_foreign_key(df, cols, dim, dcols))
    if not reports:
        raise ValueError("no rules given")
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def profile_numeric(
    df: DataFrame, cols: Sequence[str], exact: bool = False, accuracy: int = 10000
) -> DataFrame:
    """One-pass numeric profile: per column
    ``(column, n, n_null, min, max, mean, stddev, p25, p50, p75)`` —
    the summary a pipeline owner reads before writing quality rules
    (range bounds from observed quartiles, null budgets from n_null).
    NULLs are excluded from every statistic (all-NULL columns report
    NULL stats, never an error); NaN values propagate IEEE-style into
    min/max/mean — profile floats suspected of NaNs with a
    ``check_rows`` ``isnan`` rule first (probed live).

    ALL columns' statistics compute in a single aggregation (one scan,
    map-side partial aggregation). Quartiles default to
    ``approx_percentile`` — a bounded-memory KLL-style sketch whose
    buffer never holds the data, the only shape that survives a global
    aggregate over a 100 TB table. ``exact=True`` opts into exact
    ``percentile`` (the final reducer buffers every value of every
    profiled column — small-table / audit use only).
    ``accuracy`` tunes the sketch (error ~ 1/accuracy of rank). Values
    are profiled as DOUBLE.
    """
    names = list(cols)
    qs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    aggs = []
    for c in names:
        v = F.col(c).cast("double")
        quart = (
            F.percentile(v, qs)
            if exact
            else F.approx_percentile(v, qs, F.lit(accuracy))
        )
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.coalesce(F.sum(F.when(v.isNull(), 1).otherwise(0)), F.lit(0)).alias(
                f"__nn_{c}"
            ),
            F.min(v).alias(f"__min_{c}"),
            F.max(v).alias(f"__max_{c}"),
            F.avg(v).alias(f"__mean_{c}"),
            F.stddev_samp(v).alias(f"__std_{c}"),
            quart.alias(f"__q_{c}"),
        ]
    row = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"__n_{c}").cast("long").alias("n"),
            F.col(f"__nn_{c}").cast("long").alias("n_null"),
            F.col(f"__min_{c}").alias("min"),
            F.col(f"__max_{c}").alias("max"),
            F.col(f"__mean_{c}").alias("mean"),
            F.col(f"__std_{c}").alias("stddev"),
            F.col(f"__q_{c}")[0].alias("p25"),
            F.col(f"__q_{c}")[1].alias("p50"),
            F.col(f"__q_{c}")[2].alias("p75"),
        )
        for c in names
    ]
    return row.select(F.explode(F.array(*per_col)).alias("s")).select("s.*")


def profile_categorical(
    df: DataFrame, cols: Sequence[str], top_k: int = 10
) -> DataFrame:
    """Categorical profile: the ``top_k`` most frequent values per
    column with counts, share, and distinct cardinality —
    ``(column, value, cnt, frac, n_distinct, rank)`` — the summary a
    pipeline owner reads before writing ``accepted_values`` rules (and
    the skew report for a prospective partition/shuffle key; frequency
    share near 1/shuffle-partitions means one reducer carries that
    value alone — same reading as :func:`plans.skew.diagnose_skew`).

    Values profile as strings; NULL is reported as its own value (its
    count is usually the first question asked). Plan shape per column:
    one map-side-combined count aggregation, a TakeOrdered head for the
    top-k (no global sort), and a 1-row distinct-count broadcast —
    nothing data-sized crosses to the driver. Columns profile
    independently (one shuffle each, concurrent under the scheduler);
    heads are rank-ordered with a deterministic value tie-break.
    """
    if top_k <= 0:
        raise ValueError(f"top_k must be positive, got {top_k}")
    from pyspark.sql import Window

    outs = []
    for c in cols:
        v = F.col(c).cast("string")
        counts = df.select(v.alias("__v")).groupBy("__v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        totals = counts.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).alias("__total"),
            F.count(F.lit(1)).alias("__distinct"),
        )
        head = counts.orderBy(
            F.desc("cnt"), F.asc_nulls_last("__v")
        ).limit(top_k)
        w = Window.orderBy(F.desc("cnt"), F.asc_nulls_last("__v"))
        outs.append(
            head.crossJoin(F.broadcast(totals)).select(
                F.lit(c).alias("column"),
                F.col("__v").alias("value"),
                F.col("cnt").cast("long").alias("cnt"),
                F.when(
                    F.col("__total") > 0,
                    F.round(
                        F.col("cnt").cast("double") / F.col("__total"), 6
                    ),
                ).alias("frac"),
                F.col("__distinct").cast("long").alias("n_distinct"),
                F.row_number().over(w).cast("long").alias("rank"),
            )
        )
    if not outs:
        raise ValueError("no columns given")
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
