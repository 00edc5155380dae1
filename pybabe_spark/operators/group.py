"""Grouped aggregation: reducer → agg mapping + applyInPandas escape hatch.

Reference: pybabe/group.py — sort-based group-by on one key with a
``Reducer`` (function ``(key, rows) → row(s)`` or begin/row/end object).
Spark-first: expressible reducers become ``groupBy().agg(...)`` (hash
aggregation with map-side partials — no sort, one shuffle); arbitrary
Python reducers become ``applyInPandas`` (Arrow-batched grouped map).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pybabe_spark.operators._util import gen_col
from pybabe_spark.sources.io import INGEST_ID

#: Named aggregations accepted by the string shorthand.
_AGGS: dict[str, Callable[[str], Column]] = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
    "avg": F.avg,
    "mean": F.avg,
    "first": F.first,
    "last": F.last,
    "count_distinct": F.count_distinct,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
    "stddev": F.stddev,
    "variance": F.variance,
    "median": F.median,
}


def _build_aggs(aggregations: Mapping[str, tuple[str, str] | Column]) -> list[Column]:
    """{out_name: ('sum', 'col') | Column} → aliased agg Columns."""
    cols = []
    for out_name, spec in aggregations.items():
        if isinstance(spec, Column):
            cols.append(spec.alias(out_name))
        else:
            fn_name, col = spec
            try:
                fn = _AGGS[fn_name]
            except KeyError:
                raise ValueError(f"unknown aggregation {fn_name!r}") from None
            cols.append(fn(col).alias(out_name))
    return cols


def group(
    df: DataFrame,
    key: str | Sequence[str],
    aggregations: Mapping[str, tuple[str, str] | Column] | None = None,
    reducer: Callable | None = None,
    reducer_schema: str | None = None,
) -> DataFrame:
    """Group-by on key(s) (pybabe/group.py:35-87).

    Two paths:

    - ``aggregations``: declarative — ``group(df, 'k', {'total': ('sum','v')})``
      compiles to hash aggregation with partial (map-side) combine; this is
      the reference's common case (sum per key, tests/test_group.py:8-15).
    - ``reducer`` + ``reducer_schema``: arbitrary Python
      ``(pandas.DataFrame) → pandas.DataFrame`` per group via
      ``applyInPandas`` — the escape hatch for reducers SQL can't express.
      Groups arrive sorted by ingest id when the column is present,
      matching the reference's sorted-stream boundary model
      (pybabe/group.py:49-50).
    """
    keys = [key] if isinstance(key, str) else list(key)
    if (aggregations is None) == (reducer is None):
        raise ValueError("pass exactly one of aggregations / reducer")
    if aggregations is not None:
        return df.groupBy(*keys).agg(*_build_aggs(aggregations))
    if reducer_schema is None:
        raise ValueError("reducer requires reducer_schema (DDL string)")

    sort_col = INGEST_ID if INGEST_ID in df.columns else None

    def _apply(pdf):
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col).drop(columns=[sort_col])
        return reducer(pdf)

    return df.groupBy(*keys).applyInPandas(_apply, schema=reducer_schema)


def group_all(
    df: DataFrame,
    aggregations: Mapping[str, tuple[str, str] | Column] | None = None,
    reducer: Callable | None = None,
    reducer_schema: str | None = None,
) -> DataFrame:
    """Single global group (pybabe/group.py:89-113) → df.agg(...).

    The declarative path is a full map-side partial aggregation — the
    shuffle moves one row per partition. The reducer path groups by a
    constant; at 100 TB that funnels all rows to one task, so it is guarded
    for parity use only (the reference had the same single-consumer shape).
    """
    if (aggregations is None) == (reducer is None):
        raise ValueError("pass exactly one of aggregations / reducer")
    if aggregations is not None:
        return df.agg(*_build_aggs(aggregations))
    if reducer_schema is None:
        raise ValueError("reducer requires reducer_schema (DDL string)")
    gcol = gen_col(df.columns, "__g")
    tagged = df.withColumn(gcol, F.lit(1))
    sort_col = INGEST_ID if INGEST_ID in df.columns else None

    def _apply(pdf):
        # same sorted-stream contract as group(): order by ingest id and
        # drop it so the reducer sees exactly the data columns
        if sort_col is not None:
            pdf = pdf.sort_values(sort_col).drop(columns=[sort_col])
        return reducer(pdf.drop(columns=[gcol]))

    return tagged.groupBy(gcol).applyInPandas(_apply, schema=reducer_schema)


def protocol_reducer(obj, keys: str | Sequence[str]):
    """Adapt a reference-style Reducer object — ``begin_group(key)`` /
    ``row(row)`` / ``end_group(t)`` (pybabe/group.py:5-32) — into the
    pandas grouped-map callable :func:`group` expects.

    The object is pickled to each task and reused across that task's
    groups sequentially, exactly like the reference's single reducer
    instance over a sorted stream; ``begin_group`` resets its state.
    ``end_group(tuple)`` must return an iterable of output values.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)

    def _reduce(pdf):
        import pandas as pd

        first = pdf.iloc[0]
        key_vals = tuple(first[k] for k in key_list)
        obj.begin_group(key_vals[0] if len(key_vals) == 1 else key_vals)
        for rec in pdf.itertuples(index=False):
            obj.row(rec)
        out = obj.end_group(tuple)
        return pd.DataFrame([tuple(out)])

    return _reduce


def function_reducer(fn, keys: str | Sequence[str]):
    """Adapt the reference's function-form reducer ``(key, rows) → row``
    (pybabe/group.py:27-32 build_reducer; examples/wordcount.py:9) into
    the pandas grouped-map callable."""

    class _FnReducer:
        def begin_group(self, key):
            self.key, self.buf = key, []

        def row(self, row):
            self.buf.append(row)

        def end_group(self, t):
            return fn(self.key, self.buf)

    return protocol_reducer(_FnReducer(), keys)


def funnel(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
) -> DataFrame:
    """Ordered conversion funnel: one row per step — (step, event_type,
    users, conversion) — where a user counts for step i only with an
    event of that type STRICTLY AFTER their earliest qualifying event
    of step i-1 (first-touch semantics, the standard product-analytics
    funnel). ``within`` optionally bounds each hop to N seconds after
    the previous step's time (the conversion window; microsecond-exact
    interval arithmetic on both engines).

    Scale shape: step i is one equi-join of the step's filtered events
    against the (user, t_{i-1}) frontier — both sides keyed by user, so
    the chain reuses one partitioning — plus a min() aggregation;
    per-step cost is linear in that step's events, steps are bounded.
    The final assembly (r14) collects each step's 1-row user count —
    one bounded action per step, which the frontier chain forces to be
    sequential anyway — and emits the steps as a VALUES literal;
    conversion is users_i / users_0 as one IEEE division (NULL when
    step 0 is empty), identical in the SQL mirror. The previous union
    of 1-row aggregates + broadcast attach scheduled ~16 local jobs of
    AQE broadcast builds for 3 numbers.

    EAGER (r14): construction runs one bounded count per step —
    calling this triggers cluster jobs and surfaces data errors
    immediately, not at the caller's first action.
    """
    if not steps:
        raise ValueError("funnel: steps must be non-empty")
    from pybabe_spark.operators._util import local_rows_df

    # lazy persists (no construction job until the step counts below):
    # the event projection is filtered once per step, and each frontier
    # feeds BOTH the next step's join and its own count — without the
    # caches the source lineage re-derives per consumer (measured 7×
    # on 3 steps)
    events = events.select(user_col, type_col, ts_col).persist()
    cached = [events]
    frontier = None
    prev_t = None
    counts = []
    try:
        for i, s in enumerate(steps):
            f = events.filter(F.col(type_col) == s)
            if frontier is not None:
                cond = F.col(ts_col) > F.col(prev_t)
                if within is not None:
                    cond = cond & (
                        F.col(ts_col)
                        <= F.col(prev_t)
                        + F.expr(f"INTERVAL {int(within)} SECOND")
                    )
                f = f.join(frontier, user_col).filter(cond)
            prev_t = f"__t{i}"
            frontier = f.groupBy(user_col).agg(
                F.min(ts_col).alias(prev_t)
            ).persist()
            cached.append(frontier)
            # bounded action: a 1-row count of the persisted frontier
            # (the fill is work the next step's join needed anyway)
            counts.append(frontier.count())
    finally:
        # the result is a VALUES literal of the counts, so no cache
        # outlives this call
        for c in cached:
            c.unpersist()
    u0 = counts[0]
    rows = [
        (
            i,
            s,
            c,
            # same IEEE division the in-plan finish ran (bigint/bigint
            # promotes to double: round each side, then divide)
            (float(c) / float(u0)) if u0 > 0 else None,
        )
        for i, (s, c) in enumerate(zip(steps, counts))
    ]
    return local_rows_df(
        events.sparkSession,
        rows,
        "step int, event_type string, users bigint, conversion double",
    )


def funnel_sql(
    table: str,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within: int | None = None,
) -> str:
    """DuckDB oracle of :func:`funnel` — same first-touch join chain,
    same IEEE conversion division."""
    ctes = []
    for i, s in enumerate(steps):
        lit = "'" + s.replace("'", "''") + "'"
        if i == 0:
            ctes.append(
                f"s0 AS (SELECT {user_col}, MIN({ts_col}) AS t0 FROM {table}"
                f" WHERE {type_col} = {lit} GROUP BY {user_col})"
            )
        else:
            ctes.append(
                f"s{i} AS (SELECT e.{user_col}, MIN(e.{ts_col}) AS t{i}"
                f" FROM {table} e JOIN s{i-1} p USING ({user_col})"
                f" WHERE e.{type_col} = {lit} AND e.{ts_col} > p.t{i-1}"
                + (
                    f" AND e.{ts_col} <= p.t{i-1}"
                    f" + INTERVAL {int(within)} SECOND"
                    if within is not None
                    else ""
                )
                + f" GROUP BY e.{user_col})"
            )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, '{s}' AS event_type,"
        f" (SELECT COUNT(*) FROM s{i}) AS users"
        for i, s in enumerate(steps)
    )
    return (
        "WITH " + ",\n".join(ctes) + f", u AS ({selects})\n"
        "SELECT step, event_type, users,\n"
        "       CASE WHEN (SELECT users FROM u WHERE step = 0) > 0\n"
        "            THEN users / (SELECT users FROM u WHERE step = 0)\n"
        "       END AS conversion\n"
        "FROM u"
    )


def sequence_count(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    contiguous: bool = False,
) -> DataFrame:
    """Per-key count of NON-OVERLAPPING occurrences of an ordered event
    sequence — the MATCH_RECOGNIZE-lite every product funnel eventually
    outgrows (funnel counts users per step; this counts repetitions of
    the whole pattern per user).

    ``contiguous=False``: events not named in ``steps`` are ignored —
    "view, then eventually click, then eventually purchase". With
    ``contiguous=True`` every event matters — the steps must be
    back-to-back in the user's full stream.

    Engine-portable by construction: each step maps to one letter, the
    user's stream collapses to a time-ordered letter string (one
    shuffle: groupBy + sorted collect_list), and occurrences are
    counted by LITERAL replace arithmetic —
    ``(len(s) − len(replace(s, pat, ''))) / len(pat)`` — leftmost
    non-overlapping semantics identical in Spark and DuckDB, no regex
    dialect in play. Keys with zero matches are omitted.

    Per-key memory is that key's event count (same bound as any
    sessionization); ties on ``ts`` order by the letter for
    determinism.
    """
    steps = list(steps)
    if not steps:
        raise ValueError("sequence_count: empty steps")
    if len(steps) > 26:
        raise ValueError("sequence_count: at most 26 steps")
    letters = {s: chr(ord("A") + i) for i, s in enumerate(steps)}
    ch = None
    for s, letter in letters.items():
        cond = F.when(F.col(type_col) == s, F.lit(letter))
        ch = cond if ch is None else ch.when(F.col(type_col) == s, F.lit(letter))
    ch = ch.otherwise(F.lit("z"))
    df = events.withColumn("__ch", ch)
    if not contiguous:
        df = df.filter(F.col("__ch") != "z")
    pat = "".join(letters[s] for s in steps)
    seq = df.groupBy(user_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(ts_col), F.col("__ch")))
                ),
                lambda s: s["__ch"],
            ),
            "",
        ).alias("__s")
    )
    n = (
        (
            F.length("__s")
            - F.length(F.replace(F.col("__s"), F.lit(pat), F.lit("")))
        )
        / F.lit(len(pat))
    ).cast("bigint")
    return (
        seq.withColumn("n_matches", n)
        .filter(F.col("n_matches") > 0)
        .select(user_col, "n_matches")
    )


def sequence_count_sql(
    table: str,
    steps: Sequence[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    contiguous: bool = False,
) -> str:
    """DuckDB oracle of :func:`sequence_count` — same letter mapping,
    same ordered string_agg, same replace arithmetic."""
    steps = list(steps)
    letters = {s: chr(ord("A") + i) for i, s in enumerate(steps)}
    cases = " ".join(
        f"WHEN {type_col} = '{s}' THEN '{letter}'"
        for s, letter in letters.items()
    )
    pat = "".join(letters[s] for s in steps)
    where = "" if contiguous else "WHERE __ch <> 'z'"
    return f"""
    WITH mapped AS (
        SELECT {user_col}, {ts_col},
               CASE {cases} ELSE 'z' END AS __ch
        FROM {table}
    ), seqs AS (
        SELECT {user_col},
               string_agg(__ch, '' ORDER BY {ts_col}, __ch) AS s
        FROM mapped {where}
        GROUP BY {user_col}
    )
    SELECT {user_col},
           CAST((length(s) - length(replace(s, '{pat}', '')))
                / {len(pat)} AS BIGINT) AS n_matches
    FROM seqs
    WHERE length(s) - length(replace(s, '{pat}', '')) > 0
    """


def transition_matrix(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
) -> DataFrame:
    """First-order Markov transitions of the event stream: one row per
    observed ``(from_type, to_type)`` — ``(from_type, to_type, n,
    p_ppm)`` where ``p_ppm`` is the row-conditional probability
    P(to|from) in exact integer parts-per-million (house micro-unit
    idiom — no IEEE division). Consecutive events per key form the
    pairs; the last event of each key emits nothing.

    Plan: one shuffle on the key for the lag window, then a hash
    aggregation on the (from, to) pair (map-side combined) and a
    from-partitioned window over the TINY |types|² table for the
    denominators. ``order_cols`` breaks timestamp ties like
    sessionize.
    """
    order = [F.col(ts_col).asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.withColumn("__next", F.lead(type_col).over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"),
            F.col("__next").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return pairs.withColumn(
        "p_ppm",
        F.expr("(n * 1000000) div sum(n) over (partition by from_type)"),
    ).select("from_type", "to_type", "n", "p_ppm")


def transition_matrix_sql(
    table: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: Sequence[str] | None = None,
) -> str:
    """DuckDB oracle of :func:`transition_matrix`."""
    order = ", ".join([ts_col] + list(order_cols or []))
    return f"""
    WITH pairs AS (
        SELECT {type_col} AS from_type,
               LEAD({type_col}) OVER (
                   PARTITION BY {user_col} ORDER BY {order}
               ) AS to_type
        FROM {table}
    ), cnt AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST((n * 1000000) // CAST(SUM(n) OVER (
               PARTITION BY from_type) AS BIGINT) AS BIGINT) AS p_ppm
    FROM cnt
    """


def cube_agg(
    df: DataFrame,
    dims: Sequence[str],
    aggregations: Mapping[str, tuple[str, str] | Column],
    kind: str = "cube",
) -> DataFrame:
    """OLAP subtotal grids: ``CUBE`` (every dim subset) or ``ROLLUP``
    (hierarchical prefixes) over ``dims``, with the same declarative
    aggregation spec as :func:`group`.

    A ``grouping_id`` column (Spark's ``grouping_id()`` — bit ``i``
    set when dim ``i`` is aggregated away, dim 0 most significant)
    disambiguates subtotal rows from genuine NULL dimension values —
    without it a cube over nullable dims is ambiguous and un-joinable.

    Scale shape: Spark expands grouping sets inside ONE hash
    aggregation (the Expand operator replicates each input row once
    per grouping set, map-side partial combine still applies) — one
    shuffle, no unions of N aggregations. At 100 TB prefer ``rollup``
    over ``cube`` when the report is hierarchical: rollup expands
    ``d+1`` sets instead of ``2^d``.
    """
    if kind not in ("cube", "rollup"):
        raise ValueError(f"cube_agg: kind must be cube|rollup, got {kind!r}")
    dims = list(dims)
    if not dims:
        raise ValueError("cube_agg: need at least one dimension")
    grouped = df.cube(*dims) if kind == "cube" else df.rollup(*dims)
    return grouped.agg(
        F.grouping_id().cast("bigint").alias("grouping_id"),
        *_build_aggs(aggregations),
    )


def path_counts(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    k: int = 20,
    max_steps: int = 10,
    sep: str = ">",
) -> DataFrame:
    """Top-``k`` most-common ordered step paths across keys:
    ``(path, n_keys)`` where each key contributes the ``sep``-joined
    sequence of its first ``max_steps`` steps in ``ts_col`` order
    (unique per key — the ordering contract; NULL steps excluded).
    The "top user flows" product-analytics view — the whole-journey
    complement of :func:`transition_matrix` (which counts single
    hops). Ties rank by path string ascending.

    Plan: one hash agg per key building the ordered step array via
    ``sort_array(collect_list(struct(ts, step)))`` — per-key memory
    bounded by ``max_steps`` after the slice — then one path count agg
    and a TakeOrdered head. Two key shuffles, no window.
    """
    if k < 1 or max_steps < 1:
        raise ValueError("path_counts: k and max_steps must be >= 1")
    per_key = (
        events.filter(F.col(step_col).isNotNull())
        .groupBy(key_col)
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    F.col(ts_col).alias("t"),
                                    F.col(step_col).cast("string").alias(
                                        "s"
                                    ),
                                )
                            )
                        ),
                        lambda x: x["s"],
                    ),
                    1,
                    max_steps,
                ),
                sep,
            ).alias("path")
        )
    )
    return (
        per_key.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy(F.col("n_keys").desc(), F.col("path").asc())
        .limit(k)
    )


def path_counts_sql(
    table: str,
    key_col: str,
    ts_col: str,
    step_col: str,
    k: int = 20,
    max_steps: int = 10,
    sep: str = ">",
) -> str:
    """DuckDB oracle of :func:`path_counts` — ordered string_agg
    sliced to the same step budget."""
    return f"""
    WITH per_key AS (
        SELECT {key_col},
               array_to_string(
                 list_transform(
                   (list_sort(list(ROW({ts_col}, CAST({step_col} AS VARCHAR)))
                    ))[1:{int(max_steps)}],
                   r -> r[2]
                 ), '{sep}') AS path
        FROM {table}
        WHERE {step_col} IS NOT NULL
        GROUP BY {key_col}
    )
    SELECT path, COUNT(*) AS n_keys
    FROM per_key GROUP BY path
    ORDER BY n_keys DESC, path ASC
    LIMIT {int(k)}
    """
