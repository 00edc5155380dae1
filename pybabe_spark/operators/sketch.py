"""Sketch-based aggregates: heavy hitters / frequent items.

Completes the single-pass approximate family next to the HLL++ and
approx-percentile surface (queries.py::approx_stats_scale). Capability
extension — the reference's only frequency tool is a full groupBy
(pybabe/group.py); at 100 TB a full distinct-key aggregation of a
high-cardinality column shuffles billions of groups, while these run in
fixed memory.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sdiv(num, den):
    """``num / den`` with a NULL (never an ANSI DIVIDE_BY_ZERO) on a
    zero denominator: divisions that are guarded by an outer
    ``F.when`` still detonate when whole-stage codegen's common-
    subexpression elimination hoists the SHARED division above the
    guard (observed: partial_corr's r_xy feeding two output columns).
    Guarding at the division site is sharing-proof; the degenerate
    rows were NULL by the outer guard anyway, so values are
    unchanged."""
    return num / F.when(den != 0.0, den)


def heavy_hitters(df: DataFrame, col: str, support: float = 0.01) -> DataFrame:
    """Approximate frequent items: every value occurring in more than
    ``support`` fraction of rows (one-pass Karp–Papadimitriou–Shenker via
    ``df.stat.freqItems``; may contain false positives, never misses a
    true heavy hitter). Returns one row per candidate item.

    Fixed memory ∝ 1/support per partition regardless of input size —
    the 100 TB shape for "which keys are hot" (e.g. to pick salting
    targets) without a full-cardinality shuffle.
    """
    if not 1e-4 <= support <= 1.0:
        raise ValueError(
            f"heavy_hitters: support {support} outside [1e-4, 1] "
            "(Spark's freqItems sketch floor)"
        )
    items_row = df.stat.freqItems([col], support).collect()[0]
    items = items_row[f"{col}_freqItems"]
    spark = df.sparkSession
    typ = df.schema[col].dataType.simpleString()
    if typ in ("string", "int", "bigint", "smallint", "tinyint",
               "double", "boolean") or typ.startswith("decimal"):
        # VALUES-literal LocalRelation for the flat types — consumer
        # actions skip the ExistingRDD tasklet wave (_util.local_rows_df).
        # The name is backtick-quoted (`` escapes a literal backtick) so
        # legal-but-awkward column names — spaces, hyphens, backticks —
        # survive the DDL split and the VALUES alias; anything the
        # renderer still rejects falls through to createDataFrame.
        from pybabe_spark.operators._util import local_rows_df

        from pyspark.errors import PySparkException

        qcol = "`" + col.replace("`", "``") + "`"
        try:
            return local_rows_df(
                spark, [(i,) for i in items], f"{qcol} {typ}"
            )
        except (ValueError, TypeError, PySparkException):
            pass  # e.g. an empty/unparseable identifier: ParseException
    return spark.createDataFrame(
        [(i,) for i in items], df.select(col).schema
    )


def exact_heavy_hitters(df: DataFrame, col: str, min_count: int) -> DataFrame:
    """Exact frequent values (``count >= min_count``) — the verifiable
    definition the sketch approximates: one hash aggregation with
    map-side partial counts."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= F.lit(min_count))
    )


def _group_hh_candidates(
    df: DataFrame, group_col: str, col: str, support: float
) -> DataFrame:
    """Candidate (group, value) pairs for :func:`group_heavy_hitters`:
    a per-partition, per-group Misra–Gries summary with capacity
    ``k = ceil(1/support)`` counters per group, run as ONE Arrow
    ``mapInPandas`` pass (bulk counter updates per batch — no Python
    row loop). Guarantee (the KPS pigeonhole): if a value's GLOBAL
    in-group frequency exceeds ``support``, some partition holds it
    with local in-group frequency > support, and Misra–Gries with
    ⌈1/support⌉ counters never evicts such a value — so the candidate
    set has NO false negatives; false positives are culled by the
    exact confirm pass. Output size ≤ partitions × groups × ⌈1/s⌉,
    independent of row count — the bounded-shuffle property the naive
    full (group, value) aggregation lacks under heavy-tailed values."""
    import math

    k = math.ceil(1.0 / support)
    sel = df.select(
        F.col(group_col).alias("__g"), F.col(col).alias("__v")
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    out_schema = sel.schema

    def summarize(batches):
        import pandas as pd

        counters: dict = {}  # group -> {value: count}
        for pdf in batches:
            vc = pdf.groupby(["__g", "__v"], sort=False).size()
            for (g, v), c in vc.items():
                cnt = counters.setdefault(g, {})
                if v in cnt or len(cnt) < k:
                    cnt[v] = cnt.get(v, 0) + int(c)
                else:
                    # bulk Misra–Gries decrement: absorb what the new
                    # item's count covers, evict zeroed counters
                    dec = min(int(c), min(cnt.values()))
                    for key in list(cnt):
                        cnt[key] -= dec
                        if cnt[key] <= 0:
                            del cnt[key]
                    rem = int(c) - dec
                    if rem > 0 and (v in cnt or len(cnt) < k):
                        cnt[v] = cnt.get(v, 0) + rem
        rows = [
            (g, v) for g, cnt in counters.items() for v in cnt
        ]
        yield pd.DataFrame(rows, columns=["__g", "__v"])

    return sel.mapInPandas(summarize, out_schema).distinct()


def group_heavy_hitters(
    df: DataFrame,
    group_col: str,
    col: str,
    support: float = 0.01,
) -> DataFrame:
    """Per-group frequent values — for each group, every value whose
    in-group frequency STRICTLY exceeds ``support`` (the training-data
    staples: top domains per language, top URLs per source, hot keys
    per tenant). Returns ``(group, value, n, group_n)`` with exact
    counts. The global :func:`heavy_hitters` can't answer this: a
    value can dominate a small group while invisible globally.

    EXACT output with a sketch-bounded plan: candidates come from one
    Arrow ``mapInPandas`` Misra–Gries pass (no false negatives — see
    :func:`_group_hh_candidates`; memory ∝ groups × ⌈1/support⌉ per
    partition), then ONE semi-join of the base against the small
    candidate table + per-pair and per-group exact count aggs confirm
    and filter. The shuffle carries candidate pairs and group totals —
    never the full distinct (group, value) key space, which is the
    thing that explodes at 100 TB under heavy-tailed value columns
    (URLs, user-agents). The frequency test is the all-integer
    ``n · 10⁶ > support_ppm · group_n`` with a Python-computed ppm
    literal shared by the oracle. NULL groups/values are excluded.
    """
    if not 1e-4 <= support <= 1.0:
        raise ValueError(
            f"group_heavy_hitters: support {support} outside [1e-4, 1]"
        )
    support_ppm = int(round(support * 1_000_000))
    base = df.select(
        F.col(group_col).alias("__g"), F.col(col).alias("__v")
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    cand = _group_hh_candidates(df, group_col, col, support).select(
        F.col("__g"), F.col("__v")
    )
    counts = (
        base.join(cand, ["__g", "__v"], "left_semi")
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = base.groupBy("__g").agg(
        F.count(F.lit(1)).alias("group_n")
    )
    return (
        counts.join(totals, "__g")
        .filter(
            F.col("n") * F.lit(1_000_000)
            > F.lit(support_ppm) * F.col("group_n")
        )
        .select(
            F.col("__g").alias(group_col),
            F.col("__v").alias(col),
            F.col("n"),
            F.col("group_n"),
        )
    )


def group_heavy_hitters_sql(
    select: str, group_col: str, col: str, support: float = 0.01
) -> str:
    """DuckDB oracle of :func:`group_heavy_hitters` — the exact
    definition (per-group counts, strict integer-ppm frequency test);
    the engine's sketch+confirm plan must reproduce it exactly."""
    support_ppm = int(round(support * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {group_col} AS g, {col} AS v FROM rows_in
        WHERE {group_col} IS NOT NULL AND {col} IS NOT NULL
    ),
    tot AS (SELECT g, COUNT(*) AS group_n FROM base GROUP BY g),
    cnt AS (SELECT g, v, COUNT(*) AS n FROM base GROUP BY g, v)
    SELECT c.g AS {group_col}, c.v AS {col}, c.n, t.group_n
    FROM cnt c JOIN tot t USING (g)
    WHERE c.n * 1000000 > {support_ppm} * t.group_n
    """


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Fixed-width histogram of a numeric column: one row per bin —
    (bin, lo, hi, n) — empty bins included with n=0, NULLs excluded.

    Two linear passes (min/max scalars, then the binned count — both
    map-side combinable); the bin edges ride a 1-row broadcast attach,
    never a collect. The top edge is closed (a value equal to the max
    lands in the last bin via the ``LEAST`` clamp). Every edge/bin
    computation is plain IEEE arithmetic replayed with identical
    operation order in the oracle — exact cross-engine, no rounding
    step needed.
    """
    from pybabe_spark.operators._util import attach_scalars

    if bins < 1:
        raise ValueError(f"histogram: bins {bins} must be >= 1")
    vals = df.select(F.col(col).cast("double").alias("__x")).filter(
        F.col("__x").isNotNull()
    )
    scalars = vals.agg(
        F.min("__x").cast("double").alias("__mn"),
        F.max("__x").cast("double").alias("__mx"),
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(bins)
    binned = attach_scalars(vals, scalars).select(
        F.when(F.col("__mx") == F.col("__mn"), F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.lit(bins - 1).cast("bigint"),
                F.floor((F.col("__x") - F.col("__mn")) / width),
            )
        )
        .alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    spark = df.sparkSession
    grid = spark.range(bins).select(F.col("id").alias("bin"))
    return (
        attach_scalars(grid.join(counts, "bin", "left"), scalars)
        .select(
            F.col("bin").cast("int").alias("bin"),
            (F.col("__mn") + F.col("bin") * width).alias("lo"),
            (F.col("__mn") + (F.col("bin") + 1) * width).alias("hi"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def histogram_sql(table: str, col: str, bins: int = 10) -> str:
    """DuckDB oracle of :func:`histogram` — identical IEEE edge/bin
    arithmetic, identical clamp and empty-bin grid."""
    w = f"((s.mx - s.mn) / {bins})"
    return f"""
    WITH s AS (
      SELECT CAST(MIN({col}) AS DOUBLE) AS mn,
             CAST(MAX({col}) AS DOUBLE) AS mx
      FROM {table} WHERE {col} IS NOT NULL
    ),
    binned AS (
      SELECT CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST({bins - 1} AS BIGINT),
                             CAST(FLOOR((CAST({col} AS DOUBLE) - s.mn) / {w})
                                  AS BIGINT))
             END AS bin
      FROM {table}, s WHERE {col} IS NOT NULL
    ),
    counts AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY bin)
    SELECT CAST(g.i AS INT) AS bin,
           s.mn + g.i * {w} AS lo,
           s.mn + (g.i + 1) * {w} AS hi,
           COALESCE(c.n, 0) AS n
    FROM generate_series(0, {bins - 1}) g(i)
    LEFT JOIN counts c ON c.bin = g.i
    CROSS JOIN s
    """


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005), relational form
# ---------------------------------------------------------------------------
#
# The sketch is a (depth × width) cell TABLE, not a driver array:
# build = one hash aggregation over (row, depth) — map-side combinable,
# never more than depth·width cells per partition; merge = union + sum
# (sketches are linear); lookup = key positions left-joined to cells,
# MIN over depth. Positions come from the house md5-hex-prefix idiom
# (sampling.hash_bucket), so every estimate is bit-reproducible in
# DuckDB — the registry key carries a FULL-VALUE oracle, not just an
# error-bound certificate. Standard guarantee: est ≥ true, and
# est ≤ true + (e/width)·N with prob ≥ 1 − (1/e)^depth per key.

def _cms_pos(key_str, d: int, width: int):
    """Cell column for depth row ``d``: md5-60-bit of "d:key" % width
    (md5 output is non-negative — plain mod matches across engines)."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{d}:"), key_str)), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def _cms_key_str(df: DataFrame, col: str):
    dtype = df.schema[col].dataType.simpleString()
    if dtype not in ("string", "tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"cms: column {col!r} has type {dtype}; integral or string "
            "keys only (no cross-engine stable hash for float/date)"
        )
    return F.coalesce(F.col(col).cast("string"), F.lit("\x00null"))


def cms_build(
    df: DataFrame, col: str, width: int = 2048, depth: int = 4
) -> DataFrame:
    """Build the sketch cell table ``(d, pos, n, w, dp)`` for
    ``df[col]``. Only non-empty cells materialize (absent cell = 0).
    The (width, depth) identity is EMBEDDED as constant columns so a
    probe or merge against a differently-parameterized sketch raises
    instead of silently estimating garbage (the bloom ``key_types``
    lesson) — two tiny literals per row, pruned wherever unused."""
    if width < 2 or depth < 1:
        raise ValueError("cms: width >= 2 and depth >= 1 required")
    k = _cms_key_str(df, col)
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_pos(k, d, width).alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        rows.select("c.d", "c.pos")
        .groupBy("d", "pos")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w", F.lit(width))
        .withColumn("dp", F.lit(depth))
    )


def _cms_param_guard(cms: DataFrame, width: int, depth: int):
    """In-plan mismatch check: any cell row whose embedded (w, dp)
    differs from the caller's raises at the query's first action —
    lazy, no construction-time job (the FAIL-join idiom). Sketches
    from an older build (no w/dp columns) pass unchecked."""
    if "w" not in cms.columns or "dp" not in cms.columns:
        return cms
    ok = (F.col("w") == width) & (F.col("dp") == depth)
    return cms.filter(
        F.when(
            ~ok,
            F.raise_error(
                F.concat(
                    F.lit("cms: sketch built with (width, depth)=("),
                    F.col("w").cast("string"),
                    F.lit(", "),
                    F.col("dp").cast("string"),
                    F.lit(f") probed/merged as ({width}, {depth})"),
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the SAME (width, depth): cellwise
    sum (sketches are linear — merge-then-lookup ≡ build-over-union,
    asserted in tests). The embedded identity columns participate in
    the merge key, so accidentally merging differently-parameterized
    sketches cannot corrupt cells — the mixture survives verbatim and
    the next :func:`cms_lookup` raises on it."""
    cols = ["d", "pos"] + (["w", "dp"] if "w" in a.columns else [])
    return (
        a.unionByName(b, allowMissingColumns=False)
        .groupBy(*cols)
        .agg(F.sum("n").alias("n"))
        .select(*cols, "n")
    )


def cms_lookup(
    cms: DataFrame,
    keys: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for ``keys[col]`` (distinct): adds
    ``cms_count`` = MIN over the key's depth cells (absent cell = 0).
    ``width``/``depth`` must match the build — enforced in-plan via
    the sketch's embedded identity columns (mismatch raises at the
    first action rather than silently estimating with wrong cells)."""
    cms = _cms_param_guard(cms, width, depth)
    if "w" in cms.columns:
        cms = cms.drop("w", "dp")
    distinct = keys.select(col).distinct()
    k = _cms_key_str(distinct, col)
    probes = distinct.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cms_pos(k, d, width).alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(F.col(col), "c.d", "c.pos")
    joined = probes.join(cms, ["d", "pos"], "left").select(
        F.col(col), F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    return joined.groupBy(col).agg(F.min("n").alias("cms_count"))


def cms_pos_sql(key: str, d: int, width: int) -> str:
    """DuckDB mirror of the position arithmetic."""
    return (
        f"(CAST(('0x' || substr(md5('{d}:' || "
        f"COALESCE(CAST({key} AS VARCHAR), chr(0) || 'null')), 1, 15)) "
        f"AS BIGINT) % {int(width)})"
    )


def cms_estimate_sql(
    table: str, key: str, width: int, depth: int
) -> str:
    """DuckDB oracle: per-distinct-key CMS estimate, same cells, same
    md5 arithmetic — bit-identical to build+lookup."""
    pos_cases = " ".join(
        f"WHEN {d} THEN {cms_pos_sql(key, d, width)}"
        for d in range(depth)
    )
    return f"""
    WITH ks AS (SELECT {key} FROM {table}),
    rows_d AS (
        SELECT {key}, t.range AS d,
               CASE t.range {pos_cases} END AS pos
        FROM ks CROSS JOIN range({int(depth)}) t
    ),
    cells AS (
        SELECT d, pos, COUNT(*) AS n FROM rows_d GROUP BY d, pos
    ),
    probes AS (SELECT DISTINCT {key}, d, pos FROM rows_d)
    SELECT p.{key}, CAST(MIN(c.n) AS BIGINT) AS cms_count
    FROM probes p JOIN cells c USING (d, pos)
    GROUP BY p.{key}
    """


# ---------------------------------------------------------------------------
# Quantiles: exact (bounded groups) + sketch (corpus scale)
# ---------------------------------------------------------------------------

def quantiles(
    df: DataFrame,
    col: str,
    probs: "list[float]",
    by: str | None = None,
) -> DataFrame:
    """Exact linear-interpolation quantiles — one row per (group,
    prob): ``(group?, prob, value)``. All probs compute in ONE
    aggregation pass (n_probs counters, not n_probs scans).

    Exact percentile buffers each group's values in the aggregation
    state: right for bounded groups (dashboards over dimension keys),
    wrong for a 100 TB ungrouped column — use :func:`quantiles_approx`
    there (mergeable KLL-style sketch, fixed memory). Outputs round to
    6 dp: interpolated values of ≤2 dp data at 1–2 dp prob fractions
    are ≤6 dp decimals, so the rounding is exact and cross-engine
    stable (queries.py decimal conventions).
    """
    if not probs:
        raise ValueError("quantiles: empty probs")
    aggs = [
        F.round(F.percentile(F.col(col), F.lit(p)), 6).alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    keys = [by] if by else []
    one = df.groupBy(*keys).agg(*aggs)
    stack = ", ".join(
        f"CAST({p} AS DOUBLE), __q{i}" for i, p in enumerate(probs)
    )
    return one.selectExpr(
        *keys, f"stack({len(probs)}, {stack}) AS (prob, value)"
    )


def quantiles_approx(
    df: DataFrame,
    col: str,
    probs: "list[float]",
    by: str | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Sketch twin of :func:`quantiles`: ``approx_percentile`` —
    mergeable, fixed memory ∝ accuracy, rank error ≤ 1/accuracy. Same
    output shape; no value oracle (estimates are engine-specific), the
    registry certifies it through the exact twin's bracketing."""
    if not probs:
        raise ValueError("quantiles_approx: empty probs")
    aggs = [
        F.approx_percentile(
            F.col(col), F.lit(p), F.lit(accuracy)
        ).alias(f"__q{i}")
        for i, p in enumerate(probs)
    ]
    keys = [by] if by else []
    one = df.groupBy(*keys).agg(*aggs)
    stack = ", ".join(
        f"CAST({p} AS DOUBLE), CAST(__q{i} AS DOUBLE)"
        for i, p in enumerate(probs)
    )
    return one.selectExpr(
        *keys, f"stack({len(probs)}, {stack}) AS (prob, value)"
    )


def quantiles_sql(
    table: str,
    col: str,
    probs: "list[float]",
    by: str | None = None,
) -> str:
    """DuckDB oracle of :func:`quantiles` (quantile_cont = the same
    p·(n−1) linear interpolation; 6 dp rounding absorbs formula-shape
    double noise — see quantiles docstring for why that rounding is
    exact here)."""
    keys = f"{by}, " if by else ""
    group = f"GROUP BY {by}" if by else ""
    selects = [
        f"SELECT {keys}CAST({p} AS DOUBLE) AS prob,"
        f" ROUND(quantile_cont({col}, {p}), 6) AS value"
        f" FROM {table} {group}"
        for p in probs
    ]
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# Pearson correlation matrix, decimal-exact moments
# ---------------------------------------------------------------------------

def corr_matrix(df: DataFrame, cols: "list[str]") -> DataFrame:
    """Pairwise Pearson correlations: one row per unordered pair —
    ``(col_x, col_y, n, corr)`` with pairwise NULL deletion (a row
    enters a pair's statistics only when BOTH values are non-null).

    ONE aggregation pass: 5 conditional counters per pair (n, Sx, Sy,
    Sxy, Sxx/Syy shared through per-pair masking), all map-side
    combinable — never a per-pair scan. Moments accumulate as exact
    decimals (products at scale 12), so the only IEEE arithmetic is the
    final fixed-shape scalar formula — cross-engine deterministic, and
    6 dp rounding absorbs nothing but the final division/sqrt noise.
    Zero-variance pairs yield NULL corr. p columns cost p(p−1)/2 × 5
    counters in one reduce — fine to a few dozen columns.
    """
    if len(cols) < 2:
        raise ValueError("corr_matrix: need at least 2 columns")
    aggs = []
    pairs = []
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            pairs.append((cx, cy))
            both = F.col(cx).isNotNull() & F.col(cy).isNotNull()
            x = F.when(both, F.col(cx).cast("decimal(18,6)"))
            y = F.when(both, F.col(cy).cast("decimal(18,6)"))
            tag = f"{cx}__{cy}"
            aggs += [
                F.count(F.when(both, F.lit(1))).alias(f"__n_{tag}"),
                F.sum(x).cast("double").alias(f"__sx_{tag}"),
                F.sum(y).cast("double").alias(f"__sy_{tag}"),
                F.sum((x * y).cast("decimal(38,12)"))
                .cast("double")
                .alias(f"__sxy_{tag}"),
                F.sum((x * x).cast("decimal(38,12)"))
                .cast("double")
                .alias(f"__sxx_{tag}"),
                F.sum((y * y).cast("decimal(38,12)"))
                .cast("double")
                .alias(f"__syy_{tag}"),
            ]
    one = df.agg(*aggs)
    parts = []
    for cx, cy in pairs:
        tag = f"{cx}__{cy}"
        n = F.col(f"__n_{tag}").cast("double")
        sx, sy = F.col(f"__sx_{tag}"), F.col(f"__sy_{tag}")
        sxy = F.col(f"__sxy_{tag}")
        sxx, syy = F.col(f"__sxx_{tag}"), F.col(f"__syy_{tag}")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        corr = F.when(
            (vx > 0.0) & (vy > 0.0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6),
        )
        parts.append(
            one.select(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col(f"__n_{tag}").alias("n"),
                corr.alias("corr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def corr_matrix_sql(table: str, cols: "list[str]") -> str:
    """DuckDB oracle of :func:`corr_matrix` — identical decimal
    moments and scalar formula shape."""
    selects = []
    for i, cx in enumerate(cols):
        for cy in cols[i + 1:]:
            both = f"{cx} IS NOT NULL AND {cy} IS NOT NULL"
            # DECIMAL(19,6), not (18,6): DuckDB stores precision ≤ 18
            # in int64 and overflows the raw product — 19 forces int128
            # while the VALUES stay the same exact decimals Spark sums
            x = f"CASE WHEN {both} THEN CAST({cx} AS DECIMAL(19,6)) END"
            y = f"CASE WHEN {both} THEN CAST({cy} AS DECIMAL(19,6)) END"
            selects.append(f"""
            SELECT '{cx}' AS col_x, '{cy}' AS col_y,
                   CAST(n AS BIGINT) AS n,
                   CASE WHEN (CAST(n AS DOUBLE) * sxx - sx * sx) > 0.0
                         AND (CAST(n AS DOUBLE) * syy - sy * sy) > 0.0
                        THEN ROUND(
                          (CAST(n AS DOUBLE) * sxy - sx * sy)
                          / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                                 * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
                   END AS corr
            FROM (
                SELECT COUNT(CASE WHEN {both} THEN 1 END) AS n,
                       CAST(SUM({x}) AS DOUBLE) AS sx,
                       CAST(SUM({y}) AS DOUBLE) AS sy,
                       CAST(SUM(CAST(({x}) * ({y}) AS DECIMAL(38,12)))
                            AS DOUBLE) AS sxy,
                       CAST(SUM(CAST(({x}) * ({x}) AS DECIMAL(38,12)))
                            AS DOUBLE) AS sxx,
                       CAST(SUM(CAST(({y}) * ({y}) AS DECIMAL(38,12)))
                            AS DOUBLE) AS syy
                FROM {table}
            )""")
    return " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# Mergeable distinct-count sketches (Apache DataSketches HLL, built in)
# ---------------------------------------------------------------------------

def hll_build(
    df: DataFrame, col: str, by: "list[str] | str | None" = None,
    lg_k: int = 12,
) -> DataFrame:
    """Per-group HLL sketches of ``col``'s distinct values — a BINARY
    ``hll`` column you can persist. The incremental-distinct pattern:
    store one sketch per day/source partition, answer "distinct users
    over any date range" by :func:`hll_merge` over the stored rows —
    no raw re-scan, fixed 2^lg_k memory, rsd ≈ 1.04/√2^lg_k (~1.6% at
    the default). Estimates are engine/library-specific: certify them
    against exact counts (the registry key's boolean bound), never
    hash-compare them."""
    keys = [by] if isinstance(by, str) else list(by or [])
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll")
    )


def hll_merge(
    parts: DataFrame, by: "list[str] | str | None" = None
) -> DataFrame:
    """Union stored sketches (same lg_k) to coarser groups — the cube
    walk for distincts, which plain counts cannot do."""
    keys = [by] if isinstance(by, str) else list(by or [])
    return parts.groupBy(*keys).agg(
        F.hll_union_agg(F.col("hll")).alias("hll")
    )


def hll_estimate(df: DataFrame, out_col: str = "distinct_est") -> DataFrame:
    """Materialize estimates from a sketch column."""
    return df.withColumn(
        out_col, F.hll_sketch_estimate(F.col("hll"))
    ).drop("hll")


# ---------------------------------------------------------------------------
# Two-proportion A/B test (pooled z), deterministic decision
# ---------------------------------------------------------------------------

def _wilson_exprs(z: float) -> "tuple[str, str]":
    """(lo, hi) Wilson-score-interval SQL over double columns ``kk``
    (successes) and ``nn`` (trials) — ONE textual formula evaluated by
    BOTH engines, so the fixed-shape IEEE arithmetic (and its single
    DECIMAL(18,6) rounding, applied by the callers) is bit-identical.
    ``z`` embeds as the same decimal literal on both sides."""
    zl = repr(float(z))
    zz = repr(float(z) * float(z))
    p = "(kk / nn)"
    denom = f"(1.0 + {zz} / nn)"
    center = f"(({p} + {zz} / (2.0 * nn)) / {denom})"
    half = (
        f"(({zl} / {denom}) * sqrt({p} * (1.0 - {p}) / nn"
        f" + {zz} / (4.0 * nn * nn)))"
    )
    return f"({center} - {half})", f"({center} + {half})"


def proportion_ci(
    df: DataFrame,
    success_col: str,
    by: str | None = None,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a proportion, per group —
    ``(group?, n, successes, p_ppm, ci_lo, ci_hi)``: the error bar
    every rate readout needs (conversion per segment, defect rate per
    supplier, dedup rate per source). Wilson, not the naive normal
    interval: it never leaves [0, 1], stays honest at p near 0/1 and
    at small n — exactly the regimes per-group slicing produces.
    The inferential sibling of :func:`ab_test` (which DECIDES between
    two arms; this QUANTIFIES each rate alone).

    ``success_col`` is boolean/0-1; NULL successes are excluded (an
    unknown outcome is not a failure). ``p_ppm`` is the exact floored
    integral rate; the interval bounds are ONE fixed-shape IEEE
    expression over the exact (successes, trials) integers — shared
    TEXTUALLY with the oracle (:func:`_wilson_exprs`) — rounded once
    to DECIMAL(18,6). Empty groups can't occur; a keyless call on
    empty input yields (0, 0, NULL, NULL, NULL).

    Scale shape: one conditional hash agg with map-side combine, then
    pure codegen scalar math — the cheapest per-group plan there is.
    """
    lo, hi = _wilson_exprs(z)
    keys = [by] if by else []
    base = df.filter(F.col(success_col).isNotNull()).select(
        *keys, F.col(success_col).cast("int").alias("__s")
    )
    agg = (base.groupBy(*keys) if keys else base.groupBy()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("__s"), F.lit(0)).cast("bigint").alias(
            "successes"
        ),
    )
    guard = F.col("n") > 0
    with_d = agg.withColumn(
        "kk", F.col("successes").cast("double")
    ).withColumn("nn", F.col("n").cast("double"))
    return with_d.select(
        *keys,
        "n",
        "successes",
        F.when(
            guard, F.expr("CAST(successes * 1000000 div n AS BIGINT)")
        ).alias("p_ppm"),
        F.when(guard, F.expr(lo))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ci_lo"),
        F.when(guard, F.expr(hi))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("ci_hi"),
    )


def proportion_ci_sql(
    select: str,
    success_col: str,
    by: str | None = None,
    z: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`proportion_ci` — the identical textual
    Wilson formula over the identical exact counts."""
    lo, hi = _wilson_exprs(z)
    keys = f"{by}, " if by else ""
    grp = f"GROUP BY {by}" if by else ""
    return f"""
    WITH rows_in AS ({select}),
    agg AS (
        SELECT {keys}COUNT(*) AS n,
               COALESCE(SUM(CAST({success_col} AS INT)), 0) AS successes
        FROM rows_in WHERE {success_col} IS NOT NULL {grp}
    ),
    d AS (
        SELECT *, CAST(successes AS DOUBLE) AS kk, CAST(n AS DOUBLE) AS nn
        FROM agg
    )
    SELECT {keys}CAST(n AS BIGINT) AS n,
           CAST(successes AS BIGINT) AS successes,
           CASE WHEN n > 0 THEN
             CAST(successes * 1000000 // n AS BIGINT) END AS p_ppm,
           CASE WHEN n > 0 THEN
             CAST(CAST({lo} AS DECIMAL(18,6)) AS DOUBLE) END AS ci_lo,
           CASE WHEN n > 0 THEN
             CAST(CAST({hi} AS DECIMAL(18,6)) AS DOUBLE) END AS ci_hi
    FROM d
    """


def ab_test(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Two-proportion z-test between ``control`` and ``treatment``
    rows: ONE output row — per-variant trials and conversion in exact
    integer ppm, the lift (treatment − control) in ppm, and
    ``significant`` under the pooled-variance z-test at ``z_crit``
    (default two-sided 95%).

    ``success_col`` is boolean/0-1; each ROW is a trial (pre-aggregate
    to users upstream for per-user conversion). The decision is the
    squared form ``(p1−p2)² > z²·p̂(1−p̂)(1/n1+1/n2)`` over counts that
    are exact integers — the scalar IEEE expression is fixed-shape and
    reproduced verbatim by the oracle, so significance is
    deterministic, not a tolerance. One conditional aggregation —
    map-side combinable, no shuffle beyond it.
    """
    s = F.col(success_col).cast("int")
    is_c = F.col(variant_col) == control
    is_t = F.col(variant_col) == treatment
    agg = df.agg(
        F.sum(F.when(is_c, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(is_c, s).otherwise(0)).alias("k_c"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(is_t, s).otherwise(0)).alias("k_t"),
    )
    n1, k1 = F.col("n_c").cast("double"), F.col("k_c").cast("double")
    n2, k2 = F.col("n_t").cast("double"), F.col("k_t").cast("double")
    p1, p2 = k1 / n1, k2 / n2
    pool = (k1 + k2) / (n1 + n2)
    lhs = (p1 - p2) * (p1 - p2)
    rhs = (
        (z_crit * z_crit)
        * (pool * (1.0 - pool))
        * (1.0 / n1 + 1.0 / n2)
    )
    return agg.select(
        F.col("n_c").cast("bigint").alias("n_control"),
        F.expr("(k_c * 1000000) div n_c").alias("conv_control_ppm"),
        F.col("n_t").cast("bigint").alias("n_treatment"),
        F.expr("(k_t * 1000000) div n_t").alias("conv_treatment_ppm"),
        (
            F.expr("(k_t * 1000000) div n_t")
            - F.expr("(k_c * 1000000) div n_c")
        ).alias("lift_ppm"),
        F.when((F.col("n_c") > 0) & (F.col("n_t") > 0), lhs > rhs)
        .otherwise(F.lit(False))
        .alias("significant"),
    )


def ab_test_by(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    control: str,
    treatment: str,
    by: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Per-segment two-proportion z-test — :func:`ab_test` broken out
    by a dimension (lift per country, per device, per source): one row
    per ``by`` value with the same exact-integer counts/ppm and the
    same fixed-shape pooled-variance decision applied WITHIN the
    segment. The standard heterogeneity readout ("the win is all in
    one segment") a single global row hides. NULL segments are
    excluded; a segment missing an arm reports NULL ppm for that arm
    and ``significant = false`` (no comparison exists). Multiple
    -comparison caution is the caller's: pass a Bonferroni-adjusted
    ``z_crit`` when reading many segments.

    Scale shape: ONE conditional hash agg keyed by the segment
    (map-side combinable), then pure codegen scalar math per row —
    segments never shuffle more than their 4 counters.
    """
    s = F.col(success_col).cast("int")
    is_c = F.col(variant_col) == control
    is_t = F.col(variant_col) == treatment
    agg = (
        df.filter(F.col(by).isNotNull())
        .groupBy(by)
        .agg(
            F.sum(F.when(is_c, 1).otherwise(0)).alias("n_c"),
            F.sum(F.when(is_c, s).otherwise(0)).alias("k_c"),
            F.sum(F.when(is_t, 1).otherwise(0)).alias("n_t"),
            F.sum(F.when(is_t, s).otherwise(0)).alias("k_t"),
        )
    )
    n1, k1 = F.col("n_c").cast("double"), F.col("k_c").cast("double")
    n2, k2 = F.col("n_t").cast("double"), F.col("k_t").cast("double")
    p1, p2 = k1 / n1, k2 / n2
    pool = (k1 + k2) / (n1 + n2)
    lhs = (p1 - p2) * (p1 - p2)
    rhs = (
        (z_crit * z_crit)
        * (pool * (1.0 - pool))
        * (1.0 / n1 + 1.0 / n2)
    )
    both = (F.col("n_c") > 0) & (F.col("n_t") > 0)
    cc = F.expr("(k_c * 1000000) div n_c")
    ct = F.expr("(k_t * 1000000) div n_t")
    return agg.select(
        by,
        F.col("n_c").cast("bigint").alias("n_control"),
        F.when(F.col("n_c") > 0, cc).alias("conv_control_ppm"),
        F.col("n_t").cast("bigint").alias("n_treatment"),
        F.when(F.col("n_t") > 0, ct).alias("conv_treatment_ppm"),
        F.when(both, ct - cc).alias("lift_ppm"),
        F.when(both, lhs > rhs).otherwise(F.lit(False)).alias(
            "significant"
        ),
    )


def ab_test_by_sql(
    table: str,
    variant_col: str,
    success_col: str,
    control: str,
    treatment: str,
    by: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`ab_test_by` — :func:`ab_test_sql`'s
    expressions grouped by the segment, NULL-guarded per arm."""
    z2 = repr(float(z_crit) * float(z_crit))
    return f"""
    WITH a AS (
        SELECT {by},
               SUM(CASE WHEN {variant_col} = '{control}' THEN 1 ELSE 0 END) AS n_c,
               SUM(CASE WHEN {variant_col} = '{control}'
                        THEN CAST({success_col} AS INT) ELSE 0 END) AS k_c,
               SUM(CASE WHEN {variant_col} = '{treatment}' THEN 1 ELSE 0 END) AS n_t,
               SUM(CASE WHEN {variant_col} = '{treatment}'
                        THEN CAST({success_col} AS INT) ELSE 0 END) AS k_t
        FROM {table}
        WHERE {by} IS NOT NULL
        GROUP BY {by}
    )
    SELECT {by},
           CAST(n_c AS BIGINT) AS n_control,
           CASE WHEN n_c > 0 THEN
             CAST((k_c * 1000000) // n_c AS BIGINT) END AS conv_control_ppm,
           CAST(n_t AS BIGINT) AS n_treatment,
           CASE WHEN n_t > 0 THEN
             CAST((k_t * 1000000) // n_t AS BIGINT) END AS conv_treatment_ppm,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             CAST((k_t * 1000000) // n_t - (k_c * 1000000) // n_c
                  AS BIGINT) END AS lift_ppm,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             (CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE)
              - CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE))
             * (CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE)
                - CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE))
             > {z2}
               * ((CAST(k_c AS DOUBLE) + CAST(k_t AS DOUBLE))
                  / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
               * (1.0 - (CAST(k_c AS DOUBLE) + CAST(k_t AS DOUBLE))
                        / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
               * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))
           ELSE FALSE END AS significant
    FROM a
    """


def ab_test_sql(
    table: str,
    variant_col: str,
    success_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`ab_test` — identical counts and scalar
    expression shape."""
    z2 = repr(float(z_crit) * float(z_crit))
    return f"""
    WITH a AS (
        SELECT SUM(CASE WHEN {variant_col} = '{control}' THEN 1 ELSE 0 END) AS n_c,
               SUM(CASE WHEN {variant_col} = '{control}'
                        THEN CAST({success_col} AS INT) ELSE 0 END) AS k_c,
               SUM(CASE WHEN {variant_col} = '{treatment}' THEN 1 ELSE 0 END) AS n_t,
               SUM(CASE WHEN {variant_col} = '{treatment}'
                        THEN CAST({success_col} AS INT) ELSE 0 END) AS k_t
        FROM {table}
    )
    SELECT CAST(n_c AS BIGINT) AS n_control,
           CAST((k_c * 1000000) // n_c AS BIGINT) AS conv_control_ppm,
           CAST(n_t AS BIGINT) AS n_treatment,
           CAST((k_t * 1000000) // n_t AS BIGINT) AS conv_treatment_ppm,
           CAST((k_t * 1000000) // n_t - (k_c * 1000000) // n_c
                AS BIGINT) AS lift_ppm,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             (CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE)
              - CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE))
             * (CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE)
                - CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE))
             > {z2}
               * ((CAST(k_c AS DOUBLE) + CAST(k_t AS DOUBLE))
                  / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
               * (1.0 - (CAST(k_c AS DOUBLE) + CAST(k_t AS DOUBLE))
                        / (CAST(n_c AS DOUBLE) + CAST(n_t AS DOUBLE)))
               * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))
           ELSE FALSE END AS significant
    FROM a
    """


def weighted_quantiles(
    df: DataFrame,
    col: str,
    weight_col: str,
    probs: "list[float]",
    by: str | None = None,
    buckets: int = 1024,
) -> DataFrame:
    """Exact WEIGHTED lower quantiles — one row per (group, prob):
    ``(group?, prob, value)`` where value is the smallest ``col`` whose
    cumulative weight reaches ``p`` of the group's total (the
    traffic-weighted latency-percentile / spend-weighted price-band
    semantics the unweighted :func:`quantiles` can't express).

    Exact arithmetic: values lift to bigint cents, weights to bigint
    micro-units, the reach test is ``cum_w · 10⁶ ≥ p_ppm · W`` in
    DECIMAL(38,0) — no IEEE division anywhere, so the picked value is
    bit-identical across engines. NULL values and NULL/non-positive
    weights are excluded. Groups with zero total weight are absent.

    Scale shape — and the difference from the unweighted form: no
    per-group value buffer, and NO per-group cumulative funnel. One
    (group, value) hash agg collapses duplicates; the GLOBAL value
    range (one 1-row min/max agg, maxRows-proven broadcast attach)
    splits into ``buckets`` equal-width cells, so the cumulative sum
    runs in a window partitioned by (group, CELL) — parallelism is
    groups × cells, not groups. Cell offsets AND the group total both
    ride the (group, cell)-totals side table (≤ ``buckets`` rows per
    group): per-group running/total sums when keyed (a bounded
    key-partitioned window), a ``limit``-proved prefix self-join plus
    a 1-row total attach (the ``active_intervals`` bucket-prefix
    idiom) when global — so the big side is only ever joined to
    broadcast-sized tables. Every prob is a conditional min in ONE
    final hash agg (probs add counters, not passes). Cells use the
    GLOBAL range: a group concentrated in a narrow value slice
    degrades toward the old per-group funnel for THAT group only,
    and is never worse; raise ``buckets`` to tighten.

    EAGER (r13): construction runs one bounded driver action (the
    1-row global range collect) — calling this triggers cluster jobs
    and surfaces data errors immediately, not at the caller's first
    action.
    """
    if not probs:
        raise ValueError("weighted_quantiles: empty probs")
    if buckets < 1:
        raise ValueError("weighted_quantiles: buckets must be >= 1")
    p_ppms = [int(round(float(p) * 1_000_000)) for p in probs]
    if any(p < 0 or p > 1_000_000 for p in p_ppms):
        raise ValueError("weighted_quantiles: probs must be in [0, 1]")
    from pybabe_spark.operators._util import attach_scalars, lazy_persist

    keys = [by] if by else []
    cv = (F.col(col).cast("decimal(18,2)") * 100).cast("bigint")
    cw = (F.col(weight_col).cast("decimal(18,6)") * 1_000_000).cast(
        "bigint"
    )
    base = lazy_persist(
        # feeds the range agg AND the bucketed path — persist keeps the
        # source scan + agg single-execution (lazy, no job); tracked so
        # unpersist_tracked() can release it in a long session
        df.filter(F.col(col).isNotNull() & (F.col(weight_col) > 0))
        .select(*keys, cv.alias("__v"), cw.alias("__w"))
        .groupBy(*keys, "__v")
        .agg(F.sum(F.col("__w").cast("decimal(38,0)")).alias("__w"))
    )
    # r13: the 1-row global range collects driver-side and re-enters
    # as exact bigint literals — removes the BroadcastNestedLoopJoin
    # attach and the duplicated grain subtree under the range branch
    # (one bounded action; the cache fill it triggers was paid by the
    # first action anyway). A FULL bounded-collect of the target/pick
    # tables was A/B-tested and rejected: the in-plan broadcast builds
    # execute concurrently under AQE, so serializing them into
    # driver actions was a wash at best (1.32 → 1.50 s measured).
    rng_row = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    ).collect()[0]
    lo, hi = rng_row["__lo"], rng_row["__hi"]
    if lo is None:
        # empty input: no group reaches the dig — empty output, same
        # as the attach path's (its NULL-cell join matches nothing)
        from pybabe_spark.operators._util import local_rows_df

        esc = (by or "").replace("`", "``")
        by_typ = df.schema[by].dataType.simpleString() if by else None
        return local_rows_df(
            df.sparkSession,
            [],
            (f"`{esc}` {by_typ}, " if by else "")
            + "prob double, value double",
        )
    # equal-width cell of the GLOBAL range, in [0, buckets-1];
    # decimal math — (v - lo) * buckets can overflow bigint cents
    j = base.withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - CAST({lo} AS BIGINT))"
            f" * {buckets} div (CAST({hi} AS BIGINT)"
            f" - CAST({lo} AS BIGINT) + 1) AS BIGINT)"
        ),
    )
    btot = j.groupBy(*keys, "__b").agg(
        F.sum("__w").cast("decimal(38,0)").alias("__bt")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    if keys:
        # ≤ buckets rows per group: the exclusive prefix and the group
        # total are bounded key-partitioned windows over the
        # cell-TOTALS table, never over the data
        wb = Window.partitionBy(*keys).orderBy(F.col("__b").asc())
        offs = btot.select(
            *keys,
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                zero,
            ).alias("__off"),
            "__bt",
            F.sum("__bt")
            .over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("__tot"),
        )
    else:
        bounded = btot.limit(buckets)  # boundedness proof for the
        # linter; the cell id is < buckets by construction, so the
        # limit can never truncate
        a, b = bounded.alias("a"), bounded.alias("b")
        offs = attach_scalars(
            a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
            .groupBy(
                F.col("a.__b").alias("__b"), F.col("a.__bt").alias("__bt")
            )
            .agg(F.coalesce(F.sum("b.__bt"), zero).alias("__off"))
            .select("__b", "__off", "__bt"),
            bounded.agg(F.sum("__bt").alias("__tot")),
        )
    # TARGET CELL per (group, prob), resolved on the tiny table: the
    # first cell whose inclusive cumulative reaches p·tot — the cell
    # that contains the answer (all earlier cells sit strictly below
    # the threshold). One row per (group, prob).
    targets = (
        offs.groupBy(*keys)
        .agg(
            F.max("__tot").alias("__tot"),
            *[
                F.min(
                    F.when(
                        (F.col("__off") + F.col("__bt")) * 1_000_000
                        >= F.lit(p).cast("decimal(38,0)") * F.col("__tot"),
                        F.col("__b"),
                    )
                ).alias(f"__tb{i}")
                for i, p in enumerate(p_ppms)
            ],
            *[
                F.min(
                    F.when(
                        (F.col("__off") + F.col("__bt")) * 1_000_000
                        >= F.lit(p).cast("decimal(38,0)") * F.col("__tot"),
                        F.col("__off"),
                    )
                ).alias(f"__to{i}")
                for i, p in enumerate(p_ppms)
            ],
        )
        .selectExpr(
            *keys,
            "__tot",
            "stack({n}, {arms}) AS (__p, __tb, __toff)".format(
                n=len(p_ppms),
                arms=", ".join(
                    f"CAST({p} AS BIGINT), __tb{i}, __to{i}"
                    for i, p in enumerate(p_ppms)
                ),
            ),
        )
    )
    # dig into ONLY the target cells: broadcast is one row per
    # (group, prob) — the operator's OWN OUTPUT cardinality, so if it
    # does not fit in a broadcast the result set is the problem, not
    # the plan. The window then runs over the ≤1/buckets slice of the
    # data that lives in a target cell, partitioned per (group, prob).
    tsel = [*keys, "__tot", "__p", "__tb", "__toff"]
    tr = targets.select(
        *[F.col(k).alias("__k") for k in keys], *tsel[len(keys):]
    ) if keys else targets.select(*tsel)
    cond = F.col("__b") == F.col("__tb")
    if keys:
        cond = F.col(by).eqNullSafe(F.col("__k")) & cond
    cand = j.join(F.broadcast(tr), cond)
    w = Window.partitionBy(*keys, "__p").orderBy(F.col("__v").asc())
    cum = cand.withColumn(
        "__cum",
        F.col("__toff")
        + F.sum("__w").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    one = cum.groupBy(*keys, "__p", "__tot").agg(
        F.min(
            F.when(
                F.col("__cum").cast("decimal(38,0)") * 1_000_000
                >= F.col("__p").cast("decimal(38,0)") * F.col("__tot"),
                F.col("__v"),
            )
        ).alias("__q")
    )
    return one.select(
        *keys,
        (F.col("__p").cast("double") / 1_000_000).alias("prob"),
        (F.col("__q").cast("double") / 100).alias("value"),
    )


def weighted_quantiles_sql(
    table: str,
    col: str,
    weight_col: str,
    probs: "list[float]",
    by: str | None = None,
) -> str:
    """DuckDB oracle of :func:`weighted_quantiles` — same cents/micro
    lift, same HUGEINT reach test, one UNION ALL arm per prob."""
    p_ppms = [int(round(float(p) * 1_000_000)) for p in probs]
    keys = f"{by}, " if by else ""
    part = f"PARTITION BY {by} " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    arms = " UNION ALL ".join(
        f"SELECT {keys}CAST({p / 1e6} AS DOUBLE) AS prob,"
        f" CAST(MIN(CASE WHEN cum * 1000000 >= {p}::HUGEINT * tot"
        f" THEN v END) AS DOUBLE) / 100 AS value"
        f" FROM cum {gby}"
        for p in p_ppms
    )
    return f"""
    WITH base AS (
        SELECT {keys}
               CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
               SUM(CAST(CAST({weight_col} AS DECIMAL(18,6)) * 1000000
                   AS BIGINT)::HUGEINT) AS w
        FROM {table}
        WHERE {col} IS NOT NULL AND {weight_col} > 0
        GROUP BY {keys.rstrip(', ') + ',' if keys else ''} v
    ), cum AS (
        SELECT *,
               SUM(w) OVER ({part}ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               SUM(w) OVER ({part.rstrip() or ''}) AS tot
        FROM base
    )
    {arms}
    """


def mean_test(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Two-sample mean test (Welch/large-sample z) between ``control``
    and ``treatment`` rows of a CONTINUOUS metric — the revenue/
    duration sibling of :func:`ab_test`'s proportions, and the stage
    after :func:`~pybabe_spark.operators.cuped.cuped_adjust`: ONE
    output row with per-arm n/mean, the difference, and
    ``significant`` under

        (m̄_t − m̄_c)² > z²·(s²_c/n_c + s²_t/n_t)

    with sample variances ``s² = (n·Σx² − (Σx)²) / (n·(n−1))``. All
    sums are exact DECIMAL(38,0) on bigint cents; the decision is one
    fixed-shape squared-form IEEE expression over those exact inputs,
    reproduced verbatim by the oracle — deterministic, not a
    tolerance. Means round once to DECIMAL(18,6). Arms need n ≥ 2;
    otherwise significant = false and NULL means where undefined.
    One conditional aggregation — map-side combinable.
    """
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_c = (F.col(variant_col) == control) & F.col(value_col).isNotNull()
    is_t = (F.col(variant_col) == treatment) & F.col(value_col).isNotNull()
    agg = df.agg(
        F.sum(is_c.cast("int")).alias("n_c"),
        F.coalesce(F.sum(F.when(is_c, d(x))), F.lit(0)).cast(
            "decimal(38,0)"
        ).alias("s_c"),
        F.coalesce(F.sum(F.when(is_c, d(x) * x)), F.lit(0)).cast(
            "decimal(38,0)"
        ).alias("q_c"),
        F.sum(is_t.cast("int")).alias("n_t"),
        F.coalesce(F.sum(F.when(is_t, d(x))), F.lit(0)).cast(
            "decimal(38,0)"
        ).alias("s_t"),
        F.coalesce(F.sum(F.when(is_t, d(x) * x)), F.lit(0)).cast(
            "decimal(38,0)"
        ).alias("q_t"),
    )
    nc = F.col("n_c").cast("double")
    nt = F.col("n_t").cast("double")
    sc = F.col("s_c").cast("double")
    st = F.col("s_t").cast("double")
    qc = F.col("q_c").cast("double")
    qt = F.col("q_t").cast("double")
    mc = sc / nc / 100.0
    mt = st / nt / 100.0
    var_c = (nc * qc - sc * sc) / (nc * (nc - 1.0))
    var_t = (nt * qt - st * st) / (nt * (nt - 1.0))
    diff = st / nt - sc / nc  # cents
    lhs = diff * diff
    rhs = (z_crit * z_crit) * (var_c / nc + var_t / nt)
    mean = lambda m: m.cast("decimal(18,6)").cast("double")  # noqa: E731
    return agg.select(
        F.col("n_c").cast("bigint").alias("n_control"),
        F.when(F.col("n_c") > 0, mean(mc)).alias("mean_control"),
        F.col("n_t").cast("bigint").alias("n_treatment"),
        F.when(F.col("n_t") > 0, mean(mt)).alias("mean_treatment"),
        F.when(
            (F.col("n_c") > 0) & (F.col("n_t") > 0),
            mean(diff / 100.0),  # same op order as the oracle
        ).alias("diff"),
        F.when(
            (F.col("n_c") > 1) & (F.col("n_t") > 1), lhs > rhs
        ).otherwise(F.lit(False)).alias("significant"),
    )


def mean_test_sql(
    select: str,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`mean_test` over a subquery — same
    HUGEINT sums, same fixed-shape decision."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    c = f"({variant_col} = '{control}' AND {value_col} IS NOT NULL)"
    t = f"({variant_col} = '{treatment}' AND {value_col} IS NOT NULL)"
    z2 = f"({z_crit} * {z_crit})"
    return f"""
    WITH rows_in AS ({select}),
    agg AS (
        SELECT SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS n_c,
               COALESCE(SUM(CASE WHEN {c} THEN CAST({x} AS HUGEINT) END),
                        0) AS s_c,
               COALESCE(SUM(CASE WHEN {c}
                        THEN CAST({x} AS HUGEINT) * {x} END), 0) AS q_c,
               SUM(CASE WHEN {t} THEN 1 ELSE 0 END) AS n_t,
               COALESCE(SUM(CASE WHEN {t} THEN CAST({x} AS HUGEINT) END),
                        0) AS s_t,
               COALESCE(SUM(CASE WHEN {t}
                        THEN CAST({x} AS HUGEINT) * {x} END), 0) AS q_t
        FROM rows_in
    )
    SELECT CAST(n_c AS BIGINT) AS n_control,
           CASE WHEN n_c > 0 THEN CAST(CAST(
             CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100.0
             AS DECIMAL(18,6)) AS DOUBLE) END AS mean_control,
           CAST(n_t AS BIGINT) AS n_treatment,
           CASE WHEN n_t > 0 THEN CAST(CAST(
             CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) / 100.0
             AS DECIMAL(18,6)) AS DOUBLE) END AS mean_treatment,
           CASE WHEN n_c > 0 AND n_t > 0 THEN CAST(CAST(
             (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) / 100.0
             AS DECIMAL(18,6)) AS DOUBLE) END AS diff,
           CASE WHEN n_c > 1 AND n_t > 1 THEN
             ((CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
               - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))
              * (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                 - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)))
             > {z2} * (
               ((CAST(n_c AS DOUBLE) * CAST(q_c AS DOUBLE)
                 - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE))
                / (CAST(n_c AS DOUBLE) * (CAST(n_c AS DOUBLE) - 1.0)))
                 / CAST(n_c AS DOUBLE)
               + ((CAST(n_t AS DOUBLE) * CAST(q_t AS DOUBLE)
                 - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE))
                / (CAST(n_t AS DOUBLE) * (CAST(n_t AS DOUBLE) - 1.0)))
                 / CAST(n_t AS DOUBLE))
           ELSE FALSE END AS significant
    FROM agg
    """


def _chi2_contrib(df, a_col, b_col):
    """Shared interior of chi2_independence / cramers_v: the per-cell
    integral-ppm contribution table plus carried totals."""
    ok = F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    cells = (
        df.filter(ok)
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__nab"))
    )
    rows = cells.groupBy("__a").agg(F.sum("__nab").alias("__r"))
    cols = cells.groupBy("__b").agg(F.sum("__nab").alias("__c"))
    tot = cells.agg(
        F.sum("__nab").alias("__n"),
        F.countDistinct("__a").alias("__ra"),
        F.countDistinct("__b").alias("__cb"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # the FULL R x C grid: a zero cell still contributes (r*c/n)/1 *
    # ... i.e. (0 - r*c)^2 terms - omitting unobserved pairs would
    # understate chi2 on sparse tables (found via cramers_v's perfect-
    # association test: V came out sqrt(2/3) instead of 1)
    grid = rows.crossJoin(F.broadcast(cols))
    full = grid.join(cells, ["__a", "__b"], "left").select(
        "__a",
        "__b",
        F.coalesce(F.col("__nab"), F.lit(0)).alias("__nab"),
    )
    return (
        full.join(F.broadcast(rows), "__a")
        .join(F.broadcast(cols), "__b")
        .crossJoin(F.broadcast(tot))
        .select(
            "__n",
            "__ra",
            "__cb",
            (d("__n") * F.col("__nab") - d("__r") * F.col("__c")).alias(
                "__num"
            ),
            (d("__n") * F.col("__r") * F.col("__c")).alias("__den"),
        )
        .select(
            "__n",
            "__ra",
            "__cb",
            F.expr(
                "CAST(CAST(__num * __num * 1000000 AS DECIMAL(38,0))"
                " div __den AS BIGINT)"
            ).alias("__ppm"),
        )
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    crit: float = 15.507313,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the contingency-table sibling of :func:`ab_test`
    (proportions) and :func:`mean_test` (means): ONE output row with
    ``n`` (non-null pairs), ``dof`` ((R−1)·(C−1)), ``chi2_ppm`` and
    ``significant`` (chi2 > ``crit``, caller supplies the critical
    value for their dof/alpha — e.g. 15.507 for dof=8 at 0.05).

    Determinism: the statistic is summed as exact integers, not IEEE.
    Per cell, with ``num = (n·n_ab − r_a·c_b)²`` and
    ``den = n·r_a·c_b`` (both exact DECIMAL(38,0) on counts),
    the contribution is ``num·10⁶ div den`` — integer ppm, floored,
    non-negative (Spark ``div`` and DuckDB ``//`` agree); ``chi2_ppm``
    is their exact integer sum, order-independent. The floor
    understates true chi2 by < #cells ppm — a defined statistic, not a
    tolerance. Unobserved (zero) cells of the R x C grid are
    materialized and contribute their full expected-count terms —
    sparse tables are not understated (fixed in r9). Exact for n ≲ 10⁸ (n⁴·10⁶ within DECIMAL(38,0)); NULL
    in either column drops the pair. Empty input ⟹ (0, 0, 0, false).

    Scale shape: ONE map-side-combinable hash agg over the data
    (the cell table, ≤ R·C rows); row/column/grand totals are aggs
    OVER that tiny table, broadcast back. No window, no second scan.
    """
    contrib = _chi2_contrib(df, a_col, b_col)
    crit_ppm = int(round(float(crit) * 1_000_000))
    out = contrib.agg(
        F.max("__n").alias("__n"),
        F.max((F.col("__ra") - 1) * (F.col("__cb") - 1)).alias("__dof"),
        F.sum("__ppm").alias("__chi2"),
    )
    return out.select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.col("__dof"), F.lit(0)).cast("bigint").alias("dof"),
        F.coalesce(F.col("__chi2"), F.lit(0)).cast("bigint").alias(
            "chi2_ppm"
        ),
        F.coalesce(F.col("__chi2") > crit_ppm, F.lit(False)).alias(
            "significant"
        ),
    )


def chi2_independence_sql(
    select: str,
    a_col: str,
    b_col: str,
    crit: float = 15.507313,
) -> str:
    """DuckDB oracle of :func:`chi2_independence` over a subquery —
    same HUGEINT cell arithmetic, same floored integer ppm."""
    crit_ppm = int(round(float(crit) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    cells AS (
        SELECT {a_col} AS a, {b_col} AS b, COUNT(*)::HUGEINT AS nab
        FROM rows_in
        WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        GROUP BY {a_col}, {b_col}
    ),
    r AS (SELECT a, SUM(nab) AS r FROM cells GROUP BY a),
    c AS (SELECT b, SUM(nab) AS c FROM cells GROUP BY b),
    tt AS (SELECT SUM(nab) AS n, COUNT(DISTINCT a) AS ra,
                  COUNT(DISTINCT b) AS cb
           FROM cells),
    grid AS (
        SELECT r.a, c.b,
               COALESCE(cells.nab, 0::HUGEINT) AS nab, r.r, c.c
        FROM r CROSS JOIN c
        LEFT JOIN cells ON cells.a = r.a AND cells.b = c.b
    ),
    contrib AS (
        SELECT tt.n, tt.ra, tt.cb,
               ((tt.n * grid.nab - grid.r * grid.c)
                * (tt.n * grid.nab - grid.r * grid.c) * 1000000)
               // (tt.n * grid.r * grid.c) AS ppm
        FROM grid CROSS JOIN tt
    )
    SELECT COALESCE(CAST(MAX(n) AS BIGINT), 0) AS n,
           COALESCE(CAST(MAX((ra - 1) * (cb - 1)) AS BIGINT), 0) AS dof,
           COALESCE(CAST(SUM(ppm) AS BIGINT), 0) AS chi2_ppm,
           COALESCE(SUM(ppm) > {crit_ppm}, FALSE) AS significant
    FROM contrib
    """


def mann_whitney_u(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test — the NON-parametric
    sibling of :func:`mean_test` for skewed metrics (revenue,
    latency): ONE output row with per-arm n, ``u2`` (2·U for the
    treatment arm — doubled so ties stay integral), ``auc_ppm``
    (U/(n₁n₂), the probability a random treatment value exceeds a
    random control value — the rank-biserial effect size, floored
    integral ppm) and ``significant`` under the large-sample normal
    approximation WITHOUT tie correction (documented choice: the
    corrected variance is smaller, so this decision is conservative
    under heavy ties):

        3·(u2 − n₁n₂)² > z²·n₁n₂·(n₁+n₂+1)   [z² scaled to ppm]

    — an EXACT integer comparison: u2 is an exact integer, both sides
    are DECIMAL(38,0) products, no IEEE anywhere in the decision.
    Exact for arms ≲ 10⁸ rows.

    Scale shape (the weighted_quantiles discipline): one (value → arm
    counts) hash agg collapses duplicates; the control-count running
    sum over the DISTINCT values is DE-GLOBALIZED — the value range
    (one 1-row min/max attach) splits into 1024 equal-width cells, the
    cumsum runs in a window partitioned by CELL, and cell offsets come
    from a ``limit``-proved prefix self-join over the ≤1024-row
    cell-totals table (the ``active_intervals`` bucket-prefix idiom —
    no single-task funnel even when the metric's dynamic range is
    large); one final 1-row agg.
    ``u2 = Σ_v cb(v)·(2·cumA_less(v) + ca(v))`` where cumA_less is the
    control count strictly below v.
    """
    buckets = 1024
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    is_c = (F.col(variant_col) == control) & F.col(value_col).isNotNull()
    is_t = (F.col(variant_col) == treatment) & F.col(value_col).isNotNull()
    base = (
        df.filter(is_c | is_t)
        .select(
            x.alias("__v"),
            is_c.cast("long").alias("__ca"),
            is_t.cast("long").alias("__cb"),
        )
        .groupBy("__v")
        .agg(
            F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb")
        )
    )
    from pybabe_spark.operators._util import attach_scalars

    stats = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    j = attach_scalars(base, stats).withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - __lo) * {buckets}"
            " div (CAST(__hi AS DECIMAL(38,0)) - __lo + 1) AS BIGINT)"
        ),
    )
    btot = j.groupBy("__b").agg(F.sum("__ca").alias("__bca"))
    bounded = btot.limit(buckets)  # boundedness proof for the linter;
    # __b < buckets by construction, the limit can never truncate
    a, b = bounded.alias("a"), bounded.alias("b")
    offs = (
        a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
        .groupBy(F.col("a.__b").alias("__b"))
        .agg(F.coalesce(F.sum("b.__bca"), F.lit(0)).alias("__off"))
    )
    w = Window.partitionBy("__b").orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # explicit broadcast is PROVEN here: offs aggregates the
    # limit(buckets)-bounded table, ≤1024 rows regardless of data
    cum = j.join(F.broadcast(offs), ["__b"]).withColumn(
        "__cuma", F.col("__off") + F.sum("__ca").over(w)
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = cum.agg(
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("bigint").alias("n_c"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("bigint").alias("n_t"),
        F.coalesce(
            F.sum(
                d("__cb")
                * (2 * (F.col("__cuma") - F.col("__ca")) + F.col("__ca"))
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__u2"),
    )
    crit2_ppm = int(round(float(z_crit) * float(z_crit) * 1_000_000))
    lhs = (
        F.lit(3_000_000).cast("decimal(38,0)")
        * (F.col("__u2") - d("n_c") * F.col("n_t"))
        * (F.col("__u2") - d("n_c") * F.col("n_t"))
    )
    rhs = (
        F.lit(crit2_ppm).cast("decimal(38,0)")
        * d("n_c")
        * F.col("n_t")
        * (F.col("n_c") + F.col("n_t") + 1)
    )
    return agg.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.col("__u2").cast("bigint").alias("u2"),
        F.when(
            (F.col("n_c") > 0) & (F.col("n_t") > 0),
            F.expr(
                "CAST(CAST(__u2 AS DECIMAL(38,0)) * 500000"
                " div (CAST(n_c AS DECIMAL(38,0)) * n_t) AS BIGINT)"
            ),
        ).alias("auc_ppm"),
        F.when(
            (F.col("n_c") > 0) & (F.col("n_t") > 0), lhs > rhs
        ).otherwise(F.lit(False)).alias("significant"),
    )


def mann_whitney_u_sql(
    select: str,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`mann_whitney_u` — same value-level
    cumulative counts, same exact integer decision."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    c = f"({variant_col} = '{control}' AND {value_col} IS NOT NULL)"
    t = f"({variant_col} = '{treatment}' AND {value_col} IS NOT NULL)"
    crit2_ppm = int(round(float(z_crit) * float(z_crit) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {x} AS v,
               SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN {t} THEN 1 ELSE 0 END) AS cb
        FROM rows_in WHERE {c} OR {t} GROUP BY 1
    ),
    cum AS (
        SELECT *, SUM(ca) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma
        FROM base
    ),
    agg AS (
        SELECT COALESCE(CAST(SUM(ca) AS BIGINT), 0) AS n_c,
               COALESCE(CAST(SUM(cb) AS BIGINT), 0) AS n_t,
               COALESCE(SUM(CAST(cb AS HUGEINT)
                   * (2 * (cuma - ca) + ca)), 0) AS u2
        FROM cum
    )
    SELECT n_c AS n_control, n_t AS n_treatment,
           CAST(u2 AS BIGINT) AS u2,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             CAST((u2 * 500000) // (CAST(n_c AS HUGEINT) * n_t)
                  AS BIGINT) END AS auc_ppm,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             3000000::HUGEINT
               * (u2 - CAST(n_c AS HUGEINT) * n_t)
               * (u2 - CAST(n_c AS HUGEINT) * n_t)
             > {crit2_ppm}::HUGEINT * n_c * n_t * (n_c + n_t + 1)
           ELSE FALSE END AS significant
    FROM agg
    """


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    c_alpha: float = 1.358102,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test — do the two groups' value
    DISTRIBUTIONS differ in shape? The third leg of the comparison
    family: :func:`mean_test` tests location parametrically,
    :func:`mann_whitney_u` tests rank-location, this tests the maximum
    ECDF gap, so it also catches equal-median/equal-mean differences
    (variance, bimodality, tail weight). ONE output row:
    ``(n_a, n_b, d_num, d_ppm, significant)`` where

        d_num = max over distinct values v of |cumA(v)·n_b − cumB(v)·n_a|

    is the KS numerator kept EXACT-INTEGRAL (D = d_num/(n_a·n_b);
    ``d_ppm`` is the floored integral ppm) and ``significant`` applies
    the large-sample rejection rule D > c(α)·√((n_a+n_b)/(n_a·n_b))
    squared into the all-integer comparison

        10⁶ · d_num² > c²_ppm · (n_a+n_b) · n_a · n_b

    — c² is a Python-computed integer ppm literal shared with the
    oracle, so neither engine evaluates a square root (the
    mann_whitney decision discipline). Ties are exact (counts collapse
    per distinct value); NULL values and other groups are excluded;
    an empty arm ⟹ NULL d_ppm, significant = false. Default c(α) is
    the classical α = 0.05 two-sided coefficient 1.358.

    Scale shape (the weighted_quantiles / mann_whitney discipline):
    one (value → per-arm counts) hash agg collapses duplicates, the
    BOTH-arm running sums over distinct values are de-globalized via
    1024 equal-width cells (1-row min/max attach; cell offsets from a
    ``limit``-proved prefix self-join over the ≤1024-row cell-totals
    table; cumsum windows partitioned by cell), arm totals ride a
    1-row broadcast attach, one final fixed-shape agg. No global
    window anywhere — the plan is all map-combinable aggs plus
    bounded-small joins, sound at 100×.
    """
    buckets = 1024
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    is_a = (F.col(group_col) == group_a) & F.col(value_col).isNotNull()
    is_b = (F.col(group_col) == group_b) & F.col(value_col).isNotNull()
    base = (
        df.filter(is_a | is_b)
        .select(
            x.alias("__v"),
            is_a.cast("long").alias("__ca"),
            is_b.cast("long").alias("__cb"),
        )
        .groupBy("__v")
        .agg(F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb"))
    )
    from pybabe_spark.operators._util import attach_scalars

    rng = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    j = attach_scalars(base, rng).withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - __lo) * {buckets}"
            " div (CAST(__hi AS DECIMAL(38,0)) - __lo + 1) AS BIGINT)"
        ),
    )
    btot = j.groupBy("__b").agg(
        F.sum("__ca").alias("__bca"), F.sum("__cb").alias("__bcb")
    )
    bounded = btot.limit(buckets)  # boundedness proof for the linter;
    # __b < buckets by construction, the limit can never truncate
    a, b = bounded.alias("a"), bounded.alias("b")
    offs = (
        a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
        .groupBy(F.col("a.__b").alias("__b"))
        .agg(
            F.coalesce(F.sum("b.__bca"), F.lit(0)).alias("__offa"),
            F.coalesce(F.sum("b.__bcb"), F.lit(0)).alias("__offb"),
        )
    )
    w = Window.partitionBy("__b").orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # explicit broadcast is PROVEN: offs aggregates the limit(buckets)-
    # bounded table, ≤1024 rows regardless of data
    cum = j.join(F.broadcast(offs), ["__b"]).select(
        (F.col("__offa") + F.sum("__ca").over(w)).alias("__cuma"),
        (F.col("__offb") + F.sum("__cb").over(w)).alias("__cumb"),
    )
    tot = base.agg(
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("bigint").alias("__na"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("bigint").alias("__nb"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    gap = F.abs(d("__cuma") * F.col("__nb") - d("__cumb") * F.col("__na"))
    # coalesce: on EMPTY input the attach produces zero rows and the
    # keyless agg emits NULL maxes, while the oracle's tot-side LEFT
    # JOIN emits (0, 0, 0) — align on the zeros
    agg = attach_scalars(cum, tot).agg(
        F.coalesce(F.max("__na"), F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce(F.max("__nb"), F.lit(0)).cast("bigint").alias("n_b"),
        F.coalesce(F.max(gap), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__dnum"),
    )
    c2_ppm = int(round(float(c_alpha) * float(c_alpha) * 1_000_000))
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        F.col("n_a"),
        F.col("n_b"),
        F.col("__dnum").cast("bigint").alias("d_num"),
        F.when(
            both,
            F.expr(
                "CAST(CAST(__dnum AS DECIMAL(38,0)) * 1000000"
                " div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ),
        ).alias("d_ppm"),
        F.when(
            both,
            F.lit(1_000_000).cast("decimal(38,0)")
            * F.col("__dnum")
            * F.col("__dnum")
            > F.lit(c2_ppm).cast("decimal(38,0)")
            * (d("n_a") + F.col("n_b"))
            * d("n_a")
            * F.col("n_b"),
        )
        .otherwise(F.lit(False))
        .alias("significant"),
    )


def ks_test_sql(
    select: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    c_alpha: float = 1.358102,
) -> str:
    """DuckDB oracle of :func:`ks_test` — same distinct-value ECDF
    cumulatives, same exact-integer max-gap and decision (HUGEINT
    arithmetic; the c² ppm literal is the identical Python integer)."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    ia = f"({group_col} = '{group_a}' AND {value_col} IS NOT NULL)"
    ib = f"({group_col} = '{group_b}' AND {value_col} IS NOT NULL)"
    c2_ppm = int(round(float(c_alpha) * float(c_alpha) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {x} AS v,
               SUM(CASE WHEN {ia} THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN {ib} THEN 1 ELSE 0 END) AS cb
        FROM rows_in WHERE {ia} OR {ib} GROUP BY 1
    ),
    cum AS (
        SELECT SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
        FROM base
        WINDOW w AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (
        SELECT COALESCE(CAST(SUM(ca) AS BIGINT), 0) AS na,
               COALESCE(CAST(SUM(cb) AS BIGINT), 0) AS nb
        FROM base
    ),
    agg AS (
        SELECT t.na AS n_a, t.nb AS n_b,
               COALESCE(MAX(ABS(CAST(c.cuma AS HUGEINT) * t.nb
                                - CAST(c.cumb AS HUGEINT) * t.na)),
                        0) AS dnum
        FROM tot t LEFT JOIN cum c ON TRUE
        GROUP BY t.na, t.nb
    )
    SELECT n_a, n_b, CAST(dnum AS BIGINT) AS d_num,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             CAST((dnum * 1000000)
                  // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) END AS d_ppm,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
             1000000::HUGEINT * dnum * dnum
               > {c2_ppm}::HUGEINT * (n_a + n_b)
                 * CAST(n_a AS HUGEINT) * n_b
           ELSE FALSE END AS significant
    FROM agg
    """


def srm_check(
    df: DataFrame,
    variant_col: str,
    expected_ppm: "dict[str, int]",
    crit: float = 3.841459,
) -> DataFrame:
    """Sample-ratio-mismatch guardrail — the FIRST check of any A/B
    readout (a skewed split invalidates every downstream metric):
    chi-square goodness-of-fit of observed arm counts against the
    design allocation. ONE output row: ``(n, unexpected_n, chi2_ppm,
    srm_detected)``.

    ``expected_ppm`` maps variant → designed share in integral ppm and
    must sum to 1_000_000 (e.g. {'control': 500000, 'treatment':
    500000}). Rows with variants OUTSIDE the design are counted in
    ``unexpected_n`` (their mere presence is a bug upstream) and
    excluded from the statistic; NULL variants likewise.

    Fully exact integer statistic: per arm,
    ``(10⁶·n_i − n·p_i)² div (n·p_i)`` — already ppm, floored,
    non-negative — summed as integers; ``srm_detected`` compares
    against ``crit`` (default: dof=1 at α=0.05; pass the right
    critical value for #arms−1). Exact for n ≲ 10¹² rows. Empty
    input ⟹ (0, 0, 0, false).

    Scale shape: one hash agg to ≤ #arms+1 rows, then driver-free
    codegen — the cheapest possible plan.
    """
    if not expected_ppm:
        raise ValueError("srm_check: expected_ppm must be non-empty")
    tot = sum(int(v) for v in expected_ppm.values())
    if tot != 1_000_000:
        raise ValueError(
            f"srm_check: expected_ppm must sum to 1000000, got {tot}"
        )
    if any(int(v) <= 0 for v in expected_ppm.values()):
        raise ValueError("srm_check: every expected share must be > 0")
    known = F.col(variant_col).isin(*expected_ppm.keys())
    counts = df.agg(
        F.coalesce(F.sum(known.cast("long")), F.lit(0)).alias("__n"),
        F.coalesce(
            F.sum((~known | F.col(variant_col).isNull()).cast("long")),
            F.lit(0),
        ).alias("__u"),
        *[
            F.coalesce(
                F.sum((F.col(variant_col) == v).cast("long")), F.lit(0)
            ).alias(f"__a{i}")
            for i, v in enumerate(expected_ppm)
        ],
    )
    terms = []
    for i, (_, p) in enumerate(expected_ppm.items()):
        terms.append(
            f"(CAST(1000000 AS DECIMAL(38,0)) * __a{i}"
            f" - CAST(__n AS DECIMAL(38,0)) * {int(p)})"
        )
    chi2 = " + ".join(
        f"(({t}) * ({t})) div (CAST(__n AS DECIMAL(38,0)) * {int(p)})"
        for t, (_, p) in zip(terms, expected_ppm.items())
    )
    crit_ppm = int(round(float(crit) * 1_000_000))
    return counts.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__u").cast("bigint").alias("unexpected_n"),
        F.when(
            F.col("__n") > 0, F.expr(f"CAST({chi2} AS BIGINT)")
        ).otherwise(F.lit(0).cast("bigint")).alias("chi2_ppm"),
        F.coalesce(
            F.when(F.col("__n") > 0, F.expr(f"{chi2} > {crit_ppm}")),
            F.lit(False),
        ).alias("srm_detected"),
    )


def srm_check_sql(
    select: str,
    variant_col: str,
    expected_ppm: "dict[str, int]",
    crit: float = 3.841459,
) -> str:
    """DuckDB oracle of :func:`srm_check` — same HUGEINT floored-ppm
    goodness-of-fit terms."""
    known = " OR ".join(
        f"{variant_col} = '{v}'" for v in expected_ppm
    )
    arm_counts = ", ".join(
        f"COALESCE(SUM(CASE WHEN {variant_col} = '{v}' THEN 1 END), 0)"
        f" AS a{i}"
        for i, v in enumerate(expected_ppm)
    )
    chi2 = " + ".join(
        f"(((1000000::HUGEINT * a{i} - n::HUGEINT * {int(p)})"
        f" * (1000000::HUGEINT * a{i} - n::HUGEINT * {int(p)}))"
        f" // (n::HUGEINT * {int(p)}))"
        for i, (_, p) in enumerate(expected_ppm.items())
    )
    crit_ppm = int(round(float(crit) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    counts AS (
        SELECT COALESCE(SUM(CASE WHEN {known} THEN 1 END), 0) AS n,
               COALESCE(SUM(CASE WHEN NOT ({known})
                    OR {variant_col} IS NULL THEN 1 END), 0) AS u,
               {arm_counts}
        FROM rows_in
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(u AS BIGINT) AS unexpected_n,
           CASE WHEN n > 0 THEN CAST({chi2} AS BIGINT)
                ELSE 0 END AS chi2_ppm,
           COALESCE(CASE WHEN n > 0 THEN ({chi2}) > {crit_ppm} END,
                    FALSE) AS srm_detected
    FROM counts
    """


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    alpha: float = 0.1,
) -> DataFrame:
    """Per-group α-trimmed mean — the robust location estimate between
    the mean (α=0) and the median (α→0.5): values outside the group's
    [α, 1−α] quantile edges are DROPPED (not clamped — that is
    ``sampling.winsorize``) and the rest average exactly. One row per
    group: ``(group?, n, n_kept, trimmed_mean)``.

    Determinism: values lift to bigint cents; the two edges are
    ``percentile``/``quantile_cont`` rounded once to 6 dp (the proven
    quantile_bins convention); membership is a codegen comparison
    against the rounded edges; the kept-mean is an exact decimal sum
    over kept cents divided once, rounded to DECIMAL(18,6). NULLs are
    excluded everywhere. Empty groups are absent.

    Scale shape: one per-group percentile agg (buffers the group's
    values — the exact-percentile caveat of ``sketch.quantiles``; use
    approx edges beyond ~1e7 rows/group), one broadcast join back,
    one conditional hash agg.
    """
    if not 0.0 <= alpha < 0.5:
        raise ValueError(f"trimmed_mean: alpha {alpha} outside [0, 0.5)")
    keys = [by] if by else []
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys, cents.alias("__v")
    )
    edges = base.groupBy(*keys).agg(
        F.round(F.percentile(F.col("__v"), F.lit(alpha)), 6).alias(
            "__lo"
        ),
        F.round(F.percentile(F.col("__v"), F.lit(1.0 - alpha)), 6).alias(
            "__hi"
        ),
    )
    # keyed: NO explicit broadcast hint — `by` is unbounded, so the
    # edge table grows with group cardinality; AQE broadcasts it when
    # it is actually small (the unbounded-key rule from theilsen_slope,
    # commit 2cd3b0a). Keyless: a 1-row table, hint is safe.
    joined = (
        base.join(edges, keys) if keys
        else base.crossJoin(F.broadcast(edges))
    )
    kept = (F.col("__v") >= F.col("__lo")) & (F.col("__v") <= F.col("__hi"))
    agg = joined.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(kept.cast("long")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("__v").cast("decimal(38,0)")))
        .cast("decimal(38,0)")
        .alias("__s"),
    )
    mean = (
        (F.col("__s").cast("double") / F.col("n_kept").cast("double"))
        / 100.0
    )
    return agg.select(
        *keys,
        "n",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            mean.cast("decimal(18,6)").cast("double"),
        ).alias("trimmed_mean"),
    )


def trimmed_mean_sql(
    table: str,
    value_col: str,
    by: str | None = None,
    alpha: float = 0.1,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`trimmed_mean` — same cents lift, same
    6 dp quantile_cont edges, same exact HUGEINT kept-sum."""
    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    join = f"JOIN edges USING ({by})" if by else "CROSS JOIN edges"
    v = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH base AS (
        SELECT {keys}{v} AS v FROM {table}
        WHERE {value_col} IS NOT NULL AND ({where})
    ),
    edges AS (
        SELECT {keys}ROUND(quantile_cont(v, {alpha}), 6) AS lo,
               ROUND(quantile_cont(v, {1.0 - alpha}), 6) AS hi
        FROM base {gby}
    ),
    agg AS (
        SELECT {keys}COUNT(*) AS n,
               SUM(CASE WHEN v >= lo AND v <= hi THEN 1 ELSE 0 END)
                 AS n_kept,
               SUM(CASE WHEN v >= lo AND v <= hi
                   THEN CAST(v AS HUGEINT) END) AS s
        FROM base {join} {gby}
    )
    SELECT {keys}CAST(n AS BIGINT) AS n,
           CAST(n_kept AS BIGINT) AS n_kept,
           CASE WHEN n_kept > 0 THEN CAST(CAST(
             (CAST(s AS DOUBLE) / CAST(n_kept AS DOUBLE)) / 100.0
             AS DECIMAL(18,6)) AS DOUBLE) END AS trimmed_mean
    FROM agg
    """


def category_diversity(
    df: DataFrame,
    col: str,
    by: str | None = None,
) -> DataFrame:
    """Per-group categorical diversity: ``(group?, n, n_categories,
    entropy, simpson_ppm)`` — Shannon entropy (nats) and the
    Gini-Simpson index ``1 − Σpᵢ²`` of a categorical column's
    distribution. The balance/concentration signal for source mixes,
    segment health, and drift baselines (Simpson is the probability
    two random rows differ).

    Determinism: counts are exact; Simpson is FULLY exact integral ppm
    (``(n² − Σnᵢ²)·10⁶ div n²``). Entropy needs ``ln``: it uses the
    identity ``H = ln(n) − (Σ nᵢ·ln nᵢ)/n`` where each per-category
    term rounds once to DECIMAL(18,6) BEFORE the sum — decimal sums
    are associative, so the (documented) per-term-rounded statistic is
    order-independent and engine-identical; the final expression is
    fixed-shape IEEE rounded once. NULL category rows are DROPPED —
    coalesce to a sentinel upstream if NULL should count as a
    category. Empty groups are absent.

    Scale shape: one (group, category) hash agg — the only
    corpus-scale shuffle — then one per-group agg over category rows.
    """
    keys = [by] if by else []
    cnts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, F.col(col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    term = (
        (F.col("__ni").cast("double") * F.log(F.col("__ni").cast("double")))
        .cast("decimal(18,6)")
    )
    agg = cnts.groupBy(*keys).agg(
        F.sum(d(F.col("__ni"))).cast("decimal(38,0)").alias("__n"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
        F.sum(d(F.col("__ni")) * F.col("__ni")).cast("decimal(38,0)").alias(
            "__q"
        ),
        F.sum(term).cast("decimal(28,6)").alias("__s"),
    )
    n_dbl = F.col("__n").cast("double")
    entropy = (
        (F.log(n_dbl) - F.col("__s").cast("double") / n_dbl)
        .cast("decimal(18,6)")
        .cast("double")
    )
    return agg.select(
        *keys,
        F.col("__n").cast("bigint").alias("n"),
        "n_categories",
        entropy.alias("entropy"),
        F.expr(
            "CAST(((__n * __n - __q) * 1000000)"
            " div (__n * __n) AS BIGINT)"
        ).alias("simpson_ppm"),
    )


def category_diversity_sql(
    table: str,
    col: str,
    by: str | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`category_diversity` — same per-term
    DECIMAL(18,6) rounding, same exact Simpson ppm."""
    keys = f"{by}, " if by else ""
    gby1 = f"GROUP BY {by}, {col}" if by else f"GROUP BY {col}"
    gby2 = f"GROUP BY {by}" if by else ""
    return f"""
    WITH cnts AS (
        SELECT {keys}{col} AS c, COUNT(*)::HUGEINT AS ni
        FROM {table}
        WHERE {col} IS NOT NULL AND ({where})
        {gby1}
    ),
    agg AS (
        SELECT {keys}SUM(ni) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_categories,
               SUM(ni * ni) AS q,
               SUM(CAST(CAST(ni AS DOUBLE) * ln(CAST(ni AS DOUBLE))
                   AS DECIMAL(18,6))) AS s
        FROM cnts {gby2}
    )
    SELECT {keys}CAST(n AS BIGINT) AS n,
           n_categories,
           CAST(CAST(ln(CAST(n AS DOUBLE))
                - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                AS DECIMAL(18,6)) AS DOUBLE) AS entropy,
           CAST(((n * n - q) * 1000000) // (n * n) AS BIGINT)
             AS simpson_ppm
    FROM agg
    """


def _pair_rank2(
    pdf: DataFrame,
    keys: "list[str]",
    col: str,
    out: str,
    buckets: int = 1024,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Append ``out`` = TWICE the average tie-rank of ``col`` within
    its group (2·rank keeps half-ranks integral — ties average to
    .5s) to a pre-aggregated grain ``pdf`` carrying a bigint
    multiplicity column ``__c``. Ranks are computed IN PLACE on the
    grain with RANGE frames — ``2·cum_<(v) + n_v + 1`` where cum_< is
    the (group, cell)-partitioned range-cumulative up to ``v − 1``
    plus the cell offset and n_v is the peers-only range sum — so
    there is NO distinct-value rank table and NO value-keyed shuffle
    join back (the r12 de-join rewrite, shared shape with
    :func:`_kw_rank_sums`). Cells come from the global value range
    (1024 equal-width buckets), offsets from the tiny per-(group,
    cell) totals — no per-group funnel."""
    from pybabe_spark.operators._util import attach_scalars

    rng = pdf.agg(F.min(col).alias("__lo"), F.max(col).alias("__hi"))
    j = attach_scalars(pdf, rng).withColumn(
        "__b",
        F.expr(
            f"CAST((CAST({col} AS DECIMAL(38,0)) - __lo) * {buckets}"
            " div (CAST(__hi AS DECIMAL(38,0)) - __lo + 1) AS BIGINT)"
        ),
    ).drop("__lo", "__hi")
    btot = j.groupBy(*keys, "__b").agg(F.sum("__c").alias("__bt"))
    if keys:
        wb = Window.partitionBy(*keys).orderBy(F.col("__b").asc())
        offs = btot.select(
            *keys,
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__off"),
        )
        offr = offs.withColumnRenamed("__b", "__b2")
        for k in keys:
            offr = offr.withColumnRenamed(k, f"__k_{k}")
        conds = [F.col("__b") == F.col("__b2")] + [
            F.col(k).eqNullSafe(F.col(f"__k_{k}")) for k in keys
        ]
        # offs is bounded by (groups × buckets) rows — a per-(group,
        # cell) total, never data-sized. Unhinted, Catalyst cannot
        # estimate a window's output and planned a SortMergeJoin here
        # (2 Exchanges + 2 Sorts per rank pass, ×2 passes in spearman —
        # the r13 plan audit's dominant shape); the hint makes it the
        # BroadcastHashJoin the size bound justifies for the bounded
        # group domains the grouped-stats operators target (flags,
        # languages, statuses — ≤10⁴ groups ⟹ ≤10⁷ offset rows of two
        # bigints). A genuinely unbounded by-domain needs the shuffle
        # join back — callers pass ``broadcast_offsets=False`` and the
        # planner keeps its own (sort-merge) choice.
        offj = F.broadcast(offr) if broadcast_offsets else offr
        cum_in = j.join(
            offj, reduce(lambda a, b: a & b, conds)
        ).drop("__b2", *[f"__k_{k}" for k in keys])
    else:
        bounded = btot.limit(buckets)
        a, b = bounded.alias("a"), bounded.alias("b")
        offs = (
            a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
            .groupBy(F.col("a.__b").alias("__b"))
            .agg(F.coalesce(F.sum("b.__bt"), F.lit(0)).alias("__off"))
        )
        cum_in = j.join(F.broadcast(offs), ["__b"])
    w = Window.partitionBy(*keys, "__b").orderBy(F.col(col).asc())
    cum_lt = F.coalesce(
        F.sum("__c").over(w.rangeBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    n_v = F.sum("__c").over(w.rangeBetween(0, 0))
    return cum_in.withColumn(
        out, (2 * (F.col("__off") + cum_lt) + n_v + 1).cast("bigint")
    ).drop("__b", "__off")


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: str | None = None,
    buckets: int = 1024,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Spearman rank correlation per group — ``(group?, n, rho)`` —
    the monotone-association measure Pearson (``corr_matrix``)
    mis-states for heavy-tailed metrics: rho = Pearson correlation of
    the per-group AVERAGE TIE-RANKS of x and y. The constant factor in
    2·rank cancels in the correlation, so every rank-side quantity is
    an exact integer and all five moment sums run in DECIMAL(38,0);
    only the final ``cov / (√varx·√vary)`` is IEEE, one fixed shape,
    rounded once to DECIMAL(18,6). Values lift to bigint cents (2-dp),
    so ties are cent-level — the house lift. Rows with NULL x or y are
    excluded; groups with zero rank variance on either side yield NULL
    rho.

    Scale shape (r12 de-join rewrite): one hash agg collapses rows to
    the (group, x, y, multiplicity) pair grain, then ranks for x and
    for y are computed IN PLACE on that grain with two RANGE-framed
    (group, cell)-partitioned windows (:func:`_pair_rank2` — global
    1024-cell value range, offsets from the tiny cell-totals table,
    no per-group funnel). The old per-column distinct-value rank
    tables and their two (group, value)-keyed shuffle joins back to
    the row grain are gone; then ONE map-combinable weighted moment
    aggregation. No global window, no all-pairs.

    ``broadcast_offsets`` (default True) broadcast-hints the bounded
    (group × 1024-cell) offsets table into the rank joins; pass False
    for a genuinely unbounded ``by`` domain (≥ ~10⁵ groups) so the
    planner keeps a shuffle join instead of building a giant broadcast.
    """
    keys = [by] if by else []
    cx = (F.col(x_col).cast("decimal(18,2)") * 100).cast("bigint")
    cy = (F.col(y_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(*keys, cx.alias("__x"), cy.alias("__y"))
    from pybabe_spark.operators._util import lazy_persist

    # the pair grain feeds both rank passes' branch fans (range stats,
    # cell totals, offsets, window main path — ×2 columns); unpinned,
    # every branch re-runs the scan + pair shuffle (plan audit: 16
    # parquet scans in one spearman plan)
    pair = lazy_persist(
        base.groupBy(*keys, "__x", "__y").agg(
            F.count(F.lit(1)).alias("__c")
        )
    )
    # the first pass's output is the second pass's fan root — pin it
    # too, or the y-pass branches re-run the x-pass window each
    ranked = _pair_rank2(
        lazy_persist(
            _pair_rank2(
                pair, keys, "__x", "__rx", buckets, broadcast_offsets
            )
        ),
        keys,
        "__y",
        "__ry",
        buckets,
        broadcast_offsets,
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = ranked.groupBy(*keys).agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(d("__rx") * F.col("__c")).alias("__sx"),
        F.sum(d("__ry") * F.col("__c")).alias("__sy"),
        F.sum(d("__rx") * F.col("__rx") * F.col("__c")).alias("__sxx"),
        F.sum(d("__ry") * F.col("__ry") * F.col("__c")).alias("__syy"),
        F.sum(d("__rx") * F.col("__ry") * F.col("__c")).alias("__sxy"),
    )
    cov = d("n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = d("n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = d("n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    rho = (
        cov.cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
    )
    return agg.select(
        *keys,
        "n",
        F.when((vx > 0) & (vy > 0), rho)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("rho"),
    )


def spearman_corr_sql(
    table: str,
    x_col: str,
    y_col: str,
    by: str | None = None,
) -> str:
    """DuckDB oracle of :func:`spearman_corr` — average tie-ranks via
    RANK() + per-value COUNT (2·avg = 2·RANK + cnt − 1, the same
    integral form), identical DECIMAL moments and final expression."""
    keys = f"{by}, " if by else ""
    part = f"PARTITION BY {by} " if by else ""
    pv = f"PARTITION BY {by}, " if by else "PARTITION BY "
    gby = f"GROUP BY {by}" if by else ""
    return f"""
    WITH base AS (
        SELECT {keys}
               CAST(CAST({x_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(CAST({y_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM {table}
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), ranked AS (
        SELECT {keys}
               2 * RANK() OVER ({part}ORDER BY x)
                 + COUNT(*) OVER ({pv}x) - 1 AS rx,
               2 * RANK() OVER ({part}ORDER BY y)
                 + COUNT(*) OVER ({pv}y) - 1 AS ry
        FROM base
    ), m AS (
        SELECT {keys}
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(rx AS DECIMAL(38,0))) AS sx,
               SUM(CAST(ry AS DECIMAL(38,0))) AS sy,
               SUM(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
               SUM(CAST(ry AS DECIMAL(38,0)) * ry) AS syy,
               SUM(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy
        FROM ranked {gby}
    )
    SELECT {keys} n,
           CAST(CAST(CASE WHEN n::DECIMAL(38,0) * sxx - sx * sx > 0
                     AND n::DECIMAL(38,0) * syy - sy * sy > 0 THEN
             CAST(n::DECIMAL(38,0) * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n::DECIMAL(38,0) * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n::DECIMAL(38,0) * syy - sy * sy AS DOUBLE)))
           END AS DECIMAL(18,6)) AS DOUBLE) AS rho
    FROM m
    """


#: cumulative Poisson(1) CDF thresholds scaled to 2^60 — computed once
#: in Python, entering BOTH engines as integer literals so weight
#: derivation is pure integral comparison (k = 9 covers the CDF to
#: ~1e-10; the residual tail rounds into the last bucket)
_POISSON1_CDF_2_60 = [
    424136118829305344, 848272237658610688, 1060340297073263360,
    1131029650211480960, 1148701988496035328, 1152236456152946176,
    1152825534095764608, 1152909688087595776, 1152920207336574720,
]


def _poisson_weight(u60):
    """Integer Poisson(1) draw from a 60-bit uniform hash value —
    inverse-CDF against the literal threshold table (no floats)."""
    w = F.lit(9)
    for k in reversed(range(len(_POISSON1_CDF_2_60))):
        w = F.when(u60 < F.lit(_POISSON1_CDF_2_60[k]), F.lit(k)).otherwise(w)
    return w


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    by: str | None = None,
    n_resamples: int = 50,
    alpha: float = 0.05,
    seed: int = 0,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the per-group mean —
    ``(group?, n, mean, ci_lo, ci_hi)`` — the error bar a 100 TB
    aggregate needs WITHOUT collecting anything: classical resampling
    replays the dataset B times, the Poisson bootstrap (Chamandy et
    al., Google 2012) instead gives every row an independent
    Poisson(1) replication weight per resample, so all B resample
    means come out of ONE map-combinable aggregation pass.

    Fully deterministic and cross-engine exact: the per-(row, b)
    weight is the inverse-CDF of a 60-bit integer slice of
    ``md5(seed:b:key)`` against Python-computed integer thresholds —
    no RNG, no floats until the final division. Resample sums run in
    the exact-decimal convention; each mean is one fixed-shape IEEE
    division rounded to DECIMAL(18,6); the CI bounds are order
    statistics of the B means picked by in-row ``array_sort`` (index
    ``floor(alpha/2·B)+1`` / ``ceil((1-alpha/2)·B)``, 1-based). NULL
    values are excluded.

    Scale shape: ONE aggregation with 2·B+2 sums (B is a constant —
    default 50 — so the agg width is fixed, not data-dependent), then
    a tiny in-row sort of B numbers per group. No shuffle beyond the
    group-by, no second pass, no driver-side randomness.
    """
    if n_resamples < 4:
        raise ValueError("bootstrap_mean_ci: n_resamples must be >= 4")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"bootstrap_mean_ci: alpha {alpha} not in (0,1)")
    keys = [by] if by else []
    xd = F.col(value_col).cast("decimal(18,6)")
    # r13 optimization: the per-(row, b) weight derivation — md5 →
    # 60-bit slice → 9-level inverse-CDF CASE — used to be inlined
    # per resample in BOTH the weighted and the weight sum (2·B copies
    # of the chain, a ~450 KB physical plan whose analysis alone cost
    # ~2.5 s per construction at B = 40). One ``transform(sequence)``
    # lambda now derives the identical weight array once per row; the
    # 2·B aggregate columns are tiny element_at references. Same md5
    # inputs, same thresholds, same decimal types — bit-equal output.
    cases = "CAST(CASE " + " ".join(
        f"WHEN u60 < {t}L THEN {k}"
        for k, t in enumerate(_POISSON1_CDF_2_60)
    ) + " ELSE 9 END AS DECIMAL(18,0))"
    ws = F.expr(
        f"transform(transform(sequence(0, {n_resamples - 1}), b -> "
        f"CAST(conv(substring(md5(concat('{seed}:', CAST(b AS STRING), "
        f"':', __k)), 1, 15), 16, 10) AS BIGINT)), u60 -> {cases})"
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        xd.alias("__x"),
        F.coalesce(F.col(key_col).cast("string"), F.lit("")).alias("__k"),
    ).withColumn("__ws", ws)
    sums = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__x").cast("decimal(38,6)").alias("__sx"),
    ]
    # one parsed expression per aggregate column (a chained-Column
    # build costs ~8 py4j round trips each — measurable at 2·B columns)
    for b in range(n_resamples):
        w = f"element_at(__ws, {b + 1})"
        sums.append(
            F.expr(f"CAST(SUM({w} * __x) AS DECIMAL(38,6)) AS __wx{b}")
        )
        sums.append(F.expr(f"CAST(SUM({w}) AS DECIMAL(38,0)) AS __w{b}"))
    agg = base.groupBy(*keys).agg(*sums)
    means = F.expr(
        "array_sort(array("
        + ", ".join(
            f"CASE WHEN __w{b} > 0 THEN CAST(CAST(CAST(__wx{b} AS DOUBLE)"
            f" / CAST(__w{b} AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) END"
            for b in range(n_resamples)
        )
        + "))"
    )
    lo_i = int(alpha / 2 * n_resamples) + 1
    import math as _math

    hi_i = int(_math.ceil((1 - alpha / 2) * n_resamples))
    return agg.select(
        *keys,
        "n",
        (F.col("__sx").cast("double") / F.col("n").cast("double"))
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mean"),
        F.element_at(means, lo_i).alias("ci_lo"),
        F.element_at(means, hi_i).alias("ci_hi"),
    )


def bootstrap_mean_ci_sql(
    table: str,
    value_col: str,
    key_col: str,
    by: str | None = None,
    n_resamples: int = 50,
    alpha: float = 0.05,
    seed: int = 0,
) -> str:
    """DuckDB oracle of :func:`bootstrap_mean_ci` — the identical md5
    slice, integer threshold table, decimal sums and order-statistic
    picks."""
    import math as _math

    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    ths = _POISSON1_CDF_2_60

    def w_expr(b):
        u = (
            f"CAST(('0x' || substr(md5('{seed}:{b}:' ||"
            f" COALESCE(CAST({key_col} AS VARCHAR), '')), 1, 15))"
            " AS BIGINT)"
        )
        cases = " ".join(
            f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(ths)
        )
        return f"CASE {cases} ELSE 9 END"

    sums = [
        "CAST(COUNT(*) AS BIGINT) AS n",
        f"CAST(SUM(CAST({value_col} AS DECIMAL(18,6)))"
        " AS DECIMAL(38,6)) AS sx",
    ]
    for b in range(n_resamples):
        w = w_expr(b)
        sums.append(
            f"CAST(SUM(CAST({w} AS DECIMAL(18,0))"
            f" * CAST({value_col} AS DECIMAL(18,6)))"
            f" AS DECIMAL(38,6)) AS wx{b}"
        )
        sums.append(
            f"CAST(SUM(CAST({w} AS DECIMAL(18,0)))"
            f" AS DECIMAL(38,0)) AS w{b}"
        )
    mean_arms = ", ".join(
        f"CAST(CAST(CASE WHEN w{b} > 0 THEN"
        f" CAST(wx{b} AS DOUBLE) / CAST(w{b} AS DOUBLE) END"
        f" AS DECIMAL(18,6)) AS DOUBLE)"
        for b in range(n_resamples)
    )
    lo_i = int(alpha / 2 * n_resamples) + 1
    hi_i = int(_math.ceil((1 - alpha / 2) * n_resamples))
    return f"""
    WITH agg AS (
        SELECT {keys}{', '.join(sums)}
        FROM {table} WHERE {value_col} IS NOT NULL
        {gby}
    )
    SELECT {keys}n,
           CAST(CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                AS DECIMAL(18,6)) AS DOUBLE) AS mean,
           list_sort([{mean_arms}])[{lo_i}] AS ci_lo,
           list_sort([{mean_arms}])[{hi_i}] AS ci_hi
    FROM agg
    """


def cramers_v(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cramér's V — the [0, 1] EFFECT SIZE for categorical association
    that :func:`chi2_independence` (a yes/no test) does not report:
    ``V = √(χ² / (n · min(R−1, C−1)))``. At 100 TB every χ² is
    "significant"; V says whether the association MATTERS. ONE output
    row: ``(n, chi2_ppm, v)``.

    Shares the exact integral per-cell machinery with
    ``chi2_independence`` (one hash agg to the ≤R·C cell table, totals
    broadcast back); χ² is the same floored integer-ppm sum, and only
    the final square root is IEEE — one fixed shape, rounded once to
    DECIMAL(18,6). Single-category inputs (min dim = 1) yield NULL v.
    """
    contrib = _chi2_contrib(df, a_col, b_col)
    out = contrib.agg(
        F.max("__n").alias("__n"),
        F.max(F.least(F.col("__ra") - 1, F.col("__cb") - 1)).alias(
            "__k"
        ),
        F.sum("__ppm").alias("__chi2"),
    )
    v = F.sqrt(
        (F.col("__chi2").cast("double") / 1e6)
        / (F.col("__n").cast("double") * F.col("__k").cast("double"))
    )
    return out.select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.col("__chi2"), F.lit(0))
        .cast("bigint")
        .alias("chi2_ppm"),
        F.when((F.col("__n") > 0) & (F.col("__k") > 0), v)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("v"),
    )


def cramers_v_sql(table: str, a_col: str, b_col: str) -> str:
    """DuckDB oracle of :func:`cramers_v` — identical integral cell
    ppm sum and final fixed-shape root."""
    return f"""
    WITH cells AS (
        SELECT {a_col} AS a, {b_col} AS b, COUNT(*)::HUGEINT AS nab
        FROM {table}
        WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    rt AS (SELECT a, SUM(nab) AS r FROM cells GROUP BY a),
    ct AS (SELECT b, SUM(nab) AS c FROM cells GROUP BY b),
    t AS (SELECT SUM(nab) AS n, COUNT(DISTINCT a) AS ra,
                 COUNT(DISTINCT b) AS cb FROM cells),
    grid AS (
        SELECT rt.a, ct.b,
               COALESCE(cells.nab, 0::HUGEINT) AS nab, rt.r, ct.c
        FROM rt CROSS JOIN ct
        LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b
    ),
    contrib AS (
        SELECT t.n, t.ra, t.cb,
               ((t.n * grid.nab - grid.r * grid.c)
                * (t.n * grid.nab - grid.r * grid.c) * 1000000)
               // (t.n * grid.r * grid.c) AS ppm
        FROM grid CROSS JOIN t
    ),
    agg AS (
        SELECT MAX(n) AS n,
               MAX(LEAST(ra - 1, cb - 1)) AS k,
               SUM(ppm) AS chi2
        FROM contrib
    )
    SELECT CAST(COALESCE(n, 0) AS BIGINT) AS n,
           CAST(COALESCE(chi2, 0) AS BIGINT) AS chi2_ppm,
           CAST(CAST(CASE WHEN n > 0 AND k > 0 THEN
             sqrt((CAST(chi2 AS DOUBLE) / 1e6)
                  / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)))
           END AS DECIMAL(18,6)) AS DOUBLE) AS v
    FROM agg
    """


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical columns over the SAME label space (rater vs rater,
    model prediction vs gold label, two pipeline versions' lang-id):
    ``κ = (p_o − p_e) / (1 − p_e)`` with observed agreement
    ``p_o = Σ_v n_vv / N`` and chance agreement
    ``p_e = Σ_v (r_v/N)(c_v/N)``. The accuracy a dumb
    majority-guesser would get is priced out — the number a "94%
    agreement" readout on a 94%-one-class corpus hides. ONE output
    row: ``(n, agree, kappa)``.

    Companion of :func:`cramers_v` (association strength, any two
    domains) and :func:`mutual_information` (shared information): κ is
    the one that penalizes OFF-DIAGONAL structure, so two columns can
    be perfectly associated (V = 1) yet κ = negative (systematic
    disagreement). Rows with NULL on either side are excluded.

    Cross-engine determinism: κ is computed as the single fixed-shape
    IEEE division ``(N·agree − Σ r_v c_v) / (N² − Σ r_v c_v)`` of two
    EXACT DECIMAL(38,0) integers, rounded once to DECIMAL(18,6) — the
    cramers_v discipline. Degenerate inputs (empty, or a single
    category on both sides, where chance agreement is total and κ is
    undefined) yield NULL kappa.

    Scale shape: one (a, b) cell hash agg with map-side combine, two
    margin aggs over the ≤R·C cell table, one ≤min(R,C)-row equi-join
    of the margins for Σ r_v c_v, three 1-row broadcast attaches —
    nothing bigger than the cell table ever moves.
    """
    ok = F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    cells = (
        df.filter(ok)
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__nab"))
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    tot = cells.agg(
        F.coalesce(F.sum("__nab"), F.lit(0)).cast("bigint").alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__nab"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("__agree"),
    )
    rows = cells.groupBy("__a").agg(F.sum("__nab").alias("__r"))
    cols = cells.groupBy("__b").agg(F.sum("__nab").alias("__c"))
    pe = (
        rows.join(cols, rows["__a"] == cols["__b"])
        .agg(
            F.coalesce(F.sum(d("__r") * F.col("__c")), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__pe")
        )
    )
    from pybabe_spark.operators._util import attach_scalars

    out = attach_scalars(tot, pe)
    num = d("__n") * F.col("__agree") - F.col("__pe")
    den = d("__n") * F.col("__n") - F.col("__pe")
    return out.select(
        F.col("__n").alias("n"),
        F.col("__agree").alias("agree"),
        F.when(
            den > 0,
            (num.cast("double") / den.cast("double")),
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("kappa"),
    )


def cohens_kappa_sql(table: str, a_col: str, b_col: str) -> str:
    """DuckDB oracle of :func:`cohens_kappa` — identical exact-integer
    numerator/denominator, identical single IEEE division + rounding."""
    return f"""
    WITH cells AS (
        SELECT {a_col} AS a, {b_col} AS b, COUNT(*)::HUGEINT AS nab
        FROM {table}
        WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT COALESCE(SUM(nab), 0) AS n,
               COALESCE(SUM(CASE WHEN a = b THEN nab END), 0) AS agree
        FROM cells
    ),
    rt AS (SELECT a, SUM(nab) AS r FROM cells GROUP BY a),
    ct AS (SELECT b, SUM(nab) AS c FROM cells GROUP BY b),
    pe AS (
        SELECT COALESCE(SUM(rt.r * ct.c), 0) AS pe
        FROM rt JOIN ct ON rt.a = ct.b
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           CAST(t.agree AS BIGINT) AS agree,
           CASE WHEN t.n * t.n - p.pe > 0 THEN
             CAST(CAST(
               CAST(t.n * t.agree - p.pe AS DOUBLE)
               / CAST(t.n * t.n - p.pe AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE)
           END AS kappa
    FROM tot t CROSS JOIN pe p
    """


def mutual_information(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Mutual information between two categorical columns — ONE row
    ``(n, h_a, h_b, h_ab, mi, nmi)`` in nats: how many bits of one
    column the other reveals, with ``nmi = mi / min(h_a, h_b)`` the
    [0,1] normalized form. The information-theoretic companion of
    :func:`cramers_v` (V is effect size under χ²; MI is the
    feature-selection / leakage-detection measure: nmi ≈ 1 flags a
    column pair that encodes the same thing).

    Exactly the ``category_diversity`` entropy discipline:
    ``H = ln n − (Σ nᵢ·ln nᵢ)/n`` with every per-category term rounded
    once to DECIMAL(18,6) before an associative decimal sum, and
    ``mi = ln n + (S_ab − S_a − S_b)/n`` combines the three rounded
    sums in one fixed-shape IEEE expression — engine-identical by the
    same argument. NULL in either column drops the pair. Empty input
    yields n=0 with NULL entropies.

    Scale shape: one (a, b) cell hash agg — the only corpus-scale
    shuffle — then marginal aggs OVER the cell table and three 1-row
    aggregates (maxRows-proven attaches). No window, no join on data.
    """
    from pybabe_spark.operators._util import attach_scalars

    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__nab"))
    )

    def ent_sum(counts, c, out):
        term = (
            F.col(c).cast("double") * F.log(F.col(c).cast("double"))
        ).cast("decimal(18,6)")
        return counts.agg(F.sum(term).cast("decimal(28,6)").alias(out))

    sab = ent_sum(cells, "__nab", "__sab")
    sa = ent_sum(
        cells.groupBy("__a").agg(F.sum("__nab").alias("__r")), "__r", "__sa"
    )
    sb = ent_sum(
        cells.groupBy("__b").agg(F.sum("__nab").alias("__c")), "__c", "__sb"
    )
    tot = cells.agg(F.sum("__nab").cast("bigint").alias("n"))
    one = attach_scalars(attach_scalars(attach_scalars(tot, sab), sa), sb)
    n_dbl = F.col("n").cast("double")

    def h(s):
        return F.when(
            F.col("n") > 0,
            (F.log(n_dbl) - F.col(s).cast("double") / n_dbl)
            .cast("decimal(18,6)")
            .cast("double"),
        )

    mi = F.when(
        F.col("n") > 0,
        (
            F.log(n_dbl)
            + (
                F.col("__sab").cast("double")
                - F.col("__sa").cast("double")
                - F.col("__sb").cast("double")
            )
            / n_dbl
        )
        .cast("decimal(18,6)")
        .cast("double"),
    )
    out = one.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        h("__sa").alias("h_a"),
        h("__sb").alias("h_b"),
        h("__sab").alias("h_ab"),
        mi.alias("mi"),
    )
    return out.select(
        "*",
        F.when(
            F.least(F.col("h_a"), F.col("h_b")) > 0,
            (F.col("mi") / F.least(F.col("h_a"), F.col("h_b")))
            .cast("decimal(18,6)")
            .cast("double"),
        ).alias("nmi"),
    )


def mutual_information_sql(table: str, a_col: str, b_col: str) -> str:
    """DuckDB oracle of :func:`mutual_information` — identical rounded
    entropy-term sums and fixed-shape combinations."""
    t = (
        "CAST(CAST({c} AS DOUBLE) * ln(CAST({c} AS DOUBLE))"
        " AS DECIMAL(18,6))"
    )
    return f"""
    WITH cells AS (
        SELECT {a_col} AS a, {b_col} AS b, COUNT(*) AS nab
        FROM {table}
        WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    s AS (
        SELECT (SELECT CAST(SUM({t.format(c='nab')}) AS DECIMAL(28,6))
                FROM cells) AS sab,
               (SELECT CAST(SUM({t.format(c='r')}) AS DECIMAL(28,6))
                FROM (SELECT SUM(nab) AS r FROM cells GROUP BY a)) AS sa,
               (SELECT CAST(SUM({t.format(c='c')}) AS DECIMAL(28,6))
                FROM (SELECT SUM(nab) AS c FROM cells GROUP BY b)) AS sb,
               (SELECT CAST(COALESCE(SUM(nab), 0) AS BIGINT)
                FROM cells) AS n
    ),
    e AS (
        SELECT n,
               CASE WHEN n > 0 THEN CAST(CAST(ln(CAST(n AS DOUBLE))
                 - CAST(sa AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE) END AS h_a,
               CASE WHEN n > 0 THEN CAST(CAST(ln(CAST(n AS DOUBLE))
                 - CAST(sb AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE) END AS h_b,
               CASE WHEN n > 0 THEN CAST(CAST(ln(CAST(n AS DOUBLE))
                 - CAST(sab AS DOUBLE) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE) END AS h_ab,
               CASE WHEN n > 0 THEN CAST(CAST(ln(CAST(n AS DOUBLE))
                 + (CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE)
                    - CAST(sb AS DOUBLE)) / CAST(n AS DOUBLE)
                 AS DECIMAL(18,6)) AS DOUBLE) END AS mi
        FROM s
    )
    SELECT n, h_a, h_b, h_ab, mi,
           CASE WHEN LEAST(h_a, h_b) > 0 THEN
             CAST(CAST(mi / LEAST(h_a, h_b) AS DECIMAL(18,6)) AS DOUBLE)
           END AS nmi
    FROM e
    """


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA across ALL levels of ``group_col`` — the k-group
    generalization of :func:`mean_test` (which compares exactly two
    arms): ONE output row with the group count, total n, degrees of
    freedom, the F statistic, and eta² (SS_between / SS_total, the
    effect size the F number alone hides).

    Exactness discipline: values lift to bigint cents; per-group
    ``n_g / Σx / Σx²`` are exact DECIMAL(38,0) from one hash agg.
    The between-groups moment ``Σ_g s_g²/n_g`` is the one place a
    float sum would be order-dependent, so each group's term is ONE
    IEEE division of exact integers rounded once to DECIMAL(38,6) and
    the terms are summed as decimals — associative, engine-identical
    (the ``mutual_information`` per-term-rounding discipline). The
    finish is a single fixed-shape IEEE expression over the exact
    totals, rounded once to DECIMAL(18,6), reproduced verbatim by the
    oracle. NULL group or value rows are excluded. F is NULL when
    undefined (k < 2, N ≤ k, or zero within-group variance); eta² is
    NULL when SS_total = 0.

    Scale shape: one map-side-combinable hash agg to the group grain,
    then a 1-row reduction — no window, no join, no second scan; the
    group cardinality is the only state.
    """
    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_g = (
        df.filter(ok)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(d(x)).cast("decimal(38,0)").alias("__s"),
            F.sum(d(x) * x).cast("decimal(38,0)").alias("__q"),
        )
    )
    term = (
        F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / F.col("__n").cast("double")
    ).cast("decimal(38,6)")
    tot = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(d(F.col("__s"))).cast("decimal(38,0)").alias("s"),
        F.sum(d(F.col("__q"))).cast("decimal(38,0)").alias("q"),
        F.sum(term).cast("decimal(38,6)").alias("t"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    qd = F.col("q").cast("double")
    td = F.col("t").cast("double")
    ssb = td - sd * sd / nd
    sst = qd - sd * sd / nd
    ssw = sst - ssb
    f_stat = (ssb / (kd - 1.0)) / (ssw / (nd - kd))
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    return tot.select(
        F.col("k").cast("bigint").alias("group_count"),
        F.col("n").alias("n_total"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0.0),
            out(f_stat),
        ).alias("f_stat"),
        F.when(sst > 0.0, out(ssb / sst)).alias("eta_squared"),
    )


def anova_f_sql(select: str, group_col: str, value_col: str) -> str:
    """DuckDB oracle of :func:`anova_f` over a subquery — same cents
    lift, same HUGEINT moments, same per-group rounded term, same
    fixed-shape finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH rows_in AS ({select}),
    per_g AS (
        SELECT {group_col} AS g,
               COUNT(*) AS n_g,
               SUM(CAST({x} AS HUGEINT)) AS s_g,
               SUM(CAST({x} AS HUGEINT) * {x}) AS q_g
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY {group_col}
    ),
    tot AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               SUM(s_g) AS s,
               SUM(q_g) AS q,
               SUM(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                        / CAST(n_g AS DOUBLE) AS DECIMAL(38,6))) AS t
        FROM per_g
    )
    SELECT CAST(k AS BIGINT) AS group_count,
           n AS n_total,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           CASE WHEN k >= 2 AND n > k
                 AND ((CAST(q AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      - (CAST(t AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n AS DOUBLE))) > 0.0
           THEN CAST(CAST(
             ((CAST(t AS DOUBLE)
               - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
              / (CAST(k AS DOUBLE) - 1.0))
             / (((CAST(q AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                    / CAST(n AS DOUBLE))
                 - (CAST(t AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n AS DOUBLE)))
                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
             AS DECIMAL(18,6)) AS DOUBLE) END AS f_stat,
           CASE WHEN (CAST(q AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                        / CAST(n AS DOUBLE)) > 0.0
           THEN CAST(CAST(
             (CAST(t AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS eta_squared
    FROM tot
    """


def grubbs_test(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    g_crit: float | None = None,
) -> DataFrame:
    """Grubbs' single-outlier test per group — ``(group?, n,
    suspect_value, g_stat, significant?)`` with

        G = max|x − x̄| / s      (two-sided, sample s)

    — "is the most extreme point statistically an outlier", the
    principled alternative to eyeballing :func:`mad_anomalies`' flags
    when you need ONE defensible yes/no per group. Supply ``g_crit``
    from the Grubbs table for (n, α); ``significant`` compares the
    rounded G (house convention).

    ONE map-combinable aggregation: ``max|x − x̄| = max(max − x̄,
    x̄ − min)`` — no second pass, no window, because the extreme
    deviation is always AT an extreme order statistic. Moments are
    exact DECIMAL(38,0) cents; the finish (mean, sample sd, G) is a
    single fixed-shape IEEE expression rounded once to DECIMAL(18,6).
    ``suspect_value`` is the extreme on the larger-deviation side
    (ties toward the max — fixed, engine-identical tiebreak). NULL
    G when n < 3 or zero variance.
    """
    keys = [by] if by else []
    ok = F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = (
        df.filter(ok)
        .select(*keys, x.alias("__x"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(d(F.col("__x"))).cast("decimal(38,0)").alias("__s"),
            F.sum(d(F.col("__x")) * F.col("__x"))
            .cast("decimal(38,0)")
            .alias("__q"),
            F.max("__x").alias("__mx"),
            F.min("__x").alias("__mn"),
        )
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s").cast("double") / nd
    var_num = (d(F.col("n")) * F.col("__q") - F.col("__s") * F.col("__s"))
    sd = F.sqrt(_sdiv(var_num.cast("double"), nd * (nd - 1.0)))
    dev_hi = F.col("__mx").cast("double") - mean
    dev_lo = mean - F.col("__mn").cast("double")
    g6 = _sdiv(F.greatest(dev_hi, dev_lo), sd).cast("decimal(18,6)")
    okg = (F.col("n") >= 3) & (var_num > 0)
    suspect = F.when(
        dev_hi >= dev_lo, F.col("__mx")
    ).otherwise(F.col("__mn"))
    cols = [
        *keys,
        "n",
        (suspect.cast("double") / 100.0).alias("suspect_value"),
        F.when(okg, g6.cast("double")).alias("g_stat"),
    ]
    if g_crit is not None:
        cols.append(
            F.coalesce(
                F.when(okg, g6.cast("double") > float(g_crit)),
                F.lit(False),
            ).alias("significant")
        )
    return agg.select(*cols)


def grubbs_test_sql(
    table: str,
    value_col: str,
    by: str | None = None,
    g_crit: float | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`grubbs_test` — same cents moments,
    max-side deviation identity, fixed-shape G, 6 dp rounding."""
    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    nd = "CAST(n AS DOUBLE)"
    mean = f"(CAST(s AS DOUBLE) / {nd})"
    sd = (
        f"sqrt(CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)"
        f" / ({nd} * ({nd} - 1.0)))"
    )
    g = (
        f"(GREATEST(CAST(mx AS DOUBLE) - {mean},"
        f" {mean} - CAST(mn AS DOUBLE)) / {sd})"
    )
    okg = "n >= 3 AND CAST(n AS HUGEINT) * q - s * s > 0"
    sig = (
        f""",
           COALESCE(CASE WHEN {okg} THEN
             CAST(CAST({g} AS DECIMAL(18,6)) AS DOUBLE) > {float(g_crit)}
           END, FALSE) AS significant"""
        if g_crit is not None
        else ""
    )
    return f"""
    WITH m AS (
        SELECT {keys}CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST({x} AS HUGEINT)) AS s,
               SUM(CAST({x} AS HUGEINT) * {x}) AS q,
               MAX({x}) AS mx, MIN({x}) AS mn
        FROM {table}
        WHERE {value_col} IS NOT NULL AND ({where})
        {gby}
    )
    SELECT {keys}n,
           CAST(CASE WHEN CAST(mx AS DOUBLE) - {mean}
                          >= {mean} - CAST(mn AS DOUBLE)
                THEN mx ELSE mn END AS DOUBLE) / 100.0 AS suspect_value,
           CASE WHEN {okg} THEN
             CAST(CAST({g} AS DECIMAL(18,6)) AS DOUBLE) END AS g_stat
           {sig}
    FROM m
    """


def tukey_hsd(
    df: DataFrame,
    group_col: str,
    value_col: str,
    q_crit: float | None = None,
    max_groups: int = 64,
) -> DataFrame:
    """Tukey–Kramer HSD post-hoc pairwise test after :func:`anova_f` —
    WHICH group means differ once ANOVA says "some mean differs" (the
    parametric sibling of :func:`dunn_test`, which answers the same
    question for :func:`kruskal_wallis`): one row per group pair
    (g1 < g2) with

        q = |m₁ − m₂| / sqrt( MSW/2 · (1/n₁ + 1/n₂) ),
        MSW = SS_within / (N − k)

    — the Tukey–Kramer unequal-n form. Output: ``(g1, g2, n1, n2,
    mean_diff, q_stat, significant?)``; supply ``q_crit`` from the
    studentized-range distribution for (k, N−k) at the family α
    (e.g. 3.31 for k=3 arms at α=0.05, large df), exactly as
    :func:`dunn_test` takes its z.

    Determinism: group moments are exact DECIMAL(38,0) cents from one
    hash agg; SS_within uses :func:`anova_f`'s per-group-rounded
    ``s²/n`` term sum (associative decimal addition), and the finish
    is one fixed-shape IEEE expression rounded once to DECIMAL(18,6),
    with ``significant`` compared on the rounded value. Degenerate
    inputs (N ≤ k or zero within-group variance) report NULL q.
    mean_diff is in VALUE units (cents / 100).

    Scale shape: anova_f's plan (one map-combinable hash agg + 1-row
    totals) plus a groups² pair join on the TINY per-group table,
    bounded by the in-plan ``max_groups`` guard (the
    :func:`~pybabe_spark.operators.tfidf.vocab_overlap` contract).
    """
    if max_groups < 2:
        raise ValueError(f"tukey_hsd: max_groups {max_groups} < 2")
    from pybabe_spark.operators._util import attach_scalars

    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_g = (
        df.filter(ok)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(d(x)).cast("decimal(38,0)").alias("__s"),
            F.sum(d(x) * x).cast("decimal(38,0)").alias("__q"),
        )
    )
    msg = (
        f"tukey_hsd: more than max_groups={max_groups} groups — a "
        "groups² post-hoc table at that size is rarely intended; raise "
        "max_groups to confirm"
    )
    per_g = per_g.withColumn(
        "__gc", F.count(F.lit(1)).over(Window.partitionBy())
    ).filter(
        F.when(
            F.col("__gc") > max_groups,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    ).drop("__gc")
    term = (
        F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / F.col("__n").cast("double")
    ).cast("decimal(38,6)")
    tot = per_g.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").cast("bigint").alias("__nt"),
        F.sum(d(F.col("__q"))).cast("decimal(38,0)").alias("__qt"),
        F.sum(term).cast("decimal(38,6)").alias("__t"),
    )
    pairs = (
        per_g.select(
            F.col("__g").alias("g1"),
            F.col("__n").alias("__n1"),
            F.col("__s").alias("__s1"),
        )
        .join(
            per_g.select(
                F.col("__g").alias("g2"),
                F.col("__n").alias("__n2"),
                F.col("__s").alias("__s2"),
            ),
            F.col("g1") < F.col("g2"),
        )
    )
    one = attach_scalars(pairs, tot)
    kd = F.col("__k").cast("double")
    nd = F.col("__nt").cast("double")
    ssw = F.col("__qt").cast("double") - F.col("__t").cast("double")
    msw = _sdiv(ssw, nd - kd)
    # means in value units: cents sums / (100 n)
    m1 = F.col("__s1").cast("double") / (100.0 * F.col("__n1").cast("double"))
    m2 = F.col("__s2").cast("double") / (100.0 * F.col("__n2").cast("double"))
    se = F.sqrt(
        msw / 2.0
        * (
            1.0 / F.col("__n1").cast("double")
            + 1.0 / F.col("__n2").cast("double")
        )
    ) / 100.0
    diff6 = (m1 - m2).cast("decimal(18,6)")
    q6 = _sdiv(F.abs(m1 - m2), se).cast("decimal(18,6)")
    okq = (F.col("__nt") > F.col("__k")) & (ssw > 0.0)
    cols = [
        F.col("g1").alias(f"{group_col}_1"),
        F.col("g2").alias(f"{group_col}_2"),
        F.col("__n1").cast("bigint").alias("n1"),
        F.col("__n2").cast("bigint").alias("n2"),
        diff6.cast("double").alias("mean_diff"),
        F.when(okq, q6.cast("double")).alias("q_stat"),
    ]
    if q_crit is not None:
        cols.append(
            F.coalesce(
                F.when(okq, q6.cast("double") > float(q_crit)),
                F.lit(False),
            ).alias("significant")
        )
    return one.select(*cols)


def tukey_hsd_sql(
    select: str,
    group_col: str,
    value_col: str,
    q_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`tukey_hsd` — same cents lift, HUGEINT
    moments, per-group-rounded s²/n term, fixed-shape Tukey–Kramer
    finish rounded once to DECIMAL(18,6)."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    msw = (
        "((CAST(qt AS DOUBLE) - CAST(t AS DOUBLE))"
        " / (CAST(nt AS DOUBLE) - CAST(k AS DOUBLE)))"
    )
    m1 = "(CAST(s1 AS DOUBLE) / (100.0 * CAST(n1 AS DOUBLE)))"
    m2 = "(CAST(s2 AS DOUBLE) / (100.0 * CAST(n2 AS DOUBLE)))"
    se = (
        f"(sqrt({msw} / 2.0 * (1.0 / CAST(n1 AS DOUBLE)"
        " + 1.0 / CAST(n2 AS DOUBLE))) / 100.0)"
    )
    okq = (
        "nt > k AND (CAST(qt AS DOUBLE) - CAST(t AS DOUBLE)) > 0.0"
    )
    sig = (
        f""",
           COALESCE(CASE WHEN {okq} THEN
             CAST(CAST(abs({m1} - {m2}) / {se} AS DECIMAL(18,6)) AS DOUBLE)
               > {float(q_crit)} END, FALSE) AS significant"""
        if q_crit is not None
        else ""
    )
    return f"""
    WITH rows_in AS ({select}),
    per_g AS (
        SELECT {group_col} AS g,
               COUNT(*) AS n_g,
               SUM(CAST({x} AS HUGEINT)) AS s_g,
               SUM(CAST({x} AS HUGEINT) * {x}) AS q_g
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY {group_col}
    ),
    tot AS (
        SELECT COUNT(*) AS k,
               CAST(SUM(n_g) AS BIGINT) AS nt,
               SUM(q_g) AS qt,
               SUM(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                        / CAST(n_g AS DOUBLE) AS DECIMAL(38,6))) AS t
        FROM per_g
    )
    SELECT a.g AS {group_col}_1, b.g AS {group_col}_2,
           CAST(a.n_g AS BIGINT) AS n1, CAST(b.n_g AS BIGINT) AS n2,
           CAST(CAST((CAST(a.s_g AS DOUBLE)
                      / (100.0 * CAST(a.n_g AS DOUBLE)))
                     - (CAST(b.s_g AS DOUBLE)
                        / (100.0 * CAST(b.n_g AS DOUBLE)))
                AS DECIMAL(18,6)) AS DOUBLE) AS mean_diff,
           CASE WHEN {okq.replace('n1', 'a.n_g')} THEN
             CAST(CAST(
               abs((CAST(a.s_g AS DOUBLE) / (100.0 * CAST(a.n_g AS DOUBLE)))
                   - (CAST(b.s_g AS DOUBLE)
                      / (100.0 * CAST(b.n_g AS DOUBLE))))
               / (sqrt({msw} / 2.0 * (1.0 / CAST(a.n_g AS DOUBLE)
                       + 1.0 / CAST(b.n_g AS DOUBLE))) / 100.0)
             AS DECIMAL(18,6)) AS DOUBLE) END AS q_stat
           {sig.replace('n1', 'a.n_g').replace('n2', 'b.n_g')
               .replace('s1', 'a.s_g').replace('s2', 'b.s_g')}
    FROM per_g a JOIN per_g b ON a.g < b.g
    CROSS JOIN tot
    """


def _kw_enriched(
    df: DataFrame, group_col: str, value_col: str, persist: bool = True
):
    """The shared (value, group)-grain rank stage behind
    :func:`_kw_rank_sums` and :func:`_kw_core_rolled`: returns
    ``(cnt, enriched)`` where cnt is the (``__v``, ``__g``, ``__c``)
    count grain and enriched adds the exact doubled midrank
    ``__r2 = 2·cum_<(v) + n_v + 1`` and the per-value total ``__nv``
    (peers-only RANGE sum) via the de-globalized 1024-cell cumulative
    — see :func:`kruskal_wallis` for the full shape.

    ``persist``: pin the count grain (default). The multi-action
    consumers (:func:`_kw_rank_sums`'s per_g + vtot pair feeding
    separate KW/Dunn finishes) need the pin or every downstream action
    re-runs the scan + first shuffle. The single-action rolled core
    passes False: within ONE plan, ReuseExchange dedups the grain's
    exchange across branches, and A/B runs showed the InMemoryRelation
    pin consistently ~0.8 s SLOWER there (cache-write cost + the
    relation blocking AQE exchange reuse, so six branch jobs raced to
    build the same cache).

    (r13 A/B, rejected: skipping the grain agg and running the RANGE
    windows over raw __c = 1 rows is ~0.4 s SLOWER at sf0.1 — the
    grain's exchange is the shared materialization point ReuseExchange
    dedups across the stats/cell-total/window branches; without it
    each branch re-scans the source.)
    """
    buckets = 1024
    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    from pybabe_spark.operators._util import attach_scalars, lazy_persist

    cnt = (
        df.filter(ok)
        .groupBy(x.alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # the grain feeds several downstream branches (vtot, range stats,
    # cell totals, offsets, the window main path, and the consumers'
    # tie/total aggs); in the multi-action shape each branch would
    # re-run the scan + first shuffle without the pin
    if persist:
        cnt = lazy_persist(cnt)
    stats = cnt.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    j = attach_scalars(cnt, stats).withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - __lo) * {buckets}"
            " div (CAST(__hi AS DECIMAL(38,0)) - __lo + 1) AS BIGINT)"
        ),
    )
    btot = j.groupBy("__b").agg(F.sum("__c").alias("__bnv"))
    bounded = btot.limit(buckets)  # __b < buckets by construction —
    # the limit is the linter's boundedness proof, it cannot truncate
    a, b = bounded.alias("a"), bounded.alias("b")
    offs = (
        a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
        .groupBy(F.col("a.__b").alias("__b"))
        .agg(F.coalesce(F.sum("b.__bnv"), F.lit(0)).alias("__off"))
    )
    wv = Window.partitionBy("__b").orderBy(F.col("__v").asc())
    # strictly-below count: RANGE to __v−1 skips every row tied at __v
    # (the (v, g1)/(v, g2) peer rows), exactly cum_<(v) within the cell
    cum_lt = F.coalesce(
        F.sum("__c").over(
            wv.rangeBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    # peers-only RANGE sum = n_v, no distinct-value table needed
    n_v = F.sum("__c").over(wv.rangeBetween(0, 0))
    enriched = j.join(F.broadcast(offs), ["__b"]).select(
        "__v",
        "__g",
        "__c",
        (2 * (F.col("__off") + cum_lt) + n_v + 1).alias("__r2"),
        n_v.alias("__nv"),
    )
    return cnt, enriched


def _kw_rank_sums(df: DataFrame, group_col: str, value_col: str):
    """Shared rank machinery of :func:`kruskal_wallis` and
    :func:`dunn_test`: exact doubled-midrank group sums over the
    de-globalized 1024-cell cumulative (see kruskal_wallis's docstring
    for the full shape). Returns ``(per_g, vtot)`` — per_g has
    ``(__g, __ng, __rs2)`` with __rs2 the exact DECIMAL(38,0) doubled
    rank sum; vtot is the (value, count) grain for tie corrections.

    r12 shape: the doubled midrank ``r2(v) = 2·cum_<(v) + n_v + 1`` is
    computed DIRECTLY on the (value, group) count grain with RANGE
    frames — ``cum_<(v)`` is the per-cell range-cumulative up to
    ``__v − 1`` (excludes ALL peers, both groups' rows at v) plus the
    cell offset, and ``n_v`` is the peers-only range sum — so the old
    distinct-value rank table and its (value)-keyed shuffle join back
    to the counts (the plan's only corpus²-grain-ish shuffle pair) are
    gone: one hash agg, one bucket-partitioned window, one group agg.
    """
    cnt, enriched = _kw_enriched(df, group_col, value_col)
    vtot = cnt.groupBy("__v").agg(F.sum("__c").alias("__nv"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_g = enriched.groupBy("__g").agg(
        F.sum("__c").alias("__ng"),
        F.sum(d(F.col("__c")) * F.col("__r2"))
        .cast("decimal(38,0)")
        .alias("__rs2"),
    )
    return per_g, vtot


def _kw_core_rolled(df: DataFrame, group_col: str, value_col: str):
    """Per-group rank sums AND the exact global tie mass in ONE
    aggregate — the single-action core behind the KW/Dunn session memo
    (r12 paid three driver actions: the lazy_persist build, the tie
    collect, the per-group collect; this folds them into one job).

    ``groupBy(__g)`` over the enriched (value, group) grain returns
    one row per group carrying (``__ng``, ``__rs2``) and a per-group
    tie PARTIAL in ``__ties``: since ``Σ_g c_vg = n_v``, the per-row
    integer term ``c·(n_v² − 1)`` sums over ALL rows to exactly
    ``Σ_v (n_v³ − n_v)`` — the caller adds the ≤k exact decimal group
    partials driver-side, so no separate value-grain aggregate is
    needed. (r13: this was ``rollup(__g)`` — the rollup's Expand
    doubled the ~600k-row agg input to deliver one grand-total row
    the driver can sum itself; ~0.4 s back at sf0.1.) All terms are
    DECIMAL(38,0)-exact (n_v³ ≤ N³; N ≤ 10¹² keeps the sum within 38
    digits).
    """
    _, enriched = _kw_enriched(df, group_col, value_col, persist=False)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return enriched.groupBy("__g").agg(
        F.sum("__c").alias("__ng"),
        F.sum(d(F.col("__c")) * F.col("__r2"))
        .cast("decimal(38,0)")
        .alias("__rs2"),
        F.coalesce(
            F.sum(
                d(F.col("__c"))
                * (d(F.col("__nv")) * F.col("__nv") - F.lit(1))
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__ties"),
    )


def _kw_core_rows(df: DataFrame, group_col: str, value_col: str):
    """:func:`_kw_core_rolled` ``.collect()``, restructured as THREE
    bounded driver actions instead of one action over a plan whose
    branch fan schedules 13 local jobs / 32 stages (measured at sf0.1:
    the rolled collect costs ~3.3-5 s of which nearly all is the
    local-scheduler floor of those jobs, not compute).

    The de-globalized cumulative needs three in-plan attaches — the
    1-row global (lo, hi) range, and the ≤``buckets``-row cell-total
    prefix offsets — and every attach is a broadcast-build job plus
    duplicated grain subtrees in the plan. All three attach inputs are
    BOUNDED by construction (1 row; ≤1024 cells), so they collect
    driver-side and re-enter the plan as exact integer literals /
    a VALUES-literal LocalRelation (``local_rows_df``): action 1 fills
    the lazy-persisted (value, group) count grain and returns (lo,
    hi); action 2 reads the pinned grain for the ≤1024 cell totals
    (the Python prefix sum over sorted cells is the same exact integer
    arithmetic as the in-plan bucket-prefix self-join); action 3 runs
    the identical RANGE-frame midrank windows + per-group aggregate
    and returns the ≤k group rows. Arithmetic is unchanged term for
    term — same cents lift, same cell formula, same ``2·cum_<(v) +
    n_v + 1`` integral midranks, same DECIMAL(38,0) sums — so the
    rows are value-identical to the rolled core's.
    """
    buckets = 1024
    from pybabe_spark.operators._util import lazy_persist, local_rows_df

    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    cnt = lazy_persist(
        df.filter(ok)
        .groupBy(x.alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    rng = cnt.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    ).collect()[0]
    lo, hi = rng["__lo"], rng["__hi"]
    if lo is None:
        return []
    b_expr = F.expr(
        f"CAST((CAST(__v AS DECIMAL(38,0)) - CAST({lo} AS BIGINT))"
        f" * {buckets} div (CAST({hi} AS BIGINT)"
        f" - CAST({lo} AS BIGINT) + 1) AS BIGINT)"
    )
    cells = cnt.groupBy(b_expr.alias("__b")).agg(
        F.sum("__c").alias("__bnv")
    ).collect()  # ≤ buckets rows: __b < buckets by construction
    cells.sort(key=lambda r: r["__b"])
    offs_rows, acc = [], 0
    for r in cells:
        offs_rows.append((r["__b"], acc))
        acc += r["__bnv"]
    offs = local_rows_df(
        df.sparkSession, offs_rows, "__b bigint, __off bigint"
    )
    j = cnt.withColumn("__b", b_expr).join(F.broadcast(offs), ["__b"])
    wv = Window.partitionBy("__b").orderBy(F.col("__v").asc())
    cum_lt = F.coalesce(
        F.sum("__c").over(wv.rangeBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    n_v = F.sum("__c").over(wv.rangeBetween(0, 0))
    enriched = j.select(
        "__v",
        "__g",
        "__c",
        (2 * (F.col("__off") + cum_lt) + n_v + 1).alias("__r2"),
        n_v.alias("__nv"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return enriched.groupBy("__g").agg(
        F.sum("__c").alias("__ng"),
        F.sum(d(F.col("__c")) * F.col("__r2"))
        .cast("decimal(38,0)")
        .alias("__rs2"),
        F.coalesce(
            F.sum(
                d(F.col("__c"))
                * (d(F.col("__nv")) * F.col("__nv") - F.lit(1))
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__ties"),
    ).collect()


def _kw_tie_sum(vtot: DataFrame) -> DataFrame:
    """One-row exact tie mass ``__ties = Σ_v (n_v³ − n_v)`` from the
    value-count grain — the only thing both :func:`kruskal_wallis` and
    :func:`dunn_test` ever read from ``vtot``, factored out so a
    precomputed ``rank_sums`` core can carry a 1-row table instead of
    the full distinct-value grain."""
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return vtot.agg(
        F.coalesce(
            F.sum(
                d(F.col("__nv")) * F.col("__nv") * F.col("__nv")
                - F.col("__nv")
            ),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__ties"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    chi2_crit: float | None = None,
    rank_sums: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Kruskal–Wallis H test — the k-group generalization of
    :func:`mann_whitney_u` (rank-based, robust to skew) and the
    non-parametric sibling of :func:`anova_f`: ONE output row with the
    group count, total n, H, tie-corrected H, and (when ``chi2_crit``
    for χ²(k−1) is supplied) ``significant``.

    Exact integral ranks: doubled midranks ``r2(v) = 2·cum_<(v) +
    n_v + 1`` stay integers under ties (the spearman trick), so each
    group's doubled rank sum ``R2_g`` is an exact DECIMAL(38,0), and

        H = 3/(N(N+1)) · Σ_g R2_g²/n_g − 3(N+1)

    (the 1/4 from un-doubling folds into 12/4 = 3). The per-group
    division is the one order-dependent float, so each term rounds
    once to DECIMAL(38,6) and the terms sum as decimals (the
    ``anova_f`` discipline). Tie correction divides by
    ``1 − Σ_v(n_v³−n_v)/(N³−N)`` — both sums exact integers — applied
    as one fixed-shape IEEE expression rounded once. H is NULL when
    k < 2; tie-corrected H is NULL when every value is identical.

    Scale shape: one (value, group) hash agg collapses duplicates, a
    value-level cumulative count runs DE-GLOBALIZED (1024 equal-width
    cells, window partitioned by cell, offsets from the limit()-proved
    ≤1024-row bucket-prefix self-join — the mann_whitney machinery),
    one join back by value, one group-grain agg, one 1-row finish. No
    global window anywhere.

    ``rank_sums``: pass a precomputed ``(per_g, ties)`` pair — per_g
    from :func:`_kw_rank_sums`, ties from :func:`_kw_tie_sum` — to
    share the rank stage with :func:`dunn_test` on the same grain
    (the post-hoc test ALWAYS follows KW on identical inputs —
    recomputing the ranks would double the pipeline's dominant stage
    for no information).

    EAGER (r13): construction runs the bounded-collect rank core
    (three driver actions: range, cell totals, group rows) — calling
    this triggers cluster jobs and surfaces data errors immediately,
    not at the caller's first action.
    """
    from pybabe_spark.operators._util import attach_scalars

    if rank_sums is not None:
        per_g, ties1 = rank_sums
    else:
        per_g, vtot = _kw_rank_sums(df, group_col, value_col)
        ties1 = _kw_tie_sum(vtot)
    term = (
        F.col("__rs2").cast("double")
        * F.col("__rs2").cast("double")
        / F.col("__ng").cast("double")
    ).cast("decimal(38,6)")
    gagg = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__ng").cast("bigint").alias("n"),
        F.sum(term).cast("decimal(38,6)").alias("t"),
    )
    vagg = ties1.select(F.col("__ties").alias("ties"))
    one = attach_scalars(gagg, vagg)
    nd = F.col("n").cast("double")
    td = F.col("t").cast("double")
    tiesd = F.col("ties").cast("double")
    h = 3.0 * td / (nd * (nd + 1.0)) - 3.0 * (nd + 1.0)
    denom = (nd * nd * nd - nd) - tiesd
    h_corr = h * (nd * nd * nd - nd) / denom
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    cols = [
        F.col("k").cast("bigint").alias("group_count"),
        F.col("n").alias("n_total"),
        F.when(F.col("k") >= 2, out(h)).alias("h"),
        F.when((F.col("k") >= 2) & (denom > 0.0), out(h_corr)).alias(
            "h_tie_corrected"
        ),
    ]
    if chi2_crit is not None:
        cols.append(
            F.when(
                (F.col("k") >= 2) & (denom > 0.0),
                out(h_corr) > F.lit(float(chi2_crit)),
            )
            .otherwise(F.lit(False))
            .alias("significant")
        )
    return one.select(*cols)


def kruskal_wallis_sql(
    select: str,
    group_col: str,
    value_col: str,
    chi2_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`kruskal_wallis` — same doubled
    midranks (global window over distinct values: the definition the
    de-globalized engine must reproduce), same per-term rounding, same
    fixed-shape finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    h_expr = (
        "3.0 * CAST(t AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(n AS DOUBLE) + 1.0)"
    )
    n3 = (
        "(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " - CAST(n AS DOUBLE))"
    )
    denom = f"({n3} - CAST(ties AS DOUBLE))"
    hc = f"CAST(CAST(({h_expr}) * {n3} / {denom} AS DECIMAL(18,6)) AS DOUBLE)"
    sig = (
        f""",
           CASE WHEN k >= 2 AND {denom} > 0.0
           THEN {hc} > {float(chi2_crit)} ELSE FALSE END AS significant"""
        if chi2_crit is not None
        else ""
    )
    return f"""
    WITH rows_in AS ({select}),
    cnt AS (
        SELECT {x} AS v, {group_col} AS g, COUNT(*) AS c
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    vtot AS (SELECT v, SUM(c) AS nv FROM cnt GROUP BY v),
    ranked AS (
        SELECT v, nv,
               2 * (SUM(nv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - nv) + nv + 1 AS r2
        FROM vtot
    ),
    per_g AS (
        SELECT g, SUM(c) AS ng,
               SUM(CAST(c AS HUGEINT) * r2) AS rs2
        FROM cnt JOIN ranked USING (v)
        GROUP BY g
    ),
    gagg AS (
        SELECT COUNT(*) AS k, CAST(SUM(ng) AS BIGINT) AS n,
               SUM(CAST(CAST(rs2 AS DOUBLE) * CAST(rs2 AS DOUBLE)
                        / CAST(ng AS DOUBLE) AS DECIMAL(38,6))) AS t
        FROM per_g
    ),
    vagg AS (
        SELECT COALESCE(SUM(CAST(nv AS HUGEINT) * nv * nv - nv), 0)
               AS ties
        FROM vtot
    )
    SELECT CAST(k AS BIGINT) AS group_count,
           n AS n_total,
           CASE WHEN k >= 2 THEN
             CAST(CAST({h_expr} AS DECIMAL(18,6)) AS DOUBLE)
           END AS h,
           CASE WHEN k >= 2 AND {denom} > 0.0 THEN {hc}
           END AS h_tie_corrected{sig}
    FROM gagg, vagg
    """


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test — the check
    :func:`anova_f` silently assumes: are the group SPREADS equal?
    It is literally one-way ANOVA on the absolute deviations from each
    group's MEDIAN (robust to skew, unlike Levene's mean-centered
    form), so the statistic, output schema, and exactness discipline
    are :func:`anova_f`'s verbatim — this operator only builds the
    derived frame.

    Determinism: the per-group median is Spark's exact interpolated
    ``percentile(x, 0.5)`` (= DuckDB ``quantile_cont``) rounded once
    to 6 dp (the :func:`~pybabe_spark.operators.validate.
    population_stability` edge rule); the deviation then rides
    anova_f's DECIMAL(18,2) cents lift — one more engine-shared
    rounding, both reproduced verbatim in the oracle. NULL group or
    value rows are excluded before the median so both stages see the
    same population.

    Scale shape: one percentile hash agg to the group grain, one
    equi-join back (AQE broadcasts the tiny group table), then
    anova_f's single moment agg — three total passes, no window.
    """
    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    meds = (
        df.filter(ok)
        .groupBy(F.col(group_col).alias("__bfg"))
        .agg(
            F.round(F.percentile(F.col(value_col), F.lit(0.5)), 6).alias(
                "__med"
            )
        )
    )
    z = df.filter(ok).join(
        meds, F.col(group_col) == F.col("__bfg")
    ).select(
        F.col(group_col),
        F.abs(F.col(value_col) - F.col("__med")).alias("__z"),
    )
    return anova_f(z, group_col, "__z")


def brown_forsythe_sql(
    select: str, group_col: str, value_col: str
) -> str:
    """DuckDB oracle of :func:`brown_forsythe` — same rounded
    ``quantile_cont`` median, same deviation frame, then
    :func:`anova_f_sql` verbatim (the statistic cannot drift)."""
    dev = f"""
        SELECT r.{group_col} AS {group_col},
               abs(r.{value_col} - m.med) AS z
        FROM (SELECT * FROM ({select})
              WHERE {group_col} IS NOT NULL
                AND {value_col} IS NOT NULL) r
        JOIN (SELECT {group_col} AS g,
                     ROUND(quantile_cont({value_col}, 0.5), 6) AS med
              FROM ({select})
              WHERE {group_col} IS NOT NULL
                AND {value_col} IS NOT NULL
              GROUP BY {group_col}) m
          ON r.{group_col} = m.g
    """
    return anova_f_sql(dev, group_col, "z")


def mcnemar(
    df: DataFrame,
    gold_col: str,
    pred_a_col: str,
    pred_b_col: str,
    chi2_crit: float | None = None,
) -> DataFrame:
    """McNemar's test for PAIRED classifier comparison — the question
    :func:`cohens_kappa`/``classification_report`` readouts can't
    answer: is model A actually better than model B **on the same
    examples**, or do their accuracies differ only through the cases
    they both get right/wrong? Only the DISCORDANT pairs carry
    information:

        χ² = max(|b − c| − 1, 0)² / (b + c)      (continuity-corrected)

    with ``b`` = A-correct/B-wrong, ``c`` = A-wrong/B-correct, against
    χ²(1) (e.g. 3.841459 at α=0.05). ONE conditional hash agg
    (map-side combinable), then a fixed-shape finish. The decision is
    an EXACT integer comparison (``10⁶·g² > crit_ppm·(b+c)`` — the
    mann_whitney discipline), no IEEE anywhere in it; the reported χ²
    takes one DECIMAL(18,6) rounding. Rows with a NULL gold or NULL
    prediction on either side are excluded (a missing prediction is
    not a wrong one — filter upstream to score abstentions as errors).
    χ² is NULL and significant false when b + c = 0.

    Output: ``(n, both_correct, both_wrong, a_only_correct,
    b_only_correct, mcnemar_chi2[, significant])``.
    """
    ok = (
        F.col(gold_col).isNotNull()
        & F.col(pred_a_col).isNotNull()
        & F.col(pred_b_col).isNotNull()
    )
    a_ok = F.col(pred_a_col) == F.col(gold_col)
    b_ok = F.col(pred_b_col) == F.col(gold_col)
    agg = df.filter(ok).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum((a_ok & b_ok).cast("long")), F.lit(0))
        .cast("bigint")
        .alias("both_correct"),
        F.coalesce(F.sum((~a_ok & ~b_ok).cast("long")), F.lit(0))
        .cast("bigint")
        .alias("both_wrong"),
        F.coalesce(F.sum((a_ok & ~b_ok).cast("long")), F.lit(0))
        .cast("bigint")
        .alias("a_only_correct"),
        F.coalesce(F.sum((~a_ok & b_ok).cast("long")), F.lit(0))
        .cast("bigint")
        .alias("b_only_correct"),
    )
    b = F.col("a_only_correct")
    c = F.col("b_only_correct")
    g = F.greatest(F.abs(b - c) - 1, F.lit(0)).cast("decimal(38,0)")
    chi2 = (
        (g * g).cast("double") / (b + c).cast("double")
    ).cast("decimal(18,6)").cast("double")
    cols = [
        F.col("n"),
        F.col("both_correct"),
        F.col("both_wrong"),
        b,
        c,
        F.when(b + c > 0, chi2).alias("mcnemar_chi2"),
    ]
    if chi2_crit is not None:
        crit_ppm = int(round(float(chi2_crit) * 1_000_000))
        cols.append(
            F.when(
                b + c > 0,
                F.lit(1_000_000).cast("decimal(38,0)") * g * g
                > F.lit(crit_ppm).cast("decimal(38,0)") * (b + c),
            )
            .otherwise(F.lit(False))
            .alias("significant")
        )
    return agg.select(*cols)


def mcnemar_sql(
    select: str,
    gold_col: str,
    pred_a_col: str,
    pred_b_col: str,
    chi2_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`mcnemar` — same conditional counts,
    same exact integer decision, same once-rounded χ²."""
    ok = (
        f"({gold_col} IS NOT NULL AND {pred_a_col} IS NOT NULL"
        f" AND {pred_b_col} IS NOT NULL)"
    )
    a = f"({pred_a_col} = {gold_col})"
    bb = f"({pred_b_col} = {gold_col})"
    sig = ""
    if chi2_crit is not None:
        crit_ppm = int(round(float(chi2_crit) * 1_000_000))
        sig = f""",
           CASE WHEN b + c > 0 THEN
             1000000::HUGEINT * GREATEST(ABS(b - c) - 1, 0)
               * GREATEST(ABS(b - c) - 1, 0)
             > {crit_ppm}::HUGEINT * (b + c)
           ELSE FALSE END AS significant"""
    return f"""
    WITH agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               COALESCE(CAST(SUM(CASE WHEN {a} AND {bb} THEN 1 END)
                        AS BIGINT), 0) AS bc,
               COALESCE(CAST(SUM(CASE WHEN NOT {a} AND NOT {bb} THEN 1 END)
                        AS BIGINT), 0) AS bw,
               COALESCE(CAST(SUM(CASE WHEN {a} AND NOT {bb} THEN 1 END)
                        AS BIGINT), 0) AS b,
               COALESCE(CAST(SUM(CASE WHEN NOT {a} AND {bb} THEN 1 END)
                        AS BIGINT), 0) AS c
        FROM ({select}) WHERE {ok}
    )
    SELECT n, bc AS both_correct, bw AS both_wrong,
           b AS a_only_correct, c AS b_only_correct,
           CASE WHEN b + c > 0 THEN CAST(CAST(
             CAST(GREATEST(ABS(b - c) - 1, 0)::HUGEINT
                  * GREATEST(ABS(b - c) - 1, 0) AS DOUBLE)
             / CAST(b + c AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) END AS mcnemar_chi2{sig}
    FROM agg
    """


def trend_test(
    df: DataFrame,
    group_col: str,
    success_col: str,
    scores: "dict",
    z_crit: float = 1.959964,
) -> DataFrame:
    """Cochran–Armitage trend test — does a binary outcome rate move
    MONOTONICALLY across ordered groups (conversion by spend bucket,
    defect rate by severity tier)? :func:`chi2_independence` only says
    "the groups differ"; this prices the ORDER, scoring each group
    with the caller's integer ``scores`` map (group value → score —
    entering both engines as CASE literals).

    With N rows, R successes, ``n_t/n_t2/r_t`` = Σscore / Σscore² /
    Σscore·success (all exact integers from ONE conditional agg):

        z² = N·(N·r_t − n_t·R)² / (R·(N−R)·(N·n_t2 − n_t²))

    The decision ``z² > z_crit²`` is an EXACT integer comparison
    (``10⁶``-scaled, the mann_whitney discipline); the reported z²
    takes one DECIMAL(18,6) rounding, and ``trend_sign`` (+1 rate
    rises with score, −1 falls, 0 flat) comes from the exact numerator.
    Rows whose group is not in ``scores`` or with NULL group/outcome
    are excluded. z² is NULL (and significant false) when R = 0, R = N,
    or all scored rows share one score.

    Scale shape: ONE map-side-combinable conditional aggregation —
    no group table, no join, no window.
    """
    if not scores:
        raise ValueError("trend_test: scores must be non-empty")
    ok = F.col(group_col).isNotNull() & F.col(success_col).isNotNull()
    t = F.lit(None).cast("long")
    for val, sc in scores.items():
        t = F.when(F.col(group_col) == val, F.lit(int(sc))).otherwise(t)
    s = F.col(success_col).cast("long")
    base = df.filter(ok).select(t.alias("__t"), s.alias("__s")).filter(
        F.col("__t").isNotNull()
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("__s"), F.lit(0)).cast("bigint").alias("r"),
        F.coalesce(F.sum("__t"), F.lit(0)).cast("bigint").alias("nt"),
        F.coalesce(F.sum(F.col("__t") * F.col("__t")), F.lit(0))
        .cast("bigint")
        .alias("nt2"),
        F.coalesce(F.sum(F.col("__t") * F.col("__s")), F.lit(0))
        .cast("bigint")
        .alias("rt"),
    )
    num = d(F.col("n")) * F.col("rt") - d(F.col("nt")) * F.col("r")
    den = (
        d(F.col("r"))
        * (F.col("n") - F.col("r"))
        * (d(F.col("n")) * F.col("nt2") - d(F.col("nt")) * F.col("nt"))
    )
    defined = (
        (F.col("r") > 0)
        & (F.col("r") < F.col("n"))
        & (d(F.col("n")) * F.col("nt2") - d(F.col("nt")) * F.col("nt") > 0)
    )
    z2 = (
        (d(F.col("n")) * num * num).cast("double") / den.cast("double")
    ).cast("decimal(18,6)").cast("double")
    crit2_ppm = int(round(float(z_crit) * float(z_crit) * 1_000_000))
    return agg.select(
        F.col("n").alias("n_total"),
        F.col("r").alias("n_success"),
        F.when(num > 0, F.lit(1))
        .when(num < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("trend_sign"),
        F.when(defined, z2).alias("z2"),
        F.when(
            defined,
            F.lit(1_000_000).cast("decimal(38,0)") * d(F.col("n")) * num * num
            > F.lit(crit2_ppm).cast("decimal(38,0)") * den,
        )
        .otherwise(F.lit(False))
        .alias("significant"),
    )


def trend_test_sql(
    select: str,
    group_col: str,
    success_col: str,
    scores: "dict",
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`trend_test` — same CASE score literals,
    same exact integer decision, same once-rounded z²."""
    arms = " ".join(
        f"WHEN {group_col} = '{val}' THEN {int(sc)}"
        for val, sc in scores.items()
    )
    t = f"(CASE {arms} END)"
    crit2_ppm = int(round(float(z_crit) * float(z_crit) * 1_000_000))
    num = "(n::HUGEINT * rt - nt::HUGEINT * r)"
    den = ("(r::HUGEINT * (n - r)"
           " * (n::HUGEINT * nt2 - nt::HUGEINT * nt))")
    defined = (
        "r > 0 AND r < n AND n::HUGEINT * nt2 - nt::HUGEINT * nt > 0"
    )
    return f"""
    WITH base AS (
        SELECT {t} AS t, CAST({success_col} AS BIGINT) AS s
        FROM ({select})
        WHERE {group_col} IS NOT NULL AND {success_col} IS NOT NULL
          AND {t} IS NOT NULL
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               COALESCE(CAST(SUM(s) AS BIGINT), 0) AS r,
               COALESCE(CAST(SUM(t) AS BIGINT), 0) AS nt,
               COALESCE(CAST(SUM(t * t) AS BIGINT), 0) AS nt2,
               COALESCE(CAST(SUM(t * s) AS BIGINT), 0) AS rt
        FROM base
    )
    SELECT n AS n_total, r AS n_success,
           CAST(CASE WHEN {num} > 0 THEN 1
                     WHEN {num} < 0 THEN -1 ELSE 0 END AS INT)
             AS trend_sign,
           CASE WHEN {defined} THEN CAST(CAST(
             CAST(n::HUGEINT * {num} * {num} AS DOUBLE)
             / CAST({den} AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) END AS z2,
           CASE WHEN {defined} THEN
             1000000::HUGEINT * n * {num} * {num}
             > {crit2_ppm}::HUGEINT * {den}
           ELSE FALSE END AS significant
    FROM agg
    """


def effect_size(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Cohen's d / Hedges' g standardized effect size between two arms
    — the magnitude readout :func:`mean_test`'s significant-or-not
    decision lacks (with big n, trivial differences go significant;
    d says whether anyone should care: ~0.2 small, ~0.5 medium,
    ~0.8 large).

        d = (m̄_t − m̄_c) / s_pooled,
        s²_pooled = ((n_c−1)s²_c + (n_t−1)s²_t) / (n_c + n_t − 2)
        g = d · (1 − 3/(4(n_c+n_t) − 9))     (small-sample correction)

    Same exact DECIMAL(38,0) cents moments as mean_test from ONE
    conditional agg; the finish is a single fixed-shape IEEE
    expression (sqrt is IEEE-correctly-rounded, so both engines agree
    bit-for-bit) with one DECIMAL(18,6) rounding per output. NULL
    when either arm has n < 2 or the pooled variance is 0.

    Output: ``(n_control, n_treatment, diff, cohens_d, hedges_g)``.
    """
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    is_c = (F.col(variant_col) == control) & F.col(value_col).isNotNull()
    is_t = (F.col(variant_col) == treatment) & F.col(value_col).isNotNull()
    agg = df.agg(
        F.sum(is_c.cast("int")).cast("bigint").alias("n_c"),
        F.coalesce(F.sum(F.when(is_c, d(x))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("s_c"),
        F.coalesce(F.sum(F.when(is_c, d(x) * x)), F.lit(0))
        .cast("decimal(38,0)")
        .alias("q_c"),
        F.sum(is_t.cast("int")).cast("bigint").alias("n_t"),
        F.coalesce(F.sum(F.when(is_t, d(x))), F.lit(0))
        .cast("decimal(38,0)")
        .alias("s_t"),
        F.coalesce(F.sum(F.when(is_t, d(x) * x)), F.lit(0))
        .cast("decimal(38,0)")
        .alias("q_t"),
    )
    nc = F.col("n_c").cast("double")
    nt = F.col("n_t").cast("double")
    sc = F.col("s_c").cast("double")
    st = F.col("s_t").cast("double")
    qc = F.col("q_c").cast("double")
    qt = F.col("q_t").cast("double")
    # (n-1)*s^2 = (n*q - s*s)/n  — sums of squared deviations
    ss_c = (nc * qc - sc * sc) / nc
    ss_t = (nt * qt - st * st) / nt
    sp2 = (ss_c + ss_t) / (nc + nt - 2.0)
    diff = (st / nt - sc / nc) / 100.0
    dd = (st / nt - sc / nc) / F.sqrt(sp2)
    g = dd * (1.0 - 3.0 / (4.0 * (nc + nt) - 9.0))
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okn = (F.col("n_c") > 1) & (F.col("n_t") > 1)
    return agg.select(
        F.col("n_c").alias("n_control"),
        F.col("n_t").alias("n_treatment"),
        F.when(
            (F.col("n_c") > 0) & (F.col("n_t") > 0), out(diff)
        ).alias("diff"),
        F.when(okn & (sp2 > 0.0), out(dd)).alias("cohens_d"),
        F.when(okn & (sp2 > 0.0), out(g)).alias("hedges_g"),
    )


def effect_size_sql(
    select: str,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> str:
    """DuckDB oracle of :func:`effect_size` — same HUGEINT moments,
    same fixed-shape pooled-variance finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    c = f"({variant_col} = '{control}' AND {value_col} IS NOT NULL)"
    t = f"({variant_col} = '{treatment}' AND {value_col} IS NOT NULL)"
    nc = "CAST(n_c AS DOUBLE)"
    nt = "CAST(n_t AS DOUBLE)"
    sc = "CAST(s_c AS DOUBLE)"
    st = "CAST(s_t AS DOUBLE)"
    qc = "CAST(q_c AS DOUBLE)"
    qt = "CAST(q_t AS DOUBLE)"
    ssc = f"(({nc} * {qc} - {sc} * {sc}) / {nc})"
    sst = f"(({nt} * {qt} - {st} * {st}) / {nt})"
    sp2 = f"(({ssc} + {sst}) / ({nc} + {nt} - 2.0))"
    dd = f"(({st} / {nt} - {sc} / {nc}) / sqrt({sp2}))"
    fin = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH agg AS (
        SELECT CAST(SUM(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
               COALESCE(SUM(CASE WHEN {c} THEN CAST({x} AS HUGEINT) END),
                        0) AS s_c,
               COALESCE(SUM(CASE WHEN {c}
                        THEN CAST({x} AS HUGEINT) * {x} END), 0) AS q_c,
               CAST(SUM(CASE WHEN {t} THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
               COALESCE(SUM(CASE WHEN {t} THEN CAST({x} AS HUGEINT) END),
                        0) AS s_t,
               COALESCE(SUM(CASE WHEN {t}
                        THEN CAST({x} AS HUGEINT) * {x} END), 0) AS q_t
        FROM ({select})
    )
    SELECT n_c AS n_control, n_t AS n_treatment,
           CASE WHEN n_c > 0 AND n_t > 0 THEN
             {fin(f"({st} / {nt} - {sc} / {nc}) / 100.0")}
           END AS diff,
           CASE WHEN n_c > 1 AND n_t > 1 AND {sp2} > 0.0 THEN
             {fin(dd)} END AS cohens_d,
           CASE WHEN n_c > 1 AND n_t > 1 AND {sp2} > 0.0 THEN
             {fin(f"{dd} * (1.0 - 3.0 / (4.0 * ({nc} + {nt}) - 9.0))")}
           END AS hedges_g
    FROM agg
    """


def cliffs_delta(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Cliff's delta ordinal effect size — the non-parametric sibling
    of :func:`effect_size` (which assumes means matter): δ = P(t > c)
    − P(t < c) = 2·AUC − 1 ∈ [−1, 1], with |δ| ≈ 0.15 small / 0.33
    medium / 0.47 large. It is EXACTLY derivable from
    :func:`mann_whitney_u`'s doubled statistic — δ = u2/(n₁n₂) − 1 —
    so this operator reuses that machinery verbatim (de-globalized
    value-level sweep, exact integers end to end) and the floored
    integral ``delta_ppm`` is bit-identical across engines.

    Output: ``(n_control, n_treatment, delta_ppm, delta)``;
    delta is NULL when either arm is empty.
    """
    mwu = mann_whitney_u(df, variant_col, value_col, control, treatment)
    ppm = F.expr(
        "CAST(CAST(u2 AS DECIMAL(38,0)) * 1000000"
        " div (CAST(n_control AS DECIMAL(38,0)) * n_treatment)"
        " - 1000000 AS BIGINT)"
    )
    ok = (F.col("n_control") > 0) & (F.col("n_treatment") > 0)
    return mwu.select(
        "n_control",
        "n_treatment",
        F.when(ok, ppm).alias("delta_ppm"),
        F.when(ok, ppm.cast("double") / 1e6).alias("delta"),
    )


def cliffs_delta_sql(
    select: str,
    variant_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> str:
    """DuckDB oracle of :func:`cliffs_delta` — nests
    :func:`mann_whitney_u_sql` verbatim (the u2 definition cannot
    drift), same floored integral ppm."""
    inner = mann_whitney_u_sql(
        select, variant_col, value_col, control, treatment
    )
    ppm = (
        "CAST(CAST(u2 AS HUGEINT) * 1000000"
        " // (CAST(n_control AS HUGEINT) * n_treatment)"
        " - 1000000 AS BIGINT)"
    )
    return f"""
    SELECT n_control, n_treatment,
           CASE WHEN n_control > 0 AND n_treatment > 0
           THEN {ppm} END AS delta_ppm,
           CASE WHEN n_control > 0 AND n_treatment > 0
           THEN CAST({ppm} AS DOUBLE) / 1e6 END AS delta
    FROM ({inner})
    """


def ratio_metric_ci(
    df: DataFrame,
    unit_col: str,
    num_col: str,
    den_col: str,
    by: str | None = None,
    z: float = 1.959964,
) -> DataFrame:
    """Delta-method confidence interval for a RATIO metric — the
    number experimentation actually ships (revenue per session, CTR
    per user, cost per conversion), where both numerator and
    denominator are per-UNIT sums and units are the independence
    grain:

        R = Σx / Σy,
        Var(R) ≈ (var_x − 2R·cov + R²·var_y) / (n·ȳ²)

    (Fieller/delta method on unit means). Treating the ratio as a
    plain mean UNDERSTATES the interval whenever the denominator
    varies per unit — this operator is the honest error bar.

    One row per ``by`` group: ``(n_units, ratio, ci_lo, ci_hi)``.
    Exactness: per-unit x/y lift to bigint cents; the five moment sums
    (Σx, Σy, Σx², Σy², Σxy) are exact DECIMAL(38,0) from ONE hash agg
    over the unit grain; the finish is a single fixed-shape IEEE
    expression (IEEE sqrt — correctly rounded) with one DECIMAL(18,6)
    rounding per output, reproduced verbatim by the oracle. NULL
    num/den treated as 0 for the unit (a unit with no numerator still
    counts); units with NULL key excluded; CI NULL when n < 2 or
    Σy = 0 or the variance is ≤ 0 (degenerate).

    Scale shape: one agg to the unit grain, one to the group grain —
    both map-side combinable; no window, no join.
    """
    g = [by] if by is not None else []
    ok = F.col(unit_col).isNotNull()
    x = (
        F.coalesce(F.col(num_col), F.lit(0)).cast("decimal(18,2)") * 100
    ).cast("bigint")
    y = (
        F.coalesce(F.col(den_col), F.lit(0)).cast("decimal(18,2)") * 100
    ).cast("bigint")
    units = (
        df.filter(ok)
        .groupBy(*g, F.col(unit_col).alias("__u"))
        .agg(
            F.sum(x).cast("bigint").alias("__x"),
            F.sum(y).cast("bigint").alias("__y"),
        )
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    agg = units.groupBy(*g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum(d("__x")).cast("decimal(38,0)").alias("sx"),
        F.sum(d("__y")).cast("decimal(38,0)").alias("sy"),
        F.sum(d("__x") * F.col("__x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d("__y") * F.col("__y")).cast("decimal(38,0)").alias("syy"),
        F.sum(d("__x") * F.col("__y")).cast("decimal(38,0)").alias("sxy"),
    )
    n = F.col("n_units").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = sx / sy
    # sample (co)variances of the per-unit values, n-1 denominator
    vx = (n * sxx - sx * sx) / (n * (n - 1.0))
    vy = (n * syy - sy * sy) / (n * (n - 1.0))
    cxy = (n * sxy - sx * sy) / (n * (n - 1.0))
    ybar = sy / n
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    ok_r = F.col("sy") != 0
    # the divisions live INSIDE the when branch: ANSI mode evaluates
    # conjunct expressions eagerly, so a bare `var_r > 0` condition
    # would divide by zero on n=1 / sy=0 groups before the other
    # conjuncts could veto it (DuckDB yields NULL there — same gate)
    var_col = F.when(
        ok_r & (F.col("n_units") >= 2),
        (vx - 2.0 * r * cxy + r * r * vy) / (n * ybar * ybar),
    )
    half = F.lit(float(z)) * F.sqrt(var_col)
    ok_ci = var_col > 0.0  # NULL var -> NULL -> filtered by when()
    return agg.select(
        *g,
        F.col("n_units"),
        F.when(ok_r, out(r)).alias("ratio"),
        F.when(ok_ci, out(r - half)).alias("ci_lo"),
        F.when(ok_ci, out(r + half)).alias("ci_hi"),
    )


def ratio_metric_ci_sql(
    select: str,
    unit_col: str,
    num_col: str,
    den_col: str,
    by: str | None = None,
    z: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`ratio_metric_ci` — same cents lift,
    HUGEINT moments, and fixed-shape delta-method finish."""
    g = f"{by}, " if by else ""
    gb = f"GROUP BY {by}" if by else ""
    x = f"CAST(CAST(COALESCE({num_col}, 0) AS DECIMAL(18,2)) * 100 AS BIGINT)"
    y = f"CAST(CAST(COALESCE({den_col}, 0) AS DECIMAL(18,2)) * 100 AS BIGINT)"
    nd = "CAST(n_units AS DOUBLE)"
    sxd = "CAST(sx AS DOUBLE)"
    syd = "CAST(sy AS DOUBLE)"
    rr = f"({sxd} / {syd})"
    vx = f"(({nd} * CAST(sxx AS DOUBLE) - {sxd} * {sxd}) / ({nd} * ({nd} - 1.0)))"
    vy = f"(({nd} * CAST(syy AS DOUBLE) - {syd} * {syd}) / ({nd} * ({nd} - 1.0)))"
    cxy = f"(({nd} * CAST(sxy AS DOUBLE) - {sxd} * {syd}) / ({nd} * ({nd} - 1.0)))"
    ybar = f"({syd} / {nd})"
    var_r = (
        f"(({vx} - 2.0 * {rr} * {cxy} + {rr} * {rr} * {vy})"
        f" / ({nd} * {ybar} * {ybar}))"
    )
    half = f"({float(z)!r} * sqrt({var_r}))"
    fin = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH units AS (
        SELECT {g}{unit_col} AS u,
               CAST(SUM({x}) AS BIGINT) AS ux,
               CAST(SUM({y}) AS BIGINT) AS uy
        FROM ({select})
        WHERE {unit_col} IS NOT NULL
        GROUP BY {g}{unit_col}
    ),
    agg AS (
        SELECT {g}CAST(COUNT(*) AS BIGINT) AS n_units,
               SUM(CAST(ux AS HUGEINT)) AS sx,
               SUM(CAST(uy AS HUGEINT)) AS sy,
               SUM(CAST(ux AS HUGEINT) * ux) AS sxx,
               SUM(CAST(uy AS HUGEINT) * uy) AS syy,
               SUM(CAST(ux AS HUGEINT) * uy) AS sxy
        FROM units {gb}
    )
    SELECT {g}n_units,
           CASE WHEN sy != 0 THEN {fin(rr)} END AS ratio,
           CASE WHEN sy != 0 AND n_units >= 2 AND {var_r} > 0.0
           THEN {fin(f"{rr} - {half}")} END AS ci_lo,
           CASE WHEN sy != 0 AND n_units >= 2 AND {var_r} > 0.0
           THEN {fin(f"{rr} + {half}")} END AS ci_hi
    FROM agg
    """


def _power_expr(relative_mde: float, z_alpha: float, z_power: float) -> str:
    """Required-per-arm-n SQL over double columns ``kk`` (successes)
    and ``nn`` (trials) — the standard two-proportion power formula
    ``n = (z_a·√(2·p̄·(1−p̄)) + z_b·√(p₁q₁ + p₂q₂))² / (p₂−p₁)²`` with
    ``p₂ = p₁·(1+MDE)``. ONE textual formula evaluated by both engines
    (the :func:`_wilson_exprs` discipline): exact integer inputs, a
    fixed-shape IEEE tree, constants embedded as identical decimal
    literals — bit-identical everywhere, so even the final ``ceil``
    cannot straddle."""
    za = repr(float(z_alpha))
    zb = repr(float(z_power))
    m = repr(1.0 + float(relative_mde))
    p1 = "(kk / nn)"
    p2 = f"({p1} * {m})"
    pbar = f"(({p1} + {p2}) / 2.0)"
    num = (
        f"({za} * sqrt(2.0 * {pbar} * (1.0 - {pbar}))"
        f" + {zb} * sqrt({p1} * (1.0 - {p1}) + {p2} * (1.0 - {p2})))"
    )
    return f"(({num} * {num}) / (({p2} - {p1}) * ({p2} - {p1})))"


def required_sample_size(
    df: DataFrame,
    success_col: str,
    by: str | None = None,
    relative_mde: float = 0.10,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Per-group A/B sample-size requirement: ``(group?, n, successes,
    p_ppm, n_required)`` — how many units PER ARM a two-proportion test
    needs to detect a ``relative_mde`` lift over the group's observed
    baseline rate at the given z-quantiles (defaults: two-sided
    α = 0.05, power 0.8). The planning half of the experimentation
    suite: :func:`ab_test` decides after the fact; this says whether
    the experiment is even worth starting, and ``n_required ≫ n`` is
    the "this segment can't support that MDE" warning.

    ``z_alpha``/``z_power`` are passed as quantile VALUES (like
    :func:`proportion_ci`'s ``z``) — no inverse-normal is computed, so
    there is nothing engine-specific anywhere. Groups where the
    formula is undefined (no successes, baseline 0, or the lifted rate
    reaching 1) report NULL ``n_required``. Same scale shape as
    proportion_ci: one conditional hash agg, then scalar codegen math.
    """
    if relative_mde <= 0:
        raise ValueError(
            f"required_sample_size: relative_mde {relative_mde} must be > 0"
        )
    expr = _power_expr(relative_mde, z_alpha, z_power)
    m = 1.0 + float(relative_mde)
    keys = [by] if by else []
    base = df.filter(F.col(success_col).isNotNull()).select(
        *keys, F.col(success_col).cast("int").alias("__s")
    )
    agg = (base.groupBy(*keys) if keys else base.groupBy()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.coalesce(F.sum("__s"), F.lit(0)).cast("bigint").alias("successes"),
    )
    with_d = agg.withColumn(
        "kk", F.col("successes").cast("double")
    ).withColumn("nn", F.col("n").cast("double"))
    guard = (
        (F.col("n") > 0)
        & (F.col("successes") > 0)
        & (F.col("kk") / F.col("nn") * F.lit(m) < 1.0)
    )
    return with_d.select(
        *keys,
        "n",
        "successes",
        F.when(
            F.col("n") > 0,
            F.expr("CAST(successes * 1000000 div n AS BIGINT)"),
        ).alias("p_ppm"),
        F.when(guard, F.ceil(F.expr(expr)).cast("bigint")).alias(
            "n_required"
        ),
    )


def required_sample_size_sql(
    select: str,
    success_col: str,
    by: str | None = None,
    relative_mde: float = 0.10,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> str:
    """DuckDB oracle of :func:`required_sample_size` — the identical
    textual power formula over the identical exact counts."""
    expr = _power_expr(relative_mde, z_alpha, z_power)
    m = repr(1.0 + float(relative_mde))
    keys = f"{by}, " if by else ""
    grp = f"GROUP BY {by}" if by else ""
    return f"""
    WITH rows_in AS ({select}),
    agg AS (
        SELECT {keys}COUNT(*) AS n,
               COALESCE(SUM(CAST({success_col} AS INT)), 0) AS successes
        FROM rows_in WHERE {success_col} IS NOT NULL {grp}
    ),
    d AS (
        SELECT *, CAST(successes AS DOUBLE) AS kk, CAST(n AS DOUBLE) AS nn
        FROM agg
    )
    SELECT {keys}CAST(n AS BIGINT) AS n,
           CAST(successes AS BIGINT) AS successes,
           CASE WHEN n > 0 THEN
             CAST(successes * 1000000 // n AS BIGINT) END AS p_ppm,
           CASE WHEN n > 0 AND successes > 0 AND kk / nn * {m} < 1.0 THEN
             CAST(ceil({expr}) AS BIGINT) END AS n_required
    FROM d
    """


def g_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
    crit: float = 15.507313,
) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between two
    categorical columns — :func:`chi2_independence`'s likelihood-based
    sibling: ``G = 2·Σ O·ln(O/E)``, asymptotically the same χ²(dof)
    distribution but additive across table partitions and better
    behaved when some O ≫ E (the regime where Pearson's (O−E)²/E
    overweights). One row: ``(n, dof, g, significant)`` with ``g`` a
    DECIMAL(18,6)-rounded double and ``significant = g > crit``
    (caller supplies the χ² critical value for their dof/alpha,
    exactly like chi2_independence).

    Determinism (the :func:`~pybabe_spark.operators.collocations
    .llr_collocations` discipline): only OBSERVED cells contribute
    (O·ln(O/E) → 0 as O → 0, so zero cells add exactly nothing —
    unlike Pearson, no grid materialization is needed); each term is
    ``2·O·ln((O·n)/(r·c))`` over exact integer counts whose double
    products stay under 2^53 for n ≲ 10⁸, rounded ONCE to
    DECIMAL(38,12); the sum is decimal (order-independent); the
    significance compare happens on the rounded value. NULL in either
    column drops the pair; empty input ⟹ (0, 0, 0.0, false).

    Scale shape: ONE map-side-combinable hash agg to the cell table;
    totals are aggs over that ≤ R·C-row table joined back — identical
    plan to chi2_independence minus the zero-cell grid.
    """
    crit6 = int(round(float(crit) * 1_000_000))
    ok = F.col(a_col).isNotNull() & F.col(b_col).isNotNull()
    cells = (
        df.filter(ok)
        .groupBy(F.col(a_col).alias("__a"), F.col(b_col).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    r = cells.groupBy("__a").agg(F.sum("__o").alias("__r"))
    c = cells.groupBy("__b").agg(F.sum("__o").alias("__c"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__ra"),
        F.countDistinct("__b").alias("__cb"),
    )
    g = (
        cells.join(F.broadcast(r), "__a")
        .join(F.broadcast(c), "__b")
        .crossJoin(F.broadcast(tot))
    )
    term = (
        F.lit(2.0)
        * F.col("__o").cast("double")
        * F.log(
            (F.col("__o").cast("double") * F.col("__n").cast("double"))
            / (F.col("__r").cast("double") * F.col("__c").cast("double"))
        )
    ).cast("decimal(38,12)")
    out = g.withColumn("__t", term).agg(
        F.max("__n").alias("__n"),
        F.max((F.col("__ra") - 1) * (F.col("__cb") - 1)).alias("__dof"),
        F.sum("__t").alias("__g"),
    )
    g6 = F.col("__g").cast("decimal(18,6)")
    return out.select(
        F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n"),
        F.coalesce(F.col("__dof"), F.lit(0)).cast("bigint").alias("dof"),
        F.coalesce(g6.cast("double"), F.lit(0.0)).alias("g"),
        F.coalesce(
            g6 > F.lit(crit6).cast("decimal(18,6)") / 1_000_000,
            F.lit(False),
        ).alias("significant"),
    )


def g_test_sql(
    select: str,
    a_col: str,
    b_col: str,
    crit: float = 15.507313,
) -> str:
    """DuckDB oracle of :func:`g_test` — identical observed-cell terms,
    per-term DECIMAL(38,12) rounding, decimal sum, rounded compare."""
    crit6 = int(round(float(crit) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    cells AS (
        SELECT {a_col} AS a, {b_col} AS b, COUNT(*) AS o
        FROM rows_in
        WHERE {a_col} IS NOT NULL AND {b_col} IS NOT NULL
        GROUP BY {a_col}, {b_col}
    ),
    r AS (SELECT a, SUM(o) AS r FROM cells GROUP BY a),
    c AS (SELECT b, SUM(o) AS c FROM cells GROUP BY b),
    tt AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS ra,
                  COUNT(DISTINCT b) AS cb
           FROM cells),
    terms AS (
        SELECT tt.n, tt.ra, tt.cb,
               CAST(2.0 * CAST(cells.o AS DOUBLE) *
                    ln((CAST(cells.o AS DOUBLE) * CAST(tt.n AS DOUBLE))
                       / (CAST(r.r AS DOUBLE) * CAST(c.c AS DOUBLE)))
                    AS DECIMAL(38,12)) AS t
        FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN tt
    ),
    agg AS (
        SELECT MAX(n) AS n, MAX((ra - 1) * (cb - 1)) AS dof,
               SUM(t) AS g
        FROM terms
    )
    SELECT COALESCE(CAST(n AS BIGINT), 0) AS n,
           COALESCE(CAST(dof AS BIGINT), 0) AS dof,
           COALESCE(CAST(CAST(g AS DECIMAL(18,6)) AS DOUBLE), 0.0) AS g,
           COALESCE(CAST(g AS DECIMAL(18,6))
                    > CAST({crit6} AS DECIMAL(18,6)) / 1000000,
                    FALSE) AS significant
    FROM agg
    """


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED number
    of raters per item over ≥2 categories, the multi-rater
    generalization of :func:`cohens_kappa` (which compares exactly two
    named raters): the inter-annotator-agreement certificate for
    label-quality audits where every document got n judgments. Input
    is LONG format: one row per (item, assigned category) rating —
    rater identity is irrelevant to the statistic. One output row:
    ``(n_items, n_raters, n_categories, kappa_ppm)``.

    The statistic is a RATIO OF INTEGERS end to end: with
    ``S = Σ_ij n_ij²``, ``c_j = Σ_i n_ij``, ``N`` items, ``n`` raters,

        P̄  = (S − N·n) / (N·n·(n−1))          (mean pairwise agreement)
        P̄e = Σ_j c_j² / (N·n)²                 (chance agreement)
        κ  = (P̄ − P̄e) / (1 − P̄e)
           = (A·D − C·B) / (B·(D − C)),  A=S−Nn, B=Nn(n−1),
                                          C=Σc_j², D=(Nn)²

    emitted as pmod-FLOORED integral ppm in DECIMAL(38,0) (κ can be
    negative — worse than chance — so truncation won't do). No IEEE
    anywhere. Fleiss requires a CONSTANT rating count per item: an
    in-plan guard raises at action time when items disagree (the
    max==min check rides the tiny per-item count table). Degenerate
    denominators (n=1 rater, or P̄e=1 — every rating one category)
    report NULL kappa_ppm. NULL item/category rows drop.

    Scale shape: one hash agg to the (item, category) cell grain —
    the only corpus-scale shuffle — then aggs over cells; everything
    else is scalar arithmetic on one row.
    """
    ok = F.col(item_col).isNotNull() & F.col(category_col).isNotNull()
    cells = (
        df.filter(ok)
        .groupBy(
            F.col(item_col).alias("__i"), F.col(category_col).alias("__j")
        )
        .agg(F.count(F.lit(1)).alias("__nij"))
    )
    per_item = cells.groupBy("__i").agg(F.sum("__nij").alias("__ni"))
    msg = (
        "fleiss_kappa: rating counts differ across items — Fleiss "
        "requires a constant number of raters per item (filter or "
        "impute upstream)"
    )
    guarded = per_item.withColumn(
        "__chk",
        F.when(
            F.max("__ni").over(Window.partitionBy())
            != F.min("__ni").over(Window.partitionBy()),
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True)),
    ).filter(F.col("__chk"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = cells.agg(
        F.countDistinct("__i").alias("__items"),
        F.sum(d(F.col("__nij")) * F.col("__nij")).alias("__S"),
    )
    cols = cells.groupBy("__j").agg(F.sum("__nij").alias("__cj"))
    cstat = cols.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(d(F.col("__cj")) * F.col("__cj")).alias("__C"),
    )
    nrow = guarded.agg(F.max("__ni").alias("__n"))
    one = stats.crossJoin(cstat).crossJoin(nrow)
    N, n = d(F.col("__items")), d(F.col("__n"))
    A = F.col("__S") - N * n
    B = N * n * (n - F.lit(1))
    D = (N * n) * (N * n)
    C = F.col("__C")
    num = (A * D - C * B) * F.lit(1_000_000)
    den = B * (D - C)
    kappa = ((num - F.pmod(num, den)) / den).cast("bigint")
    return one.select(
        F.col("__items").cast("bigint").alias("n_items"),
        F.col("__n").cast("bigint").alias("n_raters"),
        F.col("__k").cast("bigint").alias("n_categories"),
        F.when((F.col("__n") > 1) & (D > C), kappa).alias("kappa_ppm"),
    )


def fleiss_kappa_sql(
    select: str,
    item_col: str,
    category_col: str,
) -> str:
    """DuckDB oracle of :func:`fleiss_kappa` — identical integer
    rational, HUGEINT arithmetic, pmod-floored ppm."""
    return f"""
    WITH rows_in AS ({select}),
    cells AS (
        SELECT {item_col} AS i, {category_col} AS j,
               COUNT(*)::HUGEINT AS nij
        FROM rows_in
        WHERE {item_col} IS NOT NULL AND {category_col} IS NOT NULL
        GROUP BY {item_col}, {category_col}
    ),
    per_item AS (SELECT i, SUM(nij) AS ni FROM cells GROUP BY i),
    nrow AS (SELECT MAX(ni) AS n_rt FROM per_item
             WHERE (SELECT MAX(ni) FROM per_item)
                   = (SELECT MIN(ni) FROM per_item)),
    stats AS (SELECT COUNT(DISTINCT i)::HUGEINT AS n_it,
                     SUM(nij * nij) AS S FROM cells),
    cstat AS (SELECT COUNT(*)::HUGEINT AS k, SUM(cj * cj) AS C
              FROM (SELECT j, SUM(nij) AS cj FROM cells GROUP BY j)),
    one AS (SELECT * FROM stats CROSS JOIN cstat CROSS JOIN nrow)
    SELECT CAST(n_it AS BIGINT) AS n_items,
           CAST(n_rt AS BIGINT) AS n_raters,
           CAST(k AS BIGINT) AS n_categories,
           CASE WHEN n_rt > 1 AND (n_it*n_rt)*(n_it*n_rt) > C THEN CAST(
             ((S - n_it*n_rt) * ((n_it*n_rt)*(n_it*n_rt)) - C * (n_it*n_rt*(n_rt-1))) * 1000000
             // ((n_it*n_rt*(n_rt-1)) * ((n_it*n_rt)*(n_it*n_rt) - C))
             - CASE WHEN (((S - n_it*n_rt) * ((n_it*n_rt)*(n_it*n_rt)) - C * (n_it*n_rt*(n_rt-1)))
                          * 1000000)
                         % ((n_it*n_rt*(n_rt-1)) * ((n_it*n_rt)*(n_it*n_rt) - C)) < 0
                    THEN 1 ELSE 0 END
             AS BIGINT) END AS kappa_ppm
    FROM one
    """


def dunn_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_crit: float = 1.959964,
    max_groups: int = 64,
    rank_sums: "tuple[DataFrame, DataFrame] | None" = None,
) -> DataFrame:
    """Dunn's post-hoc pairwise test after :func:`kruskal_wallis` —
    WHICH groups differ once KW says "some group differs": for every
    group pair (g1 < g2),

        z = (R̄₁ − R̄₂) / sqrt( (N(N+1)/12 − T) · (1/n₁ + 1/n₂) ),
        T = Σ_v (n_v³ − n_v) / (12(N−1))        (tie correction)

    with mean ranks from the SAME exact doubled-midrank machinery KW
    uses (:func:`_kw_rank_sums` — shared code, the statistics cannot
    drift apart). One row per pair: ``(g1, g2, n1, n2, z,
    significant)`` where ``significant = |z| > z_crit`` — supply a
    Bonferroni/Šidák-adjusted quantile for the pair count (e.g.
    2.394 for 3 pairs at family α = 0.05), exactly as
    :func:`proportion_ci` takes its z.

    Determinism: inputs to the fixed-shape IEEE expression are the
    exact DECIMAL(38,0) doubled rank sums and integer counts; z rounds
    once to DECIMAL(18,6) and the significance compares |rounded| —
    the house fixed-shape discipline. Degenerate pairs (all values
    tied corpus-wide ⟹ zero variance) report NULL z.

    Scale shape: KW's plan (hash aggs + de-globalized 1024-cell
    cumulative) plus a groups² pair join on the TINY per-group table —
    bounded by the in-plan ``max_groups`` guard (the
    :func:`~pybabe_spark.operators.tfidf.vocab_overlap` contract).
    ``rank_sums`` accepts KW's precomputed ``(per_g, ties)`` pair
    (:func:`_kw_rank_sums` + :func:`_kw_tie_sum`) so the
    test-then-post-hoc pipeline ranks the corpus once, not twice.

    EAGER (r13) unless ``rank_sums`` is supplied: the shared KW rank
    core runs its bounded driver actions at construction time —
    calling this triggers cluster jobs and surfaces data errors
    immediately, not at the caller's first action.
    """
    if max_groups < 2:
        raise ValueError(f"dunn_test: max_groups {max_groups} < 2")
    from pybabe_spark.operators._util import attach_scalars

    if rank_sums is not None:
        per_g, ties1 = rank_sums
    else:
        per_g, vtot = _kw_rank_sums(df, group_col, value_col)
        ties1 = _kw_tie_sum(vtot)
    msg = (
        f"dunn_test: more than max_groups={max_groups} groups — a "
        "groups² post-hoc table at that size is rarely intended; raise "
        "max_groups to confirm"
    )
    per_g = per_g.withColumn(
        "__gc", F.count(F.lit(1)).over(Window.partitionBy())
    ).filter(
        F.when(
            F.col("__gc") > max_groups,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    ).drop("__gc")
    tot = per_g.agg(F.sum("__ng").cast("decimal(38,0)").alias("__n"))
    ties = ties1.select(F.col("__ties").alias("__tt"))
    pairs = (
        per_g.select(
            F.col("__g").alias("g1"),
            F.col("__ng").alias("__n1"),
            F.col("__rs2").alias("__r1"),
        )
        .join(
            per_g.select(
                F.col("__g").alias("g2"),
                F.col("__ng").alias("__n2"),
                F.col("__rs2").alias("__r2s"),
            ),
            F.col("g1") < F.col("g2"),
        )
    )
    one = attach_scalars(attach_scalars(pairs, tot), ties)
    nd = F.col("__n").cast("double")
    # mean ranks from doubled sums: R̄ = rs2 / (2 n_g)
    m1 = F.col("__r1").cast("double") / (2.0 * F.col("__n1").cast("double"))
    m2 = F.col("__r2s").cast("double") / (2.0 * F.col("__n2").cast("double"))
    sigma2 = nd * (nd + 1.0) / 12.0 - F.col("__tt").cast("double") / (
        12.0 * (nd - 1.0)
    )
    se = F.sqrt(
        sigma2
        * (
            1.0 / F.col("__n1").cast("double")
            + 1.0 / F.col("__n2").cast("double")
        )
    )
    z6 = ((m1 - m2) / se).cast("decimal(18,6)")
    return one.select(
        F.col("g1").alias(f"{group_col}_1"),
        F.col("g2").alias(f"{group_col}_2"),
        F.col("__n1").cast("bigint").alias("n1"),
        F.col("__n2").cast("bigint").alias("n2"),
        F.when(sigma2 > 0.0, z6.cast("double")).alias("z"),
        F.coalesce(
            F.when(sigma2 > 0.0, F.abs(z6.cast("double")) > float(z_crit)),
            F.lit(False),
        ).alias("significant"),
    )


def dunn_test_sql(
    select: str,
    group_col: str,
    value_col: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`dunn_test` — the identical exact
    doubled-midrank sums (global cumulative is fine on the oracle
    side), fixed-shape z, DECIMAL(18,6) rounding, |rounded| compare."""
    zc = repr(float(z_crit))
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {group_col} AS g,
               CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
    ),
    cnt AS (SELECT v, g, COUNT(*) AS c FROM base GROUP BY v, g),
    vtot AS (SELECT v, SUM(c) AS nv FROM cnt GROUP BY v),
    rk AS (
        SELECT v, nv,
               2 * (SUM(nv) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - nv) + nv + 1 AS r2
        FROM vtot
    ),
    per_g AS (
        SELECT g, SUM(c) AS ng,
               SUM(CAST(c AS HUGEINT) * rk.r2) AS rs2
        FROM cnt JOIN rk USING (v) GROUP BY g
    ),
    tot AS (SELECT SUM(ng)::HUGEINT AS n FROM per_g),
    ties AS (SELECT COALESCE(SUM(CAST(nv AS HUGEINT) * nv * nv - nv), 0)
                    AS tt FROM vtot),
    pairs AS (
        SELECT a.g AS g1, b.g AS g2, a.ng AS n1, b.ng AS n2,
               a.rs2 AS r1, b.rs2 AS r2s
        FROM per_g a JOIN per_g b ON a.g < b.g
    ),
    calc AS (
        SELECT g1, g2, n1, n2,
               CAST(n AS DOUBLE) AS nd,
               CAST(tt AS DOUBLE) AS ttd,
               CAST(r1 AS DOUBLE) / (2.0 * CAST(n1 AS DOUBLE)) AS m1,
               CAST(r2s AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)) AS m2
        FROM pairs CROSS JOIN tot CROSS JOIN ties
    )
    SELECT g1 AS {group_col}_1, g2 AS {group_col}_2,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CASE WHEN nd * (nd + 1.0) / 12.0 - ttd / (12.0 * (nd - 1.0))
                     > 0.0 THEN
             CAST(CAST((m1 - m2) / sqrt(
               (nd * (nd + 1.0) / 12.0 - ttd / (12.0 * (nd - 1.0)))
               * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
             AS DECIMAL(18,6)) AS DOUBLE) END AS z,
           COALESCE(
             CASE WHEN nd * (nd + 1.0) / 12.0 - ttd / (12.0 * (nd - 1.0))
                       > 0.0 THEN
               ABS(CAST(CAST((m1 - m2) / sqrt(
                 (nd * (nd + 1.0) / 12.0 - ttd / (12.0 * (nd - 1.0)))
                 * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
               AS DECIMAL(18,6)) AS DOUBLE)) > {zc} END,
             FALSE) AS significant
    FROM calc
    """


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: str | None = None,
    max_cells: int = 4096,
) -> DataFrame:
    """Kendall's τ-b rank correlation per group — ``(group?, n,
    concordant, discordant, tau_b)`` — the concordance twin of
    :func:`spearman_corr` (τ weights each discordant PAIR equally
    where ρ weights by rank distance; τ is the one reviewers ask for
    on ordinal scales).

    BOUNDED-DOMAIN contract: exact τ-b needs pairwise order counts,
    which is O(n log n) at best on unbounded reals — this
    implementation instead collapses rows to the distinct (x, y) CELL
    grid (exact for discrete/ordinal columns, the τ use case) and
    counts concordance on the cells² join, guarded in-plan by
    ``max_cells`` per group (the :func:`dunn_test` / vocab_overlap
    idiom: raise loudly rather than detonate a quadratic join). The
    corpus-side work stays ONE map-combinable hash agg.

    Exact arithmetic: cents-lifted values; cell counts, concordant/
    discordant weighted pair sums C and D, and the doubled tie-
    corrected pair masses ``A = n(n−1) − Σ_x t_x(t_x−1)`` /
    ``B = n(n−1) − Σ_y t_y(t_y−1)`` are all DECIMAL(38,0);

        τ_b = 2·(C − D) / sqrt(A·B)

    is the single fixed-shape IEEE finish, rounded once to
    DECIMAL(18,6). NULL when A or B is zero (a constant margin).
    """
    if max_cells < 1:
        raise ValueError(f"kendall_tau_b: max_cells {max_cells} < 1")
    keys = [by] if by else []
    ok = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    lift = lambda c: (  # noqa: E731
        F.col(c).cast("decimal(18,2)") * 100
    ).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells = (
        df.filter(ok)
        .groupBy(*keys, lift(x_col).alias("__x"), lift(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    msg = (
        f"kendall_tau_b: more than max_cells={max_cells} distinct "
        "(x, y) cells in a group — the exact cells² concordance join "
        "is only intended for discrete/ordinal columns; bucket the "
        "values or raise max_cells to confirm"
    )
    cells = cells.withColumn(
        "__cc", F.count(F.lit(1)).over(Window.partitionBy(*keys))
    ).filter(
        F.when(
            F.col("__cc") > max_cells,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    ).drop("__cc")
    from pybabe_spark.operators._util import lazy_persist

    # the cell grid feeds four branches (pair join both sides, margin
    # ties ×2, totals) — pin it, each branch otherwise re-runs the
    # corpus hash agg
    cells = lazy_persist(cells)
    ca = cells.select(
        *[F.col(k).alias(f"__ka_{k}") for k in keys],
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__c").alias("__ca"),
    )
    cb = cells.select(
        *[F.col(k).alias(f"__kb_{k}") for k in keys],
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__c").alias("__cb"),
    )
    cond = F.col("__xa") < F.col("__xb")
    for k in keys:
        cond = cond & F.col(f"__ka_{k}").eqNullSafe(F.col(f"__kb_{k}"))
    prod = d(F.col("__ca")) * F.col("__cb")
    cd = (
        ca.join(cb, cond)
        .groupBy(*[F.col(f"__ka_{k}").alias(k) for k in keys])
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("__ya") < F.col("__yb"), prod)),
                F.lit(0),
            ).cast("decimal(38,0)").alias("__con"),
            F.coalesce(
                F.sum(F.when(F.col("__ya") > F.col("__yb"), prod)),
                F.lit(0),
            ).cast("decimal(38,0)").alias("__dis"),
        )
    )
    tx = (
        cells.groupBy(*keys, "__x")
        .agg(F.sum("__c").alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(d(F.col("__t")) * (F.col("__t") - 1))
            .cast("decimal(38,0)")
            .alias("__tx"),
        )
    )
    ty = (
        cells.groupBy(*keys, "__y")
        .agg(F.sum("__c").alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(d(F.col("__t")) * (F.col("__t") - 1))
            .cast("decimal(38,0)")
            .alias("__ty"),
        )
    )
    tot = cells.groupBy(*keys).agg(
        F.sum("__c").cast("bigint").alias("n")
    )
    if keys:
        j = (
            tot.join(cd, keys, "left")
            .join(tx, keys)
            .join(ty, keys)
        )
    else:
        from pybabe_spark.operators._util import attach_scalars

        j = attach_scalars(
            attach_scalars(attach_scalars(tot, cd), tx), ty
        )
    zero = F.lit(0).cast("decimal(38,0)")
    con = F.coalesce(F.col("__con"), zero)
    dis = F.coalesce(F.col("__dis"), zero)
    nn = d(F.col("n")) * (F.col("n") - 1)
    aa = (nn - F.col("__tx")).cast("decimal(38,0)")
    bb = (nn - F.col("__ty")).cast("decimal(38,0)")
    tau = _sdiv(
        2.0 * (con - dis).cast("double"),
        F.sqrt((aa * bb).cast("double")),
    )
    return j.select(
        *keys,
        "n",
        con.cast("bigint").alias("concordant"),
        dis.cast("bigint").alias("discordant"),
        F.when(
            (aa > 0) & (bb > 0),
            tau.cast("decimal(18,6)").cast("double"),
        ).alias("tau_b"),
    )


def kendall_tau_b_sql(
    table: str,
    x_col: str,
    y_col: str,
    by: str | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`kendall_tau_b` — the same cell grid,
    cells² concordance counts, doubled tie masses, fixed-shape τ-b
    finish."""
    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    on_k = f"AND a.{by} IS NOT DISTINCT FROM b.{by} " if by else ""
    ksel = f"a.{by} AS {by}, " if by else ""
    jk = f"USING ({by})" if by else "ON TRUE"
    lift = lambda c: (  # noqa: E731
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    return f"""
    WITH cells AS (
        SELECT {keys}{lift(x_col)} AS x, {lift(y_col)} AS y,
               CAST(COUNT(*) AS HUGEINT) AS c
        FROM {table}
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL AND ({where})
        GROUP BY {keys}x, y
    ),
    cd AS (
        SELECT {ksel}
               COALESCE(SUM(CASE WHEN a.y < b.y THEN a.c * b.c END), 0)
                 AS con,
               COALESCE(SUM(CASE WHEN a.y > b.y THEN a.c * b.c END), 0)
                 AS dis
        FROM cells a JOIN cells b
          ON a.x < b.x {on_k}
        {"GROUP BY a." + by if by else ""}
    ),
    tx AS (
        SELECT {keys}SUM(t * (t - 1)) AS txm FROM (
            SELECT {keys}x, SUM(c) AS t FROM cells GROUP BY {keys}x
        ) {gby}
    ),
    ty AS (
        SELECT {keys}SUM(t * (t - 1)) AS tym FROM (
            SELECT {keys}y, SUM(c) AS t FROM cells GROUP BY {keys}y
        ) {gby}
    ),
    tot AS (
        SELECT {keys}CAST(SUM(c) AS BIGINT) AS n FROM cells {gby}
    )
    SELECT {"tot." + by + " AS " + by + ", " if by else ""}n,
           CAST(COALESCE(con, 0) AS BIGINT) AS concordant,
           CAST(COALESCE(dis, 0) AS BIGINT) AS discordant,
           CASE WHEN (CAST(n AS HUGEINT) * (n - 1) - txm) > 0
                 AND (CAST(n AS HUGEINT) * (n - 1) - tym) > 0 THEN
             CAST(CAST(
               2.0 * CAST(COALESCE(con, 0) - COALESCE(dis, 0) AS DOUBLE)
               / sqrt(CAST((CAST(n AS HUGEINT) * (n - 1) - txm)
                           * (CAST(n AS HUGEINT) * (n - 1) - tym)
                      AS DOUBLE))
             AS DECIMAL(18,6)) AS DOUBLE) END AS tau_b
    FROM tot
    LEFT JOIN cd {jk}
    JOIN tx {jk}
    JOIN ty {jk}
    """


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """2×2 odds ratio + relative risk with Woolf log-interval CI — the
    effect-size readout :func:`chi2_test`'s p-value hides: ONE row
    ``(n_exposed_pos, n_exposed_neg, n_unexposed_pos, n_unexposed_neg,
    odds_ratio, or_ci_low, or_ci_high, relative_risk)`` from boolean
    exposure/outcome columns (nonzero/true = yes),

        OR = (a·d)/(b·c),  CI = exp(ln OR ± z·√(1/a+1/b+1/c+1/d)),
        RR = (a/(a+b)) / (c/(c+d)).

    Exact bigint cell counts from one conditional aggregation pass;
    the finish is one fixed-shape IEEE expression per output (ln/exp
    ulp noise is absorbed by the DECIMAL(18,6) rounding — the
    module-wide log-space convention, see zipf/llr). All four ratios
    are NULL when any cell is zero (the classical undefined case —
    apply a Haldane correction upstream if you want one; silently
    adding 0.5 here would diverge from every textbook table).

    Scale shape: one map-side-combinable aggregation, no shuffle
    beyond the 1-row reduce.
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    ok = e.isNotNull() & o.isNotNull()
    cell = lambda p: F.sum(  # noqa: E731
        F.when(p, F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    agg = df.filter(ok).agg(
        cell(e & o).alias("n_exposed_pos"),
        cell(e & ~o).alias("n_exposed_neg"),
        cell(~e & o).alias("n_unexposed_pos"),
        cell(~e & ~o).alias("n_unexposed_neg"),
    )
    a = F.col("n_exposed_pos").cast("double")
    b = F.col("n_exposed_neg").cast("double")
    c = F.col("n_unexposed_pos").cast("double")
    dd = F.col("n_unexposed_neg").cast("double")
    orx = _sdiv(a * dd, b * c)
    se = F.sqrt(
        _sdiv(F.lit(1.0), a) + _sdiv(F.lit(1.0), b)
        + _sdiv(F.lit(1.0), c) + _sdiv(F.lit(1.0), dd)
    )
    rr = _sdiv(_sdiv(a, a + b), _sdiv(c, c + dd))
    pos = (
        (F.col("n_exposed_pos") > 0)
        & (F.col("n_exposed_neg") > 0)
        & (F.col("n_unexposed_pos") > 0)
        & (F.col("n_unexposed_neg") > 0)
    )
    out = lambda x: x.cast("decimal(18,6)").cast("double")  # noqa: E731
    zf = float(z)
    return agg.select(
        "n_exposed_pos", "n_exposed_neg",
        "n_unexposed_pos", "n_unexposed_neg",
        F.when(pos, out(orx)).alias("odds_ratio"),
        F.when(pos, out(F.exp(F.log(orx) - zf * se))).alias("or_ci_low"),
        F.when(pos, out(F.exp(F.log(orx) + zf * se))).alias("or_ci_high"),
        F.when(pos, out(rr)).alias("relative_risk"),
    )


def odds_ratio_sql(
    select: str,
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`odds_ratio` — same exact cells, same
    fixed-shape OR/CI/RR expressions, DECIMAL(18,6) rounding."""
    zf = float(z)
    a, b = "CAST(a AS DOUBLE)", "CAST(b AS DOUBLE)"
    c, d = "CAST(c AS DOUBLE)", "CAST(d AS DOUBLE)"
    orx = f"(({a} * {d}) / ({b} * {c}))"
    se = f"sqrt(1.0 / {a} + 1.0 / {b} + 1.0 / {c} + 1.0 / {d})"
    rr = f"(({a} / ({a} + {b})) / ({c} / ({c} + {d})))"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH rows_in AS ({select}),
    cells AS (
        SELECT
          CAST(SUM(CASE WHEN e AND o THEN 1 ELSE 0 END) AS BIGINT) AS a,
          CAST(SUM(CASE WHEN e AND NOT o THEN 1 ELSE 0 END) AS BIGINT)
            AS b,
          CAST(SUM(CASE WHEN NOT e AND o THEN 1 ELSE 0 END) AS BIGINT)
            AS c,
          CAST(SUM(CASE WHEN NOT e AND NOT o THEN 1 ELSE 0 END)
               AS BIGINT) AS d
        FROM (SELECT CAST({exposure_col} AS BOOLEAN) AS e,
                     CAST({outcome_col} AS BOOLEAN) AS o
              FROM rows_in) t
        WHERE e IS NOT NULL AND o IS NOT NULL
    )
    SELECT a AS n_exposed_pos, b AS n_exposed_neg,
           c AS n_unexposed_pos, d AS n_unexposed_neg,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN {r6(orx)} END AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN {r6(f"exp(ln({orx}) - {zf} * {se})")} END AS or_ci_low,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN {r6(f"exp(ln({orx}) + {zf} * {se})")} END
             AS or_ci_high,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             THEN {r6(rr)} END AS relative_risk
    FROM cells
    """


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
    by: str | None = None,
) -> DataFrame:
    """First-order partial correlation — the x↔y association with the
    confounder z held constant:

        r_xy·z = (r_xy − r_xz·r_yz) / sqrt((1 − r_xz²)(1 − r_yz²))

    — ``(group?, n, r_xy, r_xz, r_yz, r_xy_given_z)``, the "is the
    quantity↔price correlation real or just both riding discount"
    question :func:`corr_matrix` can't answer by itself.

    Determinism: values lift to bigint cents; all ten moment sums run
    exact DECIMAL(38,0) in ONE map-combinable hash agg. Each pairwise
    r is the single fixed-shape IEEE expression ``cov / (√vx·√vy)``
    over exact-decimal-cast doubles (the :func:`corr_matrix` shape),
    the partial formula composes those three doubles in one more
    fixed shape, and each OUTPUT rounds once to DECIMAL(18,6) — the
    oracle reproduces the tree verbatim, so doubles match bit-for-bit.
    Rows with any NULL among x/y/z are excluded (listwise deletion,
    the textbook convention). NULL where any variance is zero; the
    partial is additionally NULL when either |r·z| = 1 (z explains a
    variable completely — the denominator vanishes).

    Scale shape: one hash agg, one 1-row (or group-grain) finish — no
    window, no join, no second scan.
    """
    keys = [by] if by else []
    ok = (
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(z_col).isNotNull()
    )
    lift = lambda c: (  # noqa: E731
        F.col(c).cast("decimal(18,2)") * 100
    ).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.filter(ok).select(
        *keys,
        lift(x_col).alias("__x"),
        lift(y_col).alias("__y"),
        lift(z_col).alias("__z"),
    )
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(d(F.col(a)) * (F.col(b) if b else F.lit(1)))
            .cast("decimal(38,0)")
            .alias(nm)
            for a, b, nm in [
                ("__x", None, "__sx"), ("__y", None, "__sy"),
                ("__z", None, "__sz"), ("__x", "__x", "__sxx"),
                ("__y", "__y", "__syy"), ("__z", "__z", "__szz"),
                ("__x", "__y", "__sxy"), ("__x", "__z", "__sxz"),
                ("__y", "__z", "__syz"),
            ]
        ],
    )
    nd = F.col("n").cast("decimal(38,0)")

    def _r(sab, sa, sb, saa, sbb):
        cov = (nd * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")
        va = (nd * F.col(saa) - F.col(sa) * F.col(sa)).cast("double")
        vb = (nd * F.col(sbb) - F.col(sb) * F.col(sb)).cast("double")
        return _sdiv(cov, F.sqrt(va) * F.sqrt(vb)), va, vb

    rxy, vx, vy = _r("__sxy", "__sx", "__sy", "__sxx", "__syy")
    rxz, _, vz = _r("__sxz", "__sx", "__sz", "__sxx", "__szz")
    ryz, _, _ = _r("__syz", "__sy", "__sz", "__syy", "__szz")
    denom = (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    partial = _sdiv(rxy - rxz * ryz, F.sqrt(denom))
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    all_var = (vx > 0) & (vy > 0) & (vz > 0)
    return agg.select(
        *keys,
        "n",
        F.when((vx > 0) & (vy > 0), out(rxy)).alias("r_xy"),
        F.when((vx > 0) & (vz > 0), out(rxz)).alias("r_xz"),
        F.when((vy > 0) & (vz > 0), out(ryz)).alias("r_yz"),
        F.when(all_var & (denom > 0.0), out(partial)).alias(
            "r_xy_given_z"
        ),
    )


def partial_corr_sql(
    table: str,
    x_col: str,
    y_col: str,
    z_col: str,
    by: str | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`partial_corr` — same cents lift,
    HUGEINT moments, the identical fixed-shape r and partial
    expressions, DECIMAL(18,6) rounding."""
    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    lift = lambda c: (  # noqa: E731
        f"CAST(CAST({c} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )

    def _r(sab, sa, sb, saa, sbb):
        cov = f"CAST(n1 * {sab} - {sa} * {sb} AS DOUBLE)"
        va = f"CAST(n1 * {saa} - {sa} * {sa} AS DOUBLE)"
        vb = f"CAST(n1 * {sbb} - {sb} * {sb} AS DOUBLE)"
        return f"({cov} / (sqrt({va}) * sqrt({vb})))", va, vb

    rxy, vx, vy = _r("sxy", "sx", "sy", "sxx", "syy")
    rxz, _, vz = _r("sxz", "sx", "sz", "sxx", "szz")
    ryz, _, _ = _r("syz", "sy", "sz", "syy", "szz")
    denom = f"((1.0 - {rxz} * {rxz}) * (1.0 - {ryz} * {ryz}))"
    partial = f"(({rxy} - {rxz} * {ryz}) / sqrt({denom}))"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    return f"""
    WITH m AS (
        SELECT {keys}CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) AS HUGEINT) AS n1,
               SUM(CAST({lift(x_col)} AS HUGEINT)) AS sx,
               SUM(CAST({lift(y_col)} AS HUGEINT)) AS sy,
               SUM(CAST({lift(z_col)} AS HUGEINT)) AS sz,
               SUM(CAST({lift(x_col)} AS HUGEINT) * {lift(x_col)}) AS sxx,
               SUM(CAST({lift(y_col)} AS HUGEINT) * {lift(y_col)}) AS syy,
               SUM(CAST({lift(z_col)} AS HUGEINT) * {lift(z_col)}) AS szz,
               SUM(CAST({lift(x_col)} AS HUGEINT) * {lift(y_col)}) AS sxy,
               SUM(CAST({lift(x_col)} AS HUGEINT) * {lift(z_col)}) AS sxz,
               SUM(CAST({lift(y_col)} AS HUGEINT) * {lift(z_col)}) AS syz
        FROM {table}
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
          AND {z_col} IS NOT NULL AND ({where})
        {gby}
    )
    SELECT {keys}n,
           CASE WHEN {vx} > 0 AND {vy} > 0
             THEN {r6(rxy)} END AS r_xy,
           CASE WHEN {vx} > 0 AND {vz} > 0
             THEN {r6(rxz)} END AS r_xz,
           CASE WHEN {vy} > 0 AND {vz} > 0
             THEN {r6(ryz)} END AS r_yz,
           CASE WHEN {vx} > 0 AND {vy} > 0 AND {vz} > 0
                 AND {denom} > 0.0
             THEN {r6(partial)} END AS r_xy_given_z
    FROM m
    """


def herfindahl_index(
    df: DataFrame,
    entity_col: str,
    value_col: str,
    by: str | None = None,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group —
    ``(group?, n_entities, hhi_ppm, hhi_norm_ppm)`` — the market-
    concentration readout: HHI = Σ_e share_e² over the entities'
    value shares, 10⁶ = monopoly, 10⁶/n = perfectly even. The
    normalized form ``(HHI − 1/n) / (1 − 1/n)`` rescales to [0, 10⁶]
    independent of entity count (NULL when n = 1, where concentration
    is undefined).

    EXACT integral arithmetic end to end: values lift to bigint
    cents, per-entity sums s_e and the group total S are exact
    DECIMAL(38,0), and both indices are single floored integer
    divisions of non-negative exact products —

        hhi_ppm      = (10⁶ · Σs²) div S²,
        hhi_norm_ppm = (10⁶ · (n·Σs² − S²)) div ((n−1) · S²)

    (n·Σs² ≥ S² by Cauchy–Schwarz, so truncating div IS floor; no
    IEEE anywhere, any engine replays the value bit-for-bit).
    Magnitude contract: a group's total must stay under ~10^16 cents
    (10¹⁴ in value units) so 10⁶·Σs² fits DECIMAL(38,0); beyond that
    ANSI raises rather than silently rounding. Rows with NULL entity
    or value are excluded; groups whose total S = 0 report NULL
    indices (shares are undefined).

    Scale shape: two map-side-combinable hash aggs (entity grain,
    then group grain) — no window, no join, no second scan.
    """
    keys = [by] if by else []
    ok = F.col(entity_col).isNotNull() & F.col(value_col).isNotNull()
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_e = (
        df.filter(ok)
        .groupBy(*keys, F.col(entity_col).alias("__e"))
        .agg(F.sum(d(x)).cast("decimal(38,0)").alias("__s"))
    )
    agg = per_e.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum(d(F.col("__s"))).cast("decimal(38,0)").alias("__tot"),
        F.sum(d(F.col("__s")) * F.col("__s"))
        .cast("decimal(38,0)")
        .alias("__sq"),
    )
    hhi = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * __sq)"
        " div (__tot * __tot) AS BIGINT)"
    )
    norm = F.expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0))"
        " * (CAST(n_entities AS DECIMAL(38,0)) * __sq - __tot * __tot))"
        " div ((CAST(n_entities AS DECIMAL(38,0)) - 1)"
        " * __tot * __tot) AS BIGINT)"
    )
    return agg.select(
        *keys,
        "n_entities",
        F.when(F.col("__tot") != 0, hhi).alias("hhi_ppm"),
        F.when(
            (F.col("__tot") != 0) & (F.col("n_entities") > 1), norm
        ).alias("hhi_norm_ppm"),
    )


def herfindahl_index_sql(
    table: str,
    entity_col: str,
    value_col: str,
    by: str | None = None,
    where: str = "TRUE",
) -> str:
    """DuckDB oracle of :func:`herfindahl_index` — same cents lift,
    HUGEINT sums, identical floored integer divisions."""
    keys = f"{by}, " if by else ""
    gby1 = f"GROUP BY {keys}{entity_col}"
    gby2 = f"GROUP BY {by}" if by else ""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH per_e AS (
        SELECT {keys}{entity_col} AS e,
               SUM(CAST({x} AS HUGEINT)) AS s
        FROM {table}
        WHERE {entity_col} IS NOT NULL AND {value_col} IS NOT NULL
          AND ({where})
        {gby1}
    ),
    agg AS (
        SELECT {keys}CAST(COUNT(*) AS BIGINT) AS n_entities,
               SUM(s) AS tot, SUM(s * s) AS sq
        FROM per_e {gby2}
    )
    SELECT {keys}n_entities,
           CASE WHEN tot <> 0 THEN
             CAST((1000000 * sq) // (tot * tot) AS BIGINT)
           END AS hhi_ppm,
           CASE WHEN tot <> 0 AND n_entities > 1 THEN
             CAST((1000000 * (n_entities * sq - tot * tot))
                  // ((n_entities - 1) * tot * tot) AS BIGINT)
           END AS hhi_norm_ppm
    FROM agg
    """


def _block_grid(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_expr,
    op_name: str,
) -> DataFrame:
    """Shared randomized-block plumbing of :func:`friedman_test`,
    :func:`page_trend_test` and :func:`cochran_q`: observations at
    ``(block, treatment, value_expr)``, the duplicate-(block,
    treatment) in-plan guard, and the complete-blocks filter (all k
    observed treatments present). Block partitions are ≤ k rows BY
    CONSTRUCTION — the duplicate guard doubles as the skew proof."""
    from pybabe_spark.operators._util import attach_scalars

    ok = F.col(block_col).isNotNull() & F.col(treatment_col).isNotNull()
    obs = df.filter(ok).select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        value_expr.alias("__v"),
    ).filter(F.col("__v").isNotNull())
    dup_msg = (
        f"{op_name}: duplicate (block, treatment) observation — "
        "the design needs exactly one value per cell; aggregate first"
    )
    w_cell = Window.partitionBy("__b", "__t")
    obs = obs.withColumn(
        "__dc", F.count(F.lit(1)).over(w_cell)
    ).filter(
        F.when(
            F.col("__dc") > 1,
            F.raise_error(F.lit(dup_msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    ).drop("__dc")
    kt = obs.agg(F.count_distinct("__t").alias("__k"))
    wb = Window.partitionBy("__b")
    return attach_scalars(
        obs.withColumn("__bn", F.count(F.lit(1)).over(wb)), kt
    ).filter(F.col("__bn") == F.col("__k"))


def _block_midranks(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    op_name: str,
) -> DataFrame:
    """:func:`_block_grid` plus within-block doubled midranks
    ``__r2 = 2·cnt_< + cnt_= + 1`` (integers under ties) on the
    cents-lifted value — the rank grain :func:`friedman_test` and
    :func:`page_trend_test` aggregate."""
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    complete = _block_grid(df, block_col, treatment_col, x, op_name)
    wv = Window.partitionBy("__b").orderBy(F.col("__v").asc())
    cnt_lt = F.coalesce(
        F.count(F.lit(1)).over(
            wv.rangeBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    cnt_eq = F.count(F.lit(1)).over(wv.rangeBetween(0, 0))
    return complete.withColumn("__r2", 2 * cnt_lt + cnt_eq + 1)


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    chi2_crit: float | None = None,
) -> DataFrame:
    """Friedman test — the repeated-measures / randomized-block sibling
    of :func:`kruskal_wallis`: ranks are computed WITHIN each block
    (subject) across the k treatments, so between-block level
    differences cancel and only the treatment ordering speaks. ONE
    output row: ``(k, n_blocks, chi2, chi2_tie_corrected,
    significant?)`` with χ² vs the χ²(k−1) critical value compared on
    the rounded tie-corrected statistic (the :func:`kruskal_wallis`
    convention).

    Contract: ONE observation per (block, treatment) — an in-plan
    guard raises on duplicates (aggregate first; the
    :func:`~pybabe_spark.operators.classifier.gains_table` idiom) —
    and only COMPLETE blocks (all k treatments present) enter, the
    standard Friedman design.

    Exact arithmetic: values lift to bigint cents; within-block
    doubled midranks ``r2 = 2·cnt_< + cnt_= + 1`` are integers under
    ties, per-treatment doubled rank sums R2_j and their squares are
    exact DECIMAL(38,0), and with B complete blocks

        χ² = 3·Σ_j R2_j² / (B·k·(k+1)) − 3·B·(k+1)

    (the 12/4 fold from un-doubling, exactly kruskal_wallis's trick).
    The tie correction divides by ``C = 1 − Σ_{block,v}(t³−t) /
    (B·(k³−k))`` — both sums exact integers — in the same fixed-shape
    IEEE finish, rounded once to DECIMAL(18,6). χ² is NULL when k < 2
    or B = 0; the corrected form is NULL when C ≤ 0 (every block
    fully tied).

    Scale shape: one hash agg to the (block, treatment) grain, one
    block-partitioned window whose partitions are ≤ k rows BY
    CONSTRUCTION (the duplicate guard makes block size ≤ the
    treatment-domain cardinality — no skew possible), one treatment
    agg, a (block, value) tie agg, one 1-row finish. No global
    window, no join on the corpus grain.
    """
    from pybabe_spark.operators._util import attach_scalars

    ranked = _block_midranks(
        df, block_col, treatment_col, value_col, "friedman_test"
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = ranked.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__bt"),
        F.sum(d(F.col("__r2"))).cast("decimal(38,0)").alias("__rs2"),
    )
    tagg = per_t.agg(
        F.count(F.lit(1)).alias("k"),
        F.max("__bt").cast("bigint").alias("n_blocks"),
        F.coalesce(
            F.sum(d(F.col("__rs2")) * F.col("__rs2")),
            F.lit(0),
        ).cast("decimal(38,0)").alias("__sq"),
    )
    ties = (
        ranked.groupBy("__b", "__v")
        .agg(F.count(F.lit(1)).alias("__tc"))
        .agg(
            F.coalesce(
                F.sum(
                    d(F.col("__tc")) * F.col("__tc") * F.col("__tc")
                    - F.col("__tc")
                ),
                F.lit(0),
            ).cast("decimal(38,0)").alias("__tt"),
        )
    )
    one = attach_scalars(tagg, ties)
    kd = F.col("k").cast("double")
    bd = F.col("n_blocks").cast("double")
    sq = F.col("__sq").cast("double")
    tt = F.col("__tt").cast("double")
    chi2 = (
        _sdiv(3.0 * sq, bd * kd * (kd + 1.0))
        - 3.0 * bd * (kd + 1.0)
    )
    c_corr = 1.0 - _sdiv(tt, bd * (kd * kd * kd - kd))
    corrected = _sdiv(chi2, c_corr)
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okb = (F.col("k") >= 2) & (F.col("n_blocks") > 0)
    cols = [
        F.col("k").cast("bigint").alias("k"),
        F.coalesce(F.col("n_blocks"), F.lit(0)).alias("n_blocks"),
        F.when(okb, out(chi2)).alias("chi2"),
        F.when(okb & (c_corr > 0.0), out(corrected)).alias(
            "chi2_tie_corrected"
        ),
    ]
    if chi2_crit is not None:
        cols.append(
            F.coalesce(
                F.when(
                    okb & (c_corr > 0.0),
                    out(corrected) > F.lit(float(chi2_crit)),
                ),
                F.lit(False),
            ).alias("significant")
        )
    return one.select(*cols)


def friedman_test_sql(
    select: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    chi2_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`friedman_test` — same cents lift,
    complete-block filter, within-block doubled midranks via
    ``2·RANK + COUNT(peers) − 1``, exact HUGEINT sums, identical
    fixed-shape finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    chi2 = (
        "(3.0 * CAST(sq AS DOUBLE)"
        " / (CAST(b AS DOUBLE) * CAST(k AS DOUBLE)"
        " * (CAST(k AS DOUBLE) + 1.0))"
        " - 3.0 * CAST(b AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0))"
    )
    c_corr = (
        "(1.0 - CAST(tt AS DOUBLE) / (CAST(b AS DOUBLE)"
        " * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE) * CAST(k AS DOUBLE)"
        " - CAST(k AS DOUBLE))))"
    )
    okb = "k >= 2 AND b > 0"
    sig = (
        f""",
           COALESCE(CASE WHEN {okb} AND {c_corr} > 0.0 THEN
             CAST(CAST({chi2} / {c_corr} AS DECIMAL(18,6)) AS DOUBLE)
               > {float(chi2_crit)} END, FALSE) AS significant"""
        if chi2_crit is not None
        else ""
    )
    return f"""
    WITH rows_in AS ({select}),
    obs AS (
        SELECT {block_col} AS b, {treatment_col} AS t, {x} AS v
        FROM rows_in
        WHERE {block_col} IS NOT NULL AND {treatment_col} IS NOT NULL
          AND {value_col} IS NOT NULL
    ),
    kt AS (SELECT COUNT(DISTINCT t) AS k FROM obs),
    complete AS (
        SELECT obs.* FROM obs
        JOIN (SELECT b FROM obs GROUP BY b
              HAVING COUNT(*) = (SELECT k FROM kt)) cb USING (b)
    ),
    ranked AS (
        SELECT b, t,
               2 * RANK() OVER (PARTITION BY b ORDER BY v)
                 + COUNT(*) OVER (PARTITION BY b, v) - 1 AS r2,
               v
        FROM complete
    ),
    per_t AS (
        SELECT t, COUNT(*) AS bt, SUM(CAST(r2 AS HUGEINT)) AS rs2
        FROM ranked GROUP BY t
    ),
    tagg AS (
        SELECT COUNT(*) AS k,
               CAST(COALESCE(MAX(bt), 0) AS BIGINT) AS b,
               COALESCE(SUM(rs2 * rs2), 0) AS sq
        FROM per_t
    ),
    ties AS (
        SELECT COALESCE(SUM(tc * tc * tc - tc), 0) AS tt
        FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS tc
              FROM ranked GROUP BY b, v)
    )
    SELECT CAST(k AS BIGINT) AS k,
           b AS n_blocks,
           CASE WHEN {okb} THEN
             CAST(CAST({chi2} AS DECIMAL(18,6)) AS DOUBLE) END AS chi2,
           CASE WHEN {okb} AND {c_corr} > 0.0 THEN
             CAST(CAST({chi2} / {c_corr} AS DECIMAL(18,6)) AS DOUBLE)
           END AS chi2_tie_corrected
           {sig}
    FROM tagg CROSS JOIN ties
    """


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    scores: "dict",
    z_crit: float | None = 1.644854,
) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative refinement of
    :func:`friedman_test` (exactly as :func:`trend_test` refines chi²
    for ordered groups): with treatments pre-ordered by the caller's
    ``scores`` map (treatment → rank weight, a permutation of 1..k),

        L = Σ_j w_j · R_j,   z = (L − B·k·(k+1)²/4)
                                  / sqrt(B·(k³−k)² / (144·(k−1)))

    ONE output row ``(k, n_blocks, l_stat, z, significant?)``.
    One-sided: ``significant`` prices an INCREASING trend along the
    weights (reverse the weights for the decreasing question).

    Rides :func:`_block_midranks` verbatim — the same duplicate-cell
    guard, complete-blocks filter, and exact within-block doubled
    midranks as Friedman, so the omnibus test and its ordered
    refinement cannot drift apart. L2 = Σ w_j·R2_j is an exact
    DECIMAL(38,0) (L = L2/2, halves at worst under ties); μ and σ use
    the classical untied variance (the standard Page formulation —
    midranks keep L exact, ties only make the z slightly
    conservative, which the docstring states rather than hides).
    Rows whose treatment is not in ``scores`` are excluded BEFORE the
    complete-block filter. z is NULL when k < 2 or B = 0.

    Scale shape: Friedman's (one hash agg to the cell grain, ≤k-row
    block windows, a k-row treatment agg, 1-row finish).
    """
    if not scores:
        raise ValueError("page_trend_test: scores must be non-empty")
    k_expected = len(scores)
    if sorted(int(v) for v in scores.values()) != list(
        range(1, k_expected + 1)
    ):
        raise ValueError(
            "page_trend_test: scores must be a permutation of 1..k "
            f"(got {sorted(scores.values())})"
        )
    scored = df.filter(F.col(treatment_col).isin(list(scores)))
    ranked = _block_midranks(
        scored, block_col, treatment_col, value_col, "page_trend_test"
    )
    w = F.lit(None).cast("long")
    for val, sc in scores.items():
        w = F.when(F.col("__t") == val, F.lit(int(sc))).otherwise(w)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = ranked.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__bt"),
        F.sum(d(F.col("__r2"))).cast("decimal(38,0)").alias("__rs2"),
    ).withColumn("__w", w)
    one = per_t.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.max("__bt"), F.lit(0)).cast("bigint").alias(
            "n_blocks"
        ),
        F.coalesce(
            F.sum(d(F.col("__w")) * F.col("__rs2")), F.lit(0)
        ).cast("decimal(38,0)").alias("__l2"),
    )
    kd = F.col("k").cast("double")
    bd = F.col("n_blocks").cast("double")
    ld = F.col("__l2").cast("double") / 2.0
    mu = bd * kd * (kd + 1.0) * (kd + 1.0) / 4.0
    kcube = kd * kd * kd - kd
    sigma = F.sqrt(
        _sdiv(bd * kcube * kcube, 144.0 * (kd - 1.0))
    )
    z6 = _sdiv(ld - mu, sigma).cast("decimal(18,6)")
    okb = (F.col("k") >= 2) & (F.col("n_blocks") > 0)
    cols = [
        F.col("k").cast("bigint").alias("k"),
        F.col("n_blocks"),
        F.when(okb, ld.cast("decimal(18,6)").cast("double")).alias(
            "l_stat"
        ),
        F.when(okb, z6.cast("double")).alias("z"),
    ]
    if z_crit is not None:
        cols.append(
            F.coalesce(
                F.when(okb, z6.cast("double") > float(z_crit)),
                F.lit(False),
            ).alias("significant")
        )
    return one.select(*cols)


def page_trend_test_sql(
    select: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    scores: "dict",
    z_crit: float | None = 1.644854,
) -> str:
    """DuckDB oracle of :func:`page_trend_test` — same cents lift,
    complete-block filter, ``2·RANK + COUNT(peers) − 1`` midranks,
    CASE-literal weights, identical fixed-shape finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    in_list = ", ".join(
        "'" + str(s).replace("'", "''") + "'"
        if isinstance(s, str) else str(s)
        for s in scores
    )
    wcase = "CASE " + " ".join(
        "WHEN t = "
        + ("'" + str(v).replace("'", "''") + "'"
           if isinstance(v, str) else str(v))
        + f" THEN {int(sc)}"
        for v, sc in scores.items()
    ) + " END"
    ld = "(CAST(l2 AS DOUBLE) / 2.0)"
    kd, bd = "CAST(k AS DOUBLE)", "CAST(b AS DOUBLE)"
    mu = f"({bd} * {kd} * ({kd} + 1.0) * ({kd} + 1.0) / 4.0)"
    kcube = f"({kd} * {kd} * {kd} - {kd})"
    sigma = f"sqrt({bd} * {kcube} * {kcube} / (144.0 * ({kd} - 1.0)))"
    z6 = f"CAST(({ld} - {mu}) / {sigma} AS DECIMAL(18,6))"
    okb = "k >= 2 AND b > 0"
    sig = (
        f""",
           COALESCE(CASE WHEN {okb} THEN
             CAST({z6} AS DOUBLE) > {float(z_crit)} END, FALSE)
             AS significant"""
        if z_crit is not None
        else ""
    )
    return f"""
    WITH rows_in AS ({select}),
    obs AS (
        SELECT {block_col} AS b, {treatment_col} AS t, {x} AS v
        FROM rows_in
        WHERE {block_col} IS NOT NULL AND {treatment_col} IS NOT NULL
          AND {value_col} IS NOT NULL
          AND {treatment_col} IN ({in_list})
    ),
    kt AS (SELECT COUNT(DISTINCT t) AS k FROM obs),
    complete AS (
        SELECT obs.* FROM obs
        JOIN (SELECT b FROM obs GROUP BY b
              HAVING COUNT(*) = (SELECT k FROM kt)) cb USING (b)
    ),
    ranked AS (
        SELECT b, t,
               2 * RANK() OVER (PARTITION BY b ORDER BY v)
                 + COUNT(*) OVER (PARTITION BY b, v) - 1 AS r2
        FROM complete
    ),
    per_t AS (
        SELECT t, COUNT(*) AS bt, SUM(CAST(r2 AS HUGEINT)) AS rs2
        FROM ranked GROUP BY t
    ),
    agg AS (
        SELECT COUNT(*) AS k,
               CAST(COALESCE(MAX(bt), 0) AS BIGINT) AS b,
               COALESCE(SUM(({wcase}) * rs2), 0) AS l2
        FROM per_t
    )
    SELECT CAST(k AS BIGINT) AS k,
           b AS n_blocks,
           CASE WHEN {okb} THEN
             CAST(CAST({ld} AS DECIMAL(18,6)) AS DOUBLE) END AS l_stat,
           CASE WHEN {okb} THEN
             CAST({z6} AS DOUBLE) END AS z
           {sig}
    FROM agg
    """


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    success_col: str,
    chi2_crit: float | None = None,
) -> DataFrame:
    """Cochran's Q — :func:`mcnemar`'s k-treatment generalization:
    do k binary treatments (did the user convert under each variant,
    did each model get the example right) succeed at the same rate
    across matched blocks? ONE output row ``(k, n_blocks, q,
    significant?)`` with

        Q = (k−1) · (k·ΣC_j² − T²) / (k·T − ΣR_i²)

    over column successes C_j, block successes R_i, T = ΣC_j — Q is
    asymptotically χ²(k−1); supply ``chi2_crit`` for the verdict,
    compared on the rounded value (the house convention).

    Exact arithmetic: every term is an exact DECIMAL(38,0) integer
    from two hash aggs over the :func:`_block_grid` plumbing (the
    same duplicate-cell guard and complete-blocks filter as Friedman
    — the designs are the same, only the outcome type differs); the
    single division is one fixed-shape IEEE expression rounded once
    to DECIMAL(18,6). Q is NULL when k < 2, B = 0, or the denominator
    is zero (every block all-success or all-failure — no information).
    ``success_col`` is truthy-cast (nonzero/true = success).

    Scale shape: one cell-grain pass, a treatment-grain agg and a
    block-grain agg (both map-combinable), 1-row finish.
    """
    s = (F.col(success_col).cast("boolean")).cast("long")
    grid = _block_grid(df, block_col, treatment_col, s, "cochran_q")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = grid.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__bt"),
        F.sum("__v").alias("__c"),
    )
    tagg = per_t.agg(
        F.count(F.lit(1)).alias("k"),
        F.coalesce(F.max("__bt"), F.lit(0)).cast("bigint").alias(
            "n_blocks"
        ),
        F.coalesce(F.sum(d(F.col("__c"))), F.lit(0))
        .cast("decimal(38,0)").alias("__tt"),
        F.coalesce(F.sum(d(F.col("__c")) * F.col("__c")), F.lit(0))
        .cast("decimal(38,0)").alias("__c2"),
    )
    ragg = (
        grid.groupBy("__b")
        .agg(F.sum("__v").alias("__r"))
        .agg(
            F.coalesce(F.sum(d(F.col("__r")) * F.col("__r")), F.lit(0))
            .cast("decimal(38,0)").alias("__r2"),
        )
    )
    from pybabe_spark.operators._util import attach_scalars

    one = attach_scalars(tagg, ragg)
    kd = F.col("k").cast("double")
    num = (kd - 1.0) * (
        kd * F.col("__c2").cast("double")
        - F.col("__tt").cast("double") * F.col("__tt").cast("double")
    )
    den = kd * F.col("__tt").cast("double") - F.col("__r2").cast("double")
    q6 = _sdiv(num, den).cast("decimal(18,6)")
    okb = (F.col("k") >= 2) & (F.col("n_blocks") > 0) & (den > 0.0)
    cols = [
        F.col("k").cast("bigint").alias("k"),
        F.col("n_blocks"),
        F.when(okb, q6.cast("double")).alias("q"),
    ]
    if chi2_crit is not None:
        cols.append(
            F.coalesce(
                F.when(okb, q6.cast("double") > float(chi2_crit)),
                F.lit(False),
            ).alias("significant")
        )
    return one.select(*cols)


def cochran_q_sql(
    select: str,
    block_col: str,
    treatment_col: str,
    success_col: str,
    chi2_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`cochran_q` — same complete-block
    plumbing, HUGEINT C/R moments, identical fixed-shape Q."""
    kd = "CAST(k AS DOUBLE)"
    num = (
        f"(({kd} - 1.0) * ({kd} * CAST(c2 AS DOUBLE)"
        " - CAST(tt AS DOUBLE) * CAST(tt AS DOUBLE)))"
    )
    den = f"({kd} * CAST(tt AS DOUBLE) - CAST(r2 AS DOUBLE))"
    okb = f"k >= 2 AND b > 0 AND {den} > 0.0"
    sig = (
        f""",
           COALESCE(CASE WHEN {okb} THEN
             CAST(CAST({num} / {den} AS DECIMAL(18,6)) AS DOUBLE)
               > {float(chi2_crit)} END, FALSE) AS significant"""
        if chi2_crit is not None
        else ""
    )
    return f"""
    WITH rows_in AS ({select}),
    obs AS (
        SELECT {block_col} AS b, {treatment_col} AS t,
               CAST(CAST({success_col} AS BOOLEAN) AS BIGINT) AS v
        FROM rows_in
        WHERE {block_col} IS NOT NULL AND {treatment_col} IS NOT NULL
          AND {success_col} IS NOT NULL
    ),
    kt AS (SELECT COUNT(DISTINCT t) AS k FROM obs),
    complete AS (
        SELECT obs.* FROM obs
        JOIN (SELECT b FROM obs GROUP BY b
              HAVING COUNT(*) = (SELECT k FROM kt)) cb USING (b)
    ),
    per_t AS (
        SELECT t, COUNT(*) AS bt, SUM(CAST(v AS HUGEINT)) AS c
        FROM complete GROUP BY t
    ),
    tagg AS (
        SELECT COUNT(*) AS k,
               CAST(COALESCE(MAX(bt), 0) AS BIGINT) AS b,
               COALESCE(SUM(c), 0) AS tt,
               COALESCE(SUM(c * c), 0) AS c2
        FROM per_t
    ),
    ragg AS (
        SELECT COALESCE(SUM(r * r), 0) AS r2 FROM (
            SELECT CAST(SUM(v) AS HUGEINT) AS r
            FROM complete GROUP BY b
        )
    )
    SELECT CAST(k AS BIGINT) AS k,
           b AS n_blocks,
           CASE WHEN {okb} THEN
             CAST(CAST({num} / {den} AS DECIMAL(18,6)) AS DOUBLE)
           END AS q
           {sig}
    FROM tagg CROSS JOIN ragg
    """


def eb_shrink_rates(
    df: DataFrame,
    group_col: str,
    success_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) shrinkage of
    per-group success rates — the canonical fix for "this seller is
    100% positive on 2 reviews" leaderboards: each group's rate is
    pulled toward the corpus prior with strength inversely
    proportional to its evidence,

        α+β = m(1−m)/v − 1,  α = m·(α+β),
        shrunk_g = (k_g + α) / (n_g + α + β),

    where m, v are the mean and sample variance of the per-group raw
    rates. One row per group: ``(group, n, successes, p_ppm,
    shrunk_rate, prior_strength)`` — ``prior_strength`` is α+β (the
    prior's pseudo-count weight); when no valid beta prior exists
    (fewer than 2 groups, zero rate variance, or over-dispersion
    v ≥ m(1−m) driving α+β ≤ 0) the prior columns are NULL and
    ``shrunk_rate`` degrades to the raw rate — shrinkage never
    invents a prior the data can't support.

    Determinism: raw rates round ONCE to DECIMAL(18,12); the corpus
    moments are exact decimal sums of those (shuffle-order-proof);
    m, v, α, β and each group's shrunk rate are one fixed-shape IEEE
    expression over exact inputs, rounded once to DECIMAL(18,6) (the
    house discipline). ``p_ppm`` stays the exact floored integral.
    NULL success values drop (unknown ≠ failure, proportion_ci's
    rule).

    Scale shape: one conditional hash agg to the group grain, one
    4-sum agg over that (tiny) table broadcast back, scalar math per
    group. Nothing larger than the group table shuffles twice.
    """
    from pybabe_spark.operators._util import attach_scalars

    ok = F.col(success_col).isNotNull() & F.col(group_col).isNotNull()
    per = (
        df.filter(ok)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(F.col(success_col).cast("int")), F.lit(0)
            ).cast("bigint").alias("successes"),
        )
        .withColumn(
            "__p",
            (F.col("successes").cast("double") / F.col("n").cast("double"))
            .cast("decimal(18,12)"),
        )
    )
    mom = per.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__p").cast("decimal(38,12)").alias("__sp"),
        F.sum(F.col("__p") * F.col("__p"))
        .cast("decimal(38,12)")
        .alias("__sq"),
    )
    one = attach_scalars(per, mom)
    kd = F.col("__k").cast("double")
    m = F.col("__sp").cast("double") / kd
    # sample variance of the group rates (k-1 denominator)
    v = (
        F.col("__sq").cast("double") - kd * m * m
    ) / (kd - 1.0)
    strength = m * (1.0 - m) / v - 1.0
    alpha = m * strength
    beta = (1.0 - m) * strength
    valid = (F.col("__k") >= 2) & (v > 0.0) & (strength > 0.0)
    shrunk = (F.col("successes").cast("double") + alpha) / (
        F.col("n").cast("double") + alpha + beta
    )
    out6 = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    return one.select(
        F.col("__g").alias(group_col),
        "n",
        "successes",
        F.expr("CAST(successes * 1000000 div n AS BIGINT)").alias("p_ppm"),
        F.when(valid, out6(shrunk))
        .otherwise(out6(F.col("__p").cast("double")))
        .alias("shrunk_rate"),
        F.when(valid, out6(strength)).alias("prior_strength"),
    )


def eb_shrink_rates_sql(
    select: str,
    group_col: str,
    success_col: str,
) -> str:
    """DuckDB oracle of :func:`eb_shrink_rates` — identical 12dp rate
    rounding, exact decimal moments, fixed-shape prior and shrinkage,
    6dp finishes."""
    return f"""
    WITH rows_in AS ({select}),
    per AS (
        SELECT {group_col} AS g, COUNT(*) AS n,
               COALESCE(SUM(CAST({success_col} AS INT)), 0) AS successes
        FROM rows_in
        WHERE {success_col} IS NOT NULL AND {group_col} IS NOT NULL
        GROUP BY {group_col}
    ),
    pr AS (
        SELECT *, CAST(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                       AS DECIMAL(18,12)) AS p
        FROM per
    ),
    mom AS (
        SELECT COUNT(*) AS k,
               SUM(p) AS sp,
               SUM(p * p) AS sq
        FROM pr
    ),
    calc AS (
        SELECT pr.*, mom.k,
               CAST(mom.sp AS DOUBLE) / CAST(mom.k AS DOUBLE) AS m,
               (CAST(mom.sq AS DOUBLE)
                - CAST(mom.k AS DOUBLE)
                  * (CAST(mom.sp AS DOUBLE) / CAST(mom.k AS DOUBLE))
                  * (CAST(mom.sp AS DOUBLE) / CAST(mom.k AS DOUBLE)))
               / (CAST(mom.k AS DOUBLE) - 1.0) AS v
        FROM pr CROSS JOIN mom
    ),
    strg AS (
        SELECT *, m * (1.0 - m) / v - 1.0 AS s FROM calc
    )
    SELECT g AS {group_col}, CAST(n AS BIGINT) AS n,
           CAST(successes AS BIGINT) AS successes,
           CAST(successes * 1000000 // n AS BIGINT) AS p_ppm,
           CAST(CAST(
             CASE WHEN k >= 2 AND v > 0.0 AND s > 0.0 THEN
               (CAST(successes AS DOUBLE) + m * s)
               / (CAST(n AS DOUBLE) + m * s + (1.0 - m) * s)
             ELSE CAST(p AS DOUBLE) END
           AS DECIMAL(18,6)) AS DOUBLE) AS shrunk_rate,
           CASE WHEN k >= 2 AND v > 0.0 AND s > 0.0 THEN
             CAST(CAST(s AS DECIMAL(18,6)) AS DOUBLE) END AS prior_strength
    FROM strg
    """


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """Cronbach's alpha — internal-consistency reliability of a
    k-item battery over subjects: ``α = k/(k−1) · (1 − Σᵢvarᵢ /
    var_total)`` where item i's score for a subject is the subject's
    exact cents sum on that item (absent (subject, item) pairs score
    0 — the sparse-battery convention, and the zero contributes
    nothing to the sums so the sparse grain computes it for free).
    ONE output row ``(n_subjects, k_items, alpha_ppm, alpha)``.

    Exactness: with N subjects and population variances, α reduces to
    the pure integer identity

        α = k·(A − B) / ((k−1)·A),  A = N·Q_T − S_T²,
                                    B = N·ΣQᵢ − ΣSᵢ²

    (S/Q per-item and total score sums/sum-of-squares in
    DECIMAL(38,0)), emitted as exact sign-split integral ppm — the
    `ols` discipline, shared magnitude contract (Σ within 38 digits
    through ~10⁷ subjects of 10⁶.00-scale totals). α is NULL when
    k < 2 or A = 0 (no total-score variance).

    Scale shape: one map-combinable (subject, item) hash agg collapses
    the corpus; from that grain, one subject-grain agg → 1-row total
    moments and one item-grain agg → 1-row item moments (k rows
    interim), combined by maxRows-proven scalar attach. No window, no
    join bigger than 1×1.
    """
    ok = (
        F.col(subject_col).isNotNull()
        & F.col(item_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    from pybabe_spark.operators._util import attach_scalars, lazy_persist

    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # the grain feeds the subject-moment and item-moment branches
    grain = lazy_persist(
        df.filter(ok)
        .groupBy(
            F.col(subject_col).alias("__s"), F.col(item_col).alias("__i")
        )
        .agg(F.sum(x).alias("__x"))
    )
    subj = (
        grain.groupBy("__s")
        .agg(F.sum(d(F.col("__x"))).alias("__t"))
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__N"),
            F.sum(F.col("__t")).cast("decimal(38,0)").alias("__st"),
            F.sum(F.col("__t") * F.col("__t"))
            .cast("decimal(38,0)")
            .alias("__qt"),
        )
    )
    item = (
        grain.groupBy("__i")
        .agg(
            F.sum(d(F.col("__x"))).alias("__si"),
            F.sum(d(F.col("__x")) * F.col("__x")).alias("__qi"),
        )
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__k"),
            F.sum(F.col("__si") * F.col("__si"))
            .cast("decimal(38,0)")
            .alias("__ssi"),
            F.sum(F.col("__qi")).cast("decimal(38,0)").alias("__sqi"),
        )
    )
    one = attach_scalars(subj, item)
    a_ = d(F.col("__N") * F.col("__qt") - F.col("__st") * F.col("__st"))
    b_ = d(F.col("__N") * F.col("__sqi") - F.col("__ssi"))
    one = one.withColumn("__A", a_).withColumn(
        "__num", d(F.col("__k") * (F.col("__A") - b_))
    ).withColumn("__den", d((F.col("__k") - 1) * F.col("__A")))
    mag = F.expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * abs(__num)) div abs(__den)"
    )
    sign = F.when(
        (F.col("__num") < 0) != (F.col("__den") < 0), F.lit(-1)
    ).otherwise(F.lit(1))
    ppm = F.when(
        (F.col("__k") >= 2) & (F.col("__A") != 0), (sign * mag)
    ).cast("bigint")
    return one.select(
        F.col("__N").cast("bigint").alias("n_subjects"),
        F.col("__k").cast("bigint").alias("k_items"),
        ppm.alias("alpha_ppm"),
        (ppm.cast("double") / 1e6).alias("alpha"),
    )


def cronbach_alpha_sql(
    select: str, subject_col: str, item_col: str, value_col: str
) -> str:
    """DuckDB oracle of :func:`cronbach_alpha` — same (subject, item)
    cents grain, same HUGEINT integer identity, same sign-split ppm."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH rows_in AS ({select}),
    grain AS (
        SELECT {subject_col} AS s, {item_col} AS i, SUM({x}) AS x
        FROM rows_in
        WHERE {subject_col} IS NOT NULL AND {item_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY s, i
    ),
    subj AS (
        SELECT COUNT(*)::HUGEINT AS N,
               SUM(t)::HUGEINT AS st, SUM(t * t)::HUGEINT AS qt
        FROM (SELECT s, SUM(CAST(x AS HUGEINT)) AS t
              FROM grain GROUP BY s)
    ),
    item AS (
        SELECT COUNT(*)::HUGEINT AS k,
               SUM(si * si)::HUGEINT AS ssi, SUM(qi)::HUGEINT AS sqi
        FROM (SELECT i, SUM(CAST(x AS HUGEINT)) AS si,
                     SUM(CAST(x AS HUGEINT) * x) AS qi
              FROM grain GROUP BY i)
    ),
    one AS (
        SELECT N, k, (N * qt - st * st) AS A,
               k * ((N * qt - st * st) - (N * sqi - ssi)) AS num,
               (k - 1) * (N * qt - st * st) AS den
        FROM subj, item
    )
    SELECT CAST(N AS BIGINT) AS n_subjects,
           CAST(k AS BIGINT) AS k_items,
           CASE WHEN k >= 2 AND A <> 0 THEN
             CAST((CASE WHEN (num < 0) <> (den < 0) THEN -1 ELSE 1 END)
                  * ((1000000::HUGEINT * abs(num)) // abs(den))
                  AS BIGINT) END AS alpha_ppm,
           CAST(CASE WHEN k >= 2 AND A <> 0 THEN
             CAST((CASE WHEN (num < 0) <> (den < 0) THEN -1 ELSE 1 END)
                  * ((1000000::HUGEINT * abs(num)) // abs(den))
                  AS BIGINT) END AS DOUBLE) / 1e6 AS alpha
    FROM one
    """


def overdispersion(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    z_crit: float | None = None,
) -> DataFrame:
    """Index-of-dispersion test per group: are per-entity event counts
    Poisson-like (D ≈ 1) or bursty/clumped (D > 1)? ``D = s²/x̄`` over
    the observed (group, entity) counts, with the normal score
    ``z = (D − 1)·√((n−1)/2)`` — the decision between a Poisson
    arrival model and a negative-binomial one, which changes every
    downstream anomaly threshold. Output per group:
    ``(group, n_entities, total_events, dispersion_ppm, dispersion,
    z[, overdispersed])``.

    Exactness: counts are integers, so with the sample variance
    ``D = (n·Q − S²) / ((n−1)·S)`` is a pure integer ratio —
    emitted as exact integral ppm (sign-split; D ≥ 0 here but the
    shared convention keeps the form). z is ONE fixed-shape IEEE
    expression rounded once to DECIMAL(18,6); NULL when n < 2 or
    S = 0. Entities with zero events are not observed and thus not in
    the frame — the OBSERVED-entities contract, stated and mirrored by
    the oracle.

    Scale shape: one map-combinable (group, entity) count agg, one
    group-grain moment agg, fixed-shape finish. Two shuffles total.
    """
    ok = F.col(group_col).isNotNull() & F.col(entity_col).isNotNull()
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cnt = (
        df.filter(ok)
        .groupBy(
            F.col(group_col).alias("__g"), F.col(entity_col).alias("__e")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    agg = cnt.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(d(F.col("__c"))).cast("decimal(38,0)").alias("__s"),
        F.sum(d(F.col("__c")) * F.col("__c"))
        .cast("decimal(38,0)")
        .alias("__q"),
    )
    num = d(F.col("n") * F.col("__q") - F.col("__s") * F.col("__s"))
    den = d((F.col("n") - 1) * F.col("__s"))
    agg = agg.withColumn("__num", num).withColumn("__den", den)
    mag = F.expr(
        "(CAST(1000000 AS DECIMAL(38,0)) * abs(__num)) div abs(__den)"
    )
    sign = F.when(
        (F.col("__num") < 0) != (F.col("__den") < 0), F.lit(-1)
    ).otherwise(F.lit(1))
    ppm = F.when(
        (F.col("n") >= 2) & (F.col("__den") != 0), sign * mag
    ).cast("bigint")
    disp = ppm.cast("double") / 1e6
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    z = F.when(
        ppm.isNotNull(),
        out(
            (disp - 1.0)
            * F.sqrt((F.col("n") - 1).cast("double") / 2.0)
        ),
    )
    cols = [
        F.col("__g").alias(group_col),
        F.col("n").alias("n_entities"),
        F.col("__s").cast("bigint").alias("total_events"),
        ppm.alias("dispersion_ppm"),
        disp.alias("dispersion"),
        z.alias("z"),
    ]
    if z_crit is not None:
        cols.append(
            F.when(z.isNotNull(), z > float(z_crit))
            .otherwise(F.lit(False))
            .alias("overdispersed")
        )
    return agg.select(*cols)


def overdispersion_sql(
    select: str,
    group_col: str,
    entity_col: str,
    z_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`overdispersion` — same observed count
    grain, same exact ppm ratio, same once-rounded z."""
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    ppm = (
        "CASE WHEN n >= 2 AND den <> 0 THEN"
        " CAST((CASE WHEN (num < 0) <> (den < 0) THEN -1 ELSE 1 END)"
        " * ((1000000::HUGEINT * abs(num)) // abs(den)) AS BIGINT) END"
    )
    z = (
        f"CASE WHEN ({ppm}) IS NOT NULL THEN "
        + r6(
            f"(CAST(({ppm}) AS DOUBLE) / 1e6 - 1.0)"
            " * sqrt(CAST(n - 1 AS DOUBLE) / 2.0)"
        )
        + " END"
    )
    sig = ""
    if z_crit is not None:
        sig = (
            f", COALESCE(({z}) > {float(z_crit)}, FALSE)"
            " AS overdispersed"
        )
    return f"""
    WITH rows_in AS ({select}),
    cnt AS (
        SELECT {group_col} AS g, {entity_col} AS e, COUNT(*) AS c
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {entity_col} IS NOT NULL
        GROUP BY g, e
    ),
    agg AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(c AS HUGEINT)) AS s,
               SUM(CAST(c AS HUGEINT) * c) AS q,
               CAST(COUNT(*) AS HUGEINT) * SUM(CAST(c AS HUGEINT) * c)
                 - SUM(CAST(c AS HUGEINT)) * SUM(CAST(c AS HUGEINT))
                 AS num,
               (CAST(COUNT(*) AS HUGEINT) - 1)
                 * SUM(CAST(c AS HUGEINT)) AS den
        FROM cnt GROUP BY g
    )
    SELECT g AS {group_col}, n AS n_entities,
           CAST(s AS BIGINT) AS total_events,
           {ppm} AS dispersion_ppm,
           CAST(({ppm}) AS DOUBLE) / 1e6 AS dispersion,
           {z} AS z{sig}
    FROM agg
    """


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 distance (earth-mover): the
    INTEGRAL of the ECDF gap the KS test only takes the sup of —
    ``W₁ = ∫|F_A(v) − F_B(v)| dv`` — so it prices HOW MUCH probability
    mass moved, in value units, not just whether the shapes differ
    (the drift magnitude a retrain trigger actually wants). ONE output
    row ``(n_a, n_b, w1_ppm, w1)`` with

        num    = Σ_gaps |cumA(v)·n_b − cumB(v)·n_a| · Δv   (exact int)
        w1_ppm = num·10⁴ div (n_a·n_b)     (exact integral ppm of the
                                            value-unit distance)
        w1     = w1_ppm / 10⁶

    summed over consecutive distinct cents values — no IEEE anywhere
    (w1 is bounded by the VALUE RANGE, not the corpus, so the ppm
    integer always fits bigint). NULL when either arm is empty; 0
    when the samples coincide.

    Scale shape (r13 optimization-round rewrite; the ks_test machinery
    plus one lag): one (value → per-arm counts) hash agg collapses
    duplicates; ONE bounded 1-row collect takes (min, max, n_a, n_b);
    the ≤1024-row cell-total table collects (bounded by construction)
    and the prefix offsets + every BOUNDARY gap term (last value of
    one occupied cell → first of the next — the offsets ARE the
    boundary cumulatives) are exact Python integers driver-side; the
    within-cell gap terms keep the cell-partitioned cumulative/lag
    windows in-plan over the grain, joined to the broadcast local
    offset table, and reduce in one agg collect. The previous shape
    ran the offsets as a limit-proved prefix self-join and attached
    five 1-row aggregates in-plan (~86 Exchange nodes / 31 local jobs
    per action); this is 3 jobs — and fewer exchanges at any scale.
    No global window, no unbounded join, no unbounded collect.
    """
    buckets = 1024
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    is_a = (F.col(group_col) == group_a) & F.col(value_col).isNotNull()
    is_b = (F.col(group_col) == group_b) & F.col(value_col).isNotNull()
    base = (
        df.filter(is_a | is_b)
        .select(
            x.alias("__v"),
            is_a.cast("long").alias("__ca"),
            is_b.cast("long").alias("__cb"),
        )
        .groupBy("__v")
        .agg(F.sum("__ca").alias("__ca"), F.sum("__cb").alias("__cb"))
    )
    from pybabe_spark.operators._util import lazy_persist, local_rows_df

    # the distinct-value grain feeds the head collect, cell totals and
    # the within-cell walk
    base = lazy_persist(base)
    spark = df.sparkSession
    out_schema = "n_a bigint, n_b bigint, w1_ppm bigint, w1 double"
    head = base.agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.coalesce(F.sum("__ca"), F.lit(0)).cast("bigint").alias("__na"),
        F.coalesce(F.sum("__cb"), F.lit(0)).cast("bigint").alias("__nb"),
    ).collect()[0]
    na, nb = int(head["__na"]), int(head["__nb"])
    if head["__lo"] is None:  # empty input: the old 1-row NULL shape
        return local_rows_df(spark, [(0, 0, None, None)], out_schema)
    lo, hi = int(head["__lo"]), int(head["__hi"])
    j = base.withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - {lo}) * {buckets}"
            f" div (CAST({hi} AS DECIMAL(38,0)) - {lo} + 1) AS BIGINT)"
        ),
    )
    btot = (
        j.groupBy("__b")
        .agg(
            F.sum("__ca").alias("__bca"),
            F.sum("__cb").alias("__bcb"),
            F.min("__v").alias("__minv"),
            F.max("__v").alias("__maxv"),
        )
        .limit(buckets)  # __b < buckets by construction — the
        # collect's boundedness proof, it cannot truncate
        .collect()
    )
    cells = sorted(
        (int(r["__b"]), int(r["__bca"]), int(r["__bcb"]),
         int(r["__minv"]), int(r["__maxv"]))
        for r in btot
    )
    # prefix offsets + boundary gap terms: exact Python integers over
    # the ≤1024 occupied cells
    offs_rows = []
    bnum = 0
    offa = offb = 0
    prevmax = None
    for b_, bca, bcb, minv, maxv in cells:
        offs_rows.append((b_, offa, offb))
        if prevmax is not None:
            bnum += abs(offa * nb - offb * na) * (minv - prevmax)
        offa += bca
        offb += bcb
        prevmax = maxv
    offs = F.broadcast(
        local_rows_df(
            spark, offs_rows, "__b bigint, __offa bigint, __offb bigint"
        )
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    w = Window.partitionBy("__b").orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    lw = Window.partitionBy("__b").orderBy(F.col("__v").asc())
    rows = j.join(offs, ["__b"]).select(
        "__v",
        (F.col("__offa") + F.sum("__ca").over(w) - F.col("__ca"))
        .alias("__cpa"),  # cumulative A at the PREVIOUS value
        (F.col("__offb") + F.sum("__cb").over(w) - F.col("__cb"))
        .alias("__cpb"),
        F.lag("__v").over(lw).alias("__pv"),
    )
    within_term = F.sum(
        F.abs(
            d(F.col("__cpa")) * F.lit(nb) - d(F.col("__cpb")) * F.lit(na)
        )
        * (F.col("__v") - F.col("__pv"))
    ).cast("decimal(38,0)")
    wrow = (
        rows.filter(F.col("__pv").isNotNull())
        .agg(
            F.coalesce(within_term, F.lit(0))
            .cast("decimal(38,0)")
            .alias("__w")
        )
        .collect()[0]
    )
    num = int(wrow["__w"]) + bnum
    ppm = (10000 * num) // (na * nb) if na > 0 and nb > 0 else None
    w1 = float(ppm) / 1e6 if ppm is not None else None
    return local_rows_df(spark, [(na, nb, ppm, w1)], out_schema)


def wasserstein_1d_sql(
    select: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> str:
    """DuckDB oracle of :func:`wasserstein_1d` — the naive exact form:
    one global walk over distinct cents values, |cumA·n_b − cumB·n_a|
    times the gap to the NEXT value, HUGEINT throughout, one final
    once-rounded division."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {x} AS v,
               SUM(CASE WHEN {group_col} = '{group_a}' THEN 1
                        ELSE 0 END) AS ca,
               SUM(CASE WHEN {group_col} = '{group_b}' THEN 1
                        ELSE 0 END) AS cb
        FROM rows_in
        WHERE {value_col} IS NOT NULL
          AND {group_col} IN ('{group_a}', '{group_b}')
        GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v) AS cuma,
               SUM(cb) OVER (ORDER BY v) AS cumb,
               LEAD(v) OVER (ORDER BY v) AS nv
        FROM base
    ),
    tot AS (
        SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS na,
               CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS nb
        FROM base
    ),
    s AS (
        SELECT COALESCE(SUM(
                 abs(CAST(cuma AS HUGEINT) * nb
                     - CAST(cumb AS HUGEINT) * na)
                 * (nv - v)), 0) AS num
        FROM cum, tot WHERE nv IS NOT NULL
    )
    SELECT na AS n_a, nb AS n_b,
           CASE WHEN na > 0 AND nb > 0 THEN
             CAST((10000::HUGEINT * num)
                  // (na::HUGEINT * nb) AS BIGINT) END AS w1_ppm,
           CAST(CASE WHEN na > 0 AND nb > 0 THEN
             CAST((10000::HUGEINT * num)
                  // (na::HUGEINT * nb) AS BIGINT) END AS DOUBLE)
             / 1e6 AS w1
    FROM tot, s
    """


def _conformal_collected_finish(base, keys, by, by_typ, cov_ppm, buckets):
    """Bounded-collect execution of :func:`conformal_threshold` — the
    weighted_quantiles bounded-collect discipline applied to the count-
    weighted rank dig: three bounded driver actions, exact literal
    re-entry, identical integer arithmetic."""
    from pybabe_spark.operators._util import attach_scalars, local_rows_df

    spark = base.sparkSession
    zero = F.lit(0).cast("decimal(38,0)")
    esc = (by or "").replace("`", "``")
    out_schema = (
        (f"`{esc}` {by_typ}, " if by else "")
        + "n bigint, k bigint, threshold double"
    )
    rng = base.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    ).collect()[0]
    lo, hi = rng["__lo"], rng["__hi"]
    if lo is None:
        if by:
            return local_rows_df(spark, [], out_schema)
        # unkeyed empty input: targets still aggregates the empty offs
        # table to one all-NULL row in the in-plan shape — reproduce it
        return local_rows_df(spark, [(None, None, None)], out_schema)
    j = base.withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - CAST({lo} AS BIGINT))"
            f" * {buckets} div (CAST({hi} AS BIGINT)"
            f" - CAST({lo} AS BIGINT) + 1) AS BIGINT)"
        ),
    )
    btot = j.groupBy(*keys, "__b").agg(
        F.sum("__c").cast("decimal(38,0)").alias("__bt")
    )
    if keys:
        wb = Window.partitionBy(*keys).orderBy(F.col("__b").asc())
        offs = btot.select(
            *keys,
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                zero,
            ).alias("__off"),
            "__bt",
            F.sum("__bt")
            .over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("__tot"),
        )
    else:
        bounded = btot.limit(buckets)  # __b < buckets by construction
        a, b = bounded.alias("a"), bounded.alias("b")
        offs = attach_scalars(
            a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
            .groupBy(
                F.col("a.__b").alias("__b"), F.col("a.__bt").alias("__bt")
            )
            .agg(F.coalesce(F.sum("b.__bt"), zero).alias("__off"))
            .select("__b", "__off", "__bt"),
            bounded.agg(F.sum("__bt").alias("__tot")),
        )
    k_expr = F.expr(
        f"CAST(((__tot + 1) * {cov_ppm} + 999999) div 1000000"
        " AS DECIMAL(38,0))"
    )
    targets = (
        offs.withColumn("__k", k_expr)
        .groupBy(*keys)
        .agg(
            F.max("__tot").cast("decimal(38,0)").alias("__tot"),
            F.max("__k").alias("__k"),
            F.min(
                F.when(
                    F.col("__off") + F.col("__bt") >= F.col("__k"),
                    F.col("__b"),
                )
            ).alias("__tb"),
            F.min(
                F.when(
                    F.col("__off") + F.col("__bt") >= F.col("__k"),
                    F.col("__off"),
                )
            ).alias("__toff"),
        )
        .collect()
    )  # one row per group — the output grain
    t_rows = [
        ((r[by],) if by else ())
        + (r["__tot"], r["__k"], r["__tb"], r["__toff"])
        for r in targets
        if r["__tb"] is not None  # k > n: nothing to dig; the group
        # still reports (n, k, NULL) from the targets row below
    ]
    tr = local_rows_df(
        spark,
        t_rows,
        (("__gk " + by_typ + ", ") if by else "")
        + "__tot decimal(38,0), __k decimal(38,0), __tb bigint,"
        " __toff decimal(38,0)",
    )
    cond = F.col("__b") == F.col("__tb")
    if by:
        cond = F.col(by).eqNullSafe(F.col("__gk")) & cond
    cand = j.join(F.broadcast(tr), cond)
    w = Window.partitionBy(*keys).orderBy(F.col("__v").asc())
    cum = cand.withColumn(
        "__cum",
        F.col("__toff")
        + F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    picked = cum.groupBy(*keys, "__k").agg(
        F.min(
            F.when(F.col("__cum") >= F.col("__k"), F.col("__v"))
        ).alias("__q")
    ).collect()  # ≤ one row per group
    qs = {
        (r[by] if by else None): r["__q"] for r in picked
    }
    rows = []
    for r in targets:
        g = r[by] if by else None
        tot, k = r["__tot"], r["__k"]
        q = qs.get(g)
        rows.append(
            ((g,) if by else ())
            + (
                None if tot is None else int(tot),
                None if k is None else int(k),
                # same IEEE steps the in-plan finish ran: the bigint
                # cents round to DOUBLE first, THEN divide (q/100 on
                # Python ints is correctly-rounded rational division —
                # 1 ulp off the double-then-divide path for |q| > 2^53)
                (float(q) / 100.0)
                if (k is not None and tot is not None
                    and k <= tot and q is not None)
                else None,
            )
        )
    return local_rows_df(spark, rows, out_schema)


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    alpha: float,
    by: str | None = None,
    buckets: int = 1024,
) -> DataFrame:
    """Split-conformal prediction threshold — the finite-sample-valid
    cutoff for nonconformity scores: the ``k``-th smallest calibration
    score with ``k = ⌈(n+1)(1−α)⌉``, which guarantees ≥ 1−α coverage
    on exchangeable future points (the (n+1) correction is exactly
    what separates this from a plain quantile). One row per group:
    ``(group?, n, k, threshold)``; ``threshold`` is NULL when
    ``k > n`` (too little calibration data for this α — the honest
    "infinite threshold" case).

    Exact arithmetic: scores lift to bigint cents; ``k`` is the pure
    integer ``⌈(n+1)·cov_ppm / 10⁶⌉`` (cov_ppm = 10⁶ − α·10⁶, a
    shared literal), and the pick is the smallest value whose
    cumulative COUNT reaches k — an integer order statistic,
    bit-identical across engines by construction.

    Scale shape (the weighted_quantiles target-cell machinery with
    count weights and an absolute-rank finish): one (group, value)
    hash agg; 1024 equal-width global-range cells; per-group offsets
    and totals on the bounded cell-totals table; the target cell
    resolved on that tiny table; the final cumulative walks ONLY the
    target cell's ≤1/buckets slice. No per-group funnel.

    EAGER (r13): construction runs three bounded driver actions
    (range → per-group targets → per-group picks) and returns a
    VALUES-literal result — calling this triggers cluster jobs and
    surfaces data errors immediately, not at the caller's first
    action.
    """
    a_ppm = int(round(float(alpha) * 1_000_000))
    if a_ppm <= 0 or a_ppm >= 1_000_000:
        raise ValueError("conformal_threshold: alpha must be in (0, 1)")
    if buckets < 1:
        raise ValueError("conformal_threshold: buckets must be >= 1")
    cov_ppm = 1_000_000 - a_ppm
    from pybabe_spark.operators._util import attach_scalars, lazy_persist

    keys = [by] if by else []
    cv = (F.col(score_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = lazy_persist(
        df.filter(F.col(score_col).isNotNull())
        .select(*keys, cv.alias("__v"))
        .groupBy(*keys, "__v")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__c"))
    )
    # r13 bounded-collect finish — the weighted_quantiles surgery
    # (_conformal_collected_finish): range, per-group targets and
    # per-group picks are all output-bounded, so they collect and
    # re-enter as exact literals (14 in-plan jobs → 3 actions).
    by_typ = df.schema[by].dataType.simpleString() if by else None
    literal_ok = by is None or by_typ in (
        "string", "int", "bigint", "smallint", "tinyint", "boolean"
    ) or (by_typ or "").startswith("decimal")
    if literal_ok:
        return _conformal_collected_finish(
            base, keys, by, by_typ, cov_ppm, buckets
        )
    rng = base.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    j = attach_scalars(base, rng).withColumn(
        "__b",
        F.expr(
            f"CAST((CAST(__v AS DECIMAL(38,0)) - __lo) * {buckets}"
            " div (CAST(__hi AS DECIMAL(38,0)) - __lo + 1) AS BIGINT)"
        ),
    ).drop("__lo", "__hi")
    btot = j.groupBy(*keys, "__b").agg(
        F.sum("__c").cast("decimal(38,0)").alias("__bt")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    if keys:
        wb = Window.partitionBy(*keys).orderBy(F.col("__b").asc())
        offs = btot.select(
            *keys,
            "__b",
            F.coalesce(
                F.sum("__bt").over(
                    wb.rowsBetween(Window.unboundedPreceding, -1)
                ),
                zero,
            ).alias("__off"),
            "__bt",
            F.sum("__bt")
            .over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("__tot"),
        )
    else:
        bounded = btot.limit(buckets)  # __b < buckets by construction
        a, b = bounded.alias("a"), bounded.alias("b")
        offs = attach_scalars(
            a.join(b, F.col("b.__b") < F.col("a.__b"), "left")
            .groupBy(
                F.col("a.__b").alias("__b"), F.col("a.__bt").alias("__bt")
            )
            .agg(F.coalesce(F.sum("b.__bt"), zero).alias("__off"))
            .select("__b", "__off", "__bt"),
            bounded.agg(F.sum("__bt").alias("__tot")),
        )
    # k = ceil((n+1)·cov_ppm/1e6), resolved on the tiny cell table
    k_expr = F.expr(
        f"CAST(((__tot + 1) * {cov_ppm} + 999999) div 1000000"
        " AS DECIMAL(38,0))"
    )
    targets = (
        offs.withColumn("__k", k_expr)
        .groupBy(*keys)
        .agg(
            F.max("__tot").cast("decimal(38,0)").alias("__tot"),
            F.max("__k").alias("__k"),
            F.min(
                F.when(
                    F.col("__off") + F.col("__bt") >= F.col("__k"),
                    F.col("__b"),
                )
            ).alias("__tb"),
            F.min(
                F.when(
                    F.col("__off") + F.col("__bt") >= F.col("__k"),
                    F.col("__off"),
                )
            ).alias("__toff"),
        )
    )
    tsel = [*keys, "__tot", "__k", "__tb", "__toff"]
    tr = targets.select(
        *[F.col(k).alias("__gk") for k in keys], *tsel[len(keys):]
    ) if keys else targets.select(*tsel)
    cond = F.col("__b") == F.col("__tb")
    if keys:
        cond = F.col(by).eqNullSafe(F.col("__gk")) & cond
    cand = j.join(F.broadcast(tr), cond)
    w = Window.partitionBy(*keys).orderBy(F.col("__v").asc())
    cum = cand.withColumn(
        "__cum",
        F.col("__toff")
        + F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    picked = cum.groupBy(*keys, "__k").agg(
        F.min(
            F.when(F.col("__cum") >= F.col("__k"), F.col("__v"))
        ).alias("__q")
    )
    # k > n ⟹ NO cell reaches the rank, the dig matches nothing and
    # picked has no row for the group — the group must still report
    # (n, k, NULL): left-join picked back onto the always-present
    # target table (one row per group, the operator's own output grain)
    if keys:
        pk = picked.select(
            *[F.col(k).alias(f"__pk_{k}") for k in keys], "__q"
        )
        jc = F.lit(True)
        for k in keys:
            jc = jc & F.col(k).eqNullSafe(F.col(f"__pk_{k}"))
        full = targets.join(F.broadcast(pk), jc, "left")
    else:
        full = targets.join(
            F.broadcast(picked.select("__q")), F.lit(True), "left"
        )
    return full.select(
        *keys,
        F.col("__tot").cast("bigint").alias("n"),
        F.col("__k").cast("bigint").alias("k"),
        F.when(
            F.col("__k") <= F.col("__tot"),
            F.col("__q").cast("double") / 100,
        ).alias("threshold"),
    )


def conformal_threshold_sql(
    select: str,
    score_col: str,
    alpha: float,
    by: str | None = None,
) -> str:
    """DuckDB oracle of :func:`conformal_threshold` — the naive exact
    form: per-group ordered walk, same integer k, same cents pick."""
    a_ppm = int(round(float(alpha) * 1_000_000))
    cov_ppm = 1_000_000 - a_ppm
    g = f"{by} AS g," if by else "'' AS g,"
    gsel = f"g AS {by}," if by else ""
    return f"""
    WITH rows_in AS ({select}),
    pts AS (
        SELECT {g}
               CAST(CAST({score_col} AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS v
        FROM rows_in WHERE {score_col} IS NOT NULL
    ),
    cum AS (
        SELECT g, v,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM pts
    ),
    k AS (
        SELECT g, n,
               ((n + 1) * {cov_ppm} + 999999) // 1000000 AS k
        FROM cum GROUP BY g, n
    )
    SELECT {gsel} CAST(k.n AS BIGINT) AS n, CAST(k.k AS BIGINT) AS k,
           CASE WHEN k.k <= k.n THEN
             (SELECT CAST(MIN(c2.v) AS DOUBLE) / 100 FROM cum c2
              WHERE c2.g = k.g AND c2.rn = k.k) END AS threshold
    FROM k
    """


def gesd_outliers(
    df: DataFrame,
    value_col: str,
    max_outliers: int = 3,
    lambdas: "list[float] | None" = None,
) -> DataFrame:
    """Generalized ESD (iterative Grubbs) — the multi-outlier
    extension :func:`grubbs_test` stops short of: up to
    ``max_outliers`` rounds of "remove the most extreme point, re-test
    the rest", emitting ``(round, suspect_value, n_remaining, r_stat
    [, lambda, is_outlier])`` per round with

        R_i = max|x − x̄_i| / s_i      (over the set after i−1 removals)

    When ``lambdas`` (the Rosner critical values λ_i for your (n, α),
    computed offline — the g_crit convention) is supplied, the GESD
    decision applies: the outlier count is the LARGEST i with
    R_i > λ_i, so ``is_outlier`` marks rounds 1..i* (a later
    significant round certifies every earlier removal — masking is
    exactly what this handles and single-Grubbs misses).

    Determinism: exact integer arithmetic end to end. Each round's
    moments are exact integers in cents (adjusted by the removed
    value's exact contribution), the suspect maximizes ``(score, v)``
    with the deviation score the exact integer ``|v·n − S|`` (score
    ties → larger value, grubbs' fixed tiebreak), and R_i is one
    fixed-shape IEEE expression rounded once HALF_UP to 6 dp — the
    identical operation sequence the DuckDB oracle runs, so the
    doubles are bit-equal. A round emits only while n_remaining ≥ 3
    with positive variance (the classical applicability bound); later
    rounds vanish with it.

    Scale shape (r13 optimization-round rewrite): ``|v·n − S| =
    n·|v − mean|`` is strictly monotone in the distance from the mean,
    so every round's suspect — and its larger-value tiebreak partner —
    is the min or max of the REMAINING values, and k removals consume
    at most the k largest / k smallest distinct values. One corpus
    hash agg to the (value, count) grain, ONE 1-row moment collect
    (n, S, Q as exact decimals), ONE ≤2k-row collect of the extreme
    grain rows (TakeOrdered both ends), then all k remove-and-retest
    rounds run driver-side on ≤2k+1 integers. The previous shape
    unrolled k plan layers over the grain (~190 Exchange nodes /
    ~76 local jobs at k=3); this is 3 jobs and is strictly better at
    100 TB too — the grain is scanned twice, never k × (grain + 2
    scalar-attach broadcasts per layer).
    """
    if max_outliers < 1 or max_outliers > 10:
        raise ValueError("gesd_outliers: max_outliers must be 1..10")
    if lambdas is not None and len(lambdas) != max_outliers:
        raise ValueError(
            "gesd_outliers: lambdas must have max_outliers entries"
        )
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pybabe_spark.operators._util import lazy_persist, local_rows_df

    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    x = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    grain = lazy_persist(
        df.filter(F.col(value_col).isNotNull())
        .groupBy(x.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    k = max_outliers
    tot = grain.agg(
        F.sum("__c").cast("decimal(38,0)").alias("__n"),
        F.coalesce(F.sum(d(F.col("__c")) * F.col("__v")), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__s"),
        F.coalesce(
            F.sum(d(F.col("__c")) * F.col("__v") * F.col("__v")),
            F.lit(0),
        )
        .cast("decimal(38,0)")
        .alias("__q"),
    ).collect()[0]
    # extremes: both TakeOrdered subtrees collect in ONE action; the
    # union is ≤2k rows by construction (the boundedness proof)
    ext = (
        grain.orderBy(F.col("__v").desc())
        .limit(k)
        .unionByName(grain.orderBy(F.col("__v").asc()).limit(k))
        .collect()
    )
    cand = {int(r["__v"]): int(r["__c"]) for r in ext}
    rows: list[tuple] = []
    if tot["__n"] is not None:
        n, s, q = int(tot["__n"]), int(tot["__s"]), int(tot["__q"])
        for i in range(1, k + 1):
            if not cand:
                break
            # suspect: max (score, v) — attained at an extreme value
            sc, mv = max((abs(v * n - s), v) for v in cand)
            var_num = n * q - s * s
            if n < 3 or var_num <= 0:
                break  # monotone: removals never restore n or variance
            nd = float(n)
            r = float(sc) / (nd * math.sqrt(float(var_num) / (nd * (nd - 1.0))))
            r6 = float(
                Decimal(r).quantize(Decimal("0.000001"), ROUND_HALF_UP)
            )
            rows.append((i, float(mv) / 100.0, n, r6))
            # remove ONE instance of the suspect value
            cand[mv] -= 1
            if cand[mv] == 0:
                del cand[mv]
            n -= 1
            s -= mv
            q -= mv * mv
    spark = df.sparkSession
    base_schema = (
        "round int, suspect_value double, n_remaining bigint, "
        "r_stat double"
    )
    if lambdas is None:
        return local_rows_df(spark, rows, base_schema)
    lam = [float(v) for v in lambdas]
    istar = max(
        (i for (i, _sv, _n, r6) in rows if r6 > lam[i - 1]), default=None
    )
    full = [
        (
            i,
            sv,
            n_rem,
            r6,
            lam[i - 1],
            bool(istar is not None and i <= istar),
        )
        for (i, sv, n_rem, r6) in rows
    ]
    return local_rows_df(
        spark, full, base_schema + ", lambda_crit double, is_outlier boolean"
    )


def gesd_outliers_sql(
    select: str,
    value_col: str,
    max_outliers: int = 3,
    lambdas: "list[float] | None" = None,
) -> str:
    """DuckDB oracle of :func:`gesd_outliers` — the same k unrolled
    layers over the (value, count) grain, same exact integer scores
    and max(struct) tiebreak, same once-rounded R."""
    if lambdas is not None and len(lambdas) != max_outliers:
        raise ValueError("gesd_outliers_sql: lambdas length mismatch")
    parts = [
        f"""g1 AS (
        SELECT CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS v,
               COUNT(*)::HUGEINT AS c
        FROM rows_in WHERE {value_col} IS NOT NULL GROUP BY v
    )"""
    ]
    rows = []
    for i in range(1, max_outliers + 1):
        parts.append(
            f"""t{i} AS (
        SELECT SUM(c) AS n, COALESCE(SUM(c * v), 0) AS s,
               COALESCE(SUM(c * v::HUGEINT * v), 0) AS q
        FROM g{i}
    ), m{i} AS (
        SELECT g{i}.v AS mv, abs(g{i}.v::HUGEINT * t{i}.n - t{i}.s)
                 AS sc
        FROM g{i}, t{i}
        ORDER BY sc DESC, g{i}.v DESC LIMIT 1
    ), g{i + 1} AS (
        SELECT g{i}.v,
               CASE WHEN g{i}.v = m{i}.mv THEN g{i}.c - 1
                    ELSE g{i}.c END AS c
        FROM g{i}, m{i}
        WHERE (CASE WHEN g{i}.v = m{i}.mv THEN g{i}.c - 1
                    ELSE g{i}.c END) > 0
    )"""
        )
        r_expr = (
            f"CAST(m{i}.sc AS DOUBLE) / (CAST(t{i}.n AS DOUBLE)"
            f" * sqrt(CAST(t{i}.n * t{i}.q - t{i}.s * t{i}.s AS DOUBLE)"
            f" / (CAST(t{i}.n AS DOUBLE)"
            f" * (CAST(t{i}.n AS DOUBLE) - 1.0))))"
        )
        rows.append(
            f"""SELECT {i} AS round,
               CAST(m{i}.mv AS DOUBLE) / 100 AS suspect_value,
               CAST(t{i}.n AS BIGINT) AS n_remaining,
               CAST(CAST({r_expr} AS DECIMAL(18,6)) AS DOUBLE)
                 AS r_stat
        FROM t{i}, m{i}
        WHERE t{i}.n >= 3
          AND (t{i}.n * t{i}.q - t{i}.s * t{i}.s) > 0"""
        )
    body = " UNION ALL ".join(rows)
    base = f"WITH rows_in AS ({select}),\n    " + ",\n    ".join(parts)
    if lambdas is None:
        return f"{base}\n    {'SELECT * FROM (' + body + ')'} ORDER BY round"
    lam_cases = " ".join(
        f"WHEN {i} THEN {float(v)!r}"
        for i, v in enumerate(lambdas, start=1)
    )
    return f"""{base},
    r AS ({body}),
    lamed AS (
        SELECT r.*, CASE round {lam_cases} END AS lambda_crit FROM r
    ),
    star AS (
        SELECT MAX(CASE WHEN r_stat > lambda_crit THEN round END) AS istar
        FROM lamed
    )
    SELECT lamed.*,
           COALESCE(lamed.round <= star.istar, FALSE) AS is_outlier
    FROM lamed, star ORDER BY round
    """


def nemenyi_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    q_crit: float | None = None,
    max_treatments: int = 64,
) -> DataFrame:
    """Nemenyi post-hoc after :func:`friedman_test` — WHICH treatment
    pairs differ once the omnibus test fires: every pair's mean-rank
    gap vs the critical difference

        CD = q_α · √(k(k+1) / (6B))

    (q_α the studentized-range-over-√2 literal for k arms, the
    :func:`tukey_hsd` convention). One row per unordered pair:
    ``(treatment_a, treatment_b, mean_rank_a, mean_rank_b, mean_diff,
    cd[, significant])``.

    Exact arithmetic: the within-block doubled midranks and the
    per-treatment doubled rank sums R2_j are the SAME exact integers
    :func:`friedman_test` aggregates (shared `_block_midranks`
    machinery — test and post-hoc always run on the identical grain);
    mean ranks are ``R2_j/(2B)`` and the gap ``|R2_i − R2_j|/(2B)``,
    each ONE IEEE division rounded once to DECIMAL(18,6); CD is one
    fixed-shape expression rounded once, and ``significant`` compares
    the two ROUNDED doubles. All NULL when k < 2 or B = 0.

    Scale shape: friedman's grain work (hash agg + ≤k-row block
    windows) plus a pair join confined to the ≤``max_treatments``-row
    per-treatment table (in-plan raise-guard, the tukey_hsd idiom) —
    the pair table is k²/2 rows of output, never data.
    """
    if max_treatments < 2:
        raise ValueError(
            f"nemenyi_test: max_treatments {max_treatments} < 2"
        )
    from pybabe_spark.operators._util import attach_scalars

    ranked = _block_midranks(
        df, block_col, treatment_col, value_col, "nemenyi_test"
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_t = ranked.groupBy("__t").agg(
        F.count(F.lit(1)).alias("__bt"),
        F.sum(d(F.col("__r2"))).cast("decimal(38,0)").alias("__rs2"),
    )
    msg = (
        f"nemenyi_test: more than max_treatments={max_treatments} "
        "treatments — a k² post-hoc table at that size is rarely "
        "intended; raise max_treatments to confirm"
    )
    per_t = per_t.withColumn(
        "__tc", F.count(F.lit(1)).over(Window.partitionBy())
    ).filter(
        F.when(
            F.col("__tc") > max_treatments,
            F.raise_error(F.lit(msg)).cast("boolean"),
        ).otherwise(F.lit(True))
    ).drop("__tc")
    kb = per_t.agg(
        F.count(F.lit(1)).cast("bigint").alias("__k"),
        F.coalesce(F.max("__bt"), F.lit(0)).cast("bigint").alias("__B"),
    )
    a_, b_ = per_t.alias("a"), per_t.alias("b")
    pairs = attach_scalars(
        a_.join(b_, F.col("a.__t") < F.col("b.__t")), kb
    )
    bd = F.col("__B").cast("double")
    kd = F.col("__k").cast("double")
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okp = (F.col("__k") >= 2) & (F.col("__B") > 0)
    mean_a = F.col("a.__rs2").cast("double") / (2.0 * bd)
    mean_b = F.col("b.__rs2").cast("double") / (2.0 * bd)
    diff = F.abs(
        d(F.col("a.__rs2")) - F.col("b.__rs2")
    ).cast("double") / (2.0 * bd)
    cols = [
        F.col("a.__t").alias("treatment_a"),
        F.col("b.__t").alias("treatment_b"),
        F.when(okp, out(mean_a)).alias("mean_rank_a"),
        F.when(okp, out(mean_b)).alias("mean_rank_b"),
        F.when(okp, out(diff)).alias("mean_diff"),
    ]
    if q_crit is not None:
        cd = F.lit(float(q_crit)) * F.sqrt(
            kd * (kd + 1.0) / (6.0 * bd)
        )
        cdr = F.when(okp, out(cd))
        cols.append(cdr.alias("cd"))
        cols.append(
            F.coalesce(
                F.when(okp, out(diff) > cdr), F.lit(False)
            ).alias("significant")
        )
    return pairs.select(*cols)


def nemenyi_test_sql(
    select: str,
    block_col: str,
    treatment_col: str,
    value_col: str,
    q_crit: float | None = None,
) -> str:
    """DuckDB oracle of :func:`nemenyi_test` — friedman_test_sql's
    ranked/per_t CTEs verbatim, pair join on the tiny treatment
    table, same once-rounded gaps and CD."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    okp = "k >= 2 AND B > 0"
    mean_a = "CAST(a_rs2 AS DOUBLE) / (2.0 * CAST(B AS DOUBLE))"
    mean_b = "CAST(b_rs2 AS DOUBLE) / (2.0 * CAST(B AS DOUBLE))"
    diff = "CAST(abs(a_rs2 - b_rs2) AS DOUBLE) / (2.0 * CAST(B AS DOUBLE))"
    sig = ""
    cd_col = ""
    if q_crit is not None:
        cd = (
            f"{float(q_crit)!r} * sqrt(CAST(k AS DOUBLE)"
            " * (CAST(k AS DOUBLE) + 1.0) / (6.0 * CAST(B AS DOUBLE)))"
        )
        cd_col = (
            f",\n           CASE WHEN {okp} THEN {r6(cd)} END AS cd"
        )
        sig = (
            f",\n           COALESCE(CASE WHEN {okp} THEN"
            f" ({r6(diff)}) > ({r6(cd)}) END, FALSE) AS significant"
        )
    return f"""
    WITH rows_in AS ({select}),
    obs AS (
        SELECT {block_col} AS b, {treatment_col} AS t, {x} AS v
        FROM rows_in
        WHERE {block_col} IS NOT NULL AND {treatment_col} IS NOT NULL
          AND {value_col} IS NOT NULL
    ),
    kt AS (SELECT COUNT(DISTINCT t) AS k FROM obs),
    complete AS (
        SELECT obs.* FROM obs
        JOIN (SELECT b FROM obs GROUP BY b
              HAVING COUNT(*) = (SELECT k FROM kt)) cb USING (b)
    ),
    ranked AS (
        SELECT b, t,
               2 * RANK() OVER (PARTITION BY b ORDER BY v)
                 + COUNT(*) OVER (PARTITION BY b, v) - 1 AS r2
        FROM complete
    ),
    per_t AS (
        SELECT t, COUNT(*) AS bt, SUM(CAST(r2 AS HUGEINT)) AS rs2
        FROM ranked GROUP BY t
    ),
    kb AS (
        SELECT COUNT(*)::BIGINT AS k,
               CAST(COALESCE(MAX(bt), 0) AS BIGINT) AS B
        FROM per_t
    ),
    pairs AS (
        SELECT a.t AS treatment_a, b.t AS treatment_b,
               a.rs2 AS a_rs2, b.rs2 AS b_rs2, kb.k, kb.B
        FROM per_t a JOIN per_t b ON a.t < b.t CROSS JOIN kb
    )
    SELECT treatment_a, treatment_b,
           CASE WHEN {okp} THEN {r6(mean_a)} END AS mean_rank_a,
           CASE WHEN {okp} THEN {r6(mean_b)} END AS mean_rank_b,
           CASE WHEN {okp} THEN {r6(diff)} END AS mean_diff{cd_col}{sig}
    FROM pairs
    """


# ---------------------------------------------------------------------------
# Mood's median test — rank-free k-sample location test on counts
# ---------------------------------------------------------------------------

def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    crit: float = 9.487729,
    max_groups: int = 4096,
) -> DataFrame:
    """Mood's median test — do the groups share a common median? The
    coarsest, most outlier-proof k-sample location test (only
    above/below the GRAND median enters), the right sanity check
    before trusting :func:`kruskal_wallis`' rank machinery on wild
    distributions. ONE output row: ``(n, median, dof, chi2_ppm,
    significant)`` — the Pearson chi-square of the (group ×
    above/below) 2-column table, ``dof = G − 1``.

    Determinism: values lift to bigint cents; the grand median is the
    LOWER median (the smallest value whose cumulative count reaches
    ⌈n/2⌉ — a pure integer reach test ``2·cum ≥ n``, no IEEE, no
    interpolation, always an observed value); exactly-median rows
    count BELOW (the :func:`runs_test` convention, stated not hidden).
    The chi-square is :func:`chi2_independence`'s exact
    floored-integral-ppm sum — no IEEE anywhere but the (unused)
    median/100 display division. NULL group or value rows drop.

    Scale shape (r13 optimization-round rewrite): one map-combinable
    (cents → count) hash agg; the cumulative reach test runs over that
    VALUE GRAIN (domain-bounded: ≤10⁷ rows for 5-digit prices —
    de-globalize via the :func:`weighted_quantiles` cell split if a
    domain ever isn't) and the grand median collects as ONE bounded
    1-row scalar; the flag feeds one (group, side) cell agg whose
    ≤2·``max_groups`` rows collect behind a ``limit`` boundedness
    proof, and the exact chi-square ppm grid finishes driver-side in
    Python integers — bit-identical to the in-plan decimal form it
    replaces (that form attached three 1-row broadcasts and ran the
    R×C grid joins in-plan: ~116 Exchange nodes / 47 local jobs per
    action). Two corpus-scale shuffles total, two bounded collects.

    ``max_groups``: raise-guard on the collected cell table (the
    nemenyi/tukey idiom) — a k-sample median test over more than 4096
    groups is rarely intended.
    """
    from pybabe_spark.operators._util import (
        attach_scalars,
        lazy_persist,
        local_rows_df,
    )

    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    base = lazy_persist(
        # feeds the value-grain agg AND the flagged cell agg — one
        # materialization instead of two source scans (lazy, job-free)
        df.filter(ok).select(
            F.col(group_col).alias("__g"), cents.alias("__v")
        )
    )
    grain = base.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    tot = grain.agg(F.sum("__c").cast("decimal(38,0)").alias("__n"))
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = attach_scalars(grain, tot).withColumn(
        "__cum", F.sum("__c").over(w).cast("decimal(38,0)")
    )
    med_row = cum.filter(
        F.col("__cum") * 2 >= F.col("__n")
    ).agg(F.min("__v").alias("__med")).collect()[0]
    med = med_row["__med"]
    crit_ppm = int(round(float(crit) * 1_000_000))
    spark = df.sparkSession
    schema = (
        "n bigint, median double, dof bigint, chi2_ppm bigint, "
        "significant boolean"
    )
    if med is None:  # empty input: the degenerate all-zero row
        return local_rows_df(spark, [(0, None, 0, 0, False)], schema)
    cells_rows = (
        base.groupBy(
            "__g", (F.col("__v") > F.lit(int(med))).alias("__above")
        )
        .agg(F.count(F.lit(1)).alias("__nab"))
        .limit(2 * max_groups + 1)  # the collect's boundedness proof
        .collect()
    )
    if len(cells_rows) > 2 * max_groups:
        raise ValueError(
            f"mood_median_test: more than max_groups={max_groups} "
            "groups — a k-sample median test at that size is rarely "
            "intended; raise max_groups to confirm"
        )
    # exact integer chi-square over the FULL R x C grid (zero cells
    # included) — the _chi2_contrib arithmetic, driver-side
    nab = {(r["__g"], r["__above"]): int(r["__nab"]) for r in cells_rows}
    r_tot: dict = {}
    c_tot: dict = {}
    for (a, b), v in nab.items():
        r_tot[a] = r_tot.get(a, 0) + v
        c_tot[b] = c_tot.get(b, 0) + v
    n = sum(r_tot.values())
    chi2 = 0
    for a, r_ in r_tot.items():
        for b, c_ in c_tot.items():
            num = n * nab.get((a, b), 0) - r_ * c_
            chi2 += num * num * 1_000_000 // (n * r_ * c_)
    dof = max(len(r_tot) - 1, 0)
    return local_rows_df(
        spark,
        [(n, float(med) / 100.0, dof, chi2, bool(chi2 > crit_ppm))],
        schema,
    )


def mood_median_test_sql(
    select: str,
    group_col: str,
    value_col: str,
    crit: float = 9.487729,
) -> str:
    """DuckDB oracle of :func:`mood_median_test` — same cents lift,
    lower-median integer reach test, equal-counts-below convention,
    and exact HUGEINT cell ppm."""
    crit_ppm = int(round(float(crit) * 1_000_000))
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {group_col} AS g,
               CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS v
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
    ),
    grain AS (SELECT v, COUNT(*)::HUGEINT AS c FROM base GROUP BY v),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER () AS n
        FROM grain
    ),
    med AS (SELECT MIN(v) AS med FROM cum WHERE cum * 2 >= n),
    flagged AS (
        SELECT base.g AS a, (base.v > med.med) AS b
        FROM base CROSS JOIN med
    ),
    cells AS (
        SELECT a, b, COUNT(*)::HUGEINT AS nab
        FROM flagged GROUP BY a, b
    ),
    r AS (SELECT a, SUM(nab) AS r FROM cells GROUP BY a),
    c AS (SELECT b, SUM(nab) AS c FROM cells GROUP BY b),
    tt AS (SELECT SUM(nab) AS n, COUNT(DISTINCT a) AS ra FROM cells),
    grid AS (
        SELECT r.a, c.b,
               COALESCE(cells.nab, 0::HUGEINT) AS nab, r.r, c.c
        FROM r CROSS JOIN c
        LEFT JOIN cells ON cells.a = r.a AND cells.b = c.b
    ),
    contrib AS (
        SELECT tt.n, tt.ra,
               ((tt.n * grid.nab - grid.r * grid.c)
                * (tt.n * grid.nab - grid.r * grid.c) * 1000000)
               // (tt.n * grid.r * grid.c) AS ppm
        FROM grid CROSS JOIN tt
    )
    SELECT COALESCE(CAST(MAX(n) AS BIGINT), 0) AS n,
           CAST(MAX(med.med) AS DOUBLE) / 100 AS median,
           COALESCE(CAST(MAX(ra - 1) AS BIGINT), 0) AS dof,
           COALESCE(CAST(SUM(ppm) AS BIGINT), 0) AS chi2_ppm,
           COALESCE(SUM(ppm) > {crit_ppm}, FALSE) AS significant
    FROM contrib CROSS JOIN med
    """


# ---------------------------------------------------------------------------
# Cochran–Armitage trend test — is a proportion MONOTONE in an ordered
# factor (dose, priority tier, bucket index)?
# ---------------------------------------------------------------------------

def cochran_armitage_trend(
    df: DataFrame,
    score_col: str,
    success_col: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Cochran–Armitage test for a linear TREND in proportions across
    an ordered factor — what :func:`chi2_independence` cannot see (it
    spends its dof on any pattern; this test spends ONE on the ordered
    alternative, the power move for dose-response / tiered-priority
    questions). Input is row-grain: an integer ``score_col`` (the
    group's rank: 1, 2, 3…) and a 0/1 ``success_col``. ONE output
    row: ``(n, n_success, z, trend, significant)`` with

        T = N·Σsy − R·Σs,
        z = T / √( R·(N−R)·(N·Σs² − (Σs)²) / N )

    (the no-continuity-correction form, documented). ``trend`` is
    ``increasing`` / ``decreasing`` / ``flat`` by T's exact integer
    sign — never from the rounded z.

    Determinism: scores and successes are integers, so N, R, Σs, Σs²,
    Σsy accumulate as exact DECIMAL(38,0) and T is exact; z is ONE
    fixed-shape IEEE expression rounded once to DECIMAL(18,6), and
    ``significant`` compares the rounded z (house convention). NULL
    score/success rows drop; z is NULL when every row is the same
    score, all-success, or all-failure (den = 0). Magnitude contract:
    |T| ≤ s_max·N², exact through N ≈ 10⁹ at 2-digit scores
    (DECIMAL(38,0)); bucket the scores before the test beyond that.

    Scale shape: ONE map-side-combinable keyless aggregation — five
    counters, no group table, no window, no join. The 100 TB plan is
    the partial-agg plan.
    """
    ok = F.col(score_col).isNotNull() & F.col(success_col).isNotNull()
    s = F.col(score_col).cast("decimal(38,0)")
    y = (F.col(success_col) != 0).cast("int").cast("decimal(38,0)")
    agg = df.filter(ok).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.coalesce(F.sum(y), F.lit(0)).cast("decimal(38,0)").alias("__r"),
        F.coalesce(F.sum(s), F.lit(0)).cast("decimal(38,0)").alias("__s"),
        F.coalesce(F.sum(s * s), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__s2"),
        F.coalesce(F.sum(s * y), F.lit(0))
        .cast("decimal(38,0)")
        .alias("__sy"),
    )
    t = (F.col("__n") * F.col("__sy") - F.col("__r") * F.col("__s")).cast(
        "decimal(38,0)"
    )
    dens = (
        F.col("__r")
        * (F.col("__n") - F.col("__r"))
        * (F.col("__n") * F.col("__s2") - F.col("__s") * F.col("__s"))
    ).cast("decimal(38,0)")
    terms = agg.withColumn("__t", t).withColumn("__dens", dens)
    z = F.when(
        (F.col("__dens") > 0) & (F.col("__n") > 0),
        (
            F.col("__t").cast("double")
            / F.sqrt(
                F.col("__dens").cast("double")
                / F.col("__n").cast("double")
            )
        )
        .cast("decimal(18,6)")
        .cast("double"),
    )
    return terms.select(
        F.col("__n").cast("bigint").alias("n"),
        F.col("__r").cast("bigint").alias("n_success"),
        z.alias("z"),
        F.when(F.col("__t") > 0, F.lit("increasing"))
        .when(F.col("__t") < 0, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
        F.coalesce(
            F.abs(z) > float(z_crit), F.lit(False)
        ).alias("significant"),
    )


def cochran_armitage_trend_sql(
    select: str,
    score_col: str,
    success_col: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`cochran_armitage_trend` — same five
    HUGEINT counters, exact-sign trend, once-rounded z."""
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    z = r6(
        "CAST(t AS DOUBLE)"
        " / sqrt(CAST(dens AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    zc = f"CASE WHEN dens > 0 AND n > 0 THEN {z} END"
    return f"""
    WITH rows_in AS ({select}),
    agg AS (
        SELECT COUNT(*)::HUGEINT AS n,
               COALESCE(SUM(CASE WHEN {success_col} != 0 THEN 1
                            ELSE 0 END), 0)::HUGEINT AS r,
               COALESCE(SUM({score_col}), 0)::HUGEINT AS s,
               COALESCE(SUM(CAST({score_col} AS HUGEINT)
                            * {score_col}), 0)::HUGEINT AS s2,
               COALESCE(SUM(CASE WHEN {success_col} != 0
                            THEN {score_col} ELSE 0 END), 0)::HUGEINT
                 AS sy
        FROM rows_in
        WHERE {score_col} IS NOT NULL AND {success_col} IS NOT NULL
    ),
    terms AS (
        SELECT n, r, n * sy - r * s AS t,
               r * (n - r) * (n * s2 - s * s) AS dens
        FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(r AS BIGINT) AS n_success,
           {zc} AS z,
           CASE WHEN t > 0 THEN 'increasing'
                WHEN t < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend,
           COALESCE(abs({zc}) > {float(z_crit)}, FALSE) AS significant
    FROM terms
    """


# ---------------------------------------------------------------------------
# Bartlett's test — homogeneity of variances across groups
# ---------------------------------------------------------------------------

def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    crit: float = 9.487729,
) -> DataFrame:
    """Bartlett's test of equal variances across groups — the
    pre-flight check :func:`anova_f` assumes and
    :func:`brown_forsythe` robustifies (Bartlett is the most POWERFUL
    of the three under normality, and the most fragile off it — run
    them as a pair and read the disagreement). ONE output row:
    ``(k, n, chi2, significant)`` with

        χ² = [ (N−k)·ln s_p² − Σ (nᵢ−1)·ln sᵢ² ] / C,
        C  = 1 + ( Σ 1/(nᵢ−1) − 1/(N−k) ) / (3(k−1))

    Determinism: values lift to bigint cents and per-group moments
    (n, S, Q) are exact DECIMAL(38,0), so every sᵢ² is an exact
    rational; the three group-grain summands — (nᵢ−1)·ln sᵢ², the
    pooled numerator (nᵢ·Qᵢ−Sᵢ²)/nᵢ, and 1/(nᵢ−1) — each round
    per-term to DECIMAL(18,6)/(28,6)/(18,12) BEFORE their sums
    (decimal sums are associative: order-independent,
    engine-identical); the finish is one fixed-shape IEEE expression
    rounded once. χ² is NULL unless every group has nᵢ ≥ 2 and
    positive variance and k ≥ 2 (Bartlett's own applicability gate —
    reported, not silently skipped). NULL group/value rows drop.

    Scale shape: one map-combinable group hash agg, one k-row agg.
    Two shuffles, the second over ≤ k rows.
    """
    ok = F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = (
        df.filter(ok)
        .select(F.col(group_col).alias("__g"), cents.alias("__x"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
            F.sum(d(F.col("__x"))).cast("decimal(38,0)").alias("__s"),
            F.sum(d(F.col("__x")) * F.col("__x"))
            .cast("decimal(38,0)")
            .alias("__q"),
        )
    )
    ssq = d(F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s"))
    nd = F.col("__n").cast("double")
    # ANSI rule (SCALE.md): guard at the DIVISION SITE — an F.when
    # wrapped around the whole term can be hoisted past by CSE
    nden = nd * (nd - 1.0)
    var_i = ssq.cast("double") / F.when(nden != 0.0, nden)
    ln_term = (
        ((nd - 1.0) * F.log(var_i)).cast("decimal(18,6)")
    )
    pool_term = (ssq.cast("double") / nd).cast("decimal(28,6)")
    inv_term = (
        1.0 / F.when(nd != 1.0, nd - 1.0)
    ).cast("decimal(18,12)")
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("__n")).cast("decimal(38,0)").alias("__nn"),
        F.min((F.col("__n") >= 2) & (ssq > 0)).alias("__ok"),
        F.sum(ln_term).cast("decimal(28,6)").alias("__lnsum"),
        F.sum(pool_term).cast("decimal(38,6)").alias("__pool"),
        F.sum(inv_term).cast("decimal(28,12)").alias("__inv"),
    )
    nn = F.col("__nn").cast("double")
    kk = F.col("k").cast("double")
    nmk = nn - kk
    # same division-site guards: nmk = 0 (all-singleton) and k = 1
    # are gated by __ok/k>=2 below, but ANSI evaluates both branches
    sp2 = F.col("__pool").cast("double") / F.when(nmk != 0.0, nmk)
    c_corr = 1.0 + (
        (F.col("__inv").cast("double") - 1.0 / F.when(nmk != 0.0, nmk))
        / F.when(kk != 1.0, 3.0 * (kk - 1.0))
    )
    chi2 = F.when(
        F.col("__ok") & (F.col("k") >= 2),
        (
            (nmk * F.log(sp2) - F.col("__lnsum").cast("double")) / c_corr
        )
        .cast("decimal(18,6)")
        .cast("double"),
    )
    return agg.select(
        "k",
        F.col("__nn").cast("bigint").alias("n"),
        chi2.alias("chi2"),
        F.coalesce(chi2 > float(crit), F.lit(False)).alias("significant"),
    )


def bartlett_test_sql(
    select: str,
    group_col: str,
    value_col: str,
    crit: float = 9.487729,
) -> str:
    """DuckDB oracle of :func:`bartlett_test` — same cents moments,
    per-term-rounded decimal summands, once-rounded finish."""
    x = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    chi2 = (
        "CAST(CAST((((nn - kk) * ln(pool / (nn - kk)) - lnsum)"
        " / (1.0 + ((inv - 1.0 / (nn - kk)) / (3.0 * (kk - 1.0)))))"
        " AS DECIMAL(18,6)) AS DOUBLE)"
    )
    cc = f"CASE WHEN ok AND k >= 2 THEN {chi2} END"
    return f"""
    WITH rows_in AS ({select}),
    g AS (
        SELECT {group_col} AS g,
               COUNT(*)::HUGEINT AS n,
               SUM(CAST({x} AS HUGEINT))::HUGEINT AS s,
               SUM(CAST({x} AS HUGEINT) * {x})::HUGEINT AS q
        FROM rows_in
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY {group_col}
    ),
    terms AS (
        SELECT n, (n * q - s * s) AS ssq,
               CAST(CAST((CAST(n AS DOUBLE) - 1.0)
                    * ln(CAST(n * q - s * s AS DOUBLE)
                         / (CAST(n AS DOUBLE)
                            * (CAST(n AS DOUBLE) - 1.0)))
                    AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS ln_term,
               CAST(CAST(CAST(n * q - s * s AS DOUBLE)
                    / CAST(n AS DOUBLE)
                    AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS pool_term,
               CAST(CAST(1.0 / (CAST(n AS DOUBLE) - 1.0)
                    AS DECIMAL(18,12)) AS DECIMAL(28,12)) AS inv_term
        FROM g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(*) AS DOUBLE) AS kk,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(n) AS DOUBLE) AS nn,
               MIN(n >= 2 AND ssq > 0) AS ok,
               CAST(SUM(ln_term) AS DOUBLE) AS lnsum,
               CAST(SUM(pool_term) AS DOUBLE) AS pool,
               CAST(SUM(inv_term) AS DOUBLE) AS inv
        FROM terms
    )
    SELECT k, n_total AS n, {cc} AS chi2,
           COALESCE(({cc}) > {float(crit)}, FALSE) AS significant
    FROM agg
    """


# ---------------------------------------------------------------------------
# Jarque–Bera normality test — skewness/kurtosis moments per group
# ---------------------------------------------------------------------------

def jarque_bera(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    crit: float = 5.991465,
) -> DataFrame:
    """Jarque–Bera normality test per group — ``(group?, n, skewness,
    kurtosis_excess, jb, significant)`` with

        JB = n/6 · ( S² + K²/4 ),  S = m₃/m₂^1.5,  K = m₄/m₂² − 3

    — "is this column even approximately normal", the gate every
    z-score-based decision in this module (:func:`grubbs_test`,
    :func:`mean_test`, the CI family) silently assumes. Moment-based:
    no sorting, no ranks, no quantiles.

    Determinism (the two-pass standardized design): pass 1 computes
    exact DECIMAL(38,0) cents moments (n, Σx, Σx²) per group, from
    which μ and the POPULATION σ come as fixed-shape IEEE doubles;
    pass 2 standardizes each row ``t = (x − μ)/σ`` and rounds ``t³``
    and ``t⁴`` per-term to DECIMAL(18,6) BEFORE summation (decimal
    sums are associative → order-independent, engine-identical;
    t is O(1–10), so the terms always fit). Skew/kurtosis/JB are
    fixed-shape finishes rounded once. This shape — unlike raw
    Σx³/Σx⁴ decimals — neither overflows DECIMAL(38) at petabyte row
    counts nor loses catastrophic cancellation digits at 6-digit
    means. NULL value rows drop; degenerate groups (n < 2 or σ = 0)
    report NULL statistics and ``significant = false``.

    Scale shape: one map-combinable group agg, one broadcast-sized
    moments join back, one map-combinable standardized agg. Two
    corpus-scale shuffles (and the second collapses map-side).
    """
    keys = [by] if by else []
    ok = F.col(value_col).isNotNull()
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.filter(ok).select(*keys, cents.alias("__x"))
    mom = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(d(F.col("__x"))).cast("decimal(38,0)").alias("__s"),
        F.sum(d(F.col("__x")) * F.col("__x"))
        .cast("decimal(38,0)")
        .alias("__q"),
    )
    nd = F.col("__n").cast("double")
    mu = F.col("__s").cast("double") / nd
    m2 = (
        d(F.col("__n") * F.col("__q") - F.col("__s") * F.col("__s"))
        .cast("double")
        / (nd * nd)
    )
    sigma = F.sqrt(m2)
    mom = mom.select(
        *keys, "__n", mu.alias("__mu"), sigma.alias("__sig")
    )
    joined = (
        base.join(F.broadcast(mom), keys)
        if keys
        else base.crossJoin(F.broadcast(mom))
    )
    # division-site guard (SCALE.md ANSI rule): σ = 0 groups yield
    # NULL t-terms, and the σ>0 gate below nulls the statistics
    t = (F.col("__x").cast("double") - F.col("__mu")) / F.when(
        F.col("__sig") != 0.0, F.col("__sig")
    )
    tt = t * t
    t3 = ((tt * t)).cast("decimal(18,6)")
    t4 = (((tt * t) * t)).cast("decimal(18,6)")
    agg = joined.groupBy(*keys).agg(
        F.max("__n").alias("__n"),
        F.max("__sig").alias("__sig"),
        F.sum(t3).cast("decimal(38,6)").alias("__s3"),
        F.sum(t4).cast("decimal(38,6)").alias("__s4"),
    )
    nd2 = F.col("__n").cast("double")
    out = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    okg = (F.col("__n") >= 2) & (F.col("__sig") > 0.0)
    skew = F.when(okg, out(F.col("__s3").cast("double") / nd2))
    kurt = F.when(
        okg, out(F.col("__s4").cast("double") / nd2 - 3.0)
    )
    jb = F.when(
        okg,
        out(
            nd2
            / 6.0
            * (
                (F.col("__s3").cast("double") / nd2)
                * (F.col("__s3").cast("double") / nd2)
                + (F.col("__s4").cast("double") / nd2 - 3.0)
                * (F.col("__s4").cast("double") / nd2 - 3.0)
                / 4.0
            )
        ),
    )
    return agg.select(
        *keys,
        F.col("__n").cast("bigint").alias("n"),
        skew.alias("skewness"),
        kurt.alias("kurtosis_excess"),
        jb.alias("jb"),
        F.coalesce(jb > float(crit), F.lit(False)).alias("significant"),
    )


def jarque_bera_sql(
    select: str,
    value_col: str,
    by: str | None = None,
    crit: float = 5.991465,
) -> str:
    """DuckDB oracle of :func:`jarque_bera` — same two-pass
    standardized moments, same per-term DECIMAL(18,6) rounding of
    t³/t⁴, same fixed-shape finishes."""
    keys = f"{by}, " if by else ""
    gby = f"GROUP BY {by}" if by else ""
    join_on = f"ON base.{by} = mom.{by}" if by else "ON TRUE"
    bkey = f"base.{by} AS {by}, " if by else ""
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    skew_raw = "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    kurt_raw = "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) - 3.0"
    jb_raw = (
        f"CAST(n AS DOUBLE) / 6.0 * (({skew_raw}) * ({skew_raw})"
        f" + ({kurt_raw}) * ({kurt_raw}) / 4.0)"
    )
    okg = "n >= 2 AND sig > 0.0"
    jb = f"CASE WHEN {okg} THEN {r6(jb_raw)} END"
    return f"""
    WITH rows_in AS ({select}),
    base AS (
        SELECT {keys}CAST(CAST({value_col} AS DECIMAL(18,2)) * 100
                     AS BIGINT) AS x
        FROM rows_in
        WHERE {value_col} IS NOT NULL
    ),
    mom AS (
        SELECT {keys}COUNT(*)::HUGEINT AS n,
               SUM(CAST(x AS HUGEINT))::HUGEINT AS s,
               SUM(CAST(x AS HUGEINT) * x)::HUGEINT AS q
        FROM base {gby}
    ),
    mom2 AS (
        SELECT {keys}n,
               CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
               sqrt(CAST(n * q - s * s AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS sig
        FROM mom
    ),
    std AS (
        SELECT {bkey}mom.n AS n, mom.sig AS sig,
               (CAST(base.x AS DOUBLE) - mom.mu)
                 / (CASE WHEN mom.sig != 0.0 THEN mom.sig END) AS t
        FROM base JOIN mom2 mom {join_on}
    ),
    agg AS (
        SELECT {keys}MAX(n) AS n, MAX(sig) AS sig,
               SUM(CAST(CAST((t * t) * t AS DECIMAL(18,6))
                   AS DECIMAL(38,6))) AS s3,
               SUM(CAST(CAST(((t * t) * t) * t AS DECIMAL(18,6))
                   AS DECIMAL(38,6))) AS s4
        FROM std {gby}
    )
    SELECT {keys}CAST(n AS BIGINT) AS n,
           CASE WHEN {okg} THEN {r6(skew_raw)} END AS skewness,
           CASE WHEN {okg} THEN {r6(kurt_raw)} END AS kurtosis_excess,
           {jb} AS jb,
           COALESCE(({jb}) > {float(crit)}, FALSE) AS significant
    FROM agg
    """


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra — ordered-alternative k-sample trend test
# ---------------------------------------------------------------------------

#: bounded-collect caps for the jonckheere driver-side finish: the
#: (group, value) grain collects when it fits these (limit-proved
#: action); a bigger grain keeps the in-plan path, reusing whatever
#: partitions of its cache the probe collect computed
_JT_MAX_CELLS = 16384
_JT_MAX_GROUPS = 256


def _jt_finish_local(spark, rows, z_crit: float) -> "DataFrame":
    """Driver-side finish of :func:`jonckheere_terpstra` over the
    collected ≤ ``_JT_MAX_CELLS`` (group, value, count) grain: every
    named sum is an exact Python integer (same formulas, same order);
    the variance assembly and z replicate the in-plan fixed-shape IEEE
    expression operation-for-operation (left-associated, one
    DECIMAL(18,6) HALF_UP rounding — the gesd/mood_median house
    pattern)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pybabe_spark.operators._util import local_rows_df

    out_schema = (
        "n bigint, k_groups bigint, jt2 bigint, z double, "
        "trend string, significant boolean"
    )
    if not rows:
        # in-plan shape on empty input: coalesced jt2=0, NULL moments
        return local_rows_df(
            spark, [(None, 0, 0, None, "flat", False)], out_schema
        )
    by_g: dict = {}
    tie: dict = {}
    for r in rows:
        g, v, c = r["__g"], r["__v"], int(r["__c"])
        by_g.setdefault(g, {})[v] = c
        tie[v] = tie.get(v, 0) + c
    u = {g: sum(vs.values()) for g, vs in by_g.items()}
    n = sum(u.values())
    k_groups = len(u)
    u2 = sum(x * x for x in u.values())
    ut2 = sum(x * (x - 1) for x in u.values())
    ut3 = sum(x * (x - 1) * (x - 2) for x in u.values())
    ua = sum(x * (x - 1) * (2 * x + 5) for x in u.values())
    tt2 = sum(t * (t - 1) for t in tie.values())
    tt3 = sum(t * (t - 1) * (t - 2) for t in tie.values())
    ta = sum(t * (t - 1) * (2 * t + 5) for t in tie.values())
    # jt2 = Σ_{g<h} Σ_{v ∈ values(h)} c_h(v)·(2·C_g(<v) + c_g(v)):
    # per ordered pair, one merged walk over the two sorted value lists
    sv = {g: sorted(vs) for g, vs in by_g.items()}
    gl = sorted(by_g)  # ascending ⟹ gl[gi] < gl[hi] iff gi < hi
    jt2 = 0
    for gi in range(len(gl)):
        for hi in range(gi + 1, len(gl)):
            g, h = gl[gi], gl[hi]
            gvals, gc = sv[g], by_g[g]
            cum = 0  # Σ c_g(v') for v' < current h value
            p = 0
            for v in sv[h]:
                while p < len(gvals) and gvals[p] < v:
                    cum += gc[gvals[p]]
                    p += 1
                jt2 += by_g[h][v] * (2 * cum + gc.get(v, 0))
    # variance: float conversions and association order mirror the
    # in-plan expression exactly
    nd = float(n)
    a_exact = n * (n - 1) * (2 * n + 5) - ta - ua
    var_dbl = (
        float(a_exact) / 72.0
        + (float(tt3) * float(ut3))
        / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        + (float(tt2) * float(ut2)) / (8.0 * nd * (nd - 1.0))
    )
    mu2 = (n * n - u2) // 2  # always even: 2·Σ_{g<h} u_g·u_h
    diff = jt2 - mu2
    if var_dbl > 0.0:
        zraw = float(diff) / (2.0 * math.sqrt(var_dbl))
        z = float(
            Decimal(zraw).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
    else:
        z = None
    trend = (
        "increasing" if diff > 0
        else ("decreasing" if diff < 0 else "flat")
    )
    sig = False if z is None else bool(abs(z) > float(z_crit))
    return local_rows_df(
        spark, [(n, k_groups, jt2, z, trend, sig)], out_schema
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_score_col: str,
    value_col: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Jonckheere–Terpstra test for a MONOTONE trend in a numeric
    outcome across ordered groups — the k-sample power upgrade over
    :func:`kruskal_wallis` when the alternative is ordered (doses,
    tiers, years), and the numeric-outcome sibling of
    :func:`cochran_armitage_trend` (which wants a 0/1 outcome). ONE
    output row: ``(n, k_groups, jt2, z, trend, significant)``.

    ``jt2 = 2·JT = Σ_{g<h} Σ_v c_h(v)·(2·C_g(<v) + c_g(v))`` — the
    doubled Mann-Whitney count summed over ordered group pairs,
    doubled so midrank ties stay INTEGER (the :func:`mann_whitney_u`
    convention). z uses the tie-corrected variance (Hollander &
    Wolfe):

        Var = A/72 + T₃·U₃/(36·n(n−1)(n−2)) + T₂·U₂/(8·n(n−1)),
        A = n(n−1)(2n+5) − Σt(t−1)(2t+5) − Σu(u−1)(2u+5)

    with t over pooled value-tie blocks and u over group sizes; every
    named sum is EXACT DECIMAL(38,0) (contract: n ≲ 4·10¹² before A
    overflows), the variance assembly and z are ONE fixed-shape IEEE
    expression rounded once, and ``trend`` comes from the exact
    integer sign of ``jt2 − (n² − Σu²)/2`` — never the rounded z.
    NULL group/value rows drop; z is NULL when Var ≤ 0 (all values
    tied, or a single group).

    Scale shape: one map-combinable (group, value-cents) hash agg —
    the only corpus-scale shuffle. Everything downstream lives on
    that grain: when it fits ``_JT_MAX_CELLS``/``_JT_MAX_GROUPS`` it
    collects (limit-proved bounded action) and the statistic finishes
    driver-side as exact integers + the one fixed-shape IEEE step
    (r14); otherwise the in-plan assembly runs — the dense value ×
    group grid (contract: DISCRETE or bucketed values — grid rows =
    distinct-values × k), a per-group cumulative window (k partitions
    over the grid), one value-keyed grain join with ≤k fanout, and
    ≤k-row side aggregates.

    EAGER (r14): construction runs the bounded grain probe — calling
    this triggers cluster jobs and surfaces data errors immediately,
    not at the caller's first action.
    """
    from pybabe_spark.operators._util import attach_scalars, lazy_persist

    ok = (
        F.col(group_score_col).isNotNull() & F.col(value_col).isNotNull()
    )
    cents = (F.col(value_col).cast("decimal(18,2)") * 100).cast("bigint")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cnts = lazy_persist(
        df.filter(ok)
        .select(
            F.col(group_score_col).cast("bigint").alias("__g"),
            cents.alias("__v"),
        )
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    # r14: the whole statistic is a function of the (group, value,
    # count) grain — when that grain is small (the contract already
    # says DISCRETE/bucketed values), ONE limit-proved bounded collect
    # replaces the 18-local-job in-plan assembly (grid + window + grain
    # join + five side aggregates) with exact driver arithmetic and a
    # VALUES-literal 1-row result. A bigger grain — or a pathological
    # one (NULL group/value from a failed cast) — keeps the in-plan
    # path below. limit().collect() may compute only some of the
    # cache's partitions (it stops once it has enough rows), so the
    # in-plan path fills the rest on its first action.
    probe = cnts.limit(_JT_MAX_CELLS + 1).collect()
    if len(probe) <= _JT_MAX_CELLS and all(
        r["__g"] is not None and r["__v"] is not None for r in probe
    ) and len({r["__g"] for r in probe}) <= _JT_MAX_GROUPS:
        return _jt_finish_local(df.sparkSession, probe, z_crit)
    groups = cnts.groupBy("__g").agg(
        F.sum(d(F.col("__c"))).cast("decimal(38,0)").alias("__u")
    )
    vals = cnts.select("__v").distinct()
    grid = (
        vals.crossJoin(F.broadcast(groups.select("__g")))
        .join(cnts, ["__g", "__v"], "left")
        .select(
            "__g",
            "__v",
            F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        )
    )
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid2 = grid.withColumn(
        "__cum2",
        (
            F.lit(2) * F.coalesce(F.sum("__c").over(wcum), F.lit(0))
            + F.col("__c")
        ).cast("decimal(38,0)"),
    )
    h = cnts.select(
        F.col("__g").alias("__gh"),
        F.col("__v").alias("__v"),
        F.col("__c").alias("__ch"),
    )
    jt = (
        h.join(grid2, "__v")
        .filter(F.col("__g") < F.col("__gh"))
        .agg(
            F.coalesce(
                F.sum(d(F.col("__ch")) * F.col("__cum2")), F.lit(0)
            )
            .cast("decimal(38,0)")
            .alias("__jt2")
        )
    )
    usums = groups.agg(
        F.sum("__u").cast("decimal(38,0)").alias("__n"),
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum(F.col("__u") * F.col("__u"))
        .cast("decimal(38,0)")
        .alias("__u2"),
        F.sum(F.col("__u") * (F.col("__u") - 1))
        .cast("decimal(38,0)")
        .alias("__ut2"),
        F.sum(
            F.col("__u") * (F.col("__u") - 1) * (F.col("__u") - 2)
        )
        .cast("decimal(38,0)")
        .alias("__ut3"),
        F.sum(
            F.col("__u")
            * (F.col("__u") - 1)
            * (2 * F.col("__u") + 5)
        )
        .cast("decimal(38,0)")
        .alias("__ua"),
    )
    ties = cnts.groupBy("__v").agg(
        F.sum(d(F.col("__c"))).cast("decimal(38,0)").alias("__t")
    )
    tsums = ties.agg(
        F.sum(F.col("__t") * (F.col("__t") - 1))
        .cast("decimal(38,0)")
        .alias("__tt2"),
        F.sum(
            F.col("__t") * (F.col("__t") - 1) * (F.col("__t") - 2)
        )
        .cast("decimal(38,0)")
        .alias("__tt3"),
        F.sum(
            F.col("__t")
            * (F.col("__t") - 1)
            * (2 * F.col("__t") + 5)
        )
        .cast("decimal(38,0)")
        .alias("__ta"),
    )
    one = attach_scalars(attach_scalars(jt, usums), tsums)
    nn = F.col("__n")
    nd = nn.cast("double")
    a_exact = d(
        nn * (nn - 1) * (2 * nn + 5) - F.col("__ta") - F.col("__ua")
    )
    var_dbl = (
        a_exact.cast("double") / 72.0
        + (F.col("__tt3").cast("double") * F.col("__ut3").cast("double"))
        / (36.0 * nd * (nd - 1.0) * (nd - 2.0))
        + (F.col("__tt2").cast("double") * F.col("__ut2").cast("double"))
        / (8.0 * nd * (nd - 1.0))
    )
    mu2 = d((nn * nn - F.col("__u2")) / 2)
    diff = d(F.col("__jt2") - mu2)
    z = F.when(
        var_dbl > 0.0,
        (
            diff.cast("double")
            / (2.0 * F.sqrt(F.when(var_dbl > 0.0, var_dbl)))
        )
        .cast("decimal(18,6)")
        .cast("double"),
    )
    return one.select(
        nn.cast("bigint").alias("n"),
        "k_groups",
        F.col("__jt2").cast("bigint").alias("jt2"),
        z.alias("z"),
        F.when(diff > 0, F.lit("increasing"))
        .when(diff < 0, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
        .alias("trend"),
        F.coalesce(F.abs(z) > float(z_crit), F.lit(False)).alias(
            "significant"
        ),
    )


def jonckheere_terpstra_sql(
    select: str,
    group_score_col: str,
    value_col: str,
    z_crit: float = 1.959964,
) -> str:
    """DuckDB oracle of :func:`jonckheere_terpstra` — same doubled
    integer JT over the dense grid, same exact tie sums, same
    fixed-shape variance assembly and once-rounded z."""
    cexp = f"CAST(CAST({value_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    var = (
        "(CAST(a_ex AS DOUBLE) / 72.0"
        " + (CAST(tt3 AS DOUBLE) * CAST(ut3 AS DOUBLE))"
        " / (36.0 * nd * (nd - 1.0) * (nd - 2.0))"
        " + (CAST(tt2 AS DOUBLE) * CAST(ut2 AS DOUBLE))"
        " / (8.0 * nd * (nd - 1.0)))"
    )
    z = (
        f"CASE WHEN {var} > 0.0 THEN"
        f" CAST(CAST(CAST(jt2 - mu2 AS DOUBLE)"
        f" / (2.0 * sqrt({var})) AS DECIMAL(18,6)) AS DOUBLE) END"
    )
    return f"""
    WITH rows_in AS ({select}),
    cnts AS (
        SELECT CAST({group_score_col} AS BIGINT) AS g, {cexp} AS v,
               COUNT(*)::HUGEINT AS c
        FROM rows_in
        WHERE {group_score_col} IS NOT NULL
          AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ),
    grp AS (SELECT g, SUM(c) AS u FROM cnts GROUP BY g),
    grid AS (
        SELECT grp.g, vals.v, COALESCE(cnts.c, 0::HUGEINT) AS c
        FROM (SELECT DISTINCT v FROM cnts) vals
        CROSS JOIN grp
        LEFT JOIN cnts ON cnts.g = grp.g AND cnts.v = vals.v
    ),
    grid2 AS (
        SELECT g, v,
               2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0::HUGEINT) + c AS cum2
        FROM grid
    ),
    jt AS (
        SELECT COALESCE(SUM(h.c * g2.cum2), 0::HUGEINT) AS jt2
        FROM cnts h JOIN grid2 g2 ON g2.v = h.v AND g2.g < h.g
    ),
    us AS (
        SELECT SUM(u) AS n, CAST(COUNT(*) AS BIGINT) AS k_groups,
               SUM(u * u) AS u2,
               SUM(u * (u - 1)) AS ut2,
               SUM(u * (u - 1) * (u - 2)) AS ut3,
               SUM(u * (u - 1) * (2 * u + 5)) AS ua
        FROM grp
    ),
    tie AS (SELECT v, SUM(c) AS t FROM cnts GROUP BY v),
    ts AS (
        SELECT SUM(t * (t - 1)) AS tt2,
               SUM(t * (t - 1) * (t - 2)) AS tt3,
               SUM(t * (t - 1) * (2 * t + 5)) AS ta
        FROM tie
    ),
    one AS (
        SELECT jt.jt2, us.n, us.k_groups, us.u2, us.ut2, us.ut3,
               ts.tt2, ts.tt3,
               us.n * (us.n - 1) * (2 * us.n + 5) - ts.ta - us.ua
                 AS a_ex,
               CAST(us.n AS DOUBLE) AS nd,
               -- `//`: n² − Σu² = 2·Σ_{{i<j}}uᵢuⱼ is always even, so
               -- floor division IS exact (DuckDB `/` would go DOUBLE
               -- and lose the exact trend sign past 2^53)
               (us.n * us.n - us.u2) // 2 AS mu2
        FROM jt CROSS JOIN us CROSS JOIN ts
    )
    SELECT CAST(n AS BIGINT) AS n, k_groups,
           CAST(jt2 AS BIGINT) AS jt2,
           {z} AS z,
           CASE WHEN jt2 - mu2 > 0 THEN 'increasing'
                WHEN jt2 - mu2 < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend,
           COALESCE(abs({z}) > {float(z_crit)}, FALSE) AS significant
    FROM one
    """


# ---------------------------------------------------------------------------
# Price indices — Laspeyres / Paasche / Fisher between two periods
# ---------------------------------------------------------------------------

def price_index(
    df: DataFrame,
    item_col: str,
    price_col: str,
    qty_col: str,
    period_col: str,
    base_period,
    curr_period,
) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between two periods
    over transaction rows — "did PRICES move, or did the MIX move?"
    Revenue-per-unit comparisons conflate the two; the index pair
    separates them (L weights by base-period quantities, P by
    current, Fisher is their geometric mean). ONE output row:
    ``(n_items, laspeyres, paasche, fisher)`` over the MATCHED sample
    (items transacting in BOTH periods — the standard matched-model
    contract, stated; entering/exiting items need a hedonic story no
    index formula gives for free).

    Per-item period prices are unit values ``p = Σ price / Σ qty``
    (the transaction-data convention). Determinism: price lifts to
    exact cents and qty to exact micro-units per (item, period); each
    of the four basket terms (p₁q₀, p₀q₀, p₁q₁, p₀q₁ — exact-rational
    per item) rounds ONCE to DECIMAL(28,6) before its associative
    decimal sum; the three indices are fixed-shape IEEE ratios
    rounded once to DECIMAL(18,6). Items with zero qty in either
    period drop (their unit value is undefined).

    Scale shape: one map-combinable (item, period) hash agg — the
    only corpus-scale shuffle — then one item-grain agg. The 100 TB
    plan is the partial-agg plan.
    """
    from pybabe_spark.operators.sketch import _sdiv  # self, for clarity

    ok = (
        F.col(item_col).isNotNull()
        & F.col(price_col).isNotNull()
        & F.col(qty_col).isNotNull()
        & F.col(period_col).isin(base_period, curr_period)
    )
    cents = (F.col(price_col).cast("decimal(18,2)") * 100).cast("bigint")
    micro = (F.col(qty_col).cast("decimal(18,6)") * 1_000_000).cast(
        "bigint"
    )
    is_base = F.col(period_col) == base_period
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    g = (
        df.filter(ok)
        .select(
            F.col(item_col).alias("__i"),
            is_base.alias("__b"),
            cents.alias("__p"),
            micro.alias("__q"),
        )
        .groupBy("__i")
        .agg(
            F.sum(F.when(F.col("__b"), d(F.col("__p")))).alias("__p0"),
            F.sum(F.when(F.col("__b"), d(F.col("__q")))).alias("__q0"),
            F.sum(F.when(~F.col("__b"), d(F.col("__p")))).alias("__p1"),
            F.sum(F.when(~F.col("__b"), d(F.col("__q")))).alias("__q1"),
        )
        .filter(
            (F.col("__q0") > 0) & (F.col("__q1") > 0)
        )
    )
    # exact-rational basket terms, one round each to DECIMAL(28,6):
    # p1*q0 = (P1/Q1)*Q0 etc — micro/cents scales cancel in the RATIO,
    # so the terms stay in (cents·micro/micro) = cents units
    term = lambda pnum, qden, qw: (  # noqa: E731
        (
            F.col(pnum).cast("double")
            / F.col(qden).cast("double")
            * F.col(qw).cast("double")
        ).cast("decimal(28,6)")
    )
    terms = g.select(
        term("__p1", "__q1", "__q0").alias("__l_num"),
        term("__p0", "__q0", "__q0").alias("__l_den"),
        term("__p1", "__q1", "__q1").alias("__p_num"),
        term("__p0", "__q0", "__q1").alias("__p_den"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("__l_num").cast("decimal(38,6)").alias("__ln"),
        F.sum("__l_den").cast("decimal(38,6)").alias("__ld"),
        F.sum("__p_num").cast("decimal(38,6)").alias("__pn"),
        F.sum("__p_den").cast("decimal(38,6)").alias("__pd"),
    )
    out6 = lambda e: e.cast("decimal(18,6)").cast("double")  # noqa: E731
    lasp = _sdiv(
        F.col("__ln").cast("double"), F.col("__ld").cast("double")
    )
    paas = _sdiv(
        F.col("__pn").cast("double"), F.col("__pd").cast("double")
    )
    return agg.select(
        "n_items",
        F.when(F.col("n_items") > 0, out6(lasp)).alias("laspeyres"),
        F.when(F.col("n_items") > 0, out6(paas)).alias("paasche"),
        F.when(
            F.col("n_items") > 0, out6(F.sqrt(lasp * paas))
        ).alias("fisher"),
    )


def price_index_sql(
    table: str,
    item_col: str,
    price_col: str,
    qty_col: str,
    period_col: str,
    base_period_sql: str,
    curr_period_sql: str,
) -> str:
    """DuckDB oracle of :func:`price_index` — same matched sample,
    unit values, per-term-rounded basket sums, fixed-shape ratios.
    Period literals are passed as SQL snippets (quote strings)."""
    cents = f"CAST(CAST({price_col} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    micro = f"CAST(CAST({qty_col} AS DECIMAL(18,6)) * 1000000 AS BIGINT)"
    r6 = lambda e: f"CAST(CAST({e} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    t = lambda p, qd, qw: (  # noqa: E731
        f"CAST(CAST({p} AS DOUBLE) / CAST({qd} AS DOUBLE)"
        f" * CAST({qw} AS DOUBLE) AS DECIMAL(28,6))"
    )
    gu = lambda e: f"(CASE WHEN {e} != 0.0 THEN {e} END)"  # noqa: E731
    lasp = f"(CAST(ln_ AS DOUBLE) / {gu('CAST(ld_ AS DOUBLE)')})"
    paas = f"(CAST(pn_ AS DOUBLE) / {gu('CAST(pd_ AS DOUBLE)')})"
    return f"""
    WITH g AS (
        SELECT {item_col} AS i,
               SUM(CASE WHEN {period_col} = {base_period_sql}
                   THEN CAST({cents} AS HUGEINT) END) AS p0,
               SUM(CASE WHEN {period_col} = {base_period_sql}
                   THEN CAST({micro} AS HUGEINT) END) AS q0,
               SUM(CASE WHEN {period_col} = {curr_period_sql}
                   THEN CAST({cents} AS HUGEINT) END) AS p1,
               SUM(CASE WHEN {period_col} = {curr_period_sql}
                   THEN CAST({micro} AS HUGEINT) END) AS q1
        FROM {table}
        WHERE {item_col} IS NOT NULL AND {price_col} IS NOT NULL
          AND {qty_col} IS NOT NULL
          AND {period_col} IN ({base_period_sql}, {curr_period_sql})
        GROUP BY {item_col}
        HAVING SUM(CASE WHEN {period_col} = {base_period_sql}
                   THEN CAST({micro} AS HUGEINT) END) > 0
           AND SUM(CASE WHEN {period_col} = {curr_period_sql}
                   THEN CAST({micro} AS HUGEINT) END) > 0
    ),
    terms AS (
        SELECT {t('p1', 'q1', 'q0')} AS l_num,
               {t('p0', 'q0', 'q0')} AS l_den,
               {t('p1', 'q1', 'q1')} AS p_num,
               {t('p0', 'q0', 'q1')} AS p_den
        FROM g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(CAST(l_num AS DECIMAL(38,6))) AS ln_,
               SUM(CAST(l_den AS DECIMAL(38,6))) AS ld_,
               SUM(CAST(p_num AS DECIMAL(38,6))) AS pn_,
               SUM(CAST(p_den AS DECIMAL(38,6))) AS pd_
        FROM terms
    )
    SELECT n_items,
           CASE WHEN n_items > 0 THEN {r6(lasp)} END AS laspeyres,
           CASE WHEN n_items > 0 THEN {r6(paas)} END AS paasche,
           CASE WHEN n_items > 0
                THEN {r6(f'sqrt(({lasp}) * ({paas}))')} END AS fisher
    FROM agg
    """


# ---------------------------------------------------------------------------
# Cochran–Mantel–Haenszel — stratified 2×2 association
# ---------------------------------------------------------------------------

def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
    crit: float = 3.841459,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test of exposure↔outcome association
    ACROSS strata — the confounder-adjusted view
    :func:`chi2_independence` (which pools, and can Simpson-flip) and
    :func:`odds_ratio` (one table) cannot give: does the association
    hold WITHIN each stratum, combined with stratum-size weights?
    ONE output row:

    ``(n, k_strata, cmh, or_mh, significant)``

        CMH = (Σ_k (a_k − E_k))² / Σ_k V_k     [χ²(1), no continuity
                                                correction — stated]
        E_k = r1·c1/n,   V_k = r1·r0·c1·c0 / (n²(n−1))
        OR_MH = Σ(a_k·d_k/n_k) / Σ(b_k·c_k/n_k)

    Determinism: the 2×2×K cell counts are exact integers from ONE
    conditional hash agg; the four per-stratum rational terms
    (a−E, V, ad/n, bc/n) each round ONCE to DECIMAL(18,6)/(28,6)
    before their associative decimal sums; CMH and OR_MH are
    fixed-shape IEEE ratios rounded once, and ``significant``
    compares the rounded CMH. Strata with n < 2 contribute nothing
    (V undefined — excluded, stated). NULL CMH when ΣV = 0; NULL
    OR_MH when its denominator is 0.

    Scale shape: one map-side-combinable stratum hash agg (four
    conditional counters), one ≤K-row agg. The 100 TB plan is the
    partial-agg plan.
    """
    ok = (
        F.col(stratum_col).isNotNull()
        & F.col(exposure_col).isNotNull()
        & F.col(outcome_col).isNotNull()
    )
    e = F.col(exposure_col) != 0
    y = F.col(outcome_col) != 0
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(cond.cast("long")), F.lit(0)
    ).cast("bigint")
    g = (
        df.filter(ok)
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            cnt(e & y).alias("__a"),
            cnt(e & ~y).alias("__b"),
            cnt(~e & y).alias("__c"),
            cnt(~e & ~y).alias("__d"),
        )
        .withColumn(
            "__n",
            F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d"),
        )
        .filter(F.col("__n") >= 2)
    )
    nd = F.col("__n").cast("double")
    a = F.col("__a").cast("double")
    r1 = (F.col("__a") + F.col("__b")).cast("double")
    r0 = (F.col("__c") + F.col("__d")).cast("double")
    c1 = (F.col("__a") + F.col("__c")).cast("double")
    c0 = (F.col("__b") + F.col("__d")).cast("double")
    ae_term = ((a - r1 * c1 / nd)).cast("decimal(18,6)")
    v_term = (
        (r1 * r0 * c1 * c0) / (nd * nd * (nd - 1.0))
    ).cast("decimal(28,6)")
    adn = (
        (F.col("__a").cast("double") * F.col("__d").cast("double")) / nd
    ).cast("decimal(28,6)")
    bcn = (
        (F.col("__b").cast("double") * F.col("__c").cast("double")) / nd
    ).cast("decimal(28,6)")
    agg = g.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k_strata"),
        F.coalesce(F.sum(ae_term), F.lit(0))
        .cast("decimal(28,6)")
        .alias("__ae"),
        F.coalesce(F.sum(v_term), F.lit(0))
        .cast("decimal(38,6)")
        .alias("__v"),
        F.coalesce(F.sum(adn), F.lit(0))
        .cast("decimal(38,6)")
        .alias("__adn"),
        F.coalesce(F.sum(bcn), F.lit(0))
        .cast("decimal(38,6)")
        .alias("__bcn"),
    )
    out6 = lambda c: c.cast("decimal(18,6)").cast("double")  # noqa: E731
    aed = F.col("__ae").cast("double")
    cmh6 = F.when(
        F.col("__v") > 0,
        out6(aed * aed / F.when(F.col("__v") > 0, F.col("__v").cast("double"))),
    )
    ormh = F.when(
        F.col("__bcn") > 0,
        out6(
            F.col("__adn").cast("double")
            / F.when(
                F.col("__bcn") > 0, F.col("__bcn").cast("double")
            )
        ),
    )
    return agg.select(
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        "k_strata",
        cmh6.alias("cmh"),
        ormh.alias("or_mh"),
        F.coalesce(cmh6 > float(crit), F.lit(False)).alias(
            "significant"
        ),
    )


def cmh_test_sql(
    select: str,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
    crit: float = 3.841459,
) -> str:
    """DuckDB oracle of :func:`cmh_test` — same exact cells, per-term
    rounded rational sums, fixed-shape CMH / OR_MH."""
    e = f"({exposure_col} != 0)"
    y = f"({outcome_col} != 0)"
    r6 = lambda x: f"CAST(CAST({x} AS DECIMAL(18,6)) AS DOUBLE)"  # noqa: E731
    cmh = (
        "CASE WHEN v > 0 THEN "
        + r6(
            "CAST(ae AS DOUBLE) * CAST(ae AS DOUBLE)"
            " / (CASE WHEN v > 0 THEN CAST(v AS DOUBLE) END)"
        )
        + " END"
    )
    ormh = (
        "CASE WHEN bcn > 0 THEN "
        + r6(
            "CAST(adn AS DOUBLE)"
            " / (CASE WHEN bcn > 0 THEN CAST(bcn AS DOUBLE) END)"
        )
        + " END"
    )
    return f"""
    WITH rows_in AS ({select}),
    g AS (
        SELECT {stratum_col} AS s,
               SUM(CASE WHEN {e} AND {y} THEN 1 ELSE 0 END)::BIGINT
                 AS a,
               SUM(CASE WHEN {e} AND NOT {y} THEN 1 ELSE 0 END)
                 ::BIGINT AS b,
               SUM(CASE WHEN NOT {e} AND {y} THEN 1 ELSE 0 END)
                 ::BIGINT AS c,
               SUM(CASE WHEN NOT {e} AND NOT {y} THEN 1 ELSE 0 END)
                 ::BIGINT AS d
        FROM rows_in
        WHERE {stratum_col} IS NOT NULL
          AND {exposure_col} IS NOT NULL
          AND {outcome_col} IS NOT NULL
        GROUP BY {stratum_col}
        HAVING SUM(1) >= 2
    ),
    terms AS (
        SELECT a + b + c + d AS n,
               CAST(CAST(CAST(a AS DOUBLE)
                    - (CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE))
                      / CAST(a + b + c + d AS DOUBLE)
                    AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS ae_t,
               CAST(CAST((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                     * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE))
                    / (CAST(a + b + c + d AS DOUBLE)
                       * CAST(a + b + c + d AS DOUBLE)
                       * (CAST(a + b + c + d AS DOUBLE) - 1.0))
                    AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS v_t,
               CAST(CAST((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                    / CAST(a + b + c + d AS DOUBLE)
                    AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS adn_t,
               CAST(CAST((CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
                    / CAST(a + b + c + d AS DOUBLE)
                    AS DECIMAL(28,6)) AS DECIMAL(38,6)) AS bcn_t
        FROM g
        WHERE a + b + c + d >= 2
    ),
    agg AS (
        SELECT COALESCE(CAST(SUM(n) AS BIGINT), 0) AS n,
               CAST(COUNT(*) AS BIGINT) AS k_strata,
               COALESCE(SUM(ae_t), 0) AS ae,
               COALESCE(SUM(v_t), 0) AS v,
               COALESCE(SUM(adn_t), 0) AS adn,
               COALESCE(SUM(bcn_t), 0) AS bcn
        FROM terms
    )
    SELECT n, k_strata,
           {cmh} AS cmh,
           {ormh} AS or_mh,
           COALESCE(({cmh}) > {float(crit)}, FALSE) AS significant
    FROM agg
    """
