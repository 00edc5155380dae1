"""The workloads: inputs, seed meaning, operations and output checks.

Load model, every workload: one client in a closed loop (an operation
starts when the previous one has finished); one driver process with
``SPARK_GRAFT_CPUS`` = the usable cores, so the session runs
``local[<cores>]``. Every run is a fresh process that starts the session,
makes one untimed warm pass of the same operations (JIT, Python workers
and their caches), then runs timed passes until the run's seconds are
used up (at least one pass). Each pass gets a fresh
SparkSession on the same SparkContext, so session memos start empty and
every pass measures memo fill and memo reuse alike; passes are alike, so
their median does not depend on how many fit in the run.

``etl_csv``
    The paper's chain over headered CSV. Input: ``lineitem`` (600,000
    rows) and ``orders`` (150,000 rows) of the scale-0.1 tables, each
    split over 4 CSV files. Seed: the row order. Three operations (legs):
    (a) ``pull`` → ``typedetect`` → ``filter`` → ``join`` → ``groupBy`` →
    ``push`` parquet; (b) a full typed rewrite ``pull`` → ``typedetect``
    → ``partition`` → ``push``; (c) a read-back of (b) with ``groupBy`` →
    ``to_list``. Checks: each leg's output against DuckDB over the
    source parquet. Sources and typedetect do most of the work; at this
    size typedetect reads its bounded 100,000-row sample, not the whole
    table. The warm pass runs the same legs over the scale-0.01 tables
    (fixed order), so the timed passes alone pay for the large input.
``dedup_scale``
    Compute-bound near-duplicate families and an eagerly trained
    classifier (:data:`DEDUP_KEYS`) over the scale-0.01 tables with
    ``documents``/``embeddings`` inflated 3× into disjoint replicas
    (1,500 of each). Seed: the row order. The memo owner
    ``dup_clusters_docs`` is followed by its reuser. The warm pass runs
    on the same inputs.

Registry keys are one operation each: build the DataFrame, then collect
it, so the whole result is produced and its order-insensitive digest is
compared with the key's DuckDB oracle on the same input.

``prepare`` runs in the benchmark's parent process (inputs and expected
results, untimed). ``operations`` runs in the worker process and returns
a pass as ``(name, fn)`` pairs; ``fn(rec)`` performs one operation under
the recorder's spans and returns ``verify``, which checks the output
outside the timed part and returns a problem string or ``None``.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

from perfbench import datagen, oracle

DATA_SF = 0.01
ETL_SF = 0.1
#: seed of the etl_csv warm-pass input, the same in every run
WARM_SEED = 0

DEDUP_KEYS = (
    "dup_clusters_docs", "near_dedup_best_docs", "simhash_neardup_docs",
    "winnow_fingerprints_docs", "quality_classifier_docs",
)
DEDUP_FACTOR = 3

ETL_FILES = 4

#: etl_csv expected results, in DuckDB over the source parquet tables
ETL_ORACLES = {
    "leg_a": (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "WHERE l_discount >= 0.05 GROUP BY o_orderpriority"
    ),
    "leg_b": (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    ),
    "leg_c": (
        "SELECT l_returnflag, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price "
        "FROM lineitem GROUP BY l_returnflag"
    ),
}

WORKLOADS = ("etl_csv", "dedup_scale")


def _seeded(data_root: str, workload: str, tag: str, make) -> str:
    """Per-seed inputs; those of other seeds are dropped to bound disk use."""
    parent = os.path.join(data_root, "seeded", workload)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name != tag:
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    return datagen.once(os.path.join(parent, tag), make)


def _size(data_dir: str, tables=datagen.TABLES) -> dict:
    """Rows and bytes of the input tables."""
    import pyarrow.parquet as pq

    paths = [os.path.join(data_dir, f"{t}.parquet") for t in tables]
    return {"input_rows": sum(pq.ParquetFile(p).metadata.num_rows for p in paths),
            "input_bytes": sum(os.path.getsize(p) for p in paths)}


def _registry_oracles(keys) -> dict[str, str]:
    from pybabe_spark.queries import all_oracles

    sql = all_oracles()
    return {k: sql[k] for k in keys}


def _csv_maker(src: str, seed: int):
    def make(out_dir):
        info = datagen.write_csv_split(src, out_dir, seed, ETL_FILES)
        with open(os.path.join(out_dir, "input.json"), "w") as f:
            json.dump(info, f)
    return make


def prepare(workload: str, data_root: str, seed: int) -> dict:
    """Make the workload's inputs for ``seed`` and its expected results.
    ``inputs["warm"]`` holds the inputs of the untimed warm pass."""
    if workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload!r}; one of {WORKLOADS}")
    data = datagen.ensure_base(
        os.path.join(data_root, "base", f"sf{DATA_SF}"), DATA_SF)
    expected = os.path.join(data_root, "expected")
    os.makedirs(expected, exist_ok=True)
    inputs = {"workload": workload, "seed": seed}

    if workload == "dedup_scale":
        tag = f"sf{DATA_SF}-x{DEDUP_FACTOR}"
        inflated = _seeded(data_root, workload, f"{seed}-{tag}",
                           lambda d: datagen.write_inflated_corpus(
                               data, d, seed, DEDUP_FACTOR))
        # the seed only reorders rows, so one set of expected results serves
        inputs.update(
            data_dir=inflated, keys=list(DEDUP_KEYS),
            **_size(inflated, ("documents", "embeddings")),
            expected=oracle.expected_digests(
                inflated, _registry_oracles(DEDUP_KEYS),
                os.path.join(expected, f"dedup_scale-{tag}.json")))
        inputs["warm"] = dict(inputs)
        return inputs

    big = datagen.ensure_base(
        os.path.join(data_root, "base", f"sf{ETL_SF}"), ETL_SF)
    tag = f"sf{ETL_SF}-f{ETL_FILES}"
    csv_dir = _seeded(data_root, workload, f"{seed}-{tag}",
                      _csv_maker(big, seed))
    with open(os.path.join(csv_dir, "input.json")) as f:
        info = json.load(f)
    inputs.update(
        csv_dir=csv_dir, input_rows=info["rows"], input_bytes=info["bytes"],
        out_dir=os.path.join(data_root, "out", workload),
        expected=oracle.expected_digests(
            big, ETL_ORACLES, os.path.join(expected, f"etl_csv-{tag}.json")))
    warm_dir = datagen.once(
        os.path.join(data_root, "warm", workload, f"sf{DATA_SF}-f{ETL_FILES}"),
        _csv_maker(data, WARM_SEED))
    inputs["warm"] = dict(
        inputs, csv_dir=warm_dir,
        out_dir=os.path.join(data_root, "out", f"{workload}-warm"))
    return inputs


# ---------------------------------------------------------------------------
# worker side
# ---------------------------------------------------------------------------

def _mismatch(got: dict, want: dict) -> str | None:
    return None if got == want else f"got {got}, expected {want}"


def _key_ops(spark, keys, data_dir, expected):
    """Registry keys: build the DataFrame, then collect it (the action)."""
    from pybabe_spark.queries import all_queries

    queries = all_queries()

    def op(key):
        def run(rec):
            with rec.span("plans.build", spark_work=True, key=key):
                df = queries[key](spark, data_dir)
            with rec.span("operators.action", spark_work=True, key=key):
                pdf = df.toPandas()
            return lambda: _mismatch(oracle.digest(pdf), expected[key])
        return run

    return [(k, op(k)) for k in keys]


def _read_parquet(path, sql="SELECT * FROM t"):
    """Run ``sql`` in DuckDB over the parquet files written under ``path``
    (view ``t``, hive partition columns included)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet("
                    f"'{path}/**/*.parquet', hive_partitioning = true)")
        return con.execute(sql).df()
    finally:
        con.close()


def _written(path) -> tuple[int, int]:
    """Data files under ``path`` and their bytes (markers excluded)."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "_"))]
    return len(files), sum(os.path.getsize(f) for f in files)


def _etl_ops(spark, csv_dir, out_dir, expected):
    """The paper's chain over headered CSV, as three legs."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pybabe_spark.functions.time import typedetect
    from pybabe_spark.plans.facade import Babe
    from pybabe_spark.sources import io

    def dsum(col):
        return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")

    def pull_typed(rec, table):
        with rec.span("sources.pull", spark_work=True, table=table):
            df = io.pull(spark, os.path.join(csv_dir, table, "*.csv"),
                         format="csv", infer_schema=False)
        with rec.span("functions.typedetect", spark_work=True, table=table):
            return Babe.from_df(typedetect(df))

    def push(rec, babe, path):
        with rec.span("sources.push", spark_work=True) as s:
            babe.push(path)
        s["files_written"], s["bytes_written"] = _written(path)

    def check(name, read):
        return lambda: _mismatch(oracle.digest(read()), expected[name])

    def leg_a(rec):
        li = pull_typed(rec, "lineitem")
        od = pull_typed(rec, "orders")
        with rec.span("plans.build", spark_work=True):
            out = (li.filter(F.col("l_discount") >= 0.05)
                   .join(od, "l_orderkey", "o_orderkey")
                   .groupBy("o_orderpriority", {
                       "n": F.count(F.lit(1)), "revenue": dsum("l_extendedprice")}))
        path = os.path.join(out_dir, "leg_a")
        push(rec, out, path)
        return check("leg_a", lambda: _read_parquet(path))

    def leg_b(rec):
        li = pull_typed(rec, "lineitem")
        with rec.span("plans.build", spark_work=True):
            out = li.partition("l_returnflag")
        path = os.path.join(out_dir, "leg_b")
        push(rec, out, path)
        return check("leg_b", lambda: _read_parquet(
            path, "SELECT l_returnflag, COUNT(*) AS n FROM t GROUP BY 1"))

    def leg_c(rec):
        with rec.span("sources.pull", spark_work=True, table="leg_b"):
            back = Babe.pull(spark, os.path.join(out_dir, "leg_b"),
                             format="parquet")
        with rec.span("plans.build", spark_work=True):
            agg = back.groupBy("l_returnflag", {
                "n": F.count(F.lit(1)), "qty": dsum("l_quantity"),
                "price": dsum("l_extendedprice")})
        with rec.span("operators.action", spark_work=True):
            rows = agg.to_list()
        return check("leg_c",
                     lambda: pd.DataFrame(rows, columns=agg.df.columns))

    return [("leg_a", leg_a), ("leg_b", leg_b), ("leg_c", leg_c)]


def operations(spark, inputs: dict):
    """One pass as ``(name, fn)`` pairs."""
    if inputs["workload"] == "etl_csv":
        return _etl_ops(spark, inputs["csv_dir"], inputs["out_dir"],
                        inputs["expected"])
    return _key_ops(spark, inputs["keys"], inputs["data_dir"],
                    inputs["expected"])
