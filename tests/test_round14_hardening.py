"""Round-14 hardening tests for the ADVICE fixes: awkward-but-legal
column names through the VALUES-literal fast paths, and the
broadcast-offsets gate on the shared rank machinery."""

import pytest

from pyspark.sql import functions as F


def test_heavy_hitters_name_with_space(spark):
    from pybabe_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame(
        [("a",)] * 10 + [("b",)], ["order count"]
    )
    out = heavy_hitters(df, "order count", support=0.5)
    assert out.columns == ["order count"]
    # freqItems is a no-false-negative sketch: the true heavy hitter
    # must be present; extras are allowed
    assert "a" in {r["order count"] for r in out.collect()}


def test_heavy_hitters_name_with_hyphen(spark):
    # (a name containing a literal backtick fails upstream, inside
    # Spark's own df.stat.freqItems attribute resolution — out of
    # scope for the VALUES-alias quoting fix exercised here)
    from pybabe_spark.operators.sketch import heavy_hitters

    name = "o-key"
    df = spark.createDataFrame([(1,)] * 10 + [(2,)], [name])
    out = heavy_hitters(df, name, support=0.5)
    assert out.columns == [name]
    assert 1 in {r[name] for r in out.collect()}


def test_transpose_empty_string_key_cell(spark):
    """An empty-string value in the key column becomes a column NAME;
    the VALUES-alias parser rejects an empty identifier, so the
    createDataFrame fallback must carry it."""
    from pybabe_spark.operators.reshape import transpose

    df = spark.createDataFrame(
        [("", "1", "2"), ("r2", "3", "4")], ["k", "a", "b"]
    )
    out = transpose(df)
    assert set(out.columns) == {"field", "", "r2"}
    rows = {r["field"]: (r[""], r["r2"]) for r in out.collect()}
    assert rows == {"a": ("1", "3"), "b": ("2", "4")}


def test_transpose_duplicate_key_values(spark):
    """Duplicate key values produce duplicate column names — legal for
    a DataFrame via StructType, unparseable as a VALUES alias."""
    from pybabe_spark.operators.reshape import transpose

    df = spark.createDataFrame(
        [("r", "1"), ("r", "2")], ["k", "a"]
    )
    out = transpose(df)
    assert out.columns == ["field", "r", "r"]
    vals = out.collect()[0]
    assert tuple(vals) == ("a", "1", "2")


def test_jonckheere_empty_and_single_group(spark):
    """r14 bounded-collect finish: empty input reproduces the in-plan
    1-row NULL shape; a single group yields jt2=0 / flat trend."""
    from pybabe_spark.operators.sketch import jonckheere_terpstra

    empty = spark.createDataFrame([], "g bigint, v double")
    row = jonckheere_terpstra(empty, "g", "v").collect()
    assert len(row) == 1
    r = row[0]
    assert (r["n"], r["k_groups"], r["jt2"]) == (None, 0, 0)
    assert r["z"] is None and r["trend"] == "flat" and r["significant"] is False

    one = spark.createDataFrame(
        [(1, 2.0), (1, 3.0), (1, 3.0)], "g bigint, v double"
    )
    r = jonckheere_terpstra(one, "g", "v").collect()[0]
    assert (r["n"], r["k_groups"], r["jt2"]) == (3, 1, 0)
    assert r["trend"] == "flat" and r["significant"] is False


def test_funnel_empty_first_step(spark):
    """r14 VALUES finish: an empty step-0 yields users=0 rows with
    NULL conversions (the u0 > 0 guard), like the old in-plan shape."""
    from pybabe_spark.operators.group import funnel

    ev = spark.createDataFrame(
        [(1, "click", 10), (1, "purchase", 20)],
        "user_id int, event_type string, ts int",
    )
    rows = {r["step"]: r for r in funnel(ev, ["view", "click"]).collect()}
    assert rows[0]["users"] == 0 and rows[0]["conversion"] is None
    assert rows[1]["users"] == 0 and rows[1]["conversion"] is None


def test_funnel_releases_its_caches(spark):
    """The eager finish leaves no cached blocks behind: the event
    projection and every frontier are unpersisted once counted."""
    from pybabe_spark.operators.group import funnel

    ev = spark.createDataFrame(
        [(1, "view", 1), (1, "click", 2), (2, "view", 3)],
        "user_id int, event_type string, ts int",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rows = funnel(ev, ["view", "click"]).collect()
    assert [r["users"] for r in rows] == [2, 1]
    assert jsc.getPersistentRDDs().size() == before


def test_rank_fuse_nan_score_falls_back_in_plan(spark):
    """r14 driver-side fusion: a NaN score makes Python sort order
    untrustworthy, so the operator must fall back to the in-plan
    window shape — and still fuse (Spark sorts NaN largest-desc-first
    deterministically)."""
    from pyspark.sql import functions as F

    from pybabe_spark.operators.fusion import rank_fuse

    a = (
        spark.createDataFrame(
            [(1, 2.0), (2, float("nan")), (3, 1.0)], "id long, score double"
        )
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(10)
    )
    out = rank_fuse([a], k=3).collect()
    assert len(out) == 3
    # exact integer scores still present; all three ids surfaced
    assert {r["id"] for r in out} == {1, 2, 3}


def test_spearman_broadcast_offsets_gate(spark):
    """broadcast_offsets=False must produce identical values (the hint
    only changes the join strategy) and the plan must not carry the
    broadcast hint on the offsets join."""
    from pybabe_spark.operators.sketch import spearman_corr

    df = spark.createDataFrame(
        [("g1", float(i % 7), float((i * 3) % 5)) for i in range(50)]
        + [("g2", float(i % 4), float(i % 4)) for i in range(50)],
        ["g", "x", "y"],
    )
    a = spearman_corr(df, "x", "y", by="g")
    b = spearman_corr(df, "x", "y", by="g", broadcast_offsets=False)
    ra = {tuple(r) for r in a.collect()}
    rb = {tuple(r) for r in b.collect()}
    assert ra == rb
