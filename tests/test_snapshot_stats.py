"""Zone-map column statistics + data skipping on the snapshot table
(round-4 parity-matrix gap: Iceberg per-file column stats / Delta
add-action stats). Invariants:

- every commit path (create / COW merge / MOR merge / compact) maintains
  per-bucket [min, max, null_count] zone maps in the manifest;
- ``read_table(where=...)`` is ALWAYS exactly ``read_table().filter``,
  with pruning a pure scan reduction — conservative on any predicate
  shape the pruner cannot prove;
- MOR deltas widen a bucket's interval (superset of live rows — safe),
  compaction restores exactness;
- ``read_table_by_keys`` scans only the buckets the key hash selects.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from wallaby2caom2_spark.sources import snapshot_table as st

SCHEMA = "clip_id string, v int, score double, grp string"


def _rows(n=400):
    return [
        (f"k{i:04d}", i, float(i % 97), f"grp{i % 3}") for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "stats_tbl")
    st.create_table(spark, path, _df(spark, _rows()), key="clip_id", n_buckets=8)
    return path


def test_create_records_zone_maps_per_bucket(spark, table):
    m = st.read_manifest(table)
    assert set(m["stats"]) == set(m["buckets"])
    truth = {
        str(r["bucket"]): (r["n"], r["lo"], r["hi"])
        for r in st.read_table(spark, table)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for b, entry in m["stats"].items():
        n, lo, hi = truth[b]
        assert entry["n_rows"] == n
        assert entry["cols"]["v"][:2] == [lo, hi]
        assert entry["cols"]["v"][2] == 0  # no nulls in the fixture
    # statable columns only: the string/int/double columns, not bucket
    assert set(m["stats"]["0" if "0" in m["stats"] else b]["cols"]) == {
        "clip_id", "v", "score", "grp"
    }


def test_prune_impossible_predicate_empties_selection(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "v > 999999") == []
    assert st.read_table(spark, table, where="v > 999999").count() == 0


def test_prune_is_conservative_on_unsupported_shapes(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "v > 5 OR v < 2") is None
    assert st.prune_buckets(m, "(v > 5)") is None
    assert st.prune_buckets(m, "NOT v > 5") is None
    assert st.prune_buckets(m, "substr(grp, 1, 3) = 'grp'") is None
    # unsupported shape still yields exactly filter() semantics
    assert st.read_table(spark, table, where="(v > 395) OR (v < 2)").count() == 6


def test_where_read_equals_filter(spark, table):
    for pred in (
        "v >= 390",
        "grp = 'grp1' AND v < 50",
        "100 <= v AND v <= 110",
        "score > 90.0",
    ):
        got = sorted(
            r["clip_id"]
            for r in st.read_table(spark, table, where=pred).collect()
        )
        want = sorted(
            r["clip_id"]
            for r in st.read_table(spark, table).filter(pred).collect()
        )
        assert got == want, pred


def test_reversed_literal_and_string_conjuncts_parse(spark, table):
    m = st.read_manifest(table)
    assert st.prune_buckets(m, "390 <= v") == st.prune_buckets(m, "v >= 390")
    # string equality against a value no bucket holds
    assert st.prune_buckets(m, "grp = 'zzz'") == []
    # quoted literal with an escaped quote parses (conservatively kept)
    assert st.prune_buckets(m, "grp = 'it''s'") == []


def test_all_null_column_bucket_is_prunable(spark, tmp_path):
    path = str(tmp_path / "nulltbl")
    rows = [("a", None, 1.0, "g"), ("b", None, 2.0, "g")]
    st.create_table(spark, path, _df(spark, rows), key="clip_id", n_buckets=2)
    m = st.read_manifest(path)
    # every row NULL for v -> no comparison can match -> all buckets pruned
    assert st.prune_buckets(m, "v = 1") == []
    assert st.read_table(spark, path, where="v = 1").count() == 0


def test_cow_merge_recomputes_touched_carries_untouched(spark, table):
    before = st.read_manifest(table)["stats"]
    out = st.merge(spark, table, _df(spark, [("k0001", 70000, 0.0, "grpX")]))
    m = st.read_manifest(table)
    (touched,) = out["touched_buckets"]
    assert m["stats"][str(touched)]["cols"]["v"][1] == 70000
    for b, entry in m["stats"].items():
        if b != str(touched):
            assert entry == before[b]  # untouched zone maps carried forward
    kept = st.prune_buckets(m, "v > 60000")
    assert kept == [touched]
    assert st.read_table(spark, table, where="v > 60000").count() == 1


def test_mor_merge_widens_interval_union(spark, table):
    out = st.merge(
        spark, table, _df(spark, [("k0001", 70000, 0.0, "grpX")]), mode="mor"
    )
    m = st.read_manifest(table)
    (touched,) = out["touched_buckets"]
    entry = m["stats"][str(touched)]
    assert entry["cols"]["v"][1] == 70000  # widened by the delta
    assert entry["cols"]["v"][0] < 70000  # base min retained
    assert st.prune_buckets(m, "v > 60000") == [touched]
    assert st.read_table(spark, table, where="v > 60000").count() == 1


def test_compact_restores_exact_stats_after_delete(spark, table):
    # COW delete of every v >= 300 row, then compact: zone maps shrink
    doomed = _df(spark, [r for r in _rows() if r[1] >= 300])
    st.merge(spark, table, doomed, delete_where="v >= 300")
    st.compact(spark, table)
    m = st.read_manifest(table)
    hi = max(s["cols"]["v"][1] for s in m["stats"].values())
    assert hi == 299
    assert st.prune_buckets(m, "v >= 300") == []


def test_pre_stats_manifest_reads_unpruned_but_correct(spark, table, tmp_path):
    import json as _json

    # simulate a manifest written before zone maps existed
    v = st.current_version(table)
    mp = st._manifest_path(table, v)
    m = _json.load(open(mp))
    m.pop("stats", None)
    open(mp, "w").write(_json.dumps(m))
    assert st.prune_buckets(st.read_manifest(table), "v > 10") is None
    assert st.read_table(spark, table, where="v >= 390").count() == 10


def test_mor_on_pre_stats_bucket_leaves_it_unstated(spark, table, tmp_path):
    """Regression: a MOR delta landing on a bucket whose BASE rows carry
    no zone map (pre-stats manifest) must NOT give that bucket a
    delta-only interval — pruning on it would wrongly exclude base
    rows."""
    import json as _json

    v = st.current_version(table)
    mp = st._manifest_path(table, v)
    m = _json.load(open(mp))
    m.pop("stats", None)  # simulate a pre-stats table
    open(mp, "w").write(_json.dumps(m))

    out = st.merge(
        spark, table, _df(spark, [("k0001", 7, 7.0, "grpZ")]), mode="mor"
    )
    (touched,) = out["touched_buckets"]
    m2 = st.read_manifest(table)
    # the delta'd base bucket stays unstated; no other bucket gained stats
    assert str(touched) not in (m2.get("stats") or {})
    # and a predicate outside the DELTA's range still reads base rows
    # from that bucket (k0001's old v is 1, batch wrote v=7)
    got = st.read_table(spark, table, where="v >= 300")
    want = st.read_table(spark, table).filter("v >= 300")
    assert sorted(r["clip_id"] for r in got.collect()) == sorted(
        r["clip_id"] for r in want.collect()
    )
    # a delta into an EMPTY bucket (no base rows) IS statable even on a
    # pre-stats table: build a sparse 16-bucket table from one row, strip
    # its stats, MOR-insert a key hashing to a DIFFERENT (empty) bucket
    p2 = str(tmp_path / "sparse")
    st.create_table(
        spark, p2, _df(spark, [("a", 1, 1.0, "g")]), key="clip_id",
        n_buckets=16,
    )
    mp2 = st._manifest_path(p2, 0)
    m2j = _json.load(open(mp2))
    m2j.pop("stats", None)
    open(mp2, "w").write(_json.dumps(m2j))
    taken = set(m2j["buckets"])
    probe = next(
        k
        for k in (f"key{i}" for i in range(200))
        if str(
            st.with_bucket(_df(spark, [(k, 0, 0.0, "g")]), 16)
            .collect()[0]["bucket"]
        )
        not in taken
    )
    out2 = st.merge(
        spark, p2, _df(spark, [(probe, 42, 1.0, "g")]), mode="mor"
    )
    (tb,) = out2["touched_buckets"]
    m3 = st.read_manifest(p2)
    assert str(tb) in m3["stats"]
    # pruning keeps the delta bucket (stats say v=42 possible) and the
    # UNSTATED pre-stats bucket (conservative), nothing else
    kept = st.prune_buckets(m3, "v = 42")
    assert tb in kept and set(map(str, kept)) == taken | {str(tb)}


def test_point_lookup_scans_only_hashed_buckets(spark, table):
    got = st.read_table_by_keys(spark, table, ["k0005", "k0350", "nope"])
    assert sorted(r["clip_id"] for r in got.collect()) == ["k0005", "k0350"]
    # the scan touches at most as many buckets as keys requested
    buckets = {r["bucket"] for r in got.select("bucket").distinct().collect()}
    assert len(buckets) <= 2
    # and the plan's parquet scan lists only those buckets' dirs
    plan = got._jdf.queryExecution().executedPlan().toString()
    n_dirs = plan.count("bucket=") if "bucket=" in plan else None
    if n_dirs is not None:
        assert n_dirs <= 3 * len(buckets)  # per-scan path echoes, bounded


def test_stats_survive_json_roundtrip_with_decimals(spark, tmp_path):
    path = str(tmp_path / "dec_tbl")
    df = spark.createDataFrame(
        [("a", 1), ("b", 2)], "clip_id string, n int"
    ).withColumn("d", F.col("n").cast("decimal(10,2)"))
    st.create_table(spark, path, df, key="clip_id", n_buckets=2)
    m = st.read_manifest(path)  # would raise if Decimal leaked into JSON
    ds = [s["cols"]["d"] for s in m["stats"].values()]
    assert all(isinstance(x[0], float) for x in ds)
    assert st.read_table(spark, path, where="d >= 2.0").count() == 1


@pytest.mark.parametrize(
    "pred, c_type",
    [
        # OR after a newline: no space-delimited " or " to spot, and the
        # c = 5 conjunct alone would prune every bucket
        ("c = 5 and a = 1\nor b = 2", "int"),
        # AND inside a string literal: the split yields a phantom
        # c = 'v' whose zone map excludes every bucket
        ("name = 'x and c = ''v'''", "string"),
    ],
)
def test_prune_keyword_and_literal_edge_cases_equal_filter(
    spark, tmp_path, pred, c_type
):
    path = str(tmp_path / "edge_tbl")
    rows = [
        (f"k{i:03d}", i % 7, i % 3, i % 5, ["x and c = 'v'", "y"][i % 2])
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, a int, b int, c int, name string"
    ).withColumn("c", F.col("c").cast(c_type))
    st.create_table(spark, path, df, key="clip_id", n_buckets=8)
    assert st.prune_buckets(st.read_manifest(path), pred) is None
    got = sorted(r["clip_id"] for r in st.read_table(spark, path, where=pred).collect())
    want = sorted(
        r["clip_id"] for r in st.read_table(spark, path).filter(pred).collect()
    )
    assert got == want and want


def test_pruned_read_keeps_widened_columns(spark, table):
    """A ``where`` that prunes every bucket written after a widening merge
    still sees the new column (as NULL on the older buckets' rows)."""
    upd = spark.createDataFrame(
        [("k0001", 1, 1.0, "grp1", "x")], SCHEMA + ", extra string"
    )
    (touched,) = st.merge(spark, table, upd)["touched_buckets"]
    m = st.read_manifest(table)
    pred = "extra = 'nope' AND v >= 0"
    kept = st.prune_buckets(m, pred)
    assert kept is not None and touched not in kept
    for p in (pred, "v < 5"):
        got = st.read_table(spark, table, where=p)
        want = st.read_table(spark, table).filter(p)
        assert "extra" in got.columns
        assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
            map(tuple, want.collect())
        ), p


@pytest.mark.parametrize(
    "pred, prunes",
    [("d > 1.0", True), ("d < 1", True), ("d >= 1.000000000000000001", False)],
)
def test_decimal_bound_one_ulp_from_literal_is_not_pruned(spark, tmp_path, pred, prunes):
    """decimal(38,18) values one ulp either side of 1: a float zone map
    rounds both to 1.0, which would prove ``d > 1.0`` / ``d < 1`` false
    for their buckets. Bounds round outward and literals parse exactly, so
    a where-read still equals the filter while buckets holding only 1.0
    stay prunable — except by a literal that rounds to the same double as
    their bounds, which a double column would match."""
    from decimal import Decimal

    rows = [(f"k{i:03d}", Decimal(1)) for i in range(40)] + [
        ("above", Decimal("1.000000000000000001")),
        ("below", Decimal("0.999999999999999999")),
    ]
    path = str(tmp_path / "dec_ulp")
    st.create_table(
        spark,
        path,
        spark.createDataFrame(rows, "clip_id string, d decimal(38,18)"),
        key="clip_id",
        n_buckets=8,
    )
    got = sorted(r["clip_id"] for r in st.read_table(spark, path, where=pred).collect())
    want = sorted(
        r["clip_id"] for r in st.read_table(spark, path).filter(pred).collect()
    )
    assert got == want and want, pred
    m = st.read_manifest(path)
    assert (len(st.prune_buckets(m, pred)) < len(m["buckets"])) == prunes, pred


@pytest.mark.parametrize(
    "pred",
    ["x = 0.1", "x <= 0.1", "x = 0.3", "x >= 0.3", "x = 9007199254740993"],
)
def test_double_column_matches_literal_rounded_to_double(spark, tmp_path, pred):
    """Spark compares a double column with ``0.1`` as the double nearest
    0.1, not the exact decimal, so the bucket whose bound is that double
    must survive ``x = 0.1`` — likewise an integer literal past 2**53,
    which rounds onto the stored value."""
    rows = [(f"k{i:03d}", 0.2) for i in range(40)] + [
        ("a", 0.1),
        ("b", 0.3),
        ("c", 9007199254740992.0),
    ]
    path = str(tmp_path / "dbl_lit")
    st.create_table(
        spark,
        path,
        spark.createDataFrame(rows, "clip_id string, x double"),
        key="clip_id",
        n_buckets=8,
    )
    got = sorted(r["clip_id"] for r in st.read_table(spark, path, where=pred).collect())
    want = sorted(
        r["clip_id"] for r in st.read_table(spark, path).filter(pred).collect()
    )
    assert got == want and want, pred
