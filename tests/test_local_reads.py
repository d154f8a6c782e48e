"""Driver-local positional reads: driver-sized ``row``/``slice``/
``hyperslab``/``elements`` reads (and n-dim ``Dataset`` reads) are served
from a pyarrow read of the catalog-pruned files as a ready LocalRelation;
everything else keeps the distributed scan-with-predicate path. The two
paths must agree exactly — schema (types AND nullability) and rows — so a
second Store handle on the same root with ``LOCAL_REWRITE_MAX_ROWS = 0``
serves as the distributed reference."""

from __future__ import annotations

import datetime as dt
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nimhdfstore_spark.datasets import Dataset, create_dataset
from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, Table

N = 60  # rows in the test table; rows_per_file 7 gives 9 files

_SQL = f"""
SELECT CAST(id AS BIGINT) AS {ROWID},
       id * 3 AS a,
       CAST(id AS STRING) AS s,
       TIMESTAMP_NTZ'2020-01-01 00:00:00' + make_interval(0, 0, 0, id, 0, 0, id) AS ntz,
       TIMESTAMP'2021-06-01 12:00:00' + make_interval(0, 0, 0, 0, id, 0, 0) AS ts,
       DATE'1999-12-30' + CAST(id AS INT) AS d,
       CAST(id * 1.25 AS DECIMAL(12, 3)) AS dec,
       CASE WHEN id % 5 = 0 THEN NULL ELSE array(id, id + 1) END AS arr
FROM range({N})
"""


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """(local, distributed) Store handles on one root. Tables: ``t`` (three
    retained snapshots: snapshot 0 is the pristine table), ``t_dv`` (two
    pending deferred deletes), and the 6x5x4 dataset ``g``."""
    root = str(tmp_path_factory.mktemp("local_reads") / "store")
    local = Store(spark, root, rows_per_file=7, keep_snapshots=3)
    src = spark.sql(_SQL)
    local.put("t", src)
    local["t"].delete(3, 4)
    local.put("t_dv", src)
    dv = local["t_dv"]
    dv.delete_deferred(10, 14)
    dv.delete_deferred(30, 31)
    create_dataset(local, "g", data=[
        [[float(i * 100 + j * 10 + k) for k in range(4)] for j in range(5)]
        for i in range(6)
    ])
    dist = Store(spark, root, rows_per_file=7, keep_snapshots=3)
    dist.LOCAL_REWRITE_MAX_ROWS = 0
    return local, dist


def _open(store: Store, which: str) -> Table:
    if which == "hist":
        return store.table("t", snapshot=0)
    return store[which]


def _same(got, want) -> None:
    assert got.isLocal(), "driver-sized read did not take the local path"
    assert got.schema == want.schema, f"{got.schema}\n!=\n{want.schema}"
    rows = want.collect()
    # (Spark may fold an always-empty distributed plan to a LocalRelation)
    assert not rows or not want.isLocal(), "reference read was not distributed"
    assert got.collect() == rows


_pos = st.integers(-N - 5, N + 5)
_read = st.one_of(
    st.tuples(st.just("row"), _pos),
    st.tuples(st.just("slice"), _pos, _pos),
    st.tuples(
        st.just("hyperslab"), st.integers(-3, N + 3), st.integers(-1, 12),
        st.integers(1, 9), st.integers(1, 9),
    ),
    st.tuples(st.just("elements"), st.lists(_pos, max_size=12)),
)


def _plan(t: Table, op):
    kind, *args = op
    if kind == "hyperslab":
        off, cnt, stride, block = args
        return t.hyperslab(off, cnt, stride=stride, block=min(block, stride))
    return getattr(t, kind)(*args)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(which=st.sampled_from(["t", "t_dv", "hist"]), op=_read)
def test_local_matches_distributed(stores, which, op):
    local, dist = stores
    _same(_plan(_open(local, which), op), _plan(_open(dist, which), op))


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    which=st.sampled_from(["t", "t_dv", "hist"]),
    off=st.integers(0, 20), cnt=st.integers(0, 8), stride=st.integers(1, 6),
    cols=st.sampled_from([["a"], ["ts", "dec"], ["arr", "ntz", "d"]]),
)
def test_local_projection_matches_distributed(stores, which, off, cnt, stride, cols):
    local, dist = stores
    _same(
        _open(local, which).hyperslab(off, cnt, stride=stride, columns=cols),
        _open(dist, which).hyperslab(off, cnt, stride=stride, columns=cols),
    )


_dim = st.tuples(
    st.integers(-1, 6), st.integers(0, 4), st.integers(1, 3), st.integers(1, 3)
)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    dims=st.tuples(_dim, _dim, _dim),
    coords=st.lists(
        st.tuples(st.integers(-6, 5), st.integers(-5, 4), st.integers(-4, 3)),
        max_size=8,
    ),
)
def test_dataset_local_matches_distributed(stores, dims, coords):
    local, dist = stores
    ds_l, ds_d = Dataset(local["g"]), Dataset(dist["g"])
    off, cnt, stride, block = (list(x) for x in zip(*dims))
    block = [min(b, s) for b, s in zip(block, stride)]
    _same(ds_l.hyperslab(off, cnt, stride, block),
          ds_d.hyperslab(off, cnt, stride, block))
    _same(ds_l.elements(coords), ds_d.elements(coords))
    _same(ds_l[2], ds_d[2])


def test_invalid_hyperslab_raises_on_either_path(stores):
    # validated before any read, even when the selection is empty
    for store in stores:
        with pytest.raises(ValueError, match="block must be <= stride"):
            store["t"].hyperslab(N + 10, 0, stride=2, block=3)
        ds = Dataset(store["g"])
        with pytest.raises(ValueError, match="block must be <= stride"):
            ds.hyperslab([0, 0, 0], [0, 1, 1], [1, 1, 1], [2, 1, 1])
        with pytest.raises(ValueError, match="rank"):
            ds.hyperslab([0, 0], [1, 1])


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"local-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "local read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_sized_read_is_bare_local_relation(spark, stores):
    local, _ = stores
    t = local["t_dv"]
    ds = Dataset(local["g"])
    reads = {
        "row": t.row(-2),
        "slice": t.slice(5, 40),
        "hyperslab": t.hyperslab(1, 9, stride=4, block=2),
        "elements": t.elements([40, 2, 2, -1]),
        "dataset.hyperslab": ds.hyperslab([1, 0, 1], [3, 2, 2], [2, 3, 2]),
        "dataset.elements": ds.elements([(5, 4, 3), (0, 0, 0)]),
    }
    for kind, df in reads.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.lstrip().startswith("LocalRelation"), f"{kind}:\n{plan}"
        assert "Filter" not in plan and "Sort" not in plan, f"{kind}:\n{plan}"
        assert _jobs(spark, df.toArrow) <= 1, kind
        assert _jobs(spark, df.collect) == 0, kind


def test_span_above_bound_stays_distributed(spark, stores):
    local, _ = stores
    bounded = Store(spark, local.root)
    bounded.LOCAL_REWRITE_MAX_ROWS = 8  # files hold 7 rows
    t = bounded["t"]
    # result above the bound
    big = t.slice(0, 20)
    assert not big.isLocal()
    assert [r[ROWID] for r in big.collect()] == list(range(21))
    assert t.slice(0, 7).isLocal()
    # a kept file above the bound, with a one-row result
    bounded.LOCAL_REWRITE_MAX_ROWS = 6
    one = bounded["t"].row(9)
    assert not one.isLocal()
    assert [r[ROWID] for r in one.collect()] == [9]


def test_binary_column_table_stays_distributed(spark, tmp_path):
    s = Store(spark, str(tmp_path / "blob"), rows_per_file=4)
    s.put("b", spark.sql(
        f"SELECT CAST(id AS BIGINT) AS {ROWID}, id AS a, "
        "CAST(CAST(id AS STRING) AS BINARY) AS blob FROM range(10)"
    ))
    t = s["b"]
    for df in (t.row(3), t.slice(2, 5), t.elements([1, 8])):
        assert not df.isLocal()
    assert [bytes(r["blob"]) for r in t.slice(2, 5).collect()] == [
        b"2", b"3", b"4", b"5"]
    # a projection without the blob column is bounded by rows again
    assert t.hyperslab(0, 3, stride=2, columns=["a"]).isLocal()


def test_legacy_table_without_schema_stays_distributed(spark, tmp_path):
    s = Store(spark, str(tmp_path / "legacy"), rows_per_file=4)
    s.put("t", spark.sql(f"SELECT CAST(id AS BIGINT) AS {ROWID}, id AS a "
                         "FROM range(10)"))
    meta = s._read_meta("t")
    del meta["schema"]
    s._write_meta("t", meta)
    t = s["t"]
    assert t._stored_schema() is None
    df = t.slice(3, 5)
    assert not df.isLocal()
    assert [(r[ROWID], r["a"]) for r in df.collect()] == [(3, 3), (4, 4), (5, 5)]


def test_local_read_spans_files_from_both_writers(spark, tmp_path):
    """Spark's writer declares the put's non-null fields required; the
    driver-direct writer of a small append declares them optional. One
    local read across both kinds of file must unify them."""
    root = str(tmp_path / "mixed")
    s = Store(spark, root, rows_per_file=5)
    s.put("t", spark.sql(
        f"SELECT CAST(id AS BIGINT) AS {ROWID}, array(id, id) AS arr, "
        "CAST(id AS INT) AS i, named_struct('x', id) AS st FROM range(12)"
    ))
    payload = "arr array<bigint>, i int, st struct<x: bigint>"
    s["t"].append(spark.createDataFrame([([100, 101], 7, (9,))], payload))
    s["t"].append(spark.createDataFrame([([200], 8, (10,))], payload))
    dist = Store(spark, root)
    dist.LOCAL_REWRITE_MAX_ROWS = 0
    _same(s["t"].slice(8, 13), dist["t"].slice(8, 13))


def test_local_read_sees_snapshot_at_call_time(spark, tmp_path):
    """A driver-sized read materializes at call time: a later commit on the
    table does not change a frame already returned."""
    s = Store(spark, str(tmp_path / "snap"), rows_per_file=4)
    s.put("t", spark.sql(f"SELECT CAST(id AS BIGINT) AS {ROWID}, id AS a "
                         "FROM range(10)"))
    t = s["t"]
    before = t.slice(0, 2)
    t.update(0, spark.sql("SELECT 100L AS a"))
    assert [r["a"] for r in before.collect()] == [0, 1, 2]
    assert [r["a"] for r in s["t"].slice(0, 2).collect()] == [100, 1, 2]


def test_timestamp_values_survive_any_session_timezone(spark, stores):
    local, dist = stores
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        got = local["t"].elements([0, 7])
        want = dist["t"].elements([0, 7])
        _same(got, want)
        assert got.collect()[0]["ntz"] == dt.datetime(2020, 1, 1)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


# -- driver-built frames -----------------------------------------------------

def test_local_frame_mapping_rows_must_name_the_schema_fields(spark):
    from nimhdfstore_spark.tables import local_frame

    schema = "a long, b string"
    df = local_frame(spark, [{"a": 1, "b": "x"}, {"b": "y", "a": 2}], schema)
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, "y")]
    with pytest.raises(ValueError, match="differ from the schema fields"):
        local_frame(spark, [{"a": 1, "bb": "x"}], schema)  # misspelled key
    with pytest.raises(ValueError, match="differ from the schema fields"):
        local_frame(spark, [{"a": 1}], schema)  # missing key
    with pytest.raises(ValueError, match="differ from the schema fields"):
        local_frame(spark, [{"a": 1, "b": "x", "c": 0}], schema)  # extra key


def test_dataset_dtype_plans_nothing(stores, monkeypatch):
    local, _ = stores
    ds = Dataset(local["g"])

    def no_plan(self):
        raise AssertionError("dtype planned a read")

    monkeypatch.setattr(Table, "df", no_plan)
    assert ds.dtype == "double"
