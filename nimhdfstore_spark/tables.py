"""Test-table bindings: canonical orders (FIXTURES.md F5) and loaders."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nimhdfstore_spark.rowid import ROWID, with_rowid

#: canonical total order defining ``_rowid`` per driver table (FIXTURES.md F5)
CANONICAL: dict[str, list[str]] = {
    "lineitem": ["l_orderkey", "l_linenumber"],
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "nation": ["n_nationkey"],
    "region": ["r_regionkey"],
    "events": ["ts", "event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def normalize_events_ts(df: DataFrame):
    """events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    with ``nanosAsLong`` it arrives as bigint nanos. Truncate to micros —
    exactly what DuckDB's reader does — and make it a proper timestamp."""
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


#: memo of sorted_parquet_bases verdicts per (path, keys) — the footer/key
#: verification is deterministic for immutable test data, no need to re-run
_SORTED_CACHE: dict[tuple[str, tuple[str, ...]], object] = {}


def load_pos(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Table with its canonical ``_rowid`` attached.

    Fast path: when the Parquet is provably sorted by the canonical key
    (footer + key-column verification, memoized), ``_rowid`` is a pure
    projection of ``_metadata.row_index`` + per-file base offsets — no
    shuffle, no Python. ``events`` is excluded: its canonical key uses the
    micros-truncated timestamp, whose ties can reorder relative to the raw
    nanos file order."""
    from nimhdfstore_spark.rowid import rowid_from_sorted_parquet, sorted_parquet_bases

    keys = CANONICAL[table]
    if table != "events":
        path = f"{sf_dir}/{table}.parquet"
        ck = (path, tuple(keys))
        if ck not in _SORTED_CACHE:
            _SORTED_CACHE[ck] = sorted_parquet_bases(path, keys, spark=spark)
        bases = _SORTED_CACHE[ck]
        if bases:
            return rowid_from_sorted_parquet(spark, path, keys, bases)
    return with_rowid(load(spark, sf_dir, table), keys)


def table_nrows(sf_dir: str, table: str) -> int:
    """Record count from Parquet footers — the catalog lookup the reference
    does with ``H5TBget_table_info`` (nimtables.nim:115): no scan job."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-rows DataFrame as a JVM LocalRelation.

    ``spark.createDataFrame(list)`` parallelizes the rows into a
    Python-RDD-backed plan: ``isLocal()`` is False and every ``collect()``
    on it schedules a real job through a Python worker (~0.3 s of fixed
    cost for a handful of rows — round-13 profile of the mutation payload
    path). Building through a pyarrow Table instead lands the rows in a
    LocalRelation: ``isLocal()`` is True and ``collect()`` is job-free, so
    the Store's payload gate (``_collect_payload``) schedules nothing.
    ``toArrow()`` on a LocalRelation still runs one (small) job on Spark
    4.1.2 — the cost the driver-direct writer (``_write_local``) pays for
    such frames. Works regardless of the Arrow session conf; types follow
    ``to_arrow_schema`` exactly.

    Use for driver-built payloads of fixed-width/string/array-of-primitive
    columns. Timestamp columns keep the classic path (arrow/pickle
    timezone coercions differ), enforced here by refusing them loudly.
    """
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, str):
        parsed = _parse_datatype_string(schema)
        if not isinstance(parsed, StructType):  # pragma: no cover
            raise ValueError(f"expected a struct schema, got {parsed}")
        schema = parsed
    if any("timestamp" in f.dataType.simpleString() for f in schema.fields):
        raise ValueError(
            "local_frame does not support timestamp columns; use "
            "spark.createDataFrame (classic conversion) for those payloads"
        )

    # Rows bind positionally; a Mapping row would silently zip over its
    # KEYS (field names written as values — a corrupt frame, not an error),
    # so mappings bind by name and must name exactly the schema's fields
    # (from_pylist would turn a misspelled key into a silent null column),
    # and sequences must match the schema width exactly.
    from collections.abc import Mapping

    def _as_dict(r):
        if isinstance(r, Mapping):
            if set(r) != set(schema.names):
                raise ValueError(
                    f"local_frame row keys {sorted(r)} differ from the "
                    f"schema fields {sorted(schema.names)}"
                )
            return dict(r)
        if len(r) != len(schema.names):
            raise ValueError(
                f"local_frame row has {len(r)} values for "
                f"{len(schema.names)} schema fields: {r!r}"
            )
        return dict(zip(schema.names, r))

    tbl = pa.Table.from_pylist(
        [_as_dict(r) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(tbl)


def rowid_over(table: str) -> str:
    """DuckDB fragment: the table with ``_rowid`` in canonical order."""
    order = ", ".join(CANONICAL[table])
    return (
        f"SELECT CAST(row_number() OVER (ORDER BY {order}) - 1 AS BIGINT)"
        f" AS {ROWID}, * FROM {table}"
    )
