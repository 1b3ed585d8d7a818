"""Dataset adapters — the ``YH`` contract and fixture readers.

The reference's only input interface is the view
``YH: select i, (x, y) as Y from sourceData`` (k-means.sql:7;
README.md:34-36): any table, exposed as (row key ``i``, coordinate
vector ``Y`` of any arity). ``from_table`` is that contract as a
function; every algorithm in ``plans/`` consumes its output.

Scale notes: the projection is column-pruned at the parquet scan
(only key + feature columns are read; verify with
``df.explain`` → ``ReadSchema``), and the produced plan is a pure
narrow map — no shuffle, partitioning of the source is preserved.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, LongType, TimestampNTZType, TimestampType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A bounded driver-built DataFrame as a pure-JVM ``LocalRelation``
    (r14, guide §2.2/§4/§6). ``spark.createDataFrame(rows)`` slices
    local rows across ``defaultParallelism`` (32 locally, thousands on
    a cluster), so every action over a k-row geometry/query/state
    frame runs a 32-task job through the Python runner (~0.5-1 s of
    pure overhead per action on this host, measured r14), and a store
    commit of one writes ~32 near-empty parquet files that every later
    read pays for. ``parallelize(rows, 1)`` (the first r14 shape) cut
    that to ONE task — but still a PYTHON-runner task, ~0.2 s of fixed
    worker round-trip per action (measured r14). Feeding the rows
    through Arrow instead yields a ``LocalRelation``: the data lives
    in the JVM plan, actions run no Python task at all (16-row probe:
    count 0.19 s → 0.07 s, parquet commit 0.28 s → 0.16 s), and
    writes produce one file. These frames are bounded by contract
    (centroids, codebooks, query batches, per-step state), never
    data-sized, so the driver-held copy is fine at every scale.
    Row order is preserved (LocalRelation keeps insertion order) and
    float64 values round-trip bit-exactly (binary Arrow columns, no
    text rendering). NOTE: ``coalesce(1)`` is NOT equivalent — it
    keeps the 32 pickled parent slices and evaluates them SEQUENTIALLY
    through the Python runner inside one task (~7 s per action,
    measured r14).

    Cost: the Arrow frame ends in ``coalesce(1)`` (one file per
    commit, see ``_arrow_local_df``), and that costs one Spark job per
    collect: collecting the plain ``LocalRelation`` runs 0 jobs, the
    coalesced one 1 (Spark 4.1.2, job groups), so an ANN query over a
    ``local_df`` query batch spends one job on collecting it."""
    return _arrow_local_df(spark, list(rows), schema)


def _arrow_local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``rows`` → ``pyarrow.Table`` → LocalRelation DataFrame.

    Column-wise ``pa.array(..., type=)`` construction (not pandas):
    no dtype inference, exact float64/int64 round-trip, ``None`` →
    null, nested ``array<double>`` → Arrow lists. The Arrow table
    lands as a JVM LocalRelation when under
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB
    default — these frames are k-row by contract)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    st = _parse_datatype_string(schema) if isinstance(schema, str) else schema
    if not isinstance(st, StructType):
        st = StructType([StructField("value", st)])
        rows = [(v,) for v in rows]
    arrow_schema = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [[] for _ in st.fields]
    arrays = [
        pa.array(list(col), type=field.type)
        for col, field in zip(cols, arrow_schema)
    ]
    df = spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema))
    # LocalTableScan otherwise spreads k rows over min(k, parallelism)
    # partitions — a k-row store commit would write k near-empty files
    # again. coalesce(1) over a LocalRelation is a narrow one-task
    # concat (no Python parents — unlike the pathological pickled-RDD
    # case documented above) and keeps row order.
    return df.coalesce(1)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (TESTDATA.md layout).

    Event-time contract: ``events.ts`` has varied across fixture
    generations — TIMESTAMP(NANOS) (read as raw bigint nanos under
    ``nanosAsLong``), timestamp[us] without tz (read as TIMESTAMP_NTZ),
    or a tz-adjusted TIMESTAMP. The engine accepts ALL of them: no
    consumer does arithmetic on ``ts`` directly — everything goes
    through :func:`event_epoch_seconds` / :func:`event_time`, which
    dispatch on the loaded dtype. ``nanosAsLong`` is still set
    defensively (runtime-settable; a no-op for non-nanos files) so a
    nanos fixture loads even under a driver-supplied session built
    without our `session.get_spark` defaults.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_micros(col: str, dt: DataType) -> Column:
    """Epoch microseconds for an event-time column of ANY storage type.

    Timezone-explicit by construction (the r3 ADVICE item): the
    TIMESTAMP_NTZ branch uses ``timestampdiff`` against an NTZ epoch
    literal, which is pure wall-clock arithmetic — the session
    timezone is never consulted, so a driver-supplied session with a
    non-UTC zone cannot shift the result. The naive wall-clock is
    interpreted as UTC, exactly like DuckDB's ``epoch_ns(ts)`` in the
    oracles. The tz-aware TIMESTAMP branch uses ``unix_micros`` (an
    absolute instant — also tz-independent); bigint is raw nanos.
    """
    if isinstance(dt, LongType):  # raw nanos (legacy nanosAsLong read)
        return F.expr(f"{col} div 1000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(f"timestampdiff(MICROSECOND, {_EPOCH_NTZ}, {col})")
    if isinstance(dt, TimestampType):
        return F.expr(f"unix_micros({col})")
    raise TypeError(f"epoch_micros: unsupported event-time dtype {dt} for {col!r}")


def epoch_seconds(col: str, dt: DataType) -> Column:
    """Epoch seconds (floor) — same dispatch as :func:`epoch_micros`."""
    if isinstance(dt, LongType):
        return F.expr(f"{col} div 1000000000")
    if isinstance(dt, TimestampNTZType):
        return F.expr(f"timestampdiff(SECOND, {_EPOCH_NTZ}, {col})")
    if isinstance(dt, TimestampType):
        return F.expr(f"unix_micros({col}) div 1000000")
    raise TypeError(f"epoch_seconds: unsupported event-time dtype {dt} for {col!r}")


def event_epoch_seconds(df: DataFrame, col: str = "ts") -> Column:
    """Epoch seconds for ``df[col]``, dispatching on the loaded dtype."""
    return epoch_seconds(col, df.schema[col].dataType)


def event_epoch_micros(df: DataFrame, col: str = "ts") -> Column:
    """Epoch microseconds for ``df[col]``, dispatching on the loaded dtype."""
    return epoch_micros(col, df.schema[col].dataType)


def event_time(df: DataFrame, col: str = "ts") -> Column:
    """A watermarkable event-time column from any ``ts`` storage type.

    Watermarks require tz-aware TIMESTAMP (Spark rejects
    TIMESTAMP_NTZ with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so every
    flavor is normalized to an absolute TIMESTAMP via
    ``timestamp_micros(epoch_micros)`` — epoch computed by the
    tz-independent dispatch above, so an NTZ wall-clock is pinned to
    UTC regardless of the session timezone.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, TimestampType):
        return F.col(col)
    return F.timestamp_micros(epoch_micros(col, dt))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def from_table(
    df: DataFrame, key: str | Column, features: Sequence[str | Column]
) -> DataFrame:
    """Normalize any table to the ``(i: long, Y: array<double>)`` contract.

    Reference: view ``YH`` (k-means.sql:7). Arity-generic (README.md:36);
    nulls in features are rejected upstream by the caller if present —
    k-means over nulls is undefined in the reference too.
    """
    if not features:
        raise ValueError("from_table: need at least one feature column (Y arity >= 1)")
    k = F.col(key) if isinstance(key, str) else key
    fs = [F.col(f) if isinstance(f, str) else f for f in features]
    return df.select(
        k.cast("long").alias("i"),
        F.array(*[f.cast("double") for f in fs]).alias("Y"),
    )


def load_yh(
    spark: SparkSession,
    sf_dir: str,
    table: str = "lineitem",
    key: str | Column | None = None,
    features: Sequence[str] | None = None,
) -> DataFrame:
    """Fixture → (i, Y), with the FIXTURES.md F6 defaults per table.

    NOTE: the synthetic lineitem fixture has duplicate
    (l_orderkey, l_linenumber) pairs by construction, so the F6 default
    key is a best-effort row tag, not unique. Clustering doesn't need
    uniqueness; delivery joins (README.md:47) do — callers doing
    join-back on non-unique keys get row multiplication, same as any
    SQL join on a non-key.
    """
    defaults: dict[str, tuple[Column | str, list[str]]] = {
        "lineitem": (
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")),
            ["l_quantity", "l_extendedprice", "l_discount"],
        ),
        "customer": ("c_custkey", ["c_acctbal", "c_nationkey"]),
        "events": ("event_id", ["value"]),
        "embeddings": ("vec_id", []),  # handled below (array column)
    }
    df = load_table(spark, sf_dir, table)
    if table == "embeddings" and features is None:
        return df.select(
            F.col("vec_id").cast("long").alias("i"),
            F.col("embedding").cast("array<double>").alias("Y"),
        )
    if key is None or features is None:
        dkey, dfeat = defaults[table]
        key = key if key is not None else dkey
        features = features if features is not None else dfeat
    return from_table(df, key, features)
