"""Named-table catalog over a directory of parquet files.

Plays the role the GDC API endpoints play in the reference
(/root/reference/xena_gdc_etl/gdc.py:221 ``search(endpoint, ...)``): a place
to resolve a logical table name to a scannable source. Reads are plain
``spark.read.parquet`` so Catalyst gets full pushdown/pruning; nothing is
cached or collected here.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
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


class Catalog:
    """Resolve table names under a base directory (``<base>/<name>.parquet``).

    Catalog timestamp semantics REQUIRE a UTC session: the NTZ→TIMESTAMP
    normalization in :meth:`table` is wall-clock-preserving through the
    session zone, and every instant-based expression the operators run
    (``F.window`` boundaries, ``unix_micros``) was validated — and is
    oracle-compared — under UTC. With the default ``pin_utc=True`` the
    constructor sets ``spark.sql.session.timeZone=UTC`` ONCE, up front,
    as a documented contract (externally-built sessions, e.g. the
    correctness harness's, inherit the host zone otherwise). Pass
    ``pin_utc=False`` to forbid the mutation — then a non-UTC session is
    an immediate error rather than a silently re-zoned one.
    """

    def __init__(self, spark: SparkSession, base_dir: str, pin_utc: bool = True):
        self.spark = spark
        self.base_dir = base_dir
        tz = spark.conf.get("spark.sql.session.timeZone", None)
        if tz != "UTC":
            if not pin_utc:
                raise ValueError(
                    "Catalog requires a UTC session (timestamp normalization "
                    f"and oracle parity are UTC-defined); session zone is "
                    f"{tz!r}. Set spark.sql.session.timeZone=UTC or construct "
                    "with pin_utc=True."
                )
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.parquet")

    # Columns that may be stored as parquet TIMESTAMP(NANOS), which Spark
    # reads as long (see session.py nanosAsLong). Converted to µs-precision
    # timestamps here with integer division (never float math —
    # ns-since-epoch overflows the double mantissa). Testdata generations
    # have varied (nanos in rounds 1-2, plain µs since), so the handling is
    # conditional on the OBSERVED dtype, not the generation.
    _NANOS_TS_COLS = {"events": ("ts",)}

    # DataFrames are immutable logical plans, so resolving a table once per
    # (session, path) is safe — and skips the driver-side file listing and
    # the schema-inference job `spark.read.parquet` runs on every call (an
    # executor reading one footer: a fixed per-query tax when a workload
    # touches the same tables repeatedly; `sources.parquet_source` reads
    # that footer on the driver instead). Keyed by a weakref
    # to the session so a stopped+collected session never aliases a new one
    # (id() reuse), and dead entries vanish with their session.
    #
    # Growth is bounded by the distinct table paths a session reads: one
    # entry per path, holding an unexecuted plan handle and its file
    # listing, never rows (nothing here is persisted). A serving session
    # over one data dir holds at most len(TPCH_TABLES) entries. The one
    # caller that reads several dirs in a session, scripts/lanes.py,
    # held 8 after its committed two-dir, four-table run
    # (``catalog_resolved`` in lanes.json).
    _RESOLVED: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
        weakref.WeakKeyDictionary()
    )

    def table(self, name: str) -> DataFrame:
        per_session = self._RESOLVED.setdefault(self.spark, {})
        path = self.path(name)
        # Session timezone is pinned to UTC in __init__ (see class
        # docstring); re-CHECK (never re-mutate) at the read site — BEFORE
        # the cache, because the NTZ→TIMESTAMP cast in a cached plan still
        # executes under the CURRENT session zone — so a zone changed
        # between construction and read fails loudly instead of silently
        # re-zoning timestamps.
        tz = self.spark.conf.get("spark.sql.session.timeZone", None)
        if tz != "UTC":
            raise ValueError(
                "Catalog.table requires the UTC session pinned at "
                f"construction; the zone has since changed to {tz!r}"
            )
        cached = per_session.get(path)
        if cached is not None:
            return cached
        if name in self._NANOS_TS_COLS:
            # The events parquet stores ts as TIMESTAMP(NANOS), which Spark
            # refuses to read (PARQUET_TYPE_ILLEGAL) unless this runtime SQL
            # conf is on. Externally-built sessions (the correctness harness)
            # don't go through session.py, so set it here, at the read site.
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(path)
        for col in self._NANOS_TS_COLS.get(name, ()):
            if col in df.columns and dict(df.dtypes)[col] == "bigint":
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        # Parquet timestamps written without isAdjustedToUTC read as
        # TIMESTAMP_NTZ under Spark's NTZ inference, which breaks
        # instant-based expressions (unix_micros, F.window) and diverges
        # from the LTZ behavior the operators and oracles were validated
        # under. Normalize: NTZ → TIMESTAMP is wall-clock-preserving
        # through the session zone, which __init__ pins to UTC even for
        # externally-built sessions — the precondition for the
        # canonicalized oracle comparison to be host-timezone-independent.
        for col, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(col, F.col(col).cast("timestamp"))
        per_session[path] = df
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TPCH_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Register every known table as a temp view for spark.sql use."""
        for name in TPCH_TABLES:
            if os.path.exists(self.path(name)):
                self.table(name).createOrReplaceTempView(name)
