"""Fixture table loaders.

All driver queries receive ``(spark, sf_dir)`` and read the parquet
tables below. Reading through one helper keeps the scan declarative so
Catalyst can push filters/column pruning into the parquet scan; no
schema inference happens (parquet carries its schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


# Resolved-table cache: the catalog role. A DataFrame is an immutable
# logical plan — reusing it skips the parquet footer read + py4j
# round-trips of spark.read on every query build (a dim-chain build
# resolves 5 tables; at 25 headline queries that overhead is a
# measurable slice of interactive latency). Keyed by applicationId so a
# new session (new JVM, new configs) never sees stale plans.
_CACHE: dict[tuple[str, str, str], DataFrame] = {}


# Sessions whose Python workers have been shipped the package zip.
_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make the package importable on executor Python workers no matter
    what cwd/PYTHONPATH the driver launched with (an external driver
    running from outside the repo otherwise breaks every query that
    pickles a module-level function — the pandas-UDF/mapInPandas
    family). One ~100 KB zip per session via addPyFile; idempotent per
    applicationId."""
    app = spark.sparkContext.applicationId
    if app in _SHIPPED:
        return
    import os
    import tempfile
    import zipfile

    pkg = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="cpds_pyfiles_")  # must outlive the app
    zpath = os.path.join(tmp, "chess_pos_db_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    spark.sparkContext.addPyFile(zpath)
    # Only after addPyFile succeeds: a transient FS/driver error above
    # must leave the session unmarked so the next t() call retries,
    # instead of resurfacing much later as ModuleNotFoundError on
    # executors.
    _SHIPPED.add(app)


# Split-count probe cache for spread_small_scan: the probe forces an
# analyzed-plan→RDD translation on the driver, so pay it once per
# (session, input-file-set, split-sizing confs) instead of on every
# plan build. Valid because the split count is a pure function of the
# file set, maxPartitionBytes, openCostInBytes and defaultParallelism;
# the two confs are session-mutable, so they are part of the key, and
# applicationId makes new sessions re-probe.
_SPLIT_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
)
_SPREAD_PROBE: dict[tuple, int] = {}


def spread_small_scan(
    spark: SparkSession, df: DataFrame, key: str
) -> DataFrame:
    """Repartition `df` by `key` to defaultParallelism — but ONLY when
    its scan yields fewer partitions than that.

    For operators whose per-row work dwarfs their input bytes (in-row
    quadratic lambdas, per-block pair expansion), parallelism is capped
    by the SCAN's split count: a table small enough to arrive as one
    parquet split runs the whole computation in one task. The guard
    makes this scale-adaptive: at corpus scale the scan already yields
    >= defaultParallelism splits and NO extra exchange is paid; below
    that the exchange moves (< splits x maxPartitionBytes) — trivially
    small by the same condition that triggers it. Hash on a real key,
    not round-robin, so retried tasks reproduce their assignment.

    The decision is PLAN-time, from the initial scan split count (it
    can diverge from post-AQE runtime partitioning, which only coalesces
    further — never above the guard's threshold). Keep this helper on
    LEAF scans: probing a composite plan would execute its upstream."""
    par = spark.sparkContext.defaultParallelism
    files = tuple(df.inputFiles())
    cache_key = (
        spark.sparkContext.applicationId,
        files,
        *(spark.conf.get(c) for c in _SPLIT_CONFS),
    )
    n = _SPREAD_PROBE.get(cache_key)
    if n is None:
        n = df.rdd.getNumPartitions()
        # A frame with no input files (in-memory or generated) has no
        # identity to cache under: it is probed every time.
        if files:
            _SPREAD_PROBE[cache_key] = n
    if n < par:
        return df.repartition(par, key)
    return df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame (lazy parquet scan)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    _ship_package(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # Set defensively here as well: the driver's own SparkSession may
        # not carry the session.py config. BOTH pins matter for oracle
        # parity: nanosAsLong for the TIMESTAMP(NANOS) read, and the UTC
        # session timezone — on a non-UTC host a bare session would
        # shift every derived timestamp by the UTC offset while DuckDB's
        # read stays UTC-naive (dozens of false mismatches).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Fixture generations have shipped ts as either TIMESTAMP(NANOS)
        # (surfaced as epoch-nanos LONG via nanosAsLong; integer DIV
        # keeps full precision and truncation toward zero matches
        # DuckDB's nanos→micros read) or plain TIMESTAMP(MICROS)
        # (surfaced as TIMESTAMP_NTZ). Normalize both to session-tz
        # TIMESTAMP — session tz is UTC, so the wall-clock values equal
        # DuckDB's naive read either way.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _CACHE[key] = df
    return df


# --- build-once state for registered queries --------------------------------
# A registered query that materializes state (an index, a layout, a
# versioned store, a view) builds it at most once per corpus, so a lazy
# plan returned earlier never races a rebuild of the files it scans.
# The one record that the build happened is the `_built.json` marker
# in the fixture's home, written after the whole build sequence.

_BUILT = "_built.json"


def fixture_home(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """`{warehouse}/{kind}_{tag}`: the directory a registered query's
    built state for the corpus at `sf_dir` lives under (`tag` is
    `sf_dir` made identifier-safe). A catalog-backed index names its
    tables after the basename."""
    import os
    import re
    from urllib.parse import urlparse

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    return os.path.join(wh, f"{kind}_{tag}")


def fingerprint(df: DataFrame, id_col: str) -> tuple[int, int]:
    """(count, sum of `id_col`): the cheap corpus identity built state
    records, one two-column aggregate with no payload scan. In-place
    edits under unchanged ids are NOT seen (fixture corpora are
    immutable; callers that mutate a corpus rebuild explicitly)."""
    fp = df.groupBy().agg(
        F.count("*").alias("n"), F.sum(id_col).alias("s")
    ).first()
    return int(fp["n"]), int(fp["s"] or 0)


def build_once(
    spark: SparkSession,
    home: str,
    corpus: DataFrame,
    id_col: str,
    build,
    table: str | None = None,
) -> bool:
    """Run `build()` unless `home` already holds a build for `corpus`.

    Built means: `{home}/_built.json` records `fingerprint(corpus,
    id_col)` and the store format (`layout.FORMAT_VERSION`, so state
    built before a format bump rebuilds once) and, for a
    catalog-backed fixture, `table` is in the catalog (a fresh
    session's in-memory catalog forgets managed tables whose
    directories stay on disk). Otherwise `home` is removed, `build()`
    runs, and only then is the marker written, so a crash mid-build
    leaves no marker and the next call rebuilds. Returns True iff a
    build ran."""
    import json
    import os
    import shutil

    from .plans.layout import FORMAT_VERSION, _atomic_write

    marker = os.path.join(home, _BUILT)
    want = {"fingerprint": list(fingerprint(corpus, id_col)),
            "format": FORMAT_VERSION}
    try:
        with open(marker) as f:
            built = json.load(f) == want
    except FileNotFoundError:
        built = False
    if built and (table is None or spark.catalog.tableExists(table)):
        return False
    shutil.rmtree(home, ignore_errors=True)
    build()
    os.makedirs(home, exist_ok=True)
    _atomic_write(marker, json.dumps(want))
    return True
