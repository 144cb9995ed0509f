"""Source readers (reference scripts/extract.py, transform.py:25, load.py:56-111).

The reference's sources: a JDBC full-table scan with LIMIT pushed into
the SQL (S1), bronze CSV with inferred schema (S4), and a recursive
parquet glob + concat per table (S6).  Spark equivalents:

- S6's glob+concat is just ``spark.read.parquet(dir)`` — partition
  discovery + multi-file union are native, and Hive-style ``date=...``
  directories come back as a partition column with pruning for free.
  The schema comes from the table's ``.schema.json`` manifest
  (sources/writers) when it has one — the reference's hand-pinned
  columns, recorded by the writer — and from a footer-reading
  inference job only when it has none.
- S1's LIMIT pushdown is ``.limit(n)`` on a jdbc reader (Spark pushes
  LIMIT 1 level down) or, better, a pushed-down ``query`` option.
- S4: inferSchema matches the reference's behavior; production callers
  should pass a pinned schema (deterministic, single-pass).

Scale notes: parquet scans get predicate pushdown, column pruning and
the vectorized reader by default; ``maxPartitionBytes`` governs split
sizing on huge inputs (leave default 128 MB unless proven otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from retail_etl_pipeline_airflow_s3_athena_spark.functions.fsutil import read_schema_manifest


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet table at ``path`` with its manifest schema
    (no Spark job) or, without a manifest, by footer inference (one
    job).  Partition columns are discovered from the directory names
    either way, typed as inference types them."""
    schema = read_schema_manifest(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def read_parquet_table(spark: SparkSession, base_dir: str, table: str) -> DataFrame:
    """Read one logical table from a layer directory — replaces the
    reference's glob('**/*.parquet') + filename-prefix grouping +
    pd.concat (scripts/load.py:56-111, S6+S8+SET1)."""
    return read_parquet(spark, f"{base_dir}/{table}")


def read_bronze_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Bronze CSV source (reference scripts/transform.py:25, S4).
    With no schema, infer — the reference's behavior; pass a pinned
    StructType for deterministic production reads."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


# Reference scripts/load.py:8-38 (S8): filename-prefix -> logical table,
# including the alias quirks (sale_* -> sale_transactions but sales_* ->
# sales_managers).  Spark's catalog + partitioned directories make this
# unnecessary for our layout; kept for parity with bronze files produced
# by the reference's extract naming (<table>_<YYYYmmdd_HHMMSS>.csv).
_TABLE_PREFIXES = [
    "sale_transactions",
    "sales_managers",
    "customers",
    "products",
    "inventory",
    "stores",
]


def table_name_from_filename(filename: str) -> str | None:
    """Resolve a bronze filename to its logical table (reference
    extract_table_name_from_filename, load.py:8-38)."""
    import os.path

    base = os.path.basename(filename)
    base = base.rsplit(".", 1)[0]
    for t in _TABLE_PREFIXES:
        if base == t or base.startswith(t + "_"):
            return t
    if base.startswith("sales_"):
        return "sales_managers"
    if base.startswith("sale"):
        return "sale_transactions"
    return None


def _parse_byte_conf(conf: str, default: int = 134217728) -> int:
    """Parse a Spark byte-size conf value the way Spark's
    ``byteStringAs`` does for the common cases: bare digits are bytes,
    and k/m/g/t (optionally followed by ``b``, any case — '128m',
    '64MB', '1g') are binary multipliers.  Falls back to ``default``
    on anything unrecognized rather than misreading '128m' as 128
    bytes (which would explode the split estimate and silently turn
    ``fan_out`` into a permanent no-op)."""
    s = conf.strip().lower()
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    if not s.isdigit():
        return default
    return int(s) * mult


def _estimated_scan_bytes(df: DataFrame) -> int | None:
    """Total source bytes from the scan's file listing — no
    ``df.rdd`` conversion (which forces a full plan analysis per read;
    measurable driver overhead at query rates).  Returns None when the
    estimate can't be made cheaply (non-local files, no file source) —
    callers should treat None as "big enough"."""
    import os

    files = df.inputFiles()
    if not files:
        return None
    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        if "://" in path:
            return None  # remote store: don't stat, assume at-scale
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimate the scan's split count from the source file listing.

    Returns None when the estimate can't be made cheaply — callers
    should treat None as "big enough" so at-scale tables never pay an
    unnecessary shuffle."""
    import math

    total = _estimated_scan_bytes(df)
    if total is None:
        return None
    conf = df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728b"
    )
    max_pb = _parse_byte_conf(conf)
    # Spark packs small files into maxPartitionBytes bins and splits
    # large ones by bytes; total/max_pb is the monotone proxy for both
    return max(1, math.ceil(total / max_pb))


# Source bytes per compute partition when fanning out a small scan.
# CPU-dense operators (hashing, tokenization, unrolled vector math) do
# useful work at ~100-1000x the cost of scanning the bytes, so ~256 KB
# of columnar input per task keeps tasks in the tens-of-milliseconds
# range — big enough to amortize scheduling, small enough that a
# single-file source still spreads across cores.  r12 measurement: the
# previous unconditional fan-out to defaultParallelism put 62 rows in
# each of 32 tasks at sf0.1 (2000-vector embeddings), and the 32-task
# stages cost ~0.3-0.6 s of pure scheduling per shuffle — the dominant
# term of every PQ/ANN/dedup query at bench scale.  Deriving the width
# from input size (guide §2: scale-adaptive partitioning) keeps sf>=1
# and any real cluster at full width while small scans stop paying for
# parallelism they cannot use.
import os as _os

FAN_OUT_BYTES_PER_PARTITION = int(
    _os.environ.get("SPARK_GRAFT_FANOUT_BYTES", 256 << 10)
)


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_partition: int | None = None,
) -> DataFrame:
    """Raise scan parallelism for CPU-DENSE downstream work (hashing,
    tokenization, vector math).

    Spark sizes scan splits by BYTES (maxPartitionBytes), which is the
    right proxy for IO-bound plans but starves compute-bound ones: a
    594 KB documents file is one split, so md5-ing 300k tokens runs on
    1 of 32 cores.  This helper is conditional — when the source's
    estimated split count already reaches the target (any real
    at-scale table) or can't be estimated cheaply, it is a no-op; only
    provably-small local scans pay the cheap up-front round-robin
    shuffle.  The target width is SIZE-DERIVED (one partition per
    ``FAN_OUT_BYTES_PER_PARTITION`` of source, capped at
    defaultParallelism) so a tiny table is not sliced into
    scheduling-overhead-sized tasks; ``min_partitions`` overrides for
    callers that know their per-row cost."""
    sc = df.sparkSession.sparkContext
    est_bytes = _estimated_scan_bytes(df)
    if min_partitions is not None:
        target = min_partitions
    elif est_bytes is None:
        target = sc.defaultParallelism
    else:
        import math

        bpp = bytes_per_partition or FAN_OUT_BYTES_PER_PARTITION
        target = min(
            sc.defaultParallelism,
            max(1, math.ceil(est_bytes / bpp)),
        )
    est = _estimated_scan_splits(df)
    if est is not None and est < target:
        return df.repartition(target)
    return df


# Documents feed token-at-a-time hashing (128 MinHash permutations per
# shingle, md5 per token): the per-byte work is ~4x the vector-math
# paths', so documents fan out 4x wider for the same source size
# (64 KB/partition vs the 256 KB default — the measured sf0.1 sweet
# spot across the store/dedup/text families; 16 KB over-splits and
# 256 KB under-parallelizes the minhash stages).
DOCS_BYTES_PER_PARTITION = 64 << 10


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents fixture, fanned out for the tokenize/hash-heavy
    dedup and text-analysis operators."""
    return fan_out(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        bytes_per_partition=DOCS_BYTES_PER_PARTITION,
    )


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings fixture, fanned out for vector math (unrolled
    expression dot products / Arrow-batched GEMM)."""
    return fan_out(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events fixture.

    The current fixture stores ``ts`` as microsecond (timestamp[us])
    parquet, which Spark reads natively as ``timestamp_ntz`` — the
    common path does no conversion.  A LEGACY fallback handles
    nanosecond fixtures (Spark has no TIMESTAMP(NANOS): the first read
    fails, we set ``spark.sql.legacy.parquet.nanosAsLong`` so the
    column arrives as raw nanos, and ``timestamp_micros(ts div 1000)``
    rebuilds a timestamp — integer division, no double-precision loss).
    The conf is only touched when that fallback actually triggers."""
    try:  # the session may predate us (driver-owned); set at runtime.
        # timestamp_micros yields LTZ; pin UTC so NTZ casts are exact
        # even on a session we didn't configure.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:  # noqa: BLE001 — read will fail loudly if unsupported
        pass
    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — legacy nanos fixture
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    if dict(df.dtypes)["ts"] == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"),
        )
    return df


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """JSON source (schema-pinned preferred; inference scans twice)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — same columnar pushdown/pruning story as parquet."""
    return spark.read.orc(path)


# LIMIT spelling per JDBC dialect: the reference's Postgres source
# takes `LIMIT n` (scripts/extract.py:45-48); SQL-standard engines
# (Derby — which Spark bundles for the Hive metastore and which the
# live round-trip test runs against — Oracle, DB2) take
# `FETCH FIRST n ROWS ONLY`.
_FETCH_FIRST_DIALECTS = ("derby", "oracle", "db2")


def _jdbc_dialect(url: str) -> str:
    parts = url.split(":")
    return parts[1].lower() if len(parts) > 1 else ""


def jdbc_extract_query(
    table: str, limit: int | None = None, dialect: str = "postgresql"
) -> str:
    """The pushed-down extract SQL, exactly the reference's contract
    (scripts/extract.py:45-48): ``SELECT * FROM <schema.table>`` with
    the optional row cap inside the source SQL so the database never
    ships more than ``limit`` rows.  The cap is spelled per dialect
    (LIMIT vs FETCH FIRST) but always pushed."""
    query = f"SELECT * FROM {table}"
    if limit is not None:
        if dialect in _FETCH_FIRST_DIALECTS:
            query += f" FETCH FIRST {int(limit)} ROWS ONLY"
        else:
            query += f" LIMIT {int(limit)}"
    return query


def jdbc_reader_options(
    url: str, table: str, limit: int | None = None, **options: str
) -> dict[str, str]:
    """The full option map handed to the jdbc reader — pure function so
    the pushdown contract is testable without a live database/driver."""
    return {
        "url": url,
        "query": jdbc_extract_query(table, limit, _jdbc_dialect(url)),
        **options,
    }


def jdbc_partition_options(
    table: str,
    partition_column: str,
    lower_bound,
    upper_bound,
    num_partitions: int,
) -> dict[str, str]:
    """Option map for a PARALLEL range-partitioned JDBC scan — pure
    function so the contract is testable without a live database.
    Spark turns these into ``num_partitions`` concurrent source
    queries, each with a ``partition_column`` range predicate, instead
    of one connection dragging the whole table (the reference's fact
    table is "1M+ rows" — dags/retail_etl_dag.py — over a single
    psycopg2 cursor)."""
    return {
        "dbtable": table,
        "partitionColumn": partition_column,
        "lowerBound": str(lower_bound),
        "upperBound": str(upper_bound),
        "numPartitions": str(int(num_partitions)),
    }


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    limit: int | None = None,
    partition_column: str | None = None,
    lower_bound=None,
    upper_bound=None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC extract — the reference's S1 (scripts/extract.py:22-91),
    Spark-first in two shapes:

    - **Single-connection** (default, and always when ``limit`` is
      set): the optional row cap is pushed inside the source ``query``
      exactly as extract.py:45-48 builds it.
    - **Parallel** (``partition_column`` + bounds + ``num_partitions``):
      Spark issues one range-predicated source query per partition —
      the scan scales with the cluster instead of one cursor.  The
      bounds only steer the split points; rows outside them are still
      read (standard Spark JDBC semantics), so the result set is
      IDENTICAL to the single-connection read.

    ``limit`` + ``partition_column`` is refused loudly: a capped
    subquery re-executes per partition query, and without ORDER BY the
    database may return a different arbitrary row set to each — the
    dev-sampling cap keeps the deterministic single-connection path.

    Needs the source's JDBC driver jar on the classpath; the bundled
    Derby driver makes BOTH paths live-testable in this sandbox
    (tests/test_pipeline.py::test_jdbc_{round_trip,parallel_partitions}
    _via_derby)."""
    reader = spark.read.format("jdbc")
    if partition_column is not None:
        if limit is not None:
            raise ValueError(
                "limit cannot be combined with a partitioned JDBC read: "
                "a row-capped subquery is re-executed per partition "
                "query and returns nondeterministic row sets without "
                "ORDER BY; drop the cap or the partitioning"
            )
        if lower_bound is None or upper_bound is None or not num_partitions:
            raise ValueError(
                "partitioned JDBC read needs lower_bound, upper_bound "
                "and num_partitions alongside partition_column"
            )
        opts = {
            "url": url,
            **jdbc_partition_options(
                table, partition_column, lower_bound, upper_bound,
                num_partitions,
            ),
            **options,
        }
    else:
        opts = jdbc_reader_options(url, table, limit, **options)
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def read_silver_merged(
    spark: SparkSession, base_dir: str, table: str
) -> DataFrame:
    """Silver reader that tolerates SCHEMA DRIFT across run-date
    partitions: upstream sources add columns over time, and each
    ``date=YYYYMMDD`` snapshot freezes the schema it saw.  The drifted
    append removes the table's schema manifest (sources/writers), so a
    plain parquet read infers, and picks ONE footer's schema
    (whichever file is listed first) and silently drops columns the
    other partitions carry;
    ``mergeSchema`` unions all footers — pre-drift partitions read the
    new columns as NULL, which is the correct backfill-free semantics.

    Cost note (why this is not the default read path): schema merge
    reads EVERY file's footer at planning time — at 100 TB that is a
    metadata pass over the full file listing, so production tables
    should converge on a registered catalog schema and reserve the
    merged read for the drift window."""
    return (
        spark.read.option("mergeSchema", "true").parquet(f"{base_dir}/{table}")
    )


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source.  With ``schema`` the read is a pure parse
    (no inference pass — the 100 TB default: schema lives in the
    manifest, not in a second full scan); without it Spark samples for
    inference, acceptable only for exploration."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
