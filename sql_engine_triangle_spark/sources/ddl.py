"""DDL / catalog-maintenance surface (SURVEY.md §2.11) + federated
scan and engine-to-engine copy (§2.1 S3, S7, S8).

The reference's CREATE TABLE / DROP / ANALYZE / FDW / cross-engine
copy, as thin Spark-catalog wrappers:

- external tables (S7): `CREATE TABLE ... USING parquet LOCATION` —
  the Spark analog of the pg_clickhouse FOREIGN TABLE registration
  (init.sql:27-70): the data stays where it is, the catalog gets a
  typed relation.
- typed copy (S8): read → cast projection → write to a new table —
  the CH→CSV→Cedar / FDW→heap pipelines (README.md:250-333).
- staging fetch (S3): redirect-following fetch of a remote CSV to a
  local staging path (url() table function, README.md:176-178) —
  Spark's file readers are DFS-based, so remote HTTP sources stage
  first. Gated: no network in CI, tested via file:// URLs.
- ANALYZE (stats → CBO; README.md:353,367).
- dynamic partition DDL templating (F15; preparedataset.sql:98-105).
- the table handle (`open_table`): a parquet directory read as a
  catalog table whose partitions are tracked by the catalog, so a
  read lists only the partitions its filters keep (the lab's
  ``PARTITION BY toYYYYMM(date)`` metadata, 01-create-table.sql:72).
"""

from __future__ import annotations

import hashlib
import os
import threading
import urllib.request
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession


def create_external_table(spark: SparkSession, name: str, location: str) -> set[str]:
    """S7: register an external parquet table at ``location`` (a path
    on the driver's file system) and return its partition directory
    names. Schema AND partition columns are inferred from the
    Hive-style layout (Spark forbids PARTITIONED BY without an explicit
    column list). Spark recovers no partition at CREATE time, so they
    are added here from one listing of ``location`` — the ALTER TABLE
    form runs no job, where MSCK REPAIR runs one."""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {name} USING parquet LOCATION '{location}'")
    names = _partition_dirs(location) if os.path.isdir(location) else set()
    _add_partitions(spark, name, names)
    return names


def drop_table_if_exists(spark: SparkSession, name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {name}")


@dataclass
class _Registration:
    name: str
    root: tuple[int, int]  # (st_dev, st_ino) of the directory registered
    partitions: set[str] = field(default_factory=set)  # directory names


# (applicationId, absolute path) -> the catalog table serving that path
_TABLES: dict[tuple[str, str], _Registration] = {}
_TABLES_LOCK = threading.Lock()


def open_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet directory at ``path`` (a path on the driver's file
    system) as a catalog table.

    On first use in a SparkContext the path is registered as an
    EXTERNAL parquet table (``create_external_table``) under a reserved
    name derived from a hash of the path (``table_name``), in the
    session's default database, and its partitions are recovered into
    the catalog. The schema, partition column included, is inferred
    once, there: a later read runs no schema job, and a file written
    with other columns is read with the registered ones. Every open then

    - lists the root's partition directory names on the driver (one
      readdir) and adds or drops catalog partitions for the names that
      changed;
    - refreshes the table, so the partitions a query keeps have their
      files listed again: appended, compacted or swapped files are
      seen by the next read; a pruned partition is never listed.

    The table is registered again (dropped, then created) when the
    root directory was replaced (another inode, as after a rename
    swap) or after ``forget_table(path)``, which
    ``sources.ingest.write_partitioned(mode="overwrite")`` calls. A
    missing path raises the AnalysisException a parquet read of it
    raises and drops the registration. One partition level (or none)
    is supported: the Hive layout ``write_partitioned`` writes.

    A frame from here is planned against the table as it is when the
    frame runs; run it before its path is swapped or rewritten."""
    path = os.path.abspath(path)
    key = (spark.sparkContext.applicationId, path)
    with _TABLES_LOCK:
        reg = _TABLES.get(key)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            if reg is not None:
                drop_table_if_exists(spark, f"`{reg.name}`")
                del _TABLES[key]
            spark.read.parquet(path)  # raises Spark's PATH_NOT_FOUND
            raise
        root = (st.st_dev, st.st_ino)
        if reg is None or reg.root != root:
            name = table_name(path)
            drop_table_if_exists(spark, f"`{name}`")
            names = create_external_table(spark, f"`{name}`", path)
            reg = _TABLES[key] = _Registration(name, root, names)
        else:
            _sync_partitions(spark, reg, _partition_dirs(path))
        spark.catalog.refreshTable(reg.name)
        return spark.table(reg.name)


def table_name(path: str) -> str:
    """The catalog name ``open_table`` registers ``path`` under, for
    SQL text that reads the table ``open_table(spark, path)`` opened."""
    return "_open_table_" + hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:16]


def forget_table(path: str) -> None:
    """Make the next ``open_table(spark, path)`` register the path
    again, so a rewrite with other columns is read with its own
    schema."""
    path = os.path.abspath(path)
    with _TABLES_LOCK:
        for key in [k for k in _TABLES if k[1] == path]:
            del _TABLES[key]


def _partition_dirs(path: str) -> set[str]:
    # Spark skips names starting with "_" or "." (_temporary, ...)
    with os.scandir(path) as entries:
        return {
            e.name
            for e in entries
            if "=" in e.name and not e.name.startswith(("_", ".")) and e.is_dir()
        }


def _partition_spec(dirname: str) -> str:
    col, value = dirname.split("=", 1)
    value = unquote(value).replace("\\", "\\\\").replace("'", "\\'")
    return f"PARTITION (`{col}` = '{value}')"


def _add_partitions(spark: SparkSession, table: str, names: set[str]) -> None:
    if names:
        specs = " ".join(_partition_spec(n) for n in sorted(names))
        spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS {specs}")


def _sync_partitions(spark: SparkSession, reg: _Registration, names: set[str]) -> None:
    """Add and drop catalog partitions so they match ``names``. An
    EXTERNAL table keeps the files of a dropped partition."""
    table = f"`{reg.name}`"
    _add_partitions(spark, table, names - reg.partitions)
    dropped = sorted(reg.partitions - names)
    if dropped:
        specs = ", ".join(_partition_spec(n) for n in dropped)
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")
    reg.partitions = names


def analyze_table(spark: SparkSession, name: str, columns: list[str] | None = None) -> None:
    """ANALYZE → table/column stats for the CBO (§2.11; with
    spark.sql.cbo.enabled these feed join reordering and the
    broadcast threshold decision)."""
    if columns:
        spark.sql(
            f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")


def table_row_count_stat(spark: SparkSession, name: str) -> int | None:
    """Row count as recorded in catalog stats (None if not analyzed)."""
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Statistics":
            for tok in row.data_type.split(","):
                tok = tok.strip()
                if tok.endswith("rows"):
                    return int(tok.split()[0])
    return None


def copy_table_typed(
    spark: SparkSession,
    source: DataFrame,
    target_name: str,
    target_path: str,
    casts: dict[str, str] | None = None,
    mode: str = "overwrite",
) -> None:
    """S8: engine-to-engine copy with a typed projection (the lab's
    CH→Cedar CSV pipe and FDW→heap INSERT...SELECT with casts,
    README.md:250-333) — here: select-with-casts → external parquet
    table registration."""
    df = source
    if casts:
        df = df.selectExpr(
            *[
                f"CAST({c} AS {t}) AS {c}" if c in casts else c
                for c, t in ((c, casts.get(c)) for c in df.columns)
            ]
        )
    df.write.mode(mode).option("path", target_path).saveAsTable(target_name)


def fetch_to_staging(url: str, staging_path: str, max_redirects: int = 10) -> str:
    """S3: redirect-following fetch of a remote source file to a
    local staging path (max_http_get_redirects=10, README.md:197).
    Supports http(s):// and file:// URLs; Spark then reads the staged
    file with the normal CSV/parquet readers."""
    redirect = urllib.request.HTTPRedirectHandler()
    redirect.max_redirections = max_redirects
    opener = urllib.request.build_opener(redirect)
    with opener.open(url) as resp, open(staging_path, "wb") as out:
        while chunk := resp.read(1 << 20):
            out.write(chunk)
    return staging_path


def monthly_partition_ddl(
    table: str, start_yyyymm: int, end_yyyymm: int
) -> list[str]:
    """F15: dynamic DDL templating — generate ADD PARTITION
    statements for a month range (the pg_partman loop,
    preparedataset.sql:98-105)."""
    out = []
    y, m = divmod(start_yyyymm, 100)
    while y * 100 + m <= end_yyyymm:
        out.append(f"ALTER TABLE {table} ADD IF NOT EXISTS PARTITION (month={y:04d}{m:02d})")
        m += 1
        if m > 12:
            y, m = y + 1, 1
    return out
