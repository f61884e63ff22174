"""Destinations — the engine's counterparts of the reference's four
``destination_*`` sinks (SURVEY.md §2.7).

Every destination implements one method, ``sync(df, table_name, path)``:
ensure the schema, read the destination's current column set, run the
truncate-vs-drop decision (policy.py), then bulk-load through Spark's
writer, counting rows in the load's own job (an ``Observation``; the
reference's ``len(data) - 1``, data.py:122). A failed probe raises;
only an absent table reads as CREATE. The namespace rule is the
reference's: schema prefix ``x_excel`` suffixed with the tenant
``path`` → ``x_excel_<path>`` (app/data.py:103-105).

Sink mapping (reference → Spark):
  * local CSV dir (data.py:137-153)        → LocalDestination (parquet
    ``saveAsTable`` in the session catalog by default, CSV on request);
  * Azure DW pyodbc batched INSERT 1000/stmt (data.py:188-201)
                                            → JdbcDestination with
    ``batchsize=1000`` — Spark's JDBC writer does batched prepared
    inserts natively, per-partition in parallel;
  * Redshift S3+COPY (data.py:88-134) and Snowflake stage+COPY INTO
    (data.py:205-255)                       → CloudCopyDestination:
    stage gzip CSV, then run the full reconcile-DDL + COPY lifecycle
    over JDBC (same options: GZIP CSV, COMPUPDATE OFF for Redshift).
    With no ``jdbc_url`` (no credentials) the COPY is surfaced instead
    of executed; the execution path itself is integration-tested
    end-to-end against embedded Derby via ``copy_template``.

At scale the load path is executor-parallel end-to-end: Spark writes N
partitions concurrently (JDBC: N connections; cloud: N staged objects →
one COPY), the driver only issues DDL. A payload sheet's N follows its
bytes (``csv_source.matrix_to_df``): a small sheet is one partition.
"""

from __future__ import annotations

import glob
import threading
from contextlib import closing
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation

from excel_to_database_spark.report import LoadReport
from excel_to_database_spark.sync.policy import SyncAction, decide_sync_action

SCHEMA_PREFIX = "x_excel"  # reference: app/data.py:103


def tenant_schema(path: str | None) -> str:
    return f"{SCHEMA_PREFIX}_{path}" if path else SCHEMA_PREFIX


def _counted(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` counting its rows as it is written: after the write,
    ``obs.get["n"]`` is the record count, taken in the load's own job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


_METADATA_LOOKUP = threading.Lock()


class _Jdbc:
    """One driver-side JDBC connection — the channel the reference's
    cursor uses for DDL and COPY (data.py:113-133) — with the catalog
    reads the JDBC sinks share. Metadata lookups fold names the way the
    database stores unquoted identifiers (Derby: ``X_EXCEL.T``)."""

    def __init__(self, spark, url: str, properties: dict):
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in properties.items():
            if k == "driver":
                jvm.java.lang.Class.forName(v)
            else:
                props.setProperty(k, str(v))
        self.conn = jvm.java.sql.DriverManager.getConnection(url, props)

    def close(self) -> None:
        self.conn.close()

    def fold(self, name: str) -> str:
        md = self.conn.getMetaData()
        if md.storesUpperCaseIdentifiers():
            return name.upper()
        return name.lower() if md.storesLowerCaseIdentifiers() else name

    def execute(self, sql: str) -> None:
        self.conn.createStatement().execute(sql)

    def _lists(self, lookup: str, *args, **names: str) -> bool:
        """Whether ``DatabaseMetaData.<lookup>(*args)`` returns a row
        with exactly these names (``_`` is a wildcard in the lookup's
        pattern). One lookup at a time per process: after another
        sheet's DDL invalidates Derby's stored metadata statement, two
        connections recompiling it at once deadlock (undetected; the
        lookup fails after Derby's 60 s lock timeout)."""
        with _METADATA_LOOKUP:
            rs = getattr(self.conn.getMetaData(), lookup)(*args)
            found = False
            while not found and rs.next():
                found = all(rs.getString(k) == v for k, v in names.items())
            rs.close()
        return found

    def ensure_schema(self, schema: str) -> None:
        """CREATE SCHEMA when ``getSchemas`` does not list it (reference:
        data.py:116, :175-177, :231). A failed CREATE that leaves the
        schema listed lost a race to a concurrent sheet sync and passes;
        any other DDL error raises."""
        schema = self.fold(schema)

        def listed() -> bool:
            return self._lists("getSchemas", None, schema, TABLE_SCHEM=schema)

        if not listed():
            try:
                self.execute(f"CREATE SCHEMA {schema}")
            except Py4JJavaError:
                if not listed():
                    raise

    def columns(self, fqtn: str) -> list[str] | None:
        """The table's columns, or None when ``getTables`` does not list
        it (→ CREATE). Any failure of the probe itself raises."""
        schema, table = map(self.fold, fqtn.split("."))
        if not self._lists("getTables", None, schema, table, None, TABLE_SCHEM=schema, TABLE_NAME=table):
            return None
        rs = self.conn.createStatement().executeQuery(f"SELECT * FROM {fqtn} WHERE 1=0")
        meta = rs.getMetaData()
        names = [meta.getColumnName(i) for i in range(1, meta.getColumnCount() + 1)]
        rs.close()  # Derby refuses DDL on a table with an open result set
        return names


class Destination:
    """Interface mirroring the reference's destination dispatch
    (app/home.py:28-35)."""

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        raise NotImplementedError


@dataclass
class LocalDestination(Destination):
    """Catalog-managed tables (parquet via ``saveAsTable``), or plain
    CSV files when ``fmt='csv'`` for byte-parity with the reference's
    local sink (data.py:137-153).

    ``partition_by`` hive-partitions the table on write — at fact-table
    scale this is what makes date/tenant-predicate queries prune files
    instead of scanning the world (PartitionFilters in the plan;
    tests/test_bucketing.py asserts it)."""

    fmt: str = "parquet"
    strict: bool = False
    partition_by: tuple[str, ...] = ()

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        spark = df.sparkSession
        schema = tenant_schema(path)
        fqtn = f"{schema}.{table_name}"
        if spark.catalog.tableExists(fqtn):
            existing = spark.table(fqtn).columns
        else:
            # an existing table implies its schema: only a new table may need one
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {schema}")
            existing = None
        action = decide_sync_action(existing, df.columns, strict=self.strict)
        df, obs = _counted(df)
        if action is SyncAction.TRUNCATE:
            # same column set: INSERT OVERWRITE keeps the table identity.
            # insertInto is positional, so align to the table's column
            # order by name first — a deliberate fix of the reference's
            # reorder blind spot (data.py:120-126; SURVEY.md §7.3), which
            # would silently load misaligned data.
            by_name = {c.lower(): c for c in df.columns}
            df.select(*[by_name[c.lower()] for c in existing]).write.mode(
                "overwrite"
            ).insertInto(fqtn)
        else:
            if action is SyncAction.RECREATE:
                spark.sql(f"DROP TABLE IF EXISTS {fqtn}")
            writer = df.write.format(self.fmt).mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.saveAsTable(fqtn)
        return LoadReport(action.value, schema, table_name, obs.get["n"])


@dataclass
class JdbcDestination(Destination):
    """Generic warehouse sink over JDBC (the reference's Azure DW path,
    data.py:156-202, minus pyodbc). ``batchsize`` default honors the
    reference's 1000-row INSERT batching (data.py:194)."""

    url: str
    properties: dict = field(default_factory=dict)
    batchsize: int = 1000
    strict: bool = False

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        schema = tenant_schema(path)
        fqtn = f"{schema}.{table_name}"
        with closing(_Jdbc(df.sparkSession, self.url, self.properties)) as db:
            db.ensure_schema(schema)
            action = decide_sync_action(db.columns(fqtn), df.columns, strict=self.strict)
        df, obs = _counted(df)
        (
            df.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", fqtn)
            .option("batchsize", self.batchsize)
            .options(**self.properties)
            .option("truncate", action is SyncAction.TRUNCATE)
            .mode("overwrite")
            .save()
        )
        return LoadReport(action.value, schema, table_name, obs.get["n"])


@dataclass
class CloudCopyDestination(Destination):
    """Stage-and-COPY pattern (Redshift data.py:88-134, Snowflake
    data.py:205-255): executors write (gzipped) CSV to the stage URI in
    parallel, then the driver runs the reconciliation DDL and ONE COPY
    statement over JDBC — the full reference lifecycle (CREATE SCHEMA
    data.py:116; truncate-vs-drop data.py:117-131, :211-241; COPY
    data.py:106-133, :243-254).

    Without ``jdbc_url`` the staging still happens and the would-be COPY
    is surfaced in a ``NotImplementedError`` (credential-gated).
    ``copy_template`` overrides the dialect statement (placeholders
    ``{fqtn} {schema} {table} {schema_upper} {table_upper} {staged}``)
    so any CSV-bulk-load-capable JDBC engine can stand in for the
    warehouse — the integration test drives the whole path against
    embedded Derby's SYSCS_IMPORT_TABLE."""

    kind: str  # "redshift" | "snowflake"
    stage_uri: str
    jdbc_url: str = ""
    properties: dict = field(default_factory=dict)
    strict: bool = False
    compression: str | None = "gzip"
    single_file: bool = False  # coalesce(1): for loaders that take one file
    copy_template: str | None = None
    ddl_type: str | None = None  # column type; dialect default otherwise
    drop_cascade: bool | None = None  # None → dialect default (Redshift: yes)

    def copy_statement(self, fqtn: str, staged_path: str) -> str:
        if self.copy_template:
            schema, _, table = fqtn.partition(".")
            return self.copy_template.format(
                fqtn=fqtn,
                schema=schema,
                table=table,
                schema_upper=schema.upper(),
                table_upper=table.upper(),
                staged=staged_path,
            )
        if self.kind == "redshift":
            # data.py:106-112 options: CSV, GZIP, COMPUPDATE OFF
            return (
                f"COPY {fqtn} FROM '{staged_path}' "
                "FORMAT CSV GZIP COMPUPDATE OFF IGNOREHEADER 0"
            )
        if self.kind == "snowflake":
            # data.py:243-254: stage PUT + COPY INTO
            return (
                f"COPY INTO {fqtn} FROM '@{staged_path}' "
                "FILE_FORMAT = (TYPE = CSV COMPRESSION = GZIP)"
            )
        raise ValueError(f"unknown cloud sink kind: {self.kind}")

    def stage(self, df: DataFrame, table_name: str) -> str:
        staged = f"{self.stage_uri.rstrip('/')}/{table_name}"
        writer = (df.coalesce(1) if self.single_file else df).write.mode("overwrite")
        if self.compression:
            writer = writer.option("compression", self.compression)
        writer.csv(staged)
        return staged

    def _staged_entry(self, staged: str) -> str:
        """The path handed to the COPY statement: the stage directory
        (warehouse COPY takes a prefix), or the single part file when
        ``single_file`` loaders need one concrete file."""
        if not self.single_file:
            return staged
        local = staged.removeprefix("file:")
        parts = sorted(glob.glob(f"{local}/part-*"))
        return parts[0] if parts else staged

    def sync(self, df: DataFrame, table_name: str, path: str | None = None) -> LoadReport:
        schema = tenant_schema(path)
        fqtn = f"{schema}.{table_name}"
        df, obs = _counted(df)
        staged = self.stage(df, table_name)
        copy_sql = self.copy_statement(fqtn, self._staged_entry(staged))
        if not self.jdbc_url:
            raise NotImplementedError(
                f"no JDBC endpoint configured; staged data at {staged}; "
                f"would run: {copy_sql}"
            )
        with closing(_Jdbc(df.sparkSession, self.jdbc_url, self.properties)) as db:
            db.ensure_schema(schema)
            action = decide_sync_action(db.columns(fqtn), df.columns, strict=self.strict)
            if action is SyncAction.TRUNCATE:
                db.execute(f"TRUNCATE TABLE {fqtn}")
            else:
                if action is SyncAction.RECREATE:
                    # reference drops CASCADE on Redshift (data.py:127-128);
                    # Derby and others take a bare DROP
                    cascade = self.drop_cascade
                    if cascade is None:
                        cascade = self.kind == "redshift"
                    db.execute(f"DROP TABLE {fqtn}{' CASCADE' if cascade else ''}")
                # reference: Redshift VARCHAR (data.py:57-62), Snowflake TEXT (data.py:241)
                ctype = self.ddl_type or ("TEXT" if self.kind == "snowflake" else "VARCHAR(2000)")
                cols = ", ".join(f"{c} {ctype}" for c in df.columns)
                db.execute(f"CREATE TABLE {fqtn} ({cols})")
            db.execute(copy_sql)
        return LoadReport(action.value, schema, table_name, obs.get["n"])


def sync_table(
    df: DataFrame,
    table_name: str,
    destination: Destination | None = None,
    path: str | None = None,
) -> LoadReport:
    """One-call sheet→table sync (the engine's `/upload` per-sheet step)."""
    return (destination or LocalDestination()).sync(df, table_name, path)
