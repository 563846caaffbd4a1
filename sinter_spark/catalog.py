"""Iceberg-shaped catalog abstraction (SURVEY.md §7.0).

north_rule: "over Iceberg tables … resumable from an Iceberg checkpoint
table carrying per-partition lineage + stats metrics". No Iceberg jars
ship in this sandbox, so the engine talks to a small catalog API shaped
like Iceberg's public concepts — catalog → table → snapshots →
partition manifest — with two backends:

* :class:`LocalParquetCatalog` — parquet data files + an atomically
  replaced ``metadata.json`` per table holding the snapshot log and the
  per-partition manifest. Commits are Iceberg-style: data files are
  written first, then one atomic metadata swap makes them live; a crash
  between the two leaves the table at the previous snapshot. Snapshot
  ids give time travel (:meth:`Table.read_at`).
* :class:`IcebergCatalog` — a thin passthrough to a real Iceberg Spark
  catalog (``USING iceberg`` SQL) used automatically when the session
  is configured with Iceberg extensions. Same API; swapping backends is
  a deployment change, not a code change.

Engine code (checkpoint.py) goes through this module only.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from .session import local_frame


@dataclass(frozen=True)
class Snapshot:
    """One committed table state (Iceberg snapshot analogue)."""

    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # "append" | "overwrite"
    summary: dict[str, Any] = field(default_factory=dict)
    # partition key ("" for unpartitioned) → data dirs whose files for
    # that partition are live in this snapshot
    manifest: dict[str, list[str]] = field(default_factory=dict)


class Table:
    """A parquet-backed table with a snapshot log and partition manifest."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.metadata_path = f"{self.path}/metadata.json"

    # -- metadata ------------------------------------------------------------

    def _read_meta(self) -> dict:
        with open(self.metadata_path) as f:
            return json.load(f)

    def _commit_meta(self, meta: dict) -> None:
        # single atomic swap = the commit point (data files written before)
        tmp = self.metadata_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, self.metadata_path)

    @property
    def name(self) -> str:
        return self._read_meta()["name"]

    @property
    def partition_by(self) -> list[str]:
        return list(self._read_meta()["partition_by"])

    @property
    def properties(self) -> dict:
        return dict(self._read_meta().get("properties", {}))

    def update_properties(self, **props) -> None:
        meta = self._read_meta()
        meta.setdefault("properties", {}).update(props)
        self._commit_meta(meta)

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._read_meta()["snapshots"]]

    def current_snapshot(self) -> Snapshot | None:
        meta = self._read_meta()
        sid = meta.get("current_snapshot_id")
        if sid is None:
            return None
        return next(Snapshot(**s) for s in meta["snapshots"] if s["snapshot_id"] == sid)

    # -- writes ----------------------------------------------------------------

    def _next_data_dir(self, meta: dict) -> str:
        n = meta.get("last_data_seq", 0) + 1
        meta["last_data_seq"] = n
        return f"data/{n:05d}"

    def _write_data(self, df: DataFrame, rel_dir: str, partition_by: list[str]) -> list[str]:
        """Write files under ``rel_dir``; return the FULL partition keys
        produced — one per leaf partition directory ("bucket=3", or
        "a=1/b=2" for multi-column partitioning, "" when unpartitioned).
        Keys must be leaf-grained: the manifest replaces at key
        granularity, and a coarser (first-level) key would make dynamic
        overwrite silently drop sibling sub-partitions."""
        abs_dir = f"{self.path}/{rel_dir}"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(abs_dir)
        if not partition_by:
            return [""]
        keys = [""]
        for _level in partition_by:
            nxt = []
            for k in keys:
                d = f"{abs_dir}/{k}" if k else abs_dir
                for e in os.listdir(d):
                    if "=" in e and os.path.isdir(f"{d}/{e}"):
                        nxt.append(f"{k}/{e}" if k else e)
            keys = nxt
        return sorted(keys)

    def _commit(self, meta: dict, operation: str, manifest: dict, summary: dict) -> Snapshot:
        parent = meta.get("current_snapshot_id")
        sid = (parent or 0) + 1
        snap = {
            "snapshot_id": sid,
            "parent_id": parent,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "summary": summary,
            "manifest": manifest,
        }
        meta["snapshots"].append(snap)
        meta["current_snapshot_id"] = sid
        self._commit_meta(meta)
        return Snapshot(**snap)

    def _manifest_of(self, meta: dict) -> dict[str, list[str]]:
        """Current manifest derived from the IN-HAND meta — re-reading
        metadata.json mid-commit would both waste I/O and open a window
        where a concurrent commit's snapshot list is clobbered by this
        writer's stale copy."""
        sid = meta.get("current_snapshot_id")
        if sid is None:
            return {}
        cur = next(s for s in meta["snapshots"] if s["snapshot_id"] == sid)
        return {k: list(v) for k, v in cur["manifest"].items()}

    def append(self, df: DataFrame) -> Snapshot:
        """Add files; existing data stays live (Iceberg append)."""
        meta = self._read_meta()
        rel = self._next_data_dir(meta)
        written = self._write_data(df, rel, meta["partition_by"])
        manifest = self._manifest_of(meta)
        for pkey in written:
            manifest.setdefault(pkey, []).append(rel)
        return self._commit(meta, "append", manifest, {"added_data_dirs": 1, "partitions_touched": len(written)})

    def overwrite_partitions(self, df: DataFrame) -> Snapshot:
        """Replace exactly the partitions present in ``df`` (Iceberg
        dynamic partition overwrite); untouched partitions keep their
        files. On an unpartitioned table this replaces the whole table."""
        meta = self._read_meta()
        rel = self._next_data_dir(meta)
        written = self._write_data(df, rel, meta["partition_by"])
        manifest = self._manifest_of(meta)
        for pkey in written:
            manifest[pkey] = [rel]
        return self._commit(meta, "overwrite", manifest, {"partitions_replaced": len(written)})

    # -- reads -----------------------------------------------------------------

    def _empty_df(self) -> DataFrame:
        from pyspark.sql.types import StructType

        meta = self._read_meta()
        return local_frame(self.spark, [], StructType.fromJson(json.loads(meta["schema_json"])))

    def read(self) -> DataFrame:
        """Current snapshot."""
        return self._read_snapshot(self.current_snapshot())

    def read_at(self, snapshot_id: int) -> DataFrame:
        """Time travel to an earlier snapshot."""
        snap = next((s for s in self.snapshots() if s.snapshot_id == snapshot_id), None)
        if snap is None:
            raise ValueError(f"table {self.path}: no snapshot {snapshot_id}")
        return self._read_snapshot(snap)

    def _read_snapshot(self, snap: Snapshot | None) -> DataFrame:
        if snap is None or not snap.manifest:
            return self._empty_df()
        # group live partitions by data dir so each dir is one scan with
        # basePath-preserved partition columns
        by_dir: dict[str, list[str]] = {}
        for pkey, dirs in snap.manifest.items():
            for d in dirs:
                by_dir.setdefault(d, []).append(pkey)
        parts = []
        for rel, pkeys in sorted(by_dir.items()):
            base = f"{self.path}/{rel}"
            if pkeys == [""]:
                parts.append(self.spark.read.parquet(base))
            else:
                paths = [f"{base}/{p}" for p in pkeys]
                parts.append(self.spark.read.option("basePath", base).parquet(*paths))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def manifest(self) -> dict[str, list[str]]:
        """Live partition → data-dir listing of the current snapshot."""
        cur = self.current_snapshot()
        return dict(cur.manifest) if cur else {}


class LocalParquetCatalog:
    """Warehouse-directory catalog of :class:`Table` s."""

    def __init__(self, spark, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse.rstrip("/")
        os.makedirs(self.warehouse, exist_ok=True)

    def _table_path(self, name: str) -> str:
        # nested names ("violations/r1") map to warehouse subdirs
        safe = name.strip("/")
        if ".." in safe.split("/"):
            raise ValueError(f"illegal table name: {name!r}")
        return f"{self.warehouse}/{safe}"

    def table_exists(self, name: str) -> bool:
        return os.path.exists(f"{self._table_path(name)}/metadata.json")

    def create_table(self, name: str, schema, *, partition_by: list[str] | None = None) -> Table:
        """``schema``: a StructType or a DataFrame to take the shape from."""
        if self.table_exists(name):
            raise ValueError(f"table {name!r} already exists")
        struct = schema.schema if isinstance(schema, DataFrame) else schema
        if isinstance(struct, str):
            from pyspark.sql.types import _parse_datatype_string

            struct = _parse_datatype_string(struct)
        path = self._table_path(name)
        os.makedirs(path, exist_ok=True)
        t = Table(self.spark, path)
        t._commit_meta(
            {
                "format_version": 1,
                "name": name,
                "schema_json": json.dumps(struct.jsonValue()),
                "partition_by": list(partition_by or []),
                "properties": {},
                "current_snapshot_id": None,
                "last_data_seq": 0,
                "snapshots": [],
            }
        )
        return t

    def load_table(self, name: str) -> Table:
        if not self.table_exists(name):
            raise ValueError(f"table {name!r} does not exist")
        return Table(self.spark, self._table_path(name))

    def create_or_load(self, name: str, schema, *, partition_by: list[str] | None = None) -> Table:
        if self.table_exists(name):
            return self.load_table(name)
        return self.create_table(name, schema, partition_by=partition_by)

    def drop_table(self, name: str) -> None:
        import shutil

        if self.table_exists(name):
            shutil.rmtree(self._table_path(name))

    def list_tables(self) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(self.warehouse):
            if "metadata.json" in files:
                out.append(os.path.relpath(root, self.warehouse))
        return sorted(out)


class IcebergCatalog:
    """Thin passthrough to a real Iceberg Spark catalog.

    Only constructed when the session is configured with Iceberg
    extensions (jars not present in this sandbox — the passthrough is
    exercised in deployments, the API contract by the local backend's
    tests). Tables are addressed as ``<catalog>.<namespace>.<name>``."""

    def __init__(self, spark, namespace: str = "default", catalog_name: str = "spark_catalog"):
        self.spark = spark
        self.namespace = namespace
        self.catalog_name = catalog_name

    def _qualified(self, name: str) -> str:
        return f"{self.catalog_name}.{self.namespace}.{name.replace('/', '_')}"

    def table_exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._qualified(name))

    def create_table(self, name: str, schema, *, partition_by: list[str] | None = None):
        struct = schema.schema if isinstance(schema, DataFrame) else schema
        empty = local_frame(self.spark, [], struct)
        w = empty.writeTo(self._qualified(name)).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        w.create()
        return _IcebergTable(self.spark, self._qualified(name))

    def load_table(self, name: str):
        return _IcebergTable(self.spark, self._qualified(name))

    def create_or_load(self, name: str, schema, *, partition_by: list[str] | None = None):
        if self.table_exists(name):
            return self.load_table(name)
        return self.create_table(name, schema, partition_by=partition_by)

    def drop_table(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._qualified(name)}")


class _IcebergTable:
    def __init__(self, spark, qualified: str):
        self.spark = spark
        self.qualified = qualified

    def read(self) -> DataFrame:
        return self.spark.table(self.qualified)

    def read_at(self, snapshot_id: int) -> DataFrame:
        return self.spark.read.option("snapshot-id", snapshot_id).table(self.qualified)

    def append(self, df: DataFrame) -> None:
        df.writeTo(self.qualified).append()

    def overwrite_partitions(self, df: DataFrame) -> None:
        df.writeTo(self.qualified).overwritePartitions()

    def snapshots(self) -> list[Snapshot]:
        # the snapshots metadata table has no guaranteed row order —
        # commit order must be imposed explicitly
        rows = self.spark.sql(
            f"SELECT * FROM {self.qualified}.snapshots ORDER BY committed_at"
        ).collect()
        return [
            Snapshot(
                snapshot_id=r["snapshot_id"],
                parent_id=r["parent_id"],
                timestamp_ms=int(r["committed_at"].timestamp() * 1000),
                operation=r["operation"],
                summary=dict(r["summary"] or {}),
            )
            for r in rows
        ]

    def current_snapshot(self) -> Snapshot | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    @property
    def properties(self) -> dict:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.qualified}").collect()
        return {r["key"]: r["value"] for r in rows}

    def update_properties(self, **props) -> None:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        self.spark.sql(f"ALTER TABLE {self.qualified} SET TBLPROPERTIES ({kv})")


def has_iceberg(spark) -> bool:
    """True when the session is configured with Iceberg extensions."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:  # noqa: BLE001
        return False
    return "IcebergSparkSessionExtensions" in ext


def get_catalog(spark, warehouse: str):
    """Backend auto-detection: real Iceberg when the session has the
    extensions configured, local parquet+manifest otherwise."""
    if has_iceberg(spark):
        return IcebergCatalog(spark)
    return LocalParquetCatalog(spark, warehouse)
