"""Stage stores: the one checkpoint interface behind ``pipeline.Pipeline``.

A stage checkpoint is a content-keyed materialized view: the stage's output
stored under the hash of its config and upstream keys, reused whenever the
key matches. A store owns the whole protocol — ``read(name, key)`` (the
resume check: ``(DataFrame, metrics)`` or None), ``commit(name, key, df,
t0)`` (atomic publish; returns ``(DataFrame, metrics)`` over the committed
data), ``snapshots(name)`` (ascending :func:`snapshot_entry` log),
``read_snapshot(name, snapshot_id=None)`` (time travel, ``LookupError`` if
absent), ``expire(name, keep_last)`` (count-based retention, never the live
snapshot) and ``compact(name, target_file_bytes)``.

:class:`FileStageStore` (manifest-then-rename on a plain filesystem) is the
default and the tested one; ``catalog.TableCatalog`` binds a real
Iceberg/Delta catalog. :func:`open_store` picks one. Stage metrics carry
per-file lineage: ``partition_rows`` maps each data file of the committed
snapshot to its rows, ``partitions`` is the number of data files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def lineage(partition_rows: dict) -> dict:
    """The lineage part of stage metrics, from rows per data file."""
    return {
        "rows": sum(partition_rows.values()),
        "partitions": len(partition_rows),
        "partition_rows": partition_rows,
    }


def stage_metrics(name: str, key: str, partition_rows: dict, t0: float) -> dict:
    """Metrics of a freshly committed stage (``resumed`` False)."""
    return {
        "stage": name,
        "key": key,
        **lineage(partition_rows),
        "seconds": round(time.time() - t0, 3),
        "resumed": False,
    }


def snapshot_entry(snapshot_id, committed_at, key, rows, current=False) -> dict:
    """One ``snapshots()`` entry — the same shape from every store."""
    return {"snapshot_id": int(snapshot_id), "committed_at": committed_at,
            "key": key, "rows": rows, "current": current}


def open_store(spark: SparkSession, cfg):
    """The store ``cfg.table_format`` names. A catalog format fails fast
    here (CatalogUnavailableError + spark-submit hint) if the session
    carries no such binding — never at the first stage commit."""
    if cfg.table_format == "parquet":
        return FileStageStore(spark, cfg.workdir, cfg.snapshot_retention)
    from .catalog import TableCatalog

    return TableCatalog(spark, cfg.table_format, cfg.catalog_namespace)


def _fsync_path(p: str) -> None:
    try:
        fd = os.open(p, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass


class FileStageStore:
    """Iceberg-style snapshots on a plain filesystem.

    ``<workdir>/<stage>/`` holds the live snapshot: parquet data files plus
    :attr:`MANIFEST`, which records key + schema + the data-file list with
    sizes + metrics. A commit writes a staging directory, fsyncs the
    manifest into it, and a POSIX rename publishes it — a crash at any
    point leaves either the previous committed snapshot or an unmanifested
    orphan that resume recomputes rather than trusts. A recommit
    supersedes rather than deletes: the previous snapshot moves under
    ``<workdir>/_snapshots/<stage>/<snapshot_id>`` and stays time-travel
    readable until expired. ``retention`` is how many superseded snapshots
    a commit keeps per stage; 0 disables history.
    """

    MANIFEST = "_dedupe_manifest.json"

    def __init__(self, spark: SparkSession, workdir: str, retention: int):
        self.spark = spark
        self.workdir = workdir
        self.retention = retention

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.workdir, "_snapshots", name)

    def _manifest(self, path: str) -> dict | None:
        """The manifest iff ``path`` holds a committed snapshot.

        The manifest is written (and fsynced) inside the staging directory
        BEFORE the atomic rename that publishes it, so its presence under
        the final path IS the commit marker — an orphan parquet directory
        left by a crash mid-write has no manifest and is recomputed, never
        trusted (the old key-sidecar protocol could leave a keyless/stale
        checkpoint that resume logic misjudged). Every data file the
        snapshot lists must still exist at its recorded size, else a
        partially deleted or half-overwritten directory fails closed.
        """
        try:
            with open(os.path.join(path, self.MANIFEST)) as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            return None
        for f in man.get("files", []):
            try:
                if os.path.getsize(os.path.join(path, f["name"])) != f["bytes"]:
                    return None
            except OSError:
                return None
        return man

    def _load(self, path: str, man: dict) -> DataFrame:
        # the manifest's schema is the read schema: no inference job
        schema = StructType.fromJson(man["schema"])
        return self.spark.read.schema(schema).parquet(path)

    def _superseded_ids(self, name: str) -> list[int]:
        try:
            return sorted(
                int(e) for e in os.listdir(self._snap_dir(name)) if e.isdigit()
            )
        except OSError:
            return []

    # -- the one write path ---------------------------------------------------

    @contextmanager
    def _staging(self, name: str, tag: str):
        tmp = f"{self._path(name)}.{tag}-{uuid.uuid4().hex[:8]}"
        try:
            yield tmp
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise

    @staticmethod
    def _data_files(d: str) -> tuple[list[dict], dict]:
        """The written data files with sizes, and per-file row counts from
        the parquet footers (driver-side metadata reads, no Spark job)."""
        files = [
            {"name": fn, "bytes": os.path.getsize(os.path.join(d, fn))}
            for fn in sorted(os.listdir(d))
            if fn.endswith(".parquet")
        ]
        rows = {
            f["name"]: pq.read_metadata(os.path.join(d, f["name"])).num_rows
            for f in files
        }
        return files, rows

    def _publish(self, name: str, tmp: str, manifest: dict) -> dict:
        """Commit the fully written staging dir ``tmp`` as the stage's new
        live snapshot; returns the manifest as written."""
        path = self._path(name)
        old = self._manifest(path)
        ids = self._superseded_ids(name) + ([old["snapshot_id"]] if old else [])
        manifest = manifest | {
            "snapshot_id": max(ids, default=0) + 1,
            "committed_at": round(time.time(), 3),
        }
        with open(os.path.join(tmp, self.MANIFEST), "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        _fsync_path(tmp)
        # commit point: rename the fully-written, manifested staging dir
        # into place. POSIX rename is atomic; the two-rename swap (old out,
        # new in) has one non-atomic seam, and a crash inside it leaves
        # `path` ABSENT — which the manifest check reads as "recompute",
        # never as a trustable checkpoint
        if old is not None and self.retention > 0:
            # supersede, don't delete: the previous snapshot moves (one
            # atomic rename) into the history area under its own
            # snapshot_id — time-travel readable until expired
            snaps = self._snap_dir(name)
            os.makedirs(snaps, exist_ok=True)
            os.rename(path, os.path.join(snaps, str(old["snapshot_id"])))
            os.rename(tmp, path)
            self.expire(name, self.retention)
        elif os.path.exists(path):
            trash = f"{path}.old-{uuid.uuid4().hex[:8]}"
            os.rename(path, trash)
            os.rename(tmp, path)
            shutil.rmtree(trash, ignore_errors=True)
        else:
            os.rename(tmp, path)
        _fsync_path(self.workdir)
        # the rename swap changed `path`'s contents BEHIND Spark's back (a
        # direct overwrite write would have invalidated the session's
        # FileStatusCache; a filesystem rename does not) — refresh, or a
        # prior read of this path in the same session serves a stale file
        # listing and the next scan dies on FILE_NOT_EXIST
        self.spark.catalog.refreshByPath(path)
        return manifest

    # -- the store interface --------------------------------------------------

    def read(self, name: str, key: str) -> tuple[DataFrame, dict] | None:
        # sweep leftovers from crashed commits (best-effort, never load-
        # bearing: resume correctness comes from the manifest check alone)
        for entry in os.listdir(self.workdir):
            if entry.startswith(
                (f"{name}.inprogress-", f"{name}.old-", f"{name}.compact-")
            ):
                shutil.rmtree(
                    os.path.join(self.workdir, entry), ignore_errors=True
                )
        path = self._path(name)
        man = self._manifest(path)
        if man is None or man.get("key") != key:
            return None
        return self._load(path, man), man["metrics"]

    def commit(
        self, name: str, key: str, df: DataFrame, t0: float
    ) -> tuple[DataFrame, dict]:
        with self._staging(name, "inprogress") as tmp:
            df.write.mode("overwrite").parquet(tmp)
            files, rows = self._data_files(tmp)
            man = self._publish(name, tmp, {
                "format_version": 2, "key": key, "schema": df.schema.jsonValue(),
                "files": files, "metrics": stage_metrics(name, key, rows, t0),
            })
        return self._load(self._path(name), man), man["metrics"]

    def snapshots(self, name: str) -> list[dict]:
        dirs = [(os.path.join(self._snap_dir(name), str(sid)), False)
                for sid in self._superseded_ids(name)]
        out = []
        for path, current in dirs + [(self._path(name), True)]:
            m = self._manifest(path)
            if m is not None:
                out.append(snapshot_entry(m["snapshot_id"], m["committed_at"],
                                          m["key"], m["metrics"]["rows"], current))
        return sorted(out, key=lambda e: e["snapshot_id"])

    def read_snapshot(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        paths = [self._path(name)]
        if snapshot_id is not None:
            paths.insert(0, os.path.join(self._snap_dir(name), str(snapshot_id)))
        for path in paths:
            man = self._manifest(path)
            if man is not None and snapshot_id in (None, man["snapshot_id"]):
                return self._load(path, man)
        if snapshot_id is None:
            raise LookupError(f"stage {name!r} has no committed snapshot")
        raise LookupError(
            f"stage {name!r} snapshot {snapshot_id} not found "
            "(expired or never committed)"
        )

    def expire(self, name: str, keep_last: int) -> list[int]:
        ids = self._superseded_ids(name)
        victims = ids[: max(len(ids) - keep_last, 0)]
        for sid in victims:
            shutil.rmtree(
                os.path.join(self._snap_dir(name), str(sid)), ignore_errors=True
            )
        return victims

    def compact(self, name: str, target_file_bytes: int) -> dict:
        """Rewrite the live snapshot's data into ~target-size files as a
        NEW data-identical snapshot with the same key, published like a
        commit (the previous layout becomes time-travel history). The
        rewrite is ``coalesce`` (file merge), never a shuffle."""
        path = self._path(name)
        man = self._manifest(path)
        if man is None:
            raise LookupError(f"stage {name!r} has no committed snapshot")
        bytes_total = sum(f["bytes"] for f in man["files"])
        n_out = max(1, -(-bytes_total // max(1, target_file_bytes)))
        with self._staging(name, "compact") as tmp:
            self._load(path, man).coalesce(n_out).write.mode("overwrite").parquet(tmp)
            files, rows = self._data_files(tmp)
            # the lineage must describe THIS layout, not the
            # pre-compaction one; the row total is unchanged by construction
            new = self._publish(name, tmp, man | {
                "compacted": True, "files": files,
                "metrics": man["metrics"] | lineage(rows),
            })
        return {
            "files_before": len(man["files"]),
            "files_after": len(files),
            "bytes_total": bytes_total,
            "snapshot_id": new["snapshot_id"],
        }
