"""Lakehouse catalog stage store — flag-gated binding to a REAL Iceberg or
Delta catalog when the runtime carries one.

The north-star names Iceberg tables as the checkpoint substrate.
``TableCatalog`` implements the stage-store interface of stagestore.py
(``read`` / ``commit`` / ``snapshots`` / ``read_snapshot`` / ``expire`` /
``compact``) over a real catalog, so ``pipeline.Pipeline`` runs unchanged
on it: set ``PipelineConfig.table_format = "iceberg"`` (or ``"delta"``)
and every stage checkpoint becomes a catalog table write — atomicity,
snapshot log, time travel and expiry are then the engine's own, and the
pipeline's resume/lineage contract rides on top of them in table
properties. Lakehouse jars are optional, so the filesystem store
(``stagestore.FileStageStore``, the same semantics on a bare filesystem)
is the default and the one the crash-resume tests exercise.

Availability is detected from the live SparkSession (no imports of any
vendor package at module level); a format that is not wired into the
session fails fast at Pipeline construction with the exact spark-submit
flags to fix it, never silently at the first stage commit.

Reference scope: the reference app checkpoints nothing (SURVEY.md §2 S5/S9
— temp files + JSON); this adapter exists for the north-star's "checkpoint
every stage to Iceberg" clause, not for reference parity.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .stagestore import snapshot_entry, stage_metrics


class CatalogUnavailableError(RuntimeError):
    """Requested table format has no binding in this SparkSession."""


_ICEBERG_HINT = (
    "no Iceberg catalog is configured in this SparkSession. Launch with "
    "e.g.: spark-submit --packages "
    "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
    "--conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog "
    "--conf spark.sql.catalog.lake.type=hadoop "
    "--conf spark.sql.catalog.lake.warehouse=<path> "
    "--conf spark.sql.extensions=org.apache.iceberg.spark.extensions."
    "IcebergSparkSessionExtensions"
)
_DELTA_HINT = (
    "Delta Lake is not wired into this SparkSession. Launch with e.g.: "
    "spark-submit --packages io.delta:delta-spark_2.13:<version> "
    "--conf spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension "
    "--conf spark.sql.catalog.spark_catalog="
    "org.apache.spark.sql.delta.catalog.DeltaCatalog"
)


def detect_catalogs(spark: SparkSession) -> dict:
    """What lakehouse bindings this session actually carries.

    Returns ``{"iceberg": [catalog names], "delta": bool}``. Iceberg is
    per-catalog (``spark.sql.catalog.<name> = ...SparkCatalog``); Delta
    hooks the session extensions + default catalog. Conf-scan only — no
    class loading, safe on any session.
    """
    icebergs: list[str] = []
    delta = False
    try:
        items = spark.sparkContext.getConf().getAll()
    except Exception:  # pragma: no cover - defensive on exotic sessions
        items = []
    seen = dict(items)
    # catalogs registered AFTER launch (spark.conf.set / SQL SET) live in
    # the session conf, not the context conf — SET enumerates both the
    # launch-time and runtime-set entries
    try:
        for r in spark.sql("SET").collect():
            seen[r["key"]] = r["value"]
    except Exception:  # pragma: no cover - exotic sessions
        pass
    for k, v in seen.items():
        if k.startswith("spark.sql.catalog.") and k.count(".") == 3:
            if "iceberg" in str(v).lower():
                icebergs.append(k.rsplit(".", 1)[1])
    ext = str(seen.get("spark.sql.extensions", ""))
    try:  # runtime-set extensions surface via conf.get, not context conf
        ext = ext + "," + str(spark.conf.get("spark.sql.extensions", ""))
    except Exception:
        pass
    if "io.delta" in ext or "DeltaSparkSessionExtension" in ext:
        delta = True
    return {"iceberg": sorted(set(icebergs)), "delta": delta}


class TableCatalog:
    """Stage store over a live Iceberg/Delta catalog.

    One instance per Pipeline; every method takes the STAGE name and maps
    it to ``<catalog>.<namespace>.<stage>`` (Iceberg) or
    ``<namespace>.<stage>`` (Delta in the session catalog). The pipeline's
    resume key rides in the ``dedupe.stage_key`` table property, and stage
    metrics in ``dedupe.metrics`` — the same facts the filesystem manifest
    records, carried by the table itself so any engine reading the catalog
    sees them.
    """

    KEY_PROP = "dedupe.stage_key"
    METRICS_PROP = "dedupe.metrics"

    def __init__(
        self,
        spark: SparkSession,
        fmt: str,
        namespace: str = "dedupe",
        catalog: Optional[str] = None,
    ):
        if fmt not in ("iceberg", "delta"):
            raise ValueError(f"unknown table_format {fmt!r}")
        self.spark = spark
        self.fmt = fmt
        self.namespace = namespace
        found = detect_catalogs(spark)
        if fmt == "iceberg":
            if not found["iceberg"]:
                raise CatalogUnavailableError(_ICEBERG_HINT)
            self.catalog = catalog or found["iceberg"][0]
            if catalog is not None and catalog not in found["iceberg"]:
                raise CatalogUnavailableError(
                    f"catalog {catalog!r} is not an Iceberg catalog in this "
                    f"session (found: {found['iceberg']})"
                )
        else:
            if not found["delta"]:
                raise CatalogUnavailableError(_DELTA_HINT)
            self.catalog = catalog  # None -> session default catalog
        self._ensured = False

    # -- naming ------------------------------------------------------------

    def identifier(self, stage: str) -> str:
        parts = [self.catalog, self.namespace, stage]
        return ".".join(p for p in parts if p)

    def _ensure_namespace(self) -> None:
        if self._ensured:
            return
        ns = ".".join(p for p in (self.catalog, self.namespace) if p)
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
        self._ensured = True

    def _properties(self, stage: str) -> Optional[dict]:
        """The stage table's properties, or None iff the table does not
        exist. Only table-not-found means "no checkpoint": a catalog
        outage or a permission error propagates, or the recompute would
        ``createOrReplace`` a good table."""
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self.identifier(stage)}"
            ).collect()
        except AnalysisException as e:
            if e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND":
                return None
            raise
        return {r["key"]: r["value"] for r in rows}

    # -- the stage store interface (stagestore.py) ----------------------------

    def read(self, stage: str, key: str) -> Optional[tuple[DataFrame, dict]]:
        """Resume check: one property read yields both the committed key
        and the metrics."""
        props = self._properties(stage)
        if props is None or props.get(self.KEY_PROP) != key:
            return None
        raw = props.get(self.METRICS_PROP)
        metrics = json.loads(raw) if raw else {"stage": stage, "key": key}
        return self.spark.read.table(self.identifier(stage)), metrics

    def commit(
        self, stage: str, key: str, df: DataFrame, t0: float
    ) -> tuple[DataFrame, dict]:
        """Atomic replace of the stage table — the catalog's own snapshot
        commit is the commit point (it supersedes the filesystem rename
        protocol). The resume key rides in a table property and in the
        snapshot's own metadata, so the snapshot log can say which key
        wrote each snapshot."""
        self._ensure_namespace()
        ident = self.identifier(stage)
        writer = df.writeTo(ident).tableProperty(self.KEY_PROP, key)
        if self.fmt == "iceberg":
            writer = writer.option(f"snapshot-property.{self.KEY_PROP}", key)
        else:
            writer = writer.using("delta").option("userMetadata", key)
        writer.createOrReplace()
        out = self.spark.read.table(ident)
        # per-file lineage of the COMMITTED table (the engines keep no
        # per-file row counts the filesystem footers would give us)
        rows = {
            r["file"]: int(r["n"])
            for r in out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count("*").alias("n"))
            .collect()
        }
        metrics = stage_metrics(stage, key, rows, t0)
        # metadata-only follow-up commit: lineage exists only once the
        # table is committed; a crash between the two leaves a resumable
        # table whose metrics fall back to {stage, key}
        payload = json.dumps(metrics).replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {ident} SET TBLPROPERTIES "
            f"('{self.METRICS_PROP}' = '{payload}')"
        )
        return out, metrics

    def snapshots(self, stage: str) -> list[dict]:
        """The engine's snapshot log as :func:`stagestore.snapshot_entry`
        dicts, ascending, the newest marked ``current``."""
        ident = self.identifier(stage)
        if self.fmt == "iceberg":
            rows = self.spark.sql(
                f"SELECT snapshot_id, committed_at, summary "
                f"FROM {ident}.snapshots ORDER BY committed_at"
            ).collect()
            out = [
                snapshot_entry(
                    r["snapshot_id"],
                    str(r["committed_at"]),
                    (r["summary"] or {}).get(self.KEY_PROP),
                    _count((r["summary"] or {}).get("total-records")),
                )
                for r in rows
            ]
        else:
            # DESCRIBE HISTORY is newest-first; the metrics property commit
            # is data-identical to the version before it, not a snapshot
            out = sorted(
                (
                    snapshot_entry(
                        r["version"],
                        str(r["timestamp"]),
                        r["userMetadata"],
                        _count((r["operationMetrics"] or {}).get("numOutputRows")),
                    )
                    for r in self.spark.sql(f"DESCRIBE HISTORY {ident}").collect()
                    if r["operation"] != "SET TBLPROPERTIES"
                ),
                key=lambda e: e["snapshot_id"],
            )
        if out:
            out[-1]["current"] = True
        return out

    def read_snapshot(self, stage: str, snapshot_id: Optional[int] = None) -> DataFrame:
        ident = self.identifier(stage)
        if snapshot_id is None:
            if (self._properties(stage) or {}).get(self.KEY_PROP) is None:
                raise LookupError(f"stage {stage!r} has no committed snapshot")
            return self.spark.read.table(ident)
        if self.fmt == "iceberg":
            return (
                self.spark.read.option("snapshot-id", snapshot_id)
                .table(ident)
            )
        return (
            self.spark.read.format("delta")
            .option("versionAsOf", snapshot_id)
            .table(ident)
        )

    def expire(self, stage: str, keep_last: int) -> list[int]:
        """Count-based retention: Iceberg's retain_last maps directly;
        Delta's retention is time-based only, so count-based expiry raises
        with guidance instead of silently doing nothing. Returns [] — the
        engine does not report which snapshot ids it dropped."""
        if self.fmt != "iceberg":
            raise NotImplementedError(
                "Delta retention is time-based; use "
                "TableCatalog.expire_snapshots(stage, older_than_hours) "
                "(VACUUM) instead of count-based expiry"
            )
        # older_than defaults to now minus 5 days, which would make
        # retain_last a no-op for every recent snapshot
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self.namespace}.{stage}', "
            f"older_than => now(), "
            f"retain_last => {int(keep_last) + 1})"  # +1: the live one
        )
        return []

    def compact(self, stage: str, target_file_bytes: int) -> dict:
        raise NotImplementedError(
            "compact_stage is the filesystem store's maintenance pass; in "
            "catalog mode use the engine's own — Iceberg rewrite_data_files "
            f"/ Delta OPTIMIZE — on {self.identifier(stage)!r}"
        )

    def expire_snapshots(self, stage: str, older_than: str) -> None:
        """Engine-native time-based retention: Iceberg expire_snapshots
        procedure / Delta VACUUM. ``older_than`` is a SQL timestamp literal
        (Iceberg) or retention-hours string (Delta)."""
        ident = self.identifier(stage)
        if self.fmt == "iceberg":
            self.spark.sql(
                f"CALL {self.catalog}.system.expire_snapshots("
                f"table => '{self.namespace}.{stage}', "
                f"older_than => TIMESTAMP '{older_than}')"
            )
        else:
            self.spark.sql(f"VACUUM {ident} RETAIN {older_than} HOURS")


def _count(v) -> Optional[int]:
    return None if v is None else int(v)
