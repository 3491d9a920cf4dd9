"""Lakehouse catalog adapter (dedupe_spark/catalog.py).

The sandbox carries no Iceberg/Delta jars, so these tests cover the parts
that run everywhere — detection, fail-fast construction with actionable
hints, identifier/property plumbing, and that the default parquet protocol
is untouched — plus a skip-gated live smoke for runtimes that DO carry a
catalog (it runs automatically the day the jars appear).
"""

from __future__ import annotations

import json
import tempfile
from types import SimpleNamespace

import pytest

from dedupe_spark.catalog import (
    CatalogUnavailableError,
    TableCatalog,
    detect_catalogs,
)


def test_detect_catalogs_plain_session(spark):
    found = detect_catalogs(spark)
    assert found["iceberg"] == []
    assert found["delta"] is False


def test_iceberg_unavailable_fails_fast_with_hint(spark):
    with pytest.raises(CatalogUnavailableError) as ei:
        TableCatalog(spark, "iceberg")
    msg = str(ei.value)
    assert "--packages" in msg and "iceberg-spark-runtime" in msg
    assert "spark.sql.catalog" in msg


def test_delta_unavailable_fails_fast_with_hint(spark):
    with pytest.raises(CatalogUnavailableError) as ei:
        TableCatalog(spark, "delta")
    assert "DeltaSparkSessionExtension" in str(ei.value)


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError):
        TableCatalog(spark, "hudi")


def test_pipeline_fails_fast_at_construction(spark):
    """table_format='iceberg' on a catalog-less session must raise at
    Pipeline construction — never at the first stage commit minutes in."""
    from dedupe_spark.pipeline import Pipeline, PipelineConfig

    cfg = PipelineConfig(
        workdir=tempfile.mkdtemp(), table_format="iceberg"
    )
    with pytest.raises(CatalogUnavailableError):
        Pipeline(spark, cfg)


def test_table_format_not_in_stage_key(spark):
    """Storage binding must not invalidate checkpoints: key_dict (the
    resume key payload) is identical across table formats."""
    from dedupe_spark.pipeline import PipelineConfig

    a = PipelineConfig(workdir="/tmp/x")
    b = PipelineConfig(
        workdir="/tmp/x", table_format="iceberg", catalog_namespace="other"
    )
    assert a.key_dict() == b.key_dict()


def test_default_parquet_protocol_unaffected(spark):
    """With the default table_format the Pipeline takes the filesystem
    manifest store and a stage commits + resumes exactly
    as before the adapter existed."""
    from pyspark.sql import functions as F

    from dedupe_spark.pipeline import Pipeline, PipelineConfig

    from dedupe_spark.stagestore import FileStageStore

    wd = tempfile.mkdtemp()
    p = Pipeline(spark, PipelineConfig(workdir=wd))
    assert isinstance(p.store, FileStageStore)
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out, key = p.stage("unit_stage", [], lambda: df)
    assert out.count() == 10
    assert p.metrics["unit_stage"]["resumed"] is False
    out2, key2 = p.stage("unit_stage", [], lambda: df)
    assert key2 == key
    assert p.metrics["unit_stage"]["resumed"] is True


def _live_catalog(spark):
    found = detect_catalogs(spark)
    if found["iceberg"]:
        return "iceberg"
    if found["delta"]:
        return "delta"
    return None


def test_live_catalog_stage_roundtrip(spark):
    """Runs only on a session with a real catalog binding: write a stage,
    resume it by key, read the snapshot log, time-travel to version 1."""
    fmt = _live_catalog(spark)
    if fmt is None:
        pytest.skip("no Iceberg/Delta binding in this session (expected "
                    "in-sandbox; runs on a real cluster)")
    from pyspark.sql import functions as F

    from dedupe_spark.pipeline import Pipeline, PipelineConfig

    cfg = PipelineConfig(workdir=tempfile.mkdtemp(), table_format=fmt)
    p = Pipeline(spark, cfg)
    df = spark.range(100).withColumn("v", F.sha2(F.col("id").cast("string"), 256))
    out, key = p.stage("cat_stage", [], lambda: df)
    assert out.count() == 100
    out2, key2 = p.stage("cat_stage", [], lambda: df)
    assert key2 == key and p.metrics["cat_stage"]["resumed"] is True
    snaps = p.snapshots("cat_stage")
    assert len(snaps) >= 1
    tt = p.read_snapshot("cat_stage", snaps[0]["snapshot_id"])
    assert tt.count() == 100


# ---------------------------------------------------------------------------
# Catalog store contract without lakehouse jars: a recording fake session
# stands in for the catalog, detect_catalogs is monkeypatched to report one.
# ---------------------------------------------------------------------------


class _RecordingSession:
    """Records every SQL statement; answers the first matching prefix with
    its canned rows, or raises it when the answer is an exception."""

    def __init__(self, answers: dict):
        self.answers = answers
        self.sql_log: list[str] = []
        self.read = SimpleNamespace(table=lambda ident: ("table", ident))

    def sql(self, query: str):
        self.sql_log.append(query)
        for prefix, ans in self.answers.items():
            if query.startswith(prefix):
                if isinstance(ans, BaseException):
                    raise ans
                return SimpleNamespace(collect=lambda ans=ans: ans)
        return SimpleNamespace(collect=lambda: [])


def _catalog_pipeline(monkeypatch, tmp_path, fmt, answers):
    import dedupe_spark.catalog as catalog_mod
    from dedupe_spark.pipeline import Pipeline, PipelineConfig

    monkeypatch.setattr(
        catalog_mod, "detect_catalogs", lambda s: {"iceberg": ["lake"], "delta": True}
    )
    fake = _RecordingSession(answers)
    cfg = PipelineConfig(workdir=str(tmp_path / fmt), table_format=fmt)
    return Pipeline(fake, cfg), fake


def _analysis_error(spark, query):
    from pyspark.errors import AnalysisException

    try:
        spark.sql(query).collect()
    except AnalysisException as e:
        return e
    raise AssertionError(f"{query!r} did not fail analysis")


def test_catalog_resume_only_table_not_found_reads_as_absent(
    spark, monkeypatch, tmp_path
):
    """The resume check maps ONLY table-not-found to "no checkpoint". A
    permission-style analysis error or a catalog outage propagates before
    anything is recomputed — a recompute would createOrReplace a good
    table. A key match costs exactly one property read."""
    from pyspark.errors import AnalysisException

    not_found = _analysis_error(spark, "SHOW TBLPROPERTIES no_such_ns.no_such_tbl")
    denied = _analysis_error(spark, "SELECT no_such_column FROM range(1)")
    assert not_found.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"

    p, _ = _catalog_pipeline(
        monkeypatch, tmp_path, "iceberg", {"SHOW TBLPROPERTIES": not_found}
    )
    assert p.store.read("records", "k") is None

    def _never():
        raise AssertionError("recomputed over a failed resume check")

    for err, kind in ((denied, AnalysisException),
                      (ConnectionError("catalog unreachable"), ConnectionError)):
        p, _ = _catalog_pipeline(
            monkeypatch, tmp_path, "iceberg", {"SHOW TBLPROPERTIES": err}
        )
        with pytest.raises(kind):
            p.stage("records", [], _never)

    p, fake = _catalog_pipeline(monkeypatch, tmp_path, "iceberg", {})
    key = p._stage_key("records", [])
    fake.answers["SHOW TBLPROPERTIES"] = [
        {"key": TableCatalog.KEY_PROP, "value": key},
        {"key": TableCatalog.METRICS_PROP,
         "value": json.dumps({"stage": "records", "key": key, "rows": 7})},
    ]
    df, got = p.stage("records", [], _never)
    assert got == key and df == ("table", "lake.dedupe.records")
    assert p.metrics["records"] == {
        "stage": "records", "key": key, "rows": 7, "resumed": True
    }
    assert sum(q.startswith("SHOW TBLPROPERTIES") for q in fake.sql_log) == 1


def test_catalog_snapshots_and_expiry_match_filesystem_contract(
    spark, monkeypatch, tmp_path
):
    """Catalog-mode snapshots() entries carry the filesystem entry keys
    (ascending, newest current); Iceberg count-based expiry passes
    older_than => now() so retain_last is not a silent no-op; Delta
    count-based expiry raises."""
    from dedupe_spark.pipeline import Pipeline, PipelineConfig

    fs = Pipeline(spark, PipelineConfig(workdir=str(tmp_path / "fs")))
    fs.stage("s", [], lambda: spark.range(3))
    keys = set(fs.snapshots("s")[0])
    assert keys == {"snapshot_id", "committed_at", "key", "rows", "current"}
    want = [(11, "a", 3, False), (12, "b", 5, True)]

    ice, ice_sql = _catalog_pipeline(monkeypatch, tmp_path, "iceberg", {
        "SELECT snapshot_id": [
            {"snapshot_id": 11, "committed_at": "2026-01-01 00:00:00",
             "summary": {TableCatalog.KEY_PROP: "a", "total-records": "3"}},
            {"snapshot_id": 12, "committed_at": "2026-01-02 00:00:00",
             "summary": {TableCatalog.KEY_PROP: "b", "total-records": "5"}},
        ]
    })
    log = ice.snapshots("s")
    assert [set(e) for e in log] == [keys, keys]
    assert [(e["snapshot_id"], e["key"], e["rows"], e["current"]) for e in log] == want
    assert ice.expire_snapshots("s", keep_last=1) == []
    (call,) = [q for q in ice_sql.sql_log if "expire_snapshots" in q]
    assert "older_than => now()" in call and "retain_last => 2" in call

    rtas = "CREATE OR REPLACE TABLE AS SELECT"
    history = [  # DESCRIBE HISTORY order: newest first
        {"version": 13, "timestamp": "t3", "operation": "SET TBLPROPERTIES",
         "userMetadata": None, "operationMetrics": {}},
        {"version": 12, "timestamp": "t2", "operation": rtas,
         "userMetadata": "b", "operationMetrics": {"numOutputRows": "5"}},
        {"version": 11, "timestamp": "t1", "operation": rtas,
         "userMetadata": "a", "operationMetrics": {"numOutputRows": "3"}},
    ]
    delta, delta_sql = _catalog_pipeline(
        monkeypatch, tmp_path, "delta", {"DESCRIBE HISTORY": history}
    )
    log = delta.snapshots("s")
    assert [set(e) for e in log] == [keys, keys]
    assert [(e["snapshot_id"], e["key"], e["rows"], e["current"]) for e in log] == want
    with pytest.raises(NotImplementedError):
        delta.expire_snapshots("s", keep_last=1)
    assert not any("expire_snapshots" in q for q in delta_sql.sql_log)
