"""Staged, checkpointed, resumable record-linkage pipeline (SURVEY.md §3/§7).

``ingest -> normalize -> block -> candidates -> score -> cluster -> assemble``,
each stage a pure DataFrame -> DataFrame function whose output is a
checkpoint that can be resumed: a stage whose content key (hash of the
config fields it reads + upstream keys) matches the committed snapshot is
read back instead of recomputed (north rule: "resumable from checkpoint
with per-partition lineage + metrics"). Inputs only one stage reads are
that stage's explicit parents (``threshold``/``refine`` for
``cluster_assignments``), so changing them recomputes only downstream.

Every checkpoint goes through ONE stage store (stagestore.py); ``Pipeline``
never branches on storage format. The default ``FileStageStore`` commits
Iceberg-style on a plain filesystem — manifest fsynced into a staging
directory, then an atomic rename publishes it; a recommit supersedes the
previous snapshot into time-travel history (``read_snapshot``/``snapshots``)
until ``expire_snapshots`` reclaims it, the snapshot-log semantics that let
a 100 TB pipeline diff the effect of a config change without recomputing
either side. ``PipelineConfig.table_format = "iceberg"`` (or ``"delta"``)
selects ``catalog.TableCatalog`` instead, the same interface over a real
lakehouse catalog (lakehouse jars are optional, so the filesystem store is
the default and the one the tests exercise). Stage metrics carry per-file
lineage: ``partition_rows`` is rows per written data file, ``partitions``
the number of data files.

The reference's equivalent lifecycle is the monolithic
``find_duplicates_in_files`` control flow
(the reference's backend/dedupe_script.py:173-419) — no checkpoints, driver
memory only, clusters truncated at 1,000-row chunk boundaries (§2.7). This
pipeline clusters globally.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import LogisticModel, fit_logistic
from .normalize import normalize_features
from .operators import blocking as B
from .operators import clustering as C
from .operators import scoring as SC
from .operators.assemble import assemble_clusters
from .operators.scoring import FieldSpec, compute_features, feature_names
from .stagestore import FileStageStore, open_store

# ---------------------------------------------------------------------------
# Page preparation: derived match fields (the reference matches on all input
# columns; for web pages the match fields are derived from url + text)
# ---------------------------------------------------------------------------

PAGE_FIELDS = [
    FieldSpec("host", "String"),
    FieldSpec("path", "String"),
    FieldSpec("title", "String"),
    FieldSpec("body", "Text"),
]

# dedupe-parity comparator set (SURVEY.md M1): String fields use the
# normalized affine-gap alignment (Gotoh; dedupeio/affinegap public
# weights), Text uses corpus-weighted TF-IDF cosine (idf injected by
# Pipeline.run from the records stage).
PAGE_FIELDS_DEDUPE = [
    FieldSpec("host", "Affine"),
    FieldSpec("path", "Affine"),
    FieldSpec("title", "Affine"),
    FieldSpec("body", "Text"),
]


def fill_text_from_html(pages: DataFrame, mode: str) -> DataFrame:
    """Optional ingest step (PipelineConfig.extract_html): derive ``text``
    from the ``html`` binary column for rows whose text is NULL. Rows that
    ARRIVE with text keep it byte-identical (the input_hint invariant —
    extraction only fills gaps, never overwrites). ``mode``: "off" (no-op),
    "builtin" (regexp tier — whole-stage codegen), "parser" (Arrow-batched
    stdlib HTMLParser — the web-crawl default; numeric charrefs etc.).
    Stateless projection: no shuffle, resume-safe."""
    if mode == "off":
        return pages
    from .functions import htmltext as H

    decoded = F.decode(F.col("html"), "UTF-8")
    if mode == "builtin":
        extracted = H.html_to_text_expr(decoded)
    elif mode == "parser":
        extracted = H.html_to_text_udf()(decoded)
    else:
        raise ValueError(f"extract_html must be off|builtin|parser, got {mode!r}")
    return pages.withColumn(
        "text",
        F.when(
            F.col("text").isNull() & F.col("html").isNotNull(), extracted
        ).otherwise(F.col("text")),
    )


def prepare_pages(pages: DataFrame, spread: bool = True) -> DataFrame:
    """Add derived match fields. NEVER touches ``text`` itself — the
    byte-identity invariant (input_hint) is that text passes through
    unchanged per url; match features live in new columns.

    ``spread`` (default True): repartition to defaultParallelism before the
    pandas-UDF normalize stage — small/singleton inputs scan as 1 partition
    and would serialize it. A caller flag, not a getNumPartitions() probe:
    materializing the partition count under AQE executes the upstream plan
    as throwaway jobs (see scoring.score_pairs). Pass False when the input
    arrives pre-partitioned (a bucketed table, a checkpoint read-back)."""
    if spread:
        pages = pages.repartition(
            pages.sparkSession.sparkContext.defaultParallelism
        )
    df = pages.withColumn(
        "host",
        F.regexp_replace(
            # (?i): the host is lowercased only later, in
            # normalize_features — a case-sensitive strip would give
            # WWW.example.com and www.example.com different block keys
            F.regexp_extract("url", r"^[a-zA-Z]+://([^/]+)", 1),
            r"(?i)^www\.",
            ""
        ),
    )
    df = df.withColumn("path", F.regexp_extract("url", r"^[a-zA-Z]+://[^/]+([^?#]*)", 1))
    df = df.withColumn(
        "title", F.array_join(F.slice(F.split(F.col("text"), r"\s+"), 1, 8), " ")
    )
    df = df.withColumn("body", F.col("text"))
    return normalize_features(df, ["host", "path", "title", "body"])


def page_predicates(
    norm_suffix: str = "_norm", phonetic: bool = False
) -> dict:
    """Blocking predicates for pages: host+first-title-token (cheap,
    JVM-side) and MinHash-LSH bands over the normalized body (catches
    text edits). ``phonetic=True`` adds host + Soundex of the first
    title token (functions/phonetic.py — the predicate-zoo member that
    catches spelling variants exact tokens miss; pure built-in
    expression, no UDF, so it costs one more projected key column)."""
    hostcol = "host" + norm_suffix
    titlecol = "title" + norm_suffix
    bodycol = "body" + norm_suffix
    mh = B.minhash_bands_udf(num_perm=32, bands=8, shingle_k=5)
    preds = {
        "host_t1": F.concat_ws("|", F.col(hostcol), B.first_tokens(titlecol, 1)),
        "host_path8": F.concat_ws(
            "|", F.col(hostcol), F.substring(F.col("path" + norm_suffix), 1, 12)
        ),
        "mh_body": mh(F.col(bodycol)),
    }
    if phonetic:
        from .functions.phonetic import soundex_col

        preds["host_sdx"] = F.concat_ws(
            "|",
            F.col(hostcol),
            soundex_col(B.first_tokens(titlecol, 1)),
        )
    return preds


# ---------------------------------------------------------------------------
# Training (SURVEY.md M2-M5): driver-side LR on a small labeled pair set
# ---------------------------------------------------------------------------


def train_model(
    records: DataFrame,
    labeled_pairs: DataFrame,
    fields: list[FieldSpec],
    id_col: str = "url",
    norm_suffix: str = "_norm",
    l2: float = 0.1,
) -> LogisticModel:
    """Join labels to normalized fields, compute features driver-side, fit LR.

    'u' labels are filtered (reference page.tsx:253). The labeled set is
    small by construction (reference trains on ≤400 rows / ~10²-10³ pairs),
    so a driver-side fit + closure-shipped weights is the right scale split.
    """
    lab = labeled_pairs.where(F.col("label").isin("y", "n")).select(
        F.col("url1").alias("id1"), F.col("url2").alias("id2"), "label"
    )
    field_cols = [f.name + norm_suffix for f in fields]
    wide = SC.attach_pair_fields(lab, records, id_col, field_cols).toPandas()
    left = {f.name: wide[f"l_{f.name}{norm_suffix}"] for f in fields}
    right = {f.name: wide[f"r_{f.name}{norm_suffix}"] for f in fields}
    X = compute_features(left, right, fields)
    y = (wide["label"] == "y").to_numpy(dtype=np.float64)
    return fit_logistic(X, y, l2=l2, feature_names=feature_names(fields))


def uncertain_pairs(
    scored: DataFrame, k: int = 10
) -> DataFrame:
    """Active-learning pair selection (M3): top-k closest to the boundary."""
    return scored.orderBy(F.abs(F.col("score") - 0.5).asc(), "id1", "id2").limit(k)


# ---------------------------------------------------------------------------
# Checkpointed pipeline
# ---------------------------------------------------------------------------


@dataclass
class PipelineConfig:
    workdir: str
    threshold: float = 0.5
    max_block: int = 500
    salt_target: int = 100
    id_col: str = "url"
    norm_suffix: str = "_norm"
    fields: list[FieldSpec] = field(default_factory=lambda: list(PAGE_FIELDS))
    l2: float = 0.1
    # "none" -> unweighted token cosine for Text fields; "corpus" -> compute
    # a bounded IDF table from the records stage and weight the cosine
    tfidf: str = "none"
    idf_top_k: int = 1 << 18
    # within-component hierarchical refinement (SURVEY M9 optional step):
    # splits weakly-chained components at the threshold's cophenetic cut
    refine: bool = False
    # Iceberg-style snapshot history: how many SUPERSEDED snapshots to
    # retain per stage (the live committed one is never counted). A stage
    # recommit (config change, new input) moves the previous snapshot into
    # <workdir>/_snapshots/<stage>/<snapshot_id> instead of deleting it;
    # read_snapshot() time-travels, expire_snapshots() reclaims space.
    # 0 disables history (previous behavior). NOT part of key_dict — it
    # changes what is kept, never what is computed.
    snapshot_retention: int = 2
    # "off" | "builtin" | "parser": fill NULL text from the html binary
    # column at ingest (fill_text_from_html). Part of key_dict — it
    # changes what the records stage computes.
    extract_html: str = "off"
    # add the host+Soundex(first title token) blocking predicate — the
    # phonetic predicate-zoo member. Part of key_dict — it changes the
    # block relation.
    phonetic_blocking: bool = False
    # replace the fixed host_t1 predicate with overflow-driven key
    # refinement (blocking.adaptive_block_keys): host|t1 → host|t1|t2 →
    # host|path12, each block settling at the shallowest level fitting
    # max_block — the answer to fixed-key cap collapse under corpus
    # growth (BENCH.md 10× stress). Part of key_dict — it changes the
    # block relation.
    adaptive_blocking: bool = False
    # "parquet" (default): the filesystem manifest-then-rename snapshot
    # protocol (stagestore.FileStageStore). "iceberg" | "delta": commit
    # every stage checkpoint to a REAL lakehouse catalog table instead
    # (catalog.TableCatalog, the same store interface) —
    # atomicity/snapshots/time-travel become the engine's own, the resume
    # key rides in table properties. Requires the catalog wired into the
    # SparkSession (fails fast at Pipeline construction with the
    # spark-submit flags otherwise). NOT part of key_dict — a storage
    # binding, never a computation change.
    table_format: str = "parquet"
    catalog_namespace: str = "dedupe"

    def key_dict(self) -> dict:
        # threshold and refine are absent on purpose: only
        # cluster_assignments reads them, and it takes them as explicit
        # parents — in every key they would recompute the upstream stages
        return {
            "max_block": self.max_block,
            "salt_target": self.salt_target,
            "id_col": self.id_col,
            "fields": [(f.name, f.type, f.has_missing) for f in self.fields],
            "l2": self.l2,
            "tfidf": self.tfidf,
            "extract_html": self.extract_html,
            "phonetic_blocking": self.phonetic_blocking,
            "adaptive_blocking": self.adaptive_blocking,
        }


class Pipeline:
    """Runs the staged pipeline over one stage store (stagestore.py): each
    stage either resumes from its committed checkpoint or computes and
    commits one."""

    MANIFEST = FileStageStore.MANIFEST

    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.cfg = config
        os.makedirs(config.workdir, exist_ok=True)
        self.metrics: dict[str, dict] = {}
        self.store = open_store(spark, config)

    def _stage_key(self, name: str, parents: list[str]) -> str:
        payload = json.dumps(
            {"stage": name, "config": self.cfg.key_dict(), "parents": parents},
            sort_keys=True,
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    # -- snapshot history (Iceberg-style time travel) -------------------------

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot log for a stage, ascending by snapshot_id: superseded
        snapshots still kept plus the live committed one (marked
        ``current``). Each entry carries snapshot_id, committed_at, key and
        rows — enough to diff a config change's effect without recomputing
        anything."""
        return self.store.snapshots(name)

    def read_snapshot(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """Time-travel read: the stage's table as of ``snapshot_id``
        (default: the live committed snapshot). Raises ``LookupError`` if
        the snapshot was never committed or has been expired."""
        return self.store.read_snapshot(name, snapshot_id)

    def expire_snapshots(self, name: str, keep_last: int | None = None) -> list[int]:
        """Drop the oldest superseded snapshots beyond ``keep_last``
        (default: the config's snapshot_retention). The live committed
        snapshot is never expired. Returns the expired ids (the catalog
        store delegates to the engine and returns []; Delta raises, its
        retention is time-based only)."""
        keep = self.cfg.snapshot_retention if keep_last is None else keep_last
        return self.store.expire(name, keep)

    def compact_stage(
        self, name: str, target_file_bytes: int = 128 << 20
    ) -> dict:
        """Bin-pack a committed stage's small files into ~target-size
        files as a NEW data-identical snapshot — the OPTIMIZE/compaction
        maintenance pass every long-lived table needs (a stage written at
        high parallelism leaves one file per task; at 100 TB the
        downstream scan pays per-file open/footer cost and the
        NameNode/listing pays per-object cost).

        The snapshot keeps the SAME stage key, so resume still matches,
        and the previous snapshot moves into time-travel history exactly
        like a recompute commit. Returns {files_before, files_after,
        bytes_total, snapshot_id}. The catalog store raises: use the
        engine's own (Iceberg rewrite_data_files / Delta OPTIMIZE).
        """
        return self.store.compact(name, target_file_bytes)

    def stage(self, name: str, parents: list[str], compute) -> tuple[DataFrame, str]:
        """Read the checkpoint if the store holds one committed under this
        stage's key, else compute and commit atomically.

        Returns (DataFrame, stage_key). Metrics: rows, partitions,
        partition_rows, seconds, key — recorded with the snapshot
        (authoritative) and mirrored to <workdir>/<name>.metrics.json for
        observability.
        """
        key = self._stage_key(name, parents)
        hit = self.store.read(name, key)
        if hit is not None:
            df, m = hit
            self.metrics[name] = m | {"resumed": True}
            return df, key
        t0 = time.time()
        df, m = self.store.commit(name, key, compute(), t0)
        # observability mirror only — resume never trusts it
        with open(os.path.join(self.cfg.workdir, name + ".metrics.json"), "w") as fh:
            json.dump(m, fh)
        self.metrics[name] = m
        return df, key

    # -- end-to-end ----------------------------------------------------------

    def run(self, pages: DataFrame, labeled_pairs: DataFrame) -> dict[str, DataFrame]:
        cfg = self.cfg
        records, k_rec = self.stage(
            "records",
            [],
            lambda: prepare_pages(fill_text_from_html(pages, cfg.extract_html)),
        )

        if cfg.tfidf == "corpus":
            import dataclasses

            from .functions.text import compute_idf

            cfg = dataclasses.replace(
                cfg,
                fields=[
                    dataclasses.replace(
                        f,
                        idf=(idf_pair := compute_idf(
                            records, f.name + cfg.norm_suffix, top_k=cfg.idf_top_k
                        ))[0],
                        default_idf=idf_pair[1],
                    )
                    if f.type == "Text"
                    else f
                    for f in cfg.fields
                ],
            )

        model = train_model(
            records, labeled_pairs, cfg.fields, cfg.id_col, cfg.norm_suffix, cfg.l2
        )
        model_key = hashlib.sha256(
            json.dumps(model.to_dict(), sort_keys=True).encode()
        ).hexdigest()[:16]
        with open(os.path.join(cfg.workdir, "model.json"), "w") as fh:
            json.dump(model.to_dict(), fh)

        def _build_blocks():
            preds = page_predicates(
                cfg.norm_suffix, phonetic=cfg.phonetic_blocking
            )
            if not cfg.adaptive_blocking:
                return B.generate_blocks(records, cfg.id_col, preds)
            # adaptive mode: the fixed host_t1 key is replaced by its
            # overflow-refined ladder; the other predicates are unchanged
            del preds["host_t1"]
            host = F.col("host" + cfg.norm_suffix)
            title = "title" + cfg.norm_suffix
            levels = [
                F.concat_ws("|", host, B.first_tokens(title, 1)),
                F.concat_ws("|", host, B.first_tokens(title, 2)),
                F.concat_ws(
                    "|",
                    host,
                    F.substring(F.col("path" + cfg.norm_suffix), 1, 12),
                ),
            ]
            base = B.generate_blocks(records, cfg.id_col, preds)
            adaptive = B.adaptive_block_keys(
                records, cfg.id_col, levels, cap=cfg.max_block
            )
            return base.unionByName(adaptive)

        blocks, k_blk = self.stage("blocks", [k_rec], _build_blocks)
        cands, k_cnd = self.stage(
            "candidate_pairs",
            [k_blk],
            lambda: B.candidate_pairs(blocks, cfg.max_block, cfg.salt_target),
        )
        # no silent caps: record what the mega-block guard discarded
        # (skipped on resume — the stats were computed with the checkpoint)
        if not self.metrics["candidate_pairs"].get("resumed"):
            self.metrics["blocks_dropped"] = B.warn_dropped_blocks(
                blocks, cfg.max_block, context="pipeline.candidate_pairs"
            )
        scored, k_sco = self.stage(
            "scored_pairs",
            [k_cnd, model_key],
            lambda: SC.score_pairs(
                cands, records, model, cfg.fields, cfg.id_col, cfg.norm_suffix
            ),
        )
        # blocking recall of labeled positives — the guard metric for
        # mega-block capping (SURVEY.md §7 hard part #1)
        from .training import blocking_recall

        positives = labeled_pairs.where(F.col("label") == "y").select(
            F.col("url1").alias("id1"), F.col("url2").alias("id2")
        )
        self.metrics["blocking_recall"] = {
            "labeled_positive_recall": blocking_recall(cands, positives)
        }

        edges = scored.where(F.col("score") >= F.lit(cfg.threshold))

        def _cluster():
            assign = C.connected_components(edges)
            if cfg.refine:
                assign = C.refine_components(assign, edges, cfg.threshold)
            return C.member_confidence(assign, edges)

        assign, k_asn = self.stage(
            "cluster_assignments",
            [k_sco, f"th={cfg.threshold}", f"refine={cfg.refine}"],
            _cluster,
        )
        clusters, _ = self.stage(
            "clusters",
            [k_asn],
            lambda: assemble_clusters(
                assign,
                records,
                cfg.id_col,
                ["url", "lang"],
            ),
        )
        with open(os.path.join(cfg.workdir, "pipeline.metrics.json"), "w") as fh:
            json.dump(self.metrics, fh, indent=1)
        return {
            "records": records,
            "blocks": blocks,
            "candidate_pairs": cands,
            "scored_pairs": scored,
            "assignments": assign,
            "clusters": clusters,
            "model": model,
        }


# ---------------------------------------------------------------------------
# Evaluation: pairwise F1 vs labeled pairs (BASELINE.json metric)
# ---------------------------------------------------------------------------


def pairwise_f1(assignments: DataFrame, labeled_pairs: DataFrame) -> dict:
    """Predict match iff both urls land in the same cluster; F1 over labels."""
    a1 = assignments.select(
        F.col("record_id").alias("url1"), F.col("cluster_id").alias("c1")
    )
    a2 = assignments.select(
        F.col("record_id").alias("url2"), F.col("cluster_id").alias("c2")
    )
    lab = (
        labeled_pairs.where(F.col("label").isin("y", "n"))
        .join(a1, "url1", "left")
        .join(a2, "url2", "left")
        .withColumn(
            "pred",
            (F.col("c1").isNotNull() & (F.col("c1") == F.col("c2"))).cast("int"),
        )
        .withColumn("actual", (F.col("label") == "y").cast("int"))
    )
    agg = lab.agg(
        F.sum(F.col("pred") * F.col("actual")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("actual")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    prec = tp / (tp + fp) if tp + fp else 0.0
    rec = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": prec, "recall": rec, "f1": f1}


def pages_df(spark: SparkSession, pages_pd: pd.DataFrame) -> DataFrame:
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    return spark.createDataFrame(pages_pd, schema=schema)
