"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks every operation's output against the
fixture it generated.

``crawl_batch``
    The north-star path. An operation scans the WARC archives (ranged
    scan), runs ``Pipeline.run(extract_html="builtin")`` into a fresh work
    directory, which commits all six stages, then runs ``exact_dedup`` and
    ``minhash_lsh_pairs`` over the committed records table.

``label_session``
    The reference's human-in-the-loop flow on a KNA2-sized upload: one
    run is one session: ``prepare_training``, ``train`` on seed labels taken
    from fixture truth, model-guided clicks (``uncertain_pairs(k=1)``
    answered from truth, then ``mark_pairs``), ``train`` again, and
    ``partition``.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import re
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from dedupe_spark.api import Deduper
from dedupe_spark.fixtures import make_kna_customers, make_labeled_pairs, make_pages
from dedupe_spark.functions.features import FieldSpec
from dedupe_spark.lifecycle import release_session_storage
from dedupe_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from dedupe_spark.pipeline import Pipeline, PipelineConfig
from dedupe_spark.sources.warc import build_response_record, warc_pages

from harness import pairs_of_clusters, pairwise_f1

STAGES = (
    "records",
    "blocks",
    "candidate_pairs",
    "scored_pairs",
    "cluster_assignments",
    "clusters",
)

# Sizes. The time limit on a whole benchmark session (every run of every
# workload, set-up included) bounds one run to about a minute. At this
# scale an operation is dominated by per-job and per-task fixed cost: a
# warm crawl batch takes ~22 s at local[4] for 80 pages and for 1.5k alike.
CRAWL_BASE_PAGES = 1000
ARCHIVES = 4
SPLIT_BYTES = 1 << 18
LABEL_BASE_ROWS = 330  # ~420 rows, the size of the reference's KNA2 sample
SEED_MATCHES, SEED_DISTINCT = 5, 10
CLICKS = 1

KNA_FIELDS = ["Name 1", "Name 2", "Street", "Postal Code", "City", "Region", "Country"]
KNA_COLUMNS = ["Customer", *KNA_FIELDS, "source_file"]

_WS = re.compile(r"[ \t\n\r]+")


class CheckFailed(Exception):
    """An operation returned output that contradicts the fixture."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------------------
# crawl_batch
# ---------------------------------------------------------------------------


class CrawlCorpus:
    """One fixture corpus on disk: WARC archives plus a labels CSV."""

    def __init__(self, work: str, name: str, n_base: int, seed: int):
        pages, truth = make_pages(n_base=n_base, seed=seed)
        labels = make_labeled_pairs(truth, n_pos=150, n_neg=300, seed=seed + 1)
        self.dir = os.path.join(work, name)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        for i in range(ARCHIVES):
            with open(os.path.join(self.dir, f"part-{i:05d}.warc.gz"), "wb") as fh:
                for row in pages.iloc[i::ARCHIVES].itertuples():
                    ts = pd.Timestamp(row.warc_ts).strftime("%Y-%m-%dT%H:%M:%SZ")
                    rec = build_response_record(row.url, ts, row.html)
                    fh.write(gzip.compress(rec, mtime=0))
        self.labels_csv = os.path.join(self.dir, "labels.csv")
        labels.to_csv(self.labels_csv, index=False)
        self.n_pages = len(pages)
        # extract_html="builtin" collapses whitespace runs and trims: that
        # is the text the records table must hold for each url
        self.text = {u: _WS.sub(" ", t).strip() for u, t in zip(pages.url, pages.text)}
        self.cluster = dict(zip(truth.url, truth.true_cluster_id))
        by_cluster: dict = {}
        for u, c in self.cluster.items():
            by_cluster.setdefault(c, []).append(u)
        self.truth_pairs = pairs_of_clusters(by_cluster)
        self.distinct_texts = len(set(self.text.values()))


class CrawlBatch:
    name = "crawl_batch"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.corpus: CrawlCorpus | None = None
        self.cycles: list[float] = []

    def make_inputs(self) -> None:
        self.corpus = CrawlCorpus(self.work, "corpus", CRAWL_BASE_PAGES, self.seed)

    def warm_up(self) -> list[dict]:
        # A crawl batch is one batch job, which pays its cold start (first
        # Spark plans, first Python workers) every time, so the first timed
        # batch carries it.
        return []

    def measure(self, seconds: float) -> list[dict]:
        ops = []
        t0 = time.perf_counter()
        while not ops or time.perf_counter() - t0 < seconds:
            ops.append(self._batch(self.corpus, os.path.join(self.work, f"run-{len(ops)}")))
            if "error" not in ops[-1]:
                self.cycles.append(ops[-1]["wall_s"])
        return ops

    # -- operations -------------------------------------------------------

    def _ingest(self, corpus: CrawlCorpus):
        tr = self.tracer
        with tr.span("warc.ingest") as sp:
            pages = warc_pages(
                self.spark, os.path.join(corpus.dir, "*.warc.gz"), split_bytes=SPLIT_BYTES
            )
            if tr.enabled:
                # the scan is lazy and runs inside the records stage; this
                # barrier runs it once more, consuming every column it
                # produces, so the ingest layer gets counters of its own
                sp["barrier"] = True
                pages.agg(
                    F.count("*"),
                    F.sum(F.length("html")),
                    F.max("warc_ts"),
                    F.bit_xor(F.xxhash64("url", "text", "lang")),
                ).collect()
        return pages

    def _pipeline(self, corpus, workdir: str, pages):
        tr = self.tracer
        cfg = PipelineConfig(workdir=workdir, extract_html="builtin")
        if tr.enabled:
            p = TracedPipeline(self.spark, cfg, tr)
        else:
            p = Pipeline(self.spark, cfg)
        with tr.span("pipeline.run") as run_span:
            labels = self.spark.read.csv(
                corpus.labels_csv, header=True, schema="url1 string, url2 string, label string"
            )
            out = p.run(pages, labels)
        if tr.enabled:
            self._record_stage_store(p, workdir, cfg.threshold, run_span)
        return p, out

    def _record_stage_store(self, p, workdir, threshold, run_span) -> None:
        tr = self.tracer
        written = 0
        for st in STAGES:
            if not p.metrics[st].get("resumed"):
                with open(os.path.join(workdir, st, Pipeline.MANIFEST)) as fh:
                    written += sum(f["bytes"] for f in json.load(fh)["files"])
        run_span["bytes_written_mb"] = written / 2**20
        run_span["workdir_mb"] = _tree_bytes(workdir) / 2**20
        with tr.span("trace.barrier") as sp:
            sp["barrier"] = True
            scored = self.spark.read.parquet(os.path.join(workdir, "scored_pairs"))
            edges = scored.where(F.col("score") >= threshold).count()
        run_span["useful_ratio"] = edges / max(1, p.metrics["candidate_pairs"]["rows"])

    def _batch(self, corpus: CrawlCorpus, workdir: str) -> dict:
        tr = self.tracer
        res = {"kind": "crawl", "pages": corpus.n_pages}
        with tr.op("crawl") as op:
            t0 = time.perf_counter()
            try:
                pages = self._ingest(corpus)
                p, out = self._pipeline(corpus, workdir, pages)
                t1 = time.perf_counter()
                with tr.span("dedup.exact") as sp:
                    kept = [r.url for r in exact_dedup(out["records"], "url").select("url").collect()]
                    sp["rows"] = len(kept)
                with tr.span("dedup.minhash") as sp:
                    near = [
                        (r.id1, r.id2)
                        for r in minhash_lsh_pairs(out["records"], "url")
                        .select("id1", "id2")
                        .collect()
                    ]
                    sp["rows"] = len(near)
                t2 = time.perf_counter()
                res.update(wall_s=t2 - t0, pipeline_s=t1 - t0, dedup_s=t2 - t1, op=op)
                self._check_pipeline(corpus, p, out, res)
                check(len(kept) == corpus.distinct_texts, "exact_dedup keeps one row per text")
                check(
                    len({corpus.text[u] for u in kept}) == len(kept),
                    "exact_dedup kept two rows with the same text",
                )
                bad = [pr for pr in near if corpus.cluster[pr[0]] != corpus.cluster[pr[1]]]
                check(not bad, f"{len(bad)} MinHash pairs cross truth clusters")
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                res["error"] = f"{type(exc).__name__}: {exc}"
            finally:
                release_session_storage(self.spark)
        return res

    def _check_pipeline(self, corpus: CrawlCorpus, p, out, res: dict) -> None:
        check(
            p.metrics["records"]["rows"] == corpus.n_pages,
            f"ingested {p.metrics['records']['rows']} rows of {corpus.n_pages} archived pages",
        )
        assign = out["assignments"].select("record_id", "cluster_id").collect()
        ids = [r.record_id for r in assign]
        check(len(ids) == len(set(ids)), "a page landed in more than one cluster")
        check(set(ids).issubset(corpus.text), "a cluster holds an unknown url")
        texts = dict(out["records"].select("url", "text").collect())
        check(texts.keys() == corpus.text.keys(), "records table urls differ from the archive")
        diff = sum(texts[u] != t for u, t in corpus.text.items())
        check(diff == 0, f"{diff} pages' extracted text differs from the fixture")
        members: dict = {}
        for r in assign:
            members.setdefault(r.cluster_id, []).append(r.record_id)
        res["f1"] = pairwise_f1(pairs_of_clusters(members), corpus.truth_pairs)


class TracedPipeline(Pipeline):
    """Opens one span per stage around the public ``stage`` hook, so each
    stage's Spark jobs carry that stage's job group."""

    def __init__(self, spark, config, tracer):
        super().__init__(spark, config)
        self.tracer = tracer

    def stage(self, name, parents, compute):
        with self.tracer.span(f"pipeline.{name}") as sp:
            df, key = super().stage(name, parents, compute)
            sp["rows"] = self.metrics[name]["rows"]
        return df, key


# ---------------------------------------------------------------------------
# label_session
# ---------------------------------------------------------------------------


def _kna_cluster(customer: str) -> int:
    # make_kna_customers numbers base rows 10000+i and their duplicate 90000+i
    c = int(customer)
    return c - 90000 if c >= 90000 else c - 10000


class LabelSession:
    """One labeling session per run, on one ``Deduper``. The warm-up is the
    session's opening: ``prepare_training`` and ``train`` on the seed
    labels. Each timed cycle is ``CLICKS`` clicks, ``train`` and
    ``partition``."""

    name = "label_session"

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cycles: list[float] = []

    def make_inputs(self) -> None:
        rows = make_kna_customers(n_base=LABEL_BASE_ROWS, seed=self.seed)
        self.csv = os.path.join(self.work, "kna.csv")
        rows.to_csv(self.csv, index=False)
        by_cluster: dict = {}
        for cust in rows.Customer:
            by_cluster.setdefault(_kna_cluster(cust), []).append(cust)
        self.truth_pairs = pairs_of_clusters(by_cluster)
        rng = random.Random(self.seed)
        ids = sorted(rows.Customer)
        self.seed_match = rng.sample(sorted(self.truth_pairs), SEED_MATCHES)
        distinct: set = set()
        while len(distinct) < SEED_DISTINCT:
            a, b = sorted(rng.sample(ids, 2))
            if _kna_cluster(a) != _kna_cluster(b):
                distinct.add((a, b))
        self.seed_distinct = sorted(distinct)

    def _records(self):
        # the upload is re-read by every call that takes it
        return self.spark.read.csv(
            self.csv,
            header=True,
            multiLine=True,
            escape='"',
            schema=", ".join(f"`{c}` string" for c in KNA_COLUMNS),
        )

    def warm_up(self) -> list[dict]:
        self.deduper = Deduper([FieldSpec(c) for c in KNA_FIELDS], id_col="Customer")
        self.labeled = set(self.seed_match) | set(self.seed_distinct)
        ops: list[dict] = []
        self._op(ops, "prepare_training", lambda: self.deduper.prepare_training(self._records()))
        self.deduper.mark_pairs(match=self.seed_match, distinct=self.seed_distinct)
        self._op(ops, "train", self.deduper.train)
        return ops

    def measure(self, seconds: float) -> list[dict]:
        ops: list[dict] = []
        t0 = time.perf_counter()
        try:
            while not self.cycles or time.perf_counter() - t0 < seconds:
                c0 = time.perf_counter()
                for _ in range(CLICKS):
                    self._op(ops, "uncertain_pairs", self._click)
                self._op(ops, "train", self.deduper.train)
                self._op(ops, "partition", self._partition)
                self.cycles.append(time.perf_counter() - c0)
        finally:
            self.deduper.close()
            release_session_storage(self.spark)
        return ops

    def _op(self, ops: list[dict], kind: str, fn) -> None:
        res = {"kind": kind}
        with self.tracer.op(kind) as op, self.tracer.span(f"api.{kind}"):
            t0 = time.perf_counter()
            try:
                out = fn()
                res["wall_s"] = time.perf_counter() - t0
                res["op"] = op
                if out:
                    res.update(out)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                res["error"] = f"{type(exc).__name__}: {exc}"
        ops.append(res)

    def _click(self) -> None:
        """One click: the most uncertain unlabeled pair, answered from truth."""
        got = [(r.id1, r.id2) for r in self.deduper.uncertain_pairs(k=1).collect()]
        check(len(got) == 1, f"a click returned {len(got)} pairs")
        pair = got[0]
        check(pair not in self.labeled, f"a click returned the labeled pair {pair}")
        self.labeled.add(pair)
        if _kna_cluster(pair[0]) == _kna_cluster(pair[1]):
            self.deduper.mark_pairs(match=[pair])
        else:
            self.deduper.mark_pairs(distinct=[pair])

    def _partition(self) -> dict:
        clusters = self.deduper.partition(self._records()).collect()
        members = {c.cluster_id: [m.record_id for m in c.records] for c in clusters}
        ids = [i for ms in members.values() for i in ms]
        check(len(ids) == len(set(ids)), "a record appears in two clusters")
        return {"f1": pairwise_f1(pairs_of_clusters(members), self.truth_pairs)}


WORKLOADS = {w.name: w for w in (CrawlBatch, LabelSession)}

