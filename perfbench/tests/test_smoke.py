"""Tiny-size smoke runs of the benchmark command. Each run is a separate
process (one JVM per run, as in real use) with the workload sizes shrunk
in that process; they take about a minute each."""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

TINY = "workloads.CRAWL_BASE_PAGES = 40; workloads.LABEL_BASE_ROWS = 40"


def bench(workload: str, seed: int, trace: int) -> dict:
    code = (
        f"import sys; sys.path.insert(0, {BENCH!r}); import workloads; {TINY}; "
        "import run; sys.exit(run.main(sys.argv[1:]))"
    )
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.Popen(
        [sys.executable, "-c", code, *args],
        cwd=ROOT,
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )
    out, err = p.communicate(timeout=600)
    assert p.returncode == 0, err[-3000:]
    # every process the run started (JVM, Python daemon and workers) carries
    # the run's work directory in its environment; none may outlive it
    left = processes_with_env(f"{workload}-{seed}-{p.pid}")
    assert not left, f"processes left running: {left}"
    return json.loads(out.strip().splitlines()[-1])


def processes_with_env(marker: str) -> list[int]:
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as fh:
                if marker.encode() in fh.read():
                    found.append(int(entry))
        except OSError:
            continue
    return found


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


def test_declared_metrics_match_the_command():
    import run

    s = spec()
    assert {w["name"] for w in s["workloads"]} == {"crawl_batch", "label_session"}
    assert [(m["name"], m["unit"]) for m in s["end_to_end"]] == list(run.END_TO_END.items())
    assert [(m["name"], m["unit"]) for m in s["per_layer"]] == list(run.per_layer_units().items())
    assert len(s["per_layer"]) <= 128


def test_label_session_reports_every_end_to_end_metric():
    r = bench("label_session", seed=3, trace=0)
    assert_metrics(r, spec()["end_to_end"])
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_crawl_batch_traced_counts_repeat_for_a_seed():
    first = bench("crawl_batch", seed=5, trace=1)
    assert_metrics(first, spec()["per_layer"])
    second = bench("crawl_batch", seed=5, trace=1)

    def counts(r):
        m = r["metrics"]
        rows = {k: m[k]["value"] for k in m if k.endswith(".rows")}
        return r["attempted"], r["failed"], rows, m["pairwise_f1"]["value"]

    assert counts(first) == counts(second)
    assert first["metrics"]["pipeline.records.rows"]["value"] > 0
    assert first["metrics"]["api.train.s"]["value"] == 0  # not run by this workload
