"""The benchmark's own tests: every output check accepts the reference
and rejects a corrupted copy of it, and a tree without the program
yields no result line. No Spark session is started.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import basin, dedup, flood  # noqa: E402


# -- flood_forecast ---------------------------------------------------------

@pytest.fixture(scope="module")
def flood_case(tmp_path_factory):
    exp = flood.expected(flood.generate(7, str(tmp_path_factory.mktemp("flood"))))
    det = exp["detailed"]
    n, steps = det["median_dis"].shape
    ci, si = np.divmod(np.arange(n * steps), steps)
    detailed = pd.DataFrame({
        "latitude": exp["lat"][ci], "longitude": exp["lon"][ci], "step": si + 1,
        **{c: det[c][ci, si] for c in flood.STAT_COLS + flood.PROB_COLS},
    })
    labels = exp["labels"]
    keep = np.flatnonzero(labels["intensity"] != "G")
    summary = pd.DataFrame({
        "latitude": exp["lat"][keep], "longitude": exp["lon"][keep],
        **{c: labels[c][keep] for c in flood.LABEL_COLS},
    })
    return exp, detailed, summary


def test_flood_reference_passes_and_mixes_labels(flood_case):
    exp, detailed, summary = flood_case
    assert flood.check(exp, detailed, summary) == []
    mix = flood.label_mix(exp)
    assert set(mix["intensity"]) == {"P", "R", "Y", "G"}
    assert set(mix["tendency"]) == {"U", "C", "D"}
    assert set(mix["peak_timing"]) == {"BB", "GC", "GB"}


def test_flood_rejects_dropped_row(flood_case):
    exp, detailed, summary = flood_case
    assert flood.check(exp, detailed.drop(index=5), summary)


def test_flood_rejects_shifted_quantile(flood_case):
    exp, detailed, summary = flood_case
    bad = detailed.copy()
    bad.loc[3, "q3_dis"] *= 1 + 1e-7
    assert any("q3_dis" in e for e in flood.check(exp, bad, summary))


def test_flood_rejects_wrong_label(flood_case):
    exp, detailed, summary = flood_case
    bad = summary.copy()
    bad.loc[0, "tendency"] = {"U": "C", "C": "D", "D": "U"}[bad.loc[0, "tendency"]]
    assert any("tendency" in e for e in flood.check(exp, detailed, bad))


# -- basin_treeloss ---------------------------------------------------------

@pytest.fixture(scope="module")
def basin_case(tmp_path_factory):
    gen = basin.generate(7, str(tmp_path_factory.mktemp("basin")))
    exp = basin.expected(gen)
    rows = []
    for k, ring in enumerate(gen["rings"]):
        mask = basin.inside(gen["px"], gen["py"], ring)
        counts = np.bincount(gen["lossyear"][mask], minlength=basin.YEARS + 1)[1:]
        rows += [(int(gen["ids"][k]), 2001 + y, int(c)) for y, c in enumerate(counts)]
    treeloss = pd.DataFrame(rows, columns=["id", "year", "loss_incidents"])
    coarse = pd.DataFrame({"year": np.arange(1, basin.YEARS + 1), "mask_sum": exp["per_year"]})
    return exp, treeloss, coarse


def test_basin_reference_passes(basin_case):
    exp, treeloss, coarse = basin_case
    assert basin.check(exp, treeloss, coarse) == []


def test_basin_rejects_count_moved_to_neighbour(basin_case):
    exp, treeloss, coarse = basin_case
    bad = treeloss.copy()
    sampled = next(iter(exp["per_basin"]))
    src = bad.index[(bad["id"] == sampled) & (bad["loss_incidents"] > 0)][0]
    dst = bad.index[(bad["id"] != sampled) & (bad["year"] == bad.loc[src, "year"])][0]
    bad.loc[src, "loss_incidents"] -= 1
    bad.loc[dst, "loss_incidents"] += 1
    assert bad["loss_incidents"].sum() == treeloss["loss_incidents"].sum()
    assert any(str(sampled) in e for e in basin.check(exp, bad, coarse))


def test_basin_rejects_missing_zero_row(basin_case):
    exp, treeloss, coarse = basin_case
    zero = treeloss.index[treeloss["loss_incidents"] == 0]
    bad = treeloss.drop(index=zero[:1]) if len(zero) else treeloss.iloc[1:]
    assert basin.check(exp, bad, coarse)


def test_basin_rejects_coarse_year_shift(basin_case):
    exp, treeloss, coarse = basin_case
    bad = coarse.copy()
    bad.loc[0, "mask_sum"] -= 1
    bad.loc[1, "mask_sum"] += 1
    assert basin.check(exp, treeloss, bad)


# -- dedup_stream -----------------------------------------------------------

@pytest.fixture(scope="module")
def dedup_case(tmp_path_factory):
    gen = dedup.generate(7, str(tmp_path_factory.mktemp("dedup")))
    exp = dedup.expected(gen, 3)
    kept = sorted(exp["ids"] - exp["copies"])
    out = pd.DataFrame({"doc_id": kept, "text": [gen["texts"][i] for i in kept]})
    return gen, exp, out, pd.DataFrame({"doc_id": kept})


def test_dedup_plants_exact_and_near_copies(dedup_case):
    gen, exp, _, _ = dedup_case
    copies = gen["copy_of"]
    exact = [c for c, src in copies.items() if gen["texts"][c] == gen["texts"][src]]
    near = [c for c in copies if c not in exact]
    assert exact and near
    assert all(dedup.jaccard(gen["texts"][c], gen["texts"][copies[c]]) >= 0.95 for c in near)
    assert all(c > src and src not in copies for c, src in copies.items())
    assert len(set(copies.values())) == len(copies)


def test_dedup_reference_passes(dedup_case):
    _, exp, out, store = dedup_case
    assert dedup.check(exp, out, store) == []


def test_dedup_rejects_kept_duplicate(dedup_case):
    gen, exp, out, store = dedup_case
    copy = min(exp["copies"])
    bad = pd.concat([out, pd.DataFrame({"doc_id": [copy], "text": [gen["texts"][copy]]})])
    assert any("planted copies survived" in e
               for e in dedup.check(exp, bad, pd.DataFrame({"doc_id": bad["doc_id"]})))


def test_dedup_rejects_dropped_original_and_stale_store(dedup_case):
    _, exp, out, store = dedup_case
    assert dedup.check(exp, out.iloc[1:], store)
    assert dedup.check(exp, out, store.iloc[1:])


# -- harness ----------------------------------------------------------------

def test_benchmark_json_matches_the_metrics_printed():
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert not set(run.STREAM_LAYER) & set(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


class _Pipeline:
    """Stands in for a workload: passes from ``fail_from`` on raise."""

    exhausted = False
    warmup = counted = 2

    def __init__(self, fail_from: int):
        self.fail_from, self.runs = fail_from, 0

    def run(self, span) -> dict:
        self.runs += 1
        if span.index >= self.fail_from:
            raise RuntimeError("pass failed")
        return {}

    def verify(self, exp) -> list[str]:
        return []


def _passes(fail_from: int) -> run.Passes:
    passes = run.Passes(_Pipeline(fail_from), run.Spans(None, False), lambda: 0.0)
    passes.run(exp=None, seconds=0)
    return passes


def test_every_pass_failing_is_not_correct():
    passes = _passes(fail_from=0)
    assert passes.attempted == passes.failed == 5
    assert not passes.correct


def test_every_warm_pass_failing_is_not_correct():
    passes = _passes(fail_from=1)
    assert (passes.attempted, passes.failed) == (5, 4)
    assert not passes.correct


def test_passing_run_counts_the_passes_after_warm_up():
    passes = _passes(fail_from=99)
    assert (passes.attempted, passes.failed) == (5, 0)
    assert passes.correct
    assert [i for i, _ in passes.counted] == [3, 4]


def test_without_the_program_every_operation_fails(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("work"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flood_forecast",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
    line = json.loads(proc.stderr.strip().splitlines()[-1])
    assert line["attempted"] >= 1 and line["failed"] == line["attempted"]
