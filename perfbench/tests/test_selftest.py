"""Tiny-size self-test of the benchmark: every metric BENCHMARK.json names
is emitted with its unit, and a wrong output counts as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402
from perfbench.workloads import CorpusDedup, KgBuild  # noqa: E402

TINY = {"kg_build": lambda: KgBuild(synth_files=40, families=40),
        "corpus_dedup": lambda: CorpusDedup(docs=120, near=6, exact=2)}


@pytest.fixture(scope="module")
def spark():
    from gondar_spark.session import build_session

    s = build_session(app_name="perfbench_selftest", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture()
def work():
    d = tempfile.mkdtemp(prefix="perfbench_selftest_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]},
            [w["name"] for w in bench["workloads"]])


@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_emitted_with_its_unit(spark, work, workload):
    e2e_units, layer_units, workloads = _declared()
    assert workload in workloads
    res = run.run_benchmark(workload, 7, 0.0, True, work, spark=spark,
                            wl=TINY[workload]())
    assert res["correct"], res["detail"]["failures"]
    assert res["attempted"] == 3 and res["failed"] == 0
    for trace, units in ((0, e2e_units), (1, layer_units)):
        line = run.result_line(res, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        assert got == units
        assert all(isinstance(v["value"], (int, float))
                   for v in line["metrics"].values())
    e2e = res["e2e"]
    assert e2e["op_s"] > 0 and e2e["setup_s"] > 0
    assert res["per_layer"]["mem.peak_rss_mb"] > 0
    m = res["per_layer"]
    assert m["error_rate"] == 0
    # the named stages plus stage.other_s account for the op's wall
    stages = sum(m[f"stage.{s}_s"] for s in
                 ("source", "triples_raw", "mentions", "edges", "labels",
                  "materialize"))
    op = m["op.build_s"] + m["op.dedup_s"]
    assert stages + m["stage.other_s"] == pytest.approx(op, rel=1e-3)
    # and the layers' self times partition it
    self_s = sum(v for k, v in m.items() if k.startswith("self."))
    assert self_s == pytest.approx(op, rel=1e-2)
    assert m["spark.jobs"] > 0 and m["cc.calls"] >= 1


def test_wrong_output_raises_error_rate(spark, work, monkeypatch):
    from gondar_spark.operators import dedup

    real = dedup.ngram_jaccard_pairs
    # drop every pair: the planted duplicates go missing
    monkeypatch.setattr(dedup, "ngram_jaccard_pairs",
                        lambda df, **kw: real(df, **kw).limit(0))
    res = run.run_benchmark("corpus_dedup", 7, 0.0, True, work, spark=spark,
                            wl=TINY["corpus_dedup"]())
    # the warm-up and the first timed iteration both fail; the run stops
    assert not res["correct"]
    assert res["failed"] == 2 and res["attempted"] == 2
    assert res["per_layer"]["error_rate"] == 1.0
    assert all("ngram_jaccard_pairs missed" in f
               for f in res["detail"]["failures"])
    line = run.result_line(res, 1)
    assert line["correct"] is False and line["failed"] == 2
