"""The benchmark's own tests, at tiny input sizes.

    python -m pytest perfbench -q

The last test runs the benchmark end to end (one JVM per case, ~4 minutes
in all; PERFBENCH_SKIP_RUN=1 skips it).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import gen, run  # noqa: E402
from perfbench.workloads import Dashboard, Ingest, Op  # noqa: E402


def test_same_seed_gives_identical_inputs():
    a, b = gen.crawl(7, 30, 2, dup_share=0.1), gen.crawl(7, 30, 2, dup_share=0.1)
    assert gen.table_hash(a.pages) == gen.table_hash(b.pages)
    assert gen.table_hash(a.pages) != gen.table_hash(gen.crawl(8, 30, 2, dup_share=0.1).pages)
    fa, la = gen.ingest_files(a, 16, 0.1, 7)
    fb, lb = gen.ingest_files(b, 16, 0.1, 7)
    assert la == lb == 2
    assert [gen.table_hash(t) for t in fa] == [gen.table_hash(t) for t in fb]
    assert gen.table_hash(gen.media_mix(7, 2).table) == gen.table_hash(gen.media_mix(7, 2).table)


def test_crawl_properties():
    c = gen.crawl(3, 40, 3, dup_share=0.1)
    html = c.pages["html"].to_pylist()
    assert c.n_dups == len(html) - len(set(html)) > 0
    assert np.array_equal([len(h) for h in html], c.value)
    assert (c.ts >= c.start).all() and (c.ts < c.start + 3 * 86400).all()
    assert len(set(zip(c.url_idx.tolist(), c.ts.tolist()))) == len(c.ts)  # unique doc ids


def _dashboard():
    d = Dashboard.__new__(Dashboard)
    d.seed = 5
    d.build_oracle(gen.crawl(5, 60, 7, min_interval=300.0))
    return d


def _correct_read(d, q):
    uk, n, s = d._expected(q, q["bin"], q["t0"], q["t1"])
    return pd.DataFrame({"url": d.crawl.urls[uk // 10**9], "bin_m": uk % 10**9,
                         "n": n, "sum": s})


def test_corrupted_read_is_a_failed_op():
    d = _dashboard()
    for q in d._queries(0)[:3]:  # the 1m, 2h and 1d widgets
        out = _correct_read(d, q)
        assert d.check(Op(len(out), 0, out=[(q, out)])) is None
        bad = out.copy()
        bad.loc[len(bad) // 2, "sum"] += 1.0
        assert d.check(Op(len(bad), 0, out=[(q, bad)])) is not None
        short = out.iloc[1:]
        assert d.check(Op(len(short), 0, out=[(q, short)])) is not None


def test_corrupted_ingest_report_is_a_failed_op():
    w = Ingest.__new__(Ingest)
    w.crawl = gen.crawl(5, 30, 2, dup_share=0.1)
    good = {"dedup": {"docs": w.crawl.pages.num_rows, "dups": w.crawl.n_dups},
            "rollup_blobs": {"points": 10, "roundtrip_ok": True}}
    assert w.check(Op(0, 0, out=("", good))) is None
    bad = json.loads(json.dumps(good))
    bad["dedup"]["dups"] += 1
    assert w.check(Op(0, 0, out=("", bad))) is not None


class _Fake:
    """A workload whose second op returns a corrupted read."""

    def __init__(self):
        self.d = _dashboard()
        self.tr = type("T", (), {"op": None, "enabled": False})()

    def op(self, i):
        q = self.d._queries(0)[0]
        out = _correct_read(self.d, q)
        if i == 1:
            out.loc[0, "n"] += 1
        return Op(len(out), 1, out=[(q, out)])

    check = property(lambda self: self.d.check)

    def bytes_per_point(self, op):
        return 1.0

    def layer_counts(self, op):
        return {}

    def release(self, op):
        pass


def test_failed_ops_are_counted_against_attempted():
    ops: list = []
    run.measure(_Fake(), seconds=0.0, ops_log=ops, progress=None, first_op=0)
    run.measure(_Fake(), seconds=0.0, ops_log=ops, progress=None, first_op=1)
    assert [o["error"] is None for o in ops] == [True, False]


def test_every_metric_is_declared_with_its_unit():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    ops = [{"i": i, "ms": 100.0 + i, "rows": 10, "in_bytes": 1000,
            "bytes_per_point": 2.0, "batches": [], "kinds": {}, "layers": {}}
           for i in range(4)]
    e2e = run.end_to_end(ops, 12.5, "dashboard")
    assert {k: v["unit"] for k, v in e2e.items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in e2e.values())


@pytest.mark.skipif(os.environ.get("PERFBENCH_SKIP_RUN") == "1", reason="skips the JVM runs")
@pytest.mark.parametrize("workload,trace", [("dashboard", "0"), ("dashboard", "1"),
                                            ("ingest", "1")])
def test_run_end_to_end(workload, trace):
    env = dict(os.environ, PERFBENCH_SCALE="0.25")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", trace],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert not os.path.exists(os.path.join(REPO, ".perfbench_work"))
