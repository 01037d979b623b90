#!/usr/bin/env python3
"""Self-check of the benchmark: its gates, its oracle and every workload.

    python3 perfbench/selfcheck.py            # gates + oracle only (seconds)
    python3 perfbench/selfcheck.py --runs     # also every workload, tiny size,
                                              # untraced and traced (minutes)

The gate checks feed each workload's ``check`` a correct output and a
corrupted one and require the corruption to be reported.  ``--runs`` runs
``run.py --size tiny`` once per workload and mode, one process at a time,
and requires a correct result that carries every metric BENCHMARK.json
names (plus the bypass zeros the traced table must show), and that no
process it started (the JVM, its Python workers) is left when it exits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402


def check_oracle():
    # the reference's own tokenizer golden: 'McDonalds' -> 7 grams
    x = oracle.tfidf_matrix(["McDonalds", "mcdonalds", "Burger Hut"])
    assert x.shape[1] == len(set(["mcd", "cdo", "don", "ona", "nal", "ald", "lds", "bur",
                                  "urg", "rge", "ger", "erh", "rhu", "hut"]))
    sure, border, sims = oracle.tfidf_pairs(["McDonalds", "MC-DONALDS", "Burger Hut"], 0.8)
    assert (0, 1) in sure and (1, 0) in sure and (0, 2) not in sure, sure
    assert abs(sims[0, 1] - 1.0) < 1e-12
    assert list(oracle.components(4, {(0, 2), (2, 3)})) == [0, 1, 0, 0]
    r, p = oracle.pair_scores(np.array([0, 0, 1, 1]), np.array([5, 5, 5, 6]))
    assert (r, p) == (1 / 3, 1 / 2), (r, p)


def check_names_gate():
    wl = workloads.NamesReference(None, 3, "tiny", None)
    wl.setup()
    names = list(wl.current)
    sure, _, sims = oracle.tfidf_pairs(names, wl.threshold)
    pairs = sorted(sure)
    matches = pd.DataFrame({
        "left_index": [i for i, _ in pairs],
        "similarity": [sims[i, j] for i, j in pairs],
        "right_index": [j for _, j in pairs],
    })
    labels = oracle.components(len(names), sure)
    groups = pd.DataFrame({"group_rep_index": labels})
    fails, recall, precision = wl.check((matches, groups))
    assert not fails and recall == 1.0 and precision == 1.0, fails
    off = [k for k, (i, j) in enumerate(pairs) if i < j]
    assert off, "tiny names corpus has no near-duplicate pair"
    fails, recall, _ = wl.check((matches.drop(index=off[0]), groups))
    assert fails and recall < 1.0, "a missing pair must fail the gate"
    bad = matches.copy()
    bad.loc[off[0], "similarity"] += 1e-6
    assert wl.check((bad, groups))[0], "a wrong similarity must fail the gate"
    split = groups.copy()
    i, j = pairs[off[0]]
    split.loc[j, "group_rep_index"] = len(names) + 1
    assert wl.check((matches, split))[0], "a split group must fail the gate"


def check_pages_gate():
    wl = workloads.PagesFlagship(None, 1, "tiny", None)
    wl.n = wl.rows = 8
    wl.truth = pd.DataFrame({"page_id": range(8), "true_cluster": [0] * 4 + [1] * 4})
    good = pd.DataFrame({"doc_id": range(8), "component": [0, 0, 0, 3, 4, 4, 4, 4]})
    fails, recall, precision = wl.check(good)
    assert not fails and recall == 1.0 and precision == 1.0, fails
    assert wl.check(good.assign(component=range(8)))[0], "changed labels must fail"
    wl.first = None
    fails, recall, _ = wl.check(good.assign(component=[0, 0, 2, 3, 4, 4, 4, 4]))
    assert fails and recall < 0.99, "a lost must-find pair must fail"
    wl.first = None
    _, _, precision = wl.check(good.assign(component=[0] * 8))
    assert precision < 1.0


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def check_crawl_gate():
    with tempfile.TemporaryDirectory() as tmp:
        wl = workloads.CrawlCurateSkew(None, 1, "tiny", tmp)
        wl.rows = 5
        wl.corpus = {"truth": {"a": 0, "b": 0, "c": 1}}
        wl.dir = tmp
        clusters = pd.DataFrame({"url": ["a", "b", "c"], "component": ["a", "a", "c"]})
        curated = pd.DataFrame({"url": ["a", "c"]})
        dropped = pd.DataFrame({"url": ["d", "e"], "stage": ["url_dedup", "quality"],
                                "reasons": ["non-earliest crawl", "stop_words"]})

        def result(cl=clusters, cu=curated, dr=dropped, n_input=5):
            cu.to_parquet(os.path.join(tmp, "curated"))
            dr.to_parquet(os.path.join(tmp, "dropped"))
            return {"counters": {"n_input": n_input, "n_after_quality": len(cl)},
                    "clusters": _Frame(cl)}

        fails, recall, precision = wl.check(result())
        assert not fails and recall == 1.0 and precision == 1.0, fails
        assert wl.check(result(n_input=6))[0], "a lost row must fail"
        no_reason = dropped.assign(reasons=["", "stop_words"])
        assert wl.check(result(dr=no_reason))[0], "a drop without a reason must fail"
        wl.first = None
        split = clusters.assign(component=["a", "b", "c"])
        curated3 = pd.DataFrame({"url": ["a", "b", "c"]})
        fails, recall, _ = wl.check(result(cl=split, cu=curated3))
        assert recall == 0.0
        assert wl.check(result())[0], "output that changes between calls must fail"


def check_generators():
    a, b = gen.crawl_pages(5), gen.crawl_pages(5)
    assert a["records"] == b["records"], "same seed must give the same crawl"
    assert gen.crawl_pages(6)["records"] != a["records"]
    assert gen.company_names(5, 50) == gen.company_names(5, 50)
    urls = [u for u, _, _ in a["records"]]
    assert len(urls) - len(set(urls)) == a["n_recrawl"]
    assert any(ts is None for _, ts, _ in a["records"]), "NULL warc_ts rows"
    assert any(not t.isascii() for _, _, t in a["records"]), "NFKD-foldable rows"


def run_processes() -> set:
    """Processes of a running benchmark run: the JVM names the run's work
    directory on its command line, its Python workers in their environment
    (``SPARK_LOCAL_DIRS``)."""
    marker = os.path.join(ROOT, ".perfbench_work").encode()
    out = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        for part in ("cmdline", "environ"):
            try:
                with open(f"/proc/{pid}/{part}", "rb") as fh:
                    if marker in fh.read():
                        out.add(int(pid))
                        break
            except OSError:
                pass
    return out


def run_watched(cmd) -> tuple:
    """Run ``cmd`` from the checkout, noting its processes while it runs.
    Returns the exit code, stdout, stderr and the noted processes still
    present (zombies included) once it has exited."""
    seen: set = set()
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=err, text=True)
        deadline = time.monotonic() + 900
        while proc.poll() is None:
            if time.monotonic() > deadline:
                proc.kill()
                proc.wait()
                raise AssertionError(f"{cmd} took over 900 s")
            seen |= run_processes()
            time.sleep(0.2)
        out.seek(0)
        err.seek(0)
        left = sorted(p for p in seen if os.path.exists(f"/proc/{p}"))
        return proc.returncode, out.read(), err.read(), left


def check_runs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {0: [m["name"] for m in bench["end_to_end"]],
             1: [m["name"] for m in bench["per_layer"]]}
    bypass = {
        "names_reference": "plans.fast_dedup.terms_s",
        "pages_flagship": "operators.similarity.cosine_join_s",
        "crawl_curate_skew": "pandas_api.get_matches_s",
    }
    for wl in workloads.WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            code, stdout, stderr, left = run_watched(cmd)
            assert code == 0, stderr[-2000:]
            assert not left, (wl, trace, f"processes {left} outlived the run")
            res = json.loads(stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0, (wl, trace, res)
            missing = set(names[trace]) - set(res["metrics"])
            assert not missing, (wl, trace, sorted(missing))
            if trace:
                m = res["metrics"]
                assert m[bypass[wl]]["value"] == 0.0, (wl, bypass[wl])
                assert m["trace.coverage_frac"]["value"] >= 0.9, (wl, m["trace.coverage_frac"])
            print(f"ok: {wl} trace={trace}", flush=True)


def main():
    for check in (check_oracle, check_generators, check_names_gate, check_pages_gate,
                  check_crawl_gate):
        check()
        print(f"ok: {check.__name__}", flush=True)
    if "--runs" in sys.argv[1:]:
        check_runs()
    print("selfcheck passed")


if __name__ == "__main__":
    main()
