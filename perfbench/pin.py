#!/usr/bin/env python3
"""Re-pin the registry fingerprints in perfbench/pins.json, cross-checked
against the DuckDB oracle.

For each registry fixture: graft.Verify dumps the benchmark's queries
(plus the self-test's), tools/check.py compares every dump with its DuckDB
oracle, and only the queries it passes get their fingerprint pinned,
computed from the accepted dump. The approximate q35 is pinned as exact
DuckDB percentiles with its 1% accuracy bound instead.

Run from the repository root after the fixtures or the query sets change:
  python3 perfbench/pin.py
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

SETS = {  # fixture -> queries; mirrors graft.perfbench.Registry
    "sf0.01": ["q1_agg", "q3_join_agg", "q4_pivot", "q6_latest_per_key", "q7_time_bucket",
                 "q11_percentile", "q13_anti_join", "q23_left_join_fill", "q24_composite_join",
                 "q29_asof_join", "q32_session_window", "q36_dq_profile", "q40_range_join",
                 "q41_topk_per_key", "q47_intersect_except", "q50_grouping_sets",
                 "q56_retention", "q62_fuzzy_join"],
    "sf0.01x10": [],
}
CURATION = ["d2_minhash_lsh", "d4_ngram_jaccard", "d7_simhash64", "d12_substr_spans",
            "s1_knn_cosine", "s4_pq_codes"]
SELF_TEST = ["d13_span_scrub", "t14_contam_scrub"]
SETS["sf0.01"] += CURATION + SELF_TEST
SETS["sf0.01x10"] += CURATION + SELF_TEST + ["q1_agg"]


def java(classpath, *args, **kw):
    opts = [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
    return subprocess.run(["java", "-Xmx3g", *opts, "-cp", classpath, *args], check=True, **kw)


def q35_exact(fixture):
    import duckdb
    rows = duckdb.sql(
        f"SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5), "
        f"quantile_cont(l_extendedprice, 0.95) FROM '{fixture}/lineitem.parquet' GROUP BY 1"
    ).fetchall()
    return {"key": "l_returnflag", "bound": 0.01,
            "exact": {k: {"ap50": p50, "ap95": p95} for k, p50, p95 in rows}}


def main():
    classpath, _ = build.build()
    pins = {"accuracy": {"q35_approx_percentile": q35_exact(run.fixture_dir("sf0.01"))}}
    for fixture, names in SETS.items():
        src = run.fixture_dir(fixture)
        dump = os.path.join(run.OUT, "pin", fixture)
        shutil.rmtree(dump, ignore_errors=True)
        java(classpath, "graft.Verify", src, dump, *names)
        check = subprocess.run([sys.executable, "tools/check.py", src, dump],
                               capture_output=True, text=True)
        print(check.stdout, file=sys.stderr)
        passed = set(re.findall(r"^PASS (\S+):", check.stdout, re.M))
        out = java(classpath, "graft.perfbench.FingerprintDirs", dump,
                   capture_output=True, text=True).stdout
        fps = dict(line.split("\t") for line in out.splitlines() if "\t" in line)
        missing = [n for n in names if n not in passed or n not in fps]
        if missing:
            sys.exit(f"{fixture}: not oracle-accepted, left unpinned: {missing}")
        pins[fixture] = {n: fps[n] for n in names}
    with open(os.path.join(run.HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
