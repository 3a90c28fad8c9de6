#!/usr/bin/env python
"""Forced-distributed scale certification.

The r10 certified bench stopped exercising distributed execution:
artifact serving + driver-side kernels left sf0.1 numbers dominated by
job overhead (full registry 8c/32c ratio 1.08). This script produces
the evidence the 100 TB claim needs: the top inline cost centers run
with EVERY shortcut disabled —

- ``SPARK_GRAFT_ARTIFACTS=off``   (derive inline; no warehouse reads
  or writes — the other mode, ``warm``, serves the warehouse)
- every ``SPARK_GRAFT_*_LOCAL_*`` kernel gate = 0 (distributed loops)
- ``SPARK_GRAFT_LI_ARROW`` stays ON (it IS the distributed path)

at two scales (sf0.1 and the synthesized 10x decade from
scripts/make_scale10.py, when present) and two core counts, through
the UNCHANGED bench.py harness (same timing, same calibration
telemetry; SPARK_GRAFT_CLEAN_RETRIES=1 keeps the matrix bounded — the
core-ratio signal survives moderate noise because both core counts see
the same windows).

Output: SCALE_CERT_r11.json with per-query seconds for each
(scale, cores) cell and the low/high-core parallelism ratio per scale.

Usage: python scripts/scale_cert.py [--queries a,b,c] [--cores 8,32]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE10 = os.environ.get("SPARK_GRAFT_SCALE10", os.path.join(REPO, "scale10"))

# top inline cost centers (r10 certified artifact + verdict list):
# every artifact-served family's most expensive member plus the
# genuinely-distributed loops.
DEFAULT_QUERIES = [
    "late_interaction_maxsim_topk",
    "personalized_pagerank_parts",
    "pagerank_copurchase",
    "triangle_count_copurchase",
    "entity_resolution_customers",
    "fuzzy_name_pairs",
    "jaccard_prefix_filter_pairs",
    "split_leakage_neardup",
    "phash_method_agreement",
    "multimodal_phash_neardup",
    "audio_phash_neardup",
    "dedup_connected_components",
    "training_data_pipeline",
    "semdedup_prune",
    "ivfpq_search_topk",
    "nn_descent_graph",
    "minhash_band_eval",
    "hits_hubs_authorities",
    "label_propagation_communities",
    "item_cf_similar_top3",
]

FORCED_ENV = {
    "SPARK_GRAFT_ARTIFACTS": "off",
    "SPARK_GRAFT_GRAPH_LOCAL_EDGES": "0",
    "SPARK_GRAFT_GRAPH_LOCAL_EDGES_HEAVY": "0",
    "SPARK_GRAFT_CC_LOCAL_EDGES": "0",
    "SPARK_GRAFT_BEAM_LOCAL_VECS": "0",
    "SPARK_GRAFT_BT_LOCAL_PAIRS": "0",
    "SPARK_GRAFT_CLEAN_RETRIES": "1",
    "SPARK_GRAFT_RERUN_THRESHOLD_S": "1e9",  # one run per entry
}


def run_cell(sf_dir: str, cpus: int, queries: list[str], tag: str) -> dict:
    out_json = f"/tmp/scale_cert_{tag}.json"
    if os.path.exists(out_json) and not os.environ.get(
        "SPARK_GRAFT_CERT_FRESH"
    ):
        print(f"scale_cert: cell {tag} cached at {out_json}", flush=True)
        with open(out_json) as f:
            return json.load(f)
    env = dict(os.environ)
    env.update(FORCED_ENV)
    env.update(
        {
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_BENCH_ONLY": ",".join(queries),
            "SPARK_GRAFT_BENCH_JSON": out_json,
        }
    )
    print(
        f"scale_cert: cell {tag} ({sf_dir}, {cpus} cores, "
        f"SPARK_GRAFT_ARTIFACTS={FORCED_ENV['SPARK_GRAFT_ARTIFACTS']})...",
        flush=True,
    )
    subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        check=True,
        stdout=subprocess.DEVNULL,
        stderr=sys.stderr,
    )
    with open(out_json) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--cores", default="8,32")
    ap.add_argument(
        "--out", default=os.path.join(REPO, "SCALE_CERT_r11.json")
    )
    args = ap.parse_args()
    queries = [q for q in args.queries.split(",") if q]
    cores = [int(c) for c in args.cores.split(",")]
    scales = [("sf0.1", "/root/testdata/sf0.1")]
    if os.path.isdir(SCALE10):
        scales.append(("sf1", SCALE10))
    else:
        print(
            f"scale_cert: {SCALE10} missing — run scripts/make_scale10.py "
            "for the second decade",
            file=sys.stderr,
        )

    cells: dict[str, dict] = {}
    for label, sf_dir in scales:
        for c in cores:
            tag = f"{label}_c{c}"
            cells[tag] = run_cell(sf_dir, c, queries, tag)

    report: dict = {
        "mode": FORCED_ENV,
        "cores": cores,
        "queries": {},
    }
    lo, hi = min(cores), max(cores)
    for q in queries:
        entry: dict = {}
        for label, _ in scales:
            tlo = cells[f"{label}_c{lo}"]["queries"].get(q)
            thi = cells[f"{label}_c{hi}"]["queries"].get(q)
            entry[f"{label}_c{lo}"] = tlo
            entry[f"{label}_c{hi}"] = thi
            if tlo and thi and tlo > 0 and thi > 0:
                entry[f"{label}_ratio_{lo}v{hi}"] = round(tlo / thi, 2)
            for cc in cores:
                e = cells[f"{label}_c{cc}"].get("env", {}).get(q, {})
                if e.get("dirty"):
                    entry.setdefault("dirty_cells", []).append(
                        f"{label}_c{cc}"
                    )
        report["queries"][q] = entry
    for tag, cell in cells.items():
        report.setdefault("cells", {})[tag] = {
            "total_all": cell.get("total_all"),
            "n_dirty": cell.get("n_dirty"),
            "calib_baseline": cell.get("calib_baseline"),
            "artifacts_mode": cell.get("artifacts_mode"),
        }
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"out": args.out, "cells": report.get("cells")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
