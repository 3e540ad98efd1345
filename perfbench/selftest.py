"""Tiny-input self-test of the benchmark itself.

    python3 perfbench/selftest.py

Shrinks every generated input, then runs each workload once traced
(one cold and two warm passes) and one workload untraced, and checks:

- every run is correct (no step raised or failed its check);
- every metric named in BENCHMARK.json is emitted, with its unit, in
  the matching mode, and nothing else is;
- each traced step's jobs ran inside its timer: ``driver_s`` plus the
  union of its job spans reconciles to the step's wall time within 10%
  (plus 20 ms for Spark's millisecond timestamps);
- the layers the workloads are built around report work: estimate and
  groupby jobs on panel_fixture, Python-UDF time in groupby and dedup,
  and the set-up's warm-up query reports its planning time.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402

TINY = {
    "FIXTURE": {"lineitem_rows": 20_000, "orders": 5_000, "parts": 2_000, "suppliers": 100,
                "events_rows": 5_000, "users": 200},
    "SCALE": {"rows": 40_000, "fe_a_levels": 100, "fe_b_levels": 2_000, "files": 4},
    "DOCS": {"docs": 600, "dup_clusters": 40, "near_miss_pairs": 40, "embeddings": 300, "emb_dup_pairs": 10,
             "knn_queries": 4},
}


def _shrink() -> None:
    for name, sizes in TINY.items():
        getattr(inputs, name).update(sizes)


def _expected(mode: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[mode]}


def _check_metrics(result: dict, mode: str) -> list[str]:
    want = _expected(mode)
    got = result["metrics"]
    errors = [f"missing metric {n}" for n in want if n not in got]
    errors += [f"unexpected metric {n}" for n in got if n not in want]
    errors += [
        f"{n}: unit {got[n].get('unit')!r} != {u!r} or value not a number"
        for n, u in want.items()
        if n in got and (got[n].get("unit") != u or not isinstance(got[n].get("value"), (int, float)))
    ]
    return errors


def _check_reconcile(passes: list[list[dict]]) -> list[str]:
    errors = []
    for p in passes:
        for r in p:
            gap = abs(r["driver_s"] + r["job_span_s"] - r["wall_s"])
            if gap > 0.1 * r["wall_s"] + 0.02:
                errors.append(
                    f"{r['step']}: driver_s {r['driver_s']:.3f} + job span {r['job_span_s']:.3f}"
                    f" vs wall {r['wall_s']:.3f}"
                )
    return errors


def main() -> int:
    _shrink()
    data_root = os.path.join(run.WORK, "selftest-data")
    os.makedirs(os.path.join(run.WORK, "tmp"), exist_ok=True)
    errors: list[str] = []
    try:
        for workload in ("panel_fixture", "panel_scale", "curate_docs"):
            result, _, passes = run.run(workload, 0, 0, True, data_root, setups=2)
            if not result["correct"]:
                errors.append(f"{workload}: {result['failed']} of {result['attempted']} calls failed")
            errors += [f"{workload} traced: {e}" for e in _check_metrics(result, "per_layer")]
            errors += [f"{workload}: {e}" for e in _check_reconcile(passes)]
            m = {k: v["value"] for k, v in result["metrics"].items()}
            needs = {
                "panel_fixture": (
                    "estimate.jobs", "groupby.jobs", "groupby.py_s", "sources.tables.input_bytes", "session.plan_s",
                ),
                "panel_scale": ("estimate.jobs", "lags.stages", "estimate.exec_cpu_s"),
                "curate_docs": ("dedup.py_s", "text.exec_cpu_s", "dedup.verify_yield"),
            }[workload]
            errors += [f"{workload}: {k} is 0" for k in needs if not m[k] > 0]
        result, _, _ = run.run("curate_docs", 0, 0, False, data_root, setups=2)
        errors += [f"curate_docs untraced: {e}" for e in _check_metrics(result, "end_to_end")]
    finally:
        shutil.rmtree(data_root, ignore_errors=True)
    for e in errors:
        print(f"FAIL {e}")
    print("selftest ok" if not errors else f"selftest: {len(errors)} problem(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
