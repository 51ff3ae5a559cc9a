"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload table_mixed --seed 1 --seconds 5 --trace 0

Runs one workload (see README.md in this directory) for ``--seconds``
seconds on ``local[nproc]`` and prints, as the last line of stdout, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics named in the root
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics. The line
before it is a JSON report with the machine, library versions, input
hashes and every sample count. All temporary files live under
``.perfbench_work/`` in the checkout and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import ROOT, RssSampler, log  # noqa: E402

# the engine and the frozen suite this benchmark drives
REQUIRED = ("d6tstack_spark/__init__.py", "bench.py", "__spark_entry__.py")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(spec: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def main() -> int:
    spec = load_spec()
    args = parse_args(spec)
    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        log(f"not a d6tstack_spark checkout ({ROOT}): missing {missing}")
        return 2
    # import the engine from this checkout only
    sys.path.insert(0, ROOT)
    import d6tstack_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(d6tstack_spark.__file__))) != ROOT:
        log(f"d6tstack_spark resolved outside the checkout: {d6tstack_spark.__file__}")
        return 2

    from workloads import WORKLOADS, Run

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, expected)
    t0 = time.perf_counter()
    try:
        with RssSampler() as rss:
            WORKLOADS[args.workload](run)
            if run.trace:
                import microbench

                from bench import SF_DIR

                layers, attempted, failed = microbench.run(args.seed, SF_DIR)
                run.layer.update(layers)
                run.attempted += attempted
                run.failed += failed
    except Exception:  # noqa: BLE001 - report, then exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        run.box.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    run.e2e["peak_rss_mb"] = rss.peak / 2**20
    run.e2e["ops_ok_frac"] = (run.attempted - run.failed) / max(run.attempted, 1)
    if run.trace:
        checked = len(run.accounting)
        run.layer["accounting.ok_frac"] = sum(run.accounting) / checked if checked else 0.0
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    undeclared = sorted((set(run.e2e) | set(run.layer)) - declared)
    unmeasured = sorted({m["name"] for m in spec["end_to_end"]} - set(run.e2e))
    if undeclared or unmeasured:
        log(f"metrics not in BENCHMARK.json: {undeclared}; not measured: {unmeasured}")
        return 1
    wanted, values = (spec["per_layer"], run.layer) if run.trace else (spec["end_to_end"], run.e2e)
    metrics = {
        # a layer this workload does not exercise did no work in it: 0
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    run.report.update(
        samples=run.samples,
        setup=run.setup,
        run_wall_s=time.perf_counter() - t0,
        accounting_checked=len(run.accounting),
    )
    print(json.dumps({"report": run.report}, sort_keys=True))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
