"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

On tiny inputs, in one Spark session:

1. an untraced run of every workload reports exactly the end-to-end
   metrics named in ``BENCHMARK.json``, with their units, every value
   finite and positive, and every answer correct;
2. a traced run reports exactly the per-layer metrics named there;
3. a run that falsifies one answer of each checked operation kind counts
   each of them as a failed operation.

Exits 0 when all of this holds, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORRUPTED = ("sync", "lookup", "count", "agg", "scan", "travel", "curate", "search")


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.phases import Run, peak_rss_mb, sizes
    from perfbench.run import prepare, start_spark, stop_spark

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what)
        if not ok:
            problems.append(what)

    def units(metrics) -> dict[str, str]:
        return {k: u for k, (_, u) in metrics.items()}

    run_dir = prepare("selftest")
    spark = start_spark(run_dir, trace=True)
    tiny = sizes(1, scale=0.03)
    try:
        for i, w in enumerate(spec["workloads"]):
            run = Run(spark, os.path.join(run_dir, f"e2e-{i}"), w["name"], 7, tiny, False)
            run.run()
            m = run.end_to_end(sum(peak_rss_mb(spark).values()), 0.0)
            expect(units(m) == want_e2e, f"{w['name']}: end-to-end names and units")
            bad = [k for k, (v, _) in m.items() if not (math.isfinite(v) and v > 0)]
            expect(not bad, f"{w['name']}: every end-to-end value positive {bad}")
            expect(run.failed == 0 and run.attempted > 0,
                   f"{w['name']}: {run.attempted} ops, {run.failed} failed")

        name = spec["workloads"][0]["name"]
        run = Run(spark, os.path.join(run_dir, "trace"), name, 7, tiny, True)
        run.run()
        m = run.per_layer()
        missing = sorted(set(want_layer) - set(m))
        extra = sorted(set(m) - set(want_layer))
        expect(not missing and not extra,
               f"traced run: per-layer names (missing {missing}, extra {extra})")
        expect(units(m) == want_layer or bool(missing or extra), "traced run: per-layer units")
        expect(run.failed == 0, f"traced run: {run.attempted} ops, {run.failed} failed")

        run = Run(spark, os.path.join(run_dir, "corrupt"), name, 7, tiny, False,
                  corrupt=CORRUPTED)
        run.run()
        expect(run.failed == len(CORRUPTED),
               f"corrupted answers counted: {run.failed} of {len(CORRUPTED)} failed")
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
