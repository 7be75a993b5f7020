"""Generate SHUFFLE_BASELINE.json: per-query shuffle-volume snapshot.

The time baseline (BENCH_DETAIL.json) says how long each query took; this
artifact pins WHAT THE PLAN DID — shuffle bytes/rows written, exchange and
broadcast counts, Expand nodes — so a plan regression (new Expand, lost
broadcast, extra exchange, 2x shuffle volume) fails loudly in
tests/test_shuffle_drift.py the way a wrong answer does, instead of hiding
inside run-to-run timing noise.

Regenerate (and commit) after intentional plan changes:

    python shuffle_report.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SHUFFLE_BASELINE.json"))
    args = parser.parse_args()

    from datafusion_ray_spark.plans import runtime_shuffle_metrics
    from datafusion_ray_spark.queries.registry import build_registry
    from datafusion_ray_spark.session import build_session

    spark = build_session(app_name="shuffle_report")
    out: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, entry in build_registry().items():
        try:
            # Record the WARM (second) execution's metrics: AQE can take a
            # different sub-plan decision on the first, uncached execution
            # of an iterative pipeline (round-11: split_group_holdout read
            # 5 exchanges cold, 4 on every warm run), and the baseline
            # must pin the steady-state plan, not first-run wobble. The
            # cache is cleared between the runs so an operator that
            # persist()s intermediates can't serve the measured run from
            # the warm-up's blocks (which would undercount its shuffles);
            # the steady-state plan survives the clear (measured: warm
            # runs are metric-identical across clearCache).
            entry.run(spark, args.sf_dir).collect()
            spark.catalog.clearCache()
            df = entry.run(spark, args.sf_dir)
            df.collect()
            out[name] = runtime_shuffle_metrics(df)
        except Exception as e:  # noqa: BLE001 - record and continue
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"shuffle_report: {name} failed: {errors[name]}",
                  file=sys.stderr)
        spark.catalog.clearCache()
    with open(args.out, "w") as f:
        json.dump({"sf_dir": args.sf_dir,
                   "parallelism": spark.sparkContext.defaultParallelism,
                   "queries": out, "errors": errors},
                  f, indent=1, sort_keys=True)
    print(json.dumps({"n_queries": len(out), "n_errors": len(errors),
                      "out": args.out}))
    spark.stop()
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
