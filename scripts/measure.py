"""Per-query isolation measurement harness.

Usage: python scripts/measure.py ROUND [--plans-tag before|after] [query ...]
       (ROUND names the plans directory and the app, e.g. r18)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_MEASURE_RUNS (default 3)

For each named query (default: the bench=True headline set):
- one untimed warm-up at sf0.001 (JIT/codegen compile),
- N timed runs at SF_DIR with the noop sink (full plan, no collect),
  median reported,
- the formatted physical plan written to plans/ROUND/<name>_<tag>.txt when
  --plans-tag is given.

Prints one JSON object {query: {"sec": median, "runs": [..]}} at the end.
Jobs are labelled so a live UI / event log maps to queries.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_6_0_spark.registry import load_all
from flink_1_6_0_spark.session import get_spark


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-query isolation timings.")
    ap.add_argument("round", help="round tag: plans/<round>/ and the app name")
    ap.add_argument(
        "--plans-tag", help="write each plan to plans/<round>/<query>_<tag>.txt"
    )
    ap.add_argument("queries", nargs="*", help="default: the bench=True set")
    args = ap.parse_args()
    tag = args.plans_tag

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_MEASURE_RUNS", "3")))
    warm_dir = "/root/testdata/sf0.001"

    specs = load_all()
    names = args.queries or [n for n, s in specs.items() if s.bench]
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", args.round
    )
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(app_name=f"{args.round}-measure")
    out: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        sc = spark.sparkContext
        sc.setJobDescription(f"warmup:{name}")
        try:
            _consume(spec.fn(spark, warm_dir if os.path.isdir(warm_dir) else sf_dir))
        except Exception as exc:
            print(f"warmup {name} failed: {exc}", file=sys.stderr)
        if tag:
            try:
                df = spec.fn(spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                    fh.write(plan)
            except Exception as exc:
                print(f"explain {name} failed: {exc}", file=sys.stderr)
        samples = []
        for i in range(runs):
            sc.setJobDescription(f"timed:{name}:{i}")
            t0 = time.perf_counter()
            try:
                _consume(spec.fn(spark, sf_dir))
            except Exception as exc:
                print(f"{name} FAILED: {exc}", file=sys.stderr)
                samples = [-1.0]
                break
            samples.append(time.perf_counter() - t0)
        sc.setJobDescription(None)
        med = round(statistics.median(samples), 3)
        out[name] = {"sec": med, "runs": [round(s, 3) for s in samples]}
        print(f"{name}: {med} s  {[round(s, 2) for s in samples]}", file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
