"""Benchmark harness: times the headline (bench=True) registered queries.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR     sweep input directory (default testdata/sf0.1)
       SPARK_GRAFT_BENCH_RUNS timed runs per query, median kept (default 3)
       SPARK_GRAFT_SF1        0 skips the two sf1 scale blocks, which run only
                              when the sweep is at sf0.1 (default 1)
The session's core count comes from SPARK_GRAFT_CPUS (see session.py).

Prints ONE compact JSON line (COMPACT_KEYS; callers may keep only the tail of
stdout) and writes the full record to BENCH_DETAIL.json. Every query runs to
completion into a `noop` sink: the whole plan executes, nothing is collected.

Order: an untimed warm-up pass at sf0.001 (first-run codegen is not
measured), the main sweep, the sf1 block (10x key-shifted scale-up of sf0.1),
the dbgen block (real TPC-H sf1), then micro-batch throughput.
`vs_baseline_matched` is sum(current)/sum(baseline) over the queries present
in both the sweep and BENCHBASE.json, so adding or dropping a bench query
never skews it.

Noise rule: right after its timed runs, each query takes a paired stamp of
the sentinel, a fixed data-independent job whose speed tracks the machine,
not the engine (see _stamp). drift = paired stamp / BENCHBASE
`sentinel_sec`; a query is contaminated iff drift > DRIFT, and a scale block
iff its worst query is. Nothing is re-run. `env.sentinel_sec` is the median
of the sweep's paired stamps, so `env_drift` and `vs_baseline_normalized`
divide by the machine speed seen during the sweep. Without a BENCHBASE
sentinel the rule is off (`guard_active: false`, `contaminated: null`). A
stamp sees load that persists past the runs it follows, not a burst that
ends before it.

Deadline: the line is printed before DEADLINE_S seconds from the start of
main(). A unit (one warm-up, one timed query, one scale block's input
build) starts only while at least RESERVE_S remain. A skipped sweep query is
listed in `contaminated_list` under its name, a scale block missing any of
its queries as `sf1_block` / `sf1_dbgen_block`, skipped throughput as
`throughput`; any entry sets `contaminated: true`.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import sys
import time

from flink_1_6_0_spark.registry import load_all
from flink_1_6_0_spark.session import get_spark

_ROOT = os.path.dirname(os.path.abspath(__file__))
BENCHBASE = os.path.join(_ROOT, "BENCHBASE.json")
DETAIL = os.path.join(_ROOT, "BENCH_DETAIL.json")

DEADLINE_S = 1080.0
# About 3x the longest single unit, so a unit started just inside the
# reserve still ends before DEADLINE_S. On a 4-vCPU host beside 4 busy-loop
# processes, at SPARK_GRAFT_CPUS=4, the longest were the cold build of the
# sf1 input (32 s; the dbgen build took 29 s), dedup_semantic_ml's 3 runs
# and stamp (~30 s) and dedup_minhash_lsh's sf1 warm-up, 2 runs and stamp
# (~26 s).
RESERVE_S = 90.0
DRIFT = 1.3

SF1_SET = (
    "tpch_q1", "tpch_q3", "tpch_q9", "tpch_q21",
    "dedup_minhash_lsh", "corpus_e2e_pretrain",
    "graph_triadic_census_directed",
)
DBGEN_SET = ("tpch_q1", "tpch_q3", "tpch_q9", "tpch_q21")
COMPACT_KEYS = (
    "metric", "value", "unit", "queries", "sf", "runs_per_query",
    "vs_baseline_matched", "matched_queries", "env_drift",
    "vs_baseline_normalized", "throughput_rows_s", "stream_batches",
    "guard_active", "contaminated", "contaminated_list",
)  # then `sentinel_sec`, the `sf1` / `sf1_dbgen` summaries and `detail`


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sentinel_sec(spark) -> float:
    """Wall time of a fixed, data-independent 32-task shuffle+agg job.

    It runs 32 parallel map tasks, a partial aggregate, one exchange and a
    final aggregate, the dominant plan shape of the bench head, so it
    contends for the same resources as the queries: a single-stage CPU-only
    sentinel grabbed a free core and read fast on a loaded machine while the
    32-task queries slowed ~40%."""
    t0 = time.perf_counter()
    _consume(
        spark.range(0, 12_000_000, 1, 32)
        .selectExpr("id % 100000 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
    )
    return round(time.perf_counter() - t0, 3)


def _stamp(spark) -> float:
    """The machine speed paired with a timed query: the faster of two 1-run
    sentinels back to back. A heavy query leaves a GC/allocator tail that
    slows the next job and drains within seconds (after the sf1 block on an
    idle 32-core host a lone run read 1.657 s, and 0.535 s once settled);
    the first run absorbs it, while load from other processes slows both."""
    return min(_sentinel_sec(spark), _sentinel_sec(spark))


def _warm(spark, spec, sf_dir: str) -> None:
    try:
        _consume(spec.fn(spark, sf_dir))
    except Exception:
        pass  # a failing query is reported by its timed runs


def _time_query(spark, spec, sf_dir: str, runs: int) -> tuple[float, float]:
    """Median wall time of `runs` runs of one query (-1.0 if it fails), and
    the stamp paired with it, taken right after in the same process."""
    samples = []
    try:
        for _ in range(runs):
            t0 = time.perf_counter()
            _consume(spec.fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
        t = round(statistics.median(samples), 3)
    except Exception as exc:  # a failing query must not sink the bench
        print(f"bench: {spec.name} FAILED: {exc}", file=sys.stderr)
        t = -1.0
    return t, _stamp(spark)


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:
        return [-1.0, -1.0, -1.0]


def _env_block(spark) -> dict:
    """What a timed section ran on: versions, core count, load at its start."""
    return {
        "spark_version": spark.version,
        "java_version": str(
            spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        ),
        "python_version": platform.python_version(),
        "cpus": os.cpu_count(),
        "loadavg_start": _loadavg(),
    }


def _verdict(sentinels: dict[str, float], cut: list[str], base: float | None) -> dict:
    """The noise rule: a unit is contaminated iff its paired stamp drifts
    past DRIFT x the BENCHBASE regime `base`; a cut unit always is."""
    listed = [u for u, s in sentinels.items() if base and s / base > DRIFT]
    listed += [u for u in cut if u not in listed]
    if listed:
        contaminated = True
    else:
        contaminated = None if base is None else False
    out = {"guard_active": base is not None, "contaminated": contaminated}
    if listed:
        out["contaminated_list"] = listed
    return out


def _compact_line(out: dict) -> str:
    """The one stdout line: the COMPACT_KEYS present in `out`, trimmed to fit
    in the ~2000-char tail of stdout that callers keep."""
    compact = {k: out[k] for k in COMPACT_KEYS if k in out}
    compact["sentinel_sec"] = out["env"]["sentinel_sec"]
    for blk in ("sf1", "sf1_dbgen"):
        if blk in out:
            compact[blk] = {
                k: out[blk][k] for k in ("sf", "vs_baseline_matched") if k in out[blk]
            }
    compact["detail"] = os.path.basename(DETAIL)
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # too big: coarsen, then trim the list, then queries
        compact["queries"] = {q: round(t, 2) for q, t in compact["queries"].items()}
        line = json.dumps(compact, separators=(",", ":"))
    listed = compact.get("contaminated_list", [])
    while len(line) > 1900 and compact.get("contaminated_list"):
        # runs are gated on `queries`; the full list is in the detail file
        compact["contaminated_list"] = compact["contaminated_list"][:-1]
        compact["contaminated_omitted"] = len(listed) - len(compact["contaminated_list"])
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1900 and compact["queries"]:
        # drop the fastest queries first — their timings matter least and the
        # full set is in BENCH_DETAIL.json either way
        drop = min(compact["queries"], key=lambda q: compact["queries"][q])
        del compact["queries"][drop]
        compact["queries_truncated"] = True
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    end = time.monotonic() + DEADLINE_S
    cut: list[str] = []

    def fits(unit: str) -> bool:
        """The deadline check: a unit starts only while RESERVE_S remain."""
        if end - time.monotonic() >= RESERVE_S:
            return True
        if unit not in cut:
            cut.append(unit)
        return False

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    try:
        with open(BENCHBASE) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        base = {}
    base_sentinel = base.get("sentinel_sec") or None

    spark = get_spark(app_name="flink-1.6.0-spark-bench")
    specs = [s for s in load_all().values() if s.bench]
    by_name = {s.name: s for s in specs}
    env = _env_block(spark)

    warm_dir = "/root/testdata/sf0.001"
    for spec in specs:
        if fits(spec.name):
            _warm(spark, spec, warm_dir if os.path.isdir(warm_dir) else sf_dir)
    if not cut:
        _sentinel_sec(spark)  # untimed: the sentinel job's own first run

    timings: dict[str, float] = {}
    sentinels: dict[str, float] = {}
    for spec in specs:
        if fits(spec.name):
            timings[spec.name], sentinels[spec.name] = _time_query(
                spark, spec, sf_dir, runs
            )
    env["sentinel_sec"] = (
        round(statistics.median(sentinels.values()), 3) if sentinels else None
    )
    env["loadavg_end"] = _loadavg()

    blocks: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0" and abs(sf - 0.1) < 1e-9:
        from flink_1_6_0_spark.sources.scale_synth import sf1_dir
        from flink_1_6_0_spark.sources.tpch_dbgen import tpch_dir

        for key, make_dir, names, note, prep_key in (
            ("sf1", lambda: sf1_dir(spark), SF1_SET,
             "10x key-shifted scale-up of sf0.1 (scale_synth.py)", "synth_or_cache_sec"),
            ("sf1_dbgen", lambda: tpch_dir(1.0), DBGEN_SET,
             "REAL TPC-H sf1 (DuckDB dbgen, sources/tpch_dbgen.py)", "gen_or_cache_sec"),
        ):
            unit = f"{key}_block"
            if not fits(unit):
                continue
            try:
                t0 = time.perf_counter()
                d = make_dir()
                blk = {
                    "sf": 1.0, "note": note,
                    prep_key: round(time.perf_counter() - t0, 1),
                    "runs_per_query": 2, "env": _env_block(spark),
                    "queries": {}, "query_sentinels": {},
                }
                for name in names:
                    if name in by_name and fits(unit):
                        _warm(spark, by_name[name], d)  # first read of the sf1 files
                        blk["queries"][name], blk["query_sentinels"][name] = _time_query(
                            spark, by_name[name], d, 2
                        )
                sents = list(blk["query_sentinels"].values())
                if sents:
                    blk["env"]["sentinel_sec"] = round(statistics.median(sents), 3)
                    blk["sentinel_after"] = sents[-1]
                    blocks[key] = blk
            except Exception as exc:
                print(f"bench: {key} block skipped: {exc}", file=sys.stderr)

    throughput: dict | None = None
    if fits("throughput"):
        try:
            from flink_1_6_0_spark.queries.lake import streaming_throughput

            throughput = streaming_throughput(spark, sf_dir)
        except Exception as exc:
            print(f"bench: streaming throughput skipped: {exc}", file=sys.stderr)

    # failed queries (-1.0) have no timing to contaminate
    measured = {q: s for q, s in sentinels.items() if timings[q] >= 0}
    for key, blk in blocks.items():
        ok = [s for q, s in blk["query_sentinels"].items() if blk["queries"][q] >= 0]
        if ok:
            blk["sentinel_verdict"] = measured[f"{key}_block"] = max(ok)
    verdict = _verdict(measured, cut, base_sentinel)
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": runs,
        "env": env,
        "guard": {
            "query_sentinels": sentinels,
            "t_per_sentinel": {
                q: round(t / sentinels[q], 3) for q, t in timings.items() if t >= 0
            },
            "contaminated_queries": [
                q for q in verdict.get("contaminated_list", ()) if q in sentinels
            ],
        },
        **verdict,
    }
    if throughput is not None:
        out["throughput_rows_s"] = throughput["rows_per_sec"]
        out["stream_batches"] = throughput["batches"]
        out["stream_rows"] = throughput["rows"]
    # `x10_ratio` is t(sf1)/t(sf0.1) from the same process: /10 of it is the
    # per-decade exponent (1.0 = perfectly linear in data size).
    if "sf1" in blocks:
        blocks["sf1"]["x10_ratio"] = {
            q: round(t / timings[q], 2)
            for q, t in blocks["sf1"]["queries"].items()
            if t > 0 and timings.get(q, -1) > 0
        }
    out.update(blocks)

    # Matched-set ratios vs the recorded per-query baselines (BENCHBASE.json).
    try:
        baseline = dict(base.get("baseline", {}), **base.get("_added", {}))
        matched = [q for q, t in timings.items() if t >= 0 and q in baseline]
        if matched and abs(base.get("sf", -1) - sf) < 1e-9:
            cur = sum(timings[q] for q in matched)
            ref = sum(baseline[q] for q in matched)
            out["vs_baseline_matched"] = round(cur / ref, 3)
            out["matched_queries"] = len(matched)
            # >1 after dividing out machine-speed drift means plan-level change
            if base_sentinel and env["sentinel_sec"]:
                drift = env["sentinel_sec"] / base_sentinel
                out["env_drift"] = round(drift, 3)
                out["vs_baseline_normalized"] = round(cur / ref / drift, 3)
            out["per_query_ratio"] = {q: round(timings[q] / baseline[q], 2) for q in matched}
            out["unmatched_new"] = sorted(
                q for q, t in timings.items() if t >= 0 and q not in baseline
            )
        for blk, bkey in (("sf1", "sf1_baseline"), ("sf1_dbgen", "sf1_dbgen_baseline")):
            bb = base.get(bkey, {})
            if blk in out and bb:
                q1 = out[blk]["queries"]
                m1 = [q for q, t in q1.items() if t >= 0 and q in bb]
                if m1:
                    r1 = sum(q1[q] for q in m1) / sum(bb[q] for q in m1)
                    out[blk]["vs_baseline_matched"] = round(r1, 3)
                    out[blk]["per_query_ratio"] = {
                        q: round(q1[q] / bb[q], 2) for q in m1
                    }
                    # divide out the drift between this block's sentinels and the
                    # regime its baselines were recorded under
                    sb = base.get(bkey.replace("_baseline", "_sentinel_sec"))
                    snow = out[blk]["env"]["sentinel_sec"]
                    if sb and snow:
                        out[blk]["block_env_drift"] = round(snow / sb, 3)
                        out[blk]["vs_baseline_normalized"] = round(r1 / (snow / sb), 3)
    except Exception as exc:  # a malformed BENCHBASE must not cost the line
        print(f"bench: baseline comparison skipped: {exc}", file=sys.stderr)

    try:
        with open(DETAIL, "w") as fh:
            json.dump(out, fh, indent=1)
    except OSError as exc:
        print(f"bench: detail write failed: {exc}", file=sys.stderr)

    print(_compact_line(out))


if __name__ == "__main__":
    main()
