"""Closed-loop benchmark of the engine's query registry.

One client in one process runs a workload's queries back to back, each one
from input to complete result (a ``noop`` sink for batch frames; streaming
queries drain their bounded replay inside the query function). A run is:

1. generate the seeded inputs (untimed, cached per tier and seed);
2. set up the session and register the inputs several times (``setup_s``);
3. build the input caches the queries read (untimed prepare step);
4. one cold pass (``first_pass_s``), then warm passes for ``--seconds``;
5. with ``--trace 1``, restart the session with the event log and the
   streaming listener on and repeat the warm passes traced;
6. check every query once against its registered oracle (untimed).

The seed fixes the inputs and the query order within each pass. The last
stdout line is the result record; everything else goes to the detail file
under ``.perfbench_work/results``.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 15 --trace 0
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import measure  # noqa: E402
from measure import Span  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_WARM_PASSES = 2


def log(msg: str) -> None:
    print(f"[{time.time() - T_START:7.2f}] {msg}", file=sys.stderr, flush=True)


# -- environment ------------------------------------------------------------


def pin_environment() -> int:
    """Keep every file the run writes inside the checkout, put the checkout on
    the Python workers' import path and pin the engine's core count."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return cpus


def session_conf(event_log: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            f"-Dderby.system.home={os.path.join(WORK, 'derby')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


# -- inputs and oracles -----------------------------------------------------


def make_inputs(sf: float, seed: int) -> str:
    import gen_inputs

    out = os.path.join(WORK, "inputs", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        gen_inputs.write(out, sf, seed)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def digest(pdf) -> dict:
    """Order-insensitive fingerprint of a result, by the engine's own
    comparison model (columns by name, normalized cells, sorted rows)."""
    from tests.helpers import normalize

    rows = normalize(pdf)
    raw = repr((sorted(pdf.columns), rows)).encode()
    return {"rows": len(rows), "sha1": hashlib.sha1(raw).hexdigest()}


class Oracles:
    """Oracle answers for one input directory, computed once with DuckDB and
    cached beside the inputs. Callable oracles, which may read tables the
    engine wrote, are recomputed on every check."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir
        self.path = os.path.join(sf_dir, "_oracle.json")
        self.cache = json.load(open(self.path)) if os.path.exists(self.path) else {}
        self._con = None

    def con(self):
        if self._con is None:
            import duckdb

            from flink_1_6_0_spark.catalog import TABLES

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
                )
        return self._con

    def answer(self, spec) -> dict:
        if spec.name in self.cache:
            return self.cache[spec.name]
        from flink_1_6_0_spark.registry import resolve_oracle

        found = digest(self.con().sql(resolve_oracle(spec, self.sf_dir)).fetchdf())
        if not callable(spec.oracle):
            self.cache[spec.name] = found
        return found

    def save(self) -> None:
        with open(self.path + ".tmp", "w") as fh:
            json.dump(self.cache, fh, indent=1, sort_keys=True)
        os.replace(self.path + ".tmp", self.path)
        if self._con is not None:
            self._con.close()


# -- the run ----------------------------------------------------------------


class Run:
    """One benchmark run of one workload: its session, passes, failures."""

    def __init__(self, seed: int, workload: dict, specs: dict, sf_dir: str, tracer) -> None:
        self.workload = workload
        self.specs = specs
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.listener = None
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: dict[str, list[str]] = defaultdict(list)
        self.passes: list[dict] = []  # {"kind", "seconds", "queries": {name: s}}
        self.setups: list[dict] = []
        self.spark = None
        self.cache_dirs: list[str] = []
        self.frames: dict = {}

    # session ---------------------------------------------------------------
    def setup(self, cold_since: float | None = None, event_log: str | None = None) -> None:
        from flink_1_6_0_spark.catalog import register_all
        from flink_1_6_0_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        w0, t0 = time.time(), time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=session_conf(event_log))
        t1 = time.perf_counter()
        register_all(self.spark, self.sf_dir)
        missing = [p for p in self.cache_dirs if not os.path.exists(p)]
        t2 = time.perf_counter()
        if missing:
            raise RuntimeError(f"prepared input caches are gone: {missing}")
        base = (w0 - cold_since) if cold_since is not None else 0.0
        self.setups.append(
            {"session_s": base + (t1 - t0), "register_s": t2 - t1, "total_s": base + (t2 - t0)}
        )

    def prepare(self) -> None:
        """Build the input caches the workload's queries read (the lake
        layouts), once per input directory and outside every timed pass."""
        from flink_1_6_0_spark.sources import partitioned

        for builder in self.workload.get("caches", []):
            self.cache_dirs.append(getattr(partitioned, builder)(self.spark, self.sf_dir))

    # passes ----------------------------------------------------------------
    def order(self) -> list[str]:
        names = list(self.workload["queries"])
        self.rng.shuffle(names)
        return names

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        """Run every query once in this pass's order. The frames of the
        latest pass are kept for the oracle check."""
        record = {"kind": kind, "queries": {}, "order": self.order()}
        self.frames = {}
        t0 = time.perf_counter()
        for i, name in enumerate(record["order"]):
            t = time.perf_counter()
            df = self.run_query(name, f"{kind}-{len(self.passes)}-{i}-{name}", traced)
            if df is not None:
                record["queries"][name] = time.perf_counter() - t
                self.frames[name] = df
        record["seconds"] = time.perf_counter() - t0
        self.passes.append(record)
        log(f"  {kind} pass {record['seconds']:.3f} s")
        return record

    def run_query(self, name: str, qid: str, traced: bool):
        """One query from input to complete result; the frame, or None when
        the query raised (counted as a failed run)."""
        spec = self.specs[name]
        self.attempted += 1
        try:
            if traced:
                return self._traced_query(spec, qid)
            df = spec.fn(self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        except Exception as exc:  # a failed query is counted, the run goes on
            self.failures[name].append(f"{type(exc).__name__}: {str(exc)[:300]}")
            log(traceback.format_exc(limit=3))
            return None

    def _traced_query(self, spec, qid: str):
        from flink_1_6_0_spark.session import TableEnvironment

        sc = self.spark.sparkContext
        sc.setJobGroup(qid, spec.name)
        sc.setLocalProperty("perfbench.qid", qid)
        try:
            with self.tracer.span("query", qid=qid, query=spec.name, tags=list(spec.tags)):
                with self.tracer.span("build"):
                    df = spec.fn(self.spark, self.sf_dir)
                with self.tracer.span("explain"):
                    TableEnvironment(self.spark).explain(df)
                with self.tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                if not self.listener.wait_terminated(qid):
                    raise RuntimeError("streaming run never reported its end")
            return df
        finally:
            sc.setLocalProperty("perfbench.qid", None)
            sc.setJobGroup(None, None)

    def warm_passes(self, kind: str, seconds: float, traced: bool = False) -> list[dict]:
        """At least MIN_WARM_PASSES passes; past that, another pass starts
        only while one more of the last pass's length still fits in
        ``seconds``."""
        done, t0 = [], time.perf_counter()
        while len(done) < MIN_WARM_PASSES or (
            time.perf_counter() - t0 + done[-1]["seconds"] <= seconds
        ):
            done.append(self.run_pass(kind, traced))
            if not done[-1]["queries"]:
                break  # every query raised: more passes measure nothing
        return done

    # correctness -----------------------------------------------------------
    def verify(self) -> dict[str, str]:
        """Collect the latest pass's results and compare each with its oracle
        answer; a mismatch counts as a failed run of that query."""
        oracles = Oracles(self.sf_dir)
        verdicts = {}
        for name in self.workload["queries"]:
            if name not in self.frames:
                verdicts[name] = "raised in the latest pass"
                continue
            try:
                got = digest(self.frames[name].toPandas())
                want = oracles.answer(self.specs[name])
                verdicts[name] = "ok" if got == want else f"mismatch: engine {got} oracle {want}"
            except Exception as exc:
                verdicts[name] = f"error: {type(exc).__name__}: {str(exc)[:300]}"
            if verdicts[name] != "ok":
                self.failures[name].append("oracle " + verdicts[name])
        oracles.save()
        return verdicts

    # shutdown ----------------------------------------------------------------
    def stop(self, sampler) -> None:
        """Stop the session, the JVM and every process below this one, and
        wait until each has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline and sampler.descendants()[1:]:
            time.sleep(0.1)
        for pid in sampler.descendants()[1:]:
            os.kill(pid, 9)


# -- metrics ------------------------------------------------------------------


def end_to_end(run: Run, peak_mb: float) -> tuple[dict, dict]:
    warm = [p for p in run.passes if p["kind"] == "warm"]
    cold = [p for p in run.passes if p["kind"] == "cold"]
    samples = [s for p in warm for s in p["queries"].values()]
    setup = [s["total_s"] for s in run.setups[:SETUPS]]
    values = {
        "setup_s": measure.median(setup),
        "first_pass_s": cold[0]["seconds"],
        "pass_s": measure.median([p["seconds"] for p in warm]),
        "query_p50_s": measure.percentile(samples, 50),
        "query_p90_s": measure.percentile(samples, 90),
        "peak_rss_mb": peak_mb,
    }
    notes = {
        "setup_samples_s": setup,
        "warm_passes": len(warm),
        "query_samples": len(samples),
        "query_p90_samples_above": measure.samples_above(samples, 90),
        "query_p90_supported": measure.tail_supported(samples, 90),
    }
    return values, notes


def per_layer(
    run: Run, traced: list[dict], untraced: list[dict], listener, event_dir: str,
    families: list[str], peak_mb: float,
) -> dict:
    import eventlog

    n = len(traced)
    qids = {s.qid for s in run.tracer.spans if s.name == "query"}
    spans = [s for s in run.tracer.spans if s.qid in qids]

    def total(name: str) -> float:
        return sum(s.duration for s in spans if s.name == name) / n

    per_q, jobs = eventlog.summarize(eventlog.read_events(event_dir))
    ev = dict.fromkeys(eventlog.FIELDS, 0.0)
    for qid in qids:
        for k, v in per_q.get(qid, {}).items():
            ev[k] += v
    reads = [s for s in spans if s.name == "catalog.read"]
    read_jobs = sum(
        1 for qid, at in jobs for r in reads if r.qid == qid and r.start <= at <= r.end
    )
    partitions = [s.attrs["value"] for s in spans if s.name == "sources.state_partitions"]

    runs = [r for qid in qids for r in listener.runs_of(qid)]
    batches = [b for r in runs for b in listener.progress.get(r, [])]
    finals = [listener.progress[r][-1] for r in runs if listener.progress.get(r)]
    triggers = [b["duration_ms"].get("triggerExecution", 0) for b in batches]

    def phase(key: str) -> float:
        return sum(b["duration_ms"].get(key, 0) for b in batches) / n

    fam = defaultdict(float)
    for s in spans:
        if s.name in ("build", "exec"):
            for tag in s.parent.attrs["tags"]:
                fam[tag] += s.duration / n
    query_spans = [s for s in spans if s.name == "query"]
    build_spans = [s for s in spans if s.name == "build"]
    traced_s = measure.median([p["seconds"] for p in traced])
    untraced_s = measure.median([p["seconds"] for p in untraced])
    m = {
        "session.start_s": measure.median([s["session_s"] for s in run.setups[:SETUPS]]),
        "memory.peak_rss_mb": peak_mb,
        "catalog.read_s": total("catalog.read"),
        "catalog.jobs": read_jobs / len(reads) if reads else 0.0,
        "queries.build_s": total("build"),
        "queries.build_self_s": sum(measure.self_time(s, spans) for s in build_spans) / n,
        "queries.exec_s": total("exec"),
        "queries.jobs": ev["jobs"] / n,
        "queries.runner_self_s": sum(measure.self_time(s, spans) for s in query_spans) / n,
        "plans.optimize_s": total("explain"),
        "exec.stages": ev["stages"] / n,
        "exec.tasks": ev["tasks"] / n,
        "exec.task_run_s": ev["task_run_s"] / n,
        "exec.task_cpu_s": ev["task_cpu_s"] / n,
        "exec.task_gc_s": ev["task_gc_s"] / n,
        "exec.task_overhead_s": ev["task_overhead_s"] / n,
        "exec.empty_task_frac": ev["empty_tasks"] / ev["tasks"] if ev["tasks"] else 0.0,
        "exec.spill_bytes": ev["spill_bytes"] / n,
        "exchange.shuffle_write_bytes": ev["shuffle_write_bytes"] / n,
        "exchange.shuffle_read_bytes": ev["shuffle_read_bytes"] / n,
        "exchange.fetch_wait_s": ev["fetch_wait_s"] / n,
        "scan.bytes_read": ev["scan_bytes"] / n,
        "scan.rows": ev["scan_rows"] / n,
        "pyudf.bytes_sent": ev["py_bytes_sent"] / n,
        "pyudf.bytes_returned": ev["py_bytes_returned"] / n,
        "pyudf.run_s": ev["py_run_s"] / n,
        "pyudf.start_s": ev["py_start_s"] / n,
        "sources.stream_open_s": total("sources.stream_open"),
        "sources.state_partitions": sum(partitions) / len(partitions) if partitions else 0.0,
        "stream.batches": len(batches) / n,
        "stream.empty_batch_frac": (
            sum(1 for b in batches if not b["rows"]) / len(batches) if batches else 0.0
        ),
        "stream.trigger_p50_ms": measure.percentile(triggers, 50) if triggers else 0.0,
        "stream.trigger_p95_ms": measure.percentile(triggers, 95) if triggers else 0.0,
        "stream.latestOffset_ms": phase("latestOffset"),
        "stream.getBatch_ms": phase("getBatch"),
        "stream.queryPlanning_ms": phase("queryPlanning"),
        "stream.addBatch_ms": phase("addBatch"),
        "stream.walCommit_ms": phase("walCommit"),
        "stream.commitOffsets_ms": phase("commitOffsets"),
        "state.commit_ms": sum(o["commit_ms"] for b in batches for o in b["state"]) / n,
        "state.rows_total": sum(o["rows_total"] for b in finals for o in b["state"]) / n,
        "state.memory_bytes": sum(o["memory_bytes"] for b in finals for o in b["state"]) / n,
        "state.instances": sum(o["instances"] for b in finals for o in b["state"]) / n,
        "trace.pass_s": traced_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
    }
    for tag in families:
        m[f"family.{tag}_s"] = fam.get(tag, 0.0)
    return m


def dump_spans(spans: list[Span], path: str) -> None:
    ids = {id(s): i for i, s in enumerate(spans)}
    rows = [
        {
            "id": i,
            "name": s.name,
            "qid": s.qid,
            "start": s.start,
            "end": s.end,
            "parent": ids.get(id(s.parent)),
            "self_s": measure.self_time(s, spans),
            **s.attrs,
        }
        for i, s in enumerate(spans)
    ]
    with open(path, "w") as fh:
        json.dump(rows, fh)


# -- entry point --------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Closed-loop benchmark of the query registry.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        plan = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in plan["workloads"]:
        log(f"unknown workload {args.workload!r}; choose from {sorted(plan['workloads'])}")
        return 2
    workload = plan["workloads"][args.workload]
    cpus = pin_environment()
    if not os.path.isdir(os.path.join(ROOT, "flink_1_6_0_spark")):
        log(f"engine package flink_1_6_0_spark not found under {ROOT}")
        return 2

    from tracing import RssSampler, Tracer, progress_listener_class

    sampler = RssSampler()
    sampler.start()
    sf_dir = make_inputs(workload["sf"], args.seed)

    t_import = time.time()
    from flink_1_6_0_spark.registry import load_all

    specs = load_all()
    unknown = [q for q in workload["queries"] if q not in specs]
    if unknown:
        log(f"workload names unregistered queries: {unknown}")
        return 2
    tracer = Tracer()
    run = Run(args.seed, workload, specs, sf_dir, tracer)
    log(f"{args.workload}: sf={workload['sf']} seed={args.seed} cpus={cpus} "
        f"queries={len(workload['queries'])} trace={args.trace}")
    try:
        run.setup(cold_since=t_import)
        run.prepare()
        for _ in range(SETUPS - 1):
            run.setup()
        log(f"  setups {[round(s['total_s'], 3) for s in run.setups]}")
        run.run_pass("cold")
        budget = args.seconds / 2 if args.trace else args.seconds
        untraced = run.warm_passes("warm", budget)
        peak_mb = sampler.peak_mb()
        verdicts = run.verify()
        traced = []
        if args.trace:
            event_dir = os.path.join(WORK, "eventlog", f"{args.workload}-seed{args.seed}-{os.getpid()}")
            run.setup(event_log=event_dir)
            run.listener = progress_listener_class()(tracer)
            run.spark.streams.addListener(run.listener)
            tracer.install()
            run.run_pass("traced-warmup", traced=True)
            tracer.spans.clear()
            traced = run.warm_passes("traced", budget, traced=True)
            tracer.uninstall()
        failed = sum(len(v) for v in run.failures.values())
        values, notes = end_to_end(run, peak_mb)
        if args.trace:
            run.spark.streams.removeListener(run.listener)
            run.spark.stop()
            run.spark = None
            metrics_out = per_layer(
                run, traced, untraced, run.listener, event_dir, plan["families"], peak_mb
            )
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            metrics_out = values
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    finally:
        run.stop(sampler)
        sampler.stop()

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": workload["sf"],
        "cpus": cpus,
        "seconds": args.seconds,
        "end_to_end": values,
        "notes": notes,
        "per_layer": metrics_out if args.trace else None,
        "setups": run.setups,
        "passes": run.passes,
        "failures": run.failures,
        "oracle": verdicts,
    }
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if args.trace:
        dump_spans(tracer.spans, os.path.join(WORK, "results", tag + "-spans.json"))

    e2e_units = {m["name"]: m["unit"] for m in bench["end_to_end"]} | {"peak_rss_mb": "MB"}
    print(f"workload {args.workload} seed {args.seed} sf {workload['sf']} cpus {cpus}")
    for name, value in values.items():
        print(f"{name} = {value:.6g} {e2e_units.get(name, '')}")
    print(
        f"query_p90_s rests on {notes['query_samples']} warm samples, "
        f"{notes['query_p90_samples_above']} above it"
        + ("" if notes["query_p90_supported"] else " (fewer than 10: indicative only)")
    )
    print(f"failed_frac = {failed}/{run.attempted} = {measure.failed_frac(failed, run.attempted):.6g}")
    bad = sorted(run.failures)
    print("oracle verdict: " + ("all queries match" if not bad else f"FAILING {bad}"))
    if args.trace:
        for name, value in metrics_out.items():
            print(f"{name} = {value:.6g} {units.get(name, '')}")
    missing = [m for m in units if m not in metrics_out]
    if missing:
        log(f"metrics not produced: {missing}")
        return 1
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics_out[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
