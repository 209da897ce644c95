"""One benchmark run: set-up, the workload's timed work, checks, metrics."""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np
from pyspark import SparkContext

from blockchair_etl_spark import caching, session

import gen
from curate import check_curate, run_curate
from ingest import TABLE_MODELS, check_ingest, run_ingest
from oracle import check_serve
from probe import GroupStats, SparkProbe, peak_rss_mb, union_length
from serve import BLOCK, TILES, plan_requests, run_serve
from spans import Tracer

# A run launches one JVM with its first Spark session (session.launch_ms),
# then sets up this many times in it: stop the session, build a new one
# (session.start_ms, the median), generate the inputs. setup_s is the
# launch plus the median round.
SETUP_REPEATS = 3
# The dashboard plan holds about this many requests per run-second, in
# whole blocks (serve.BLOCK requests each).
REQUESTS_PER_SECOND = 1.5

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "work_s": "s"}
LAYERS = (
    "schema.inference", "io.sources", "transform", "io.sinks", "quality.checks",
    "llmdata.text", "llmdata.classify", "llmdata.dedup", "llmdata.clusters", "llmdata.sampling",
    "caching",
)


def layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit. A
    layer the workload does not exercise reports 0."""
    u = {
        "session.launch_ms": "ms",
        "session.start_ms": "ms",
        "schema.inference.ms": "ms",
        "io.sources.load_ms": "ms",
        "io.sources.input_bytes": "bytes",
        "io.sources.busy_ratio": "ratio",
        "io.sources.files_skipped": "count",
        "quality.checks.ms": "ms",
        "quality.checks.jobs": "count",
        "quality.checks.violations": "count",
        "pipeline.cache_hit_ratio": "ratio",
        "pipeline.retries": "count",
        "query.analytics.jobs_per_request": "count",
        "query.analytics.input_bytes_per_request": "bytes",
        "query.trace.jobs_per_request": "count",
        "query.trace.shuffle_bytes_per_request": "bytes",
        "query.trace.result_rows_per_request": "count",
        "query.trace.fallbacks": "count",
        "query.trace.deadline_misses": "count",
        "ingest_s": "s",
        "serve_qps": "req/s",
        "tile_p50_ms": "ms",
        "tile_p90_ms": "ms",
        "trace_p50_ms": "ms",
        "trace_p90_ms": "ms",
        "curate_s": "s",
        "serve.driver_overhead_ms": "ms",
        "serve.sched_wait_ms": "ms",
        "llmdata.text.normalize_ms": "ms",
        "llmdata.text.gopher_ms": "ms",
        "llmdata.classify.ms": "ms",
        "llmdata.dedup.minhash_lsh_ms": "ms",
        "llmdata.dedup.shuffle_bytes": "bytes",
        "llmdata.dedup.spill_bytes": "bytes",
        "llmdata.dedup.pairs_out": "count",
        "llmdata.dedup.planted_recall": "ratio",
        "llmdata.clusters.ms": "ms",
        "llmdata.clusters.jobs": "count",
        "llmdata.sampling.budget_ms": "ms",
        "caching.tracked_after_release": "count",
        "caching.storage_bytes_after_release": "bytes",
        "spark.busy_ratio": "ratio",
        "spark.gc_ms": "ms",
        "error_rate": "ratio",
        "tracing.overhead_s": "s",
        "tracing.glue_ms": "ms",
    }
    for m in TABLE_MODELS:
        u[f"io.sinks.materialize_ms.{m}"] = "ms"
        u[f"io.sinks.files_written.{m}"] = "count"
    for m in TABLE_MODELS[:2]:
        u[f"io.sinks.shuffle_write_bytes.{m}"] = "bytes"
        u[f"io.sinks.spill_bytes.{m}"] = "bytes"
    for t in TILES:
        u[f"query.analytics.ms.{t}"] = "ms"
    for h in (1, 2, 3):
        u[f"query.trace.ms.h{h}"] = "ms"
    for layer in LAYERS:
        u[f"tracing.self_ms.{layer}"] = "ms"
    return u


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _pct(xs, q) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


class Day:
    def __init__(self, workload, args, work: str, out_dir: str):
        self.wl = workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.out_dir = out_dir
        self.cores = min(4, os.cpu_count() or 1)
        self.spark = None
        self.marks: dict[str, float] = {}  # wall per step, for the log line
        self.setups: list[float] = []  # wall per set-up round, for the log line
        self._t = time.perf_counter()

    def _mark(self, step: str) -> None:
        now = time.perf_counter()
        self.marks[step] = now - self._t
        self._t = now

    def _path(self, name: str) -> str:
        return os.path.join(self.work, name)

    # -- set-up ---------------------------------------------------------
    def _start_session(self) -> float:
        t0 = time.perf_counter()
        self.spark = session.get_session(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_confs={
                "spark.driver.memory": "1g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self._path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
                # the status store must keep every job of the run for the
                # per-span counter reads
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = SparkProbe(self.spark)
        return elapsed

    def _generate(self, k: int) -> tuple[float, dict]:
        t0 = time.perf_counter()
        inp: dict = {}
        if self.wl.days:
            days = gen.make_days(self.seed, self.wl.days)
            files, bad = gen.write_dump_files(days, self._path(f"landing{k}"))
            inp.update(days=days, files=files, bad=bad)
        if self.wl.corpus:
            inp["corpus"] = self._path(f"corpus{k}.parquet")
            inp.update(gen.write_corpus(self.seed, inp["corpus"]))
        return time.perf_counter() - t0, inp

    def _setup(self) -> tuple[float, float, float, dict]:
        """→ (JVM launch s, median session start s, setup_s, inputs). The
        last round's session and inputs are the ones the run uses."""
        launch_s = self._start_session()
        starts, setups = [], []
        for k in range(SETUP_REPEATS):
            self.spark.stop()  # the JVM stays up for the next session
            starts.append(self._start_session())
            gen_s, inp = self._generate(k)
            setups.append(starts[-1] + gen_s)
        if "serve" in self.wl.paths:
            blocks = max(1, round(self.seconds * REQUESTS_PER_SECOND / BLOCK))
            inp["plan"] = plan_requests(
                self.seed, blocks, inp["days"]["active"], gen.DAY0.to_datetime64(), self.wl.days
            )
        self.setups = [launch_s] + setups
        return launch_s, _median(starts), launch_s + _median(setups), inp

    # -- the timed work -------------------------------------------------
    def _pass(self, inp: dict, k: str, paths: tuple[str, ...], tracer=None) -> dict:
        """Run ``paths`` in order; ``k`` names the pass's output dirs.
        → {path: result, "marts": dir, "spans": {path: (start, end)}};
        untimed checks run between paths."""
        out: dict = {"marts": self._path(f"marts_{k}"), "spans": {}}
        for path in paths:
            t0 = time.perf_counter()
            if path == "ingest":
                res = run_ingest(self.spark, inp["files"], inp["days"]["days"][-1], out["marts"])
            elif path == "serve":
                # one closed-loop client per core, at most 4
                res = run_serve(self.probe, tracer, out["ingest"].marts, inp["plan"], self.cores)
            else:
                res = run_curate(self.spark, inp["corpus"], self._path(f"curated_{k}"))
            out["spans"][path] = (t0, time.perf_counter())
            if path == "curate":
                check_curate(self.spark, res, inp["planted"])
            out[path] = res
        return out

    def run(self) -> dict:
        launch_s, session_s, setup_s, inp = self._setup()
        self._mark("setup")
        if self.traced:
            return self._run_traced(launch_s, session_s, inp)
        res = self._pass(inp, "timed", self.wl.paths)
        work_s = sum(t1 - t0 for t0, t1 in res["spans"].values())
        self._mark("work")
        rss = peak_rss_mb([os.getpid(), self.probe.jvm_pid()])
        errors, attempted, failed = self._check(inp, [res])
        self._mark("checks")
        print(
            f"{self.wl.name} seed {self.seed}: " + self._describe(res) + "; steps (s): "
            + ", ".join(f"{k} {v:.1f}" for k, v in self.marks.items())
            + "; JVM launch, then set-up rounds (s): " + ", ".join(f"{t:.2f}" for t in self.setups),
            file=sys.stderr,
        )
        values = {"setup_s": setup_s, "peak_rss_mb": rss, "work_s": work_s}
        return self._result(errors, attempted, failed, values, E2E_UNITS)

    def _describe(self, res: dict) -> str:
        parts = [f"{p} {res[p].wall_s:.1f} s" for p in self.wl.paths]
        if "serve" in res:
            n = {k: sum(o.ok and o.req.kind == k for o in res["serve"].outcomes) for k in ("tile", "trace")}
            parts.append(f"{n['tile']} tiles, {n['trace']} traces served")
        if "curate" in res:
            parts.append(f"{res['curate'].survivors} survivors, sha256 {res['curate'].survivors_sha[:16]}")
        return ", ".join(parts)

    # -- checks and output ----------------------------------------------
    def _check(self, inp: dict, passes: list[dict]) -> tuple[list[str], int, int]:
        """Untimed output checks of every pass. → (errors, attempted ops,
        failed ops): each dashboard request is one operation, as is each
        batch run with its checks."""
        errors: list[str] = []
        attempted = failed = 0
        for res in passes:
            if "ingest" in res:
                errs = check_ingest(res["ingest"], inp["bad"], inp["days"]["flow_rows"])
                attempted += 1
                failed += bool(errs)
                errors += errs
            if "serve" in res:
                n, errs = check_serve(res["marts"], res["serve"].cache._store)
                if n == 0:
                    errs.append("no dashboard result to check")
                for f in res["serve"].failures:
                    print(f"REQUEST FAILED: {f}", file=sys.stderr)
                attempted += len(res["serve"].outcomes)
                failed += sum(not o.ok for o in res["serve"].outcomes)
                errors += errs
            if "curate" in res:
                attempted += 1
                failed += bool(res["curate"].errors)
                errors += res["curate"].errors
        if len({r["curate"].survivors_sha for r in passes if "curate" in r}) > 1:
            errors.append("survivor set differs between curation passes")
        return errors, attempted, failed

    def _result(self, errors, attempted, failed, values: dict, units: dict) -> dict:
        missing = set(units) - set(values)
        if missing:
            errors = errors + [f"metrics not measured: {sorted(missing)}"]
        return {
            "correct": not errors,
            "errors": errors,
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }

    # -- the traced run -------------------------------------------------
    def _run_traced(self, launch_s: float, session_s: float, inp: dict) -> dict:
        """An untraced warm-up of the first path (the JIT-heavy cold
        start), an untraced reference pass, then the traced pass; the
        tracing overhead compares the last two."""
        tracer = Tracer(self.probe, self._path("forced"))
        paths = self.wl.paths
        self._pass(inp, "warmup", paths[:1])
        ref = self._pass(inp, "ref", paths)
        with tracer.installed():
            res = self._pass(inp, "traced", paths, tracer)
        traced_s = sum(e - s for s, e in res["spans"].values())
        tracked, stored = caching.tracked_count(), self.probe.storage_bytes()
        errors, attempted, failed = self._check(inp, [ref, res])
        tracer.dump(os.path.join(self.out_dir, f"spans-{self.wl.name}-{self.seed}.json"))

        v = dict.fromkeys(layer_units(), 0.0)
        v["session.launch_ms"] = launch_s * 1e3
        v["session.start_ms"] = session_s * 1e3
        stats = tracer.group_stats()
        if "ingest" in paths:
            v["ingest_s"] = ref["ingest"].wall_s
            self._ingest_layers(v, tracer, stats, res["ingest"])
        if "serve" in paths:
            stats = {**stats, **self._serve_layers(v, tracer, ref["serve"], res["serve"])}
        if "curate" in paths:
            v["curate_s"] = ref["curate"].wall_s
            self._curate_layers(v, tracer, stats, res["curate"])
        v["caching.tracked_after_release"] = float(tracked)
        v["caching.storage_bytes_after_release"] = float(stored)
        total = GroupStats()
        for s in stats.values():
            total.add(s)
        v["spark.busy_ratio"] = total.counters["executor_run_ms"] / (traced_s * 1e3 * self.cores)
        v["spark.gc_ms"] = float(total.counters["gc_ms"])
        v["error_rate"] = failed / attempted
        v["tracing.overhead_s"] = traced_s - sum(e - s for s, e in ref["spans"].values())
        # self time over the batch paths' blocking steps; concurrent
        # dashboard requests have no single blocking path
        for path in ("ingest", "curate"):
            if path in paths:
                b = tracer.phase_breakdown(*res["spans"][path])
                v["tracing.glue_ms"] += b["glue_ms"]
                for layer, ms in b["self_ms"].items():
                    if layer in LAYERS:
                        v[f"tracing.self_ms.{layer}"] += ms
        return self._result(errors, attempted, failed, v, layer_units())

    @staticmethod
    def _spans(tracer, name: str) -> list[int]:
        return [i for i, s in enumerate(tracer.spans) if s.name == name]

    @staticmethod
    def _dur(tracer, idx: list[int]) -> float:
        return sum((tracer.spans[i].end - tracer.spans[i].start) * 1e3 for i in idx)

    @staticmethod
    def _ctr(stats: dict, idx: list[int], key: str) -> float:
        return float(sum(stats[i].counters[key] for i in idx if i in stats))

    def _ingest_layers(self, v, tracer, stats, ing) -> None:
        def dur(idx):
            return self._dur(tracer, idx)

        def ctr(idx, key):
            return self._ctr(stats, idx, key)

        v["schema.inference.ms"] = dur(self._spans(tracer, "schema.inference.infer_from_tsv"))
        load = self._spans(tracer, "io.sources.load_with_pattern_routing")
        v["io.sources.load_ms"] = dur(load)
        v["io.sources.input_bytes"] = ctr(load, "input_bytes")
        v["io.sources.busy_ratio"] = ctr(load, "executor_run_ms") / max(dur(load) * self.cores, 1e-9)
        v["io.sources.files_skipped"] = float(len(ing.skipped))
        for i in self._spans(tracer, "io.sinks.materialize"):
            m = tracer.spans[i].tags["model"]
            if m in TABLE_MODELS:
                v[f"io.sinks.materialize_ms.{m}"] = dur([i])
                if m in TABLE_MODELS[:2]:
                    v[f"io.sinks.shuffle_write_bytes.{m}"] = ctr([i], "shuffle_write_bytes")
                    v[f"io.sinks.spill_bytes.{m}"] = ctr([i], "spill_bytes")
        for m, n in ing.files_written.items():
            v[f"io.sinks.files_written.{m}"] = float(n)
        checks = self._spans(tracer, "quality.checks.run_checks")
        v["quality.checks.ms"] = dur(checks)
        v["quality.checks.jobs"] = ctr(checks, "jobs")
        v["quality.checks.violations"] = float(ing.violations)

    def _serve_layers(self, v, tracer, ref, sv) -> dict:
        """Latency percentiles from the untraced reference pass; counters
        from each traced request's job group. → {request group: stats}."""
        for kind in ("tile", "trace"):
            ms = [o.ms for o in ref.outcomes if o.ok and o.req.kind == kind]
            v[f"{kind}_p50_ms"] = _pct(ms, 50)
            v[f"{kind}_p90_ms"] = _pct(ms, 90)
        v["serve_qps"] = sum(o.ok for o in ref.outcomes) / ref.wall_s
        self.probe.settle()
        executed = [o for o in sv.outcomes if o.ok and not o.hit]
        req = {o.gid: self.probe.stats(o.gid) for o in executed}
        tiles = [o for o in executed if o.req.kind == "tile"]
        traces = [o for o in executed if o.req.kind == "trace"]
        done = [o for o in sv.outcomes if o.ok]
        v["pipeline.cache_hit_ratio"] = sum(o.hit for o in done) / max(len(done), 1)
        v["pipeline.retries"] = float(sv.retries)
        for t in TILES:
            v[f"query.analytics.ms.{t}"] = _median([o.ms for o in tiles if o.req.name == t])
        v["query.analytics.jobs_per_request"] = _mean([req[o.gid].counters["jobs"] for o in tiles])
        v["query.analytics.input_bytes_per_request"] = _mean(
            [req[o.gid].counters["input_bytes"] for o in tiles]
        )
        for h in (1, 2, 3):
            v[f"query.trace.ms.h{h}"] = _median([o.ms for o in traces if o.req.params[3] == h])
        v["query.trace.jobs_per_request"] = _mean([req[o.gid].counters["jobs"] for o in traces])
        v["query.trace.shuffle_bytes_per_request"] = _mean(
            [req[o.gid].counters["shuffle_write_bytes"] for o in traces]
        )
        v["query.trace.result_rows_per_request"] = _mean([o.rows for o in traces])
        v["query.trace.fallbacks"] = float(
            sum(bool(s.tags.get("fallback")) for s in tracer.spans
                if s.name == "query.trace.trace_funds_with_fallback")
        )
        v["query.trace.deadline_misses"] = float(sum(o.expired for o in sv.outcomes))
        v["serve.driver_overhead_ms"] = _median(
            [o.ms - union_length(req[o.gid].job_intervals) for o in executed]
        )
        v["serve.sched_wait_ms"] = _median([req[o.gid].counters["sched_wait_ms"] for o in executed])
        return req

    def _curate_layers(self, v, tracer, stats, cur) -> None:
        def dur(name):
            return self._dur(tracer, self._spans(tracer, name))

        def ctr(name, key):
            return self._ctr(stats, self._spans(tracer, name), key)

        v["llmdata.text.normalize_ms"] = dur("llmdata.text.normalize_text")
        v["llmdata.text.gopher_ms"] = dur("llmdata.text.gopher_quality_gate")
        v["llmdata.classify.ms"] = dur("llmdata.classify.linear_classifier_scores")
        v["llmdata.dedup.minhash_lsh_ms"] = dur("llmdata.dedup.minhash_lsh_pairs")
        v["llmdata.dedup.shuffle_bytes"] = ctr("llmdata.dedup.minhash_lsh_pairs", "shuffle_write_bytes")
        v["llmdata.dedup.spill_bytes"] = ctr("llmdata.dedup.minhash_lsh_pairs", "spill_bytes")
        v["llmdata.dedup.pairs_out"] = float(cur.pairs_out)
        v["llmdata.dedup.planted_recall"] = cur.planted_recall
        v["llmdata.clusters.ms"] = dur("llmdata.clusters.connected_clusters")
        v["llmdata.clusters.jobs"] = ctr("llmdata.clusters.connected_clusters", "jobs")
        v["llmdata.sampling.budget_ms"] = dur("llmdata.sampling.quality_budget_select")

    def close(self) -> None:
        """Stop Spark and the JVM it started, and wait for it to exit."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
                    proc.kill()
                    proc.wait()
