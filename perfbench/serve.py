"""The dashboard phase: a closed loop of client threads over the marts.

Each client takes the next request from one shared, seeded plan, runs it
through one shared ``pipeline.QueryCache(ttl_secs=600)`` and only then
takes another (closed loop: a slow system receives less load). The phase
ends when the plan is done. Every request runs under its own Spark job
group; a watchdog
cancels the group of any request older than the deadline (the
reference's 60 s statement timeout) and the request counts as failed.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field

import numpy as np

from blockchair_etl_spark import pipeline
from blockchair_etl_spark.query import analytics

TILES = (
    "distinct_transaction_count",
    "avg_nonzero_fee",
    "most_active_address",
    "richest_address",
    "balance_trend",
    "block_metrics",
)
TRACE = "trace_from_address"
DEADLINE_S = 60.0
# Share of non-richest tile requests that repeat an earlier key. With
# richest_address (no parameters, so a hit after its first call) at about
# 1/6 of tiles, the tile hit ratio is about 1/6 + 5/6 · 0.15 = 29% less
# the first calls and the repeats that arrive while their key is still
# being computed: a 20-tile plan measures 15-30% (one hit is 5%), below
# 50%, so the tile median sits inside the miss mode on every run.
REPEAT = 0.15
# Every block of 30 requests holds 10 traces at 1/2/3 hops in 6/3/1 (the
# reference's default is 1 hop, app.py:260) and 20 tiles, three of each
# type plus two drawn at random; the order inside a block is shuffled.
# Fixing the composition keeps every seed's plan equally expensive.
BLOCK_HOPS = (1,) * 6 + (2,) * 3 + (3,)
BLOCK_TILES = 20
BLOCK = len(BLOCK_HOPS) + BLOCK_TILES
WINDOW_HOURS = (1, 6, 12, 24, 72)


@dataclass(frozen=True)
class Request:
    name: str
    params: tuple

    @property
    def kind(self) -> str:
        return "trace" if self.name == TRACE else "tile"


def plan_requests(seed: int, blocks: int, active: list[str], start: np.datetime64, days: int) -> list[Request]:
    """A seeded plan of ``blocks`` × 30 requests: fund traces from sources
    drawn uniformly over every spending address (so traces mostly miss
    the cache) and tiles over random windows of the loaded days, with
    balance-trend addresses Zipf-drawn by activity rank."""
    rng = np.random.default_rng(seed + 2)
    span_min = days * 24 * 60
    full = (_ts(start), _ts(start + np.timedelta64(span_min, "m")))
    prior: dict[str, list[tuple]] = {t: [] for t in TILES}

    def tile(name: str) -> Request:
        if name == "richest_address":
            return Request(name, ())
        if prior[name] and rng.random() < REPEAT:
            return Request(name, prior[name][int(rng.integers(len(prior[name])))])
        hours = int(rng.choice(WINDOW_HOURS))
        first = int(rng.integers(0, span_min - hours * 60 + 1))
        w0 = start + np.timedelta64(first, "m")
        window = (_ts(w0), _ts(w0 + np.timedelta64(hours * 60, "m")))
        if name == "balance_trend":
            rank = int(np.floor(len(active) ** rng.random()))  # Zipf(s=1)
            params: tuple = (active[rank - 1], *window)
        else:
            params = window
        prior[name].append(params)
        return Request(name, params)

    out: list[Request] = []
    for _ in range(blocks):
        names = list(TILES) * (BLOCK_TILES // len(TILES))
        names += [TILES[int(i)] for i in rng.integers(0, len(TILES), BLOCK_TILES - len(names))]
        kinds = [("trace", h) for h in BLOCK_HOPS] + [("tile", n) for n in names]
        for j in rng.permutation(len(kinds)):
            kind, what = kinds[j]
            if kind == "trace":
                addr = active[int(rng.integers(len(active)))]
                out.append(Request(TRACE, (addr, *full, what)))
            else:
                out.append(tile(what))
    return out


def _ts(t: np.datetime64) -> str:
    return str(t.astype("datetime64[s]")).replace("T", " ")


def build(marts: dict, req: Request):
    """The request's lazy DataFrame, built through the module attribute so
    traced-run wrappers apply."""
    fn = getattr(analytics, req.name)
    fct, blocks = marts["fct_transaction_traces"], marts["dim_blocks"]
    if req.name == TRACE:
        addr, s, e, hops = req.params
        return fn(fct, blocks, addr, s, e, max_hops=hops, limit=1000)
    if req.name == "richest_address":
        return fn(marts["dim_addresses"])
    if req.name == "balance_trend":
        return fn(marts["int_address_balances_with_history"], *req.params, limit=1000)
    if req.name == "block_metrics":
        return fn(blocks, *req.params, limit=1000)
    return fn(fct, *req.params)


@dataclass
class Outcome:
    req: Request
    gid: str
    ms: float
    ok: bool
    hit: bool
    expired: bool
    rows: int


@dataclass
class ServeResult:
    outcomes: list[Outcome]
    wall_s: float
    cache: pipeline.QueryCache
    retries: int
    failures: list = field(default_factory=list)


def run_serve(probe, tracer, marts: dict, plan: list[Request], clients: int) -> ServeResult:
    """Serve ``plan`` with ``clients`` closed-loop threads; ``tracer`` is
    None outside the traced run."""
    retries = [0]

    def counting_sleep(s: float) -> None:
        retries[0] += 1
        time.sleep(s)

    cache = pipeline.QueryCache(ttl_secs=600, _sleep=counting_sleep)
    lock = threading.Lock()
    cursor = [0]
    inflight: dict[str, float] = {}
    expired: set[str] = set()
    outcomes: list[Outcome] = []
    failures: list[str] = []
    done = threading.Event()
    t_start = time.perf_counter()

    def take() -> int | None:
        with lock:
            i = cursor[0]
            if i >= len(plan):
                return None
            cursor[0] += 1
            return i

    def client() -> None:
        while (i := take()) is not None:
            req = plan[i]
            gid = probe.new_group(f"req{i}")  # unique across passes
            built = [False]

            def make():
                built[0] = True
                return build(marts, req)

            t0 = time.perf_counter()
            with lock:
                inflight[gid] = t0
            ok, rows = True, 0
            try:
                with probe.group(gid):
                    if tracer is None:
                        rows = len(cache.run(req.name, req.params, make))
                    else:
                        with tracer.request_scope(gid), tracer.span(f"serve.{req.kind}"):
                            rows = len(cache.run(req.name, req.params, make))
            except Exception as e:  # noqa: BLE001 — a failed request is counted, the loop goes on
                ok = False
                with lock:
                    if gid not in expired:
                        failures.append(f"{req}: {type(e).__name__}: {e}")
            ms = (time.perf_counter() - t0) * 1e3
            with lock:
                del inflight[gid]
                late = gid in expired or ms > DEADLINE_S * 1e3
                outcomes.append(Outcome(req, gid, ms, ok and not late, not built[0], late, rows))

    def watchdog() -> None:
        while not done.wait(0.1):
            now = time.perf_counter()
            with lock:
                late = [g for g, t0 in inflight.items() if now - t0 > DEADLINE_S]
                expired.update(late)
            for g in late:  # re-cancelled each tick so retries die too
                probe.cancel(g)

    dog = threading.Thread(target=watchdog, name="deadline-watchdog")
    dog.start()
    threads = [threading.Thread(target=client, name=f"client{k}") for k in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    done.set()
    dog.join()
    return ServeResult(outcomes, wall, cache, retries[0], failures)
