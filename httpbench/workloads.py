"""Seeded request sequences for the TSD request-path benchmark.

Every base-data query is drawn from a fixed pool whose responses have a
golden digest in `golden.json`; the run seed only picks pool variants and
the ingested points, never the request shapes or their order, so every
seed replays the same mix of work. Ingested points are checked exactly
against the generator's own copy.

A plan has three phases: `warmup` (counted in set-up time), `timed`, and
`probe` (dash_read only: a few puts after the timed reads, so the put
latency of a read-only daemon is measured without touching the reads).
"""

from __future__ import annotations

import random
import urllib.parse

from datagen import END_S, METRICS, n_users

WORKLOADS = ("dash_read", "ingest_mix")

# TSD._absorb compacts lineage with localCheckpoint on every 32nd write
CHECKPOINT_EVERY = 32
PUT_BATCH = 50
HOSTS = 5
PUT_STEP_S = 7  # seconds between consecutive ingested points

# nominal timed-phase length of one unit (one read round / one put cycle)
# on a 4-vCPU host; `--seconds` is converted to a whole number of units so
# a run always replays a complete, fixed-length sequence
UNIT_SECONDS = {"dash_read": 19, "ingest_mix": 30}

POOL_SIZE = 8


def _day(i: int) -> tuple[str, str]:
    d = 2 + 3 * i  # 2..23: whole days inside the 30-day base data
    return f"2024/01/{d:02d}", f"2024/01/{d + 1:02d}"


def _users(i: int, scale: float) -> list[str]:
    n = n_users(scale)
    return [str((7 * i + off) % n) for off in (1, 5, 11)]


def _get(m: str, start: str, end: str) -> str:
    return "/api/query?" + urllib.parse.urlencode({"start": start, "end": end, "m": m})


def pool(scale: float) -> dict[str, dict]:
    """Every golden-checked base-data request, keyed by id."""
    out: dict[str, dict] = {}

    def add(rid, method, path, body=None):
        out[rid] = {"id": rid, "cls": "query", "method": method, "path": path, "body": body}

    for i in range(POOL_SIZE):
        s, e = _day(i)
        u = _users(i, scale)
        add(f"raw_or/{i}", "GET",
            _get(f"sum:{METRICS[i % 5]}{{user=literal_or({'|'.join(u)})}}", s, e))
        add(f"multi/{i}", "POST", "/api/query", {
            "start": s, "end": e, "queries": [
                {"metric": METRICS[i % 5], "aggregator": "sum", "downsample": "1h-sum"},
                {"metric": METRICS[(i + 1) % 5], "aggregator": "max", "downsample": "1h-max",
                 "filters": [{"type": "literal_or", "tagk": "user",
                              "filter": "|".join(u[:2]), "groupBy": True}]},
            ]})
    return out


class _Ingest:
    """Generator of put batches for one seeded metric, with the exact
    expected read-back after each batch."""

    def __init__(self, rng: random.Random, metric: str, t0: int):
        self.rng, self.metric, self.t0 = rng, metric, t0
        self.points: list[tuple[str, int, float]] = []  # (host, ts, value)

    def put(self) -> dict:
        batch = []
        for _ in range(PUT_BATCH):
            j = len(self.points)
            p = (f"h{j % HOSTS}", self.t0 + j * PUT_STEP_S, self.rng.randrange(40_000) / 4)
            self.points.append(p)
            batch.append({"metric": self.metric, "timestamp": p[1], "value": p[2],
                          "tags": {"host": p[0]}})
        n = len(self.points) // PUT_BATCH
        return {"id": f"put/{n}", "cls": "put", "method": "POST", "path": "/api/put?summary",
                "body": batch, "expect": {"success": PUT_BATCH, "failed": 0}}

    def readback(self) -> dict:
        """Raw read (`none` aggregator) of every ingested series: each value
        must come back exactly as put. `sum` is not used here because its
        sweep path returns a lone series with last-bit error (NOTES.md)."""
        series = []
        for h in sorted({p[0] for p in self.points}):
            dps = {str(ts): v for host, ts, v in self.points if host == h}
            series.append({"metric": self.metric, "tags": {"host": h},
                           "aggregateTags": [], "dps": dps})
        end = self.t0 + len(self.points) * PUT_STEP_S
        n = len(self.points) // PUT_BATCH
        return {"id": f"readback/{n}", "cls": "query", "method": "GET",
                "path": _get(f"none:{self.metric}{{host=*}}", str(self.t0), str(end)),
                "body": None, "expect": {"series": series}}


def units(workload: str, seconds: float) -> int:
    return max(1, round(seconds / UNIT_SECONDS[workload]))


def plan(workload: str, seed: int, seconds: float, scale: float) -> dict[str, list[dict]]:
    """The run's full request sequence: {"warmup", "timed", "probe"}."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    rng = random.Random(f"{workload}:{seed}")
    reqs = pool(scale)

    def pick(shape: str) -> dict:
        return reqs[f"{shape}/{rng.randrange(POOL_SIZE)}"]

    t0 = END_S + 86_400 + rng.randrange(86_400)  # after the base data ends
    n = units(workload, seconds)
    if workload == "dash_read":
        # Two panel shapes only: every extra shape costs its first sight in
        # the warm-up (3-8 s), and a run must stay near one minute.
        # raw_or is three of the five timed requests, so the query
        # median falls inside its cluster; the warm-up sees it twice
        # because its first sight also pays the daemon's cold start
        warmup = [pick(s) for s in ("raw_or", "multi", "raw_or")]
        round_ = ("multi", "raw_or", "raw_or", "multi", "raw_or")
        timed = [pick(s) for _ in range(n) for s in round_]
        probe_gen = _Ingest(rng, f"httpbench.probe.s{seed}", t0)
        probe = [probe_gen.put() for _ in range(8)]
        return {"warmup": warmup, "timed": timed, "probe": probe}
    gen = _Ingest(rng, f"httpbench.ingest.s{seed}", t0)
    # the first put pays the daemon's cold start
    warmup = [gen.put(), gen.readback()]
    timed: list[dict] = []
    for c in range(n):
        # each cycle reads the base data once mid-cycle, over an uncompacted
        # union of three put frames, then ends on the put that triggers
        # localCheckpoint and reads the ingested points back over the
        # compacted lineage. The read-backs are three of the four reads, so
        # the query median falls inside their cluster
        first = 3 - len([r for r in warmup if r["cls"] == "put"]) if c == 0 else 3
        timed += [gen.put() for _ in range(first)]
        timed.append(pick("raw_or"))
        timed += [gen.put() for _ in range(CHECKPOINT_EVERY - 3)]
        timed += [gen.readback() for _ in range(3)]
    return {"warmup": warmup, "timed": timed, "probe": []}
