"""Request-path benchmark for the TSD daemon.

    python3 httpbench/run.py --workload dash_read --seed 1 --seconds 15 --trace 0

Launches `python -m opentsdb_spark.cli tsd` (production defaults, local
parallelism = nproc) on a free localhost port over a generated sf0.1
events table, replays a seeded fixed-length request sequence from one
single-threaded client on one keep-alive connection (closed loop),
verifies every response, stops the daemon and prints one JSON result
line. `--trace 1` runs the daemon under `traced_tsd.py` and reports the
per-layer metrics instead. See NOTES.md.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from datagen import ensure_events  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUN_DEADLINE_S = 170.0
READY_TIMEOUT_S = 90.0


class Aborted(RuntimeError):
    """The run cannot produce a result (daemon did not start or died)."""


def tail(values: list[float], beyond: int = 10) -> dict:
    """Highest percentile with at least `beyond` samples above it.

    With n samples that is the (n - beyond)-th smallest; `pct` is its rank
    as a percentage of n. Fewer than beyond + 1 samples give pct None."""
    n = len(values)
    k = n - beyond
    if k < 1:
        return {"pct": None, "value": None, "samples": n}
    return {"pct": 100.0 * k / n, "value": sorted(values)[k - 1], "samples": n}


class Daemon:
    """One TSD process group; `stop()` leaves no process of it behind."""

    def __init__(self, sf_dir: str, spans: str | None):
        os.makedirs(WORK, exist_ok=True)
        tag = f"{os.getpid()}"
        self.out_path = os.path.join(WORK, f"daemon-{tag}.out")
        self.log_path = os.path.join(WORK, f"daemon-{tag}.log")
        if spans:
            cmd = [sys.executable, os.path.join(HERE, "traced_tsd.py"), spans]
        else:
            cmd = [sys.executable, "-m", "opentsdb_spark.cli"]
        cmd += ["--sf-dir", sf_dir, "tsd", "--port", "0"]
        env = dict(
            os.environ,
            PYTHONUNBUFFERED="1",
            PYTHONPATH=ROOT,
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        )
        self.t_spawn = time.perf_counter()
        with open(self.out_path, "w") as out, open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=log,
                                         stdin=subprocess.DEVNULL, start_new_session=True)
        self.port = None

    def wait_ready(self) -> float:
        """Block until the daemon prints its port; return seconds since spawn."""
        while time.perf_counter() - self.t_spawn < READY_TIMEOUT_S:
            with open(self.out_path) as fh:
                for line in fh:
                    if line.startswith("listening on "):
                        self.port = int(line.split()[-1])
                        return time.perf_counter() - self.t_spawn
            if self.proc.poll() is not None:
                raise Aborted(f"daemon exited with {self.proc.returncode}; see {self.log_path}")
            time.sleep(0.05)
        raise Aborted("daemon did not report a port in time")

    def _group_alive(self) -> bool:
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    if os.getpgid(int(name)) == self.proc.pid:
                        return True
                except OSError:
                    pass
        return False

    def stop(self):
        """Ask the daemon to exit (so a traced run writes its spans), then
        make sure the whole process group is gone."""
        if self.port and self.proc.poll() is None:
            try:
                conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)
                conn.request("GET", "/diediedie")
                conn.getresponse().read()
                conn.close()
            except (OSError, http.client.HTTPException):
                pass  # the daemon may close before the page is sent
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            pass
        for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            if not self._group_alive():
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            end = time.monotonic() + grace
            while time.monotonic() < end and self._group_alive():
                time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.wait()

    def discard_logs(self):
        for path in (self.out_path, self.log_path):
            os.remove(path)


def exchange(conn: http.client.HTTPConnection, req: dict) -> tuple[int, bytes]:
    body = None if req["body"] is None else json.dumps(req["body"]).encode()
    headers = {"Content-Type": "application/json"} if body else {}
    conn.request(req["method"], req["path"], body=body, headers=headers)
    resp = conn.getresponse()
    return resp.status, resp.read()


class Client:
    """Single-threaded closed-loop client on one keep-alive connection."""

    def __init__(self, daemon: Daemon, golden: dict[str, str], t_start: float):
        self.daemon, self.golden, self.t_start = daemon, golden, t_start
        self.conn = None
        self.log: list[dict] = []

    def _connect(self):
        remaining = RUN_DEADLINE_S - (time.perf_counter() - self.t_start)
        if remaining <= 0:
            raise Aborted("run deadline passed")
        self.conn = http.client.HTTPConnection("127.0.0.1", self.daemon.port, timeout=remaining)

    def send(self, req: dict, phase: str) -> dict:
        if self.conn is None:
            self._connect()
        t0 = time.perf_counter()
        try:
            status, data = exchange(self.conn, req)
        except (OSError, http.client.HTTPException) as e:
            self.conn.close()
            self.conn = None
            if self.daemon.proc.poll() is not None:
                raise Aborted(f"daemon died during {req['id']}") from e
            status, data = 0, repr(e).encode()
        ms = (time.perf_counter() - t0) * 1000.0
        err = verify.check(req, status, data, self.golden)
        rec = {"phase": phase, "id": req["id"], "cls": req["cls"], "path": req["path"],
               "ms": ms, "bytes": len(data), "error": err}
        self.log.append(rec)
        return rec

    def run(self, reqs: list[dict], phase: str) -> list[dict]:
        return [self.send(r, phase) for r in reqs]


def _median(xs):
    return statistics.median(xs) if xs else None


def _drift(timed: list[dict]) -> dict:
    """Median latency of the second half of each request shape's timed
    samples over that of the first half: well above 1 means the daemon was
    still slowing down, well below 1 that it was still warming up. For
    ingest_mix read-backs it also reflects lineage depth (NOTES.md)."""
    by_shape: dict[str, list[float]] = {}
    for r in timed:
        by_shape.setdefault(r["id"].split("/")[0], []).append(r["ms"])
    return {k: statistics.median(v[len(v) // 2:]) / statistics.median(v[:len(v) // 2])
            for k, v in by_shape.items() if len(v) > 1}


def _metric(value, unit):
    return {"value": value, "unit": unit}


def untraced_metrics(timed, puts, wall_s, setup_s) -> dict:
    ok = [r for r in timed if r["error"] is None]
    return {
        "setup_s": _metric(setup_s, "s"),
        "ops_per_s": _metric(len(ok) / wall_s, "1/s"),
        "query_p50_ms": _metric(_median([r["ms"] for r in ok if r["cls"] == "query"]), "ms"),
        "put_p50_ms": _metric(_median([r["ms"] for r in puts if r["error"] is None]), "ms"),
    }


QUERY_LAYERS = (
    ("tsd.route_ms", "ms", "tsd.route", "ms"),
    ("tsd.route_self_ms", "ms", "tsd.route", "self_ms"),
    ("parse.parse_query_ms", "ms", "parse.parse_query", "ms"),
    ("planner.compile_query_ms", "ms", "planner.compile_query", "ms"),
    ("limits.enforce_scan_budget_ms", "ms", "limits.enforce_scan_budget", "ms"),
    ("limits.enforce_data_point_limit_ms", "ms", "limits.enforce_data_point_limit", "ms"),
    ("annotations.annotations_in_range_ms", "ms", "annotations.annotations_in_range", "ms"),
    ("serializer.serialize_subquery_self_ms", "ms", "serializer.serialize_subquery", "self_ms"),
    ("serializer.series_out", "count", "serializer.series_out", "counts"),
    ("serializer.dps_out", "count", "serializer.dps_out", "counts"),
)
PUT_LAYERS = (
    ("tsd.route_ms", "ms", "tsd.route", "ms"),
    ("api.handle_put_ms", "ms", "api.handle_put", "ms"),
)
COMMON_LAYERS = (
    ("py4j.calls", "count", "py4j.calls", "counts"),
    ("spark.jobs", "count", "spark.jobs", "counts"),
    ("spark.stages", "count", "spark.stages", "counts"),
    ("spark.tasks", "count", "spark.tasks", "counts"),
    ("jvm.gc_ms", "ms", "jvm.gc", "ms"),
)


def traced_metrics(pairs_by_cls: dict, host_s: dict, wall_s: float, n_ok: int) -> tuple[dict, dict]:
    """Per-layer metrics: per-request means over each class (means, so the
    layer self times of a class add up to its mean latency)."""
    metrics, detail = {}, {}
    for cls, layers in (("query", QUERY_LAYERS), ("put", PUT_LAYERS)):
        pairs = pairs_by_cls[cls]
        n = max(1, len(pairs))

        def mean(key, kind):
            return sum(s[kind].get(key, 0.0) for _, s in pairs) / n

        for name, unit, key, kind in layers + COMMON_LAYERS:
            metrics[f"{cls}.{name}"] = _metric(mean(key, kind), unit)
        transport = sum(c["ms"] - s["ms"]["tsd.route"] for c, s in pairs) / n
        metrics[f"{cls}.tsd.transport_ms"] = _metric(transport, "ms")
        latency = sum(c["ms"] for c, _ in pairs) / n
        layer_sum = sum(sum(v for k, v in s["self_ms"].items()) for _, s in pairs) / n + transport
        detail[cls] = {"requests": len(pairs), "latency_mean_ms": latency,
                       "layer_self_sum_ms": layer_sum,
                       "layer_sum_ratio": layer_sum / latency if latency else None}
        if cls == "query":
            metrics["query.tsd.response_bytes"] = _metric(
                sum(c["bytes"] for c, _ in pairs) / n, "bytes")
        else:
            metrics["put.tsd.absorb_ms"] = _metric(
                mean("tsd.route", "ms") - mean("api.handle_put", "ms"), "ms")
    ckpt = [s for pairs in pairs_by_cls.values() for _, s in pairs]
    metrics["spark.local_checkpoints"] = _metric(
        sum(s["counts"].get("spark.local_checkpoints", 0) for s in ckpt), "count")
    metrics["spark.local_checkpoint_ms"] = _metric(
        sum(s["ms"].get("spark.local_checkpoint", 0.0) for s in ckpt), "ms")
    metrics["host.cpu_s"] = _metric(host_s["cpu_s"], "s")
    metrics["host.steal_s"] = _metric(host_s["steal_s"], "s")
    metrics["host.rss_peak_mb"] = _metric(host_s["rss_peak_mb"], "MB")
    metrics["trace.ops_per_s"] = _metric(n_ok / wall_s, "1/s")
    return metrics, detail


def run(args) -> tuple[dict, dict]:
    t_start = time.perf_counter()
    plan = workloads.plan(args.workload, args.seed, args.seconds, args.scale)
    golden = verify.load_golden(args.scale)
    sf_dir = ensure_events(os.path.join(WORK, "data"), args.scale)
    spans_path = os.path.join(WORK, f"spans-{os.getpid()}.json") if args.trace else None
    daemon = Daemon(sf_dir, spans_path)
    try:
        ready_s = daemon.wait_ready()
        client = Client(daemon, golden, t_start)
        warm = client.run(plan["warmup"], "warmup")
        setup_s = time.perf_counter() - daemon.t_spawn
        rss = host.RssPeak(daemon.proc.pid)
        rss.start()
        cpu0, steal0 = host.tree_cpu_s(daemon.proc.pid), host.steal_s()
        t0 = time.perf_counter()
        timed = client.run(plan["timed"], "timed")
        wall_s = time.perf_counter() - t0
        host_s = {"cpu_s": host.tree_cpu_s(daemon.proc.pid) - cpu0,
                  "steal_s": host.steal_s() - steal0}
        host_s["rss_peak_mb"] = rss.stop()
        probe = client.run(plan["probe"], "probe")
    finally:
        daemon.stop()
    daemon.discard_logs()
    log = client.log
    failed = [r for r in log if r["error"] is not None]
    puts = [r for r in timed + probe if r["cls"] == "put"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "ready_s": ready_s, "setup_s": setup_s, "timed_wall_s": wall_s,
        "warmup_ms": [[r["id"], r["ms"]] for r in warm],
        "host": host_s,
        "tail": {cls: tail([r["ms"] for r in timed + probe if r["cls"] == cls])
                 for cls in ("query", "put")},
        "drift_last_over_first": _drift(timed),
        "failures": [[r["phase"], r["id"], r["error"]] for r in failed],
        "requests": [[r["phase"], r["id"], round(r["ms"], 3), r["bytes"]] for r in log],
    }
    if args.trace:
        with open(spans_path) as fh:
            spans = json.load(fh)["requests"]
        os.remove(spans_path)
        if len(spans) < len(log) or any(
                s["path"] != c["path"].split("?")[0] for c, s in zip(log, spans)):
            raise Aborted("span records do not line up with the client's requests")
        pairs = [(c, s) for c, s in zip(log, spans) if c["error"] is None]
        by_cls = {
            "query": [p for p in pairs if p[0]["phase"] == "timed" and p[0]["cls"] == "query"],
            "put": [p for p in pairs if p[0]["phase"] != "warmup" and p[0]["cls"] == "put"],
        }
        n_ok = sum(1 for r in timed if r["error"] is None)
        metrics, detail["layer_sums"] = traced_metrics(by_cls, host_s, wall_s, n_ok)
    else:
        metrics = untraced_metrics(timed, puts, wall_s, setup_s)
    result = {"correct": not failed, "attempted": len(log), "failed": len(failed),
              "metrics": metrics}
    return result, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal timed-phase length; sets the sequence length")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="events table scale factor (golden digests exist for 0.1 and 0.001)")
    args = ap.parse_args(argv)
    try:
        result, detail = run(args)
    except Aborted as e:
        print(f"httpbench: {e}", file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    name = f"detail-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(WORK, name), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1)
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
