"""Run the TSD daemon with per-layer spans and counters.

    python httpbench/traced_tsd.py SPANS.json [opentsdb_spark.cli args...]

Installs wrappers around the public calls of each layer, then runs
`opentsdb_spark.cli.main(args)` in this process. Every `TSD.route` call is
one record holding its span times (total and self, in ms) and counts. The
records stay in memory and are written to SPANS.json when the daemon
stops (for example after `GET /diediedie`). No package file is edited:
each name is patched where the caller looks it up.
"""

from __future__ import annotations

import json
import sys
import threading
import time


class Tracer:
    def __init__(self):
        self.records: list[dict] = []
        self.spark = None
        self._tls = threading.local()

    def _rec(self):
        tls = self._tls
        return None if getattr(tls, "off", False) else getattr(tls, "rec", None)

    def _enter(self):
        self._tls.stack.append(0.0)
        return time.perf_counter()

    def _exit(self, rec, name: str, t0: float):
        dur = (time.perf_counter() - t0) * 1000.0
        child = self._tls.stack.pop()
        self._tls.stack[-1] += dur
        rec["ms"][name] = rec["ms"].get(name, 0.0) + dur
        rec["self_ms"][name] = rec["self_ms"].get(name, 0.0) + dur - child

    def span(self, name: str, fn, after=None):
        """Wrap `fn` so each call inside a request adds to span `name`."""
        def wrapper(*a, **kw):
            rec = self._rec()
            if rec is None:
                return fn(*a, **kw)
            t0 = self._enter()
            try:
                out = fn(*a, **kw)
                if after is not None:
                    out = after(rec, out)
                return out
            finally:
                self._exit(rec, name, t0)
        return wrapper

    def count(self, rec, name: str, n: int = 1):
        rec["counts"][name] = rec["counts"].get(name, 0) + n

    def _gc_ms(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    def route(self, fn):
        """Root span: one record per request, with its own Spark job group."""
        def wrapper(tsd, method, path, request, body):
            tls = self._tls
            self.spark = tsd.spark
            rec = {"method": method, "path": path, "ms": {}, "self_ms": {}, "counts": {},
                   "group": f"httpbench-{len(self.records)}"}
            tls.off = True
            tsd.spark.sparkContext.setJobGroup(rec["group"], "httpbench")
            gc0 = self._gc_ms()
            tls.off = False
            tls.rec, tls.stack = rec, [0.0]
            t0 = self._enter()
            try:
                return fn(tsd, method, path, request, body)
            finally:
                self._exit(rec, "tsd.route", t0)
                tls.rec = None
                tls.off = True
                rec["ms"]["jvm.gc"] = self._gc_ms() - gc0
                tls.off = False
                self.records.append(rec)
        return wrapper

    def install(self):
        from py4j.clientserver import JavaClient
        from pyspark.sql.classic.dataframe import DataFrame

        from opentsdb_spark import api, serializer
        from opentsdb_spark.operators import annotations
        from opentsdb_spark.plans import limits
        from opentsdb_spark.tsd import TSD

        send = JavaClient.send_command

        def send_command(client, *a, **kw):
            rec = self._rec()
            if rec is not None:
                self.count(rec, "py4j.calls")
            return send(client, *a, **kw)

        JavaClient.send_command = send_command

        def serialized(rec, out):
            self.count(rec, "serializer.series_out", len(out))
            self.count(rec, "serializer.dps_out", sum(len(s["dps"]) for s in out))
            return out

        def timed_collect(rec, df):
            # the annotation job runs when handle_query collects the frame
            df.collect = self.span("annotations.annotations_in_range", df.collect)
            return df

        def checkpointed(rec, out):
            self.count(rec, "spark.local_checkpoints")
            return out

        TSD.route = self.route(TSD.route)
        api.parse_query = self.span("parse.parse_query", api.parse_query)
        api.compile_query = self.span("planner.compile_query", api.compile_query)
        api.serialize_subquery = self.span(
            "serializer.serialize_subquery", api.serialize_subquery, serialized)
        api.handle_put = self.span("api.handle_put", api.handle_put)
        # handle_query's data-point limit runs inside serialize_subquery
        serializer.enforce_data_point_limit = self.span(
            "limits.enforce_data_point_limit", serializer.enforce_data_point_limit)
        # imported inside handle_query at call time: patch the home modules
        limits.enforce_scan_budget = self.span(
            "limits.enforce_scan_budget", limits.enforce_scan_budget)
        annotations.annotations_in_range = self.span(
            "annotations.annotations_in_range", annotations.annotations_in_range, timed_collect)
        DataFrame.localCheckpoint = self.span(
            "spark.local_checkpoint", DataFrame.localCheckpoint, checkpointed)

    def spark_counts(self):
        """Jobs, submitted stages and their tasks per request, read back by
        job group once the listener bus has long caught up."""
        if self.spark is None:
            return
        st = self.spark.sparkContext.statusTracker()
        for rec in self.records:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = {s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds}
            infos = [i for s in stages if (i := st.getStageInfo(s)) is not None]
            rec["counts"].update({"spark.jobs": len(jobs), "spark.stages": len(infos),
                                  "spark.tasks": sum(i.numTasks for i in infos)})

    def dump(self, path: str):
        self.spark_counts()
        with open(path, "w") as fh:
            json.dump({"requests": self.records}, fh)


def main(argv: list[str]) -> int:
    spans_path, cli_args = argv[0], argv[1:]
    from opentsdb_spark import cli

    tracer = Tracer()
    tracer.install()
    try:
        return cli.main(cli_args)
    finally:
        tracer.dump(spans_path)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
