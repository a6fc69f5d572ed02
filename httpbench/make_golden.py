"""Record the golden digest of every pool request at the current commit.

    python3 httpbench/make_golden.py 0.1 0.001

Starts one daemon per scale, sends each pool request twice (both answers
must digest the same), and rewrites those scales' entries in golden.json.
Run it only when the program's answers are meant to change.
"""

from __future__ import annotations

import http.client
import json
import os
import sys

import run
import verify
import workloads
from datagen import ensure_events


def record(scale: float) -> dict[str, str]:
    sf_dir = ensure_events(os.path.join(run.WORK, "data"), scale)
    daemon = run.Daemon(sf_dir, None)
    out: dict[str, str] = {}
    try:
        daemon.wait_ready()
        conn = http.client.HTTPConnection("127.0.0.1", daemon.port, timeout=300)
        for rid, req in sorted(workloads.pool(scale).items()):
            digests = set()
            for _ in range(2):
                status, data = run.exchange(conn, req)
                if status != 200:
                    raise SystemExit(f"{rid}: HTTP {status}: {data[:200]!r}")
                digests.add(verify.digest(json.loads(data)))
            if len(digests) != 1:
                raise SystemExit(f"{rid}: two answers digest differently")
            out[rid] = digests.pop()
            err = verify.check(req, status, data, out)
            if err:
                raise SystemExit(f"{rid}: {err}")
            print(rid, out[rid][:12], flush=True)
        conn.close()
    finally:
        daemon.stop()
    return out


def main(scales: list[str]) -> int:
    try:
        with open(verify.GOLDEN_PATH) as fh:
            golden = json.load(fh)
    except FileNotFoundError:
        golden = {}
    for s in scales:
        golden[f"{float(s):g}"] = record(float(s))
    with open(verify.GOLDEN_PATH, "w") as fh:
        json.dump(golden, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["0.1", "0.001"]))
