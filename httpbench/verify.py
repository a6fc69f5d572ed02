"""Response checks for the TSD request-path benchmark.

A response passes when it has the expected HTTP status, the OpenTSDB JSON
shape of its endpoint, and either the golden digest of its pool id or the
exact expected body the workload generator built (ingested points).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def _round(x):
    """Round floats to 9 significant digits: Spark's sum order across
    shuffle partitions is not fixed, so the last bits of a sum may vary."""
    if isinstance(x, float):
        return float(f"{x:.9g}") if math.isfinite(x) else repr(x)
    if isinstance(x, dict):
        return {k: _round(v) for k, v in x.items()}
    if isinstance(x, list):
        return [_round(v) for v in x]
    return x


def digest(payload) -> str:
    canon = json.dumps(_round(payload), sort_keys=True, separators=(",", ":"))
    return hashlib.sha256(canon.encode()).hexdigest()


def load_golden(scale: float) -> dict[str, str]:
    with open(GOLDEN_PATH) as fh:
        return json.load(fh).get(f"{scale:g}", {})


_SERIES_KEYS = ("metric", "tags", "aggregateTags", "dps")


def _is_num(v) -> bool:
    return v is None or (isinstance(v, (int, float)) and not isinstance(v, bool))


def _query_shape(payload) -> str | None:
    if not isinstance(payload, list):
        return "body is not a list"
    for s in payload:
        if not (isinstance(s, dict) and isinstance(s.get("metric"), str)
                and isinstance(s.get("tags"), dict)
                and isinstance(s.get("aggregateTags"), list)
                and isinstance(s.get("dps"), dict)):
            return "series lacks metric/tags/aggregateTags/dps"
        if not all(k.isdigit() and _is_num(v) for k, v in s["dps"].items()):
            return "dps is not {epoch_seconds: number}"
    return None


def check(req: dict, status: int, body: bytes, golden: dict[str, str]) -> str | None:
    """Return None when the response is right, else the reason it is not."""
    if status != 200:
        return f"HTTP {status}: {body[:200]!r}"
    try:
        payload = json.loads(body)
    except ValueError:
        return "body is not JSON"
    if req["cls"] == "put":
        return None if payload == req["expect"] else f"put summary {payload}"
    err = _query_shape(payload)
    if err:
        return err
    if "expect" in req:
        core = [{k: s[k] for k in _SERIES_KEYS} for s in payload]
        return None if core == req["expect"]["series"] else "read-back differs from the points put"
    want = golden.get(req["id"])
    if want is None:
        return f"no golden digest for {req['id']}"
    got = digest(payload)
    return None if got == want else f"digest {got[:12]} != golden {want[:12]}"
