"""Metric definitions, summary statistics and the result line."""

from __future__ import annotations

import json
import math

# name -> unit.  END_TO_END and PER_LAYER are what BENCHMARK.json lists;
# the result line carries exactly these.  The full record (written to a
# file and printed to stderr) carries every figure the run measured.
END_TO_END = {
    "setup_s": "s",
    "op_gbps": "GB/s",
    "op_user_cpu_s_per_gib": "s/GiB",
    "op_vs_ref_wall": "ratio",
    "size_vs_ref": "ratio",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "job.jobs": "count",
    "job.tasks": "count",
    "job.scheduler_delay_s": "s",
    "job.executor_run_s": "s",
    "job.plan_s": "s",
    "lane.py_run_s": "s",
    "lane.bytes_from_py": "B",
    "scan_io.read_s": "s",
    "stripe.encode_s": "s",
    "stripe.decode_s": "s",
    "stripe.footer_encode_s": "s",
    "kernels.rlev2.encode_s": "s",
    "kernels.rlev2.decode_s": "s",
    "kernels.bitpack.pack_s": "s",
    "kernels.dictionary.encode_s": "s",
    "codec.compress_s": "s",
    "codec.decompress_s": "s",
    "prune.rows_decoded_per_row_returned": "ratio",
    "sink.write_s": "s",
    "proc.user_cpu_s": "s",
    "trace.overhead_ms": "ms",
    "trace.self_time_coverage": "ratio",
}

# bytes of "\n" + line + "\n": a reader that keeps only a 2000-byte tail of
# stdout still gets the whole line
LINE_LIMIT = 1900


def unit_of(name: str) -> str:
    """Unit of a record-only figure, from its name's suffix."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("coverage", "per_row_returned")):
        return "ratio"
    return "count"


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``xs``."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile with at least ``beyond`` of ``n`` samples
    above it, or None when ``n`` is too small to have one: at most
    ``100 * (1 - beyond / n)``, floored to a whole percent."""
    if n <= beyond:
        return None
    return float(math.floor(100.0 * (n - beyond) / n))


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, float],
                units: dict[str, str]) -> str:
    """The last stdout line: exactly these four keys, each metric with
    its unit, values as measured."""
    body = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return json.dumps(body, separators=(",", ":"))
