"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload encode_pages --seed 1 --seconds 10 --trace 0

Run from the root of a sparc checkout.  Inputs are generated from
``--seed`` and cached under ``.bench_build/perfbench``; every scratch
file goes there too.  ``--trace 0`` times the workload and prints the
end-to-end metrics; ``--trace 1`` makes the traced pass and prints the
per-layer metrics (see README.md).  The full record goes to stderr and
to ``.bench_build/perfbench/records``; the last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 3  # set-ups per run; setup_s is their median
WARMUP_S = 4.0  # checked but untimed rounds (at least one) before each measuring loop


class Stopwatch:
    def __init__(self) -> None:
        self.elapsed = 0.0
        self._t0 = time.perf_counter()

    def stop(self) -> float:
        self.elapsed += time.perf_counter() - self._t0
        return self.elapsed

    @contextmanager
    def paused(self):
        self.stop()
        try:
            yield
        finally:
            self._t0 = time.perf_counter()


class Legs:
    """Per-leg samples of one measuring loop."""

    def __init__(self) -> None:
        self.wall = {"sparc": [], "ref": []}
        self.usage = {"sparc": [], "ref": []}
        self.attempted = 0
        self.failures: list[str] = []


def run_op(spark, wl, leg: str, i: int, legs: Legs, root_pid: int) -> None:
    """One timed operation of ``leg``, then its untimed check."""
    from perfbench import eventlog, host

    wl.before(leg)
    spark.sparkContext.setLocalProperty(eventlog.OP_PROPERTY, f"{leg}:{i}")
    legs.attempted += 1
    u0 = host.usage(root_pid)
    t0 = time.perf_counter()
    try:
        result = (wl.sparc_op if leg == "sparc" else wl.ref_op)(spark, i)
    except Exception:
        traceback.print_exc()
        legs.failures.append(f"{leg}:{i} raised")
        return
    wall = time.perf_counter() - t0
    u1 = host.usage(root_pid)
    spark.sparkContext.setLocalProperty(eventlog.OP_PROPERTY, None)
    legs.wall[leg].append(wall)
    legs.usage[leg].append({k: u1[k] - u0[k] for k in u0})
    check = wl.check_sparc if leg == "sparc" else wl.check_ref
    if not check(i, result):
        legs.failures.append(f"{leg}:{i} wrong result")


def measure(spark, wl, seconds: float, legs: Legs, root_pid: int, first: int = 0) -> float:
    """Closed loop for ``seconds``: rounds of one sparc and one reference
    operation, alternating which goes first.  Rounds for the first
    WARMUP_S are checked but their timings dropped: both legs still speed
    up over the first calls after a set-up.  Returns the process tree's
    peak RSS in MB over the timed rounds."""
    from perfbench import host

    def loop(i: int, seconds: float) -> int:
        end = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            for leg in ("sparc", "ref") if i % 2 == 0 else ("ref", "sparc"):
                run_op(spark, wl, leg, i, legs, root_pid)
            i += 1
            now = time.perf_counter()
            if now + (now - t0) / 2 >= end:  # less than half the next round fits
                return i

    i = loop(first, WARMUP_S)
    legs.wall = {"sparc": [], "ref": []}
    legs.usage = {"sparc": [], "ref": []}
    with host.RssSampler(root_pid) as rss:
        loop(i, seconds)
    return rss.peak_mb


def e2e_metrics(wl, legs: Legs, setups: list[float], peak_rss_mb: float) -> dict:
    from perfbench import report

    sparc, ref = legs.wall["sparc"], legs.wall["ref"]
    gib = wl.raw_bytes / (1 << 30)
    ratios = [s / r for s, r in zip(sparc, ref)]
    sparc_b, ref_b = wl.sizes()
    return {
        "setup_s": statistics.median(setups),
        "op_gbps": wl.raw_bytes / statistics.median(sparc) / 1e9,
        "op_user_cpu_s_per_gib": statistics.median([u["user_s"] for u in legs.usage["sparc"]]) / gib,
        "op_vs_ref_wall": statistics.median(ratios),
        "size_vs_ref": sparc_b / ref_b,
        "op_p50_ms": statistics.median(sparc) * 1e3,
        "op_p90_ms": report.percentile(sparc, 90) * 1e3,
        "peak_rss_mb": peak_rss_mb,
    }


def replay_metrics(wl) -> dict:
    """The in-process replay, untraced then traced; per-layer figures
    from the traced pass's spans."""
    from perfbench import tracing
    from sparc.engine import stripe

    # a Spark worker starts with an empty FSST reject cache; so does each pass
    stripe._FSST_REJECTS.clear()
    t0 = time.perf_counter()
    wl.replay(tracing.Tracer(enabled=False))
    untraced = time.perf_counter() - t0
    stripe._FSST_REJECTS.clear()
    tracer = tracing.Tracer()
    with tracer.patched(), tracer.span("replay"):
        counters = wl.replay(tracer)
    root = tracer.spans[0]
    wall = (root[3] - root[2]) / 1e9
    st = tracing.self_times(tracer.spans)
    calls = tracing.calls(tracer.spans)
    tracer.write(os.path.join(wl.work, "spans.jsonl"))

    def t(*names):
        return sum(st.get(n, 0.0) for n in names)

    def c(*names):
        return sum(calls.get(n, 0) for n in names)

    def b(name, side):
        return tracer.bytes[name][side] if name in tracer.bytes else 0

    out = {
        "trace.replay_wall_s": wall,
        "trace.replay_overhead_s": wall - untraced,
        "trace.self_time_coverage": sum(v for n, v in st.items() if n != "replay") / wall,
        "scan_io.read_s": t("scan_io.read", "scan_io.fetch"),
        "scan_io.bytes": tracer.counts["scan_io.bytes"],
        "stripe.encode_s": t("stripe.encode"),
        "stripe.decode_s": t("stripe.decode"),
        "codec.compress_s": t("codec.compress"),
        "codec.decompress_s": t("codec.decompress"),
        "codec.calls": c("codec.compress", "codec.decompress"),
        "codec.bytes_in": b("codec.compress", 0),  # raw bytes compressed
        "codec.bytes_out": b("codec.compress", 1),
        "codec.decompress_bytes_out": b("codec.decompress", 1),
        "prune.self_s": sum(v for n, v in st.items() if n.startswith("prune.")),
        "prune.stripes_total": counters["stripes_total"],
        "prune.stripes_kept": counters["stripes_kept"],
        "prune.rowgroups_decoded": counters["rowgroups"],
        "prune.rows_decoded_per_row_returned":
            counters["rows_decoded"] / max(1, counters["rows_returned"]),
        "sink.write_s": t("sink.write"),
        "sink.files": tracer.counts["sink.files"],
        "sink.bytes": tracer.counts["sink.bytes"],
        "kernels.fsst.gate_probes": c("kernels.fsst.train"),
        "kernels.fsst.gate_accepts": sum(
            col.get("encoding") == "direct_fsst" for f in counters["footers"] for col in f["columns"]
        ),
    }
    for k in ("rlev2.encode", "rlev2.decode", "bitpack.pack", "bitpack.unpack", "dictionary.encode",
              "fsst.compress", "fsst.decompress", "byterle.encode", "byterle.decode",
              "bitfield.encode", "bitfield.decode"):
        name = f"kernels.{k}"
        out[f"{name}_s"] = t(name)
        out[f"{name}_calls"] = c(name)
        out[f"{name}_bytes_in"] = b(name, 0)
        out[f"{name}_bytes_out"] = b(name, 1)
    return out


def layer_metrics(wl, legs_untraced: Legs, legs: Legs, log_dir: str) -> dict:
    from perfbench import eventlog, workloads

    events = [e for p in eventlog.find_logs(log_dir) for e in eventlog.read_lines(p)]
    out = dict(eventlog.per_op_mean(eventlog.parse(events), "sparc"))
    usage = legs.usage["sparc"]
    out["proc.user_cpu_s"] = statistics.median([u["user_s"] for u in usage])
    out["proc.sys_cpu_s"] = statistics.median([u["sys_s"] for u in usage])
    out["proc.minor_faults"] = statistics.median([u["minor_faults"] for u in usage])
    fs = workloads.footers(wl.manifest_dir())
    out["stripe.stripes"] = len(fs)
    out["stripe.footer_encode_s"] = sum(f.get("encode_seconds", 0.0) for f in fs)
    out["trace.op_p50_ms"] = statistics.median(legs.wall["sparc"]) * 1e3
    out["trace.overhead_ms"] = out["trace.op_p50_ms"] - statistics.median(legs_untraced.wall["sparc"]) * 1e3
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sparc.job.decode_job  # noqa: F401
        import sparc.job.encode_job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: sparc is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import host, report, session
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench")
    wl = WORKLOADS[args.workload](work, args.seed)
    reason = host.preflight(work, wl.need_ram_mb, wl.need_disk_mb)
    if reason:
        print(f"perfbench: {args.workload} cannot run on this host: {reason}", file=sys.stderr)
        return 3
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    wl.prepare(work, ROOT)
    phase("prepare")
    os.makedirs(wl.work, exist_ok=True)
    log_dir = os.path.join(wl.work, "eventlog")
    if args.trace:
        import shutil

        shutil.rmtree(log_dir, ignore_errors=True)

    me = os.getpid()
    setups: list[float] = []
    legs, untraced = Legs(), Legs()
    spark = None
    try:
        for k in range(N_SETUPS):
            traced_session = bool(args.trace) and k == N_SETUPS - 1
            if spark is not None:
                spark.stop()
            clock = Stopwatch()
            spark = session.start(ROOT, work, log_dir if traced_session else None)
            wl.setup_build(spark, clock)
            # the first, cold call of each operation: the sparc leg is cold
            # again in every new session (fresh Python workers), the
            # reference leg only in the first (fresh JVM)
            for leg in ("sparc", "ref") if k == 0 else ("sparc",):
                run_op(spark, wl, leg, 0, legs, me)
            setups.append(clock.stop())
            phase(f"setup{k}")
            if args.trace and k == N_SETUPS - 2:
                measure(spark, wl, args.seconds / 2, untraced, me, first=1)
                phase("measure_untraced")
        peak_rss_mb = measure(spark, wl, args.seconds / 2 if args.trace else args.seconds, legs, me,
                              first=1)
        phase("measure")
        for name, ok in wl.final_checks():
            legs.attempted += 1
            if not ok:
                legs.failures.append(name)
        phase("checks")
    finally:
        if spark is not None:
            session.shutdown(spark)
    if not host.wait_children():
        print("perfbench: child processes outlived the session", file=sys.stderr)
    phase("shutdown")

    failed = len(legs.failures) + len(untraced.failures)
    attempted = legs.attempted + untraced.attempted
    if args.trace:
        metrics = layer_metrics(wl, untraced, legs, log_dir)
        metrics.update(replay_metrics(wl))
        phase("replay")
        if abs(metrics["trace.self_time_coverage"] - 1.0) > 0.10:
            failed += 1
            legs.failures.append("replay self times cover less than 90% of its wall")
        attempted += 1
        units = report.PER_LAYER
    else:
        metrics = e2e_metrics(wl, legs, setups, peak_rss_mb)
        units = report.END_TO_END
    record = {
        **host.stamp(ROOT),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "rows": wl.ds.rows,
        "raw_bytes": wl.raw_bytes,
        "samples": {leg: len(v) for leg, v in legs.wall.items()},
        "tail_percentile_with_10_beyond": report.tail_percentile(len(legs.wall["sparc"])),
        "setups_s": setups,
        "phases_s": phases,
        "walls_s": legs.wall,
        "error_rate": failed / attempted,
        "failures": legs.failures + untraced.failures,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(work, "records"), exist_ok=True)
    path = os.path.join(work, "records", f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    for name, value in sorted(metrics.items()):
        unit = units.get(name) or report.unit_of(name)
        print(f"perfbench: {args.workload} {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"perfbench: {args.workload} error_rate = {record['error_rate']:.6g} "
          f"({failed} of {attempted}); record: {path}", file=sys.stderr)
    line_metrics = {k: metrics.get(k, 0.0) for k in units}  # a leg without the layer: 0
    print(report.result_line(failed == 0, attempted, failed, line_metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
