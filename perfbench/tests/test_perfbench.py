"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, eventlog, inputs, report, tracing  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ------------------------------------------------ percentile with 10 beyond


@pytest.mark.parametrize(
    "n, expected",
    [(10, None), (11, 9.0), (20, 50.0), (100, 90.0), (101, 90.0), (1000, 99.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert report.tail_percentile(n) == expected
    if expected is not None:
        # at least ten of n samples lie above the reported percentile
        assert n * (100 - expected) >= 10 * 100


def test_percentile_interpolates():
    xs = [float(v) for v in range(1, 11)]
    assert report.percentile(xs, 50) == pytest.approx(5.5)
    assert report.percentile(xs, 90) == pytest.approx(9.1)
    assert report.percentile([3.0], 90) == 3.0


# --------------------------------------------------------------- self time


def test_self_time_subtracts_nested_children():
    ms = 1_000_000
    spans = [
        # (id, name, start, end, parent, rid)
        (0, "replay", 0, 100 * ms, None, None),
        (1, "stripe.encode", 10 * ms, 60 * ms, 0, "s0"),
        (2, "codec.compress", 20 * ms, 30 * ms, 1, "s0"),
        (3, "kernels.rlev2.encode", 35 * ms, 45 * ms, 1, "s0"),
        (4, "kernels.bitpack.pack", 40 * ms, 44 * ms, 3, "s0"),
        (5, "sink.write", 70 * ms, 80 * ms, 0, "s0"),
    ]
    st = tracing.self_times(spans)
    assert st["replay"] == pytest.approx(0.040)  # 100 - 50 - 10
    assert st["stripe.encode"] == pytest.approx(0.030)  # 50 - 10 - 10
    assert st["kernels.rlev2.encode"] == pytest.approx(0.006)
    assert st["kernels.bitpack.pack"] == pytest.approx(0.004)
    assert sum(st.values()) == pytest.approx(0.100)  # self times partition the root


def test_self_time_counts_overlapping_children_once():
    spans = [(0, "a", 0, 100, None, None), (1, "b", 10, 50, 0, None), (2, "c", 40, 70, 0, None)]
    assert tracing.self_times(spans)["a"] == pytest.approx(40e-9)


def test_tracer_wraps_and_restores_module_functions():
    from sparc.kernels import block

    original = block.compress
    tracer = tracing.Tracer()
    with tracer.patched():
        with tracer.span("replay"):
            out = block.compress(b"x" * 10_000, "zstd")
        assert block.compress is not original
    assert block.compress is original
    assert block.decompress(out, "zstd") is not None
    names = [s[1] for s in tracer.spans]
    assert names == ["replay", "codec.compress"]
    assert tracer.spans[1][4] == 0  # parent is the root span
    assert tracer.bytes["codec.compress"] == [10_000, len(out)]


# -------------------------------------------------------- event-log parser


def test_eventlog_parser_on_captured_encode_log():
    events = eventlog.read_lines(os.path.join(DATA, "eventlog_encode_pages.jsonl"))
    ops = eventlog.parse(events)
    assert set(ops) == {"sparc:1", "ref:1"}
    sparc = ops["sparc:1"]
    # the pyscan encode is one job, one stage, one task per core
    assert (sparc["job.jobs"], sparc["job.stages"], sparc["job.tasks"]) == (1, 1, 4)
    assert sparc["job.executor_run_s"] == pytest.approx(3.068)
    assert sparc["lane.py_run_s"] == pytest.approx(2.934)
    assert sparc["lane.bytes_from_py"] == 58800
    assert sparc["job.commit_s"] == pytest.approx(0.018)  # task commits + job commit
    assert sparc["job.plan_s"] == pytest.approx(0.084)
    ref = ops["ref:1"]
    assert (ref["job.jobs"], ref["job.stages"], ref["job.tasks"]) == (2, 2, 5)
    assert "lane.py_run_s" not in ref  # the reference writer has no Python lane
    assert eventlog.per_op_mean(ops, "sparc") == sparc


def test_eventlog_reads_zstd(tmp_path):
    src = os.path.join(DATA, "eventlog_encode_pages.jsonl")
    log = tmp_path / "eventlog_v2_local-1" / "events_1_local-1.zstd"
    log.parent.mkdir()
    with open(src, "rb") as f, pa.output_stream(str(log), compression="zstd") as out:
        out.write(f.read())
    assert eventlog.find_logs(str(tmp_path)) == [str(log)]
    assert eventlog.read_lines(str(log)) == eventlog.read_lines(src)


# ----------------------------------------------------- seeded generators


def test_pages_generation_is_seed_deterministic(tmp_path):
    digests = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        path = str(tmp_path / name)
        inputs.write_pages(path, 300, seed, ROOT)
        digests.append(inputs.content_digest(pq.read_table(path), ["url"]))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_lineitem_tiles_are_seed_deterministic_with_distinct_keys():
    a = pa.concat_tables(inputs.lineitem_tiles(inputs.lineitem_tile(2_000, 3)))
    b = pa.concat_tables(inputs.lineitem_tiles(inputs.lineitem_tile(2_000, 3)))
    c = pa.concat_tables(inputs.lineitem_tiles(inputs.lineitem_tile(2_000, 4)))
    keys = inputs.KEYS["lineitem"]
    assert a.num_rows == 2_000 * inputs.LINEITEM_TILES
    assert inputs.content_digest(a, keys) == inputs.content_digest(b, keys)
    assert inputs.content_digest(a, keys) != inputs.content_digest(c, keys)
    pairs = pa.table({"o": a["l_orderkey"], "l": a["l_linenumber"]}).group_by(["o", "l"]).aggregate([])
    assert pairs.num_rows == a.num_rows  # (l_orderkey, l_linenumber) stays a key across tiles


def _pages_like(n: int) -> tuple[pa.Array, np.ndarray]:
    urls = pa.array([f"https://www.host{i % 7:04d}.example.com/w/x/p{i}" for i in range(n)])
    return urls, 1_704_067_200_000_000 + np.arange(n, dtype=np.int64) * 1_000_000


def test_query_mix_is_seed_deterministic_and_mixed():
    urls, ts = _pages_like(5_000)
    a = inputs.query_mix(urls, ts, 400, 9)
    assert a == inputs.query_mix(urls, ts, 400, 9)
    assert a != inputs.query_mix(urls, ts, 400, 10)
    present = set(urls.to_pylist())
    hits = sum(q[0] == "eq" and q[1] in present for q in a)
    misses = sum(q[0] == "eq" and q[1] not in present for q in a)
    ranges = [q for q in a if q[0] == "range"]
    assert (hits, misses, len(ranges)) == (240, 80, 80)
    for start in range(0, 400, 5):  # every block of five has the whole mix
        assert sorted(q[0] for q in a[start : start + 5]) == ["eq", "eq", "eq", "eq", "range"]
    for q in a:
        got = inputs.expected_urls(q, urls, ts)
        if q[0] == "eq":
            assert got == ([q[1]] if q[1] in present else [])
        else:
            assert (q[2] - q[1]) == (int(ts.max()) - int(ts.min())) // 200  # 0.5% of the span
            assert len(got) >= 1


def test_content_digest_ignores_row_order_and_chunking():
    t = pa.table({"url": ["b", "a", "c"], "n": [2, 1, None], "h": [b"x", None, b"zz"]})
    shuffled = pa.concat_tables([t.slice(2), t.slice(0, 2)]).take([1, 2, 0])
    assert inputs.content_digest(t, ["url"]) == inputs.content_digest(shuffled, ["url"])
    changed = t.set_column(2, "h", pa.array([b"x", None, b"zy"]))
    assert inputs.content_digest(t, ["url"]) != inputs.content_digest(changed, ["url"])


# ------------------------------------------------------------ result line


def _worst_case_value(i: int) -> float:
    return -1.2345678901234567e-123 * (i + 1)  # the longest float repr


@pytest.mark.parametrize("units", [report.END_TO_END, report.PER_LAYER])
def test_result_line_fits_the_tail_capture(units):
    metrics = {k: _worst_case_value(i) for i, k in enumerate(units)}
    line = report.result_line(False, 10**9, 10**9, metrics, units)
    assert len(("\n" + line + "\n").encode()) <= report.LINE_LIMIT
    body = json.loads(line)
    assert list(body) == ["correct", "attempted", "failed", "metrics"]
    assert body["metrics"] == {k: {"value": metrics[k], "unit": u} for k, u in units.items()}


def test_benchmark_json_names_what_the_result_line_carries():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


# -------------------------------------------------------------- compare


def _record(host: dict, value: float) -> dict:
    return {"host": host, "workload": "encode_pages", "trace": 0, "metrics": {"op_p50_ms": value}}


def test_compare_refuses_records_of_different_host_shapes():
    four = {"nproc": 4, "mem_total_gb": 15}
    rows = compare.compare([_record(four, 100.0)], [_record(four, 110.0)])
    assert rows[0][2] == "op_p50_ms" and rows[0][-1] == pytest.approx(0.10)
    with pytest.raises(ValueError, match="host shapes"):
        compare.compare([_record(four, 100.0)], [_record({"nproc": 32, "mem_total_gb": 251}, 90.0)])
