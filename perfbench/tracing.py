"""In-process spans around calls into sparc's layers.

The benchmark wraps module functions of ``sparc.engine`` and
``sparc.kernels`` for the duration of a replay; ``stripe.py`` calls its
kernels through their modules (``block.compress``, ``rlev2.encode``),
so the wrappers see every call.  Nothing inside ``sparc`` changes.

A span is (id, name, start, end, parent, request id); spans are kept in
memory and written out when the benchmark ends.  A layer's self time is
its spans' duration minus the part covered by their child spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, function, span name).  The span name's first component is the
# layer it is counted in (README.md, per-layer metrics).
WRAPPED = [
    ("sparc.engine.stripe", "encode_stripe", "stripe.encode"),
    ("sparc.engine.stripe", "decode_stripe", "stripe.decode"),
    ("sparc.engine.stripe", "pick_row_groups", "prune.pick_row_groups"),
    ("sparc.kernels.rlev2", "encode", "kernels.rlev2.encode"),
    ("sparc.kernels.rlev2", "decode", "kernels.rlev2.decode"),
    ("sparc.kernels.bitpack", "pack", "kernels.bitpack.pack"),
    ("sparc.kernels.bitpack", "unpack", "kernels.bitpack.unpack"),
    ("sparc.kernels.dictionary", "encode_sorted", "kernels.dictionary.encode"),
    ("sparc.kernels.dictionary", "encode_unsorted", "kernels.dictionary.encode"),
    ("sparc.kernels.fsst", "train", "kernels.fsst.train"),
    ("sparc.kernels.fsst", "compress", "kernels.fsst.compress"),
    ("sparc.kernels.fsst", "decompress", "kernels.fsst.decompress"),
    ("sparc.kernels.byterle", "encode", "kernels.byterle.encode"),
    ("sparc.kernels.byterle", "decode", "kernels.byterle.decode"),
    ("sparc.kernels.bitfield", "encode", "kernels.bitfield.encode"),
    ("sparc.kernels.bitfield", "decode", "kernels.bitfield.decode"),
    ("sparc.kernels.block", "compress", "codec.compress"),
    ("sparc.kernels.block", "decompress", "codec.decompress"),
    ("sparc.engine.stats", "int_stats", "prune.stats"),
    ("sparc.engine.stats", "decimal128_stats", "prune.stats"),
    ("sparc.engine.stats", "float_stats", "prune.stats"),
    ("sparc.engine.stats", "string_stats", "prune.stats"),
    ("sparc.engine.stats", "bool_stats", "prune.stats"),
    ("sparc.engine.bloom", "build", "prune.bloom"),
    ("sparc.engine.bloom", "pack_multi", "prune.bloom"),
    ("sparc.engine.bloom", "unpack_multi", "prune.bloom"),
    ("sparc.engine.bloom", "might_contain_rg_list", "prune.bloom"),
    ("sparc.engine.sarg", "keep", "prune.sarg"),
]


def _nbytes(x) -> int:
    if x is None:
        return 0
    if hasattr(x, "nbytes"):
        return int(x.nbytes)
    try:
        return len(x)
    except TypeError:
        return 0


class Tracer:
    """Records spans; one instance per replay, single-threaded."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, start_ns, end_ns, parent, rid)
        self.bytes: dict[str, list[int]] = defaultdict(lambda: [0, 0])  # name -> [in, out]
        self.rid = None
        self.counts: dict[str, int] = defaultdict(int)  # counters the replay keeps
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(None)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            self.spans[sid] = (sid, name, t0, time.perf_counter_ns(), parent, self.rid)
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            b = self.bytes[name]
            b[0] += _nbytes(args[0]) if args else 0
            b[1] += _nbytes(out) if not isinstance(out, tuple) else 0
            return out

        return traced

    @contextmanager
    def patched(self):
        """Wrap every WRAPPED function for the duration of the block."""
        saved = []
        try:
            for mod_name, attr, name in WRAPPED:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self.wrap(fn, name))
            yield self
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, rid in self.spans:
                f.write(json.dumps({"id": sid, "name": name, "start_ns": t0, "end_ns": t1,
                                    "parent": parent, "rid": rid}) + "\n")


def _covered(intervals: list[tuple[int, int]]) -> int:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[tuple]) -> dict[str, float]:
    """Self seconds per span name: each span's duration minus the part
    of it that its child spans cover."""
    children: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for sid, _name, t0, t1, parent, _rid in spans:
        if parent is not None:
            children[parent].append((t0, t1))
    out: dict[str, float] = defaultdict(float)
    for sid, name, t0, t1, _parent, _rid in spans:
        out[name] += (t1 - t0 - _covered(children.get(sid, []))) / 1e9
    return dict(out)


def calls(spans: list[tuple]) -> dict[str, int]:
    out: dict[str, int] = defaultdict(int)
    for span in spans:
        out[span[1]] += 1
    return dict(out)
