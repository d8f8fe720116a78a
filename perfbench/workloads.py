"""The four workloads: what each sets up, times, checks and replays.

Each workload has a sparc leg and a reference leg (Spark's bundled
orc-core writer and reader) run interleaved on the same input.  The
sparc leg drives sparc only through its public entry points.
"""

from __future__ import annotations

import json
import mmap
import os
import shutil
import zlib

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.orc as po
import pyarrow.parquet as pq

from . import inputs

SCAN_COLUMNS = ["url", "html", "text", "lang"]
LOOKUP_COLUMNS = ["url", "warc_ts", "lang"]
N_QUERIES = 400  # the query list a run cycles through
REPLAY_QUERIES = 40  # the lookup replay runs the first queries of the mix


def _files(path: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(suffix) and not f.startswith((".", "_"))
    )


def _reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def sparc_bytes(out_dir: str) -> int:
    """Stripe files plus manifest: everything sparc wrote but Hadoop's
    .crc side files and the _SUCCESS marker."""
    total = sum(os.path.getsize(p) for p in _files(out_dir, ".parquet"))
    stripes = os.path.join(out_dir, "stripes")
    return total + sum(os.path.getsize(p) for p in _files(stripes, ".sparc"))


def ref_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(p) for p in _files(out_dir, ".orc"))


def footers(out_dir: str) -> list[dict]:
    """Committed stripe footers of a files-sink output, by stripe id."""
    out = []
    for path in _files(out_dir, ".parquet"):
        t = pq.read_table(path, columns=["kind", "data"])
        for kind, data in zip(t["kind"].to_pylist(), t["data"].to_pylist()):
            if kind == "FOOTER":
                out.append(json.loads(data))
    return sorted(out, key=lambda f: f["stripe_id"])


def fetch_streams(out_dir: str, footer: dict, columns: list[str] | None, pred_cols=()) -> dict:
    """The stream byte ranges of one stripe file a reader needs (the same
    selection the decode job's files-sink fetch makes)."""
    with open(os.path.join(out_dir, footer["stripe_file"]), "rb") as f:
        mv = memoryview(mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ))
    streams = {}
    for cname, kind, off, ln in footer["stream_spans"]:
        if kind == "BLOOM_FILTER_UTF8":
            if cname not in pred_cols:
                continue
        elif columns is not None and cname not in columns:
            continue
        streams[(cname, kind)] = mv[off : off + ln]
    return streams


def decode_all(out_dir: str) -> pa.Table:
    from sparc.engine import stripe

    parts = [stripe.decode_stripe(fetch_streams(out_dir, f, None), f) for f in footers(out_dir)]
    return pa.concat_tables(parts)


def octets(table: pa.Table) -> pa.Table:
    """The scan's near-data aggregate: rows and octet length per column."""
    cols = {"rows": pa.array([table.num_rows], pa.int64())}
    for c in SCAN_COLUMNS:
        cols[c] = pa.array([pc.sum(pc.binary_length(table[c])).as_py() or 0], pa.int64())
    return pa.table(cols)


OCTETS_DDL = "rows long, " + ", ".join(f"{c} long" for c in SCAN_COLUMNS)


class Workload:
    """Base: a table kind and size, the sparc table layout, and the legs.

    Subclasses fill in ``setup_build`` (untimed reference tables plus the
    timed sparc tables), the two legs and their checks, and the replay."""

    kind = "pages"
    rows = 0
    stripe_rows = 6_000
    bloom_columns: list[str] | None = None
    need_ram_mb = 6_000  # 2 GiB driver heap, JVM overhead, four workers, the checks
    need_disk_mb = 3_000

    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, "runs", type(self).__name__)
        self.seed = seed
        self.ds: inputs.Dataset | None = None
        self._ref_built = False

    def prepare(self, work: str, root: str) -> None:
        self.ds = inputs.dataset(work, root, self.kind, self.rows, self.seed, self.stripe_rows)

    @property
    def raw_bytes(self) -> int:
        return self.ds.raw_bytes

    def encode(self, spark, out_dir: str) -> None:
        from sparc.job.encode_job import run_encode_paths

        _reset(out_dir)
        run_encode_paths(
            spark, self.ds.path, out_dir, codec="zstd",
            target_rows_per_stripe=self.stripe_rows, bloom_columns=self.bloom_columns,
        )

    def ref_write(self, spark, out_dir: str) -> None:
        w = spark.read.parquet(self.ds.path).write.option("compression", "zstd")
        if self.bloom_columns:
            w = w.option("orc.bloom.filter.columns", ",".join(self.bloom_columns))
        w.mode("overwrite").orc(out_dir)

    # replay helpers --------------------------------------------------

    def replay_encode(self, tracer, out_dir: str) -> list[dict]:
        """Encode the input's stripes in this process, cutting and
        committing them as the encode closure does."""
        from sparc.engine import stripe

        _reset(out_dir)
        os.makedirs(os.path.join(out_dir, "stripes"))
        per = self.stripe_rows
        written: list[dict] = []

        def commit(table: pa.Table) -> None:
            sid = len(written)
            tracer.rid = f"stripe-{sid}"
            streams, footer = stripe.encode_stripe(
                table, codec="zstd", bloom_columns=self.bloom_columns
            )
            with tracer.span("sink.write"):
                footer["crc32"] = {f"{c}/{k}": zlib.crc32(v) for (c, k), v in streams.items()}
                footer["stripe_id"] = sid
                rel = f"stripes/{sid}.sparc"
                path = os.path.join(out_dir, rel)
                spans, off = [], 0
                with open(path + ".tmp", "wb") as f:
                    for (cname, kind), blob in streams.items():
                        f.write(blob)
                        spans.append([cname, kind, off, len(blob)])
                        off += len(blob)
                os.replace(path + ".tmp", path)
                footer["stripe_file"] = rel
                footer["stream_spans"] = spans
                json.dumps(footer)
            tracer.counts["sink.files"] += 1
            tracer.counts["sink.bytes"] += off
            written.append(footer)

        for path in _files(self.ds.path, ".parquet"):
            it = pq.ParquetFile(path).iter_batches(batch_size=1 << 16, use_threads=False)
            buf, buffered = [], 0
            while True:
                with tracer.span("scan_io.read"):
                    rb = next(it, None)
                if rb is None:
                    break
                tracer.counts["scan_io.bytes"] += rb.nbytes
                buf.append(rb)
                buffered += rb.num_rows
                while buffered >= 2 * per:
                    table = pa.Table.from_batches(buf)
                    commit(table.slice(0, per))
                    rest = table.slice(per)
                    buf, buffered = rest.to_batches(), rest.num_rows
            if buffered:
                commit(pa.Table.from_batches(buf))
        return written

    def replay_decode(self, tracer, out_dir, stripe_footers, columns, pred=None, row_mask=None,
                      map_fn=None, rid="scan") -> dict:
        """Read the stripes back as the decode job's scan task does: stripe
        stats check, byte-range fetch, row-group pick, decode, then the
        caller's row filter or near-data map."""
        from sparc.engine import sarg, stripe

        c = {"stripes_total": 0, "stripes_kept": 0, "rowgroups": 0, "rows_decoded": 0, "rows_returned": 0}
        pred_cols = sarg.columns_of(pred) if pred is not None else set()
        tracer.rid = rid
        for footer in stripe_footers:
            c["stripes_total"] += 1
            if pred is not None:
                stats = {col["name"]: col.get("stats") for col in footer["columns"] if col.get("stats")}
                if not sarg.keep(pred, stats):
                    continue
            c["stripes_kept"] += 1
            with tracer.span("scan_io.fetch"):
                streams = fetch_streams(out_dir, footer, columns, pred_cols)
            tracer.counts["scan_io.bytes"] += sum(len(v) for v in streams.values())
            groups = stripe.pick_row_groups(footer, pred, streams=streams) if pred is not None else None
            if groups == []:
                continue
            stride = footer.get("row_index_stride") or footer["n_rows"]
            n_groups = -(-footer["n_rows"] // stride)
            picked = range(n_groups) if groups is None else groups
            c["rowgroups"] += len(picked)
            c["rows_decoded"] += sum(min(stride, footer["n_rows"] - g * stride) for g in picked)
            proj = dict(footer, columns=[col for col in footer["columns"] if col["name"] in columns])
            out = stripe.decode_stripe(streams, proj, row_groups=groups)
            if row_mask is not None:
                out = out.filter(row_mask(out))
            c["rows_returned"] += out.num_rows
            if map_fn is not None:
                map_fn(out)
        return c


class EncodeWorkload(Workload):
    """Encode the input with sparc and with the reference writer."""

    def setup_build(self, spark, clock) -> None:
        pass

    def sparc_out(self) -> str:
        return os.path.join(self.work, "sparc-out")

    def ref_out(self) -> str:
        return os.path.join(self.work, "ref-out")

    def sparc_op(self, spark, i: int):
        self.encode(spark, self.sparc_out())

    def ref_op(self, spark, i: int):
        self.ref_write(spark, self.ref_out())

    def before(self, leg: str) -> None:
        _reset(self.sparc_out() if leg == "sparc" else self.ref_out())

    def check_sparc(self, i: int, result) -> bool:
        return sum(f["n_rows"] for f in footers(self.sparc_out())) == self.ds.rows

    def check_ref(self, i: int, result) -> bool:
        return sum(po.ORCFile(p).nrows for p in _files(self.ref_out(), ".orc")) == self.ds.rows

    def final_checks(self) -> list[tuple[str, bool]]:
        """Content digests of the last outputs of both legs against the
        input's digest."""
        keys = inputs.KEYS[self.kind]
        sparc_ok = inputs.content_digest(decode_all(self.sparc_out()), keys) == self.ds.digest
        ref = pa.concat_tables(po.read_table(p) for p in _files(self.ref_out(), ".orc"))
        ref_ok = inputs.content_digest(ref, keys) == self.ds.digest
        return [("sparc digest", sparc_ok), ("ref digest", ref_ok)]

    def sizes(self) -> tuple[int, int]:
        return sparc_bytes(self.sparc_out()), ref_bytes(self.ref_out())

    def manifest_dir(self) -> str:
        return self.sparc_out()

    def replay(self, tracer) -> dict:
        out = os.path.join(self.work, "replay")
        written = self.replay_encode(tracer, out)
        cols = [c["name"] for c in written[0]["columns"]]
        return {"footers": written, **self.replay_decode(tracer, out, written, cols)}


class EncodePages(EncodeWorkload):
    kind = "pages"
    rows = 48_000
    stripe_rows = 6_000


class EncodeLineitem(EncodeWorkload):
    kind = "lineitem"
    rows = 480_000
    stripe_rows = 60_000


class TableWorkload(Workload):
    """Read workloads: the sparc table is built in every set-up (and so
    counted in setup_s); the reference table is written once, untimed."""

    def table(self) -> str:
        return os.path.join(self.work, "sparc-table")

    def ref_table(self) -> str:
        return os.path.join(self.work, "ref-table")

    def setup_build(self, spark, clock) -> None:
        self.encode(spark, self.table())
        if not self._ref_built:
            with clock.paused():
                self.ref_write(spark, self.ref_table())
            self._ref_built = True

    def before(self, leg: str) -> None:
        pass

    def final_checks(self) -> list[tuple[str, bool]]:
        return []

    def sizes(self) -> tuple[int, int]:
        return sparc_bytes(self.table()), ref_bytes(self.ref_table())

    def manifest_dir(self) -> str:
        return self.table()


class ScanPages(TableWorkload):
    rows = 192_000

    def prepare(self, work: str, root: str) -> None:
        super().prepare(work, root)
        t = pq.read_table(self.ds.path, columns=SCAN_COLUMNS)
        self.expected = octets(t).to_pylist()[0]

    def sparc_op(self, spark, i: int):
        from pyspark.sql import functions as F
        from sparc.job.decode_job import run_decode_map

        df = run_decode_map(spark, self.table(), octets, OCTETS_DDL, columns=SCAN_COLUMNS)
        return df.agg(*[F.sum(c).alias(c) for c in ["rows", *SCAN_COLUMNS]]).collect()[0].asDict()

    def ref_op(self, spark, i: int):
        from pyspark.sql import functions as F

        df = spark.read.orc(self.ref_table())
        aggs = [F.count(F.lit(1)).alias("rows")] + [F.sum(F.octet_length(c)).alias(c) for c in SCAN_COLUMNS]
        return df.select(*aggs).collect()[0].asDict()

    def check_sparc(self, i: int, result) -> bool:
        return result == self.expected

    check_ref = check_sparc

    def replay(self, tracer) -> dict:
        out = os.path.join(self.work, "replay")
        written = self.replay_encode(tracer, out)
        return {"footers": written,
                **self.replay_decode(tracer, out, written, SCAN_COLUMNS, map_fn=octets)}


class LookupPages(TableWorkload):
    rows = 24_000
    stripe_rows = 3_000
    bloom_columns = ["url"]

    def prepare(self, work: str, root: str) -> None:
        super().prepare(work, root)
        t = pq.read_table(self.ds.path, columns=["url", "warc_ts"])
        self.urls = t["url"].combine_chunks()
        self.ts_us = t["warc_ts"].cast(pa.int64()).to_numpy()
        self.queries = inputs.query_mix(self.urls, self.ts_us, N_QUERIES, self.seed)
        self.expected = [inputs.expected_urls(q, self.urls, self.ts_us) for q in self.queries]

    @staticmethod
    def sarg(q: tuple) -> tuple:
        return ("=", "url", q[1]) if q[0] == "eq" else ("between", "warc_ts", q[1], q[2])

    @staticmethod
    def _ts_range(q: tuple):
        from pyspark.sql import functions as F

        return F.col("warc_ts").between(
            F.expr(f"timestamp_micros({q[1]})"), F.expr(f"timestamp_micros({q[2]})")
        )

    def sparc_op(self, spark, i: int):
        from sparc.job.decode_job import run_decode

        q = self.queries[i % len(self.queries)]
        if q[0] == "eq":
            df = run_decode(spark, self.table(), stripe_filter=self.sarg(q), row_filter=True,
                            columns=LOOKUP_COLUMNS)
        else:
            # the sarg's timestamp literals are stats-domain integers, which
            # Catalyst cannot compare with a timestamp column: the row
            # filter is the same range as a timestamp expression
            df = run_decode(spark, self.table(), stripe_filter=self.sarg(q),
                            columns=LOOKUP_COLUMNS).filter(self._ts_range(q))
        return df.collect()

    def ref_op(self, spark, i: int):
        from pyspark.sql import functions as F

        q = self.queries[i % len(self.queries)]
        cond = F.col("url") == q[1] if q[0] == "eq" else self._ts_range(q)
        return spark.read.orc(self.ref_table()).filter(cond).select(*LOOKUP_COLUMNS).collect()

    def check_sparc(self, i: int, result) -> bool:
        return sorted(r["url"] for r in result) == self.expected[i % len(self.queries)]

    check_ref = check_sparc

    def replay(self, tracer) -> dict:
        out = os.path.join(self.work, "replay")
        written = self.replay_encode(tracer, out)
        totals: dict = {}
        for i, q in enumerate(self.queries[:REPLAY_QUERIES]):
            if q[0] == "eq":
                def mask(t, _u=q[1]):
                    return pc.equal(t["url"], _u)
            else:
                def mask(t, _lo=q[1], _hi=q[2]):
                    v = t["warc_ts"].cast(pa.int64())
                    return pc.and_(pc.greater_equal(v, _lo), pc.less_equal(v, _hi))
            c = self.replay_decode(tracer, out, written, LOOKUP_COLUMNS, pred=self.sarg(q),
                                   row_mask=mask, rid=f"query-{i}")
            for k, v in c.items():
                totals[k] = totals.get(k, 0) + v
        return {"footers": written, **totals}


WORKLOADS = {
    "encode_pages": EncodePages,
    "encode_lineitem": EncodeLineitem,
    "scan_pages": ScanPages,
    "lookup_pages": LookupPages,
}
