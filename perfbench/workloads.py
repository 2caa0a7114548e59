"""The workloads. Each returns a :class:`Result`.

Every workload is a closed loop: one client issues one operation at a
time and the next only after the previous one returned. The timed part
runs whole iterations until ``seconds`` have passed (at least one).
"""

from __future__ import annotations

import io
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from . import inputs, procstat, spark_env
from .trace import DictSum, Tracer, installed

SETUP_REPS = 3  # tokens table builds (seconds each)
LINEITEM_SETUP_REPS = 7  # lineitem reads and sorts (tenths of a second each)
WARMUP_JOBS = 1  # untimed jobs before the timed part; the first starts the Python workers
STRIDE = 10_000


@dataclass(frozen=True)
class Scale:
    docs: int | None  # leading documents of the sf0.1 table (None: all 5,000)
    repl: int  # copies of them in the tokens table
    splits: int  # parquet row-group splits of the tokens table
    verify_splits: int  # splits verify_blob_files re-checks per run
    lineitem_rows: int | None  # leading rows of the sf0.1 table (None: all 600,000)
    lookups_per_round: int  # per container


SCALES = {
    # 11.9M tokens in 16 splits of ~740k tokens; 600k lineitem rows
    "bench": Scale(None, 8, 16, 4, None, 30),
    # the self-test's scale: sf0.001-sized tables, seconds per workload
    "tiny": Scale(500, 1, 2, 1, 6_000, 5),
}


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    scale: Scale
    flip_byte: bool = False  # self-test: corrupt one sink blob before checking


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 5:
                print(f"check failed: {what}", file=sys.stderr)


_now = time.perf_counter


def _timed(fn, *a, **k):
    t0 = _now()
    out = fn(*a, **k)
    return _now() - t0, out


def _repeat_setup(fn, reps: int = SETUP_REPS) -> tuple[float, object]:
    """Run the set-up ``reps`` times; median seconds, last result."""
    walls = []
    out = None
    for i in range(reps):
        dt, out = _timed(fn, i)
        walls.append(dt)
    return statistics.median(walls), out


def _until(seconds: float, step) -> int:
    """Run whole iterations of ``step`` until ``seconds`` have passed."""
    end = _now() + seconds
    n = 0
    while n == 0 or _now() < end:
        step()
        n += 1
    return n


def _tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it (p95 once there are 200 samples)."""
    n = len(samples)
    if n <= 10:
        return 100.0, max(samples)
    q = min(95.0, 100.0 * (n - 10) / n)
    return q, float(np.percentile(samples, q))


def _flip_one_byte(path: str) -> None:
    with open(path, "r+b") as f:
        data = f.read()
        pos = len(data) // 2
        f.seek(pos)
        f.write(bytes([data[pos] ^ 0xFF]))


def _end_to_end(res: Result, setup_s: float, cpu_s: float, throughput: float,
                latency_s: float, bytes_per_item: float) -> None:
    res.metrics.update({
        "throughput_per_s": (throughput, "1/s"),
        "latency_p50_ms": (latency_s * 1e3, "ms"),
        "bytes_per_item": (bytes_per_item, "B"),
        "cpu_s": (cpu_s, "s"),
        "peak_rss_mb": (procstat.tree_peak_rss_mb(), "MB"),
        "setup_s": (setup_s, "s"),
    })
    res.report["failed_frac"] = (res.failed / max(res.attempted, 1), "ratio")


def _timed_loop(seconds: float, step) -> float:
    """``_until``; returns the median CPU seconds the process tree spent
    in one iteration (the median leaves out the JVM's occasional bursts
    of garbage collection and compilation)."""
    cpu: list[float] = []

    def measured():
        c0 = procstat.tree_cpu_s()
        step()
        cpu.append(procstat.tree_cpu_s() - c0)

    _until(seconds, measured)
    return statistics.median(cpu)


# -- per-layer metrics ------------------------------------------------------

ENCODE_WINS = ("rle_v1", "rle_v2", "for_bitpack", "dict_int", "raw_str", "dict_str",
               "fsst", "raw_double", "float_split", "dict_float", "alp")


def layer_metrics(tot: dict[str, float], iters: int) -> dict[str, tuple[float, str]]:
    """Per-iteration layer metrics from summed ``Tracer.export`` dicts."""

    def g(kind, name):
        return tot.get(f"{kind}:{name}", 0.0) / iters

    mb = 1e6
    cand = g("note", "selector.candidate_bytes")
    m = {
        "parquet_scan.read_s": (g("self", "parquet_scan.read"), "s"),
        "parquet_scan.read_mb": (g("note", "parquet_scan.read_bytes") / mb, "MB"),
        "selector.int_s": (g("self", "selector.int"), "s"),
        "selector.str_s": (g("self", "selector.str"), "s"),
        "selector.float_s": (g("self", "selector.float"), "s"),
        "selector.candidates_tried": (g("note", "selector.candidates_tried"), "count"),
        "selector.discarded_frac": (
            g("note", "selector.discarded_bytes") / cand if cand else 0.0, "ratio"),
        "fsst.train_s": (g("note", "fsst.train_s"), "s"),
        "fsst.encode_s": (g("note", "fsst.encode_s"), "s"),
        "kernels.int_encode_s": (g("self", "kernels.int_encode"), "s"),
        "kernels.str_encode_s": (g("self", "kernels.str_encode"), "s"),
        "kernels.float_encode_s": (g("self", "kernels.float_encode"), "s"),
        "kernels.int_decode_s": (g("self", "kernels.int_decode"), "s"),
        "kernels.str_decode_s": (g("self", "kernels.str_decode"), "s"),
        "kernels.float_decode_s": (g("self", "kernels.float_decode"), "s"),
        "blocks.compress_s": (g("self", "blocks.compress"), "s"),
        "blocks.compress_in_mb": (g("note", "blocks.compress_in_bytes") / mb, "MB"),
        "blocks.compress_out_mb": (g("note", "blocks.compress_out_bytes") / mb, "MB"),
        "blocks.decompress_s": (g("self", "blocks.decompress"), "s"),
        "blocks.decompress_mb": (g("note", "blocks.decompress_bytes") / mb, "MB"),
        "container.encode_table_s": (g("incl", "container.encode_table"), "s"),
        "container.chunk_stats_s": (g("incl", "container.chunk_stats"), "s"),
        "container.serialize_s": (g("incl", "container.serialize"), "s"),
        "container.checksum_s": (g("incl", "container.checksum"), "s"),
        "container.decode_table_s": (g("incl", "container.decode_table"), "s"),
        "container.pred_decode_s": (g("incl", "container.pred_decode"), "s"),
        "sink.write_s": (g("self", "sink.write"), "s"),
        "sink.write_mb": (g("note", "sink.write_bytes") / mb, "MB"),
        "orc_file.write_s": (g("self", "orc_file.write"), "s"),
        "orc_file.mb": (g("note", "orc_file.bytes") / mb, "MB"),
        "orc_read.read_s": (g("self", "orc_read.read"), "s"),
        "orc_read.rows_per_match": (
            g("note", "orc_read.rows") / g("note", "orc_read.matches")
            if g("note", "orc_read.matches") else 0.0, "ratio"),
    }
    for c in ENCODE_WINS:
        m[f"selector.wins.{c}"] = (g("note", f"selector.wins.{c}"), "count")
    return m


def _covered(tot: dict[str, float]) -> float:
    return sum(v for k, v in tot.items() if k.startswith("self:"))


SPARK_ZERO = {
    "spark.noop_job_s": (0.0, "s"),
    "spark.worker_start_s": (0.0, "s"),
    "spark.arrow_to_py_mb_per_s": (0.0, "MB/s"),
    "spark.arrow_to_jvm_mb_per_s": (0.0, "MB/s"),
    "spark.overhead_frac": (0.0, "ratio"),
}


def _spark_layers(res: Result, cold_s: float, ferry: dict, tot: dict, traced_walls: list[float],
                  untraced_walls: list[float], noop_walls: list[float]) -> None:
    """Coverage of the traced Spark jobs: in-task layer time, plus the
    fixed-cost rows (job dispatch and the Arrow ferry of the task output,
    both walls measured across all cores), against cores x wall. The
    no-op jobs run between the traced ones, so both see the machine at
    the same speed."""
    n = spark_env.cores()
    capacity = n * sum(traced_walls)
    in_task = _covered(tot)
    noop_s = statistics.median(noop_walls)
    ferry_s = tot.get("note:spark.to_jvm_bytes", 0.0) / 1e6 / ferry["spark.arrow_to_jvm_mb_per_s"]
    fixed_s = n * (noop_s * len(traced_walls) + ferry_s)
    res.metrics.update({k: (v, "MB/s") for k, v in ferry.items()})
    res.metrics["spark.noop_job_s"] = (noop_s, "s")
    res.metrics["spark.worker_start_s"] = (max(cold_s - noop_s, 0.0), "s")
    res.metrics["spark.overhead_frac"] = (1.0 - in_task / capacity, "ratio")
    res.metrics["layers.unattributed_frac"] = (1.0 - (in_task + fixed_s) / capacity, "ratio")
    res.metrics["trace.overhead_frac"] = (
        statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0, "ratio")
    res.metrics["failed_frac"] = (res.failed / max(res.attempted, 1), "ratio")


# -- tokens_encode (Spark) --------------------------------------------------


def _job_partitions(ctx: Ctx) -> int:
    """Partitions of the encode job: two per core, at most one
    per split (``encode_splits``' default)."""
    return min(2 * spark_env.cores(), ctx.scale.splits)


def _tokens_setup(ctx: Ctx, spark, i: int) -> str:
    """Write the tokens table; returns its path."""
    path = os.path.join(ctx.work, f"tokens{i}")
    s = ctx.scale
    inputs.write_tokens(spark, s.docs, s.repl, s.splits, path, ctx.seed)
    return path


def _encode_job(spark, path: str, sink: str) -> list:
    from orc_format_spark import encode_parquet_splits

    shutil.rmtree(sink, ignore_errors=True)
    return (
        encode_parquet_splits(spark, path, codec="auto", blob_sink=sink)
        .select("group_id", "n_values", "output_bytes", "checksum", "blob_path")
        .collect()
    )


def _traced_encode_job(spark, path: str, sink: str, acc) -> list:
    """``encode_splits``'s task, call for call, with spans around each
    step (parquet read, encode_table, sink write, checksum)."""
    from orc_format_spark import list_parquet_splits
    from orc_format_spark.operators.encode import BLOB_FILE_SCHEMA

    shutil.rmtree(sink, ignore_errors=True)
    os.makedirs(sink, exist_ok=True)
    splits = list_parquet_splits(path)
    parallelism = 2 * spark.sparkContext.defaultParallelism
    bsplits = spark.sparkContext.broadcast(splits)
    sdf = spark.range(0, len(splits), 1, min(parallelism, len(splits)) or 1)

    def fn(batches):
        import pyarrow.parquet as pq

        from orc_format_spark.codecs import container
        from orc_format_spark.worker_env import limit_worker_threads

        limit_worker_threads()
        table = bsplits.value
        tr = Tracer()
        with installed(tr):
            for batch in batches:
                for sid, f, rg in (table[i] for i in batch.column("id").to_pylist()):
                    with tr.span("parquet_scan.read"):
                        pf = pq.ParquetFile(f)
                        data = pf.read_row_group(rg, columns=None, use_threads=False)
                    rgm = pf.metadata.row_group(rg)
                    tr.note("parquet_scan.read_bytes", sum(
                        rgm.column(c).total_compressed_size for c in range(rgm.num_columns)))
                    blob, lineage = container.encode_table(
                        data, codec="auto", compression="zstd", stride=STRIDE, bloom_columns=None
                    )
                    leaf = [l for l in lineage if l["codec"] != "list"]
                    codecs = {l["column"]: l["codec"] for l in lineage}
                    with tr.span("sink.write"):
                        dest = os.path.join(sink, f"split-{sid:08d}.ofs")
                        tmp = f"{dest}.tmp.{os.getpid()}"
                        with open(tmp, "wb") as out:
                            out.write(blob)
                        os.replace(tmp, dest)
                    tr.note("sink.write_bytes", len(blob))
                    rb = pa.record_batch(
                        [
                            pa.array([sid], pa.int64()),
                            pa.array([data.num_rows], pa.int64()),
                            pa.array([sum(l["n_present"] for l in leaf)], pa.int64()),
                            pa.array([sum(l["input_bytes"] for l in lineage)], pa.int64()),
                            pa.array([len(blob)], pa.int64()),
                            pa.array([container.table_checksum(data)], pa.string()),
                            pa.array([json.dumps(codecs, sort_keys=True)], pa.string()),
                            pa.array([json.dumps(lineage, sort_keys=True)], pa.string()),
                            pa.array([dest], pa.string()),
                        ],
                        names=["group_id", "n_rows", "n_values", "input_bytes", "output_bytes",
                               "checksum", "codecs", "lineage", "blob_path"],
                    )
                    tr.note("spark.to_jvm_bytes", rb.nbytes)
                    yield rb
        acc.add(tr.export())

    return (
        sdf.mapInArrow(fn, BLOB_FILE_SCHEMA)
        .select("group_id", "n_values", "output_bytes", "checksum", "blob_path")
        .collect()
    )


def _check_encode(res: Result, rows: list, n_values: int, n_splits: int) -> None:
    res.check(len(rows) == n_splits, f"encode returned {len(rows)} blobs, want {n_splits}")
    got = sum(r["n_values"] for r in rows)
    res.check(got == n_values, f"encoded {got} values, input holds {n_values}")


def _verify_subset(spark, ctx: Ctx, res: Result, rows: list) -> None:
    """``verify_blob_files`` on a seeded subset of the splits."""
    from orc_format_spark import verify_blob_files

    rng = np.random.default_rng(ctx.seed)
    pick = sorted(rng.choice(len(rows), min(ctx.scale.verify_splits, len(rows)), replace=False))
    subset = [rows[i] for i in pick]
    if ctx.flip_byte:
        _flip_one_byte(subset[0]["blob_path"])
    df = spark.createDataFrame(
        [(r["group_id"], r["checksum"], r["blob_path"]) for r in subset],
        "group_id long, checksum string, blob_path string",
    )
    try:
        out = verify_blob_files(df).collect()
    except Exception as ex:  # a corrupt blob may fail the decode itself
        print(f"verify_blob_files raised: {str(ex)[:300]}", file=sys.stderr)
        out = []
    ok = {r["group_id"] for r in out if r["ok"]}
    for r in subset:
        res.check(r["group_id"] in ok, f"verify_blob_files failed on split {r['group_id']}")


def _same_files(a: str, b: str) -> bool:
    fa = sorted(os.listdir(a))
    if fa != sorted(os.listdir(b)):
        return False
    for name in fa:
        with open(os.path.join(a, name), "rb") as x, open(os.path.join(b, name), "rb") as y:
            if x.read() != y.read():
                return False
    return True


def tokens_encode(ctx: Ctx, spark) -> Result:
    res = Result()
    parts = _job_partitions(ctx)
    cold_s = spark_env.noop_job_s(spark, parts) if ctx.trace else 0.0
    setup_s, path = _repeat_setup(lambda i: _tokens_setup(ctx, spark, i))
    n_docs, n_bytes = inputs.document_bytes(ctx.scale.docs)
    # leaf values: doc_id, n_tok and source per row, plus one token per text byte
    n_values = ctx.scale.repl * (3 * n_docs + n_bytes)
    sink = os.path.join(ctx.work, "sink")
    for _ in range(WARMUP_JOBS):
        _check_encode(res, _encode_job(spark, path, sink), n_values, ctx.scale.splits)

    if ctx.trace:
        ferry = spark_env.ferry_rates(spark, parts)
        acc = spark.sparkContext.accumulator({}, DictSum())
        walls_u, walls_t, walls_n = [], [], []
        traced_sink = os.path.join(ctx.work, "sink_traced")

        def step():
            walls_u.append(_timed(_encode_job, spark, path, sink)[0])
            dt, rows = _timed(_traced_encode_job, spark, path, traced_sink, acc)
            walls_t.append(dt)
            walls_n.append(spark_env.noop_job_s(spark, parts))
            _check_encode(res, rows, n_values, ctx.scale.splits)
            res.check(_same_files(sink, traced_sink), "traced encode wrote different blobs")

        _until(ctx.seconds, step)
        res.metrics.update(layer_metrics(acc.value, len(walls_t)))
        _spark_layers(res, cold_s, ferry, acc.value, walls_t, walls_u, walls_n)
        return res

    walls: list[float] = []
    rows: list = []

    def step():
        nonlocal rows
        dt, rows = _timed(_encode_job, spark, path, sink)
        walls.append(dt)
        _check_encode(res, rows, n_values, ctx.scale.splits)

    cpu = _timed_loop(ctx.seconds, step)
    _verify_subset(spark, ctx, res, rows)
    wall = statistics.median(walls)
    out_bytes = sum(r["output_bytes"] for r in rows)
    res.report.update({
        "encode_tok_per_s": (n_values / wall, "tok/s"),
        "bytes_per_token": (out_bytes / n_values, "B"),
        "encode_jobs": (len(walls), "count"),
    })
    _end_to_end(res, setup_s, cpu, n_values / wall, wall, out_bytes / n_values)
    return res


# -- lineitem_rw (no Spark) -------------------------------------------------


def _write_blob(tbl: pa.Table) -> bytes:
    from orc_format_spark.codecs import container

    return container.encode_table(tbl, stride=STRIDE, bloom_columns=["l_partkey"])[0]


def _write_orc(tbl: pa.Table) -> bytes:
    from orc_format_spark.sources import orc_file

    buf = io.BytesIO()
    orc_file.write_orc(tbl, buf, compression="zstd", rle="v2", row_index_stride=STRIDE,
                       bloom_columns=["l_orderkey", "l_partkey"])
    return buf.getvalue()


def _match_mask(keys: np.ndarray, q) -> np.ndarray:
    terms = [q] if isinstance(q, tuple) else q
    mask = np.ones(keys.size, bool)
    for _, op, v in terms:
        if op == "==":
            mask &= keys == v
        elif op == ">=":
            mask &= keys >= v
        elif op == "<":
            mask &= keys < v
        elif op == "in":
            mask &= np.isin(keys, list(v))
        else:
            raise ValueError(op)
    return mask


class _Lineitem:
    def __init__(self, ctx: Ctx, res: Result, tbl: pa.Table):
        self.ctx, self.res, self.tbl = ctx, res, tbl
        self.keys = tbl.column("l_orderkey").to_numpy()
        self.queries = inputs.lookups(self.keys, 1_000 * ctx.scale.lookups_per_round, ctx.seed)
        self.next_q = 0
        self.blob = self.orc = b""

    def write(self, tr: Tracer | None = None):
        """One blob and one ORC write; returns their walls. The first
        untraced write is the reference the others must equal."""
        dt_b, blob = _timed(_write_blob, self.tbl)
        dt_o, orc = _timed(_write_orc, self.tbl)
        if tr is not None:
            tr.note("orc_file.bytes", len(orc))
            self.res.check(blob == self.blob, "traced encode_table wrote a different blob")
            self.res.check(orc == self.orc, "traced write_orc wrote a different file")
        elif self.blob:
            self.res.check(blob == self.blob and orc == self.orc, "writes are not deterministic")
        else:
            self.blob, self.orc = blob, orc
        return dt_b, dt_o

    def decode(self) -> float:
        """One full decode of the blob, checked against the table; returns its wall."""
        from orc_format_spark.codecs import container

        dt, got = _timed(container.decode_table, self.blob)
        self.res.check(got.equals(self.tbl), "blob round trip differs")
        return dt

    def lookups(self, tr: Tracer | None = None):
        """The next ``lookups_per_round`` predicates on both containers;
        returns (blob walls, orc walls). Results are checked against a
        filter of the sorted source."""
        from orc_format_spark.codecs import container
        from orc_format_spark.sources import orc_read

        wb, wo = [], []
        for _ in range(self.ctx.scale.lookups_per_round):
            q = self.queries[self.next_q % len(self.queries)]
            self.next_q += 1
            dt, got_b = _timed(container.decode_table, self.blob, predicate=q)
            wb.append(dt)
            dt, got_o = _timed(orc_read.read_orc, self.orc, predicate=q)
            wo.append(dt)
            want = self.tbl.filter(pa.array(_match_mask(self.keys, q)))
            self.res.check(got_b.equals(want), f"blob lookup {q} differs from the source")
            hit = got_o.filter(pa.array(_match_mask(got_o.column("l_orderkey").to_numpy(), q)))
            # ORC timestamps read back at ns resolution
            self.res.check(hit.cast(want.schema).equals(want), f"ORC lookup {q} misses or alters rows")
            if tr is not None:
                tr.note("orc_read.rows", got_o.num_rows)
                tr.note("orc_read.matches", want.num_rows)
        return wb, wo


def lineitem_rw(ctx: Ctx, spark=None) -> Result:
    res = Result()
    setup_s, tbl = _repeat_setup(lambda i: inputs.lineitem(ctx.scale.lineitem_rows),
                                 LINEITEM_SETUP_REPS)
    li = _Lineitem(ctx, res, tbl)
    n = tbl.num_rows

    if ctx.trace:
        tr = Tracer()
        walls_u, walls_t = [], []

        def step():
            dt_b, dt_o = li.write()
            dt_d = li.decode()
            wb, wo = li.lookups()
            walls_u.append(dt_b + dt_o + dt_d + sum(wb) + sum(wo))
            with installed(tr):
                dt_b, dt_o = li.write(tr)
                dt_d = li.decode()
                wb, wo = li.lookups(tr)
            walls_t.append(dt_b + dt_o + dt_d + sum(wb) + sum(wo))

        iters = _until(ctx.seconds, step)
        tot = tr.export()
        res.metrics.update(layer_metrics(tot, iters))
        res.metrics.update(SPARK_ZERO)
        res.metrics["layers.unattributed_frac"] = (1.0 - _covered(tot) / sum(walls_t), "ratio")
        res.metrics["trace.overhead_frac"] = (sum(walls_t) / sum(walls_u) - 1.0, "ratio")
        res.metrics["failed_frac"] = (res.failed / max(res.attempted, 1), "ratio")
        return res

    blob_w, orc_w, decode_w, look_b, look_o = [], [], [], [], []

    def step():
        dt_b, dt_o = li.write()
        blob_w.append(dt_b)
        orc_w.append(dt_o)
        decode_w.append(li.decode())
        wb, wo = li.lookups()
        look_b.extend(wb)
        look_o.extend(wo)

    cpu = _timed_loop(ctx.seconds, step)
    b_s, o_s = statistics.median(blob_w), statistics.median(orc_w)
    qb, tb = _tail(look_b)
    qo, to = _tail(look_o)
    res.report.update({
        "blob_encode_rows_per_s": (n / b_s, "rows/s"),
        "orc_write_rows_per_s": (n / o_s, "rows/s"),
        "blob_decode_rows_per_s": (n / statistics.median(decode_w), "rows/s"),
        "blob_bytes_per_row": (len(li.blob) / n, "B"),
        "orc_bytes_per_row": (len(li.orc) / n, "B"),
        "blob_lookup_p50_ms": (statistics.median(look_b) * 1e3, "ms"),
        f"blob_lookup_p{qb:g}_ms": (tb * 1e3, "ms"),
        "orc_lookup_p50_ms": (statistics.median(look_o) * 1e3, "ms"),
        f"orc_lookup_p{qo:g}_ms": (to * 1e3, "ms"),
        "lookups_per_container": (len(look_b), "count"),
    })
    _end_to_end(res, setup_s, cpu, 2 * n / (b_s + o_s),
                statistics.median(look_b + look_o), (len(li.blob) + len(li.orc)) / (2 * n))
    return res


WORKLOADS = {
    "tokens_encode": (tokens_encode, True),
    "lineitem_rw": (lineitem_rw, False),
}
