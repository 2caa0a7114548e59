"""Per-layer tracing from outside the library.

``installed(tracer)`` wraps public functions of the library's modules
(and the module-level names other modules call them by) for the span of
a ``with`` block, and restores them on exit. Every wrapper calls the
original with the same arguments and returns its result untouched; the
traced runs check that the bytes they write equal the untraced ones.

Two kinds of record:

- *spans* partition time: a span's self time is its duration minus the
  spans nested in it, so the self times of all spans add up to the time
  covered by the outermost ones;
- *notes* are overlapping views (FSST training inside codec selection)
  and counters (bytes, candidates, wins); they never enter the partition.

Codec selection is split at its own boundary: the winning candidate's
kernel call is moved to the kernel layer (``kernels.*_encode``), and the
rest -- losing candidates, sampling, size estimation -- is the selector's
self time.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

_now = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        self.stack: list[list] = []  # [name, start, child seconds]
        self.self_s: dict[str, float] = defaultdict(float)
        self.incl_s: dict[str, float] = defaultdict(float)
        self.notes: dict[str, float] = defaultdict(float)

    def inside(self, names) -> bool:
        return any(frame[0] in names for frame in self.stack)

    @contextmanager
    def span(self, name: str):
        frame = [name, _now(), 0.0]
        self.stack.append(frame)
        try:
            yield frame
        finally:
            self.stack.pop()
            dt = _now() - frame[1]
            self.incl_s[name] += dt
            self.self_s[name] += dt - frame[2]
            if self.stack:
                self.stack[-1][2] += dt

    def note(self, name: str, value: float) -> None:
        self.notes[name] += value

    def export(self) -> dict[str, float]:
        out = {f"self:{k}": v for k, v in self.self_s.items()}
        out.update({f"incl:{k}": v for k, v in self.incl_s.items()})
        out.update({f"note:{k}": v for k, v in self.notes.items()})
        return out


class DictSum(AccumulatorParam):
    """Spark accumulator that sums exported tracer dicts across tasks."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            a[k] = a.get(k, 0.0) + v
        return a


def _patch(patches, owner, attr, make):
    orig = getattr(owner, attr)
    patches.append((owner, attr, orig))
    setattr(owner, attr, make(orig))


def _spanned(tr: Tracer, name: str, only_inside=None, skip_inside=(), on_call=None):
    """Wrapper factory: time calls as span ``name``.

    ``only_inside``: record only below one of these spans (the same kernel
    is also called by writers that are traced as one layer).
    ``skip_inside``: call straight through below these spans or selector
    frames, where the caller already accounts for the time."""

    def make(orig):
        def wrapper(*a, **k):
            if (only_inside is not None and not tr.inside(only_inside)) or tr.inside(skip_inside):
                return orig(*a, **k)
            with tr.span(name):
                out = orig(*a, **k)
            if on_call is not None:
                on_call(a, k, out)
            return out

        return wrapper

    return make


_SELECT_FRAMES = ("selector.int", "selector.str", "selector.float")
_KERNEL_OF = {
    "selector.int": "kernels.int_encode",
    "selector.str": "kernels.str_encode",
    "selector.float": "kernels.float_encode",
}


def _selector(tr: Tracer, name: str):
    """Wrap a fused ``select_and_encode_*``: candidate kernel calls are
    collected in the frame; on return the call whose bytes ARE the
    returned wire is booked to the kernel layer."""

    def make(orig):
        def wrapper(*a, **k):
            with tr.span(name) as frame:
                frame.append([])  # candidate calls: (seconds, bytes object)
                best, est, wire = orig(*a, **k)
                calls = frame[3]
                win = next((dt for dt, b in reversed(calls) if b is wire), 0.0)
                frame[2] += win  # kernel time leaves the selector's self time
            tr.self_s[_KERNEL_OF[name]] += win
            # a column longer than the sample gets one more (final) call
            cands = calls[: len(est)]
            cand_bytes = sum(len(b) for _, b in cands)
            kept = len(wire) if any(b is wire for _, b in cands) else 0
            tr.note("selector.candidates_tried", len(cands))
            tr.note("selector.candidate_bytes", cand_bytes)
            tr.note("selector.discarded_bytes", cand_bytes - kept)
            tr.note(f"selector.wins.{best}", 1)
            return best, est, wire

        return wrapper

    return make


def _candidate(tr: Tracer):
    """Wrap ``selector._encode_*``: inside a selector frame, record the call
    instead of timing it as a span."""

    def make(orig):
        def wrapper(*a, **k):
            frame = tr.stack[-1] if tr.stack and tr.stack[-1][0] in _SELECT_FRAMES else None
            if frame is None:
                return orig(*a, **k)
            t0 = _now()
            out = orig(*a, **k)
            frame[3].append((_now() - t0, out))
            return out

        return wrapper

    return make


def _timed_note(tr: Tracer, name: str):
    def make(orig):
        def wrapper(*a, **k):
            t0 = _now()
            try:
                return orig(*a, **k)
            finally:
                tr.note(name, _now() - t0)

        return wrapper

    return make


@contextmanager
def installed(tr: Tracer):
    """Wrap the library's layer boundaries for the duration of the block."""
    from orc_format_spark.codecs import alp, container, dictionary, fsst, raw, rle_v1, selector
    from orc_format_spark.codecs import timestamp as ts_codec
    from orc_format_spark.sources import orc_file, orc_read

    p: list = []
    enc = ("container.encode_table",)
    dec = ("container.decode_table", "container.pred_decode")
    kernels_dec = ("kernels.int_decode", "kernels.str_decode", "kernels.float_decode")

    # container: the public entry points and the sub-steps with a name
    _patch(p, container, "encode_table", _spanned(tr, "container.encode_table"))

    def make_decode(orig):
        def wrapper(blob, *a, **k):
            name = "container.pred_decode" if k.get("predicate") is not None else "container.decode_table"
            with tr.span(name):
                return orig(blob, *a, **k)

        return wrapper

    _patch(p, container, "decode_table", make_decode)
    _patch(p, container, "_chunk_stats", _spanned(tr, "container.chunk_stats"))
    _patch(p, container, "serialize_blob", _spanned(tr, "container.serialize"))
    _patch(p, container, "table_checksum", _spanned(tr, "container.checksum"))
    # codecs.blocks, as the container calls it (selection's own sample
    # compressions stay inside the selector)
    _patch(p, container, "compress_stream", _spanned(
        tr, "blocks.compress",
        on_call=lambda a, k, out: (tr.note("blocks.compress_in_bytes", len(a[0])),
                                   tr.note("blocks.compress_out_bytes", len(out)))))
    _patch(p, container, "decompress_stream", _spanned(
        tr, "blocks.decompress", on_call=lambda a, k, out: tr.note("blocks.decompress_bytes", len(out))))
    # codecs.selector
    for kind in ("int", "str", "float"):
        _patch(p, container, f"select_and_encode_{kind}", _selector(tr, f"selector.{kind}"))
        _patch(p, selector, f"_encode_{kind}", _candidate(tr))
    _patch(p, fsst, "train_symbol_table", _timed_note(tr, "fsst.train_s"))
    _patch(p, fsst, "fsst_encode", _timed_note(tr, "fsst.encode_s"))
    # kernels the container calls outside selection
    _patch(p, rle_v1, "encode_int_rle_v1", _spanned(
        tr, "kernels.int_encode", only_inside=enc, skip_inside=_SELECT_FRAMES))
    _patch(p, ts_codec, "encode_timestamp_us", _spanned(tr, "kernels.int_encode", only_inside=enc))
    _patch(p, container, "_decode_int_values", _spanned(tr, "kernels.int_decode", only_inside=dec))
    _patch(p, container, "_decode_str_values", _spanned(tr, "kernels.str_decode", only_inside=dec))
    _patch(p, ts_codec, "decode_timestamp_us", _spanned(tr, "kernels.int_decode", only_inside=dec))
    _patch(p, rle_v1, "decode_int_rle_v1", _spanned(
        tr, "kernels.int_decode", only_inside=dec, skip_inside=kernels_dec))
    for owner, attr in ((raw, "decode_float_raw"), (raw, "decode_float_split"),
                        (alp, "decode_alp"), (dictionary, "decode_dict_int")):
        _patch(p, owner, attr, _spanned(
            tr, "kernels.float_decode", only_inside=dec, skip_inside=kernels_dec))
    # sources.orc_file / sources.orc_read: one layer each
    _patch(p, orc_file, "write_orc", _spanned(tr, "orc_file.write"))
    _patch(p, orc_read, "read_orc", _spanned(tr, "orc_read.read"))
    try:
        yield tr
    finally:
        for owner, attr, orig in reversed(p):
            setattr(owner, attr, orig)
