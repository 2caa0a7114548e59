"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature-extraction / frame-sampling over ``mapInArrow``.

Image/audio/video libraries are not available in this container, so the
*decode* step is stubbed (``decode_image`` raises ``NotImplementedError``
unless PIL is importable; ``fake_features`` is a deterministic stand-in)
— but the Spark-side plumbing is real and tested: binary columns travel
as Arrow buffers, the UDFs are Arrow-batched (no per-row Python), the
schema/partitioning shapes are what a real decoder would use.

Scale shape: feature extraction is a map-side projection over binary
buffers; at 100 TB the binary column stays in the parquet scan's own
splits (no shuffle) exactly like the split-level encode path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F

from ..worker_env import limit_worker_threads

FEATURE_DIM = 8
_MOD = 997


def with_payload(docs: DataFrame) -> DataFrame:
    """documents -> multimodal-shaped table: binary payload + metadata.

    (Sandbox stand-in: the payload is the UTF-8 text bytes; in production
    it would be image/audio bytes read from the object store.)
    """
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.octet_length(F.col("text")).alias("n_bytes"),
    )


def decode_image(payload: bytes):
    """Decode an image payload. STUB: pillow is not installed in this
    container; the real implementation is gated on its availability."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as ex:
        raise NotImplementedError(
            "image decode requires pillow, which is not available here; "
            "the surrounding Spark plumbing (binary columns, Arrow batching, "
            "schema) is real and tested with fake_features()"
        ) from ex
    import io

    return Image.open(io.BytesIO(payload))


def fake_features(n_bytes: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature map: (len(payload) * k) % 997 for
    k = 1..dim. Shape (n, dim), int64."""
    k = np.arange(1, dim + 1, dtype=np.int64)
    return (n_bytes.astype(np.int64)[:, None] * k[None, :]) % _MOD


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """(doc_id, payload, ...) -> (doc_id, features array<bigint>).

    Real Arrow-batched plumbing: payload buffers arrive as Arrow binary
    arrays, lengths are computed zero-copy from the offsets buffer, and
    the feature matrix is built vectorized — swap ``fake_features`` for a
    real image/audio featurizer and nothing else changes.
    """

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pay = tbl.column("payload").combine_chunks().cast(pa.large_binary())
            n = len(pay)
            if n == 0:
                continue
            bufs = pay.buffers()
            off = np.frombuffer(bufs[1], np.int64, n + 1, pay.offset * 8)
            lens = off[1:] - off[:-1]
            feats = fake_features(lens, dim)
            flat = pa.array(feats.reshape(-1), pa.int64())
            offsets = pa.array(
                np.arange(0, (n + 1) * dim, dim, dtype=np.int32), pa.int32()
            )
            yield pa.record_batch(
                [
                    tbl.column("doc_id").combine_chunks().cast(pa.string()),
                    pa.ListArray.from_arrays(offsets, flat),
                ],
                names=["doc_id", "features"],
            )

    return df.select("doc_id", "payload").mapInArrow(
        fn, "doc_id string, features array<bigint>"
    )


def extract_features_sql(dim: int = FEATURE_DIM, table: str = "documents") -> str:
    """DuckDB oracle for the deterministic stand-in featurizer (CSV string
    output so the driver's pandas canonicalizer can sort/hash rows)."""
    return (
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        f"array_to_string(list_transform(range(1, {dim} + 1), "
        f"k -> (CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) * k) % {_MOD}), ',') "
        f"AS features_csv "
        f"FROM {table}"
    )


def frame_sample(df: DataFrame, stride: int = 16) -> DataFrame:
    """Sample every stride-th byte of the payload (the video frame-sample
    shape: seek + slice without decoding). Arrow-batched, zero-copy in."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pay = tbl.column("payload").combine_chunks().cast(pa.large_binary())
            n = len(pay)
            if n == 0:
                continue
            bufs = pay.buffers()
            off = np.frombuffer(bufs[1], np.int64, n + 1, pay.offset * 8)
            data = np.frombuffer(bufs[2], np.uint8)[off[0] : off[-1]]
            rel = off - off[0]
            lens = rel[1:] - rel[:-1]
            out_lens = (lens + stride - 1) // stride
            tot = int(out_lens.sum())
            ends = np.cumsum(out_lens)
            within = np.arange(tot, dtype=np.int64) - np.repeat(ends - out_lens, out_lens)
            src = np.repeat(rel[:-1], out_lens) + within * stride
            sampled = data[src]
            out_off = np.zeros(n + 1, np.int64)
            out_off[1:] = ends
            arr = pa.LargeBinaryArray.from_buffers(
                pa.large_binary(),
                n,
                [None, pa.py_buffer(out_off), pa.py_buffer(sampled)],
            )
            yield pa.record_batch(
                [
                    tbl.column("doc_id").combine_chunks().cast(pa.string()),
                    arr.cast(pa.binary()),
                ],
                names=["doc_id", "frames"],
            )

    return df.select("doc_id", "payload").mapInArrow(
        fn, "doc_id string, frames binary"
    )


def resize_payload(df: DataFrame, target: int = 32) -> DataFrame:
    """Nearest-neighbor resize of each payload to exactly ``target``
    bytes (the 1-D byte-level analogue of image resize: output byte i
    is source byte floor(i*L/target); L==0 -> empty). Deterministic,
    vectorized gather over Arrow buffers — zero-copy in, no per-row
    Python — so the hex-projected DuckDB oracle reproduces it exactly.
    A real image resize would swap this kernel for a decoder+resampler
    behind the same Arrow-batched signature (see decode_image's gate)."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pay = tbl.column("payload").combine_chunks().cast(pa.large_binary())
            n = len(pay)
            if n == 0:
                continue
            bufs = pay.buffers()
            off = np.frombuffer(bufs[1], np.int64, n + 1, pay.offset * 8)
            data = np.frombuffer(bufs[2], np.uint8)[off[0] : off[-1]]
            rel = off - off[0]
            lens = rel[1:] - rel[:-1]
            out_lens = np.where(lens == 0, 0, target).astype(np.int64)
            tot = int(out_lens.sum())
            ends = np.cumsum(out_lens)
            within = np.arange(tot, dtype=np.int64) - np.repeat(
                ends - out_lens, out_lens
            )
            src_lens = np.repeat(lens, out_lens)
            src = np.repeat(rel[:-1], out_lens) + (within * src_lens) // target
            resized = data[src] if tot else np.empty(0, np.uint8)
            out_off = np.zeros(n + 1, np.int64)
            out_off[1:] = ends
            arr = pa.LargeBinaryArray.from_buffers(
                pa.large_binary(),
                n,
                [None, pa.py_buffer(out_off), pa.py_buffer(resized)],
            )
            yield pa.record_batch(
                [
                    tbl.column("doc_id").combine_chunks().cast(pa.string()),
                    arr.cast(pa.binary()),
                ],
                names=["doc_id", "resized"],
            )

    return df.select("doc_id", "payload").mapInArrow(
        fn, "doc_id string, resized binary"
    )


def resize_payload_sql(target: int = 32, table: str = "documents") -> str:
    """DuckDB oracle for :func:`resize_payload` over the documents-backed
    payload (payload == UTF-8 text bytes, as in with_payload)."""
    return (
        "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
        "lower(array_to_string(list_transform("
        "range(0, CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0 "
        f"ELSE {target} END), "
        "i -> substr(hex(CAST(text AS BLOB)), "
        f"CAST(2 * ((i * octet_length(CAST(text AS BLOB))) // {target}) + 1 AS INT), 2)"
        "), '')) AS resized_hex "
        f"FROM {table}"
    )


# ------------------------------------------------------- real image decode


def decode_image_array(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an (H, W, 3) uint8 RGB array.

    Uncompressed container formats decode here in pure numpy — no
    third-party dependency, testable with the committed fixtures under
    tests/fixtures/:

    - **PPM (P6)**: ASCII header (magic, width, height, maxval<=255,
      '#' comments allowed) + raw RGB bytes.
    - **BMP (BITMAPINFOHEADER, 24bpp, uncompressed)**: bottom-up BGR
      rows padded to 4 bytes.

    Compressed formats (PNG/JPEG/...) require a real codec: they route
    through PIL and raise ``NotImplementedError`` when it is absent
    (the original gate, preserved)."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    img = decode_image(payload)  # PIL gate (PNG/JPEG/...)
    return np.asarray(img.convert("RGB"))


def _decode_ppm(payload: bytes) -> "np.ndarray":
    pos = 2
    vals: list[int] = []
    n = len(payload)
    while len(vals) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":  # comment to EOL
            while pos < n and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("ppm: truncated header")
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("ppm: 16-bit samples not supported")
    need = w * h * 3
    raw = np.frombuffer(payload, np.uint8, count=need, offset=pos)
    return raw.reshape(h, w, 3).copy()


def _decode_bmp(payload: bytes) -> "np.ndarray":
    if len(payload) < 54:
        raise ValueError("bmp: truncated header")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise NotImplementedError("bmp: pre-BITMAPINFOHEADER not supported")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"bmp: only uncompressed 24bpp supported (got {bpp}bpp comp={comp})"
        )
    top_down = h < 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    raw = np.frombuffer(payload, np.uint8, count=row_bytes * h, offset=data_off)
    rows = raw.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def decode_images(df: DataFrame) -> DataFrame:
    """(doc_id, payload) -> (doc_id, height, width, mean_r, mean_g,
    mean_b): decode each payload with :func:`decode_image_array` and
    emit shape + integer channel means (sum // count — exact, so any
    oracle can reproduce it). Arrow-batched; the per-image decode is a
    numpy reshape over the payload bytes, not per-pixel Python. Payload
    formats needing a real codec (PNG/JPEG) surface the preserved
    NotImplementedError gate."""

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        limit_worker_threads()
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            pay = tbl.column("payload").combine_chunks()
            ids = tbl.column("doc_id").combine_chunks().cast(pa.string())
            hh, ww, mr, mg, mb = [], [], [], [], []
            for v in pay:
                img = decode_image_array(v.as_py())
                h, w = img.shape[:2]
                px = img.reshape(-1, 3).astype(np.int64)
                npx = max(h * w, 1)
                s = px.sum(axis=0)
                hh.append(h); ww.append(w)
                mr.append(int(s[0] // npx))
                mg.append(int(s[1] // npx))
                mb.append(int(s[2] // npx))
            yield pa.record_batch(
                [
                    ids,
                    pa.array(hh, pa.int32()),
                    pa.array(ww, pa.int32()),
                    pa.array(mr, pa.int64()),
                    pa.array(mg, pa.int64()),
                    pa.array(mb, pa.int64()),
                ],
                names=["doc_id", "height", "width", "mean_r", "mean_g", "mean_b"],
            )

    return df.select("doc_id", "payload").mapInArrow(
        fn,
        "doc_id string, height int, width int, "
        "mean_r long, mean_g long, mean_b long",
    )
