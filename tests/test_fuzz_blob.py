"""Adversarial blob-input fuzz: corrupted containers must never yield
silently-wrong data.

The system-level guarantee (mirrors the reference's corrupt-file
behavior, reader errors not wrong values): for ANY truncation or
single-byte flip of a blob, `decode_table` either (a) raises a clean
Python exception, (b) returns a table logically EQUAL to the original
(the flipped byte is genuinely decode-redundant — e.g. the
informational engine tag), or
(c) returns a table whose `table_checksum` differs from the original's
— which `verify_blobs` (and the encode job's lineage checksums) catch.
There is no fourth outcome: a wrong table that PASSES the checksum.

A flipped `n_present` raises: every column entry's decoded value count
must equal its header's `n_present`, so a stream swapped for a shorter
valid one (the forged cases below) is refused instead of decoding to a
short column.
"""

import numpy as np
import pyarrow as pa
import pytest

from orc_format_spark.codecs.container import (
    decode_table,
    deserialize_blob,
    encode_table,
    serialize_blob,
    table_checksum,
)


def _table():
    rng = np.random.default_rng(7)
    return pa.table(
        {
            "a": pa.array(rng.integers(0, 50, 400), pa.int64()),
            "s": pa.array([f"word{i % 17}" for i in range(400)]),
            "f": pa.array(rng.normal(size=400), pa.float64()),
            "n": pa.array(
                [None if i % 5 == 0 else i for i in range(400)], pa.int32()
            ),
        }
    )


def test_every_truncation_raises():
    t = _table()
    blob, _ = encode_table(t)
    for k in range(len(blob)):
        with pytest.raises(Exception):
            decode_table(blob[:k])


def test_every_byte_flip_is_raise_equal_or_checksum_caught():
    t = _table()
    blob, _ = encode_table(t)
    orig = table_checksum(t)
    outcomes = {"raise": 0, "equal": 0, "caught": 0}
    for pos in range(len(blob)):
        bad = bytearray(blob)
        bad[pos] ^= 0x41
        try:
            out = decode_table(bytes(bad))
        except Exception:
            outcomes["raise"] += 1
            continue
        if out.equals(t):
            outcomes["equal"] += 1
        else:
            # wrong data MUST be checksum-detectable
            assert table_checksum(out) != orig, f"silent wrong data at byte {pos}"
            outcomes["caught"] += 1
    # the guarantee is the absence of a fourth outcome; sanity-check the
    # distribution is non-degenerate (header flips raise, payload flips
    # mostly decode wrong and are checksum-caught, a few bytes are
    # genuinely redundant)
    assert outcomes["raise"] > 0 and outcomes["caught"] > 0, outcomes
    assert outcomes["equal"] < len(blob) // 50, outcomes


def test_random_garbage_raises():
    rng = np.random.default_rng(11)
    for n in (0, 1, 6, 7, 64, 4096):
        with pytest.raises(Exception):
            decode_table(rng.integers(0, 256, n, dtype=np.uint8).tobytes())
    # right magic, absurd entry count, garbage tail
    with pytest.raises(Exception):
        decode_table(b"OFS1\x03\xff\xff" + bytes(64))


@pytest.mark.parametrize(
    "codec,values",
    [
        ("alp", pa.array(np.round(np.linspace(0, 99, 100), 2), pa.float64())),
        ("for_bitpack", pa.array(np.arange(100) * 7, pa.int64())),
    ],
)
def test_forged_short_leaf_stream_raises(codec, values):
    """A column's DATA stream replaced by the (valid) stream of its first
    50 values must raise, not decode to a 50-row table."""
    t = pa.table({"x": values})
    blob, _ = encode_table(t, codec={"x": codec}, compression="none")
    short, _ = encode_table(t.slice(0, 50), codec={"x": codec}, compression="none")
    entries = deserialize_blob(blob)
    assert entries[0].codec == codec
    entries[0].streams = deserialize_blob(short)[0].streams
    with pytest.raises(ValueError):
        decode_table(serialize_blob(entries))


def test_alp_digit_count_must_match_header():
    from orc_format_spark.codecs.alp import decode_alp, encode_alp

    enc = bytearray(encode_alp(np.round(np.linspace(0, 99, 100), 2)))
    assert enc[2] == 100  # varint n, one byte
    enc[2] = 50
    with pytest.raises(ValueError):
        decode_alp(bytes(enc))


@pytest.mark.parametrize("bloom_b64", ["", "AAAA"], ids=["empty", "3-byte"])
def test_malformed_bloom_bitset_raises(bloom_b64):
    """A chunk's ``k@bloom`` bitset of a length the builder never writes
    (not a power of two >= 8 bytes) must raise, not prune the chunk that
    holds the probed key."""
    import json

    from orc_format_spark.codecs.varint import decode_varint_one, encode_varint_one

    keys = np.random.default_rng(3).permutation(1000).astype(np.int64)
    t = pa.table({"k": keys})
    blob, _ = encode_table(t, stride=100, bloom_columns=["k"])
    probe = ("k", "==", int(keys[5]))
    assert decode_table(blob, predicate=probe).num_rows == 1

    pos = 5
    _, pos = decode_varint_one(blob, pos)
    n_chunks, pos = decode_varint_one(blob, pos)
    for _ in range(2 * n_chunks):
        _, pos = decode_varint_one(blob, pos)
    head = blob[:pos]
    slen, pos = decode_varint_one(blob, pos)
    stats = json.loads(blob[pos : pos + slen])
    for s in stats:
        s["k@bloom"] = bloom_b64
    forged = json.dumps(stats, sort_keys=True, separators=(",", ":")).encode()
    bad = head + encode_varint_one(len(forged)) + forged + blob[pos + slen :]
    with pytest.raises(ValueError, match="Bloom"):
        decode_table(bad, predicate=probe)
