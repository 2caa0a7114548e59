"""Tests for PII scrubbing, winnowing and payload resizing."""


def test_scrub_pii_counts_and_replacements(spark):
    from orc_format_spark.functions.scrub import scrub_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@ex-ample.org or see https://x.io/p?q=1 now"),
            (1, "server 192.168.0.1 and 10.0.0.255 up"),
            (2, "no pii here, just 1.2 numbers and at-signs @ alone"),
            (3, "http://a.b/c a@b.co 1.2.3.4"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (out[0].n_emails, out[0].n_urls, out[0].n_ips) == (1, 1, 0)
    assert out[0].clean_text == "mail me at <EMAIL> or see <URL> now"
    assert (out[1].n_emails, out[1].n_urls, out[1].n_ips) == (0, 0, 2)
    assert out[1].clean_text == "server <IP> and <IP> up"
    assert (out[2].n_emails, out[2].n_urls, out[2].n_ips) == (0, 0, 0)
    assert out[2].clean_text == df.collect()[2].text
    assert out[3].clean_text == "<URL> <EMAIL> <IP>"


def test_scrub_pii_is_jvm_only(spark):
    """The scrub plan must contain no Python evaluation node — pure
    Catalyst expressions end to end."""
    from orc_format_spark.functions.scrub import scrub_pii

    df = spark.createDataFrame([(1, "x@y.zz")], "doc_id long, text string")
    plan = scrub_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan


def test_winnow_degenerate_rules(spark):
    """Winnowing edge cases: text shorter than k -> empty set; grams
    fewer than a window -> single global min; characters outside the
    BMP count as one code point each; position-shift robustness (a
    shared long substring yields shared fingerprints)."""
    from orc_format_spark.functions.text import winnow_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (0, "short"),            # < k=8 chars -> no grams
            (1, "exactly8"),         # exactly one gram -> its own hash
            (2, "ninechars"),        # 2 grams < window=4 -> global min
            (3, base),
            (4, "PREFIX " + base),   # shifted copy
            # 9 code points, 11 UTF-16 units: grams are over code points
            (5, "ab\U0001F600cdefg\U0001F4A9"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in winnow_fingerprints(df, k=8, window=4).collect()}
    assert out[0].n_fingerprints == 0 and out[0].fingerprints_csv == ""
    assert out[1].n_fingerprints == 1
    assert out[2].n_fingerprints == 1
    assert out[5].n_fingerprints == 1  # 2 grams < window -> global min
    assert out[5].fingerprints_csv == "198547537"
    a = set(out[3].fingerprints_csv.split(","))
    b = set(out[4].fingerprints_csv.split(","))
    # winnowing guarantee: long shared substrings share fingerprints
    assert len(a & b) >= len(a) // 2


def test_resize_payload_edges(spark):
    """Resize edge cases: empty payload -> empty output; payload shorter
    than target upsamples by nearest-neighbor repeats; long payload
    downsamples at floor(i*L/target)."""
    from orc_format_spark.functions.multimodal import resize_payload

    df = spark.createDataFrame(
        [(0, bytearray(b"")), (1, bytearray(b"ab")), (2, bytes(range(64)))],
        "doc_id long, payload binary",
    )
    out = {int(r.doc_id): bytes(r.resized) for r in resize_payload(df, target=4).collect()}
    assert out[0] == b""
    assert out[1] == b"aabb"  # floor(i*2/4) = 0,0,1,1
    assert out[2] == bytes([0, 16, 32, 48])
