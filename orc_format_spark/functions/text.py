"""Text analysis for training-data pipelines: token counting, language
identification, quality scoring, document fingerprinting.

Not present in the reference (it is a file-format writer; SURVEY.md §2.7)
— these are the document-pipeline operations a 10^12-sequence ingest needs
before/alongside encoding. Everything here is pure `pyspark.sql.functions`
expressions (JVM-side, whole-stage-codegen'd, zero Python in the hot
path), deliberately restricted to constructs with exact ANSI-SQL parity so
the DuckDB oracle reproduces results bit-for-bit:

- counts/lengths are integer arithmetic (exact in both engines);
- the only divisions are int/int in double (exact IEEE for |x| < 2^53);
- regexes use the portable subset (classes, +, |) valid in both Java
  regex and RE2.

At 100 TB these are embarrassingly parallel map-side projections: no
shuffle, filters push down to the parquet scan, and only the referenced
columns are read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# word-ish / digit / punctuation pieces: a cheap BPE-rate estimator
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# marker -> language vote tables for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of "),
    "es": (" el ", " la ", " de "),
    "fr": (" le ", " la ", " et "),
    "de": (" der ", " und ", " die "),
}
_LANG_ORDER = ("en", "es", "fr", "de")  # deterministic tie-break priority


def ws_token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank)."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token estimate: words + digits + punctuation marks."""
    return F.regexp_count(text, F.lit(BPE_PATTERN))


def occurrences(text: Column, marker: str) -> Column:
    """Non-overlapping occurrence count of a literal marker."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("long")


def lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    return {
        lang: sum((occurrences(padded, m) for m in ms), F.lit(0))
        for lang, ms in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Marker-vote language guess with deterministic tie-break."""
    s = lang_scores(text)
    expr = F.lit("und")
    # build the when-chain in priority order: first language whose score
    # is >= all others wins
    chain = None
    for lang in _LANG_ORDER:
        cond = F.lit(True)
        for other in _LANG_ORDER:
            if other != lang:
                cond = cond & (s[lang] >= s[other])
        cond = cond & (s[lang] > 0)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    return chain.otherwise(expr)


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length, punctuation density,
    stopword rate, mean word length."""
    n = F.length(text)
    toks = ws_token_count(text)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[.,!?;:]", ""))
    stops = occurrences(F.concat(F.lit(" "), text, F.lit(" ")), " the ")
    nonspace = F.length(F.regexp_replace(text, r"\s", ""))
    safe_toks = F.greatest(toks, F.lit(1))
    len_term = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct / F.greatest(n, F.lit(1)) * 10.0, F.lit(1.0))
    stop_term = F.least(stops / safe_toks * 8.0, F.lit(1.0))
    wordlen_term = F.least(nonspace / safe_toks / F.lit(8.0), F.lit(1.0))
    return (
        F.lit(0.25) * len_term
        + F.lit(0.25) * punct_term
        + F.lit(0.25) * stop_term
        + F.lit(0.25) * wordlen_term
    )


def fingerprint(text: Column) -> Column:
    """Whitespace-normalized content hash (md5 hex) of a document."""
    return F.md5(F.regexp_replace(F.lower(text), r"\s+", " ").cast("binary"))


WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_647  # 2^31-1: keeps acc*base + c < 2^40, overflow-free


def _gram_hashes(cps: Column, n_grams: Column, k: int) -> Column:
    """Polynomial rolling-hash of every k-char gram over the code-point
    array ``cps``: h(i) = fold_{j=i..i+k-1} (acc*B + codepoint_j) mod M —
    exact integer arithmetic, identical on both engines (the first fold
    step from 0 is the codepoint itself, matching DuckDB's list_reduce
    seeding). Null when there is no gram (``sequence(1, n)`` would count
    down and ``slice`` reject start 0)."""
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.aggregate(
                F.slice(cps, i, k),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * F.lit(WINNOW_BASE) + F.ascii(c))
                % F.lit(WINNOW_MOD),
            ),
        ),
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, window: int = 4
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03):
    rolling-hash every k-gram, then keep the MINIMUM of each
    ``window``-wide gram window — a deterministic, position-robust
    fingerprint set whose size is ~2/(window+1) of the grams, the brief's
    'document fingerprinting (rolling hash)' item.

    Degenerate rule (both engines identical): fewer grams than a window
    -> the single global min; no grams (text shorter than k) -> empty.
    Pure higher-order Catalyst array expressions — map-side, zero
    shuffle, no Python; the DuckDB oracle reproduces every hash exactly
    (integer arithmetic mod 2^31-1 throughout).

    Linear in the text: each document is split once into its code points
    (Java's ``.`` matches a whole code point, as ``substr`` counts them),
    and the grams are a column of their own select, so the per-window
    lambda reads an array instead of re-hashing every gram."""
    cps = F.regexp_extract_all(F.col("text"), F.lit("(?s)(.)"), 1)
    n_grams = F.length("text") - F.lit(k - 1)
    g = docs.select(
        "doc_id",
        _gram_hashes(cps, n_grams, k).alias("grams"),
        n_grams.alias("n_grams"),
    )
    grams, n_grams = F.col("grams"), F.col("n_grams")
    mins = F.when(
        n_grams >= window,
        F.transform(
            F.sequence(F.lit(1), n_grams - F.lit(window - 1)),
            lambda p: F.array_min(F.slice(grams, p, window)),
        ),
    )
    selected = (
        F.when(n_grams >= window, F.array_sort(F.array_distinct(mins)))
        .when(n_grams >= 1, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<long>"))
    )
    return g.select(
        "doc_id",
        F.size(selected).alias("n_fingerprints"),
        F.concat_ws(
            ",", F.transform(selected, lambda x: x.cast("string"))
        ).alias("fingerprints_csv"),
    )


def winnow_fingerprints_sql(
    k: int = 8, window: int = 4, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`winnow_fingerprints` — same rolling
    hash (list_reduce seeds with the first element == fold-from-0 mod
    M), same window minima, same degenerate rules."""
    gram = (
        f"list_reduce(list_transform(range(i, i + {k}), "
        f"j -> CAST(ascii(substr(text, CAST(j AS INT), 1)) AS BIGINT)), "
        f"(acc, c) -> (acc * {WINNOW_BASE} + c) % {WINNOW_MOD})"
    )
    grams = f"list_transform(range(1, length(text) - {k} + 2), i -> {gram})"
    mins = (
        f"list_transform(range(1, length(text) - {k} + 2 - {window} + 1), "
        f"p -> list_min(g[CAST(p AS INT):CAST(p + {window} - 1 AS INT)]))"
    )
    return f"""
WITH g0 AS (SELECT doc_id, text, {grams} AS g FROM {table}),
sel AS (
  SELECT doc_id,
         CASE WHEN len(g) >= {window}
                THEN list_sort(list_distinct({mins}))
              WHEN len(g) >= 1 THEN [list_min(g)]
              ELSE CAST([] AS BIGINT[]) END AS s
  FROM g0
)
SELECT doc_id, CAST(len(s) AS INT) AS n_fingerprints,
       array_to_string(list_transform(s, x -> CAST(x AS VARCHAR)), ',')
         AS fingerprints_csv
FROM sel
"""


def text_profile(docs: DataFrame) -> DataFrame:
    """One profiling row per document (the pipeline's per-doc features)."""
    t = F.col("text")
    return docs.select(
        "doc_id",
        ws_token_count(t).alias("ws_tokens"),
        bpe_token_count(t).alias("bpe_tokens"),
        F.length(t).alias("n_chars"),
        lang_id(t).alias("lang_guess"),
        # floor-scaled to integer micro-units: identical IEEE evaluation
        # order on both engines -> identical integers (round() differs
        # between Spark's BigDecimal path and DuckDB's double path)
        F.floor(quality_score(t) * F.lit(1000000.0)).cast("long").alias("quality_e6"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------- oracles


def occurrences_sql(expr: str, marker: str) -> str:
    m = marker.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{m}', ''))) / {len(marker)} AS BIGINT)"
    )


def lang_id_sql(col: str = "text") -> str:
    padded = f"(' ' || {col} || ' ')"
    scores = {
        lang: "(" + " + ".join(occurrences_sql(padded, m) for m in ms) + ")"
        for lang, ms in LANG_MARKERS.items()
    }
    whens = []
    for lang in _LANG_ORDER:
        conds = [
            f"{scores[lang]} >= {scores[o]}" for o in _LANG_ORDER if o != lang
        ]
        conds.append(f"{scores[lang]} > 0")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(whens) + " ELSE 'und' END"


def text_profile_sql(table: str = "documents") -> str:
    ws = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE array_length(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    bpe = f"length(regexp_extract_all(text, '{BPE_PATTERN}'))"
    punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    stops = occurrences_sql("(' ' || text || ' ')", " the ")
    nonspace = "length(regexp_replace(text, '\\s', '', 'g'))"
    toks = f"({ws})"
    safe_toks = f"greatest({toks}, 1)"
    # NOTE: operand order matches functions above token-for-token so both
    # engines evaluate the same IEEE double chain
    quality = (
        f"0.25 * least(length(text) / 500.0, 1.0) "
        f"+ 0.25 * (1.0 - least({punct} / greatest(length(text), 1) * 10.0, 1.0)) "
        f"+ 0.25 * least({stops} / {safe_toks} * 8.0, 1.0) "
        f"+ 0.25 * least({nonspace} / {safe_toks} / 8.0, 1.0)"
    )
    fp = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return (
        f"SELECT doc_id, CAST({ws} AS INT) AS ws_tokens, "
        f"CAST({bpe} AS INT) AS bpe_tokens, "
        f"CAST(length(text) AS INT) AS n_chars, "
        f"{lang_id_sql()} AS lang_guess, "
        f"CAST(floor(({quality}) * 1000000.0) AS BIGINT) AS quality_e6, "
        f"{fp} AS fingerprint "
        f"FROM {table}"
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics — the Gopher-style repetition
    filters (duplicate-word mass, most-common word / bigram share) a
    curation pipeline thresholds on before training. All-integer output
    so the SQL oracle is exact.

    Columns: n_words, n_distinct_words, n_dup_words (occurrences beyond
    each word's first), dup_word_chars (chars across ALL occurrences of
    words seen more than once), top_word_n, top_bigram_n.

    Scale shape: explode -> two map-side-combined aggs keyed by
    (doc_id, word) then doc_id — the fan-out is words-per-doc, the
    shuffle carries (doc_id, word, cnt) partials, never raw text twice.
    No UDFs; everything stays in whole-stage codegen."""
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda w: w != "")
        ).alias("w"),
    )
    wc = words.groupBy("doc_id", "w").agg(F.count("*").alias("cnt"))
    per_word = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count("*").alias("n_distinct_words"),
        (F.sum("cnt") - F.count("*")).alias("n_dup_words"),
        F.sum(
            F.when(F.col("cnt") > 1, F.length(F.col("w")) * F.col("cnt")).otherwise(0)
        ).alias("dup_word_chars"),
        F.max("cnt").alias("top_word_n"),
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    bigrams = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.zip_with(
                    F.slice(toks, 1, F.size(toks) - 1),
                    F.slice(toks, 2, F.size(toks) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    per_bigram = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_bigram_n"))
    )
    return per_word.join(per_bigram, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "n_dup_words",
        "dup_word_chars",
        "top_word_n",
        F.coalesce(F.col("top_bigram_n"), F.lit(0)).alias("top_bigram_n"),
    )


def repetition_profile_sql(table: str = "documents") -> str:
    """DuckDB oracle for ``repetition_profile``."""
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
  FROM {table}
), wc AS (
  SELECT doc_id, w, COUNT(*) AS cnt FROM words GROUP BY 1, 2
), per_word AS (
  SELECT doc_id,
         SUM(cnt) AS n_words,
         COUNT(*) AS n_distinct_words,
         SUM(cnt) - COUNT(*) AS n_dup_words,
         SUM(CASE WHEN cnt > 1 THEN length(w) * cnt ELSE 0 END) AS dup_word_chars,
         MAX(cnt) AS top_word_n
  FROM wc GROUP BY 1
), toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
  FROM {table}
), bigrams AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= 2 THEN
           list_transform(range(1, len(ws)), i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])
           ELSE [] END) AS bg
  FROM toks
), per_bigram AS (
  SELECT doc_id, MAX(cnt) AS top_bigram_n FROM (
    SELECT doc_id, bg, COUNT(*) AS cnt FROM bigrams GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT p.doc_id,
       CAST(p.n_words AS BIGINT) AS n_words,
       CAST(p.n_distinct_words AS BIGINT) AS n_distinct_words,
       CAST(p.n_dup_words AS BIGINT) AS n_dup_words,
       CAST(p.dup_word_chars AS BIGINT) AS dup_word_chars,
       CAST(p.top_word_n AS BIGINT) AS top_word_n,
       CAST(COALESCE(b.top_bigram_n, 0) AS BIGINT) AS top_bigram_n
FROM per_word p LEFT JOIN per_bigram b USING (doc_id)
"""
