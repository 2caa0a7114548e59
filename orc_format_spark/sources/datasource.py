"""Spark-native DataFrame format for the blob container via the Spark 4
Python Data Source API: ``spark.read.format("orc_format").load(dir)``
and ``df.write.format("orc_format").save(dir)``.

This is the idiomatic-Spark face of the engine: the reference is a
library you call (`Writer::new` + `write_batch`, src/writer.rs); this
registers the same capability as a first-class source/sink so any Spark
user reads and writes encoded blob directories with zero
engine-specific code — SQL included via a temp view over ``load()``
(``CREATE TABLE ... USING orc_format`` parses, but Spark 4.1 does not
deliver catalog-table OPTIONS/LOCATION to a Python data source at scan
time — probed empirically; options arrive only through
``spark.read.format(...).option(...)``).

Read path:
- schema inference from the first blob's self-describing header (no
  stream decompressed — codecs/container.blob_schema),
- one input partition per ``.ofs`` file (at 100 TB that is the split
  granularity Spark schedules; files are independent stripes),
- **filter pushdown** (``DataSourceReader.pushFilters``): top-level
  column filters and their negations become predicate-tree leaves, so
  files and row groups are skipped via min/max + Bloom stats; handled
  filters are consumed exactly (the residual filter is exact), the rest
  (incl. ordered comparisons on float/double columns: Spark orders NaN
  above every number, Arrow does not) go back to Spark. PySpark 4.1
  exports ``Not`` but no ``And``/``Or`` filter class, so a Spark OR
  never reaches this reader.

Write path (``DataSourceArrowWriter``): each task encodes its
partition's batches with the normal auto-selection pipeline
(encode_table: codec sampling, chunking every ``stride`` rows, optional
per-chunk stats) and persists ``part-NNNNN-<uuid>.ofs`` atomically
(tmp + rename); the driver's ``commit`` writes a ``_manifest.json``
with per-file rows/bytes/checksums — the lineage record — and
``overwrite`` mode clears previous part files only on successful
commit (write-audit-publish, same discipline as the Iceberg layer).

Batch only: the engine's stream stage is ``streaming/encode_stream.py``,
whose commit records are Spark's checkpoint and the metrics table's
snapshot log.

Options: ``codec`` (auto|reference|rle_v1|...), ``compression``
(zstd|snappy|zlib|lz4|none), ``stride`` (row-index stride, default
10000), ``bloom`` (comma-separated bloom_columns for the writer).

Known Spark 4.1 quirk (observed, not this module's state: the planner
worker builds a FRESH reader per planning — pyspark/sql/worker/
data_source_pushdown_filters.py): the JVM caches the planned Python
scan on the relation instance, so after running a FILTERED query
derived from a DataFrame, re-executing the ORIGINAL unfiltered
DataFrame object reuses the filtered scan. Call ``.load(path)`` per
query (cheap: schema comes from one blob header) instead of fanning
multiple differently-filtered queries off one DataFrame object;
``tests/test_datasource.py::test_pushdown_relation_cache_quirk`` pins
the behavior so a Spark upgrade that fixes it is noticed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import uuid
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable, Iterator

if TYPE_CHECKING:  # pragma: no cover
    import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import DoubleType, FloatType, StructType

from ..codecs.container import stats_view
from ..predicate import may_match, normalize
from .iceberg_meta import local_path

_OPS = {
    EqualTo: "==",
    EqualNullSafe: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}
# Spark orders NaN above every number, Arrow fails every ordered
# comparison on it: these ops on float/double columns stay Spark-side
_ORDERED = ("<", "<=", ">", ">=")


def _comparable_literal(val) -> bool:
    """Literal the container compares with Spark-identical semantics:
    non-bool int/float/str, and not NaN (Spark's EqualTo treats
    NaN = NaN as TRUE per the SQL total order; Arrow's pc.equal does
    not — consuming a NaN filter would silently drop the NaN rows
    Spark semantics require). bool/None/temporal stay Spark-side: the
    container's bool domain has no stats and temporal literal
    conversion is not worth a wrong-prune risk here."""
    if isinstance(val, bool) or not isinstance(val, (int, float, str)):
        return False
    return not (isinstance(val, float) and math.isnan(val))


def _filter_to_pred(f: Filter):
    """Spark Filter -> predicate tree node, or None if out of the
    predicate domain (then Spark keeps the filter). A ``Not`` wraps its
    child's leaf; normalization pushes it into the op's dual."""
    neg = isinstance(f, Not)
    if neg:
        f = f.child
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:  # nested column path: not prunable
        return None
    col = attr[0]
    if isinstance(f, (IsNull, IsNotNull)):
        leaf = (col, "isnull" if isinstance(f, IsNull) else "notnull", None)
    elif neg and isinstance(f, (In, StringStartsWith, EqualNullSafe)):
        # NOT IN / NOT STARTS WITH stay with Spark; NOT(<=>) would MATCH
        # null rows, which the three-valued residual cannot express
        return None
    elif isinstance(f, In):
        # any null/NaN/non-primitive member disqualifies
        vals = tuple(f.value)
        if not vals or not all(_comparable_literal(v) for v in vals):
            return None
        leaf = (col, "in", vals)
    elif isinstance(f, StringStartsWith):
        if not isinstance(f.value, str):
            return None
        leaf = (col, "startswith", f.value)
    else:
        # <=> with a non-null literal ignores null rows exactly like ==
        op = _OPS.get(type(f))
        if op is None or not _comparable_literal(f.value):
            return None
        leaf = (col, op, f.value)
    return ("not", leaf) if neg else leaf


def _manifest_file_names(path: str) -> list[str] | None:
    """Blob file names recorded in ``_manifest.json`` — the authoritative
    membership record — or None when the manifest is absent/unreadable
    (then listing degrades to glob)."""
    try:
        with open(os.path.join(path, "_manifest.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    return sorted(e["file"] for e in manifest.get("files", []) if e.get("file"))


def _list_blob_files(path: str) -> list[str]:
    """Committed blob files of a directory. The manifest drives the list
    when present: a task attempt that renamed its part file into place
    but whose commit message was lost (retry, speculative execution,
    executor death) leaves an orphan ``.ofs`` that ``abort()`` never saw
    — glob would return its rows as duplicates. Directories without a
    manifest (e.g. a raw ``blob_sink``) fall back to glob, where every
    file is by construction a committed write."""
    names = _manifest_file_names(path)
    if names is not None:
        return [os.path.join(path, n) for n in names]
    files = sorted(glob.glob(os.path.join(path, "*.ofs")))
    if not files:
        raise FileNotFoundError(f"orc_format: no .ofs blob files under {path!r}")
    return files


@dataclass
class BlobPartition(InputPartition):
    path: str


_MANIFEST_BLOOM_CAP = 65536  # b64 chars; ~48 KiB bitset ~= 39k keys


def _file_stats_json(stats: dict) -> dict:
    """The JSON-safe subset of a ``_chunk_stats`` dict (columns whose
    bounds don't serialize — e.g. decimals — are dropped, which the
    prune test treats as unknown -> never prunes on them). FILE-level
    Bloom bitsets above ``_MANIFEST_BLOOM_CAP`` are dropped too — a
    10-bits/key bitset over a high-cardinality column would turn the
    manifest from metadata into data; min/max stay, and chunk-level
    Blooms inside the blob still serve ``==`` skipping."""
    out = {}
    for k, v in stats.items():
        if k.endswith("@bloom") and isinstance(v, str) and len(v) > _MANIFEST_BLOOM_CAP:
            continue
        try:
            json.dumps(v)
        except TypeError:
            continue
        out[k] = v
    return out


def _load_manifest_stats(path: str) -> dict:
    """{basename: stats-dict} from ``_manifest.json``; {} when absent or
    unreadable (pruning then degrades to scanning every file — always
    safe, never wrong)."""
    try:
        with open(os.path.join(path, "_manifest.json")) as f:
            manifest = json.load(f)
        return {
            e["file"]: e["stats"]
            for e in manifest.get("files", [])
            if e.get("file") and isinstance(e.get("stats"), dict)
        }
    except (OSError, ValueError, KeyError):
        return {}


def _columns_option(options: dict) -> list[str] | None:
    cols = [c.strip() for c in options.get("columns", "").split(",") if c.strip()]
    return cols or None


def _evolution_option(options: dict) -> bool:
    return str(options.get("evolution", "")).lower() in ("true", "1")


def _file_blob_schema(path: str):
    """Blob header schema reading as few bytes as possible: start at
    64 KiB and double until the self-describing header parses (the
    header + first chunk body carry every column's type string)."""
    from ..codecs.container import blob_schema

    size = os.path.getsize(path)
    want = 65536
    with open(path, "rb") as f:
        buf = f.read(min(want, size))
        while True:
            try:
                return blob_schema(buf)
            except Exception:
                if len(buf) >= size:
                    raise
                want *= 4
                buf += f.read(min(want, size) - len(buf))


def _merged_blob_schema(files: list[str]):
    """Union of the blob files' schemas by NAME in first-seen order —
    the mixed-era table schema. A name carried with two different
    arrow types raises (declare the schema explicitly via
    ``spark.read.schema(...)`` and let the decode-side casts resolve
    it). Planning cost is one header read per file; a deployment at
    manifest scale supplies the schema instead of inferring it."""
    merged: dict = {}
    for p in files:
        for field in _file_blob_schema(p):
            prev = merged.get(field.name)
            if prev is None:
                merged[field.name] = field
            elif not prev.type.equals(field.type):
                raise ValueError(
                    f"orc_format: column {field.name!r} stored as both "
                    f"{prev.type} and {field.type} across blob eras — "
                    "supply .schema(...) explicitly to resolve"
                )
    import pyarrow as pa

    return pa.schema(list(merged.values()))


class OrcFormatReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.path = local_path(options.get("path") or "")
        if not self.path:
            raise ValueError("orc_format: .load(path) is required")
        self.spark_schema = schema
        # .option("columns", "a,b"): blob-level projection — unwanted
        # columns' streams are skipped without decompression. (The
        # Python Data Source API has no automatic column-pruning hook
        # yet; this is the explicit projection pushdown.)
        self.columns = _columns_option(options)
        # .option("evolution", "true"): mixed-era directories resolve
        # per blob by name (missing columns -> all-null; predicates on
        # them decided without payload decode) against the declared
        # schema — user-supplied .schema(...), or the by-name union of
        # every blob's header schema (see _merged_blob_schema)
        self.evolution = _evolution_option(options)
        self.preds: list[tuple] = []

    def pushFilters(self, filters: "list[Filter]") -> Iterable[Filter]:
        # the JVM relation caches the planned reader (with its pushed
        # state) across queries on the same DataFrame — reset instead
        # of append, or one scan's filters leak into the next
        self.preds = []
        out = []
        floats = {fld.name for fld in self.spark_schema.fields
                  if isinstance(fld.dataType, (FloatType, DoubleType))}
        for f in filters:
            pred = normalize(_filter_to_pred(f))
            if pred is None or (pred.op in _ORDERED and pred.col in floats):
                out.append(f)  # unsupported: Spark evaluates it
            else:
                self.preds.append(pred)  # consumed exactly in read()
        return out

    def partitions(self) -> list[InputPartition]:
        """One partition per blob file, minus files the commit
        manifest's per-file stats PROVE can't match the pushed filters
        — planning-time file elimination (the ORC file-stats analogue):
        a skipped file costs zero tasks, zero opens. Files without a
        manifest stats entry (older writers, foreign files) are always
        kept; at 100 TB the win scales with layout clustering, exactly
        like stripe elimination."""
        files = _list_blob_files(self.path)
        if not self.preds:
            # empty committed manifest -> explicit empty sentinel (Spark
            # substitutes a lone None partition for an empty list)
            return [BlobPartition(p) for p in files] or [BlobPartition("")]
        stats = _load_manifest_stats(self.path)
        tree = normalize(self.preds)
        kept = [p for p in files
                if may_match(tree, stats_view(stats.get(os.path.basename(p))))]
        # Spark substitutes a lone None partition for an empty list;
        # an explicit empty sentinel keeps read() well-defined when
        # every file was eliminated
        return [BlobPartition(p) for p in kept] or [BlobPartition("")]

    def read(self, partition: BlobPartition) -> Iterator["pa.RecordBatch"]:
        from ..codecs.container import decode_table
        from ..worker_env import limit_worker_threads

        if partition is None or not partition.path:  # all files pruned
            return
        limit_worker_threads()
        with open(partition.path, "rb") as f:
            blob = f.read()
        if self.evolution:
            from pyspark.sql.pandas.types import to_arrow_schema

            from ..operators.encode import _decode_one_evolved

            t = _decode_one_evolved(
                blob,
                to_arrow_schema(self.spark_schema),
                self.columns,
                None,
                self.preds or None,
            )
            if t is not None:
                yield from t.to_batches()
            return
        tbl = decode_table(
            blob, columns=self.columns, predicate=self.preds or None
        )
        yield from tbl.to_batches()


@dataclass
class BlobWriteMessage(WriterCommitMessage):
    file: str | None
    rows: int
    bytes: int
    checksum: str | None
    stats: dict | None = None


class OrcFormatWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        self.path = local_path(options.get("path") or "")
        if not self.path:
            raise ValueError("orc_format: .save(path) is required")
        self.codec = options.get("codec", "auto")
        self.compression = options.get("compression", "zstd")
        self.stride = int(options.get("stride", 10_000))
        self.bloom = [c for c in options.get("bloom", "").split(",") if c]
        self.overwrite = overwrite
        os.makedirs(self.path, exist_ok=True)

    def write(self, iterator: Iterator["pa.RecordBatch"]) -> BlobWriteMessage:
        import pyarrow as pa

        from ..codecs.container import encode_table, table_checksum
        from ..operators.encode import _write_atomic
        from ..worker_env import limit_worker_threads
        from pyspark import TaskContext

        limit_worker_threads()
        batches = list(iterator)
        if not batches or sum(b.num_rows for b in batches) == 0:
            return BlobWriteMessage(None, 0, 0, None)
        tbl = pa.Table.from_batches(batches).combine_chunks()
        blob, _lineage = encode_table(
            tbl,
            codec=self.codec,
            compression=self.compression,
            stride=self.stride,
            bloom_columns=self.bloom or None,
        )
        from ..codecs.container import _chunk_stats

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        name = f"part-{pid:05d}-{uuid.uuid4().hex}.ofs"
        _write_atomic(os.path.join(self.path, name), blob)
        # file-level stats (whole-file [min,max] (+ Bloom for opted-in
        # int columns)) ride the commit message into _manifest.json so
        # a later filtered read can eliminate this FILE at planning time
        stats = _file_stats_json(_chunk_stats(tbl, self.bloom or None))
        return BlobWriteMessage(
            name, tbl.num_rows, len(blob), table_checksum(tbl), stats
        )

    def commit(self, messages: "list[BlobWriteMessage]") -> None:
        from ..operators.encode import _write_atomic

        committed = {m.file for m in messages if m.file}
        entries = {
            m.file: {
                "file": m.file,
                "rows": m.rows,
                "bytes": m.bytes,
                "checksum": m.checksum,
                "stats": m.stats,
            }
            for m in messages
            if m.file
        }
        if not self.overwrite:
            # append: carry forward prior entries for files still on
            # disk, so their stats keep pruning after this commit
            try:
                with open(os.path.join(self.path, "_manifest.json")) as f:
                    for e in json.load(f).get("files", []):
                        fn = e.get("file")
                        if (
                            fn
                            and fn not in entries
                            and os.path.exists(os.path.join(self.path, fn))
                        ):
                            entries[fn] = e
            except (OSError, ValueError):
                pass
        files = [entries[k] for k in sorted(entries)]
        manifest = {
            "files": files,
            "total_rows": sum(e["rows"] for e in files),
            "total_bytes": sum(e["bytes"] for e in files),
        }
        _write_atomic(
            os.path.join(self.path, "_manifest.json"),
            json.dumps(manifest, indent=1, sort_keys=True).encode(),
        )
        if self.overwrite:
            # write-audit-PUBLISH: the new manifest (the authoritative
            # membership record readers list from) lands first; only
            # then are pre-existing + orphaned files retired. Readers
            # driven by the manifest never see the retired set.
            for p in _listdir_ofs(self.path):
                if os.path.basename(p) not in committed:
                    os.remove(p)

    def abort(self, messages: "list[BlobWriteMessage]") -> None:
        for m in messages:
            if m is not None and m.file:
                try:
                    os.remove(os.path.join(self.path, m.file))
                except OSError:
                    pass


def _listdir_ofs(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "*.ofs"))


class OrcFormatDataSource(DataSource):
    """``spark.dataSource.register(OrcFormatDataSource)`` (or
    ``register_datasource(spark)``) enables the ``orc_format`` format
    name for both read and write, including SQL
    ``CREATE TABLE t USING orc_format OPTIONS (path '...')``."""

    @classmethod
    def name(cls) -> str:
        return "orc_format"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        from ..codecs.container import blob_schema

        path = local_path(self.options.get("path") or "")
        if not path:
            raise ValueError("orc_format: .load(path) is required")
        files = _list_blob_files(path)
        if not files:
            raise ValueError(
                f"orc_format: manifest at {path!r} records zero blob files"
                " — no schema source (read after a committed empty write?)"
            )
        if _evolution_option(dict(self.options)):
            full = _merged_blob_schema(files)
        else:
            with open(files[0], "rb") as f:
                blob = f.read()
            full = blob_schema(blob)
        cols = _columns_option(dict(self.options))
        if cols is None:
            return from_arrow_schema(full)
        missing = [c for c in cols if c not in full.names]
        if missing:
            raise ValueError(
                f"orc_format: columns option names {missing} not in blob "
                f"schema {full.names}"
            )
        import pyarrow as pa

        return from_arrow_schema(pa.schema([full.field(c) for c in cols]))

    def reader(self, schema: StructType) -> OrcFormatReader:
        return OrcFormatReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool) -> OrcFormatWriter:
        return OrcFormatWriter(dict(self.options), overwrite)


def register_datasource(spark) -> None:
    """Register the format and enable Python-source filter pushdown
    (Spark refuses a reader that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false — the message
    names the conf, so a manual ``dataSource.register`` without this
    helper still fails loudly, never silently unpushed)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcFormatDataSource)
