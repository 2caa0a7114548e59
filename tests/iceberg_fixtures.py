"""Test-side Iceberg commits the library does not write.

A table that another Iceberg writer maintained reaches the reader with
compaction commits and evolved schemas. These helpers produce those
metadata shapes so the reader's handling of them stays under test.
Unpartitioned tables only.
"""

import os

from orc_format_spark.sources import iceberg_meta as im
from orc_format_spark.sources.avro_ocf import read_ocf, write_ocf


def replace_files(table_dir, removed, added, ts_ms):
    """A compaction commit: ``added`` are appended under a fresh
    sequence number, then each data manifest of that snapshot that lists
    a ``removed`` file is rewritten with the file's entry marked DELETED.
    Returns the snapshot id."""
    sid = im.append_snapshot(table_dir, added, ts_ms=ts_ms)
    md = im.read_table_metadata(table_dir)
    snap = im._current_snapshot(md)
    gone = {os.path.abspath(p) for p in removed}
    manifests = []
    for i, mf in enumerate(im._read_manifest_list(snap)):
        with open(mf["manifest_path"], "rb") as f:
            entries = read_ocf(f.read())[0]
        hit = [e for e in entries if e["data_file"]["file_path"] in gone]
        if mf.get("content") == 0 and hit:
            for e in hit:
                e.update(status=2, snapshot_id=sid)
            mf = im._write_manifest(
                os.path.dirname(mf["manifest_path"]), entries, sid,
                snap["sequence-number"], md["schemas"][md["current-schema-id"]],
                f"manifest-{sid}-rm{i}.avro", [], [],
            )
        manifests.append(mf)
    with open(snap["manifest-list"], "wb") as f:
        f.write(write_ocf(im._MANIFEST_FILE_SCHEMA, manifests,
                          metadata={"format-version": "2"}))
    return sid


def evolve_schema(table_dir, add=(), drop=()):
    """A metadata-only schema change: a new current schema without the
    ``drop`` columns and with ``add`` ``[(name, iceberg_type)]`` appended
    under fresh field ids."""
    md = im.read_table_metadata(table_dir)
    fields = [f for f in md["schemas"][md["current-schema-id"]]["fields"]
              if f["name"] not in drop]
    for name, itype in add:
        md["last-column-id"] += 1
        fields.append({"id": md["last-column-id"], "name": name,
                       "required": False, "type": itype})
    md["current-schema-id"] = len(md["schemas"])
    md["schemas"].append({"type": "struct", "schema-id": len(md["schemas"]),
                          "fields": fields})
    im._write_metadata_json(table_dir, md, im._current_version(table_dir) + 1)
