#!/usr/bin/env python3
"""Independent Iceberg-mirror reader: validate a graft table's mirror
from scratch, sharing zero code with the JVM writer.

The sandbox has no iceberg-spark-runtime jar and DuckDB's iceberg
extension needs network, so a REAL external engine cannot read the
mirror here. This script is the next-strongest evidence: a different
language and stack (python stdlib + pyarrow for parquet footers, with
a hand-rolled Avro object-container decoder — no avro library either)
resolves the mirror exactly the way the spec tells a reader to:

    metadata/version-hint.text
      -> v<N>.metadata.json        (format v2)
      -> current snapshot's manifest-list (Avro)
      -> manifest files (Avro)     (data_file entries, r102 partition)
      -> parquet data files        (record_count vs footer rows,
                                    file_size_in_bytes vs disk size)

and asserts spec invariants along the way: unique field ids per
schema, partition-spec field-ids in the reserved >=1000 range with
source-ids resolving into the current schema, snapshots carrying
schema-ids that exist, typed r102 partition values matching the hive
path segments, and every entry's record count matching its parquet
footer and its size matching the file on disk. Every entry must exist
at its recorded path: graft retires a replaced file in place and
deletes it only after the commit log's grace window, and only when no
snapshot record pins a version that lists it.

Usage: python3 tools/iceberg_check.py <table-dir> [--all-snapshots]
Exit 0 and a PASS line on success; first violation raises.
"""
import io
import json
import os
import struct
import sys


# ---------------------------------------------------------------- avro
class AvroReader:
    """Minimal Avro object-container decoder (null codec), driven by
    the schema JSON embedded in the file header."""

    def __init__(self, data: bytes):
        self.b = io.BytesIO(data)
        magic = self.b.read(4)
        assert magic == b"Obj\x01", f"bad avro magic: {magic!r}"
        meta = self._map_bytes()
        self.schema = json.loads(meta[b"avro.schema"].decode("utf-8"))
        codec = meta.get(b"avro.codec", b"null")
        assert codec in (b"null",), f"unsupported codec {codec!r}"
        self.sync = self.b.read(16)

    # -- primitives
    def _varint(self):
        shift, acc = 0, 0
        while True:
            byte = self.b.read(1)[0]
            acc |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    def _bytes(self):
        return self.b.read(self._varint())

    def _map_bytes(self):
        out = {}
        while True:
            n = self._varint()
            if n == 0:
                return out
            if n < 0:  # block with byte size
                n = -n
                self._varint()
            for _ in range(n):
                k = self._bytes()  # key first (a[k]=v evaluates v first)
                out[k] = self._bytes()

    # -- schema-driven datum decoding
    def _datum(self, schema):
        if isinstance(schema, str):
            t = schema
        elif isinstance(schema, list):  # union: branch index then datum
            return self._datum(schema[self._varint()])
        else:
            t = schema["type"]
        if t == "null":
            return None
        if t == "boolean":
            return self.b.read(1) == b"\x01"
        if t in ("int", "long"):
            return self._varint()
        if t == "float":
            return struct.unpack("<f", self.b.read(4))[0]
        if t == "double":
            return struct.unpack("<d", self.b.read(8))[0]
        if t in ("bytes", "string"):
            raw = self._bytes()
            return raw.decode("utf-8") if t == "string" else raw
        if t == "record":
            return {f["name"]: self._datum(f["type"])
                    for f in schema["fields"]}
        if t == "map":
            out = {}
            while True:
                n = self._varint()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    self._varint()
                for _ in range(n):
                    k = self._bytes().decode("utf-8")
                    out[k] = self._datum(schema["values"])
        if t == "array":
            out = []
            while True:
                n = self._varint()
                if n == 0:
                    return out
                if n < 0:
                    n = -n
                    self._varint()
                for _ in range(n):
                    out.append(self._datum(schema["items"]))
        raise AssertionError(f"unhandled avro type {t}")

    def records(self):
        out = []
        while self.b.tell() < len(self.b.getvalue()):
            count = self._varint()
            self._varint()  # block byte size
            for _ in range(count):
                out.append(self._datum(self.schema))
            sync = self.b.read(16)
            assert sync == self.sync, "sync marker mismatch"
        return out


def local(path):
    """file:/x or file:///x URI -> /x (metadata stores absolute URIs)."""
    if path.startswith("file://"):
        return path[len("file://"):]
    if path.startswith("file:"):
        return path[len("file:"):]
    return path


def read_avro(path):
    with open(local(path), "rb") as f:
        return AvroReader(f.read())


# ------------------------------------------------------------ validate
def field_ids(schema):
    """(id -> name) for a schema struct, recursing into nested types."""
    out = {}

    def walk(node):
        if isinstance(node, dict):
            if "fields" in node:
                for f in node["fields"]:
                    out[f["id"]] = f.get("name", "?")
                    walk(f.get("type"))
            for k in ("element-id", "key-id", "value-id"):
                if k in node:
                    out[node[k]] = k
            for k in ("element", "key", "value"):
                if k in node:
                    walk(node[k])
    walk(schema)
    return out


def unescape(seg):
    out, i = [], 0
    while i < len(seg):
        if seg[i] == "%" and i + 2 < len(seg) + 1:
            try:
                out.append(chr(int(seg[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(seg[i])
        i += 1
    return "".join(out)


def check(table_dir, all_snapshots=False):
    md_dir = os.path.join(table_dir, "metadata")
    with open(os.path.join(md_dir, "version-hint.text")) as f:
        v = int(f.read().strip())
    with open(os.path.join(md_dir, f"v{v}.metadata.json")) as f:
        md = json.load(f)

    assert md["format-version"] == 2, md["format-version"]
    schemas = {s["schema-id"]: s for s in md["schemas"]}
    cur = schemas[md["current-schema-id"]]
    ids = field_ids(cur)
    flat = [f["id"] for f in cur["fields"]]
    assert len(flat) == len(set(flat)), f"duplicate field ids: {flat}"
    assert md["last-column-id"] >= max(ids), (md["last-column-id"], ids)

    # partition spec: reserved-range field ids, source ids resolve
    spec = next(s for s in md["partition-specs"]
                if s["spec-id"] == md["default-spec-id"])
    part_cols = []
    for i, pf in enumerate(spec["fields"]):
        assert pf["field-id"] == 1000 + i, pf
        assert pf["transform"] == "identity", pf
        assert pf["source-id"] in ids, (pf, sorted(ids))
        part_cols.append(pf["name"])
    if spec["fields"]:
        assert md["last-partition-id"] == 999 + len(spec["fields"])

    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    targets = snaps if all_snapshots else \
        [by_id[md["current-snapshot-id"]]] if md.get(
            "current-snapshot-id", -1) > 0 else []

    total_rows = files_seen = 0
    for snap in targets:
        assert snap["schema-id"] in schemas, snap
        mlist = read_avro(snap["manifest-list"])
        assert mlist.schema["name"] == "manifest_file"
        for mf in mlist.records():
            man = read_avro(mf["manifest_path"])
            assert man.schema["name"] == "manifest_entry"
            # embedded spec field-ids (published assignments)
            dfs = next(f for f in man.schema["fields"]
                       if f["name"] == "data_file")["type"]
            fid = {f["name"]: f["field-id"] for f in dfs["fields"]}
            assert fid["file_path"] == 100 and fid["partition"] == 102
            part_schema = next(f for f in dfs["fields"]
                               if f["name"] == "partition")["type"]
            if isinstance(part_schema, dict) and \
                    part_schema.get("type") == "record":
                assert part_schema["name"] == "r102"
                for i, f in enumerate(part_schema["fields"]):
                    assert f["field-id"] == 1000 + i, f
            for entry in man.records():
                if entry["status"] == 2:
                    continue  # deleted
                df = entry["data_file"]
                path = local(df["file_path"])
                assert os.path.exists(path), f"missing {path}"
                files_seen += 1
                # every live entry carries its stats: the row count
                # from the parquet footer, the size from the disk
                import pyarrow.parquet as pq
                assert df["record_count"] >= 0, (path, df["record_count"])
                assert pq.ParquetFile(path).metadata.num_rows == \
                    df["record_count"], path
                assert df["file_size_in_bytes"] == os.path.getsize(path), \
                    (path, df["file_size_in_bytes"], os.path.getsize(path))
                if snap["snapshot-id"] == md.get("current-snapshot-id"):
                    total_rows += df["record_count"]
                # r102 values match the hive path segments: strings
                # byte-exact after unescaping, typed values via their
                # string rendering (int/long/bool render like the path)
                part = df["partition"]
                if isinstance(part, dict) and part_cols:
                    segs = dict(
                        (unescape(s.split("=", 1)[0]),
                         unescape(s.split("=", 1)[1]))
                        for s in df["file_path"].split("/") if "=" in s)
                    vals = list(part.values())
                    for i, c in enumerate(part_cols):
                        if c in segs and segs[c] != \
                                "__HIVE_DEFAULT_PARTITION__":
                            got = part.get(c, vals[i] if i < len(vals)
                                           else None)
                            assert got is not None, (c, segs[c])
                            if isinstance(got, (str, int, bool)):
                                assert str(got) == segs[c], \
                                    (c, got, segs[c])
    print(f"ICEBERG_CHECK PASS dir={table_dir} version={v} "
          f"schemas={len(schemas)} snapshots_checked={len(targets)} "
          f"files={files_seen} current_rows={total_rows}")


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    check(args[0], all_snapshots="--all-snapshots" in sys.argv)
