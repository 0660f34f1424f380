#!/usr/bin/env python3
"""Build the committed Avro NAV corpus (dev-side, run once).

Hand-rolls the Avro object-container format (public spec: magic
'Obj\\x01', metadata map with avro.schema/avro.codec, 16-byte sync
marker, then length-prefixed blocks of zigzag-varint-encoded records)
— 28 readable files with multiple blocks each, one bad-magic file and
one mid-block-truncated file — plus the expected.parquet sidecar the
DuckDB oracle reads.

Independence: this writer shares no code with the Scala reader (which
uses org.apache.avro's DataFileReader); the sidecar aggregates are
computed from the SOURCE values before encoding, so reader bugs can't
self-confirm. Deterministic output (values derived from file/row
indices, sync marker from the file name) so the corpus commits
cleanly.
"""
import hashlib
import json
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST = os.path.join(ROOT, "data", "avro")

SCHEMA = json.dumps({
    "type": "record", "name": "FundNav", "fields": [
        {"name": "row_id", "type": "long"},
        {"name": "fund_code", "type": "string"},
        {"name": "nav", "type": "double"},
        {"name": "trade_date", "type": "string"},
        {"name": "units", "type": "long"},
    ]}, separators=(",", ":"))


def zigzag(n):
    return (n << 1) ^ (n >> 63)


def varint(n):
    out = b""
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out += bytes([b | 0x80])
        else:
            out += bytes([b])
            return out


def enc_long(v):
    return varint(zigzag(v) & 0xFFFFFFFFFFFFFFFF)


def enc_str(s):
    b = s.encode("utf-8")
    return enc_long(len(b)) + b


def enc_double(v):
    return struct.pack("<d", v)


def record(row_id, code, nav, date, units):
    return (enc_long(row_id) + enc_str(code) + enc_double(nav) +
            enc_str(date) + enc_long(units))


def container(name, rows, block_size=7):
    sync = hashlib.md5(name.encode()).digest()
    head = (b"Obj\x01" + enc_long(2) +
            enc_str("avro.schema") + enc_str(SCHEMA) +
            enc_str("avro.codec") + enc_str("null") +
            enc_long(0) + sync)
    body = b""
    for i in range(0, len(rows), block_size):
        blk = b"".join(record(*r) for r in rows[i:i + block_size])
        body += enc_long(len(rows[i:i + block_size])) + enc_long(len(blk)) + blk + sync
    return head + body


def rows_for(fi, n):
    out = []
    for ri in range(n):
        code = "F%04d" % ((fi * 131 + ri * 17) % 97)
        nav = 1.0 + ((fi * 53 + ri * 29) % 40000) / 10000.0
        date = "2024-%02d-%02d" % (1 + (fi % 12), 1 + (ri % 28))
        units = 1000 + (fi * 997 + ri * 7919) % 100000
        out.append((fi * 1000 + ri, code, nav, date, units))
    return out


def main():
    # optional scale mode: gen_avro.py <dst_dir> <factor> writes
    # factor*28 readable containers (no sidecar, no corrupt legs) for
    # a listing/decode-amortization measurement (the retired Profile
    # --avro-scale mode's numbers are recorded in SURVEY.md)
    if len(sys.argv) == 3:
        dst, factor = sys.argv[1], int(sys.argv[2])
        os.makedirs(dst, exist_ok=True)
        for fi in range(28 * factor):
            name = "nav_%05d.avro" % fi
            with open(os.path.join(dst, name), "wb") as f:
                f.write(container(name, rows_for(fi, 5 + (fi * 13) % 45)))
        print("wrote", 28 * factor, "containers to", dst)
        return
    os.makedirs(DST, exist_ok=True)
    side = []
    for fi in range(28):
        name = "nav_%03d.avro" % fi
        rows = rows_for(fi, 5 + (fi * 13) % 45)
        with open(os.path.join(DST, name), "wb") as f:
            f.write(container(name, rows))
        codes = [r[1] for r in rows]
        side.append({
            "file_name": name, "avro_ok": True,
            "n_rows": len(rows),
            "sum_units": sum(r[4] for r in rows),
            "nav_e4_sum": sum(int(r[2] * 10000 + 0.5) for r in rows),
            "first_code": codes[0], "last_code": codes[-1],
            "n_codes": len(set(codes)),
        })
    # corrupt leg 1: not an avro container at all
    with open(os.path.join(DST, "nav_badmagic.avro"), "wb") as f:
        f.write(b"NOPE" + b"\x00" * 64)
    # corrupt leg 2: valid header, block truncated mid-record
    rows = rows_for(99, 20)
    blob = container("nav_truncated.avro", rows)
    with open(os.path.join(DST, "nav_truncated.avro"), "wb") as f:
        f.write(blob[: len(blob) - 37])
    for name in ("nav_badmagic.avro", "nav_truncated.avro"):
        side.append({
            "file_name": name, "avro_ok": False, "n_rows": 0,
            "sum_units": 0, "nav_e4_sum": 0,
            "first_code": None, "last_code": None, "n_codes": 0,
        })
    side.sort(key=lambda r: r["file_name"])
    tbl = pa.table({
        "file_name": [r["file_name"] for r in side],
        "avro_ok": [r["avro_ok"] for r in side],
        "n_rows": pa.array([r["n_rows"] for r in side], pa.int64()),
        "sum_units": pa.array([r["sum_units"] for r in side], pa.int64()),
        "nav_e4_sum": pa.array([r["nav_e4_sum"] for r in side], pa.int64()),
        "first_code": [r["first_code"] for r in side],
        "last_code": [r["last_code"] for r in side],
        "n_codes": pa.array([r["n_codes"] for r in side], pa.int64()),
    })
    pq.write_table(tbl, os.path.join(DST, "expected.parquet"))
    print("wrote", len(side), "entries to", DST)


if __name__ == "__main__":
    main()
