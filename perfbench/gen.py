"""Seeded input generator for the benchmark.

Everything written here is a pure function of ``seed``: the same seed
gives byte-identical dumps and tables.  The program under test only
ever sees the files this module writes.

* WARC dumps: ``make_doc``-shaped pages as member-per-record
  ``.warc.gz`` shards plus CDXJ sidecars.  HTTP bodies carry a fixed
  ``Content-Encoding`` mix (``ENCODING_MIX``); ``br`` bodies are
  compressed with pyarrow's bundled brotli codec because the WARC
  writer in ``io.warc`` has no brotli encoder.
* Tables for ``scan-file``: csv, jsonl with nested objects and parquet
  of varied widths, with row counts under and far above the CLI limit.
"""

from __future__ import annotations

import csv
import json
import os
import random
import re
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from metacrafter_spark.corpus.webpages import make_doc
from metacrafter_spark.io.warc import (
    build_http_response, build_record, cdx_line, gzip_member,
)

#: share of HTTP bodies per Content-Encoding, in draw order
ENCODING_MIX = (("identity", 0.4), ("gzip", 0.3), ("br", 0.3))

# the exact shapes make_doc plants; the scrubber must remove every hit
PII_PATTERNS = {
    "email": re.compile(r"user\d+@mail\d\.example\.com"),
    "phone": re.compile(r"\+1-415-555-\d{4}"),
    "uuid": re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
                       r"-[0-9a-f]{12}"),
    "card": re.compile(r"Card on file: (\d{4} \d{4} \d{4} \d{4})"),
}


def planted_pii(text: str) -> list[str]:
    """Every PII string planted in ``text`` by ``make_doc``."""
    out = []
    for kind, rx in PII_PATTERNS.items():
        for m in rx.finditer(text):
            out.append(m.group(1) if kind == "card" else m.group(0))
    return out


def _encoding(seed: int, doc_id: int) -> str:
    r = random.Random(f"enc|{seed}|{doc_id}").random()
    acc = 0.0
    for name, share in ENCODING_MIX:
        acc += share
        if r < acc:
            return name
    return ENCODING_MIX[-1][0]


def _http(body: bytes, encoding: str) -> bytes:
    if encoding == "br":
        wire = pa.compress(body, codec="brotli", asbytes=True)
        return build_http_response(
            wire, extra_headers=(("Content-Encoding", "br"),))
    if encoding == "gzip":
        return build_http_response(body, content_encoding="gzip")
    return build_http_response(body)


def _write_shards(pages: list[dict], out_dir: str, seed: int,
                  shards: int) -> None:
    warc_dir = os.path.join(out_dir, "warc")
    cdx_dir = os.path.join(out_dir, "cdx")
    os.makedirs(warc_dir, exist_ok=True)
    os.makedirs(cdx_dir, exist_ok=True)
    for s in range(shards):
        name = f"part-{s:05d}.warc.gz"
        chunks, lines, offset = [], [], 0
        for p in pages[s::shards]:
            http = _http(p["html"], _encoding(seed, p["doc_id"]))
            member = gzip_member(build_record(
                "response", http, url=p["url"], date=p["ts"]))
            lines.append(cdx_line(p["url"], p["ts"], name, offset,
                                  len(member)))
            chunks.append(member)
            offset += len(member)
        with open(os.path.join(warc_dir, name), "wb") as f:
            f.write(b"".join(chunks))
        with open(os.path.join(cdx_dir, f"part-{s:05d}.cdxj"), "w",
                  encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")


def _page(doc_id: int, seed: int) -> dict:
    d = make_doc(doc_id, seed)
    html = ("<html><head><title>doc %d</title></head><body>%s</body></html>"
            % (doc_id, d["text"])).encode("utf-8")
    return {"doc_id": doc_id, "url": d["url"], "ts": d["warc_ts"],
            "html": html, "pii": planted_pii(d["text"])}


def pages(seed: int, n: int) -> list[dict]:
    return [_page(i, seed) for i in range(n)]


def write_dump(pages: list[dict], out_dir: str, seed: int,
               shards: int) -> dict:
    """Write ``pages`` as WARC + CDXJ under ``out_dir``; return the
    manifest the correctness checks read (url → planted PII)."""
    _write_shards(pages, out_dir, seed, shards)
    return {
        "cdx_glob": os.path.join(out_dir, "cdx", "*.cdxj"),
        "warc_dir": os.path.join(out_dir, "warc"),
        "pages": len(pages),
        "pii": {p["url"]: p["pii"] for p in pages},
    }


# ---------------------------------------------------------------------------
# tables for scan-file
# ---------------------------------------------------------------------------

def _nested_rows(n: int, seed: int) -> list[dict]:
    rng = random.Random(f"nested|{seed}")
    rows = []
    for i in range(n):
        h = f"{rng.getrandbits(128):032x}"
        rows.append({
            "id": i,
            "user": {
                "email": f"person{i}@example{i % 5}.org",
                "phone": f"+1-202-555-{rng.randint(0, 9999):04d}",
                "uuid": f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}",
            },
            "geo": {"country": rng.choice(["US", "DE", "FR", "JP"]),
                    "city": rng.choice(["Paris", "Berlin", "Tokyo"])},
            "tags": [rng.choice(["news", "blog", "shop"])
                     for _ in range(rng.randint(1, 3))],
            "created": (datetime(2024, 1, 1)
                        + timedelta(minutes=rng.randint(0, 500000))
                        ).strftime("%Y-%m-%dT%H:%M:%S"),
        })
    return rows


def _stringify(rows: list[dict]) -> list[dict]:
    return [{k: ("" if v is None else str(v)) for k, v in r.items()}
            for r in rows]


#: columns of the csv table (of the rule-fixture profiles)
CSV_COLS = ("row_id", "email", "phone", "uuid", "country", "birthday")
#: columns of the wider parquet table
PARQUET_WIDTH = 9


def write_tables(out_dir: str, seed: int, fixtures) -> list[dict]:
    """Write the scan tables; return one spec per table: path, column
    count and labels the scan must give (column → dataclass)."""
    os.makedirs(out_dir, exist_ok=True)
    specs = []
    # narrow csv, under the CLI limit
    rows = _stringify(fixtures.pii_profiles(60, seed))
    path = os.path.join(out_dir, "profiles_small.csv")
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(CSV_COLS)
        w.writerows([r[c] for c in CSV_COLS] for r in rows)
    specs.append({"path": path, "cols": len(CSV_COLS),
                  "expect": {"email": "email", "uuid": "uuid"}})
    # wider parquet, far above the CLI limit
    rows = _stringify(fixtures.pii_profiles(1500, seed))
    keep = list(rows[0])[:PARQUET_WIDTH]
    path = os.path.join(out_dir, "profiles_large.parquet")
    pq.write_table(pa.Table.from_pylist(
        [{k: r[k] for k in keep} for r in rows]), path)
    specs.append({"path": path, "cols": len(keep),
                  "expect": {"email": "email", "uuid": "uuid"}})
    # nested jsonl, above the CLI limit
    rows = _nested_rows(1000, seed)
    path = os.path.join(out_dir, "nested.jsonl")
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    specs.append({"path": path, "cols": 7,
                  "expect": {"user.email": "email"}})
    return specs
