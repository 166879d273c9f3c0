"""Small file helpers: input tables, directory sizes, output digests."""

from __future__ import annotations

import hashlib
import os
from typing import Dict, Iterable, List, Optional, Tuple


def read_bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def file_hashes(path: str, suffix: str) -> Dict[str, str]:
    """File name -> sha256 for the files in ``path`` ending in ``suffix``."""
    return {f: hashlib.sha256(read_bytes(os.path.join(path, f))).hexdigest()
            for f in sorted(os.listdir(path)) if f.endswith(suffix)}


def text_digest(pairs: Iterable[Tuple[str, Optional[str]]]) -> str:
    """Order-independent digest of (url, text) rows."""
    rows = sorted(hashlib.sha256(
        u.encode() + b"\0" + (t or "").encode()).digest() for u, t in pairs)
    return hashlib.sha256(b"".join(rows)).hexdigest()


def write_pages(rows: List[Dict], out_dir: str, n_files: int) -> None:
    """PAGES_SCHEMA rows -> ``n_files`` parquet files (round-robin), so
    the scan has enough splits to occupy every core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        part = rows[f::n_files]
        tbl = pa.Table.from_pylist(
            [{k: r.get(k) for k in schema.names} for r in part], schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{f:03d}.parquet"))
