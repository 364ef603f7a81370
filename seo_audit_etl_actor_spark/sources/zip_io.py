"""ZIP download, validation, and entry scans (SURVEY §2.1 S1-S4).

Driver-side `zipfile` for the reference-sized case (one ZIP of ~20 small
files — SURVEY §1.4); the distributed variant for many-ZIP corpora is
`spark.read.format("binaryFile")` + the mapInPandas unzip in
sources/zip_distributed.py (explode_zip_entries).
"""

from __future__ import annotations

import io
import urllib.request
import zipfile
from typing import Callable

FetchImpl = Callable[[str], bytes]


def default_fetch(url: str) -> bytes:
    """HTTP(S) fetch → bytes; raises on non-2xx (S1 — the reference errors
    on !res.ok, src/etl.js:98)."""
    with urllib.request.urlopen(url) as resp:  # noqa: S310 — job-config URL
        status = getattr(resp, "status", None)
        # file:// responses carry no status — only HTTP(S) can fail non-2xx
        if status is not None and not (200 <= status < 300):
            raise RuntimeError(f"Download failed: {status}")
        return resp.read()


def is_zip(buf: bytes) -> bool:
    """Magic-byte check: ZIP starts with 'PK' (S2, src/etl.js:102)."""
    return len(buf) >= 2 and buf[:2] == b"PK"


class NotAZipError(ValueError):
    """Raised for non-ZIP payloads; carries the raw bytes so the caller can
    dump a debug artifact (the reference writes ZIP_DEBUG.bin,
    src/etl.js:104)."""

    def __init__(self, payload: bytes):
        super().__init__(
            "Downloaded file is not a ZIP. Use a direct-download link "
            "(Drive: uc?export=download&id=FILE_ID)."
        )
        self.payload = payload


def open_zip(buf: bytes) -> zipfile.ZipFile:
    if not is_zip(buf):
        raise NotAZipError(buf)
    return zipfile.ZipFile(io.BytesIO(buf))


def read_entry(zf: zipfile.ZipFile, name: str, manifest: dict) -> bytes | None:
    """Extract one named entry; record present/missing + size in the
    manifest (S3, src/etl.js:81-87)."""
    try:
        info = zf.getinfo(name)
    except KeyError:
        manifest[name] = {"status": "missing"}
        return None
    data = zf.read(info)
    manifest[name] = {"status": "present", "size": len(data)}
    return data


def open_nested_zip(buf: bytes) -> zipfile.ZipFile:
    """Inner ZIP found inside the outer ZIP (S4, src/etl.js:184-187).
    Raises on corrupt payloads — callers downgrade to 'partial'."""
    return zipfile.ZipFile(io.BytesIO(buf))

