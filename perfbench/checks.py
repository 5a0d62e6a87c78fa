"""Output checks that do not reuse the engine's own code paths.

``read_job_dir`` walks a convert job directory's TFRecord shards with
its own framing parser and its own CRC-32C, so a writer-side regression
in framing, checksums or compression cannot also hide in the check.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import struct
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

_MASK_DELTA = 0xA282EAD8


def _crc_table() -> np.ndarray:
    table = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        table = np.where(table & 1, (table >> 1) ^ np.uint32(0x82F63B78), table >> 1)
    return table.astype(np.uint32)


_TABLE = _crc_table()


def masked_crc32c(blobs: list[bytes]) -> np.ndarray:
    """Masked CRC-32C (Castagnoli) of each blob, all blobs stepped in
    lockstep one byte position at a time."""
    n = len(blobs)
    if not n:
        return np.zeros(0, dtype=np.uint32)
    lengths = np.fromiter(map(len, blobs), dtype=np.int64, count=n)
    width = int(lengths.max())
    grid = np.zeros((n, width), dtype=np.uint8)
    for i, b in enumerate(blobs):
        grid[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    crc = np.full(n, 0xFFFFFFFF, dtype=np.uint32)
    for j in range(width):
        stepped = _TABLE[(crc ^ grid[:, j]) & 0xFF] ^ (crc >> np.uint32(8))
        crc = np.where(lengths > j, stepped, crc)
    crc ^= np.uint32(0xFFFFFFFF)
    rotated = (crc >> np.uint32(15)) | (crc << np.uint32(17))
    return (rotated.astype(np.uint64) + _MASK_DELTA).astype(np.uint32)


def parse_records(stream: bytes) -> tuple[list[bytes], list[bytes], list[int], list[int]]:
    """Split a raw TFRecord stream into (headers, payloads, header CRCs,
    payload CRCs). Raises ValueError on truncation."""
    headers, payloads, hcrc, dcrc = [], [], [], []
    pos, n = 0, len(stream)
    while pos < n:
        if pos + 12 > n:
            raise ValueError(f"truncated header at {pos}")
        (length,) = struct.unpack_from("<Q", stream, pos)
        end = pos + 12 + length + 4
        if end > n:
            raise ValueError(f"truncated record at {pos}")
        headers.append(stream[pos : pos + 8])
        hcrc.append(struct.unpack_from("<I", stream, pos + 8)[0])
        payloads.append(stream[pos + 12 : pos + 12 + length])
        dcrc.append(struct.unpack_from("<I", stream, end - 4)[0])
        pos = end
    return headers, payloads, hcrc, dcrc


@dataclass
class JobDirSummary:
    records: Counter = field(default_factory=Counter)
    shards: int = 0
    shard_bytes: int = 0
    bad_crc: int = 0
    digest: str = ""

    @property
    def total_records(self) -> int:
        return sum(self.records.values())


def read_job_dir(job_dir: str) -> JobDirSummary:
    """Verify every record of every ``*.tfrecord*`` shard in ``job_dir``.

    Only shard files count towards sizes: the job directory also holds
    a copy of the ever-growing job log, which would otherwise inflate
    bytes per record by one log line per convert. The digest is a
    sha256 over the sorted sha256s of the record payloads, so it does
    not depend on shard count or record order."""
    out = JobDirSummary()
    hashes: list[bytes] = []
    for name in sorted(os.listdir(job_dir)):
        if ".tfrecord" not in name or name.startswith("."):
            continue
        path = os.path.join(job_dir, name)
        with open(path, "rb") as fh:
            raw = fh.read()
        out.shards += 1
        out.shard_bytes += len(raw)
        stream = gzip.decompress(raw) if name.endswith(".gz") else raw
        headers, payloads, hcrc, dcrc = parse_records(stream)
        out.bad_crc += int((masked_crc32c(headers) != np.array(hcrc, dtype=np.uint32)).sum())
        out.bad_crc += int((masked_crc32c(payloads) != np.array(dcrc, dtype=np.uint32)).sum())
        out.records[name.split("-", 1)[0].upper()] += len(payloads)
        hashes.extend(hashlib.sha256(p).digest() for p in payloads)
    h = hashlib.sha256()
    for item in sorted(hashes):
        h.update(item)
    out.digest = h.hexdigest()
    return out
