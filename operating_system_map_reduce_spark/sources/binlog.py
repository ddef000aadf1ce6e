"""Byte-exact reader/writer for the reference's on-disk persistence
format (p3/server/format.h:1-120) -- the migration/parity path for users
whose tooling asserts exact file sizes and tag offsets
(p3/scripts/cse303.py:295-302 verify_filesize / verify_peek,
used in p3/scripts/p3.py).

Entry grammar (all tags 8 ASCII bytes; all lengths 8-byte
little-endian unsigned, the x86 size_t binary write; every entry padded
with NULs to the next 8-byte boundary):

  AUTHAUTH  len(uname) len(salt) len(hash) len(profile)
            uname salt hash [profile if non-empty]
  KVKVKVKV  len(key) len(val)   key val
  KVUPDATE  len(key) len(val)   key val
  KVDELETE  len(key)            key
  AUTHDIFF  len(uname) len(profile)  uname [profile if non-empty]

The engine's native durability is the parquet changelog
(sources/changelog.py) -- distributed, compactable, column-pruned.
This module is the protocol-parity artifact: the file is inherently a
single sequential byte stream, so export iterates the state through
the driver (the same protocol-mandated class as the engine's payload
folds, NOT a data path; at 100 TB you export a manifest, not one file).
"""

from __future__ import annotations

import struct
from collections.abc import Iterable, Iterator

AUTHENTRY = b"AUTHAUTH"
KVENTRY = b"KVKVKVKV"
KVUPDATE = b"KVUPDATE"
KVDELETE = b"KVDELETE"
AUTHDIFF = b"AUTHDIFF"

# tag -> number of length fields; which trailing fields may be empty
# (and are then OMITTED from the byte stream, per format.h: "If the
# profile file isn't empty, binary write of the bytes...")
_ARITY = {AUTHENTRY: 4, KVENTRY: 2, KVUPDATE: 2, KVDELETE: 1, AUTHDIFF: 2}


def _pad(n: int) -> int:
    """Bytes of NUL padding to reach the next 8-byte boundary."""
    return (8 - n % 8) % 8


def entry_bytes(tag: bytes, *fields: bytes) -> bytes:
    """Serialize one entry exactly as the reference's binary writes do."""
    arity = _ARITY.get(tag)
    if arity is None:
        raise ValueError(f"unknown tag {tag!r}")
    if len(fields) != arity:
        raise ValueError(f"{tag!r} takes {arity} fields, got {len(fields)}")
    out = bytearray(tag)
    for f in fields:
        out += struct.pack("<Q", len(f))
    for f in fields:
        out += f  # empty fields contribute nothing, matching format.h
    out += b"\x00" * _pad(len(out))
    return bytes(out)


def entry_size(tag: bytes, *field_lens: int) -> int:
    """The exact on-disk size of an entry -- the arithmetic
    verify_filesize expectations are built from."""
    n = 8 + 8 * len(field_lens) + sum(field_lens)
    return n + _pad(n)


def write_entries(path: str, entries: Iterable[tuple[bytes, ...]]) -> int:
    """Append entries ((tag, field, ...) tuples) to path; returns bytes
    written.  Caller controls open mode via prior truncation."""
    total = 0
    with open(path, "ab") as fh:
        for tag, *fields in entries:
            b = entry_bytes(tag, *fields)
            fh.write(b)
            total += len(b)
        fh.flush()
    return total


def read_entries(path: str) -> Iterator[tuple[bytes, ...]]:
    """Parse a reference-format file back into (tag, field, ...) tuples
    -- the load_file() grammar: tag, lengths, bytes, skip padding."""
    with open(path, "rb") as fh:
        data = fh.read()
    pos = 0
    while pos < len(data):
        tag = data[pos:pos + 8]
        arity = _ARITY.get(tag)
        if arity is None:
            raise ValueError(f"corrupt file {path!r}: bad tag {tag!r} at {pos}")
        pos += 8
        # bounds-check the length block and every field: a truncated or
        # corrupt file must raise (naming the offset, like the bad-tag
        # diagnostic), never round-trip silently-short fields as data
        if pos + 8 * arity > len(data):
            raise ValueError(
                f"corrupt file {path!r}: truncated length block at {pos}")
        lens = []
        for _ in range(arity):
            (ln,) = struct.unpack_from("<Q", data, pos)
            lens.append(ln)
            pos += 8
        fields = []
        for ln in lens:
            if pos + ln > len(data):
                raise ValueError(
                    f"corrupt file {path!r}: field of {ln} bytes "
                    f"overruns EOF at {pos}")
            fields.append(data[pos:pos + ln])
            pos += ln
        consumed = 8 + 8 * arity + sum(lens)
        pos += _pad(consumed)
        yield (tag, *fields)
