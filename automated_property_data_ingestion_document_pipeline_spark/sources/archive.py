"""Archive sources (r06): ZIP / TAR member extraction over binary
columns — the ingestion mirror of the S9 archive sink. Domain fit:
bulk property-data drops (assessor rolls, recorder exports; reference
S5's upload surface, App.js:252) arrive as archives of many small
documents, and at 100 TB the right Spark shape is "one row per archive
in, one row per member out" — a flat-mapping Arrow mapInPandas, bytes
never touching the driver, downstream decode (the sources/ codecs)
running row-local on the member payloads.

Containers are parsed with the stdlib ``zipfile``/``tarfile`` readers
(battle-tested central-directory / ustar walkers — the novel surface
here is the Spark plumbing and the typed contract, not re-deriving
DEFLATE). Malformed archives raise :class:`ArchiveUnsupported`, the
same typed-error contract as the codec modules, so fuzzed payloads
never kill an executor task with an untyped error. Safety caps:
per-member and total-expansion byte ceilings refuse zip bombs BEFORE
extraction (the claimed sizes from the directory are checked first),
and member names are reported as-is but never touch a filesystem.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame

from automated_property_data_ingestion_document_pipeline_spark.operators.rowmap import map_rows

_MAX_MEMBER_BYTES = 256 * 1024 * 1024
_MAX_TOTAL_BYTES = 1024 * 1024 * 1024
_MAX_MEMBERS = 65_536


class ArchiveUnsupported(ValueError):
    """Payload is not an archive this source handles (malformed central
    directory, truncated tar header, bomb-scale expansion claims, ...)."""


def iter_zip_members(payload: bytes) -> Iterator[tuple[str, bytes]]:
    """(member_name, member_bytes) for every regular file in a ZIP.
    Expansion claims are validated against the caps before any member
    is decompressed; CRC mismatches surface as typed errors."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
        infos = zf.infolist()
    except (
        zipfile.BadZipFile,
        OSError,
        ValueError,
        EOFError,
        NotImplementedError,
    ) as e:
        raise ArchiveUnsupported(f"bad zip: {e}") from e
    if len(infos) > _MAX_MEMBERS:
        raise ArchiveUnsupported(f"{len(infos)} members exceeds cap")
    claimed = sum(i.file_size for i in infos)
    if claimed > _MAX_TOTAL_BYTES or any(
        i.file_size > _MAX_MEMBER_BYTES for i in infos
    ):
        raise ArchiveUnsupported(
            f"claimed expansion {claimed} bytes exceeds bomb cap"
        )
    for info in infos:
        if info.is_dir():
            continue
        try:
            yield info.filename, zf.read(info)
        except (
            zipfile.BadZipFile,
            OSError,
            ValueError,
            NotImplementedError,
            zlib.error,
            EOFError,
        ) as e:
            raise ArchiveUnsupported(f"bad zip member {info.filename}: {e}") from e


def iter_tar_members(payload: bytes) -> Iterator[tuple[str, bytes]]:
    """(member_name, member_bytes) for every regular file in a TAR
    (plain or gz/bz2/xz — tarfile sniffs); same caps as ZIP."""
    try:
        tf = tarfile.open(fileobj=io.BytesIO(payload))
    except (tarfile.TarError, OSError, ValueError, EOFError) as e:
        raise ArchiveUnsupported(f"bad tar: {e}") from e
    n = 0
    total = 0
    try:
        for member in tf:
            if not member.isfile():
                continue
            n += 1
            total += member.size
            if n > _MAX_MEMBERS or member.size > _MAX_MEMBER_BYTES or total > _MAX_TOTAL_BYTES:
                raise ArchiveUnsupported("tar expansion exceeds bomb cap")
            f = tf.extractfile(member)
            if f is None:
                continue
            blob = f.read()
            if len(blob) != member.size:
                # tarfile silently short-reads a truncated data block;
                # surface it as the typed error instead
                raise ArchiveUnsupported(
                    f"tar member {member.name} truncated "
                    f"({len(blob)}/{member.size} bytes)"
                )
            yield member.name, blob
    except (tarfile.TarError, OSError, ValueError, EOFError, zlib.error) as e:
        raise ArchiveUnsupported(f"bad tar member: {e}") from e


def _sniff(payload: bytes):
    if payload[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x06\x06"):
        return iter_zip_members
    return iter_tar_members


def unpack_archive(df: DataFrame) -> DataFrame:
    """One input row (id, archive bytes) → one output row per member
    ``(id, member_name, member_bytes, n_bytes)`` via ``map_rows`` — the
    same executor-local flat-map shape as ``sample_frames``. The format
    is sniffed per payload (the PK magic marks a ZIP). NULL
    payloads produce no rows; malformed archives raise the typed
    :class:`ArchiveUnsupported` so callers can quarantine rather than
    lose the task."""

    def _unpack(rid, payload):
        if payload is None:
            return
        for name, blob in _sniff(payload)(payload):
            yield rid, name, blob, len(blob)

    return map_rows(
        df.select("doc_id", "content"),
        "doc_id bigint, member_name string, member_bytes binary, n_bytes bigint",
        _unpack,
    )


def build_zip(members: list[tuple[str, bytes]], deflate: bool = True) -> bytes:
    """Fixture builder: members → ZIP bytes (deflated or stored)."""
    buf = io.BytesIO()
    comp = zipfile.ZIP_DEFLATED if deflate else zipfile.ZIP_STORED
    with zipfile.ZipFile(buf, "w", compression=comp) as zf:
        for name, blob in members:
            zf.writestr(name, blob)
    return buf.getvalue()


def build_tar(members: list[tuple[str, bytes]], gz: bool = False) -> bytes:
    """Fixture builder: members → TAR (optionally gzip) bytes."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz" if gz else "w") as tf:
        for name, blob in members:
            info = tarfile.TarInfo(name)
            info.size = len(blob)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(blob))
    return buf.getvalue()
