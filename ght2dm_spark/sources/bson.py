"""BSON dump source (S1/S2/S3): reads GHTorrent-style directories of
date-named ``.bson`` dump files into a DataFrame with provenance columns.

The reference reads each file as a sequence of length-prefixed BSON
documents, one at a time (framing ``/root/reference/ght2dm.go:212-236``),
keeps only files whose names contain a ``YYYY-MM-DD`` date (unanchored
match, ``ght2dm.go:1023-1029``), and processes newest-first so earlier
documents win (``ght2dm.go:985-1011``).  Here:

- ``spark.read.format("binaryFile")`` only LISTS the dump files (path
  column, never ``content``, so ``binaryFile.maxLength`` does not cap a
  dump's size); the file's date is parsed from its name in that listing;
- an Arrow-batched ``mapInPandas`` opens each file itself, streams its
  frames with :func:`stream_frames` and decodes documents with
  :func:`decode_doc`, a dependency-free decoder for the BSON subset the
  reference's structs use (string/bool/int32/int64/nested doc;
  everything else is skipped like ``bson.Unmarshal`` drops untagged
  fields, ``ght2dm.go:287``).  Rows leave in batches of
  :data:`BATCH_ROWS`, so memory is bounded by one batch, not one file;
- the file's date and each document's 0-based position become
  ``file_date`` / ``file_pos`` columns — the inputs of the newest-wins
  window (operators.dedup.dedup_newest), replacing the reference's
  process-order dependence with explicit, shuffle-stable ordering.

Malformed frames/documents are not fatal: they land in a parallel
rejects output (E1, ``ght2dm.go:281-290``).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# First YYYY-MM-DD token of a dump file's name (group 1).
FILE_DATE_PATTERN = r"(\d{4}-\d{2}-\d{2})"

# Rows per pandas frame the decoder yields (the default Arrow batch
# size, spark.sql.execution.arrow.maxRecordsPerBatch).
BATCH_ROWS = 10_000

# BSON element types the reference's structs need; sizes for skippables.
_T_DOUBLE = 0x01
_T_STRING = 0x02
_T_DOC = 0x03
_T_ARRAY = 0x04
_T_BINARY = 0x05
_T_OBJECTID = 0x07
_T_BOOL = 0x08
_T_DATETIME = 0x09
_T_NULL = 0x0A
_T_INT32 = 0x10
_T_TIMESTAMP = 0x11
_T_INT64 = 0x12


class BsonError(ValueError):
    pass


def stream_frames(fh) -> Iterator[bytes]:
    """Yield each length-prefixed document (the 4 length bytes included,
    as in the reference's ReadDoc, ``ght2dm.go:212-236``) from a binary
    file handle, reading one frame at a time — a multi-GB dump never
    materializes in memory.  A partial length prefix or a frame the file
    can't satisfy is a :class:`BsonError` (the reference fails only the
    bad read)."""
    off = 0
    while True:
        head = fh.read(4)
        if not head:
            return
        if len(head) < 4:
            raise BsonError(f"trailing {len(head)} bytes, not a frame")
        (size,) = struct.unpack_from("<i", head, 0)
        if size < 5:
            raise BsonError(f"bad frame size {size} at offset {off}")
        body = fh.read(size - 4)
        if len(body) < size - 4:
            raise BsonError(f"bad frame size {size} at offset {off}")
        yield head + body
        off += size


def decode_doc(doc: bytes) -> dict:
    """Decode one BSON document to a dict (subset decoder: the types the
    GHTorrent entities use; unknown fields of other types are skipped,
    matching tag-driven bson.Unmarshal).

    Error surface: EVERY malformed interior — truncated value, string
    length past the buffer, missing interior NUL, non-UTF8 field name,
    negative length that would walk the offset backwards — raises
    :class:`BsonError`, never struct.error/IndexError/etc.  The reject
    routing in the reader catches exactly BsonError (E1, 'malformed
    documents are not fatal'); a leaked stdlib exception would fail the
    whole task on one bad frame."""
    try:
        return _decode_doc_inner(doc)
    except BsonError:
        raise
    except Exception as exc:  # noqa: BLE001 — parser boundary (see above)
        raise BsonError(f"malformed document interior: {exc!r}") from exc


def _decode_doc_inner(doc: bytes) -> dict:
    (size,) = struct.unpack_from("<i", doc, 0)
    if size != len(doc) or doc[-1] != 0:
        raise BsonError("document size/terminator mismatch")
    out: dict = {}
    off = 4
    while True:
        t = doc[off]
        if t == 0:
            break
        off += 1
        end = doc.index(b"\x00", off)
        name = doc[off:end].decode("utf-8")
        off = end + 1
        if t == _T_STRING:
            (slen,) = struct.unpack_from("<i", doc, off)
            if slen < 1:  # would move off backwards → non-advancing loop
                raise BsonError(f"bad string length {slen} for {name!r}")
            out[name] = doc[off + 4 : off + 4 + slen - 1].decode("utf-8", "replace")
            off += 4 + slen
        elif t == _T_BOOL:
            out[name] = doc[off] != 0
            off += 1
        elif t == _T_INT32:
            (out[name],) = struct.unpack_from("<i", doc, off)
            off += 4
        elif t == _T_INT64:
            (out[name],) = struct.unpack_from("<q", doc, off)
            off += 8
        elif t in (_T_DOC, _T_ARRAY):
            (dlen,) = struct.unpack_from("<i", doc, off)
            if dlen < 5:
                raise BsonError(f"bad subdocument length {dlen} for {name!r}")
            if t == _T_DOC:
                out[name] = _decode_doc_inner(doc[off : off + dlen])
            off += dlen
        elif t in (_T_DOUBLE, _T_DATETIME, _T_TIMESTAMP):
            off += 8
        elif t == _T_OBJECTID:
            off += 12
        elif t == _T_NULL:
            pass
        elif t == _T_BINARY:
            (blen,) = struct.unpack_from("<i", doc, off)
            if blen < 0:
                raise BsonError(f"bad binary length {blen} for {name!r}")
            off += 4 + 1 + blen
        else:
            raise BsonError(f"unsupported BSON type 0x{t:02x} for field {name}")
    return out


def build_doc_row(frame, fields, flatten, file_date, pos) -> dict:
    """One BSON frame → row dict: tag-driven extraction (P1 — unknown
    fields dropped, missing fields None), dotted flatten specs, and the
    provenance meta columns.  A decode error becomes a _corrupt reject
    row rather than an exception (E1)."""
    row = dict.fromkeys(fields)
    row["file_date"] = file_date
    row["file_pos"] = pos
    row["_corrupt"] = None
    try:
        d = decode_doc(frame)
        for f in fields:
            if f in flatten:
                outer, inner = flatten[f]
                sub = d.get(outer)
                row[f] = sub.get(inner) if isinstance(sub, dict) else None
            elif f not in ("file_date", "file_pos", "_corrupt"):
                row[f] = d.get(f)
    except BsonError as e:
        row["_corrupt"] = str(e)
    return row


def read_bson_dumps(
    spark: SparkSession,
    path: str,
    schema: StructType,
    flatten: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Directory of ``*.bson`` dumps → DataFrame of ``schema`` fields +
    ``file_date`` (date) + ``file_pos`` (long) + ``_corrupt`` (string,
    NULL for good rows — malformed frames land here instead of killing
    the job, E1).

    ``flatten``: output field → (nested doc field, inner field), e.g.
    ``{"owner_login": ("owner", "login")}`` for ghRepo.Owner.Login
    (``ght2dm.go:90-92``).
    """
    flatten = flatten or {}
    fields = [f.name for f in schema.fields]
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)
        + ", file_date date, file_pos long, _corrupt string"
    )

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bson")
        .load(path)
        # S2: only date-named FILES participate (unanchored over the
        # basename, like the reference's MatchString on d.Name(),
        # ght2dm.go:1023 — matched against the full path, a dated
        # ancestor directory would both admit undated files and stamp
        # them with the directory's date).  A date-shaped token that is
        # not a calendar date ('9999-99-99') parses to NULL and the file
        # is skipped like an undated one; so is year 0000, which Spark
        # parses but Python's date (the decoder's file_date) cannot hold.
        .select(
            "path",
            F.try_to_date(
                F.regexp_extract(
                    F.element_at(F.split("path", "/"), -1), FILE_DATE_PATTERN, 1
                )
            ).alias("file_date"),
        )
        .filter(F.year("file_date") > 0)
    )

    cols = [*fields, "file_date", "file_pos", "_corrupt"]

    def decode_files(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for fpath, fdate in zip(pdf["path"], pdf["file_date"]):
                # binaryFile paths are "file:" + the plain local path
                # (not an escaped URI: a space stays a space)
                with open(fpath.removeprefix("file:"), "rb") as fh:
                    try:
                        for pos, frame in enumerate(stream_frames(fh)):
                            rows.append(
                                build_doc_row(frame, fields, flatten, fdate, pos)
                            )
                            if len(rows) >= BATCH_ROWS:
                                yield pd.DataFrame(rows, columns=cols)
                                rows = []
                    except BsonError as e:
                        # Frames before a corrupt one still import (the
                        # reference reads sequentially and fails only the
                        # bad read, ght2dm.go:281-284); the corrupt tail
                        # becomes one reject row.
                        rows.append(
                            {**dict.fromkeys(fields), "file_date": fdate,
                             "file_pos": -1, "_corrupt": f"frame: {e}"}
                        )
        if rows:
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(decode_files, schema=out_schema)


def split_rejects(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good rows without _corrupt, reject rows) — E1 routing."""
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    rejects = df.filter(F.col("_corrupt").isNotNull())
    return good, rejects

