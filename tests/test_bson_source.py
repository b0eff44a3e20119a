"""BSON dump source tests (S1/S2/S3): hand-encoded length-prefixed BSON
files → read_bson_dumps → decoded rows with provenance; misnamed files
skipped; malformed frames routed to rejects; end-to-end into
import_users.
"""

from __future__ import annotations

import io
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ght2dm_spark.sources.bson import (
    BATCH_ROWS,
    BsonError,
    read_bson_dumps,
    split_rejects,
    stream_frames,
)


# --- minimal BSON encoder (test-side mirror of the subset decoder) ---
def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _elem(name: str, v) -> bytes:
    if isinstance(v, bool):
        return bytes([0x08]) + _cstr(name) + (b"\x01" if v else b"\x00")
    if isinstance(v, int):
        return bytes([0x12]) + _cstr(name) + struct.pack("<q", v)
    if isinstance(v, str):
        b = v.encode()
        return bytes([0x02]) + _cstr(name) + struct.pack("<i", len(b) + 1) + b + b"\x00"
    if isinstance(v, dict):
        return bytes([0x03]) + _cstr(name) + enc_doc(v)
    if isinstance(v, float):
        return bytes([0x01]) + _cstr(name) + struct.pack("<d", v)
    raise TypeError(type(v))


def enc_doc(d: dict) -> bytes:
    body = b"".join(_elem(k, v) for k, v in d.items())
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


_schema = StructType(
    [
        StructField("id", LongType()),
        StructField("login", StringType()),
        StructField("type", StringType()),
        StructField("hireable", BooleanType()),
        StructField("followers", LongType()),
        StructField("owner_login", StringType()),
    ]
)


@pytest.fixture(scope="module")
def dump_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("dumps")
    docs_new = [
        {"id": 1, "login": "alice", "type": "User", "hireable": True,
         "followers": 7, "ignored_float": 1.5,
         "owner": {"login": "nested_owner"}},
        {"id": 2, "login": "bob", "type": "User"},
    ]
    docs_old = [
        {"id": 1, "login": "old_alice", "type": "User"},
    ]
    (d / "2014-01-02.bson").write_bytes(b"".join(enc_doc(x) for x in docs_new))
    (d / "2014-01-01.bson").write_bytes(b"".join(enc_doc(x) for x in docs_old))
    # S2: no date in the name → skipped entirely
    (d / "notes.bson").write_bytes(enc_doc({"id": 99, "login": "ghost"}))
    # E1: a file with one good doc then a corrupt frame
    good = enc_doc({"id": 3, "login": "carol", "type": "User"})
    (d / "2014-01-03.bson").write_bytes(good + b"\x02\x00\x00")
    return str(d)


def test_stream_frames_roundtrip():
    docs = [{"id": 1, "login": "x"}, {"id": 2, "login": "y"}]
    buf = b"".join(enc_doc(x) for x in docs)
    sizes = [len(enc_doc(d)) for d in docs]
    assert [len(f) for f in stream_frames(io.BytesIO(buf))] == sizes
    # a partial trailing length prefix is a BsonError, after the good frames
    frames = stream_frames(io.BytesIO(buf + b"\x02\x00"))
    assert [len(next(frames)) for _ in docs] == sizes
    with pytest.raises(BsonError, match="trailing 2 bytes"):
        next(frames)


def test_read_decodes_with_provenance(spark, dump_dir):
    df = read_bson_dumps(
        spark, dump_dir, _schema, flatten={"owner_login": ("owner", "login")}
    )
    good, rejects = split_rejects(df)
    rows = {(r["id"], str(r["file_date"])): r for r in good.collect()}
    # all dated files decoded, positions 0-based per file
    assert rows[(1, "2014-01-02")]["file_pos"] == 0
    assert rows[(2, "2014-01-02")]["file_pos"] == 1
    assert rows[(1, "2014-01-01")]["login"] == "old_alice"
    # nested Owner.Login flattened (ght2dm.go:90-92)
    assert rows[(1, "2014-01-02")]["owner_login"] == "nested_owner"
    # missing fields → NULL (zero-value policy applied downstream)
    assert rows[(2, "2014-01-02")]["hireable"] is None
    # misnamed file skipped (S2)
    assert (99, "2014-01-01") not in rows and not any(r["id"] == 99 for r in rows.values())
    # corrupt tail frame → rejects, good doc in the same file survives (E1)
    assert rejects.count() == 1
    assert rows[(3, "2014-01-03")]["login"] == "carol"


def test_bson_feeds_users_pipeline(spark, dump_dir):
    """S3+F3 end-to-end: BSON source → newest-wins → users pipeline."""
    from ght2dm_spark.pipelines import import_users

    full_schema = StructType(
        [
            *_schema.fields,
            StructField("name", StringType()),
            StructField("company", StringType()),
            StructField("bio", StringType()),
            StructField("location", StringType()),
            StructField("email", StringType()),
            StructField("avatar_url", StringType()),
            StructField("html_url", StringType()),
            StructField("following", LongType()),
            StructField("created_at", StringType()),
            StructField("updated_at", StringType()),
        ]
    )
    good, _ = split_rejects(
        read_bson_dumps(spark, dump_dir, full_schema,
                        flatten={"owner_login": ("owner", "login")})
    )
    res = import_users(good)
    users = {r["username"]: r for r in res.users.collect()}
    # newest dump won: alice from 2014-01-02, not old_alice
    assert set(users) == {"alice", "bob", "carol"}
    gh = {r["github_id"]: r for r in res.gh_users.collect()}
    assert gh[1]["login"] == "alice" and gh[1]["followers_count"] == 7


def test_malformed_interior_is_reject_not_crash(spark, tmp_path):
    """A frame with a valid size/terminator but a broken INTERIOR —
    truncated value, string length past the buffer, missing interior
    NUL, negative string length (which would walk the offset backwards
    forever) — must become a reject ROW, not a stdlib exception that
    kills the task (E1: the decode boundary converts everything to
    BsonError)."""
    d = tmp_path / "dumps"
    d.mkdir()

    def frame(body: bytes) -> bytes:
        return struct.pack("<i", len(body) + 5) + body + b"\x00"

    good = enc_doc({"id": 1, "login": "ok", "type": "User"})
    bad_frames = [
        # string slen = -4: off += 4 + slen never advances
        frame(bytes([0x02]) + _cstr("login") + struct.pack("<i", -4)),
        # int64 declared but value truncated (struct.error territory)
        frame(bytes([0x12]) + _cstr("id") + b"\x01\x02"),
        # field name missing its interior NUL (ValueError from .index)
        frame(bytes([0x02]) + b"login"),
        # non-UTF8 field name
        frame(bytes([0x08]) + b"\xff\xfe\x00" + b"\x01"),
    ]
    (d / "2014-01-05.bson").write_bytes(good + b"".join(bad_frames))
    out = read_bson_dumps(spark, str(d), _schema)
    goodr, rej = split_rejects(out)
    assert goodr.count() == 1
    assert rej.count() == len(bad_frames)
    assert all("malformed" in r["_corrupt"] or "bad" in r["_corrupt"]
               for r in rej.collect())


def test_dated_directory_does_not_admit_or_stamp_undated_files(spark, tmp_path):
    """The date filter matches the file NAME (ght2dm.go:1023): an
    undated file inside a dated directory is skipped, and files keep
    their OWN dates rather than inheriting an ancestor directory's."""
    d = tmp_path / "archive-2020-01-01"
    d.mkdir()
    (d / "undated.bson").write_bytes(enc_doc({"id": 9, "login": "x"}))
    (d / "2014-01-02.bson").write_bytes(enc_doc({"id": 1, "login": "a"}))
    rows = read_bson_dumps(spark, str(d), _schema).collect()
    assert [r["id"] for r in rows] == [1]
    assert str(rows[0]["file_date"]) == "2014-01-02"  # not 2020-01-01


def test_bson_reader_empty_and_hostile_directories(spark, tmp_path):
    """An empty (or undated-only, or bogus-dated) directory must read as
    ZERO rows — a fresh pipeline run before any dumps arrive is routine,
    and a foreign '9999-99-99' (or year-0000) file from another tool must
    be skipped like any undated file, not crash the whole load."""
    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_bson_dumps(spark, str(empty), _schema).count() == 0

    undated = tmp_path / "undated"
    undated.mkdir()
    (undated / "notes.bson").write_bytes(b"\x01")
    assert read_bson_dumps(spark, str(undated), _schema).count() == 0

    hostile = tmp_path / "hostile"
    hostile.mkdir()
    (hostile / "notes.bson").write_bytes(b"\x01")  # undated
    (hostile / "backup-9999-99-99.bson").write_bytes(b"\x01")  # not a date
    (hostile / "x-91234-56-78.bson").write_bytes(b"\x01")  # carved token
    (hostile / "backup-0000-01-01.bson").write_bytes(b"\x01")  # year 0
    assert read_bson_dumps(spark, str(hostile), _schema).count() == 0


def test_dump_over_binaryfile_max_length_streams(spark, tmp_path):
    """binaryFile only lists the dumps, so its maxLength cap (checked when
    a file's content is read) does not limit a dump's size; the file is
    opened by its plain local path, so a directory name with a space in
    it reads like any other; and file_pos carries on across the decoder's
    row batches within one file."""
    n = BATCH_ROWS + 1
    docs = [{"id": i, "login": f"user{i}", "type": "User"} for i in range(n)]
    blob = b"".join(enc_doc(x) for x in docs)
    plain = tmp_path / "dumps"
    spaced = tmp_path / "dumps with space"
    for d in (plain, spaced):
        d.mkdir()
        (d / "2014-01-02.bson").write_bytes(blob)

    key = "spark.sql.sources.binaryFile.maxLength"
    saved = spark.conf.get(key, None)
    spark.conf.set(key, str(len(blob) // 4))
    try:
        for d in (plain, spaced):
            rows = read_bson_dumps(spark, str(d), _schema).collect()
            assert all(r["_corrupt"] is None for r in rows)
            assert sorted((r["file_pos"], r["id"], r["login"]) for r in rows) == [
                (i, i, f"user{i}") for i in range(n)
            ]
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
