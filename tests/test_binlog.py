"""Byte-exact parity with the reference's persistence format.

The expectations below replicate the arithmetic the reference test
suite computes for verify_filesize (p3/scripts/p3.py:48-49,68-69) and
the tag probes of verify_peek (p3/scripts/cse303.py:304-310) -- a user
porting those tests must get identical numbers from our files.
"""

from __future__ import annotations

import os

import pytest

from operating_system_map_reduce_spark.sources import binlog as B


def next8(n: int) -> int:
    """cse303.py's next8: round up to an 8-byte boundary."""
    return n if n % 8 == 0 else n + 8 - n % 8


class TestSizeParity:
    def test_reg_entry_matches_p3_test1_expectation(self):
        """p3.py:48: expect_size1 = next8(8 + 8+len(name) + 8+16 + 8+32 + 8)
        for a REG with 16-byte salt, 32-byte hash, empty profile."""
        name = b"alice"
        expected = next8(8 + 8 + len(name) + 8 + 16 + 8 + 32 + 8)
        entry = B.entry_bytes(B.AUTHENTRY, name, b"s" * 16, b"h" * 32, b"")
        assert len(entry) == expected
        assert B.entry_size(B.AUTHENTRY, len(name), 16, 32, 0) == expected

    def test_authdiff_matches_p3_test2_expectation(self, tmp_path):
        """p3.py:68-69: a SET appends next8(8 + 8+5 + 8 + filelen)."""
        path = str(tmp_path / "company.dir")
        profile = b"x" * 125  # deliberately not 8-aligned
        reg = (B.AUTHENTRY, b"alice", b"s" * 16, b"h" * 32, b"")
        size1 = B.write_entries(path, [reg])
        diff = (B.AUTHDIFF, b"alice", profile)
        B.write_entries(path, [diff])
        expected = next8(size1 + 8 + 8 + 5 + 8 + len(profile))
        assert os.stat(path).st_size == expected

    def test_peek_finds_tags_at_computed_offsets(self, tmp_path):
        """verify_peek analog: the second entry's tag sits exactly at
        the first entry's padded size."""
        path = str(tmp_path / "peek.dir")
        e1 = (B.KVENTRY, b"k1", b"v" * 13)
        e2 = (B.KVDELETE, b"k1")
        B.write_entries(path, [e1, e2])
        off = B.entry_size(B.KVENTRY, 2, 13)
        with open(path, "rb") as fh:
            assert fh.read(8) == B.KVENTRY
            fh.seek(off)
            assert fh.read(8) == B.KVDELETE

    def test_empty_profile_bytes_omitted(self):
        """format.h: empty profile writes its length field but no bytes."""
        with_p = B.entry_bytes(B.AUTHENTRY, b"u", b"s", b"h", b"pp")
        without = B.entry_bytes(B.AUTHENTRY, b"u", b"s", b"h", b"")
        assert len(with_p) - len(without) == next8(3 + 2) - next8(3)  # field diff mod padding


class TestRoundTrip:
    ENTRIES = [
        (B.AUTHENTRY, b"alice", b"s" * 16, b"h" * 32, b"profile!"),
        (B.KVENTRY, b"key1", b"value one"),
        (B.KVUPDATE, b"key1", b"value two"),
        (B.AUTHDIFF, b"alice", b""),
        (B.KVDELETE, b"key1"),
    ]

    def test_write_read_identity(self, tmp_path):
        path = str(tmp_path / "rt.dir")
        B.write_entries(path, self.ENTRIES)
        assert list(B.read_entries(path)) == self.ENTRIES

    def test_interspersed_entries_any_order(self, tmp_path):
        """format.h: auth and kv entries may be interspersed arbitrarily."""
        path = str(tmp_path / "mix.dir")
        mixed = [self.ENTRIES[i] for i in (1, 0, 4, 2, 3)]
        B.write_entries(path, mixed)
        assert list(B.read_entries(path)) == mixed

    def test_corrupt_tag_raises(self, tmp_path):
        path = str(tmp_path / "bad.dir")
        with open(path, "wb") as fh:
            fh.write(b"NOTATAG!" + b"\x00" * 24)
        with pytest.raises(ValueError, match="bad tag"):
            list(B.read_entries(path))


class TestEngineExport:
    def test_sav_export_matches_reference_grammar(self, spark, tmp_path):
        """Engine state -> reference file: every user becomes AUTHAUTH
        (16-byte salt, 32-byte sha256, profile bytes), every live pair
        KVKVKVKV; the file parses back to exactly the live state and
        its size equals the sum of entry_size arithmetic."""
        from operating_system_map_reduce_spark import codes
        from operating_system_map_reduce_spark.engine import KVEngine

        eng = KVEngine(spark, str(tmp_path / "data"))
        assert eng.add_user("alice", "pw")[1] == codes.RES_OK
        assert eng.set_user_data("alice", "pw", b"profile bytes")[1] == codes.RES_OK
        assert eng.kv_insert("alice", "pw", "k1", b"v1")[1] == codes.RES_OK
        assert eng.kv_insert("alice", "pw", "key-two", b"value two!")[1] == codes.RES_OK

        path = str(tmp_path / "company.dir")
        assert eng.export_reference_file("alice", "bad", path)[1] == codes.RES_ERR_LOGIN
        ok, code, n = eng.export_reference_file("alice", "pw", path)
        assert (ok, code) == (True, codes.RES_OK)
        assert os.stat(path).st_size == n

        got = list(B.read_entries(path))
        auth = [e for e in got if e[0] == B.AUTHENTRY]
        kv = {e[1]: e[2] for e in got if e[0] == B.KVENTRY}
        assert len(auth) == 1 and auth[0][1] == b"alice"
        assert len(auth[0][2]) == 16 and len(auth[0][3]) == 32  # salt, sha256
        assert auth[0][4] == b"profile bytes"
        assert kv == {b"k1": b"v1", b"key-two": b"value two!"}
        assert n == (B.entry_size(B.AUTHENTRY, 5, 16, 32, 13)
                     + B.entry_size(B.KVENTRY, 2, 2)
                     + B.entry_size(B.KVENTRY, 7, 10))


def test_truncated_file_raises_with_offset(tmp_path):
    from operating_system_map_reduce_spark.sources import binlog as B

    path = str(tmp_path / "log.bin")
    B.write_entries(path, [(B.KVENTRY, b"key1", b"value-bytes")])
    data = open(path, "rb").read()
    # cut inside the last field
    open(path, "wb").write(data[:-6])
    with pytest.raises(ValueError, match="overruns EOF"):
        list(B.read_entries(path))
    # cut inside the length block
    open(path, "wb").write(data[:12])
    with pytest.raises(ValueError, match="truncated length block"):
        list(B.read_entries(path))


class TestReferenceImport:
    def test_export_import_round_trip(self, spark, tmp_path):
        """Engine A -> reference file -> fresh engine B: B serves the
        same users, profiles and kv pairs (the migration path in BOTH
        directions)."""
        from operating_system_map_reduce_spark import codes
        from operating_system_map_reduce_spark.engine import KVEngine

        a = KVEngine(spark, str(tmp_path / "a"))
        assert a.add_user("alice", "pw")[1] == codes.RES_OK
        assert a.set_user_data("alice", "pw", b"profile bytes")[1] == codes.RES_OK
        assert a.kv_insert("alice", "pw", "k1", b"v1")[1] == codes.RES_OK
        assert a.kv_insert("alice", "pw", "k2", b"v2")[1] == codes.RES_OK
        path = str(tmp_path / "company.dir")
        assert a.export_reference_file("alice", "pw", path)[1] == codes.RES_OK

        b = KVEngine(spark, str(tmp_path / "b"))
        assert b.add_user("bootstrap", "pw")[1] == codes.RES_OK
        assert b.import_reference_file("bootstrap", "bad", path)[1] == \
            codes.RES_ERR_LOGIN
        ok, code, n = b.import_reference_file("bootstrap", "pw", path)
        assert (ok, code, n) == (True, codes.RES_OK, 3)  # 1 auth + 2 kv
        # alice's credentials survived byte-exact: she can log in on B
        assert b.kv_get("alice", "pw", "k1")[2] == b"v1"
        assert b.kv_get("alice", "pw", "k2")[2] == b"v2"
        assert b.get_user_data("bootstrap", "pw", "alice")[2] == b"profile bytes"

    def test_import_full_tag_grammar_applies_in_order(self, spark, tmp_path):
        """A log with all five tags (insert, update, delete, profile
        diff) replays with the reference's sequential load_file
        semantics."""
        import hashlib
        import secrets

        from operating_system_map_reduce_spark import codes
        from operating_system_map_reduce_spark.engine import KVEngine

        salt = secrets.token_bytes(16)
        phash = hashlib.sha256(b"pw" + salt).digest()
        path = str(tmp_path / "log.dir")
        B.write_entries(path, [
            (B.AUTHENTRY, b"carol", salt, phash, b""),
            (B.KVENTRY, b"k1", b"one"),
            (B.KVENTRY, b"k2", b"two"),
            (B.KVUPDATE, b"k1", b"ONE"),
            (B.KVDELETE, b"k2"),
            (B.AUTHDIFF, b"carol", b"new profile"),
        ])
        eng = KVEngine(spark, str(tmp_path / "data"))
        assert eng.add_user("admin", "pw")[1] == codes.RES_OK
        ok, code, n = eng.import_reference_file("admin", "pw", path)
        assert (ok, code, n) == (True, codes.RES_OK, 6)
        # carol authenticates with the imported salted hash
        assert eng.kv_get("carol", "pw", "k1")[2] == b"ONE"
        assert eng.kv_get("carol", "pw", "k2")[1] == codes.RES_ERR_KEY
        assert eng.get_user_data("admin", "pw", "carol")[2] == b"new profile"

    def test_import_missing_file_is_fresh_start(self, spark, tmp_path):
        from operating_system_map_reduce_spark import codes
        from operating_system_map_reduce_spark.engine import KVEngine

        eng = KVEngine(spark, str(tmp_path / "data"))
        assert eng.add_user("admin", "pw")[1] == codes.RES_OK
        ok, code, n = eng.import_reference_file(
            "admin", "pw", str(tmp_path / "nope.dir"))
        assert (ok, code, n) == (True, codes.RES_OK, 0)

    def test_import_degenerate_files_mirror_load_file(self, spark, tmp_path):
        """Files the reference would not self-produce still dispatch with
        load_file's exact semantics (my_storage.cc:573-702): duplicate
        AUTHAUTH/KVKVKVKV go through Map::insert and FAIL (first value
        wins); an AUTHDIFF for an unknown user upserts an entry with
        EMPTY salt/pass_hash (do_with_readonly leaves the locals empty,
        my_storage.cc:636-641); KVDELETE frees the key for a later
        insert."""
        import hashlib
        import secrets

        from operating_system_map_reduce_spark import codes
        from operating_system_map_reduce_spark.engine import KVEngine
        from pyspark.sql import functions as F

        salt1 = secrets.token_bytes(16)
        phash1 = hashlib.sha256(b"first" + salt1).digest()
        salt2 = secrets.token_bytes(16)
        phash2 = hashlib.sha256(b"second" + salt2).digest()
        path = str(tmp_path / "degenerate.dir")
        B.write_entries(path, [
            (B.AUTHENTRY, b"carol", salt1, phash1, b"profile one"),
            (B.AUTHENTRY, b"carol", salt2, phash2, b"profile two"),  # insert fails
            (B.AUTHDIFF, b"ghost", b"spooky profile"),  # unknown: empty creds
            (B.KVENTRY, b"k1", b"first"),
            (B.KVENTRY, b"k1", b"second"),               # insert fails
            (B.KVENTRY, b"k2", b"temp"),
            (B.KVDELETE, b"k2"),
            (B.KVENTRY, b"k2", b"reborn"),               # delete freed the key
            (B.KVENTRY, b"live", b"from-file"),          # insert fails: pre-existing
        ])
        eng = KVEngine(spark, str(tmp_path / "data"))
        assert eng.add_user("admin", "pw")[1] == codes.RES_OK
        assert eng.kv_insert("admin", "pw", "live", b"pre-import")[1] == codes.RES_OK
        ok, code, n = eng.import_reference_file("admin", "pw", path)
        assert (ok, code, n) == (True, codes.RES_OK, 9)
        # first AUTHENTRY won: carol logs in with pw "first", profile one
        assert eng.kv_get("carol", "first", "k1")[2] == b"first"
        assert eng.kv_get("carol", "second", "k1")[1] == codes.RES_ERR_LOGIN
        assert eng.get_user_data("admin", "pw", "carol")[2] == b"profile one"
        # unknown-user AUTHDIFF created an empty-credential entry
        ghost = (eng.auth_df().filter(F.col("username") == "ghost")
                 .select("salt", "pass_hash", "content").collect())
        assert len(ghost) == 1
        assert bytes(ghost[0]["salt"]) == b"" and bytes(ghost[0]["pass_hash"]) == b""
        assert eng.get_user_data("admin", "pw", "ghost")[2] == b"spooky profile"
        assert sorted(eng.get_all_users("admin", "pw")[2].split(b"\n")) == [
            b"admin", b"carol", b"ghost"]
        # delete-then-insert reuses the key; pre-existing live key kept
        assert eng.kv_get("admin", "pw", "k2")[2] == b"reborn"
        assert eng.kv_get("admin", "pw", "live")[2] == b"pre-import"
