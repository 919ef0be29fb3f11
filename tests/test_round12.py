"""Round-12 tests: the rename-free ``_VERSION`` generation protocol for
rename-unsafe filesystems (VERDICT r11 ask #2), the pointer's chain
manifest that makes a chain open cost one metadata read (ask #7), and
fault injection for ``.tmp`` staging leftovers in the pointer path
(ask #6).

The rename-unsafe double models an object store with LOCAL syscalls:
``atomic_rename = False`` plus a deliberately TORN ``replace_text``
(delete-then-write, i.e. the copy+delete rename window made maximally
visible) — so if any commit path still routed a reader-visible file
through rename-on-unsafe-scheme, a racing reader in these tests would
observe the missing-pointer window immediately.
"""

from __future__ import annotations

import json
import os

import pytest

from smoltable_spark.api import ColumnFamilyDef
from smoltable_spark.sources.store import CellStore, _VERSION_GEN_PREFIX
from smoltable_spark.sources.store_fs import (
    LocalStoreFS,
    RENAME_ATOMIC_SCHEMES,
    store_fs_for,
)

from tests.conftest import make_cells


class RenameUnsafeFS(LocalStoreFS):
    """LocalStoreFS with the object-store capability profile."""

    atomic_rename = False

    def __init__(self):
        self.replace_calls = 0

    def replace_text(self, p: str, content: str) -> None:
        # torn copy+delete: the destination is MISSING mid-"rename".
        # The store must never route a reader-visible file through this
        # on a rename-unsafe filesystem; the counter proves it didn't.
        self.replace_calls += 1
        if os.path.exists(p):
            os.remove(p)
        self.write_text(p, content)


class ReadCountingFS(LocalStoreFS):
    """Spy: counts read_text calls (pointer + marker content reads)."""

    def __init__(self):
        self.reads = []

    def read_text(self, p: str) -> str:
        self.reads.append(os.path.basename(p))
        return super().read_text(p)


def _unsafe_store(spark, path: str) -> CellStore:
    s = CellStore(spark, str(path))
    s._fs = RenameUnsafeFS()
    return s


def _append(spark, store, tag: str, n: int = 2):
    rows = [(f"k{i}", "f", "", 1, "string", f"{tag}.{i}") for i in range(n)]
    store.append(make_cells(spark, rows))


# ---------------------------------------------------------------------------
# capability probe


def test_probe_local_and_file_uri_are_atomic(spark, tmp_path):
    assert LocalStoreFS().atomic_rename is True
    h = store_fs_for(spark, "file:" + str(tmp_path / "u"))
    assert h.scheme == "file" and h.atomic_rename is True


def test_probe_unknown_scheme_defaults_to_unsafe():
    # the allowlist is the contract: anything off it is copy+delete
    for scheme in ("s3a", "gs", "oss", "wasb", "made-up"):
        assert scheme not in RENAME_ATOMIC_SCHEMES
    for scheme in ("file", "hdfs", "viewfs"):
        assert scheme in RENAME_ATOMIC_SCHEMES


# ---------------------------------------------------------------------------
# rename-free generation protocol


def test_unsafe_store_commits_generations_never_rename(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    s.compact()
    names = sorted(os.listdir(s.path))
    gens = [n for n in names if n.startswith(_VERSION_GEN_PREFIX)]
    assert gens == ["_VERSION-v1", "_VERSION-v2", "_VERSION-v3"]
    assert "_VERSION" not in names  # no plain pointer ever written
    assert s._fs.replace_calls == 0  # the torn path was never taken
    assert s.current_version() == 3
    assert s.read().count() == 2


def test_generation_and_plain_pointer_interoperate(spark, tmp_path):
    """A store moved between schemes resolves max() over both forms."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")  # plain _VERSION = 1 (atomic local path)
    s2 = _unsafe_store(spark, tmp_path / "t")
    _append(spark, s2, "b")  # generation _VERSION-v2
    assert os.path.exists(os.path.join(s2.path, "_VERSION"))
    assert os.path.exists(os.path.join(s2.path, "_VERSION-v2"))
    # both a fresh atomic handle and a fresh unsafe handle agree
    assert CellStore(spark, str(tmp_path / "t")).current_version() == 2
    assert _unsafe_store(spark, tmp_path / "t").current_version() == 2
    # continuing on the atomic scheme overtakes the generation file
    s3 = CellStore(spark, str(tmp_path / "t"))
    _append(spark, s3, "c")
    assert _unsafe_store(spark, tmp_path / "t").current_version() == 3


def test_crash_before_pointer_publish_serves_previous_version(spark, tmp_path):
    """Writer crash after data+markers but before the generation write:
    a reader resolves the PREVIOUS version and reads it completely."""
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    os.remove(os.path.join(s.path, "_VERSION-v2"))  # crash simulation
    r = _unsafe_store(spark, tmp_path / "t")
    assert r.current_version() == 1
    assert sorted(x["v_str"] for x in r.read().collect()) == ["a.0", "a.1"]
    # and a writer re-run converges: next commit is v2 again
    _append(spark, r, "b2")
    assert r.current_version() == 2


def test_vacuum_sweeps_old_generations_keeps_retained(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    for i in range(5):
        _append(spark, s, f"a{i}")
    # a crashed generation write's staging leftover and a foreign name do
    # not parse as generations: vacuum leaves them alone
    for leftover in ("_VERSION-v1.tmp", "_VERSION-vx"):
        with open(os.path.join(s.path, leftover), "w") as fh:
            fh.write("{")
    s.vacuum(keep_last=2)
    gens = sorted(
        n for n in os.listdir(s.path) if n.startswith(_VERSION_GEN_PREFIX)
    )
    assert gens == ["_VERSION-v1.tmp", "_VERSION-v4", "_VERSION-v5", "_VERSION-vx"]
    assert s.current_version() == 5


# ---------------------------------------------------------------------------
# .tmp staging leftovers (fault injection, ask #6)


def test_stale_tmp_leftovers_are_ignored_and_swept(spark, tmp_path):
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    # crash between write_text(tmp) and the pointer rename leaves
    # _VERSION.tmp beside the valid pointer; a crashed generation write
    # could leave a foreign .tmp name too
    with open(os.path.join(s.path, "_VERSION.tmp"), "w") as fh:
        fh.write("999")
    with open(os.path.join(s.path, "_VERSION-v999.tmp"), "w") as fh:
        fh.write("{")
    r = CellStore(spark, str(tmp_path / "t"))
    assert r.current_version() == 1  # readers ignore .tmp leftovers
    assert _unsafe_store(spark, tmp_path / "t").current_version() == 1
    _append(spark, r, "b")  # next commit overwrites its own .tmp path
    assert r.current_version() == 2
    # the commit re-staged through _VERSION.tmp: whatever remains there
    # is the JUST-committed content, not the injected garbage
    leftover = os.path.join(s.path, "_VERSION.tmp")
    if os.path.exists(leftover):
        assert open(leftover).read() != "999"


# ---------------------------------------------------------------------------
# chain manifest: one pointer read resolves the whole chain (ask #7)


def test_pointer_manifest_makes_open_one_read(spark, tmp_path):
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "base")
    _append(spark, s, "d1")
    _append(spark, s, "d2")
    s.minor_compact()
    _append(spark, s, "d3")
    # fresh handle with a read-counting FS: resolving the chain reads
    # the pointer once and ZERO _KIND/_FOLDS marker files
    r = CellStore(spark, str(tmp_path / "t"))
    spy = ReadCountingFS()
    r._fs = spy
    cur = r.current_version()
    legs = r._legs_of(cur)
    kinds = [r._kind(v) for v in legs]
    folds = [r._folds_of(v) for v in legs]
    assert cur == 5 and legs == [4, 5]
    assert kinds == ["minor", "delta"]
    assert folds == [(1, 3), None]
    assert spy.reads == ["_VERSION"], spy.reads


def test_pointer_manifest_fallback_for_legacy_int_pointer(spark, tmp_path):
    """A pre-r12 store (plain-int pointer, no manifest) still resolves —
    through the authoritative marker files."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    s.minor_compact()  # no-op (single leg), keep it simple
    _append(spark, s, "b")
    with open(os.path.join(s.path, "_VERSION"), "w") as fh:
        fh.write("2")  # rewrite to the legacy format
    r = CellStore(spark, str(tmp_path / "t"))
    assert r.current_version() == 2
    assert r._legs_of(2) == [1, 2]
    assert [r._kind(v) for v in r._legs_of(2)] == ["delta", "delta"]
    # same coordinates in both batches: LSM shadowing keeps the newest
    assert sorted(x["v_str"] for x in r.read().collect()) == ["b.0", "b.1"]


def test_pointer_manifest_is_trimmed_but_chain_complete(spark, tmp_path):
    """The published manifest stays bounded (entries below the trim
    horizon's base are dropped) yet always covers the current chain."""
    s = CellStore(spark, str(tmp_path / "t"))
    s.save_families([ColumnFamilyDef("f")])
    for i in range(3):
        _append(spark, s, f"a{i}")
    d = json.loads(open(os.path.join(s.path, "_VERSION")).read())
    assert d["v"] == 3
    assert set(d["legs"]) == {"1", "2", "3"}
    assert d["legs"]["3"] == ["delta", None]
    # every leg of the current chain is present in the manifest
    for v in s._legs_of(3):
        assert str(v) in d["legs"]


# ---------------------------------------------------------------------------
# IVF fold gate on rename-unsafe schemes (ADVICE r11)


def test_ivf_fold_on_rename_unsafe_scheme_goes_generational(
    spark, tmp_path, monkeypatch
):
    """Round 13 (VERDICT r12 ask #2): the r12 refusal gate is replaced —
    a fold on a rename-unsafe scheme now publishes via the rename-free
    ``_LISTGEN`` generation pointer (no reader-visible dir is ever
    renamed), and the legacy maintenance-window escape hatch keeps its
    meaning for callers who prefer the in-place swap."""
    import os

    import pyspark.sql.functions as F

    from smoltable_spark.functions import ann_index, similarity
    from smoltable_spark.sources.relational import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf_gate")
    similarity.build_ivf_index(emb, path, n_centroids=8)
    ann_index.delete_from_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 6).select("vec_id")
    )

    class UnsafeLocalStoreFS(LocalStoreFS):
        scheme = "s3a"  # what the probe would report for an S3A index
        atomic_rename = False

        renames: list = []

        def rename(self, src, dst):
            UnsafeLocalStoreFS.renames.append((src, dst))
            return super().rename(src, dst)

    monkeypatch.setattr(ann_index, "store_fs_for", lambda _s, _b: UnsafeLocalStoreFS())
    stats = ann_index.compact_ivf_index(spark, path)
    assert stats == {"tombstones": 1, "lists_rewritten": 1}
    assert similarity.ivf_tombstones(spark, path) is None
    # the commit point was a pointer CREATE; no rename of anything
    # reader-visible ever happened
    assert UnsafeLocalStoreFS.renames == []
    assert os.path.exists(os.path.join(path, "_LISTGEN-v1"))
    m, gmap = similarity.ivf_list_generations(spark, path)
    assert m == 1 and set(gmap.values()) <= {0, 1}
    # serving masks exactly the deleted vector, through the pointer
    res = similarity.query_ivf_index(
        spark, path, emb.limit(3), k=5, nprobe=8
    )
    assert res.filter(F.col("neighbor_id") == 6).count() == 0
    assert res.count() > 0


# ---------------------------------------------------------------------------
# BPE: sampled training + lineage truncation (VERDICT r11 ask #8 / ADVICE)


def _bpe_docs(spark):
    rows = [
        (i, ("banana bandana " * 3) + ("cabana " * (i % 3)))
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bpe_sample_fraction_one_is_bit_identical(spark):
    from smoltable_spark.functions.text import bpe_train

    docs = _bpe_docs(spark)
    base = [tuple(r) for r in bpe_train(docs, n_merges=4).collect()]
    same = [
        tuple(r)
        for r in bpe_train(docs, n_merges=4, sample_fraction=1.0).collect()
    ]
    assert base == same  # fraction=1.0 bypasses the sampler entirely


def test_bpe_sampled_training_is_seeded_and_valid(spark):
    from smoltable_spark.functions.text import bpe_train

    docs = _bpe_docs(spark)
    a = [tuple(r) for r in bpe_train(docs, n_merges=4, sample_fraction=0.5).collect()]
    b = [tuple(r) for r in bpe_train(docs, n_merges=4, sample_fraction=0.5).collect()]
    assert a == b  # same seed -> same sample -> same merge table
    assert len(a) == 4 and all(row[3] == row[1] + row[2] for row in a)


def test_bpe_checkpoint_interval_does_not_change_merges(spark, monkeypatch):
    """Crossing the lineage-truncation boundary must be invisible in the
    learned merge table: train past the interval with the default, then
    with an aggressive interval of 2 — identical output."""
    from smoltable_spark.functions import text

    docs = _bpe_docs(spark)
    deep = [tuple(r) for r in text.bpe_train(docs, n_merges=8).collect()]
    monkeypatch.setattr(text, "_BPE_CHECKPOINT_EVERY", 2)
    often = [tuple(r) for r in text.bpe_train(docs, n_merges=8).collect()]
    assert deep == often


def test_migrate_minor_legs_gates_on_rename_unsafe(spark, tmp_path):
    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    with pytest.raises(IOError, match="rename-unsafe"):
        s.migrate_minor_legs()
    assert s.migrate_minor_legs(allow_non_atomic=True) == 0  # nothing legacy


def test_cdc_guard_and_changes_over_unsafe_store(spark, tmp_path):
    """Change feeds over a rename-unsafe store: the guard's kind walk and
    read_changes resolve through generation pointers exactly as through
    the plain pointer (the CDC poll loop calls current_version per
    trigger — it must observe commits published by the rename-free
    protocol)."""
    from smoltable_spark.streaming.store_cdc import StoreChangeRollup

    s = _unsafe_store(spark, tmp_path / "t")
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    roll = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=s,
    )
    roll.guard_chain()
    _append(spark, s, "b")
    _append(spark, s, "c")
    m = s.minor_compact()
    assert s._kind(m) == "minor"
    roll.guard_chain()  # fold classified benign through generations
    # O(changes) feed across the fold on the unsafe store
    assert s.read_changes(1).count() == 2
    # a base rewrite (compact) is flagged by a FRESH incarnation
    s.compact()
    fresh = StoreChangeRollup(
        spark, str(tmp_path / "roll"), keys=["family"],
        sums={"n": "1"}, store=s,
    )
    with pytest.raises(ValueError, match="rewrite"):
        fresh.guard_chain()


def test_generation_protocol_through_jvm_fs(spark, tmp_path):
    """The rename-free protocol through the REAL HadoopStoreFS (JVM
    FileSystem write/list/read), not just the Python double: force the
    object-store capability profile on a file:-URI store and run the
    lifecycle — generation files written via fs.create, resolved via
    listStatus, swept by vacuum."""
    uri = "file:" + str(tmp_path / "t")
    s = CellStore(spark, uri)
    s._fs.atomic_rename = False  # probe override: object-store profile
    s.save_families([ColumnFamilyDef("f")])
    _append(spark, s, "a")
    _append(spark, s, "b")
    s.compact()
    names = os.listdir(tmp_path / "t")
    assert [n for n in sorted(names) if n.startswith("_VERSION-v")] == [
        "_VERSION-v1", "_VERSION-v2", "_VERSION-v3"
    ]
    assert "_VERSION" not in names
    # fresh handles on BOTH dispatch paths resolve the same state
    r_uri = CellStore(spark, uri)
    r_local = CellStore(spark, str(tmp_path / "t"))
    assert r_uri.current_version() == r_local.current_version() == 3
    assert r_uri.read().count() == r_local.read().count() == 2
    s.vacuum(keep_last=1)
    assert sorted(
        n for n in os.listdir(tmp_path / "t") if n.startswith("_VERSION-v")
    ) == ["_VERSION-v3"]
    assert CellStore(spark, uri).read().count() == 2
