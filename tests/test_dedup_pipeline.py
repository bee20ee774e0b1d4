"""A14 × dedup: the checkpointed near-dup pipeline must equal the direct
in-memory form, resume without recomputation, recover from a crash
mid-sigs, and invalidate on changed input (mirrors tests/test_checkpoint.py
for the KG pipeline)."""

from __future__ import annotations

import json
import os

import pytest

from kgpipe.dedup_pipeline import run_dedup_checkpointed
from kgpipe.queries.textops import (
    _neardup_corpus_spark,
    keep_best_from_members,
    members_from_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def direct_keep_best(spark):
    """The un-checkpointed pipeline over the same corpus (no registry
    caches involved — built straight from the stage functions)."""
    from kgpipe.queries.textops import _lsh_pairs_over

    corpus = _neardup_corpus_spark(spark, SF_DIR)
    members = members_from_pairs(_lsh_pairs_over(corpus))
    return _rows(keep_best_from_members(members, corpus))


def test_checkpointed_equals_direct(spark, direct_keep_best,
                                    tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("dedup-full"))
    out = run_dedup_checkpointed(
        spark, _neardup_corpus_spark(spark, SF_DIR),
        [os.path.join(SF_DIR, "documents.parquet")], run_dir)
    assert _rows(out["keep_best"]) == direct_keep_best
    assert direct_keep_best  # non-vacuous
    # lineage: sigs bucketed 16-way, downstream stages global
    for stage, n in (("sigs", 16), ("pairs", 1), ("members", 1),
                     ("keep_best", 1)):
        mpath = os.path.join(run_dir, stage, "manifest.jsonl")
        rows = [json.loads(line) for line in open(mpath)]
        assert {r["bucket"] for r in rows} == set(range(n)), stage
        assert all(r["status"] == "done" for r in rows)


def test_resume_skips_everything(spark, direct_keep_best, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("dedup-resume"))
    args = (spark, _neardup_corpus_spark(spark, SF_DIR),
            [os.path.join(SF_DIR, "documents.parquet")], run_dir)
    run_dedup_checkpointed(*args)
    out2 = run_dedup_checkpointed(*args)
    for stage, m in out2["metrics"].items():
        assert m["buckets_computed"] == 0, (stage, m)
        assert m["rows_computed"] == 0, (stage, m)
    assert _rows(out2["keep_best"]) == direct_keep_best


def test_crash_mid_sigs_resumes_only_missing(spark, direct_keep_best,
                                             tmp_path_factory):
    """Crash after 10 of 16 sig buckets committed: drop the last 6 manifest
    rows (data dirs survive, as after a real kill) and wipe the downstream
    stages; resume must recompute exactly those buckets and still match."""
    import shutil

    run_dir = str(tmp_path_factory.mktemp("dedup-crash"))
    args = (spark, _neardup_corpus_spark(spark, SF_DIR),
            [os.path.join(SF_DIR, "documents.parquet")], run_dir)
    run_dedup_checkpointed(*args)

    mpath = os.path.join(run_dir, "sigs", "manifest.jsonl")
    rows = [json.loads(line) for line in open(mpath)]
    dropped = {r["bucket"] for r in rows[-6:]}
    with open(mpath, "w") as f:
        for r in rows[:-6]:
            f.write(json.dumps(r) + "\n")
    for stage in ("pairs", "members", "keep_best"):
        shutil.rmtree(os.path.join(run_dir, stage))

    out = run_dedup_checkpointed(*args)
    m = out["metrics"]["sigs"]
    assert m["buckets_computed"] == len(dropped)
    assert m["buckets_skipped"] == 16 - len(dropped)
    assert _rows(out["keep_best"]) == direct_keep_best


def test_changed_corpus_invalidates(spark, tmp_path_factory, tmp_path):
    """Editing the source documents must invalidate every stage (chained
    fingerprints), not resume over stale signatures."""
    import shutil

    import pandas as pd

    alt = tmp_path / "alt_sf"
    alt.mkdir()
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"),
                alt / "documents.parquet")
    run_dir = str(tmp_path_factory.mktemp("dedup-inval"))

    def go():
        return run_dedup_checkpointed(
            spark, _neardup_corpus_spark(spark, str(alt)),
            [str(alt / "documents.parquet")], run_dir)

    go()
    d = pd.read_parquet(alt / "documents.parquet")
    d = d.iloc[: len(d) // 2]
    d.to_parquet(alt / "documents.parquet", index=False)

    out = go()
    assert out["metrics"]["sigs"]["buckets_computed"] == 16
    docs = {r.keep_id % 1000000 for r in out["keep_best"].collect()}
    assert docs <= set(d["doc_id"])


def test_registered_query_run_dir_is_fingerprint_keyed(spark):
    """The registered dedup_pipeline query keys its durable run_dir on the
    A14 input fingerprint, NOT the Spark application id — so a fresh
    session over unchanged inputs resumes the committed stages. Pinned by
    calling the query twice and asserting the second call rewrote no
    stage data (manifest mtimes unchanged) while returning the same rows."""
    import os

    from kgpipe.dedup_pipeline import (
        run_dir_fp,
        shared_run_dir,
        stage_fingerprints,
    )
    from kgpipe.queries import QUERIES

    sf = SF_DIR
    paths = [os.path.join(sf, "documents.parquet")]
    # derive the dir exactly the way the query does (single source of
    # truth) — hand-rebuilding the layout here went stale once already
    fps = stage_fingerprints(paths)
    assert spark.sparkContext.applicationId not in fps["sigs"]
    run_dir = shared_run_dir(paths, fp=run_dir_fp(fps))
    assert run_dir is not None

    first = {tuple(r) for r in QUERIES["dedup_pipeline"](spark, sf).collect()}
    manifests = {
        s: os.path.getmtime(os.path.join(run_dir, s, "manifest.jsonl"))
        for s in ("sigs", "pairs", "members", "keep_best")
    }
    second = {tuple(r) for r in QUERIES["dedup_pipeline"](spark, sf).collect()}
    assert second == first
    for s, m in manifests.items():
        assert os.path.getmtime(
            os.path.join(run_dir, s, "manifest.jsonl")) == m, s


def test_shared_run_dir_rejects_symlink_and_repairs_loose_mode(
        monkeypatch, tmp_path):
    """The forged-stage-table defense: a symlink planted at the predictable
    root path must be rejected (lstat, not stat), and a pre-existing root
    with group/world-writable bits must be chmod'd back to 0700 before the
    path is trusted — makedirs(exist_ok=True) alone never re-applies the
    mode."""
    import getpass
    import os
    import stat
    import tempfile

    from kgpipe.dedup_pipeline import shared_run_dir

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    root = tmp_path / f"kgpipe-dedup-{getpass.getuser()}"

    # fresh root: created 0700, usable
    d = shared_run_dir(paths)
    assert d is not None and str(root) in d
    assert stat.S_IMODE(os.lstat(root).st_mode) == 0o700

    # loosened root (old-version artifact): repaired, still usable
    os.chmod(root, 0o777)
    d = shared_run_dir(paths)
    assert d is not None
    assert stat.S_IMODE(os.lstat(root).st_mode) == 0o700

    # symlinked root: rejected even though the target is ours and 0700
    target = tmp_path / "elsewhere"
    target.mkdir(mode=0o700)
    os.rename(root, tmp_path / "moved-away")
    os.symlink(target, root)
    assert shared_run_dir(paths) is None


def test_load_committed_reads_only_complete_valid_stages(
        spark, tmp_path_factory):
    """CheckpointedRun.load_committed: returns the committed stage table
    only when every bucket is done under the right fingerprint and disk
    matches the manifest; None otherwise — never a partial subset."""
    import shutil

    from kgpipe.dedup_pipeline import run_dedup_checkpointed as run_ck
    from kgpipe.dedup_pipeline import stage_fingerprints
    from kgpipe.operators.checkpoint import CheckpointedRun

    run_dir = str(tmp_path_factory.mktemp("dedup-load"))
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    corpus = _neardup_corpus_spark(spark, SF_DIR)
    out = run_ck(spark, corpus, paths, run_dir)
    fps = stage_fingerprints(paths)

    run = CheckpointedRun(spark, run_dir)
    loaded = run.load_committed("members", fps["members"], n_buckets=1)
    assert loaded is not None
    assert _rows(loaded) == _rows(out["members"])
    # wrong fingerprint -> None (and, per the stage contract, the stale
    # stage dir is invalidated)
    assert run.load_committed("pairs", "not-the-fingerprint",
                              n_buckets=1) is None
    # out-of-band deletion of the data -> None, not a partial read
    shutil.rmtree(os.path.join(run_dir, "members", "data"),
                  ignore_errors=True)
    run2 = CheckpointedRun(spark, run_dir)
    assert run2.load_committed("members", fps["members"],
                               n_buckets=1) is None


def test_near_dup_keep_best_reuses_committed_members(
        spark, direct_keep_best, monkeypatch, tmp_path_factory):
    """After dedup_pipeline commits its stages, a fresh session's
    near_dup_keep_best must read the durable members table instead of
    recomputing sigs -> pairs -> CC — and produce the identical keep-set."""
    import kgpipe.dedup_pipeline as dp
    from kgpipe.queries import textops

    run_dir = str(tmp_path_factory.mktemp("dedup-share"))
    monkeypatch.setattr(dp, "shared_run_dir",
                        lambda paths, fp=None: run_dir)
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    dp.run_dedup_checkpointed(
        spark, _neardup_corpus_spark(spark, SF_DIR), paths, run_dir)

    # fresh "session" for the cache: drop any cached members entry
    for k in [k for k in list(textops._CACHE) if "members" in k]:
        del textops._CACHE[k]

    def boom(*a, **kw):
        raise AssertionError("pairs recomputed despite committed stages")

    monkeypatch.setattr(textops, "_lsh_pairs_over", boom)
    got = textops.near_dup_keep_best(spark, SF_DIR)
    assert _rows(got) == direct_keep_best


def test_lsh_pairs_family_resumes_durable_stages(
        spark, monkeypatch, tmp_path_factory):
    """The dup-corpus LSH family (minhash_lsh_pairs via _durable_lsh_pairs)
    shares durable sigs+pairs stage tables under its own corpus tag: a
    second fresh-session run over unchanged inputs must recompute zero
    buckets, rewrite no manifest, and stop at the pairs stage (no CC /
    keep-best tables it never reads) — while matching the direct
    in-memory candidate set."""
    import kgpipe.dedup_pipeline as dp
    from kgpipe.queries import textops

    run_dir = str(tmp_path_factory.mktemp("lsh-share"))
    monkeypatch.setattr(dp, "shared_run_dir",
                        lambda paths, fp=None: run_dir)
    paths = [os.path.join(SF_DIR, "documents.parquet")]

    direct = _rows(textops._lsh_pairs_over(
        textops._dup_corpus_spark(spark, SF_DIR)))
    assert direct  # non-vacuous

    first = _rows(textops._durable_lsh_pairs(spark, SF_DIR))
    assert first == direct
    # front half only: the family never pays CC + keep-best
    assert {"pairs", "sigs"} <= set(os.listdir(run_dir))
    for never in ("members", "keep_best"):
        assert not os.path.exists(os.path.join(run_dir, never))
    manifests = {
        s: os.path.getmtime(os.path.join(run_dir, s, "manifest.jsonl"))
        for s in ("sigs", "pairs")
    }

    second = _rows(textops._durable_lsh_pairs(spark, SF_DIR))
    assert second == direct
    for s, m in manifests.items():
        assert os.path.getmtime(
            os.path.join(run_dir, s, "manifest.jsonl")) == m, s

    # the corpus tag keeps this family's fingerprints disjoint from the
    # near-dup corpus family — shared tables across different corpus
    # transforms would be silent wrong-answers
    assert (dp.stage_fingerprints(paths, corpus=dp.DUP_CORPUS_TAG)["sigs"]
            != dp.stage_fingerprints(paths)["sigs"])


def test_jaccard_stage_resumes_durable(spark, monkeypatch,
                                       tmp_path_factory):
    """ngram_jaccard_dups' exact-Jaccard verification is the durable
    'jaccard' stage branching off the committed pairs table: a second
    fresh-session run rewrites no manifest and matches the direct
    computation."""
    import kgpipe.dedup_pipeline as dp
    from kgpipe.queries import textops

    run_dir = str(tmp_path_factory.mktemp("jac-share"))
    monkeypatch.setattr(dp, "shared_run_dir",
                        lambda paths, fp=None: run_dir)

    direct = _rows(textops.jaccard_from_pairs(
        textops._lsh_pairs_over(
            textops._dup_corpus_spark(spark, SF_DIR))
        .select("doc_a", "doc_b"),
        textops._shingle_table(spark, SF_DIR)))
    assert direct  # non-vacuous

    first = _rows(textops._durable_jaccard_dups(spark, SF_DIR))
    assert first == direct
    mpath = os.path.join(run_dir, "jaccard", "manifest.jsonl")
    m = os.path.getmtime(mpath)
    second = _rows(textops._durable_jaccard_dups(spark, SF_DIR))
    assert second == direct
    assert os.path.getmtime(mpath) == m


def test_lock_contention_falls_back_to_private_dir(spark, monkeypatch,
                                                   tmp_path):
    """A live process holding the run_dir flock must push a second runner
    to the fingerprint-suffixed PRIVATE dir: same results, zero writes
    into the lock holder's dir, and the shared dir is used again once the
    lock is released (flock conflicts across open file descriptions, so
    an in-process holder exercises the real contention path)."""
    import fcntl

    import kgpipe.dedup_pipeline as dp
    from kgpipe.queries import textops

    shared = tmp_path / "shared"
    monkeypatch.setattr(dp, "shared_run_dir",
                        lambda paths, fp=None: str(shared))
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    fps = dp.stage_fingerprints(paths, corpus=dp.DUP_CORPUS_TAG)

    direct = _rows(textops._lsh_pairs_over(
        textops._dup_corpus_spark(spark, SF_DIR)))

    os.makedirs(shared, exist_ok=True)
    with open(shared / ".lock", "w") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX)
        with dp.locked_run_dir(spark, paths, fps) as rd:
            assert rd != str(shared) and "private" in rd
            assert dp.run_dir_fp(fps) in rd  # family-disjoint fallback
        got = _rows(textops._durable_lsh_pairs(spark, SF_DIR))
        assert got == direct and got
        assert os.listdir(shared) == [".lock"]  # holder's dir untouched

    with dp.locked_run_dir(spark, paths, fps) as rd2:
        assert rd2 == str(shared)


def test_private_dir_use_refreshes_mtime_against_age_sweep(
        spark, monkeypatch, tmp_path):
    """Nested stage writes never touch a dir's top-level mtime, so a live
    session whose private fallback dir was created long ago must stay safe
    from the age sweep: every locked_run_dir use marks the dir live."""
    import tempfile
    import time

    import kgpipe.dedup_pipeline as dp

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(dp, "shared_run_dir", lambda paths, fp=None: None)
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    fps = dp.stage_fingerprints(paths, corpus=dp.DUP_CORPUS_TAG)
    old = time.time() - 2 * dp.PRIVATE_DIR_MAX_AGE_S

    with dp.locked_run_dir(spark, paths, fps) as rd:
        assert "private" in rd
        os.makedirs(os.path.join(rd, "sigs"))  # a nested stage write
    os.utime(rd, (old, old))
    crashed = tmp_path / "kgpipe-dedup-private-crashed"  # a dead session
    crashed.mkdir()
    os.utime(crashed, (old, old))

    with dp.locked_run_dir(spark, paths, fps) as rd2:
        assert rd2 == rd
        assert os.path.isdir(os.path.join(rd, "sigs"))  # survived the sweep
        assert os.path.getmtime(rd) > old + dp.PRIVATE_DIR_MAX_AGE_S
    assert not crashed.exists()


def test_superseded_shared_dirs_swept_only_when_unlocked(
        spark, monkeypatch, tmp_path):
    """Shared fingerprint dirs stranded by a changed input or version bump
    are removed once unused for PRIVATE_DIR_MAX_AGE_S — but only when
    their .lock can be taken: a live holder's dir is never touched, and
    neither are recent dirs or the dir in use."""
    import fcntl
    import tempfile
    import time

    import kgpipe.dedup_pipeline as dp

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    paths = [os.path.join(SF_DIR, "documents.parquet")]
    fps = dp.stage_fingerprints(paths, corpus=dp.DUP_CORPUS_TAG)
    root = os.path.dirname(dp.shared_run_dir(paths))
    old = time.time() - 2 * dp.PRIVATE_DIR_MAX_AGE_S

    def stage_dir(name, age):
        d = os.path.join(root, name)
        os.makedirs(os.path.join(d, "sigs"))
        open(os.path.join(d, ".lock"), "w").close()
        os.utime(d, (age, age))
        return d

    stale = stage_dir("stale", old)
    live = stage_dir("live", old)
    recent = stage_dir("recent", time.time())
    with open(os.path.join(live, ".lock"), "w") as holder:
        fcntl.flock(holder, fcntl.LOCK_EX)
        with dp.locked_run_dir(spark, paths, fps) as rd:
            assert os.path.dirname(rd) == root and os.path.isdir(rd)
    assert not os.path.exists(stale)
    assert os.path.isdir(os.path.join(live, "sigs"))
    assert os.path.isdir(os.path.join(recent, "sigs"))
