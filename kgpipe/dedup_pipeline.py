"""A14-checkpointed near-duplicate dedup pipeline (SURVEY.md §2A A14 ×
the LLM-data dedup family): sigs -> pairs -> members -> keep_best as
``CheckpointedRun`` stages with per-stage lineage manifests.

Stage shapes:

* ``sigs`` — per-doc MinHash signatures. Bucket-local by ``doc_id``
  (a signature depends only on its own row), so it checkpoints at bucket
  granularity and resumes per bucket — at 100 TB this is the stage worth
  fine-grained resume: it scans all the text.
* ``pairs`` — banded LSH bucket self-join. GLOBAL (a pair spans doc
  buckets), so stage-level resume; the write keeps the join's natural
  parallelism (checkpoint.py writes global stages without a
  repartition(1) funnel).
* ``members`` — connected components over the candidate pairs. Global
  (iterative O(log^2 n) two-phase CC).
* ``keep_best`` — quality-ranked representative per cluster. Global
  (the members<->corpus join shuffles on doc_id anyway).

Fingerprints chain exactly like the KG pipeline's
(``pipeline.run_pipeline_checkpointed``): stage k+1's fingerprint hashes
stage k's, so editing the source corpus — or any MinHash/LSH parameter —
invalidates everything downstream transitively, while an interrupted run
resumes from the last durably-committed stage (or bucket, for ``sigs``).

This is the "at 100 TB a real pipeline would write sigs to a table
between stages" note in queries/textops.py made real: each stage's output
IS a parquet table with a lineage manifest.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from kgpipe.operators.checkpoint import CheckpointedRun, input_fingerprint
from kgpipe.queries.textops import (
    LSH_BANDS,
    LSH_BUCKET_CAP,
    MINHASH_AB,
    keep_best_from_members,
    lsh_pairs_from_sigs,
    members_from_pairs,
    minhash_sigs_over,
)

# Every parameter the stage outputs depend on; folded into the A14 input
# fingerprint so a parameter change invalidates the durable stages (and,
# for the fingerprint-keyed run_dir in queries/textops.py::dedup_pipeline,
# lands in a fresh directory).
# v=2: the minhash permutation family changed (pre-reduction mod 2^31-1
# so the affine transforms actually wrap — textops.MINHASH_M) — durable
# sigs/pairs tables from v=1 are formula-stale and must not be resumed
DEDUP_PARAMS = {"bands": LSH_BANDS, "cap": LSH_BUCKET_CAP, "ab": MINHASH_AB,
                "v": 2}


# The corpus TRANSFORM is part of the fingerprint, not just the input
# files: run_dedup_checkpointed is generic over any (doc_id, text) corpus,
# and two different transforms of the same documents.parquet must never
# share stage tables. Bump when _neardup_corpus_spark changes shape.
NEARDUP_CORPUS_TAG = "neardup-zzz-v1"
# the plain shifted-copy dup corpus (_dup_corpus_spark) — the LSH query
# family (minhash_lsh_pairs / ngram_jaccard_dups) shares sigs+pairs stage
# tables under this tag. Bump when _dup_corpus_spark changes shape.
DUP_CORPUS_TAG = "dup-shifted-v1"


def stage_fingerprints(input_paths: list[str],
                       corpus: str = NEARDUP_CORPUS_TAG) -> dict[str, str]:
    """The chained A14 fingerprints for every stage — the single source of
    truth shared by the run itself and any read-only consumer of its
    committed stage tables (CheckpointedRun.load_committed)."""
    fp1 = input_fingerprint(
        input_paths, {"stage": "sigs", "corpus": corpus, **DEDUP_PARAMS})
    fp2 = hashlib.sha256(f"{fp1}|pairs|v=1".encode()).hexdigest()[:16]
    fp3 = hashlib.sha256(f"{fp2}|members|v=1".encode()).hexdigest()[:16]
    fp4 = hashlib.sha256(f"{fp3}|keep_best|v=1".encode()).hexdigest()[:16]
    # exact-Jaccard verification branches off the pairs stage (it does not
    # feed CC), so its fingerprint chains from fp2, not fp4
    fpj = hashlib.sha256(f"{fp2}|jaccard|v=1".encode()).hexdigest()[:16]
    return {"sigs": fp1, "pairs": fp2, "members": fp3, "keep_best": fp4,
            "jaccard": fpj}


def run_dir_fp(fps: dict[str, str]) -> str:
    """The durable run_dir key: a hash over the WHOLE fingerprint chain,
    not just fps['sigs'] — a version bump to any downstream stage (e.g.
    '|pairs|v=2') must move the run to a NEW directory, otherwise a
    new-version writer would wipe+rewrite stage tables in a dir an
    old-version reader may still be lazily consuming after lock release
    (the immutability argument in locked_run_dir holds only if dir key
    and every stage fingerprint move together)."""
    joined = "|".join(f"{k}={fps[k]}" for k in sorted(fps))
    return hashlib.sha256(joined.encode()).hexdigest()[:16]


def shared_run_dir(input_paths: list[str],
                   fp: str | None = None) -> str | None:
    """The per-user, input-fingerprint-keyed durable run_dir: fresh
    sessions over unchanged inputs resume each other's committed stages
    (queries/textops.py::dedup_pipeline holds the flock that serializes
    concurrent writers on it).

    ``fp``: pass ``run_dir_fp(stage_fingerprints(...))`` when already
    computed — re-stat'ing the inputs here would both duplicate I/O and
    open a TOCTOU window where the dir and the probe fingerprint
    disagree. The key covers the WHOLE chain (see run_dir_fp).

    The shared dirs live under a mode-0700 per-user ROOT whose ownership
    is verified: on a multi-user host, world-writable /tmp would let
    another user pre-create the predictable path and feed a forged stage
    table to a reader. The probe uses ``lstat`` (a symlink planted at the
    predictable path must not be followed to a stat of its target) and
    rejects non-directories outright; a pre-existing root with group/
    world-writable bits is repaired with chmod 0700 when we own it —
    ``makedirs(exist_ok=True)`` does not re-apply the mode, so a root
    created loose by an older version would otherwise stay loose forever.
    If the root is not ours (or not a real directory), returns None —
    callers fall back to private non-shared dirs."""
    import getpass
    import os
    import stat as _stat
    import tempfile

    if fp is None:
        fp = run_dir_fp(stage_fingerprints(input_paths))
    root = os.path.join(tempfile.gettempdir(),
                        f"kgpipe-dedup-{getpass.getuser()}")
    try:
        os.makedirs(root, mode=0o700, exist_ok=True)
        st = os.lstat(root)
    except OSError:
        return None
    if (st.st_uid != os.getuid() or _stat.S_ISLNK(st.st_mode)
            or not _stat.S_ISDIR(st.st_mode)):
        return None
    if st.st_mode & 0o077:
        try:
            os.chmod(root, 0o700)
        except OSError:
            return None
    return os.path.join(root, fp)


_PRIVATE_CLEANUP: set[str] = set()
PRIVATE_DIR_MAX_AGE_S = 7 * 86400.0


def _register_private_cleanup(private: str) -> None:
    """Remove this session's private fallback dirs at interpreter exit
    (idempotent per path). Hard crashes skip atexit — the age sweep
    covers those."""
    import atexit
    import shutil

    if private not in _PRIVATE_CLEANUP:
        _PRIVATE_CLEANUP.add(private)
        atexit.register(shutil.rmtree, private, ignore_errors=True)


def _sweep_stale_private_dirs(max_age_s: float = PRIVATE_DIR_MAX_AGE_S):
    """GC crashed sessions' private fallback dirs: anything matching the
    private naming pattern whose mtime is older than ``max_age_s``. A live
    session is safe: ``locked_run_dir`` refreshes its dir's mtime on every
    use (nested stage writes do not touch the top-level mtime), and even a
    false positive fails LOUDLY downstream — the checkpoint layer raises
    on lost data, never fabricates."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    cutoff = time.time() - max_age_s
    pat = os.path.join(tempfile.gettempdir(), "kgpipe-dedup-private-*")
    for d in glob.glob(pat):
        try:
            if os.path.isdir(d) and os.path.getmtime(d) < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def _sweep_stale_shared_dirs(keep: str,
                             max_age_s: float = PRIVATE_DIR_MAX_AGE_S):
    """GC superseded shared fingerprint dirs next to ``keep`` (a changed
    input or a fingerprint version bump strands the old dir forever):
    each one unused for ``max_age_s`` is removed while holding its
    ``.lock``, taken non-blocking, so a live run's dir is never touched."""
    import fcntl
    import os
    import shutil
    import time

    cutoff = time.time() - max_age_s
    root = os.path.dirname(keep)
    for name in os.listdir(root):
        d = os.path.join(root, name)
        try:
            if (d == keep or not os.path.isdir(d) or os.path.islink(d)
                    or os.path.getmtime(d) >= cutoff):
                continue
            with open(os.path.join(d, ".lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            continue


def locked_run_dir(spark: SparkSession, input_paths: list[str],
                   fps: dict[str, str]):
    """Context manager yielding the durable run_dir to checkpoint under:
    the shared fingerprint-keyed dir with an exclusive non-blocking
    ``flock`` held for the duration, or — when the shared root is unusable
    (not ours) or another live process holds the lock — a private
    applicationId-suffixed fallback (correct, just without cross-process
    sharing). Factored out of queries/textops.py::dedup_pipeline so every
    durable query family (near-dup keep-best, the LSH pairs family) uses
    the identical locking discipline.

    The lock is released on exit, BEFORE the caller consumes the returned
    DataFrames — safe because committed stage tables are immutable under
    an unchanged fingerprint; only a writer for a *changed* input would
    rewrite them, into a different fingerprint-keyed dir."""
    import contextlib
    import fcntl
    import os
    import tempfile

    @contextlib.contextmanager
    def _cm():
        # the private fallback is ALSO fingerprint-suffixed: one session
        # runs several durable families (neardup, LSH pairs) plus several
        # scales, and a single appId-keyed dir would make them wipe each
        # other's stages on every fingerprint mismatch. Private dirs are
        # session debris by definition (never shared), so they are removed
        # at interpreter exit; an age sweep below catches hard-crashed
        # sessions' leftovers so contended hosts don't accumulate
        # corpus-sized trees forever.
        private = os.path.join(
            tempfile.gettempdir(),
            f"kgpipe-dedup-private-{spark.sparkContext.applicationId}"
            f"-{run_dir_fp(fps)}")
        _register_private_cleanup(private)
        run_dir = shared_run_dir(input_paths, fp=run_dir_fp(fps))

        def use(d: str) -> str:
            # the age sweeps key on the top-level mtime, which nested
            # stage writes never refresh: mark the dir live, THEN sweep
            os.makedirs(d, exist_ok=True)
            os.utime(d)
            _sweep_stale_private_dirs()
            return d

        if run_dir is None:
            yield use(private)
            return
        _sweep_stale_shared_dirs(run_dir)
        os.makedirs(run_dir, exist_ok=True)
        with open(os.path.join(run_dir, ".lock"), "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                yield use(private)
                return
            yield use(run_dir)

    return _cm()


def run_dedup_checkpointed(
    spark: SparkSession,
    corpus: DataFrame,
    input_paths: list[str],
    run_dir: str,
    n_buckets: int = 16,
    fps: dict[str, str] | None = None,
    through: str = "keep_best",
) -> dict[str, object]:
    """Run the near-dup pipeline over ``corpus`` (doc_id, text) with every
    stage checkpointed under ``run_dir``.

    ``input_paths``: the files ``corpus`` derives from — fingerprinting
    input; the corpus transform itself must be deterministic given those
    files (true for all fixture corpora here).

    ``through``: last stage to run AND durably commit — one of 'sigs',
    'pairs', 'members', 'keep_best' (validated: a typo must not silently
    run and commit the whole pipeline). 'pairs' gives the LSH candidate
    front half only (the minhash_lsh_pairs query family shares durable
    sigs+pairs tables without paying CC + keep-best it never reads).
    """
    order = ("sigs", "pairs", "members", "keep_best")
    if through not in order:
        raise ValueError(f"through={through!r}; expected one of {order}")
    last = order.index(through)
    if fps is None:
        fps = stage_fingerprints(input_paths)

    run = CheckpointedRun(spark, run_dir)
    out: dict[str, object] = {"metrics": run.metrics, "run": run}
    s1 = run.stage("sigs", corpus, minhash_sigs_over,
                   key_col="doc_id", n_buckets=n_buckets,
                   fingerprint=fps["sigs"])
    out["sigs"] = s1.df
    if last >= 1:
        s2 = run.stage("pairs", s1.df, lsh_pairs_from_sigs,
                       n_buckets=1, fingerprint=fps["pairs"])
        out["pairs"] = s2.df
    if last >= 2:
        s3 = run.stage("members", s2.df, members_from_pairs,
                       n_buckets=1, fingerprint=fps["members"])
        out["members"] = s3.df
    if last >= 3:
        s4 = run.stage("keep_best", s3.df,
                       lambda m: keep_best_from_members(m, corpus),
                       n_buckets=1, fingerprint=fps["keep_best"])
        out["keep_best"] = s4.df
    run.write_metrics()
    return out
