"""Scale evidence for the near-dup dedup pipeline (the LLM-training-data
family: MinHash sigs -> banded LSH pairs -> connected components ->
keep-best) at a corpus size the driver fixtures never reach.

Synthesizes a deterministic corpus (seeded numpy):

* base documents of UNIFORM random words (pairwise Jaccard ~ 0, so the
  candidate set is driven by the planted structure — a zipf head would
  make thousands of docs share their minimum-hash shingles, flooding LSH
  buckets past the cap and drowning the planted pairs);
* planted NEAR-dup pairs: a copy with one word substituted (3-shingle
  Jaccard ~ 0.85-0.9 — the recall a 4-band x 2-row LSH should catch at
  ~99%, so measured recall is reported, not asserted as 1.0: missing a
  high-J pair with probability (1-J^2)^4 is the documented LSH tradeoff);
* planted EXACT dups (byte-identical copies — must always be caught).

Run per parallelism level; results merge into .bench/dedup.json (keyed
by master, consecutive-pair scaling efficiencies), inlined into bench.py:

    KGPIPE_DEDUP_MASTER=local[8]  python bench_dedup.py
    KGPIPE_DEDUP_MASTER=local[32] python bench_dedup.py

The run itself is the CHECKPOINTED pipeline (run_dedup_checkpointed)
writing all four durable stages into a fresh directory — the walls are
first-ever builds including the stage-table writes, i.e. the shape a real
100-TB dedup run pays once and resumes thereafter.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import numpy as np

N_BASE = 200_000
N_NEAR = 10_000   # planted near-dup pairs (1-word substitution)
N_EXACT = 5_000   # planted exact-dup pairs
DOC_WORDS = 60
VOCAB = 50_000
SEED = 11


def synth_corpus_pdf():
    import pandas as pd

    rng = np.random.default_rng(SEED)
    w = rng.integers(0, VOCAB, (N_BASE, DOC_WORDS))
    words = np.char.add("w", w.astype("U6"))
    texts = [" ".join(row) for row in words]
    doc_ids = list(range(N_BASE))
    planted_near, planted_exact = [], []
    rows = list(zip(doc_ids, texts))
    nxt = N_BASE
    near_src = rng.choice(N_BASE, N_NEAR, replace=False)
    for i in near_src:
        toks = texts[i].split(" ")
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = "zq" + str(int(rng.integers(0, 10**6)))
        rows.append((nxt, " ".join(toks)))
        planted_near.append((int(i), nxt))
        nxt += 1
    exact_src = rng.choice(N_BASE, N_EXACT, replace=False)
    for i in exact_src:
        rows.append((nxt, texts[i]))
        planted_exact.append((int(i), nxt))
        nxt += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pdf, planted_near, planted_exact


def main() -> int:
    master = os.environ.get("KGPIPE_DEDUP_MASTER", "local[32]")
    try:
        n_cores = int(master.split("[")[1].rstrip("]"))
    except (IndexError, ValueError):
        n_cores = 32

    from kgpipe.dedup_pipeline import run_dedup_checkpointed
    from kgpipe.session import get_spark
    from kgpipe.stage_counters import stage_counters

    pdf, planted_near, planted_exact = synth_corpus_pdf()
    n_docs = len(pdf)

    spark = get_spark("kgpipe-bench-dedup", master=master,
                      shuffle_partitions=max(8, n_cores))
    # materialize the synthetic corpus to parquet: the pipeline fingerprints
    # INPUT FILES, and a real run reads a table, not a driver DataFrame
    work = tempfile.mkdtemp(prefix="kgpipe-bench-dedup-")
    in_path = os.path.join(work, "documents.parquet")
    # many input FILES, not one: a single ~50MB parquet file is one split,
    # which serializes the whole signature fold into one task at every
    # parallelism level (measured: flat 126s sigs wall at 2/8/32 cores).
    # A real corpus at scale is always many files; 32 here.
    os.makedirs(in_path)
    n_chunks = 32
    step = (len(pdf) + n_chunks - 1) // n_chunks
    for ci in range(n_chunks):
        chunk = pdf.iloc[ci * step:(ci + 1) * step]
        if len(chunk):
            chunk.to_parquet(
                os.path.join(in_path, f"part-{ci:03d}.parquet"), index=False)
    corpus = spark.read.parquet(in_path)

    run_dir = os.path.join(work, "run")
    t0 = time.time()
    out = run_dedup_checkpointed(spark, corpus, [in_path], run_dir,
                                 n_buckets=max(16, n_cores))
    n_keep = out["keep_best"].count()
    wall = time.time() - t0

    # planted recovery from the members stage (cluster ids)
    members = {r["doc"]: r["cluster_id"]
               for r in out["members"].collect()}

    def same_cluster(a, b):
        return (a in members and b in members
                and members[a] == members[b])

    near_hit = sum(same_cluster(a, b) for a, b in planted_near)
    exact_hit = sum(same_cluster(a, b) for a, b in planted_exact)

    line = {
        "master": master,
        "n_docs": n_docs,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n_docs / wall, 1),
        "keep_best_rows": int(n_keep),
        "exact_recall": round(exact_hit / len(planted_exact), 4),
        "near_recall": round(near_hit / len(planted_near), 4),
        "stage_metrics": {k: {m: v[m] for m in
                              ("wall_ms", "rows_out", "buckets_computed")}
                          for k, v in out["metrics"].items()},
        "counters": stage_counters(spark)["totals"],
    }
    print(json.dumps(line))
    shutil.rmtree(work, ignore_errors=True)

    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".bench")
    os.makedirs(bench_dir, exist_ok=True)
    path = os.path.join(bench_dir, "dedup.json")
    merged = {}
    if os.path.exists(path):
        with open(path) as f:
            merged = json.load(f)
    merged[master] = line

    def cores(m):
        try:
            return int(m.split("[")[1].rstrip("]"))
        except (IndexError, ValueError):
            return 0

    levels = sorted((k for k in merged if cores(k) > 0), key=cores)
    if len(levels) >= 2:
        pairs = []
        for lo_k, hi_k in zip(levels, levels[1:]):
            lo, hi = merged[lo_k], merged[hi_k]
            ratio = cores(hi_k) / cores(lo_k)
            eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / ratio
            pairs.append({"levels": [lo_k, hi_k],
                          "throughput": [lo["docs_per_sec"],
                                         hi["docs_per_sec"]],
                          "efficiency": round(eff, 3)})
        merged["scaling"] = pairs
    with open(path, "w") as f:
        json.dump(merged, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
