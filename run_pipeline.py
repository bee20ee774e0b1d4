"""spark-submit entry point for the KG-construction pipeline.

Usage (local sandbox):
    python run_pipeline.py --input <fixture_dir> --output <graph_dir> \
        [--master local[8]] [--window 3] [--eval]

Production shape (BASELINE.json): spark-submit --py-files kgpipe.zip
run_pipeline.py --input <iceberg transcripts table> --output <graph table>.
The same DataFrame code runs unchanged on a multi-executor cluster; only
--master and the storage format flip (sources/storage.py).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="fixture dir with transcripts.{parquet,jsonl,csv} + "
                         "candidate_dict.parquet")
    ap.add_argument("--output", required=True, help="output dir for the triples table")
    ap.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")
    ap.add_argument("--window", type=int, default=3, help="turn-window size for cross-turn relations")
    ap.add_argument("--eval", action="store_true",
                    help="evaluate P/R vs gold_triples.parquet in the input dir")
    ap.add_argument("--predicates", default=None,
                    help="parquet/CSV (phrase, pred) table overriding the "
                         "built-in predicate config (kgpipe.predicates)")
    ap.add_argument("--trained-labeler", action="store_true",
                    help="fit the structured perceptron on a sample of the "
                         "input (driver-side) and label with the learned "
                         "weights instead of the gazetteer decoder")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="A14 resumable mode: per-bucket lineage manifests under "
                         "this dir; re-running with the same dir resumes from "
                         "the last committed bucket")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    metavar="K",
                    help="after committing, expire all but the newest K "
                         "snapshots of the output table (each run commits "
                         "a full immutable snapshot; without this flag the "
                         "table grows by one data copy per run)")
    args = ap.parse_args(argv)

    from kgpipe.operators.evaluate import evaluate_triples
    from kgpipe.predicates import load_predicates
    from kgpipe.session import get_spark
    from kgpipe.sources.storage import write_triples
    from kgpipe.stage_counters import stage_counters

    import os

    spark = get_spark("kgpipe-run", master=args.master)
    t0 = time.time()
    # without --predicates both paths fall back to the input dir's
    # predicates.parquet themselves (pipeline.fixture_predicates)
    predicates = (load_predicates(args.predicates) if args.predicates
                  else None)
    if args.checkpoint_dir:
        from kgpipe.pipeline import (
            fit_labeler,
            locate_transcripts,
            run_pipeline_checkpointed,
        )

        model = None
        if args.trained_labeler:
            import pandas as pd

            model = fit_labeler(
                spark, locate_transcripts(args.input),
                pd.read_parquet(
                    os.path.join(args.input, "candidate_dict.parquet")))
        out = run_pipeline_checkpointed(
            spark, args.input, args.checkpoint_dir, window=args.window,
            predicates=predicates, labeler_model=model)
    else:
        from kgpipe.pipeline import run_from_dir

        out = run_from_dir(spark, args.input, window=args.window,
                           predicates=predicates,
                           trained=args.trained_labeler)
    n = write_triples(out["triples"], args.output)
    if args.expire_keep_last is not None:
        from kgpipe.sources.storage import expire_snapshots

        expire_snapshots(args.output, keep_last=args.expire_keep_last)
    wall = time.time() - t0
    report = {"triples": n, "wall_sec": round(wall, 2),
              "triples_per_sec": round(n / wall, 1), "output": args.output,
              "stage_counters": stage_counters(spark)}
    if args.checkpoint_dir:
        report["stage_metrics"] = out["metrics"]
    if args.eval:
        gold_path = os.path.join(args.input, "gold_triples.parquet")
        if not os.path.exists(gold_path):
            print("--eval requested but no gold_triples.parquet in input dir",
                  file=sys.stderr)
            return 2
        # read back through the snapshot layer (metadata-planned scan), so
        # --eval also exercises the manifest read path end to end
        from kgpipe.sources.storage import read_triples

        triples = read_triples(spark, args.output)
        report["metrics"] = evaluate_triples(
            triples, spark.read.parquet(gold_path))
    print(json.dumps(report), flush=True)
    # explicit stop: an orphaned local-mode JVM outlives the driver script
    # otherwise, pinning cores and holding inherited pipes open
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
