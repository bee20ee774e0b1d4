"""kgpipe benchmark: one workload, one seed, one run.

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 30 --trace 0

Run from the repository root. The run builds the workload's inputs from
the seed (cached under kgbench/.work/inputs), starts one fresh
``local[nproc]`` session (its start plus a first trivial job is the
set-up time), warms it on a small slice, then runs the workload's product
entry points again and again for ``--seconds`` seconds (no iteration starts
that the last one's duration says would end past them). Every iteration's
committed output is checked against the reference set. The last stdout
line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (medians over iterations);
``--trace 1`` reports the per-layer metrics instead: spans around the
calls into kgpipe in one traced iteration (written to
kgbench/.work/traces/), plus layer probes that run only in this pass.
Metric names, units and the design behind them are in BENCHMARK.json and
kgbench/design.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

from inputs import Size  # noqa: E402

# Input sizes. kg_batch replicates a sf0.1-shape base corpus with conv_id
# suffixes; kg_bigdict keeps one base corpus and grows the dictionary;
# kg_stream splits its corpus into per-micro-batch files. The stream_*
# fields of the batch workloads size the stream probe of the traced pass.
SIZES = {
    "kg_batch": Size(base_convs=3000, replicas=3, parts=12,
                     stream_files=4, stream_convs=400),
    "kg_bigdict": Size(base_convs=1500, parts=8, added_entities=800,
                       big_blocks=(50, 40, 30, 24),
                       stream_files=4, stream_convs=400),
    "kg_stream": Size(base_convs=400, parts=4, stream_files=4),
}
# An iteration takes a few seconds, so --seconds of measuring holds three to
# five of them; a slower host makes fewer.
ITER_TIMEOUT_S = 90.0  # an iteration slower than this is cancelled and failed
RUN_BUDGET_S = 150.0  # no new iteration starts after this much run time
MAX_CONSECUTIVE_FAILS = 3



def declared_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(run_dir: str) -> None:
    """The session's environment: every task slot of this host, a driver
    heap that fits it, scratch inside the run dir, no stage-metrics UI.

    The JVM compiles with C1 only (TieredStopAtLevel=1). At these input
    sizes C2 never pays back its compile time: with it, the JVM's CPU per
    iteration fell from ~12 to ~4.5 core-s over the first five to seven
    iterations of a run (compile threads competing with the tasks), and
    where an iteration sat on that slope set most of its wall time. C1
    reaches the same ~4.5-5 core-s from the first iteration."""
    n = nproc()
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["KGPIPE_DRIVER_MEM"] = "2g"
    os.environ["KGPIPE_JAVA_OPTS"] = (
        f"-XX:+UseParallelGC -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}")
    os.environ.pop("KGPIPE_STAGE_METRICS", None)
    # workers import kgpipe and the benchmark's own modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])


def host_speed_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: recorded with
    each run so slow host phases can be told apart from program changes."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t0


def environment_record(speed_s: float) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "host_speed_s": speed_s,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
            "driver_mem": os.environ["KGPIPE_DRIVER_MEM"],
            "java_opts": os.environ["KGPIPE_JAVA_OPTS"]}


class Watchdog:
    """Cancels the session's jobs and stream queries if an iteration runs
    longer than ``timeout_s``."""

    def __init__(self, spark, timeout_s: float):
        self.spark = spark
        self.fired = False
        self._timer = threading.Timer(timeout_s, self._fire)
        self._timer.daemon = True

    def _fire(self) -> None:
        self.fired = True
        for q in self.spark.streams.active:
            q.stop()
        self.spark.sparkContext.cancelAllJobs()

    def __enter__(self):
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        return False


class Runner:
    """One workload in one session: iterations, checks, fresh dirs."""

    def __init__(self, spark, workload: str, inputs, run_dir: str, sampler):
        import pandas as pd

        import check

        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.run_dir = run_dir
        self.sampler = sampler
        self.ref = check.key_set(pd.read_parquet(inputs.reference))
        self.n_iter = 0
        self.digest_checked = False

    def fresh(self) -> str:
        d = os.path.join(self.run_dir, "iter", f"{self.n_iter:04d}")
        self.n_iter += 1
        os.makedirs(d)
        return d

    def iteration(self, source: str | None = None, tracer=None,
                  dict_path: str | None = None):
        """One product iteration into fresh dirs. ``source`` overrides the
        workload's input (the warm-up slice)."""
        import workloads

        d = self.fresh()
        dict_path = dict_path or self.inputs.candidate_dict
        with Watchdog(self.spark, ITER_TIMEOUT_S) as wd:
            try:
                if self.workload == "kg_stream":
                    return workloads.stream_iteration(
                        self.spark, source or self.inputs.stream, dict_path,
                        os.path.join(d, "sink"), os.path.join(d, "ckpt"),
                        self.sampler, ITER_TIMEOUT_S, tracer)
                return workloads.batch_iteration(
                    self.spark, source or self.inputs.transcripts, dict_path,
                    os.path.join(d, "out"), self.sampler, tracer)
            finally:
                if wd.fired:
                    print(f"iteration {self.n_iter - 1} timed out",
                          file=sys.stderr)

    def check(self, it) -> tuple[bool, float, float]:
        """(passed, precision, recall) of one iteration's output. The first
        passing output of a run is also digested and compared with the
        digest recorded for this seed's inputs by earlier runs."""
        import check
        import workloads

        got = check.key_set(it.keys)
        p, r = check.precision_recall(got, self.ref)
        ok = p == 1.0 and r == 1.0 and len(got) == len(it.keys) == it.triples
        if self.workload == "kg_stream":
            ok = ok and it.batches_committed == self.inputs.meta["size"]["stream_files"]
        if ok and not self.digest_checked:
            digest = workloads.output_digest(
                self.spark, it, self.workload == "kg_stream")
            ok = (digest[0] == it.triples
                  and check.same_digest(self.inputs.digest_path, digest))
            self.digest_checked = True
        return ok, p, r

    def clean(self) -> None:
        shutil.rmtree(os.path.join(self.run_dir, "iter"), ignore_errors=True)


def measure(runner: Runner, seconds: float, iterations: int | None,
            t_process: float) -> tuple[list, int, int, list[float], list[float]]:
    """Iterate for ``seconds``: no new iteration starts that would end past
    them if it took as long as the last one (at least one always runs), nor
    after ``iterations`` when that is given. Returns (passing iterations,
    attempted, failed, precisions, recalls)."""
    good, precisions, recalls = [], [], []
    attempted = failed = streak = 0
    t_end = time.perf_counter() + seconds
    while True:
        attempted += 1
        t_iter = time.perf_counter()
        try:
            it = runner.iteration()
            ok, p, r = runner.check(it)
        except Exception:
            traceback.print_exc()
            ok, p, r = False, 0.0, 0.0
        finally:
            runner.clean()
        precisions.append(p)
        recalls.append(r)
        if ok:
            good.append(it)
            streak = 0
        else:
            failed += 1
            streak += 1
        now = time.perf_counter()
        if (attempted == iterations or now + (now - t_iter) > t_end
                or now - t_process > RUN_BUDGET_S
                or streak >= MAX_CONSECUTIVE_FAILS):
            break
    return good, attempted, failed, precisions, recalls


def end_to_end(setup_s: float, good: list, precisions: list[float],
               recalls: list[float]) -> dict[str, float]:
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    return {
        "setup_s": setup_s,
        "wall_s": med([it.wall_s for it in good]),
        "triples_per_s": med([it.triples / it.wall_s for it in good]),
        "cpu_s": med([it.usage.cpu_s for it in good]),
        "peak_rss_mb": med([it.usage.peak_rss_bytes / 2**20 for it in good]),
        "precision": min(precisions) if precisions else 0.0,
        "recall": min(recalls) if recalls else 0.0,
    }


def traced_pass(runner: Runner, untraced: list, start_s: float,
                job_s: float) -> dict[str, float]:
    """Per-layer metrics: one traced product iteration, then the probes.
    One more untraced iteration follows the traced one, so the overhead
    compares against iterations from both sides of it."""
    import pandas as pd

    import workloads
    from spans import Tracer

    tracer = Tracer(uuid.uuid4().hex[:12])
    workloads.patch_calls(tracer)
    try:
        it = runner.iteration(tracer=tracer)
    finally:
        tracer.unpatch_all()
    ok, _, _ = runner.check(it)
    if not ok:
        raise RuntimeError("traced iteration failed its output check")
    after = runner.iteration()
    if not runner.check(after)[0]:
        raise RuntimeError("untraced iteration failed its output check")
    untraced = untraced + [after]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    plan = ("streaming.incremental_triples" if runner.workload == "kg_stream"
            else "pipeline.run_pipeline")
    m: dict[str, float] = {
        "session.start_s": start_s, "session.first_job_s": job_s,
        "pipeline.plan_s": it.plan_s,
        "pipeline.plan_self_s": tracer.self_total(plan),
        "pipeline.exec_s": it.exec_s,
        "pipeline.gazetteer_calls": sum(
            s.name == "labeler.build_gazetteer" for s in tracer.spans),
        "pipeline.plan_gazetteer_s": tracer.total("labeler.build_gazetteer"),
        "trace.wall_s": it.wall_s,
        "trace.overhead_s": it.wall_s - med([u.wall_s for u in untraced]),
        "proc.jvm_cpu_s": med([u.usage.cpu_by_kind.get("jvm", 0.0)
                               for u in untraced]),
        "proc.python_cpu_s": med([u.usage.cpu_by_kind.get("python", 0.0)
                                  for u in untraced]),
    }
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    tracer.write(os.path.join(traces, f"{runner.workload}-{tracer.run}.json"))
    inp = runner.inputs
    cd = pd.read_parquet(inp.candidate_dict)
    if runner.workload == "kg_stream":
        stream_progress = it.progress
        triples_dir = None
    else:
        # the stream layer runs on a slice of this workload's corpus
        d = runner.fresh()
        s_it = workloads.stream_iteration(
            runner.spark, inp.stream, inp.candidate_dict,
            os.path.join(d, "sink"), os.path.join(d, "ckpt"),
            runner.sampler, ITER_TIMEOUT_S)
        stream_progress = s_it.progress
        triples_dir = it.out_dir
    m.update(workloads.stream_metrics(stream_progress))
    m.update(workloads.driver_probes(cd))
    m.update(workloads.pandas_probes(inp.transcripts, cd))
    scratch = runner.fresh()
    if triples_dir is None:
        # a triples table of this workload's output, written once
        from kgpipe.pipeline import read_transcripts, run_pipeline
        from kgpipe.sources.storage import write_triples

        triples_dir = os.path.join(scratch, "product")
        write_triples(run_pipeline(
            runner.spark, read_transcripts(runner.spark, inp.transcripts),
            cd)["triples"], triples_dir)
    m.update(workloads.spark_probes(runner.spark, inp.transcripts, cd,
                                    triples_dir, scratch))
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import kgpipe  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import kgpipe from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import inputs
    import session_ctl
    from proctree import Sampler

    last = [t_process]

    def phase(name: str) -> None:
        now = time.perf_counter()
        print(f"kgbench: {name} took {now - last[0]:.1f}s", file=sys.stderr)
        last[0] = now

    speed_s = host_speed_s()
    run_dir = os.path.join(WORK, "runs", uuid.uuid4().hex[:12])
    os.makedirs(run_dir)
    pin_environment(run_dir)
    sampler = Sampler()
    spark = None
    try:
        inp = inputs.build(args.workload, args.seed, SIZES[args.workload],
                           os.path.join(WORK, "inputs"))
        phase("inputs")
        sampler.begin()
        spark, start_s, job_s = session_ctl.start(nproc())
        sampler.end()
        phase("session")
        if args.workload == "kg_stream":
            inputs.ensure_stream_reference(spark, inp)
            phase("stream reference")
        runner = Runner(spark, args.workload, inp, run_dir, sampler)
        # warm-up: one untimed iteration over a small slice of the corpus
        # with the stock dictionary, so the measured iterations do not pay
        # class loading, first JIT compiles and Python worker start
        runner.iteration(source=inp.warm_stream if args.workload == "kg_stream"
                         else inp.warm, dict_path=inp.warm_dict)
        runner.clean()
        phase("warm-up")
        # the traced pass needs only one untraced iteration before it
        good, attempted, failed, precisions, recalls = measure(
            runner, args.seconds, 1 if args.trace else None, t_process)
        phase("measure")
        if args.trace:
            metrics = traced_pass(runner, good, start_s, job_s)
            phase("traced pass")
        else:
            metrics = end_to_end(start_s + job_s, good, precisions, recalls)
    finally:
        if spark is not None:
            session_ctl.stop(spark)
        left = sampler.wait_gone()
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("stop")
    if left:
        print(f"kgbench: processes still alive: {left}", file=sys.stderr)
    units = declared_units(args.trace)
    if set(units) != set(metrics):
        print(f"kgbench: metrics differ from BENCHMARK.json: "
              f"{sorted(set(units) ^ set(metrics))}", file=sys.stderr)
        return 3
    env = environment_record(speed_s)
    print("# env " + json.dumps(env))
    print(f"# {args.workload} seed={args.seed} iterations={attempted} "
          f"failed={failed} failed_frac={failed / attempted:.4f}")
    for name, value in metrics.items():
        print(f"# {name} = {value:.6g} {units.get(name, '')}")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units.get(k, "")}
                          for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
