"""KG-lifecycle benchmark for kgist_spark.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Builds the seeded inputs of one workload,
starts Spark on ``local[<nproc>]``, runs ops back to back for ``--seconds``
(at least one) and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Every op's outputs are checked against ground truth the
benchmark generates itself; see README.md for workloads, metrics and gates.
Files are written under ``perfbench/_work`` (removed at exit),
``perfbench/_traces`` (span dumps of traced runs) and
``perfbench/_results`` (per-seed output digests).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: the Spark driver's JVM heap: well under a 15 GB machine's RAM, enough for
#: every workload
DRIVER_MEM = "3g"


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus the Spark JVM, sampled
    from ``/proc`` every 50 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.pids = [os.getpid()]
        self.peak_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self):
        while not self._done.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def stop(self):
        self._done.set()
        self.join()


def _cpu_s(pids) -> float:
    """User + system CPU seconds of ``pids`` and their reaped children."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _steal() -> tuple:
    """(all CPU ticks, stolen ticks) of the machine so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _environment(work: str) -> None:
    """Everything Spark writes goes under ``work``; the package is importable
    by the JVM's Python workers."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def _start_spark(work: str):
    """``local[nproc]``, two shuffle partitions per core (see README.md)."""
    from kgist_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    cpus = os.cpu_count() or 1
    return get_spark(
        app_name="perfbench", cpus=cpus, shuffle_partitions=2 * cpus,
        extra_conf={
            # the JVM's temp files stay in the checkout (no /tmp/hsperfdata)
            "spark.driver.extraJavaOptions":
                f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _top_spans(tr, run_id):
    return [s for s in tr.spans if s["run"] == run_id and s["parent"] is None]


def _op_wall(tr, run_id) -> float:
    top = _top_spans(tr, run_id)
    return max(s["end"] for s in top) - min(s["start"] for s in top)


def _stage(tr, run_id, name) -> float:
    return sum(s["end"] - s["start"] for s in _top_spans(tr, run_id) if s["name"] == name)


def end_to_end(tr, reps, setup_s, peak_kb) -> dict:
    ids = [r for r, _ in reps]
    first = reps[0][1]

    def stage(name):
        return _median([_stage(tr, r, name) for r in ids])

    vals = {
        "setup_s": (setup_s, "s"),
        "wall_s": (_median([_op_wall(tr, r) for r in ids]), "s"),
        "build_items_per_s": (first["items"] / stage("build"), "1/s"),
        "summarize_s": (_median([_op_wall(tr, r) - _stage(tr, r, "build") for r in ids]), "s"),
        "model_bits_ratio": (first["fit_bits"] / first["null_bits"], "ratio"),
        "extract_precision": (first["precision"], "ratio"),
        "extract_recall": (first["recall"], "ratio"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one triple before scoring (the gates must trip)")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import kgist_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from a checkout root",
              file=sys.stderr)
        return 2
    import spans as tracing
    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    _environment(work)
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    rss = RssSampler()
    rss.start()
    spark = proc = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            rss.pids.append(proc.pid)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tr = tracing.Tracer(spark)
        wl = WORKLOADS[args.workload](spark, args.seed, SIZES[args.scale][args.workload], work, tr)
        if args.corrupt:
            _corrupt_scoring()
        gen_s = []
        for i in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup_rep(i)
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        tr.run_id = "setup"
        wl.setup_once()
        spark.catalog.clearCache()
        setup_s = session_s + _median(gen_s) + (time.perf_counter() - t)

        # closed loop: ops back to back until the next one would overrun
        failed, gate_failures, reps, n = 0, [], [], 0
        t_meas, last = time.perf_counter(), 0.0
        cpu0, steal0 = _cpu_s(rss.pids), _steal()
        while n == 0 or time.perf_counter() - t_meas + last <= args.seconds:
            t = time.perf_counter()
            n += 1
            tr.run_id = n
            try:
                with tracing.instrument(tr) if args.trace else contextlib.nullcontext():
                    out = wl.op()
                gates = wl.gates(out)
            except Exception as exc:  # a failed op counts; the run goes on
                print(f"perfbench: op {n} failed: {exc!r}", file=sys.stderr)
                out, gates = None, ["op_raised"]
            tr.release()
            spark.catalog.clearCache()
            if gates:
                failed += 1
                gate_failures += gates
            if out is not None:  # metrics come from every op that finished
                reps.append((n, out))
            last = time.perf_counter() - t
        attempted = n
        cpu_s, steal = _cpu_s(rss.pids) - cpu0, [b - a for a, b in zip(steal0, _steal())]
        if not reps:
            raise RuntimeError(f"every op raised: {sorted(set(gate_failures))}")
        if not args.corrupt and not _same_as_earlier_runs(args, reps[0][1]):
            failed += 1
            gate_failures.append("deterministic_across_runs")
        if args.trace:
            import layers

            metrics = layers.per_layer(tr, reps)
            tr.dump(os.path.join(HERE, "_traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(tr, reps, setup_s, rss.peak_kb)
        info = _info(tr, reps, failed / attempted, gate_failures)
        info.update(cpu_s=cpu_s, steal_share=steal[1] / max(1, steal[0]))
        print("perfbench info: " + json.dumps(info, sort_keys=True))
    finally:
        if spark is not None:
            spark.stop()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _same_as_earlier_runs(args, out: dict) -> bool:
    """Rules, objective bits and top-k of this seed's first run in this
    checkout are stored; every later run of the seed must reproduce them."""
    digest = json.loads(json.dumps({k: out[k] for k in ("rules", "bits", "topk")}))
    path = os.path.join(HERE, "_results", f"{args.workload}-{args.scale}-seed{args.seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f) == digest
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(digest, f)
    return True


def _info(tr, reps, failed_share: float, gate_failures: list) -> dict:
    """Figures for the reader that are not end-to-end metrics of both
    workloads: printed, not gated and not in the result line."""
    first = reps[0][1]
    info = {
        "failed_op_share": failed_share,
        "gate_failures": sorted(set(gate_failures)),
        "measured_ops": len(reps),
        "op_wall_s": [_op_wall(tr, r) for r, _ in reps],
        "stages_s": {name: _median([_stage(tr, r, name) for r, _ in reps])
                     for name in {s["name"] for s in _top_spans(tr, reps[0][0])}},
        "anomaly_prec_at_k": first["prec_at_k"],
        "fit_s": _median([_stage(tr, r, "fit") for r, _ in reps]),
        "score_triples_per_s": first["n_scored"] / _median([_stage(tr, r, "score") for r, _ in reps]),
    }
    if "alias_recovery" in first:
        info["alias_recovery"] = first["alias_recovery"]
    return info


def _corrupt_scoring() -> None:
    """Make every scorer see one triple fewer than the KG holds."""
    import kgist_spark.operators.anomaly as anomaly

    for name in ("score_edges", "score_edges_delta"):
        orig = getattr(anomaly, name)

        def dropped(*a, _orig=orig, **kw):
            a = list(a)
            a[2] = a[2].orderBy("subj", "pred", "obj").offset(1)
            return _orig(*a, **kw)

        setattr(anomaly, name, dropped)


if __name__ == "__main__":
    sys.exit(main())
