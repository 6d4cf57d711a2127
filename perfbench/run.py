"""Host-normalized benchmark of the engine: ``etl``, ``headline`` and
``iterative`` workloads, measured from outside the program.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

One Spark session on ``local[nproc]`` runs in this process. After set-up
(imports, ``session.get_spark``, input staging and one untimed repetition
whose outputs are checked), timed repetitions run until ``--seconds`` have
passed, at least one of them (two when traced). A reference job
(``host.Reference``) runs before and after set-up and after every
repetition, while the program is idle; every gated time is normalized by
the median of its windows. ``--trace 1`` alternates untraced and
traced repetitions, prints the per-layer metrics instead of the end-to-end
ones, and writes the spans to ``.perfbench/trace-<workload>-seed<n>.json``.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Inputs are generated from ``--seed`` and cached
under ``.perfbench/``; the run reads and writes nothing outside the
repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "the_movie_database_import_spark"
sys.path.insert(0, HERE)

import host  # noqa: E402
from spans import StatusStore, Tracer  # noqa: E402

# Benchmark modules that import numpy, pandas or pyarrow are imported after
# the program's package, so set-up time counts those imports once, as the
# program's own.
WORKLOAD_NAMES = ("etl", "headline", "iterative")
SCALE_NAMES = ("bench", "tiny")

# Inputs come in this many distinct sets per workload: --seed n uses set
# n mod INPUT_SETS, whose expected output digests are in expected.json.
INPUT_SETS = 10
# Every run pays a fresh JVM and a cold pass first, so a run holds one
# timed rep (two when traced: one of each kind) unless --seconds asks for
# more; the median over runs carries the statistics.
MIN_REPS = {0: 1, 1: 2}

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "CPU-s", "ok_frac": "ratio"}
PER_LAYER = {
    "session.start_s": "s",
    "session.release_s": "s",
    "session.pinned_rdds_after": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.catalyst_s": "s",
    "plans.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "CPU-s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "operators.lsh_candidates": "count",
    "operators.lsh_verified": "count",
    "operators.lsh_verify_ratio": "ratio",
    "etl.python_cpu_s": "CPU-s",
    "etl.jvm_cpu_s": "CPU-s",
    "etl.first_write_s": "s",
    "sources.write_s": "s",
    "sources.out_bytes": "bytes",
    "sources.out_bytes_per_in_byte": "ratio",
    "host.ref_s": "s",
    "host.ref_contended_cpu_s": "CPU-s",
    "host.raw_setup_s": "s",
    "host.raw_wall_s": "s",
    "host.raw_cpu_s": "CPU-s",
    "host.steal_s": "s",
    "host.python_workers_spawned": "count",
    "host.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=SCALE_NAMES, default="bench")
    return ap.parse_args(argv)


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def isolate_environment(work: str) -> str:
    """Point every temporary and local directory of Python, the JVM and
    Spark into ``work``; return the per-process scratch directory."""
    scratch = os.path.join(work, "tmp", str(os.getpid()))
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
        f"--driver-java-options -Dderby.system.home={scratch} pyspark-shell"
    )
    return scratch


def keep_package_zip_in(session_mod, work: str) -> None:
    """``session.get_spark`` zips the package into /tmp for the Python
    workers. Build the same zip, keyed the same way by the newest source
    mtime, under ``work`` instead, so the run writes only inside the
    repository."""
    pkg = os.path.dirname(os.path.abspath(session_mod.__file__))

    def package_zip_path() -> str:
        sources = [
            os.path.join(r, f) for r, _d, fs in os.walk(pkg) for f in fs if f.endswith(".py")
        ]
        newest = int(max(os.path.getmtime(p) for p in sources))
        path = os.path.join(work, f"{PACKAGE}-{newest}.zip")
        if not os.path.exists(path):
            with zipfile.ZipFile(path + ".part", "w") as zf:
                for p in sources:
                    zf.write(p, os.path.relpath(p, os.path.dirname(pkg)))
            os.replace(path + ".part", path)
        return path

    session_mod._package_zip_path = package_zip_path


def stop_program() -> None:
    """Stop the Spark session, if one started, and wait for its JVM, which
    exits when its stdin (a pipe from this process) closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, work: str, ref: host.Reference):
        self.args = args
        self.work = work
        self.ref = ref
        self.tracer = Tracer(bool(args.trace))
        self.untraced = Tracer(False)
        self.infra_s = 0.0      # benchmark-side time inside set-up
        self.refs: list[host.RefSample] = []
        self.samples: list[dict] = []
        self.peak_rss = 0.0
        self.workers_seen: set[int] = set()
        self.workers_spawned = 0

    def measure_ref(self) -> host.RefSample:
        t0 = time.perf_counter()
        s = self.ref.measure()
        self.infra_s += time.perf_counter() - t0
        self.refs.append(s)
        return s

    def proc(self) -> host.ProcSample:
        p = host.sample_tree()
        self.peak_rss = max(self.peak_rss, p.rss_mb)
        return p

    def execute(self) -> dict:
        args, tr = self.args, self.tracer
        ref_setup = self.measure_ref()
        with tr.span("setup"):
            with tr.span("session.import"):
                sys.path.insert(0, ROOT)
                from the_movie_database_import_spark import session
                from the_movie_database_import_spark.session import get_spark, release_caches
            import datagen
            from verify import expected_for
            from workloads import SCALES, WORKLOADS, Ctx, dir_bytes
            self.workload = WORKLOADS[args.workload]()
            keep_package_zip_in(session, self.work)
            self.release_caches = release_caches
            self.persistent_rdd_ids = session.persistent_rdd_ids
            with tr.span("inputs.generate"):
                t0 = time.perf_counter()
                input_seed = args.seed % INPUT_SETS
                kind = self.workload.kind
                inputs = datagen.ensure(self.work, kind, SCALES[args.scale][kind], input_seed)
                self.infra_s += time.perf_counter() - t0
            with tr.span("session.start"):
                t0 = time.perf_counter()
                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
                self.session_start_s = time.perf_counter() - t0
            self.spark = spark
            self.store = StatusStore(spark) if args.trace else None
            out_root = os.path.join(self.work, "out", str(os.getpid()))
            with tr.span("inputs.stage"):
                in_bytes = dir_bytes(inputs)
            with tr.span("rep", index=-1, verify=True):
                ctx = Ctx(spark, self.untraced, None, inputs, os.path.join(out_root, "verify"))
                digests: dict = {}
                failed = self.workload.verify_rep(ctx, digests)
                self.release()
                self.infra_s += ctx.layer.get("digest_s", 0.0)
        expected = expected_for(args.scale, args.workload, input_seed)
        bad = set(failed) | {op for op in self.workload.ops() if digests.get(op) != expected.get(op)}
        for op in sorted(bad - set(failed)):
            log(f"{op}: output {digests.get(op)} != expected {expected.get(op)}")
        shutil.rmtree(os.path.join(out_root, "verify"), ignore_errors=True)
        self.proc()

        before = self.measure_ref()
        setup_raw = time.perf_counter() - T_START - self.infra_s
        log(f"set-up {setup_raw:.2f} s raw, benchmark-side {self.infra_s:.2f} s, refs "
            f"{ref_setup.seconds:.4f}/{before.seconds:.4f} s")
        t_loop = time.perf_counter()
        k = 0
        prev_out = None
        while k < MIN_REPS[args.trace] or time.perf_counter() - t_loop < args.seconds:
            traced = bool(args.trace) and k % 2 == 1
            out_dir = os.path.join(out_root, f"rep{k}")
            ctx = Ctx(spark, tr if traced else self.untraced, self.store if traced else None,
                      inputs, out_dir)
            if traced:
                self.store.read()  # start counting at this rep
            p0 = self.proc()
            t0 = time.perf_counter()
            with ctx.tracer.span("rep", index=k):
                failed = self.workload.rep(ctx)
                with ctx.tracer.span("session.release"):
                    t1 = time.perf_counter()
                    self.release()
                    ctx.add("session.release_s", time.perf_counter() - t1)
            wall = time.perf_counter() - t0
            p1 = self.proc()
            ctx.add("session.pinned_rdds_after", len(self.persistent_rdd_ids(spark.sparkContext)))
            if traced:
                for key, v in self.store.read().items():
                    ctx.add(key, v)
                for s in tr.spans:
                    if s.name.startswith("plans.") and s.end and s.attrs.get("rep") is None:
                        s.attrs["rep"] = k
                        ctx.add(s.name + "_s", s.end - s.start)
            new_workers = p1.python_workers - self.workers_seen
            self.workers_spawned += len(new_workers)
            self.workers_seen |= p1.python_workers
            if prev_out:
                shutil.rmtree(prev_out, ignore_errors=True)
            prev_out = out_dir
            after = self.measure_ref()
            ctx.layer.update(
                wall=wall, cpu=p1.cpu_s - p0.cpu_s, jvm_cpu=p1.jvm_cpu_s - p0.jvm_cpu_s,
                py_cpu=p1.python_cpu_s - p0.python_cpu_s, steal=p1.steal_s - p0.steal_s,
                idle=before.idle and after.idle, traced=traced, failed=failed,
            )
            if os.path.isdir(out_dir):
                ctx.add("sources.out_bytes", dir_bytes(out_dir))
            self.samples.append(ctx.layer)
            log(f"rep {k}: wall {wall:.3f} s, cpu {ctx.layer['cpu']:.2f} s, "
                f"steal {ctx.layer['steal']:.2f} s, ref {after.seconds:.4f} s "
                f"(contended {after.contended_cpu_s:.2f} CPU-s), at {time.perf_counter() - T_START:.1f} s")
            before = after
            k += 1

        if prev_out and hasattr(self.workload, "digest_outputs"):
            last = self.samples[-1]["failed"]
            for op, d in self.workload.digest_outputs(prev_out, last).items():
                if d != expected.get(op):
                    log(f"{op}: last rep output {d} != expected {expected.get(op)}")
                    bad.add(op)
        shutil.rmtree(out_root, ignore_errors=True)

        # Every operation of a table or query whose output did not verify
        # fails, and so does every operation of a rep whose reference
        # window was not idle.
        ops = self.workload.ops()
        attempted = len(ops) * (1 + len(self.samples))
        failed_n = len(bad)
        for s in self.samples:
            failed_n += len(ops) if not s["idle"] else len(set(s["failed"]) | bad)
        timed = [s for s in self.samples if s["idle"] and not s["traced"]]
        if not timed:
            log("no rep had idle reference windows on both sides")
            timed = [s for s in self.samples if not s["traced"]]
        # One factor for the whole run: the median of all its reference
        # windows. A single 0.2 s window varies by about 5% on a busy host,
        # more than the host's speed drifts within a run.
        norm = host.REF_NOMINAL_S / median([r.seconds for r in self.refs])

        if not args.trace:
            metrics = {
                "setup_s": setup_raw * norm,
                "wall_s": median([s["wall"] for s in timed]) * norm,
                "cpu_s": median([s["cpu"] for s in timed]) * norm,
                "ok_frac": (attempted - failed_n) / attempted,
            }
            units = END_TO_END
        else:
            metrics = self.layer_metrics(timed, setup_raw, in_bytes)
            units = PER_LAYER
            path = os.path.join(self.work, f"trace-{args.workload}-seed{args.seed}.json")
            tr.dump(path, {"metrics": metrics, "reps": [
                {k: v for k, v in s.items() if k != "failed"} for s in self.samples
            ]})
            log(f"spans written to {path}")
        return {
            "correct": failed_n == 0,
            "attempted": attempted,
            "failed": failed_n,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def release(self) -> None:
        self.release_caches()
        self.spark.catalog.clearCache()

    def layer_metrics(self, untraced: list[dict], setup_raw: float, in_bytes: int) -> dict:
        traced = [s for s in self.samples if s["traced"]] or self.samples

        def med(key: str) -> float:
            return median([s.get(key, 0.0) for s in traced])

        m = {k: med(k) for k in PER_LAYER if not k.startswith(("host.", "trace.", "etl."))}
        m["session.start_s"] = self.session_start_s
        m["operators.lsh_verify_ratio"] = (
            m["operators.lsh_verified"] / m["operators.lsh_candidates"]
            if m["operators.lsh_candidates"] else 0.0
        )
        m["sources.out_bytes_per_in_byte"] = m["sources.out_bytes"] / in_bytes
        m["etl.python_cpu_s"] = median([s["py_cpu"] for s in untraced])
        m["etl.jvm_cpu_s"] = median([s["jvm_cpu"] for s in untraced])
        m["etl.first_write_s"] = med("etl.first_write_s")
        m["host.ref_s"] = median([r.seconds for r in self.refs])
        m["host.ref_contended_cpu_s"] = max(r.contended_cpu_s for r in self.refs)
        m["host.raw_setup_s"] = setup_raw
        m["host.raw_wall_s"] = median([s["wall"] for s in untraced])
        m["host.raw_cpu_s"] = median([s["cpu"] for s in untraced])
        m["host.steal_s"] = median([s["steal"] for s in untraced])
        m["host.python_workers_spawned"] = self.workers_spawned
        m["host.peak_rss_mb"] = self.peak_rss
        m["trace.overhead_s"] = med("wall") - m["host.raw_wall_s"]
        return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"no {PACKAGE}/ next to perfbench/; run from a full checkout")
        return 2
    work = os.path.join(ROOT, ".perfbench")
    scratch = isolate_environment(work)
    t0 = time.perf_counter()
    ref = host.Reference(nproc())
    run = Run(args, work, ref)
    run.infra_s += time.perf_counter() - t0
    try:
        result = run.execute()
    finally:
        stop_program()
        ref.close()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
