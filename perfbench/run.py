#!/usr/bin/env python3
"""Seeded, self-checking benchmark of pandarallel_spark.

Run from the repository root:

    python3 perfbench/run.py --workload reference_udf --seed 1 --seconds 10 --trace 0

One run is one fresh process with one client thread in a closed loop on
``local[<nproc>]``. It

1. has a child process write the set-up's seeded inputs and compute
   their oracle results (single-threaded pandas or DuckDB; cached per
   seed in the scratch directory), so that this process has imported
   nothing but the standard library when the set-up clock starts;
2. sets up once, as a user's fresh process does: imports (numpy,
   pandas, pyarrow, pyspark, the library) → ``get_spark`` (JVM launch)
   → first Python-worker job → one warm-up pass; ``setup_s`` is that
   whole span;
3. runs measured passes until their summed time reaches ``--seconds``
   (at least ``MIN_PASSES``), writing every op's result with
   ``sources.write_parquet`` and checking it against its oracle.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the metrics BENCHMARK.json declares: the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1`` (traced and
untraced passes then alternate). The line before it names the full
record and carries per-op median latencies. A wrong result or a raised
exception makes the run exit with code 1. ``--smoke`` runs tiny inputs,
for the self-tests. All files go to
``.perfbench_scratch/`` under the repository root; LAYERS.md maps each
per-layer metric to the end-to-end metric it moves.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRATCH = ROOT / ".perfbench_scratch"

MIN_PASSES = 2
DRIVER_MEMORY = "2g"
# workloads.WORKLOADS, named here so that parsing the arguments imports nothing
WORKLOADS = ("corpus_pipeline", "first_call", "reference_udf")


def _isolate_scratch(scratch: Path) -> None:
    """Keep every file Spark, the JVM and Python create inside ``scratch``."""
    tmp = scratch / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # the session's temp files of earlier runs
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    # The library's default spark.local.dir is a shared directory under
    # /dev/shm; a run may write only inside its checkout, so shuffle and
    # spill files go to scratch (LAYERS.md bounds what this costs).
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(scratch / "spark-local")
    # the launcher JVM and the driver JVM: no /tmp/hsperfdata, temp files in scratch
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None


def _spark_conf(scratch: Path) -> dict[str, str]:
    tmp = scratch / "tmp"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}/derby",
    }


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    def __init__(self, workload, scratch: Path):
        from probes import RssPeak

        self.wl = workload
        self.scratch = scratch
        self.out_dir = scratch / "out" / workload.name
        self.rss = RssPeak()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None

    # -- one operation -----------------------------------------------------

    def run_op(self, op, op_id: str, traced: bool):
        """Latency of one op (call → result written) and its trace."""
        import pyarrow.parquet as pq
        from pandarallel_spark.sources import write_parquet

        path = self.out_dir / op.name
        self.attempted += 1
        trace = None
        try:
            t0 = time.perf_counter()
            if traced:
                tracer = self.tracer
                trace = tracer.start(op_id)
                with tracer.phase(trace, "read"):
                    src = op.read(self.spark) if op.read else None
                with tracer.phase(trace, "build"):
                    df = op.build(self.spark, src)
                with tracer.phase(trace, "plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.phase(trace, "write"):
                    write_parquet(df, str(path))
            else:
                src = op.read(self.spark) if op.read else None
                df = op.build(self.spark, src)
                write_parquet(df, str(path))
            latency = time.perf_counter() - t0
            if traced:
                tracer.finish(trace, df, path)
            op.check(pq.read_table(path).to_pandas())
        except Exception as e:  # noqa: BLE001 — every failure is counted, the run goes on
            self.failures.append(f"{op_id}: {type(e).__name__}: {str(e)[:300]}")
            print(f"FAILED {op_id}", file=sys.stderr)
            traceback.print_exc()
            return None, None
        return latency, trace

    def run_pass(self, p, tag: str, traced: bool) -> dict:
        from probes import HostCpu

        host0 = HostCpu.read()
        lat, traces = {}, []
        for op in p.ops:
            latency, trace = self.run_op(op, f"{self.wl.name}:{tag}:{op.name}", traced)
            if latency is not None:
                lat[op.name] = latency
            if trace is not None:
                traces.append(trace)
        self.rss.sample()
        return {
            "tag": tag,
            "traced": traced,
            "rows": p.rows,
            "oracle_s": p.oracle_s,
            "wall_s": sum(lat.values()),
            "op_s": lat,
            "traces": traces,
            "host": HostCpu.fractions(host0, HostCpu.read()),
        }

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> dict:
        """get_spark → first Python-worker job."""
        from pandarallel_spark import get_spark

        from probes import Tracer

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", cpus=os.cpu_count(), driver_memory=DRIVER_MEMORY,
            extra_conf=_spark_conf(self.scratch),
        )
        t1 = time.perf_counter()
        spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").collect()
        t2 = time.perf_counter()
        self.spark, self.tracer = spark, Tracer(spark)
        return {"start_s": t1 - t0, "first_python_job_s": t2 - t1}

    def stop_session(self) -> None:
        self.rss.sample()
        self.spark.stop()
        self.spark = None


def _shutdown_jvm() -> None:
    """Stop the driver JVM and wait until it and its workers have exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from probes import children

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    kids, todo, below = children(), [proc.pid], []
    while todo:
        pid = todo.pop()
        below.append(pid)
        todo.extend(kids.get(pid, ()))
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    for pid in below[1:]:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _environment() -> dict:
    import pandas
    import pyspark

    pkg = ROOT / "pandarallel_spark"
    digest = hashlib.sha256()
    for f in sorted(pkg.rglob("*.py")):
        digest.update(str(f.relative_to(pkg)).encode())
        digest.update(f.read_bytes())
    git_sha = "unknown"
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            ref = ref_file.read_text().strip() if ref_file.exists() else "unknown"
        git_sha = ref
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cpus": os.cpu_count(),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "git_sha": git_sha,
        "source_sha256": digest.hexdigest(),
    }


def end_to_end_metrics(setup: dict, passes: list[dict]) -> dict[str, float]:
    return {
        "setup_s": setup["total_s"],
        "rows_per_s": passes[0]["rows"] / _median([p["wall_s"] for p in passes]),
        "op_p50_s": _median([v for p in passes for v in p["op_s"].values()]),
    }


def layer_metrics(setup: dict, passes: list[dict], rss_mb: float) -> dict[str, float]:
    """Per-layer metrics: the parts of the set-up, then medians over the
    traced passes of per-pass sums over their ops."""
    from probes import TRACE_KEYS

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    out = {f"session.{k}": setup[k] for k in ("import_s", "start_s", "first_python_job_s", "warmup_s")}
    for key in TRACE_KEYS:
        out[key] = _median([sum(t.metrics[key] for t in p["traces"]) for p in traced])
    for key in ("host.busy_frac", "host.steal_frac"):
        out[key] = _median([p["host"][key] for p in passes])
    out["peak_rss_mb"] = rss_mb
    out["reference.oracle_s"] = _median([p["oracle_s"] for p in passes])
    out["trace.overhead_s"] = _median([p["wall_s"] for p in traced]) - _median(
        [p["wall_s"] for p in untraced]
    )
    return out


def declared_metrics(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for this mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def prepare(workload_name: str, seed: int, scratch: Path, smoke: bool) -> None:
    """Write the set-up's inputs and oracle results (in a child process)."""
    proc = subprocess.run(
        [sys.executable, __file__, "--prepare", "--workload", workload_name,
         "--seed", str(seed), "--seconds", "0", *(["--smoke"] if smoke else [])],
        cwd=ROOT,
    )
    if proc.returncode:
        raise RuntimeError(f"preparing the inputs failed with code {proc.returncode}")


def measure(
    workload_name: str, seed: int, seconds: float, trace: bool,
    scratch: Path = SCRATCH, smoke: bool = False,
) -> tuple[dict, dict]:
    """One benchmark run; returns the result line's object and the record.
    Call it before anything imports numpy, pandas, pyarrow or pyspark:
    those imports are part of the set-up it measures."""
    timeline = {"start": time.time()}
    prepare(workload_name, seed, scratch, smoke)
    timeline["inputs_ready"] = time.time()

    # set-up clock: everything a user's fresh process pays before its
    # first warm call, from the first import of the library's stack
    t0 = time.perf_counter()
    import pyspark.cloudpickle as cloudpickle

    import inputs
    import pandarallel_spark  # noqa: F401
    import workloads

    # benchmark UDFs live outside the shipped package: pickle them by value
    cloudpickle.register_pickle_by_value(workloads)
    wl = workloads.WORKLOADS[workload_name](scratch, seed, inputs.SMOKE_SIZES if smoke else inputs.SIZES)
    warmup = wl.warmup_pass()  # cached by ``prepare``: reads files only
    run = Run(wl, scratch)
    setup = {"import_s": time.perf_counter() - t0}
    setup.update(run.start_session())
    setup["warmup_s"] = run.run_pass(warmup, "warmup", traced=False)["wall_s"]
    setup["total_s"] = time.perf_counter() - t0
    timeline["setup_done"] = time.time()

    passes: list[dict] = []
    measured = 0.0
    k = 0
    while k < MIN_PASSES or measured < seconds:
        p = wl.measured_pass(k)
        passes.append(run.run_pass(p, f"pass{k}", traced=trace and k % 2 == 0))
        measured += passes[-1]["wall_s"]
        k += 1
    timeline["passes_done"] = time.time()
    run.stop_session()

    if trace:
        metrics = layer_metrics(setup, passes, run.rss.mb)
    else:
        metrics = end_to_end_metrics(setup, passes)
    record = {
        "workload": workload_name,
        "seed": seed,
        "trace": int(trace),
        "environment": _environment(),
        "setup": setup,
        "passes": [{k: v for k, v in p.items() if k != "traces"} for p in passes],
        "ops": {
            f"op.{op.name}_s": _median([p["op_s"][op.name] for p in passes if op.name in p["op_s"]])
            for op in warmup.ops
        },
        "peak_rss_mb_by_process": run.rss.by_process(),
        "failures": run.failures,
        "timeline": timeline,
    }
    traced = [p for p in passes if p["traced"]]
    if traced:
        last = traced[-1]["traces"]
        record["spans"] = [vars(s) for t in last for s in t.spans]
        record["traced_ops"] = {t.op_id: t.metrics for t in last}
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {
            name: {"value": float(metrics[name]), "unit": unit}
            for name, unit in declared_metrics(trace).items()
        },
    }
    return result, record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    for needed in ("pandarallel_spark/__init__.py", "BENCHMARK.json"):
        if not (ROOT / needed).is_file():
            print(f"perfbench: {needed} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {WORKLOADS}")
    scratch = SCRATCH / "smoke" if args.smoke else SCRATCH
    if args.prepare:
        import inputs
        import workloads

        sizes = inputs.SMOKE_SIZES if args.smoke else inputs.SIZES
        workloads.WORKLOADS[args.workload](scratch, args.seed, sizes).warmup_pass()
        return 0
    _isolate_scratch(scratch)
    try:
        result, record = measure(
            args.workload, args.seed, args.seconds, bool(args.trace), scratch, args.smoke
        )
    finally:
        _shutdown_jvm()
    record["timeline"]["exit"] = time.time()
    rec_dir = scratch / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    rec_path = rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    rec_path.write_text(json.dumps({**record, "result": result}, indent=1, default=str))
    print(json.dumps({"record": str(rec_path.relative_to(ROOT)), "ops": record["ops"],
                      "failures": record["failures"]}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
