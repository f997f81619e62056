"""The repository's benchmark: one command per workload run.

  python3 perfbench/run.py --workload etl_tsv --seed 1 --seconds 5 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a JSON detail record (per-operation walls and JIT times, the
reference baseline, the box-calibration probe, failures).

Steps, in order:

1. fit the engine to the host (CPU count, JVM heap from RAM, a
   private Spark scratch directory, ``PYTHONPATH`` for Python workers);
2. time a pinned single-thread CPU probe (``box.calib_s``);
3. generate the workload's inputs from ``--seed`` once per seed and size,
   with the reference baseline or DuckDB oracle computed on them
   (cached under ``perfbench/_work/inputs``, outside every timed window);
4. run the workload in a fresh process (``workload.py``), whose start
   to a warmed Spark session is ``setup_s``.

See perfbench/README.md for the workloads, metrics and their rationale.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
REFERENCE_JS = os.path.join(ROOT, "benchmarks", "reference_sim.js")

ETL_ROWS = 500_000
REGISTRY_SF = 0.1
RUN_DEADLINE_S = 170.0


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_program() -> None:
    for rel in ("etl_geonames_spark/__init__.py", "benchmarks/reference_sim.js"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            die(f"the program is missing: {rel} not found under {ROOT}")
    for tool in ("node", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} not found on PATH")


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) // 1024 for line in f
                   if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            mem = min(mem, int(limit) // (1 << 20))
    except OSError:
        pass
    return mem


def host_env(scratch: str) -> dict[str, str]:
    """Engine settings that fit this host, set from the benchmark side."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ]
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # a quarter of host RAM, 1-4 GB: the engine's 16g default can
        # exceed the host, and the box is shared
        SPARK_GRAFT_DRIVER_MEM=f"{max(1024, min(4096, host_mem_mb() // 4))}m",
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        PYTHONPATH=os.pathsep.join(
            [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit),
        TMPDIR=tmp,
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def calib_s() -> float:
    """Median of 3 runs of a fixed pure-Python loop pinned to one CPU."""
    saved = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {max(saved)})
    try:
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            acc = 0
            for k in range(1_500_000):
                acc += k * k % 7
            runs.append(time.perf_counter() - t)
        return statistics.median(runs)
    finally:
        os.sched_setaffinity(0, saved)


def _cached(key: str, generator: str, build) -> str:
    """Directory ``inputs/<key>-<hash of generator>``, built once by
    ``build(tmp_dir)``; editing the generator invalidates the cache."""
    with open(os.path.join(HERE, generator), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    final = os.path.join(WORK, "inputs", f"{key}-{version}")
    if not os.path.isfile(os.path.join(final, "inputs.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    return final


def prepare_etl(seed: int) -> dict:
    from gen_dump import write_dump

    def build(d: str) -> None:
        write_dump(d, seed, ETL_ROWS)
        ref = subprocess.run(
            ["node", REFERENCE_JS, d, os.path.join(d, "reference.ndjson")],
            check=True, capture_output=True, text=True, timeout=120)
        with open(os.path.join(d, "inputs.json"), "w") as f:
            json.dump({"rows": ETL_ROWS,
                       "reference": json.loads(ref.stdout.strip().splitlines()[-1])}, f)

    d = _cached(f"etl_tsv-s{seed}-r{ETL_ROWS}", "gen_dump.py", build)
    with open(os.path.join(d, "inputs.json")) as f:
        inputs = json.load(f)
    inputs.update(dir=d, reference_out=os.path.join(d, "reference.ndjson"))
    return inputs


def prepare_registry(seed: int) -> dict:
    import duckdb

    from gen_tables import write_tables
    from workload import REGISTRY_SAMPLE

    def build(d: str) -> None:
        sys.path.insert(0, ROOT)
        from etl_geonames_spark.registry import collect
        from etl_geonames_spark.sources.tables import TABLE_NAMES

        write_tables(d, seed, REGISTRY_SF)
        oracles = collect()[1]
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        rows = {n: len(con.sql(oracles[n]).fetchall()) for n in REGISTRY_SAMPLE}
        con.close()
        with open(os.path.join(d, "inputs.json"), "w") as f:
            json.dump({"sf": REGISTRY_SF, "oracle_rows": rows}, f)

    d = _cached(f"registry-s{seed}-sf{REGISTRY_SF}", "gen_tables.py", build)
    with open(os.path.join(d, "inputs.json")) as f:
        inputs = json.load(f)
    inputs["dir"] = d
    return inputs


def spawn(argv: list[str], env: dict, log: str, deadline: float) -> dict:
    """Run ``workload.py`` in a fresh process; return its JSON result.

    The child gets its own session, so the JVM and Python workers it
    starts are killed with it and waited for.
    """
    result = f"{log}.json"
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--t0", repr(t0), "--result", result, *argv]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                cwd=ROOT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap(proc)
    if code != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"the workload process exited with {code}:\n{tail}")
    with open(result) as f:
        return json.load(f)


def _reap(proc: subprocess.Popen) -> None:
    """Kill what is left of the child's process group and wait until it
    is gone.

    By now the child has stopped its Spark session (or overran its
    deadline), so nothing in the group holds state worth a graceful
    shutdown."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    proc.wait()
    for _ in range(400):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.025)
    die(f"process group {pgid} did not exit")


def med(ops: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in ops)


def end_to_end(res: dict, workload: str, inputs: dict) -> dict:
    timed = [r for r in res["ops"] if r["phase"] == "timed" and not r["traced"]]
    if workload == "etl_tsv":
        throughput = inputs["rows"] / med(timed, "wall")
        p50 = med(timed, "wall")
    else:
        throughput = len(inputs["oracle_rows"]) / med(timed, "wall")
        p50 = statistics.median(x for r in timed for x in r["latencies"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_wall_s": (res["ops"][0]["wall"], "s"),
        "throughput_per_s": (throughput, "1/s"),
        "op_p50_s": (p50, "s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }


def per_layer(res: dict, calib: float) -> dict:
    timed = [r for r in res["ops"] if r["phase"] == "timed"]
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]
    m = lambda key: med(traced, key)  # noqa: E731
    return {
        "session.start_s": (res["session.start_s"], "s"),
        "session.warmup_s": (res["session.warmup_s"], "s"),
        "box.calib_s": (calib, "s"),
        "trace.overhead_s": (m("wall") - med(plain, "wall"), "s"),
        "jvm.jit_ms": (m("jit_ms"), "ms"),
        "jvm.gc_ms": (m("gc_ms"), "ms"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "codegen.compiles": (m("compiles"), "count"),
        "codegen.compile_ms": (res["compile_ms"], "ms"),
        "spark.jobs": (m("jobs"), "count"),
        "spark.stages": (m("stages"), "count"),
        "spark.tasks": (m("tasks"), "count"),
        "spark.exec_run_ms": (m("run_ms"), "ms"),
        "spark.exec_cpu_ms": (m("cpu_ms"), "ms"),
        "spark.core_util": (m("core_util"), "ratio"),
        "spark.input_bytes": (m("input_bytes"), "bytes"),
        "spark.shuffle_read_bytes": (m("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (m("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (m("spill_bytes"), "bytes"),
        "op.build_s": (m("build_s"), "s"),
        "op.exec_s": (m("exec_s"), "s"),
        "op.build_jobs": (m("build_jobs"), "count"),
        "op.rows_out": (m("rows_out"), "count"),
        "source.load_s": (m("load_s"), "s"),
        "source.scan_s": (m("scan_s"), "s"),
        "source.tsv_scans": (m("tsv_scans"), "count"),
        "plan.noop_s": (m("plan_noop_s"), "s"),
        "sink.bytes": (m("sink_bytes"), "bytes"),
        "sink.files": (m("sink_files"), "count"),
        "ingest.bytes": (res.get("ingest_bytes", 0), "bytes"),
    }


def detail(res: dict, inputs: dict, calib: float, run_s: float) -> dict:
    keep = ("i", "phase", "traced", "wall", "jit_ms", "jit_share", "compiles", "queries",
            "jobs", "stages", "tasks", "tsv_scans", "pits_noop_s",
            "relations_noop_s", "exec_s", "plan_noop_s")
    out = {
        "box.calib_s": calib,
        "run_s": run_s,
        "levelled": res["levelled"],
        "peak_rss_mb": res["peak_rss_mb"],
        "ops": [{k: r[k] for k in keep if k in r} for r in res["ops"]],
        "failures": res["failures"],
    }
    if "reference" in inputs:
        ref = inputs["reference"]
        out["reference_rows_per_s"] = ref["rows"] / ref["sec"]
    for key in ("ingest_land_s", "ingest_bytes", "self_s"):
        if key in res:
            out[key] = res[key]
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["etl_tsv", "registry"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    # on SIGTERM, unwind through spawn()'s cleanup so no child outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    deadline = started + RUN_DEADLINE_S

    check_program()
    sys.path.insert(0, HERE)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        env = host_env(scratch)
        calib = calib_s()
        prepare = prepare_etl if args.workload == "etl_tsv" else prepare_registry
        inputs = prepare(args.seed)
        inputs_file = os.path.join(scratch, "inputs.json")
        with open(inputs_file, "w") as f:
            json.dump(inputs, f)
        res = spawn(["--workload", args.workload, "--inputs", inputs_file,
                     "--scratch", scratch, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace)],
                    env, os.path.join(scratch, "workload.log"), deadline)
        if args.trace:
            metrics = per_layer(res, calib)
            with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "self_s": res["self_s"]}, f)
        else:
            metrics = end_to_end(res, args.workload, inputs)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(detail(res, inputs, calib, time.monotonic() - started)))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
