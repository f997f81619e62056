"""One benchmark process: set up a Spark session, run one workload.

``run.py`` starts this file in a fresh interpreter for every run and
reads back the JSON it writes to ``--result``. A run has three phases:

1. **cold**: the first operation after set-up (what a freshly submitted
   daily job pays);
2. **warm-up**: operations repeat until the JVM's JIT compile time has
   levelled off: the last operation's compile time (all compiler
   threads, from the JVM's CompilationMXBean) is at most
   ``LEVEL_SHARE`` of that operation's wall time times the cores;
3. **timed**: operations repeat for ``--seconds`` and at least
   ``MIN_TIMED`` of them.

An operation is one ETL iteration (``etl_tsv``) or one pass over the
query sample (``registry``). Every operation's output is checked.
With ``--trace 1`` the timed operations alternate untraced and traced;
traced ones also read Spark's per-job-group stage metrics, record spans
around each call into the engine, and run per-layer noop probes after
the operation's timed wall.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import time
import traceback
from collections import Counter
from contextlib import nullcontext

from telemetry import JvmCounters, Tracer, group_totals, patched

LEVEL_SHARE = 0.35
MIN_TIMED = {"etl_tsv": 6, "registry": 2}
MAX_WARMUP = {"etl_tsv": 8, "registry": 3}
# a traced run alternates traced and untraced timed operations, starting
# and ending traced; two or more traced ones show whether counts repeat
MIN_TRACED = {"etl_tsv": 3, "registry": 2}

# ETL config the reference baseline hard-codes (benchmarks/reference_sim.js)
ETL_TYPES = {"PPL": "hg:Place", "ADM": "hg:Admin"}
ETL_FILTERS = [{"countryCode": "NL"}, {"countryCode": "DE"}]

# One or two queries from every operator module, named so the sample
# stays fixed as the registry grows.
REGISTRY_SAMPLE = [
    "win_lag_lead",               # relational
    "sql_qualify",                # sql_queries
    "fn_json_extract",            # functions
    "ts_seasonal_profile",        # timeseries
    "udf_scalar",                 # udfs: Python worker boundary
    "llm_lang_id",                # llm
    "mm_modality_route",          # multimodal
    "pit_pipeline",               # pit
    "geo_tile_pyramid",           # geo
    "scd2_history",               # pipeline_ops
    "llm_sft_render",             # curation
    "graph_degree_distribution",  # graph
    "fn_unpivot",                 # reshape
    "llm_inverted_index",         # search
    "stat_wilson_ci",             # stats
]


def canonical(line: str) -> str:
    """A JSON document in a form where equal objects compare equal.

    Integers parse as floats: JSON.stringify writes ``52`` where
    Spark's JSON sink writes ``52.0`` for the same double."""
    return json.dumps(json.loads(line, parse_int=float), sort_keys=True,
                      separators=(",", ":"))


def multiset_diff(got: list[str], want: list[str]) -> tuple[int, int]:
    """(rows missing from ``got``, rows ``got`` has extra)."""
    g, w = Counter(got), Counter(want)
    return sum((w - g).values()), sum((g - w).values())


def setup(t0: float):
    """Process start to a warmed session: Spark session plus fixed probes."""
    from etl_geonames_spark.session import get_spark

    spark = get_spark("perfbench")
    t_session = time.time()
    spark.range(10).write.format("noop").mode("overwrite").save()
    spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()
    t_warm = time.time()
    return spark, {"setup_s": t_warm - t0, "session.start_s": t_session - t0,
                   "session.warmup_s": t_warm - t_session}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """The run loop shared by both workloads; subclasses define ``op``
    (timed work plus output check) and ``layers`` (traced readings)."""

    def __init__(self, spark, args, inputs: dict) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.args = args
        self.inputs = inputs
        self.jvm = JvmCounters(spark)
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def span(self, traced: bool, name: str):
        return self.tracer.span(name) if traced else nullcontext()

    def run_op(self, i: int, phase: str, traced: bool) -> dict:
        self.tracer.op = f"op{i}"
        before = self.jvm.snapshot() if traced else {"jit_ms": self.jvm.jit_ms()}
        rec = self.op(i, traced)
        if traced:
            after = self.jvm.snapshot()
            rec["compiles"] = after["compiles"] - before["compiles"]
            rec["gc_ms"] = after["gc_ms"] - before["gc_ms"]
            rec["jit_ms"] = after["jit_ms"] - before["jit_ms"]
        else:
            rec["jit_ms"] = self.jvm.jit_ms() - before["jit_ms"]
        rec.update(i=i, phase=phase, traced=traced,
                   jit_share=rec["jit_ms"] / (rec["wall"] * 1000 * self.cores))
        self.sc.setJobGroup("perfbench-probe", "perfbench-probe")
        if traced:
            rec.update(self.layers(i, rec))
        return rec

    def run(self) -> dict:
        name = self.args.workload
        ops = [self.run_op(0, "cold", False)]
        levelled = False
        while len(ops) <= MAX_WARMUP[name]:
            ops.append(self.run_op(len(ops), "warmup", False))
            if ops[-1]["jit_share"] <= LEVEL_SHARE:
                levelled = True
                break
        min_timed = 2 * MIN_TRACED[name] - 1 if self.args.trace else MIN_TIMED[name]
        t_start, n = time.perf_counter(), 0
        while n < min_timed or time.perf_counter() - t_start < self.args.seconds:
            traced = bool(self.args.trace) and n % 2 == 0
            ops.append(self.run_op(len(ops), "timed", traced))
            n += 1
        out = {"ops": ops, "levelled": levelled,
               # whole run, set-up probes and cold operation included: an
               # ETL iteration after warm-up compiles nothing
               "compile_ms": self.jvm.snapshot()["compiles"] * self.jvm.codegen_mean_ms(),
               "peak_rss_mb": self.jvm.peak_rss_mb(),
               "retained_mb": self.jvm.retained_mb(), "cores": self.cores}
        out.update(self.finish())
        return out

    def finish(self) -> dict:
        """Work after the timed phase; its results join the run's."""
        return {}


class EtlTsv(Workload):
    """TSV dump -> transform_from_paths -> pits + relations NDJSON."""

    def __init__(self, spark, args, inputs) -> None:
        super().__init__(spark, args, inputs)
        from etl_geonames_spark.geonames import GeonamesConfig

        d = inputs["dir"]
        self.paths = [f"{d}/allCountries.txt", f"{d}/admin1CodesASCII.txt",
                      f"{d}/admin2Codes.txt"]
        self.dump_bytes = os.path.getsize(self.paths[0])
        self.cfg = GeonamesConfig(types=ETL_TYPES, filters=ETL_FILTERS)
        self.out = os.path.join(args.scratch, "out")
        # 4 MB splits, as in benchmarks/geonames_throughput.py: the 67 MB
        # dump then scans in 17 tasks, about the task count the full 1.7 GB
        # dump gets from the default 128 MB split
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 << 20))
        want = {"pit": [], "relation": []}
        with open(inputs["reference_out"]) as f:
            for line in f:
                if line.strip():
                    env = json.loads(line)
                    want[env["type"]].append(canonical(json.dumps(env["obj"])))
        self.want = {"pits": want["pit"], "relations": want["relation"]}
        self.verified: dict[str, str] = {}

    def op(self, i: int, traced: bool) -> dict:
        from etl_geonames_spark.geonames import transform_from_paths
        from etl_geonames_spark.sources import tsv
        from etl_geonames_spark.sources.sinks import write_ndjson

        loaders = patched([(tsv, "read_all_countries"), (tsv, "read_admin_codes")],
                          self.tracer, "source.load") if traced else nullcontext()
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            with self.span(traced, "op"):
                self.sc.setJobGroup(f"etl-{i}-build", "build")
                with self.span(traced, "build"), loaders:
                    pits, rels = transform_from_paths(self.spark, *self.paths, self.cfg)
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"etl-{i}-exec", "exec")
                with self.span(traced, "exec.pits"):
                    write_ndjson(pits, f"{self.out}/pits")
                with self.span(traced, "exec.relations"):
                    write_ndjson(rels, f"{self.out}/relations")
            rec["wall"] = time.perf_counter() - t0
            rec["build_s"], rec["exec_s"] = t1 - t0, rec["wall"] - (t1 - t0)
        except Exception:
            rec["wall"] = time.perf_counter() - t0
            self.attempted += 1
            self.fail(f"op{i}: {traceback.format_exc(limit=3)}")
            return rec
        self.check(i, rec)
        return rec

    def layers(self, i: int, rec: dict) -> dict:
        build = group_totals(self.spark, f"etl-{i}-build")
        out = group_totals(self.spark, f"etl-{i}-exec")
        out = {key: out[key] + build[key] for key in out}
        out["core_util"] = out["run_ms"] / (rec["wall"] * 1000 * self.cores)
        out["build_jobs"] = build["jobs"]
        # full reads of allCountries.txt (the admin files add ~0.2%)
        out["tsv_scans"] = round(out["input_bytes"] / self.dump_bytes)
        out.update(self.probes(i))
        return out

    def check(self, i: int, rec: dict) -> None:
        """Compare both outputs with the reference's, as parsed objects.

        Output equal byte for byte (as a sorted multiset of lines) to an
        earlier iteration's verified output passes without re-parsing."""
        self.attempted += 1
        rows, nbytes, nfiles, bad = 0, 0, 0, []
        for kind, want in self.want.items():
            files = sorted(glob.glob(f"{self.out}/{kind}/part-*"))
            lines = []
            for p in files:
                nbytes += os.path.getsize(p)
                with open(p, "rb") as f:
                    lines.extend(line for line in f if line.strip())
            nfiles += len(files)
            rows += len(lines)
            digest = hashlib.sha256(b"".join(sorted(lines))).hexdigest()
            if digest == self.verified.get(kind):
                continue
            missing, extra = multiset_diff([canonical(x) for x in lines], want)
            if missing or extra:
                bad.append(f"{kind}: {missing} missing, {extra} extra")
            else:
                self.verified[kind] = digest
        rec.update(rows_out=rows, sink_bytes=nbytes, sink_files=nfiles)
        if bad:
            self.fail(f"op{i}: " + "; ".join(bad))

    def probes(self, i: int) -> dict:
        """Per-layer noop probes through the engine's public functions."""
        from etl_geonames_spark.geonames import build_pits, build_relations
        from etl_geonames_spark.geonames.pipeline import filters_predicate
        from etl_geonames_spark.sources.tsv import read_admin_codes, read_all_countries

        out = {}
        with self.span(True, "probe.tsv_scan"):
            t = time.perf_counter()
            rows = read_all_countries(self.spark, self.paths[0])
            _noop(rows)
            out["scan_s"] = time.perf_counter() - t
        filtered = rows.filter(filters_predicate(self.cfg.filters, self.cfg.extra_ids()))
        with self.span(True, "probe.pipeline_pits"):
            t = time.perf_counter()
            _noop(build_pits(filtered, self.cfg))
            out["pits_noop_s"] = time.perf_counter() - t
        with self.span(True, "probe.pipeline_relations"):
            t = time.perf_counter()
            _noop(build_relations(filtered, read_admin_codes(self.spark, self.paths[1]),
                                  read_admin_codes(self.spark, self.paths[2]), self.cfg))
            out["relations_noop_s"] = time.perf_counter() - t
        out["plan_noop_s"] = out["pits_noop_s"] + out["relations_noop_s"]
        out["load_s"] = sum(s.end - s.start for s in self.tracer.spans
                            if s.op == f"op{i}" and s.name == "source.load")
        return out

    def finish(self) -> dict:
        if not self.args.trace:
            return {}
        from etl_geonames_spark.ingest import convert_to_parquet

        land = os.path.join(self.args.scratch, "landed")
        self.tracer.op = "ingest"
        with self.span(True, "probe.ingest_land"):
            t = time.perf_counter()
            convert_to_parquet(self.spark, self.inputs["dir"], land)
            land_s = time.perf_counter() - t
        landed = glob.glob(f"{land}/**/part-*", recursive=True)
        return {"ingest_land_s": land_s,
                "ingest_bytes": sum(os.path.getsize(p) for p in landed)}


class Registry(Workload):
    """One pass = every sample query, built and run into the noop sink."""

    def __init__(self, spark, args, inputs) -> None:
        super().__init__(spark, args, inputs)
        from etl_geonames_spark.registry import collect

        queries, _ = collect()
        # one seed-shuffled order for every pass: the codegen cache is LRU,
        # so a pass order that changed between passes would change which
        # plans recompile, and the per-pass compile count would not repeat
        order = list(REGISTRY_SAMPLE)
        random.Random(args.seed).shuffle(order)
        self.queries = {n: queries[n] for n in order}
        self.sf_dir = inputs["dir"]
        self.want = inputs["oracle_rows"]

    def load_targets(self) -> list[tuple[object, str]]:
        import importlib

        from etl_geonames_spark import registry, sources
        from etl_geonames_spark.sources import tables

        mods = [importlib.import_module(m) for m in registry._OPERATOR_MODULES]
        return [(m, "load_table") for m in [sources, tables, *mods]
                if hasattr(m, "load_table")]

    def op(self, i: int, traced: bool) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        targets = self.load_targets() if traced else None
        rec = {"wall": 0.0, "build_s": 0.0, "exec_s": 0.0, "rows_out": 0,
               "latencies": [], "queries": {}}
        t_pass = time.perf_counter()
        with self.span(traced, "op"):
            for k, name in enumerate(self.queries):
                group = f"reg-{i}-{k}"
                loaders = patched(targets, self.tracer, "source.load") \
                    if traced else nullcontext()
                obs = Observation(f"rows_{i}_{k}")
                t0 = time.perf_counter()
                try:
                    with self.span(traced, "query"):
                        self.sc.setJobGroup(f"{group}-build", name)
                        with self.span(traced, "build"), loaders:
                            df = self.queries[name](self.spark, self.sf_dir)
                            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
                        t1 = time.perf_counter()
                        self.sc.setJobGroup(f"{group}-exec", name)
                        with self.span(traced, "exec"):
                            _noop(df)
                    t2 = time.perf_counter()
                    rows = obs.get["rows"]
                except Exception:
                    self.attempted += 1
                    self.fail(f"op{i} {name}: {traceback.format_exc(limit=3)}")
                    continue
                self.attempted += 1
                rec["latencies"].append(t2 - t0)
                rec["queries"][name] = t2 - t0
                rec["build_s"] += t1 - t0
                rec["exec_s"] += t2 - t1
                rec["rows_out"] += rows
                if rows != self.want[name]:
                    self.fail(f"op{i} {name}: {rows} rows, oracle {self.want[name]}")
        rec["wall"] = time.perf_counter() - t_pass
        return rec

    def layers(self, i: int, rec: dict) -> dict:
        per = [group_totals(self.spark, f"reg-{i}-{k}-{part}")
               for k in range(len(self.queries)) for part in ("build", "exec")]
        out = {key: sum(p[key] for p in per) for key in per[0]}
        out["core_util"] = out["run_ms"] / (rec["wall"] * 1000 * self.cores)
        out["build_jobs"] = sum(p["jobs"] for p in per[0::2])
        out.update(tsv_scans=0, sink_bytes=0, sink_files=0, plan_noop_s=rec["exec_s"])
        out["load_s"] = sum(s.end - s.start for s in self.tracer.spans
                            if s.op == f"op{i}" and s.name == "source.load")
        out.update(self.probes())
        return out

    def probes(self) -> dict:
        """Source-layer probe: every fixture table loaded into the noop sink."""
        from etl_geonames_spark.sources.tables import TABLE_NAMES, load_table

        with self.span(True, "probe.tables_scan"):
            t = time.perf_counter()
            for name in TABLE_NAMES:
                _noop(load_table(self.spark, self.sf_dir, name))
            scan_s = time.perf_counter() - t
        return {"scan_s": scan_s}


WORKLOADS = {"etl_tsv": EtlTsv, "registry": Registry}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--t0", type=float, required=True, help="spawn time (epoch s)")
    p.add_argument("--result", required=True, help="where to write the JSON result")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--inputs", required=True, help="JSON file describing the prepared inputs")
    p.add_argument("--scratch", required=True, help="directory for this run's outputs")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, required=True)
    args = p.parse_args()

    spark, result = setup(args.t0)
    try:
        with open(args.inputs) as f:
            inputs = json.load(f)
        wl = WORKLOADS[args.workload](spark, args, inputs)
        result.update(wl.run())
        result.update(attempted=wl.attempted, failed=wl.failed,
                      failures=wl.failures)
        if args.trace:
            timed = {f"op{r['i']}" for r in result["ops"] if r["traced"]}
            result["self_s"] = wl.tracer.self_times(timed)
            result["spans"] = wl.tracer.to_json()
    finally:
        spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
