"""Layer benchmark for the PySpark knowledge-graph engine.

    python3 perfbench/run.py --workload kg_sparql --seed 1 --seconds 3 --trace 0

One process, one closed-loop client on ``local[<cpus>]``.  The run
generates its inputs from ``--seed`` (``gen.py``), sets the session up
several times, runs one cold pass over the workload's requests, then
warm passes until ``--seconds`` of them have gone by.  A request is built and
then forced through the ``noop`` sink; in the cold pass it is collected
instead, and after the timed passes each collected output is checked
against its registry DuckDB oracle.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` installs the
layer wrappers of ``trace.py`` and reports the per-layer metrics,
interleaving traced with untraced warm passes to measure the tracing
overhead.  The last stdout line is one JSON object; a per-run artifact
with spans and raw times goes to ``perfbench/out/``.  Workloads and
metrics are described in ``WORKLOADS.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, trace, workloads  # noqa: E402
from perfbench.trace import PKG  # noqa: E402

SF = 0.01
#: in-JVM set-ups (a SparkContext restart plus the workload's fixture)
#: after the first, whose median is ``setup_s``: two where the fixture
#: takes seconds, more where a set-up is a sub-second restart alone
RESTARTS = {"kg_sparql": 2}
DEFAULT_RESTARTS = 6

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: metric name -> unit, in the order of ``BENCHMARK.json``
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

#: tracer counter -> per-layer metric name, where they differ
RENAME = {"sources.s": "sources.load_s", "sparql.s": "sparql.compile_s",
          "sparql.calls": "sparql.compile_calls",
          "sparql.jobs": "sparql.compile_jobs"}


class Abort(Exception):
    """Ends the run without a result line."""

    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


def pin_environment(run_dir: str) -> dict:
    """Pin the load to this host before the JVM starts: every core the
    process may use, driver memory well below host RAM, the repo root
    on the Python workers' path, and every scratch, temp and Spark
    local directory inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = max(1024, min(4096, ram_mb // 4))
    dirs = {k: os.path.join(run_dir, k)
            for k in ("data", "scratch", "local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_SCRATCH_ROOT": dirs["scratch"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # no hsperfdata files in the system temp dir, from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--conf", "spark.driver.extraJavaOptions=-XX:-UsePerfData"
                      f" -Djava.io.tmpdir={dirs['tmp']}",
            "--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}",
            "pyspark-shell"]),
    })
    return {"cpus": cpus, "driver_mem_mb": mem_mb, "ram_mb": ram_mb, **dirs}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_ticks() -> tuple[int, int, int]:
    """(all, stolen, busy) CPU ticks since boot, from ``/proc/stat``.  The
    steal share over a pass says how much of it the hypervisor gave
    away; busy ticks (user, nice, system, irq, softirq) are the CPU time
    the pass used."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    return sum(fields), steal, user + nice + system + irq + softirq


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Bench:
    def __init__(self, args, env: dict):
        self.args = args
        self.env = env
        self.tracer = trace.TRACER
        self.data_dir = env["data"]
        self.rng = random.Random(args.seed)
        self.spark = None
        self.reader = None
        self.listener = None
        self.passes: list[dict] = []
        self.profile_errors: list[str] = []
        self.layer: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self) -> dict:
        from importlib import import_module

        session = import_module(f"{PKG}.session")
        tracer = self.tracer
        starts, totals, kg_s, kg_bytes = [], [], [], []
        for _ in range(1 + RESTARTS.get(self.args.workload, DEFAULT_RESTARTS)):
            if self.spark is not None:
                self.spark.stop()
            tracer.counts = {}
            tracer.on = self.args.trace == 1
            t0 = time.perf_counter()
            self.spark = session.get_spark(f"perfbench-{self.args.workload}")
            self.spark.range(1).count()
            t1 = time.perf_counter()
            before = set(os.listdir(self.env["scratch"]))
            workloads.fixture(self.args.workload, self.spark, self.data_dir)
            t2 = time.perf_counter()
            tracer.on = False
            starts.append(t1 - t0)
            totals.append(t2 - t0)
            kg_s.append(tracer.counts.get("kg.materialize_s", 0.0))
            kg_bytes.append(sum(
                dir_bytes(os.path.join(self.env["scratch"], d))
                for d in set(os.listdir(self.env["scratch"])) - before
                if d.startswith("kg_")))
        # the first set-up also launches the JVM and runs the fixture
        # cold; it is reported on its own, and the restarts make setup_s
        self.layer.update({
            "session.start_s": median(starts[1:]),
            "session.first_start_s": starts[0],
            "kg.materialize_s": median(kg_s[1:]),
            "kg.store_bytes": kg_bytes[-1],
        })
        if self.args.trace:
            self.reader = trace.StatusReader(self.spark)
            self.listener = trace.StreamListener(self.spark)
        return {"setup_s": median(totals[1:]), "setups_s": totals,
                "session_starts_s": starts}

    # -- passes ----------------------------------------------------------
    def run_pass(self, reqs, kind: str, traced: bool) -> dict:
        spark, tracer = self.spark, self.tracer
        sc = spark.sparkContext
        order = self.rng.sample(reqs, len(reqs))
        n = len(self.passes)
        rows, outputs = [], {}
        tracer.counts, tracer.spans = {}, []
        if traced:
            self.listener.settle()
            self.listener.take()  # drop events of earlier passes
        tracer.on = traced
        if self.args.trace and not traced:
            sc.setJobGroup("untraced", "untraced pass")
        ticks0 = cpu_ticks()
        t_pass = time.perf_counter()
        for r in order:
            rid = f"p{n}-{r.name}"
            row = {"name": r.name, "build_s": None, "exec_s": None, "error": None}
            tracer.request = rid
            span = None
            t0 = time.perf_counter()
            try:
                if traced:
                    sc.setJobGroup(f"{rid}:build", r.name)
                    tracer.phase = "build"
                    span = tracer.open(f"build:{r.name}")
                df = r.build(spark, self.data_dir)
                t1 = time.perf_counter()
                if traced:
                    tracer.close(span)
                    sc.setJobGroup(f"{rid}:exec", r.name)
                    tracer.phase = "exec"
                    row["exec_first_sql"] = self.reader.last_execution_id()
                    span = tracer.open(f"exec:{r.name}")
                if kind == "cold":
                    got = [tuple(x) for x in df.collect()]
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                if traced:
                    tracer.close(span)
                    row["exec_last_sql"] = self.reader.last_execution_id()
                span = None
                row.update(build_s=t1 - t0, exec_s=t2 - t1)
                if kind == "cold":
                    outputs[r.name] = (df.columns, got)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                if span is not None:
                    tracer.close(span)
                row["error"] = f"{type(exc).__name__}: {exc}"[:500]
                if kind == "cold":
                    raise Abort(3, f"request {r.name} failed to build or run "
                                   f"on generated inputs: {row['error']}")
            finally:
                tracer.phase = None
            row["total_s"] = time.perf_counter() - t0
            rows.append(row)
        pass_s = time.perf_counter() - t_pass
        ticks1 = cpu_ticks()
        tracer.on = False
        rec = {"pass": n, "kind": kind, "traced": traced, "pass_s": pass_s,
               "steal_share": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
               "cpu_s": (ticks1[2] - ticks0[2]) / os.sysconf("SC_CLK_TCK"),
               "requests": rows}
        if traced:
            rec["layers"] = self.profile_pass(rows)
            rec["spans"] = tracer.spans
        self.passes.append(rec)
        rec["outputs"] = outputs
        return rec

    def profile_pass(self, rows) -> dict:
        """Per-layer totals of one traced pass, read after it ended."""
        tracer, reader = self.tracer, self.reader
        out = dict(tracer.counts)
        for key in PER_LAYER:
            if key.startswith(("build.", "exec.")):
                out.setdefault(key, 0)
        self.listener.settle()
        out.update(self.listener.take())
        done = [row for row in rows if not row["error"]]
        out["build.s"] = sum(row["build_s"] for row in done)
        out["exec.s"] = sum(row["exec_s"] for row in done)
        try:
            reader.drain()
            for row in done:
                rid = f"p{len(self.passes)}-{row['name']}"
                build_jobs = reader.jobs(f"{rid}:build")
                exec_jobs = reader.jobs(f"{rid}:exec")
                out["build.jobs"] += len(build_jobs)
                out["exec.jobs"] += len(exec_jobs)
                stages = [s for j in exec_jobs for s in j["stages"]]
                for k, v in reader.stage_totals(stages).items():
                    out[f"exec.{k}"] += v
                out["exec.python_eval_ms"] += reader.python_eval_ms(
                    row["exec_first_sql"], row["exec_last_sql"])
                spans = [s for s in tracer.spans if s["request"] == rid]
                for k, v in trace.attribute_jobs(
                        spans, build_jobs + exec_jobs).items():
                    out[k] = out.get(k, 0) + v
        except Exception as exc:  # noqa: BLE001 - profiling never fails a run
            self.profile_errors.append(f"{type(exc).__name__}: {exc}"[:300])
        work = out["build.s"] + out["exec.s"]
        out["build.share"] = out["build.s"] / work if work else 0.0
        return {RENAME.get(k, k): v for k, v in out.items()}

    def measure(self, reqs) -> dict:
        """One cold pass, then warm passes until ``--seconds`` of them
        have gone by (at least one).  A traced run alternates traced and
        untraced warm passes, starting and ending traced (at least
        three), so that warm-up drift between passes cancels out of
        ``trace.overhead_share``."""
        args = self.args
        cold = self.run_pass(reqs, "cold", traced=args.trace == 1)
        if args.trace:
            self.layer.update({k: cold["layers"].get(k, 0) for k in
                               ("sources.load_calls", "sources.load_s",
                                "sources.memo_misses")})
        warm: list[dict] = []
        t_warm = time.perf_counter()
        while (len(warm) < (3 if args.trace else 1)
               or time.perf_counter() - t_warm < args.seconds
               or (args.trace and not warm[-1]["traced"])):
            warm.append(self.run_pass(
                reqs, "warm", traced=bool(args.trace) and len(warm) % 2 == 0))
        return {"cold": cold, "warm": warm}

    # -- output check ----------------------------------------------------
    def check(self, outputs: dict, reqs) -> dict:
        """Compare each request's collected output with its registry
        oracle, and check that a deliberately altered output is flagged."""
        from importlib import import_module

        from perfbench import oracle

        specs = import_module(f"{PKG}.registry").all_specs()
        duck = oracle.Oracle(self.data_dir)
        results, control = {}, None
        try:
            for r in reqs:
                if r.name not in outputs:
                    results[r.name] = {"ok": False, "problems": ["no output"]}
                    continue
                cols, rows = outputs[r.name]
                want = duck.fingerprint(specs[r.oracle].oracle)
                problems = oracle.compare(oracle.fingerprint(rows, cols), want)
                results[r.name] = {"ok": not problems, "problems": problems,
                                   "rows": len(rows)}
                # the control alters the first non-empty output (a value,
                # so the hash must catch it), else the first output
                if control is None or (rows and not control[0]):
                    control = (rows, cols, want)
        finally:
            duck.close()
        flagged = False
        if control is not None:
            rows, cols, want = control
            bad = oracle.fingerprint(oracle.altered(rows, len(cols)), cols)
            flagged = bool(oracle.compare(bad, want))
        return {"requests": results, "negative_control_flagged": flagged}

    def close(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec(PKG) is None:
        print(f"package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    out_dir = os.path.join(ROOT, "perfbench", "out")
    run_dir = os.path.join(out_dir, tag)
    env = pin_environment(run_dir)
    art = {"workload": args.workload, "seed": args.seed, "sf": SF,
           "seconds": args.seconds, "trace": args.trace,
           "cpus": env["cpus"], "driver_mem_mb": env["driver_mem_mb"],
           "loadavg_before": os.getloadavg()}
    bench = None
    try:
        t0 = time.perf_counter()
        art["input_rows"] = gen.write(SF, args.seed, env["data"])
        art["gen_s"] = time.perf_counter() - t0
        bench = Bench(args, env)
        if args.trace:
            trace.install()
        reqs = workloads.requests(args.workload, args.seed)
        phases = art["phases_s"] = {"gen": art["gen_s"]}
        t0 = time.perf_counter()
        art["setup"] = bench.setup()
        phases["setup"] = time.perf_counter() - t0
        runs = bench.measure(reqs)
        warm = runs["warm"]
        phases["passes"] = time.perf_counter() - t0 - phases["setup"]
        t0 = time.perf_counter()
        art["check"] = bench.check(runs["cold"]["outputs"], reqs)
        phases["check"] = time.perf_counter() - t0
    except Abort as exc:
        print(str(exc), file=sys.stderr)
        return exc.code
    finally:
        if bench is not None:
            t0 = time.perf_counter()
            bench.close()
            art.setdefault("phases_s", {})["close"] = time.perf_counter() - t0
        art["loadavg_after"] = os.getloadavg()
        if bench is not None:
            art["passes"] = [{k: v for k, v in p.items() if k != "outputs"}
                             for p in bench.passes]
            art["profile_errors"] = bench.profile_errors
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump(art, f, indent=1, default=str)
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [runs["cold"]] + warm
    attempted = sum(len(p["requests"]) for p in timed)
    failed = sum(1 for p in timed for r in p["requests"] if r["error"])
    checks = art["check"]["requests"]
    mismatched = sum(1 for c in checks.values() if not c["ok"])
    correct = (failed == 0 and mismatched == 0
               and art["check"]["negative_control_flagged"])
    shares = {"check.failed_share": failed / attempted,
              "check.mismatch_share": mismatched / len(checks)}
    untraced = [p for p in warm if not p["traced"]]

    if args.trace:
        traced = [p for p in warm if p["traced"]]
        layer = dict(bench.layer)
        for key in PER_LAYER:
            if key not in layer and not key.startswith(("check.", "trace.", "host.")):
                layer[key] = median([p["layers"].get(key, 0) for p in traced])
        t_pass = median([p["pass_s"] for p in traced])
        u_pass = median([p["pass_s"] for p in untraced])
        layer.update(shares)
        layer.update({
            "trace.pass_s": t_pass, "trace.untraced_pass_s": u_pass,
            "trace.gap_s": t_pass - layer["build.s"] - layer["exec.s"],
            "trace.overhead_share": t_pass / u_pass - 1 if u_pass else 0.0,
            "trace.profile_errors": len(bench.profile_errors),
            "host.steal_share": median([p["steal_share"] for p in warm]),
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": art["setup"]["setup_s"],
            "first_pass_s": runs["cold"]["pass_s"],
            "pass_s": median([p["pass_s"] for p in untraced]),
            "request_p50_s": median([r["total_s"] for p in untraced
                                     for r in p["requests"]]),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for k, v in {**{k: m["value"] for k, m in metrics.items()}, **shares}.items():
        unit = metrics[k]["unit"] if k in metrics else "share"
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    for name, c in checks.items():
        if not c["ok"]:
            print(f"{args.workload} MISMATCH {name}: {'; '.join(c['problems'])}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
