"""Pig-script benchmark for spork_spark: one command, four workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: pigmix_sf1, golden_compile, dedup_corpus, store_sf1 (see
perfbench/README.md). One client runs the workload's scripts back to
back (closed loop) on the engine's own autosized session,
``get_spark(master=local[nproc], data_dir=...)``. Inputs are generated
from the seed. Every checked output is compared with an independent
DuckDB oracle; a mismatch or a failed script counts as failed, and the
command then exits non-zero.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything the
benchmark writes stays under ``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = ["spork_spark/__init__.py", "__spark_entry__.py",
           "tools/make_scale.py", "tools/gen_pigmix_goldens.py",
           "tests/golden"]

# The engine's get_spark defaults the driver heap to 8g; every run here
# sets 1g instead, so memory stays bounded on a shared host.
DRIVER_MEM = "1g"

# Gated end-to-end metrics: the JSON line carries these. The wall-time
# ones (pass_s, script_s.p50/p90) are printed too, but on a shared 4-core
# host their quartile spread over ten runs reached 0.13-0.22 of the
# median (0.33-0.46 when the host's load changed during the set), too
# wide for a regression bound; CPU time spread 0.06-0.15 (0.32).
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    this process and every process below it: the JVM and its workers."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:     # exited while listing
                continue
            stats[int(d)] = (int(f[1]), sum(map(int, f[11:15])))
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, (ppid, _) in stats.items()
                    if ppid == pid and c not in tree)
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


class Run:
    """One workload run: set-up, timed passes, oracle check, report."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = os.cpu_count() or 1
        self.attempted = 0
        self.passes_run = 0
        self.failures: list[str] = []

    # ---- set-up -------------------------------------------------------
    def setup(self, data_dir: str, fixture_s: float) -> float:
        """Start the session once. Returns the seconds from process start
        (Python and JVM launch included) until the session and Engine are
        ready and a first trivial job has finished, less the input build."""
        from spork_spark import Engine, get_spark
        self.spark = get_spark(master=f"local[{self.cores}]", data_dir=data_dir)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.eng = Engine(self.spark)
        self.spark.range(1).count()
        return process_age_s() - fixture_s

    # ---- one script ---------------------------------------------------
    def sink(self, s, df, action: str):
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
            return None
        if action == "collect":
            return df.toArrow()
        from spork_spark.sources import write
        write(df, self.store_path(s), fmt=s.store_fmt)
        return None

    def store_path(self, s) -> str:
        return os.path.join(self.work, "store", s.name)

    def run_script(self, wl, s, action: str, tracer=None):
        """Run one script; returns (wall_s, check_s, output, layer record).
        With a tracer, the time spent inside its probes is recorded as
        ``trace.probe_s``: the tracing overhead."""
        from spork_spark.parser import check_script
        rec: dict = {}
        group = f"perfbench:{wl.name}:{self.passes_run}:{s.name}"
        check_s = None
        probe_s = 0.0
        if tracer:
            tracer.tag(group, s.name)
            if s.pig:
                from spork_spark.parser import preprocess
                from spork_spark.parser.pig import tokenize
                t0 = time.perf_counter()
                text = preprocess(s.pig, s.params)
                rec["parser.preprocess_s"] = time.perf_counter() - t0
                rec["parser.tokens"] = len(tokenize(text))
                probe_s += time.perf_counter() - t0
        if s.pig:
            t0 = time.perf_counter()
            check_script(self.eng, s.pig, params=s.params)
            check_s = time.perf_counter() - t0
            rec["compile.check_s"] = check_s
        t0 = time.perf_counter()
        df = s.build()
        t_build = time.perf_counter()
        if tracer:
            eager = set(tracer.job_ids(group))
            rec["operators.build_s"] = t_build - t0
            rec["operators.eager_jobs"] = len(eager)
            if s.last_relation is not None:
                rec["compile.plan_ops"] = count_plan_ops(s.last_relation.node)
            rec.update({f"catalyst.{k}": v
                        for k, v in tracer.plan(df).items()})
        t_act = time.perf_counter()
        probe_s += t_act - t_build
        out = self.sink(s, df, action)
        t1 = time.perf_counter()
        if tracer:
            from probes import output_stats
            ex = tracer.harvest(group, eager)
            rec["store.s"] = ex.pop("eager_store_s")
            targets = s.store_targets
            if action == "store":
                rec["store.s"] += t1 - t_act
                targets = [self.store_path(s)]
            rec["store.records"], rec["store.mb"] = output_stats(targets)
            rec.update({f"exec.{k}": v for k, v in ex.items()})
            rec["caching.mem_mb"] = tracer.storage_mb()
            rec["operators.output_rows"] = (rec["store.records"]
                                            if out is None else out.num_rows)
            rec["trace.probe_s"] = probe_s + time.perf_counter() - t1
        rec["caching.persisted"] = self.eng.release_cache()
        return t1 - t0, check_s, out, rec

    # ---- passes -------------------------------------------------------
    def run_pass(self, wl, action: str, tracer=None) -> dict:
        """Every script once, in the workload's fixed order."""
        walls, checks, outputs, recs = [], [], {}, []
        self.passes_run += 1
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        for s in wl.scripts:
            self.attempted += 1
            try:
                wall, check_s, out, rec = self.run_script(wl, s, action, tracer)
            except Exception as exc:   # a failed script is a result, not a crash
                traceback.print_exc(file=sys.stderr)
                self.failures.append(f"{s.name}: {type(exc).__name__}: {exc}"[:300])
                continue
            walls.append(wall)
            print(f"[perfbench] {s.name} {wall:.3f} s", file=sys.stderr)
            if check_s is not None:
                checks.append(check_s)
            outputs[s.name] = out
            recs.append(rec)
        return {"wall": time.perf_counter() - t0, "cpu": tree_cpu_s() - cpu0,
                "scripts": walls, "checks": checks, "outputs": outputs,
                "recs": recs}

    # ---- oracle -------------------------------------------------------
    def check(self, wl, con, outputs: dict, rows: dict) -> None:
        """Compare engine outputs (collected, or read back from the
        stored files) with the DuckDB oracle; mismatches become failures."""
        import oracle
        # the golden replays are loaded only here: their module imports
        # DuckDB, which stays out of the process until the checks
        replays = oracle.golden_replays(REPO) if wl.golden else {}
        for s in wl.scripts:
            if s.name not in outputs:
                continue
            sql = replays[s.name] if wl.golden else s.oracle_sql
            want = con.sql(sql).arrow()
            got = outputs[s.name]
            if wl.sink == "store":
                got = self.read_back(con, s, want)
            if wl.golden:
                got, want = oracle.golden_cells(got), oracle.golden_cells(want)
            rows[s.name] = got.num_rows
            why = oracle.compare(got, want, types=not wl.golden)
            if why:
                self.failures.append(f"{s.name}: oracle mismatch: {why}")

    def read_back(self, con, s, want):
        path = self.store_path(s)
        if s.store_fmt == "parquet":
            return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").arrow()
        # PigStorage text has no types of its own: read it with the oracle's
        cols = ", ".join(f"'{f.name}': '{duck_type(f.type)}'" for f in want.schema)
        return con.sql(f"SELECT * FROM read_csv('{path}/part-*', delim='\t', "
                       f"header=false, columns={{{cols}}})").arrow()

    # ---- main ---------------------------------------------------------
    def main(self) -> int:
        import workloads
        args = self.args
        data_dir, fixture_s = workloads.prepare_inputs(
            args.workload, os.path.join(self.work, "inputs"), REPO, args.seed)
        print(f"[perfbench] inputs {data_dir} (built in {fixture_s:.2f} s)",
              file=sys.stderr)
        setup_s = self.setup(data_dir, fixture_s)
        t_ready = time.perf_counter()
        wl = workloads.build(args.workload, data_dir, self.spark, self.eng,
                             REPO, self.work)
        rows: dict = {}

        checked = None
        if wl.sink == "noop":
            # the noop sink leaves nothing to check: an untimed collect
            # pass first gives the oracle the same plans' rows
            checked = [self.run_pass(wl, "collect")]

        tracer = None
        if args.trace:
            from probes import Tracer
            tracer = Tracer(self.spark)
        # The gated figures come from the first timed pass alone, so they
        # mean the same however fast a pass is. Its peak memory is read
        # before any oracle check runs in this process.
        deadline = time.perf_counter() + args.seconds
        passes = [self.run_pass(wl, wl.sink, tracer)]
        rss = {"python": peak_rss_mb(os.getpid()),
               "jvm": peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)}
        # further passes, while --seconds last, only feed the printed
        # wall-time medians and the per-layer medians
        while time.perf_counter() < deadline:
            passes.append(self.run_pass(wl, wl.sink, tracer))

        import oracle
        con = oracle.connect(data_dir)
        if wl.sink == "store":
            checked = passes[-1:]
        for p in checked or passes:
            self.check(wl, con, p["outputs"], rows)

        scripts = [w for p in passes for w in p["scripts"]]
        checks = [c for p in passes for c in p["checks"]]
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["wall"] for p in passes),
            "pass_cpu_s": passes[0]["cpu"],
            # printed only; None when every script failed
            "script_s.p50": statistics.median(scripts) if scripts else None,
            "script_s.p90": quantile(scripts, 0.9) if scripts else None,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        failed = len(self.failures)
        report = {
            "workload": args.workload, "seed": args.seed,
            "inputs": data_dir, "fixture_s": fixture_s,
            "peak_rss_mb_by_process": rss,
            "passes": len(passes),
            "pass_walls_s": [p["wall"] for p in passes],
            "script_samples": len(scripts),
            "check_s.p50": statistics.median(checks) if checks else None,
            "check_samples": len(checks),
            "fail_frac": failed / max(1, self.attempted),
            "failures": self.failures, "rows": rows,
        }
        t_done = time.perf_counter()
        self.shutdown()
        report["phases_s"] = {
            "to_ready": process_age_s() - (time.perf_counter() - t_ready),
            "passes": sum(p["wall"] for p in passes),
            "checks_and_probes": t_done - t_ready - sum(p["wall"] for p in passes),
            "shutdown": time.perf_counter() - t_done}
        self.print_human(e2e, report)
        if tracer is not None:
            metrics, split = self.layer_metrics(wl, passes, rows)
            self.write_trace(metrics, split, e2e, report)
        else:
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": self.attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if failed == 0 else 1

    def shutdown(self) -> None:
        """Stop the session and the JVM it runs in, and wait for the JVM
        to exit (it exits when its stdin closes)."""
        from pyspark import SparkContext
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def layer_metrics(self, wl, passes, rows) -> tuple[dict, dict]:
        """Per-layer totals of each traced pass, the median over passes,
        and the pass's driver/Spark-job split with probe time removed."""
        from probes import LAYER_METRICS, combine
        extra = {}
        if wl.sink == "noop":
            # the noop sink's rows are counted on the checked collect pass
            extra = {"operators.output_rows": sum(rows.values())}
        per_pass = [combine(p["recs"] + [extra], p["wall"], self.cores)
                    for p in passes]
        metrics = {k: {"value": statistics.median(v[k] for v in per_pass),
                       "unit": LAYER_METRICS[k][0]}
                   for k in per_pass[0]}
        walls = [p["wall"] - v["trace.probe_s"]
                 for p, v in zip(passes, per_pass)]
        split = {"pass_s_without_probes": statistics.median(walls),
                 "spark_job_s": metrics["exec.job_s"]["value"],
                 "driver_share": statistics.median(
                     1 - v["exec.job_s"] / w for v, w in zip(per_pass, walls))}
        return metrics, split

    def write_trace(self, metrics, split, e2e, report) -> None:
        path = os.path.join(self.work, "traces",
                            f"{self.args.workload}-s{self.args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"end_to_end": e2e, "per_layer": metrics,
                       "split": split, "run": report}, fh, indent=1)
        print(f"[perfbench] per-layer trace -> {path}", file=sys.stderr)

    def print_human(self, e2e, report) -> None:
        w = self.args.workload
        n = report["script_samples"]
        lines = [f"{w} setup_s = {e2e['setup_s']:.3f} s",
                 f"{w} pass_s = {e2e['pass_s']:.3f} s "
                 f"(median of {report['passes']} passes)",
                 f"{w} pass_cpu_s = {e2e['pass_cpu_s']:.3f} s "
                 "(first timed pass)",
                 f"{w} script_s.p50 = {e2e['script_s.p50'] or 0:.3f} s (n={n})",
                 f"{w} script_s.p90 = {e2e['script_s.p90'] or 0:.3f} s (n={n})"]
        if report["check_s.p50"] is not None:
            lines.append(f"{w} check_s.p50 = {report['check_s.p50']:.3f} s "
                         f"(n={report['check_samples']})")
        lines += [f"{w} fail_frac = {report['fail_frac']:.4f} "
                  f"({len(report['failures'])}/{self.attempted})",
                  f"{w} peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB "
                  f"(python {report['peak_rss_mb_by_process']['python']:.0f}"
                  f" + jvm {report['peak_rss_mb_by_process']['jvm']:.0f})",
                  f"{w} fixture_s = {report['fixture_s']:.3f} s "
                  "(input generation, not in setup_s)",
                  f"{w} phases_s = " + ", ".join(
                      f"{k} {v:.1f}" for k, v in report["phases_s"].items())]
        for f in report["failures"]:
            lines.append(f"{w} FAILED {f}")
        print("\n".join(lines))


def count_plan_ops(node) -> int:
    seen, stack = set(), [node]
    while stack:
        n = stack.pop()
        if id(n) in seen:
            continue
        seen.add(id(n))
        stack.extend(n.children)
    return len(seen)


DUCK_TYPES = {"int64": "BIGINT", "int32": "INTEGER", "double": "DOUBLE",
              "float": "FLOAT", "string": "VARCHAR", "large_string": "VARCHAR",
              "bool": "BOOLEAN"}


def duck_type(t) -> str:
    import pyarrow as pa
    if pa.types.is_decimal(t):
        return f"DECIMAL({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "TIMESTAMP"
    return DUCK_TYPES[str(t)]


def prepare_environment() -> str:
    """Keep every file a run writes (Python and JVM temp files, Spark
    scratch, STORE outputs, inputs) under ./.perfbench, and cap the
    driver heap at DRIVER_MEM through the engine's SPARK_GRAFT_DRIVER_MEM
    knob, whatever the caller's environment holds. Returns the work dir."""
    work = os.path.join(os.getcwd(), ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "")
                                       + f" -Djava.io.tmpdir={tmp}").strip()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if REPO not in sys.path:
        sys.path.insert(1, REPO)
    return work


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: program files missing under {REPO}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WHY:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WHY)}", file=sys.stderr)
        return 2

    work = prepare_environment()
    return Run(args, work).main()


if __name__ == "__main__":
    sys.exit(main())
