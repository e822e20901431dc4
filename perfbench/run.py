"""Benchmark runner for pgs_spark.

    python3 perfbench/run.py --workload code_graph --seed 1 --seconds 10 --trace 0

One run is one fresh driver process (a fresh JVM, as a ``spark-submit`` user
pays) on ``local[<cores>]`` with as many shuffle partitions, one client
calling the operators one after another (a closed loop). The timed section
repeats until ``--seconds`` have passed; at the configured length that is one
pass. Every pass checks its outputs; once per seed the outputs are also
compared with independent references (``references.py``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (job groups, status-store stage metrics, child spans inside the
program). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Each run also appends a
record (seed, git HEAD, loadavg, CPU vs wall, every metric) to
``perfbench/.work/runs.jsonl``; ``summarize.py`` reports medians and
quartiles over those whole runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
WATCHDOG_S = 170
DERIVE_OPS = ("with_refs", "derive_edges", "co_purchase_edges")
SPARK_OPS = {  # metric name -> op spans it sums
    "extract": ("with_refs",),
    "derive": ("derive_edges", "co_purchase_edges"),
    "pagerank": ("pagerank",),
    "components": ("connected_components",),
    "lpa": ("label_propagation",),
    "triangles": ("triangle_count",),
}
SELF_LAYERS = ("extract", "edges", "pagerank", "components", "lpa", "triangles", "checkpoint", "trace")
# The harness persists these ops' outputs itself; hygiene counts only the rest.
OWN_PERSISTS = {"with_refs": 1, "derive_edges": 1, "co_purchase_edges": 1}


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def code_fingerprint() -> str:
    h = hashlib.sha256()
    paths = []
    for base in (os.path.join(ROOT, "pgs_spark"), BENCH_DIR):
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_state() -> dict:
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=20)
        if head.returncode != 0:
            return {"head": None, "dirty": None}
        status = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=no"],
                                capture_output=True, text=True, timeout=20)
        return {"head": head.stdout.strip(), "dirty": bool(status.stdout.strip())}
    except (OSError, subprocess.SubprocessError):
        return {"head": None, "dirty": None}


def proc_status(pid: int) -> dict:
    """VmHWM (MiB) and CPU seconds of a process."""
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return {"hwm_mb": hwm_kb / 1024.0, "cpu_s": cpu}


class Context:
    def __init__(self, spark, seed, tracer, run_dir):
        self.spark, self.seed, self.tracer, self.run_dir = spark, seed, tracer, run_dir


def isolate(run_dir: str) -> dict:
    """Point every scratch location the engine or the JVM writes at the
    run's own directory, before the JVM starts."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PGS_SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher, keeps out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    mem = os.environ.setdefault("PGS_SPARK_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{mem}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    try:
        SparkContext._gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- metrics -----------------------------------------------------------------
def _wall(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _supersteps(results) -> list:
    return [h for r in results for h in r.history]


def _driver_gap(spans) -> float:
    from metrics import gap_length

    return sum(gap_length(sp["start"], sp["end"], [(j["start"], j["end"]) for j in sp.get("jobs", [])])
               for sp in spans)


def end_to_end(p: dict) -> dict:
    ops, out = p["ops"], p["out"]
    # |E| x supersteps / superstep seconds of PageRank (LPA on copurchase)
    secs = [h["seconds"] for h in _supersteps(out["iterative"])]
    return {
        "run_s": p["run_s"],
        "derive_s": _wall(o for o in ops if o["op"] in DERIVE_OPS),
        "cc_s": _wall(o for o in ops if o["op"] == "connected_components"),
        "superstep_edges_per_s": out["n_edges"] * len(secs) / sum(secs) if secs else 0.0,
    }


def per_layer(p: dict, tracer, inputs: dict) -> dict:
    from metrics import self_time, union_length
    from tracer import stage_totals
    from workloads import CODE_FILES

    spans, ops, out = p["spans"], p["ops"], p["out"]
    by_op = lambda *names: [o for o in ops if o["op"] in names]  # noqa: E731
    m = {"session.start_s": p["session_start_s"], "sources.generate_s": inputs["generate_s"],
         "sources.rows": inputs["rows"]}

    ext = by_op("with_refs")
    m["extract.wall_s"] = _wall(ext)
    m["extract.files_per_s"] = CODE_FILES / m["extract.wall_s"] if ext else 0.0
    m["extract.refs"] = out.get("refs", 0)
    m["extract.executor_run_s"] = stage_totals(ext)["executor_run_s"]
    m["edges.derive_s"] = _wall(by_op(*SPARK_OPS["derive"]))
    m["edges.rows"] = out.get("n_edges", 0)

    pr_spans = by_op("pagerank")
    prs = out.get("pagerank", [])
    hist = _supersteps(prs)
    secs = [h["seconds"] for h in hist]
    saves = [c for sp in pr_spans for c in tracer.children(sp) if c["name"] == "CheckpointManager.save"]
    step_jobs = [j for sp in pr_spans for j in sp.get("jobs", [])
                 if any(c["start"] <= j["start"] <= c["end"] for c in saves)]
    pr_tot = stage_totals(pr_spans)
    m["pagerank.wall_s"] = _wall(pr_spans)
    m["pagerank.build_s"] = _wall(pr_spans) - sum(secs)
    m["pagerank.supersteps"] = len(hist)
    m["pagerank.superstep_p50_s"] = statistics.median(secs) if secs else 0.0
    m["pagerank.superstep_max_s"] = max(secs, default=0.0)
    m["pagerank.jobs_per_superstep"] = len(step_jobs) / len(hist) if hist else 0.0
    m["pagerank.shuffle_read_bytes_per_superstep"] = (
        statistics.mean(h["shuffle_read_bytes"] for h in hist) if hist else 0.0)
    m["pagerank.driver_gap_s"] = _driver_gap(pr_spans)
    m["pagerank.edges_per_s"] = out.get("n_edges", 0) * len(hist) / sum(secs) if secs else 0.0

    cc_spans = by_op("connected_components")
    cc = out.get("cc")
    cc_tot = stage_totals(cc_spans)
    m["components.wall_s"] = _wall(cc_spans)
    m["components.rounds"] = cc.rounds if cc else 0
    m["components.jobs"] = cc_tot["jobs"]
    m["components.shuffle_bytes"] = cc_tot["shuffle_bytes"]
    m["components.driver_gap_s"] = _driver_gap(cc_spans)

    lpa_spans = by_op("label_propagation")
    lpa_secs = [h["seconds"] for h in out["lpa"].history] if "lpa" in out else []
    m["lpa.wall_s"] = _wall(lpa_spans)
    m["lpa.supersteps"] = len(lpa_secs)
    m["lpa.superstep_p50_s"] = statistics.median(lpa_secs) if lpa_secs else 0.0
    m["lpa.shuffle_bytes"] = stage_totals(lpa_spans)["shuffle_bytes"]

    tri_spans = by_op("triangle_count")
    tri_tot = stage_totals(tri_spans)
    m["triangles.wall_s"] = _wall(tri_spans)
    m["triangles.shuffle_bytes"] = tri_tot["shuffle_bytes"]
    m["triangles.spill_bytes"] = tri_tot["spill_bytes"]
    m["triangles.task_max_over_p50"] = tri_tot["task_max_over_p50"]

    ck = p["counters"]
    m["checkpoint.saves"] = ck["saves"]
    m["checkpoint.save_s"] = _wall(s for s in spans if s["name"] in ("CheckpointManager.save", "state.snapshot"))
    m["checkpoint.bytes_written"] = ck["bytes_written"]
    m["checkpoint.manifests"] = ck["manifests"]
    m["checkpoint.fingerprint_s"] = _wall(s for s in spans if s["name"] == "fingerprint_edges")

    m["skew.ratio_src"] = max((h["skew_ratio_src"] for h in hist), default=0.0)
    m["skew.ratio_dst"] = max((h["skew_ratio_dst"] for h in hist), default=0.0)
    m["skew.task_max_over_p50"] = pr_tot["task_max_over_p50"]

    for name, names in SPARK_OPS.items():
        tot = stage_totals(by_op(*names))
        for key in ("executor_run_s", "gc_s", "spill_bytes", "stages", "failed_tasks"):
            m[f"spark.{name}.{key}"] = tot[key]

    hyg = [o.get("hygiene", {}) for o in ops]
    m["hygiene.leaked_persists"] = sum(
        h.get("persists", 0) - OWN_PERSISTS.get(o["op"], 0) for o, h in zip(ops, hyg) if h)
    m["hygiene.conf_drift"] = sum(h.get("conf_drift", 0) for h in hyg)
    m["hygiene.temp_views"] = sum(h.get("temp_views", 0) for h in hyg)

    self_by_layer = dict.fromkeys(SELF_LAYERS, 0.0)
    for s in spans:
        if s["layer"] in self_by_layer:
            self_by_layer[s["layer"]] += self_time(s, tracer.children(s))
    for layer, v in self_by_layer.items():
        m[f"{layer}.self_s"] = v
    top = [(s["start"], s["end"]) for s in spans if s["parent"] is None]
    unattributed = p["run_s"] - union_length(top, p["start"], p["end"])
    m["trace.run_s"] = p["run_s"]
    m["trace.overhead_s"] = _wall(s for s in spans if s["layer"] == "trace")
    m["trace.unattributed_s"] = unattributed
    m["trace.unattributed_share"] = unattributed / p["run_s"]
    return m


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median_over_passes(per_pass: list) -> dict:
    return {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}


# -- the run -----------------------------------------------------------------
def run(args) -> int:
    t_proc = process_start_time()
    from tracer import Tracer
    from workloads import WORKLOADS

    spec = load_spec()
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    wl = WORKLOADS[args.workload]
    loadavg_before = os.getloadavg()[0]
    git = git_state()
    fingerprint = code_fingerprint()
    cache_dir = os.path.join(WORK, "cache")
    os.makedirs(cache_dir, exist_ok=True)
    run_dir = os.path.join(WORK, "runs", f"{wl.name}-{args.seed}-{os.getpid()}-{int(time.time())}")
    os.makedirs(run_dir)
    spark = None
    try:
        extra_conf = isolate(run_dir)
        tracer = Tracer(wl.name, enabled=bool(args.trace))
        if args.trace:
            tracer.install_wrappers()
        from pgs_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=extra_conf)
        session_start_s = time.time() - t_proc
        tracer.bind(spark)
        ctx = Context(spark, args.seed, tracer, run_dir)
        inputs = wl.setup(ctx)
        setup_s = time.time() - t_proc

        oracle_file = os.path.join(cache_dir, f"oracle-{wl.name}-{args.seed}-{fingerprint}.json")
        need_oracle = not os.path.exists(oracle_file)
        passes, failures, frames = [], [], None
        t_measure = time.time()
        while not passes or time.time() - t_measure < args.seconds:
            pass_dir = os.path.join(run_dir, f"pass{len(passes)}")
            first = len(tracer.spans)
            tracer.counters.clear()
            t0 = time.time()
            try:
                out = wl.run(ctx, inputs, pass_dir)
            except Exception:
                traceback.print_exc()
                out = None
            t1 = time.time()
            spans = tracer.spans[first:]
            ops = [s for s in spans if "op" in s]
            done = {o["op"] for o in ops if o["ok"]}
            failures += [(len(passes), op, "did not complete") for op in wl.ops if op not in done]
            if out is None:
                passes.append(None)
                break
            failures += [(len(passes), op, msg) for op, msg in wl.check(out)]
            if need_oracle and frames is None:
                frames = wl.collect(out)
            if len(passes) and "triangles" in out and out["triangles"] != passes[0]["out"]["triangles"]:
                failures.append((len(passes), "triangle_count", "count changed between passes"))
            passes.append({"run_s": t1 - t0, "start": t0, "end": t1, "spans": spans, "ops": ops,
                           "out": out, "counters": dict(tracer.counters),
                           "session_start_s": session_start_s})
            for df in out["persisted"]:
                df.unpersist()
        jvm = proc_status(spark.sparkContext._gateway.proc.pid)
        stop_spark(spark)
        spark = None

        oracle = None
        if frames is not None:
            oracle = [(0, op, msg) for op, msg in wl.compare(frames)]
            with open(oracle_file, "w") as f:
                json.dump(oracle, f)
        elif not need_oracle:
            with open(oracle_file) as f:
                oracle = [tuple(x) for x in json.load(f)]
        failures += oracle or []

        good = [p for p in passes if p is not None]
        if good:
            rows = [end_to_end(p) for p in good]
            if args.trace:
                rows = [{**r, **per_layer(p, tracer, inputs)} for r, p in zip(rows, good)]
            values = median_over_passes(rows)
        else:
            values = {}
        values.update(setup_s=setup_s, peak_rss_mb=jvm["hwm_mb"])
        metrics = {k: {"value": values.get(k, 0.0), "unit": unit[k]} for k in wanted}
        attempted = len(wl.ops) * len(passes)
        failed = len({(i, op) for i, op, _ in failures})
        wall = time.time() - t_proc
        usage = resource.getrusage(resource.RUSAGE_SELF)
        record = {
            "ts": time.time(), "workload": wl.name, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "passes": len(passes), "git_head": git["head"],
            "git_dirty": git["dirty"], "code_fingerprint": fingerprint,
            "loadavg_before": loadavg_before, "wall_s": wall, "jvm_cpu_s": jvm["cpu_s"],
            "python_cpu_s": usage.ru_utime + usage.ru_stime,
            "cpu_per_wall": (jvm["cpu_s"] + usage.ru_utime + usage.ru_stime) / wall,
            "oracle_checked": frames is not None or not need_oracle,
            "superstep_s": [[h["seconds"] for h in _supersteps(p["out"]["iterative"])] for p in good],
            "failures": failures, "metrics": {k: v["value"] for k, v in metrics.items()},
        }
        with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_file = os.path.join(WORK, "traces", f"{wl.name}-{args.seed}-{int(record['ts'])}.json")
            with open(trace_file, "w") as f:
                json.dump({"run": record, "spans": tracer.spans}, f, default=str)

        for k, v in metrics.items():
            print(f"{k:45s} {v['value']:>16.6g} {v['unit']}")
        for i, op, msg in failures:
            print(f"FAIL pass {i} {op}: {msg}")
        print(f"error_rate {failed / attempted:.4f} ({failed}/{attempted} ops); oracle "
              f"{'checked' if record['oracle_checked'] else 'not run'}; seed {args.seed}; "
              f"git {git['head'] or 'n/a'}{' (dirty)' if git['dirty'] else ''}; "
              f"loadavg {loadavg_before:.2f}; cpu/wall {record['cpu_per_wall']:.2f}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S}s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    sys.path.insert(1, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
