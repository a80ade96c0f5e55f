"""Benchmark of the phage-cloud engine: one single-client closed loop per
workload, every answer checked against a DuckDB oracle.

    python3 perfbench/run.py --workload clouds_interactive --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The graph for (seed, size) is generated
and the oracle's answers computed in a child process before the engine
starts, and cached under ``.perfbench_cache/``; per-run outputs go to
``.perfbench_work/``. A run times a fixed number of op blocks, the whole
number that takes about ``--seconds`` at this commit
(``workloads.n_blocks``). With ``--trace 0`` the last stdout line is a JSON
object with the end-to-end metrics; with ``--trace 1`` the run makes
the same ops with spans and Spark counters on, then the traced-only ops (a
warm-up call, then the traced call), then replays the timed ops untraced and
traced to measure the tracing overhead; the JSON carries the per-layer
metrics. The trace (spans, self times, tracing
overhead) is written to ``.perfbench_work/trace-<workload>-s<seed>.json``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402
from tracing import Tracer  # noqa: E402

N_GENOMES = 12_000

SPAN_METRICS = (
    "readers.open_s", "clouds.build_s", "sinks.write_vis_html_s",
    "cypher.parse_s", "cypher.compile_s", "cypher.execute_s", "cypher.apply_s",
    "cypher.verify_read_s", "graph.components_s", "graph.core_s",
    "graph.pagerank_s", "graph.degrees_s",
)
COUNTER_METRICS = (
    "spark.input_bytes", "spark.input_records", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.failed_tasks", "spark.executor_run_s",
    "spark.driver_wait_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.gc_s", "clouds.cached_rdds_left",
)
UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def driver_mem() -> str:
    """A quarter of the machine's memory, in whole GiB (3g on a 15 GiB
    machine): the package's 16g default does not fit a small machine, and
    the rest stays for the Python process and the page cache."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, kib // 2**20 // 4)}g"


def setup_env(work: str) -> None:
    """Engine settings through the variables the package reads: all cores
    as in the tier-1 tests, a driver heap sized to the machine, and
    scratch space inside the checkout. Every other setting is the
    package's default."""
    env = os.environ
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_mem())
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
        env[var] = os.path.join(work, sub)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)


def prepare(workload: str, seed: int, cache: str) -> tuple[str, dict, dict]:
    """Graph files, op sequence and oracle answers for (seed, size), made in
    a child process on first use and cached."""
    graph_dir = gen.graph_dir(cache, seed, N_GENOMES)
    answers = os.path.join(graph_dir, f"answers-{workload}.json")
    if not os.path.exists(answers):
        subprocess.run([sys.executable, os.path.join(HERE, "oracle.py"),
                        "--cache", cache, "--genomes", str(N_GENOMES),
                        "--workload", workload, "--seed", str(seed),
                        "--out", answers], check=True)
    with open(os.path.join(graph_dir, "meta.json")) as f:
        meta = json.load(f)
    with open(answers) as f:
        return graph_dir, meta, json.load(f)


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its JVM child (VmHWM of each)."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[1] != me:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the machine from /proc/stat: the share a
    hypervisor gave to other guests during a run explains a slow run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM pyspark launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def op_kind(spec: dict) -> str:
    return f"graph:{spec['op']}" if spec.get("kind") == "graph" else spec["kind"]


def tracing_overhead(plain: list[dict], traced: list[dict]) -> dict[str, float]:
    """Two passes over the same ops in the same order, untraced and traced;
    the overhead is the median of the paired differences in op time."""
    pairs = [(p["dt"], t["dt"]) for p, t in zip(plain, traced)
             if not p["err"] and not t["err"]]
    diffs = [t - p for p, t in pairs]
    return {"paired_ops": len(pairs),
            "median_diff_s": stats.median_or_zero(diffs),
            "median_ratio": stats.median_or_zero([t / p for p, t in pairs])}


class Runner:
    def __init__(self, workload: str, program, queries: dict, spark):
        self.workload = workload
        self.program = program
        self.queries = queries
        self.spark = spark
        self.n = 0

    def op(self, spec: dict):
        """One op's program calls. Output paths are unique per op so the
        answers can be digested after the loop."""
        if spec.get("kind") in ("read", "write"):
            text, params, *verify = self.queries[spec["key"]]
            return self.program.cypher(spec, text, params, tuple(verify) or None)
        spec = dict(spec, key=f"{spec['key']}-{self.n}")
        if self.workload == "clouds_interactive":
            return self.program.clouds(spec)
        return self.program.graph(spec)

    def loop(self, specs: list[dict], tracer: Tracer, counters=None):
        """Closed loop over ``specs``: the next op starts when the previous
        one has returned. Returns per-op records and the loop's wall time,
        which covers the ops and the release of per-op cached state only
        (with ``counters``, their polling too)."""
        records = []
        t_start = time.perf_counter()
        for spec in specs:
            self.n += 1
            tracer.op = spec["key"]
            if counters:
                counters.begin(f"{spec['key']}-{self.n}")
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    answer, write_s = self.op(spec)
                err = None
            except Exception as e:  # an op that raises counts as failed
                answer, write_s, err = None, None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
            rec = {"spec": spec, "dt": dt, "write_s": write_s, "answer": answer,
                   "err": err}
            if counters:
                counters.stop_clock()
                rec["counters"] = counters.end()
            self.spark.catalog.clearCache()
            records.append(rec)
        return records, time.perf_counter() - t_start


def check(workload: str, rec: dict, expected: dict) -> str:
    """Digest one op's answer (outside the timed region) and compare."""
    if rec["err"]:
        return "error"
    spec, ans = rec["spec"], rec["answer"]
    if workload == "clouds_interactive":
        got, rows = workloads.digest_html(ans, with_color=spec["kind"] == "taxon")
        rec["rows_to_driver"] = rows
        rec["html_bytes"] = os.path.getsize(ans)
        rec["result_edges"] = got["edges"]
    elif spec["kind"] == "graph":
        import pyarrow.parquet as pq

        table = pq.read_table(ans)
        got = workloads.rows_digest(zip(*(table.column(c).to_pylist()
                                          for c in table.column_names)))
        rec["result_edges"] = got["rows"]
    else:
        got = workloads.rows_digest(ans)
        rec["result_edges"] = got["rows"]
    if got != expected:
        rec["err"] = f"mismatch: got {got}, expected {expected}"
        return "mismatch"
    return "ok"


def end_to_end(records: list[dict], loop_s: float, setup_s: float) -> dict:
    ok = [r for r in records if r["outcome"] == "ok"]
    # with no successful op, the whole loop stands in as the one latency
    times = [r["dt"] for r in records if not r["err"]] or [loop_s]
    tail_v, tail_p, n = stats.tail(times)
    writes = [r["write_s"] for r in records if r["write_s"] is not None]
    attempted, failed = stats.failure_counts([r["outcome"] for r in records])
    return {
        "setup_s": (setup_s, "s"),
        "p50_s": (statistics.median(times), "s"),
        "tail_s": (tail_v, "s"),
        "ops_per_s": (len(ok) / loop_s, "1/s"),
        "success_frac": (1.0 - failed / attempted, "ratio"),
        "peak_rss_mb": (peak_rss_mb(), "MB"),
        "write_p50_s": (stats.median_or_zero(writes), "s"),
    }, {"tail_percentile": tail_p, "n": n, "failed_frac": failed / attempted}


def per_layer(records: list[dict], tracer: Tracer) -> dict:
    by_op: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        if s.name != "op":
            d = by_op.setdefault(s.op, {})
            d[s.name] = d.get(s.name, 0.0) + s.dur
    out = {"session.get_spark_s": (sum(tracer.durations("session.get_spark_s")), "s")}
    for name in SPAN_METRICS:
        vals = [d[name] for d in by_op.values() if name in d]
        out[name] = (stats.median_or_zero(vals), "s")
    traced = [r for r in records if "counters" in r]
    for name in COUNTER_METRICS:
        out[name] = (stats.mean_or_zero([r["counters"][name] for r in traced]),
                     unit_of(name))
    scanned = sum(r["counters"]["readers.edge_records_scanned"] for r in traced)
    useful = sum(r.get("result_edges", 0) for r in traced)
    out["readers.useful_row_ratio"] = (useful / scanned if scanned else 0.0, "ratio")
    for name in ("rows_to_driver", "html_bytes"):
        out[f"sinks.{name}"] = (
            stats.mean_or_zero([r.get(name, 0) for r in traced]), unit_of(name))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "phageclouds_graphdatabase_spark")):
        print("perfbench: the phageclouds_graphdatabase_spark package is not in "
              f"{ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    os.makedirs(os.path.join(work, "out"), exist_ok=True)
    setup_env(work)
    sys.path.insert(0, ROOT)

    graph_dir, meta, prepared = prepare(
        a.workload, a.seed, os.path.join(ROOT, ".perfbench_cache"))
    answers = prepared["answers"]
    phases: dict[str, list[dict]] = {"warmup": [], "timed": [], "traced_only": []}
    for s in prepared["specs"]:
        phases[s["phase"]].append(s)
    block = len(workloads.PLANS[a.workload][1])
    timed = phases["timed"][: block * workloads.n_blocks(a.workload, a.seconds)]
    queries = {}
    for s in prepared["specs"]:
        if s.get("kind") == "read":
            queries[s["key"]] = workloads.read_query(s)
        elif s.get("kind") == "write":
            queries[s["key"]] = workloads.write_query(s)

    from ops import Program
    from phageclouds_graphdatabase_spark.session import get_spark

    tracer = Tracer(enabled=bool(a.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark_s"):
        # the heap is committed and touched up front (-Xms = -Xmx, pre-touch):
        # peak RSS then counts the heap once plus what the engine and the
        # driver use beside it, not how far G1 had got through the heap when
        # the run ended; the JVM's temporary files stay inside the checkout
        mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        tmp = os.environ["TMPDIR"]
        spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f'-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData '
                f'"-Djava.io.tmpdir={tmp}"'})
    try:
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(a.workload, Program(spark, graph_dir, work, tracer),
                        queries, spark)
        tracer.enabled = False
        runner.loop(phases["warmup"], tracer)
        setup_s = time.perf_counter() - t0

        if a.trace:
            from sparkstats import SparkCounters

            counters = SparkCounters(spark, meta["n_edges"])
            tracer.enabled = True
            traced, _ = runner.loop(timed, tracer, counters)
            tracer.enabled = False
            runner.loop(phases["traced_only"], tracer)  # their warm-up call
            tracer.enabled = True
            traced += runner.loop(phases["traced_only"], tracer, counters)[0]
            # tracing overhead (of the spans; the counters are read between
            # ops): every second timed op twice more, untraced and traced
            # back to back, the order alternating (all of them would take a
            # slow host's traced run past its time). A replay of the same op
            # runs faster than its first run, so both sides of the pair are
            # replays; the traced replays' spans are dropped, the per-layer
            # figures would count their ops twice
            plain, replay = [], []
            mark = len(tracer.spans)
            for i, spec in enumerate(timed[1::2]):
                for traced_side in ((False, True) if i % 2 == 0 else (True, False)):
                    tracer.enabled = traced_side
                    (replay if traced_side else plain).extend(
                        runner.loop([spec], tracer)[0])
            del tracer.spans[mark:]
            records = traced + plain + replay
        else:
            steal0, total0 = cpu_ticks()
            records, loop_s = runner.loop(timed, tracer)
            steal1, total1 = cpu_ticks()
        for r in records:
            r["outcome"] = check(a.workload, r, answers[r["spec"]["key"]])
        for r in records:
            if r["err"]:
                print(f"perfbench: op {r['spec']['key']} failed: {r['err']}",
                      file=sys.stderr)
        with open(os.path.join(work, f"ops-{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump([{"key": r["spec"]["key"], "kind": op_kind(r["spec"]),
                        "tpl": r["spec"].get("tpl"), "dt": r["dt"],
                        "write_s": r["write_s"], "outcome": r["outcome"]}
                       for r in records], f, indent=1)

        if a.trace:
            overhead = tracing_overhead(plain, replay)
            metrics = per_layer(traced, tracer)
            trace_path = os.path.join(work, f"trace-{a.workload}-s{a.seed}.json")
            tracer.dump(trace_path, {"workload": a.workload, "seed": a.seed,
                                     "tracing_overhead": overhead,
                                     "traced_ops": len(traced),
                                     "replayed_ops": len(plain) + len(replay)})
            print(f"trace: {trace_path}")
            print("tracing overhead over {paired_ops} paired ops: median "
                  "traced - untraced {median_diff_s:+.4f} s, median ratio "
                  "{median_ratio:.4f}".format(**overhead))
            for name, d in sorted(tracer.self_times().items()):
                print(f"self {name}: {d['self_s']:.4f} s of {d['total_s']:.4f} s "
                      f"over {d['calls']} calls")
        else:
            metrics, info = end_to_end(records, loop_s, setup_s)
            print(f"tail_s is p{info['tail_percentile']:.1f} of n={info['n']} ops "
                  f"({stats.TAIL_BEYOND} beyond it); failed_frac "
                  f"{info['failed_frac']:.4f}; cpu steal during the loop "
                  f"{(steal1 - steal0) / max(1, total1 - total0):.3f}")
    finally:
        stop_engine(spark)
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    attempted, failed = stats.failure_counts([r["outcome"] for r in records])
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
