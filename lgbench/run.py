"""linkgraph benchmark: one workload, seeded inputs, checked outputs.

    python3 lgbench/run.py --workload hub_converge --seed 1 --seconds 10 --trace 0
    python3 lgbench/run.py --workload all        # every workload, seed 1

Run from the repository root. The inputs of ``(workload, seed)`` are
generated once and cached under ``.lgbench_work/inputs``; everything the
run writes stays under ``.lgbench_work``. One process drives one Spark
session on ``local[4]``.

``--trace 0`` repeats the workload until ``--seconds`` have passed (at
least once) and prints the end-to-end metrics. ``--trace 1`` runs one
traced repetition (spans plus a Spark event log) and prints the per-layer
metrics, the tracing overhead and the PageRank scaling efficiency, the
last two from a 10-round PageRank timed in a traced, an untraced and a
``local[1]`` session. Human-readable lines go first; the last line of
standard output is one JSON object. A failed check or a failed layer call
prints ``"correct": false`` and exits 1. See lgbench/README.md for the
workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
MASTER = f"local[{CORES}]"
SETUPS = 3  # session starts per run; the first also launches the JVM
DEADLINE_S = 165.0  # cancel running Spark jobs after this long
WORKLOADS = ("repo_ingest", "hub_converge")

END_TO_END = {
    "wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "input_rows_per_s": "rows/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.write_s": "s",
    "ingest.extract_s": "s",
    "ingest.mb_per_s": "MB/s",
    "ingest.refs": "count",
    "ingest.edges": "count",
    "ingest.edge_yield": "ratio",
    "ingest.tasks": "count",
    "ingest.core_util": "ratio",
    "ingest.shuffle_mb": "MB",
    "graph.build_s": "s",
    "graph.norm_s": "s",
    "graph.canon_s": "s",
    "graph.sym_s": "s",
    "graph.shuffle_mb": "MB",
    "graph.core_util": "ratio",
    "pagerank.s": "s",
    "pagerank.self_s": "s",
    "pagerank.iters": "count",
    "pagerank.s_per_iter": "s",
    "pagerank.edges_per_s_per_iter": "edges/s",
    "pagerank.jobs_per_iter": "ratio",
    "pagerank.tasks": "count",
    "pagerank.shuffle_mb": "MB",
    "pagerank.core_util": "ratio",
    "pagerank.task_skew": "ratio",
    "pagerank.scaling_eff": "ratio",
    "wcc.s": "s",
    "wcc.self_s": "s",
    "wcc.jobs": "count",
    "wcc.shuffle_mb": "MB",
    "wcc.core_util": "ratio",
    "labelprop.s": "s",
    "labelprop.self_s": "s",
    "labelprop.jobs": "count",
    "labelprop.shuffle_mb": "MB",
    "labelprop.core_util": "ratio",
    "triangles.s": "s",
    "triangles.shuffle_mb": "MB",
    "triangles.spill_mb": "MB",
    "triangles.task_skew": "ratio",
    "triangles.core_util": "ratio",
    "runner.write_s": "s",
    "runner.write_mb": "MB",
    "runner.iters_committed": "count",
    "runner.iters_redone": "count",
    "runner.resume_load_s": "s",
    "runner.lineage_rows": "count",
    "runner.resume_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.gc_s": "s",
    "spark.shuffle_mb": "MB",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_engine():
    """Import the engine from this checkout; exit non-zero if it is not here."""
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import linkgraph
    except ImportError as e:
        sys.exit(f"lgbench: cannot import linkgraph from {ROOT}: {e}")
    if Path(linkgraph.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"lgbench: linkgraph resolved outside the checkout: {linkgraph.__file__}")


class Session:
    """Owns the Spark session(s) of one run and the JVM behind them."""

    def __init__(self, work: Path):
        self.work = work
        self.spark = None
        for d in ("tmp", "spark-local", "warehouse"):
            (work / d).mkdir(parents=True, exist_ok=True)
        # read by linkgraph.session.get_spark and by the JVM launch; the
        # JVM options also reach spark-submit's launcher JVM, so no JVM
        # writes outside ``work``
        os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = "1g"
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable

    def start(self, master: str = MASTER, event_log: Path | None = None) -> float:
        """(Re)start the session plus a trivial warm-up job; returns seconds."""
        from linkgraph.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({"spark.eventLog.dir": event_log.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="lgbench", master=master, extra_conf=conf)
        self.spark.range(1000).selectExpr("sum(id)").collect()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Watchdog:
    """Cancels all Spark jobs once the run passes its deadline, so a wedged
    job fails its layer call instead of hanging the run."""

    def __init__(self, session: Session, deadline: float):
        self._timer = threading.Timer(deadline, self._fire, args=(session,))
        self._timer.daemon = True

    def _fire(self, session: Session) -> None:
        if session.spark is not None:
            session.spark.sparkContext.cancelAllJobs()

    def __enter__(self) -> "Watchdog":
        self._timer.start()
        return self

    def __exit__(self, *exc) -> None:
        self._timer.cancel()
        self._timer.join(timeout=5)


def median(xs) -> float:
    return float(statistics.median(xs))


def emit(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"{name:<28} {value:>16.6f} {unit:<8} {note}".rstrip())


def pagerank_phase(ctx, tr=None) -> float:
    """Seconds of a 10-round parity PageRank on the workload's graph in the
    current session (graph build untimed). With a tracer, the run is a span
    with its own Spark job group."""
    from contextlib import nullcontext

    from linkgraph.graph import Graph
    from linkgraph.operators import pagerank

    import gen
    import workloads as wl

    g = Graph.from_edges(ctx.spark, wl.graph_table(ctx), num_vertices=ctx.n)
    g.out_normalized_edges().count()
    with tr.span("phase.pagerank") if tr else nullcontext():
        t0 = time.perf_counter()
        pagerank(g, iterations=gen.PARITY_ITERS)
        dt = time.perf_counter() - t0
    g.unpersist()
    return dt


def layer_metrics(tr, groups, traced, setups, manifest, scaling, overhead) -> dict:
    """Per-layer metrics of the traced repetition ``traced``."""
    import tracing

    spans = [s for s in tr.spans if s.name != "rep"]
    root = [s for s in tr.spans if s.name == "rep"]
    st = tracing.layer_stats(spans, groups, CORES)
    mb = tracing.MB
    zero = {"wall": 0.0, "self": 0.0, "calls": 0, "g": tracing.GroupStats(), "core_util": 0.0}

    def L(name):
        return st.get(name, zero)

    c = traced.counts
    m = {"session.start_s": setups[0],
         "sources.load_s": L("sources.load")["wall"],
         "sources.write_s": L("sources.write")["wall"]}
    ing = L("ingest.extract")
    m.update({
        "ingest.extract_s": ing["wall"],
        "ingest.mb_per_s": (manifest["content_bytes"] / mb / ing["wall"]) if ing["wall"] else 0.0,
        "ingest.refs": c.get("ingest.refs", 0),
        "ingest.edges": c.get("ingest.edges", 0),
        "ingest.edge_yield": (c["ingest.edges"] / c["ingest.refs"]) if c.get("ingest.refs") else 0.0,
        "ingest.tasks": ing["g"].tasks,
        "ingest.core_util": ing["core_util"],
        "ingest.shuffle_mb": ing["g"].shuffle_write / mb,
    })
    graph_names = ("graph.build", "graph.norm", "graph.canon", "graph.sym")
    for n in graph_names:
        m[f"{n}_s"] = L(n)["wall"]
    gself = sum(L(n)["self"] for n in graph_names)
    m["graph.shuffle_mb"] = sum(L(n)["g"].shuffle_write for n in graph_names) / mb
    m["graph.core_util"] = (sum(L(n)["g"].run_ms for n in graph_names) / 1000.0
                            / (gself * CORES) if gself else 0.0)
    pr = L("pagerank")
    iters = traced.pr_iters
    m.update({
        "pagerank.s": pr["wall"],
        "pagerank.self_s": pr["self"],
        "pagerank.iters": iters,
        "pagerank.s_per_iter": pr["wall"] / iters if iters else 0.0,
        "pagerank.edges_per_s_per_iter": traced.num_edges * iters / pr["wall"] if iters else 0.0,
        "pagerank.jobs_per_iter": pr["g"].jobs / iters if iters else 0.0,
        "pagerank.tasks": pr["g"].tasks,
        "pagerank.shuffle_mb": pr["g"].shuffle_write / mb,
        "pagerank.core_util": pr["core_util"],
        "pagerank.task_skew": pr["g"].skew() if pr["calls"] else 0.0,
        "pagerank.scaling_eff": scaling,
    })
    for n in ("wcc", "labelprop"):
        d = L(n)
        m.update({f"{n}.s": d["wall"], f"{n}.self_s": d["self"], f"{n}.jobs": d["g"].jobs,
                  f"{n}.shuffle_mb": d["g"].shuffle_write / mb,
                  f"{n}.core_util": d["core_util"]})
    t = L("triangles")
    m.update({
        "triangles.s": t["wall"],
        "triangles.shuffle_mb": t["g"].shuffle_write / mb,
        "triangles.spill_mb": t["g"].spill_disk / mb,
        "triangles.task_skew": t["g"].skew() if t["calls"] else 0.0,
        "triangles.core_util": t["core_util"],
    })
    m.update({
        "runner.write_s": c.get("runner.write_s", 0.0),
        "runner.write_mb": c.get("runner.write_mb", 0.0),
        "runner.iters_committed": c.get("runner.iters_committed", 0),
        "runner.iters_redone": c.get("runner.iters_redone", 0),
        "runner.resume_load_s": c.get("runner.resume_load_s", 0.0),
        "runner.lineage_rows": c.get("runner.lineage_rows", 0),
        "runner.resume_s": traced.resume_s,
    })
    allg = tracing.GroupStats()
    for s in spans + root:
        g = groups.get(s.group)
        if g is not None:
            allg.jobs += g.jobs
            allg.stages += g.stages
            allg.gc_ms += g.gc_ms
            allg.shuffle_write += g.shuffle_write
    m.update({"spark.jobs": allg.jobs, "spark.stages": allg.stages,
              "spark.gc_s": allg.gc_ms / 1000.0,
              "spark.shuffle_mb": allg.shuffle_write / mb,
              "trace.overhead_s": overhead})
    return m


def run_all(args) -> int:
    """Each workload in its own process, as a single-workload run would be."""
    bad = 0
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        bad += subprocess.run(cmd, check=False).returncode != 0
    return 1 if bad else 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    import_engine()
    import gen
    import tracing
    import workloads as wl

    t_start = time.perf_counter()
    work = ROOT / ".lgbench_work"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, manifest = gen.inputs(args.workload, args.seed, str(work))
    exp = gen.expected(in_dir)
    print(f"# workload={args.workload} seed={args.seed} trace={args.trace} "
          f"vertices={manifest['num_vertices']} edges={manifest['num_edges']} "
          f"input_rows={manifest['input_rows']} gen_s={time.perf_counter() - t_start:.2f}")

    sess = Session(run_dir)
    elog = run_dir / "eventlog"
    reps, checks, failures = [], [], []
    attempted = 0
    setups: list[float] = []
    scaling = overhead = 0.0
    groups: dict = {}
    tr = None
    try:
        with tracing.RssSampler() as rss, Watchdog(sess, DEADLINE_S - (time.perf_counter() - t_start)):
            for i in range(SETUPS):
                traced_session = args.trace == 1 and i == SETUPS - 1
                setups.append(sess.start(event_log=elog if traced_session else None))
            tr = tracing.Tracer(sess.spark.sparkContext if args.trace else None)
            ctx = wl.Ctx(sess.spark, tr, in_dir, manifest, trace=bool(args.trace))

            def one(k):
                nonlocal attempted
                mark = len(tr.spans)
                try:
                    rep = wl.run_rep(ctx, args.workload, str(run_dir / f"rep{k}"), exp)
                finally:
                    new = [s for s in tr.spans[mark:] if s.name != "rep"]
                    attempted += len(new)
                    failures.extend(s.name for s in new if s.failed)
                checks.extend(rep.checks)
                phases: dict[str, float] = {}
                for sp in tr.spans[mark:]:
                    if sp.parent is not None and tr.spans[sp.parent].name == "rep":
                        phases[sp.name] = phases.get(sp.name, 0.0) + sp.wall
                print(f"# rep {k}: wall_s={rep.wall:.3f} pagerank_iters={rep.pr_iters} "
                      f"pr_edges_per_s_per_iter={rep.num_edges * rep.pr_iters / rep.pr_s:.0f} "
                      + " ".join(f"{n}={v:.2f}" for n, v in phases.items()), flush=True)
                return rep

            steal0 = tracing.cpu_steal()
            t0 = time.perf_counter()
            while not reps or (args.trace == 0 and time.perf_counter() - t0 < args.seconds):
                reps.append(one(len(reps)))
            peak = rss.peak
            steal1 = tracing.cpu_steal()
            print(f"# host cpu steal during reps: "
                  f"{(steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1):.1%}")
            if args.workload == "repo_ingest":  # outside every span
                checks.append(wl.check_content_hashes(ctx, exp))
            if args.trace:
                # tracing overhead and N -> 4N scaling on one PageRank phase,
                # each side in its own session of the warm JVM
                t_traced = pagerank_phase(ctx, tracing.Tracer(sess.spark.sparkContext))
                sess.start()  # also closes the event log
                t_4 = pagerank_phase(wl.Ctx(sess.spark, None, in_dir, manifest))
                sess.start(master="local[1]")
                t_1 = pagerank_phase(wl.Ctx(sess.spark, None, in_dir, manifest))
                overhead = t_traced - t_4
                scaling = (t_1 / t_4) / CORES
                groups = tracing.read_event_logs(str(elog))
    except Exception as e:  # a layer call raised or was cancelled: report, do not hide
        import traceback

        traceback.print_exc(file=sys.stderr)
        failures.append(f"{type(e).__name__}: {str(e)[:200]}")
    finally:
        sess.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    n_ok = sum(1 for _, ok, _ in checks if ok)
    by_name: dict[str, list] = {}
    for name, ok, detail in checks:
        by_name.setdefault(name, []).append((ok, detail))
    for name, res in by_name.items():
        bad = [d for ok, d in res if not ok]
        print(f"# check {name}: {len(res) - len(bad)}/{len(res)} ok "
              f"{bad[0] if bad else res[-1][1]}")
    correct = bool(checks) and n_ok == len(checks) and not failures and bool(reps)
    print(f"# correct_frac={n_ok / max(len(checks), 1):.6f} "
          f"fail_frac={len(failures) / max(attempted, 1):.6f} "
          f"checks={len(checks)} layer_calls={attempted} reps={len(reps)}")
    metrics: dict[str, dict] = {}
    if reps and correct:
        if args.trace == 0:
            walls = [r.wall for r in reps]
            wall = median(walls)
            vals = {
                "wall_s": wall,
                "setup_s": median(setups),
                "peak_rss_mb": peak / tracing.MB,
                "input_rows_per_s": manifest["input_rows"] / wall,
            }
            notes = {"wall_s": f"n={len(walls)} max={max(walls):.3f}",
                     "setup_s": f"n={len(setups)} max={max(setups):.3f}"}
            units = END_TO_END
        else:
            vals = layer_metrics(tr, groups, reps[0], setups, manifest, scaling, overhead)
            notes, units = {}, PER_LAYER
        for name, unit in units.items():
            emit(name, vals[name], unit, notes.get(name, ""))
            metrics[name] = {"value": vals[name], "unit": unit}
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": len(failures), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
