"""End-to-end benchmark of the engine's four graph queries.

    python3 graphbench/run.py --workload repo_in_memory --seed 1 --seconds 12 --trace 0

One process, one closed-loop client: each round derives the edge table
from the workload's source table, then runs exact triangle count,
PageRank (max |Δrank| <= 1e-6), connected components and label
propagation through the public ``Graph`` facade with ``tier="auto"``, one
after another. Every answer is checked against a computation made apart
from the engine (``checks.py``). After set-up and one warm-up round, whole
rounds run until ``--seconds`` have passed (two at least in memory); the
medians over those rounds are reported. The last line of stdout is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See README.md for what each metric means and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import inputs  # noqa: E402
import probes  # noqa: E402

QUERIES = ("derive", "triangle_count", "pagerank", "components", "label_propagation")
LP_ROUNDS = 3  # Graph.label_propagation's default
SETUP_REPS = 3
CORES = min(4, len(os.sched_getaffinity(0)))

# name -> (kind, size parameters, warm-up size parameters, bcastMaxEdges
# override, the (triangle strategy, iterative tier) auto should pick, the
# fewest measured rounds). The beyond-memory override sits below the
# warm-up input's edge count too: the facade's shuffle-tier CC and LP re-run
# auto dispatch inside the operator. Two rounds at least in memory, where a
# round takes 7-12 s, so that a slow first round never stands alone; beyond
# memory a round takes 14-20 s and one is what a run can afford.
WORKLOADS = {
    "repo_in_memory": ("repo", dict(n_repos=600, max_files=400, exponent=0.8),
                       dict(n_repos=60, max_files=40, exponent=0.8), None, ("bcast", "blocked"), 2),
    "rmat_in_memory": ("rmat", dict(scale=14, edge_factor=8), dict(scale=9, edge_factor=8),
                       None, ("bcast", "blocked"), 1),
    "repo_beyond_memory": ("repo", dict(n_repos=450, max_files=330, exponent=0.8),
                           dict(n_repos=60, max_files=40, exponent=0.8), 1_000,
                           ("part", "shuffle"), 1),
}

QUERY_STATS = ("wall_s", "jobs", "tasks", "spark_s", "driver_s", "shuffle_write_mb", "result_mb",
               "executor_cpu_s", "gc_s")
LAYERS = ("planner.calls", "planner.jobs", "planner.s", "triangles.build_s",
          "triangles.count_s", "blocked.build_s", "blocked.rounds", "blocked.round_s",
          "iterate.rounds", "iterate.round_s", "sources.iceberg_plan_s", "setup.session_s",
          "setup.generate_s", "setup.iceberg_write_s", "shipped_mb", "tmp_left_mb",
          "jvm_peak_rss_mb")


def unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name == "planner.s":
        return "s"
    return "count"


# ------------------------------------------------------------------ inputs


class RepoInput:
    """Files table → Iceberg (pure-Python writer) → files_from_iceberg →
    file_cooccurrence_edges: disjoint per-repo cliques."""

    def __init__(self, n_repos: int, max_files: int, exponent: float):
        self.sizes = inputs.repo_sizes(n_repos, max_files, exponent)

    def generate(self, spark, seed: int, path: Path):
        return inputs.files_table(self.sizes, seed)

    def write(self, spark, data, path: Path) -> str:
        from triangle_counting_spark.sources import iceberg_format

        iceberg_format.create_table(spark, spark.createDataFrame(data), str(path))
        return str(path)

    def truth(self, spark, data) -> checks.Truth:
        from pyspark.sql import functions as F

        # vertex ids by Spark's own xxhash64, the id the derivation uses
        ids = (
            spark.createDataFrame(data[["repo", "path"]])
            .select("repo", F.xxhash64("repo", "path").alias("v"))
            .toPandas()
        )
        return checks.CliqueTruth([g.to_numpy() for _, g in ids.groupby("repo")["v"]])

    def derive(self, spark, table: str):
        from triangle_counting_spark.graph import Graph
        from triangle_counting_spark.sources.edges import file_cooccurrence_edges
        from triangle_counting_spark.sources.iceberg import files_from_iceberg

        edges = file_cooccurrence_edges(files_from_iceberg(spark, table))
        return Graph(edges, assume_canonical=True).persist()


class RmatInput:
    """Seeded R-MAT edge list → parquet → plain scan."""

    def __init__(self, scale: int, edge_factor: int):
        self.scale, self.edge_factor = scale, edge_factor

    def generate(self, spark, seed: int, path: Path):
        import pandas as pd

        src, dst = inputs.rmat_edges(self.scale, self.edge_factor, seed)
        spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst})).write.parquet(str(path))
        return src, dst

    def write(self, spark, data, path: Path) -> str:
        return str(path)  # generate() wrote the parquet: no Iceberg table here

    def truth(self, spark, data) -> checks.Truth:
        return checks.EdgeListTruth(*data, lp_rounds=LP_ROUNDS)

    def derive(self, spark, path: str):
        from triangle_counting_spark.graph import Graph

        return Graph(spark.read.parquet(path), assume_canonical=True).persist()


# -------------------------------------------------------------------- run


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        kind, params, warm, self.bcast_max, self.tiers, self.min_rounds = WORKLOADS[workload]
        make = RepoInput if kind == "repo" else RmatInput
        self.input, self.warm_input = make(**params), make(**warm)
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.spark = None
        self.attempted = self.failed = 0
        self.wrong = False
        self.layers: probes.LayerTrace | None = None

    # ---- set-up

    def setup(self) -> dict:
        from triangle_counting_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("graphbench", master=f"local[{CORES}]")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        # start every Python worker once, as any first query would
        self.spark.range(0, CORES, 1, CORES).mapInPandas(lambda it: it, "id long").collect()
        session_s = time.perf_counter() - t0
        gen, write = [], []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            path = self.work / f"input-{rep}"
            data = self.input.generate(self.spark, self.seed, path)
            gen.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            self.source = self.input.write(self.spark, data, path)
            write.append(time.perf_counter() - t0)
        path = self.work / "warm-up"
        self.warm_source = self.warm_input.write(
            self.spark, self.warm_input.generate(self.spark, self.seed, path), path
        )
        if self.bcast_max is not None:
            self.spark.conf.set("spark.tcs.bcastMaxEdges", str(self.bcast_max))
        self.truth = self.input.truth(self.spark, data)
        self.stats = probes.SparkStats(self.sc)
        return {
            "setup_s": session_s + statistics.median(g + w for g, w in zip(gen, write)),
            "setup.session_s": session_s,
            "setup.generate_s": statistics.median(gen),
            "setup.iceberg_write_s": statistics.median(write),
        }

    # ---- one round

    def _query(self, q: str, g, source: str, tiers=("auto", "auto")):
        tri, it = tiers
        if q == "derive":
            g = self.input.derive(self.spark, source)
            g.edges.count()
            return g
        if q == "triangle_count":
            return g.triangle_count(tri)
        if q == "pagerank":
            return g.pagerank(tol=1e-6, tier=it).state.toPandas()
        if q == "components":
            return g.connected_components(tier=it).state.toPandas()
        return g.label_propagation(tier=it).toPandas()

    def _check(self, q: str, out) -> str | None:
        t = self.truth
        if q == "derive":
            e = out.edges.toPandas()
            return t.check_edges(e["src"].to_numpy(), e["dst"].to_numpy())
        if q == "triangle_count":
            return t.check_triangles(out)
        if q == "pagerank":
            return t.check_pagerank(out["v"].to_numpy(), out["rank"].to_numpy())
        if q == "components":
            return t.check_components(out["v"].to_numpy(), out["component"].to_numpy())
        return t.check_label_propagation(out["v"].to_numpy(), out["label"].to_numpy())

    def warm_up(self) -> None:
        """One round on a small input with the workload's tiers pinned: the
        JVM loads, compiles and code-generates the same plans before any
        round is measured. Nothing here is checked or counted; a failure is
        reported and left for the measured rounds to count."""
        g = None
        for q in QUERIES:
            try:
                out = self._query(q, g, self.warm_source, self.tiers)
            except Exception:  # noqa: BLE001
                out = None
                traceback.print_exc(file=sys.stderr)
            g = out if q == "derive" else g
        if g is not None:
            g.unpersist()

    def round(self, tag: str, keep: bool = False) -> dict:
        times, cpu, g = {}, 0.0, None
        for q in QUERIES:
            self.sc.setJobGroup(f"{tag}-{q}", q)
            self.attempted += 1
            c0 = probes.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                out = self._query(q, g, self.source)
            except Exception:  # noqa: BLE001 — a failed operation is counted, the run goes on
                out = None
                traceback.print_exc(file=sys.stderr)
            times[q] = time.perf_counter() - t0
            cpu += probes.tree_cpu_s() - c0
            self.sc.setJobGroup(f"{tag}-check", "check")
            if out is None:
                self.failed += 1
                continue
            err = self._check(q, out)
            if err:
                print(f"WRONG {tag} {err}", file=sys.stderr)
                self.failed += 1
                self.wrong = True
            if q == "derive":
                g = out
        print(f"round {tag}: " + " ".join(f"{q}={t:.2f}" for q, t in times.items()),
              file=sys.stderr)
        stats = {q: self.stats.group(f"{tag}-{q}") for q in QUERIES}
        layers = self.layers.take() if self.layers else {}
        if g is not None and not keep:
            g.unpersist()
        return {"time": times, "cpu": cpu, "stats": stats, "layers": layers, "graph": g}

    def record_tiers(self, g) -> str:
        """The plans auto dispatch takes on this input, asked outside any
        timed region."""
        from triangle_counting_spark.plans.planner import (
            choose_iterative_tier,
            choose_triangle_strategy,
        )

        tri = choose_triangle_strategy(g.edges, assume_canonical=True).strategy
        it = choose_iterative_tier(g.edges, assume_canonical=True)
        want = self.tiers
        line = f"tiers: triangle_count={tri} iterative={it}"
        return line if (tri, it) == want else f"{line} TIER CHANGED (expected {want[0]}/{want[1]})"

    def run(self) -> tuple[dict, list[str]]:
        setup = self.setup()
        t0 = time.perf_counter()
        self.warm_up()
        notes = [f"warm-up on a small input: {time.perf_counter() - t0:.1f} s"]
        if self.trace:
            self.layers = probes.LayerTrace(self.sc)
            self.layers.install()
        rounds = []
        t0 = time.perf_counter()
        while len(rounds) < self.min_rounds or time.perf_counter() - t0 < self.seconds:
            rounds.append(self.round(f"r{len(rounds)}", keep=not rounds))
            g = rounds[-1].pop("graph")
            if len(rounds) == 1 and g is not None:
                self.sc.setJobGroup("tiers", "tiers")
                notes.append(self.record_tiers(g))
                g.unpersist()
                if self.layers:
                    self.layers.take()  # drop the spans of the tier record
        med = statistics.median
        notes.append(f"rounds measured: {len(rounds)}; per-query wall s (median): " + " ".join(
            f"{q}={med(r['time'][q] for r in rounds):.3f}" for q in QUERIES
        ))
        total_s = med(sum(r["time"].values()) for r in rounds)
        if not self.trace:
            return {
                "setup_s": setup["setup_s"],
                "total_s": total_s,
                "cpu_s": med(r["cpu"] for r in rounds),
                "driver_peak_rss_mb": probes.peak_rss_mb(),
                "shuffle_write_mb": med(
                    sum(s["shuffle_write_mb"] for s in r["stats"].values()) for r in rounds
                ),
            }, notes
        metrics = {}
        for q in QUERIES:
            for k in QUERY_STATS:
                if k == "wall_s":
                    v = med(r["time"][q] for r in rounds)
                elif k == "driver_s":
                    v = med(max(0.0, r["time"][q] - r["stats"][q]["spark_s"]) for r in rounds)
                else:
                    v = med(r["stats"][q][k] for r in rounds)
                metrics[f"{q}.{k}"] = v
        for k in LAYERS:
            if k.startswith("setup."):
                metrics[k] = setup[k]
            elif k.endswith(".round_s"):
                base = k.split(".")[0]
                metrics[k] = med(
                    r["layers"].get(f"{base}.loop_s", 0.0)
                    / max(r["layers"].get(f"{base}.rounds", 0), 1)
                    for r in rounds
                )
            elif k not in ("tmp_left_mb", "jvm_peak_rss_mb"):
                metrics[k] = med(r["layers"].get(k, 0) for r in rounds)
        metrics["jvm_peak_rss_mb"] = probes.peak_rss_mb(self.sc._gateway.proc.pid)
        metrics["tmp_left_mb"] = engine_temp_mb(Path(tempfile.gettempdir()))
        notes.append(f"plans the traced auto calls took: {sorted(set(map(str, self.layers.plans)))}")
        notes.append(f"traced total_s: {total_s}")
        return metrics, notes

    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        if self.layers:
            self.layers.uninstall()
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # set once the JVM is launched
        procs = probes.descendants()[1:]
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — fall through to the kill below
                pass
        deadline = time.monotonic() + 30
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if _alive(p)]
            time.sleep(0.05)
        for p in procs:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:  # ended since the last look
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def engine_temp_mb(tmp: Path) -> float:
    """Bytes the engine's array shipping left in ``tcs_blocked_*`` dirs."""
    total = 0
    for d in tmp.glob("tcs_blocked_*"):
        total += sum(f.stat().st_size for f in d.rglob("*") if f.is_file())
    return total / 2**20


def isolate(work: Path) -> None:
    """Point every temp and Spark scratch dir of this run into ``work``."""
    tmp, local = work / "tmp", work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    sys.path.insert(0, str(ROOT))
    import triangle_counting_spark  # noqa: F401 — without the engine, stop here

    work = ROOT / ".graphbench_run" / f"{os.getpid()}"
    isolate(work)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        metrics, notes = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()
            except OSError:  # another run still uses it
                pass
    for line in notes:
        print(line)
    width = max(map(len, metrics))
    for name, value in metrics.items():
        print(f"{name:<{width}}  {value:>14.4f} {unit(name)}")
    print(json.dumps({
        "correct": not bench.wrong,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
