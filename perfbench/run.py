"""End-to-end benchmark of the OpSpec engine with a store-backed runner.

Usage (from the repository root)::

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Each run is one process driving ``local[<cores>]`` Spark through the
engine's public entry points, as one closed-loop caller that waits for every
materialization. A run

1. pins its environment (``pin_env``) and starts the session ``N_SETUPS``
   times, each followed by a small store-backed materialization
   (``SETUP_OPS`` chained ops);
2. warms up by materializing the workload's base graph, and the targets
   of the edited graph that the edit changes, with a lazy runner
   (``store_path=None``); those outputs are the references;
3. materializes the graph once on an empty store (cold), then repeats
   rounds until ``--seconds`` have passed since the cold one started: a
   round is ``N_WARM`` materializations from fresh runners on the filled
   store (warm) and one with a seeded knob changed (incr), on a fresh copy
   of the filled store. Interleaving spreads each phase's samples over
   the whole run, so that a slow spell of the host moves them all alike.
   Each output is compared with its lazy reference, and each phase must
   add exactly the store entries that ``GraphDiff`` predicts: every
   non-ephemeral op for cold, none for warm, the ops downstream of the
   change for incr.

End-to-end metrics (``--trace 0``), each a median over the run:

* ``setup_s``: median of the ``N_SETUPS`` session start-ups (the first one
  includes interpreter imports and the JVM launch) plus the warm-up;
* ``cold_s``, ``warm_s``, ``incr_s``: wall time of one materialization of
  all targets in that phase, graph construction included;
* ``store_mb``: store size on disk after the cold phase;
* ``rss_peak_mb``: peak resident set size of the driver JVM plus this
  Python process.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``. With ``--trace 0`` the metrics are the end-to-end ones, as
medians over the run. With ``--trace 1`` the run starts the session once,
does an untraced warm-up, a traced and another untraced cold plus one
round (one warm, one incr) and reports per-layer metrics of the traced
one, named ``<layer>.<metric>.<phase>``, its phase times
``trace.<phase>_s`` and the tracing overhead (the traced iteration minus
the untraced one after it; one sample each, so it carries the host's
run-to-run noise). Spans, the event log and the result
are written under ``perfbench/.work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
N_SETUPS = 3
SETUP_OPS = 3
N_WARM = 3
DRIVER_MEMORY = "2g"
PHASES = ("cold", "warm", "incr")
# Times that cannot be anything but 0: a warm materialization writes no
# status record and no parquet.
ZERO_BY_DESIGN = {("warm", "plans.to_graph_ms"), ("warm", "store.parquet_write_ms")}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_env(work: Path, trace: bool) -> dict[str, str]:
    """Environment of the run, set before the JVM starts. Returns it."""
    for var in ("SPARK_MASTER", "MASTER", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    confs = {"spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    submit = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "TMPDIR": str(work / "tmp"),
        # Every JVM (the launcher's too) keeps its temp files in the run's
        # directory; UsePerfData off stops /tmp/hsperfdata_<user> files.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        "KRNEL_SPARK_CONFIG_FILE": str(work / "config.json"),
        "SPARK_GRAFT_LOG_LEVEL": "WARNING",
    }
    os.environ.update(pinned)
    return pinned


def dir_bytes(path: Path) -> int:
    return sum(
        (Path(d) / f).stat().st_size
        for d, _, files in os.walk(path) for f in files
    )


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM)."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def graph_nodes(targets: dict) -> dict:
    return {n.uuid: n for op in targets.values() for n in op.iter_graph()}


def stored_ops(nodes: dict) -> set[str]:
    """The uuids a store-backed runner persists: non-ephemeral, non-source."""
    from krnel_graph_spark.operators.dataset_ops import LoadDatasetOp

    return {
        u for u, n in nodes.items()
        if not n.is_ephemeral and not isinstance(n, LoadDatasetOp)
    }


def expected_new_entries(old: dict | None, new: dict) -> set[str]:
    """Store entries a materialization of ``new`` adds to a store that holds
    ``old`` (None: an empty store): per target, the ops ``GraphDiff`` finds
    only in the new graph, restricted to persisted ops."""
    from krnel_graph_spark import GraphDiff

    if old is None:
        return stored_ops(graph_nodes(new))
    only_new = {
        n.uuid: n
        for name, op in new.items()
        for n in GraphDiff(old[name], op).only_b
    }
    return stored_ops(only_new)


def store_entries(store: Path) -> set[str]:
    from krnel_graph_spark.runners.store import ResultStore

    rs = ResultStore(str(store))
    return {u for u in rs.list_uuids() if rs.is_done(u)}


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, work: Path):
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS

        self.wl = WORKLOADS[workload](seed)
        self.work = work
        self.tracer = Tracer() if trace else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.phase_bytes: dict[str, int] = {}
        # Set by run(): lazy reference digests and the store entries each
        # materialization must add, for the base graph and the edited one.
        self.ref: dict[str, str] = {}
        self.cold_new: set[str] = set()
        self.edit_ref: dict[str, str] = {}
        self.edit_new: set[str] = set()

    # -- session --------------------------------------------------------- #

    def start_session(self) -> None:
        from krnel_graph_spark import SparkRunner
        from krnel_graph_spark.runners.spark_runner import get_spark
        from perfbench.workloads import source

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setJobGroup("setup", "setup")
        store = self.work / "setup-store"
        shutil.rmtree(store, ignore_errors=True)
        runner = SparkRunner(self.spark, str(store))
        ds = source(runner, "customer")
        for k in range(SETUP_OPS):
            ds = ds.hash_sample(0.9, seed=k)
        runner.to_pandas(ds)

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- materialization ------------------------------------------------- #

    def build(self, runner, params) -> dict:
        if self.tracer and self.tracer.active:
            return self.tracer.call("plans.build", self.wl.build, runner, params)
        return self.wl.build(runner, params)

    def materialize(self, runner, params) -> dict:
        return self.materialize_targets(runner, self.build(runner, params))

    def materialize_targets(self, runner, targets: dict) -> dict:
        from krnel_graph_spark.types import ColumnType, DatasetType

        out = {}
        for name, op in targets.items():
            if isinstance(op, (DatasetType, ColumnType)):
                out[name] = runner.to_pandas(op)
            else:
                out[name] = runner.to_json(op)
        return out

    def references(self, params_list: list) -> list[dict]:
        """Digests of a lazy (store-less) materialization of each graph."""
        from perfbench.digest import digest
        from krnel_graph_spark import SparkRunner

        lazy = SparkRunner(self.spark, None)
        by_uuid: dict[str, str] = {}
        refs = []
        for params in params_list:
            # A target whose OpSpec (uuid) already has a reference has the
            # same lazy output; only the targets the edit changes are run.
            targets = self.build(lazy, params)
            todo = {k: op for k, op in targets.items() if op.uuid not in by_uuid}
            for name, out in self.materialize_targets(lazy, todo).items():
                by_uuid[todo[name].uuid] = digest(out)
            refs.append({k: by_uuid[op.uuid] for k, op in targets.items()})
        return refs

    def phase(self, group: str, store: Path, params, ref: dict,
              expect_new: set[str]) -> float:
        """Time one materialization from a fresh runner; check it."""
        from perfbench.digest import digest
        from krnel_graph_spark import SparkRunner

        self.spark.sparkContext.setJobGroup(group, group)
        before = store_entries(store)
        bytes_before = dir_bytes(store)
        tracer = self.tracer
        if tracer:
            tracer.iteration, tracer.phase = group.split(".")
            tracer.active = tracer.installed
        t0 = time.perf_counter()
        try:
            runner = SparkRunner(self.spark, str(store))
            if tracer and tracer.active:
                out = tracer.call("action", self.materialize, runner, params)
            else:
                out = self.materialize(runner, params)
            error = None
        except Exception:
            out, error = None, traceback.format_exc()
        seconds = time.perf_counter() - t0
        if tracer:
            tracer.active = False
        self.phase_bytes[group] = dir_bytes(store) - bytes_before
        self.attempted += 1
        problems = []
        if error:
            problems.append(error)
        else:
            got = {k: digest(v) for k, v in out.items()}
            problems += [
                f"{k}: output differs from the lazy materialization"
                for k in ref if got.get(k) != ref[k]
            ]
        added = store_entries(store) - before
        if added != expect_new:
            problems.append(
                f"store gained {len(added)} entries, expected {len(expect_new)}"
                f" (unexpected {sorted(added - expect_new)[:3]},"
                f" missing {sorted(expect_new - added)[:3]})"
            )
        if problems:
            self.failed += 1
            log(f"FAILED {group}: " + "; ".join(problems))
        return seconds

    def iteration(self, it: str, seconds: float, n_warm: int) -> dict:
        """One cold materialization on an empty store, then rounds of
        ``n_warm`` warm ones and one incr, until ``seconds`` have passed
        since the cold one started (at least one round). Interleaving the
        phases spreads each one's samples over the whole run."""
        store = self.work / f"store-{it}"
        shutil.rmtree(store, ignore_errors=True)
        store.mkdir(parents=True)
        base = self.wl.base
        t0 = time.perf_counter()
        times = {
            "cold": [self.phase(f"{it}.cold", store, base, self.ref, self.cold_new)],
            "store_mb": [dir_bytes(store) / 1e6],
            "warm": [],
            "incr": [],
        }
        rounds = 0
        while rounds == 0 or time.perf_counter() - t0 < seconds:
            for _ in range(n_warm):
                times["warm"].append(self.phase(
                    f"{it}.warm{len(times['warm'])}", store, base, self.ref, set()
                ))
            # Each incr starts from its own copy of the filled store, so every
            # repeat recomputes the same ops and writes to paths not read before.
            copy = self.work / f"store-{it}-incr{rounds}"
            shutil.copytree(store, copy)
            times["incr"].append(self.phase(
                f"{it}.incr{rounds}", copy, self.wl.edit, self.edit_ref,
                self.edit_new,
            ))
            shutil.rmtree(copy, ignore_errors=True)
            rounds += 1
        shutil.rmtree(store, ignore_errors=True)
        log(f"iteration {it}: " + ", ".join(
            f"{k}={[round(v, 3) for v in vs]}" for k, vs in times.items()
        ))
        return times

    # -- run -------------------------------------------------------------- #

    def run(self, seconds: float) -> dict:
        from krnel_graph_spark import SparkRunner

        session = []
        # A traced run reports no setup_s, so it starts the session once.
        for k in range(1 if self.tracer else N_SETUPS):
            t0 = T_START if k == 0 else time.perf_counter()
            self.start_session()
            session.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.spark.sparkContext.setJobGroup("warmup", "warmup")
        self.ref, self.edit_ref = self.references([self.wl.base, self.wl.edit])
        warmup = time.perf_counter() - t0
        setup_s = statistics.median(session) + warmup
        log(f"setup: sessions {[round(s, 3) for s in session]}, "
            f"warm-up {warmup:.3f}s")
        lazy = SparkRunner(self.spark, None)
        base = self.wl.build(lazy, self.wl.base)
        edit = self.wl.build(lazy, self.wl.edit)
        self.cold_new = expected_new_entries(None, base)
        self.edit_new = expected_new_entries(base, edit)
        if self.tracer:
            return self.run_traced()

        times = self.iteration("m", seconds, N_WARM)
        pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
        med = {
            k: statistics.median(times[k])
            for k in ("cold", "warm", "incr", "store_mb")
        }
        return {
            "setup_s": (setup_s, "s"),
            "cold_s": (med["cold"], "s"),
            "warm_s": (med["warm"], "s"),
            "incr_s": (med["incr"], "s"),
            "store_mb": (med["store_mb"], "MB"),
            "rss_peak_mb": (peak_rss_mb(pids), "MB"),
        }

    def run_traced(self) -> dict:
        from perfbench.sparkstats import event_log_metrics, tracker_counts
        from perfbench.tracing import layer_metrics

        tracer = self.tracer
        tracer.store_roots = [str(self.work)]
        # The first store-backed iteration is still warming up the JVM, so
        # it only brings the traced and the untraced one to the same state;
        # the overhead is the traced iteration minus the untraced one after it.
        self.iteration("u", 0, 1)
        tracer.install()
        try:
            traced = self.iteration("t", 0, 1)
        finally:
            tracer.uninstall()
        after = self.iteration("v", 0, 1)
        wall = {p: traced[p][0] for p in PHASES}
        overhead = sum(wall[p] - after[p][0] for p in PHASES)

        sc = self.spark.sparkContext
        groups = {"cold": "t.cold", "warm": "t.warm0", "incr": "t.incr0"}
        metrics = {}
        for phase, group in groups.items():
            spans = [s for s in tracer.spans
                     if f"{s.iteration}.{s.phase}" == group]
            layer = layer_metrics(spans)
            layer["store.bytes_written"] = self.phase_bytes[group]
            layer.update(tracker_counts(sc, group))
            metrics[phase] = layer
        app_id = sc.applicationId
        self.spark.stop()
        self.spark = None
        events = event_log_metrics(
            str(self.work / "eventlog" / app_id), set(groups.values())
        )
        for phase, group in groups.items():
            metrics[phase].update(events[group])
        tracer.write(self.work / "spans.json")
        out = {
            f"{name}.{phase}": (value, unit_of(name))
            for phase, layer in metrics.items()
            for name, value in layer.items()
            if (phase, name) not in ZERO_BY_DESIGN
        }
        for p in PHASES:
            out[f"trace.{p}_s"] = (wall[p], "s")
        out["trace.overhead_s"] = (overhead, "s")
        return out


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name == "store.bytes_written":
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "krnel_graph_spark" / "__init__.py").is_file():
        log(f"no krnel_graph_spark package under {ROOT}; "
            "run from a checkout of the repository")
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = ROOT / "perfbench" / ".work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    pinned = pin_env(work, bool(args.trace))
    log("environment: " + " ".join(
        f"{k}={v}" for k, v in pinned.items() if k != "PYSPARK_SUBMIT_ARGS"
    ))
    bench = Bench(args.workload, args.seed, bool(args.trace), work)
    try:
        metrics = bench.run(args.seconds)
    finally:
        bench.shutdown()
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
        },
    }
    with open(work / "result.json", "w") as f:
        json.dump(result, f, indent=1)
    for sub in ("spark-local", "tmp", "warehouse", "setup-store"):
        shutil.rmtree(work / sub, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
