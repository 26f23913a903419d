"""Speech-pipeline benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload clips --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from the
seed, starts a Spark session in ``local[nproc]`` and, as one
closed-loop caller, repeats a pass over the workload until
``--seconds`` have passed (at least one pass):

- ``clips``: the five-stage pipeline (``plans.pipeline.run_pipeline``)
  over a WAV corpus into an empty workdir;
- ``segment_queries``: twelve interval queries of
  ``queries/intervals_q.py`` one after another, in a seeded order.

Every stage table and query result is checked. The last stdout line is
the JSON result; the line before it records the environment.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns
Spark's event log on, makes one pass under the span wrappers of
``perfbench/trace.py``, then the same pass untraced (on ``clips``
followed by an untraced rerun with nothing new), and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "speech_data_pipeline_spark"
#: Driver JVM heap: fits a 4-core / 15 GB box next to the Python workers.
DRIVER_MEMORY = "2g"
#: The interval queries of ``queries/intervals_q.py`` the
#: ``segment_queries`` workload runs: one per operator family (the
#: registry's other ten are variants of these or plain aggregates).
QUERY_NAMES = (
    "j4_lead_gaps",
    "w1_sessionize_gap",
    "w1_sessionize_capped",
    "w2_speaker_aware_merge",
    "w3_sweepline_counts",
    "w3_sweepline_sets",
    "w4_sliding_windows",
    "a12_budgeted_topk",
    "j1_containment_join",
    "j3_max_overlap_join",
    "j_asof_last_view",
    "w9_barrier_sessionize",
)


def pin_environment(work: str) -> dict[str, str]:
    """Environment every run uses; Python workers need the repo root
    on ``PYTHONPATH`` or every ``mapInPandas`` fails to import. Temp
    files of Python and the JVM stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    pinned = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    for d in (pinned["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(pinned)
    return pinned


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with each shared page
    split among the processes mapping it, so forked Python workers do
    not count their shared pages once each."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process, its
    live descendants and the children they have reaped."""
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class Clock:
    """Wall and CPU seconds summed over the timed regions of a pass."""

    def __init__(self) -> None:
        self.wall = self.cpu = 0.0

    @contextlib.contextmanager
    def timing(self):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            self.cpu += tree_cpu_s() - c0


class MemorySampler:
    """Peak summed PSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_bytes(p) for p in [me, *_descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(0.2)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def decoded(df, id_col: str, files_acc, secs_acc):
    """Decode glue: ``(id, content)`` WAV rows -> ``(id, samples, sr)``
    with the public pure-NumPy decoder, counting files and worker busy
    seconds in accumulators."""
    import pandas as pd

    from speech_data_pipeline_spark.operators.multimodal import decode_wav_bytes

    def kernel(batches):
        for pdf in batches:
            t0 = time.perf_counter()
            dec = [decode_wav_bytes(b) for b in pdf["content"]]
            files_acc.add(len(dec))
            secs_acc.add(time.perf_counter() - t0)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "samples": [d[0] for d in dec], "sr": [d[1] for d in dec]}
            )

    return df.select(id_col, "content").mapInPandas(
        kernel, f"{id_col} string, samples array<double>, sr int"
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it and every
    process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


class Bench:
    """One run: inputs, session, timed passes, checks. Subclasses say
    what a pass is."""

    workload = ""

    def __init__(self, seed: int, seconds: float, trace: bool):
        from perfbench.trace import Tracer

        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_run", f"{self.workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        self.env = pin_environment(self.work)
        self.event_dir = os.path.join(self.work, "events")
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        # filled on clips only; every workload reports them
        self.files: set[str] = set()
        self.decoded_files = {"cold": 0, "noop": 0}
        self.decode_s = self.noop_s = 0.0
        self.prepare()

    # -- hooks --------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs (before anything is timed)."""

    def one_pass(self, i: int, phase: str = "cold") -> Clock:
        """Run pass ``i`` and check its outputs; returns its time.
        ``phase`` tags its spans and job groups."""
        raise NotImplementedError

    def untraced(self) -> Clock:
        """The traced run's untraced passes; returns the time of the one
        that repeats the traced pass."""
        return self.one_pass(1, "untraced")

    # -- shared -------------------------------------------------------------
    def start(self) -> None:
        """``session.get_spark`` plus the session's first Python-worker
        round trip, one task per core."""
        from speech_data_pipeline_spark.session import get_spark

        conf = None
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            }
        c0, t0 = tree_cpu_s(), time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        cpus = int(self.env["SPARK_GRAFT_CPUS"])
        self.spark.range(0, 64, numPartitions=cpus).mapInPandas(
            lambda batches: batches, "id long"
        ).count()
        t2 = time.perf_counter()
        self.start_s, self.warm_s = t1 - t0, t2 - t1
        self.setup_cpu_s = tree_cpu_s() - c0
        self.env["spark_version"] = self.spark.version

    def record(self, what: str, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            self.failed += 1
            self.problems += [f"{what}: {b}" for b in bad[:5]]

    def measure(self) -> list[Clock]:
        """Passes until ``seconds`` have passed, at least one."""
        passes: list[Clock] = []
        begin = time.perf_counter()
        while not passes or time.perf_counter() - begin < self.seconds:
            passes.append(self.one_pass(len(passes)))
        return passes

    def traced_run(self) -> tuple[Clock, Clock]:
        """The traced pass, first in the fresh session as a measured pass
        is, then the untraced passes; returns both passes' times."""
        from perfbench.trace import install

        restore = install(self.tracer)
        try:
            traced = self.one_pass(0)
        finally:
            restore()
        return traced, self.untraced()

    def end_to_end(self, passes: list[Clock], mem_peak: int) -> dict:
        return {
            "setup_s": {"value": self.start_s + self.warm_s, "unit": "s"},
            "setup_cpu_s": {"value": self.setup_cpu_s, "unit": "s"},
            "pass_cpu_s": {"value": statistics.median(c.cpu for c in passes), "unit": "s"},
            "peak_pss_mb": {"value": mem_peak / 1e6, "unit": "MB"},
        }

    def per_layer(self, traced: Clock, untraced: Clock) -> dict:
        from perfbench import stats
        from perfbench.trace import OPERATORS, STUBS, event_log_counters
        from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER

        tracer = self.tracer
        cold_groups = {
            g[len("cold:"):]: c
            for g, c in event_log_counters(self.event_dir).items()
            if g.startswith("cold:")
        }
        cold = self.decoded_files["cold"]
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (self.start_s, "s"),
            "session.warm_s": (self.warm_s, "s"),
            "sources.scan_s": (tracer.total("sources.scan", "cold"), "s"),
            "sources.decode_s": (self.decode_s, "s"),
            "sources.files_decoded.cold": (cold, "count"),
            "sources.files_decoded.noop": (self.decoded_files["noop"], "count"),
            "incremental.pending_s": (tracer.total("incremental.pending", "cold"), "s"),
            "incremental.append_s": (
                sum(tracer.total(f"call.{s}", "cold") for s in STAGE_ORDER), "s"),
            "incremental.useful_ratio": (len(self.files) / cold if cold else 0.0, "ratio"),
        }
        for stage in STAGE_ORDER:
            c = cold_groups.get(stage, {})
            m[f"stages.{stage}_s"] = (tracer.total(f"call.{stage}", "cold", "seconds"), "s")
            m[f"stages.{stage}.self_s"] = (tracer.total(f"stages.{stage}", "cold"), "s")
            m[f"stages.{stage}.rows"] = (
                tracer.total(f"stages.{stage}", "cold", "rows_out"), "count")
            m[f"stages.{stage}.tasks"] = (c.get("tasks", 0), "count")
            m[f"stages.{stage}.shuffle_write_mb"] = (c.get("shuffle_write_mb", 0.0), "MB")
            m[f"stages.{stage}.spill_mb"] = (c.get("spill_mb", 0.0), "MB")
            m[f"stages.{stage}.gc_s"] = (c.get("gc_s", 0.0), "s")
        for name in STUBS:
            m[f"stubs.{name}_s"] = (tracer.total(f"stubs.{name}", "cold"), "s")
            m[f"stubs.{name}.rows_in"] = (tracer.total(f"stubs.{name}", "cold", "rows_in"), "count")
            m[f"stubs.{name}.rows_out"] = (
                tracer.total(f"stubs.{name}", "cold", "rows_out"), "count")
        for name in OPERATORS:
            m[f"operators.{name}_s"] = (tracer.total(f"operators.{name}", "cold"), "s")
        for name in QUERY_NAMES:
            m[f"queries.{name}_s"] = (tracer.total(f"queries.{name}", "cold", "seconds"), "s")
            m[f"queries.{name}.tasks"] = (cold_groups.get(name, {}).get("tasks", 0), "count")
        task_s = [t for g in cold_groups.values() for t in g["task_s"]]
        tasks = stats.summarize(task_s) if task_s else {"p50": 0.0, "tail": 0.0, "tail_pct": 0}
        m.update({
            "spark.tasks": (len(task_s), "count"),
            "spark.gc_s": (sum(g["gc_s"] for g in cold_groups.values()), "s"),
            "spark.spill_mb": (sum(g["spill_mb"] for g in cold_groups.values()), "MB"),
            "spark.task_p50_s": (tasks["p50"], "s"),
            "spark.task_tail_s": (tasks["tail"], "s"),
            "spark.task_tail_pct": (tasks["tail_pct"], "percentile"),
            "trace.pass_s": (traced.wall, "s"),
            "trace.pass_cpu_s": (traced.cpu, "s"),
            "trace.overhead_s": (traced.wall - untraced.wall, "s"),
            "trace.overhead_cpu_s": (traced.cpu - untraced.cpu, "s"),
            "trace.noop_s": (self.noop_s, "s"),
            "trace.materialize_s": (tracer.total("trace.materialize", "cold"), "s"),
        })
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def run(self) -> dict:
        try:
            with MemorySampler() as mem:
                self.start()
                try:
                    if self.trace:
                        traced, untraced = self.traced_run()
                    else:
                        passes = self.measure()
                finally:
                    stop_spark(self.spark)
            if self.trace:
                metrics = self.per_layer(traced, untraced)
            else:
                metrics = self.end_to_end(passes, mem.peak)
                print("pass wall seconds:", [round(c.wall, 3) for c in passes], file=sys.stderr)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):  # fails, and stays, while another run uses it
                os.rmdir(os.path.dirname(self.work))
        for p in self.problems:
            print("check failed:", p, file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


class Clips(Bench):
    """A pass runs all five stages over the clip corpus into an empty
    workdir; an operation is one stage table after one pass."""

    workload = "clips"

    def prepare(self) -> None:
        from perfbench import corpus

        self.audio_dir, self.host_dir, self.manifest = corpus.write_clips(
            os.path.join(self.work, "corpus"), self.seed
        )
        self.files = set(self.manifest)
        self.hosts = {n[: -len(".wav")] for n in os.listdir(self.host_dir)}
        self.cold_tables: dict[int, dict] = {}

    def start(self) -> None:
        super().start()
        sc = self.spark.sparkContext
        self.files_acc, self.decode_acc = sc.accumulator(0), sc.accumulator(0.0)

    def one_pass(self, i: int, phase: str = "cold") -> Clock:
        """Pass ``i`` into workdir ``i``; phase ``noop`` reruns it there."""
        from speech_data_pipeline_spark.plans.pipeline import run_pipeline
        from speech_data_pipeline_spark.sources.audio import (
            scan_audio_dir,
            scan_reference_voiceprints,
        )

        workdir = os.path.join(self.work, "stages", str(i))
        sc = self.spark.sparkContext
        self.tracer.phase = phase
        clock = Clock()
        try:
            with clock.timing():
                audio = decoded(
                    scan_audio_dir(self.spark, self.audio_dir), "audio_id",
                    self.files_acc, self.decode_acc,
                )
                # host voiceprints are pipeline input but not corpus
                # files: they count in accumulators of their own
                hosts = decoded(
                    scan_reference_voiceprints(self.spark, self.host_dir),
                    "host_id", sc.accumulator(0), sc.accumulator(0.0),
                )
                run_pipeline(self.spark, audio, workdir, hosts=hosts)
            raised = False
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            raised = True
        self.check(i, workdir, phase, raised)
        return clock

    def check(self, i: int, workdir: str, phase: str, raised: bool) -> None:
        from perfbench import checks
        from speech_data_pipeline_spark.plans.pipeline import STAGE_ORDER

        tables = {s: checks.read_stage(workdir, s) for s in STAGE_ORDER}
        rerun = phase == "noop"
        if not rerun:
            self.cold_tables[i] = tables
        for stage, rows in tables.items():
            bad = ["pass raised"] if raised else []
            bad += checks.stage_problems(stage, rows, self.manifest, self.hosts)
            if rerun and checks.multiset(rows) != checks.multiset(self.cold_tables[i][stage]):
                bad.append("rerun with nothing new changed the table")
            self.record(f"{phase} pass {i}/{stage}", bad)

    def untraced(self) -> Clock:
        """An untraced cold pass and a rerun with nothing new, counting
        the files the decode glue decodes in each."""
        n0, s0 = self.files_acc.value, self.decode_acc.value
        cold = self.one_pass(1, "untraced")
        n1 = self.files_acc.value
        self.decode_s = self.decode_acc.value - s0
        self.noop_s = self.one_pass(1, "noop").wall
        self.decoded_files = {"cold": n1 - n0, "noop": self.files_acc.value - n1}
        return cold


class SegmentQueries(Bench):
    """A pass runs the ``QUERY_NAMES`` interval queries over a generated
    ``events`` table, in an order shuffled by (seed, pass); an operation
    is one query, checked against the registry's DuckDB oracle SQL."""

    workload = "segment_queries"

    def prepare(self) -> None:
        import duckdb

        from perfbench import checks, corpus
        from speech_data_pipeline_spark.queries import ORACLES

        self.sf_dir = corpus.write_events(os.path.join(self.work, "tables"), self.seed)
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(self.sf_dir, 'events.parquet')}'"
        )
        self.oracle = {}
        for name in QUERY_NAMES:
            cur = con.execute(ORACLES[name])
            self.oracle[name] = checks.digest([d[0] for d in cur.description], cur.fetchall())
        con.close()

    def one_pass(self, i: int, phase: str = "cold") -> Clock:
        from perfbench import checks
        from speech_data_pipeline_spark.queries import QUERIES

        order = list(QUERY_NAMES)
        random.Random(f"{self.seed}:{i}").shuffle(order)
        sc = self.spark.sparkContext
        self.tracer.phase = phase
        clock = Clock()
        for name in order:
            sc.setJobGroup(f"{phase}:{name}", name)
            try:
                with clock.timing(), self.tracer.span(f"queries.{name}"):
                    df = QUERIES[name](self.spark, self.sf_dir)
                    rows = df.collect()
                bad = checks.query_problems(checks.digest(df.columns, rows), self.oracle[name])
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                traceback.print_exc()
                bad = ["query raised"]
            # operators persist bounded relations inside their plans
            self.spark.catalog.clearCache()
            self.record(f"pass {i}/{name}", bad)
        return clock


BENCHES = {b.workload: b for b in (Clips, SegmentQueries)}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(BENCHES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    bench = BENCHES[args.workload](args.seed, args.seconds, bool(args.trace))
    result = bench.run()
    env = dict(bench.env, workload=args.workload, seed=str(args.seed),
               python=platform.python_version())
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
