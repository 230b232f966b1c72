"""One benchmark run: set-up, timed or traced rounds, and the metrics.

`run.py` is the command line; see README.md in this folder.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

from oa_spider_spark import datagen
from oa_spider_spark.frontier.round import run_round
from oa_spider_spark.hostcap import capacity_probe, membw_probe
from oa_spider_spark.tables import Catalog

from .checks import check_round
from .inputs import N_HOSTS, WORKLOADS, id_offset, prepare_catalog, stage_inputs
from .procstat import StealClock, TreeRssSampler
from .spark_env import start_session, stop_session
from .stats import median, metric
from .tracing import (
    Tracer,
    dir_stats,
    driver_probes,
    index_and_compaction,
    layer_task_stats,
    self_seconds,
    traced_round,
)

# The JVM spends its first rounds compiling. On a 4-vCPU VM, two thirds
# of a fresh_round's CPU time is the JVM's, and the JVM's CPU time per
# round fell by 40% from the second round of a session to the fifth; the
# round's time fell by 25%. Timing starts at the third round, where the
# fall has slowed.
WARMUP_ROUNDS = 2
MIN_OPS = 2  # timed rounds per run, at least
MIN_TRACED = 2  # traced rounds per traced run, at least
PARTITIONS_PER_CORE = 2  # fetch-stage partitions, as bench.py
TRANSPORT_PROBE_URLS = 300


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    """State of one benchmark run: the session, the inputs and the ops."""

    def __init__(self, args, work: Path):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.partitions = PARTITIONS_PER_CORE * self.cores
        self.setup: dict[str, float] = {}  # steal-free seconds
        self.setup_wall: dict[str, float] = {}
        self.prepare_s: list[float] = []
        self.ops: list[dict] = []  # one per attempted round
        self._n = 0

    # -- set-up -----------------------------------------------------------

    def _setup_step(self, name: str, clock: StealClock, minus: tuple[float, float] = (0.0, 0.0)) -> None:
        wall, free = clock.read()
        self.setup_wall[name], self.setup[name] = wall - minus[0], free - minus[1]

    def start(self, event_dir: Path | None) -> None:
        clock = StealClock()
        self.spark = start_session(self.work, self.cores, event_dir)
        self.spark.range(self.cores).count()
        self._setup_step("jvm_s", clock)

    def stage_inputs(self) -> None:
        clock = StealClock()
        self.inputs = stage_inputs(self.spark, Catalog(self.work / "base"), self.w, self.args.seed, self.partitions)
        self._setup_step("input_s", clock)

    def new_catalog(self):
        clock = StealClock()
        self._n += 1
        root = self.work / f"op{self._n:03d}"
        cat = prepare_catalog(str(root), self.inputs)
        self.prepare_s.append(clock.read()[1])
        return cat

    # -- untraced rounds ----------------------------------------------------

    def untraced_op(self, full_check: bool) -> dict:
        """One timed `run_round` on a fresh catalog, then its checks."""
        cat = self.new_catalog()
        op: dict = {"errors": []}
        try:
            self.spark.sparkContext.setJobDescription("round")
            clock = StealClock()
            res = run_round(self.spark, cat, 0, n_hosts=N_HOSTS, default_budget=self.w.budget,
                            partitions=self.partitions)
            op["wall_s"], op["round_s"] = clock.read()
            self.spark.sparkContext.setJobDescription("check")
            op["result"] = res
            op["seen_delta"] = cat.cumulative_count("seen") - self.inputs.counts.get("seen", 0)
            clock = StealClock()
            if full_check:
                op["errors"] = check_round(self.spark, cat, res, budget=self.w.budget, n_hosts=N_HOSTS)
            else:  # the inputs are those of the fully checked round
                ref = self.ops[0].get("result")
                if res != ref:
                    op["errors"] = [f"round differs from the checked one: {res} vs {ref}"]
            op["check_s"] = clock.read()
        except Exception as exc:  # a failed round is counted, not fatal
            op["errors"] = [f"{type(exc).__name__}: {exc}"]
        finally:
            self.spark.sparkContext.setJobDescription(None)
            shutil.rmtree(cat.root, ignore_errors=True)
        for e in op["errors"]:
            log(f"round {len(self.ops)} FAILED: {e}")
        self.ops.append(op)
        return op

    def warm_up(self, rounds: int) -> None:
        """`rounds` untimed rounds on the workload's own inputs: JIT,
        codegen and one Python worker per core with its imports. The first
        is the round the correctness checks run on in full."""
        clock = StealClock()
        check = (0.0, 0.0)
        for i in range(rounds):
            op = self.untraced_op(full_check=i == 0)
            op["warmup"] = True
            check = tuple(a + b for a, b in zip(check, op.get("check_s", (0.0, 0.0))))
        self._setup_step("warmup_s", clock, minus=check)

    def measure(self) -> None:
        deadline = time.perf_counter() + self.args.seconds
        timed = len(self.ops)
        while len(self.ops) < timed + MIN_OPS or time.perf_counter() < deadline:
            op = self.untraced_op(full_check=False)
            if "round_s" in op:
                log(f"round {len(self.ops) - 1}: {op['round_s']:.3f} s ({op['wall_s']:.3f} s wall)")

    def end_to_end(self, peak_rss: int) -> dict:
        good = [o for o in self.ops if not o["errors"] and not o.get("warmup")]
        if not good:
            return {}
        round_s = median([o["round_s"] for o in good])
        res = good[0]["result"]
        setup_s = sum(self.setup.values()) + median(self.prepare_s)
        return {
            "round_s": metric(round_s, "s"),
            "urls_per_s": metric(res.selected / round_s, "URLs/s"),
            "images_per_s": metric(res.fetched_ok / round_s, "images/s"),
            "frontier_rows_per_s": metric(self.inputs.counts["frontier"] / round_s, "rows/s"),
            "setup_s": metric(setup_s, "s"),
            "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
        }

    # -- traced rounds ------------------------------------------------------

    def traced(self) -> None:
        """Reference untraced round, then traced rounds for --seconds."""
        context = {"workload": self.w.name, "seed": self.args.seed, "cores": self.cores,
                   "capacity_probe_before": capacity_probe(self.cores),
                   "membw_probe_before": membw_probe(self.cores)}
        ref = self.untraced_op(full_check=False)
        res = ref.get("result")
        want = res and {  # the drift guard: traced funnel == untraced round
            "selected": res.selected, "fetched_ok": res.fetched_ok, "retried": res.retried,
            "failed": res.failed, "new_links": res.new_links, "seen_delta": ref["seen_delta"],
        }
        tracer = Tracer(self.spark)
        deadline = time.perf_counter() + self.args.seconds
        self.traced_ok: set[int] = set()
        while tracer.op < MIN_TRACED or time.perf_counter() < deadline:
            cat = self.new_catalog()
            op: dict = {"errors": []}
            try:
                tr = traced_round(tracer, cat, 0, n_hosts=N_HOSTS, budget=self.w.budget,
                                  partitions=self.partitions)
                if tr.funnel != want:
                    op["errors"].append(f"traced funnel {tr.funnel} != untraced {want}")
                stage = [dir_stats(p) for ps in tr.staged_paths.values() for p in ps]
                tracer.last("round").counts.update(
                    funnel=tr.funnel, timeouts=tr.timeouts, bytes_fetched=tr.bytes_fetched,
                    stage_bytes=sum(b for b, _ in stage), stage_files=sum(f for _, f in stage),
                )
                index_and_compaction(tracer, cat, 0, tr.dedup_out)
            except Exception as exc:
                op["errors"].append(f"{type(exc).__name__}: {exc}")
            finally:
                self.spark.catalog.clearCache()
                shutil.rmtree(cat.root, ignore_errors=True)
            for e in op["errors"]:
                log(f"traced round {tracer.op} FAILED: {e}")
            if not op["errors"]:
                self.traced_ok.add(tracer.op)
                log(f"traced round {tracer.op}: {tracer.last('round').seconds:.3f} s")
            self.ops.append(op)
            tracer.op += 1
        context["capacity_probe_after"] = capacity_probe(self.cores)
        context["membw_probe_after"] = membw_probe(self.cores)
        self.tracer, self.ref_round_s = tracer, ref.get("wall_s")
        self.driver = driver_probes(self._probe_urls(), N_HOSTS)
        self.trace_context = context
        self.app_id = self.spark.sparkContext.applicationId

    def _probe_urls(self) -> list[str]:
        off = id_offset(self.args.seed)
        hs = datagen.hosts(N_HOSTS)
        return [datagen.url_of(hs[i % N_HOSTS], "doc", off + i) for i in range(TRANSPORT_PROBE_URLS)]

    def per_layer(self, event_dir: Path) -> dict:
        spans = self.tracer.spans
        layer_task_stats(str(event_dir), self.app_id, self.cores, spans, ("seen", "budget", "fetch"))
        selfs = dict(zip(map(id, spans), self_seconds(spans)))

        def of(name):
            return [s for s in spans if s.name == name and s.op in self.traced_ok]

        def secs(name):
            return median([selfs[id(s)] for s in of(name)])

        def count(name, key):
            return median([s.counts[key] for s in of(name)])

        rounds = of("round")
        funnel = rounds[-1].counts["funnel"]
        fetch_s, fetch_rows = secs("fetch"), count("fetch", "rows")
        traced_wall = median([s.seconds for s in rounds])
        residual = secs("round")
        budget_in = count("budget", "rows_in")
        out = {
            "dedup.s": (secs("dedup"), "s"),
            "dedup.rows_in": (count("dedup", "rows_in"), "count"),
            "dedup.rows_out": (count("dedup", "rows_out"), "count"),
            "seen.s": (secs("seen"), "s"),
            "seen.rows_out": (count("seen", "rows_out"), "count"),
            "seen.maybe_frac": (count("seen.probe", "maybe_frac"), "fraction"),
            "seen.probe_s": (secs("seen.probe"), "s"),
            "seen.index_s": (secs("seen.index"), "s"),
            "seen.index_bytes": (count("seen.index", "bytes"), "bytes"),
            "seen.shuffle_bytes": (count("seen", "shuffle_bytes"), "bytes"),
            "budget.s": (secs("budget"), "s"),
            "budget.rows_in": (budget_in, "count"),
            "budget.rows_out": (count("budget", "rows_out"), "count"),
            "budget.keep_ratio": (count("budget", "rows_out") / max(budget_in, 1), "fraction"),
            "budget.task_skew": (count("budget", "task_skew"), "ratio"),
            "budget.shuffle_bytes": (count("budget", "shuffle_bytes"), "bytes"),
            "fetch.s": (fetch_s, "s"),
            "fetch.rows": (fetch_rows, "count"),
            "fetch.ok": (funnel["fetched_ok"], "count"),
            "fetch.retry": (funnel["retried"], "count"),
            "fetch.failed": (funnel["failed"], "count"),
            "fetch.timeout": (count("round", "timeouts"), "count"),
            "fetch.bytes": (count("round", "bytes_fetched"), "bytes"),
            "fetch.ms_per_url_core": (1e3 * fetch_s * self.cores / max(fetch_rows, 1), "ms"),
            "fetch.task_skew": (count("fetch", "task_skew"), "ratio"),
            "fetch.shuffle_bytes": (count("fetch", "shuffle_bytes"), "bytes"),
            "fetch.transport_ms_per_url": (self.driver["transport_ms_per_url"], "ms"),
            "codec.encode_us": (self.driver["encode_us"], "us"),
            "codec.ahash_us": (self.driver["ahash_us"], "us"),
            "links.s": (secs("links"), "s"),
            "links.rows_out": (count("links", "rows_out"), "count"),
            "stage.fetched_s": (secs("stage.fetched"), "s"),
            "stage.derived_s": (secs("stage.derived"), "s"),
            "stage.bytes": (count("round", "stage_bytes"), "bytes"),
            "stage.files": (count("round", "stage_files"), "count"),
            "commit.s": (secs("commit"), "s"),
            "compact.s": (secs("compact"), "s"),
            "compact.rows_in": (count("compact", "rows_in"), "count"),
            "compact.rows_out": (count("compact", "rows_out"), "count"),
            "trace.round_s": (traced_wall, "s"),
            "trace.overhead_s": (traced_wall - self.ref_round_s, "s"),
            "trace.residual_s": (residual, "s"),
            "trace.residual_frac": (residual / traced_wall, "fraction"),
            "setup.jvm_s": (self.setup["jvm_s"], "s"),
            "setup.warmup_s": (self.setup["warmup_s"], "s"),
            "setup.input_s": (self.setup["input_s"], "s"),
        }
        return {k: metric(v, u) for k, (v, u) in out.items()}


def run(args, root: Path) -> dict:
    """Run one workload; returns the result object run.py prints."""
    work = root / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    event_dir = work / "events" if args.trace else None
    bench = Bench(args, work)
    try:
        with TreeRssSampler(os.getpid()) as rss:
            bench.start(event_dir)
            try:
                bench.stage_inputs()
                # the traced run's untraced reference round warms it further
                bench.warm_up(1 if args.trace else WARMUP_ROUNDS)
                log(f"set-up {bench.setup} (wall {bench.setup_wall})")
                if args.trace:
                    bench.traced()
                else:
                    bench.measure()
            finally:
                stop_session(bench.spark)
        if args.trace:
            metrics = bench.per_layer(event_dir) if bench.ref_round_s and bench.traced_ok else {}
            bench.tracer.write(
                root / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json",
                dict(bench.trace_context, setup=bench.setup),
            )
        else:
            metrics = bench.end_to_end(rss.peak_bytes)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(1 for o in bench.ops if o["errors"])
    return {
        "correct": failed == 0 and bool(metrics),
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": metrics,
    }
