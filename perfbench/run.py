#!/usr/bin/env python3
"""Extraction benchmark: ``pipeline.extract_spans`` at local[nproc].

    python3 perfbench/run.py --workload fused --seed 1 --seconds 30 --trace 0

One driver process, one Spark session at a time. The corpus for
(workload, seed) is generated, written to parquet and run through the
serial oracle before any timing (cached under ``.perfbench/cache``).

``--trace 0`` prints the end-to-end metrics. It starts a session (which
launches the JVM), warms the JVM with untimed passes (``warm_jvm``),
runs timed blocks, one at least and more while the next one fits in
``--seconds``. A block is two full-width passes, the same pass twice in a
local[1] session pinned to one core, a session restart at full width
(``setup_s``) and two more full-width passes. ``scaling_eff`` is strong
scaling: each pinned pass against the mean of the four around it. On
``fused`` the passes cover the whole corpus. On ``checkpointed_skew`` they
cover the commit half, each into a fresh checkpoint, and the first one is
followed by a pass over the whole corpus that resumes its checkpoint
(``resume_s``). Then it restarts the session ``EXTRA_RESTARTS`` more
times; ``setup_s`` is the median of all full-width restarts.

``--trace 1`` prints the per-layer metrics. It times untraced passes, then
restarts the session with the layer-tracing Python worker module
(``pyspark_perfbench_worker``) and repeats them; per-layer numbers come
from the traced passes and the session's event log, and the ratio of the
two throughputs is the tracing overhead.

Every pass's output is checked against the oracle digests. The last line
of stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path
from statistics import median

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
sys.path.insert(0, str(REPO))

from perfbench import check, host, layers  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

PACKAGE = "high_performance_docling_spark"
PINNED_PASSES = 2  # per block: one core is the noisiest leg
EXTRA_RESTARTS = 2  # after the blocks, so setup_s is a median of three
TRACED_PASSES = 2
TRACE_SETTLE_S = 0.3  # workers write their span file just after a task ends
DRIVER_MEM = "2g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "scaling_eff": "ratio",
    "resume_s": "s",
}
PER_LAYER = {
    "corpus.typeset.ms_per_doc": "ms",
    "layout_postprocess.postprocess_page.ms_per_page": "ms",
    "table_decode.attach_table_structures.ms_per_table": "ms",
    "table_decode.tables": "count",
    "reading_order.assemble_spans.ms_per_doc": "ms",
    "assemble.assemble_page_elements.ms_per_page": "ms",
    "convert.apply_ocr.ms_per_crop": "ms",
    "convert.apply_ocr.crops": "count",
    "model_harness.forward_calls": "count",
    "model_harness.padded_frac": "ratio",
    "model_harness.ms_per_item": "ms",
    "stages.task_ms_per_doc": "ms",
    "stages.python_nonkernel_ms_per_doc": "ms",
    "stages.task_max_over_median": "ratio",
    "stages.slot_busy_frac": "ratio",
    "stages.shuffle_write_bytes": "bytes",
    "stages.output_bytes": "bytes",
    "pipeline.resume_redo_docs": "count",
    "pipeline.exchanges": "count",
    "pipeline.residual_ms_per_doc": "ms",
    "pipeline.failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _spark_env(work: Path) -> None:
    """Session config owned by the benchmark, set before the JVM starts:
    every file Spark or the JVM writes stays under ``work``, the event log
    is on and uncompressed, and the Python workers can import the package
    and the traced worker module."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (work / "eventlog").mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), str(BENCH_DIR), os.environ.get("PYTHONPATH")) if p)
    os.environ[layers.TRACE_DIR_ENV] = str(work / "trace")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", shlex.quote(f"spark.eventLog.dir=file://{work / 'eventlog'}"),
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        "pyspark-shell",
    ])


class Bench:
    """One workload on one seed: sessions, passes and their checks."""

    def __init__(self, workload: str, seed: int, scale: float, work: Path):
        from perfbench.inputs import prepare

        self.wl = WORKLOADS[workload]
        self.work = work
        self.cpus = host.cores()
        self.nproc = len(self.cpus)
        self.inputs = prepare(REPO, work.parent / "cache", self.wl, seed,
                              self.nproc, scale)
        self.cfg = self.wl.config(seed, len(self.inputs.expected))
        self.spark = None
        self.app_id = ""
        self.attempted = 0
        self.failed = 0
        self._n = 0
        self.rss_mb = 0.0  # peak worker VmHWM over the sessions so far
        self.jvm_launch_s = 0.0
        self.samples: dict[str, list[float]] = {}

    # -- sessions ---------------------------------------------------------
    def start(self, traced: bool = False, cores: int | None = None,
              warm: bool = True) -> float:
        """Session start at local[``cores``] (default nproc) plus, with
        ``warm``, the Python-worker warm-up pass, in seconds."""
        from pyspark import SparkContext

        from high_performance_docling_spark.pipeline import get_spark

        if SparkContext._jvm is not None:
            props = SparkContext._jvm.java.lang.System
            if traced:
                props.setProperty("spark.python.worker.module",
                                  "pyspark_perfbench_worker")
            else:
                props.clearProperty("spark.python.worker.module")
        elif traced:
            raise RuntimeError("the traced session needs a running JVM")
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench",
                               master=f"local[{cores or self.nproc}]")
        if warm:
            # the workload's own path: it starts the Python workers and
            # makes them import every module the timed passes use
            self.pass_(self.inputs.warm_files, "warmup", verify=False,
                       ckpt=self._ckpt_dir("warmup"))
        took = time.perf_counter() - t0
        self.app_id = self.spark.sparkContext.applicationId
        return took

    def stop(self) -> None:
        if self.spark is not None:
            self.rss_mb = max(self.rss_mb,
                              host.python_peak_rss_mb(self.jvm_tree()))
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        tree = host.process_tree(proc.pid)
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        # the Python daemon and workers exit once the JVM has gone; kill
        # any that are still there after a grace period
        host.end_all(tree[1:], grace_s=10)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def jvm_tree(self) -> list[int]:
        from pyspark import SparkContext

        return host.process_tree(SparkContext._gateway.proc.pid)

    # -- passes -----------------------------------------------------------
    def _extract(self, files: list[str], ckpt: str | None):
        from high_performance_docling_spark.pipeline import extract_spans

        df = self.spark.read.parquet(*files)
        return extract_spans(self.spark, df, self.cfg, checkpoint_dir=ckpt)

    def _ckpt_dir(self, name: str = "ckpt") -> str | None:
        """A fresh checkpoint directory, on the checkpointed workload."""
        if self.wl.mode != "checkpointed":
            return None
        d = self.work / name
        shutil.rmtree(d, ignore_errors=True)
        return str(d)

    def pass_(self, files: list[str], group: str, ids=None,
              ckpt: str | None = None, verify: bool = True) -> float:
        """One extraction pass, read to write, under job group ``group``.
        Returns wall seconds. The output must hold exactly the docs
        ``ids`` (None: the whole corpus) with the oracle's spans; with
        ``verify=False`` (warm-up) it goes to the noop sink instead.
        ``ckpt``: checkpoint directory, None for the fused path."""
        self._n += 1
        out = str(self.work / "out" / f"{self._n}")
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        res = self._extract(files, ckpt)
        if verify:
            res.write.mode("overwrite").parquet(out)
        else:
            res.write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        self.spark.sparkContext.setJobGroup("idle", "idle")
        if verify:
            expected = self.inputs.expect(ids)
            self.attempted += len(expected)
            self.failed += check.count_failed(expected, check.read_output(out))
            shutil.rmtree(out, ignore_errors=True)
        return took

    def full_pass(self, group: str, ckpt: str | None = None) -> float:
        """The whole corpus in the workload's path; on the checkpointed
        path ``ckpt`` is resumed, by default a fresh one."""
        return self.pass_(self.inputs.full_files, group,
                          ckpt=ckpt or self._ckpt_dir())

    def half_pass(self, group: str, ckpt: str | None = None) -> float:
        """The commit half into checkpoint ``ckpt``, by default a fresh
        one."""
        return self.pass_(self.inputs.half_files, group,
                          ids=self.inputs.half_ids,
                          ckpt=ckpt or self._ckpt_dir())

    def pinned(self, run):
        """``run()`` in a local[1] session with the JVM, and the Python
        workers it forks, pinned to one core with taskset: one task at a
        time on one core. The full-width session is stopped first; the
        caller starts it again."""
        self.stop()
        host.pin(self.jvm_tree(), self.cpus[-1:])
        try:
            self.start(cores=1)
            return run()
        finally:
            self.stop()
            host.pin(self.jvm_tree(), self.cpus)

    # -- runs -------------------------------------------------------------
    def block(self, tag: str, setups: list[float]) -> dict:
        """Two full-width passes, the pinned passes, a session restart
        (appended to ``setups``) and two more full-width passes. Each pinned
        pass is set against the mean of the four around it, so drift
        cancels. On the checkpointed path the passes cover the commit
        half, and the first one's checkpoint is then resumed over the whole
        corpus."""
        scaled = (self.half_pass if self.wl.mode == "checkpointed"
                  else self.full_pass)
        committed = self._ckpt_dir("committed")  # None on fused
        width = [scaled(f"width-{tag}0", committed)]
        resume = ([self.full_pass(f"resume-{tag}", committed)] if committed
                  else [])
        width.append(scaled(f"width-{tag}1"))
        pinned = self.pinned(lambda: [
            scaled(f"pinned-{tag}{i}") for i in range(PINNED_PASSES)])
        setups.append(self.start())
        width += [scaled(f"width-{tag}{i}") for i in (2, 3)]
        return {"width": width, "pinned": pinned, "resume": resume}

    def warm_jvm(self) -> None:
        """Untimed full-width passes over every path the run times: on the
        checkpointed path a commit of the half and a resume. A new JVM runs
        its first passes up to a third slower while it compiles, and how
        far it has got differs from run to run; a session restart keeps
        what it compiled."""
        committed = self._ckpt_dir("committed")  # None on fused
        if committed:
            self.half_pass("warm-commit", committed)
        self.full_pass("warm", committed)

    def run_end_to_end(self, seconds: float) -> dict[str, float]:
        self.jvm_launch_s = self.start(warm=False)  # warm_jvm warms it
        self.warm_jvm()
        setups: list[float] = []  # full-width restarts in a warm JVM
        blocks: list[dict] = []
        t0 = time.perf_counter()
        # another block only if it should end within --seconds
        while not blocks or (time.perf_counter() - t0) * (len(blocks) + 1) \
                / len(blocks) <= seconds:
            blocks.append(self.block(str(len(blocks)), setups))
        for _ in range(EXTRA_RESTARTS):
            self.stop()
            setups.append(self.start())
        self.stop()  # reads the last session's worker peak
        n = len(self.inputs.half_ids if self.wl.mode == "checkpointed"
                else self.inputs.expected)
        width = [w for b in blocks for w in b["width"]]
        # fused keeps no checkpoint: a resume redoes the whole corpus
        resume = [r for b in blocks for r in b["resume"]] or width
        effs = [p / (self.nproc * sum(b["width"]) / len(b["width"]))
                for b in blocks for p in b["pinned"]]
        self.samples = {"jvm_launch_s": self.jvm_launch_s,
                        "setup_s": setups, "width_s": width,
                        "pinned_s": [p for b in blocks for p in b["pinned"]],
                        "resume_s": resume}
        return {
            "docs_per_s": median([n / w for w in width]),
            "setup_s": median(setups),
            "worker_rss_mb": self.rss_mb,
            "scaling_eff": median(effs),
            "resume_s": median(resume),
        }

    def run_layers(self) -> dict[str, float]:
        from perfbench.eventlog import EventLog

        n = len(self.inputs.expected)
        self.start()
        self.warm_jvm()
        # both timed sessions follow a restart and one untimed pass, as a
        # session's first pass runs slower
        self.stop()
        self.start()
        self.full_pass("untraced-warm")
        untraced = [self.full_pass(f"untraced-{i}") for i in range(TRACED_PASSES)]
        self.stop()

        trace_dir = self.work / "trace"
        shutil.rmtree(trace_dir, ignore_errors=True)
        trace_dir.mkdir(parents=True)
        self.start(traced=True)
        self.full_pass("traced-warm")
        walls, spans = [], []
        for i in range(TRACED_PASSES):
            time.sleep(TRACE_SETTLE_S)
            for f in trace_dir.iterdir():
                f.unlink()
            walls.append(self.full_pass(f"traced-{i}"))
            time.sleep(TRACE_SETTLE_S)
            spans.append(layers.merge(layers.read_dir(str(trace_dir))))
        redo = 0
        committed = self._ckpt_dir("committed")
        if committed:
            self.half_pass("commit", committed)
            self.full_pass("resume", committed)
            redo = _redone_docs(committed)
        self.samples = {"untraced_s": untraced, "traced_s": walls}
        self.stop()
        log = EventLog(str(self.work / "eventlog" / self.app_id))
        stats = [log.group_stats(f"traced-{i}") for i in range(TRACED_PASSES)]

        tot = layers.merge(spans)["layers"]

        def per(name: str, idx: int = 0) -> float:
            calls, self_ns, items, _ = tot[name]
            denom = calls if idx == 0 else items
            return self_ns / 1e6 / denom if denom else 0.0

        def count(name: str, idx: int) -> float:
            return tot[name][idx] / TRACED_PASSES

        h = tot["model_harness"]
        cores = self.nproc
        return {
            "corpus.typeset.ms_per_doc": per("corpus.typeset"),
            "layout_postprocess.postprocess_page.ms_per_page":
                per("layout_postprocess.postprocess_page"),
            "table_decode.attach_table_structures.ms_per_table":
                per("table_decode.attach_table_structures", 2),
            "table_decode.tables": count("table_decode.attach_table_structures", 2),
            "reading_order.assemble_spans.ms_per_doc":
                per("reading_order.assemble_spans"),
            "assemble.assemble_page_elements.ms_per_page":
                per("assemble.assemble_page_elements"),
            "convert.apply_ocr.ms_per_crop": per("convert.apply_ocr", 2),
            "convert.apply_ocr.crops": count("convert.apply_ocr", 2),
            "model_harness.forward_calls": count("model_harness", 0),
            "model_harness.padded_frac": h[3] / h[2] if h[2] else 0.0,
            "model_harness.ms_per_item": per("model_harness", 2),
            "stages.task_ms_per_doc": median([s["task_ms"] / n for s in stats]),
            "stages.python_nonkernel_ms_per_doc": median(
                [(s["task_ms"] - sp["top_ns"] / 1e6) / n
                 for s, sp in zip(stats, spans)]),
            "stages.task_max_over_median": median(
                [s["task_max_over_median"] for s in stats]),
            "stages.slot_busy_frac": median(
                [s["task_ms"] / (w * 1000 * cores) for s, w in zip(stats, walls)]),
            "stages.shuffle_write_bytes": median(
                [s["shuffle_write_bytes"] for s in stats]),
            "stages.output_bytes": median([s["output_bytes"] for s in stats]),
            "pipeline.resume_redo_docs": redo,
            "pipeline.exchanges": median([s["exchanges"] for s in stats]),
            "pipeline.residual_ms_per_doc": median(
                [(w * 1000 * cores - s["task_ms"]) / n for s, w in zip(stats, walls)]),
            "pipeline.failed_frac": self.failed / max(1, self.attempted),
            # untraced docs/s over traced docs/s, less 1
            "trace.overhead_frac": median(walls) / median(untraced) - 1,
        }


def _redone_docs(ckpt: str) -> int:
    """Docs with a (doc_id, page_no) row written twice to any stage
    checkpoint: work a resumed run repeated."""
    import pyarrow.parquet as pq

    redone: set[str] = set()
    for stage in ("parsed", "pages", "elements"):
        t = pq.read_table(os.path.join(ckpt, stage), columns=["doc_id", "page_no"])
        seen: set[tuple] = set()
        for key in zip(t.column("doc_id").to_pylist(), t.column("page_no").to_pylist()):
            if key in seen:
                redone.add(key[0])
            seen.add(key)
    return len(redone)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="corpus size factor (the toy test uses a small one)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (REPO / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ beside perfbench/; run from a full "
              "checkout", file=sys.stderr)
        return 2
    state = REPO / ".perfbench"
    state.mkdir(exist_ok=True)
    with open(state / "lock", "w") as lock:
        # one run per checkout at a time: runs share the work directory
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _run(args, state / "work")


def _run(args: argparse.Namespace, work: Path) -> int:
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _spark_env(work)

    t_run = time.perf_counter()
    before = host.snapshot()
    cpu0 = host.cpu_times()
    # the JVM and the Python workers inherit fd 1: point it at stderr while
    # they live, so nothing they print can split the result lines
    stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        bench = Bench(args.workload, args.seed, args.scale, work)
        try:
            if args.trace:
                metrics, units = bench.run_layers(), PER_LAYER
            else:
                metrics, units = bench.run_end_to_end(args.seconds), END_TO_END
        finally:
            bench.close()
    finally:
        sys.stdout.flush()
        os.dup2(stdout_fd, 1)
        os.close(stdout_fd)
    steal = host.steal_frac(cpu0)
    after = host.snapshot()
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": bench.nproc, "docs": len(bench.inputs.expected),
        "half_docs": len(bench.inputs.half_ids),
        "pinned": {"width": bench.cpus, "pinned": bench.cpus[-1:]},
        "host_before": before, "host_after": after,
        "busy_at_start": host.is_busy(before),
        "steal_frac": round(steal, 4),
        "run_s": round(time.perf_counter() - t_run, 3),
        "samples": bench.samples,
    }
    shutil.rmtree(work, ignore_errors=True)
    print("host " + json.dumps(record))
    if record["busy_at_start"]:
        print("warning: host was busy when the run started", file=sys.stderr)
    for name, unit in units.items():
        print(f"metric {name} {metrics[name]!r} {unit}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
