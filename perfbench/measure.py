"""One benchmark run: set-up, the timed closed loop, the correctness gate
and, in a traced run, the passes that isolate each layer."""

from __future__ import annotations

import argparse
import hashlib
import os
import platform
import random
import signal
import subprocess
import time
from statistics import median
from typing import Any

from perfbench import gate, workloads
from perfbench.probes import (
    Stopwatch,
    Tracer,
    WorkerSampler,
    busiest_stage,
    cpu_ticks,
    descendants,
    proc_table,
    quantile,
    stage_metrics,
    steal_share,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "tika_wrap_spark"

DRIVER_MEMORY = "4g"
# documents of the checked input the untraced gate runs the core on, beside
# every adversarial row
GATE_SAMPLE = 500


def git_head(root: str) -> str | None:
    """HEAD commit read from ``.git`` at ``root`` only (no parent search)."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="utf-8") as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path, encoding="utf-8") as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs"), encoding="utf-8") as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def package_sha256(root: str) -> str:
    """Content hash of the package's python sources, for checkouts that
    carry no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PACKAGE)
    for dirpath, dirs, names in os.walk(pkg):
        dirs.sort()
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def fingerprint(args: argparse.Namespace, cores: int, docs: list[int], input_mb: float) -> dict[str, Any]:
    """Host, versions, source and input of a run: what a number is only
    comparable under. ``docs`` is the document count of each input,
    ``input_mb`` the size of the checked one."""
    import pandas  # noqa: PLC0415
    import pyarrow  # noqa: PLC0415
    import pyspark  # noqa: PLC0415

    return {
        "nproc": cores,
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "git_head": git_head(ROOT),
        "package_sha256": package_sha256(ROOT),
        "workload": args.workload,
        "seed": args.seed,
        "input_seeds": [workloads.input_seed(args.workload, args.seed, i) for i in range(len(docs))],
        "docs_per_input": docs,
        "checked_input_mb": round(input_mb, 6),
        "run_seconds": args.seconds,
        "trace": args.trace,
    }


def stop_spark(spark: Any) -> None:
    """Stop the session, then the driver JVM it launched, and wait for every
    process below this one (python daemon and workers) to end."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = descendants(os.getpid(), proc_table())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)




def _identity_pass(df: Any) -> Any:
    """An identity ``mapInPandas``: the JVM -> Arrow -> pandas crossing and
    back with no per-row work. Nested, so it ships to workers by value."""

    def identity(batches):
        yield from batches

    return df.mapInPandas(identity, schema=df.schema)


def core_ledger(per_doc: list[tuple[str, int, float]], kinds: list[str]) -> dict[str, float]:
    """Per-kind ``core`` ledger from the driver-side single-thread pass:
    docs, input MB, ms p50/p99 and share of parse time. Kinds outside
    ``kinds`` fall into ``other``."""
    total_s = sum(dt for _k, _c, dt in per_doc) or 1.0
    buckets: dict[str, list[tuple[int, float]]] = {k: [] for k in kinds + ["other"]}
    for kind, chars, dt in per_doc:
        buckets[kind if kind in buckets else "other"].append((chars, dt))
    out = {}
    for kind, rows in buckets.items():
        times = [dt for _c, dt in rows]
        out["core.%s.docs" % kind] = float(len(rows))
        out["core.%s.mb" % kind] = sum(c for c, _dt in rows) / 1e6
        out["core.%s.ms_p50" % kind] = quantile(times, 0.5) * 1e3 if times else 0.0
        out["core.%s.ms_p99" % kind] = quantile(times, 0.99) * 1e3 if times else 0.0
        out["core.%s.share" % kind] = sum(times) / total_s
    return out


def sniff_us_per_span(docs: list[tuple[str, list[dict[str, Any]]]]) -> float:
    from tika_wrap_spark.core.sniff import sniff_kind  # noqa: PLC0415

    spans = [(s["text"] or "", s["media_ref"] or "") for _d, ss in docs for s in ss]
    t0 = time.perf_counter()
    for text, ref in spans:
        sniff_kind(text, ref)
    return (time.perf_counter() - t0) / max(len(spans), 1) * 1e6


def docs_per_s(passes: list[dict[str, Any]]) -> float:
    """The median over the passes of each pass's documents per second: a
    pass slowed by the host, or by an input with an unusually heavy giant
    PDF, moves it less than a sum of times would."""
    return median([p["docs"] / p["seconds"] for p in passes])


class Run:
    """State of one run: the session, the workload's job, its cached inputs
    and the values measured so far (metric name -> number)."""

    def __init__(self, spark: Any, args: argparse.Namespace, work: str, tracer: Tracer,
                 sampler: WorkerSampler, cores: int) -> None:
        self.spark = spark
        self.args = args
        self.work = work
        self.tracer = tracer
        self.sampler = sampler
        self.cores = cores
        self.job = workloads.InMemory(spark, work, tracer)
        self.values: dict[str, float] = {}
        self.inputs: list[tuple[Any, int]] = []  # (cached DataFrame, doc count)
        self.passes: list[dict[str, Any]] = []
        self.stored_bytes = 0  # the warm pass's output at rest

    def setup(self) -> float:
        """Builds and caches the run's ``INPUTS_PER_RUN`` inputs, then runs
        the warm pass over the checked one. Returns the median build time of
        one input plus the warm pass, in seconds."""
        builds = []
        for index in range(workloads.INPUTS_PER_RUN[self.args.workload]):
            seed = workloads.input_seed(self.args.workload, self.args.seed, index)
            with Stopwatch() as sw, self.tracer.span("data.build_input"):
                df = workloads.build_input(self.spark, self.args.workload, seed).cache()
                self.inputs.append((df, df.count()))
            builds.append(sw.seconds)
        with Stopwatch() as warm, self.tracer.span("warm_pass"):
            self.stored_bytes = self.job.warm(self.checked_input)
        self.values["data.gen_s"] = median(builds)
        self.values["setup.warm_pass_s"] = warm.seconds
        return median(builds) + warm.seconds

    def timed_loop(self) -> None:
        """Closed loop: passes back to back, cycling over the inputs, until
        ``--seconds`` have passed and every input ran at least once.
        Spans are off, so the loop is untraced in every run."""
        enabled, self.tracer.enabled = self.tracer.enabled, False
        ticks = cpu_ticks()
        deadline = time.perf_counter() + self.args.seconds
        while len(self.passes) < len(self.inputs) or time.perf_counter() < deadline:
            index = len(self.passes) % len(self.inputs)
            df, n = self.inputs[index]
            self.passes.append({**self.job.step(df, n), "input": index})
        self.tracer.enabled = enabled
        self.loop_steal_frac = steal_share(ticks, cpu_ticks())
        self.values["docs_per_s"] = docs_per_s(self.passes)

    @property
    def checked_input(self) -> Any:
        """The input whose output the gate checks: the last one."""
        return self.inputs[-1][0]

    def checked_docs(self, docs: list[tuple[str, list]]) -> list[tuple[str, list]]:
        """Documents the gate runs the core on: all of them in a traced run
        (the ``core`` ledger needs them), else a sample seeded by ``--seed``
        plus every adversarial row (doc index past the generated ones)."""
        if self.args.trace:
            return docs
        n_generated = workloads.N_DOCS[self.args.workload]
        normal = [d for d in docs if int(d[0][4:]) < n_generated]
        adversarial = [d for d in docs if int(d[0][4:]) >= n_generated]
        sample = random.Random(self.args.seed).sample(normal, min(GATE_SAMPLE, len(normal)))
        return sample + adversarial

    def check(self) -> dict[str, Any]:
        """The correctness gate on the workload's own output of the checked
        input (see gate.check)."""
        with self.tracer.span("gate"):
            docs = [
                (r["doc_id"], [s.asDict() for s in r["spans"] or []])
                for r in self.checked_input.collect()
            ]
            with self.tracer.span("core.extract_document"):
                self.ref = gate.core_reference(self.checked_docs(docs))
            self.docs = docs
            bad_passes = sum(1 for p in self.passes if not p["ok"])
            failures = ["%d passes returned a wrong row count" % bad_passes] if bad_passes else []
            rows = self.job.output()
            result = gate.check(self.ref["expected"], rows, {d for d, _s in docs}, failures)
        v = self.values
        v["data.input_mb"] = sum(len(s["text"] or "") for _d, ss in docs for s in ss) / 1e6
        v["store_bytes_per_input_byte"] = self.stored_bytes / workloads.input_chars(self.checked_input)
        v["ok_frac"] = 1.0 - (result["error_rows"] + result["missing"]) / result["attempted"]
        v["match_frac"] = result["match_frac"]
        return result

    def layers(self) -> list[str]:
        """Traced run only: one traced full pass with Spark's stage metrics,
        then the passes that isolate each layer, on the checked input.
        Returns the failed checks found on the way."""
        spark, v, tracer = self.spark, self.values, self.tracer
        sc = spark.sparkContext
        df = self.checked_input
        n = len(self.docs)
        from tika_wrap_spark.operators.extract_ops import extract_spans  # noqa: PLC0415
        from tika_wrap_spark.operators.skew import salt_repartition  # noqa: PLC0415

        # the loop's full pass again, traced: overhead against the loop's
        # untraced passes over the same input
        sc.setJobGroup("perfbench-full", "traced full pass")
        with self.sampler.window() as win:
            r = self.job.step(df, n)
        last = len(self.inputs) - 1
        untraced = n / median([p["seconds"] for p in self.passes if p["input"] == last])
        v["trace.docs_per_s_untraced"] = untraced
        v["trace.docs_per_s_traced"] = r["docs"] / r["seconds"]
        v["trace.overhead_frac"] = 1.0 - v["trace.docs_per_s_traced"] / untraced
        v["extract_ops.worker_pids"] = float(win["worker_pids"])
        stages = stage_metrics(spark, "perfbench-full")
        ext = busiest_stage(stages)
        p50, pmax = quantile(ext["task_s"], 0.5), max(ext["task_s"])
        v["skew.task_s_p50"] = p50
        v["skew.task_s_max"] = pmax
        v["skew.straggler_ratio"] = pmax / p50 if p50 > 0 else 0.0
        v["extract_ops.deserialize_s"] = ext["deserialize_s"]
        v["spark.cpu_s"] = sum(s["cpu_s"] for s in stages)
        v["spark.gc_s"] = sum(s["gc_s"] for s in stages)
        v["spark.run_s"] = sum(s["run_s"] for s in stages)

        # operators.skew alone: the salt Exchange. The noop sink consumes
        # every column, so the spans cross the Exchange (count() would let
        # Spark prune them away)
        parts = sc.defaultParallelism * 2
        sc.setJobGroup("perfbench-salt", "salt only")
        with Stopwatch() as sw, tracer.span("operators.skew.salt_repartition"):
            salt_repartition(df, parts).write.format("noop").mode("overwrite").save()
        v["skew.exchange_s"] = sw.seconds
        v["skew.shuffle_write_mb"] = sum(
            s["shuffle_write_mb"] for s in stage_metrics(spark, "perfbench-salt")
        )

        # operators.extract_ops on input that is already salted
        salted = salt_repartition(df, parts).cache()
        try:
            salted.count()
            with Stopwatch() as sw, tracer.span("operators.extract_ops.crossing"):
                _identity_pass(salted).count()
            v["extract_ops.crossing_s"] = sw.seconds
            with Stopwatch() as sw, tracer.span("operators.extract_ops.extract_spans"):
                extract_spans(salted).count()
            v["extract_ops.pass_s"] = sw.seconds
        finally:
            salted.unpersist()

        # core, single-threaded in the driver (timed by the gate's pass)
        v["core.docs_per_s_1t"] = n / self.ref["core_s"]
        v["core.sniff_us_per_span"] = sniff_us_per_span(self.docs)
        v["spark.parallel_eff"] = v["docs_per_s"] / (self.cores * v["core.docs_per_s_1t"])

        # catalog alone: the partitioned write of output already extracted
        cat = workloads.catalog_pass(spark, df, os.path.join(self.work, "catalog"), tracer)
        v["catalog.write_s"] = cat["write_s"]
        v["catalog.files_written"] = float(cat["files"])
        v["catalog.store_mb"] = cat["store_bytes"] / 1e6

        # pipeline: one store step, killed and resumed, on the checked
        # input; its output goes through the same gate
        out = workloads.store_pass(spark, df, os.path.join(self.work, "store"), tracer)
        for key in ("killed_run_s", "resume_s", "read_extracted_s", "resume_redo_docs"):
            v["pipeline." + key] = float(out[key])
        input_ids = {d for d, _spans in self.docs}
        result = gate.check(self.ref["expected"], out["rows"], input_ids, out["failures"])
        return ["store pass: " + f for f in result["failures"]]


def measure(args: argparse.Namespace, spec: dict[str, Any], run_id: str, work: str) -> dict[str, Any]:
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with tracer.span("run"):
        with Stopwatch() as session, tracer.span("setup.session"):
            from tika_wrap_spark.session import get_spark  # noqa: PLC0415

            spark = get_spark(
                master="local[%d]" % cores, app_name="perfbench", driver_memory=DRIVER_MEMORY
            )
        try:
            with WorkerSampler() as sampler:
                run = Run(spark, args, work, tracer, sampler, cores)
                run.values["setup.session_s"] = session.seconds
                run.values["setup_s"] = session.seconds + run.setup()
                run.timed_loop()
                result = run.check()
                if args.trace:
                    result["failures"] += run.layers()
                    result["correct"] = not result["failures"]
                run.job.close()
            run.values["worker_rss_peak_mb"] = sampler.peak_hwm_kb / 1024.0
        finally:
            with tracer.span("teardown"):
                stop_spark(spark)

    values = run.values
    if args.trace:
        # self times of the spans with children only: a leaf span wraps one
        # call that a dedicated metric already times, teardown aside (the
        # trace file keeps every span's self time)
        parents = tracer.parents()
        values.update(
            {"self_s." + name: s for name, s in tracer.self_times().items() if name in parents}
        )
        kinds = [
            m["name"].split(".")[1]
            for m in spec["per_layer"]
            if m["name"].startswith("core.") and m["name"].endswith(".share")
        ]
        values.update(core_ledger(run.ref["per_doc"], [k for k in kinds if k != "other"]))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    fp = fingerprint(args, cores, [n for _df, n in run.inputs], values["data.input_mb"])
    fp["passes"] = len(run.passes)
    fp["pass_s"] = [round(p["seconds"], 3) for p in run.passes]
    fp["loop_steal_frac"] = round(run.loop_steal_frac, 4)
    if args.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, "%s-seed%d-%s.json" % (args.workload, args.seed, run_id)),
            {"fingerprint": fp, "values": values, "failures": result["failures"]},
        )
    return {
        "correct": result["correct"],
        "failures": result["failures"],
        "attempted": result["attempted"],
        "failed": result["error_rows"] + result["missing"],
        "metrics": metrics,
        "fingerprint": fp,
    }
