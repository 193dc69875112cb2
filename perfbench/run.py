"""KG construction benchmark for pyjelly_spark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload build_fused --seed 1 --seconds 7 --trace 0
    python3 perfbench/run.py --describe        # every metric, unit and layer

Workloads (closed loop: one client, one operation at a time, Spark on
``local[nproc]``):

- ``build_fused``: one op is ``run_pipeline(resume=False)`` over a cached,
  seeded ``generate_source_files`` table, after the same run in set-up
  has paid the session's one-off JIT and Python-worker start.
- ``read_decode``: one op is ``read_jelly`` over the per-partition streams
  written during set-up (count + content checksum), followed by the split
  read of one object that concatenates them.

A run repeats the op until ``--seconds`` seconds have passed, and at least
``MIN_OPS`` times; each timing is the median over its ops.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
runs the ops traced / untraced / traced (Spark's event log is detached for
the untraced one), then the isolated layer calls, and prints the per-layer
metrics: the phase split of the first op and the overhead from the second
and third. ``--smoke`` runs at a tiny size and fails unless every metric
and every output check ran.

The last line of stdout is the JSON result; the line before it carries the
details (set-up split, percentiles, checks, output digest, environment).
Everything the run writes lives under ``.perfbench_run/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import zipfile
from collections import Counter
from dataclasses import asdict, dataclass

PROCESS_START = time.time()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")


@dataclass(frozen=True)
class Size:
    n_files: int
    rows_per_stream: int


SIZES = {
    # ~135k statements in 9 streams, the mega-repo over 3 salts. A fused
    # op costs about the same at 27 streams and 1/20 of the data, because
    # per-stream task cost dominates; 9 streams keep a warm op near 10 s.
    "full": Size(n_files=10_000, rows_per_stream=15_000),
    "smoke": Size(n_files=2_000, rows_per_stream=3_000),
}
SETUP_REPS = 3  # the repeatable part of set-up (table generate + cache)
# fewest ops an untraced run times: a fused op takes ~10 s and agrees with
# the next within a few percent; a read op takes ~2 s and jitters more
MIN_OPS = {"build_fused": 1, "read_decode": 3}
LOST_SHARE = 1 / 3  # streams the staged cycle's simulated crash deletes
DRIVER_MEM = "2g"
CHECKSUM_COLS = ("s_kind", "s_value", "p_value", "o_kind", "o_value", "o_lang", "o_datatype")

# output checks each mode must run at least once (smoke mode enforces it)
REQUIRED_CHECKS = {
    ("build_fused", 0): {"stream_sha256", "totals_across_reps"},
    ("build_fused", 1): {"stream_sha256", "totals_across_reps", "lineage",
                         "totals_between_shapes", "resume_reencodes_lost", "codec_roundtrip"},
    ("read_decode", 0): {"stream_sha256", "totals_between_reads",
                         "checksum_between_reads", "totals_across_reps"},
    ("read_decode", 1): {"stream_sha256", "totals_between_reads",
                         "checksum_between_reads", "totals_across_reps", "lineage",
                         "codec_roundtrip"},
}


def fail(message: str) -> None:
    print(f"perfbench: {message}", file=sys.stderr)
    sys.exit(2)


def package_sources() -> list:
    return sorted(glob.glob(os.path.join(ROOT, "pyjelly_spark", "**", "*.py"), recursive=True))


def package_zip(run_dir: str) -> str:
    """Zip the checkout's package the way ``spark-submit --py-files``
    ships it, so the driver and the Python workers import the same code
    and the session never writes a bundle outside the checkout."""
    path = os.path.join(run_dir, "pyjelly_spark.zip")
    with zipfile.ZipFile(path, "w") as bundle:
        for src in package_sources():
            bundle.write(src, os.path.relpath(src, ROOT))
    return path


def configure_environment(run_dir: str, bundle: str, event_log: str | None) -> None:
    """Size and place the session from outside the program: local dirs,
    temp files and the event log under ``run_dir``, driver heap through
    the program's own SPARK_DRIVER_* variables, no console progress bar."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_DRIVER_XOPTS"] = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    submit = [f"--py-files {bundle}", "--conf spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment() -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as handle:
        mem_kb = int(handle.readline().split()[1])
    digest = hashlib.sha256()
    for src in package_sources():
        with open(src, "rb") as handle:
            digest.update(handle.read())
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": git_commit(),
        "program_sha256": digest.hexdigest(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout, when it is a git work tree (read, not run)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.isfile(head):
        return None
    with open(head) as handle:
        ref = handle.read().strip()
    if not ref.startswith("ref: "):
        return ref
    ref = ref[5:]
    loose = os.path.join(ROOT, ".git", ref)
    if os.path.isfile(loose):
        with open(loose) as handle:
            return handle.read().strip()
    packed = os.path.join(ROOT, ".git", "packed-refs")
    if os.path.isfile(packed):
        with open(packed) as handle:
            for line in handle:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    return None


def tail_percentile(values: list) -> dict:
    """Median, plus the highest of p90/p99/p99.9 with at least ten
    samples beyond it (none below 100 samples), and the sample count."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    for pct in (99.9, 99.0, 90.0):
        if len(values) * (1 - pct / 100) >= 10:
            ranked = sorted(values)
            out[f"p{pct:g}"] = ranked[min(len(ranked) - 1, int(len(ranked) * pct / 100))]
            break
    return out


class WorkerRss:
    """Largest RSS of any Python worker under the session's JVM, sampled
    from /proc while ``active`` is set."""

    def __init__(self, jvm_pid: int, interval: float = 0.02) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    @staticmethod
    def _ppid(pid: str) -> int:
        with open(f"/proc/{pid}/stat") as handle:
            return int(handle.read().rsplit(")", 1)[1].split()[1])

    def _workers(self) -> list:
        found = []
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                parent = self._ppid(pid)
                if parent != self.jvm_pid and self._ppid(str(parent)) != self.jvm_pid:
                    continue
                with open(f"/proc/{pid}/cmdline", "rb") as handle:
                    if b"pyspark" in handle.read():
                        found.append(pid)
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we looked
        return found

    def _sample(self) -> None:
        for pid in self._workers():
            try:
                with open(f"/proc/{pid}/status") as handle:
                    for line in handle:
                        if line.startswith("VmRSS:"):
                            self.peak_kb = max(self.peak_kb, int(line.split()[1]))
                            break
            except OSError:
                continue

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.wait(0.2):
                self._sample()
                time.sleep(self.interval)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class EventLogSwitch:
    """Detach and re-attach the session's event-log listener, so a traced
    run can time untraced ops in the same process (trace.overhead_s)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        logger = self._sc.eventLogger()
        self._listener = logger.get() if logger.isDefined() else None
        self.on = self._listener is not None

    def set(self, on: bool) -> None:
        if self._listener is None or on == self.on:
            return
        if on:
            self._sc.addSparkListener(self._listener)
        else:
            self._sc.removeSparkListener(self._listener)
        self.on = on


class Bench:
    def __init__(self, args, size: Size, run_dir: str, tracer) -> None:
        self.args = args
        self.size = size
        self.run_dir = run_dir
        self.tracer = tracer
        self.checks = Counter()
        self.problems: list = []
        self.ops: list = []  # one dict per op
        self.setup: dict = {}
        self.extra: dict = {}
        self.layer: dict = {}
        self.lineage_ok = True
        self.read_reference = None  # (statements, checksum) of the set-up read

    # -- checks -----------------------------------------------------------
    def check(self, name: str, ok: bool, detail: str) -> bool:
        self.checks[name] += 1
        if not ok:
            self.problems.append(f"{name}: {detail}")
        return ok

    def check_streams(self, manifest) -> bool:
        """Manifest ``stream_sha256`` equals the bytes of each stream."""
        ok = True
        for path, sha in zip(manifest["file"], manifest["stream_sha256"]):
            with open(path, "rb") as handle:
                actual = hashlib.sha256(handle.read()).hexdigest()
            ok &= self.check("stream_sha256", actual == sha, f"{path} does not hash to its manifest sha")
        return ok

    @staticmethod
    def output_digest(manifest) -> str:
        return hashlib.sha256("".join(sorted(manifest["stream_sha256"])).encode()).hexdigest()

    # -- set-up -----------------------------------------------------------
    def start(self) -> None:
        from pyjelly_spark.session import build_session

        self.spark = build_session(master=f"local[{nproc()}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        self.events = EventLogSwitch(self.spark)
        self.events.set(False)  # traced runs log only the traced ops
        self.rss = WorkerRss(self.jvm.pid)
        self.setup["session_s"] = time.time() - PROCESS_START

    def seeded_table(self, n_files: int):
        """The generated table with every repo relabelled by the seed: the
        program sees only the table, and the relabel moves each repo's
        (repo, salt) hash partitions, the mega-repo's salts included."""
        from pyspark.sql import functions as F

        from pyjelly_spark.sources.source_repos import generate_source_files

        tag = hashlib.sha256(f"perfbench-{self.args.seed}".encode()).hexdigest()[:6]
        files = generate_source_files(self.spark, n_files)
        repo = F.concat(F.col("repo"), F.lit(f"-{tag}"))
        header = F.concat(F.lit("repo: "), F.col("repo"), F.lit(" "))
        return files.select(
            repo.alias("repo"), "path", "commit", "lang",
            F.replace("content", header, F.concat(F.lit("repo: "), repo, F.lit(" "))).alias("content"),
        )

    def config(self, out_dir: str, resume: bool):
        from pyjelly_spark.pipeline import PipelineConfig

        return PipelineConfig(out_dir=out_dir, rows_per_stream=self.size.rows_per_stream, resume=resume)

    def prepare(self) -> None:
        """Build the inputs: the seeded table, several times (set-up time
        is reported at the median), then the session's first pipeline run
        over it. That run pays about 20 s of one-off JIT, codegen and
        Python-worker start at any input size, so the ops after it are
        comparable. On read_decode it writes the op's input streams."""
        # the session's first Spark action pays a one-off JIT/codegen cost;
        # a tiny table takes it, so the repeated set-up below is comparable
        start = time.perf_counter()
        self.seeded_table(100).count()
        self.setup["first_action_s"] = time.perf_counter() - start
        tables = []
        for _ in range(SETUP_REPS):
            start = time.perf_counter()
            files = self.seeded_table(self.size.n_files).cache()
            files.count()
            tables.append(time.perf_counter() - start)
            if len(tables) < SETUP_REPS:
                files.unpersist(blocking=True)
        self.files = files
        self.setup["table_s"] = tables

        start = time.perf_counter()
        self.first_pipeline_run()
        self.setup["first_pipeline_s"] = time.perf_counter() - start
        if self.args.workload == "read_decode":
            # the read path's first call pays its own one-off start; an
            # untimed read takes it and gives the totals every op must match
            start = time.perf_counter()
            warm = self.op_read(traced=False)
            self.read_reference = (warm["stmts"], warm["checksum"])
            self.setup["first_read_s"] = time.perf_counter() - start

    def first_pipeline_run(self) -> None:
        """A fused run into the directory the ops use. On read_decode, also
        one object that concatenates its streams, kept outside that
        directory (the per-file reader cannot read a concatenation)."""
        from pyjelly_spark.pipeline import run_pipeline

        self.stream_dir = os.path.join(self.run_dir, "streams")
        manifest = run_pipeline(self.spark, self.files, self.config(self.stream_dir, False))
        self.check_streams(manifest)
        self.manifest = manifest
        self.expected_stmts = int(manifest["n_statements"].sum())
        if self.args.workload != "read_decode":
            return
        self.concat_path = os.path.join(self.run_dir, "concat", "all.jelly")
        os.makedirs(os.path.dirname(self.concat_path))
        with open(self.concat_path, "wb") as out:
            for path in sorted(manifest["file"]):
                with open(path, "rb") as handle:
                    out.write(handle.read())

    def setup_seconds(self) -> float:
        """Process start to first timed op, with the repeated table set-up
        counted once, at its median."""
        tables = self.setup["table_s"]
        return (time.time() - PROCESS_START) - sum(tables) + statistics.median(tables)

    # -- ops --------------------------------------------------------------
    def storage_entries(self) -> int:
        return len(self.spark.sparkContext._jsc.sc().getRDDStorageInfo())

    def op_fused(self, traced: bool) -> dict:
        from pyjelly_spark.pipeline import run_pipeline

        with self.tracer.span("run_pipeline", traced=traced) as span:
            manifest = run_pipeline(self.spark, self.files, self.config(self.stream_dir, False))
        ok = self.check_streams(manifest)
        stmts = int(manifest["n_statements"].sum())
        ok &= self.check("totals_across_reps", stmts == self.expected_stmts,
                         f"{stmts} statements, the set-up run had {self.expected_stmts}")
        self.manifest = manifest
        return {
            "wall_s": span.seconds, "stmts": stmts, "bytes": int(manifest["n_bytes"].sum()),
            "ok": ok, "digest": self.output_digest(manifest), "span": span,
        }

    def count_and_checksum(self, df) -> tuple:
        from pyspark.sql import functions as F

        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*CHECKSUM_COLS).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return int(row["n"]), str(row["h"])

    def op_read(self, traced: bool) -> dict:
        from pyjelly_spark.sources.jelly_io import read_jelly

        with self.tracer.span("read_jelly", traced=traced) as span:
            n, checksum = self.count_and_checksum(read_jelly(self.spark, self.stream_dir))
        with self.tracer.span("read_jelly.split", traced=traced) as split:
            n_split, checksum_split = self.count_and_checksum(
                read_jelly(self.spark, self.concat_path, split_foreign_files=True)
            )
        ok = self.check("totals_between_reads", n == n_split == self.expected_stmts,
                        f"per-file {n}, split {n_split}, manifest {self.expected_stmts}")
        ok &= self.check("checksum_between_reads", checksum == checksum_split,
                         f"per-file {checksum} != split {checksum_split}")
        first = self.read_reference or (n, checksum)
        ok &= self.check("totals_across_reps", (n, checksum) == first,
                         f"{n} statements, checksum {checksum}; the set-up read had {first}")
        return {
            "wall_s": span.seconds, "split_wall_s": split.seconds, "stmts": n,
            "bytes": int(self.manifest["n_bytes"].sum()), "ok": ok, "checksum": checksum,
            "span": span, "split_span": split,
        }

    def run_ops(self) -> None:
        op = self.op_fused if self.args.workload == "build_fused" else self.op_read
        traced_run = bool(self.args.trace)
        min_ops = 3 if traced_run else MIN_OPS[self.args.workload]
        start = time.perf_counter()
        while True:
            traced = traced_run and len(self.ops) % 2 == 0
            self.events.set(traced)
            before = self.storage_entries()
            self.rss.active.set()
            try:
                result = op(traced)
            except Exception as exc:  # an op that raises counts as failed
                result = {"ok": False, "error": repr(exc)}
                self.problems.append(f"op raised: {exc!r}")
            finally:
                self.rss.active.clear()
            result["traced"] = traced
            result["leaked"] = self.storage_entries() - before
            self.ops.append(result)
            if time.perf_counter() - start >= self.args.seconds and len(self.ops) >= min_ops:
                break
        self.events.set(False)

    # -- after the timed window --------------------------------------------
    def verify_lineage(self) -> None:
        from pyjelly_spark.pipeline import verify_lineage

        total, matched = verify_lineage(self.spark, self.files, self.stream_dir)
        self.extra["lineage"] = [int(total), int(matched)]
        self.lineage_ok = self.check("lineage", total == matched == self.size.n_files,
                                     f"{matched} of {total} source rows matched, {self.size.n_files} expected")

    def staged_cycle(self) -> None:
        """Cold staged run, a crash that loses a seed-chosen share of the
        streams, then the resumed run."""
        from pyjelly_spark.pipeline import run_pipeline

        out_dir = os.path.join(self.run_dir, "staged")
        with self.tracer.span("run_pipeline.cold") as cold:
            manifest = run_pipeline(self.spark, self.files, self.config(out_dir, True))
        self.check_streams(manifest)
        staged = int(manifest["n_statements"].sum())
        fused = self.expected_stmts
        self.check("totals_between_shapes", staged == fused, f"staged {staged} != fused {fused}")
        streams = sorted(manifest["file"])
        lost = random.Random(self.args.seed).sample(streams, max(1, round(len(streams) * LOST_SHARE)))
        for path in lost:
            os.remove(path)
        with self.tracer.span("run_pipeline.resume") as resume:
            resumed = run_pipeline(self.spark, self.files, self.config(out_dir, True))
        self.check_streams(resumed)
        reencoded = int((resumed["skipped"] == 0).sum())
        self.check("resume_reencodes_lost", reencoded == len(lost) and
                   int(resumed["n_statements"].sum()) == staged,
                   f"re-encoded {reencoded} of {len(lost)} lost streams")
        self.layer["jelly_io.resumed_share"] = reencoded / len(resumed)
        self.layer["pipeline.staged_cold_wall_s"] = cold.seconds
        self.layer["pipeline.staged_resume_wall_s"] = resume.seconds
        self.staged_spans = (cold, resume)

    def traced_extras(self) -> None:
        """The isolated layer calls of a traced run, after the timed ops."""
        import layers

        streams = []
        for path in sorted(self.manifest["file"]):
            with open(path, "rb") as handle:
                streams.append(handle.read())
        try:
            self.layer.update(layers.codec_layers(max(streams, key=len), b"".join(streams),
                                                  len(streams), self.tracer))
            self.check("codec_roundtrip", True, "")
        except ValueError as exc:
            self.check("codec_roundtrip", False, str(exc))
        if self.args.workload == "build_fused":
            self.events.set(True)
            self.layer.update(layers.operator_layers(self.files, self.tracer))
            self.staged_cycle()
            self.events.set(False)

    def stop(self) -> None:
        """Stop the session, the JVM and the sampler; wait for each."""
        if not hasattr(self, "spark"):  # the session never started
            return
        self.rss.close()
        sc = self.spark.sparkContext
        gateway = sc._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)


def layer_metrics(bench: Bench, event_log: str, cores: int) -> dict:
    """Per-layer numbers from the event log: the phase split of the first
    (traced) op, and the trace overhead from the next two ops."""
    import spans as sp

    (log_file,) = glob.glob(os.path.join(event_log, "*"))
    jobs = sp.read_event_log(log_file, sp.FunctionIndex(ROOT))
    first, untraced, traced = bench.ops[:3]
    if not (first["ok"] and first["traced"] and traced["traced"] and not untraced["traced"]):
        raise ValueError("the traced run needs ops traced / untraced / traced, the first one good")
    span = first["span"]
    inner = sp.jobs_in(span, jobs)
    selfs = sp.self_times(span, inner)
    tasks = [t for j in inner for t in j.tasks]
    out = dict(bench.layer)
    out.update({
        "op.jobs": len(inner),
        "op.driver_only_s": selfs.get(sp.DRIVER, 0.0),
        "op.core_busy_ratio": sum(t.run_s for t in tasks) / (span.seconds * cores),
        "spark.gc_s": sum(t.gc_s for t in tasks),
        "spark.shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "spark.spill_bytes": sum(t.spill for t in tasks),
        "spark.peak_exec_mem_mb": max((t.peak_mem for t in tasks), default=0) / 2**20,
        "trace.overhead_s": traced["wall_s"] - untraced["wall_s"],
    })
    if bench.args.workload == "build_fused":
        write = [t for j in inner if j.label == "sources.jelly_io.write_jelly" for t in j.tasks if t.result]
        durations = [t.finish - t.launch for t in write]
        counts = bench.manifest["n_statements"]
        cold, _resume = bench.staged_spans
        staged = sp.self_times(cold, sp.jobs_in(cold, jobs))
        out.update({
            "pipeline.histogram_s": selfs.get("pipeline.plan_partitions", 0.0),
            "jelly_io.write_s": selfs.get("sources.jelly_io.write_jelly", 0.0),
            "jelly_io.write_task_median_s": statistics.median(durations),
            "jelly_io.write_task_max_s": max(durations),
            "jelly_io.write_jvm_cpu_share": sum(t.cpu_s for t in write) / sum(t.run_s for t in write),
            "jelly_io.stream_skew": float(counts.max() / counts.median()),
            "jelly_io.frames": float(bench.manifest["n_frames"].sum()),
            "pipeline.digest_s": staged.get("pipeline.run_pipeline", 0.0),
            "pipeline.stage_write_s": staged.get(sp.NO_CALL_SITE, 0.0),
        })
    else:
        split = first["split_span"]
        # the split read runs two Python-UDF stages: the segment scan,
        # then (after the round-robin shuffle) the segment decode
        udf = sp.stage_spans([t for j in sp.jobs_in(split, jobs) for t in j.tasks if t.python_udf])
        if len(udf) != 2:
            raise ValueError(f"split read ran {len(udf)} Python-UDF stages, expected scan + decode")
        (_, scan_lo, scan_hi), (_, dec_lo, dec_hi) = udf
        out.update({
            "jelly_io.read_s": span.seconds - selfs.get(sp.DRIVER, 0.0),
            "jelly_io.read_task_max_s": max(t.finish - t.launch for t in tasks if t.python_udf),
            "jelly_io.split_wall_s": split.seconds,
            "jelly_io.split_scan_s": scan_hi - scan_lo,
            "jelly_io.split_decode_s": dec_hi - dec_lo,
        })
    bench.extra["trace_check"] = {
        "op_wall_s": span.seconds, "phase_self_s": selfs, "phase_self_sum_s": sum(selfs.values()),
        "untraced_wall_s": untraced["wall_s"], "traced_wall_s": traced["wall_s"],
    }
    sp.dump(os.path.join(RUN_ROOT, "spans.json"), bench.tracer, jobs)
    return out


def end_to_end_metrics(bench: Bench, setup_s: float) -> dict:
    good = [op for op in bench.ops if op["ok"]]
    walls = [op["wall_s"] for op in good]
    wall = statistics.median(walls) if walls else float("nan")
    stmts = statistics.median([op["stmts"] for op in good]) if good else 0
    n_bytes = statistics.median([op["bytes"] for op in good]) if good else 0
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "stmts_per_s": stmts / wall,
        "out_bytes_per_stmt": n_bytes / max(stmts, 1),
        "worker_peak_rss_mb": bench.rss.peak_kb / 1024,
    }


def load_layer_map() -> dict:
    with open(os.path.join(BENCH_DIR, "layer_map.json")) as handle:
        return json.load(handle)["metrics"]


def describe(spec: dict) -> None:
    layer_map = load_layer_map()
    for kind in ("end_to_end", "per_layer"):
        print(f"# {kind}")
        for metric in spec[kind]:
            info = layer_map.get(metric["name"], {})
            print(f"{metric['name']:34s} {metric['unit']:8s} {metric['better']:6s} "
                  f"bound={metric.get('bound', '-')!s:5s} {info.get('what', '')}")
            if "layer" in info:
                print(f"{'':34s} layer={info['layer']} moves={info['moves']} "
                      f"heavy_on={info['heavy_on']} bypassed_by={info['bypassed_by']}")


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("--workload", choices=["build_fused", "read_decode"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=7)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--smoke", action="store_true", help="tiny input, for the benchmark's own tests")
    parser.add_argument("--describe", action="store_true", help="print every metric with its unit and layer")
    args = parser.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(f"no BENCHMARK.json at {ROOT}")
    with open(spec_path) as handle:
        spec = json.load(handle)
    if args.describe:
        describe(spec)
        return
    if args.workload is None:
        parser.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "pyjelly_spark", "__init__.py")):
        fail(f"no pyjelly_spark package under {ROOT}: nothing to benchmark")

    run_dir = os.path.join(RUN_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bundle = package_zip(run_dir)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    configure_environment(run_dir, bundle, event_log)
    sys.path.insert(0, bundle)

    import spans

    size = SIZES["smoke" if args.smoke else "full"]
    bench = Bench(args, size, run_dir, spans.Tracer())
    try:
        bench.start()
        bench.prepare()
        setup_s = bench.setup_seconds()
        bench.run_ops()
        if args.trace:
            bench.verify_lineage()
            bench.traced_extras()
        if not bench.lineage_ok:  # every op wrote or read unmatched output
            for result in bench.ops:
                result["ok"] = False
        e2e = end_to_end_metrics(bench, setup_s)
    finally:
        bench.stop()

    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    expected = set(units)
    metrics = e2e
    if args.trace:
        metrics = layer_metrics(bench, event_log, nproc())
        measured_on = {name: info.get("measured_on", []) for name, info in load_layer_map().items()}
        expected = {name for name in units if args.workload in measured_on[name]}
    if set(metrics) != expected:
        fail(f"metrics emitted {sorted(set(metrics) ^ expected)} differ from BENCHMARK.json {kind}")
    # a layer the workload bypasses reads 0: the op never calls it
    metrics = {name: metrics.get(name, 0.0) for name in units}
    missing = REQUIRED_CHECKS[(args.workload, args.trace)] - set(bench.checks)
    if missing:
        fail(f"output checks never ran: {sorted(missing)}")

    failed = sum(1 for op in bench.ops if not op["ok"])
    leaked = sum(op["leaked"] for op in bench.ops)
    digests = {op["digest"] for op in bench.ops if "digest" in op}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "size": asdict(size),
        "env": environment(),
        "setup": bench.setup,
        "wall_s": tail_percentile([op["wall_s"] for op in bench.ops if op["ok"]]),
        "op_walls_s": [round(op["wall_s"], 4) for op in bench.ops if "wall_s" in op],
        "failed_ops": failed / len(bench.ops),
        "storage_blocks_leaked": leaked,
        "checks": dict(bench.checks),
        "problems": bench.problems,
        "output_digest": Bench.output_digest(bench.manifest),
        "digest_stable_across_reps": len(digests) <= 1,
        **bench.extra,
    }
    if args.workload == "read_decode":
        detail["split_wall_s"] = tail_percentile([op["split_wall_s"] for op in bench.ops if op["ok"]])
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not bench.problems,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {name: {"value": float(value), "unit": units[name]} for name, value in metrics.items()},
    }))


if __name__ == "__main__":
    main()
