"""The project's benchmark: named workloads over seeded inputs, every
output checked, end-to-end metrics by default and per-layer metrics
with ``--trace 1``.

    python3 perfbench/run.py --workload curation_lifecycle --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Each workload runs in one driver
process on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this process
may use) as a closed loop with one client: the workload's queries run
one after another in an order drawn from the seed, pass after pass,
until ``--seconds`` have passed and the workload's fixed number of
passes is done.

Set-up: the workload's input tables are generated from the seed
(``gen.py``, cached under ``perfbench/.inputs`` by seed and generator
digest; its time is reported apart, as ``phases_s.gen``, and is not part
of ``setup_s``), the Spark session starts, the registry loads, and one
cold pass runs every query once and collects its output.  That output
is compared with the query's DuckDB oracle by
``tests/oracle_compare.assert_frames_match`` outside any timed span, and
the digest of the collected rows becomes the query's verified digest.
Every timed call then runs a full-work action that no column pruning
can shorten, ``count`` plus an order-insensitive digest of
``xxhash64`` over every output column, and must reproduce the verified
digest.  A call that raises or mismatches counts as failed and is named
in the report.

Writes are hermetic: ``tempfile``, ``java.io.tmpdir``, the Spark local
dirs and the warehouse all point into a per-run directory under
``perfbench/.runs`` that is measured and then deleted.  The driver JVM's
GC log goes there too; ``alloc_mb_per_pass`` is read from it.

Output: one line per metric with its unit, then a ``report`` line (JSON:
every metric, the time of each phase, the noise record with each call's
plan digest and stage count, and the failures by query name), then, as
the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the ``end_to_end`` metrics of BENCHMARK.json,
or its ``per_layer`` metrics with ``--trace 1``.  A traced run also
writes its spans to ``perfbench/.out/spans-<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from hashlib import md5

import numpy as np

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
INPUTS = os.path.join(HERE, ".inputs")
RUNS = os.path.join(HERE, ".runs")
OUT = os.path.join(HERE, ".out")
KEEP_INPUT_SETS = 4
HASH_COL = "__perfbench_h"
# A fixed-size driver heap (initial = max), in place of the program's
# own 32g ``spark.driver.memory``: with a growable heap the JVM's
# resident size follows its adaptive sizing, which made peak RSS swing
# by up to a third between runs of one workload.  Pinned, peak RSS is
# mostly this heap, so the gated memory figure is read from the GC log
# instead: the heap the program allocates per pass.
DRIVER_HEAP = "2g"

# Why each workload and query was chosen is recorded in BENCHMARK.json
# and CHANGES.md.  ``tables`` names each input table and its blow-up
# factor.  A run makes a fixed number of timed passes, so every run of
# a workload measures the same warm-up state.
WORKLOADS = {
    "analytics_x10": {
        "tables": {"events": 10},
        "passes": 4,
        "queries": [
            "q_join_asof",
            "q_rfm_segmentation",
        ],
    },
    "curation_lifecycle": {
        "tables": {"events": 1, "documents": 1, "embeddings": 1},
        "passes": 4,
        "queries": [
            "q_dedup_components",
            "q_cosine_sim",
            "q_matview_incremental",
        ],
    },
}
# per-layer metric prefix -> the span names that belong to that layer
LAYER_SPANS = {
    "sources.load_table": "sources.tables.load_table",
    "sources.txlog": "sources.txlog.",
    "sources.matview": "sources.matview.",
    "operators.dedup": "operators.dedup.",
    "operators.similarity": "operators.similarity.",
    "operators.ranking": "operators.ranking.",
    "operators.asof": "operators.asof.",
}


# ---------------------------------------------------------------- inputs


def prepare_inputs(seed: int, tables: dict[str, int]) -> tuple[str, dict, float]:
    """Generate (or reuse) the seed's input files; return their dir, the
    bytes per table and the generation time (0 on a cache hit).  The
    cache key covers the generator's source, so an edited ``gen.py``
    never reuses stale inputs."""
    spec = [f"{t}={f}" for t, f in sorted(tables.items())]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        digest = md5(f.read() + " ".join(spec).encode()).hexdigest()[:12]
    key = f"seed{seed}-{digest}"
    path = os.path.join(INPUTS, key)
    marker = os.path.join(path, "_COMPLETE")
    gen_s = 0.0
    if not os.path.exists(marker):
        t0 = time.perf_counter()
        os.makedirs(INPUTS, exist_ok=True)
        partial = os.path.join(INPUTS, f".{key}-{uuid.uuid4().hex}")
        # a child process, so the generator's memory never counts in
        # this process's peak_rss_mb
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), partial, str(seed), *spec],
            stdout=subprocess.PIPE, check=True, text=True,
        )
        with open(os.path.join(partial, "_COMPLETE"), "w") as f:
            f.write(proc.stdout)
        os.rename(partial, path)
        gen_s = time.perf_counter() - t0
    os.utime(path)
    _evict_input_sets()
    with open(marker) as f:
        sizes = json.loads(f.read())
    return path, sizes, gen_s


def _evict_input_sets() -> None:
    sets = sorted(
        (os.path.join(INPUTS, d) for d in os.listdir(INPUTS)),
        key=os.path.getmtime,
    )
    for stale in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(stale, ignore_errors=True)


# ------------------------------------------------------------- host noise


def steal_ms() -> float:
    """Cumulative hypervisor steal time from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return int(parts[8]) * 1000.0 / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def rss_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Peak of (driver JVM RSS + Python driver RSS), sampled from session
    start to the end of the timed passes."""

    def __init__(self, jvm_pid: int, period_s: float = 0.05):
        super().__init__(daemon=True)
        self._pids = [jvm_pid, "self"]
        self._period = period_s
        self._stop_evt = threading.Event()
        self.peak_mb = 0.0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, sum(rss_mb(p) for p in self._pids))
            self._stop_evt.wait(self._period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


GC_LINE = re.compile(
    r"^\[([\d.]+)s\].*GC\(\d+\) Pause .* (\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)"
)
UNIT_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def gc_log(path: str) -> list[tuple[float, float, float]]:
    """(JVM uptime s, heap MB before, heap MB after) of every GC pause in
    a ``-Xlog:gc`` file."""
    out = []
    with open(path) as f:
        for line in f:
            m = GC_LINE.match(line)
            if m:
                t, b, bu, a, au = m.groups()
                out.append((float(t), int(b) * UNIT_MB[bu], int(a) * UNIT_MB[au]))
    return out


def allocated_mb(pauses, t0: float, t1: float, used0: float, used1: float) -> float:
    """Heap MB allocated between JVM uptimes ``t0`` and ``t1``, given the
    heap in use at both ends: the growth between consecutive pauses."""
    total, prev = 0.0, used0
    for t, before, after in pauses:
        if t0 <= t <= t1:
            total += max(0.0, before - prev)
            prev = after
    return total + max(0.0, used1 - prev)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                nbytes += os.lstat(os.path.join(root, name)).st_size
                nfiles += 1
            except OSError:
                pass
    return nbytes, nfiles


# ----------------------------------------------------------- output check


def digest_of_hashes(hashes) -> tuple:
    """(rows, sum of low 32 bits, xor) of per-row xxhash64 values: the
    same digest the timed action computes inside Spark."""
    h = np.asarray(hashes, dtype=np.int64)
    if len(h) == 0:
        return (0, None, None)
    return (
        int(len(h)),
        int((h.view(np.uint64) & np.uint64(0xFFFFFFFF)).sum(dtype=np.uint64)),
        int(np.bitwise_xor.reduce(h)),
    )


def timed_action(df):
    """count + order-insensitive digest over every output column: no
    column can be pruned, and the result is three numbers."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return df.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(0xFFFFFFFF)),
        F.bit_xor(h),
    )


# ----------------------------------------------------------------- plans


def plan_digest(df) -> str:
    """8-hex digest of the executed plan's operator names (AQE final and
    initial plans both included), blind to expression ids, sizes and
    scan metadata, so only a structural replan changes it."""
    text = df._jdf.queryExecution().executedPlan().toString()
    ops = []
    for line in text.splitlines():
        m = re.match(r"[\s:+\-|*()\d]*(\w+)", line)
        if m:
            ops.append(m.group(1))
    return md5("\n".join(ops).encode()).hexdigest()[:8]


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())))


# ----------------------------------------------------------------- stats


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """Highest percentile of ``xs`` with at least ten samples above it:
    (value, percentile, samples).  With ten samples or fewer no such
    percentile exists and the maximum is reported at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    k = n - 11  # s[k] has exactly ten samples after it
    return s[k], 100.0 * (k + 1) / n, n


# ----------------------------------------------------------------- bench


class Bench:
    def __init__(self, workload: dict, inputs: str, run_dir: str):
        self.names = workload["queries"]
        self.tables = list(workload["tables"])
        self.passes = workload["passes"]
        self.inputs = inputs
        self.run_dir = run_dir
        self.tmp = os.path.join(run_dir, "tmp")
        self.local = os.path.join(run_dir, "local")
        self.gc_log = os.path.join(run_dir, "gc.log")
        self.warehouse = os.path.join(run_dir, "warehouse")
        for d in (self.tmp, self.local, self.warehouse):
            os.makedirs(d)
        self.failures: list[str] = []
        self.attempted = 0
        self.verified: dict[str, tuple] = {}
        self.calls: list[dict] = []
        self.tracer = None

    # -- session ---------------------------------------------------------

    def start(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        tempfile.tempdir = self.tmp
        sys.path.insert(0, ROOT)
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        t0 = time.perf_counter()
        from dask_cudf_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.local.dir": self.local,
                "spark.sql.warehouse.dir": self.warehouse,
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                    f" -Xlog:gc:file={self.gc_log}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.session_start_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        from dask_cudf_spark.registry import all_oracles, all_queries

        self.queries = all_queries()
        self.oracles = all_oracles()
        self.registry_s = time.perf_counter() - t1
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.rss = RssSampler(self.jvm_pid)
        self.rss.start()

    def stop(self) -> None:
        self.spark.stop()
        gw = self.sc._gateway
        self.sc._gateway = None
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- cold pass + oracle ------------------------------------------------

    def verify_pass(self, order: list[str]) -> None:
        """Cold pass: run each query once, collect its rows with their
        per-row hash, then (outside the timed span) check the rows
        against the DuckDB oracle."""
        import duckdb
        from oracle_compare import assert_frames_match
        from pyspark.sql import functions as F

        collected = {}
        self.cold_s: dict[str, float] = {}
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.inputs)
                h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
                pdf = df.select("*", h.alias(HASH_COL)).toPandas()
            except Exception as e:  # a failing query is reported, not fatal
                self._fail(name, "cold call", e)
                continue
            finally:
                self.cold_s[name] = time.perf_counter() - t0
            collected[name] = pdf
        t_oracle = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.environ['SPARK_GRAFT_CPUS']}")
        for t in self.tables:
            path = os.path.join(self.inputs, f"{t}.parquet")
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, pdf in collected.items():
            digest = digest_of_hashes(pdf[HASH_COL].to_numpy())
            out = pdf.drop(columns=[HASH_COL])
            sql = self.oracles.get(name)
            try:
                if sql is None:
                    raise AssertionError("no oracle registered")
                assert_frames_match(out, con.execute(sql).fetchdf(), name)
            except Exception as e:  # mismatch or oracle error: name it
                self._fail(name, "oracle", e)
                continue
            self.verified[name] = digest
        con.close()
        self.oracle_s = time.perf_counter() - t_oracle
        self.cold_pass_s = sum(self.cold_s.values())

    def _fail(self, name: str, where: str, err: BaseException) -> None:
        msg = str(err).strip().splitlines()
        self.failures.append(
            f"{name} [{where}] {type(err).__name__}: {msg[0][:300] if msg else ''}"
        )

    # -- timed passes --------------------------------------------------------

    def run_call(self, name: str, trace_id: int) -> dict:
        fn = self.queries[name]
        tr = self.tracer
        job0 = spans.next_job_id(self.sc)
        rec = {"q": name}
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = fn(self.spark, self.inputs)
                agg = timed_action(df)
                row = agg.collect()[0]
            else:
                tr.begin_call(trace_id)
                with tr.span("call"):
                    with tr.span("queries.build"):
                        df = fn(self.spark, self.inputs)
                    agg = timed_action(df)
                    with tr.span("plan"):
                        agg._jdf.queryExecution().executedPlan()
                    with tr.span("exec"):
                        row = agg.collect()[0]
            rec["s"] = time.perf_counter() - t0
            got = (int(row[0]), None if row[1] is None else int(row[1]),
                   None if row[2] is None else int(row[2]))
            want = self.verified.get(name)
            if want is None:
                self._fail(name, "timed call", AssertionError("output never verified"))
            elif got != want:
                self._fail(name, "timed call", AssertionError(
                    f"digest {got} != verified {want}"))
            rec["plan"] = plan_digest(agg)
        except Exception as e:  # counted in failed_frac and named
            rec["s"] = time.perf_counter() - t0
            self._fail(name, "timed call", e)
        rec["jobs"] = [job0, spans.next_job_id(self.sc)]
        return rec

    def timed_passes(self, seconds: float, seed: int) -> None:
        """Closed loop: passes in seeded query order until ``seconds``
        have passed and the workload's passes are done."""
        rng = np.random.default_rng([seed, 1])
        self.pass_s: list[float] = []
        steal0, gc0, written0 = steal_ms(), gc_ms(self.spark), self._written()
        heap0 = self._heap_now()
        t_start = time.perf_counter()
        while (
            len(self.pass_s) < self.passes
            or time.perf_counter() - t_start < seconds
        ):
            p0 = time.perf_counter()
            for name in rng.permutation(self.names):
                self.attempted += 1
                rec = self.run_call(str(name), len(self.calls))
                rec["pass"] = len(self.pass_s)
                self.calls.append(rec)
            self.pass_s.append(time.perf_counter() - p0)
        heap1 = self._heap_now()
        self.peak_rss_mb = self.rss.stop()
        self.alloc_mb = allocated_mb(
            gc_log(self.gc_log), heap0[0], heap1[0], heap0[1], heap1[1])
        self.steal_ms = steal_ms() - steal0
        self.gc_ms = gc_ms(self.spark) - gc0
        self.written = tuple(a - b for a, b in zip(self._written(), written0))
        # outside the timed span: each call's stages and input bytes
        for rec in self.calls:
            stages = spans.ran_stages(self.sc, spans.job_stages(self.sc, *rec["jobs"]))
            rec["stages"] = len(stages)
            rec["input_bytes"] = spans.stage_counters(
                self.sc, stages, {"inputBytes": ("input_bytes", 1)}
            )["input_bytes"]

    def _heap_now(self) -> tuple[float, float]:
        """(JVM uptime s, heap MB in use)."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return (mf.getRuntimeMXBean().getUptime() / 1000.0,
                mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)

    def _written(self) -> tuple[int, int]:
        """(bytes, files) the program has left in the run's temp dir and
        warehouse."""
        a, b = dir_usage(self.tmp), dir_usage(self.warehouse)
        return a[0] + b[0], a[1] + b[1]

    # -- metrics -------------------------------------------------------------

    def end_to_end(self) -> tuple[dict, dict]:
        """{metric: (value, unit)} and where the tail percentile fell."""
        times = [r["s"] for r in self.calls]
        tail_v, tail_p, n = tail(times)
        input_bytes = sum(r["input_bytes"] for r in self.calls)
        return {
            "setup_s": (self.session_start_s + self.registry_s + self.cold_pass_s, "s"),
            "pass_s": (median(self.pass_s), "s"),
            "query_p50_s": (median(times), "s"),
            "query_tail_s": (tail_v, "s"),
            "failed_frac": (len(self.failures) / max(1, self.attempted), "1"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "alloc_mb_per_pass": (self.alloc_mb / max(1, len(self.pass_s)), "MB"),
            "write_bytes_per_input_byte": (
                self.written[0] / input_bytes if input_bytes else 0.0, "1"
            ),
        }, {"tail_percentile": round(tail_p, 1), "tail_samples": n}

    def noise_record(self) -> dict:
        modal = {}
        for name in self.names:
            keys = [(r.get("plan"), r["stages"]) for r in self.calls if r["q"] == name]
            if keys:
                modal[name] = max(set(keys), key=keys.count)
        flips = sum(
            1 for r in self.calls
            if (r.get("plan"), r["stages"]) != modal.get(r["q"])
        )
        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "steal_ms": round(self.steal_ms, 1),
            "jvm_gc_ms": self.gc_ms,
            "plan_flips": flips,
            "calls": [
                [r["q"], r["pass"], round(r["s"], 4), r.get("plan"), r["stages"]]
                for r in self.calls
            ],
        }

    def per_layer(self, all_names: list[str]) -> dict:
        """Per-layer metrics of the traced passes, per pass."""
        tr = self.tracer
        npass = max(1, len(self.pass_s))
        by_trace: dict[int, list[dict]] = {}
        for s in tr.spans:
            by_trace.setdefault(s["trace"], []).append(s)
        m: dict[str, float] = {}

        def add(key, v):
            m[key] = m.get(key, 0.0) + v

        for call in by_trace.values():
            named = {}
            for s in call:
                named.setdefault(s["name"], []).append(s)
            build = named["queries.build"][0] if "queries.build" in named else None
            exe = named["exec"][0] if "exec" in named else None
            if build:
                add("queries.build_s", build["end"] - build["start"])
                c = self._counters(build["jobs"])
                add("queries.eager_jobs", build["jobs"][1] - build["jobs"][0])
                add("queries.eager_tasks", c["tasks"])
                add("queries.eager_task_s", c["task_s"])
            if "plan" in named:
                p = named["plan"][0]
                add("plan.s", p["end"] - p["start"])
            if exe:
                wall = exe["end"] - exe["start"]
                c = self._counters(exe["jobs"])
                add("exec.s", wall)
                add("exec.jobs", exe["jobs"][1] - exe["jobs"][0])
                add("exec.stages", c["stages"])
                for k in ("tasks", "task_s", "task_cpu_s", "gc_s",
                          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                    add(f"exec.{k}", c[k])
            for layer, prefix in LAYER_SPANS.items():
                ss = [s for s in call if s["name"].startswith(prefix)]
                add(f"{layer}.s", spans.union_length([(s["start"], s["end"]) for s in ss]))
                add(f"{layer}.calls", len(ss))
                add(f"{layer}.jobs", len(set().union(
                    *[range(*s["jobs"]) for s in ss])) if ss else 0)
        out = {k: v / npass for k, v in m.items()}
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        out["exec.core_util"] = (
            out.get("exec.task_s", 0.0) / (out["exec.s"] * cores) if out.get("exec.s") else 0.0
        )
        out["exec.plan_flips"] = self.noise_record()["plan_flips"]
        out["sources.write_bytes"] = self.written[0] / npass
        out["sources.files_written"] = self.written[1] / npass
        out["session.start_s"] = self.session_start_s
        out["session.cold_pass_s"] = self.cold_pass_s
        out["host.steal_ms"] = self.steal_ms
        out["host.gc_ms"] = self.gc_ms
        out["trace.overhead_s"] = tr.overhead_s / npass
        for name in all_names:
            ts = [r["s"] for r in self.calls if r["q"] == name]
            out[f"query.{name}.s"] = median(ts)
        return out

    def _counters(self, jobs: list[int]) -> dict:
        stages = spans.ran_stages(self.sc, spans.job_stages(self.sc, *jobs))
        c = spans.stage_counters(self.sc, stages)
        c["stages"] = len(stages)
        return c

    def write_spans(self, path: str) -> None:
        tr = self.tracer
        selfs = spans.self_times(tr.spans)
        with open(path, "w") as f:
            for s in tr.spans:
                f.write(json.dumps({**s, "self": selfs[s["id"]]}) + "\n")


# ------------------------------------------------------------------ main


def declared_metrics() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


T0 = time.perf_counter()


def on_sigterm(run_dir: str):
    """SIGTERM handler: kill the driver JVM (its Python workers exit with
    it) and delete the run directory.  A py4j call interrupted mid-way
    cannot stop Spark cleanly, so nothing is asked of the JVM."""

    def handler(signum, _frame):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(128 + signum)

    return handler


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("dask_cudf_spark/registry.py", "tests/oracle_compare.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a full checkout",
                  file=sys.stderr)
            return 2
    e2e_spec, layer_spec = declared_metrics()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    wl = WORKLOADS[args.workload]
    inputs, sizes, gen_s = prepare_inputs(args.seed, wl["tables"])
    os.makedirs(RUNS, exist_ok=True)
    for stale in os.listdir(RUNS):  # left by a run that was killed
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[-1]}"):
            shutil.rmtree(os.path.join(RUNS, stale), ignore_errors=True)
    run_dir = os.path.join(RUNS, f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, on_sigterm(run_dir))
    bench = Bench(wl, inputs, run_dir)
    try:
        bench.start()
        try:
            order = [str(n) for n in np.random.default_rng([args.seed, 0])
                     .permutation(wl["queries"])]
            bench.verify_pass(order)
            if args.trace:
                bench.tracer = spans.Tracer(bench.sc)
                bench.tracer.install()
            bench.timed_passes(args.seconds, args.seed)
            e2e, tail_info = bench.end_to_end()
            noise = bench.noise_record()
            layers = None
            if args.trace:
                bench.tracer.uninstall()
                all_names = sorted(
                    {n for w in WORKLOADS.values() for n in w["queries"]})
                layers = bench.per_layer(all_names)
                os.makedirs(OUT, exist_ok=True)
                spans_path = os.path.join(
                    OUT, f"spans-{args.workload}-seed{args.seed}.jsonl")
                bench.write_spans(spans_path)
        finally:
            bench.stop()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "phases_s": {
            "gen": round(gen_s, 3),
            "session_start": round(bench.session_start_s, 3),
            "registry": round(bench.registry_s, 3),
            "cold_pass": round(bench.cold_pass_s, 3),
            "cold_calls": {k: round(v, 3) for k, v in bench.cold_s.items()},
            "oracle": round(bench.oracle_s, 3),
            "timed": round(sum(bench.pass_s), 3),
            "total": round(time.perf_counter() - T0, 3),
        },
        "input_bytes": sum(sizes.values()),
        "passes": len(bench.pass_s),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        **tail_info,
        "noise": noise,
        "failures": bench.failures,
    }
    for k, (v, u) in e2e.items():
        print(f"{args.workload:14s} {k:28s} {v:14.6g} {u}")
    for f in bench.failures:
        print(f"FAILED {f}")
    if layers is not None:
        report["per_layer"] = layers
        report["spans_file"] = os.path.relpath(spans_path, ROOT)
        for k in sorted(layers):
            print(f"{args.workload:14s} {k:44s} {layers[k]:14.6g}")
    print("report " + json.dumps(report))
    if args.trace:
        units = {m["name"]: m["unit"] for m in layer_spec}
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in e2e_spec}
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
