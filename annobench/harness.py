"""Benchmark set-up and process hygiene: the production Spark session on
``local[nproc]``, model and spotter-dictionary loading, model caching,
the warm-up pass, a /proc sampler of the process tree's resident memory,
and a stop that waits for every started process to end."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass, field

from gen import ROOT, WORK, Inputs

MODEL_TABLES = ("surface_forms", "resources", "candidates", "token_types", "context_counts")
# get_spark's own knob for the JVM heap (default 8g); 4g holds this
# model with room to spare and keeps the run's footprint small
DRIVER_MEMORY = "4g"
LOAD_REPEATS = 3  # model + dictionary loads per run; set-up reports the median


def cores() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# process tree memory (psutil is not installed; read /proc)
# ---------------------------------------------------------------------------


def _children_map() -> dict:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked Python workers) split among them, so the sum over a
    tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory (summed PSS) of this process and all
    its descendants (the Spark JVM, Python workers) every `interval` seconds;
    keeps the peak and every descendant pid seen."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self.pids: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        tree = process_tree(os.getpid())
        self.pids.update(tree[1:])
        self.peak_kb = max(self.peak_kb, sum(_pss_kb(p) for p in tree))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_gone(pids, timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL the stragglers."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# session + model set-up
# ---------------------------------------------------------------------------


def scratch_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


@dataclass
class Bench:
    """One benchmark process: the session, the loaded and cached model,
    the loaded dictionary and the set-up timings (seconds)."""

    inputs: Inputs
    label: str  # workload name, prefixed "tiny-" for self-test inputs
    trace: bool = False
    spark: object = None
    model: object = None
    dictionary: object = None
    docs: object = None
    docs_partitions: int = 0
    timings: dict = field(default_factory=dict)
    sampler: RssSampler | None = None  # traced runs only
    event_log_dir: str | None = None

    def start(self) -> "Bench":
        tmp = scratch_dir("tmp")  # keep every temporary file inside the checkout
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = scratch_dir("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.trace:
            self.sampler = RssSampler().start()
            self.event_log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(self.event_log_dir, ignore_errors=True)
            os.makedirs(self.event_log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        from dbpedia_spotlight_spark.session import get_spark

        self.spark = get_spark("annobench", master=f"local[{cores()}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.timings["session_s"] = time.perf_counter() - t0
        self._load()
        self._cache()
        self.docs = self.spark.read.parquet(self.inputs.docs_dir)
        self.docs_partitions = self.docs.rdd.getNumPartitions()
        return self

    def _load(self) -> None:
        from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
        from dbpedia_spotlight_spark.operators.spotter import SpotterDictionary

        load, dict_load = [], []
        for _ in range(LOAD_REPEATS):
            t0 = time.perf_counter()
            self.model = SpotlightModel.load(self.spark, self.inputs.model_dir)
            t1 = time.perf_counter()
            self.dictionary = SpotterDictionary.load(
                os.path.join(self.inputs.model_dir, "spotter_dict.pkl")
            )
            load.append(t1 - t0)
            dict_load.append(time.perf_counter() - t1)
        self.timings["load_s"] = statistics.median(load)
        self.timings["dict_load_s"] = statistics.median(dict_load)

    def _cache(self) -> None:
        t0 = time.perf_counter()
        for name in MODEL_TABLES:
            df = getattr(self.model, name)
            if df is not None:
                df.cache().count()
        self.timings["cache_s"] = time.perf_counter() - t0

    def warm_up(self, job) -> None:
        """Run `job(documents)` once on a small slice (the first input
        file) so JIT, codegen, Python-worker spawn and the model's lazy
        totals are paid before timing."""
        first = sorted(
            f for f in os.listdir(self.inputs.docs_dir) if f.endswith(".parquet")
        )[0]
        t0 = time.perf_counter()
        job(self.spark.read.parquet(os.path.join(self.inputs.docs_dir, first)))
        self.timings["warm_s"] = time.perf_counter() - t0

    @property
    def setup_s(self) -> float:
        t = self.timings
        return t["session_s"] + t["load_s"] + t["dict_load_s"] + t["cache_s"] + t["warm_s"]

    def close(self) -> None:
        """Stop Spark, end the Spark JVM and wait for every process this
        run started (the JVM and its Python workers) to exit."""
        pids = set(process_tree(os.getpid())[1:])
        if self.sampler is not None:
            self.sampler.stop()
            pids |= self.sampler.pids
        spark, self.spark = self.spark, None
        if spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        wait_gone(pids | set(process_tree(os.getpid())[1:]))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()
