"""One benchmark run: inputs, Spark set-up, the measured loop and the
traced run. ``perfbench/run.py`` is the entry point."""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from perfbench import checks, inputs
from perfbench.trace import (
    SparkRest,
    Tracer,
    descendants,
    idle_seconds,
    jit_cpu_s,
    peak_rss_bytes,
    python_cpu_s,
    tree_cpu_s,
)

# ~3.5k pages, ~53k triples: the per-row layers show, and set-up plus
# a few builds fit in one run's share of the benchmark's time budget
BULK_BUSINESSES = 300
# The first build in a JVM pays JIT and codegen (~20 s on 4 cores whatever
# the size), and the first build of a new corpus still ran up to 1.5x slow.
# So the warm-up builds a small corpus of the same shape (the cold build),
# then the measured corpus once.
WARM_BUSINESSES = 10
WARM_BUILDS = 1
# the measured window holds at least this many builds, however slow the
# host: per-build CPU still falls a few percent from one build to the next
MIN_BUILDS = 2
# the query store's layout: bucket(subject) dirs x predicate partitions.
# One bucket, not the commands' default 8: at 8 buckets one CQ takes
# ~3.3 s on 4 cores and a suite ~58 s, more than a whole run may take
QUERY_BUCKETS = 1
SMALL_FILE_BYTES = 8 * 1024
LAYERS = ("scan", "extract", "parse", "emit", "dedup")
# operator each layer's noop sink must contain, as it prints in the plan
# (JsonToStructs prints as from_json)
PLAN_AUDIT = {
    "extract": ("ArrowEvalPython",),
    "parse": ("from_json(",),
    "emit": ("Generate ",),
    "dedup": ("Exchange ", "HashAggregate("),
}

CQ7_TEXT = """SELECT COUNT(DISTINCT(?s)) AS ?count_business
WHERE { ?s yelpvoc:locatedInCity 'Santa Barbara'^^xsd:string. }"""


def cq_texts() -> dict[str, str]:
    """The 16 reference CQ texts: ``tests/test_sparql.py``'s plus cq7."""
    from tests.test_sparql import CQ_TEXTS

    texts = dict(CQ_TEXTS, cq7=CQ7_TEXT)
    return {k: texts[k] for k in sorted(texts, key=lambda k: int(k[2:]))}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _tree_bytes(path: str) -> tuple[int, int, int, int]:
    """(parquet files, files under SMALL_FILE_BYTES, bytes, leaf dirs)."""
    files = small = total = 0
    dirs = set()
    for d, _sub, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size = os.path.getsize(os.path.join(d, n))
                files += 1
                small += size < SMALL_FILE_BYTES
                total += size
                dirs.add(d)
    return files, small, total, len(dirs)


def _rows(rows) -> list[tuple]:
    return [tuple(float(v) if isinstance(v, (int, float)) else v for v in r) for r in rows]


class Bench:
    def __init__(self, workload: str, seed: int, work: str):
        self.workload = workload
        self.seed = seed
        self.cache = os.path.join(work, "cache")
        self.run_dir = os.path.join(work, "run")
        self.out_dir = os.path.join(work, "out")
        self.local_dir = os.path.join(work, "spark-local")
        self.tmp_dir = os.path.join(work, "tmp")
        self.attempted = 0
        self.failed = 0
        self.peak_rss = 0
        self._pending: list = []
        self.spark = None

    # -- lifecycle -----------------------------------------------------------

    def __enter__(self) -> "Bench":
        for d in (self.run_dir, self.local_dir, self.tmp_dir):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        os.makedirs(self.out_dir, exist_ok=True)
        # inputs and oracles are generated before the clock starts
        self.corpus = inputs.corpus_dir(self.cache, "bulk", self.seed, BULK_BUSINESSES)
        self.warm = inputs.corpus_dir(self.cache, "warm", self.seed, WARM_BUSINESSES)
        self.meta = inputs.load_meta(self.corpus)
        self.t0 = time.perf_counter()
        self.cpu0 = tree_cpu_s()
        self.spark = self._start_spark()
        self.oracle = checks.Oracle(self.spark, self.corpus)
        return self

    def __exit__(self, *exc) -> None:
        self._stop_spark()

    def _start_spark(self):
        if os.listdir(self.local_dir):
            raise RuntimeError(f"Spark local dir {self.local_dir} is not empty")
        os.environ["YCKG_LOCAL_DIR"] = self.local_dir
        # A bounded heap keeps the run small on a shared machine. It is
        # also fixed and touched up front (-Xms, AlwaysPreTouch below): with
        # a growing heap, peak RSS followed G1's resizing and spread ~20%
        # between identical runs, and with an untouched one it still read
        # 0.7 GB low in one run of five.
        os.environ["YCKG_DRIVER_MEM"] = "2g"
        os.environ["TMPDIR"] = self.tmp_dir
        from yckg_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        return get_spark(
            "yckg-perfbench",
            master=f"local[{cores}]",
            extra_conf={
                # JIT compiler threads live as long as the JVM, so that
                # trace.jit_cpu_s can take their CPU out of op_cpu_s
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData -Xms2g"
                    " -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )

    def _stop_spark(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 20
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)

    # -- hygiene and checked operations ---------------------------------------

    def _persisted(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())

    def _release_leaks(self) -> None:
        self.spark.catalog.clearCache()
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for key in list(jmap.keySet().toArray()):
            jmap.get(key).unpersist()

    def _op(self, fn, check, out_dir: str | None = None):
        """Run one counted operation: ``fn() -> (seconds, value)``; returns
        ``(seconds, cpu_s, value)``, where ``cpu_s`` is the CPU the JVM and
        the Python processes spent on it outside the JIT compiler. Its
        ``check(value) -> problems`` runs in ``_judge``, after the timed
        window. Leaked persisted frames, an output dir that was already
        there, an exception or a wrong output fail the operation."""
        self.attempted += 1
        problems = []
        if self._persisted():
            problems.append(f"{self._persisted()} persisted RDDs before the operation")
            self._release_leaks()
        if out_dir is not None and os.path.exists(out_dir):
            problems.append(f"output dir {out_dir} exists before the operation")
            shutil.rmtree(out_dir)
        seconds = cpu = value = None
        try:
            cpu0, jit0 = tree_cpu_s(), jit_cpu_s()
            seconds, value = fn()
            cpu = tree_cpu_s() - cpu0 - (jit_cpu_s() - jit0)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted
            traceback.print_exc()
            problems.append(f"{type(e).__name__}: {e}")
            check = None
        if self._persisted():
            problems.append(f"{self._persisted()} persisted RDDs leaked by the operation")
            self._release_leaks()
        self.peak_rss = max(self.peak_rss, peak_rss_bytes())
        self._pending.append((check, value, problems))
        return seconds, cpu, value

    def _judge(self) -> None:
        """Check the outputs of the operations run since the last call."""
        for check, value, problems in self._pending:
            if check is not None:
                problems = problems + check(value)
            if problems:
                self.failed += 1
                print(f"perfbench: operation failed: {problems}", file=sys.stderr)
        self._pending.clear()

    def _warm_op(self, fn) -> None:
        """Warm-up operation: not counted; an exception stops the run."""
        fn()
        self._release_leaks()

    # -- the program's operations ----------------------------------------------

    def _build(self, corpus: str, store: str):
        from yckg_spark.materialize import run_resumable
        from yckg_spark.sources.web_pages import read_web_pages

        pages = read_web_pages(self.spark, os.path.join(corpus, "web_pages.parquet"))
        t = time.perf_counter()
        result = run_resumable(self.spark, pages, store, n_buckets=1)
        return time.perf_counter() - t, result

    def _check_build(self, oracle: checks.Oracle, store: str, want: int):
        def check(result) -> list[str]:
            got = result["total_triples"]
            count = [] if got == want else [f"committed {got} triples, oracle {want}"]
            return count + oracle.check_store(store)
        return check

    def _query_store(self) -> str:
        """The query workload's store: the oracle triples of the bulk corpus
        compacted into the canonical bucket x predicate layout."""
        from yckg_spark.materialize import compact_store

        src = os.path.join(self.run_dir, "query_src", "triples")
        os.makedirs(src)
        shutil.copy(
            os.path.join(self.corpus, "oracle_triples.parquet"),
            os.path.join(src, "part-00000.parquet"),
        )
        store = os.path.join(self.run_dir, "query_store")
        compact_store(self.spark, os.path.dirname(src), store, n_buckets=QUERY_BUCKETS)
        return store

    def _cq(self, store: str, text: str):
        """One CQ the way ``cli query`` answers it."""
        from yckg_spark.materialize import read_triples
        from yckg_spark.operators.canonicalize import dedup_triples
        from yckg_spark.plans.queries import register
        from yckg_spark.plans.sparql import run_sparql

        t = time.perf_counter()
        register(self.spark, dedup_triples(read_triples(self.spark, store)))
        rows = run_sparql(self.spark, text).collect()
        return time.perf_counter() - t, _rows(rows)

    def _check_cq(self, name: str):
        want = self.meta["cq_answers"][name]

        def check(rows) -> list[str]:
            return [] if checks.rows_match(rows, want) else [f"{name} rows {rows} != {want}"]
        return check

    def _result(self, metrics: dict) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    # -- trace 0: end-to-end metrics -------------------------------------------

    def measure(self, seconds: float) -> dict:
        if self.workload == "build_bulk":
            return self._measure_build(seconds)
        return self._measure_query(seconds)

    def _warm_builds(self) -> None:
        for i, corpus in enumerate([self.warm] * WARM_BUILDS + [self.corpus]):
            store = os.path.join(self.run_dir, f"warm_store-{i}")
            self._warm_op(lambda: self._build(corpus, store))
            shutil.rmtree(store)

    def _setup(self, excluded_cpu_s: float = 0.0) -> tuple[float, float]:
        """(CPU, wall) seconds from session start to now, less the CPU of
        work excluded from set-up."""
        wall = time.perf_counter() - self.t0
        return tree_cpu_s() - self.cpu0 - excluded_cpu_s, wall

    def _measure_build(self, seconds: float) -> dict:
        self._warm_builds()
        setup_s, setup_wall_s = self._setup()

        times, cpus, bytes_per_triple = [], [], []
        start = time.perf_counter()
        i = 0
        while i < MIN_BUILDS or time.perf_counter() - start < seconds:
            store = os.path.join(self.run_dir, f"store-{i}")
            dt, cpu, result = self._op(
                lambda: self._build(self.corpus, store),
                self._check_build(self.oracle, store, self.meta["triples"]),
                out_dir=store,
            )
            if dt is not None:
                times.append(dt)
                cpus.append(cpu)
                bytes_per_triple.append(
                    _tree_bytes(os.path.join(store, "triples"))[2] / result["total_triples"]
                )
            i += 1
        self._judge()
        build_s = statistics.median(times) if times else float("nan")
        report = {
            "workload": self.workload,
            "build_s": build_s,
            "pages_per_s": self.meta["pages"] / build_s,
            "triples_per_s": self.meta["triples"] / build_s,
            "builds": times,
            "build_cpu_s": cpus,
            "setup_wall_s": setup_wall_s,
            "pages": self.meta["pages"],
            "triples": self.meta["triples"],
            "failed_frac": self.failed / self.attempted,
        }
        print(json.dumps(report))
        return self._result(
            {
                "setup_s": _metric(setup_s, "s"),
                "op_cpu_s": _metric(statistics.median(cpus), "s"),
                "peak_rss_mb": _metric(self.peak_rss / 2**20, "MB"),
                "store_bytes_per_triple": _metric(statistics.median(bytes_per_triple), "B"),
            }
        )

    def _measure_query(self, seconds: float) -> dict:
        cpu0 = tree_cpu_s()
        store = self._query_store()
        prep_cpu_s = tree_cpu_s() - cpu0
        texts = cq_texts()
        for text in texts.values():
            self._warm_op(lambda: self._cq(store, text))
        setup_s, setup_wall_s = self._setup(prep_cpu_s)

        latencies: dict[str, list[float]] = {name: [] for name in texts}
        cpus: dict[str, list[float]] = {name: [] for name in texts}
        start = time.perf_counter()
        done = 0
        while done < len(texts) or time.perf_counter() - start < seconds:
            name = list(texts)[done % len(texts)]
            dt, cpu, _rows_ = self._op(lambda: self._cq(store, texts[name]), self._check_cq(name))
            if dt is not None:
                latencies[name].append(dt)
                cpus[name].append(cpu)
            done += 1
        self._judge()
        medians = {n: statistics.median(v) for n, v in latencies.items() if v}
        all_lat = [x for v in latencies.values() for x in v]
        report = {
            "workload": self.workload,
            "cq_suite_s": sum(medians.values()),
            "cq_p50_s": statistics.median(all_lat),
            "cq_median_s": medians,
            "cqs_run": len(all_lat),
            "setup_wall_s": setup_wall_s,
            "failed_frac": self.failed / self.attempted,
        }
        print(json.dumps(report))
        files, _small, nbytes, _dirs = _tree_bytes(os.path.join(store, "triples"))
        suite_cpu_s = sum(statistics.median(v) for v in cpus.values() if v)
        return self._result(
            {
                "setup_s": _metric(setup_s, "s"),
                "op_cpu_s": _metric(suite_cpu_s, "s"),
                "peak_rss_mb": _metric(self.peak_rss / 2**20, "MB"),
                "store_bytes_per_triple": _metric(nbytes / self.meta["triples"], "B"),
            }
        )

    # -- trace 1: per-layer metrics --------------------------------------------

    def traced(self, _seconds: float) -> dict:
        """One pass over the whole KG path with spans and job groups: the
        build layers as noop prefixes, the build itself, the link command and the CQ suite. The tracing
        overhead is this run's ``trace.build_cpu_s`` against the untraced
        runs' ``op_cpu_s`` on the same seed."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from yckg_spark.operators.canonicalize import dedup_triples
        from yckg_spark.operators.emit import emit_all
        from yckg_spark.operators.extract import with_extracted_text
        from yckg_spark.sources.web_pages import parse_records, read_web_pages

        spark = self.spark
        sc = spark.sparkContext
        rest = SparkRest(sc)
        tracer = Tracer(sc)
        span = tracer.span
        texts = cq_texts()

        query_store = self._query_store() if self.workload == "query_cq" else None
        self._warm_builds()
        if query_store is not None:
            for text in texts.values():
                self._warm_op(lambda: self._cq(query_store, text))

        m: dict[str, float] = {}
        audit: dict[str, str] = {}
        observed: dict[str, Observation] = {}

        def observe(df, key):
            observed[key] = Observation()
            return df.observe(observed[key], F.count(F.lit(1)).alias("n"))

        pages_path = os.path.join(self.corpus, "web_pages.parquet")
        noop_s: dict[str, float] = {}
        plan_s: dict[str, float] = {}
        cpu_s: dict[str, float] = {}
        for layer in LAYERS:
            persisted: list = []
            with span(f"prefix.{layer}"):
                with span("call.read_web_pages"):
                    pages = read_web_pages(spark, pages_path)
                scanned = pages.inputFiles()
                frames = [pages]
                if layer == "extract":
                    with span("call.with_extracted_text") as s:
                        frames = [
                            with_extracted_text(pages.filter(F.col("lang") == "en")).drop("html")
                        ]
                    plan_s[layer] = s["end"] - s["start"]
                elif layer != "scan":
                    with span("call.parse_records") as s:
                        records = parse_records(pages, persisted_out=persisted)
                    if layer == "parse":
                        plan_s[layer] = s["end"] - s["start"]
                        frames = list(records.values())
                    else:
                        with span("call.emit_all") as s:
                            triples, errors = emit_all(records)
                        if layer == "emit":
                            plan_s[layer] = s["end"] - s["start"]
                            frames = [observe(triples, "emit"), observe(errors, "errors")]
                        else:
                            with span("call.dedup_triples") as s:
                                out = dedup_triples(observe(triples, "dedup.in"))
                            plan_s[layer] = s["end"] - s["start"]
                            frames = [observe(out, "dedup.out"), errors]
                plan = "\n".join(f._jdf.queryExecution().executedPlan().toString() for f in frames)
                for token in PLAN_AUDIT.get(layer, ()):
                    audit[f"{layer}:{token.strip()}"] = "ok" if token in plan else "missing"
                cpu0 = python_cpu_s()
                with span(f"noop.{layer}") as s:
                    for f in frames:
                        f.write.format("noop").mode("overwrite").save()
                noop_s[layer] = s["end"] - s["start"]
                cpu_s[layer] = python_cpu_s() - cpu0
            if layer == "parse":
                m["parse.records"] = float(sum(f.count() for f in frames))
                m["parse.unclassified_rows"] = float(
                    persisted[0].filter(F.col("domain").isNull()).count()
                )
                m["parse.persisted_bytes"] = rest.storage_bytes()
            for df in persisted:
                df.unpersist(blocking=True)
        missing = [k for k, v in audit.items() if v != "ok"]

        # the build itself, in its own job group
        store = os.path.join(self.run_dir, "traced_store")
        wall = {}

        def traced_build():
            with span("build"):
                wall["start"] = time.time()
                seconds, result = self._build(self.corpus, store)
                wall["end"] = time.time()
            return seconds, result

        build_s, build_cpu_s, build = self._op(
            traced_build, self._check_build(self.oracle, store, self.meta["triples"]), out_dir=store
        )

        # the link command's path, verbatim
        link_out = os.path.join(self.run_dir, "link_out")

        def link():
            from yckg_spark import cli

            buf = io.StringIO()
            with span("link") as s, contextlib.redirect_stdout(buf):
                cli.main([
                    "link", "--input", pages_path, "--snapshots", self.corpus,
                    "--output", link_out,
                ])
            return s["end"] - s["start"], json.loads(buf.getvalue().strip().splitlines()[-1])

        link_s, _cpu, manifest = self._op(link, lambda _m: self.oracle.check_links(link_out), out_dir=link_out)

        # the CQ suite over the workload's store, one span per public call
        cq_store = query_store or store
        read_s, compile_s, exec_s, result_rows = [], [], [], 0
        read_files = 0
        for name, text in texts.items():
            def cq():
                from yckg_spark.materialize import read_triples
                from yckg_spark.plans.queries import register
                from yckg_spark.plans.sparql import compile_sparql

                with span(f"cq.{name}") as whole:
                    with span("call.read_triples") as s:
                        df = read_triples(spark, cq_store)
                    read_s.append(s["end"] - s["start"])
                    register(spark, dedup_triples(df))
                    with span("call.compile_sparql") as s:
                        sql = compile_sparql(text)
                    compile_s.append(s["end"] - s["start"])
                    with span(f"exec.{name}") as s:
                        rows = spark.sql(sql).collect()
                    exec_s.append(s["end"] - s["start"])
                return whole["end"] - whole["start"], (df, _rows(rows))

            _dt, _cpu, value = self._op(cq, lambda v, n=name: self._check_cq(n)(v[1]))
            if value is not None:
                read_files = len(value[0].inputFiles())
                result_rows += len(value[1])

        # stage and SQL metrics, read back by job group once everything ran
        rest.settle()
        sm = rest.snapshot()
        self._judge()
        # a layer's share of anything is its prefix's minus the previous
        # prefix's; commit is the whole build minus the dedup prefix
        noop_s["commit"] = build_s
        group = {layer: f"noop.{layer}" for layer in LAYERS}
        group["commit"] = "build"
        self_s = {}
        prev = None
        for layer in LAYERS + ("commit",):
            def delta(key, scale=1.0):
                cur = sm.stage_sum(group[layer], key)
                return (cur - (sm.stage_sum(group[prev], key) if prev else 0.0)) / scale

            self_s[layer] = noop_s[layer] - (noop_s[prev] if prev else 0.0)
            m[f"{layer}.self_s"] = self_s[layer]
            m[f"{layer}.executor_run_s"] = delta("executorRunTime", 1e3)
            m[f"{layer}.executor_cpu_s"] = delta("executorCpuTime", 1e9)
            m[f"{layer}.gc_s"] = delta("jvmGcTime", 1e3)
            if layer == "dedup":
                m["dedup.shuffle_read_bytes"] = delta("shuffleReadBytes")
                m["dedup.shuffle_write_bytes"] = delta("shuffleWriteBytes")
                m["dedup.spill_bytes"] = delta("memoryBytesSpilled") + delta("diskBytesSpilled")
            prev = layer
        # Spark's inputBytes reads ~1% of the file on the local filesystem,
        # so the scan's bytes are the sizes of the files it reads
        m["scan.input_bytes"] = float(sum(os.path.getsize(f[len("file:"):]) for f in scanned))
        m["scan.rows"] = sm.stage_sum("noop.scan", "inputRecords")
        m["extract.cpu_s"] = cpu_s["extract"] - cpu_s["scan"]
        m["extract.python_bytes_sent"] = sm.sql_metric(
            "noop.extract", "ArrowEvalPython", "data sent to Python workers"
        )
        m["extract.python_bytes_received"] = sm.sql_metric(
            "noop.extract", "ArrowEvalPython", "data returned from Python workers"
        )
        m["extract.ldjson_hit_frac"] = self.meta["ldjson_hit_frac"]
        m["parse.plan_s"] = plan_s["parse"]
        m["emit.plan_s"] = plan_s["emit"]
        m["emit.candidate_triples"] = float(observed["emit"].get["n"])
        m["emit.error_rows"] = float(observed["errors"].get["n"])
        dedup_in = observed["dedup.in"].get["n"]
        m["dedup.in_rows"] = float(dedup_in)
        m["dedup.kept_frac"] = observed["dedup.out"].get["n"] / dedup_in
        m["dedup.task_skew"] = sm.task_skew("noop.dedup")

        files, small, nbytes, _dirs = _tree_bytes(store)
        commits = build["buckets_committed"] if build else 0
        m["commit.count"] = float(commits)
        m["commit.per_commit_s"] = m["commit.self_s"] / max(commits, 1)
        m["commit.driver_s"] = idle_seconds(wall["start"], wall["end"], sm.busy_intervals("build"))
        m["commit.jobs"] = float(len(sm.group_jobs("build")))
        m["commit.files_written"] = float(files)
        m["commit.small_files"] = float(small)
        m["commit.bytes_written"] = float(nbytes)

        m["link.self_s"] = link_s
        m["link.business_rows"] = float(manifest["n_business"])
        m["link.city_link_rate"] = float(manifest["link_scores"]["city_link_rate"])
        m["link.triples"] = float(manifest["n_triples"])

        _f, _s, _b, partitions = _tree_bytes(os.path.join(cq_store, "triples"))
        m["read.plan_s"] = statistics.median(read_s)
        m["read.partitions"] = float(partitions)
        m["read.files"] = float(read_files)
        exec_groups = [f"exec.{n}" for n in texts]
        m["sparql.compile_s"] = statistics.median(compile_s)
        m["query.exec_s"] = statistics.median(exec_s)
        m["query.scan_rows_per_result_row"] = sum(
            sm.stage_sum(g, "inputRecords") for g in exec_groups
        ) / max(result_rows, 1)
        m["query.shuffle_bytes"] = sum(sm.stage_sum(g, "shuffleWriteBytes") for g in exec_groups)
        m["query.executor_run_s"] = sum(
            sm.stage_sum(g, "executorRunTime") for g in exec_groups
        ) / 1e3
        m.update(sm.totals())

        m["trace.build_s"] = build_s
        m["trace.build_cpu_s"] = build_cpu_s
        m["trace.layer_sum_frac"] = sum(self_s[layer] for layer in LAYERS) / build_s

        path = os.path.join(self.out_dir, f"trace-{self.workload}-s{self.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "plan_audit": audit,
                    "metrics": m,
                    "spans": [
                        dict(s, start=s["start"] - self.t0, end=s["end"] - self.t0)
                        for s in tracer.spans
                    ],
                },
                fh,
                indent=1,
            )
        if missing:
            raise RuntimeError(f"plan audit: layer sinks lack {missing}")
        return self._result({k: _metric(v, _unit(k)) for k, v in m.items()})


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or "bytes_" in name:
        return "B"
    if name.endswith(("_frac", "_rate", "_skew", "_per_result_row")):
        return "ratio"
    return "count"
