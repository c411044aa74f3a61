"""The Spark side of the benchmark: one ``local[cores]`` session per run,
the three workloads' passes, and readings taken from the plans that ran.

The engine is driven only through its public entry points:
``job.pipeline`` (session, extraction, snapshot, metrics), ``sources.warc``
and ``extract.links``.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid

from check import (Gate, check_extracted, check_host_graph, check_pages)
from stats import descendants, tree_cpu_s, vm_hwm_mb

__all__ = ["Engine", "WORKLOADS", "plan_metrics", "plan_shape"]

_OUT_COLS = ("url", "profile", "status", "envelope", "elapsed_us")


class Engine:
    """A SparkSession whose every file stays under ``work_dir``, and whose
    JVM is stopped and waited for by ``stop()``."""

    def __init__(self, work_dir, cores, root):
        self.work_dir = work_dir
        self.cores = cores
        local = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        # C1-only JIT and a heap sized up front: with the default tiered C2
        # and a growing heap, the JVM side of a pass (parquet write and
        # read-back, Arrow transfer) keeps speeding up for about ten
        # passes, longer than a run can afford to wait. With these flags
        # the per-pass cost is flat after the warm-up passes, and about
        # the same.
        os.environ.update({
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "SPARK_DRIVER_MEM": "2g",
            # Every JVM the session starts, the spark-submit launcher
            # included: no perf-data file in /tmp, temp files under work.
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.enabled=false "
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={work_dir}/warehouse "
                "--driver-java-options \"-XX:TieredStopAtLevel=1 -Xms2g\" "
                "pyspark-shell"),
        })
        self.spark = None
        self._jvm_proc = None

    def start(self, handful):
        """Build the session and extract ``handful`` page records; return
        (seconds from session build to the first result, that query)."""
        t0 = time.perf_counter()
        from html_parser_spark.job import pipeline as P
        self.spark = P.build_session(app="perfbench", cores=self.cores)
        self._jvm_proc = self.spark.sparkContext._gateway.proc
        df = self.spark.createDataFrame(
            [(r["url"], r["warc_ts"], r["html"], None, r["lang"])
             for r in handful], P.PAGES_SCHEMA)
        first = P.extract_pages(df)
        first.collect()
        setup_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return setup_s, first

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self._jvm_proc is not None:
            # The JVM exits when its stdin closes (PythonGatewayServer).
            self._jvm_proc.stdin.close()
            try:
                self._jvm_proc.wait(timeout=60)
            except Exception:
                self._jvm_proc.kill()
                self._jvm_proc.wait()
            self._jvm_proc = None

    def cpu_s(self):
        """CPU-seconds spent so far by this Python process, the JVM and
        the JVM's Python workers: everything a pass of the job runs on."""
        return time.process_time() + tree_cpu_s(self._jvm_proc.pid)

    def worker_hwm_mb(self):
        """Highest VmHWM among the JVM's Python worker processes (the
        ``pyspark.daemon`` and the workers it forks)."""
        best = 0.0
        for pid in descendants(self._jvm_proc.pid):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
            except OSError:
                continue
            if b"pyspark" in cmd:
                best = max(best, vm_hwm_mb(pid) or 0.0)
        return best

    def jobs_in(self, fn):
        """Run fn(); return (its result, Spark jobs it started)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- plan readings -----------------------------------------------------------

def _plan_nodes(jplan):
    """Every physical node of an executed plan, through AQE stages."""
    out, todo = [], [jplan]
    while todo:
        p = todo.pop()
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        out.append(p)
        ch = p.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _metrics(node):
    vals, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def plan_metrics(df):
    """Summed metrics of the plan that ran for ``df`` (it must have been
    executed through its own QueryExecution, e.g. by ``collect``), keyed by
    node class: {"MapInArrowExec": {...}, "MapInPandasExec": {...},
    "FileSourceScanExec": {...}}. Spark Python times are in ms, sizes in
    bytes."""
    out = {}
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        kind = node.getClass().getSimpleName()
        if kind in ("MapInArrowExec", "MapInPandasExec", "FileSourceScanExec"):
            acc = out.setdefault(kind, {})
            for k, v in _metrics(node).items():
                acc[k] = acc.get(k, 0) + v
    return out


_NODE = re.compile(r"^\(\d+\) (\S+)", re.M)


def plan_shape(dfs):
    """(exchanges, Python nodes, exchanges carrying html or text) summed
    over the queries, from their formatted physical plans."""
    from html_parser_spark.plans import asserts as A
    ex = py = wide = 0
    for df in dfs:
        ex += A.n_exchanges(df)
        py += sum(1 for name in _NODE.findall(A.formatted_plan(df))
                  if name.startswith("MapIn") or "Python" in name)
        wide += sum(A.n_column_carrying_exchanges(df, c)
                    for c in ("html", "text"))
    return ex, py, wide


# -- workloads ---------------------------------------------------------------

class _Workload:
    """One workload over one corpus. ``check_pass`` runs the job's
    extraction with a collecting sink and checks every row;
    ``timed_pass`` runs the job as users run it and returns (step
    seconds, a function that checks what the pass produced)."""

    def __init__(self, engine, corpus):
        self.engine = engine
        self.spark = engine.spark
        self.corpus = corpus

    def pages(self):
        return self.spark.read.parquet(self.corpus.pages_dir)

    def extracted(self):
        from html_parser_spark.job import pipeline as P
        return P.extract_pages(self.pages())

    def queries(self):
        return [self.extracted()]

    def check_pass(self):
        """Returns (gate, output rows, DataFrames that ran)."""
        ext = self.extracted().select(*_OUT_COLS)
        rows = [r.asDict() for r in ext.collect()]
        return check_extracted(rows, self.corpus), rows, [ext]

    def warm_check(self):
        """The untimed first passes of a timed run: they warm the JVM and
        the Python workers (it takes two passes) and check every output
        row."""
        gate = self.check_pass()[0]
        _steps, verify = self.timed_pass()
        gate.merge(verify())
        return gate

    def snapshot_steps(self, extracted):
        """write_snapshot then the metrics pass, as ``job/run.py`` runs
        them. Returns (write_snapshot s, metrics s, table dir)."""
        from html_parser_spark.job import pipeline as P
        table = os.path.join(self.engine.work_dir, "tables",
                             uuid.uuid4().hex[:12])
        t0 = time.perf_counter()
        manifest = P.write_snapshot(extracted, table, "bench")
        t1 = time.perf_counter()
        metrics = P.metrics_from_extracted(P.committed_table(self.spark, table))
        metrics.write.mode("overwrite").parquet(os.path.join(table, "_metrics"))
        t2 = time.perf_counter()
        if manifest["rows"] != self.corpus.n_pages:
            raise RuntimeError(f"snapshot has {manifest['rows']} rows, "
                               f"expected {self.corpus.n_pages}")
        return t1 - t0, t2 - t1, table

    def links_graph(self, pages):
        from html_parser_spark.extract import links as L
        return L.host_link_graph(L.extract_links(pages))


class CrawlExtract(_Workload):
    """The ``job/run.py`` sequence over a many-file parquet pages table."""

    def warm_check(self):
        # The written table holds every output row, so each warm-up job
        # pass is also a check.
        gate = Gate()
        for _ in range(2):
            _steps, verify = self.timed_pass()
            gate.merge(verify())
        return gate

    def timed_pass(self):
        import pyarrow.parquet as pq
        ws, ms, table = self.snapshot_steps(self.extracted())

        def verify():
            try:
                data = pq.read_table(
                    os.path.join(table, "data", "run_id=bench"),
                    columns=list(_OUT_COLS[:4])).to_pylist()
                return check_extracted(data, self.corpus)
            finally:
                shutil.rmtree(table, ignore_errors=True)

        return {"write_snapshot_s": ws, "metrics_s": ms}, verify


class ProductPages(_Workload):
    """Extraction of bare product and search pages into a noop sink."""

    def timed_pass(self):
        self.extracted().write.format("noop").mode("overwrite").save()
        return {}, Gate  # a noop sink leaves nothing to check


class WarcLinks(_Workload):
    """WARC blobs → pages → extraction (noop sink), plus the host link
    graph (collected) over the same decoded pages."""

    def warc_pages(self):
        from html_parser_spark.sources import warc as W
        return W.pages_from_warc_blobs(
            self.spark.read.parquet(self.corpus.blobs_dir))

    def extracted(self):
        from pyspark.sql import functions as F
        from html_parser_spark.job import pipeline as P
        # The adapter tests/test_warc.py uses: WARC rows carry no parsed
        # timestamp or language.
        pages = self.warc_pages().select(
            "url", F.to_timestamp(F.lit("2026-01-01")).alias("warc_ts"),
            "html", F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"))
        return P.extract_pages(pages)

    def graph(self):
        return self.links_graph(self.warc_pages())

    def queries(self):
        return [self.extracted(), self.graph()]

    def check_pass(self):
        from pyspark.sql import functions as F
        gate, rows, ran = super().check_pass()
        pages = self.warc_pages().select("url", F.md5("html").alias("md5"))
        gate.merge(check_pages([r.asDict() for r in pages.collect()],
                               self.corpus))
        graph = self.graph()
        gate.merge(check_host_graph([r.asDict() for r in graph.collect()],
                                    self.corpus))
        return gate, rows, ran + [graph]

    def warm_check(self):
        # The check pass already runs both of the job's queries, and the
        # page read-back, once each.
        return self.check_pass()[0]

    def timed_pass(self):
        self.extracted().write.format("noop").mode("overwrite").save()
        edges = [r.asDict() for r in self.graph().collect()]
        return {}, lambda: check_host_graph(edges, self.corpus)


WORKLOADS = {"crawl_extract": CrawlExtract, "product_pages": ProductPages,
             "warc_links": WarcLinks}
