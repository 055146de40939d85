"""The benchmark's workloads and the loop that measures one of them.

One run is one process and one workload:

1. start the Spark session (``local[4]``, the program's own configuration)
   and ship the package to the Python workers;
2. set up the inputs ``SETUP_REPS`` times: the seeded corpora are written
   through Spark, the fixed tables of ``query_pack`` are read once
   each (``setup_s`` is the session start plus the median repetition);
3. run the workload once, as a submitted job would run it: in a process that
   has not run it before (``wall_s``, ``docs_per_s``, ``peak_rss_mb``);
4. for the pipelines, re-run it against its completed warehouse, where every
   stage is skipped, for ``--seconds`` and at least ``MIN_RESUMES`` times
   (``resume_s`` is the median, reported with the per-layer metrics);
5. check every output; a run that raised or produced a wrong output counts
   as failed.

With tracing on, step 3 runs inside spans around the calls into each layer
and the per-layer metrics replace the end-to-end ones.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import bench
import pyarrow as pa

from . import inputs as I
from . import trace as TR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
HEAP = "2g"
SETUP_REPS = 3
MIN_RESUMES = 1
GRAPH_ID = "kg_main"
DATASET = "corpus"
SAMPLE_FRACTION = 0.8
#: docs of the kg_build window whose triples are checked against the oracle
PR_SAMPLE_DOCS = 200

clock = time.perf_counter
_START = clock()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process started."""
    print(f"perfbench [{clock() - _START:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


# --- session -------------------------------------------------------------------


def start_session(work: str):
    """The program's own session factory on local[4], with every scratch
    path inside ``work`` and the package shipped to the Python workers (a
    Spark driver started outside the repository root would otherwise fail every
    Python-UDF task with ModuleNotFoundError)."""
    from jobs.make_pyfiles import build

    from knowledge_graph_rag_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files: the JVM writes them to /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # The Spark driver heap is the program's own knob, set to 2g, pinned
    # there (-Xms) and touched at start: with the default 8g and no pin, G1
    # grew the heap to anywhere from 2.4 to 4.9 GB between runs of one
    # workload, which spread peak RSS by 37 % and wall time by 15 % on a
    # 4-core host, and a pinned heap that is not touched up front still left
    # RSS following how much of it a run happened to reach. The heap is thus
    # a constant 2 GB of peak_rss_mb, which follows the Python workers and
    # the JVM's non-heap memory; heap demand shows as GC time in wall_s.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    retained = "100000"
    spark = get_spark(
        app_name="perfbench",
        cores=CORES,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps 1000 jobs/stages by default; a traced
            # kg_build run, resumes and checks included, runs more
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(build(os.path.join(work, "kgrs.zip")))
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> tuple[float, list[float]]:
    """Peak resident set (VmHWM) of ``pid`` and of each process below it
    (the Python worker daemons and their workers), in MB."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(
            int(stat.split("/")[2])
        )
    peaks, todo = [], [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024.0)
        except OSError:
            continue
    return peaks[0], peaks[1:]


# --- output digests -------------------------------------------------------------


def digest(df) -> list:
    """Order-insensitive digest: [row count, sum of per-row xxhash64]."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, T.MapType):
            c = F.to_json(F.array_sort(F.map_entries(c)))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
    ).first()
    return [int(row["n"]), str(row["s"] or 0)]


def source_digest() -> str:
    """Hash of the package sources, so cached outputs of one version of the
    program are never compared with another."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "knowledge_graph_rag_spark")
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, pkg).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


class DigestLog:
    """Output digests recorded in the work directory per workload, generator
    version, seed, size and program version: a later run with the same key
    must reproduce them, and a stale record is never compared."""

    def __init__(self, work: str):
        self.path = os.path.join(work, "digests.json")

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def get(self, key: str):
        return self._load().get(key)

    def put(self, key: str, value) -> None:
        data = self._load()
        data[key] = value
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)


# --- workloads ------------------------------------------------------------------


class Workload:
    name = ""
    n_docs = 0
    #: whether the workload commits a result it can be re-run against
    resumable = True

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.inputs = os.path.join(work, "runs", self.name, "inputs")
        self.warehouse = os.path.join(work, "runs", self.name, "warehouse")
        self.digests = DigestLog(work)

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run(self, spark):
        raise NotImplementedError

    def resume(self, spark):
        """The same call against the completed warehouse."""
        return self.run(spark)

    def check(self, spark, result, resumes: list) -> list[tuple[str, str]]:
        """(which run, problem) for every wrong output."""
        raise NotImplementedError

    def layer_extras(self, spark, result) -> dict[str, float]:
        """Per-layer counts that need a job after the traced iteration."""
        return {}

    def instrument(self, tracer: TR.Tracer, spark) -> None:
        """Wrap the calls the measured iteration makes in spans."""
        instrument_layers(tracer, spark)

    def _check_resumes(self, result, resumes) -> list[tuple[str, str]]:
        out = []
        for i, r in enumerate(resumes):
            if r.stages_run:
                out.append((f"resume{i}", f"stages re-ran: {r.stages_run}"))
            if r.counts != result.counts:
                out.append((f"resume{i}", f"counts {r.counts} != {result.counts}"))
        return out


class KgBuild(Workload):
    """``pipeline.run`` into a fresh warehouse: extraction, resolution,
    canonicalization, graph and index commits. The north-star path."""

    name = "kg_build"
    n_docs = 10000
    _docs = None

    def setup(self, spark) -> None:
        # generated once per run (about 1.7 s in pandas), written every time
        if self._docs is None:
            self._docs = I.kg_docs_table(self.seed, self.n_docs)
        I.write_parquet(spark, self._docs, self.inputs)
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def run(self, spark):
        from knowledge_graph_rag_spark.plans import pipeline as P
        from knowledge_graph_rag_spark.sources.graph_store import GraphStore

        docs = spark.read.parquet(self.inputs)
        return P.run(spark, docs, GraphStore(spark, self.warehouse),
                     graph_id=GRAPH_ID)

    def check(self, spark, result, resumes):
        from pyspark.sql import functions as F

        from knowledge_graph_rag_spark import oracle, synth
        from knowledge_graph_rag_spark.sources.graph_store import GraphStore

        problems = self._check_resumes(result, resumes)
        if result.stages_skipped:
            problems.append(("run", f"skipped {result.stages_skipped}"))
        store = GraphStore(spark, self.warehouse)
        triples = store.read("triples")

        idx = I.kg_doc_indices(self.seed, PR_SAMPLE_DOCS)
        docs = [synth.gen_doc(i) for i in idx]
        cols = ["doc_id", "subj", "subj_type", "pred", "obj", "obj_type"]
        got = {
            tuple(r) for r in triples.filter(
                F.col("doc_id").isin([d["doc_id"] for d in docs])
            ).select(*cols).collect()
        }
        ref = set(oracle.triples_pdf(docs)[cols].itertuples(index=False, name=None))
        p, r = oracle.precision_recall(got, ref)
        if p < 0.95 or r < 0.95:
            problems.append(("run", f"triples P/R {p:.4f}/{r:.4f} < 0.95"))

        found = {"triples": digest(triples)}
        for t in ("nodes", "edges"):
            found[t] = digest(store.read(t).filter(F.col("graph_id") == GRAPH_ID))
        key = "|".join((self.name, f"v{I.GENERATOR_VERSION}", str(self.seed),
                        str(self.n_docs), source_digest()))
        expected = self.digests.get(key)
        if expected is None:
            self.digests.put(key, found)
        elif expected != found:
            problems.append(("run", f"digests {found} != earlier run {expected}"))
        return problems


class Curate(Workload):
    """``datapipe.curate`` with default knobs and ``sample_fraction=0.8``:
    the shuffle-heavy MinHash-LSH and connected-components chain, with no
    extraction."""

    name = "curate"
    n_docs = 5000
    stages = ["exact_dedup", "near_dedup", "quality", "sample", "token_stats"]

    def setup(self, spark) -> None:
        ids, texts = I.curation_rows(self.seed, self.n_docs)
        I.write_parquet(spark, pa.table({"doc_id": ids, "text": texts}),
                        self.inputs)
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.expected = I.planted_funnel(texts)

    def run(self, spark):
        from knowledge_graph_rag_spark.plans import datapipe as DP
        from knowledge_graph_rag_spark.sources.graph_store import GraphStore

        docs = spark.read.parquet(self.inputs)
        return DP.curate(spark, docs, GraphStore(spark, self.warehouse),
                         dataset_id=DATASET, sample_fraction=SAMPLE_FRACTION)

    def check(self, spark, result, resumes):
        from knowledge_graph_rag_spark.sources.graph_store import GraphStore

        problems = self._check_resumes(result, resumes)
        if result.stages_run != self.stages:
            problems.append(("run", f"stages run: {result.stages_run}"))
        for stage, n in self.expected.items():
            if result.counts.get(stage) != n:
                problems.append(("run", f"{stage}: {result.counts.get(stage)}"
                                 f" docs, planted {n}"))
        kept = GraphStore(spark, self.warehouse).read(f"dp_{DATASET}_quality")
        sampled = sum(
            I.in_hash_sample(r.doc_id, SAMPLE_FRACTION)
            for r in kept.select("doc_id").collect()
        )
        for stage in ("sample", "token_stats"):
            if result.counts.get(stage) != sampled:
                problems.append(("run", f"{stage}: {result.counts.get(stage)}"
                                 f" docs, sampling rule gives {sampled}"))
        return problems

    def layer_extras(self, spark, result):
        from knowledge_graph_rag_spark.operators import dedup as DD
        from knowledge_graph_rag_spark.sources.graph_store import GraphStore

        exact = GraphStore(spark, self.warehouse).read(f"dp_{DATASET}_exact_dedup")
        pairs = DD.minhash_lsh_pairs(exact, id_col="doc_id", text_col="text",
                                     jaccard_max_dist=0.2).count()
        dropped = result.counts["exact_dedup"] - result.counts["near_dedup"]
        return {"dedup.drops_per_pair": dropped / pairs if pairs else 0.0}


class QueryPack(Workload):
    """One pass over ``bench.HEADLINE``, bench.py's headline leaves, run
    through ``driver_queries.extended_queries()`` on the fixed tables at
    ``bench.SF_DIR``: the read side beside the pipelines. The seed does not
    apply; the tables are fixed data. Each leaf is forced by collecting its
    rows (at most a few 10k per leaf), so the measured pass is the one the
    check compares with DuckDB; bench.py forces them with a ``noop`` write
    instead. ``n_docs`` is the documents table, which the text leaves scan.
    Nothing is committed, so there is no resume."""

    name = "query_pack"
    resumable = False
    #: tables bench.py reads once before timing, so a pass measures query
    #: execution, not first-touch page-cache fill
    warm_tables = ("events", "documents", "embeddings", "lineitem", "orders",
                   "customer", "nation")

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        from knowledge_graph_rag_spark.plans import driver_queries as DQ

        self.leaves = list(bench.HEADLINE)
        self.sf_dir = bench.SF_DIR
        self.queries = DQ.extended_queries()

    def setup(self, spark) -> None:
        # bench.py's split sizes for the sf0.1 tables
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(512 * 1024))
        spark.conf.set("spark.sql.files.openCostInBytes", str(64 * 1024))
        rows = {t: spark.read.parquet(f"{self.sf_dir}/{t}.parquet").count()
                for t in self.warm_tables}
        self.n_docs = rows["documents"]

    def run(self, spark):
        return {leaf: self.run_leaf(spark, leaf) for leaf in self.leaves}

    def run_leaf(self, spark, leaf: str) -> tuple[list[str], list[tuple]]:
        sdf = self.queries[leaf](spark, self.sf_dir)
        return sdf.columns, [tuple(r) for r in sdf.collect()]

    def instrument(self, tracer, spark):
        tracer.wrap(QueryPack, "run_leaf", lambda self, spark, leaf: f"q.{leaf}")

    def check(self, spark, result, resumes):
        """Every leaf with an ``oracle_sql()`` entry against DuckDB, compared
        as tools/check_oracles.py compares them: row count, columns, value
        hash and per-column numeric kinds."""
        import duckdb

        from knowledge_graph_rag_spark.plans import driver_queries as DQ
        from tools import check_oracles as CO

        oracles = DQ.extended_oracle_sql()
        con = duckdb.connect()
        for t in CO.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        problems = []
        for leaf, (scols, srows) in result.items():
            if leaf not in oracles:
                continue
            rel = con.sql(oracles[leaf])
            dcols, drows = rel.columns, rel.fetchall()
            if (len(srows), sorted(scols), CO.value_hash(srows, scols)) != \
                    (len(drows), sorted(dcols), CO.value_hash(drows, dcols)):
                problems.append(("run", f"{leaf}: {len(srows)} rows {sorted(scols)}"
                                 f" differ from DuckDB's {len(drows)} rows"
                                 f" {sorted(dcols)}"))
                continue
            sk, dk = CO.col_kinds(srows, scols), CO.col_kinds(drows, dcols)
            bad = sorted(c for c in sk if sk[c] != dk[c] and "-" not in (sk[c], dk[c]))
            if bad:
                problems.append(("run", f"{leaf}: column kinds differ in {bad}"))
        con.close()
        return problems


WORKLOADS = {w.name: w for w in (KgBuild, Curate, QueryPack)}


# --- tracing --------------------------------------------------------------------

_CURATION_LAYERS = {
    "exact_dedup": "dedup.exact", "near_dedup": "dedup.near",
    "quality": "text.quality", "sample": "sampling.sample",
    "token_stats": "text.token_stats", "metrics": "lineage.metrics",
}


def snapshot_layer(store, table: str, *args, **kwargs) -> str:
    """Span name of a ``GraphStore.write_snapshot`` call, by the table it
    commits: the layer whose lazy plan the commit executes."""
    if table == "raw_extract":
        return "extract"
    if table in ("triples", "mentions"):
        return "resolve"
    if table == "canonical_map":
        return "canonicalize"
    if table == "metrics":
        return "lineage.metrics"
    return _CURATION_LAYERS.get(table.removeprefix(f"dp_{DATASET}_"),
                                "graph_store.commit")


def instrument_layers(tracer: TR.Tracer, spark) -> None:
    """Wrap the public calls into each layer that the pipelines make. A
    layer's span covers both its plan construction (some builders analyse
    plans or run jobs eagerly) and the commit that executes the plan."""
    from knowledge_graph_rag_spark.functions import text
    from knowledge_graph_rag_spark.operators import (
        bucketing, canonicalize, dedup, extract, graph_build, link, retrieval,
    )
    from knowledge_graph_rag_spark.plans import datapipe, pipeline
    from knowledge_graph_rag_spark.sources.graph_store import GraphStore

    for owner, attr, name in (
        (extract, "explode_spans", "extract"),
        (extract, "extract_raw", "extract"),
        (extract, "resolve_triples", "resolve"),
        (extract, "resolve_mentions", "resolve"),
        (link, "minhash_link", "canonicalize"),
        (link, "cosine_link", "canonicalize"),
        (canonicalize, "canonical_map_from_links", "canonicalize"),
        (graph_build, "semantic_nodes", "graph_store.commit"),
        (graph_build, "semantic_edges", "graph_store.commit"),
        (GraphStore, "write_snapshot", snapshot_layer),
        (GraphStore, "store_graph", "graph_store.commit"),
        (GraphStore, "read", "graph_store.snapshot"),
        (GraphStore, "read_partition", "graph_store.snapshot"),
        (retrieval, "update_entity_index", "retrieval.index"),
        (retrieval, "refresh_entity_index", "retrieval.index"),
        (bucketing, "write_bucketed", "bucketing.write"),
        (bucketing, "register_bucketed", "bucketing.write"),
        (pipeline, "partition_lineage", "lineage.metrics"),
        (dedup, "dedup_exact", "dedup.exact"),
        (datapipe, "_near_dup_drop_ids", "dedup.near"),
        (text, "gopher_quality_cols", "text.quality"),
        (datapipe, "hash_sample", "sampling.sample"),
    ):
        tracer.wrap(owner, attr, name)
    # Reads and row counts get a span only at top level: the workload's
    # input read and the pipelines' own counts. Inside a layer (a store
    # read, the connected-components convergence test) they stay that
    # layer's time.
    tracer.wrap(type(spark.read), "parquet", "input.read", top_level_only=True)
    tracer.wrap(type(spark.range(0)), "count", "pipeline.count",
                top_level_only=True)


#: per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    # a run's median resume; per-layer because an end-to-end metric must be
    # measured on every workload, and query_pack commits nothing to resume
    "resume_s": "s",
    "input.read_s": "s",
    "extract.wall_s": "s", "extract.cpu_s": "s", "extract.busy_frac": "ratio",
    "extract.py_bytes_in": "B", "extract.py_bytes_out": "B",
    "resolve.wall_s": "s", "resolve.shuffle_bytes": "B",
    "canonicalize.wall_s": "s", "canonicalize.stages": "count",
    "graph_store.commit_s": "s", "graph_store.snapshot_s": "s",
    "graph_store.bytes_written": "B", "graph_store.files": "count",
    "retrieval.index_s": "s", "bucketing.write_s": "s",
    "lineage.metrics_s": "s", "pipeline.count_s": "s",
    "pipeline.untraced_s": "s",
    "dedup.exact_s": "s", "dedup.near_s": "s", "dedup.near_stages": "count",
    "dedup.near_shuffle_bytes": "B", "dedup.drops_per_pair": "ratio",
    "text.quality_s": "s", "sampling.sample_s": "s", "text.token_stats_s": "s",
    **{f"q.{leaf}_s": "s" for leaf in bench.HEADLINE},
    "graphalgs.cc_shuffle_bytes": "B", "dedup.ngram_shuffle_bytes": "B",
    "spark.stages": "count", "spark.tasks": "count", "spark.busy_frac": "ratio",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
    "spark.task_skew": "ratio", "spark.failed_tasks": "count",
    "spark.py_bytes_in": "B", "spark.py_bytes_out": "B",
    "trace.wall_s": "s", "trace.coverage": "ratio",
}


def layer_metrics(spark, tracer: TR.Tracer, wall: float, warehouse: str,
                  extras: dict[str, float]) -> dict[str, float]:
    groups = tracer.groups_by_name()
    self_s = tracer.self_times()
    iteration = {tracer.ROOT_GROUP}.union(*groups.values())
    by_group = TR.stages_by_group(spark, iteration)
    py_bytes = TR.python_bytes_by_group(spark, iteration)

    def groups_of(name) -> set[str]:
        """Job groups of one layer's spans; of the whole iteration for None."""
        return iteration if name is None else groups.get(name, set())

    def stages(name=None) -> list[dict]:
        return [s for g in groups_of(name) for s in by_group.get(g, [])]

    def py(name, slot) -> float:
        return sum(py_bytes.get(g, (0.0, 0.0))[slot] for g in groups_of(name))

    def total(rows, field) -> float:
        return float(sum(r[field] for r in rows))

    def busy(rows, seconds) -> float:
        return total(rows, "executorRunTime") / 1000.0 / (seconds * CORES) \
            if seconds > 0 else 0.0

    ex, every = stages("extract"), stages()
    longest = max(every, key=lambda s: s["executorRunTime"], default=None)
    n_files = sum(
        1 for _, _, files in os.walk(warehouse) for f in files
        if f.endswith(".parquet")
    )
    m = {
        "input.read_s": self_s.get("input.read", 0.0),
        "extract.wall_s": self_s.get("extract", 0.0),
        "extract.cpu_s": total(ex, "executorCpuTime") / 1e9,
        "extract.busy_frac": busy(ex, self_s.get("extract", 0.0)),
        "extract.py_bytes_in": py("extract", 0),
        "extract.py_bytes_out": py("extract", 1),
        "resolve.wall_s": self_s.get("resolve", 0.0),
        "resolve.shuffle_bytes": total(stages("resolve"), "shuffleWriteBytes"),
        "canonicalize.wall_s": self_s.get("canonicalize", 0.0),
        "canonicalize.stages": float(len(stages("canonicalize"))),
        "graph_store.commit_s": self_s.get("graph_store.commit", 0.0),
        "graph_store.snapshot_s": self_s.get("graph_store.snapshot", 0.0),
        "graph_store.bytes_written": total(every, "outputBytes"),
        "graph_store.files": float(n_files),
        "retrieval.index_s": self_s.get("retrieval.index", 0.0),
        "bucketing.write_s": self_s.get("bucketing.write", 0.0),
        "lineage.metrics_s": self_s.get("lineage.metrics", 0.0),
        "pipeline.count_s": self_s.get("pipeline.count", 0.0),
        "pipeline.untraced_s": wall - tracer.covered(),
        "dedup.exact_s": self_s.get("dedup.exact", 0.0),
        "dedup.near_s": self_s.get("dedup.near", 0.0),
        "dedup.near_stages": float(len(stages("dedup.near"))),
        "dedup.near_shuffle_bytes": total(stages("dedup.near"), "shuffleWriteBytes"),
        "dedup.drops_per_pair": 0.0,
        "text.quality_s": self_s.get("text.quality", 0.0),
        "sampling.sample_s": self_s.get("sampling.sample", 0.0),
        "text.token_stats_s": self_s.get("text.token_stats", 0.0),
        **{f"q.{leaf}_s": self_s.get(f"q.{leaf}", 0.0) for leaf in bench.HEADLINE},
        "graphalgs.cc_shuffle_bytes": total(stages("q.clustering_coefficients"),
                                            "shuffleWriteBytes"),
        "dedup.ngram_shuffle_bytes": total(stages("q.ngram_jaccard_pairs"),
                                           "shuffleWriteBytes"),
        "spark.stages": float(len(every)),
        "spark.tasks": total(every, "numTasks"),
        "spark.busy_frac": busy(every, wall),
        "spark.shuffle_bytes": total(every, "shuffleWriteBytes"),
        "spark.spill_bytes": total(every, "memoryBytesSpilled")
        + total(every, "diskBytesSpilled"),
        "spark.task_skew": TR.task_time_skew(spark, longest) if longest else 1.0,
        "spark.failed_tasks": total(every, "numFailedTasks"),
        "spark.py_bytes_in": py(None, 0),
        "spark.py_bytes_out": py(None, 1),
        "trace.wall_s": wall,
        "trace.coverage": tracer.covered() / wall,
    }
    m.update(extras)
    return m


# --- one run --------------------------------------------------------------------

E2E_UNITS = {"wall_s": "s", "docs_per_s": "docs/s", "setup_s": "s",
             "peak_rss_mb": "MB"}


def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 work: str) -> dict:
    """Measure one workload; returns the result object run.py prints."""
    wl = WORKLOADS[name](seed, work)
    t = clock()
    spark = start_session(work)
    session_s = clock() - t
    log(f"session started in {session_s:.2f}s")
    try:
        return _measure(wl, spark, session_s, seconds, traced)
    finally:
        stop_session(spark)
        log("session stopped")


def _measure(wl: Workload, spark, session_s: float, seconds: float,
             traced: bool) -> dict:
    setups = []
    for _ in range(SETUP_REPS):
        t = clock()
        wl.setup(spark)
        setups.append(clock() - t)

    log(f"set up {SETUP_REPS}x: {', '.join(f'{x:.2f}s' for x in setups)}")
    sc = spark.sparkContext
    tracer = None
    if traced:
        tracer = TR.Tracer(set_group=lambda g: sc.setJobGroup(g, g))
        wl.instrument(tracer, spark)
        sc.setJobGroup(tracer.ROOT_GROUP, tracer.ROOT_GROUP)

    failures: dict[str, str] = {}
    result = None
    t0 = clock()
    try:
        result = wl.run(spark)
    except Exception:  # noqa: BLE001 — a failed run is reported, not fatal
        failures["run"] = traceback.format_exc()
    finally:
        wall = clock() - t0
        if tracer is not None:
            tracer.unwrap_all()
            sc.setJobGroup("untraced", "untraced")
    log(f"{wl.name} ran in {wall:.2f}s")
    jvm_rss, py_rss = peak_rss_mb(jvm_pid(spark))
    rss = jvm_rss + sum(py_rss)
    log(f"peak RSS {rss:.0f} MB: JVM {jvm_rss:.0f} MB, "
        f"{len(py_rss)} Python processes {sum(py_rss):.0f} MB")

    resumes, resume_times = [], []
    attempted = 1
    r0 = clock()
    while wl.resumable and result is not None and (
        len(resumes) < MIN_RESUMES or clock() - r0 < seconds
    ):
        attempted += 1
        t = clock()
        try:
            resumes.append(wl.resume(spark))
        except Exception:  # noqa: BLE001
            failures[f"resume{len(resumes)}"] = traceback.format_exc()
            break
        resume_times.append(clock() - t)

    if resume_times:
        log(f"resumed {len(resume_times)}x: "
            f"{', '.join(f'{x:.2f}s' for x in resume_times)}")
    if result is not None:
        try:
            for which, problem in wl.check(spark, result, resumes):
                failures.setdefault(which, problem)
        except Exception:  # noqa: BLE001
            failures["check"] = traceback.format_exc()
    log(f"checked: {len(failures)} failure(s)")
    for which, problem in failures.items():
        log(f"{wl.name} {which} failed: {problem}")

    if traced:
        metrics = (
            layer_metrics(spark, tracer, wall, wl.warehouse,
                          wl.layer_extras(spark, result))
            if result is not None else dict.fromkeys(LAYER_UNITS, 0.0)
        )
        metrics["resume_s"] = (statistics.median(resume_times)
                               if resume_times else 0.0)
        units = LAYER_UNITS
    else:
        metrics = {
            "wall_s": wall,
            "docs_per_s": wl.n_docs / wall,
            "setup_s": session_s + statistics.median(setups),
            "peak_rss_mb": rss,
        }
        units = E2E_UNITS
    return {
        "correct": not failures,
        "attempted": attempted,
        # a failed check marks the measured run wrong, not an extra attempt
        "failed": len({k if k.startswith("resume") else "run" for k in failures}),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
