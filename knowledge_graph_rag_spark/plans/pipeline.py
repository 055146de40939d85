"""End-to-end KG-construction pipeline with checkpointed, resumable stages.

The Spark re-expression of the reference's upload-csv lifecycle
(SURVEY.md §3.1) generalized to the interleaved-documents north-star input:

  stage extract      documents → spans → mentions+raw triples (pandas UDF)
  stage resolve      alias/T4/T5 resolution → triples + mentions snapshots
  stage canonicalize MinHash-LSH over distinct surface forms + connected
                     components → canonical-surface map snapshot (bounded by
                     |distinct surfaces|, NOT by corpus size — at 10^12 docs
                     this stage's input is still the vocabulary)
  stage materialize  nodes/edges snapshots partitioned by graph_id
  stage entity_index token inverted index over this graph's node labels
  stage bucketize    nodes/edges copies bucketed on the join keys
  metrics            per-partition lineage rows per stage → metrics table
                     (rewritten on every call, resumed or not)

Every stage goes through the one run-or-skip runner,
``lineage.RunResult.run_or_skip``: it commits a snapshot through GraphStore
and records itself in the manifest as ``<stage>::<graph_id>``, and a stage
whose manifest entry exists is skipped, so a killed job resumes
idempotently. ``run_incremental`` is one ``incremental`` unit and
``run_full`` adds ``telemetry`` and ``merge`` through the same runner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import canonicalize as C
from ..operators import extract as X
from ..operators import graph_build as GB
from ..operators import link as L
from ..operators import retrieval as R
from ..sources.graph_store import GraphStore
from .lineage import RunResult, partition_lineage


def run(
    spark: SparkSession,
    docs: DataFrame,
    store: GraphStore,
    graph_id: str = "kg_main",
    run_id: str = "run0",
    enable_lsh_canonicalization: bool = True,
    bucketed_query_tables: bool = True,
) -> RunResult:
    res = RunResult(run_id=run_id)

    # --- extract ---------------------------------------------------------------
    res.run_or_skip(store, "extract", graph_id, lambda: store.write_snapshot(
        "raw_extract", X.extract_raw(X.explode_spans(docs)), partition_by=()))
    raw = store.read("raw_extract")
    metrics_parts = [partition_lineage(raw, run_id, "extract")]

    # --- resolve ---------------------------------------------------------------
    res.run_or_skip(store, "resolve_triples", graph_id, lambda: store.write_snapshot(
        "triples", X.resolve_triples(spark, raw), partition_by=()))
    res.run_or_skip(store, "resolve_mentions", graph_id, lambda: store.write_snapshot(
        "mentions", X.resolve_mentions(spark, raw), partition_by=()))
    triples = store.read("triples")
    mentions = store.read("mentions")
    metrics_parts.append(partition_lineage(triples, run_id, "resolve_triples"))
    metrics_parts.append(partition_lineage(mentions, run_id, "resolve_mentions"))

    # --- canonicalize ------------------------------------------------------------
    def compute_canonical():
        """Fuzzy (MinHash-LSH + CC) canonicalization of surface forms.

        Guard: only name-like types (vocab.FUZZY_LINKABLE_TYPES) may link
        fuzzily. Everything else resolves by exact normalize_key only —
        near-identical surfaces of IPs / dates / CVE ids / numbered products
        denote DISTINCT entities (192.168.1.10 vs .11, CVE-2023-10001 vs
        10002), and the reference is explicit that IPs match by exact label
        (graph_merger.py:26-28). Pinned by
        test_canonicalize_never_links_telemetry.
        """
        from ..vocab import FUZZY_LINKABLE_TYPES

        aliases = F.broadcast(X.alias_df(spark))
        surfaces = (
            raw.select(F.explode("mentions").alias("m"))
            .select(F.col("m.surface").alias("surface"))
            .distinct()
            .join(aliases, "surface", "left")
        )
        fuzzy = surfaces.filter(
            F.col("type").isin(*FUZZY_LINKABLE_TYPES)
        ).select("surface")
        if enable_lsh_canonicalization:
            # candidates from BOTH linkers (north star: alias dictionary +
            # embedding similarity + MinHash-LSH): LSH catches shared-shingle
            # variants, embedding cosine catches reorderings/contractions;
            # connected components unions them into clusters
            mh = L.minhash_link(fuzzy, jaccard_max_dist=0.55).select(
                "surface_a", "surface_b"
            )
            cos = L.cosine_link(fuzzy, threshold=0.92).select(
                "surface_a", "surface_b"
            )
            cmap = C.canonical_map_from_links(mh.unionByName(cos).distinct())
        else:
            cmap = fuzzy.select(
                "surface", F.col("surface").alias("canonical_surface")
            )
        # identity rows for telemetry/security surfaces and unlinked ones
        return (
            surfaces.select("surface")
            .join(cmap, "surface", "left")
            .select(
                "surface",
                F.coalesce("canonical_surface", "surface").alias("canonical_surface"),
            )
        )

    res.run_or_skip(store, "canonicalize", graph_id, lambda: store.write_snapshot(
        "canonical_map", compute_canonical(), partition_by=()))

    # --- materialize --------------------------------------------------------------
    res.run_or_skip(store, "materialize", graph_id, lambda: store.store_graph(
        GB.semantic_nodes(mentions, graph_id), GB.semantic_edges(triples, graph_id)
    ))
    nodes = store.read("nodes").filter(F.col("graph_id") == graph_id)
    edges = store.read("edges").filter(F.col("graph_id") == graph_id)
    metrics_parts.append(partition_lineage(nodes, run_id, "materialize_nodes"))
    metrics_parts.append(partition_lineage(edges, run_id, "materialize_edges"))

    # --- entity index (fulltext parity) ----------------------------------------
    # Materialize-time token inverted index over node labels (the Neo4j
    # fulltext index the reference creates at startup, neo4j_service.py:38-53):
    # entity_search probes prune to one (graph_id, tok_prefix) partition
    # instead of scanning nodes. Incremental: only THIS graph's index
    # partition is committed (same partition-scoped protocol as nodes/edges),
    # other graphs' index partitions are carried by manifest reference.
    res.run_or_skip(store, "entity_index", graph_id,
                    lambda: R.refresh_entity_index(store, graph_id))

    # --- bucketize (default-on; disable for one-shot graphs) ---------------------
    # Query-side acceleration: nodes bucketed+sorted on node_id, edges on src,
    # so every downstream edges⋈nodes endpoint join (J1 shape — detectors,
    # templates) plans as a co-located SortMergeJoin with ZERO Exchange
    # (pinned by test_bucketed_join_no_exchange over pipeline output).
    if bucketed_query_tables:
        from ..operators import bucketing as B

        tables = [
            (f"{graph_id}_{kind}_bucketed", df,
             f"{store.root}/bucketed/{graph_id}_{kind}", [key])
            for kind, df, key in (("nodes", nodes, "node_id"),
                                  ("edges", edges, "src"))
        ]

        def bucketize():
            for name, df, path, cols in tables:
                B.write_bucketed(df, name, cols, 16, path=path)

        if not res.run_or_skip(store, "bucketize", graph_id, bucketize):
            # resume in a NEW session, or after another warehouse declared
            # the same names: the files are on disk but bucket metadata is
            # catalog (per-session) state — re-declare the spec over THIS
            # warehouse's files, zero data writes
            for name, _, path, cols in tables:
                B.register_bucketed(spark, name, path, cols, 16)

    # --- metrics -------------------------------------------------------------------
    all_metrics = metrics_parts[0]
    for p in metrics_parts[1:]:
        all_metrics = all_metrics.unionByName(p)
    store.write_snapshot("metrics", all_metrics, partition_by=())

    res.counts = {
        "triples": triples.count(),
        "mentions": mentions.count(),
        "nodes": nodes.count(),
        "edges": edges.count(),
    }
    return res


def run_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    store: GraphStore,
    graph_id: str = "kg_main",
    run_id: str = "inc0",
) -> RunResult:
    """Incremental KG construction: extract ONLY the new documents and fold
    them into the existing graph — the 10^12-doc reality where reprocessing
    the corpus per batch is impossible.

    Exactness: semantic_nodes is a pure function of the distinct entity and
    semantic_edges a pure function of the triple (edge_id embeds doc_id), so
    union + dedup-by-natural-key equals a from-scratch run over the combined
    corpus (pinned by test_incremental_equals_from_scratch). Work is
    O(new docs) for extraction plus O(graph partition) for the commit — the
    partition-scoped store rewrites only this graph_id (Iceberg would append
    files instead of rewriting the partition; same call site).

    The whole fold-in is ONE run-or-skip unit keyed
    ``incremental::<graph_id>::<run_id>``: re-running the same run_id is a
    no-op that reports the same counts (read back from the per-run triple /
    mention snapshots, which keep lineage per increment)."""
    res = RunResult(run_id=run_id)

    def fold_in():
        raw = X.extract_raw(X.explode_spans(new_docs))
        store.write_snapshot(f"triples_{run_id}", X.resolve_triples(spark, raw),
                             partition_by=())
        store.write_snapshot(f"mentions_{run_id}",
                             X.resolve_mentions(spark, raw), partition_by=())
        triples_new = store.read(f"triples_{run_id}")
        mentions_new = store.read(f"mentions_{run_id}")

        nodes_new = GB.semantic_nodes(mentions_new, graph_id)
        edges_new = GB.semantic_edges(triples_new, graph_id)
        old_nodes, old_edges = (
            store.read_partition(t, graph_id) if store.exists(t) else None
            for t in ("nodes", "edges")
        )
        # WHOLE-row dedup, not key-column dedup: node/edge rows are pure
        # functions of the entity/triple, so identical rows are true re-unions
        # (doc seen in both batches) while rows that merely collide in the
        # 48-bit edge_id / node_id hash differ in other columns and must BOTH
        # survive — exactly what a from-scratch run keeps. Map-typed columns
        # (props) can't be dedup keys; they too are pure functions of the
        # remaining columns, so dropping on the non-map set is equivalent.
        from pyspark.sql import types as _T

        def _dedup_all(df: DataFrame) -> DataFrame:
            keys = [
                f.name for f in df.schema.fields
                if not isinstance(f.dataType, _T.MapType)
            ]
            return df.dropDuplicates(keys)

        if old_nodes is not None:
            nodes_new = _dedup_all(
                old_nodes.unionByName(nodes_new, allowMissingColumns=True)
            )
        if old_edges is not None:
            edges_new = _dedup_all(
                old_edges.unionByName(edges_new, allowMissingColumns=True)
            )
        store.store_graph(nodes_new, edges_new)
        # keep the fulltext index consistent with the folded-in nodes (same
        # invariant as run()'s entity_index stage: index == f(current partition))
        R.refresh_entity_index(store, graph_id)

        metrics = partition_lineage(triples_new, run_id, "incremental_triples")
        store.write_snapshot(f"metrics_{run_id}", metrics, partition_by=())

    res.run_or_skip(store, "incremental", f"{graph_id}::{run_id}", fold_in)
    res.counts = {
        "new_triples": store.read(f"triples_{run_id}").count(),
        "new_mentions": store.read(f"mentions_{run_id}").count(),
    }
    return res


def run_full(
    spark: SparkSession,
    docs: DataFrame,
    logs: DataFrame,
    store: GraphStore,
    run_id: str = "run0",
    semantic_graph_id: str = "kg_semantic",
    telemetry_graph_id: str = "kg_telemetry",
    merged_graph_id: str = "kg_merged",
) -> RunResult:
    """The reference's full upload-csv + merge lifecycle (SURVEY.md §3.1 +
    graph_merger): semantic KG from documents, telemetry KG from network
    logs, cross-source MERGE with provenance, all checkpointed/resumable.

    Returns the semantic RunResult, with the ``telemetry`` and ``merge``
    stages appended and merge stats in ``counts`` (A20)."""
    from ..operators import network as N

    res = run(spark, docs, store, graph_id=semantic_graph_id, run_id=run_id,
              enable_lsh_canonicalization=False)

    def build_telemetry():
        conns = N.score_connections(N.parse_logs(logs))
        store.store_graph(GB.telemetry_nodes(conns, telemetry_graph_id),
                          GB.telemetry_edges(conns, telemetry_graph_id))
        R.refresh_entity_index(store, telemetry_graph_id)

    def merge():
        nodes = store.read("nodes")
        edges = store.read("edges")
        sn = nodes.filter(F.col("graph_id") == semantic_graph_id)
        se = edges.filter(F.col("graph_id") == semantic_graph_id)
        tn = nodes.filter(F.col("graph_id") == telemetry_graph_id)
        te = edges.filter(F.col("graph_id") == telemetry_graph_id)
        mn, me, stats = GB.merge_graphs(sn, se, tn, te, merged_graph_id)
        store.store_graph(mn, me)
        R.refresh_entity_index(store, merged_graph_id)
        store.write_snapshot("merge_stats", stats, partition_by=())

    res.run_or_skip(store, "telemetry", telemetry_graph_id, build_telemetry)
    res.run_or_skip(store, "merge", merged_graph_id, merge)

    for r in store.read("merge_stats").collect():
        res.counts[f"merge_{r.stat}"] = r.value
    return res
