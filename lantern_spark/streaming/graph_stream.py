"""Continuous link-graph maintenance: stream crawled pages into a
persisted domain edge table.

The crawl layer's streaming twin (r13): live crawl shards land in a
directory (the `stream_warc`/`stream_wet` output shape, or any
(url, html) parquet), a readStream feeds ``foreachBatch``, and each
micro-batch runs :func:`~lantern_spark.operators.weburl.
domain_link_graph` over ONLY the new pages — extraction, RFC 3986
resolution, eTLD+1 collapse, per-batch edge counts — appending the
result as an edge FRAGMENT. Fragments fold exactly (edge counts are
additive, the same totals-not-averages property the BM25 stream's
corpus stats rely on), so the live graph is correct at ANY
fragmentation: ``load_link_graph`` re-sums on read, and a
fragment-count-triggered consolidation rewrites the layout compacted.
:func:`~lantern_spark.operators.weburl.domain_pagerank` /
``domain_harmonic_centrality`` / ``expand_seed_domains`` consume the
loaded relation directly — continuous crawl → continuously refreshed
quality priors.

Layout (``graph_path/``):
- ``edges/batch_<epoch>/`` — (src_domain, dst_domain, n_links)
  fragments, OVERWRITE-written per epoch (a replayed micro-batch
  rewrites identical files instead of appending a second copy);
- ``_epochs.json`` — the persisted epoch ledger: epochs already
  folded by a consolidation are skipped on redelivery, so a replay
  can never double-count on either side of a crash;
- ``_job.json`` — checkpoint binding (epoch ids are only unique
  within one checkpoint lineage; pairing the layout with a fresh
  checkpoint would re-read the whole source — refused loudly).

Filesystem seam (r14, review r13 item 1): all Python-side path
operations go through the injectable :class:`~lantern_spark._fsutil.
FS` adapter; on a rename-less object store the consolidation publish
is the generation-pointer commit and fragments land inside the
committed generation (``vd_live``). Local default unchanged.

Scale: per-batch work is bounded by the batch (the crawl is never
rescanned); a fragment is |batch domains|² at most and typically tiny;
consolidation is one shuffle over the edge table, amortized across
``consolidate_every_fragments`` batches. Replay/ledger/publish
machinery is shared with the BM25 stream — one audited implementation
of the at-least-once discipline, not two.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lantern_spark._fsutil import (
    FS,
    LOCAL_FS,
    vd_commit,
    vd_live,
    vd_recover,
    vd_stage,
)
from lantern_spark.streaming.bm25_stream import (
    _fragment_count,
    _mark_epoch,
    _seen_epochs,
)

__all__ = [
    "load_link_graph",
    "consolidate_graph_path",
    "recover_graph_path",
    "incremental_link_graph_job",
]


def load_link_graph(
    spark: SparkSession, graph_path: str, fs: FS = LOCAL_FS
) -> DataFrame:
    """The live edge relation — correct at any fragmentation (edge
    counts re-sum on read). Feeds the graph operators directly. A
    layout with no fragments yet (job started, first batch pending)
    reads as an EMPTY edge relation rather than a path error — a
    monitoring query racing the first micro-batch is normal, not
    exceptional."""
    edir = vd_live(fs.join(graph_path, "edges"), fs)
    if not fs.isdir(edir) or not any(
        p.endswith(".parquet") for p, _sz in fs.walk_files(edir)
    ):
        return spark.createDataFrame(
            [], "src_domain string, dst_domain string, n_links long"
        )
    edges = spark.read.option("recursiveFileLookup", "true").parquet(edir)
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.sum("n_links").cast("long").alias("n_links")
    )


def recover_graph_path(graph_path: str, fs: FS = LOCAL_FS) -> None:
    """Self-heal a layout whose last consolidation crashed mid-publish
    (shared ``_fsutil.vd_recover`` machinery). Idempotent; called at
    consolidation and job start."""
    vd_recover(fs.join(graph_path, "edges"), fs)
    if fs.supports_rename:
        # pre-r14 staging root name, cleared for old on-disk layouts
        fs.rmtree(graph_path.rstrip("/") + "__consolidated")


def consolidate_graph_path(
    spark: SparkSession, graph_path: str, fs: FS = LOCAL_FS
) -> None:
    """Re-sum and rewrite the edge layout compacted: one groupBy over
    the fragments, staged write + publish (the recoverable ``__old``
    swap locally, the atomic generation-pointer PUT on rename-less
    stores — the worst post-crash state is an unconsolidated layout,
    never a missing or double-counted one)."""
    recover_graph_path(graph_path, fs)
    edges = load_link_graph(spark, graph_path, fs)
    eroot = fs.join(graph_path, "edges")
    staged = vd_stage(eroot, fs)
    edges.write.mode("overwrite").parquet(staged)
    vd_commit(eroot, staged, fs)


def incremental_link_graph_job(
    spark: SparkSession,
    graph_path: str,
    source_path: str,
    source_schema,
    url_col: str,
    html_col: str,
    checkpoint_path: str,
    psl=None,
    drop_self_edges: bool = True,
    consolidate_every_fragments: Optional[int] = 32,
    max_files_per_trigger: int = 4,
    fs: FS = LOCAL_FS,
):
    """Start the continuous job. Returns (query, state);
    ``state["consolidations"]`` counts compaction runs. Drain with
    ``query.processAllAvailable()`` in tests.

    Replay safety is the BM25 stream's exact discipline: per-epoch
    overwrite fragments + the persisted epoch ledger + the checkpoint
    binding marker (see module docstring)."""
    from lantern_spark.operators.weburl import domain_link_graph

    state = {"batches": 0, "consolidations": 0}
    recover_graph_path(graph_path, fs)
    import hashlib
    import json as _json

    ckey = (
        checkpoint_path
        if "://" in checkpoint_path
        else os.path.realpath(checkpoint_path)
    )
    run_key = hashlib.md5(ckey.encode()).hexdigest()[:12]
    marker = fs.join(graph_path, "_job.json")
    raw = fs.read_text(marker)
    if raw is not None:
        stored = _json.loads(raw)
        if stored.get("checkpoint_key") != run_key:
            raise ValueError(
                f"graph layout {graph_path} is bound to a different "
                "checkpoint; a fresh checkpoint re-reads the whole "
                "source, so pair it with a fresh graph_path (or keep "
                "the original checkpoint to resume)"
            )
    else:
        fs.makedirs(graph_path)
        fs.write_text(marker, _json.dumps({"checkpoint_key": run_key}))

    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_path)
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.take(1):
            return
        eid = int(epoch_id)
        if eid in _seen_epochs(graph_path, fs):
            return  # already written AND possibly consolidated away
        edges = domain_link_graph(
            batch_df,
            url_col,
            html_col,
            psl=psl,
            drop_self_edges=drop_self_edges,
        )
        edges.write.mode("overwrite").parquet(
            fs.join(
                vd_live(fs.join(graph_path, "edges"), fs), f"batch_{eid}"
            )
        )
        _mark_epoch(graph_path, eid, fs)
        state["batches"] += 1
        if (
            consolidate_every_fragments
            and _fragment_count(graph_path, "edges", fs)
            >= consolidate_every_fragments
        ):
            consolidate_graph_path(spark, graph_path, fs)
            state["consolidations"] += 1

    query = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )
    return query, state
