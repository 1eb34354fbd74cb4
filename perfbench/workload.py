"""The timed process: one Spark session, one client thread, one workload.

Run by ``run.py`` after the inputs exist::

    python3 perfbench/workload.py --workload retrieval --inputs DIR \
        --work DIR --seconds 10 --trace 0

It starts the session, loads and warms up, builds the indexes the
workload needs, then runs closed-loop cycles until ``--seconds`` have
passed (the cycle in flight always finishes). Every public call is
timed from outside the package through a span. Answers are checked
after the loop, against references computed here from the input files
(numpy for vectors, DuckDB for BM25, pyarrow for the crawl outputs).
It writes ``result.json`` into the work dir.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import re
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

K = 10
NPROBE = 4
EF = 128
ADC_OVERSAMPLE = 8
BM25_LIMIT = 20
FOLD_EVERY = 4
SEQ_TOKENS = 512
PAGERANK_ITERATIONS = 2
SEARCH_PARAMS = dict(
    k=K, nprobe=NPROBE, ef=EF, adc_oversample=ADC_OVERSAMPLE,
    bm25_limit=BM25_LIMIT, fold_every=FOLD_EVERY, ivf_nlist="sqrt(n)",
    pq=dict(splits=8, clusters=16), hnsw=dict(m=16, ef_construction=100),
)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of physical memory, at most 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def session_cpu_s() -> float:
    """CPU seconds used so far by this process's session: this process,
    the JVM, the PySpark daemon and its workers (the daemon moves to its
    own process group but stays in the session), plus their reaped
    children."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        if int(fields[3]) == sid:
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def session_settings(work: str, traced: bool) -> dict:
    cores = host_cores()
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        # as bench.py sets them
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_memory(),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # no hsperfdata file in /tmp: the run writes only under its work dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/tmp"
            " -XX:-UsePerfData"
        ),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Workload:
    """State shared by the three workloads: session, spans, op counts."""

    def __init__(self, spark, rec, inputs: str, work: str, corrupt: bool):
        self.spark = spark
        self.rec = rec
        self.inputs = inputs
        self.work = work
        self.corrupt = corrupt
        self.attempted = 0
        self.failures = []  # (span, cycle, reason)
        self.answers = []  # checked after the loop

    def op(self, name, cycle, fn):
        """Run one public call inside its span; count it. Returns the
        call's value, or None if it raised."""
        self.attempted += 1
        try:
            with self.rec.span(name, cycle) as s:
                return fn(s)
        except Exception as e:  # an op that raises is a failed op
            self.fail(name, cycle, f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def fail(self, name, cycle, reason):
        self.failures.append((name, cycle, reason))

    def collect(self, df, s):
        rows = df.collect()
        s["rows"] = len(rows)
        return rows


# ---------------------------------------------------------------- vectors


def _probe_frames(spark, batches):
    import pandas as pd

    return [
        spark.createDataFrame(pd.DataFrame({
            "qid": np.arange(len(b), dtype=np.int32),
            "query": [list(map(float, v)) for v in b],
        }))
        for b in batches
    ]


class Retrieval(Workload):
    """Read only: IVF and HNSW batch searches plus one single lookup of
    each kind per cycle (IVF, IVF-PQ ADC, HNSW, exact kNN, BM25)."""

    LOOKUP_SPANS = ["index.search", "index.search_adc", "hnsw.search",
                    "knn.knn_search", "bm25.search_bm25"]

    def load(self):
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        self.base_df = self.spark.read.parquet(f"{self.inputs}/base.parquet")
        self.base_df = self.base_df.repartition(host_cores()).cache()
        self.base_df.count()
        self.batches = np.load(f"{self.inputs}/batches.npy")
        self.lookups = np.load(f"{self.inputs}/lookups.npy")
        self.probe_dfs = _probe_frames(self.spark, self.batches)
        self.docs_df = self.spark.read.parquet(f"{self.inputs}/docs.parquet")
        # the exact scan reads the table as stored, not the cached copy
        self.table_df = self.spark.read.parquet(f"{self.inputs}/base.parquet")
        with open(f"{self.inputs}/bm25_queries.json") as fh:
            self.bm25_queries = json.load(fh)

        # Python-worker warm-up through the Arrow path the searches use
        @pandas_udf("double")
        def _first(v):
            return v.map(lambda a: float(a[0]))

        self.base_df.limit(64).select(F.sum(_first("vec"))).collect()

    def build(self):
        from lantern_spark.operators.bm25 import build_bm25_stats_materialized
        from lantern_spark.operators.hnsw import HNSWIndex
        from lantern_spark.operators.index import IVFIndex
        from lantern_spark.types import PQSpec

        dim = len(self.lookups[0])
        self.ivf = self.op("index.build", "build", lambda s: IVFIndex.build(
            self.base_df, "vec", "id", f"{self.work}/idx/ivf", metric="l2sq",
            nlist=None, seed=42,
            pq=PQSpec(dim=dim, splits=8, clusters=16, seed=42),
        ))
        self.hnsw = self.op("hnsw.build", "build", lambda s: HNSWIndex.build(
            self.base_df, "vec", "id", f"{self.work}/idx/hnsw",
            m=16, ef_construction=100, shards=host_cores(), seed=42,
        ))
        self.stats = self.op("bm25.build_stats", "build", lambda s: (
            build_bm25_stats_materialized(
                self.docs_df, "doc_id", "text", stem=False)))

    def live_key(self, span, cycle):
        """Which live set an answer is checked against."""
        return "base"

    def cycle(self, c):
        self.reads(c)

    def reads(self, c):
        from lantern_spark.operators.bm25 import search_bm25
        from lantern_spark.operators.knn import knn_search

        b = c % len(self.probe_dfs)
        for name, idx, kw in (
            ("index.search_batch", self.ivf, dict(nprobe=NPROBE)),
            ("hnsw.search_batch", self.hnsw, dict(ef=EF)),
        ):
            rows = self.op(name, c, lambda s, idx=idx, kw=kw: self.collect(
                idx.search_batch(self.spark, self.probe_dfs[b], k=K, **kw), s))
            by_q = {}
            for r in rows or []:
                by_q.setdefault(int(r["qid"]), []).append(
                    (float(r["dist"]), int(r["id"])))
            for q in range(len(self.batches[b]) if rows is not None else 0):
                hits = sorted(by_q.get(q, []))
                self.answers.append(dict(
                    kind="ann", span=name, cycle=c, query=self.batches[b][q],
                    ids=[i for _, i in hits], dists=[d for d, _ in hits],
                    live=self.live_key(name, c),
                ))
        n = len(self.lookups)
        qs = [self.lookups[(4 * c + j) % n] for j in range(4)]
        ql = [[float(x) for x in q] for q in qs]
        calls = [
            ("index.search", lambda: self.ivf.search(
                self.spark, ql[0], k=K, nprobe=NPROBE)),
            ("index.search_adc", lambda: self.ivf.search_adc(
                self.spark, ql[1], k=K, nprobe=NPROBE,
                oversample=ADC_OVERSAMPLE)),
            ("hnsw.search", lambda: self.hnsw.search(
                self.spark, ql[2], k=K, ef=EF)),
            ("knn.knn_search", lambda: knn_search(
                self.table_df, "vec", ql[3], k=K, tie_break="id")),
        ]
        for j, (name, fn) in enumerate(calls):
            rows = self.op(name, c, lambda s, fn=fn: self.collect(fn(), s))
            if rows is not None:
                self.answers.append(dict(
                    kind="exact" if name == "knn.knn_search" else "ann",
                    span=name, cycle=c, query=qs[j],
                    ids=[int(r["id"]) for r in rows],
                    dists=[float(r["dist"]) for r in rows],
                    live=self.live_key(name, c),
                ))
        text = self.bm25_queries[c % len(self.bm25_queries)]
        rows = self.op("bm25.search_bm25", c, lambda s: self.collect(
            search_bm25(self.stats, text, limit=BM25_LIMIT, stem=False,
                        round_digits=6), s))
        if rows is not None:
            self.answers.append(dict(
                kind="bm25", span="bm25.search_bm25", cycle=c, query=text,
                rows=[(int(r["doc_id"]), float(r["bm25_score"])) for r in rows],
            ))

    def base_rows(self):
        t = pq.read_table(f"{self.inputs}/base.parquet")
        vecs = np.asarray(t.column("vec").to_pylist(), dtype=np.float64)
        return dict(zip(t.column("id").to_pylist(), vecs))

    def live_sets(self):
        return {"base": self.base_rows()}

    def final_live_rows(self, live_sets):
        return len(live_sets["base"])

    def index_bytes(self):
        return dir_bytes(f"{self.work}/idx")


class Ingest(Retrieval):
    """Writes beside reads: each cycle adds ~1% new rows to both indexes
    (half scattered, half in two clusters), tombstones ~0.1% of ids on
    IVF, then runs the retrieval reads through the unfolded delta; both
    indexes fold every FOLD_EVERY cycles, starting with the first."""

    def build(self):
        super().build()
        self.rows_added = 0
        self.unfolded = {"index.fold_delta": 0, "hnsw.fold_delta": 0}

    def live_key(self, span, cycle):
        if span == "knn.knn_search":
            return "base"  # the exact scan reads the base table
        return f"{'hnsw' if span.startswith('hnsw') else 'ivf'}:{cycle}"

    def cycle(self, c):
        spark = self.spark
        add_path = f"{self.inputs}/deltas/add_{c:03d}.parquet"
        del_path = f"{self.inputs}/deltas/del_{c:03d}.parquet"
        if not os.path.exists(add_path):
            raise RuntimeError(f"input schedule exhausted at cycle {c}")
        n_add = pq.read_metadata(add_path).num_rows
        for name, idx in (("index.add_delta", self.ivf),
                          ("hnsw.add_delta", self.hnsw)):
            self.op(name, c, lambda s, idx=idx: idx.add_delta(
                spark.read.parquet(add_path)))
        self.op("index.delete", c, lambda s: self.ivf.delete(
            spark.read.parquet(del_path)))
        self.rows_added += n_add
        for k in self.unfolded:
            self.unfolded[k] += n_add
        self.reads(c)
        if c % FOLD_EVERY:
            return
        for name, attr in (("index.fold_delta", "ivf"),
                           ("hnsw.fold_delta", "hnsw")):
            idx = getattr(self, attr)
            before = dir_bytes(idx.path)

            def fold(s, idx=idx, rows=self.unfolded[name]):
                s["rows"] = rows
                return idx.fold_delta(spark)

            out = self.op(name, c, fold)
            if out is not None:
                # artifact growth, measured outside the span, stands in
                # for Spark's output bytes where the fold writes directly
                self.rec.spans[-1]["extra"] = {
                    "artifact_growth": dir_bytes(out.path) - before}
                setattr(self, attr, out)
                self.unfolded[name] = 0

    def live_sets(self):
        """The rows each cycle's searches saw: base + adds − deletes on
        IVF; HNSW takes no deletes."""
        base = self.base_rows()
        out = {"base": base}
        ivf, hnsw = dict(base), dict(base)
        for c in range(1 + max(a["cycle"] for a in self.answers)):
            t = pq.read_table(f"{self.inputs}/deltas/add_{c:03d}.parquet")
            vecs = np.asarray(t.column("vec").to_pylist(), dtype=np.float64)
            for i, v in zip(t.column("id").to_pylist(), vecs):
                ivf[i] = hnsw[i] = v
            for i in pq.read_table(
                f"{self.inputs}/deltas/del_{c:03d}.parquet"
            ).column("id").to_pylist():
                ivf.pop(i, None)
            out[f"ivf:{c}"], out[f"hnsw:{c}"] = dict(ivf), dict(hnsw)
        return out

    def final_live_rows(self, live_sets):
        last = max(a["cycle"] for a in self.answers)
        return len(live_sets[f"ivf:{last}"])


# ------------------------------------------------------------------ crawl

# bench.py's assembly config, except near_dedup: MinHash near-dedup
# costs ~0.15-0.2 s per page on four cores, so with it even 40 pages
# overrun the time the benchmark may spend per run.
CRAWL_CURATION = dict(
    min_tokens=5, min_quality=0.0, url_col="url", url_dedup=True,
    blocked_domains=["dom13.com"], substr_dedup_min_tokens=25,
    substr_dedup_salt=4, exact_dedup=True, near_dedup=False,
)
CRAWL_BUDGET_TOKENS = 8_000.0
CRAWL_SOURCES = 10


class Crawl(Workload):
    def load(self):
        from pyspark.sql import functions as F

        self.warc_dir = f"{self.inputs}/warc"
        with open(f"{self.inputs}/inputs.json") as fh:
            self.pages = json.load(fh)["crawl"]["pages"]
        # warm-up: list the archives and spin up Python workers
        files = self.spark.read.format("binaryFile").load(self.warc_dir)
        files.select(F.sum("length")).collect()
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _len(v):
            return v.str.len()

        files.select(F.sum(_len("path"))).collect()

    def build(self):
        """The crawl builds no index."""

    def cycle(self, c):
        from pyspark.sql import functions as F

        from lantern_spark.functions.html import regex_text_extractor
        from lantern_spark.operators.assemble import (
            assemble_pretraining_corpus,
        )
        from lantern_spark.operators.curate import CurationConfig
        from lantern_spark.operators.weburl import (
            domain_link_graph,
            domain_pagerank,
            join_domain_prior,
        )
        from lantern_spark.sources.warc import http_body, read_warc
        from lantern_spark.sources.warc import warc_documents_fused

        spark = self.spark
        out = f"{self.work}/crawl/{c}"

        def docs_stage(s):
            d = warc_documents_fused(
                spark, self.warc_dir, extractor=regex_text_extractor())
            d.withColumn("source", F.concat(
                F.lit("src"),
                F.pmod(F.xxhash64("url"), F.lit(CRAWL_SOURCES)).cast("string"),
            )).write.parquet(f"{out}/docs")

        self.op("warc.warc_documents_fused", c, docs_stage)
        ok = os.path.exists(f"{out}/docs/_SUCCESS")
        res = {}

        def assemble(s):
            docs = spark.read.parquet(f"{out}/docs")
            held = docs.filter(
                F.pmod(F.xxhash64("doc_id"), F.lit(100)) == 7)
            r = assemble_pretraining_corpus(
                spark, docs, "text", "doc_id", f"{out}/ckpt",
                curation=CurationConfig(**CRAWL_CURATION), heldout=held,
                source_col="source",
                token_budgets={f"src{i}": CRAWL_BUDGET_TOKENS
                               for i in range(CRAWL_SOURCES)},
                seq_tokens=SEQ_TOKENS, report=False,
            )
            r.df.select("doc_id", "pack_id", "text").write.parquet(
                f"{out}/packed")
            res["done"] = True

        def graph(s):
            raw = read_warc(spark, self.warc_dir).filter(
                F.col("warc_type") == "response")
            pages = raw.select("url", http_body("payload").alias("html"))
            domain_link_graph(pages, "url", "html").write.parquet(
                f"{out}/edges")

        def rank(s):
            domain_pagerank(
                spark.read.parquet(f"{out}/edges"),
                iterations=PAGERANK_ITERATIONS,
            ).write.parquet(f"{out}/ranks")

        def prior(s):
            join_domain_prior(
                spark.read.parquet(f"{out}/docs").select("doc_id", "url"),
                "url", spark.read.parquet(f"{out}/ranks"),
            ).write.parquet(f"{out}/prior")

        if ok:
            self.op("assemble.assemble_pretraining_corpus", c, assemble)
        self.op("weburl.domain_link_graph", c, graph)
        self.op("weburl.domain_pagerank", c, rank)
        if ok:
            self.op("weburl.join_domain_prior", c, prior)
        self.answers.append(dict(kind="crawl", cycle=c, out=out, res=res))


WORKLOADS = {"retrieval": Retrieval, "ingest": Ingest, "crawl": Crawl}


# ----------------------------------------------------------------- checks


def _l2sq(live, q, ids):
    return np.array([float(np.sum((live[i] - q) ** 2)) for i in ids])


def check_vectors(w, live_sets, recalls):
    """Exact top-k in numpy for every vector answer. knn must equal the
    truth (ties within float tolerance); ANN ids must be live, distinct,
    k of them, with the distance the program reported; recall@10 is
    recorded per answer."""
    mats = {}
    for a in w.answers:
        if a["kind"] not in ("ann", "exact"):
            continue
        live = live_sets[a["live"]]
        if id(live) not in mats:
            ids = np.fromiter(live.keys(), dtype=np.int64)
            mats[id(live)] = (ids, np.stack([live[int(i)] for i in ids]))
        ids, mat = mats[id(live)]
        q = a["query"].astype(np.float64)
        d = np.sum((mat - q) ** 2, axis=1)
        order = np.lexsort((ids, d))[:K]
        t_ids, t_d = ids[order], d[order]
        got = a["ids"]
        reason = None
        if len(got) != K or len(set(got)) != K:
            reason = f"{len(got)} rows / {len(set(got))} distinct, want {K}"
        elif any(i not in live for i in got):
            reason = "returned an id outside the live set"
        else:
            d_got = _l2sq(live, q, got)
            if not np.allclose(d_got, a["dists"], rtol=1e-4, atol=1e-4):
                reason = "reported distance differs from the vector's"
            elif a["kind"] == "exact" and (
                list(got) != list(t_ids)
                and not np.allclose(d_got, t_d, rtol=1e-9, atol=1e-9)
            ):
                reason = "exact top-k differs from numpy"
        if reason:
            w.fail(a["span"], a["cycle"], reason)
        if a["kind"] == "ann":
            recalls.append(len(set(got) & set(t_ids.tolist())) / K)


def check_bm25(w):
    """search_bm25 top-20 against DuckDB over the same docs, in the shape
    of the repo's oracle SQL (pure tokenizer, k1 1.2, b 0.75)."""
    import duckdb

    tok = ("list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
           " t -> t <> '')")
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE tl AS SELECT doc_id, {tok} AS toks, len({tok}) AS doc_len"
        f" FROM read_parquet('{w.inputs}/docs.parquet')")
    con.execute(
        "CREATE TABLE postings AS SELECT term, doc_id, count(*) AS fq,"
        " any_value(doc_len) AS doc_len FROM (SELECT doc_id, doc_len,"
        " unnest(toks) AS term FROM tl) GROUP BY term, doc_id")
    sql = """
    WITH corpus AS (SELECT count(*) AS num_docs, avg(doc_len) AS avg_doc_len
                    FROM tl),
    q AS (SELECT DISTINCT unnest(?::VARCHAR[]) AS term),
    dfreq AS (SELECT term, count(*) AS df FROM postings JOIN q USING(term)
              GROUP BY term),
    scored AS (
      SELECT p.doc_id,
        ln((c.num_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
          * (p.fq * 2.2) / (p.fq + 1.2*(1 - 0.75 + 0.75*p.doc_len/c.avg_doc_len))
          AS s
      FROM postings p JOIN q USING(term) JOIN dfreq d USING(term)
      CROSS JOIN corpus c)
    SELECT doc_id, round(sum(s), 6) AS bm25_score FROM scored
    GROUP BY doc_id ORDER BY bm25_score DESC, doc_id LIMIT 20
    """
    ref = {}
    for a in w.answers:
        if a["kind"] != "bm25":
            continue
        if a["query"] not in ref:
            terms = [t for t in re.split("[^a-z0-9]+", a["query"].lower()) if t]
            ref[a["query"]] = [
                (int(d), float(s)) for d, s in con.execute(sql, [terms]).fetchall()
            ]
        want = ref[a["query"]]
        got = a["rows"]
        if [d for d, _ in got] != [d for d, _ in want] or not np.allclose(
            [s for _, s in got], [s for _, s in want], atol=2e-6
        ):
            w.fail("bm25.search_bm25", a["cycle"], "top-20 differs from DuckDB")
    con.close()


def _tokens(text: str) -> int:
    return len([t for t in re.split("[^a-z0-9]+", text.lower()) if t])


def check_crawl(w):
    """PageRank mass ≈ 1; stage rows non-increasing; every pack within
    seq_tokens except its straddling last document (the start-offset
    binning contract); the packed output's digest, equal every cycle."""
    digests = set()
    for a in w.answers:
        if a["kind"] != "crawl":
            continue
        c, out, res = a["cycle"], a["out"], a["res"]
        if os.path.exists(f"{out}/ranks"):
            mass = sum(pq.read_table(f"{out}/ranks").column("rank").to_pylist())
            if w.corrupt and c == 0:
                mass += 0.5
            if abs(mass - 1.0) > 1e-6:
                w.fail("weburl.domain_pagerank", c, f"rank mass {mass}")
        if not res or not os.path.exists(f"{out}/packed"):
            continue
        docs_rows = pq.read_table(f"{out}/docs", columns=["doc_id"]).num_rows
        t = pq.read_table(f"{out}/packed").to_pylist()
        rows = [w.pages, docs_rows] + [
            pq.read_table(d, columns=["doc_id"]).num_rows
            for d in sorted(glob.glob(f"{out}/ckpt/[0-9]*"))
        ] + [len(t)]
        if any(b > a_ for a_, b in zip(rows, rows[1:])):
            w.fail("assemble.assemble_pretraining_corpus", c,
                   f"stage rows increase: {rows}")
        res["stage_rows"] = rows
        packs = {}
        for r in t:
            n = min(_tokens(r["text"]), SEQ_TOKENS)
            packs.setdefault(json.dumps(r["pack_id"], sort_keys=True), []).append(
                (r["doc_id"], n))
        for docs in packs.values():
            docs.sort()
            if sum(n for _, n in docs[:-1]) >= SEQ_TOKENS:
                w.fail("assemble.assemble_pretraining_corpus", c,
                       "a pack overflows seq_tokens before its last document")
                break
        h = hashlib.sha256()
        for r in sorted(t, key=lambda r: r["doc_id"]):
            h.update(f"{r['doc_id']}|{json.dumps(r['pack_id'], sort_keys=True)}|"
                     .encode())
        a["digest"] = h.hexdigest()
        digests.add(a["digest"])
        prior_rows = pq.read_table(f"{out}/prior").num_rows if os.path.exists(
            f"{out}/prior") else -1
        if prior_rows != docs_rows:
            w.fail("weburl.join_domain_prior", c,
                   f"{prior_rows} prior rows for {docs_rows} docs")
    if len(digests) > 1:
        w.fail("assemble.assemble_pretraining_corpus", None,
               "packed output differs between cycles")
    return sorted(digests)


# ------------------------------------------------------------------- main


def _median(xs):
    return float(statistics.median(xs)) if xs else None


def _quantile(xs, q):
    if len(xs) < 2:
        return xs[0] if xs else None
    return float(np.quantile(np.asarray(xs), q))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)
    work = os.path.abspath(args.work)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)

    from lantern_spark.plans.codegen_guard import CodegenFailureMonitor

    monitor = CodegenFailureMonitor.install(f"{work}/stderr.log")

    t_start = time.perf_counter()
    from pyspark.sql import SparkSession

    conf = session_settings(work, bool(args.trace))
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start

    from spans import SpanRecorder

    rec = SpanRecorder(spark.sparkContext, args.workload, bool(args.trace))
    w = WORKLOADS[args.workload](spark, rec, os.path.abspath(args.inputs),
                                 work, args.corrupt)
    # setup_s runs once: in this process a second session would reuse the
    # JVM, so a repeat would time a warm reload, not a set-up
    w.load()
    setup_s = time.perf_counter() - t_start

    w.build()
    index_build_s = sum(s["wall"] for s in rec.spans if s["cycle"] == "build")

    loop_t0 = time.perf_counter()
    cycle_walls, cycle_cpus = [], []
    c = 0
    while c == 0 or time.perf_counter() - loop_t0 < args.seconds:
        t, cpu = time.perf_counter(), session_cpu_s()
        w.cycle(c)
        cycle_walls.append(time.perf_counter() - t)
        cycle_cpus.append(session_cpu_s() - cpu)
        c += 1
    loop_s = time.perf_counter() - loop_t0

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    index_bytes = w.index_bytes() if isinstance(w, Retrieval) else None
    app_id = spark.sparkContext.applicationId
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    # the JVM exits when its stdin closes; let it shut down while the
    # checks run instead of after this process exits
    jvm.stdin.close()

    # ---- checks, outside every timed region
    recalls = []
    digests = None
    if isinstance(w, Retrieval):
        if w.corrupt:
            first = next(a for a in w.answers if a["kind"] in ("ann", "exact"))
            first["ids"] = [-1] + first["ids"][1:]
        live_sets = w.live_sets()
        check_vectors(w, live_sets, recalls)
        check_bm25(w)
    if isinstance(w, Crawl):
        digests = check_crawl(w)

    def walls(*names):
        return [s["wall"] for s in rec.spans if s["name"] in names
                and isinstance(s["cycle"], int)]

    m = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb,
         "cycle_p50_s": _median(cycle_walls),
         "cycle_cpu_s": _median(cycle_cpus)}
    if isinstance(w, Retrieval):
        bw = walls("index.search_batch", "hnsw.search_batch")
        probes = sum(
            len(w.batches[s["cycle"] % len(w.batches)]) for s in rec.spans
            if s["name"].endswith("search_batch") and s["ok"]
            and isinstance(s["cycle"], int))
        live_n = w.final_live_rows(live_sets)
        dim = len(w.lookups[0])
        m.update({
            "index_build_s": index_build_s,
            "batch_qps": probes / sum(bw) if bw else None,
            "batch_p50_s": _median(bw),
            "recall_at10": float(np.mean(recalls)) if recalls else None,
            "index_bytes_per_vector_byte": (
                index_bytes / (live_n * dim * 4) if live_n else None),
        })
        lw = walls(*Retrieval.LOOKUP_SPANS)
        m.update({"lookup_p50_s": _median(lw), "lookup_p90_s": _quantile(lw, 0.9),
                  "lookup_samples": len(lw)})
    if isinstance(w, Ingest):
        ww = walls("index.add_delta", "hnsw.add_delta", "index.delete")
        fw = walls("index.fold_delta", "hnsw.fold_delta")
        m.update({"write_p50_s": _median(ww),
                  "ingest_rows_per_s": w.rows_added / (sum(ww) + sum(fw))})
    if isinstance(w, Crawl):
        m["crawl_pages_per_s"] = w.pages * len(cycle_walls) / sum(cycle_walls)
    m["ops_failed_frac"] = len(w.failures) / max(1, w.attempted)

    event_log = None
    if args.trace:
        logs = [f for f in os.listdir(f"{work}/eventlog") if app_id in f]
        event_log = f"{work}/eventlog/{logs[0]}" if logs else None
    result = {
        "workload": args.workload,
        "metrics": m,
        "attempted": w.attempted,
        "failed": len(w.failures),
        "failures": w.failures[:50],
        "cycles": c,
        "loop_s": loop_s,
        "cycle_walls": cycle_walls,
        "setup": {"session_s": session_s, "load_s": setup_s - session_s},
        "spans": rec.spans,
        "event_log": event_log,
        "codegen_failures": len(monitor.scan_all()),
        "settings": {
            **conf, "cores": host_cores(), "client_threads": 1,
            "search": SEARCH_PARAMS,
        },
        "crawl_digests": digests,
    }
    with open(f"{work}/result.json", "w") as fh:
        json.dump(result, fh, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
