"""Seeded input generators for the benchmark.

Everything a workload reads is written to files here, before the timed
process starts, so no generator time lands in any metric. The same
(workload, seed, scale) always writes byte-identical inputs. Each
generator returns the input properties it used; they are stored in
``inputs.json`` next to the files and copied into the run's report.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-scale sizes. "full" is what the benchmark measures; "tiny" is the
# self-test scale (sf0.001-sized inputs).
SCALES = {
    "full": dict(
        rows=4_000, dim=64, clusters=64, sigma=1.0, center_scale=2.0,
        batch=64, n_batches=4, n_lookups=240,
        docs=1_000, vocab=3_000, bm25_queries=64,
        delta_frac=0.01, delete_frac=0.001, write_cycles=12,
        pages=40, domains=100, warc_shards=8,
    ),
    "tiny": dict(
        rows=1_000, dim=64, clusters=16, sigma=1.0, center_scale=2.0,
        batch=16, n_batches=2, n_lookups=20,
        docs=200, vocab=600, bm25_queries=8,
        delta_frac=0.02, delete_frac=0.004, write_cycles=8,
        pages=120, domains=20, warc_shards=4,
    ),
}

# Crawl duplicate shares: exact copies under a new URL, near copies
# (a few words changed), and URL duplicates (same page, tracking
# parameter appended).
DUP_SHARES = {"exact": 0.06, "near": 0.06, "url": 0.04}
BLOCKED_DOMAIN = "dom13.com"
# index 13 is "com", so the blocked domain dom13.com receives pages
_SUFFIXES = ["org", "com", "net", "co.uk", "com.au", "io"]


def _mixture(rng, n, centers, sigma, labels=None):
    if labels is None:
        labels = rng.integers(0, len(centers), n)
    x = centers[labels] + rng.normal(0.0, sigma, (n, centers.shape[1]))
    return x.astype(np.float32), labels


def _vec_table(ids, x) -> pa.Table:
    flat = pa.array(x.reshape(-1), type=pa.float32())
    vec = pa.FixedSizeListArray.from_arrays(flat, x.shape[1]).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"id": pa.array(ids, type=pa.int64()), "vec": vec})


def _vocabulary(rng, n):
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words, seen = [], set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        w = "".join(
            cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_words(rng, vocab, n):
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    idx = rng.choice(len(vocab), size=n, p=w / w.sum())
    return [vocab[i] for i in idx]


def _sentences(rng, vocab, n_words):
    words = _zipf_words(rng, vocab, n_words)
    out, i = [], 0
    while i < len(words):
        j = i + int(rng.integers(6, 16))
        out.append(" ".join(words[i:j]).capitalize() + ".")
        i = j
    return " ".join(out)


def gen_vectors(out: str, seed: int, s: dict, with_writes: bool) -> dict:
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, s["center_scale"], (s["clusters"], s["dim"]))
    n = s["rows"]
    base, _ = _mixture(rng, n, centers, s["sigma"])
    pq.write_table(_vec_table(np.arange(n), base), f"{out}/base.parquet")
    # probes are drawn from the same mixture but never enter the corpus
    batches, _ = _mixture(rng, s["batch"] * s["n_batches"], centers, s["sigma"])
    np.save(f"{out}/batches.npy", batches.reshape(s["n_batches"], s["batch"], -1))
    lookups, _ = _mixture(rng, s["n_lookups"], centers, s["sigma"])
    np.save(f"{out}/lookups.npy", lookups)
    props = dict(
        rows=n, dim=s["dim"], clusters=s["clusters"], sigma=s["sigma"],
        center_scale=s["center_scale"], batch=s["batch"],
        n_batches=s["n_batches"], n_lookups=s["n_lookups"],
    )
    if with_writes:
        per = max(2, int(round(n * s["delta_frac"])))
        n_del = max(1, int(round(n * s["delete_frac"])))
        os.makedirs(f"{out}/deltas", exist_ok=True)
        # every deleted id comes from the base set and is never re-added
        victims = rng.permutation(n)[: n_del * s["write_cycles"]]
        next_id = n
        for c in range(s["write_cycles"]):
            # half scattered over all clusters, half in two clusters
            scat, _ = _mixture(rng, per // 2, centers, s["sigma"])
            two = rng.choice(s["clusters"], 2, replace=False)
            hot, _ = _mixture(
                rng, per - per // 2, centers, s["sigma"],
                labels=two[rng.integers(0, 2, per - per // 2)],
            )
            ids = np.arange(next_id, next_id + per)
            next_id += per
            pq.write_table(
                _vec_table(ids, np.vstack([scat, hot])),
                f"{out}/deltas/add_{c:03d}.parquet",
            )
            pq.write_table(
                pa.table({"id": pa.array(
                    victims[c * n_del:(c + 1) * n_del], type=pa.int64()
                )}),
                f"{out}/deltas/del_{c:03d}.parquet",
            )
        props.update(
            delta_rows_per_cycle=per, delete_rows_per_cycle=n_del,
            delta_shapes={"scattered": per // 2, "two_clusters": per - per // 2},
            write_cycles=s["write_cycles"],
        )
    return props


def gen_docs(out: str, seed: int, s: dict) -> dict:
    rng = np.random.default_rng(seed + 1)
    vocab = _vocabulary(rng, s["vocab"])
    # a fixed multiset of lengths, so every seed has the same total text
    texts = [
        _sentences(rng, vocab, int(n))
        for n in rng.permutation(np.linspace(20, 120, s["docs"]))
    ]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(s["docs"]), type=pa.int64()),
            "text": texts,
        }),
        f"{out}/docs.parquet",
    )
    # queries mix a mid-frequency term with a rarer one, so each
    # matches some but not all documents
    queries = [
        " ".join(vocab[int(i)] for i in (
            rng.integers(5, 60), rng.integers(60, 600), rng.integers(5, 300)
        ))
        for _ in range(s["bm25_queries"])
    ]
    with open(f"{out}/bm25_queries.json", "w") as fh:
        json.dump(queries, fh)
    return dict(docs=s["docs"], vocab=s["vocab"], bm25_queries=len(queries))


def _domain(j: int) -> str:
    return f"dom{j}.{_SUFFIXES[j % len(_SUFFIXES)]}"


def gen_warc(out: str, seed: int, s: dict) -> dict:
    from lantern_spark.sources.warc import build_http_response, write_warc

    rng = np.random.default_rng(seed + 2)
    vocab = _vocabulary(rng, s["vocab"])
    n, nd = s["pages"], s["domains"]
    bodies, urls = [], []
    # exact duplicate counts and a fixed multiset of page lengths, so the
    # pipeline's work does not swing with the seed
    dups = {k: max(1, int(round(v * n))) for k, v in DUP_SHARES.items()}
    kinds = np.array(["orig"] * (n - sum(dups.values())) + [
        k for k, c in dups.items() for _ in range(c)])
    kinds[1:] = rng.permutation(kinds[1:])
    lengths = iter(rng.permutation(
        np.linspace(150, 400, int((kinds == "orig").sum())).astype(int)))
    for i in range(n):
        dom = int(rng.integers(0, nd))
        host = ("www." if i % 3 else "blog.") + _domain(dom)
        kind = kinds[i]
        originals = [k for k in range(i) if kinds[k] == "orig"]
        if kind != "orig" and originals:
            src = int(originals[int(rng.integers(len(originals)))])
            text, links = bodies[src]
            if kind == "near":
                words = text.split(" ")
                for p in rng.choice(len(words), max(1, len(words) // 40)):
                    words[p] = vocab[int(rng.integers(len(vocab)))]
                text = " ".join(words)
            url = urls[src] + "?utm_source=x" if kind == "url" else (
                f"https://{host}/p/{i}"
            )
        else:
            text = _sentences(rng, vocab, int(next(lengths)))
            url = f"https://{host}/p/{i}"
            links = "".join(
                f'<li><a href="https://www.{_domain(int(t))}/p/'
                f'{int(rng.integers(n))}">'
                f"{vocab[int(rng.integers(len(vocab)))]}</a></li>"
                for t in rng.integers(0, nd, int(rng.integers(2, 9)))
            )
        bodies.append((text, links))
        urls.append(url)
    recs = [
        {
            "warc_type": "response",
            "url": urls[i],
            "payload": build_http_response(
                "<html><head><title>page</title></head><body><p>"
                + text.replace(". ", ".</p>\n<p>")
                + f"</p><ul>{links}</ul></body></html>",
                gzip_body=(i % 2 == 0),
            ),
            "content_type": "application/http; msgtype=response",
            "record_id": f"<urn:uuid:perfbench-{seed}-{i}>",
            "warc_date": "2026-01-01T00:00:00Z",
        }
        for i, (text, links) in enumerate(bodies)
    ]
    os.makedirs(f"{out}/warc", exist_ok=True)
    shards = s["warc_shards"]
    for k in range(shards):
        write_warc(
            f"{out}/warc/part-{k:05d}.warc.gz", recs[k::shards],
            gzip_per_record=True,
        )
    counts = {k: int((kinds == k).sum()) for k in ("orig", "exact", "near", "url")}
    return dict(
        pages=n, domains=nd, warc_shards=shards, gzip_per_record=True,
        dup_shares=DUP_SHARES, dup_counts=counts,
        blocked_domain=BLOCKED_DOMAIN,
    )


def generate(out: str, workload: str, seed: int, scale: str) -> dict:
    """Write one workload's inputs under ``out``; return their properties."""
    s = SCALES[scale]
    os.makedirs(out, exist_ok=True)
    props = {"workload": workload, "seed": seed, "scale": scale}
    if workload in ("retrieval", "ingest"):
        props["vectors"] = gen_vectors(out, seed, s, workload == "ingest")
        props["docs"] = gen_docs(out, seed, s)
    if workload == "crawl":
        props["crawl"] = gen_warc(out, seed, s)
    with open(f"{out}/inputs.json", "w") as fh:
        json.dump(props, fh, indent=1, sort_keys=True)
    return props

