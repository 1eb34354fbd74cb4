"""Property-based tests (hypothesis): operator kernels against
independent numpy oracles over generated inputs.

Strategy note: one SparkSession-wide DataFrame round-trip per example
would be minutes-slow; instead each property collects a BATCH of
generated rows into one DataFrame evaluation (hypothesis drives the
values, Spark evaluates vectorized) or tests driver-side kernels
directly where the Spark expr is a thin wrapper.
"""

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

finite_f = st.floats(
    min_value=-1e4, max_value=1e4, allow_nan=False, allow_infinity=False,
    width=32,
)


def vec(dim):
    return st.lists(finite_f, min_size=dim, max_size=dim)


@pytest.fixture(scope="module")
def sql(spark):
    """Evaluate a single-row distance expression via Spark SQL."""

    def run(expr_fn, a, b):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(a, b)], "a array<float>, b array<float>"
        )
        return df.select(expr_fn("a", "b").alias("v")).first()["v"]

    return run


class TestDistanceProperties:
    # r15: batched — one Spark job per hypothesis example instead of
    # one per vector pair (50 single-row jobs took ~50 s of the suite;
    # the batched forms cover more pairs in a fraction of it)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(abs_=st.lists(st.tuples(vec(8), vec(8)), min_size=1, max_size=25))
    def test_l2sq_matches_numpy(self, spark, abs_):
        from lantern_spark.functions.distances import l2sq_dist

        got = [
            r.v
            for r in spark.createDataFrame(
                abs_, "a array<float>, b array<float>"
            )
            .select(l2sq_dist("a", "b").alias("v"))
            .collect()
        ]
        for (a, b), g in zip(abs_, got):
            exp = float(
                ((np.asarray(a, dtype=np.float32).astype(np.float64)
                  - np.asarray(b, dtype=np.float32).astype(np.float64)) ** 2).sum()
            )
            assert math.isclose(g, exp, rel_tol=1e-6, abs_tol=1e-6), (a, b)

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(abs_=st.lists(st.tuples(vec(8), vec(8)), min_size=1, max_size=25))
    def test_cos_dist_range_and_symmetry(self, spark, abs_):
        from lantern_spark.functions.distances import cos_dist

        rows = [
            (a, b)
            for a, b in abs_
            if np.linalg.norm(np.asarray(a, dtype=np.float64)) >= 1e-6
            and np.linalg.norm(np.asarray(b, dtype=np.float64)) >= 1e-6
        ]  # zero vectors: cosine undefined; guard covered elsewhere
        if not rows:
            return
        out = (
            spark.createDataFrame(rows, "a array<float>, b array<float>")
            .select(
                cos_dist("a", "b").alias("ab"),
                cos_dist("b", "a").alias("ba"),
            )
            .collect()
        )
        for (a, b), r in zip(rows, out):
            assert -1e-9 <= r.ab <= 2 + 1e-9, (a, b)
            assert math.isclose(r.ab, r.ba, rel_tol=1e-9, abs_tol=1e-9), (a, b)


class TestBloomProperties:
    @settings(max_examples=50, deadline=None)
    @given(
        ids=st.lists(
            st.integers(min_value=-(2**40), max_value=2**40),
            min_size=1,
            max_size=200,
        )
    )
    def test_no_false_negatives_ever(self, ids):
        from lantern_spark.operators.bloom import bloom_build, bloom_check

        blob = bloom_build(ids)
        assert all(bloom_check(blob, x) for x in ids)

    @settings(max_examples=20, deadline=None)
    @given(
        ids=st.lists(
            st.integers(min_value=0, max_value=10**6),
            min_size=1,
            max_size=100,
        )
    )
    def test_serialization_stable(self, ids):
        from lantern_spark.operators.bloom import bloom_build

        assert bloom_build(ids) == bloom_build(list(ids))


class TestCodecProperties:
    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=12),
        w=st.integers(min_value=1, max_value=12),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_bmp_roundtrip_lossless(self, h, w, seed):
        import numpy as np

        from lantern_spark.operators.codecs import decode_bmp, encode_bmp

        px = np.random.RandomState(seed).randint(
            0, 256, size=(h, w, 3)
        ).astype(np.uint8)
        assert (decode_bmp(encode_bmp(px)) == px).all()

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=400),
        ch=st.integers(min_value=1, max_value=3),
        rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_wav_pcm16_roundtrip_within_quantum(self, n, ch, rate, seed):
        import numpy as np

        from lantern_spark.operators.codecs import decode_wav, encode_wav

        x = (
            np.random.RandomState(seed).standard_normal((n, ch)) * 0.4
        ).clip(-1, 1)
        frames, got_rate = decode_wav(encode_wav(x, rate=rate, bits=16))
        assert got_rate == rate
        assert frames.shape == (n, ch)
        assert np.abs(frames - x).max() <= 1 / 32768 + 1e-12


class TestQuantizationProperties:
    @settings(max_examples=30, deadline=None)
    @given(v=vec(16))
    def test_sq_i8_error_bound(self, v):
        """Round-trip error of min-max int8 is ≤ half a quantization
        step of the value range (driver-side mirror of the exprs)."""
        mn, mx = min(v), max(v)
        if mx - mn < 1e-6:
            return
        scale = mx - mn
        codes = [round((x - mn) / scale * 254.0 - 127.0) for x in v]
        assert all(-127 <= c <= 127 for c in codes)
        back = [(c + 127.0) / 254.0 * scale + mn for c in codes]
        step = scale / 254.0
        assert all(abs(x - y) <= step / 2 + 1e-9 for x, y in zip(v, back))

    @settings(max_examples=30, deadline=None)
    @given(
        x=st.lists(vec(8), min_size=8, max_size=64),
        k=st.integers(min_value=1, max_value=8),
    )
    def test_kmeans_deterministic_and_partitions(self, x, k):
        from lantern_spark.operators.pq import _kmeans_fit

        arr = np.asarray(x, dtype=np.float64)
        c1 = _kmeans_fit(arr, k, seed=7)
        c2 = _kmeans_fit(arr, k, seed=7)
        assert np.array_equal(c1, c2)  # same seed → identical
        assert c1.shape[0] == min(k, arr.shape[0])
        assert np.isfinite(c1).all()


class TestSimHashProperties:
    @settings(max_examples=30, deadline=None)
    @given(
        toks=st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=4),
            min_size=1,
            max_size=30,
        )
    )
    def test_simhash_deterministic_and_64bit(self, toks):
        from lantern_spark.operators.dedup import simhash64

        h1 = simhash64(toks)
        h2 = simhash64(list(toks))
        assert h1 == h2
        # value fits a signed 64-bit slot (stored in a LongType column)
        assert -(2**63) <= h1 < 2**63

    @settings(max_examples=30, deadline=None)
    @given(
        toks=st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=4),
            min_size=4,
            max_size=30,
        )
    )
    def test_simhash_single_token_change_is_small(self, toks):
        """SimHash locality: duplicating one token flips few bits."""
        from lantern_spark.operators.dedup import simhash64

        a = simhash64(toks)
        b = simhash64(toks + [toks[0]])
        hd = bin((a ^ b) & (2**64 - 1)).count("1")
        assert hd <= 40  # far below the 64-bit random baseline (~32±)


class TestBitopsProperties:
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
                min_size=3, max_size=3,
            ),
            min_size=1, max_size=20,
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_uint32_roundtrip_and_popcount(self, rows):
        from lantern_spark.functions.bitops import (
            from_uint32_words,
            popcount_rows,
            to_uint32_words,
        )

        arr = np.asarray(rows, dtype=np.int64)
        words = to_uint32_words(arr)
        assert from_uint32_words(words).tolist() == arr.tolist()
        want = [
            sum(bin(v & 0xFFFFFFFF).count("1") for v in row)
            for row in rows
        ]
        assert popcount_rows(words).tolist() == want

    @given(
        st.lists(
            st.lists(
                st.integers(min_value=-(2**31), max_value=2**31 - 1),
                min_size=2, max_size=2,
            ),
            min_size=2, max_size=12,
        )
    )
    @settings(max_examples=30, deadline=None)
    def test_hamming_cdist_metric_axioms(self, rows):
        from lantern_spark.functions.bitops import (
            hamming_cdist,
            to_uint32_words,
        )

        w = to_uint32_words(np.asarray(rows, dtype=np.int64))
        d = hamming_cdist(w, w)
        assert (np.diag(d) == 0).all()  # identity
        assert (d == d.T).all()  # symmetry
        # triangle inequality on the first three rows when present
        if d.shape[0] >= 3:
            assert d[0, 2] <= d[0, 1] + d[1, 2]


class TestBpeProperties:
    words_st = st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=8),
        min_size=1, max_size=15,
    )

    @given(words_st, st.integers(min_value=0, max_value=30))
    @settings(max_examples=40, deadline=None)
    def test_encode_concatenation_recovers_word(self, words, n_merges):
        """Invariant: for ANY learned merge table, a word's subword
        tokens concatenate back to the word + the end marker."""
        from collections import Counter

        from lantern_spark.operators.bpe import (
            EOW,
            BPETokenizer,
            apply_bpe_word,
            train_bpe_from_counts,
        )

        counts = sorted(Counter(words).items())
        tok = BPETokenizer(train_bpe_from_counts(counts, n_merges))
        for w in set(words):
            pieces = apply_bpe_word(w, tok.ranks)
            assert "".join(pieces) == w + EOW

    @given(words_st)
    @settings(max_examples=30, deadline=None)
    def test_training_deterministic(self, words):
        from collections import Counter

        from lantern_spark.operators.bpe import train_bpe_from_counts

        counts = sorted(Counter(words).items())
        assert train_bpe_from_counts(counts, 10) == train_bpe_from_counts(
            counts, 10
        )


class TestPIIProperties:
    """redact_pii/pii_count invariants over generated PII-bearing text."""

    # [0-9], NOT \d: hypothesis's from_regex uses Python re semantics
    # where \d includes Unicode digits (it generated '0.0.0.0٠' with
    # an Arabic-Indic zero), which is outside the ASCII dialect the
    # PII patterns are written for — and the engines genuinely
    # diverge at that frontier (see
    # test_unicode_digit_frontier_is_conservative).
    _pii_gen = st.lists(
        st.one_of(
            st.from_regex(r"[a-z]{1,8}", fullmatch=True),
            st.from_regex(r"[a-z]{2,6}@[a-z]{2,6}\.(com|org|io)", fullmatch=True),
            st.from_regex(r"[0-9]{3}-[0-9]{2}-[0-9]{4}", fullmatch=True),
            st.from_regex(
                r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
                fullmatch=True,
            ),
            st.from_regex(r"\([0-9]{3}\) [0-9]{3}-[0-9]{4}", fullmatch=True),
        ),
        min_size=1,
        max_size=8,
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(docs=st.lists(_pii_gen, min_size=1, max_size=8))
    def test_redaction_is_idempotent_and_complete(self, spark, docs):
        """After one redaction pass: (a) no pattern matches remain
        (count of the redacted text is 0), (b) redacting again is a
        no-op, (c) count equals the number of placeholders inserted.
        r15: batched — two Spark jobs per hypothesis example of up to
        8 documents instead of two per document (was 34 s of the
        suite in single-row jobs)."""
        import re as _re

        from lantern_spark.operators.textstats import (
            PII_PATTERNS,
            pii_count,
            redact_pii,
        )

        texts = [" ".join(toks) for toks in docs]
        rows = (
            spark.createDataFrame([(s,) for s in texts], "t string")
            .select(
                redact_pii("t").alias("c1"),
                pii_count("t").cast("long").alias("n"),
            )
            .collect()
        )
        for s, row in zip(texts, rows):
            for _kind, pat in PII_PATTERNS:
                # re.ASCII: Java and RE2 treat \d/\b as ASCII-only;
                # Python re is the odd one out (hypothesis found '0٠0'
                # — an Arabic-Indic digit — matching Python's \d but
                # neither engine's). The ASCII flag checks the ACTUAL
                # cross-engine dialect the patterns are written in.
                assert _re.search(pat, row["c1"], _re.ASCII) is None, (
                    s, row["c1"], pat,
                )
        rows2 = (
            spark.createDataFrame(
                [(row["c1"],) for row in rows], "t string"
            )
            .select(
                redact_pii("t").alias("c2"),
                pii_count("t").cast("long").alias("n2"),
            )
            .collect()
        )
        for row, row2 in zip(rows, rows2):
            assert row2["c2"] == row["c1"] and row2["n2"] == 0
            placeholders = sum(
                row["c1"].count(f"<{kind.upper()}>")
                for kind, _ in PII_PATTERNS
            )
            assert placeholders == row["n"]

    def test_unicode_digit_frontier_is_conservative(self, spark):
        """Documented engine-frontier pin (hypothesis found this): when
        a Unicode word character (here U+0660, Arabic-Indic zero)
        directly abuts ASCII PII, Java's \\b sees NO boundary — the
        engine conservatively does NOT redact '0.0.0.0٠' (it is not a
        cleanly-delimited IPv4 token) — while an ASCII-\\b engine
        (Python re.ASCII, RE2) would. The cross-engine byte-identical
        contract therefore holds for text whose PII-adjacent
        characters are ASCII (the PII_PATTERNS docstring's dialect);
        this pin fails if the engine's behavior ever drifts."""
        from lantern_spark.operators.textstats import pii_count, redact_pii

        s = "a 0.0.0.0٠ but 1.2.3.4 redacts"
        row = (
            spark.createDataFrame([(s,)], "t string")
            .select(
                redact_pii("t").alias("c"),
                pii_count("t").cast("long").alias("n"),
            )
            .first()
        )
        assert row["c"] == "a 0.0.0.0٠ but <IPV4> redacts"
        assert row["n"] == 1


class TestSemanticDedupProperties:
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        seed=st.integers(min_value=0, max_value=2**16),
        n=st.integers(min_value=4, max_value=24),
    )
    @pytest.mark.slow
    def test_keep_rule_invariants(self, spark, seed, n):
        """For any generated corpus: each cluster's min-id row is kept;
        kept ⟺ (no prior or max_prior_sim < thr); output is a
        permutation of the input ids."""
        rng = np.random.RandomState(seed)
        rows = [
            (i, [float(x) for x in rng.randn(8)]) for i in range(n)
        ]
        # inject guaranteed near-dupes: copy row 0 at the highest ids
        rows.append((1000, [v * 1.0001 for v in rows[0][1]]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        from lantern_spark.operators.dedup import semantic_dedup

        out = semantic_dedup(
            df, "embedding", "vec_id", n_clusters=3, threshold=0.98,
            seed=7, round_digits=6,
        ).collect()
        assert sorted(r["id"] for r in out) == sorted(r[0] for r in rows)
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for members in by_cluster.values():
            first = min(members, key=lambda r: r["id"])
            assert first["kept"] and first["max_prior_sim"] is None
            for r in members:
                if r["max_prior_sim"] is not None:
                    assert r["kept"] == (r["max_prior_sim"] < 0.98)
        dup = next(r for r in out if r["id"] == 1000)
        assert not dup["kept"], "the injected copy must drop"


class TestRollingHashProperties:
    """exact_substring_dedup's window-hash kernel: equal token windows
    hash equal (both polynomials), unequal windows collide in NEITHER
    with overwhelming probability (driver-side kernel — the Spark op
    is a thin exploded wrapper)."""

    tokens = st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Zs", "Cc", "Cs")
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=0,
        max_size=30,
    )

    @settings(max_examples=50, deadline=None)
    @given(toks=tokens, w=st.integers(min_value=2, max_value=6))
    def test_window_count_and_self_consistency(self, toks, w):
        from lantern_spark.operators.dedup import _window_hashes

        a1, a2 = _window_hashes(toks, w)
        n = len(toks)
        want = max(0, n - w + 1)
        assert len(a1) == len(a2) == want
        # recomputing any window standalone gives the same pair
        for p in range(want):
            b1, b2 = _window_hashes(toks[p : p + w], w)
            assert a1[p] == b1[0] and a2[p] == b2[0]

    @settings(max_examples=50, deadline=None)
    @given(toks=tokens.filter(lambda t: len(t) >= 4))
    def test_equal_windows_iff_equal_tokens(self, toks):
        from lantern_spark.operators.dedup import _window_hashes

        w = 3
        if len(toks) < w:
            return
        a1, a2 = _window_hashes(toks, w)
        for i in range(len(a1)):
            for j in range(i + 1, len(a1)):
                same = toks[i : i + w] == toks[j : j + w]
                pair_same = bool(a1[i] == a1[j] and a2[i] == a2[j])
                assert pair_same == same, (i, j)


class TestBloomSetProperties:
    """Sharded Bloom set: inserted keys are NEVER false negatives, for
    any shard/bit sizing; position kernel stays in-range."""

    keys = st.lists(
        st.text(min_size=0, max_size=20), min_size=1, max_size=40,
        unique=True,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        keys=keys,
        m_exp=st.integers(min_value=7, max_value=12),
        k=st.integers(min_value=1, max_value=8),
    )
    def test_no_false_negatives_kernel(self, keys, m_exp, k):
        import hashlib

        from lantern_spark.operators.bloomset import (
            _positions_np,
            _set_bits,
            _test_bits,
        )

        m = (1 << m_exp) * 8  # byte-aligned bit count
        bits = np.zeros(m // 8, dtype=np.uint8)

        def hashes(key):
            hx = hashlib.md5(f"42:{key}".encode()).hexdigest()
            return int(hx[0:15], 16), int(hx[16:31], 16)

        hs = np.asarray([hashes(t) for t in keys], dtype=np.int64)
        pos = _positions_np(hs[:, 0], hs[:, 1], m, k)
        assert pos.min() >= 0 and pos.max() < m
        _set_bits(bits, pos)
        assert _test_bits(bits, pos).all()


class TestOPQProperties:
    @settings(max_examples=15, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        d=st.sampled_from([4, 8, 16]),
    )
    def test_seeded_rotation_is_orthonormal_and_deterministic(
        self, seed, d
    ):
        from lantern_spark.operators.opq import _seeded_rotation

        r1 = _seeded_rotation(d, seed)
        r2 = _seeded_rotation(d, seed)
        assert np.array_equal(r1, r2)
        assert np.allclose(r1 @ r1.T, np.eye(d), atol=1e-10)
        assert np.isclose(abs(np.linalg.det(r1)), 1.0, atol=1e-10)

    @settings(max_examples=15, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def test_opq_never_worse_than_plain_pq_on_sample(self, seed):
        """identity-init OPQ keeps the best iterate, so its sample MSE
        is <= plain PQ's for ANY data (plain PQ IS iteration 1)."""
        from lantern_spark.operators.opq import (
            _codebook_np,
            _encode_decode_local,
            train_opq_local,
        )
        from lantern_spark.operators.pq import train_codebook_local
        from lantern_spark.types import PQSpec

        rng = np.random.RandomState(seed)
        x = rng.randn(120, 8)
        spec = PQSpec(dim=8, splits=2, clusters=4)
        xs = x[np.lexsort(x.T[::-1])]
        plain = train_codebook_local(xs, spec)
        y = _encode_decode_local(xs, _codebook_np(plain, spec), spec)
        plain_mse = float(((xs - y) ** 2).sum(axis=1).mean())
        _rot, _rows, mse = train_opq_local(x, spec, iters=4)
        assert mse <= plain_mse + 1e-9


class TestBytePolyTokenHashProperties:
    """r9 token-hash kernel (_hash_token_batch): equality iff equal
    strings (overwhelming probability), leading-NUL aliasing killed by
    the length sentinel, both channels independent."""

    @settings(max_examples=60, deadline=None)
    @given(
        toks=st.lists(
            st.text(
                alphabet=st.characters(blacklist_categories=("Cs",)),
                min_size=1,
                max_size=8,
            ),
            min_size=1,
            max_size=40,
        )
    )
    def test_equal_iff_equal(self, toks):
        import numpy as np

        from lantern_spark.operators.dedup import _hash_token_batch

        h1, h2 = _hash_token_batch(toks)
        assert len(h1) == len(h2) == len(toks)
        for i in range(len(toks)):
            for j in range(i + 1, len(toks)):
                same = toks[i] == toks[j]
                assert (h1[i] == h1[j] and h2[i] == h2[j]) == same or (
                    not same
                    and not (h1[i] == h1[j] and h2[i] == h2[j])
                ), (i, j)

    def test_leading_nul_not_aliased(self):
        from lantern_spark.operators.dedup import _hash_token_batch

        pairs = [("a", "\x00a"), ("\x00", "\x00\x00"), ("ab", "\x00ab")]
        for x, y in pairs:
            h1, h2 = _hash_token_batch([x, y])
            assert not (h1[0] == h1[1] and h2[0] == h2[1]), (x, y)

    def test_channels_differ(self):
        import numpy as np

        from lantern_spark.operators.dedup import _hash_token_batch

        toks = [f"t{i}" for i in range(200)]
        h1, h2 = _hash_token_batch(toks)
        # two independent bases: the channels must not be equal or a
        # constant offset of each other
        assert not np.array_equal(h1, h2)
        with np.errstate(over="ignore"):
            assert len(np.unique(h2 - h1)) > 190


class TestWarcProperties:
    """Property: the strict WARC parser inverts the writer for
    ARBITRARY payload bytes (including separator-looking sequences,
    gzip magic, empty payloads), in every container layout."""

    @given(
        payloads=st.lists(
            st.binary(min_size=0, max_size=400), min_size=1, max_size=8
        ),
        layout=st.sampled_from(["plain", "gzip_file", "gzip_per_record"]),
    )
    @settings(max_examples=40, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_write_parse_roundtrip(self, payloads, layout, tmp_path_factory):
        import os

        from lantern_spark.sources.warc import parse_warc_bytes, write_warc

        d = tmp_path_factory.mktemp("warc_prop")
        p = os.path.join(str(d), "t.warc")
        recs = [
            {
                "warc_type": "response" if i % 2 else "conversion",
                "payload": b,
                "url": f"https://p/{i}",
                "record_id": f"<urn:uuid:prop-{i}>",
            }
            for i, b in enumerate(payloads)
        ]
        write_warc(
            p, recs,
            gzip_file=(layout == "gzip_file"),
            gzip_per_record=(layout == "gzip_per_record"),
        )
        with open(p, "rb") as fh:
            parsed = list(parse_warc_bytes(fh.read()))
        assert len(parsed) == len(recs)
        for (hdrs, payload), want in zip(parsed, recs):
            assert payload == want["payload"]
            assert hdrs["warc-type"] == want["warc_type"]
            assert hdrs["warc-target-uri"] == want["url"]
            assert int(hdrs["content-length"]) == len(want["payload"])


class TestHttpEnvelopeProperties:
    """Property (r11): the HTTP splitter inverts the response builder
    for ARBITRARY body bytes under every coding combination — gzip
    magic in the raw body, CRLFCRLF sequences, empty bodies, bytes
    that look like chunk-size lines."""

    @given(
        body=st.binary(min_size=0, max_size=600),
        gzip_body=st.booleans(),
        chunked=st.booleans(),
        status=st.sampled_from([200, 301, 404, 503]),
    )
    @settings(max_examples=80, deadline=None)
    def test_build_split_roundtrip(self, body, gzip_body, chunked, status):
        from lantern_spark.sources.warc import (
            build_http_response,
            split_http_response,
        )

        msg = build_http_response(
            body, status=status, gzip_body=gzip_body, chunked=chunked
        )
        headers, got = split_http_response(msg)
        assert got == body
        assert headers["__status"] == str(status)


class TestResolveLinkProperties:
    """Property (r11): resolve_link agrees with urllib.parse.urljoin
    (the stdlib RFC 3986 reference) over the resolver's documented
    grammar — absolute / protocol-relative / root-relative /
    query-only / directory-relative links with ./ and bounded ../
    chains, including over-ascent past the root. Fragments are
    stripped from both sides (the resolver's graph-edge contract)."""

    seg = st.from_regex(r"[a-z][a-z0-9]{0,4}", fullmatch=True)

    @st.composite
    def base_and_link(draw):
        seg = st.from_regex(r"[a-z][a-z0-9]{0,4}", fullmatch=True)
        depth = draw(st.integers(0, 3))
        parts = [draw(seg) for _ in range(depth)]
        page = draw(st.sampled_from(["", "page.html", "p"]))
        q = draw(st.sampled_from(["", "?a=1"]))
        frag = draw(st.sampled_from(["", "#sec"]))
        base = "https://host.example" + "".join(
            "/" + p for p in parts
        ) + ("/" + page if page else ("/" if depth == 0 and not page else "")) + q + frag
        kind = draw(st.sampled_from(
            ["abs", "proto", "root", "query", "rel", "up", "dot", "empty"]
        ))
        if kind == "abs":
            link = "http://other.example/" + draw(seg)
        elif kind == "proto":
            link = "//cdn.example/" + draw(seg)
        elif kind == "root":
            link = "/" + draw(seg) + draw(st.sampled_from(["", "?z=2"]))
        elif kind == "query":
            link = "?q=" + draw(seg)
        elif kind == "rel":
            link = draw(seg) + "/" + draw(seg) + ".html"
        elif kind == "up":
            ups = draw(st.integers(1, 5))  # may over-ascend
            link = "../" * ups + draw(seg)
        elif kind == "dot":
            link = "./" + draw(seg)
        else:
            link = ""
        link += draw(st.sampled_from(["", "#frag"]))
        return base, link

    @given(pairs=st.lists(base_and_link(), min_size=1, max_size=60))
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_urljoin(self, spark, pairs):
        # r15: batched — one Spark job per hypothesis example instead
        # of one per (base, link) pair (120 single-row jobs took 168 s
        # of the suite; 15 batched examples cover MORE pairs in ~15 s)
        import re
        from urllib.parse import urljoin

        from lantern_spark.functions.html import resolve_link

        want = [re.sub(r"#.*$", "", urljoin(b, l)) for b, l in pairs]
        got = [
            r.o
            for r in spark.createDataFrame(pairs, "b string, l string")
            .select(resolve_link("b", "l").alias("o"))
            .collect()
        ]
        assert got == want, [
            (p, g, w) for p, g, w in zip(pairs, got, want) if g != w
        ]


class TestLinkHostProperty:
    """Property (r12): link_host is the HOST projection of
    resolve_link — url_host(resolve_link(b, l)) == link_host(b, l)
    for the full resolver grammar (the crawl-graph hot path relies on
    this to avoid inlining the whole resolve chain; see
    weburl.domain_link_graph)."""

    @given(data=st.lists(TestResolveLinkProperties.base_and_link(),
                         min_size=1, max_size=40))
    @settings(max_examples=25, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_host_projection_equivalence(self, spark, data):
        from pyspark.sql import functions as F

        from lantern_spark.functions.html import link_host, resolve_link
        from lantern_spark.operators.weburl import url_host

        rows = data + [
            ("not a url", "rel/path"),
            ("not a url", "https://abs.example/x"),
            ("https://h.example/a/", ""),
            ("https://h.example:8080/a", "//proto.example/p"),
        ]
        df = spark.createDataFrame(rows, "b string, l string")
        mism = df.select(
            url_host(resolve_link("b", "l")).alias("want"),
            link_host("b", "l").alias("got"),
            "b", "l",
        ).where(~F.col("want").eqNullSafe(F.col("got")))
        bad = mism.collect()
        assert not bad, bad[:5]


class TestHttpSplitterFuzz:
    """Fuzz contract (r11): on ARBITRARY bytes the splitter either
    returns (headers, body) or raises one of the exception types the
    Spark wrapper catches — any other exception type would kill a
    100 TB job instead of nulling the row."""

    CAUGHT = (ValueError, OSError, EOFError)  # + zlib.error below

    @given(blob=st.binary(min_size=0, max_size=400))
    @settings(max_examples=150, deadline=None)
    def test_arbitrary_bytes(self, blob):
        import zlib

        from lantern_spark.sources.warc import split_http_response

        try:
            headers, body = split_http_response(blob)
            assert isinstance(body, bytes)
        except (*self.CAUGHT, zlib.error):
            pass  # the wrapper's null-row path

    @given(
        tail=st.binary(min_size=0, max_size=300),
        coding=st.sampled_from(
            [b"", b"Content-Encoding: gzip\r\n",
             b"Content-Encoding: deflate\r\n",
             b"Transfer-Encoding: chunked\r\n"]
        ),
    )
    @settings(max_examples=150, deadline=None)
    def test_http_prefixed_garbage(self, tail, coding):
        import zlib

        from lantern_spark.sources.warc import split_http_response

        blob = b"HTTP/1.1 200 OK\r\n" + coding + b"\r\n" + tail
        try:
            split_http_response(blob)
        except (*self.CAUGHT, zlib.error):
            pass


class TestRegisteredDomainFormsAgree:
    """Property (r11): a relational PSL rules JOIN replayed in DuckDB
    and the registered_domain expression compute the same eTLD+1 for
    generated hosts built from real bundled-rule labels mixed with
    random ones — one batched DataFrame comparison per example set."""

    @given(
        seeds=st.lists(
            st.tuples(
                st.integers(0, 10_000),  # picks a bundled rule
                st.integers(0, 3),       # extra leading labels
                st.booleans(),           # also emit the bare rule host
            ),
            min_size=1,
            max_size=25,
        )
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_join_equals_expression(self, spark, psl_oracles, seeds):
        from lantern_spark.operators.weburl import (
            default_psl,
            registered_domain,
        )

        psl = default_psl()
        rules = sorted(
            {r for k in psl["exact"] for r in psl["exact"][k]}
            | {("x." + b) for k in psl["wildcard"] for b in psl["wildcard"][k]}
            | {r for k in psl["exception"] for r in psl["exception"][k]}
        )
        urls = []
        for idx, extra, bare in seeds:
            rule = rules[idx % len(rules)]
            host = ".".join(f"l{j}" for j in range(extra)) + (
                "." if extra else ""
            ) + rule
            urls.append(f"https://{host}/p")
            if bare:
                urls.append(f"https://{rule}/p")
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, u string"
        )
        expr = {
            r.i: r.d
            for r in df.select(
                "i", registered_domain("u").alias("d")
            ).collect()
        }
        join = dict(enumerate(psl_oracles[1](urls, psl)))
        assert join == expr, {
            k: (join[k], expr[k]) for k in expr if join[k] != expr[k]
        }


class TestSurtKeyProperty:
    """Property (r11): surt_key agrees with an independent Python
    replay over generated hosts/paths — batched into one DataFrame
    evaluation per example set."""

    @staticmethod
    def _py_surt(url):
        import re

        m = re.match(
            r"^([A-Za-z][A-Za-z0-9+.\-]*)://(?:[^/@?#]*@)?([^/?#]*)",
            url.strip(),
        )
        if not m:
            return ""
        scheme = m.group(1).lower()
        hostport = m.group(2).lower()
        host = re.sub(r":[0-9]*$", "", hostport)
        host = re.sub(r"\.$", "", host)
        host = re.sub(r"^www\.", "", host)
        if not host:
            return ""
        pm = re.search(r":([0-9]+)$", hostport)
        port = pm.group(1) if pm else ""
        if (scheme, port) in (("http", "80"), ("https", "443")):
            port = ""
        rest = re.match(
            r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^/@?#]*@)?[^/?#]*([^#]*)",
            url.strip(),
        ).group(1).lower()
        path, sep, q = rest.partition("?")
        # IA canonicalizer rules (r13): empty path → '/', empty query
        # params dropped before the alphabetical sort
        path = path or "/"
        params = [p for p in q.split("&") if p]
        rest = path + "?" + "&".join(sorted(params)) if params else path
        return (
            ",".join(reversed(host.split(".")))
            + (":" + port if port else "")
            + ")"
            + rest
        )

    @given(
        parts=st.lists(
            st.tuples(
                st.from_regex(r"[a-z][a-z0-9-]{0,6}", fullmatch=True),
                st.integers(1, 4),   # host label count
                st.sampled_from(
                    ["", "/p/Q?x=1", "/", "#frag", ":8080/x",
                     "/p?b=2&a=1", ":443/x", ":80/x", "/p?c=3&a=1&b=2#f",
                     "?b=2&a=1", "/p?&a=1", "/p?a=1&&b=2&", "?", "/p?"]
                ),
                st.booleans(),       # www. prefix
            ),
            min_size=1,
            max_size=30,
        )
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_python_replay(self, spark, parts):
        from lantern_spark.operators.weburl import surt_key

        urls = []
        for label, n, tail, www in parts:
            host = ".".join([label] * n)
            if www:
                host = "www." + host
            urls.append(f"https://{host}{tail}")
        urls.append("not a url")
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)], "i long, u string"
        )
        got = {
            r.i: r.k
            for r in df.select("i", surt_key("u").alias("k")).collect()
        }
        for i, u in enumerate(urls):
            assert got[i] == self._py_surt(u), (u, got[i], self._py_surt(u))
