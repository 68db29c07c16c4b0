"""Property-based tests (hypothesis): retry semantics against arbitrary
outcome sequences, and connected-components resolution against a
union-find reference on random graphs."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from copenhagen_traffic_and_weather_etl_pipeline_spark.testdata import sf_dir as data_dir
from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.dedup import (
    keep_list,
    resolve_clusters,
)
from copenhagen_traffic_and_weather_etl_pipeline_spark.sources.rest import (
    fetch_with_retry,
)

# ---------------------------------------------------------------------------
# fetch_with_retry: pure-Python, exhaustively fuzzable.
# Outcomes: int -> HTTP status returned; None -> fetcher raises.
# ---------------------------------------------------------------------------

outcome = st.one_of(st.none(), st.sampled_from([200, 404, 500, 503]))


@given(st.lists(outcome, min_size=1, max_size=6))
def test_retry_semantics(outcomes):
    calls = {"n": 0}

    def fetcher(url):
        i = min(calls["n"], len(outcomes) - 1)
        calls["n"] += 1
        o = outcomes[i]
        if o is None:
            raise RuntimeError("boom")
        return o, f"body{i}"

    tries = 3
    status, payload, err = fetch_with_retry(fetcher, "u", tries=tries, delay=0)

    first_success = next(
        (i for i, o in enumerate(outcomes[:tries]) if o == 200), None
    )
    if first_success is not None:
        # Stops at the FIRST 200; no further attempts.
        assert (status, payload, err) == (200, f"body{first_success}", None)
        assert calls["n"] == first_success + 1
    else:
        # All attempts exhausted; status reflects the FINAL attempt only.
        assert payload is None and err is not None
        assert calls["n"] == tries
        final = outcomes[min(tries - 1, len(outcomes) - 1)]
        assert status == (final if final is not None else None)


# ---------------------------------------------------------------------------
# resolve_clusters == union-find, on random small graphs.
# ---------------------------------------------------------------------------


def _union_find(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Cluster id = min member id.
    out = {}
    for v in range(n_nodes):
        root = find(v)
        out[v] = min(u for u in range(n_nodes) if find(u) == root)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.integers(min_value=2, max_value=12).flatmap(
        lambda n: st.tuples(
            st.just(n),
            st.lists(
                st.tuples(
                    st.integers(0, n - 1), st.integers(0, n - 1)
                ).filter(lambda e: e[0] != e[1]),
                max_size=15,
            ),
        )
    )
)
def test_resolve_clusters_matches_union_find(spark, graph):
    n, edges = graph
    # resolve_clusters expects d1 < d2 candidate pairs.
    pairs_data = sorted({(min(a, b), max(a, b)) for a, b in edges})
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    if pairs_data:
        pairs = spark.createDataFrame(pairs_data, "d1 long, d2 long")
    else:
        pairs = spark.createDataFrame([], "d1 long, d2 long")

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in resolve_clusters(pairs, vertices).collect()
    }
    assert got == _union_find(n, pairs_data)

    kept = {
        r["doc_id"] for r in keep_list(resolve_clusters(pairs, vertices))
        .filter("keep").collect()
    }
    assert kept == set(_union_find(n, pairs_data).values())



# ---------------------------------------------------------------------------
# k-means invariant: whatever centroids kmeans_fit returns, every point's
# assignment is the argmin of (rounded) squared distance, lowest cid on
# ties — checked against a pure-Python reference.
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.floats(-10, 10, allow_nan=False, width=32),
            st.floats(-10, 10, allow_nan=False, width=32),
        ),
        min_size=3,
        max_size=10,
    )
)
def test_kmeans_assignment_is_nearest_centroid(spark, points):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.clustering import (
        assign_clusters,
        kmeans_fit,
    )

    rows = [(i, [float(x), float(y)]) for i, (x, y) in enumerate(points)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    k = min(2, len(rows))
    centroids = kmeans_fit(df, k=k, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in assign_clusters(df, centroids).collect()}

    import numpy as np

    for i, vec in rows:
        # float32 storage round-trip, then the operator's rounded-distance
        # argmin with lowest-cid tiebreak.
        v = np.asarray(vec, dtype=np.float32).astype(np.float64)
        dists = [
            round(float(((v - np.asarray(c)) ** 2).sum()), 6) for c in centroids
        ]
        expect = min(range(k), key=lambda cid: (dists[cid], cid))
        assert got[i] == expect, (i, dists, got[i])


# ---------------------------------------------------------------------------
# frame_sample matches a pure-Python reference for arbitrary payload sizes
# (partial trailing frames dropped, stride-4 indices, exact digests).
# ---------------------------------------------------------------------------


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.integers(min_value=0, max_value=200))
def test_frame_sample_matches_reference(spark, n_chars):
    import hashlib

    from copenhagen_traffic_and_weather_etl_pipeline_spark.operators.multimodal import (
        frame_sample,
        synthesize_binary_docs,
    )

    text = "a" * n_chars
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = frame_sample(synthesize_binary_docs(df)).collect()

    payload = bytes.fromhex("89504E47") + text.encode()
    n_frames = (len(payload) - 4) // 16
    expect = {
        idx: hashlib.md5(
            payload[4 + idx * 16 : 4 + idx * 16 + 16].hex().upper().encode()
        ).hexdigest()
        for idx in range(0, n_frames, 4)
    }
    assert {r["frame_idx"]: r["frame_digest"] for r in rows} == expect


# ---------------------------------------------------------------------------
# Levenshtein blocking skew: the (first-2-words, length-band) key must
# (a) cap the hottest block when a Zipf-hot word prefix dominates, and
# (b) lose no pairs vs the unblocked exact computation.
# ---------------------------------------------------------------------------


def test_levenshtein_length_band_caps_hot_block_and_is_exact(spark):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.extension_queries import (
        _LEV_MAX,
        _lev_blocked,
    )

    # 60 docs all sharing the hot first-2-words block, lengths spread so
    # the band key splits them; a few true near-dup pairs inside.
    rows = [(i, "the quick " + "x" * (i % 6 * 15) + f" tail{i}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    blocked = _lev_blocked(df)
    sizes = {
        (r["blk"], r["band"]): r["n"]
        for r in blocked.groupBy("blk", "band").count().withColumnRenamed("count", "n").collect()
    }
    assert len(sizes) > 1, "length band failed to split the hot word block"
    assert max(sizes.values()) < 60, "hottest block not reduced"

    # Exactness: staircase output == brute-force pairs under the threshold.
    import itertools

    base = {r["doc_id"]: r["pfx"] for r in blocked.collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    expect = {
        (d1, d2, lev(base[d1], base[d2]))
        for d1, d2 in itertools.combinations(sorted(base), 2)
        if lev(base[d1], base[d2]) <= _LEV_MAX
    }

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.extension_queries import (
        dedup_levenshtein,
    )

    tmp = "file:///tmp/lev_prop_docs"
    df.write.mode("overwrite").parquet(tmp + "/documents.parquet")
    got = {
        (r["d1"], r["d2"], r["edit_dist"])
        for r in dedup_levenshtein(spark, tmp).collect()
    }
    assert got == expect


def test_bloom_decontaminate_equals_exact_join(spark):
    """Bloom prefilter has no false negatives, so prefilter +
    exact-confirm must equal the plain exact overlap join; and the
    filter must actually be small (set bits bounded by |bench| * k)."""
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY, load
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.extension_queries import (
        shingles,
    )
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.training_queries import (
        _BENCH_SOURCE,
        _BLOOM_M,
        _BLOOM_SEEDS,
    )

    sf = data_dir("0.001")
    d = load(spark, sf, "documents")
    sh = shingles(d).join(d.select("doc_id", "source"), "doc_id")
    bench = sh.filter(F.col("source") == _BENCH_SOURCE).select("sh").distinct()
    train = sh.filter(F.col("source") != _BENCH_SOURCE).select("doc_id", "sh")
    exact = (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    got = REGISTRY["decontaminate_bloom"].fn(spark, sf)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exact.collect()))
    n_bench = bench.count()
    n_bits = (
        bench.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.col("sh"), F.lit(s)), F.lit(_BLOOM_M))
                        for s in _BLOOM_SEEDS
                    ]
                )
            ).alias("pos")
        )
        .distinct()
        .count()
    )
    assert 0 < n_bits <= min(n_bench * len(_BLOOM_SEEDS), _BLOOM_M)


@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=400),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=60, deadline=None)
def test_misra_gries_candidates_are_superset_of_heavy_hitters(stream, n_parts):
    """Union of per-partition Misra-Gries survivors must contain every
    item with global frequency > N/K — the guarantee the exact-confirm
    pass of heavy_hitters_tokens relies on."""
    from collections import Counter

    import pandas as pd

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.sketch_queries import (
        _HH_K,
        _misra_gries_candidates,
    )

    words = [f"w{x}" for x in stream]
    chunk = max(1, len(words) // n_parts)
    candidates = set()
    sentinel_total = 0
    for i in range(0, len(words), chunk):
        part = words[i : i + chunk]
        # feed each partition as two batches to exercise cross-batch state
        mid = len(part) // 2
        batches = iter(
            [pd.DataFrame({"word": part[:mid]}), pd.DataFrame({"word": part[mid:]})]
        )
        for out in _misra_gries_candidates(batches):
            real = out[out["word"].notna()]
            sentinel = out[out["word"].isna()]
            candidates.update(real["word"])
            # r17 sentinel contract: exactly one NULL-word row per
            # partition carrying the exact token count; real candidate
            # rows carry NULL pcount (so sum() over the column is N).
            assert len(sentinel) == 1
            assert real["pcount"].isna().all()
            sentinel_total += int(sentinel["pcount"].iloc[0])
    counts = Counter(words)
    n = len(words)
    assert sentinel_total == n
    true_hh = {w for w, c in counts.items() if c * _HH_K > n}
    assert true_hh <= candidates


def test_chunking_matches_python_reference(spark):
    """Every chunk of every doc must match a pure-Python re-chunking of
    the same whitespace tokenization: same starts, lengths, digests;
    full coverage (union of chunks == token stream) and stride-sized
    overlap between consecutive chunks."""
    import hashlib
    import re as _re

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY, load
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload.training_queries import (
        _CHUNK_LEN,
        _CHUNK_STRIDE,
    )

    sf = data_dir("0.001")
    docs = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf, "documents").select("doc_id", "text").collect()
    }
    expected = {}
    for doc_id, text in docs.items():
        # None/empty text -> zero tokens -> zero chunks (the query drops
        # NULL-text docs the same way: size(split(NULL)) is NULL)
        w = (
            _re.sub(r"\s+", " ", text.strip()).split(" ")
            if text and text.strip()
            else []
        )
        for idx, start in enumerate(range(0, len(w), _CHUNK_STRIDE)):
            chunk = w[start : start + _CHUNK_LEN]
            digest = hashlib.md5(" ".join(chunk).encode()).hexdigest()
            expected[(doc_id, idx)] = (start, len(chunk), digest)
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["start_tok"], r["n_tok"], r["chunk_digest"])
        for r in REGISTRY["chunk_documents_overlap"].fn(spark, sf).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# bpe_pair_merges vs a canonical pure-Python BPE learner. The Python
# reference applies merges the textbook way (left-to-right greedy scan
# within each word); generated words keep symbol runs <= 3, the regime
# where the query's two-pass string-replace provably converges to the
# same result — so agreement here means the Spark procedure IS
# canonical BPE (argmax tie-break included) on such corpora.
# ---------------------------------------------------------------------------


def _bpe_reference(word_freqs: dict[str, int]) -> list[tuple[str, str, int]]:
    def pair_counts(seqs: dict[tuple, int]):
        counts: dict[tuple, int] = {}
        for seq, f in seqs.items():
            for i in range(len(seq) - 1):
                counts[(seq[i], seq[i + 1])] = counts.get((seq[i], seq[i + 1]), 0) + f
        return counts

    def apply(seq: tuple, pair: tuple) -> tuple:
        out, i = [], 0
        while i < len(seq):
            if i + 1 < len(seq) and (seq[i], seq[i + 1]) == pair:
                out.append(seq[i] + seq[i + 1])
                i += 2
            else:
                out.append(seq[i])
                i += 1
        return tuple(out)

    seqs = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(2):
        counts = pair_counts(seqs)
        if not counts:
            break
        # tie-break: highest count, then lexicographically smallest pair
        top = max(counts.values())
        best = min(p for p, c in counts.items() if c == top)
        merges.append((best[0], best[1], top))
        seqs = {apply(s, best): f for s, f in seqs.items()}
    return merges


_bpe_word = st.lists(st.sampled_from("abcd"), min_size=2, max_size=6).map("".join).filter(
    lambda w: all(w[i : i + 4] != w[i] * 4 for i in range(len(w)))
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.lists(_bpe_word, min_size=3, max_size=12), min_size=2, max_size=5))
def test_bpe_merges_match_canonical_reference(spark, tmp_path_factory, docs):
    from collections import Counter

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    sf_dir = tmp_path_factory.mktemp("bpe_sf")
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(sf_dir / "documents.parquet"))

    got = sorted(
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in REGISTRY["bpe_pair_merges"].fn(spark, str(sf_dir)).collect()
    )

    freqs = Counter(w for ws in docs for w in ws)
    want = [
        (i + 1, l, r, c) for i, (l, r, c) in enumerate(_bpe_reference(dict(freqs)))
    ]
    assert got == want


# ---------------------------------------------------------------------------
# assign_contiguous_ids vs global rank on adversarial key sets: huge
# gaps (empty buckets), all keys inside one bucket, and keys straddling
# bucket boundaries must all produce the exact 1..N ranking.
# ---------------------------------------------------------------------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        min_size=1,
        max_size=60,
        unique=True,
    )
)
def test_contiguous_ids_are_exact_global_rank(spark, tmp_path_factory, keys):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    sf_dir = tmp_path_factory.mktemp("ids_sf")
    spark.createDataFrame([(k,) for k in keys], "o_orderkey long").write.mode(
        "overwrite"
    ).parquet(str(sf_dir / "orders.parquet"))

    got = {
        r.o_orderkey: r.seq_id
        for r in REGISTRY["assign_contiguous_ids"].fn(spark, str(sf_dir)).collect()
    }
    want = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert got == want


# ---------------------------------------------------------------------------
# dedup_prefix_filter_jaccard vs brute force: the query's central claim
# is EXACTNESS ("no recall loss" — every pair with jaccard >= 0.8 must
# surface, prefix filtering only prunes candidate generation). Verify
# against an all-pairs Python reference over random corpora drawn from
# a tiny vocabulary (so shingle overlap, boundary-jaccard values, and
# docs with < 3 words all occur).
# ---------------------------------------------------------------------------


def _prefix_filter_reference(docs):
    """All-pairs jaccard >= 0.8 over hashed distinct 3-gram shingle
    sets — same hash (15-hex md5 prefix) and same HALF_UP 6-dp rounding
    as the Spark/DuckDB implementations, so collision and boundary
    semantics match by construction."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    sets = {}
    for i, ws in enumerate(docs):
        if len(ws) < 3:
            continue
        grams = {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
        sets[i] = {
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        }
    out = []
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d1, d2 = ids[x], ids[y]
            inter = len(sets[d1] & sets[d2])
            union = len(sets[d1]) + len(sets[d2]) - inter
            if union == 0:
                continue
            jac = float(
                (Decimal(inter) / Decimal(union)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            if jac >= 0.8:
                out.append((d1, d2, jac))
    return sorted(out)


_pf_word = st.sampled_from(["aa", "bb", "cc"])


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(_pf_word, min_size=1, max_size=10), min_size=2, max_size=8
    )
)
def test_prefix_filter_jaccard_is_exact(spark, tmp_path_factory, docs):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    sf_dir = tmp_path_factory.mktemp("pf_sf")
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(sf_dir / "documents.parquet"))

    got = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in REGISTRY["dedup_prefix_filter_jaccard"].fn(spark, str(sf_dir)).collect()
    )
    assert got == _prefix_filter_reference(docs)


# ---------------------------------------------------------------------------
# triangle_count_doulion vs brute force: the vertex-sampled estimator
# must equal (exact triangle count of the hash-sampled induced
# subgraph) * c^3 on arbitrary order/part incidence — including orders
# with one part (no edges), repeated (order, part) rows (dedup by
# DISTINCT), and graphs where no sampled vertex survives.
# ---------------------------------------------------------------------------


def _vsample_triangle_reference(rows, c=4, scale=64):
    import hashlib
    from itertools import combinations

    kept_rows = [
        (o, p)
        for o, p in set(rows)
        if int(hashlib.md5(str(p).encode()).hexdigest()[:15], 16) % c == 0
    ]
    by_order = {}
    for o, p in kept_rows:
        by_order.setdefault(o, set()).add(p)
    edges = set()
    for parts in by_order.values():
        for u, v in combinations(sorted(parts), 2):
            edges.add((u, v))
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri = sum(
        1
        for u, v in edges
        for w in adj[u] & adj[v]
        if v < w  # count each triangle once: u < v < w
    )
    return len(edges), tri, tri * scale


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=6),  # order key
            st.integers(min_value=1, max_value=12),  # part key
        ),
        min_size=1,
        max_size=40,
    )
)
def test_vertex_sampled_triangle_estimate_matches_reference(
    spark, tmp_path_factory, rows
):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    sf_dir = tmp_path_factory.mktemp("tri_sf")
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(sf_dir / "lineitem.parquet"))

    r = REGISTRY["triangle_count_doulion"].fn(spark, str(sf_dir)).collect()[0]
    got = (r.n_sampled_edges, r.sampled_triangles, r.est_triangles)
    assert got == _vsample_triangle_reference(rows)


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard vs brute force: the capped posting-list join must
# equal "jaccard over shingles whose document frequency <= cap" (round
# 17 dropped the md5 keying from engine AND oracle — raw shingles are
# the set elements on both sides now).
# The cap is shrunk to 3 (monkeypatched on the module global the query
# reads at build time) so corpora of <= 8 docs actually exercise the
# stop-shingle drop path, not just the happy path.
# ---------------------------------------------------------------------------


def _ngram_capped_reference(docs, cap):
    from decimal import ROUND_HALF_UP, Decimal

    doc_sets = {}
    for i, ws in enumerate(docs):
        if len(ws) < 3:
            continue
        doc_sets[i] = {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}
    posting = {}
    for i, hs in doc_sets.items():
        for h in hs:
            posting.setdefault(h, set()).add(i)
    surviving = {h for h, ds in posting.items() if len(ds) <= cap}
    capped = {i: hs & surviving for i, hs in doc_sets.items()}
    out = []
    ids = sorted(capped)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d1, d2 = ids[x], ids[y]
            inter = len(capped[d1] & capped[d2])
            if inter == 0:
                continue  # the pair never meets in any posting list
            union = len(capped[d1]) + len(capped[d2]) - inter
            jac = float(
                (Decimal(inter) / Decimal(union)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            if jac >= 0.8:
                out.append((d1, d2, jac))
    return sorted(out)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=1, max_size=8),
        min_size=2,
        max_size=8,
    )
)
def test_ngram_jaccard_matches_capped_reference(
    spark, tmp_path_factory, monkeypatch, docs
):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import (
        REGISTRY,
        extension_queries,
    )

    monkeypatch.setattr(extension_queries, "_SHINGLE_DF_CAP", 3)
    sf_dir = tmp_path_factory.mktemp("ng_sf")
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(sf_dir / "documents.parquet"))

    got = sorted(
        (r.d1, r.d2, r.jaccard)
        for r in REGISTRY["dedup_ngram_jaccard"].fn(spark, str(sf_dir)).collect()
    )
    assert got == _ngram_capped_reference(docs, cap=3)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),   # part
            st.integers(min_value=1, max_value=4),   # supplier
            st.integers(min_value=1, max_value=50),  # quantity
        ),
        min_size=1,
        max_size=30,
    )
)
def test_q20_window_decorrelation_matches_naive(spark, rows):
    """The Q20 rewrite (window-over-group-key on the aggregated frame)
    must equal the naive correlated semantics — per (part, supplier)
    sum compared against a per-part total computed independently —
    on arbitrary data, not just the driver tables."""
    from collections import defaultdict

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "l_partkey int, l_suppkey int, l_quantity int")
    per = df.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    got = sorted(
        (r["l_partkey"], r["l_suppkey"], r["supp_qty"])
        for r in per.withColumn(
            "total_qty", F.sum("supp_qty").over(W.partitionBy("l_partkey"))
        )
        .filter(F.col("supp_qty") > F.lit(0.5) * F.col("total_qty"))
        .collect()
    )

    per_naive: dict = defaultdict(int)
    tot_naive: dict = defaultdict(int)
    for p, s, q in rows:
        per_naive[(p, s)] += q
        tot_naive[p] += q
    want = sorted(
        (p, s, q) for (p, s), q in per_naive.items() if q > 0.5 * tot_naive[p]
    )
    assert got == want


# ---------------------------------------------------------------------------
# record_linkage_score vs the pair-enumeration reference: the round-17
# rewrite computes the score histogram from value-multiplicity tables +
# range windows + inclusion-exclusion instead of enumerating within-
# block pairs. Equivalence must hold on ADVERSARIAL shapes the driver
# tables never show: duplicate custkeys (strict a.k < b.k excludes
# same-key row pairs), NULL nation/segment/balance, negative balances
# straddling the band boundary, and |bal diff| exactly at the 10000
# threshold. Reference = an inline copy of the pre-r17 pair join, run
# on the same SparkSession over the same parquet, so round()/div
# semantics match by construction.
# ---------------------------------------------------------------------------


def _record_linkage_pairs_reference(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import load

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_c"),
    ).withColumn("band", F.expr("bal_c div 200000"))
    a = c.select(*(F.col(x).alias(f"a_{x}") for x in c.columns))
    b = c.select(*(F.col(x).alias(f"b_{x}") for x in c.columns))
    pairs = a.join(
        b,
        (F.col("a_nat") == F.col("b_nat"))
        & (F.col("a_band") == F.col("b_band"))
        & (F.col("a_k") < F.col("b_k")),
    )
    score = (
        F.when(F.col("a_seg") == F.col("b_seg"), 24).otherwise(0)
        + F.when(F.abs(F.col("a_bal_c") - F.col("b_bal_c")) < 10000, 16).otherwise(0)
        + F.when(F.col("a_k") % 10 == F.col("b_k") % 10, 8).otherwise(0)
    )
    return pairs.select(score.alias("score")).groupBy("score").agg(
        F.count("*").alias("n_pairs")
    )


_rl_key = st.integers(min_value=1, max_value=12)  # few keys -> duplicates
_rl_nat = st.one_of(st.none(), st.sampled_from([0, 1]))
_rl_seg = st.one_of(st.none(), st.sampled_from(["AUTOMOBILE", "BUILDING"]))
# Balances hug the +-10000-cent distance threshold and the 200000-cent
# band boundary (incl. negatives, where div truncation matters).
_rl_bal = st.one_of(
    st.none(),
    st.sampled_from(
        [-999.99, -100.0, -0.01, 0.0, 0.01, 99.99, 100.0, 100.01,
         1999.99, 2000.0, 2000.01, 2099.99, 9999.99]
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(_rl_key, _rl_nat, _rl_seg, _rl_bal), min_size=0, max_size=25
    )
)
def test_record_linkage_histogram_matches_pair_enumeration(
    spark, tmp_path_factory, rows
):
    from copenhagen_traffic_and_weather_etl_pipeline_spark.workload import REGISTRY

    sf_dir = tmp_path_factory.mktemp("rl_sf")
    spark.createDataFrame(
        [(k, n, s, b) for k, n, s, b in rows],
        "c_custkey long, c_nationkey int, c_mktsegment string, c_acctbal double",
    ).write.mode("overwrite").parquet(str(sf_dir / "customer.parquet"))

    got = sorted(
        (r["score"], r["n_pairs"])
        for r in REGISTRY["record_linkage_score"].fn(spark, str(sf_dir)).collect()
    )
    want = sorted(
        (r["score"], r["n_pairs"])
        for r in _record_linkage_pairs_reference(spark, str(sf_dir)).collect()
    )
    assert got == want
