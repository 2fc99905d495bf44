"""Dedup operators: exact + n-gram Jaccard vs DuckDB oracles; MinHash-LSH
and SimHash vs exact pandas/NumPy ground truth on a corpus with constructed
near-duplicates."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from distributed_spatial_index_spark.operators import dedup as dd
from distributed_spatial_index_spark.sources import tables as src
from tests.conftest import SF_DIR, assert_same_rows


@pytest.fixture(scope="module")
def corpus(spark):
    """documents + constructed near/exact duplicates (doc_id offset 10_000)."""
    docs = src.load(spark, SF_DIR, "documents").select("doc_id", "text").limit(100)
    exact_copy = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"), F.col("text")
    ).filter(F.col("doc_id") % 5 == 0)
    near_copy = docs.select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    ).filter(F.col("doc_id") % 7 == 0)
    return docs.unionByName(exact_copy).unionByName(near_copy).cache()


def _exact_jaccard(corpus, n=3):
    """Pandas ground truth for shingle jaccard of every pair."""
    rows = corpus.collect()
    sets = {}
    for r in rows:
        toks = r["text"].strip().lower().split(" ")
        m = max(len(toks) - n + 1, 1)
        sets[r["doc_id"]] = {" ".join(toks[i:i + n]) for i in range(m)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            out[(a, b)] = inter / len(sets[a] | sets[b])
    return out


def test_dedup_exact_vs_duckdb(spark, ddb):
    got = dd.dedup_exact(src.load(spark, SF_DIR, "documents"))
    rows = ddb.execute(dd.dedup_exact_sql("documents")).fetchall()
    assert_same_rows(got, rows)


def test_dedup_exact_finds_constructed_dups(corpus):
    res = dd.dedup_exact(corpus)
    dups = {r["doc_id"]: r["canonical_id"] for r in res.filter("is_duplicate").collect()}
    # every exact copy is a duplicate of its source
    for did, canon in dups.items():
        if did >= 10_000 and did < 20_000:
            assert canon == did - 10_000
    assert sum(1 for d in dups if 10_000 <= d < 20_000) == 20


def test_shingles_vs_duckdb(spark, ddb):
    got = dd.shingles(src.load(spark, SF_DIR, "documents"))
    rows = ddb.execute(dd.shingles_sql("documents")).fetchall()
    assert_same_rows(got, rows)


def test_capped_shingles_anti_join_equals_keep_filter(corpus):
    """capped_shingles (broadcast-hot anti-join since r6) must equal the
    definitional keep set {(doc, shingle): df(shingle) <= max_df} — the
    r6 rewrite broadcasts the bounded hot tail instead of the vocabulary-
    sized keep set, and this pins the equivalence on a corpus where the
    cap actually bites (constructed duplicates push shingle df past it).
    Null-text documents have no shingles: they must not surface as
    (doc_id, NULL) rows, which would share one minhash signature."""
    max_df = 3
    null_docs = corpus.sparkSession.createDataFrame(
        [(90_001, None), (90_002, None)], corpus.schema
    )
    docs = corpus.unionByName(null_docs)
    got = {(r["doc_id"], r["shingle"])
           for r in dd.capped_shingles(docs, max_df=max_df).collect()}
    # the definitional shingle sets, built in Python from the raw texts
    all_sh = set()
    for r in docs.collect():
        if r["text"] is None:
            continue
        toks = r["text"].strip().lower().split(" ")
        m = max(len(toks) - 2, 1)
        all_sh |= {(r["doc_id"], " ".join(toks[i:i + 3])) for i in range(m)}
    df_count: dict[str, int] = {}
    for _, s in all_sh:
        df_count[s] = df_count.get(s, 0) + 1
    want = {(d, s) for d, s in all_sh if df_count[s] <= max_df}
    assert max(df_count.values()) > max_df  # the cap must actually bite
    assert got == want and len(got) > 0


def test_ngram_jaccard_vs_duckdb(spark, ddb):
    got = dd.ngram_jaccard_pairs(
        src.load(spark, SF_DIR, "documents"), threshold=0.2
    )
    rows = ddb.execute(dd.ngram_jaccard_pairs_sql("documents", threshold=0.2)).fetchall()
    assert_same_rows(got, rows)


def test_ngram_jaccard_vs_pandas(corpus):
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dd.ngram_jaccard_pairs(corpus, threshold=0.5).collect()}
    exact = {p: j for p, j in _exact_jaccard(corpus).items() if j >= 0.5}
    assert set(got) == set(exact)
    for p in got:
        assert abs(got[p] - exact[p]) < 1e-12


def test_minhash_lsh_precision_and_recall(corpus):
    got = {(r["a"], r["b"]) for r in dd.minhash_lsh_pairs(corpus, threshold=0.7).collect()}
    exact = _exact_jaccard(corpus)
    high = {p for p, j in exact.items() if j >= 0.9}
    ok = {p for p, j in exact.items() if j >= 0.7}
    # precision 1 by construction (exact verify)
    assert got <= ok
    # LSH s-curve: near-certain recall for j >= 0.9 pairs
    assert len(got & high) >= 0.9 * len(high) and len(high) > 0


def test_minhash_max_df_consistent(corpus):
    """Capped jaccard = jaccard over shingle sets with df > max_df removed;
    verified pairs stay a subset of the capped exact truth."""
    max_df = 5
    got = {(r["a"], r["b"]): r["jaccard"]
           for r in dd.minhash_lsh_pairs(corpus, threshold=0.7, max_df=max_df).collect()}
    # pandas truth with the same cap
    rows = corpus.collect()
    sets = {}
    for r in rows:
        toks = r["text"].strip().lower().split(" ")
        m = max(len(toks) - 2, 1)
        sets[r["doc_id"]] = {" ".join(toks[i:i + 3]) for i in range(m)}
    from collections import Counter
    df_count = Counter(s for ss in sets.values() for s in ss)
    sets = {d: {s for s in ss if df_count[s] <= max_df} for d, ss in sets.items()}
    ok = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        u = sets[a] | sets[b]
        if not u:
            continue
        j = len(sets[a] & sets[b]) / len(u)
        if j >= 0.7:
            ok[(a, b)] = j
    assert set(got) <= set(ok)
    for p in got:
        assert abs(got[p] - ok[p]) < 1e-12
    # exact copies still found
    assert any(a + 10_000 == b for a, b in got)


def test_simhash_pairs_exact(corpus):
    sigs = {r["doc_id"]: r["simhash"]
            for r in dd.simhash_signatures(corpus).collect()}
    got = {(r["a"], r["b"]): r["hamming"]
           for r in dd.simhash_pairs(corpus, max_hamming=3).collect()}
    expect = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            expect[(a, b)] = h
    assert got == expect and len(expect) > 0

# --- hot-bucket guards + cluster output mode (round 3) ----------------------


@pytest.fixture(scope="module")
def degenerate_corpus(spark):
    """600 byte-identical boilerplate docs (the web-scale hot bucket) plus
    one constructed near-dup pair of long distinct documents."""
    boiler = "lorem ipsum dolor sit amet " * 10
    base = " ".join(f"tok{i * 17 % 101}x{i}" for i in range(120))
    near_a = base
    near_b = base.replace("tok34x2 ", "tok34x2 extra ", 1)
    rows = [(i, boiler) for i in range(600)]
    rows += [(9001, near_a), (9002, near_b)]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_simhash_hot_bucket_guard(degenerate_corpus):
    """With max_bucket on, the 600-doc identical cluster (whose every chunk
    bucket is hot) contributes ZERO candidate pairs — output stays linear-
    ish — while near-dup pairs in cold buckets are still found."""
    got = {(r["a"], r["b"])
           for r in dd.simhash_pairs(
               degenerate_corpus, max_hamming=4, max_bucket=50).collect()}
    assert got == {(9001, 9002)}


def test_minhash_hot_bucket_guard(degenerate_corpus):
    got = {(r["a"], r["b"])
           for r in dd.minhash_lsh_pairs(
               degenerate_corpus, threshold=0.7, max_bucket=50).collect()}
    assert got == {(9001, 9002)}


def test_minhash_guard_noop_on_cold_corpus(corpus):
    """On a corpus with no hot buckets the guard must not change results."""
    base = {(r["a"], r["b"])
            for r in dd.minhash_lsh_pairs(corpus, threshold=0.7).collect()}
    capped = {(r["a"], r["b"])
              for r in dd.minhash_lsh_pairs(
                  corpus, threshold=0.7, max_bucket=10_000).collect()}
    assert base == capped and len(base) > 0


def test_near_dup_components_union_find(degenerate_corpus, spark):
    """Canonical-id output: components equal a driver-side union-find over
    the same pair list, and the 600-doc cluster costs 600 rows, not 600^2/2
    pairs."""
    pairs = dd.simhash_pairs(degenerate_corpus, max_hamming=4)
    comp = dd.near_dup_components(degenerate_corpus, pairs)
    got = {r["doc_id"]: r["component_id"] for r in comp.collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    ids = [r["doc_id"] for r in degenerate_corpus.select("doc_id").collect()]
    for i in ids:
        find(i)
    for r in pairs.collect():
        union(r["a"], r["b"])
    expect = {i: find(i) for i in ids}
    assert got == expect
    assert len(got) == len(ids)  # linear output
    assert got[9002] == 9001 and got[599] == 0


def test_near_dup_components_chain(spark):
    """Min-label must propagate across a chain (multiple rounds)."""
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)], "a long, b long"
    )
    got = {r["doc_id"]: r["component_id"]
           for r in dd.near_dup_components(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 6}


def test_near_dup_components_raises_on_nonconvergence(spark):
    """Exhausting max_iters must RAISE (partial labels are wrong answers),
    matching knn's loud-fallback discipline; the same input converges fine
    with the default budget."""
    import pytest
    from pyspark.sql import functions as F

    from distributed_spatial_index_spark.operators.dedup import (
        near_dup_components,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "a long, b long"
    )
    # max_iters=1: the round certainly changes labels and no zero-change
    # certification round can follow -> loud failure, never partial output
    with pytest.raises(RuntimeError, match="max_iters=1"):
        near_dup_components(docs, chain, max_iters=1)

    ok = near_dup_components(docs, chain)
    comps = {r["component_id"] for r in ok.collect()}
    assert comps == {0}  # one chain, min-label 0
    assert ok.count() == 6
