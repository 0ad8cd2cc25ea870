"""Dedup operator properties (SURVEY §2.10): exact-dedup keeper
choice, MinHash recall against exact Jaccard, SimHash locality."""

from __future__ import annotations

import pytest

from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries
from tests.conftest import SF_SMOKE, union_find_components

import os.path as _osp

TOOLS_DIR = _osp.join(_osp.dirname(_osp.dirname(_osp.abspath(__file__))), "tools")


def _docs_view(spark, rows):
    """Register a temp documents table and monkey-load via a tmp dir."""
    import os
    import tempfile

    d = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    tmp = tempfile.mkdtemp(prefix="smdp_dedup_")
    d.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    return tmp


def test_exact_dedup_keeps_min_doc_id(spark):
    rows = [
        (10, "alpha beta gamma", "en", "s", 16),
        (3, "alpha beta gamma", "en", "s", 16),
        (7, "unique text here", "en", "s", 16),
    ]
    tmp = _docs_view(spark, rows)
    out = {r.doc_id: r.n_copies for r in queries()["ext_dedup_exact"](spark, tmp).collect()}
    assert out == {3: 2, 7: 1}


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today " * 3
    near = base.replace("lazy", "sleepy", 1)  # high jaccard
    far = "completely different words with no overlap whatsoever in any shingle zone " * 3
    rows = [(1, base, "en", "s", 1), (2, near, "en", "s", 1), (3, far, "en", "s", 1)]
    tmp = _docs_view(spark, rows)
    pairs = {(r.doc_a, r.doc_b) for r in queries()["ext_dedup_minhash"](spark, tmp).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_recall_vs_exact_jaccard(spark):
    """Every pair with exact jaccard >= 0.5 must be an LSH candidate
    (banding theory: P(candidate) ~ 1-(1-s^4)^4 = 0.97 at s=0.5 —
    assert recall on the real corpus)."""
    exact = queries()["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    strong = {(r.doc_a, r.doc_b) for r in exact if r.jaccard >= 0.5}
    if not strong:
        pytest.skip("no strong pairs at this SF")
    cand = {(r.doc_a, r.doc_b) for r in queries()["ext_dedup_minhash"](spark, SF_SMOKE).collect()}
    recall = len(strong & cand) / len(strong)
    assert recall >= 0.9


def test_simhash_identical_docs_same_signature(spark):
    rows = [
        (1, "one two three four five", "en", "s", 1),
        (2, "one two three four five", "en", "s", 1),
        (3, "totally unrelated content block", "en", "s", 1),
    ]
    tmp = _docs_view(spark, rows)
    sig = {r.doc_id: r.simhash for r in queries()["ext_dedup_simhash"](spark, tmp).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_ngram_jaccard_exact_value(spark):
    a = "w1 w2 w3 w4"  # shingles: {w1 w2 w3, w2 w3 w4}
    b = "w1 w2 w3 w5"  # shingles: {w1 w2 w3, w2 w3 w5} -> inter 1, union 3
    rows = [(1, a, "en", "s", 1), (2, b, "en", "s", 1)]
    tmp = _docs_view(spark, rows)
    out = queries()["ext_dedup_ngram_jaccard"](spark, tmp).collect()
    assert len(out) == 1
    assert abs(out[0].jaccard - 1 / 3) < 1e-12


def test_cluster_pick_longest_then_min_id(spark):
    # docs 1/2 normalize identically (whitespace + case) -> one cluster;
    # same n_chars, so min doc_id (1) is canonical; doc 9 is its own cluster
    rows = [
        (2, "Alpha  Beta\tGamma", "en", "s", 17),
        (1, "alpha beta gamma", "en", "s", 17),
        (9, "solo document", "en", "s", 13),
    ]
    tmp = _docs_view(spark, rows)
    out = {
        r.canonical_id: r.cluster_size
        for r in queries()["ext_dedup_cluster_pick"](spark, tmp).collect()
    }
    assert out == {1: 2, 9: 1}


def test_cluster_pick_prefers_longer_text(spark):
    rows = [
        (5, "same words", "en", "s", 10),
        (6, "same  words", "en", "s", 11),  # same cluster, more chars -> wins
    ]
    tmp = _docs_view(spark, rows)
    out = queries()["ext_dedup_cluster_pick"](spark, tmp).collect()
    assert len(out) == 1 and out[0].canonical_id == 6 and out[0].cluster_size == 2


def test_components_merge_transitive_pairs(spark):
    # chain a-b, b-c (shared shingles) must collapse into one component
    base = "one two three four five six seven eight nine ten eleven twelve"
    b = base + " extra tail words here making it longer for shingles"
    c = "zz yy " + base
    rows = [
        (1, base, "en", "s", len(base)),
        (2, b, "en", "s", len(b)),
        (3, c, "en", "s", len(c)),
        (9, "totally unrelated corpus entry with distinct vocabulary entirely", "en", "s", 64),
    ]
    tmp = _docs_view(spark, rows)
    out = {r.doc_id: r.component for r in queries()["ext_dedup_components"](spark, tmp).collect()}
    assert out[1] == out[2] == out[3] == 1  # one cluster, min id label
    assert out[9] == 9  # singleton keeps its own id


def test_pipeline_keeps_one_per_cluster_and_filters_short(spark):
    base = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base + " extra tail words appended here", "en", "s", len(base) + 32),
        (7, "too short", "en", "s", 9),  # < 10 tokens -> gated out
        (9, "a completely different long document with its own unique vocabulary inside", "en", "s", 75),
    ]
    tmp = _docs_view(spark, rows)
    out = {r.keep_id: r.cluster_size
           for r in queries()["ext_dedup_pipeline"](spark, tmp).collect()}
    assert out == {2: 2, 9: 1}  # doc 2 wins cluster {1,2} on n_chars; 7 gated


def test_contamination_flags_overlapping_doc_only(spark):
    ev = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    contaminated = "prefix words then " + ev + " and a suffix"
    clean = "entirely different vocabulary with no shared trigrams at all present"
    rows = [
        (1, ev, "en", "s", len(ev)),               # eval set (doc_id < 10)
        (20, contaminated, "en", "s", len(contaminated)),
        (30, clean, "en", "s", len(clean)),
    ]
    tmp = _docs_view(spark, rows)
    out = {r.doc_id for r in queries()["ext_contamination_check"](spark, tmp).collect()}
    assert out == {20}


def _lss_labels(spark, n_nodes, edge_list):
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd

    docs = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    pairs = spark.createDataFrame(edge_list, "doc_a long, doc_b long")
    return {r.doc_id: r.component for r in dd._large_small_star(docs, pairs).collect()}


def test_label_propagate_path_graph_adversarial_diameter(spark):
    # dedup graphs are near-cliques (diameter ~2); a PATH graph is the
    # adversarial case for any hop-by-hop device. Star contraction must
    # label it exactly as the union-find reference does.
    n = 12  # diameter 12 path: 0-1-2-...-12
    edges = [(i, i + 1) for i in range(n)]
    out = _lss_labels(spark, n + 1, edges)
    assert out == union_find_components(range(n + 1), edges)
    assert out == {i: 0 for i in range(n + 1)}  # all reach min label 0


def test_label_propagate_raises_on_diameter_overflow(spark, monkeypatch):
    # a round budget too small for the graph must FAIL LOUD, not
    # return wrong labels (an 11-node path needs 5 rounds)
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "LSS_MAX_ROUNDS", 3)
    n = 10
    docs = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not reach an edge fixed point"):
        dd._large_small_star(docs, pairs).collect()


def test_lss_path_graph_beyond_label_prop_budget(spark):
    # a 60-edge path: a device moving labels one hop per round would
    # need 60 rounds; star contraction must converge inside its
    # O(log^2 n) budget and still label every node with the path minimum
    n = 61
    out = _lss_labels(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert out == {i: 0 for i in range(n)}


def test_lss_matches_label_propagation_on_random_graph(spark):
    import random

    rng = random.Random(42)
    n = 80
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(60)
    ]  # sparse: multiple components, self-loops, dup edges
    assert _lss_labels(spark, n, edges) == union_find_components(range(n), edges)


def test_lss_isolated_nodes_and_clique(spark):
    # clique {0..4} + isolated {5,6}: roots at 0, selves elsewhere
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    out = _lss_labels(spark, 7, edges)
    assert out == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6}


def test_lss_agrees_with_label_prop_on_real_pairs(spark):
    # both registered component queries at smoke SF must equal
    # union-find over the collected exact-Jaccard pair graph
    q = queries()
    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    pairs = [
        (r.doc_a, r.doc_b)
        for r in q["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    ]
    assert pairs  # the smoke corpus plants near-duplicates
    expected = union_find_components(ids, pairs)
    for name in ("ext_dedup_components", "ext_dedup_components_lss"):
        got = {r.doc_id: r.component for r in q[name](spark, SF_SMOKE).collect()}
        assert got == expected, name


def _chain_docs(n_docs, first_id=100):
    """A near-duplicate CHAIN: doc k is an 11-token window of one
    global token stream starting at token 8k, so consecutive docs
    share exactly one word trigram (tokens 8k+8..8k+10) and no other
    pair shares any. Each doc has 9 trigrams, so consecutive Jaccard
    is 1/17 >= JACCARD_THRESHOLD and every doc passes the pipeline's
    E2E_MIN_TOKENS gate; the pair graph is a path of diameter n-1."""
    rows = []
    for k in range(n_docs):
        text = " ".join(f"t{j:04d}" for j in range(8 * k, 8 * k + 11))
        rows.append((first_id + k, text, "en", "s", len(text)))
    return rows


def test_components_and_pipeline_converge_on_long_near_dup_chain(spark):
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        E2E_MIN_TOKENS,
        JACCARD_THRESHOLD,
    )

    n = 60
    assert 1 / 17 >= JACCARD_THRESHOLD and 11 >= E2E_MIN_TOKENS
    tmp = _docs_view(spark, _chain_docs(n))
    q = queries()
    pairs = {(r.doc_a, r.doc_b) for r in q["ext_dedup_ngram_jaccard"](spark, tmp).collect()}
    assert pairs == {(100 + k, 101 + k) for k in range(n - 1)}  # a 59-hop path
    comp = {r.doc_id: r.component for r in q["ext_dedup_components"](spark, tmp).collect()}
    assert comp == {100 + k: 100 for k in range(n)}
    kept = [
        (r.keep_id, r.component, r.cluster_size)
        for r in q["ext_dedup_pipeline"](spark, tmp).collect()
    ]
    # equal n_chars everywhere: the doc_id tie-break keeps the minimum
    assert kept == [(100, 100, n)]


def test_shingle_intersections_skip_weights_when_pins_hit(spark, monkeypatch):
    # the idf weights frame is a compute_once feeding only the two pin
    # builds: pass 1 materializes it once for both, pass 2 (both pins
    # warm) must plan no weights frame at all
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd

    calls = []
    real = dd.compute_once

    def counting(df):
        calls.append(df)
        return real(df)

    monkeypatch.setattr(dd, "compute_once", counting)
    tmp = _docs_view(spark, _chain_docs(5))
    dd._shingle_pair_intersections(spark, tmp)
    assert len(calls) == 1  # cold: both pins build, one weights frame
    calls.clear()
    inter, sizes = dd._shingle_pair_intersections(spark, tmp)
    assert calls == []  # warm: both pins hit
    assert inter.count() == 4 and sizes.count() == 5


def test_incremental_dedup_flags_match_base_membership(spark):
    import hashlib

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        INCR_BASE_BUCKETS,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text").collect()

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 10

    base_texts = {r.text for r in docs if bucket(r.doc_id) < INCR_BASE_BUCKETS}
    incr = {r.doc_id: r.text for r in docs if bucket(r.doc_id) >= INCR_BASE_BUCKETS}
    out = {
        r.doc_id: r.dup_of_base
        for r in queries()["ext_dedup_incremental"](spark, SF_SMOKE).collect()
    }
    assert set(out) == set(incr)  # exactly the increment rows, flag total
    for doc_id, flag in out.items():
        assert flag == (incr[doc_id] in base_texts)


def test_lss_summary_distinguishes_coordinate_sum_collisions(spark):
    # {(3,1),(4,2)} and {(4,1),(3,2)} have identical (count, sum u,
    # sum v) — the old convergence summary collided on them and could
    # declare a false fixed point; the hash-sum fingerprint must not
    from social_media_data_pipeline_recession_political_sentiment_spark.operators import dedup as dd
    from pyspark.sql import functions as F

    def summary(edges):
        df = spark.createDataFrame(edges, "u long, v long")
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("hs"),
        ).collect()[0]
        return (row["n"], row["hs"])

    assert summary([(3, 1), (4, 2)]) != summary([(4, 1), (3, 2)])


def test_minhash_pipeline_refines_exhaustive_pipeline(spark):
    """MinHash candidate pairs are a SUBSET of the exact-Jaccard pairs
    (banding only loses edges, never invents them), so the minhash
    chain's components must REFINE the exhaustive chain's: at least as
    many clusters, the same gated corpus covered, and every minhash
    keeper's cluster no larger than the exhaustive cluster containing
    the same component id space would allow."""
    from tests.conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    exact = queries()["ext_dedup_pipeline"](spark, SF_SMOKE).collect()
    mh = queries()["ext_dedup_pipeline_minhash"](spark, SF_SMOKE).collect()
    # refinement => cluster count can only grow when edges are dropped
    assert len(mh) >= len(exact)
    # both partition the same gated corpus: total membership matches
    assert sum(r.cluster_size for r in mh) == sum(r.cluster_size for r in exact)
    # component ids are min-doc_ids: every exact component min is also
    # a minhash component min (dropping edges can split a cluster but
    # its minimum element stays a minimum of some sub-cluster)
    exact_comps = {r.component for r in exact}
    mh_comps = {r.component for r in mh}
    assert exact_comps <= mh_comps


def test_passage_dedup_conserves_passages_and_keeps_each_once(spark):
    """Corpus-wide invariants of ext_dedup_passage: passage totals are
    conserved, the distinct-passage universe is kept exactly once
    across the corpus, and the globally-first document (doc_id 0's
    idx-0 chain) keeps its own text verbatim up to its first passage
    repeated from within itself."""
    from tests.conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        PASSAGE_W,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_dedup_passage"](spark, SF_SMOKE).collect()
    docs = {
        r.doc_id: (r.n_passages, r.n_kept, r.dedup_text) for r in rows
    }
    import duckdb

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    )
    assert set(docs) == set(texts)
    # conservation: each doc's passage count is ceil(words / W)
    for did, text in texts.items():
        n_words = len(text.split(" "))
        expect = -(-n_words // PASSAGE_W)
        assert docs[did][0] == expect, did
    # each distinct passage survives exactly once corpus-wide
    total_kept = sum(v[1] for v in docs.values())
    n_distinct = con.execute(
        f"""
        WITH s AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM '{SF_SMOKE}/documents.parquet'),
        c AS (SELECT unnest(list_transform(
                 generate_series(0, CAST(ceil(len(w)/{PASSAGE_W}.0) AS BIGINT)-1),
                 i -> array_to_string(w[i*{PASSAGE_W}+1 : i*{PASSAGE_W}+{PASSAGE_W}], ' '))) AS p
              FROM s)
        SELECT count(DISTINCT p) FROM c
        """
    ).fetchone()[0]
    assert total_kept == n_distinct
    # kept text is a subsequence re-assembly: kept words never exceed
    # the original and equal it only when every passage survived
    for did, (n_p, n_k, dtext) in docs.items():
        if n_k == n_p:
            assert dtext == texts[did], did
        else:
            assert len(dtext) < len(texts[did]), did


def test_pagerank_matches_sequential_integer_reference(spark):
    """ext_graph_pagerank vs a pure-Python replication of the exact
    integer recurrence on the same Jaccard pair graph: every score
    must match bit-for-bit after PR_ITERS rounds, isolated documents
    settle at the damping base, and edged documents never fall below
    it."""
    from tests.conftest import SF_SMOKE

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        PR_BASE_MICRO,
        PR_INIT_MICRO,
        PR_ITERS,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    pairs = [
        (r.doc_a, r.doc_b)
        for r in queries()["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    ]
    got = {
        r.doc_id: r.score_micro
        for r in queries()["ext_graph_pagerank"](spark, SF_SMOKE).collect()
    }

    edges: dict[int, list[int]] = {}
    for a, b in pairs:
        edges.setdefault(a, []).append(b)
        edges.setdefault(b, []).append(a)
    score = {d: PR_INIT_MICRO for d in got}
    for _ in range(PR_ITERS):
        tot = {d: 0 for d in got}
        for s, outs in edges.items():
            c = score[s] // len(outs)
            for d in outs:
                tot[d] += c
        score = {d: PR_BASE_MICRO + (85 * tot[d]) // 100 for d in got}

    assert got == score
    for d, sc in got.items():
        if d not in edges:
            assert sc == PR_BASE_MICRO, d
        else:
            assert sc >= PR_BASE_MICRO, d
    assert any(d not in edges for d in got)  # fixture has isolated docs
    assert any(d in edges for d in got)  # ...and connected ones


def test_dataset_diff_statuses_partition_by_id_arithmetic(spark):
    """ext_dataset_diff: status must equal the set arithmetic of the
    two snapshot membership predicates, changed rows are exactly the
    revised (%3 == 0) intersection rows, and no unchanged row leaks."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_dataset_diff"](spark, SF_SMOKE).collect()
    assert rows
    by_status = {}
    for r in rows:
        by_status.setdefault(r.status, set()).add(r.doc_id)
    ids = {
        r.doc_id
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    v1 = {i for i in ids if i % 7 != 0}
    v2 = {i for i in ids if i % 5 != 0}
    assert by_status.get("added", set()) == v2 - v1
    assert by_status.get("removed", set()) == v1 - v2
    # revised text => changed; unrevised intersection rows are
    # unchanged and must NOT appear at all
    assert by_status.get("changed", set()) == {
        i for i in v1 & v2 if i % 3 == 0
    }
    for r in rows:
        if r.status == "added":
            assert r.fp_v1 is None and r.fp_v2 is not None
        elif r.status == "removed":
            assert r.fp_v1 is not None and r.fp_v2 is None
        else:
            assert r.fp_v1 != r.fp_v2


def test_cluster_census_conserves_documents(spark):
    """ext_dedup_cluster_census: n_docs = cluster_size * n_clusters on
    every row, and the histogram covers the corpus exactly once."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_dedup_cluster_census"](spark, SF_SMOKE).collect()
    assert rows
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
        assert r.cluster_size >= 1 and r.n_clusters >= 1


def test_degree_census_satisfies_handshake_lemma(spark):
    """ext_graph_degree_census: Σ degree·n_docs = 2·|pairs|, node
    conservation holds, and the isolated-doc row is present."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_graph_degree_census"](spark, SF_SMOKE).collect()
    assert rows
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    n_pairs = queries()["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).count()
    assert sum(r.degree * r.n_docs for r in rows) == 2 * n_pairs
    assert any(r.degree == 0 for r in rows)  # fixture has isolated docs


def test_minhash_eval_reconciles_with_truth_and_candidates(spark):
    """ext_dedup_minhash_eval: tp+fn must equal the exact-Jaccard
    truth count, tp+fp the banded candidate count, and the permilles
    the integer floor-divisions of those cells."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        _exploded_shingles,
        _minhash_candidates,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    (row,) = queries()["ext_dedup_minhash_eval"](spark, SF_SMOKE).collect()
    truth = {
        (r.doc_a, r.doc_b)
        for r in queries()["ext_dedup_ngram_jaccard"](spark, SF_SMOKE).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in _minhash_candidates(_exploded_shingles(spark, SF_SMOKE)).collect()
    }
    assert row.tp == len(truth & cand)
    assert row.fn == len(truth - cand)
    assert row.fp == len(cand - truth)
    assert row.precision_permille == row.tp * 1000 // (row.tp + row.fp)
    assert row.recall_permille == row.tp * 1000 // (row.tp + row.fn)
    assert row.tp > 0  # banding does find the strong dups


def test_doc_dup_profile_bounds_and_twin_consistency(spark):
    """ext_doc_dup_profile: shares are bounded, exact-duplicate docs
    (if any near-dup pair is a full match) score 1000, and every doc
    with >= 3 words appears exactly once."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_doc_dup_profile"](spark, SF_SMOKE).collect()
    assert rows
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    eligible = [d for d in docs if len([t for t in (d.text or "").split(" ") if t]) >= 3]
    assert len(rows) == len(eligible)
    for r in rows:
        assert 0 <= r.n_shared <= r.n_shingles
        assert r.dup_permille == r.n_shared * 1000 // r.n_shingles
    assert any(r.n_shared > 0 for r in rows)  # near-dups exist
    assert any(r.n_shared < r.n_shingles for r in rows)


def test_component_census_consistent_with_components(spark):
    """ext_dedup_component_census: conserves docs, n_docs = size ×
    clusters per row, and reconciles with the LSS component labels."""
    from tests.conftest import SF_SMOKE
    from social_media_data_pipeline_recession_political_sentiment_spark.registry import queries

    rows = queries()["ext_dedup_component_census"](spark, SF_SMOKE).collect()
    assert rows
    total = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == total
    for r in rows:
        assert r.n_docs == r.cluster_size * r.n_clusters
    comp = queries()["ext_dedup_components_lss"](spark, SF_SMOKE).collect()
    sizes = {}
    for c in comp:
        sizes[c.component] = sizes.get(c.component, 0) + 1
    hist = {}
    for sz in sizes.values():
        hist[sz] = hist.get(sz, 0) + 1
    assert {r.cluster_size: r.n_clusters for r in rows} == hist
    assert any(r.cluster_size >= 2 for r in rows)  # near-dup families exist


def test_cross_source_survivorship_one_keeper_min_priority(spark):
    """ext_dedup_cross_source: exactly one keep=true per cluster key,
    and it is the (min priority, min doc_id) member; every document
    appears exactly once."""
    out = queries()["ext_dedup_cross_source"](spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    assert len(out) == n_docs
    by_fp = {}
    for r in out:
        by_fp.setdefault(r.fp_prefix, []).append(r)
    for fp, rows in by_fp.items():
        keepers = [r for r in rows if r.keep]
        assert len(keepers) == 1, fp
        best = min((int(r.source[3:]), r.doc_id) for r in rows)
        assert (int(keepers[0].source[3:]), keepers[0].doc_id) == best


def test_cross_source_null_text_cluster_survives(spark, tmp_path):
    """NULL-text documents form ONE NULL-key cluster and still appear
    in the output (the null-safe join regression: a plain equi-join
    silently dropped them). Winner = lowest (prio, doc_id) among the
    NULL-text rows."""
    work = str(tmp_path / "sfnull")
    spark.createDataFrame(
        [
            (1, "src2", None),
            (2, "src1", None),
            (3, "src1", "alpha beta gamma delta"),
        ],
        "doc_id long, source string, text string",
    ).write.parquet(f"{work}/documents.parquet")
    out = {r.doc_id: r for r in queries()["ext_dedup_cross_source"](spark, work).collect()}
    assert set(out) == {1, 2, 3}  # nobody vanishes
    assert out[1].fp_prefix is None and out[2].fp_prefix is None
    assert out[2].keep and not out[1].keep  # src1 beats src2 in the NULL cluster
    assert out[3].keep


def test_dup_span_profile_counts_cross_doc_positions_only(spark):
    rows = [
        # A and B share exactly one 5-gram: "one two three four five"
        (1, "one two three four five six", "en", "s", 1),
        (2, "zzz one two three four five yyy", "en", "s", 1),
        # unique content
        (3, "c1 c2 c3 c4 c5 c6 c7", "en", "s", 1),
        # shorter than 5 tokens => zero grams, frac 0.0
        (4, "tiny doc", "en", "s", 1),
        # within-doc repeat of a corpus-unique gram must NOT count:
        # dup requires >= 2 DISTINCT docs
        (5, "x1 x2 x3 x4 x5 x1 x2 x3 x4 x5", "en", "s", 1),
    ]
    tmp = _docs_view(spark, rows)
    out = {
        r.doc_id: (r.n_grams, r.dup_positions, r.dup_frac)
        for r in queries()["ext_dup_span_profile"](spark, tmp).collect()
    }
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (3, 1, round(1 / 3, 6))
    assert out[3] == (3, 0, 0.0)
    assert out[4] == (0, 0, 0.0)
    assert out[5][0] == 6 and out[5][1] == 0


def test_cdc_chunks_resync_after_insertion(spark):
    """CDC's point: insert one word near the head of a copied doc and
    the chunking re-synchronizes at the next boundary, so the pair
    still shares most chunks — while a corpus-unique doc shares
    none."""
    # "six", "eight", "green" hash to boundaries under the 'cdc' salt
    # (verified against the portable salted-md5 device), so each
    # repetition of this sentence contains three resync points
    base = (
        "alpha beta six gamma delta eight epsilon zeta green eta theta "
        "iota six kappa lambda eight mu nu green xi omicron pi rho tau "
    ) * 4
    shifted = "INSERTED " + base
    rows = [
        (1, base.strip(), "en", "s", 1),
        (2, shifted.strip(), "en", "s", 1),
        (3, "totally unrelated words nobody else uses anywhere at all", "en", "s", 1),
    ]
    tmp = _docs_view(spark, rows)
    out = {
        r.doc_id: r for r in queries()["ext_dedup_cdc"](spark, tmp).collect()
    }
    # the copies share chunks despite the insertion shift...
    assert out[1].dup_chunks > 0 and out[2].dup_chunks > 0
    assert out[1].dup_chunk_frac > 0.5  # most of the doc still aligns
    # ...and the unrelated doc shares none
    assert out[3].dup_chunks == 0 and out[3].dup_chunk_frac == 0.0
    assert out[1].n_chunks > 1  # boundaries actually fired


def test_bloom_incremental_never_misses_and_reports_fp(spark):
    """Bloom contract: a planted exact duplicate of a base doc MUST
    read maybe_dup=true (no false negatives, ever); dup_of_base and
    false_positive are consistent (fp = maybe and not dup); every
    exact dup is also a bloom hit."""
    from social_media_data_pipeline_recession_political_sentiment_spark.functions.hashing import (
        doc_bucket,
    )
    import pyspark.sql.functions as SF

    # find doc_ids on each side of the base/increment split
    probe = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    ).select("doc_id", doc_bucket("doc_id").alias("b")).collect()
    base_ids = [r.doc_id for r in probe if r.b < 8]
    incr_ids = [r.doc_id for r in probe if r.b >= 8]
    assert base_ids and len(incr_ids) >= 2
    rows = [
        (base_ids[0], "shared content exactly", "en", "s", 1),
        (base_ids[1], "base only text", "en", "s", 1),
        (incr_ids[0], "shared content exactly", "en", "s", 1),  # planted dup
        (incr_ids[1], "fresh increment text", "en", "s", 1),
    ]
    tmp = _docs_view(spark, rows)
    out = {
        r.doc_id: r
        for r in queries()["ext_dedup_incremental_bloom"](spark, tmp).collect()
    }
    assert set(out) == set(incr_ids[:2])
    planted = out[incr_ids[0]]
    assert planted.maybe_dup and planted.dup_of_base and not planted.false_positive
    for r in out.values():
        assert r.false_positive == (r.maybe_dup and not r.dup_of_base)
        if r.dup_of_base:
            assert r.maybe_dup  # bloom soundness: no false negatives


def test_winnowing_guarantee_shared_passage_shares_fingerprint(spark):
    """Winnowing's theorem: two docs sharing a passage of at least
    w+k-1 (=6) words must share at least one selected fingerprint at
    the same relative content; unrelated docs share none; and gap
    bound — consecutive selected positions within a doc differ by at
    most w."""
    shared = "p1 p2 p3 p4 p5 p6 p7 p8"  # 8 words >= w+k-1
    rows = [
        (1, "aa bb " + shared + " cc dd ee", "en", "s", 1),
        (2, shared + " zz yy xx ww vv uu", "en", "s", 1),
        (3, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10", "en", "s", 1),
    ]
    tmp = _docs_view(spark, rows)
    out = queries()["ext_fingerprint_winnow"](spark, tmp).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2], "shared passage must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    # gap bound: within a doc, selected gram positions are never more
    # than w apart (the winnowing density guarantee)
    for doc in (1, 2, 3):
        pos = sorted(r.pos for r in out if r.doc_id == doc)
        assert all(b - a <= 4 for a, b in zip(pos, pos[1:])), (doc, pos)


def test_lsh_bucket_census_reconciles_with_candidates(spark):
    """Census/miner consistency (shared banded core): total candidate
    pair cost across the histogram upper-bounds the distinct pairs
    the miner emits, and per-band bucket sizes sum to the doc count."""
    from tests.conftest import SF_SMOKE

    census = queries()["ext_lsh_bucket_census"](spark, SF_SMOKE).collect()
    pairs = queries()["ext_dedup_minhash"](spark, SF_SMOKE).count()
    total_cost = sum(r.pair_cost for r in census)
    assert total_cost >= pairs  # dedup across bands only shrinks
    n_docs = 500
    import collections

    per_band = collections.Counter()
    for r in census:
        per_band[r.band_id] += r.bucket_size * r.n_buckets
    assert set(per_band) == {0, 1, 2, 3}
    assert all(v == n_docs for v in per_band.values())


def test_triangle_count_k4_plus_isolate(spark):
    """ext_graph_triangle_count: four identical docs form K4 (every
    node: degree 3, 3 triangles, LCC 1.0 — the all-ties case that
    exercises the (degree, id) orientation tie-break), an unrelated
    doc contributes nothing, and total credit is 3 per triangle."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_graph_triangle_count,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine"
    rows = [(i, same, "en", "s", len(same)) for i in range(4)]
    rows.append((9, other, "en", "s", len(other)))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_tri_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: r for r in ext_graph_triangle_count(spark, tmp).collect()}
    assert set(out) == {0, 1, 2, 3}
    for r in out.values():
        assert r.degree == 3 and r.n_tri == 3 and r.lcc == 1.0
    assert sum(r.n_tri for r in out.values()) == 3 * 4  # K4 has 4 triangles


def test_containment_short_doc_inside_long(spark):
    """ext_dedup_containment: a short doc fully quoted inside a long
    one has containment 1.0 in the short->long direction even though
    Jaccard is small, and unrelated docs emit nothing."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_dedup_containment,
    )

    quote = "alpha beta gamma delta epsilon"          # 3 shingles
    longdoc = quote + " " + " ".join(f"f{i}" for i in range(30))
    rows = [
        (1, quote, "en", "s", len(quote)),
        (2, longdoc, "en", "s", len(longdoc)),
        (3, "x y z p q r s t u v w", "en", "s", 11),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_cont_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = ext_dedup_containment(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.cont_ab == 1.0 and r.shared == 3
    assert r.cont_ba < 0.5  # asymmetric: Jaccard-style symmetry fails here


def test_jaccard_neighbors_path_graph(spark):
    """ext_graph_jaccard_neighbors: on a path A-B-C (identical pair
    semantics via shared shingles), the only 2-hop pair is (A, C)
    with 1 common neighbor, flagged is_new, Jaccard 1/1."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_graph_jaccard_neighbors,
    )

    # B shares a distinct shingle-run with A and another with C;
    # A and C share nothing
    a = "a1 a2 a3 a4 " + " ".join(f"pad{i}" for i in range(30))
    c = "c1 c2 c3 c4 " + " ".join(f"qad{i}" for i in range(30))
    b = "a1 a2 a3 a4 c1 c2 c3 c4"
    rows = [(1, a, "en", "s", 1), (2, b, "en", "s", 1), (3, c, "en", "s", 1)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_lp_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = ext_graph_jaccard_neighbors(spark, tmp).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_x, r.doc_y) == (1, 3)
    assert r.common_neighbors == 1 and r.is_new and r.neighbor_jaccard == 1.0


def test_weighted_jaccard_rare_shingles_dominate(spark):
    """ext_dedup_weighted_jaccard: a pair sharing only a
    corpus-ubiquitous shingle (idf 0) scores 0 and is filtered; a
    pair sharing a distinctive passage scores high and matches the
    Python closed form with milli-rounded idf weights."""
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_dedup_weighted_jaccard,
    )

    common = "the quick brown"   # one shingle shared by ALL docs
    n = 10
    texts = {}
    for i in range(2, n):
        texts[i] = common + f" u{i}a u{i}b u{i}c"
    texts[0] = common + " rare gem passage x0 y0"
    texts[1] = common + " rare gem passage x1 y1"
    rows = [(i, t, "en", "s", len(t)) for i, t in texts.items()]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_wjac_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {(r.doc_a, r.doc_b): r for r in ext_dedup_weighted_jaccard(spark, tmp).collect()}
    assert (0, 1) in out
    # pairs sharing ONLY the ubiquitous shingle contribute weight 0
    assert all(k == (0, 1) for k in out)

    def iw(df):
        return round(math.log(n / df) * 1000.0)

    # doc 0 shingles: [the quick brown](df=10), [quick brown rare](df=2),
    # [brown rare gem](df=2), [rare gem passage](df=2),
    # [gem passage x0](df=1), [passage x0 y0](df=1)
    shared = iw(10) + 3 * iw(2)
    tot_each = iw(10) + 3 * iw(2) + 2 * iw(1)
    expect = round(shared / (2 * tot_each - shared), 6)
    assert out[(0, 1)].wsim == expect
    assert out[(0, 1)].shared_weight_milli == shared


def test_weighted_jaccard_all_boilerplate_pair_suppressed(spark):
    """ext_dedup_weighted_jaccard: a pair whose EVERY shared shingle
    is corpus-ubiquitous has zero union weight (0/0); the guard must
    suppress the pair rather than let NaN >= threshold keep it
    (Spark orders NaN above every number)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_dedup_weighted_jaccard,
    )

    # every doc is the identical boilerplate => every shingle df == N
    # => iw = round(ln(1)*1000) = 0 for all shingles
    rows = [(i, "same exact template text here", "en", "s", 29) for i in range(6)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_wjacnan_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    assert ext_dedup_weighted_jaccard(spark, tmp).count() == 0


def test_ngram_novelty_deciles_planted(spark):
    """ext_ngram_novelty: a first doc is fully novel (decile 10),
    its exact twin fully stale (decile 0), and a half-overlapping
    doc lands in the integer-permille decile 7 (3/4 novel)."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_ngram_novelty,
    )

    rows = [(1, "a b c d", "en", "s", 7),
            (2, "a b c d", "en", "s", 7),
            (3, "a b c x y z", "en", "s", 11)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_nov_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.novelty_decile: r for r in ext_ngram_novelty(spark, tmp).collect()}
    assert set(out) == {10, 0, 7}
    assert out[10].n_docs == 1 and out[10].total_novel == 2 and out[10].total_grams == 2
    assert out[0].n_docs == 1 and out[0].total_novel == 0
    assert out[7].total_novel == 3 and out[7].total_grams == 4


def test_edit_distance_verifier_matches_python_dp(spark):
    """ext_dedup_edit_distance: a one-edit pair sharing shingles is
    reported with the exact DP distance; a pair beyond EDIT_MAX and
    a pair under the shingle-intersection floor are both absent."""
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        EDIT_MAX,
        EDIT_PREFIX,
        ext_dedup_edit_distance,
    )

    base = "the quick brown fox jumps over the lazy dog today"
    rows = [
        (1, base, "en", "s", 1),
        (2, base.replace("dog", "dogs"), "en", "s", 1),  # 1 edit, many shared shingles
        (3, "the quick " + " ".join(f"q{i}" for i in range(20)), "en", "s", 1),  # 1 shared shingle only
        (4, base + " " + "z " * 40, "en", "s", 1),  # shares shingles, distance > EDIT_MAX
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_edit_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    out = {(r.doc_a, r.doc_b): r for r in ext_dedup_edit_distance(spark, tmp).collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    pa, pb = base[:EDIT_PREFIX], base.replace("dog", "dogs")[:EDIT_PREFIX]
    exp = lev(pa, pb)
    assert out[(1, 2)].edit_distance == exp <= EDIT_MAX
    # normalized by the LONGER prefix's actual length (r6 review fix)
    assert out[(1, 2)].prefix_sim == round(1 - exp / max(len(pa), len(pb)), 6)
    assert (1, 3) not in out  # below the intersection floor
    # pair (1,4): shares the full base prefix => distance 0 at 64 chars?
    # base is 50 chars; doc4 appends beyond char 50, so the 64-char
    # prefixes differ within the window and the pair may or may not
    # clear EDIT_MAX — assert consistency with the python DP instead.
    d4 = lev(base[:EDIT_PREFIX], (base + " " + "z " * 40)[:EDIT_PREFIX])
    assert ((1, 4) in out) == (d4 <= EDIT_MAX)


def test_cluster_diversity_planted_indexes(spark):
    """ext_cluster_diversity: a 3+1 cluster split yields the
    hand-computed micro-rounded Shannon entropy, effective cluster
    count, and Simpson concentration; whitespace variants collapse
    into one cluster."""
    import math
    import os
    import tempfile

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        DIVERSITY_SCALE,
        ext_cluster_diversity,
    )

    rows = [(1, "Same Doc here", "en", "s", 1),
            (2, "same  doc here", "en", "s", 1),
            (3, "same doc  here", "en", "s", 1),
            (4, "another one", "en", "s", 1)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = tempfile.mkdtemp(prefix="smdp_div_")
    d.coalesce(1).write.parquet(os.path.join(tmp, "documents.parquet"))
    row = ext_cluster_diversity(spark, tmp).collect()[0]
    assert row.n_docs == 4 and row.n_clusters == 2 and row.max_cluster == 3
    tsum = round(math.log(4 / 3) * 3 * DIVERSITY_SCALE) + round(
        math.log(4) * 1 * DIVERSITY_SCALE
    )
    h = tsum / (4 * DIVERSITY_SCALE)
    assert row.shannon_nats == round(h, 6)
    assert row.eff_clusters == round(math.exp(h), 6)
    assert row.simpson_concentration == 0.5  # 3*2 / (4*3)


def test_mined_gram_hash_collision_does_not_merge_spans(spark, tmp_path):
    """Regression pin for the r11 120-bit gram-key fix: a MINED true
    60-bit md5 collision (tools/mine_gram_collision.py — two distinct
    word-5-grams whose salted digests share the first 15 hex chars)
    must NOT read as a cross-document duplicated span. Under the
    legacy single-column _salted_hash key the two docs below scored
    dup_positions=1 each (Spark-side silent merge; the raw-string
    oracle disagreed); the _salted_hash_pair key separates them. At
    100 TB gram counts (~1e12) the 60-bit birthday bound expects
    ~4e5 such merges, so this fixture exercises a real scale class,
    not a curiosity."""
    import hashlib
    import os
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from mine_gram_collision import MINED, hash60

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_dup_span_profile,
    )

    g1, g2, prefix = MINED["sp"]
    # the fixture's load-bearing property, re-proven from scratch so a
    # hash-device change can't silently rot the pin
    assert g1 != g2
    assert hash60("sp", g1) == hash60("sp", g2)
    h1 = hashlib.md5(f"sp:{g1}".encode()).hexdigest()
    h2 = hashlib.md5(f"sp:{g2}".encode()).hexdigest()
    assert h1[:15] == h2[:15] == prefix and h1[16:31] != h2[16:31]

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, g1, "en", "src1", len(g1)), (2, g2, "en", "src1", len(g2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    out = {r.doc_id: r for r in ext_dup_span_profile(spark, sf).collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        # each doc is exactly one 5-gram; a merged key would count it
        # as appearing in 2 docs => dup_positions 1, dup_frac 1.0
        assert out[d].n_grams == 1
        assert out[d].dup_positions == 0, (
            "60-bit-colliding grams merged — the 120-bit pair key regressed"
        )
        assert out[d].dup_frac == 0.0


def test_mined_gram_hash_collision_substr_spans(spark, tmp_path):
    """The `ext_dedup_substr_spans` twin of the mined-collision pin
    (salt 'ss', word-8-grams): the colliding pair must not read as a
    corpus-duplicated substring span under the 120-bit pair key."""
    import hashlib
    import os
    import sys

    sys.path.insert(0, TOOLS_DIR)
    from mine_gram_collision import MINED, hash60

    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        ext_dedup_substr_spans,
    )

    g1, g2, prefix = MINED["ss"]
    assert g1 != g2 and hash60("ss", g1) == hash60("ss", g2)
    h1 = hashlib.md5(f"ss:{g1}".encode()).hexdigest()
    h2 = hashlib.md5(f"ss:{g2}".encode()).hexdigest()
    assert h1[:15] == h2[:15] == prefix and h1[16:31] != h2[16:31]

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, g1, "en", "src1", len(g1)), (2, g2, "en", "src1", len(g2))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))

    out = {r.doc_id: r for r in ext_dedup_substr_spans(spark, sf).collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert out[d].n_tokens == 8
        assert out[d].dup_tokens == 0 and out[d].n_spans == 0, (
            "60-bit-colliding grams merged — the 120-bit pair key regressed"
        )


def test_minhash_incremental_flag_consistency(spark):
    """`ext_dedup_minhash_incremental` (r13): the spine is exactly the
    increment md5-bucket of documents, is_new is the complement of
    the two dup flags, and every dup_in_increment doc has a
    SMALLER-id verified partner in the increment (first-copy-wins —
    the min-id member of any in-increment dup group is never
    flagged)."""
    from social_media_data_pipeline_recession_political_sentiment_spark.operators.dedup import (
        INCR_BASE_BUCKETS,
        ext_dedup_minhash_incremental,
    )
    from social_media_data_pipeline_recession_political_sentiment_spark.catalog import load
    from social_media_data_pipeline_recession_political_sentiment_spark.functions.hashing import (
        doc_bucket,
    )
    from conftest import SF_SMOKE

    out = ext_dedup_minhash_incremental(spark, SF_SMOKE).collect()
    spine = {
        r.doc_id
        for r in load(spark, SF_SMOKE, "documents")
        .filter(doc_bucket("doc_id") >= INCR_BASE_BUCKETS)
        .select("doc_id")
        .collect()
    }
    assert {r.doc_id for r in out} == spine
    for r in out:
        assert r.is_new == (not r.dup_of_base and not r.dup_in_increment)
    flagged_incr = {r.doc_id for r in out if r.dup_in_increment}
    if flagged_incr:
        # the smallest flagged id must have an even smaller unflagged
        # partner — first-copy-wins means min(group) is never flagged
        assert min(flagged_incr) > min(spine)
