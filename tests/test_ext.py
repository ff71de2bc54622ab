"""Extension operators: dedup family, similarity, text analysis."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from methyl_data_pipeline_spark.ext.dedup import (
    dedup_exact,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from methyl_data_pipeline_spark.ext.similarity import (
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
)
from methyl_data_pipeline_spark.ext.text import (
    fingerprint,
    language_id,
    text_quality,
    tokenize,
)


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, "The  Quick   brown fox jumps over the lazy dog again and again today"),  # ws/case dup
        (3, base.replace("today", "tomorrow")),  # near dup
        (4, "der hund läuft und das ist nicht ein problem für die katze"),
        (5, "completely different text about spark engines and shuffles here"),
        (6, "le chat est dans la maison et il est pour le moment content"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_normalizes_ws_and_case(spark):
    out = dedup_exact(_docs(spark))
    kept = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    # 0,1,2 collapse to 0 (min id); others unique
    assert kept == [0, 3, 4, 5, 6]


def test_dedup_exact_drops_null_text(spark):
    """Pinned cross-engine contract: NULL-text docs are dropped — the
    window winner must not elect one NULL doc as a 'family' (the SQL
    oracle's equi-join never matches a NULL key)."""
    df = spark.createDataFrame(
        [(1, "same words"), (2, "same words"), (3, None), (4, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_exact(df).collect())
    assert kept == [1]


def test_minhash_finds_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_candidate_pairs(_docs(spark), num_hashes=16, bands=8).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 3) in pairs  # 1-word-different near dup shares bands
    assert (4, 5) not in pairs


def test_ngram_jaccard_confirms(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            _docs(spark), threshold=0.5, num_hashes=16, bands=8
        ).collect()
    }
    assert out[(0, 1)] == 1.0
    assert 0.5 <= out[(0, 3)] < 1.0


def test_simhash_hamming_close_for_near_dups(spark):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(_docs(spark)).collect()}
    assert sh[0] == sh[1] == sh[2]

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(sh[0], sh[3]) < ham(sh[0], sh[5])


def test_exact_substring_dedup_cuts_repeated_spans(spark):
    """A >=5-token span shared by two docs is cut from the non-first
    doc only; unique text survives; short docs pass through."""
    from methyl_data_pipeline_spark.ext.dedup import exact_substring_dedup

    boiler = "all rights reserved by the example corporation today"  # 8 tokens
    rows = [
        (1, f"alpha beta gamma {boiler} delta"),
        (2, f"unique opening words here {boiler} and a unique tail"),
        (3, "too short"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in exact_substring_dedup(df, gram_n=5).collect()}
    assert set(out) == {1, 2, 3}
    # first-occurrence doc (min id) keeps everything
    assert out[1].n_removed == 0 and boiler in out[1].text_dedup
    # doc 2 loses exactly the 8 boilerplate tokens, keeps its own words
    assert out[2].n_removed == 8
    assert boiler not in out[2].text_dedup
    assert out[2].text_dedup == "unique opening words here and a unique tail"
    assert out[3].n_removed == 0 and out[3].text_dedup == "too short"


def test_simhash_hamming_pairs_lossless_banding(spark):
    """4-band banding over 32 bits finds EVERY pair at hamming <= 3
    (pigeonhole: <=3 flips leave some 8-bit band untouched) — verified
    against brute-force all-pairs hamming on the signatures."""
    from methyl_data_pipeline_spark.ext.dedup import simhash, simhash_hamming_pairs

    rows = [(i, f"sentence number {i % 40} with shared vocabulary body "
                f"plus marker {i % 7}") for i in range(120)]
    rows.append((120, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_hamming_pairs(df, bits=32, bands=4,
                                          max_hamming=3).collect()}
    sh = {r.doc_id: r.simhash for r in simhash(df).collect()}
    brute = {
        (a, b, bin(sh[a] ^ sh[b]).count("1"))
        for a in sh for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert got == brute and len(brute) > 0
    with pytest.raises(ValueError):
        simhash_hamming_pairs(df, bands=4, max_hamming=4)  # lossy config


def test_simhash_64bit_lossless_and_sign_bit(spark):
    """bits=64 (Manku-standard width, the scale configuration: 16-bit
    bands keep buckets sparse at corpus size): banding is still
    lossless vs brute force, and the sign bit (bit 63, packed as the
    BIGINT two's-complement value) round-trips through xor/bit_count —
    some signatures MUST be negative for the test to bite."""
    from methyl_data_pipeline_spark.ext.dedup import simhash, simhash_hamming_pairs

    rows = [(i, f"sentence number {i % 25} with shared vocabulary body "
                f"plus marker {i % 6}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.simhash for r in simhash(df, bits=64).collect()}
    assert any(v < 0 for v in sh.values())  # bit 63 exercised
    got = {(r.id_a, r.id_b, r.hamming)
           for r in simhash_hamming_pairs(df, bits=64, bands=4,
                                          max_hamming=3).collect()}
    brute = {
        (a, b, bin((sh[a] ^ sh[b]) & (2 ** 64 - 1)).count("1"))
        for a in sh for b in sh
        if a < b and bin((sh[a] ^ sh[b]) & (2 ** 64 - 1)).count("1") <= 3
    }
    assert got == brute and len(brute) > 0
    with pytest.raises(ValueError):
        simhash(df, bits=65)


def test_similarity_pathological_vectors_dropped(spark):
    """The similarity family's pinned input contract (valid_vector):
    NULL / empty / NaN-bearing / zero-norm vectors drop BEFORE any
    arithmetic — each shape used to break a different layer (ANSI
    index crash, divide-by-zero, ragged np.asarray, NaN cross-engine
    comparison divergence)."""
    from methyl_data_pipeline_spark.ext.similarity import (
        cosine_neardup_pairs,
        cosine_topk_bruteforce,
        ivf_topk,
        lsh_bucketed_topk,
    )

    good = [(i, [1.0 * (i + 1), 0.5, -0.25, 0.75]) for i in range(10)]
    bad = [
        (100, None),
        (101, []),
        (102, [0.0, 0.0, 0.0, 0.0]),
        (103, [1.0, float("nan"), 0.5, 0.5]),
        (104, [float("inf"), 0.5, 0.5, 0.5]),
        (105, [1.0, float("-inf"), 0.5, 0.5]),
    ]
    df = spark.createDataFrame(good + bad, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id").isin(0, 100, 101, 102, 103, 104, 105))

    cases = [
        (lambda: cosine_topk_bruteforce(df, queries, k=3), True),
        # LSH is approximate: an empty candidate bucket is a legal
        # outcome at this corpus size, so only the no-leak half applies
        (lambda: lsh_bucketed_topk(df, queries, k=3), False),
        (lambda: ivf_topk(df, queries, k=3, n_centroids=2, n_probe=2), True),
        (lambda: cosine_neardup_pairs(df, threshold=-1.0), True),
    ]
    for fn, must_produce in cases:
        rows = fn().collect()
        ids = {r[0] for r in rows} | {r[1] for r in rows}
        if must_produce:
            assert ids, "valid vectors must still produce results"
        assert not ids & {100, 101, 102, 103, 104, 105}, (
            f"pathological id leaked: {ids}"
        )


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(9)
    vecs = rng.normal(size=(30, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") < 3), k=4).toPandas()

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    for q in range(3):
        order = [
            i for i in np.argsort(-sims[q]) if i != q
        ][:4]
        got = out[out.query_id == q].sort_values("rank")["neighbor_id"].tolist()
        assert got == order
        np.testing.assert_allclose(
            out[out.query_id == q].sort_values("rank")["cosine"].values,
            sims[q][order],
            rtol=1e-9,
        )


def test_lsh_topk_subset_of_bruteforce_space(spark):
    rng = np.random.RandomState(10)
    vecs = rng.normal(size=(100, 16))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = lsh_bucketed_topk(df, df.filter(F.col("vec_id") < 5), k=3, n_planes=4).toPandas()
    # approximate: every returned neighbor must share the query's bucket,
    # cosine values must be correct for the pairs returned
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for _, r in out.iterrows():
        want = float(norm[int(r.query_id)] @ norm[int(r.neighbor_id)])
        assert abs(r.cosine - want) < 1e-9


def test_tokenize_and_quality(spark):
    df = spark.createDataFrame(
        [(0, "  Hello, World! This is a test.  "), (1, "one two three")],
        ["doc_id", "text"],
    )
    tok = {r["doc_id"]: r for r in tokenize(df).collect()}
    assert tok[0]["n_tokens"] == 6
    assert tok[1]["n_tokens"] == 3
    q = {r["doc_id"]: r for r in text_quality(df).collect()}
    assert q[0]["punct_ratio"] > 0
    assert q[1]["punct_ratio"] == 0.0
    assert q[0]["stopword_ratio"] > 0  # 'a', 'is'


def test_language_id(spark):
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(_docs(spark)).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[6] == "fr"


def test_fingerprint_stable(spark):
    df = spark.createDataFrame(
        [(0, "A  b\tc"), (1, "a b c"), (2, "something else")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
    assert out[0] == out[1] != out[2]


def _unit_vecs(rng, n, dim):
    x = rng.normal(size=(n, dim))
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def test_ivf_full_probe_equals_bruteforce(spark):
    from methyl_data_pipeline_spark.ext.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    rng = np.random.RandomState(9)
    vecs = _unit_vecs(rng, 80, 16)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_bruteforce(df, q, k=3).collect()
    }
    ivf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ivf_topk(df, q, k=3, n_centroids=4, n_probe=4).collect()
    }
    assert ivf == exact


def test_ivf_partial_probe_recall(spark):
    from methyl_data_pipeline_spark.ext.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    rng = np.random.RandomState(10)
    # clustered corpus: IVF's favorable regime
    centers = _unit_vecs(rng, 4, 16) * 3
    pts = np.vstack([c + rng.normal(scale=0.3, size=(25, 16)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(v) for v in pts[i]]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    q = df.filter(F.col("vec_id") % 25 == 0)
    exact = {}
    for r in cosine_topk_bruteforce(df, q, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in ivf_topk(df, q, k=5, n_centroids=4, n_probe=2).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(exact[k] & approx.get(k, set())) for k in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_cosine_neardup_finds_planted_pair(spark):
    from methyl_data_pipeline_spark.ext.similarity import cosine_neardup_pairs

    rng = np.random.RandomState(11)
    vecs = _unit_vecs(rng, 30, 16)
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(30)]
    # plant: 1000+i = tiny rotation of i  (cosine ~0.995)
    for i in range(3):
        w = vecs[i].copy()
        w[0] += 0.1
        rows.append((1000 + i, [float(v) for v in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = cosine_neardup_pairs(df, threshold=0.98, n_planes=4).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    # planted pairs recovered (tiny perturbation stays in-bucket for
    # these fixed md5 planes), no false positives among random vectors
    assert pairs == {(i, 1000 + i) for i in range(3)}
    assert all(r.cosine >= 0.98 for r in got)


def test_bpe_token_count(spark):
    from methyl_data_pipeline_spark.ext.text import tokenize

    df = spark.createDataFrame(
        [(1, "don't stop me now"), (2, "a1b2"), (3, "  hi!  ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_tokens_bpe for r in tokenize(df).collect()}
    # don|'t| stop| me| now = 5; a|1|b|2 = 4; hi|! = 2
    assert got == {1: 5, 2: 4, 3: 2}


def test_winnowing_shared_substring_guarantee(spark):
    from methyl_data_pipeline_spark.ext.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, "AAAA zzqx " + shared + " qqq111"),
            (2, "BBBB mmty " + shared + " vvv222"),
            (3, "totally unrelated content with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    # k=8, window=4: any shared substring of len >= 8+4-1 is detected
    fps = winnow_fingerprints(docs, k=8, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared substring must share fingerprints"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation: a 5-node chain (diameter 4 forces
    multiple rounds), a triangle, and an isolated pair — labels are
    the component minima, invariant under input partitioning."""
    from methyl_data_pipeline_spark.ext.graph import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    for nparts in (1, 8):
        df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(nparts)
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                       10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_transitive(spark):
    """A~B and B~C must collapse {A,B,C} to canonical A even though A
    and C differ too much to pair directly."""
    from methyl_data_pipeline_spark.ext.dedup import dedup_clusters, ngram_jaccard_pairs

    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " extra"),                      # ~ 1
            (3, base + " extra words appended here"),  # ~ 2, farther from 1
            (4, "completely different content with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.75, num_hashes=16, bands=8).collect()
    }
    got = {
        r["doc_id"]: (r["canonical_id"], r["is_duplicate"])
        for r in dedup_clusters(docs, threshold=0.75, num_hashes=16, bands=8).collect()
    }
    # transitivity is only exercised if 1-3 is NOT a direct pair
    assert (1, 2) in pairs and (2, 3) in pairs
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, True)
    assert got[4] == (4, False)


def test_pack_sequences_invariants(spark):
    """Packing: offsets within window, bins contiguous per shard,
    cumulative layout matches a local replay."""
    from methyl_data_pipeline_spark.ext.pack import pack_sequences

    rows = [(i, "s0" if i % 2 == 0 else "s1", 100 + (i * 37) % 400) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
    out = pack_sequences(df, "n_tokens", 512, shard_col="source").collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["source"], r["doc_id"])):
        assert 0 <= r["bin_offset"] < 512
        cum = by_shard.get(r["source"], 0)
        assert r["bin_idx"] == cum // 512
        assert r["bin_offset"] == cum % 512
        assert r["spans_boundary"] == (cum // 512 != (cum + r["n_tokens"] - 1) // 512)
        by_shard[r["source"]] = cum + r["n_tokens"]


def test_sample_stratified_exact_counts(spark):
    from methyl_data_pipeline_spark.ext.pack import sample_stratified

    rows = [(i, ["en", "de", "fr"][i % 3]) for i in range(90)] + [(1000, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sample_stratified(df, "lang", 10).collect()
    counts = {}
    for r in out:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    assert counts == {"en": 10, "de": 10, "fr": 10, "rare": 1}
    # deterministic under re-partitioning
    again = sample_stratified(df.repartition(16), "lang", 10).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_decontaminate_flags_overlap(spark):
    from methyl_data_pipeline_spark.ext.text import decontaminate

    bench = spark.createDataFrame(
        [(1, "what is the capital of france answer paris of course")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "trivia dump: what is the capital of france answer paris indeed"),
            (11, "completely unrelated text about spark physical planning stages"),
            (12, "short doc"),  # < n words -> whole-text shingle, no match
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["contaminated"], r["n_overlap_shingles"])
           for r in decontaminate(corpus, bench, ngram_n=5).collect()}
    assert got[10][0] is True and got[10][1] >= 1
    assert got[11] == (False, 0)
    assert got[12] == (False, 0)


def test_features_hook_rejects_wrong_shape_frame(spark):
    """Every ``features=`` consumer checks the frame's column contract:
    a raw docs frame passed by mistake raises instead of being joined
    blindly on ``_id``/``_b`` into a diverged fit or score."""
    from methyl_data_pipeline_spark.ext.text import (
        lang_id_nb,
        quality_score_linear,
        train_lang_weights,
        train_quality_weights,
    )

    docs = spark.createDataFrame(
        [(1, "a b c", "en", 1)], "doc_id long, text string, lang string, y int"
    )
    lang_w = spark.createDataFrame(
        [("en", 0, 0.0, 0.0, 0.0)],
        "lang string, bucket long, delta double, floor double, prior double",
    )
    q_w = spark.createDataFrame([(0, 0.0)], "bucket long, weight double")
    calls = {
        "train_quality_weights": lambda: train_quality_weights(docs, "y", features=docs),
        "train_lang_weights": lambda: train_lang_weights(docs, features=docs),
        "lang_id_nb": lambda: lang_id_nb(docs, lang_w, features=docs),
        "quality_score_linear": lambda: quality_score_linear(docs, q_w, features=docs),
    }
    for name, call in calls.items():
        with pytest.raises(ValueError, match=name):
            call()


def test_repetition_signals_planted_boilerplate(spark):
    from methyl_data_pipeline_spark.ext.text import repetition_signals

    docs = spark.createDataFrame(
        [
            # pure boilerplate: one token repeated
            (1, "spam spam spam spam"),
            # all-distinct tokens
            (2, "alpha beta gamma delta"),
            # single word: no bigrams -> bigram frac 0.0
            (3, "lonely"),
            # repeated bigram "buy now"
            (4, "buy now buy now buy now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in repetition_signals(docs).collect()
    }
    assert got[1]["n_words"] == 4
    assert got[1]["top_word_frac"] == 1.0
    assert got[1]["type_token_ratio"] == 0.25
    assert got[1]["top_bigram_frac"] == 1.0
    assert got[2]["top_word_frac"] == 0.25
    assert got[2]["type_token_ratio"] == 1.0
    assert got[3]["n_words"] == 1
    assert got[3]["top_bigram_frac"] == 0.0
    # "buy now buy now buy now": 6 words, top word 3/6; bigrams =
    # [buy now, now buy, buy now, now buy, buy now] -> top 3/5
    assert got[4]["top_word_frac"] == 0.5
    assert abs(got[4]["top_bigram_frac"] - 3 / 5) < 1e-12


def test_pii_redact_planted(spark):
    from methyl_data_pipeline_spark.ext.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "contact me at alice.smith+x@example.co.uk or bob@test.io now"),
            (2, "server at 192.168.001.1 and 10.0.0.255 responded"),
            (3, "call 555-867-5309 or 555 123 4567 today"),
            (4, "nothing sensitive here at all"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in pii_redact(docs).collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_ip"] == 0
    assert got[2]["n_ip"] == 2 and got[2]["n_email"] == 0
    assert got[3]["n_phone"] == 2
    assert got[4] == {
        "doc_id": 4, "n_email": 0, "n_ip": 0, "n_phone": 0,
        "redacted_len": len("nothing sensitive here at all"),
        "redacted_sig": got[4]["redacted_sig"],
    }


def test_domain_mix_weights(spark):
    from methyl_data_pipeline_spark.ext.text import domain_mix

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f", "web"),     # 6 tokens
            (2, "a b", "web"),             # 2 tokens
            (3, "x y", "books"),           # 2 tokens
        ],
        "doc_id long, text string, source string",
    )
    got = {r["domain"]: r.asDict() for r in domain_mix(docs).collect()}
    assert got["web"]["n_docs"] == 2 and got["web"]["n_tokens"] == 8
    assert abs(got["web"]["token_share"] - 0.8) < 1e-12
    assert abs(got["web"]["weight"] - 0.5 / 0.8) < 1e-12
    assert abs(got["books"]["weight"] - 0.5 / 0.2) < 1e-12
    # explicit target mixture
    got2 = {r["domain"]: r.asDict()
            for r in domain_mix(docs, target={"web": 0.9, "books": 0.1}).collect()}
    assert abs(got2["books"]["weight"] - 0.1 / 0.2) < 1e-12
    assert abs(got2["web"]["target_share"] - 0.9) < 1e-12


def test_quality_filter_rules(spark):
    from methyl_data_pipeline_spark.ext.text import quality_filter

    long_good = "the quick brown fox jumps over a lazy dog in the warm sun today"
    docs = spark.createDataFrame(
        [
            (1, long_good),                        # passes everything
            (2, "too short"),                      # too_short + no_stopwords
            (3, "the " + "spam " * 19 + "the end"),  # repetitive, low diversity
            (4, "a aa b bb c cc d dd e ee f ff"),  # short mean word len -> word_len
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in quality_filter(docs).collect()}
    assert got[1]["keep"] is True and got[1]["reject_reasons"] == ""
    assert got[2]["keep"] is False
    assert "too_short" in got[2]["reject_reasons"]
    assert "no_stopwords" in got[2]["reject_reasons"]
    assert "repetitive" in got[3]["reject_reasons"]
    assert "low_diversity" in got[3]["reject_reasons"]
    assert "word_len" in got[4]["reject_reasons"]
    # reasons are comma-joined in fixed rule order
    assert got[2]["reject_reasons"].split(",")[0] == "too_short"


def test_repetition_signals_scan_parity(spark):
    from methyl_data_pipeline_spark.ext.text import (
        repetition_signals,
        repetition_signals_scan,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()}
    b = {r["doc_id"]: r.asDict() for r in repetition_signals_scan(docs).collect()}
    assert len(a) == len(b) > 0
    for k in a:
        assert a[k]["n_words"] == b[k]["n_words"]
        for c in ("top_word_frac", "type_token_ratio", "top_bigram_frac"):
            assert abs(a[k][c] - b[k][c]) < 1e-12, (k, c, a[k], b[k])


def test_curation_pipeline_stages(spark):
    from methyl_data_pipeline_spark.plans.curation import curate

    good = "the quick brown fox jumps over a lazy dog in the warm sun today"
    good2 = "a stitch in time saves nine and the early bird gets the worm"
    bench = spark.createDataFrame(
        [(1, "what is the capital of france answer paris of course", "eval")],
        "doc_id long, text string, source string",
    )
    corpus = spark.createDataFrame(
        [
            (10, good, "web"),
            (11, "spam spam spam spam spam spam spam spam spam spam", "web"),  # quality-drop
            (12, "trivia: what is the capital of france answer paris indeed it is", "web"),  # contaminated
            (13, good, "web"),          # exact dup of 10 -> dropped (min-id winner)
            (14, "mail the report to bob@example.com and cc the team at once ok", "web"),  # PII redacted, kept
            (15, good2, "books"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r.asDict() for r in curate(corpus, bench, window_tokens=16).collect()}
    assert set(out) == {10, 14, 15}
    # PII redaction happened before token counting: "<EMAIL>" is 1 token
    assert out[14]["n_tokens"] == 12
    # packing is per-shard: books shard starts at bin 0 offset 0
    assert out[15]["bin_idx"] == 0 and out[15]["bin_offset"] == 0
    # web shard: doc 10 (14 tokens) then doc 14 -> starts at offset 14 of
    # window 0 and its 12 tokens cross the 16-token boundary
    assert out[10]["bin_idx"] == 0 and out[10]["bin_offset"] == 0
    assert out[14]["bin_offset"] == 14 and out[14]["spans_boundary"] is True


def test_connected_components_contraction_parity_and_depth(spark):
    """Star contraction must (a) agree with min-label propagation on a
    mixed shallow graph, and (b) solve a 60-node chain whose diameter
    exceeds propagation's round budget — the O(log n) claim is the
    whole point of the variant."""
    from methyl_data_pipeline_spark.ext.graph import (
        connected_components,
        connected_components_contraction,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    prop = {r["node"]: r["component"] for r in connected_components(df).collect()}
    cont = {
        r["node"]: r["component"]
        for r in connected_components_contraction(df).collect()
    }
    assert prop == cont

    chain = [(i, i + 1) for i in range(100, 160)]  # diameter 60 > max_iter 25
    cdf = spark.createDataFrame(chain, "id_a long, id_b long")
    import pytest as _pytest

    # driver_threshold=0 forces the distributed loop: the round-budget
    # guard protects graphs too big for the driver fast path, which
    # would otherwise solve this toy chain trivially
    with _pytest.raises(RuntimeError):
        connected_components(cdf, max_iter=10, driver_threshold=0)
    got = {
        r["node"]: r["component"]
        for r in connected_components_contraction(cdf).collect()
    }
    assert got == {i: 100 for i in range(100, 161)}


def test_unigram_logprob_hand_computed(spark):
    """Mean token log-prob under the corpus's smoothed unigram model,
    checked against hand math."""
    import math

    from methyl_data_pipeline_spark.ext.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # counts: a=2 b=2 c=1; total=5 vocab=3; denom = 5 + 0.5*3 = 6.5
    lp = {t: math.log((c + 0.5) / 6.5) for t, c in {"a": 2, "b": 2, "c": 1}.items()}
    want = {
        1: (3, (2 * lp["a"] + lp["b"]) / 3),
        2: (2, (lp["b"] + lp["c"]) / 2),
    }
    for broadcast_model in (True, False):
        got = {
            r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
            for r in unigram_logprob(docs, broadcast_model=broadcast_model).collect()
        }
        assert set(got) == set(want)
        for d, (n, m) in want.items():
            assert got[d][0] == n
            assert abs(got[d][1] - m) < 1e-12


def test_segment_dedup_removes_repeats(spark):
    """Falcon-style segment dedup: a segment repeated across (or within)
    docs survives only at its first corpus occurrence; docs reassemble
    in order; totals reconcile."""
    from methyl_data_pipeline_spark.ext.dedup import segment_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta Unique One two three"),
            (2, "alpha beta gamma delta other words here now"),
            (3, "fresh content entirely new alpha beta gamma delta"),
            # case differs from doc 1's first segment -> NOT a duplicate
            # (case-preserving exact dedup; casing is training signal)
            (4, "Alpha Beta Gamma Delta trailing words pad here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(docs, chunk_words=4).collect()}
    assert out[1].n_segs == 2 and out[1].n_kept == 2
    # original casing survives into the reassembled text
    assert out[1].text_dedup == "alpha beta gamma delta Unique One two three"
    # doc 2's first segment duplicates doc 1's -> dropped
    assert out[2].n_segs == 2 and out[2].n_kept == 1
    assert out[2].text_dedup == "other words here now"
    # doc 3's duplicate segment sits at position 1, not 0 -> only it drops
    assert out[3].n_kept == 1 and out[3].text_dedup == "fresh content entirely new"
    # doc 4's differently-cased segment is a DISTINCT segment -> kept
    assert out[4].n_kept == 2
    assert out[4].text_dedup == "Alpha Beta Gamma Delta trailing words pad here"


def test_segment_dedup_partitioning_invariant(spark):
    from methyl_data_pipeline_spark.ext.dedup import segment_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    snap = lambda d: sorted(
        (r.doc_id, r.n_segs, r.n_kept, r.text_dedup)
        for r in segment_dedup(d).collect()
    )
    assert snap(docs.repartition(1)) == snap(docs.repartition(64))


def test_dedup_keep_best_policy(spark):
    """Highest score wins; ties break to smallest id."""
    from methyl_data_pipeline_spark.ext.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, "k1", 10.0), (2, "k1", 30.0), (3, "k1", 30.0), (4, "k2", 5.0)],
        "doc_id long, fam string, score double",
    )
    got = sorted(r.doc_id for r in dedup_keep_best(df, "fam", "score").collect())
    assert got == [2, 4]


def test_clean_text_round_trip(spark):
    from methyl_data_pipeline_spark.ext.text import clean_text

    df = spark.createDataFrame(
        [(1, '<div class="x">Hello <b>world</b></div> via https://a.b/c?d=1 done'),
         (2, "plain  text   with\tspaces")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in clean_text(df).collect()}
    assert out[1].n_tags == 4 and out[1].n_urls == 1
    assert out[1].text_clean == "Hello world via done"
    assert out[2].n_tags == 0 and out[2].text_clean == "plain text with spaces"


def test_hash_split_deterministic_and_proportional(spark):
    from methyl_data_pipeline_spark.ext.pack import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = hash_split(df).groupBy("split").count().collect()
    counts = {r["split"]: r["count"] for r in out}
    assert set(counts) == {"train", "val", "test"}
    assert 0.85 < counts["train"] / 5000 < 0.95
    # same ids -> same split at any partitioning
    a = {r.doc_id: r.split for r in hash_split(df.repartition(1)).collect()}
    b = {r.doc_id: r.split for r in hash_split(df.repartition(64)).collect()}
    assert a == b
    # different salt re-deals
    c = {r.doc_id: r.split for r in hash_split(df, salt="other").collect()}
    assert a != c


def test_length_bucket_batches(spark):
    """Batches respect bucket caps and batch_size; padding is the
    pad-to-longest waste; assignment is partitioning-invariant; NULL
    text is dropped."""
    from methyl_data_pipeline_spark.ext.pack import length_bucket_batches

    rows = [(i, "w " * (1 + (i * 7) % 600)) for i in range(400)]
    rows.append((400, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_bucket_batches(df, batch_size=4, n_shards=2).collect()
    assert sum(r.n_docs for r in out) == 400          # NULL text dropped
    for r in out:
        assert 1 <= r.n_docs <= 4
        assert r.max_tokens <= r.bucket               # bucket is a cap
        assert r.padding == r.n_docs * r.max_tokens - r.sum_tokens
        assert r.padding < r.n_docs * r.bucket        # bounded waste
    # docs longer than the largest threshold land in the overflow bucket
    assert any(r.bucket == 1024 for r in out)
    # partitioning-invariant: identical batches at 1 vs 64 partitions
    key = lambda rs: sorted(  # noqa: E731
        (r.bucket, r.shard, r.batch_id, r.n_docs, r.max_tokens,
         r.sum_tokens) for r in rs
    )
    assert key(out) == key(
        length_bucket_batches(df.repartition(64), batch_size=4,
                              n_shards=2).collect()
    )


def test_leakage_safe_split_colocates_duplicates(spark):
    """Exact duplicates always share a split under the fingerprint
    keying; id keying splits some of the same pairs (the leak the
    operator exists to close); NULL text falls back to the id key."""
    from methyl_data_pipeline_spark.ext.pack import hash_split, leakage_safe_split

    # 300 duplicate pairs: ids 2k and 2k+1 carry the same text (modulo
    # case/whitespace noise that normalize_label erases)
    rows = []
    for k in range(300):
        rows.append((2 * k, f"document body number {k} with shared words"))
        rows.append((2 * k + 1, f"  Document BODY number {k} with shared words "))
    rows.append((1000, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df).collect()
    assert len(out) == 601
    by_fp = {}
    for r in out:
        if r.text is not None:
            by_fp.setdefault(r.fingerprint, set()).add(r.split)
    assert len(by_fp) == 300                       # pairs collapse to one fp
    assert all(len(s) == 1 for s in by_fp.values())  # never straddle splits
    # id keying DOES split some duplicate pairs — the leak being closed
    ids = {r.doc_id: r.split for r in hash_split(df).collect()}
    leaked = sum(1 for k in range(300) if ids[2 * k] != ids[2 * k + 1])
    assert leaked > 0
    # deterministic at any partitioning
    again = {r.doc_id: r.split
             for r in leakage_safe_split(df.repartition(64)).collect()}
    assert again == {r.doc_id: r.split for r in out}


def test_vocab_coverage_curve(spark):
    """Monotone cumulative counts; ranks dense by (count desc, word);
    total counts every token incl. beyond top_k; NULL text ignored."""
    from methyl_data_pipeline_spark.ext.text import vocab_coverage

    rows = [(0, "a a a b b c"), (1, "a b c d"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(vocab_coverage(df, top_k=3).collect(), key=lambda r: r.rank)
    assert [(r.word, r.n_occ, r.cum_occ) for r in out] == [
        ("a", 4, 4), ("b", 3, 7), ("c", 2, 9)
    ]
    assert all(r.total_tokens == 10 for r in out)  # 'd' counted in total


def test_budget_select_matches_global_window(spark):
    """The distributed range-partition + offset formulation is
    bit-identical to the naive single-global-window prefix sum, at any
    partition count, and never overshoots the budget."""
    from pyspark.sql import Window
    from methyl_data_pipeline_spark.ext.pack import budget_select

    rows = [(i, (i * 13) % 50, 10 + (i * 7) % 90) for i in range(2000)]
    rows.append((2000, None, 5))                  # NULL score dropped
    df = spark.createDataFrame(rows, "doc_id long, score long, n_tokens long")
    budget = 40_000
    got = {
        (r.doc_id, r.rank, r.cum_tokens)
        for r in budget_select(df, "score", "n_tokens", budget=budget,
                               num_partitions=7).collect()
    }
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    naive = {
        (r.doc_id, r.rank, r.cum_tokens)
        for r in df.filter(F.col("score").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn("cum_tokens",
                    F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .collect()
    }
    assert got == naive and len(got) > 0
    assert max(c for _, _, c in got) <= budget
    # greedy prefix: adding the next-ranked doc would overshoot
    assert len(got) < 2000
    # invariant under input partitioning and partition count
    again = {
        (r.doc_id, r.rank, r.cum_tokens)
        for r in budget_select(df.repartition(64), "score", "n_tokens",
                               budget=budget, num_partitions=3).collect()
    }
    assert again == got


def test_temperature_sample_interpolates_alpha(spark):
    """alpha=1 keeps everything (natural mixture); alpha=0.5 keeps the
    scarcest domain fully and downsamples the big one by ~sqrt(share
    ratio); deterministic re-run."""
    from methyl_data_pipeline_spark.ext.pack import temperature_sample

    rows = [(i, "w " * 20, "big") for i in range(900)]
    rows += [(i + 900, "w " * 20, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert temperature_sample(df, alpha=1.0).count() == 1000
    kept = temperature_sample(df, alpha=0.5)
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["small"] == 100                 # scarcest fully kept
    assert 220 < by_src["big"] < 380              # ~sqrt(1/9) = 1/3 rate
    again = {r.doc_id for r in
             temperature_sample(df, alpha=0.5).select("doc_id").collect()}
    assert again == {r.doc_id for r in kept.select("doc_id").collect()}
    with pytest.raises(ValueError):
        temperature_sample(df, alpha=1.5)


def test_mixture_sample_hits_target_mixture(spark):
    """Discard-only rebalance: the scarcest domain keeps ~everything;
    kept token shares move toward uniform."""
    from methyl_data_pipeline_spark.ext.pack import mixture_sample
    from methyl_data_pipeline_spark.ext.text import words

    rows = [(i, "w " * 20, "big") for i in range(900)]
    rows += [(i + 900, "w " * 20, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = mixture_sample(df)
    by_src = {r["source"]: r["n"] for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["small"] == 100          # scarcest domain fully kept
    assert 60 < by_src["big"] < 160        # ~1/9 rate on 900 docs
    # deterministic: re-running yields the identical sample
    again = {r.doc_id for r in mixture_sample(df).select("doc_id").collect()}
    assert again == {r.doc_id for r in kept.select("doc_id").collect()}


def test_language_id_ngram(spark):
    from methyl_data_pipeline_spark.ext.text import language_id_ngram

    out = {
        r["doc_id"]: (r["lang_pred_ngram"], r["ngram_hits"])
        for r in language_id_ngram(_docs(spark)).collect()
    }
    assert out[0][0] == "en" and out[0][1] > 0
    assert out[4][0] == "de"
    assert out[6][0] == "fr"
    # empty-ish text -> no trigram hits -> undetermined
    tiny = spark.createDataFrame([(9, "zz")], "doc_id long, text string")
    (r,) = language_id_ngram(tiny).collect()
    assert r["lang_pred_ngram"] == "und" and r["ngram_hits"] == 0


def test_incremental_dedup_idempotent(spark):
    """Rolling ingest: overlap drops, within-shard dups elect min-id,
    replaying an ingested shard yields zero novel docs."""
    from methyl_data_pipeline_spark.ext.dedup import incremental_dedup
    from methyl_data_pipeline_spark.ext.text import fingerprint

    corpus = spark.createDataFrame(
        [(1, "seen text one"), (2, "seen text two")], "doc_id long, text string"
    )
    ledger = fingerprint(corpus).select("fingerprint").distinct()
    shard = spark.createDataFrame(
        [
            (10, "Seen   TEXT one"),   # normalizes to ledger entry -> drop
            (11, "brand new doc"),
            (12, "brand  NEW doc"),    # within-shard dup of 11 -> drop
            (13, "another novel"),
        ],
        "doc_id long, text string",
    )
    novel, updated = incremental_dedup(shard, ledger)
    assert sorted(r.doc_id for r in novel.collect()) == [11, 13]
    assert updated.count() == 4  # 2 seen + 2 novel fingerprints
    # idempotence: replaying the shard against the updated ledger
    novel2, _ = incremental_dedup(shard, updated)
    assert novel2.count() == 0


def test_incremental_dedup_null_text_dropped_and_idempotent(spark):
    """NULL-text docs are dropped (dedup_exact's pinned contract), NOT
    elected as a NULL-fingerprint winner: the ledger anti-join can never
    equi-match NULL, so the old behavior re-emitted the same NULL doc as
    'novel' on every shard replay, breaking idempotence."""
    from methyl_data_pipeline_spark.ext.dedup import incremental_dedup

    shard = spark.createDataFrame(
        [(1, None), (2, "real doc")], "doc_id long, text string"
    )
    empty_ledger = spark.createDataFrame([], "fingerprint long")
    novel, updated = incremental_dedup(shard, empty_ledger)
    assert [r.doc_id for r in novel.collect()] == [2]
    assert updated.filter(F.col("fingerprint").isNull()).count() == 0
    # replay the same shard: the NULL doc must NOT come back as novel
    novel2, updated2 = incremental_dedup(shard, updated)
    assert novel2.count() == 0
    assert updated2.count() == updated.count()


def test_threshold_sweep_hand_computed(spark):
    """PR-curve counts against a hand-worked example; NULL scores and
    NULL labels drop (unrankable/unevaluable)."""
    from methyl_data_pipeline_spark.ext.text import threshold_sweep

    rows = [
        (3, True), (3, False), (2, True), (1, False), (1, True), (1, True),
        (None, True), (2, None),
    ]
    df = spark.createDataFrame(rows, "score long, label boolean")
    got = {r.threshold: r for r in threshold_sweep(df, "score", "label").collect()}
    assert set(got) == {3, 2, 1}
    # >=3: kept 2 (1 pos); >=2: kept 3 (2 pos); >=1: kept 6 (4 pos)
    assert (got[3].n_kept, got[3].n_true_pos, got[3].n_false_pos) == (2, 1, 1)
    assert (got[2].n_kept, got[2].n_true_pos) == (3, 2)
    assert (got[1].n_kept, got[1].n_true_pos, got[1].n_false_pos) == (6, 4, 2)
    assert all(r.n_pos_total == 4 for r in got.values())
    # non-0/1 integer labels (a 1-5 quality grade) normalize through
    # boolean: any truthy grade counts as exactly 1 true-positive —
    # summing the raw grade would inflate n_true_pos past n_kept and
    # drive n_false_pos negative
    graded = spark.createDataFrame(
        [(2, 5), (2, 3), (2, 0), (1, 4)], "score long, label long"
    )
    g = {r.threshold: r for r in threshold_sweep(graded, "score", "label").collect()}
    assert (g[2].n_kept, g[2].n_true_pos, g[2].n_false_pos) == (3, 2, 1)
    assert g[1].n_pos_total == 3 and g[1].n_false_pos == 1
    # string labels are a build-time contract error (code review r9:
    # '3' would crash the sweep under ANSI or silently NULL without)
    strs = spark.createDataFrame([(2, "3")], "score long, label string")
    with pytest.raises(TypeError, match="boolean or numeric"):
        threshold_sweep(strs, "score", "label")


def test_incremental_neardup_gate(spark):
    """Rolling near-dup ingest: a shard doc that near-dups a corpus doc
    hits ledger bands; an unrelated doc is novel (0 hits); NULL-text
    docs drop; appending the shard's bands to the ledger makes a replay
    flag everything (the ingest loop's invariant)."""
    from methyl_data_pipeline_spark.ext.dedup import (
        incremental_neardup,
        minhash_band_ledger,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark engines")],
        "doc_id long, text string",
    )
    ledger = minhash_band_ledger(corpus, num_hashes=8)
    shard = spark.createDataFrame(
        [
            (10, base.replace("today", "tomorrow")),  # near-dup of 1
            (11, "der hund läuft und das ist nicht ein problem für die katze"),
            (12, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in incremental_neardup(shard, ledger, num_hashes=8).collect()}
    assert 12 not in got                      # NULL text dropped
    assert got[10].n_band_hits > 0 and not got[10].is_novel
    assert got[11].n_band_hits == 0 and got[11].is_novel
    # ingest the shard: union its bands in, replay -> nothing novel
    from methyl_data_pipeline_spark.ext.dedup import _minhash_bands

    grown = ledger.unionByName(
        _minhash_bands(shard, num_hashes=8).select("band_idx", "band_hash")
    ).distinct()
    replay = incremental_neardup(shard, grown, num_hashes=8)
    assert replay.filter(F.col("is_novel")).count() == 0


def test_bucket_pair_expand_mega_bucket_both_paths_identical(spark):
    """The kernel's two paths (grouped HOF expansion vs salted triangle
    self-join for buckets over max_bucket) emit IDENTICAL pair sets: a
    planted 600-member mega-bucket plus sane buckets, run uncapped and
    with max_bucket=64 (forcing the join path for the big bucket only)."""
    from methyl_data_pipeline_spark.ext.dedup import bucket_pair_expand

    rows = [(i, "big") for i in range(600)] + [
        (1000 + i, f"s{i % 5}") for i in range(25)
    ]
    # second oversized bucket of a DIFFERENT size: the adaptive salt
    # count (ceil(size/max_bucket)) must be derived per bucket —
    # 600 -> S=10 while 150 -> S=3 under max_bucket=64
    rows += [(2000 + i, "big2") for i in range(150)]
    df = spark.createDataFrame(rows, "id long, bucket string")
    member = F.struct(F.col("id").alias("id"))
    fast = bucket_pair_expand(df, ["bucket"], member, max_bucket=10_000)
    capped = bucket_pair_expand(df, ["bucket"], member, max_bucket=64)

    def pairs(d):
        return sorted((r["_a"]["id"], r["_b"]["id"]) for r in d.collect())

    pf, pc = pairs(fast), pairs(capped)
    assert pf == pc
    # 600-bucket: C(600,2); 150-bucket: C(150,2); five 5-member: 5*10
    assert len(pf) == 600 * 599 // 2 + 150 * 149 // 2 + 5 * 10
    assert all(a < b for a, b in pf)
    with pytest.raises(ValueError, match="max_bucket"):
        bucket_pair_expand(df, ["bucket"], member, max_bucket=0)
    # the capped plan actually exercises the join path
    assert "Join" in capped._jdf.queryExecution().executedPlan().toString()


def test_bucket_pair_expand_duplicate_members_no_self_pairs(spark):
    """Off-contract input (duplicate member structs in one bucket —
    the documented unique-leading-id precondition violated): the small
    HOF path must NOT emit (x, x) self-pairs, because the join path
    suppresses them (equal struct -> equal salt -> the l._a < r._b
    tiebreak fails) and the two paths promise identical output."""
    from methyl_data_pipeline_spark.ext.dedup import bucket_pair_expand

    rows = [(1, "b"), (1, "b"), (2, "b"), (3, "b"), (3, "b"), (9, "solo")]
    df = spark.createDataFrame(rows, "id long, bucket string")
    member = F.struct(F.col("id").alias("id"))

    def pairs(d):
        return sorted((r["_a"]["id"], r["_b"]["id"]) for r in d.collect())

    small = pairs(bucket_pair_expand(df, ["bucket"], member, max_bucket=100))
    joined = pairs(bucket_pair_expand(df, ["bucket"], member, max_bucket=2))
    assert all(a != b for a, b in small)
    assert set(small) == set(joined) == {(1, 2), (1, 3), (2, 3)}


def test_minhash_pairs_mega_bucket_cap_identical(spark):
    """Operator-level cap: 80 identical-text docs land in one band
    bucket; max_bucket=16 must route them through the salted join with
    pairs identical to the uncapped fast path."""
    from methyl_data_pipeline_spark.ext.dedup import minhash_candidate_pairs

    boiler = "lorem ipsum dolor sit amet boiler plate text here we go now"
    rows = [(i, boiler) for i in range(80)] + [
        (200, "unique doc about spark shuffles"),
        (201, "unique doc about spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(d):
        return sorted((r.id_a, r.id_b) for r in d.collect())

    fast = pairs(minhash_candidate_pairs(df))
    capped = pairs(minhash_candidate_pairs(df, max_bucket=16))
    assert fast == capped
    assert len(fast) >= 80 * 79 // 2


def test_simhash_pairs_mega_bucket_cap_identical(spark):
    """Same cap contract for the SimHash banding (whose boilerplate
    failure mode — constant simhash of templated text — is exactly the
    planted input here)."""
    from methyl_data_pipeline_spark.ext.dedup import simhash_hamming_pairs

    boiler = "standard template header repeated across the whole corpus body"
    rows = [(i, boiler) for i in range(60)] + [
        (200, "der hund läuft und das ist nicht ein problem für die katze"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(d):
        return sorted((r.id_a, r.id_b, r.hamming) for r in d.collect())

    fast = pairs(simhash_hamming_pairs(df))
    capped = pairs(simhash_hamming_pairs(df, max_bucket=8))
    assert fast == capped
    assert len(fast) == 60 * 59 // 2  # identical docs -> hamming 0


def test_cosine_neardup_mega_bucket_cap_identical(spark):
    """Cap contract for the embedding LSH path: identical vectors bucket
    together; the capped run must emit the same verified pairs."""
    from methyl_data_pipeline_spark.ext.similarity import cosine_neardup_pairs

    vec = [1.0, 0.25, -0.5, 0.75]
    rows = [(i, vec) for i in range(30)] + [(100, [-1.0, 0.5, 0.5, -0.75])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairs(d):
        return sorted(
            (r.id_a, r.id_b, round(r.cosine, 9)) for r in d.collect()
        )

    fast = pairs(cosine_neardup_pairs(df))
    capped = pairs(cosine_neardup_pairs(df, max_bucket=4))
    assert fast == capped
    assert len(fast) == 30 * 29 // 2


def test_perplexity_buckets_terciles(spark):
    """Rank terciles per partition; repeated tokens score high (head),
    rare-token docs land in the tail."""
    from methyl_data_pipeline_spark.ext.text import perplexity_buckets

    common = "the cat sat on the mat"
    rows = [(i, common, "en") for i in range(6)]
    rows += [(10, "zyx qwv jkl unique rare tokens", "en")]
    rows += [(11, common, "en"), (12, common, "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r.bucket for r in perplexity_buckets(df, part_col="lang").collect()}
    assert out[10] == "tail"  # rare tokens -> lowest mean logprob
    assert sorted(out.values()).count("head") == 3  # floor(9/3)
    # partitioning invariance
    out2 = {
        r.doc_id: r.bucket
        for r in perplexity_buckets(df.repartition(7), part_col="lang").collect()
    }
    assert out == out2


def test_chunk_documents_overlap_and_tail(spark):
    from methyl_data_pipeline_spark.ext.pack import chunk_documents

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "short doc")], "doc_id long, text string"
    )
    out = {
        (r.doc_id, r.chunk_idx): r
        for r in chunk_documents(df, window=4, stride=3).collect()
    }
    # doc 1: 10 tokens, window 4 / stride 3 -> starts 0,3,6 cover all
    # tokens (ceil((10-4)/3)+1 = 3 chunks; last spans t6..t9)
    idxs = sorted(k[1] for k in out if k[0] == 1)
    assert idxs == [0, 1, 2]
    assert out[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert out[(1, 1)].chunk_text == "t3 t4 t5 t6"  # 1-token overlap
    assert out[(1, 2)].chunk_text == "t6 t7 t8 t9"
    assert out[(1, 2)].start_tok == 6 and out[(1, 2)].n_chunk_tokens == 4
    # short doc: single chunk
    assert out[(2, 0)].chunk_text == "short doc"
    assert len([k for k in out if k[0] == 2]) == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, window=4, stride=5)


def test_bloom_no_false_negatives_and_matches_exact(spark):
    """Bloom decontamination must flag a superset of the exact
    semi-join result; at 2^18 bits / 5 hashes the test corpus admits
    zero false positives, so the two paths agree exactly."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.ext.dedup import bloom_decontaminate
    from methyl_data_pipeline_spark.ext.text import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    corpus = docs.filter(F.col("doc_id") >= 10)
    b = {
        r["doc_id"]: r["maybe_contaminated"]
        for r in bloom_decontaminate(corpus, bench, ngram_n=5).collect()
    }
    e = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(corpus, bench, ngram_n=5).collect()
    }
    assert set(b) == set(e)
    for doc_id, exact in e.items():
        if exact:
            assert b[doc_id], f"false negative on doc {doc_id}"
    assert b == e  # no false positives at this filter size either


def test_bloom_build_is_constant_size(spark):
    """The driver round-trip of bloom_build is m_bits/64 words however
    large the input: doubling the hashed input never grows the list."""
    from pyspark.sql import functions as F

    from methyl_data_pipeline_spark.ext.dedup import bloom_build, bloom_positions

    df = spark.range(1000).select((F.col("id") * 2654435761).alias("_h"))
    w1 = bloom_build(df, "_h", m_bits=1 << 12, k=3)
    w2 = bloom_build(df.union(spark.range(5000).select((F.col("id") * 97 + 13).alias("_h"))),
                     "_h", m_bits=1 << 12, k=3)
    assert len(w1) == len(w2) == (1 << 12) // 64
    # monotone: every bit set in w1 stays set in the superset build
    assert all((a & ~b) == 0 for a, b in zip(w1, w2))
    # positions are within range and deterministic
    pos = (
        df.select(F.explode(bloom_positions(F.col("_h"), 1 << 12, 3)).alias("p"))
        .agg(F.min("p"), F.max("p"))
        .first()
    )
    assert pos[0] >= 0 and pos[1] < (1 << 12)


def test_mad_outliers_flags_planted_spikes(spark):
    """Plant 3 spikes in an otherwise tight distribution: MAD flags
    exactly those, and a constant group (MAD = 0) never flags."""
    import pandas as pd

    from methyl_data_pipeline_spark.stats.robust import (
        mad_outlier_summary,
        mad_outliers,
    )

    base = [10.0 + 0.01 * i for i in range(100)]
    spikes = [500.0, -400.0, 900.0]
    pdf = pd.DataFrame(
        {"event_type": ["a"] * 103 + ["const"] * 10,
         "value": base + spikes + [7.0] * 10}
    )
    df = spark.createDataFrame(pdf)
    flagged = mad_outliers(df, "value", ["event_type"], c=3.0).toPandas()
    a = flagged[flagged.event_type == "a"]
    assert set(a[a.is_outlier].value) == set(spikes)
    const = flagged[flagged.event_type == "const"]
    assert not const.is_outlier.any()
    summ = mad_outlier_summary(df, "value", ["event_type"], c=3.0).toPandas()
    row = summ[summ.event_type == "a"].iloc[0]
    assert row.n == 103 and row.n_outliers == 3


def test_mad_exact_vs_approx_agree_on_separated_data(spark):
    """The t-digest scale path flags the same rows as the exact path
    when outliers are well separated (the regime that matters)."""
    import pandas as pd
    import numpy as np

    from methyl_data_pipeline_spark.stats.robust import mad_outliers

    rng = np.random.RandomState(0)
    vals = list(rng.normal(50, 2, 500)) + [5000.0, -3000.0]
    pdf = pd.DataFrame({"event_type": ["x"] * 502, "value": vals})
    df = spark.createDataFrame(pdf)
    exact = mad_outliers(df, "value", ["event_type"], c=4.0).toPandas()
    approx = mad_outliers(df, "value", ["event_type"], c=4.0, approx=True).toPandas()
    key = lambda f: set(f[f.is_outlier].value.round(6))
    assert key(exact) == key(approx) == {5000.0, -3000.0}


def test_heavy_hitters_finds_planted_boilerplate(spark):
    """A boilerplate line planted in 40% of docs dominates the trigram
    counts; exact heavy_hitters surfaces exactly its trigrams, and the
    freqItems sketch path returns a superset of the exact hitters."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.text import (
        heavy_hitters,
        heavy_hitters_approx,
    )

    boiler = "click here to subscribe now"
    texts = []
    for i in range(100):
        body = f"unique words {i} alpha{i} beta{i} gamma{i} delta{i}"
        texts.append(f"{boiler} {body}" if i % 5 < 2 else body)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(100), "text": texts}))
    hh = heavy_hitters(df, ngram_n=3, min_share=0.02).collect()
    got = {r.gram for r in hh}
    want = {"click here to", "here to subscribe", "to subscribe now"}
    assert want <= got
    # nothing outside the boilerplate + its junction grams qualifies
    assert all("subscribe" in g or "click" in g or "here" in g or "now unique" in g
               or "unique words" in g for g in got), got
    approx = set(heavy_hitters_approx(df, ngram_n=3, min_share=0.02))
    assert got <= approx  # sketch superset guarantee


def test_corpus_report_planted_duplicates_and_langs(spark):
    """dup_rate and the language mode are exact on a corpus with
    planted duplicates and a known language mix."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.text import corpus_report

    rows = []
    for i in range(30):
        rows.append((i, "shared duplicate body" if i < 10 else f"unique body {i}",
                     "en" if i % 3 else "fr", "web"))
    for i in range(30, 40):
        rows.append((i, f"news body {i}", "de", "news"))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    )
    got = {r.source: r for r in corpus_report(df).collect()}
    web = got["web"]
    # 30 docs, 10 of them share one body -> 21 unique bodies
    assert web.n_docs == 30 and web.n_unique_bodies == 21
    assert abs(web.dup_rate - (1 - 21 / 30)) < 1e-12
    assert web.top_lang == "en" and web.n_langs == 2
    news = got["news"]
    assert news.n_docs == 10 and news.dup_rate == 0.0 and news.top_lang == "de"
    assert news.top_lang_share == 1.0


def test_snapshot_diff_statuses(spark):
    """added/removed/changed/unchanged are each exercised and exact."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.dedup import snapshot_diff

    old = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b", "keep me", "will change"]})
    )
    new = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [2, 3, 4], "text": ["Keep  ME", "changed now", "brand new"]}
        )
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    # doc 2: same normalized body (case/whitespace noise) -> unchanged
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}

    # null-text docs are PRESENT (unknown body), not missing: a doc
    # whose text nulls out must read changed/removed, never added
    old2 = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    new2 = spark.createDataFrame([(2, None)], "doc_id long, text string")
    got2 = {r.doc_id: r.status for r in snapshot_diff(old2, new2).collect()}
    assert got2 == {1: "removed", 2: "changed"}


def test_multimodal_corrupt_payloads_fall_back(spark):
    """Magic-matching but corrupt payloads must degrade to the digest
    fallback on every decode path instead of failing the job."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        decode_audio,
        decode_features,
        decode_image,
        frame_sample,
    )

    bad = [
        (1, "image", b"BM" + b"\x00" * 10, 12),            # truncated BMP
        (2, "audio", b"RIFF\xff\xff\xff\xffWAVE" + b"fmt " + b"\x10\x00\x00\x00" + b"\x01\x00", 22),  # truncated fmt
        (3, "video", b"RIFF\x00\x10\x00\x00AVI LIST\xff\xff\xff\x7fzzzz", 28),  # overrunning LIST
        (4, "text", b"plain bytes", 11),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(bad, columns=["id", "modality", "content", "n_bytes"])
    )
    feats = decode_features(media).collect()
    assert len(feats) == 4 and all(r.kind == "digest" for r in feats)
    imgs = decode_image(media, width=4, height=4).collect()
    assert len(imgs) == 4 and all(r.mode == "FAKE" for r in imgs)
    auds = decode_audio(media, sample_rate=100, clip_seconds=0.1).collect()
    assert len(auds) == 4 and all(r.n_samples == 10 for r in auds)
    frames = frame_sample(media, every_n=2).collect()
    assert {r.id for r in frames} == {1, 2, 3, 4}  # fallback frames emitted

    # feature_dim > 16 extends the digest instead of raising
    wide = decode_features(media, feature_dim=20).collect()
    assert all(len(r.features) == 20 for r in wide)


def test_bm25_rank_matches_hand_computation(spark):
    """BM25 against a from-scratch python computation (Lucene
    positive-idf variant, k1=1.2 b=0.75), including the rounded-score
    rank determinism and the min-doc-id tie-break."""
    import math
    import re

    from methyl_data_pipeline_spark.ext.text import bm25_rank

    corpus_rows = [
        (10, "the quick brown fox jumps over the lazy dog"),
        (11, "a quick brown cat sleeps"),
        (12, "dogs and cats living together"),
        (13, "the fox the fox the fox"),
        (14, "entirely unrelated words here"),
    ]
    query_rows = [(0, "quick fox"), (1, "lazy dog sleeps")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    queries = spark.createDataFrame(
        query_rows, "query_id long, query_text string"
    )
    got = {
        (r.query_id, r.rank): (r.doc_id, r.score)
        for r in bm25_rank(corpus, queries, top_k=3).collect()
    }

    def toks(t):
        return re.split(r"\s+", t.strip().lower())

    k1, b = 1.2, 0.75
    postings = {}
    for d, t in corpus_rows:
        tf = {}
        for w in toks(t):
            tf[w] = tf.get(w, 0) + 1
        postings[d] = tf
    n_docs = len(postings)
    avgdl = sum(sum(tf.values()) for tf in postings.values()) / n_docs
    want = {}
    for qid, qt in query_rows:
        scores = {}
        for d, tf in postings.items():
            s = 0.0
            for term in set(toks(qt)):
                if term not in tf:
                    continue
                df = sum(1 for p in postings.values() if term in p)
                idf = math.log(1 + (n_docs - df + 0.5) / (df + 0.5))
                dl = sum(tf.values())
                s += idf * tf[term] * (k1 + 1) / (
                    tf[term] + k1 * (1 - b + b * dl / avgdl)
                )
            if s > 0:
                scores[d] = round(s + 1e-9, 6)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for i, (d, s) in enumerate(ranked, start=1):
            want[(qid, i)] = (d, s)
    assert set(got) == set(want)
    for key, (d, s) in want.items():
        assert got[key][0] == d, (key, got[key], (d, s))
        assert abs(got[key][1] - s) < 1e-9


def test_bm25_rank_is_inverted_index_shaped(spark):
    """The BM25 plan must broadcast the query side (no shuffle of the
    postings against queries) and contain no cartesian product."""
    from methyl_data_pipeline_spark.ext.text import bm25_rank

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    queries = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    out = bm25_rank(docs.filter(F.col("doc_id") >= 10), queries)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # VERDICT r6 #4: only the query-vocabulary-sized frames carry
    # broadcast HINTS — the semi-join vocab, qterms, df_q, and the
    # 1-row corpus_stats (4 hints) — never the corpus-sized doclen
    # frame (an OOM at 100 TB). AQE may still choose to broadcast it
    # at tiny SF; the hint count is the scale-safety contract.
    # Count HINT NODES, not the raw substring 'broadcast' (an alias or
    # column name containing it would skew the raw count).
    import re

    analyzed = out._jdf.queryExecution().analyzed().toString()
    hints = re.findall(r"(?:Resolved|Unresolved)Hint [^\n]*BROADCAST", analyzed, re.I)
    assert len(hints) == 4, analyzed


def test_bm25_empty_and_null_inputs(spark):
    """Empty/blank/null query text retrieves nothing; empty/blank/null
    corpus docs hold no postings (the '' split artifact is not a term)."""
    from methyl_data_pipeline_spark.ext.text import bm25_rank

    corpus = spark.createDataFrame(
        [(10, "quick brown fox"), (11, None), (12, ""), (13, "   ")],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "quick"), (1, ""), (2, None), (3, "   ")],
        "query_id long, query_text string",
    )
    got = bm25_rank(corpus, queries, top_k=5).collect()
    assert {r.query_id for r in got} == {0}
    assert [r.doc_id for r in got] == [10]


def test_quantize_embeddings_hand_computed(spark):
    """Known vector: scale = max|x|/127; q_i = floor(x_i/scale + 0.5)
    (round-half-up via floor — the engine-stable rounding); invalid
    vectors (NULL / empty / NaN / zero) drop per valid_vector."""
    import math

    from methyl_data_pipeline_spark.ext.similarity import quantize_embeddings

    rows = [
        (1, [2.0, -1.0, 0.5]),
        (2, [0.0, 0.0, 0.0]),          # zero -> dropped
        (3, None),                      # NULL -> dropped
        (4, [1.0, float("nan"), 0.0]),  # NaN -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    assert set(got) == {1}
    assert math.isclose(got[1].scale, 2.0 / 127)
    # 2.0 -> 127; -1.0 -> floor(-63.5+0.5) = -63; 0.5 -> floor(32.25) = 32
    assert got[1].qvec == [127, -63, 32]
    with pytest.raises(ValueError):
        quantize_embeddings(df, bits=1)


def test_quantization_recall_perfect_on_separated_vectors(spark):
    """Well-separated orthogonal-ish vectors: int8 quantization cannot
    reorder the neighbor ranking, so recall@k is exactly 1.0 and
    n_overlap == n_exact == min(k, n-1)."""
    from methyl_data_pipeline_spark.ext.similarity import quantization_recall

    # 3 tight clusters of 3 around orthogonal axes (+ tiny jitter)
    rows = []
    for c, axis in enumerate([(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.0, 0.0, 1.0)]):
        for j in range(3):
            v = [a + 0.01 * j * (i + 1) for i, a in enumerate(axis)]
            rows.append((c * 10 + j, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") % 10 == 0)
    got = {r.query_id: r for r in quantization_recall(df, queries, k=2).collect()}
    assert set(got) == {0, 10, 20}
    for r in got.values():
        assert r.n_exact == 2 and r.n_overlap == 2 and r.recall_ri == 1000000


def test_embedding_drift_hand_computed(spark):
    """Planted drift: dim 0 shifts by +10 between snapshots, dim 1 is
    identically distributed, a constant dim yields NULL drift (se=0),
    invalid vectors drop."""
    import math

    from methyl_data_pipeline_spark.ext.similarity import embedding_drift

    old = spark.createDataFrame(
        [(1, [0.0, 5.0, 7.0]), (2, [2.0, 6.0, 7.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    new = spark.createDataFrame(
        [(4, [10.0, 5.0, 7.0]), (5, [12.0, 6.0, 7.0]),
         (6, [11.0, 5.5, 7.0]), (7, [float("nan"), 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r.dim: r for r in embedding_drift(old, new).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0].n_old == 2 and got[0].n_new == 3  # NULL + NaN dropped
    # dim0: means 1 vs 11, vars 2 and 1 -> z = 10 / sqrt(2/2 + 1/3)
    assert math.isclose(got[0].drift_z, 10 / math.sqrt(1 + 1 / 3))
    assert got[1].drift_z < got[0].drift_z
    assert got[2].drift_z is None  # constant dim: se = 0 -> NULL


def test_source_token_cap_hand_computed(spark):
    """Per-group best-first prefix: within each source, docs rank by
    (score desc, id asc); the prefix stops at the cap; NULL scores
    drop; a NULL source is its own group."""
    from methyl_data_pipeline_spark.ext.pack import source_token_cap

    rows = [
        (1, "a", 9, 50), (2, "a", 7, 40), (3, "a", 7, 30), (4, "a", 1, 100),
        (5, "b", 5, 60), (6, "b", 4, 50),
        (7, None, 3, 10), (8, "a", None, 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, score long, n_tokens long"
    )
    got = {r.doc_id: r for r in source_token_cap(df, "score", cap=100).collect()}
    # source a: 1 (50), 2 (90), 3 would reach 120 -> cut; 4 never
    assert set(got) == {1, 2, 5, 7}
    assert (got[1].rank, got[1].cum_tokens) == (1, 50)
    assert (got[2].rank, got[2].cum_tokens) == (2, 90)
    assert (got[5].rank, got[5].cum_tokens) == (1, 60)  # 6 would reach 110
    assert got[7].source is None and got[7].rank == 1
    # ROWS frame regression (code review r9): duplicate ordering-key
    # peers must accumulate one row at a time — under Spark's default
    # RANGE frame both (score=5, id=1) peers would share cum=120 and
    # the whole prefix would come back EMPTY
    peers = spark.createDataFrame(
        [(1, "a", 5, 60), (1, "a", 5, 60), (2, "a", 4, 10)],
        "doc_id long, source string, score long, n_tokens long",
    )
    kept = source_token_cap(peers, "score", cap=100).collect()
    assert len(kept) == 1
    assert (kept[0].rank, kept[0].cum_tokens) == (1, 60)


def test_containment_pairs_hand_computed(spark):
    """A short doc fully quoted inside a long one has containment 1.0
    (Jaccard would be tiny); unrelated docs pair nowhere; a
    corpus-common gram alone (df > df_max) cannot create a pair."""
    from methyl_data_pipeline_spark.ext.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, quote),
        (2, f"article intro text here {quote} and a long tail of words"),
        (3, "completely unrelated body about spark shuffles and joins"),
        (4, None),
    ]
    # a boilerplate trigram shared by MANY docs (df > df_max) must not
    # by itself create candidates between otherwise-unrelated docs
    rows += [(100 + i, f"common header line unique body {i}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.contained_id, r.container_id): r.containment
           for r in containment_pairs(df, threshold=0.8, df_max=8).collect()}
    assert (1, 2) in got and abs(got[(1, 2)] - 1.0) < 1e-12
    assert all(a == 1 and b == 2 for a, b in got)
    with pytest.raises(ValueError):
        containment_pairs(df, threshold=0.0)
    with pytest.raises(ValueError):
        containment_pairs(df, df_max=1)


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup composition, r10)
# ---------------------------------------------------------------------------


def _semdedup_frame(spark):
    """Two far-apart groups + near-dup copies, dim 4. Centroids pin
    group 1 to cell 0 and group 2 to cell 1; copies are tiny
    perturbations so every within-group cosine is ~1."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),      # cluster A canonical candidate
        (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (3, [0.99, 0.03, 0.0, 0.0]),    # near-dup of 2 (chain 1~2~3)
        (10, [0.0, 0.0, 1.0, 0.0]),     # cluster B
        (11, [0.0, 0.0, 0.995, 0.02]),  # near-dup of 10
        (20, [0.0, 1.0, 0.0, 0.0]),     # singleton (cell 0, no pair)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_SD_CENTS = [[0.9, 0.1, 0.0, 0.0], [0.0, 0.0, 0.9, 0.1]]


def test_semantic_dedup_clusters_and_far_policy(spark):
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _semdedup_frame(spark), centroids=_SD_CENTS, threshold=0.95
        ).collect()
    }
    assert len(out) == 6
    # cluster A = {1,2,3} transitively; the member farthest from
    # centroid [0.9,0.1,0,0] is vec 1 (largest angle to the centroid)
    a_canon = {out[i].canonical_id for i in (1, 2, 3)}
    assert len(a_canon) == 1
    rep_a = a_canon.pop()
    assert not out[rep_a].is_duplicate
    assert sum(out[i].is_duplicate for i in (1, 2, 3)) == 2
    # cluster B = {10, 11}
    assert out[10].canonical_id == out[11].canonical_id
    assert sum(out[i].is_duplicate for i in (10, 11)) == 1
    # singleton is its own canonical
    assert out[20].canonical_id == 20 and not out[20].is_duplicate
    # cells: group A + singleton in cell 0, group B in cell 1
    assert {out[i].cell for i in (1, 2, 3, 20)} == {0}
    assert {out[i].cell for i in (10, 11)} == {1}


def test_semantic_dedup_min_id_policy(spark):
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    out = {
        r.vec_id: r
        for r in semantic_dedup(
            _semdedup_frame(spark),
            centroids=_SD_CENTS,
            threshold=0.95,
            keep="min_id",
        ).collect()
    }
    assert out[1].canonical_id == 1 and not out[1].is_duplicate
    assert out[2].canonical_id == 1 and out[2].is_duplicate
    assert out[3].canonical_id == 1 and out[3].is_duplicate
    assert out[10].canonical_id == 10 and out[11].canonical_id == 10


def test_semantic_dedup_quality_column_policy(spark):
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    df = _semdedup_frame(spark).withColumn(
        "quality", F.col("vec_id").cast("double")
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(
            df, centroids=_SD_CENTS, threshold=0.95, keep="quality"
        ).collect()
    }
    # max quality wins: vec 3 in cluster A, vec 11 in cluster B
    assert out[1].canonical_id == 3 and out[3].is_duplicate is False
    assert out[11].is_duplicate is False and out[10].canonical_id == 11

    with pytest.raises(ValueError, match="neither a policy nor"):
        semantic_dedup(df, centroids=_SD_CENTS, keep="no_such_col").collect()


def test_semantic_dedup_invalid_vectors_dropped_and_kmeans_path(spark):
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    bad = spark.createDataFrame(
        [(90, None), (91, []), (92, [float("nan"), 1.0]), (93, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    df = _semdedup_frame(spark).unionByName(bad)
    # centroids=None exercises the seeded-KMeans fit through the
    # shared _lloyd_centroids refactor
    out = semantic_dedup(df, n_cells=2, threshold=0.95).collect()
    assert {r.vec_id for r in out} == {1, 2, 3, 10, 11, 20}
    by_id = {r.vec_id: r for r in out}
    # clustering semantics hold regardless of which cells KMeans built
    assert by_id[10].canonical_id == by_id[11].canonical_id
    assert len({by_id[i].canonical_id for i in (1, 2, 3)}) == 1


def test_semantic_dedup_join_assignment_parity(spark):
    """The broadcast-join argmin (large-k scale path) must produce the
    IDENTICAL result frame as the transform path — same fold, same
    (dist, idx) tie rule."""
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    df = _semdedup_frame(spark)
    a = semantic_dedup(
        df, centroids=_SD_CENTS, threshold=0.95, assignment="transform"
    )
    b = semantic_dedup(df, centroids=_SD_CENTS, threshold=0.95, assignment="join")
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb

    with pytest.raises(ValueError, match="unknown assignment"):
        semantic_dedup(df, centroids=_SD_CENTS, assignment="nope")


def test_semantic_dedup_two_level_assignment(spark):
    """two_level is an approximation of the flat argmin, but on a
    well-separated corpus (clear clusters, centroids near them) it
    must agree with the flat paths exactly — and it must keep EVERY
    row (the unowned-coarse-cell guard)."""
    from methyl_data_pipeline_spark.ext.similarity import semantic_dedup

    df = _semdedup_frame(spark)
    # k=4 fine centroids -> k1=2 coarse; two centroids per group so
    # the coarse split separates the two real clusters
    cents = [
        [0.9, 0.1, 0.0, 0.0],
        [0.8, 0.3, 0.0, 0.0],
        [0.0, 0.0, 0.9, 0.1],
        [0.0, 0.0, 0.8, 0.3],
    ]
    flat = sorted(map(tuple, semantic_dedup(
        df, centroids=cents, threshold=0.95, assignment="join"
    ).collect()))
    two = sorted(map(tuple, semantic_dedup(
        df, centroids=cents, threshold=0.95, assignment="two_level"
    ).collect()))
    assert flat == two
    assert len(two) == 6  # no row dropped


def test_connected_components_driver_path_parity(spark):
    """The driver union-find fast path must produce the identical
    (node, component) frame as the distributed label-propagation loop
    on random graphs — including chains past a few hops, islands, and
    string node ids."""
    import random

    from methyl_data_pipeline_spark.ext.graph import connected_components

    rng = random.Random(7)
    for trial in range(3):
        nodes = list(range(trial * 100, trial * 100 + 40))
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
        ] + [(i, i + 1) for i in nodes[:8]]  # a guaranteed chain
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        fast = sorted(
            map(tuple, connected_components(df).collect())
        )  # default threshold -> driver path
        slow = sorted(
            map(tuple, connected_components(df, driver_threshold=0).collect())
        )
        assert fast == slow and fast

    # string ids through the fast path keep the min-id (lexicographic)
    # contract and the schema
    sdf = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    out = {r["node"]: r["component"] for r in connected_components(sdf).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    # NULL endpoints fall through to the distributed loop (no crash)
    ndf = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    got = connected_components(ndf).collect()
    assert {r["node"] for r in got if r["node"] is not None} >= {1, 2}


# ---------------------------------------------------------------------------
# DSIR importance resampling (r10)
# ---------------------------------------------------------------------------


def test_dsir_weights_prefer_target_like_docs(spark):
    from methyl_data_pipeline_spark.ext.text import dsir_weights

    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),       # exactly target-like
            (2, "quantum flux capacitor array"), # nothing in common
            (3, "the cat ran"),                  # partially target-like
            (4, None),                           # NULL text drops
            (5, ""),                             # no grams -> weight 0
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_weights(raw, target, buckets=256).collect()}
    assert set(out) == {1, 2, 3, 5}
    assert out[1].log_weight > out[3].log_weight > out[2].log_weight
    assert out[5].n_grams == 0 and out[5].log_weight == 0.0
    # n_grams = unigrams + bigrams
    assert out[1].n_grams == 6 + 5

    with pytest.raises(ValueError, match="buckets"):
        dsir_weights(raw, target, buckets=1)
    with pytest.raises(ValueError, match="smoothing"):
        dsir_weights(raw, target, smoothing=0.0)


def test_dsir_select_deterministic_and_ranked(spark):
    from methyl_data_pipeline_spark.ext.text import dsir_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 7 == 0))
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    a = dsir_select(raw, target, k=15, buckets=512).collect()
    b = dsir_select(raw, target, k=15, buckets=512).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # no RNG anywhere
    ranks = sorted(r.sel_rank for r in a)
    assert ranks == list(range(1, 16))
    # a different seed draws a different sample (Gumbel actually acts)
    c = dsir_select(raw, target, k=15, buckets=512, seed="other").collect()
    assert {r.doc_id for r in c} != {r.doc_id for r in a}

    with pytest.raises(ValueError, match="k must"):
        dsir_select(raw, target, k=0)
    with pytest.raises(ValueError, match="temperature"):
        dsir_select(raw, target, k=5, temperature=0.0)


def test_dsir_temperature_flattens_selection(spark):
    """High temperature -> near-uniform sampling: the overlap with the
    temperature=1 importance-driven sample should not be total, and
    weights still ride along unchanged."""
    from methyl_data_pipeline_spark.ext.text import dsir_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = docs.filter((F.col("lang") == "en") & (F.col("doc_id") % 7 == 0))
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    sharp = {r.doc_id for r in dsir_select(raw, target, k=25, buckets=512).collect()}
    flat = {
        r.doc_id
        for r in dsir_select(
            raw, target, k=25, buckets=512, temperature=1000.0
        ).collect()
    }
    assert sharp != flat


# ---------------------------------------------------------------------------
# Recall certificates (r11): LSH banding + two_level
# ---------------------------------------------------------------------------


def test_minhash_band_recall_bins_and_exactness(spark):
    """The exact side must equal brute-force Jaccard binning, the
    recovered count can never exceed the pair count, and an identical
    pair (bin 10) is always recovered (identical signatures)."""
    from methyl_data_pipeline_spark.ext.dedup import minhash_band_recall

    words = [f"w{i}" for i in range(40)]
    full = " ".join(words)
    rows = [
        (0, full),
        (1, full),  # jaccard 1.0 with 0 -> bin 10
        (2, " ".join(words[:24])),  # high-overlap prefix of 0
        (3, " ".join(words[20:]) + " zz1 zz2 zz3 zz4 zz5"),  # mid overlap
        (4, "totally different text about nothing shared at all here"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.jacc_bin: r for r in minhash_band_recall(
        df, num_hashes=16, bands=4, min_jaccard=0.1
    ).collect()}

    # brute-force oracle over distinct 3-shingle sets
    def sh(t):
        ws = t.lower().split()
        return set(
            " ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 1))
        ) if len(ws) >= 3 else {t.lower()}

    texts = {i: t for i, t in rows if t is not None}
    expect = {}
    for a in texts:
        for b in texts:
            if a < b:
                sa, sb = sh(texts[a]), sh(texts[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= 0.1:
                    expect.setdefault(int(10.0 * len(sa & sb) / len(sa | sb)), []).append(j)
    assert set(out) == set(expect)
    for b, js in expect.items():
        assert out[b].n_pairs == len(js)
        assert 0 <= out[b].n_recovered <= out[b].n_pairs
        assert 0 <= out[b].recall_ri <= 1_000_000
        assert 0 <= out[b].theory_ri <= 1_000_000
    assert out[10].n_recovered == out[10].n_pairs  # identical pair recovered

    with pytest.raises(ValueError, match="min_jaccard"):
        minhash_band_recall(df, min_jaccard=0.0)


def test_minhash_band_recall_sample_and_theory_monotone(spark):
    """sample=N takes a deterministic prefix; the theoretical S-curve
    must be nondecreasing in the bin."""
    from methyl_data_pipeline_spark.ext.dedup import minhash_band_recall

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = minhash_band_recall(df, min_jaccard=0.1).collect()
    sampled = minhash_band_recall(df, min_jaccard=0.1, sample=4).collect()
    n_full = sum(r.n_pairs for r in full)
    n_samp = sum(r.n_pairs for r in sampled)
    assert n_full == 45 and n_samp == 6  # C(10,2) vs C(4,2)
    th = [r.theory_ri for r in sorted(full, key=lambda r: r.jacc_bin)]
    assert th == sorted(th)


def test_two_level_recall_separated_corpus_is_lossless(spark):
    """On a well-separated corpus where two_level agrees with flat
    (same fixture as the assignment-parity test), the certificate must
    report zero movement and full dup recall."""
    from methyl_data_pipeline_spark.ext.similarity import two_level_recall

    df = _semdedup_frame(spark)
    cents = [
        [0.9, 0.1, 0.0, 0.0],
        [0.8, 0.3, 0.0, 0.0],
        [0.0, 0.0, 0.9, 0.1],
        [0.0, 0.0, 0.8, 0.3],
    ]
    r = two_level_recall(df, cents, threshold=0.95).collect()[0]
    assert r.n_vectors == 6
    assert r.n_cell_moved == 0
    assert r.cell_agree_ri == 1_000_000
    assert r.n_dups_flat > 0
    assert r.n_dups_kept == r.n_dups_flat
    assert r.dup_recall_ri == 1_000_000


def test_quantized_lloyd_matches_pure_python_reference():
    """The exact-integer Lloyd (r12 adapted-coarse plan) must agree
    with an independent pure-Python reference on seeded random integer
    point sets — assignments (ties to lowest cell), floor(sum/count)
    updates, empty-cell carry — since the DuckDB oracle re-derives the
    same algorithm a third way in SQL."""
    import random

    import numpy as np

    from methyl_data_pipeline_spark.ext.similarity import quantized_lloyd

    rng = random.Random(7)
    for trial in range(20):
        n, d, k = rng.randint(5, 40), rng.randint(2, 6), rng.randint(2, 5)
        pts = [[rng.randint(-(10**6), 10**6) for _ in range(d)] for _ in range(n)]
        iters = rng.randint(1, 5)
        got = quantized_lloyd(pts, k, iters=iters)

        cents = [list(p) for p in pts[: min(k, n)]]
        for _ in range(iters):
            assign = []
            for p in pts:
                best = min(
                    range(len(cents)),
                    key=lambda c: (
                        sum((p[j] - cents[c][j]) ** 2 for j in range(d)),
                        c,
                    ),
                )
                assign.append(best)
            for c in range(len(cents)):
                members = [pts[i] for i in range(n) if assign[i] == c]
                if members:
                    cnt = len(members)
                    cents[c] = [
                        sum(m[j] for m in members) // cnt for j in range(d)
                    ]
        assert np.array_equal(np.asarray(got), np.asarray(cents)), trial


def test_quantized_kmeans_centroids_deterministic_and_grid(spark):
    """The engine-replayable kmeans fit: deterministic across calls,
    k rows of the input dim, every coordinate on the 1e-6 grid
    (integer-derived), and invariant to input partitioning (ordered
    sample)."""
    from methyl_data_pipeline_spark.ext.similarity import (
        quantized_kmeans_centroids,
    )

    df = _semdedup_frame(spark)
    a = quantized_kmeans_centroids(df, 2, sample_n=6)
    b = quantized_kmeans_centroids(df.repartition(7), 2, sample_n=6)
    assert a == b
    assert len(a) == 2 and all(len(c) == 4 for c in a)
    for c in a:
        for v in c:
            assert abs(v * 1e6 - round(v * 1e6)) < 1e-6


def test_semantic_dedup_coarse_probe_full_probe_equals_flat(spark):
    """With coarse_probe >= the number of coarse cells every fine
    centroid is reachable, so two_level must EQUAL the flat path
    exactly — the IVF nprobe limit identity (and with probe=1 on a
    well-separated corpus it already does, per the parity test)."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        semantic_dedup,
        two_level_plan,
    )

    df = _semdedup_frame(spark)
    cents = md5_centroids(9, 4)
    n_coarse = len(two_level_plan(cents)[0])
    flat = sorted(map(tuple, semantic_dedup(
        df, centroids=cents, threshold=0.95, assignment="transform"
    ).collect()))
    two = sorted(map(tuple, semantic_dedup(
        df,
        centroids=cents,
        threshold=0.95,
        assignment="two_level",
        coarse_probe=n_coarse,
    ).collect()))
    assert flat == two


def test_semantic_dedup_adapted_coarse_keeps_every_row(spark):
    """coarse_sample (data-adapted integer-Lloyd coarse fit) must
    still emit every valid row exactly once (unowned-cell guard +
    totality), and be deterministic across runs."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        semantic_dedup,
    )

    df = _semdedup_frame(spark)
    cents = md5_centroids(4, 4)
    a = sorted(map(tuple, semantic_dedup(
        df, centroids=cents, threshold=0.95, assignment="two_level",
        coarse_sample=4,
    ).collect()))
    b = sorted(map(tuple, semantic_dedup(
        df, centroids=cents, threshold=0.95, assignment="two_level",
        coarse_sample=4,
    ).collect()))
    assert a == b
    assert len(a) == 6
    assert len({t[0] for t in a}) == 6


def test_semantic_dedup_rejects_two_level_knobs_off_path(spark):
    """coarse_probe/coarse_sample shape only the two_level hierarchy;
    a non-two_level assignment (including auto resolving to
    transform/join) must raise rather than silently ignore them
    (ADVICE r12)."""
    import pytest

    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        semantic_dedup,
    )

    df = _semdedup_frame(spark)
    cents = md5_centroids(4, 4)
    with pytest.raises(ValueError, match="two_level"):
        semantic_dedup(
            df, centroids=cents, assignment="transform", coarse_probe=2
        ).collect()
    with pytest.raises(ValueError, match="two_level"):
        # auto resolves to transform/join for a 4-centroid list
        semantic_dedup(
            df, centroids=cents, assignment="auto", coarse_sample=4
        ).collect()
    # the two_level path itself still accepts them
    assert (
        semantic_dedup(
            df, centroids=cents, threshold=0.95, assignment="two_level",
            coarse_probe=2,
        ).count()
        == 6
    )


def test_two_level_plan_deterministic_and_total(spark):
    """two_level_plan must be deterministic and give every fine
    centroid an owner within the kept coarse list."""
    from methyl_data_pipeline_spark.ext.similarity import (
        md5_centroids,
        two_level_plan,
    )

    cents = md5_centroids(32, 16)
    a_coarse, a_owner = two_level_plan(cents)
    b_coarse, b_owner = two_level_plan(cents)
    assert a_coarse == b_coarse and a_owner == b_owner
    assert len(a_owner) == 32
    assert set(a_owner) <= set(range(len(a_coarse)))


def test_dsir_weights_stage_parity(spark):
    """stage=True (persisted gram collapse) must agree with the
    default two-scan plan at the operator's 6-dp contract — persisting
    reorders the per-doc float sum's partials, so exact-ulp equality
    is not promised (the same reason every consumer rounds
    log_weight)."""
    from methyl_data_pipeline_spark import cache
    from methyl_data_pipeline_spark.ext.text import dsir_weights

    docs = _docs(spark)
    target = docs.filter(F.col("doc_id") % 2 == 0)
    raw = docs.filter(F.col("doc_id") % 2 == 1)

    def rows(stage):
        out = dsir_weights(raw, target, buckets=128, stage=stage).collect()
        return sorted((r[0], r[1], round(r[2], 6)) for r in out)

    a, b = rows(False), rows(True)
    cache.release_all()
    assert a == b and a


# ---------------------------------------------------------------------------
# BPE merge induction (r11)
# ---------------------------------------------------------------------------


def test_bpe_merges_sennrich_toy(spark):
    """The canonical low/lower/lowest corpus must learn (l,o), (lo,w)
    first — checkable by hand — with exact pair counts."""
    from methyl_data_pipeline_spark.ext.text import bpe_merges

    df = spark.createDataFrame(
        [(1, "low low low lower lower lowest")], "id int, text string"
    )
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_merges(df, k=4).orderBy("merge_rank").collect()
    ]
    assert got[:2] == [(1, "l", "o", "lo", 6), (2, "lo", "w", "low", 6)]
    # rank 3 ties at 3: ('low', '</w>') x3 vs ('low', 'e') x3 -> lexical
    assert got[2] == (3, "low", "</w>", "low</w>", 3)
    assert got[3] == (4, "low", "e", "lowe", 3)

    with pytest.raises(ValueError, match="k must be"):
        bpe_merges(df, k=0)


def test_bpe_merges_greedy_left_to_right_and_early_stop(spark):
    """Greedy non-overlapping semantics: 'aaaa' under rule (a,a) must
    contribute (aa,aa) to round 2 counts, not (aa,a,a). A corpus of
    single-char words exhausts merges and stops early."""
    from methyl_data_pipeline_spark.ext.text import bpe_merges

    df = spark.createDataFrame([(1, "aaaa aaaa")], "id int, text string")
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in bpe_merges(df, k=3).orderBy("merge_rank").collect()
    ]
    # round 1: (a,a) appears 3x per word x 2 words = 6 — NOT 2 per
    # word, which is what a non-greedy re-entrant fold would count
    assert got[0] == (1, "a", "a", 6)
    # greedy merge -> [aa, aa, </w>]; round 2 ties at 2 between
    # (aa, aa) and (aa, </w>) and '<' sorts before 'a'
    assert got[1] == (2, "aa", "</w>", 2)
    # -> [aa, aa</w>]; round 3 merges the remaining pair
    assert got[2] == (3, "aa", "aa</w>", 2)

    # merges exhaust: 'a b' -> a</w>, b</w> then nothing adjacent
    tiny = spark.createDataFrame([(1, "a b")], "id int, text string")
    rows = bpe_merges(tiny, k=10).collect()
    assert len(rows) < 10
    assert all(r.pair_count >= 1 for r in rows)


def test_bpe_merges_null_text_and_weighting(spark):
    """NULL texts drop; word frequency weights the pair counts."""
    from methyl_data_pipeline_spark.ext.text import bpe_merges

    df = spark.createDataFrame(
        [(1, "xy xy xy"), (2, None), (3, "zq")], "id int, text string"
    )
    first = bpe_merges(df, k=1).collect()[0]
    assert (first.left, first.right, first.pair_count) == ("x", "y", 3)


def test_bpe_encode_roundtrip_and_rules(spark):
    """Encoding with learned rules reproduces the expected subword
    stream on the Sennrich toy; list-of-pairs and DataFrame rule
    inputs agree; token concatenation strips back to the word."""
    from methyl_data_pipeline_spark.ext.text import bpe_encode, bpe_merges

    df = spark.createDataFrame(
        [(1, "low low low lower lower lowest"), (2, "low slow"), (3, None)],
        "doc_id int, text string",
    )
    rules_df = bpe_merges(df.filter(F.col("doc_id") == 1), k=2)  # (l,o), (lo,w)
    out = {r.doc_id: r for r in bpe_encode(df, rules_df).collect()}
    # after (l,o) and (lo,w): low -> [low </w>] ... as tokens
    assert out[1].tokens.split(" ")[:2] == ["low", "</w>"]
    assert out[2].tokens == "low </w> s low </w>"
    assert out[2].n_tokens == 5
    assert 3 not in out  # NULL text drops

    as_list = bpe_encode(df, [("l", "o"), ("lo", "w")]).collect()
    assert sorted(map(tuple, as_list)) == sorted(
        map(tuple, bpe_encode(df, rules_df).collect())
    )
    # reconstruction: removing spaces and </w> markers recovers text
    joined = out[2].tokens.replace(" ", "").replace("</w>", " ").strip()
    assert joined == "low slow"


def test_bpe_encode_zero_word_docs_total(spark):
    """ADVICE r11 totality contract: empty/whitespace-only docs emit
    a row with n_tokens=0 and empty tokens; NULL text still drops."""
    from methyl_data_pipeline_spark.ext.text import bpe_encode

    df = spark.createDataFrame(
        [(1, "low low"), (2, ""), (3, " \t\n "), (4, None)],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in bpe_encode(df, [("l", "o")]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[2].n_tokens == 0 and out[2].tokens == ""
    assert out[3].n_tokens == 0 and out[3].tokens == ""
    assert out[1].n_tokens > 0


def test_bpe_merge_step_matches_python_reference(spark):
    """The HOF greedy-merge fold must agree with an independent pure-
    Python left-to-right reference on 200 seeded random symbol arrays
    (the same semantics the DuckDB oracle re-derives a third way via
    run-parity)."""
    import random

    from methyl_data_pipeline_spark.ext.text import _bpe_merge_step

    def py_merge(syms, left, right):
        out, last = [], None
        for s in syms:
            if last == left and s == right:
                last = left + right
                continue
            if last is not None:
                out.append(last)
            last = s
        if last is not None:
            out.append(last)
        return out

    rng = random.Random(11)
    alphabet = ["a", "b", "ab", "ba", "aa"]
    cases = []
    for i in range(200):
        syms = [rng.choice(alphabet) for _ in range(rng.randint(0, 8))]
        left, right = rng.choice(alphabet), rng.choice(alphabet)
        cases.append((i, syms, left, right, py_merge(syms, left, right)))

    df = spark.createDataFrame(
        [(i, s, l, r) for i, s, l, r, _ in cases],
        "i int, syms array<string>, l string, r string",
    )
    # rules are plan literals: group cases by rule and apply per group
    got = {}
    for (left, right) in {(l, r) for _, _, l, r, _ in cases}:
        rows = df.filter(
            (F.col("l") == left) & (F.col("r") == right)
        ).select("i", _bpe_merge_step(F.col("syms"), left, right).alias("m"))
        got.update({r["i"]: list(r["m"]) for r in rows.collect()})
    for i, _, _, _, want in cases:
        assert got[i] == want, f"case {i}"


def test_line_dedup_ccnet_semantics(spark):
    """Normalized cross-document duplicate lines are removed, blank
    lines are structure (never candidates), NULL docs drop, and line
    order is preserved."""
    from methyl_data_pipeline_spark.ext.dedup import line_dedup

    rows = [
        (1, "unique alpha\nSubscribe Now\nbody one"),
        (2, "unique beta\nsubscribe   now\nbody two"),
        (3, "unique gamma\n\n  \nBODY ONE"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in line_dedup(df).collect()}
    assert set(out) == {1, 2, 3}
    # "Subscribe Now" ~ "subscribe   now" (normalize_label) in 2 docs
    assert out[1].text == "unique alpha" and out[1].n_removed == 2
    assert out[2].text == "unique beta\nbody two" and out[2].n_removed == 1
    # "BODY ONE" ~ "body one" across docs 1,3; blanks survive
    assert out[3].text == "unique gamma\n\n  " and out[3].n_lines == 4

    # within-doc repetition alone (one distinct doc) does NOT remove
    solo = spark.createDataFrame(
        [(9, "same line\nsame line\nother")], "doc_id int, text string"
    )
    r = line_dedup(solo).collect()[0]
    assert r.n_removed == 0 and r.text == "same line\nsame line\nother"

    # every line corpus-common -> empty text survives as a row
    twins = spark.createDataFrame(
        [(1, "only line"), (2, "only  LINE")], "doc_id int, text string"
    )
    got = {r.doc_id: r for r in line_dedup(twins).collect()}
    assert got[1].text == "" and got[1].n_removed == 1

    with pytest.raises(ValueError, match="min_df"):
        line_dedup(df, min_df=1)


def test_normalize_text_confusables_and_nfc(spark):
    """normalize_text maps NBSP-class spaces to plain space, deletes
    zero-widths/BOM, NFC-composes decomposed accents, and passes NULL
    through; nfc=False stays pure-JVM and skips composition."""
    from methyl_data_pipeline_spark.ext.text import normalize_text

    rows = [
        (1, "a b c d"),
        (2, "z\u200bw\u200c\u200d\ufeff\u2060x"),
        (3, "Café body"),
        (4, None),
        (5, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r.id: r.n
        for r in df.select("id", normalize_text("text").alias("n")).collect()
    }
    assert out[1] == "a b c d"
    assert out[2] == "zwx"
    assert out[3] == "Caf\u00e9 body"
    assert out[4] is None
    assert out[5] == "plain ascii"
    raw = {
        r.id: r.n
        for r in df.select(
            "id", normalize_text("text", nfc=False).alias("n")
        ).collect()
    }
    assert raw[3] == "Café body"  # no composition without nfc
    assert raw[1] == "a b c d"


def test_line_dedup_normalize_unifies_confusable_variants(spark):
    """The normalize=True key path removes NBSP-variant and
    decomposed-accent boilerplate pairs that the default keying (the
    gap the r12 VERDICT names) structurally keeps."""
    from methyl_data_pipeline_spark.ext.dedup import line_dedup

    rows = [
        (1, "unique one\nNorm Footer Line"),
        (2, "unique two\nNorm Footer Line"),
        (3, "unique three\nCafé Notice"),
        (4, "unique four\nCaf\u00e9 Notice"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    plain = {r.doc_id: r for r in line_dedup(df).collect()}
    assert all(plain[d].n_removed == 0 for d in (1, 2, 3, 4))
    norm = {r.doc_id: r for r in line_dedup(df, normalize=True).collect()}
    assert all(norm[d].n_removed == 1 for d in (1, 2, 3, 4))
    # output text preserves the ORIGINAL surviving lines
    assert norm[1].text == "unique one"
    assert norm[3].text == "unique three"


def test_quality_score_linear_semantics(spark):
    """Mean-pooled hashed linear scorer: a doc's logit is the
    count-weighted mean of its bucket weights plus bias (verified
    against a hand-computed reference through the same featurizer);
    zero-gram docs score exactly bias; OOV buckets (no weight row)
    contribute 0; NULL text drops; broadcast table respected."""
    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        hashed_weight_table,
        quality_score_linear,
    )

    df = spark.createDataFrame(
        [(1, "good words good"), (2, ""), (3, None), (4, "other body")],
        "doc_id int, text string",
    )
    w = hashed_weight_table(spark, 64)
    wmap = {r.bucket: r.weight for r in w.collect()}
    out = {
        r.doc_id: r
        for r in quality_score_linear(
            df, w, buckets=64, bias=0.25, threshold=0.25
        ).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[2].n_grams == 0 and abs(out[2].logit - 0.25) < 1e-12
    # reference through the same featurizer (independent arithmetic)
    bc = [
        (r["_id"], r["_b"], r["_c"])
        for r in _doc_bucket_counts(df, "text", "doc_id", 64).collect()
    ]
    for did in (1, 4):
        rows = [(b, c) for (i, b, c) in bc if i == did]
        n = sum(c for _, c in rows)
        ref = 0.25 + sum(c * wmap.get(b, 0.0) for b, c in rows) / n
        assert abs(out[did].logit - ref) < 1e-9, did
        assert out[did].quality_pass == (out[did].logit >= 0.25)
    # a weights table missing rows -> those buckets contribute 0
    w_half = w.filter(F.col("bucket") < 32)
    out_half = {
        r.doc_id: r
        for r in quality_score_linear(df, w_half, buckets=64).collect()
    }
    assert set(out_half) == {1, 2, 4}


def test_canonicalize_url_and_url_dedup(spark):
    """canonicalize_url scrubs whitespace, decodes unreserved
    %-escapes (uppercasing the rest), peels fragment/scheme/www/
    default-port/trailing-slash and sorts query params (host
    lowercased, path case preserved); url_dedup elects the min-id
    winner per canonical URL and drops NULL urls and empty-canonical
    junk (ADVICE r12)."""
    from methyl_data_pipeline_spark.ext.dedup import url_dedup
    from methyl_data_pipeline_spark.ext.text import canonicalize_url

    rows = [
        (1, "https://WWW.Example.COM/Docs/1/?b=2&a=1#frag"),
        (2, "http://example.com/Docs/1?a=1&b=2"),
        (3, "example.com/Docs/1?a=1&b=2"),  # scheme-less input
        (4, "https://example.com/Other"),
        (5, "https://example.com/other"),  # path case differs -> distinct
        (6, None),
        (7, "https://example.com/?x=1"),  # root path -> host only + query
        # r12 #5 normalizations — all three join family 1:
        (8, "https://example.com:443/%44ocs/1?b=2&%61=1"),  # port + escapes
        (9, "HTTP://WWW.Example.com:80/Docs/1?a=1&b=2\n"),  # port + trailing ws
        (10, " https://example.com/Docs/1\t?a=1&b=2"),  # interior ws scrubbed
        # junk: distinct inputs, all canonicalize to '' -> dropped,
        # never one duplicate family
        (11, "https://"),
        (12, "   "),
        (13, "#frag"),
        # non-default port and reserved escape are PRESERVED
        (14, "https://example.com:8080/x"),
        (15, "https://example.com/a%2fb"),  # reserved %2f -> uppercased only
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string")
    canon = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", canonicalize_url("url").alias("c")
        ).collect()
    }
    assert canon[1] == canon[2] == canon[3] == "example.com/Docs/1?a=1&b=2"
    assert canon[4] == "example.com/Other" and canon[5] == "example.com/other"
    assert canon[4] != canon[5]
    assert canon[6] is None
    assert canon[7] == "example.com?x=1"
    assert canon[8] == canon[9] == canon[10] == "example.com/Docs/1?a=1&b=2"
    assert canon[11] == canon[12] == canon[13] == ""
    assert canon[14] == "example.com:8080/x"
    assert canon[15] == "example.com/a%2Fb"

    out = {r.doc_id: r for r in url_dedup(df).collect()}
    # NULL url (6) and empty-canonical junk (11-13) dropped
    assert set(out) == {1, 2, 3, 4, 5, 7, 8, 9, 10, 14, 15}
    assert out[1].canonical_id == 1 and not out[1].is_duplicate
    assert out[2].canonical_id == 1 and out[2].is_duplicate
    assert out[3].canonical_id == 1 and out[3].is_duplicate
    assert out[8].canonical_id == 1 and out[8].is_duplicate
    assert out[9].canonical_id == 1 and out[9].is_duplicate
    assert not out[4].is_duplicate and not out[5].is_duplicate


def test_bigram_logprob_penalizes_scrambled_order(spark):
    """The interpolated bigram LM (VERDICT r12 #8) scores a doc with
    the SAME words in scrambled order lower than the natural order —
    the word-order signal the unigram proxy is blind to (unigram
    scores both identically)."""
    from methyl_data_pipeline_spark.ext.text import (
        bigram_logprob,
        unigram_logprob,
    )

    natural = "the cat sat on the mat"
    rows = [(i, natural) for i in range(10)] + [
        (100, "mat the on sat cat the"),  # same bag of words
        (101, None),  # NULL text drops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bi = {r.doc_id: r.mean_logprob for r in bigram_logprob(df).collect()}
    uni = {r.doc_id: r.mean_logprob for r in unigram_logprob(df).collect()}
    assert set(bi) == set(range(10)) | {100}
    assert bi[0] == bi[5]  # identical docs, identical score
    assert bi[100] < bi[0]  # scrambled order penalized
    assert abs(uni[100] - uni[0]) < 1e-12  # unigram cannot tell
    # token counts preserved
    out = bigram_logprob(df).filter("doc_id = 100").collect()[0]
    assert out.n_tokens == 6


def test_train_quality_weights_separates_and_beats_md5(spark):
    """NB log-odds training (VERDICT r12 #4): on a two-vocabulary
    corpus the trained table separates the classes at cutoff 0 where
    the md5 table cannot; the bucket=-1 row carries the class prior;
    NULL-label docs are excluded from the fit."""
    import math

    from methyl_data_pipeline_spark.ext.text import (
        hashed_weight_table,
        quality_score_linear,
        train_quality_weights,
    )
    from pyspark.sql import functions as F

    good = ["clean prose reads well", "well structured clean text",
            "prose text reads clean", "structured well written prose"]
    bad = ["zzqx vvkp jjwr hhgt", "vvkp hhgt zzqx mmnb",
           "jjwr mmnb vvkp zzqx", "hhgt zzqx mmnb jjwr"]
    rows = [(i, t, 1) for i, t in enumerate(good * 3)] + [
        (100 + i, t, 0) for i, t in enumerate(bad * 3)
    ] + [(999, "unlabeled doc", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, gold int")

    w_all = train_quality_weights(df, "gold", buckets=256)
    bias = {r.bucket: r.weight for r in w_all.filter("bucket = -1").collect()}
    # 12 positive vs 12 labeled negative docs -> prior ln(12/12) = 0
    assert bias == {-1: 0.0}
    w_tr = w_all.filter("bucket >= 0")

    def f1(wtab):
        scored = quality_score_linear(
            df.filter("gold is not null"), wtab, buckets=256
        )
        j = scored.join(
            df.select("doc_id", F.col("gold").cast("boolean").alias("g")),
            "doc_id",
        )
        a = j.agg(
            F.sum((F.col("quality_pass") & F.col("g")).cast("int")).alias("tp"),
            F.sum((F.col("quality_pass") & ~F.col("g")).cast("int")).alias("fp"),
            F.sum((~F.col("quality_pass") & F.col("g")).cast("int")).alias("fn"),
        ).collect()[0]
        tp, fp, fn = a.tp or 0, a.fp or 0, a.fn or 0
        return 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 0.0

    trained_f1 = f1(w_tr)
    md5_f1 = f1(hashed_weight_table(spark, 256))
    assert trained_f1 == 1.0  # disjoint vocab separates exactly
    assert trained_f1 > md5_f1

    # weights are on the 6-dp grid and good-vocab buckets are positive
    ws = {r.bucket: r.weight for r in w_tr.collect()}
    assert all(abs(w * 1e6 - round(w * 1e6)) < 1e-3 for w in ws.values())
    # the prior with imbalanced classes is ln(n1/n0) on the grid
    w_all2 = train_quality_weights(
        df.filter("doc_id < 100 or doc_id % 2 = 0"), "gold", buckets=256
    )
    b2 = w_all2.filter("bucket = -1").collect()[0].weight
    assert abs(b2 - round(math.log(12 / 6) + 1e-9, 6)) < 1e-9


def test_minhash_salted_mix_family(spark):
    """The salted (independent per-function md5) family produces valid
    signatures and candidate pairs: identical docs always collide,
    disjoint docs never do, and the family genuinely differs from the
    linear mix (different signature values)."""
    from methyl_data_pipeline_spark.ext.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup
        (2, "completely different words nothing shared here at all ok"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lin = minhash_signatures(df, num_hashes=8).orderBy("doc_id").collect()
    sal = minhash_signatures(df, num_hashes=8, mix="salted").orderBy(
        "doc_id"
    ).collect()
    # identical docs -> identical signatures in BOTH families
    for sigs in (lin, sal):
        assert tuple(sigs[0])[1:] == tuple(sigs[1])[1:]
        assert sigs[3]["mh_0"] is None  # NULL text
    # the families are different hash draws
    assert tuple(lin[0])[1:] != tuple(sal[0])[1:]

    pairs = {
        tuple(r)
        for r in minhash_candidate_pairs(
            df, num_hashes=8, bands=4, mix="salted"
        ).collect()
    }
    assert (0, 1) in pairs and (0, 2) not in pairs

    with pytest.raises(ValueError, match="unknown mix"):
        minhash_signatures(df, mix="nope")


def test_incremental_neardup_salted_family_consistency(spark):
    """A salted ledger probed with salted shard bands detects the dup;
    probing it with the default linear family would put shard and
    ledger in disjoint band spaces (everything 'novel')."""
    from methyl_data_pipeline_spark.ext.dedup import (
        incremental_neardup,
        minhash_band_ledger,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame([(0, base)], "doc_id long, text string")
    shard = spark.createDataFrame(
        [(1, base), (2, "completely unrelated fresh content words here now")],
        "doc_id long, text string",
    )
    ledger = minhash_band_ledger(corpus, mix="salted")
    hits = {
        r.doc_id: (r.n_band_hits, r.is_novel)
        for r in incremental_neardup(shard, ledger, mix="salted").collect()
    }
    assert hits[1][1] is False and hits[1][0] > 0  # dup detected
    assert hits[2][1] is True  # novel doc passes

    mismatched = {
        r.doc_id: r.is_novel
        for r in incremental_neardup(shard, ledger).collect()  # linear probe
    }
    assert mismatched[1] is True  # the documented cross-family hazard


def _ahash_formula(doc_id: int) -> int:
    """Closed-form twin of synthesize_images + image_ahash (the same
    arithmetic the DuckDB oracle replays)."""
    import numpy as np

    j = np.arange(64, dtype=np.int64)
    grp, role = doc_id // 4, doc_id % 4
    base = (grp * 37 + j * 11) % 200
    if role == 0:
        v = base
    elif role == 1:
        v = base + 40
    elif role == 2:
        v = base.copy()
        v[:2] = (base[:2] + 100) % 200
    else:
        v = (grp * 101 + j * 53 + 7) % 200
    bits = (64 * v >= v.sum()).astype(np.uint64)
    u = int(
        (bits * (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)).sum(
            dtype=np.uint64
        )
    )
    return u - (1 << 64) if u >= (1 << 63) else u


def test_image_ahash_real_decode_matches_formula(spark):
    """The REAL byte path (encode_bmp -> decode_bmp -> grayscale ->
    nearest-neighbor 8x8 -> mean threshold -> signed pack) must equal
    the closed-form block arithmetic the oracle replays — including
    the 32x32 resize variant (role 2), certifying the hash's
    resolution invariance over block-constant images."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        image_ahash,
        synthesize_images,
    )

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(40))}))
    got = {r.id: r.ahash for r in image_ahash(synthesize_images(docs)).collect()}
    assert got == {i: _ahash_formula(i) for i in range(40)}


def test_image_neardup_planted_variants(spark):
    """Banded near-dup pairs == brute-force hamming<=3 over the formula
    hashes (losslessness), with the planted structure visible:
    brightness variants at hamming 0, resize+edit variants <=3 when
    they land there, independents never paired."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        image_neardup,
        synthesize_images,
    )

    n = 48
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in image_neardup(synthesize_images(docs), max_hamming=3).collect()
    }
    sigs = {i: _ahash_formula(i) for i in range(n)}
    brute = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a in range(n)
        for b in range(a + 1, n)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == brute
    for g in range(n // 4):
        # brightness variant: always found, at hamming 0
        assert got[(4 * g, 4 * g + 1)] == 0
        # independent image: never within 3 bits of its group
        assert (4 * g, 4 * g + 3) not in got
        assert (4 * g + 1, 4 * g + 3) not in got


def test_image_ahash_skips_undecodable_payloads(spark):
    """Non-BMP and corrupt-BMP payloads yield no fingerprint row
    (filtered NULL), never a job failure."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.codecs import encode_bmp
    from methyl_data_pipeline_spark.ext.multimodal import image_ahash

    good = encode_bmp(8, 8, bytes(8 * 8 * 3))
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "content": [good, b"BM" + b"\x00" * 10, b"plain text", None],
            }
        )
    )
    rows = image_ahash(media).collect()
    assert [r.id for r in rows] == [1]
    # all-zero image: every sample equals the mean -> all bits set
    assert rows[0].ahash == -1


def test_hamming_pairs_parameter_validation(spark):
    import pandas as pd

    from methyl_data_pipeline_spark.ext.dedup import hamming_pairs

    sigs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "sig": [0, 1]})
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="lossless"):
        hamming_pairs(sigs, "sig", "doc_id", bands=4, max_hamming=4)
    with _pytest.raises(ValueError, match="divide"):
        hamming_pairs(sigs, "sig", "doc_id", bits=64, bands=5, max_hamming=3)


def test_quality_score_linear_sum_pooling_and_table_bias(spark):
    """pooling='sum' keeps the raw NB posterior geometry (logit =
    bias + dot, no gram-count division) and bias_from_table=True
    folds the bucket = -1 prior row in lazily; a table without a -1
    row yields bias 0; invalid pooling raises."""
    import pytest as _pytest

    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        hashed_weight_table,
        quality_score_linear,
    )

    df = spark.createDataFrame(
        [(1, "good words good"), (2, ""), (4, "other body")],
        "doc_id int, text string",
    )
    w = hashed_weight_table(spark, 64)
    wmap = {r.bucket: r.weight for r in w.collect()}
    bias_row = spark.createDataFrame([(-1, 0.75)], "bucket int, weight double")
    w_with_bias = w.unionByName(bias_row)

    out = {
        r.doc_id: r
        for r in quality_score_linear(
            df, w_with_bias, buckets=64, pooling="sum", bias_from_table=True
        ).collect()
    }
    bc = [
        (r["_id"], r["_b"], r["_c"])
        for r in _doc_bucket_counts(df, "text", "doc_id", 64).collect()
    ]
    for did in (1, 4):
        rows = [(b, c) for (i, b, c) in bc if i == did]
        ref = 0.75 + sum(c * wmap.get(b, 0.0) for b, c in rows)  # no /n
        assert abs(out[did].logit - ref) < 1e-9, did
    # zero-gram doc scores the table bias exactly
    assert out[2].n_grams == 0 and abs(out[2].logit - 0.75) < 1e-12

    # no -1 row in the table -> bias 0
    out0 = {
        r.doc_id: r
        for r in quality_score_linear(
            df, w, buckets=64, pooling="sum", bias_from_table=True
        ).collect()
    }
    assert abs(out0[2].logit) < 1e-12

    with _pytest.raises(ValueError, match="pooling"):
        quality_score_linear(df, w, buckets=64, pooling="max")


def test_lang_id_nb_matches_hand_nb(spark):
    """Multi-class NB lang-id: the sparse-delta scoring (prior +
    n_grams*floor + sum c*delta) must equal a from-scratch dense NB
    posterior computed in Python through the same featurizer, and the
    self-trained argmax must recover the training labels on cleanly
    separated vocabularies. Zero-gram docs take the max-prior class."""
    import math

    from methyl_data_pipeline_spark.ext.text import (
        _doc_bucket_counts,
        lang_id_nb,
        train_lang_weights,
    )

    rows = [
        (1, "der hund und die katze und", "de"),
        (2, "der und die der und", "de"),
        (3, "the cat and the dog", "en"),
        (4, "the and the and the", "en"),
        (5, "the dog and", "en"),
        (6, "", "en"),           # zero grams: prior decides
        (7, "der hund the", None),  # unlabeled: scored, not trained
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 32
    w = train_lang_weights(df, buckets=B)
    out = {r.doc_id: r for r in lang_id_nb(df, w, buckets=B).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}

    # hand NB through the same featurizer
    bc = {}
    for r in _doc_bucket_counts(df, "text", "doc_id", B).collect():
        bc.setdefault(r["_id"], {})[r["_b"]] = r["_c"]
    labels = {i: l for i, _, l in rows if l is not None}
    langs = sorted(set(labels.values()))
    cnt = {l: {} for l in langs}
    for i, l in labels.items():
        for b, c in bc.get(i, {}).items():
            cnt[l][b] = cnt[l].get(b, 0) + c
    t = {l: sum(cnt[l].values()) for l in langs}
    n_tot = len(labels)

    def r6(x):
        return round(x + 1e-9, 6)

    for did in (1, 3, 6, 7):
        scores = {}
        for l in langs:
            floor = r6(math.log(1.0 / (t[l] + B)))
            prior = r6(math.log(sum(1 for v in labels.values() if v == l) / n_tot))
            s = prior
            for b, c in bc.get(did, {}).items():
                wlb = r6(math.log((cnt[l].get(b, 0) + 1.0) / (t[l] + B)))
                s += c * wlb if b in cnt[l] else c * floor
            scores[l] = s
        best = max(sorted(scores), key=lambda l: scores[l])
        assert out[did].pred_lang == best, (did, scores, out[did])
        assert abs(out[did].score - scores[best]) < 1e-6, did
    # separated vocabularies recover their labels
    assert out[1].pred_lang == "de" and out[3].pred_lang == "en"
    # zero-gram doc: argmax prior (en has 4/6 docs)
    assert out[6].pred_lang == "en" and out[6].n_grams == 0


def _audio_ahash_formula(doc_id: int) -> int:
    """Closed-form twin of synthesize_audio + audio_ahash."""
    import numpy as np

    j = np.arange(64, dtype=np.int64)
    grp, role = doc_id // 4, doc_id % 4
    base = 2 * (((grp + 1) * (j + 7) * 977 + grp * 13) % 12000) + 200
    if role == 0:
        amps = base
    elif role == 1:
        amps = base // 2
    elif role == 2:
        amps = base.copy()
        amps[:2] = 2 * ((base[:2] // 2 + 2000) % 12000) + 200
    else:
        amps = 2 * (((grp + 3) * (j + 11) * 1013 + grp * 29 + 5) % 12000) + 200
    e = 8 * amps
    bits = (64 * e >= e.sum()).astype(np.uint64)
    u = int(
        (bits * (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)).sum(
            dtype=np.uint64
        )
    )
    return u - (1 << 64) if u >= (1 << 63) else u


def test_audio_ahash_real_decode_matches_formula(spark):
    """The real byte path (encode_wav round-trip -> RIFF parse -> exact
    int16 recovery -> window energies -> integer mean threshold ->
    signed pack) must equal the closed-form amplitude arithmetic the
    oracle replays."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        audio_ahash,
        synthesize_audio,
    )

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(40))}))
    got = {r.id: r.ahash for r in audio_ahash(synthesize_audio(docs)).collect()}
    assert got == {i: _audio_ahash_formula(i) for i in range(40)}


def test_audio_neardup_planted_variants_and_collapse(spark):
    """Banded audio pairs == brute-force hamming<=3; volume-halved
    variants at hamming 0, independents never paired with their group;
    collapse_exact_fingerprints elects min-id representatives with
    member counts."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        audio_ahash,
        audio_neardup,
        collapse_exact_fingerprints,
        synthesize_audio,
    )

    n = 48
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    media = synthesize_audio(docs)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in audio_neardup(media, max_hamming=3).collect()
    }
    sigs = {i: _audio_ahash_formula(i) for i in range(n)}
    brute = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a in range(n)
        for b in range(a + 1, n)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == brute
    for g in range(n // 4):
        assert got[(4 * g, 4 * g + 1)] == 0  # volume-halved twin
        assert (4 * g, 4 * g + 3) not in got  # independent clip

    reps = collapse_exact_fingerprints(audio_ahash(media)).collect()
    by_sig = {r.ahash: r for r in reps}
    # each group's role-0/role-1 identical pair collapses to min id
    for g in range(n // 4):
        fam = by_sig[sigs[4 * g]]
        assert fam.id == 4 * g and fam.n_members >= 2


def _video_ahash_formula(doc_id: int) -> int:
    """Closed-form twin of synthesize_videos + video_ahash (the same
    arithmetic the DuckDB oracle replays). Pixel-count factors cancel
    from both threshold sides, so the formula works on luminance
    directly — which is also why role 1's 2x2 downsize is hash-exact."""
    import numpy as np

    f = np.arange(64, dtype=np.int64)
    grp, role = doc_id // 4, doc_id % 4
    base = (((grp + 1) * (f + 7) * 977 + grp * 13) % 223) + 16
    if role == 2:
        v = base.copy()
        v[:2] = ((base[:2] // 2 + 61) % 223) + 16
    elif role == 3:
        v = (((grp + 3) * (f + 11) * 1013 + grp * 29 + 5) % 223) + 16
    else:
        v = base
    bits = (64 * v >= v.sum()).astype(np.uint64)
    u = int(
        (bits * (1 << np.arange(64, dtype=np.uint64)).astype(np.uint64)).sum(
            dtype=np.uint64
        )
    )
    return u - (1 << 64) if u >= (1 << 63) else u


def test_video_ahash_real_decode_matches_formula(spark):
    """The real byte path (encode_bmp frames -> encode_avi -> RIFF walk
    -> nearest-neighbor frame sampling -> BMP decode -> grayscale
    totals -> integer mean threshold -> signed pack) must equal the
    closed-form luminance arithmetic the oracle replays — including
    role 1's 128-frame 2x2-px variant, certifying BOTH the retime
    invariance (the sampler picks every other duplicated frame) and
    the spatial-rescale invariance (uniform pixel-count factors cancel
    at the threshold)."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        synthesize_videos,
        video_ahash,
    )

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(40))}))
    got = {r.id: r.ahash for r in video_ahash(synthesize_videos(docs)).collect()}
    assert got == {i: _video_ahash_formula(i) for i in range(40)}


def test_video_neardup_planted_variants(spark):
    """Banded video pairs == brute-force hamming<=3 over the formula
    hashes; downsized+retimed twins at hamming 0, 2-frame edits <=3,
    independents never paired with their group."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.multimodal import (
        synthesize_videos,
        video_neardup,
    )

    n = 48
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in video_neardup(synthesize_videos(docs), max_hamming=3).collect()
    }
    sigs = {i: _video_ahash_formula(i) for i in range(n)}
    brute = {
        (a, b): bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
        for a in range(n)
        for b in range(a + 1, n)
        if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= 3
    }
    assert got == brute
    for g in range(n // 4):
        assert got[(4 * g, 4 * g + 1)] == 0  # downsized + retimed twin
        assert got[(4 * g, 4 * g + 2)] <= 3  # 2-frame edit variant
        assert (4 * g, 4 * g + 3) not in got  # independent clip


def test_video_ahash_skips_undecodable_payloads(spark):
    """Non-AVI payloads, frameless containers, and containers whose
    frames are not BMPs all yield no fingerprint row (filtered NULL),
    never a job failure."""
    import pandas as pd

    from methyl_data_pipeline_spark.ext.codecs import encode_avi, encode_bmp
    from methyl_data_pipeline_spark.ext.multimodal import video_ahash

    good = encode_avi([encode_bmp(2, 2, bytes(2 * 2 * 3))] * 4)
    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4, 5],
                "content": [
                    good,
                    encode_avi([]),  # frameless container
                    encode_avi([b"not a bmp"] * 3),  # non-BMP frames
                    b"plain text",
                    None,
                ],
            }
        )
    )
    rows = video_ahash(media).collect()
    assert [r.id for r in rows] == [1]
    # all-black constant clip: every frame equals the mean -> all bits set
    assert rows[0].ahash == -1


def test_ccnet_pipeline_composition(spark):
    """The four CCNet stages chained (plans.ccnet.run_ccnet_pipeline):
    URL dedup drops the canonical twin and the NULL-url doc; line
    dedup scrubs the cross-doc footer and evicts the doc that was ALL
    boilerplate; the NB lang-id head (fit on the labeled survivors'
    line-deduped text) labels the unlabeled doc by gram overlap; the
    bigram buckets tercile within each predicted language."""
    from methyl_data_pipeline_spark.plans.ccnet import run_ccnet_pipeline

    corpus = spark.createDataFrame(
        [
            (1, "https://a.com/x?b=2&a=1", "the cat sat here\nshared footer line", "en"),
            (2, "HTTP://WWW.A.com/x/?a=1&b=2", "irrelevant dup", "en"),  # canonical twin of 1
            (3, "https://a.com/y", "shared footer line", "fr"),  # all boilerplate -> empty
            (4, None, "never seen", "en"),  # NULL url -> dropped at stage 0
            (5, "https://a.com/z", "the cat sat there\nshared footer line", None),
            (6, "https://a.com/w", "le chat est ici", "fr"),
            (7, "https://a.com/v", "le chat est la", "fr"),
        ],
        "doc_id long, url string, text string, lang string",
    )
    out = {r["doc_id"]: r.asDict() for r in run_ccnet_pipeline(corpus, buckets=64).collect()}
    assert set(out) == {1, 5, 6, 7}
    # the shared footer was scrubbed from every carrier
    assert out[1]["n_lines"] == 2 and out[1]["n_removed"] == 1
    assert out[5]["n_removed"] == 1
    assert out[6]["n_removed"] == 0
    # the unlabeled doc classifies into the gram-overlapping class
    assert out[5]["pred_lang"] == "en"
    assert out[1]["pred_lang"] == "en"
    assert out[6]["pred_lang"] == "fr" and out[7]["pred_lang"] == "fr"
    # terciles within each predicted language: n=2 -> one middle, one tail
    assert {out[1]["bucket"], out[5]["bucket"]} == {"middle", "tail"}
    assert {out[6]["bucket"], out[7]["bucket"]} == {"middle", "tail"}
    # token counts come from the LINE-DEDUPED text (footer excluded)
    assert out[1]["n_tokens"] == 4
